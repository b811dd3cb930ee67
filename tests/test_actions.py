"""CI log formatter tests (reference actions.py behavior)."""

from __future__ import annotations

import io

import pytest

from wikidatabots_spark.functions.actions import log_group


def test_log_group_plain(monkeypatch):
    monkeypatch.delenv("GITHUB_ACTIONS", raising=False)
    buf = io.StringIO()
    with log_group("phase one", file=buf):
        pass
    assert buf.getvalue() == "--- phase one\n"


def test_log_group_actions(monkeypatch):
    monkeypatch.setenv("GITHUB_ACTIONS", "true")
    buf = io.StringIO()
    with log_group("phase", file=buf):
        buf.write("body\n")
    assert buf.getvalue() == "::group::phase\nbody\n::endgroup::\n"

