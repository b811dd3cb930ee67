"""CI log formatting (reference ``actions.py``, 47 LoC).

The reference wraps pipeline phases in GitHub-Actions log groups
(actions.py:14-26). Same behavior here, keyed off the standard
``GITHUB_ACTIONS`` env var; outside CI it degrades to plain stderr.
"""

from __future__ import annotations

import contextlib
import os
import sys
from collections.abc import Iterator


def _in_actions() -> bool:
    return os.environ.get("GITHUB_ACTIONS") == "true"


@contextlib.contextmanager
def log_group(title: str, file=None) -> Iterator[None]:
    """``::group::title`` ... ``::endgroup::`` wrapper (actions.py:14-26)."""
    out = file or sys.stderr
    if _in_actions():
        print(f"::group::{title}", file=out, flush=True)
    else:
        print(f"--- {title}", file=out, flush=True)
    try:
        yield
    finally:
        if _in_actions():
            print("::endgroup::", file=out, flush=True)

