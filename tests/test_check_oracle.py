"""Unit tests for scripts/check_oracle.py: the unknown-name exit, and
the probabilistic-mismatch waiver (ADVICE r12: the waiver must be bounded —
require actual duck-only misses, cap their count, and diagnose a
multiplicity bug instead of vacuously waiving it)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import check_oracle  # noqa: E402
from check_oracle import _MAX_WAIVED_MISSES, diagnose_probabilistic  # noqa: E402

NAME = "dedup_minhash_ml"
COLS = ["doc_id_a", "doc_id_b", "jaccard"]


def row(a, b, j):
    return (repr(a), repr(b), repr(float(j)))


def test_waives_single_boundary_miss():
    shared = [row(1, 2, 0.95)]
    sset = sorted(shared)
    dset = sorted(shared + [row(3, 4, 0.905)])
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert waived
    assert "boundary" in reason


def test_rejects_spark_only_rows():
    dset = sorted([row(1, 2, 0.95)])
    sset = sorted([row(1, 2, 0.95), row(9, 10, 0.99)])
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert not waived
    assert "spark-only" in reason


def test_rejects_multiplicity_difference():
    # Same row SETS, different multiset: the old all([]) path waived
    # this vacuously; it must now fail with a multiplicity diagnosis.
    base = row(1, 2, 0.95)
    sset = sorted([base, base])
    dset = sorted([base])
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert not waived
    assert "multiplicity" in reason


def test_rejects_systemic_recall_loss_over_cap():
    shared = [row(1, 2, 0.95)]
    misses = [row(10 + i, 20 + i, 0.905) for i in range(_MAX_WAIVED_MISSES + 1)]
    sset = sorted(shared)
    dset = sorted(shared + misses)
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert not waived
    assert "cap" in reason


def test_rejects_multiplicity_bug_hidden_behind_boundary_miss():
    # A duplicate of a SHARED row co-occurring with a single waivable
    # boundary miss: set membership alone sees no spark-only rows and a
    # <=cap donly, so the old waiver let it through. The multiset-size
    # consistency check (spark + missed == duck) must reject it
    # (ADVICE r13).
    shared = row(1, 2, 0.95)
    sset = sorted([shared, shared])  # duplicated shared row
    dset = sorted([shared, row(3, 4, 0.905)])
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert not waived
    assert "multiplicity" in reason


def test_rejects_dropped_shared_copy_behind_boundary_miss():
    # The mirror case: duck has a shared row TWICE, spark dropped one
    # copy and also missed a boundary pair. donly (set-based) contains
    # only the missed pair, so only the size consistency check catches
    # the dropped copy.
    shared = row(1, 2, 0.95)
    sset = sorted([shared])
    dset = sorted([shared, shared, row(3, 4, 0.905)])
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert not waived
    assert "multiplicity" in reason


def test_rejects_miss_above_boundary():
    sset = sorted([row(1, 2, 0.95)])
    dset = sorted([row(1, 2, 0.95), row(3, 4, 0.97)])
    waived, reason = diagnose_probabilistic(NAME, COLS, sset, COLS, dset)
    assert not waived
    assert "regression" in reason


def test_rejects_schema_mismatch():
    sset = sorted([row(1, 2, 0.95)])
    waived, reason = diagnose_probabilistic(
        NAME, COLS, sset, ["doc_id_a", "doc_id_b", "sim"], sset
    )
    assert not waived
    assert "schema" in reason


def test_unknown_query_names_exit_before_the_session(monkeypatch, capsys):
    """Names that are not registered fail the run, each named, before a
    session starts; skipped silently, a sweep of them passed vacuously."""

    def no_session():
        raise AssertionError("the session must not start")

    monkeypatch.setattr(check_oracle, "get_spark", no_session)
    argv = ["check_oracle.py", "unused_sf_dir", "opencritic_main", "no_such_q", "nope_2"]
    monkeypatch.setattr(sys, "argv", argv)
    rc = check_oracle.main()
    assert rc != 0
    err = capsys.readouterr().err
    assert "no_such_q" in err and "nope_2" in err
    assert "opencritic_main" not in err
