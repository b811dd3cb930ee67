"""Local mirror of the driver's correctness gate.

Runs every registered query at the given SF dir in Spark AND its DuckDB
oracle, compares row count, column names, and an order-insensitive value
multiset. Usage: python scripts/check_oracle.py [sf_dir] [query ...]
Exits 2, before the session starts, if a named query is not registered.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikidatabots_spark import plans
from wikidatabots_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Entries whose oracle equality is PROBABILISTIC (documented flake bound
# in the query docstring): a mismatch is diagnosed — pair sets compared,
# boundary recall misses identified — before being treated as a
# correctness failure (ADVICE r11). dedup_minhash_ml: MLlib 8-table LSH
# recall vs an exact token-Jaccard>=0.9 oracle; HashingTF's 2^16 buckets
# can push a boundary pair's feature-set Jaccard below the token-set
# value, so a duck-only row with jaccard at the 0.9 boundary is the
# documented miss, while ANY spark-only row is a real bug.
PROBABILISTIC_RECALL = {"dedup_minhash_ml": ("jaccard", 0.92)}


# A genuine boundary-recall flake loses at most a couple of pairs (the
# fixed-seed HashingTF collision has to hit a pair sitting exactly at the
# 0.9 Jaccard boundary); a SYSTEMIC recall regression loses many. Cap the
# waivable miss count so the latter fails loudly (ADVICE r12: an
# unbounded waiver would silently absorb a regression confined to the
# [0.9, boundary] band).
_MAX_WAIVED_MISSES = 2


def diagnose_probabilistic(name, scols, sset, dcols, dset):
    """Return (waived: bool, reason: str) for a mismatch on a
    probabilistic-recall entry."""
    jcol, boundary = PROBABILISTIC_RECALL[name]
    if scols != dcols:
        return False, "schema mismatch — not a recall flake"
    dset_set = set(dset)
    sset_set = set(sset)
    sonly = [r for r in sset if r not in dset_set]
    donly = [r for r in dset if r not in sset_set]
    if sonly:
        return False, f"{len(sonly)} spark-only rows — a real bug, not recall"
    if not donly:
        # Same row SETS but the sorted multisets differ: a duplicate-row
        # bug, which a recall waiver must never absorb (ADVICE r12 — the
        # old all([]) path waived this vacuously).
        return False, (
            "row multisets differ but row sets are identical — a row-"
            "multiplicity bug (duplicated/dropped copies), not recall"
        )
    if len(donly) > _MAX_WAIVED_MISSES:
        return False, (
            f"{len(donly)} duck-only pair(s) > waiver cap"
            f" {_MAX_WAIVED_MISSES} — systemic recall loss, not a"
            " boundary flake: treat as a real MLlib regression"
        )
    if len(sset) + len(donly) != len(dset):
        # The spark multiset must be EXACTLY the duck multiset minus the
        # missed pairs. Set-membership alone would waive a duplicate-row
        # (multiplicity) bug on the SHARED rows whenever it co-occurs
        # with a <=cap boundary miss, since the multiplicity diagnosis
        # above only fires when donly is empty (ADVICE r13).
        return False, (
            f"multiset size inconsistent with a pure recall miss:"
            f" spark {len(sset)} + missed {len(donly)} != duck"
            f" {len(dset)} — a row-multiplicity bug co-occurring with"
            " the miss, not waivable"
        )
    try:
        ji = scols.index(jcol)
        js = [float(r[ji]) for r in donly]  # canon() stores float repr()
    except Exception:
        return False, "could not parse jaccard column for diagnosis"
    if all(j <= boundary for j in js):
        return True, (
            f"{len(donly)} duck-only pair(s), all with {jcol} <= {boundary}"
            " — LSH recall miss at the 0.9 boundary, within the"
            " documented flake bound (see dedup_minhash_ml docstring)"
        )
    return False, (
        f"duck-only pair(s) with {jcol} > {boundary} — recall loss beyond"
        " the boundary flake bound: treat as a real MLlib regression"
    )


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = sorted(only - plans.REGISTRY.keys())
    if unknown:
        # a name that is not registered would otherwise be skipped, and
        # a sweep of only such names would pass having checked nothing
        print(f"unknown query names: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, entry in plans.REGISTRY.items():
        if only and name not in only:
            continue
        sdf = entry.fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sorted(sdf.columns)
        sset = sorted(
            tuple(canon(r[c]) for c in scols) for r in srows
        )
        if entry.oracle is None:
            print(f"{name}: rows-only ({len(srows)} rows) OK")
            continue
        ddf = con.execute(entry.oracle).fetch_arrow_table()
        dcols = sorted(ddf.column_names)
        drows = ddf.to_pylist()
        dset = sorted(tuple(canon(r[c]) for c in dcols) for r in drows)
        ok = scols == dcols and len(sset) == len(dset) and sset == dset
        if not ok and name in PROBABILISTIC_RECALL:
            # retry once with a freshly built plan, then diagnose: the
            # seed is fixed so a true boundary miss is deterministic,
            # but the retry rules out transient executor trouble
            sdf = entry.fn(spark, sf_dir)
            sset = sorted(
                tuple(canon(r[c]) for c in scols) for r in sdf.collect()
            )
            ok = len(sset) == len(dset) and sset == dset
            if ok:
                print(f"{name}: OK on retry ({len(sset)} rows)")
                continue
            waived, reason = diagnose_probabilistic(
                name, scols, sset, dcols, dset
            )
            if waived:
                print(f"{name}: WAIVED probabilistic mismatch — {reason}")
                continue
            print(f"{name}: MISMATCH beyond flake bound — {reason}")
        if ok:
            print(f"{name}: OK ({len(srows)} rows)")
        else:
            print(f"{name}: MISMATCH spark_rows={len(sset)} duck_rows={len(dset)}")
            print(f"  spark cols: {scols}")
            print(f"  duck  cols: {dcols}")
            dset_set = set(dset)
            sset_set = set(sset)
            sonly = [r for r in sset if r not in dset_set][:3]
            donly = [r for r in dset if r not in sset_set][:3]
            print(f"  spark-only sample: {sonly}")
            print(f"  duck-only  sample: {donly}")
            failures.append(name)
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries consistent with oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
