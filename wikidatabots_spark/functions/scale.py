"""Cluster-scale join strategies: bucketed co-location and skew salting.

These are the two manual levers left once Catalyst/AQE have done their
part (SURVEY.md §4 / the 100 TB design rules):

- **Bucketing** pre-shuffles a table *once at write time*. Two tables
  bucketed by the same key into the same bucket count join with ZERO
  exchange at read time — the big win for fact⋈fact joins repeated
  across many queries (amortize one shuffle over every future join).
- **Salting** splits a pathologically hot key across ``salt`` synthetic
  sub-keys: the small side is replicated ×salt (cheap), the skewed side
  scatters uniformly. AQE's skew-join splitting handles *moderately*
  skewed sort-merge joins automatically; salting is for the extreme case
  (one key ≫ a single executor's memory) or broadcast-infeasible dims.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    num_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+ sorted) managed table.

    Sorting within buckets additionally removes the per-task sort from
    future sort-merge joins — the read-side plan is scan→join, nothing
    else.

    Overwrites survive session restarts: a managed table written by a
    PREVIOUS JVM leaves its location under the warehouse dir while the
    new session's in-memory catalog has no entry for it, so a bare
    ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS. Drop any
    catalog entry, then clear a stale orphan location — but only when
    it sits under OUR configured warehouse dir (never reach outside
    it).
    """
    if mode == "overwrite":
        import os
        import shutil

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        wh_path = wh.removeprefix("file:")
        loc = os.path.join(wh_path, table.split(".")[-1].lower())
        if wh_path and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt: int = 8,
    how: str = "inner",
    seed: int | None = None,
) -> DataFrame:
    """Equi-join with the left (skewed) side salted across ``salt`` keys.

    left rows get a uniform random salt; right rows are replicated once
    per salt value, so every (key, salt) pair finds its match. Result is
    row-identical to the plain join **for left-preserving joins only**
    (inner/left/semi/anti): with ``right`` or ``full_outer`` the salt
    replication would emit each unmatched right row ``salt`` times, so
    those modes are rejected. Flip the inputs for a right-skewed join.
    The shuffle for any single hot key is spread over ``salt`` reducers.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}) would duplicate unmatched right rows; "
            f"use one of {sorted(allowed)} (flip sides for right-skew)"
        )
    on = list(on)
    rand = F.rand(seed) if seed is not None else F.rand()
    l2 = left.withColumn("__salt", (rand * salt).cast("int"))
    r2 = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l2.join(r2, on=[*on, "__salt"], how=how).drop("__salt")


def pushdown_fence(df: DataFrame) -> DataFrame:
    """Predicate-pushdown barrier for expensive projections.

    Catalyst pushes filters below projections by SUBSTITUTING the
    projected expressions into the predicate. For cheap expressions
    that's free row pruning; for projections built on higher-order
    functions it is catastrophic: Spark performs no common-subexpression
    elimination through HOF lambdas, so a predicate over, say, a
    language-ID score re-inlines the tokenize/split array once per
    lambda reference — measured 1.2 s -> 23 s on the corpus-curation
    gates (a ~20x blowup, the same trap as referencing an un-projected
    array from ``F.transform``).

    A LAZY ``localCheckpoint`` pins the projection output as a row
    barrier: nothing materializes until the first action (no extra job
    at plan-build time), after which filters evaluate against the
    computed scalar columns. Use it between a heavy narrow projection
    and the gates that consume it.

    At cluster scale the checkpointed table is the projection OUTPUT
    (ids + scalar scores, not the text), stored executor-local; the
    lineage truncation also keeps iterative consumers (connected
    components) from re-executing the scoring pipeline per round.
    """
    return df.localCheckpoint(eager=False)


def zorder_key(*cols: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column into one BIGINT sort key.

    Sorting/range-partitioning a table by this key before writing makes
    parquet row-group min/max stats tight on EVERY interleaved dimension
    at once, so selective scans on any of them skip row groups — the
    standard multi-dimensional layout trick (Delta/Iceberg OPTIMIZE
    ZORDER) expressed as a plain column. Inputs must be non-negative
    integers scaled to < 2**bits (rank/bucket continuous values first);
    values are clamped with a mask rather than rejected, keeping the
    expression total. Pure integer bit math — engine-neutral and
    oracle-checkable.
    """
    ncols = [F.col(c) if isinstance(c, str) else c for c in cols]
    if not ncols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(ncols) > 63:
        raise ValueError(f"{len(ncols)} cols x {bits} bits exceeds a BIGINT")
    key = F.lit(0).cast("long")
    for j, c in enumerate(ncols):
        x = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for i in range(bits):
            bit = F.shiftright(x, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit.cast("long"), i * len(ncols) + j)
            )
    return key


def bucketed_global_rank(
    df: DataFrame,
    bucket: Column,
    order: Sequence[Column],
    *,
    descending: bool = False,
    rn: str | None = "rn",
    running_sum: Column | None = None,
    running_sum_out: str = "cum",
) -> DataFrame:
    """Global ``row_number`` (and optionally a global running sum) over
    ``order`` WITHOUT a single-partition window over the fact table —
    the two-phase bucketed prefix rank (VERDICT r5 next #1, generalizing
    the inline form ``corpus_token_budget_select`` shipped in r4).

    Phase 1 groups the frame by ``bucket`` — any expression that is
    MONOTONE NON-DECREASING along the ``order`` sort (non-increasing
    with ``descending=True``); rows that tie on the leading sort key
    must land in the same bucket, which every pure function of that key
    satisfies. The per-bucket row counts (and value sums) form a ledger
    of |distinct buckets| rows; ONE tiny single-partition window over
    the ledger assigns each bucket its global offset.

    Phase 2 joins the broadcast ledger back and ranks WITHIN each
    bucket — a window partitioned by bucket, fully parallel across the
    cluster. ``offset + within-bucket row_number`` reproduces the
    global ``row_number`` bit-for-bit because the bucket boundaries
    respect the total order.

    Cost at 100 TB: one map-side-combined aggregate over the fact table
    + a broadcast hash join, instead of shuffling every row into one
    task. The caller picks bucket granularity (ledger must broadcast:
    keep it ≤ ~1e6 rows) and must make ``bucket`` non-null: coalesce a
    nullable key to an explicit sentinel on BOTH the engine and oracle
    sides, and pick its value for the placement you want — never lean
    on engine NULL ordering, because the defaults DIVERGE under ASC
    (Spark ``asc()`` is NULLS FIRST; DuckDB defaults NULLS LAST), a
    silent engine/oracle split; under DESC both default NULLS LAST.

    ``order`` must be a total order (include a unique tiebreak column)
    for the result to be deterministic, same as any exact-rank window.

    A NULL bucket would be silently DROPPED by the phase-2 equi-join on
    ``__tpb`` (inner-join NULL-key semantics) — a wrong answer, not an
    error. The library therefore fails loud: any row whose ``bucket``
    evaluates to NULL raises at execution time, forcing every caller to
    coalesce nullable keys to an explicit sentinel (VERDICT r7 next #1).
    """
    tagged = df.withColumn(
        "__tpb",
        F.when(bucket.isNotNull(), bucket).otherwise(
            F.raise_error(
                F.lit(
                    "bucketed_global_rank: NULL bucket value — coalesce the "
                    "bucket expression to an explicit sentinel (in the "
                    "oracle SQL too) whose VALUE sorts where you want the "
                    "NULL rows; do not rely on engine NULL placement: "
                    "Spark asc() is NULLS FIRST but DuckDB defaults NULLS "
                    "LAST, so ASC callers diverge silently (DESC: both "
                    "default NULLS LAST)"
                )
            )
        ),
    )
    aggs = [F.count(F.lit(1)).alias("__tpb_cnt")]
    if running_sum is not None:
        tagged = tagged.withColumn("__tpb_val", running_sum)
        aggs.append(F.sum("__tpb_val").alias("__tpb_sum"))
    ledger = tagged.groupBy("__tpb").agg(*aggs)
    from pyspark.sql import Window

    lorder = F.col("__tpb").desc() if descending else F.col("__tpb").asc()
    wl = Window.orderBy(lorder).rowsBetween(Window.unboundedPreceding, -1)
    sel = [
        F.col("__tpb"),
        F.coalesce(F.sum("__tpb_cnt").over(wl), F.lit(0)).alias("__tpb_roff"),
    ]
    if running_sum is not None:
        sel.append(
            F.coalesce(
                F.sum("__tpb_sum").over(wl), F.lit(0).cast("long")
            ).alias("__tpb_soff")
        )
    ledger = ledger.select(*sel)
    wb = Window.partitionBy("__tpb").orderBy(*order)
    out = tagged.join(F.broadcast(ledger), "__tpb")
    if rn is not None:
        out = out.withColumn(
            rn, (F.col("__tpb_roff") + F.row_number().over(wb)).cast("long")
        )
    if running_sum is not None:
        out = out.withColumn(
            running_sum_out,
            F.col("__tpb_soff")
            + F.sum("__tpb_val").over(
                wb.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    return out.drop("__tpb", "__tpb_roff", "__tpb_soff", "__tpb_cnt", "__tpb_val")


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` reconstructed arithmetically from a global rank —
    the piece that lets an ntile window ride :func:`bucketed_global_rank`
    instead of a single-partition window. Spark/DuckDB ntile semantics:
    ``n div k`` base size, the first ``n mod k`` tiles take one extra
    row. Integer-exact; the ``q = 0`` division branch is unreachable
    (when ``q`` is 0 every row satisfies ``rn <= r``)."""
    q = n - (n / F.lit(k)).cast("long") * k  # n mod k, engine-neutral
    base = (n / F.lit(k)).cast("long")
    big = q * (base + 1)
    return (
        F.when(rn <= big, ((rn - 1) / (base + 1)).cast("long"))
        .otherwise(q + ((rn - big - 1) / base).cast("long"))
        + 1
    ).cast("int")


def observe_counters(df, name: str, **aggs):
    """Attach free pipeline metrics to a DataFrame: ``observe`` runs the
    given aggregate expressions AS THE DATA FLOWS through whatever
    action executes the frame — no second job, no extra scan (contrast
    a separate ``.count()``, which replays the whole lineage). Returns
    (df, Observation); read ``obs.get`` AFTER an action completes.

    The operational use: a curation/export pipeline observes rows-in /
    rows-kept / bytes at each gate, and the run's health report costs
    zero additional passes over 100 TB. Aggregates must be
    observation-safe (count/sum/min/max — commutative, no distinct).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    named = [expr.alias(alias) for alias, expr in aggs.items()]
    return df.observe(obs, *named), obs


def decoupled(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` off its source storage via
    ``localCheckpoint`` so the returned frame no longer depends on the
    files/tables it was built over.

    Queries that build their result over per-invocation scratch state
    (temp streaming stores, overwritten bucketed tables) must route
    their return through this, so the NEXT invocation's cleanup or
    overwrite of that state can never strand a still-unconsumed lazy
    frame (ADVICE r13). Only for frames whose materialized size is
    bounded (aggregates, label views) — lineage truncation is the
    point, not a cost, because the sources are scratch slated for
    replacement anyway."""
    return df.localCheckpoint(eager=True)
