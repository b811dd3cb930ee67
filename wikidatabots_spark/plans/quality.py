"""Round-4c additions: pipeline-operations queries, each oracle-checked.

- ``ev_gapfill_hourly`` — time-series densification: the hourly rollup
  left-joined onto a generated per-type hour spine so silent gaps become
  explicit zero rows (the shape every downstream anomaly/forecast job
  needs; a missing hour is a *signal*, not an absence)
- ``dq_expectations`` — a data-quality expectations report over the
  TPC-H tables: referential integrity, primary-key uniqueness, range
  and null checks, one row per check with checked/violation counts —
  the pre-flight audit a 100 TB ingest runs before publishing a batch
- ``text_pmi_bigrams`` — collocation mining: top-k word bigrams by an
  integer PMI surrogate (observed/expected lift in ppm) — corpus
  phrase discovery for tokenizer/vocab design
- ``op_union_by_name`` — schema-evolution union: frames with different
  column order AND different column sets combine by NAME with nulls for
  the missing columns (``unionByName(allowMissingColumns=True)``) —
  how a long-lived table absorbs a schema change mid-corpus
- ``knn_filtered_topk`` — metadata-filtered vector search: cosine top-k
  restricted to corpus vectors sharing the query's label (the
  "filtered ANN" mode every production vector store exposes)
- ``ev_rolling_1h`` — per-user trailing-1-hour rolling aggregates via a
  time-RANGE window frame (the frame family rowsBetween cannot express)
- ``agg_grouping_sets`` — non-hierarchical GROUPING SETS with a
  grouping_id, the aggregation shape rollup/cube cannot produce
- ``corpus_split_assign`` — deterministic content-hash train/val/test
  assignment (re-runs and backfills land every doc in the same split)
- ``emb_standardize`` — per-dimension z-score normalization of the
  embedding column from integer-exact moments
- ``agg_robust_stats`` — exact-rank median + MAD (median absolute
  deviation), the interpolation-free robust-statistics pair

No reference counterpart (north-star extensions, BASELINE.json); the
reference's own surface is covered in plans.tmdb / plans.opencritic.

Scale notes are per-query docstrings; the common theme: every check or
spine that is per-group-tiny is computed from an already-aggregated
frame (|event_types| or |checks| rows), so the only real shuffles are
the base aggregations themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table

# Temp state roots for the seated streaming queries, one live root per
# query prefix. Each query routes its return through ``_decoupled``
# (eager localCheckpoint), so the returned frame never depends on the
# root after the query function exits; the previous root is therefore
# safe to remove EAGERLY here regardless of when (or whether) the
# previous frame is consumed (ADVICE r13 closed the old
# consume-before-reinvoke assumption). A long-lived process holds at
# most one root per query instead of one per invocation, with one
# atexit sweep as the final backstop (ADVICE r12: per-invocation
# atexit.register both leaked roots until exit and grew the atexit
# table without bound).
_STREAM_ROOTS: dict[str, str] = {}


def _sweep_stream_roots() -> None:
    import shutil

    for p in _STREAM_ROOTS.values():
        shutil.rmtree(p, ignore_errors=True)


def _fresh_stream_root(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    if not _STREAM_ROOTS:
        atexit.register(_sweep_stream_roots)
    prev = _STREAM_ROOTS.pop(prefix, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    root = tempfile.mkdtemp(prefix=prefix)
    _STREAM_ROOTS[prefix] = root
    return root


def _decoupled(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` off its temp state root (ADVICE r13:
    ``_fresh_stream_root`` rmtree's the PREVIOUS invocation's root,
    which would silently turn a still-unconsumed lazy frame from that
    invocation into a read over an absent store; every seated streaming
    query routes its return through this, making the eager cleanup safe
    by construction). See ``functions.scale.decoupled``."""
    from wikidatabots_spark.functions.scale import decoupled

    return decoupled(df)

# ---------------------------------------------------------------------------
# ev_gapfill_hourly — densified hourly rollup (explicit zero rows for gaps)
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
    FROM events GROUP BY event_type, date_trunc('hour', ts)
),
bounds AS (
    SELECT event_type, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY event_type
),
spine AS (
    SELECT event_type,
           unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
    FROM bounds
)
SELECT s.event_type, s.hour_start,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
       h.n IS NULL AS was_gap
FROM spine s
LEFT JOIN hourly h ON h.event_type = s.event_type AND h.h = s.hour_start
"""


@register("ev_gapfill_hourly", oracle=_GAPFILL_ORACLE)
def ev_gapfill_hourly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per type, densified over each type's full
    [min hour, max hour] span: hours with no events appear as explicit
    ``n_events = 0, was_gap = true`` rows.

    Scale: ONE shuffle total — the (event_type, hour) rollup with
    map-side partial aggregation. Everything after it operates on
    already-aggregated frames: the bounds table is |event_types| rows,
    the exploded spine is |types| × |hours| rows (thousands, not
    billions — it grows with wall-clock time, not data volume), and the
    final join broadcasts the rollup side via AQE. The spine generation
    is `sequence` + `explode` — a narrow map off a tiny frame, never a
    driver loop.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start"),
    )
    return (
        spine.join(
            hourly,
            (spine["event_type"] == hourly["event_type"])
            & (F.col("hour_start") == F.col("h")),
            "left",
        )
        .select(
            spine["event_type"],
            "hour_start",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("was_gap"),
        )
    )


# ---------------------------------------------------------------------------
# dq_expectations — data-quality audit report over the TPC-H tables
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH li AS (
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS orphan,
           SUM(CASE WHEN l.l_quantity < 1 OR l.l_quantity > 50
                    THEN 1 ELSE 0 END) AS qty_oor,
           SUM(CASE WHEN l.l_discount < 0 OR l.l_discount > 0.1
                    THEN 1 ELSE 0 END) AS disc_oor,
           SUM(CASE WHEN l.l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_np
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON o.o_orderkey = l.l_orderkey
),
ord AS (
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS orphan,
           SUM(CASE WHEN o.o_totalprice <= 0 THEN 1 ELSE 0 END) AS price_np,
           SUM(CASE WHEN o.o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_date
    FROM orders o
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
           ON c.c_custkey = o.o_custkey
),
cust AS (
    SELECT COUNT(*) AS n,
           COUNT(*) - COUNT(DISTINCT c_custkey) AS pk_dups,
           SUM(CASE WHEN c_acctbal < -1000 OR c_acctbal > 10000
                    THEN 1 ELSE 0 END) AS bal_oor
    FROM customer
),
prt AS (
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN p_size < 1 OR p_size > 50 THEN 1 ELSE 0 END) AS size_oor,
           SUM(CASE WHEN p_retailprice <= 0 THEN 1 ELSE 0 END) AS price_np
    FROM part
)
SELECT * FROM (
    SELECT 'lineitem_orderkey_in_orders' AS check_name,
           CAST(n AS BIGINT) AS n_checked,
           CAST(orphan AS BIGINT) AS n_violations FROM li
    UNION ALL
    SELECT 'lineitem_quantity_1_50', CAST(n AS BIGINT),
           CAST(qty_oor AS BIGINT) FROM li
    UNION ALL
    SELECT 'lineitem_discount_0_01', CAST(n AS BIGINT),
           CAST(disc_oor AS BIGINT) FROM li
    UNION ALL
    SELECT 'lineitem_extendedprice_positive', CAST(n AS BIGINT),
           CAST(price_np AS BIGINT) FROM li
    UNION ALL
    SELECT 'orders_custkey_in_customer', CAST(n AS BIGINT),
           CAST(orphan AS BIGINT) FROM ord
    UNION ALL
    SELECT 'orders_totalprice_positive', CAST(n AS BIGINT),
           CAST(price_np AS BIGINT) FROM ord
    UNION ALL
    SELECT 'orders_orderdate_not_null', CAST(n AS BIGINT),
           CAST(null_date AS BIGINT) FROM ord
    UNION ALL
    SELECT 'customer_custkey_unique', CAST(n AS BIGINT),
           CAST(pk_dups AS BIGINT) FROM cust
    UNION ALL
    SELECT 'customer_acctbal_range', CAST(n AS BIGINT),
           CAST(bal_oor AS BIGINT) FROM cust
    UNION ALL
    SELECT 'part_size_1_50', CAST(n AS BIGINT),
           CAST(size_oor AS BIGINT) FROM prt
    UNION ALL
    SELECT 'part_retailprice_positive', CAST(n AS BIGINT),
           CAST(price_np AS BIGINT) FROM prt
)
"""

_DQ_CHECKS: dict[str, list[tuple[str, str]]] = {
    # table -> [(check_name, violation column)]
    "li": [
        ("lineitem_orderkey_in_orders", "orphan"),
        ("lineitem_quantity_1_50", "qty_oor"),
        ("lineitem_discount_0_01", "disc_oor"),
        ("lineitem_extendedprice_positive", "price_np"),
    ],
    "ord": [
        ("orders_custkey_in_customer", "orphan"),
        ("orders_totalprice_positive", "price_np"),
        ("orders_orderdate_not_null", "null_date"),
    ],
    "cust": [
        ("customer_custkey_unique", "pk_dups"),
        ("customer_acctbal_range", "bal_oor"),
    ],
    "prt": [
        ("part_size_1_50", "size_oor"),
        ("part_retailprice_positive", "price_np"),
    ],
}


def _dq_unpivot(agg_row: DataFrame, checks: list[tuple[str, str]]) -> DataFrame:
    """One-row aggregate frame -> one row per check via `stack` (no
    driver collect; the unpivot runs on the single aggregated row)."""
    stack_args = ", ".join(f"'{name}', {col}" for name, col in checks)
    return agg_row.select(
        F.expr(
            f"stack({len(checks)}, {stack_args}) AS (check_name, n_violations)"
        ),
        F.col("n").alias("n_checked"),
    ).select("check_name", "n_checked", F.col("n_violations").cast("long"))


def _cnt(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


@register("dq_expectations", oracle=_DQ_ORACLE)
def dq_expectations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report: 11 checks across 4 tables, one
    output row per check with (n_checked, n_violations).

    Scale: all predicate checks on a table are FUSED into one scan —
    lineitem is read once (its referential check rides the same pass: a
    left join against the distinct orderkey set, counted in the same
    aggregate), likewise orders. The per-table results are single-row
    frames; the `stack` unpivot and the final union are driver-free and
    free at any scale. Referential joins shuffle on the key with AQE
    (broadcast when the key set is small, skew-split when it is not) —
    there is no per-check rescan, which at 100 TB is the difference
    between one pass and eleven.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    okeys = orders.select("o_orderkey").distinct()
    li_agg = (
        li.join(okeys, li["l_orderkey"] == okeys["o_orderkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _cnt(F.col("o_orderkey").isNull()).alias("orphan"),
            _cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
                "qty_oor"
            ),
            _cnt(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
            ).alias("disc_oor"),
            _cnt(F.col("l_extendedprice") <= 0).alias("price_np"),
        )
    )
    ckeys = cust.select("c_custkey").distinct()
    ord_agg = (
        orders.join(ckeys, orders["o_custkey"] == ckeys["c_custkey"], "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _cnt(F.col("c_custkey").isNull()).alias("orphan"),
            _cnt(F.col("o_totalprice") <= 0).alias("price_np"),
            _cnt(F.col("o_orderdate").isNull()).alias("null_date"),
        )
    )
    cust_agg = cust.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("c_custkey"))).alias(
            "pk_dups"
        ),
        _cnt((F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000)).alias(
            "bal_oor"
        ),
    )
    part_agg = part.agg(
        F.count(F.lit(1)).alias("n"),
        _cnt((F.col("p_size") < 1) | (F.col("p_size") > 50)).alias("size_oor"),
        _cnt(F.col("p_retailprice") <= 0).alias("price_np"),
    )
    parts = [
        _dq_unpivot(li_agg, _DQ_CHECKS["li"]),
        _dq_unpivot(ord_agg, _DQ_CHECKS["ord"]),
        _dq_unpivot(cust_agg, _DQ_CHECKS["cust"]),
        _dq_unpivot(part_agg, _DQ_CHECKS["prt"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# text_pmi_bigrams — collocation mining by integer PMI surrogate (lift)
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 3
PMI_TOPK = 50

_PMI_ORACLE = f"""
WITH wl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x != '') AS wl
    FROM documents
),
occ AS (
    SELECT u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(wl) - 1, 0)),
                   i -> struct_pack(w1 := wl[i], w2 := wl[i+1]))) AS u
        FROM wl
    )
),
bgc AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY w1, w2),
marg AS (
    SELECT w1, w2, c12,
           SUM(c12) OVER (PARTITION BY w1) AS c1,
           SUM(c12) OVER (PARTITION BY w2) AS c2,
           SUM(c12) OVER () AS n_total
    FROM bgc
),
sc AS (
    SELECT w1, w2, c12,
           ((c12 * n_total) // c1) * 1000000 // c2 AS lift_ppm
    FROM marg WHERE c12 >= {PMI_MIN_COUNT}
),
ranked AS (
    SELECT w1, w2, c12, lift_ppm,
           row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rank
    FROM sc
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS n_cooccur,
       CAST(lift_ppm AS BIGINT) AS lift_ppm, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {PMI_TOPK}
"""


@register("text_pmi_bigrams", oracle=_PMI_ORACLE)
def text_pmi_bigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOPK} collocations: bigrams whose observed count most
    exceeds the independence expectation. The score is PMI's argument as
    an integer — lift_ppm = ((c12·N) div c1)·1e6 div c2 in fixed
    left-to-right floor-division order, so both engines produce the
    same bits (log is monotone, so the RANKING equals PMI's; the
    intermediate products stay under 2^63 for corpora up to ~3e9
    bigrams — beyond that, switch the two products to DECIMAL(38,0),
    same plan).

    Scale: occurrences explode once; the count shuffle carries string
    pairs with map-side partial counts (for a trillion-token corpus the
    ``operators.lm`` trick applies unchanged — ship xxhash64 keys and
    join words back for the top-k only). Marginals are two window sums
    over the DISTINCT-bigram table (vocab²-bounded, zipf-small), N is a
    broadcast one-row aggregate, and the global top-k is
    TakeOrderedAndProject — per-partition partial top-k, never a full
    sort. The rank window runs over ≤{PMI_TOPK} collected-side rows.
    """
    from wikidatabots_spark.operators.dedup import ensure_parallelism
    from wikidatabots_spark.operators.textstats import words

    d = load_table(spark, sf_dir, "documents")
    base = ensure_parallelism(d.select("doc_id", "text"), "doc_id").select(
        words(F.col("text")).alias("__w")
    )
    w = F.col("__w")
    n = F.size(w)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("w1"),
                F.element_at(w, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    occ = base.select(F.explode(grams).alias("g")).select("g.w1", "g.w2")
    bgc = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    marg = bgc.withColumn(
        "c1", F.sum("c12").over(Window.partitionBy("w1"))
    ).withColumn("c2", F.sum("c12").over(Window.partitionBy("w2")))
    total = bgc.agg(F.sum("c12").alias("n_total"))
    sc = (
        marg.crossJoin(F.broadcast(total))
        .where(F.col("c12") >= PMI_MIN_COUNT)
        .withColumn(
            "lift_ppm",
            F.expr("((c12 * n_total) div c1) * 1000000 div c2"),
        )
    )
    topk = sc.orderBy(
        F.col("lift_ppm").desc(), F.col("w1"), F.col("w2")
    ).limit(PMI_TOPK)
    rank_w = Window.orderBy(F.col("lift_ppm").desc(), F.col("w1"), F.col("w2"))
    return topk.select(
        "w1",
        "w2",
        F.col("c12").cast("long").alias("n_cooccur"),
        F.col("lift_ppm").cast("long").alias("lift_ppm"),
        F.row_number().over(rank_w).cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# op_union_by_name — schema-evolution union (order + missing columns)
# ---------------------------------------------------------------------------

_UNION_BY_NAME_ORACLE = """
SELECT n_nationkey AS key, n_name AS name, 'nation' AS src
FROM nation
UNION ALL BY NAME
SELECT r_name AS name, r_regionkey AS key, r_regionkey * 10 AS region_code
FROM region
"""


@register("op_union_by_name", oracle=_UNION_BY_NAME_ORACLE)
def op_union_by_name_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two frames whose schemas differ in column ORDER and in
    column SET: `unionByName(allowMissingColumns=True)` aligns by name
    and nulls the columns each side lacks (`src` only on the nation
    side, `region_code` only on the region side) — the schema-evolution
    read every long-lived corpus eventually needs. Narrow op: a union
    adds no shuffle or compute, just plan branches.
    """
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key"),
        F.col("n_name").alias("name"),
        F.lit("nation").alias("src"),
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"),
        F.col("r_regionkey").alias("key"),
        (F.col("r_regionkey") * 10).alias("region_code"),
    )
    return nation.unionByName(region, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# knn_filtered_topk — metadata-filtered vector search
# ---------------------------------------------------------------------------

_KNN_FILTERED_ORACLE = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_vec, label
    FROM embeddings WHERE vec_id < 20
),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec, label FROM embeddings),
norms AS (
    SELECT vec_id,
           sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               AS nrm
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY vec_id
),
dots AS (
    SELECT q.query_id, c.neighbor_id, c.label,
           SUM(CAST(q.q_vec[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE)) AS dot
    FROM q JOIN c ON q.label = c.label AND q.query_id != c.neighbor_id,
         generate_series(1, 64) t(i)
    GROUP BY q.query_id, c.neighbor_id, c.label
),
scored AS (
    SELECT d.query_id, d.neighbor_id, d.label,
           d.dot / (nq.nrm * nc.nrm) AS sim
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nc ON nc.vec_id = d.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(label AS INT) AS label,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("knn_filtered_topk", oracle=_KNN_FILTERED_ORACLE)
def knn_filtered_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact cosine top-5 restricted to corpus
    vectors sharing the query's `label` — the metadata-filtered ANN
    mode (pre-filtering, not post-filtering: a post-filter of an
    unfiltered top-k silently under-fills when the filter is
    selective).

    Scale: the label predicate is part of the JOIN key, so the filter
    is applied during the broadcast hash join — distance math runs only
    on same-label pairs (selectivity 1/|labels| of the brute-force
    pair count). Queries broadcast; the corpus never shuffles until the
    final per-query top-k window (tiny cardinality). With an IVF/LSH
    index the same pre-filter composes by adding `label` to the bucket
    key.
    """
    from wikidatabots_spark.operators.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("q_norm"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("c_norm"),
        F.col("label"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "sim",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
        .select("query_id", "neighbor_id", "label", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("label").cast("int").alias("label"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# ev_rolling_1h — trailing time-RANGE window (not expressible with rows)
# ---------------------------------------------------------------------------

_ROLLING_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(14,4))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@register("ev_rolling_1h", oracle=_ROLLING_ORACLE)
def ev_rolling_1h_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour event count and decimal-exact value sum.
    A RANGE frame over event time — the frame `rowsBetween` cannot
    express (the window's extent depends on the DATA, not a row count;
    a burst of events shares one hour-wide frame, a sparse user's frame
    may hold only the current row). Spark's rangeBetween needs a numeric
    order key, so the frame runs over epoch microseconds with a
    3_600_000_000-µs lookback — identical peer semantics to the
    oracle's INTERVAL frame.

    Scale: one shuffle on user_id, then a per-partition sort —
    the same cost profile as any per-user window; the frame bound adds
    no extra exchange. Skewed power-users are a per-key sort problem,
    not a shuffle problem (state is one sliding frame per user).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(14,4)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# agg_grouping_sets — non-hierarchical sets + grouping_id
# ---------------------------------------------------------------------------

_GSETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((flag), (status), ()) — three independent
    aggregations in ONE pass with a grouping_id distinguishing the
    levels. Unlike rollup/cube this set list is non-hierarchical
    (neither column nests under the other), so it pins the general
    mechanism. Spark's grouping_id() bit order equals DuckDB's
    GROUPING(a, b) (verified: first listed column = most significant
    bit).

    Scale: Catalyst expands the sets into one Expand + single
    aggregation — the input is read ONCE however many sets are listed
    (vs one scan per set if issued as separate queries and unioned).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid", "n_items", "sum_qty"
        )
    )


# ---------------------------------------------------------------------------
# corpus_split_assign — deterministic train/val/test assignment
# ---------------------------------------------------------------------------

SPLIT_TRAIN_END = 52429  # floor(0.8 * 65536)
SPLIT_VAL_END = 58982  # floor(0.9 * 65536)

_SPLIT_ORACLE = f"""
WITH b AS (
    SELECT doc_id, source,
           (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
         + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bkt
    FROM documents
)
SELECT doc_id, source,
       CASE WHEN bkt < {SPLIT_TRAIN_END} THEN 'train'
            WHEN bkt < {SPLIT_VAL_END} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@register("corpus_split_assign", oracle=_SPLIT_ORACLE)
def corpus_split_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment: the split is a
    pure function of doc_id (md5 bucket thresholds), so re-runs,
    backfills, and incremental ingests put every document in the SAME
    split — no RNG state to checkpoint, no cross-run leakage of val
    docs into train. The repo-standard content-hash Bernoulli
    (corpus_quality_sample) with two cutpoints. Narrow map, zero
    shuffles.
    """
    from wikidatabots_spark.plans.curation import split_bucket

    d = load_table(spark, sf_dir, "documents")
    bkt = split_bucket()
    return d.select(
        "doc_id",
        "source",
        F.when(bkt < SPLIT_TRAIN_END, F.lit("train"))
        .when(bkt < SPLIT_VAL_END, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# emb_standardize — per-dimension z-score from integer-exact moments
# ---------------------------------------------------------------------------

EMB_DIM = 64
_STD_SCALE = 1_000_000  # 1e-6 quantization for integer-exact moments


def _emb_std_oracle() -> str:
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_STD_SCALE}) AS BIGINT)) AS qv
    FROM embeddings
),
stats AS (
    SELECT i AS dim,
           CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*) AS mean_q,
           sqrt((CAST(SUM(qv[i] * qv[i]) AS DOUBLE)
                 - CAST(SUM(qv[i]) AS DOUBLE) * CAST(SUM(qv[i]) AS DOUBLE)
                   / COUNT(*)) / COUNT(*)) AS std_q
    FROM q, generate_series(1, {EMB_DIM}) t(i)
    GROUP BY i
),
arrs AS (
    SELECT list(mean_q ORDER BY dim) AS means,
           list(std_q ORDER BY dim) AS stds
    FROM stats
)
SELECT vec_id,
       list_transform(generate_series(1, {EMB_DIM}),
           i -> (CAST(qv[i] AS DOUBLE) - arrs.means[i]) / arrs.stds[i]) AS z
FROM q, arrs
"""


@register("emb_standardize", oracle=_emb_std_oracle())
def emb_standardize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score normalization of the embedding column —
    the feature-scaling pass that precedes k-means/IVF training (skewed
    per-dimension scales distort every Euclidean distance).

    Engine-exact by integer quantization: moments are computed over
    floor(x·1e6) BIGINTs (float sums are order-dependent across
    engines; integer sums are not — the 1e-6 quantization error is far
    below float32's own noise floor at these magnitudes), and the final
    z = (q - mean)/std is one fixed float expression tree.

    The moment pass is posexplode → groupBy(dim): map-side partial
    aggregation collapses each partition to {EMB_DIM} rows before the
    exchange, so the shuffle carries {EMB_DIM}·n_partitions tiny rows —
    the vectors themselves never shuffle. (The "obvious" alternative —
    one agg with 2·{EMB_DIM} per-element sum expressions — produces the
    same bits but a 128-wide codegen unit that measured 4.5× slower
    end-to-end; wide-agg codegen cost is real, row explosion before
    partial agg is free.) The {EMB_DIM}-row stats table is re-packed to
    two arrays and broadcast for the narrow z-map.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _STD_SCALE).cast("long"),
        ).alias("qv"),
    )
    mom = (
        q.select(F.posexplode("qv").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    std = F.sqrt(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / F.col("n")
    )
    arrs = (
        mom.select("pos", mean.alias("m"), std.alias("d"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m", "d"))).alias("st"))
        .select(
            F.transform("st", lambda s: s["m"]).alias("means"),
            F.transform("st", lambda s: s["d"]).alias("stds"),
        )
    )
    return q.crossJoin(F.broadcast(arrs)).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: (
                F.element_at(F.col("qv"), i).cast("double")
                - F.element_at(F.col("means"), i)
            )
            / F.element_at(F.col("stds"), i),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# agg_robust_stats — exact-rank median + MAD per event_type
# ---------------------------------------------------------------------------

_ROBUST_ORACLE = """
WITH ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type, value AS median_value, n
    FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
),
dev AS (
    SELECT e.event_type, abs(e.value - m.median_value) AS d, e.event_id
    FROM events e JOIN med m USING (event_type)
),
dranked AS (
    SELECT event_type, d,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY d, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
)
SELECT m.event_type, CAST(m.n AS BIGINT) AS n, m.median_value,
       dr.d AS mad_value
FROM med m
JOIN dranked dr ON dr.event_type = m.event_type
                AND dr.rn = CAST(ceil(dr.n / 2.0) AS BIGINT)
"""


@register("agg_robust_stats", oracle=_ROBUST_ORACLE)
def agg_robust_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type MEDIAN and MAD (median absolute deviation) — the
    robust location/spread pair that outliers cannot drag, by EXACT
    rank selection (element at ceil(n/2), ties broken by event_id):
    no percentile interpolation, so both engines pick the identical
    element and the doubles compare bit-for-bit.

    Scale: two event_type exchanges by nature (MAD is a second-pass
    statistic — deviations need the median first); the tiny median
    table broadcasts back onto the fact for the deviation pass. Both
    passes are sort-within-group over the same key, AQE-coalesced.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    med = ranked.where(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select("event_type", F.col("value").alias("median_value"), "n")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("median_value")).alias("d"),
        "event_id",
    )
    dw = Window.partitionBy("event_type").orderBy("d", "event_id")
    dranked = dev.select(
        "event_type",
        "d",
        F.row_number().over(dw).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("dn"),
    )
    mad = dranked.where(
        F.col("rn") == F.ceil(F.col("dn") / 2.0).cast("long")
    ).select("event_type", F.col("d").alias("mad_value"))
    return med.join(mad, "event_type").select(
        "event_type", F.col("n").cast("long").alias("n"), "median_value",
        "mad_value",
    )


# ---------------------------------------------------------------------------
# corpus_tokenize_ids — vocab-mapped token-id sequences (pre-packing step)
# ---------------------------------------------------------------------------

VOCAB_SIZE = 100

_TOKENIZE_ORACLE = f"""
WITH wl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x != '') AS wl
    FROM documents
),
counts AS (
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(wl) AS w FROM wl)
    GROUP BY w
),
vocab AS (
    SELECT word,
           CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INT) AS token_id
    FROM counts
    ORDER BY cnt DESC, word
    LIMIT {VOCAB_SIZE}
),
tok AS (
    SELECT doc_id, unnest(wl) AS w, generate_subscripts(wl, 1) AS ord
    FROM wl
),
mapped AS (
    SELECT t.doc_id,
           list(COALESCE(v.token_id, 0) ORDER BY t.ord) AS ids,
           COUNT(*) AS n_tokens,
           SUM(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS n_unk
    FROM tok t LEFT JOIN vocab v ON v.word = t.w
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       array_to_string(COALESCE(m.ids, []), ' ') AS ids,
       CAST(COALESCE(m.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(m.n_unk, 0) AS BIGINT) AS n_unk
FROM documents d LEFT JOIN mapped m USING (doc_id)
"""


@register("corpus_tokenize_ids", oracle=_TOKENIZE_ORACLE)
def corpus_tokenize_ids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id sequences under a corpus-built top-{VOCAB_SIZE} vocab
    (operators.textstats.tokenize_to_ids) — the missing middle of the
    trainer path corpus → [tokenize] → pack_sequences → shards. The
    oracle rebuilds the vocab and the per-position mapping with a
    positional join; Spark does it as one broadcast map lookup inside a
    narrow array transform (the corpus never re-explodes).

    The id sequence is emitted as a space-joined STRING (not
    ``array<int>``): the driver's canonicalizer pandas-sorts result
    columns, and a Python list cell is unhashable there (the one r4
    driver red). ``concat_ws`` over the cast array is value-identical
    information and stays a narrow projection; the oracle builds the
    same string with ``array_to_string``. Downstream consumers
    (pack_sequences) keep using the array-typed ``tokenize_to_ids``
    operator directly — only this registry surface is string-typed."""
    from wikidatabots_spark.operators.textstats import tokenize_to_ids

    toks = tokenize_to_ids(
        load_table(spark, sf_dir, "documents"), vocab_size=VOCAB_SIZE
    )
    return toks.withColumn(
        "ids", F.concat_ws(" ", F.col("ids").cast("array<string>"))
    )


# ---------------------------------------------------------------------------
# agg_mode — per-group mode with a deterministic tie rule
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
WITH counts AS (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY o_orderstatus, o_orderpriority
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY cnt DESC, o_orderpriority) AS rn
    FROM counts
)
SELECT o_orderstatus, o_orderpriority AS mode_priority,
       CAST(cnt AS BIGINT) AS n_occurrences
FROM ranked WHERE rn = 1
"""


@register("agg_mode", oracle=_MODE_ORACLE)
def agg_mode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with an explicit tie rule
    (highest count, then lowest value) — built-in ``mode()`` aggregates
    leave ties engine-defined, so the deterministic form is
    count + rank, the only form an oracle can pin.

    Scale: two exchanges — (group, value) count with map-side combine
    collapses the fact table to distinct pairs; the rank window then
    shuffles only those pairs on the group key.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").cast("long").alias("n_occurrences"),
        )
    )


# ---------------------------------------------------------------------------
# agg_argminmax — arg-min/arg-max with deterministic ties via struct order
# ---------------------------------------------------------------------------

_ARGMINMAX_ORACLE = """
SELECT c_mktsegment,
       MIN(struct_pack(a := c_acctbal, k := c_custkey)).k AS poorest_custkey,
       MIN(struct_pack(a := c_acctbal, k := c_custkey)).a AS min_acctbal,
       MAX(struct_pack(a := c_acctbal, k := -c_custkey)).a AS max_acctbal,
       -MAX(struct_pack(a := c_acctbal, k := -c_custkey)).k AS richest_custkey
FROM customer
GROUP BY c_mktsegment
"""


@register("agg_argminmax", oracle=_ARGMINMAX_ORACLE)
def agg_argminmax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min/arg-max ("which customer holds the extreme balance") via
    lexicographic struct MIN/MAX — ``min_by``/``max_by`` leave ties
    engine-defined, but min(struct(value, key)) resolves a value tie to
    the LOWEST key and max(struct(value, -key)) to the lowest key on
    the max side, deterministically, in ONE aggregation pass (no
    join-back, no window).

    Scale: a single groupBy with map-side partial min/max of a 16-byte
    struct — the cheapest possible shape for this question.
    """
    c = load_table(spark, sf_dir, "customer")
    smin = F.min(F.struct(F.col("c_acctbal").alias("a"), F.col("c_custkey").alias("k")))
    smax = F.max(
        F.struct(F.col("c_acctbal").alias("a"), (-F.col("c_custkey")).alias("k"))
    )
    return c.groupBy("c_mktsegment").agg(
        smin.getField("k").alias("poorest_custkey"),
        smin.getField("a").alias("min_acctbal"),
        smax.getField("a").alias("max_acctbal"),
        (-smax.getField("k")).alias("richest_custkey"),
    )


# ---------------------------------------------------------------------------
# win_first_last — first_value / last_value / nth_value window family
# ---------------------------------------------------------------------------

_WIN_FIRST_LAST_ORACLE = """
SELECT s_suppkey, s_nationkey, s_acctbal,
       first_value(s_suppkey) OVER w AS poorest_in_nation,
       last_value(s_suppkey) OVER w AS richest_in_nation,
       nth_value(s_suppkey, 2) OVER w AS second_poorest
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("win_first_last", oracle=_WIN_FIRST_LAST_ORACLE)
def win_first_last_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit
    whole-partition frame. The frame spec is the point being pinned:
    with the DEFAULT frame (unbounded-preceding → current-row),
    last_value is just the current row — the classic silent-wrong-
    answer; the full frame makes it the partition maximum. Total
    ordering (acctbal, suppkey) keeps ties engine-identical.

    Scale: one shuffle on the partition key; all three functions share
    the single sorted frame.
    """
    s = load_table(spark, sf_dir, "supplier")
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("s_acctbal", "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.first("s_suppkey").over(w).alias("poorest_in_nation"),
        F.last("s_suppkey").over(w).alias("richest_in_nation"),
        F.nth_value("s_suppkey", 2).over(w).alias("second_poorest"),
    )


# ---------------------------------------------------------------------------
# sample_per_source — deterministic bounded per-group sample
# ---------------------------------------------------------------------------

SAMPLE_PER_SOURCE_K = 10

_SAMPLE_PER_SOURCE_ORACLE = f"""
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5('ps:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, source, CAST(rn AS INT) AS sample_rank
FROM ranked WHERE rn <= {SAMPLE_PER_SOURCE_K}
"""


@register("sample_per_source", oracle=_SAMPLE_PER_SOURCE_ORACLE)
def sample_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded per-group sample: each source keeps its
    {SAMPLE_PER_SOURCE_K} documents with the smallest salted content
    hash — the deterministic replacement for per-group reservoir
    sampling (same uniform-ish draw, zero RNG state, identical rows on
    every re-run/backfill, and the judge of "which rows" is a pure
    function so adding documents later only displaces, never reshuffles,
    the sample).

    Scale: one shuffle on source. A skewed mega-source is rank-truncated
    per partition first under AQE skew split; at extreme skew the
    two-phase trick applies (per-partition top-k, then top-k of the
    union — the TakeOrderedAndProject shape per group).
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= SAMPLE_PER_SOURCE_K)
        .select("doc_id", "source", F.col("rn").cast("int").alias("sample_rank"))
    )


# ---------------------------------------------------------------------------
# graph_degree_stats — degree histogram of the near-dup graph
# ---------------------------------------------------------------------------


def _degree_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WINNOW_PAIRS_ORACLE

    return f"""
WITH pairs AS ({_WINNOW_PAIRS_ORACLE}),
edges AS (
    SELECT id_a AS node FROM pairs
    UNION ALL SELECT id_b FROM pairs
),
deg AS (SELECT node, COUNT(*) AS degree FROM edges GROUP BY node)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


@register("graph_degree_stats", oracle=_degree_oracle())
def graph_degree_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the winnowing near-dup graph — the one-glance
    health check of a dedup run: a fat tail means template/boilerplate
    hubs (candidates for the pagerank drill-down,
    ``graph_pagerank_dupgraph``); a spike at degree 1 means mostly
    honest pairwise near-dups.

    Scale: pairs are already df-capped (winnow_pairs' max_df fence);
    the histogram is two count aggregations with map-side combine —
    output is O(max degree) rows.
    """
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, k=3, window=4)
    pairs = winnow_pairs(fps, d, min_shared=3, max_df=0.2)
    edges = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    ).select(F.col("degree").cast("long").alias("degree"), "n_nodes")


# ---------------------------------------------------------------------------
# dedup_containment — overlap-coefficient pairs (near-subset duplication)
# ---------------------------------------------------------------------------


def _containment_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _TOK_SQL

    return f"""
WITH {_TOK_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id),
dfreq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
rare AS (
    SELECT t.doc_id, t.token
    FROM tok t JOIN dfreq USING (token)
    WHERE df <= ceil(0.2 * (SELECT COUNT(*) FROM documents))
),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    FROM rare a
    JOIN rare b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size) >= 0.8
"""


@register("dedup_containment", oracle=_containment_oracle())
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-SUBSET duplicate pairs: |A∩B| / min(|A|,|B|) ≥ 0.8 over
    3-gram shingle sets. Catches the dup mode Jaccard structurally
    misses — one document contained inside a much longer one (quoted
    articles, boilerplate-wrapped bodies) scores ≈|A|/|B| Jaccard but
    ≈1.0 containment. Shares ``_rare_pair_counts`` (candidate self-join
    + df-cut + window-carried set sizes) with the Jaccard operator —
    the plan-shape audit there applies verbatim."""
    from wikidatabots_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8, max_df=0.2
    )


# ---------------------------------------------------------------------------
# dedup_exact_normalized — canonicalized content-hash dedup
# ---------------------------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[.,!?;:]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

_EXACT_NORM_ORACLE = f"""
SELECT md5({_NORM_SQL.format(col="text")}) AS text_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5({_NORM_SQL.format(col="text")})
"""


@register("dedup_exact_normalized", oracle=_EXACT_NORM_ORACLE)
def dedup_exact_normalized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization — lowercase, punctuation
    stripped, whitespace collapsed — the standard first pass of every
    web pipeline (it folds the trivial reflows and casing variants that
    raw-byte hashing misses, at exact-dedup cost rather than MinHash
    cost). Same plan as ``dedup_exact``: only (hash, id) shuffles, the
    text never leaves the scan stage."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[.,!?;:]", ""),
            r"\s+",
            " ",
        )
    )
    return (
        d.select(F.md5(norm).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_split_decontaminate — near-dup leakage across the train/eval split
# ---------------------------------------------------------------------------


def _decontaminate_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WINNOW_PAIRS_ORACLE

    return f"""
WITH pairs AS ({_WINNOW_PAIRS_ORACLE}),
splits AS (
    SELECT doc_id,
           CASE WHEN (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                   + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                   + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
                 < {SPLIT_TRAIN_END} THEN 'train' ELSE 'eval' END AS split
    FROM documents
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
)
SELECT e.u AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_train_links
FROM edges e
JOIN splits se ON se.doc_id = e.u AND se.split = 'eval'
JOIN splits st ON st.doc_id = e.v AND st.split = 'train'
GROUP BY e.u
"""


@register("corpus_split_decontaminate", oracle=_decontaminate_oracle())
def corpus_split_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage report: eval-split documents that are winnow
    near-duplicates of at least one TRAIN-split document, with the link
    count. Random splits leak — near-identical pages land on both sides
    and the eval metric silently becomes a memorization probe; this is
    the check (and drop-list) that closes the loop after
    ``corpus_split_assign``. (``text_contamination`` checks against an
    EXTERNAL benchmark; this checks the corpus against its own split.)

    Scale: the pair stage is the df-capped winnow self-join (audited at
    ``winnow_pairs``); the split column is a narrow hash map computed
    on both join probes; the final count groups eval-side ids only.
    """
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.plans.curation import split_bucket

    d = load_table(spark, sf_dir, "documents")
    bkt = split_bucket()
    splits = d.select(
        "doc_id",
        F.when(bkt < SPLIT_TRAIN_END, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )
    fps = winnow_fingerprints(d, k=3, window=4)
    pairs = winnow_pairs(fps, d, min_shared=3, max_df=0.2)
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    ev = splits.where(F.col("split") == "eval").select(
        F.col("doc_id").alias("u")
    )
    tr = splits.where(F.col("split") == "train").select(
        F.col("doc_id").alias("v")
    )
    return (
        edges.join(ev, "u")
        .join(tr, "v")
        .groupBy(F.col("u").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_train_links"))
    )


# ---------------------------------------------------------------------------
# corpus_cross_source_dups — who copies from whom (source-pair dup matrix)
# ---------------------------------------------------------------------------


def _cross_source_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WINNOW_PAIRS_ORACLE

    return f"""
WITH pairs AS ({_WINNOW_PAIRS_ORACLE}),
src AS (SELECT doc_id, source FROM documents),
labeled AS (
    SELECT least(sa.source, sb.source) AS src_a,
           greatest(sa.source, sb.source) AS src_b
    FROM pairs p
    JOIN src sa ON sa.doc_id = p.id_a
    JOIN src sb ON sb.doc_id = p.id_b
)
SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM labeled GROUP BY src_a, src_b
"""


@register("corpus_cross_source_dups", oracle=_cross_source_oracle())
def corpus_cross_source_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair near-duplication matrix: winnow near-dup pairs rolled
    up to unordered (source, source) cells — the forensics table that
    answers "which feeds mirror each other" (off-diagonal mass) versus
    "which feed re-posts itself" (diagonal mass), i.e. where dedup
    budget should go BEFORE the next crawl.

    Scale: the pair stage is the audited df-capped winnow self-join;
    the source attach is two joins against the (doc_id, source)
    projection (broadcast under AQE when the doc dimension fits, plain
    shuffle otherwise); output is |sources|² cells max.
    """
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    fps = winnow_fingerprints(d, k=3, window=4)
    pairs = winnow_pairs(fps, d, min_shared=3, max_df=0.2)
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    return labeled.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# ev_dau_wau — daily actives, weekly actives, stickiness
# ---------------------------------------------------------------------------

_DAU_WAU_ORACLE = """
WITH dau AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
    FROM events GROUP BY CAST(ts AS DATE)
),
wau AS (
    SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
           COUNT(DISTINCT user_id) AS wau
    FROM events GROUP BY date_trunc('week', CAST(ts AS DATE))
)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       CAST(d.dau AS DOUBLE) / w.wau AS stickiness
FROM dau d JOIN wau w ON w.week = date_trunc('week', d.day)
"""


@register("ev_dau_wau", oracle=_DAU_WAU_ORACLE)
def ev_dau_wau_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users joined to their ISO week's weekly actives,
    with the DAU/WAU stickiness ratio — the standard engagement
    topline. Exact distincts (not approx) so the ratio is
    engine-identical; both date_trunc('week') implementations are
    ISO-Monday so the week keys agree.

    Scale: two exact count-distinct aggregations (each one shuffle with
    partial distinct) over key spaces bounded by calendar time; the
    day↔week join is between two already-aggregated tiny frames. At
    billions of users swap count_distinct for the mergeable HLL
    (sketch_hll_by_type) — same plan, bounded error.
    """
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    wau = ev.groupBy(
        F.date_trunc("week", F.col("ts").cast("date")).alias("week")
    ).agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, F.date_trunc("week", F.col("day")) == F.col("week"))
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# text_novelty — fraction of a doc's shingles seen nowhere else
# ---------------------------------------------------------------------------


def _novelty_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _TOK_SQL

    return f"""
WITH {_TOK_SQL},
dfreq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
per_doc AS (
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS n_unique
    FROM tok t JOIN dfreq f USING (token)
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(p.n_unique, 0) AS BIGINT) AS n_unique,
       CASE WHEN p.n_shingles > 0
            THEN CAST(p.n_unique AS DOUBLE) / p.n_shingles END AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@register("text_novelty", oracle=_novelty_oracle())
def text_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-gram
    shingles that occur in NO other document (corpus df = 1). Low
    novelty = the document is assembled from corpus-common phrasing
    (template/boilerplate suspect — the complement of what
    ``text_lm_score`` measures: LM score rewards typical TRANSITIONS,
    novelty measures unshared CONTENT); high novelty = unique material
    worth keeping even if its LM score is mediocre.

    Scale: the same (doc, shingle-hash) backbone as the dedup family —
    distinct once, df via a window over the shingle key, one groupBy
    back to docs. Shingles travel as xxhash64 longs
    (``ngram_jaccard_pairs``' documented tradeoff).
    """
    from wikidatabots_spark.operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    tok = (
        shingles(d, 3, "doc_id", "text", distinct=False)
        .select("doc_id", F.xxhash64(F.col("token")).alias("tk"))
        .distinct()
    )
    with_df = tok.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tk"))
    )
    per_doc = with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_unique").cast("double") / F.col("n_shingles"),
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# text_gopher_rules — the Gopher quality-rule battery (Rae et al. 2021)
# ---------------------------------------------------------------------------

_GOPHER_STOPS_SQL = "['the','be','to','of','and','that','have','with']"

_GOPHER_ORACLE = f"""
WITH feat AS (
    SELECT doc_id,
           {{words}} AS w,
           string_split(text, chr(10)) AS ln,
           length(text) - length(replace(text, '#', '')) AS n_hash,
           (length(text) - length(replace(text, '...', ''))) // 3
               + length(text) - length(replace(text, '…', '')) AS n_ell
    FROM documents
),
feat2 AS (
    SELECT doc_id, n_hash, n_ell,
           len(w) AS nw,
           len(ln) AS nl,
           list_sum(list_transform(w, x -> length(x))) AS wchars,
           len(list_filter(ln, x -> starts_with(ltrim(x), '-')
                                 OR starts_with(ltrim(x), '*')
                                 OR starts_with(ltrim(x), '•'))) AS n_bullet,
           len(list_filter(ln, x -> ends_with(rtrim(x), '...')
                                 OR ends_with(rtrim(x), '…'))) AS n_ell_ln,
           len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
           len(list_filter({_GOPHER_STOPS_SQL}::VARCHAR[],
                           s -> list_contains(w, s))) AS n_stop
    FROM feat
)
SELECT doc_id,
       CAST(nw AS BIGINT) AS n_words,
       nw BETWEEN 50 AND 100000 AS r_word_count,
       (3 * nw <= COALESCE(wchars, 0) AND COALESCE(wchars, 0) <= 10 * nw)
           AS r_mean_word_len,
       10 * (n_hash + n_ell) < nw AS r_symbol_ratio,
       10 * n_bullet < 9 * nl AS r_bullet_lines,
       10 * n_ell_ln < 3 * nl AS r_ellipsis_lines,
       10 * n_alpha >= 8 * nw AS r_alpha_words,
       n_stop >= 2 AS r_stopwords,
       (nw BETWEEN 50 AND 100000)
           AND (3 * nw <= COALESCE(wchars, 0) AND COALESCE(wchars, 0) <= 10 * nw)
           AND (10 * (n_hash + n_ell) < nw)
           AND (10 * n_bullet < 9 * nl)
           AND (10 * n_ell_ln < 3 * nl)
           AND (10 * n_alpha >= 8 * nw)
           AND (n_stop >= 2) AS keep
FROM feat2
"""


def _gopher_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WORDS_SQL

    return _GOPHER_ORACLE.format(words=_WORDS_SQL)


@register("text_gopher_rules", oracle=_gopher_oracle())
def text_gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, Table A1) as
    one narrow scan: word-count bounds, mean-word-length bounds,
    symbol-to-word ratio, bullet-/ellipsis-line fractions, alphabetic-
    word fraction, and stop-word presence — each rule a boolean column
    plus the conjunctive ``keep`` flag (``operators.textstats.
    with_gopher_rules``).

    Every threshold comparison is INTEGER cross-multiplication
    (``10 * n_sym < n_words`` instead of ``n_sym / n_words < 0.1``), so
    the whole battery is engine-exact — no float ratio ever
    materializes. The word array and line array are materialized once
    and feed every rule (no re-split per rule; Catalyst does not CSE
    through lambda-bearing expression trees).

    Scale: a pure narrow map — zero shuffles, zero joins; the scan cost
    IS the query cost, and the rule columns are whole-stage-codegen
    expressions over the text column. On the synthetic corpus the
    50-word floor genuinely splits the data (word counts run 10-99) but
    the stop-word rule rejects every doc (measured: jargon text carries
    <2 distinct Gopher stop words), so ``keep`` is uniformly false
    there; tests/test_quality_rules.py plants documents that flip every
    rule BOTH ways, keep included — the gate is proven live, not
    assumed.

    No reference counterpart (north-star extension).
    """
    from wikidatabots_spark.operators.textstats import with_gopher_rules

    d = load_table(spark, sf_dir, "documents")
    return with_gopher_rules(d).select(
        "doc_id",
        "n_words",
        "r_word_count",
        "r_mean_word_len",
        "r_symbol_ratio",
        "r_bullet_lines",
        "r_ellipsis_lines",
        "r_alpha_words",
        "r_stopwords",
        "keep",
    )


# ---------------------------------------------------------------------------
# graph_kcore — 2-core membership of the near-dup graph (unrolled peel)
# ---------------------------------------------------------------------------


def _kcore_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WINNOW_PAIRS_ORACLE

    return f"""
WITH pairs AS ({_WINNOW_PAIRS_ORACLE}),
e AS (SELECT id_a AS u, id_b AS v FROM pairs),
deg0 AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
    ) GROUP BY node
),
s1 AS (SELECT node FROM deg0 WHERE d >= 2),
e1 AS (
    SELECT u, v FROM e
    WHERE u IN (SELECT node FROM s1) AND v IN (SELECT node FROM s1)
),
deg1 AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1
    ) GROUP BY node
)
SELECT d0.node AS doc_id,
       CAST(d0.d AS BIGINT) AS deg_initial,
       CAST(COALESCE(d1.d, 0) AS BIGINT) AS deg_pruned,
       COALESCE(d1.d, 0) >= 2 AS in_2core
FROM deg0 d0
LEFT JOIN deg1 d1 ON d1.node = d0.node
"""


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the winnowing near-dup graph by one unrolled peeling
    round: drop degree-<2 nodes, recompute degrees in the induced
    subgraph, flag what still has degree >= 2. The 2-core separates
    genuinely clustered duplication (template families, mirror sets —
    every node in a cycle survives) from incidental pairwise matches
    (chains and pendant vertices peel away) — the triage layer between
    ``graph_degree_stats`` (how much duplication) and
    ``graph_pagerank_dupgraph`` (which hubs drive it).

    A FIXED peel budget rather than peel-to-fixpoint, for the same
    reason k-means runs fixed Lloyd rounds: the computation is one
    static DAG both engines evaluate exactly; at scale the fixpoint
    variant is the same loop with the convergence probe riding the
    per-round action (``connected_components``' pattern).

    Scale: the edge list is df-capped (winnow_pairs' max_df fence) and
    localCheckpointed once — degree counts and the induced-subgraph
    semi-joins all read the materialized edges instead of replicating
    the fingerprint pipeline per leg (measured 5x plan dedup on
    ``graph_triangles``). Each peel round is one groupBy(node) count
    plus two broadcast-sized semi-joins on the survivor set.
    """
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    e = (
        winnow_pairs(
            winnow_fingerprints(d, k=3, window=4), d, min_shared=3, max_df=0.2
        )
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        # lazy: one final action computes the edge RDD once for all
        # four consumer legs; eager was an extra job per query run
        .localCheckpoint(eager=False)
    )

    def degrees(edges: DataFrame) -> DataFrame:
        nodes = edges.select(F.col("u").alias("node")).unionAll(
            edges.select(F.col("v").alias("node"))
        )
        return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("d"))

    deg0 = degrees(e)
    s1 = deg0.where(F.col("d") >= 2).select("node")
    e1 = e.join(
        s1.withColumnRenamed("node", "u"), "u", "left_semi"
    ).join(s1.withColumnRenamed("node", "v"), "v", "left_semi")
    deg1 = degrees(e1)
    return (
        deg0.select(F.col("node").alias("doc_id"), F.col("d").alias("deg_initial"))
        .join(
            deg1.select(F.col("node").alias("doc_id"), F.col("d").alias("__d1")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.col("deg_initial").cast("long").alias("deg_initial"),
            F.coalesce("__d1", F.lit(0)).cast("long").alias("deg_pruned"),
            (F.coalesce("__d1", F.lit(0)) >= 2).alias("in_2core"),
        )
    )


# ---------------------------------------------------------------------------
# sketch_hll_error — measured HLL accuracy vs exact distinct counts
# ---------------------------------------------------------------------------


def _hll_error_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _hll_by_type_oracle

    return f"""
WITH hll AS ({_hll_by_type_oracle()}),
exact AS (
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
)
SELECT e.event_type, e.exact_distinct, h.estimate,
       (h.estimate - e.exact_distinct) / e.exact_distinct AS rel_error
FROM exact e JOIN hll h ON h.event_type = e.event_type
"""


@register("sketch_hll_error", oracle=_hll_error_oracle())
def sketch_hll_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured HyperLogLog accuracy: the per-event-type sketch estimate
    (``sketch_hll_by_type``) joined against the exact distinct-user
    count, with the signed relative error — "measure, don't guess" for
    the sketch family, run AS a query so an estimator regression (a
    broken register rank, a bad alpha) fails the correctness gate with
    a number attached, the same pattern as ``knn_recall_eval`` for ANN.

    Engine-exact: the HLL estimate is already a fixed float tree over
    exact integers; the relative error adds one subtraction and one
    IEEE division of that double by an exact integer — reproducible
    bit-for-bit.

    Scale: the sketch leg shuffles at most groups x 64 register rows;
    the exact leg is the one real distinct aggregation (that is the
    point — this query is the calibration harness you run at small
    scale to trust the sketch at large scale where exact is
    unaffordable); the final join is groups-sized.
    """
    from wikidatabots_spark.operators.sketch import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(
        hll_registers(ev, "user_id", p=6, group_cols=("event_type",)),
        p=6,
        group_cols=("event_type",),
    ).select("event_type", "estimate")
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_distinct",
        "estimate",
        (
            (F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct")
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# ev_session_window — native Spark session_window sessionization
# ---------------------------------------------------------------------------

_SESSION_WINDOW_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
runs AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM runs
GROUP BY user_id, session_id
"""


@register("ev_session_window", oracle=_SESSION_WINDOW_ORACLE)
def ev_session_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` aggregation
    — the declarative form of ``ev_sessionize``'s lag+cumsum islands,
    and the exact construct whose streaming variant maintains per-key
    session state with watermark eviction (one groupBy instead of a
    window function chain: Catalyst merges overlapping [ts, ts+gap)
    intervals per key inside the aggregation).

    Semantics pin: ``session_window`` merges events whose [ts, ts+gap)
    windows overlap OR TOUCH — an event landing exactly ``gap`` after
    its predecessor still MERGES (verified by a planted boundary test,
    tests/test_quality_rules.py), so the island rule is ``diff > gap``,
    identical to ``ev_sessionize``'s lag rule. The returned
    ``session_end`` is last-event + gap (the window bound), not the
    last event itself — that is what the separate oracle pins.

    Scale: one shuffle on user_id, merge inside the aggregation — the
    same exchange count as the islands form but without the per-user
    sort-then-rescan (the window chain needs the full partition sorted
    twice: once for lag, once for the session agg).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# ev_rfm_segments — recency/frequency/monetary user segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
    SELECT user_id,
           MAX(ts) AS last_purchase,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS monetary
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
    GROUP BY user_id
),
scored AS (
    SELECT user_id, last_purchase, frequency, monetary,
           CAST(ntile(3) OVER (ORDER BY last_purchase DESC, user_id) AS INT)
               AS r_score,
           CAST(ntile(3) OVER (ORDER BY frequency DESC, user_id) AS INT)
               AS f_score,
           CAST(ntile(3) OVER (ORDER BY monetary DESC, user_id) AS INT)
               AS m_score
    FROM base
)
SELECT user_id, last_purchase, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
           || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


@register("ev_rfm_segments", oracle=_RFM_ORACLE)
def ev_rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasers: per-user recency (last purchase),
    frequency (purchase count), monetary (decimal-exact value sum),
    each cut into terciles by ``ntile(3)`` with a deterministic
    (metric, user_id) tie order — best tercile = 1 — and concatenated
    into the classic 27-cell segment code ("111" = champions).

    Engine-exact: the metrics are integer/decimal aggregations; ntile
    bucket-size semantics (equal buckets, remainder to the earliest)
    agree between Spark and DuckDB given the total tie-broken order —
    the same pin ``win_distribution`` established.

    Scale (VERDICT r5 next #1): the per-user table is NOT assumed
    one-partition-sized — each tercile is ``ntile_from_rank`` arithmetic
    over a ``bucketed_global_rank`` (buckets: purchase DATE for recency,
    the raw count for frequency, the integer dollar for monetary — all
    monotone in their metric), so every user-scale window is partitioned
    by its bucket and only the three tiny ledgers serialize.
    """
    from wikidatabots_spark.functions.scale import (
        bucketed_global_rank,
        ntile_from_rank,
        pushdown_fence,
    )

    ev = load_table(spark, sf_dir, "events")
    # fence: base feeds three ledger aggregates + the fact side + count
    base = pushdown_fence(
        ev.where(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("value").cast("decimal(14,4)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    n = base.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    # Buckets are coalesced to sentinels that sort where both engines
    # place NULLs under DESC (last): a NULL metric must land in the
    # MINIMUM bucket, not get dropped by the rank join's NULL-key
    # semantics (VERDICT r7 next #1 — bucketed_global_rank now raises
    # on NULL buckets instead of silently dropping the row).
    # `frequency` is a COUNT and cannot be NULL; the other two can
    # (all-NULL ts / all-NULL value within a user's purchases).
    ranked = bucketed_global_rank(
        base,
        bucket=F.coalesce(
            F.col("last_purchase").cast("date"),
            F.to_date(F.lit("0001-01-01")),
        ),
        order=[F.col("last_purchase").desc(), F.col("user_id").asc()],
        descending=True,
        rn="__r_rn",
    )
    ranked = bucketed_global_rank(
        ranked,
        bucket=F.col("frequency"),
        order=[F.col("frequency").desc(), F.col("user_id").asc()],
        descending=True,
        rn="__f_rn",
    )
    ranked = bucketed_global_rank(
        ranked,
        bucket=F.coalesce(
            F.floor(F.col("monetary")), F.lit(-(2**62)).cast("long")
        ),
        order=[F.col("monetary").desc(), F.col("user_id").asc()],
        descending=True,
        rn="__m_rn",
    )
    scored = ranked.crossJoin(F.broadcast(n)).withColumns(
        {
            "r_score": ntile_from_rank(F.col("__r_rn"), F.col("__n"), 3),
            "f_score": ntile_from_rank(F.col("__f_rn"), F.col("__n"), 3),
            "m_score": ntile_from_rank(F.col("__m_rn"), F.col("__n"), 3),
        }
    )
    return scored.select(
        "user_id",
        "last_purchase",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# agg_winsorized — per-source winsorized mean by exact-rank clipping
# ---------------------------------------------------------------------------

_WINSORIZE_ORACLE = """
WITH ranked AS (
    SELECT source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS cnt
    FROM documents
),
cuts AS (
    SELECT source,
           MAX(CASE WHEN rn = CEIL(0.1 * cnt) THEN n_chars END) AS lo,
           MAX(CASE WHEN rn = CEIL(0.9 * cnt) THEN n_chars END) AS hi
    FROM ranked GROUP BY source
)
SELECT r.source,
       CAST(MAX(r.cnt) AS BIGINT) AS n_docs,
       CAST(MAX(c.lo) AS BIGINT) AS p10_chars,
       CAST(MAX(c.hi) AS BIGINT) AS p90_chars,
       CAST(SUM(CASE WHEN r.n_chars < c.lo THEN c.lo
                     WHEN r.n_chars > c.hi THEN c.hi
                     ELSE r.n_chars END) AS DOUBLE) / MAX(r.cnt)
           AS winsorized_mean
FROM ranked r JOIN cuts c ON c.source = r.source
GROUP BY r.source
"""


@register("agg_winsorized", oracle=_WINSORIZE_ORACLE)
def agg_winsorized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized mean of document length: clip every value
    to the EXACT-rank p10/p90 elements (rank ceil(q*n) under a total
    (n_chars, doc_id) order — no percentile interpolation, the
    ``corpus_length_quantiles`` convention) and average the clipped
    values. The outlier-robust location estimate a mixture design reads
    when a handful of giant documents would otherwise drag the mean —
    and unlike a trimmed mean it keeps n constant, so per-source means
    stay comparable.

    Engine-exact: clip bounds and the clipped sum are integers; the
    single division is one IEEE op.

    Scale: ONE exchange on source — the rank window, the cut lookup,
    and the final aggregation all live inside the same hash partitioning
    (the cuts frame is |sources| rows, broadcast back).
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("cnt"),
    )
    cuts = ranked.groupBy("source").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.1) * F.col("cnt")), F.col("n_chars")
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.9) * F.col("cnt")), F.col("n_chars")
            )
        ).alias("hi"),
    )
    clipped = ranked.join(F.broadcast(cuts), "source").select(
        "source",
        "cnt",
        "lo",
        "hi",
        F.when(F.col("n_chars") < F.col("lo"), F.col("lo"))
        .when(F.col("n_chars") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("n_chars"))
        .alias("clipped"),
    )
    return clipped.groupBy("source").agg(
        F.max("cnt").cast("long").alias("n_docs"),
        F.max("lo").cast("long").alias("p10_chars"),
        F.max("hi").cast("long").alias("p90_chars"),
        (
            F.sum("clipped").cast("double") / F.max("cnt")
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# graph_component_sizes — dedup-group size histogram (savings estimate)
# ---------------------------------------------------------------------------


def _component_sizes_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _COMPONENTS_ORACLE

    return f"""
WITH cc AS ({_COMPONENTS_ORACLE}),
sizes AS (
    SELECT component, COUNT(*) AS group_size FROM cc GROUP BY component
)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(group_size - 1) AS BIGINT) AS removable_docs
FROM sizes GROUP BY group_size
"""


@register("graph_component_sizes", oracle=_component_sizes_oracle())
def graph_component_sizes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size histogram of the near-dup components with the dedup-savings
    column: a group of size s lets keep-one-canonical remove s-1 docs,
    so ``sum(removable_docs)`` across rows IS the corpus-level saving a
    dedup run will realize — the number a curation owner reads before
    paying for the full pipeline. Completes the dup-graph family:
    degrees (how much), 2-core (how clustered), pagerank (which hubs),
    triangles (how cliquish), sizes (what deleting buys).

    Scale: the component table is id->label (no text); the histogram is
    two tiny groupBys with map-side partials on top of the
    ``connected_components`` fixed point the curation pipelines already
    compute — output is O(max group size) rows.
    """
    from wikidatabots_spark.operators.dedup import connected_components
    from wikidatabots_spark.plans.extensions import dedup_winnow_q

    cc = connected_components(dedup_winnow_q(spark, sf_dir))
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return sizes.groupBy("group_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.col("group_size") - 1).cast("long").alias("removable_docs"),
    ).select(
        F.col("group_size").cast("long").alias("group_size"),
        "n_groups",
        "removable_docs",
    )


# ---------------------------------------------------------------------------
# ev_markov_transitions — event-type transition matrix (per-user bigrams)
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events WHERE user_id IS NOT NULL
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
),
tot AS (
    SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
    FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n, o.row_total,
       (t.n * 1000000) // o.row_total AS p_ppm
FROM trans t JOIN tot o ON o.from_type = t.from_type
"""


@register("ev_markov_transitions", oracle=_MARKOV_ORACLE)
def ev_markov_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each (from_type, to_type) the transition count and
    its row-normalized probability in integer PARTS-PER-MILLION
    (``n * 1e6 div row_total`` — exact integer division, no float
    ratio), the behavioral fingerprint session-analytics and
    next-event-prediction features start from.

    Scale: ONE user_id exchange for the lead window; the transition
    count aggregates with map-side partials down to |types|^2 rows, and
    the row totals derive from THAT aggregate (types-squared rows, not
    a second pass over events).
    """
    from wikidatabots_spark.functions.scale import pushdown_fence

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.where(F.col("user_id").isNotNull()).select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    # fence the aggregated matrix: both the output and the row-total
    # branch read it — unfenced, the static plan re-derived the whole
    # window+groupBy subtree (a second events pass) for the totals
    trans = pushdown_fence(
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return trans.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        "row_total",
        F.expr("n * 1000000 div row_total").alias("p_ppm"),
    )


# ---------------------------------------------------------------------------
# sketch_kmv_overlap — KMV set-intersection estimates vs exact overlap
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_SPACE = float(1 << 48)


def _kmv_overlap_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _hex_int_sql

    h48 = _hex_int_sql("hx", 1, 12)
    full = (_KMV_K - 1) * _KMV_SPACE  # exactly representable double
    return f"""
WITH du AS (
    SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL
),
hashed AS (
    SELECT DISTINCT event_type, {h48} AS h FROM (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM du
    )
),
sk AS (
    SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ) WHERE rn <= {_KMV_K}
),
types AS (SELECT DISTINCT event_type FROM sk),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM types a JOIN types b ON a.event_type < b.event_type
),
legs AS (
    SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, s.h, 0, 1
    FROM pairs p JOIN sk s ON s.event_type = p.type_b
),
m AS (
    SELECT type_a, type_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
    FROM legs GROUP BY type_a, type_b, h
),
kept AS (
    SELECT * FROM (
        SELECT type_a, type_b, h, in_a, in_b,
               row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        FROM m
    ) WHERE rn <= {_KMV_K}
),
per AS (
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           MAX(h) AS kth,
           CAST(SUM(in_a * in_b) AS BIGINT) AS rho
    FROM kept GROUP BY type_a, type_b
),
cnts AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM du GROUP BY event_type),
xinter AS (
    SELECT p.type_a, p.type_b, CAST(COUNT(*) AS BIGINT) AS xi
    FROM pairs p
    JOIN du a ON a.event_type = p.type_a
    JOIN du b ON b.event_type = p.type_b AND b.user_id = a.user_id
    GROUP BY p.type_a, p.type_b
)
SELECT per.type_a, per.type_b, per.n_kept, per.rho,
       ca.c + cb.c - COALESCE(x.xi, 0) AS exact_union,
       CASE WHEN per.n_kept < {_KMV_K} THEN CAST(per.n_kept AS DOUBLE)
            ELSE {full!r} / per.kth END AS est_union,
       COALESCE(x.xi, 0) AS exact_inter,
       CASE WHEN per.n_kept < {_KMV_K} THEN CAST(per.rho AS DOUBLE)
            ELSE (CAST(per.rho AS DOUBLE) / {_KMV_K})
                 * ({full!r} / per.kth) END AS est_inter
FROM per
JOIN cnts ca ON ca.event_type = per.type_a
JOIN cnts cb ON cb.event_type = per.type_b
LEFT JOIN xinter x ON x.type_a = per.type_a AND x.type_b = per.type_b
"""


@register("sketch_kmv_overlap", oracle=_kmv_overlap_oracle())
def sketch_kmv_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from K-minimum-values sketches
    (Beyer et al., SIGMOD 2007): for every event-type pair, merge the
    two k=32 sketches (k smallest of the union), estimate |A∪B| as
    (k-1)/θ from the kth hash and |A∩B| as the both-members fraction
    times the union estimate — then join the EXACT distinct-user
    overlap next to it, the measured-approximation pattern. This is the
    capability HLL structurally lacks (HLLs union losslessly but
    cannot intersect); KMV is the sketch a "how many users do these
    two products share" dashboard ships.

    When the true union has fewer than k distinct values the sketch IS
    the set and both estimates switch to exact counts (the CASE
    branch), so small groups are not artificially noisy.

    Scale: the sketch build is one distinct-shuffle + a per-group top-k
    window; ALL pair math runs on groups x k rows (5 types -> 160
    sketch rows here), independent of corpus size. The exact legs are
    the calibration cost, affordable at test scale by design.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.sketch import kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    k = _KMV_K
    # fences: the distinct-user table feeds the exact counts and BOTH
    # exact-intersection legs, and the sketch feeds the type list and
    # both merge legs — unfenced, each branch replayed the distinct
    # shuffle from the scan (audited 24 shuffles / 12 scans)
    du = pushdown_fence(
        ev.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    sk = pushdown_fence(
        kmv_sketch(ev, "user_id", k=k, group_cols=("event_type",)).select(
            "event_type", "h"
        )
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    la = pairs.join(
        sk.select(F.col("event_type").alias("type_a"), "h"), "type_a"
    ).select("type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    lb = pairs.join(
        sk.select(F.col("event_type").alias("type_b"), "h"), "type_b"
    ).select("type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    m = (
        la.unionByName(lb)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    kept = m.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    per = kept.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("rho"),
    )
    cnts = du.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ua = du.select(F.col("event_type").alias("type_a"), "user_id")
    ub = du.select(F.col("event_type").alias("type_b"), "user_id")
    xinter = (
        pairs.join(ua, "type_a")
        .join(ub, ["type_b", "user_id"])
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("xi"))
    )
    full = F.lit((k - 1) * _KMV_SPACE)
    est_union = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(full / F.col("kth"))
    est_inter = F.when(
        F.col("n_kept") < k, F.col("rho").cast("double")
    ).otherwise(
        (F.col("rho").cast("double") / F.lit(k)) * (full / F.col("kth"))
    )
    return (
        per.join(cnts.withColumnRenamed("event_type", "type_a").withColumnRenamed("c", "ca"), "type_a")
        .join(cnts.withColumnRenamed("event_type", "type_b").withColumnRenamed("c", "cb"), "type_b")
        .join(xinter, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_kept",
            "rho",
            (F.col("ca") + F.col("cb") - F.coalesce("xi", F.lit(0))).alias(
                "exact_union"
            ),
            est_union.alias("est_union"),
            F.coalesce("xi", F.lit(0)).alias("exact_inter"),
            est_inter.alias("est_inter"),
        )
    )


# ---------------------------------------------------------------------------
# text_rake_keyphrases — RAKE keyword extraction (degree/frequency scores)
# ---------------------------------------------------------------------------

_RAKE_TOPK = 20


def _rake_normalized_sql() -> str:
    from wikidatabots_spark.operators.textstats import STOPWORDS

    # normalized word string with stopwords replaced by the phrase
    # delimiter: each replace re-supplies the boundary spaces, so
    # adjacent stopwords ("of the") still split (sequential order is
    # part of the contract and mirrored in the Spark expression)
    expr = "' ' || array_to_string({words}, ' ') || ' '"
    for s in STOPWORDS:
        expr = f"replace({expr}, ' {s} ', ' | ')"
    return expr


def _rake_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WORDS_SQL

    norm = _rake_normalized_sql().format(words=_WORDS_SQL)
    return f"""
WITH phr AS (
    SELECT doc_id, trim(p) AS phrase FROM (
        SELECT doc_id, unnest(string_split({norm}, '|')) AS p
        FROM documents
    ) WHERE trim(p) != ''
),
inst AS (
    SELECT doc_id, phrase, string_split(phrase, ' ') AS pw FROM phr
),
wstat AS (
    SELECT word,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS degree
    FROM (
        SELECT unnest(pw) AS word, len(pw) AS plen FROM inst
    ) GROUP BY word
),
wscore AS (
    SELECT word, (degree * 1000000) // freq AS score_ppm FROM wstat
),
pdist AS (
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM phr GROUP BY phrase
),
pscore AS (
    SELECT p.phrase, p.n_occurrences,
           CAST(SUM(w.score_ppm) AS BIGINT) AS score_ppm
    FROM pdist p, unnest(string_split(p.phrase, ' ')) AS t(word)
    JOIN wscore w ON w.word = t.word
    GROUP BY p.phrase, p.n_occurrences
)
SELECT phrase, n_occurrences, score_ppm FROM (
    SELECT phrase, n_occurrences, score_ppm,
           row_number() OVER (ORDER BY score_ppm DESC, phrase) AS rn
    FROM pscore
) WHERE rn <= {_RAKE_TOPK}
"""


@register("text_rake_keyphrases", oracle=_rake_oracle())
def text_rake_keyphrases_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs; each member word scores
    degree/frequency (degree = total length of phrases it appears in —
    rewarding words that travel in long collocations); a phrase scores
    the sum of its member words, in integer PARTS-PER-MILLION
    (``degree * 1e6 div freq``) so the whole ranking is engine-exact.
    Output: corpus top-{k} phrases by (score DESC, phrase ASC) with
    occurrence counts — the keyword table a corpus browser or topic
    labeler starts from.

    Phrase splitting is a chain of boundary-space-preserving string
    replaces (' of ' -> ' | '), sequential per stopword — adjacent
    stopwords still split because each replacement re-supplies the
    boundary space; the chain order is part of the contract and
    identical in both engines.

    Scale: one narrow scan explodes to phrase instances; word stats and
    phrase stats are two groupBys with map-side partials; the word-
    score join is vocabulary-sized (broadcast); only the final global
    top-k window is unpartitioned — over the DISTINCT-phrase table,
    orders of magnitude smaller than the corpus.
    """
    from wikidatabots_spark.operators.textstats import STOPWORDS, words

    d = load_table(spark, sf_dir, "documents")
    norm = F.concat(
        F.lit(" "), F.concat_ws(" ", words(F.col("text"))), F.lit(" ")
    )
    for s in STOPWORDS:
        norm = F.replace(norm, F.lit(f" {s} "), F.lit(" | "))
    phr = (
        d.select("doc_id", F.explode(F.split(norm, r"\|")).alias("p"))
        .select("doc_id", F.trim(F.col("p")).alias("phrase"))
        .where(F.col("phrase") != "")
    )
    inst = phr.select("phrase", F.split("phrase", " ").alias("pw"))
    wstat = (
        inst.select(F.explode("pw").alias("word"), F.size("pw").alias("plen"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    wscore = wstat.select(
        "word", F.expr("degree * 1000000 div freq").alias("score_ppm")
    )
    pdist = phr.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    pscore = (
        pdist.select(
            "phrase", "n_occurrences", F.explode(F.split("phrase", " ")).alias("word")
        )
        .join(F.broadcast(wscore), "word")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("score_ppm").cast("long").alias("score_ppm"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject: each task keeps k
    # rows, no phrase-scale global window — VERDICT r5 next #1 class)
    return (
        pscore.orderBy(F.col("score_ppm").desc(), F.col("phrase"))
        .limit(_RAKE_TOPK)
        .select("phrase", "n_occurrences", "score_ppm")
    )


# ---------------------------------------------------------------------------
# corpus_mix_temperature — sqrt-frequency (T5-style) mixture resampling
# ---------------------------------------------------------------------------


def _mix_temperature_oracle() -> str:
    from wikidatabots_spark.plans.curation import _MIX_BUCKET_SQL

    return f"""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS wt
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(SUM(wt) AS BIGINT) AS w
    FROM counts
),
rates AS (
    SELECT source, (wt * t * 65536) // (w * cnt) AS k FROM counts, tot
),
docs AS (
    SELECT doc_id, source, {_MIX_BUCKET_SQL} AS b FROM documents
),
expanded AS (
    SELECT d.doc_id, d.source,
           r.k // 65536 + CASE WHEN d.b < r.k % 65536 THEN 1 ELSE 0 END AS n
    FROM docs d JOIN rates r USING (source)
)
SELECT doc_id, source, CAST(UNNEST(generate_series(1, n)) AS BIGINT) AS epoch
FROM expanded
WHERE n >= 1
"""


@register("corpus_mix_temperature", oracle=_mix_temperature_oracle())
def corpus_mix_temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture: target shares proportional to
    sqrt(natural count) per source — the T5/mT5 multilingual balancing
    rule, with the weight table DERIVED IN-PLAN from the data (unlike
    ``corpus_mix_epochs``' hand-set weights): big sources are tempered,
    small ones boosted, no human-curated weight list to maintain as
    sources churn. Same integer 65536ths machinery; the oracle
    reproduces every copy count exactly (isqrt is engine-exact below
    2^52; see ``operators.mixture.mix_temperature``)."""
    from wikidatabots_spark.operators.mixture import mix_temperature

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mix_temperature(d, key="doc_id", strata="source").select(
        "doc_id", "source", "epoch"
    )


# ---------------------------------------------------------------------------
# ev_attribution_linear — equal-credit multi-touch attribution
# ---------------------------------------------------------------------------

_ATTRIB_ORACLE = """
WITH v AS (
    SELECT event_id AS view_id, user_id, ts AS vts
    FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
),
p AS (
    SELECT event_id AS purchase_id, user_id, ts AS pts
    FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
m AS (
    SELECT p.purchase_id, v.view_id
    FROM p JOIN v ON v.user_id = p.user_id
               AND v.vts >= p.pts - INTERVAL 24 HOUR
               AND v.vts < p.pts
),
c AS (SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY purchase_id)
SELECT m.purchase_id, m.view_id, c.n AS n_touches,
       1000000 // c.n AS credit_ppm
FROM m JOIN c ON c.purchase_id = m.purchase_id
"""


@register("ev_attribution_linear", oracle=_ATTRIB_ORACLE)
def ev_attribution_linear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution: every view in the
    24 hours before a purchase shares the conversion credit equally —
    ``credit_ppm = 1e6 div n_touches`` per (purchase, view) pair, the
    marketing-analytics table last-touch models throw away. Interval
    semantics are closed-open [pts-24h, pts): the purchase itself and
    anything at the exact boundary never self-attributes.

    Scale: the view-to-window match is the repo's bucketed
    ``range_join`` — an equi-join on (user_id, time-bucket) with the
    exact interval filter after, never a nested-loop inequality join —
    and the touch count is a window over the matched pairs, clustered
    by the purchase key the join already produced.
    """
    from wikidatabots_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(
        (F.col("event_type") == "view") & F.col("user_id").isNotNull()
    ).select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts"))
    purchases = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("start"),
        F.col("ts").alias("end"),
    )
    m = range_join(
        views,
        purchases,
        on=["user_id"],
        left_ts="vts",
        right_start="start",
        right_end="end",
        bucket_width="1 day",
    ).select("purchase_id", "view_id")
    w = Window.partitionBy("purchase_id")
    return (
        m.withColumn("n_touches", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("credit_ppm", F.expr("1000000 div n_touches"))
        .select("purchase_id", "view_id", "n_touches", "credit_ppm")
    )


# ---------------------------------------------------------------------------
# dedup_components_incremental — day-2 component maintenance == full CC
# ---------------------------------------------------------------------------


def _cc_incremental_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _MINHASH_ANCHORS_SQL,
        _MINHASH_STACKED_SQL,
        _TOK_SQL,
    )

    # The anchor cap makes the FULL-corpus pair set differ from the
    # incremental union (global-rank anchors vs per-side caps) — but
    # both schemes connect every band bucket into one blob through the
    # bucket minimum, so the TRANSITIVE CLOSURE is identical and the
    # component labels (min id per component) hash-match exactly. The
    # equality theorem is about components, not individual pairs.
    return f"""
WITH RECURSIVE
{_TOK_SQL},
{_MINHASH_STACKED_SQL},
{_MINHASH_ANCHORS_SQL},
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM anchors a
    JOIN stacked b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.node
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


@register("dedup_components_incremental", oracle=_cc_incremental_oracle())
def dedup_components_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 dedup-graph maintenance, PROVEN equal to full recompute:
    the even-id half plays the existing corpus (persisted MinHash band
    index + its component labels), the odd-id half the new delivery.
    The incremental computation touches only (a) the new batch's band
    signatures probed against the index (new-vs-corpus candidate
    pairs), (b) the new batch's internal pairs, and (c) STAR EDGES
    (component -> member) compressing yesterday's components — then
    one min-label CC over that union. The oracle is the FULL-corpus
    recursive-CTE components over all LSH pairs: hash-equality IS the
    theorem that incremental maintenance loses nothing (band keys are
    per-document, so corpus growth never changes old signatures — the
    property that makes the index append-only; contrast winnowing's
    corpus-relative df cut, which would NOT compose this way).

    Scale: yesterday's corpus is touched only through the band index
    (equi-join probe) and the labels (|corpus| id pairs, no text);
    pair-generation cost is batch-sized, and the CC runs on star-
    compressed components (diameter ~2) plus batch edges.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        cap_band_buckets,
        connected_components,
        minhash_band_table,
    )

    d = load_table(spark, sf_dir, "documents")
    even = d.where(F.col("doc_id") % 2 == 0)
    odd = d.where(F.col("doc_id") % 2 == 1)
    # "persisted" state: band index (bucket-capped, the bounded form a
    # production index is stored in) + component labels of the corpus.
    # Per-side caps here vs the oracle's global-rank anchors: different
    # pair SETS on a >cap bucket, identical transitive closure — every
    # scheme keeps each bucket connected through its minimum member, so
    # the min-label component output hash-matches the full recompute.
    # ONE fenced band table per parity: the even table feeds the probe
    # index AND yesterday's pair/label derivation, the odd table feeds
    # the cross probe and both sides of the batch self-join — unfenced,
    # every leg replays the signature stage (r5 perf audit: the caps'
    # extra legs cost ~15% here before fencing).
    stacked_even = pushdown_fence(minhash_band_table(even))
    bands_even = cap_band_buckets(stacked_even).select(
        F.col("doc_id").alias("id_e"), "band_idx", "band_hash"
    )
    labels_even = connected_components(band_pairs(stacked_even))
    bands_odd = pushdown_fence(minhash_band_table(odd)).select(
        F.col("doc_id").alias("id_o"), "band_idx", "band_hash"
    )
    # no per-leg .distinct(): the final edges.distinct() subsumes them,
    # and each inner distinct was a full extra exchange (audited)
    probe_cross = (
        bands_odd.join(bands_even, ["band_idx", "band_hash"])
        .select(
            F.least("id_o", "id_e").alias("id_a"),
            F.greatest("id_o", "id_e").alias("id_b"),
        )
    )
    bo2 = bands_odd.select(
        F.col("id_o").alias("id_o2"), "band_idx", "band_hash"
    )
    probe_new = (
        # anchor rule within the batch: capped left side, bounded pairs
        cap_band_buckets(bands_odd, id_col="id_o")
        .join(bo2, ["band_idx", "band_hash"])
        .where(F.col("id_o") < F.col("id_o2"))
        .select(F.col("id_o").alias("id_a"), F.col("id_o2").alias("id_b"))
    )
    stars = labels_even.where(F.col("node") != F.col("component")).select(
        F.col("component").alias("id_a"), F.col("node").alias("id_b")
    )
    edges = probe_cross.unionByName(probe_new).unionByName(stars).distinct()
    return connected_components(edges)


# ---------------------------------------------------------------------------
# dedup_components_delete — deletion maintenance == full post-delete CC
# ---------------------------------------------------------------------------


def _cc_delete_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _MINHASH_ANCHORS_SQL,
        _MINHASH_STACKED_SQL,
        _TOK_SQL,
    )

    # The oracle IS the full recompute on the post-deletion corpus: the
    # only change vs the standard CC program is the corpus filter.
    assert _TOK_SQL.count("FROM documents") == 1, "tok CTE shape moved"
    tok_after_delete = _TOK_SQL.replace(
        "FROM documents", "FROM documents WHERE doc_id % 10 != 3"
    )
    return f"""
WITH RECURSIVE
{tok_after_delete},
{_MINHASH_STACKED_SQL},
{_MINHASH_ANCHORS_SQL},
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM anchors a
    JOIN stacked b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.node
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


@register("dedup_components_delete", oracle=_cc_delete_oracle())
def dedup_components_delete_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 DELETION maintenance (VERDICT r5 next #4), PROVEN equal to
    full recompute: the corpus holds a persisted FULL band index and its
    component labels; a takedown batch (every doc_id ≡ 3 mod 10, ~10%)
    is tombstoned out of the index (``minhash_band_index_delete``) and
    ONLY the components touching a deleted document are re-computed
    over their surviving members (``components_after_delete``) —
    deletion can split a component at a bridge node, so affected labels
    cannot be patched, but untouched components keep their rows
    verbatim. The oracle is the full-corpus CC program with the
    deletion filter applied at the scan: hash-equality is the theorem
    that bounded re-componenting loses nothing.

    Scale: the tombstone is one anti-join; the blast radius is the
    affected components only (a bucket never spans components, so
    survivors outside them are untouchable by construction); the CC
    iterations run over the affected slice's pairs, not the corpus.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        components_after_delete,
        connected_components,
        minhash_band_table,
    )

    d = load_table(spark, sf_dir, "documents")
    # "persisted" state: the FULL band table (deletion support needs
    # uncapped storage — the cap is applied at join time inside
    # band_pairs) + yesterday's component labels. Fenced: the index
    # feeds the tombstone anti-join and the affected-slice semi-join;
    # the labels feed three membership legs.
    stacked = pushdown_fence(minhash_band_table(d))
    labels = pushdown_fence(connected_components(band_pairs(stacked)))
    deletes = d.where(F.col("doc_id") % 10 == 3).select("doc_id")
    return components_after_delete(stacked, labels, deletes)


def _delete_twins_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _EMB_DELETE_ORACLE

    return f"""
SELECT 'cc' AS leg, CAST(node AS BIGINT) AS a, CAST(component AS BIGINT) AS b
FROM ({_cc_delete_oracle()})
UNION ALL
SELECT 'emb' AS leg, CAST(id_a AS BIGINT) AS a, CAST(id_b AS BIGINT) AS b
FROM ({_EMB_DELETE_ORACLE})
"""


@register("dedup_delete_twins", oracle=_delete_twins_oracle())
def dedup_delete_twins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-window slot carrying BOTH day-2 deletion theorems (the
    merged-slot pattern, seating the SRP embedding deletion twin in the
    driver window — VERDICT r8 next #5 / r9 next #6 — without unseating
    the text-side theorem): the MinHash/CC bounded re-component after a
    takedown batch (``dedup_components_delete``, (node, component)) and
    the SRP bucket-local pair repair after the embedding-side takedown
    (``dedup_embedding_delete``, (id_a, id_b)), union-tagged by ``leg``
    with both value pairs normalized to BIGINT. Each leg's oracle is
    its full-recompute-on-survivors program, so the merged hash check
    pins both bounded-deletion ≡ full-recompute theorems at once. The
    individual queries stay registered for the local gate."""
    from wikidatabots_spark.plans.extensions import dedup_embedding_delete_q

    cc = dedup_components_delete_q(spark, sf_dir).select(
        F.lit("cc").alias("leg"),
        F.col("node").cast("bigint").alias("a"),
        F.col("component").cast("bigint").alias("b"),
    )
    emb = dedup_embedding_delete_q(spark, sf_dir).select(
        F.lit("emb").alias("leg"),
        F.col("id_a").cast("bigint").alias("a"),
        F.col("id_b").cast("bigint").alias("b"),
    )
    return cc.unionByName(emb)


@register("dedup_graph_stream", oracle=_cc_incremental_oracle())
def dedup_graph_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING dedup-graph maintenance sink, driver-hash-checked
    ON THE REAL ENGINE WIRING (VERDICT r11 next #2): documents are
    staged as three one-batch files and driven through an actual
    ``readStream → writeStream.foreachBatch`` query
    (``run_staged_foreach_batch`` — engine-assigned batch ids, real
    trigger boundaries, a streaming checkpoint), exercising the fenced
    delta-label writes, partition-pruned index probes, and the mid-run
    retention compactions of ALL graph stores (``compact_every=2``:
    labels, band index, tombstones); the served ``latest_labels`` view
    is returned. The oracle is the FULL-corpus recursive-CTE min-label
    CC: hash-equality is the multi-batch induction of
    ``dedup_components_incremental``'s theorem — valid under ANY batch
    assignment, which is what makes the engine's own batching
    hash-checkable.

    Scale: identical shape to the streaming sink in production — per
    batch, batch-sized signatures + a pruned probe + CC over touched
    components; the query's only extra cost is that it runs three such
    batches at the gate SF. A fresh temp state dir per invocation
    keeps repeated runs (engine + oracle sides) independent; the
    returned frame is decoupled from the root (``_decoupled``, eager
    localCheckpoint), so the PREVIOUS invocation's dir is removed
    eagerly and the last one at exit without any consume-order
    assumption (``_fresh_stream_root``, ADVICE r11/r12/r13)."""
    import os

    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
        run_staged_foreach_batch,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = _fresh_stream_root("wdb_graph_stream_")
    index_path = os.path.join(root, "idx")
    labels_path = os.path.join(root, "lbl")
    sink = dedup_graph_maintenance(index_path, labels_path, compact_every=2)
    run_staged_foreach_batch(
        [d.where(F.col("doc_id") % 3 == i) for i in range(3)], sink, root
    )
    return _decoupled(latest_labels(spark, labels_path))


# ---------------------------------------------------------------------------
# ingest_pipeline_stream — the full streaming ingest path, ONE seated query
# ---------------------------------------------------------------------------


def _ingest_stream_oracle() -> str:
    """The batch composition of the full ingest path: decontamination
    flags (the text_contamination program) → admitted corpus (anti-join)
    → full-corpus min-label CC over the admitted docs (the
    dedup_components program re-based on `clean`) → DSIR model trained
    on the admitted corpus and scores for its raw docs (the dsir_sc
    program re-based on `clean`). Three UNION ALL legs, tagged."""
    from wikidatabots_spark.plans.extensions import (
        _MINHASH_ANCHORS_SQL,
        _MINHASH_STACKED_SQL,
        _TOK_SQL,
    )
    from wikidatabots_spark.plans.llmdata import _DSIR_SC_CTES

    assert _TOK_SQL.count("FROM documents") == 1, "tok CTE moved"
    assert _DSIR_SC_CTES.count("FROM documents") == 1, "dsir CTE moved"
    tok_clean = _TOK_SQL.replace("FROM documents", "FROM clean")
    dsir_clean = _DSIR_SC_CTES.replace("FROM documents", "FROM clean")
    return f"""
WITH RECURSIVE
w5 AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x != '') AS wl
    FROM documents
),
g5 AS (
    SELECT doc_id, md5(gr) AS gram_hash FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(wl) - 4, 0)),
                   i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                        || ' ' || wl[i+3] || ' ' || wl[i+4]))) AS gr
        FROM w5)
),
flagged AS (
    SELECT t.doc_id AS train_id,
           CAST(COUNT(DISTINCT t.gram_hash) AS BIGINT) AS n_collided_grams
    FROM (SELECT * FROM g5 WHERE doc_id % 7 <> 0) t
    JOIN (SELECT * FROM g5 WHERE doc_id % 7 = 0) b USING (gram_hash)
    GROUP BY t.doc_id
),
clean AS (
    SELECT doc_id, source, text FROM documents
    WHERE doc_id % 7 <> 0
      AND doc_id NOT IN (SELECT train_id FROM flagged)
),
{tok_clean},
{_MINHASH_STACKED_SQL},
{_MINHASH_ANCHORS_SQL},
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM anchors a
    JOIN stacked b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
cc_edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
cc_nodes AS (SELECT DISTINCT u AS node FROM cc_edges),
reach(node, r) AS (
    SELECT node, node FROM cc_nodes
    UNION
    SELECT e.u, reach.r FROM reach JOIN cc_edges e ON e.v = reach.node
),
labels AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
{dsir_clean}
SELECT 'flagged' AS leg, train_id AS doc_id, n_collided_grams AS val
FROM flagged
UNION ALL
SELECT 'component' AS leg, node AS doc_id, CAST(component AS BIGINT) AS val
FROM labels
UNION ALL
SELECT 'dsir' AS leg, doc_id, imp_ppm AS val FROM dsir_sc
"""


@register("ingest_pipeline_stream", oracle=_ingest_stream_oracle())
def ingest_pipeline_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL streaming ingest path composed into one seated query
    (VERDICT r10 next #4): the same three staged micro-batches flow
    through (1) the in-flight decontamination gate, (2) dedup-graph
    maintenance over the ADMITTED docs only, and (3) streaming DSIR
    model maintenance over the admitted docs — three independent state
    stores fed by one stream — and the query returns the three served
    artifacts union-tagged: the flagged set, the current component
    labels, and the admitted raw docs scored by the STREAMED model via
    the literal-map streaming scorer. The oracle is the batch
    composition (contamination sweep → anti-join → full-corpus CC →
    batch-trained DSIR scores), so hash equality proves the pieces
    compose without cross-contaminating state: the graph never saw a
    flagged doc, the model was trained on exactly the admitted corpus,
    and the streamed model is bit-identical to batch retraining.

    Scale: each batch pays the gate's broadcast gram probe, the
    batch-sized signature + pruned index probe + contracted CC, and a
    ≤1024-row additive model partial — all batch-sized; the serving
    reads are merge-on-read over deltas. The only driver-side transfer
    is the ≤1024-row model collect for the literal-map scorer.

    Since r12 the three sinks are driven as ONE composed foreachBatch
    through a REAL ``readStream → writeStream.foreachBatch`` query
    (VERDICT r11 next #2) — engine batch ids, real trigger boundaries,
    a streaming checkpoint — and every state store self-bounds via its
    retention fold (``compact_every=2``: labels + band index +
    tombstones, DSIR partials, flagged verdicts), so the driver hash
    additionally pins fold-under-the-engine. The returned frame is
    decoupled from the state root (``_decoupled``), so the previous
    invocation's root is removed eagerly, the last one at exit, with
    no consume-order assumption (``_fresh_stream_root``, ADVICE
    r11/r12/r13)."""
    import os

    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.textstats import words
    from wikidatabots_spark.plans.llmdata import _DSIR_TARGET
    from wikidatabots_spark.streaming.docs_stream import (
        decontamination_gate,
        dedup_graph_maintenance,
        dsir_model_maintenance,
        dsir_score_stream,
        flagged_documents,
        latest_labels,
        merged_dsir_model,
        run_staged_foreach_batch,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    root = _fresh_stream_root("wdb_ingest_stream_")
    flagged_path = os.path.join(root, "flagged")
    index_path = os.path.join(root, "idx")
    labels_path = os.path.join(root, "lbl")
    partials_path = os.path.join(root, "dsir")
    from concurrent.futures import ThreadPoolExecutor

    gate_pool = ThreadPoolExecutor(max_workers=1)
    gate = decontamination_gate(
        bench, flagged_path, n=5, compact_every=2, pool=gate_pool
    )
    graph = dedup_graph_maintenance(index_path, labels_path, compact_every=2)
    dsir = dsir_model_maintenance(partials_path, compact_every=2)

    def ingest_sink(batch: DataFrame, batch_id: int) -> None:
        b = pushdown_fence(batch)
        # the gate returns its batch verdicts as an eager checkpoint and
        # appends them to the store on gate_pool, overlapped with the
        # admission + graph work below (guide §2.6); the future resolves
        # before this sink returns so the engine's batch commit never
        # precedes the verdict write (replay fence)
        flags, gate_fut = gate(b, batch_id)
        # admit only documents the gate did not flag (a doc's verdict
        # depends only on its own text, so the returned batch verdicts
        # are exactly the store partition this batch would re-read).
        # EAGER checkpoint (not the lazy fence): both downstream sinks
        # consume it from concurrent threads below, and a lazy fence
        # would race two first-actions into double-computing it.
        admitted = b.join(
            flags.select(F.col("train_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        # the graph and DSIR stores are independent consumers of the
        # admitted batch — overlap the short DSIR partial append with
        # the long graph-maintenance path (guide §2.6)
        with ThreadPoolExecutor(max_workers=1) as pool:
            dsir_fut = pool.submit(dsir, admitted, batch_id)
            graph(admitted.select("doc_id", "text"), batch_id)
            dsir_fut.result()
        gate_fut.result()

    run_staged_foreach_batch(
        [train.where(F.col("doc_id") % 3 == i) for i in range(3)],
        ingest_sink,
        root,
    )
    flags = flagged_documents(spark, flagged_path).select(
        F.lit("flagged").alias("leg"),
        F.col("train_id").alias("doc_id"),
        F.col("n_collided_grams").cast("long").alias("val"),
    )
    comps = latest_labels(spark, labels_path).select(
        F.lit("component").alias("leg"),
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("val"),
    )
    # the streamed model (bit-identical to batch retraining on the
    # admitted corpus) feeds the literal-map streaming scorer
    model = {
        int(r.bucket): int(r.lr_ppm)
        for r in merged_dsir_model(spark, partials_path).collect()
    }
    admitted_all = train.join(
        flagged_documents(spark, flagged_path).select(
            F.col("train_id").alias("doc_id")
        ),
        "doc_id",
        "left_anti",
    )
    scores = dsir_score_stream(
        admitted_all.where(
            (F.col("source") != F.lit(_DSIR_TARGET))
            & (F.size(words(F.col("text"))) > 0)
        ),
        model,
    ).select(
        F.lit("dsir").alias("leg"),
        "doc_id",
        F.col("imp_ppm").cast("long").alias("val"),
    )
    return _decoupled(flags.unionByName(comps).unionByName(scores))


# ---------------------------------------------------------------------------
# sketch_cms_error — measured count-min accuracy on the exact top words
# ---------------------------------------------------------------------------


def _cms_error_oracle(depth: int = 4, width: int = 256, topk: int = 10) -> str:
    def hash8(col_expr: str) -> str:
        md5e = f"md5(CAST(j AS VARCHAR) || ':' || {col_expr})"
        return " + ".join(
            f"(strpos('0123456789abcdef', substr({md5e}, {k + 1}, 1)) - 1)"
            f" * {16 ** (7 - k)}"
            for k in range(8)
        )

    return f"""
WITH words AS (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x != '')) AS w
    FROM documents
),
exact AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM words GROUP BY w),
topw AS (
    SELECT w, exact_cnt FROM (
        SELECT w, exact_cnt,
               row_number() OVER (ORDER BY exact_cnt DESC, w) AS rn
        FROM exact
    ) WHERE rn <= {topk}
),
cms AS (
    SELECT row_idx, col_idx, COUNT(*) AS cnt FROM (
        SELECT j AS row_idx, ({hash8('words.w')}) % {width} AS col_idx
        FROM words, generate_series(0, {depth - 1}) t(j)
    ) GROUP BY row_idx, col_idx
),
probes AS (
    SELECT t.w, t.exact_cnt, j AS row_idx,
           ({hash8('t.w')}) % {width} AS col_idx
    FROM topw t, generate_series(0, {depth - 1}) t2(j)
),
est AS (
    SELECT p.w, p.exact_cnt,
           CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
    FROM probes p
    LEFT JOIN cms c ON c.row_idx = p.row_idx AND c.col_idx = p.col_idx
    GROUP BY p.w, p.exact_cnt
)
SELECT w AS word, exact_cnt, est, est - exact_cnt AS overestimate
FROM est
"""


@register("sketch_cms_error", oracle=_cms_error_oracle())
def sketch_cms_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured count-min accuracy: the sketch's point estimates for the
    EXACT top-10 words, with the signed overestimate — which is always
    >= 0, the CMS one-sided guarantee, here carried as data the driver
    hash-checks rather than a property the docstring asserts. Closes
    the measured-approximation set: every sketch (HLL, KMV, CMS) and
    every ANN/estimator structure now ships a calibration query.

    Scale: the word stream is read twice (exact counts + sketch build)
    — both narrow explodes feeding bounded aggregations (the sketch's
    shuffle is capped at depth x width rows per map task); the probe
    side is topk x depth rows against the broadcast sketch.
    """
    from wikidatabots_spark.operators.dedup import ensure_parallelism
    from wikidatabots_spark.operators.sketch import (
        cms_estimate,
        count_min_sketch,
    )

    d = load_table(spark, sf_dir, "documents")
    words = ensure_parallelism(d.select("doc_id", "text"), "doc_id").select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
        ).alias("w")
    )
    exact = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    from wikidatabots_spark.functions.scale import pushdown_fence

    # fence the (10-row) top-words frame: both the probe side and the
    # final join read it — unfenced, the exact word count replayed per
    # branch (audited 3 scans)
    # top-10 via orderBy+limit (TakeOrderedAndProject — no
    # vocabulary-scale global window; VERDICT r5 next #1 class)
    topw = pushdown_fence(
        exact.orderBy(F.col("exact_cnt").desc(), F.col("w")).limit(10)
    )
    sketch = count_min_sketch(words, "w", depth=4, width=256)
    est = cms_estimate(sketch, topw.select("w"), "w", depth=4, width=256)
    return (
        topw.join(est, topw["w"] == est["token"])
        .select(
            F.col("w").alias("word"),
            "exact_cnt",
            F.col("est").cast("long").alias("est"),
            (F.col("est") - F.col("exact_cnt")).cast("long").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# win_range_numeric — RANGE frame over a numeric (non-time) ordering
# ---------------------------------------------------------------------------

_RANGE_NUMERIC_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS price_cents,
       CAST(COUNT(*) OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
           RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING
       ) AS BIGINT) AS n_similar,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
           RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING
       ) AS DOUBLE) AS band_value
FROM orders
WHERE o_orderkey < 2000
"""


@register("win_range_numeric", oracle=_RANGE_NUMERIC_ORACLE)
def win_range_numeric_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over a NUMERIC ordering — for each order, the
    count and decimal-exact value sum of same-priority orders within
    +/-1000 of its price. The value-neighborhood frame family:
    ``rowsBetween`` counts rows, ``ev_rolling_1h``'s range frame walks
    event time, and this one walks a measure — the price-band density
    feature outlier detection and elasticity analyses start from.

    Engine-exact: the ordering key is integer CENTS (decimal*100, an
    exact conversion — PySpark's rangeBetween takes integer bounds, and
    integer frame membership removes any float-boundary risk), and the
    in-frame sum goes through DECIMAL.

    Scale: one shuffle on the partition key; the range frame is
    evaluated with the running two-pointer pass over each sorted
    partition — same cost class as a rows frame.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    o = o.withColumn("price_cents", cents)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("price_cents")
        .rangeBetween(-100000, 100000)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "price_cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n_similar"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .over(w)
        .cast("double")
        .alias("band_value"),
    )


# ---------------------------------------------------------------------------
# ev_user_growth — daily new users and the cumulative adoption curve
# ---------------------------------------------------------------------------

_USER_GROWTH_ORACLE = """
WITH first_seen AS (
    SELECT user_id, MIN(ts) AS first_ts FROM events
    WHERE user_id IS NOT NULL GROUP BY user_id
),
daily AS (
    SELECT CAST(date_trunc('day', first_ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS new_users
    FROM first_seen GROUP BY date_trunc('day', first_ts)
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumulative_users
FROM daily
"""


@register("ev_user_growth", oracle=_USER_GROWTH_ORACLE)
def ev_user_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adoption curve: per-day NEW users (first-ever event) and the
    running cumulative total — growth reporting's first chart, and the
    first-seen aggregation underneath it is the same shape cohort
    retention starts from (``ev_retention``).

    Scale: one user_id shuffle for first-seen, one day rollup; the
    cumulative window runs over the |days| aggregate only (a global
    window over an already-tiny frame — the post-agg compromise).
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    daily = first_seen.groupBy(
        F.date_trunc("day", "first_ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# ev_interarrival_stats — inter-event-time distribution per event type
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH seq AS (
    SELECT event_type,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id)) AS BIGINT) AS gap_us
    FROM events WHERE user_id IS NOT NULL
),
gaps AS (SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL),
ranked AS (
    SELECT event_type, gap_us,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY gap_us) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM gaps
)
SELECT event_type,
       CAST(MAX(cnt) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) // MAX(cnt) AS BIGINT) AS mean_gap_us,
       CAST(MAX(CASE WHEN rn = CEIL(0.5 * cnt) THEN gap_us END) AS BIGINT)
           AS p50_gap_us,
       CAST(MAX(CASE WHEN rn = CEIL(0.9 * cnt) THEN gap_us END) AS BIGINT)
           AS p90_gap_us
FROM ranked GROUP BY event_type
"""


@register("ev_interarrival_stats", oracle=_INTERARRIVAL_ORACLE)
def ev_interarrival_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: each user's
    consecutive same-type gaps in integer MICROSECONDS, rolled up to
    count, truncated-integer mean, and exact-rank p50/p90 (the
    ``corpus_length_quantiles`` convention — no interpolation). The
    latency-profile table capacity planning and anomaly thresholds
    (``ev_hourly_anomaly``) read; heavy-tailed gaps here are why the
    robust quantiles matter more than the mean.

    Scale: ONE (user_id, event_type)-keyed exchange for the lag window;
    the rank window re-keys by event_type only — |types| partitions over
    the gap rows, with the final rollup riding the same clustering.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.where(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("cnt"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("cnt").cast("long").alias("n_gaps"),
        F.expr("sum(gap_us) div max(cnt)").cast("long").alias("mean_gap_us"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("cnt")), F.col("gap_us"))
        ).cast("long").alias("p50_gap_us"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.9) * F.col("cnt")), F.col("gap_us"))
        ).cast("long").alias("p90_gap_us"),
    )


# ---------------------------------------------------------------------------
# emb_cluster_quality — per-cluster inertia / radius profile
# ---------------------------------------------------------------------------


def _cluster_quality_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _kmeans_oracle

    return f"""
WITH asg AS ({_kmeans_oracle()}),
q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round((CAST(x AS DOUBLE) + 1.0) * 100) AS INT)) AS v
    FROM embeddings
),
cdims AS (
    SELECT a.cluster, g.i,
           CAST(SUM(q.v[g.i]) // COUNT(*) AS INT) AS m
    FROM asg a JOIN q USING (vec_id), generate_series(1, 64) g(i)
    GROUP BY a.cluster, g.i
),
cents AS (SELECT cluster, list(m ORDER BY i) AS cv FROM cdims GROUP BY cluster),
dists AS (
    SELECT a.vec_id, a.cluster,
           list_sum(list_transform(generate_series(1, 64),
               i -> CAST((q.v[i] - c.cv[i]) AS BIGINT)
                    * CAST((q.v[i] - c.cv[i]) AS BIGINT))) AS d2
    FROM asg a
    JOIN q ON q.vec_id = a.vec_id
    JOIN cents c ON c.cluster = a.cluster
)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(d2) AS BIGINT) AS inertia,
       CAST(MAX(d2) AS BIGINT) AS max_dist2,
       CAST(SUM(d2) // COUNT(*) AS BIGINT) AS mean_dist2
FROM dists GROUP BY cluster
"""


@register("emb_cluster_quality", oracle=_cluster_quality_oracle())
def emb_cluster_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality profile for the integer k-means used by IVF and
    SemDeDup: per cluster, member count, integer INERTIA (sum of
    squared distances to the POST-assignment centroid — the k-means
    objective itself), the squared radius (max), and the truncated-mean
    spread. The evaluation table that says whether k is adequate before
    trusting the cluster fence (a fat max_dist2 means the fence leaks
    neighbors — exactly the recall loss ``knn_recall_eval`` then
    measures downstream).

    Engine-exact: distances are integer sums of squares against
    integer-mean centroids; mean is ``sum div count``.

    Scale: assignment is the literal-centroid narrow map; the refit
    centroid table is k x dim aggregated rows; the distance pass is a
    second narrow map and the profile aggregates with map-side
    partials to k rows.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.clustering import (
        kmeans_int_assign,
        nearest_cluster_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = pushdown_fence(
        emb.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(
                    (x.cast("double") + F.lit(1.0)) * F.lit(100.0)
                ).cast("int"),
            ).alias("v"),
        )
    )
    asg = kmeans_int_assign(
        qv, k=4, rounds=2, id_col="vec_id", vec_col="v"
    ).select("vec_id", "cluster")
    joined = pushdown_fence(qv.join(asg, "vec_id"))
    cents = (
        joined.select("cluster", F.posexplode("v").alias("i", "val"))
        .groupBy("cluster", "i")
        .agg(F.expr("sum(val) div count(*)").cast("int").alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s.getField("m"),
            ).alias("cv")
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dists = joined.join(F.broadcast(cents), "cluster").select(
        "cluster", d2.alias("d2")
    )
    return dists.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("d2").cast("long").alias("inertia"),
        F.max("d2").cast("long").alias("max_dist2"),
        F.expr("sum(d2) div count(*)").cast("long").alias("mean_dist2"),
    )


# ---------------------------------------------------------------------------
# dq_private_release — geometric-mechanism count release (seeded noise)
# ---------------------------------------------------------------------------


def _private_release_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _hex_int_sql

    x = _hex_int_sql("hx", 1, 12)  # 48-bit hash slice
    return f"""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS true_count
    FROM documents GROUP BY source
),
noise AS (
    SELECT source, true_count, x,
           CAST(CASE WHEN x = 0 THEN 47
                ELSE 47 - length(bin(CAST(x AS BIGINT))) + 1 END AS BIGINT)
               AS mag,
           CASE WHEN x % 2 = 0 THEN 1 ELSE -1 END AS sgn
    FROM (
        SELECT source, true_count, {x} AS x FROM (
            SELECT source, true_count,
                   md5('noise:v1:' || source) AS hx
            FROM counts
        )
    )
)
SELECT source, true_count,
       sgn * mag AS noise,
       GREATEST(true_count + sgn * mag, 0) AS released_count
FROM noise
"""


@register("dq_private_release", oracle=_private_release_oracle())
def dq_private_release_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noised count release in the shape of the GEOMETRIC MECHANISM
    (the discrete Laplace used for differentially-private counts):
    per-source document counts, each perturbed by a two-sided
    geometric(1/2) noise draw — magnitude = leading-zero-bit count of a
    48-bit md5 slice (P(k) = 2^-(k+1), exactly the geometric
    distribution; the same bit-counting primitive as the HLL rank),
    sign from the slice's low bit, released value clamped at zero.
    Sensitivity is 1 by construction (every document belongs to exactly
    one source, so one document changes one count by one).

    **The noise here is SEEDED (md5 of a fixed tag + the source), not
    secret — a public deterministic seed provides NO privacy.** That is
    deliberate and documented, same policy as the classifier stand-in:
    the MECHANISM (sensitivity clamp, geometric sampling via bit
    counting, post-clamp) is the production plan shape and is what the
    oracle pins bit-for-bit; a real deployment swaps the seed for
    fresh secret randomness drawn per release, changing no plan
    structure. Testability of the pipeline around a DP release is
    exactly why deployments keep a seeded mode.

    Scale: one |strata|-row aggregation; the noise is a narrow
    expression over that aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    x = F.conv(
        F.substring(F.md5(F.concat(F.lit("noise:v1:"), F.col("source"))), 1, 12),
        16,
        10,
    ).cast("long")
    noised = counts.withColumn("x", x).withColumns(
        {
            "mag": F.when(F.col("x") == 0, F.lit(47))
            .otherwise(F.lit(47) - F.length(F.bin(F.col("x"))) + 1)
            .cast("long"),
            "sgn": F.when(F.col("x") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)),
        }
    )
    return noised.select(
        "source",
        "true_count",
        (F.col("sgn") * F.col("mag")).alias("noise"),
        F.greatest(
            F.col("true_count") + F.col("sgn") * F.col("mag"), F.lit(0)
        ).alias("released_count"),
    )


# ---------------------------------------------------------------------------
# mm_frame_dedup — cross-media shared-footage detection at FRAME level
# ---------------------------------------------------------------------------

_MM_FRAME_DEDUP_ORACLE = """
WITH b AS (
    SELECT doc_id AS media_id, text,
           length(text) AS n,
           greatest(length(text) // 4, 1) AS chunk
    FROM documents
),
frames AS (
    SELECT media_id,
           CAST(s // (2 * chunk) AS BIGINT) AS frame_idx,
           substr(text, CAST(s AS BIGINT) + 1, CAST(chunk AS BIGINT)) AS ftext
    FROM (
        SELECT media_id, text, chunk,
               unnest(generate_series(0, n - 1, 2 * chunk)) AS s
        FROM b
    )
),
h AS (
    SELECT media_id * 16 + frame_idx AS fid, media_id,
           sha256(ftext) AS hx
    FROM frames
),
ints AS (
    SELECT fid, media_id,
           list_transform(generate_series(0, 15),
               i -> (strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1)) AS bs
    FROM h
),
ph AS (
    SELECT fid, media_id,
           CAST(list_sum(list_transform(generate_series(0, 15),
               i -> CASE WHEN bs[i + 1] >= CAST(list_sum(bs) AS BIGINT) // 16
                         THEN CAST(1 AS BIGINT) << i
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
    FROM ints
),
sliced AS (
    SELECT fid, media_id, phash, j AS slice_idx,
           (phash >> (4 * j)) & 15 AS slice_val
    FROM ph, generate_series(0, 3) t(j)
),
cand AS (
    SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
           a.fid AS fid_a, b.fid AS fid_b,
           a.phash AS fa, b.phash AS fb
    FROM sliced a
    JOIN sliced b ON a.slice_idx = b.slice_idx
                 AND a.slice_val = b.slice_val
                 AND a.media_id < b.media_id
)
SELECT media_a, media_b,
       CAST(COUNT(*) AS BIGINT) AS n_frame_matches,
       CAST(MIN(bit_count(xor(fa, fb))) AS INT) AS best_hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= 1
GROUP BY media_a, media_b
"""


@register("mm_frame_dedup", oracle=_MM_FRAME_DEDUP_ORACLE)
def mm_frame_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-footage detection at FRAME granularity: sample frames
    from every media blob, perceptual-hash each frame, and surface
    media pairs sharing at least one near-identical frame (Hamming
    <= 1 over the 16-bit aHash, pigeonhole-LSH candidates) with the
    match count and best distance. This catches PARTIAL-content
    duplication — a clip embedded in a longer video, a thumbnail
    reused across items — which whole-media hashing (``mm_phash_near``)
    structurally misses; together they are the two granularities a
    video dedup system runs.

    Composition of audited pieces: the mapInPandas frame fan-out
    (``mm_sample_frames``' deterministic fake chunker), the
    feature->phash bijection, and the generic ``hamming_near_pairs``
    machinery, with frame ids packed as media_id*16+frame_idx (the
    chunker emits <= 3 frames per blob). The oracle rebuilds every
    frame byte via substring arithmetic and reproduces the whole chain.

    Scale: blobs never shuffle (frames project to 16-bit hashes before
    any exchange); candidates are slice-bucketed, never all-pairs; the
    16-bit space is the container-stub width — production uses 64-bit
    phashes, same plan (``mm_phash_near``'s documented caveat).
    """
    from wikidatabots_spark.operators.dedup import hamming_near_pairs
    from wikidatabots_spark.operators.multimodal import (
        extract_features,
        perceptual_hash,
        sample_frames,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("data"),
    )
    frames = sample_frames(d, every=2)
    ph = perceptual_hash(
        extract_features(frames, data_col="frame")
    ).select(
        (F.col("media_id") * 16 + F.col("frame_idx")).alias("fid"),
        "phash",
    )
    pairs = hamming_near_pairs(
        ph, id_col="fid", fp_col="phash", n_slices=4, slice_bits=4,
        max_hamming=1,
    )
    return (
        pairs.select(
            F.expr("id_a div 16").alias("media_a"),
            F.expr("id_b div 16").alias("media_b"),
            "hamming",
        )
        .where(F.col("media_a") < F.col("media_b"))
        .groupBy("media_a", "media_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frame_matches"),
            F.min("hamming").cast("int").alias("best_hamming"),
        )
    )


# ---------------------------------------------------------------------------
# ev_weekly_profile — day-of-week x hour activity heat table
# ---------------------------------------------------------------------------

_WEEKLY_PROFILE_ORACLE = """
SELECT CAST((CAST(epoch_us(ts) // 86400000000 AS BIGINT) + 4) % 7 AS INT)
           AS dow,
       CAST((epoch_us(ts) % 86400000000) // 3600000000 AS INT) AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


@register("ev_weekly_profile", oracle=_WEEKLY_PROFILE_ORACLE)
def ev_weekly_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour activity profile per event type — the weekly
    seasonality heat table capacity planning and anomaly baselines
    read (a Tuesday-9am spike is only a spike relative to Tuesdays at
    9).

    Cross-engine pitfall, solved by construction: the engines NUMBER
    WEEKDAYS DIFFERENTLY (Spark's ``dayofweek`` is 1=Sunday, DuckDB's
    ``dayofweek`` is 0=Sunday, ISO variants differ again), so the day
    index is computed from epoch arithmetic instead —
    ``(epoch_days + 4) % 7`` (epoch day 0 = Thursday; 0=Monday in the
    output) — integer math both engines evaluate identically, immune
    to any builtin's convention.

    Scale: one groupBy with map-side partials to at most
    7 x 24 x |types| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.expr(
                "CAST((unix_micros(ts) div 86400000000 + 4) % 7 AS INT)"
            ).alias("dow"),
            F.expr(
                "CAST((unix_micros(ts) % 86400000000) div 3600000000 AS INT)"
            ).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# corpus_source_drift — per-source vocabulary shift vs the corpus
# ---------------------------------------------------------------------------


def _source_drift_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WORDS_SQL

    return f"""
WITH words AS (
    SELECT source, unnest({_WORDS_SQL}) AS w FROM documents
),
sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
       FROM words GROUP BY source, w),
wtot AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
stot AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s FROM sw GROUP BY source),
tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS t FROM wtot),
terms AS (
    SELECT sw.source,
           abs(sw.c_sw * tot.t - wtot.c_w * stot.t_s) AS num,
           stot.t_s, tot.t
    FROM sw
    JOIN wtot USING (w)
    JOIN stot USING (source)
    CROSS JOIN tot
),
missing AS (
    -- words absent from a source still contribute |0 - p_w| mass:
    -- total absent mass = t - sum of c_w over PRESENT words, per source
    SELECT s.source,
           (t.t - CAST(COALESCE(SUM(wt.c_w), 0) AS BIGINT)) * s.t_s AS num,
           s.t_s, t.t
    FROM stot s CROSS JOIN tot t
    LEFT JOIN sw ON sw.source = s.source
    LEFT JOIN wtot wt ON wt.w = sw.w
    GROUP BY s.source, s.t_s, t.t
)
SELECT source,
       CAST(SUM(num) * 500000 // (MAX(t_s) * MAX(t)) AS BIGINT) AS tv_ppm
FROM (
    SELECT source, num, t_s, t FROM terms
    UNION ALL
    SELECT source, num, t_s, t FROM missing
)
GROUP BY source
"""


@register("corpus_source_drift", oracle=_source_drift_oracle())
def corpus_source_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary DRIFT: the total-variation distance between
    each source's word distribution and the whole corpus', in integer
    parts-per-million — the domain-shift score that flags a source
    whose language stopped looking like the mixture it feeds (the
    monitoring signal behind 'retrain the mixture weights?'), without
    any float probability ever materializing: every |p_s - p| term is
    the integer |c_sw * T - c_w * T_s| over the common denominator,
    summed exactly and divided once (words ABSENT from a source
    contribute their full corpus mass — the missing-mass term a naive
    join-only implementation silently drops).

    Precision note: the cross products fit BIGINT through ~10^9-token
    corpora per source; past that the sums go through DECIMAL — same
    ladder as the moment aggregates (``agg_corr_covar``).

    Scale: one word-count shuffle keyed (source, word); the
    distribution join is vocabulary-sized per source; output is
    |sources| rows.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.textstats import words

    d = load_table(spark, sf_dir, "documents")
    sw = pushdown_fence(
        d.select("source", F.explode(words(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_sw"))
    )
    wtot = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    stot = sw.groupBy("source").agg(F.sum("c_sw").cast("long").alias("t_s"))
    tot = wtot.agg(F.sum("c_w").cast("long").alias("t"))
    terms = (
        sw.join(wtot, "w")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.abs(
                F.col("c_sw") * F.col("t") - F.col("c_w") * F.col("t_s")
            ).alias("num"),
            "t_s",
            "t",
        )
    )
    present_mass = (
        sw.join(wtot, "w")
        .groupBy("source")
        .agg(F.sum("c_w").cast("long").alias("present_cw"))
    )
    missing = (
        stot.join(present_mass, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            (
                (F.col("t") - F.coalesce("present_cw", F.lit(0)))
                * F.col("t_s")
            ).alias("num"),
            "t_s",
            "t",
        )
    )
    return (
        terms.unionByName(missing)
        .groupBy("source")
        .agg(
            F.expr("CAST(sum(num) * 500000 div (max(t_s) * max(t)) AS BIGINT)")
            .alias("tv_ppm")
        )
    )


# ---------------------------------------------------------------------------
# ev_value_pareto — revenue concentration (the 80/20 table)
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(14,4))) * 10000 AS BIGINT) AS v
    FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
    GROUP BY user_id
),
ranked AS (
    SELECT v,
           row_number() OVER (ORDER BY v DESC, user_id) AS rn,
           COUNT(*) OVER () AS n,
           CAST(SUM(v) OVER () AS BIGINT) AS total
    FROM per_user
)
SELECT CAST(d AS INT) AS top_decile,
       CAST(MAX(n) AS BIGINT) AS n_users,
       CAST(COALESCE(SUM(CASE WHEN rn <= (n * d) // 10 THEN v END), 0)
            AS BIGINT) AS decile_value_e4,
       CAST(COALESCE(SUM(CASE WHEN rn <= (n * d) // 10 THEN v END), 0)
            * 1000000 // MAX(total) AS BIGINT) AS share_ppm
FROM ranked, (SELECT unnest([1, 2, 5]) AS d)
GROUP BY d
"""


@register("ev_value_pareto", oracle=_PARETO_ORACLE)
def ev_value_pareto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the purchase-value share held by the top
    10/20/50% of purchasers (exact rank under (value DESC, user_id);
    value travels as DECIMAL*1e4 integers so shares are integer ppm) —
    the whale-dependence table that contextualizes every per-user
    average, and the 80/20 check a monetization review opens with.

    Scale (VERDICT r5 next #1): one user_id aggregation; the rank rides
    ``bucketed_global_rank`` partitioned by the 2^16-centi-unit value
    bucket (monotone in v), and count/total are ONE broadcast 1-row
    aggregate — no user-scale window serializes; the decile evaluation
    is |cuts| rows.
    """
    from wikidatabots_spark.functions.scale import (
        bucketed_global_rank,
        pushdown_fence,
    )

    ev = load_table(spark, sf_dir, "events")
    # fence: per_user feeds the bucket ledger, the fact side, and the
    # grand-total aggregate
    per_user = pushdown_fence(
        ev.where(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            (F.sum(F.col("value").cast("decimal(14,4)")) * 10000)
            .cast("long")
            .alias("v")
        )
    )
    tot = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("total"),
    )
    ranked = (
        bucketed_global_rank(
            per_user,
            # NULL v (a user whose purchase values are all NULL) must
            # rank last under DESC, same as the oracle's NULLS LAST —
            # sentinel bucket, not a dropped row
            bucket=F.coalesce(F.expr("v div 65536"), F.lit(-(2**62))),
            order=[F.col("v").desc(), F.col("user_id").asc()],
            descending=True,
            rn="rn",
        )
        .crossJoin(F.broadcast(tot))
        .select("v", "rn", "n", "total")
    )
    cuts = F.explode(F.array(*[F.lit(d) for d in (1, 2, 5)])).alias("top_decile")
    return (
        ranked.select("v", "rn", "n", "total", cuts)
        .groupBy("top_decile")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("rn") <= F.expr("(n * top_decile) div 10"),
                        F.col("v"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("decile_value_e4"),
            F.expr(
                "CAST(COALESCE(SUM(CASE WHEN rn <= (n * top_decile) div 10 "
                "THEN v END), 0) * 1000000 div max(total) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .select(
            F.col("top_decile").cast("int").alias("top_decile"),
            "n_users",
            "decile_value_e4",
            "share_ppm",
        )
    )


# ---------------------------------------------------------------------------
# sketch_bloom_fpr — measured Bloom-filter false-positive calibration
# ---------------------------------------------------------------------------

_BLOOM_M = 4096
_BLOOM_K = 3


def _bloom_fpr_oracle(m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    md5e = "md5(CAST(j AS VARCHAR) || ':' || key)"
    hash8 = " + ".join(
        f"(strpos('0123456789abcdef', substr({md5e}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
WITH fset AS (
    SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key
    FROM orders WHERE o_orderpriority = '1-URGENT'
),
probe AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM customer),
bits AS (
    SELECT DISTINCT ({hash8}) % {m} AS bit_idx
    FROM fset, generate_series(0, {k - 1}) t(j)
),
ppos AS (
    SELECT key, ({hash8}) % {m} AS pos
    FROM probe, generate_series(0, {k - 1}) t(j)
),
phit AS (
    SELECT p.key,
           SUM(CASE WHEN b.bit_idx IS NOT NULL THEN 1 ELSE 0 END) AS hits
    FROM ppos p LEFT JOIN bits b ON b.bit_idx = p.pos
    GROUP BY p.key
),
flags AS (
    SELECT pr.key,
           CASE WHEN f.key IS NOT NULL THEN 1 ELSE 0 END AS is_member,
           CASE WHEN ph.hits = {k} THEN 1 ELSE 0 END AS bloom_pos
    FROM probe pr
    LEFT JOIN fset f USING (key)
    JOIN phit ph ON ph.key = pr.key
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(1 - is_member) AS BIGINT) AS n_nonmembers,
           CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_pos,
           CAST(SUM(CASE WHEN bloom_pos = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN bloom_pos = 0 AND is_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM flags
)
SELECT a.*,
       CAST(CASE WHEN a.n_nonmembers > 0
                 THEN (1000000 * a.n_false_pos) // a.n_nonmembers
                 ELSE 0 END AS BIGINT) AS fpr_ppm,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set
FROM agg a
"""


@register("sketch_bloom_fpr", oracle=_bloom_fpr_oracle())
def sketch_bloom_fpr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured Bloom-filter accuracy, completing the calibration set
    (HLL / KMV / CMS / MinHash / IVF / PQ all carry one): a 4096-bit
    k=3 bloom of the urgent-order custkeys probed with EVERY customer
    key; output is the confusion row — members, non-members, bloom
    positives, false positives (and the structurally-zero false
    negatives, carried as DATA so the one-sided guarantee is
    hash-verified like CMS's overestimate bound), plus measured
    fpr_ppm and the set-bit count. At sf0.01 the filter runs at ~0.5
    load where false positives are plentiful — the regime a capacity
    choice actually needs numbers for.

    Scale: the bloom is ≤m rows broadcast k times into the probe side
    (operators.sketch.with_bloom_might_contain) — the probe NEVER
    shuffles, the exact-membership leg is a key-only left join, and
    both small frames are fenced so orders is scanned once.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.sketch import (
        bloom_bits,
        with_bloom_might_contain,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    fset = pushdown_fence(
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").cast("string").alias("key"))
        .distinct()
    )
    probe = cust.select(F.col("c_custkey").cast("string").alias("key")).distinct()
    bits = pushdown_fence(bloom_bits(fset, "key", m=_BLOOM_M, k=_BLOOM_K))
    flagged = with_bloom_might_contain(
        probe, "key", bits, m=_BLOOM_M, k=_BLOOM_K
    )
    joined = flagged.join(fset.withColumn("__m", F.lit(1)), "key", "left")
    member = F.col("__m").isNotNull()
    pos = F.col("might_contain")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum(member.cast("int")).cast("bigint").alias("n_members"),
        F.sum((~member).cast("int")).cast("bigint").alias("n_nonmembers"),
        F.sum(pos.cast("int")).cast("bigint").alias("n_bloom_pos"),
        F.sum((pos & ~member).cast("int")).cast("bigint").alias("n_false_pos"),
        F.sum((~pos & member).cast("int")).cast("bigint").alias("n_false_neg"),
    ).withColumn(
        "fpr_ppm",
        F.when(
            F.col("n_nonmembers") > 0,
            F.expr("(1000000 * n_false_pos) DIV n_nonmembers"),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    return agg.crossJoin(F.broadcast(n_bits))


# ---------------------------------------------------------------------------
# sketch_quantile_hist — mergeable log2-histogram quantiles, measured error
# ---------------------------------------------------------------------------

_QHIST_QS = (50, 90, 99)

_QHIST_ORACLE = f"""
WITH vals AS (
    SELECT CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) AS v_cents,
           event_id
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
      AND CAST(CAST(value AS DECIMAL(14,4)) * 100 AS BIGINT) > 0
),
hist AS (
    SELECT length(bin(v_cents)) AS bkt, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM vals GROUP BY length(bin(v_cents))
),
cum AS (
    SELECT bkt, cnt,
           SUM(cnt) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS c,
           SUM(cnt) OVER () AS n
    FROM hist
),
qs AS (SELECT unnest([{", ".join(str(q) for q in _QHIST_QS)}]) AS q),
est AS (
    SELECT q, MIN(bkt) AS est_bkt, MAX(n) AS n
    FROM cum, qs
    WHERE c * 100 >= q * n
    GROUP BY q
),
ranked AS (
    SELECT v_cents,
           row_number() OVER (ORDER BY v_cents, event_id) AS rn
    FROM vals
),
exact AS (
    SELECT e.q,
           MAX(r.v_cents) AS exact_cents
    FROM est e JOIN ranked r
      ON r.rn = CAST(ceil(e.q * e.n / 100.0) AS BIGINT)
    GROUP BY e.q
)
SELECT e.q AS q,
       CAST(e.n AS BIGINT) AS n,
       CAST(power(2, e.est_bkt) AS BIGINT) - 1 AS est_cents,
       x.exact_cents,
       CAST(abs((CAST(power(2, e.est_bkt) AS BIGINT) - 1) - x.exact_cents)
            * 1000000 // x.exact_cents AS BIGINT) AS abs_err_ppm
FROM est e JOIN exact x ON x.q = e.q
"""


@register("sketch_quantile_hist", oracle=_QHIST_ORACLE)
def sketch_quantile_hist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch + measured calibration — the quantile
    member of the measured-approximation family (CMS error, bloom FPR,
    KMV overlap, HLL error, minhash estimate error). The sketch is a
    LOG2-WIDTH HISTOGRAM over integer cents: bucket = bit length of the
    value (integer-exact on both engines via ``bin``'s string length —
    no float log at any boundary), state = |buckets| ≈ 40 counters that
    merge by ADDITION across partitions/days/streams; the p-quantile
    estimate is the upper bound of the first bucket whose cumulative
    count reaches p·n (guaranteed within 2x of truth by construction —
    one bucket spans one octave). The exact quantiles ride the same
    bucket as a two-phase rank, so the measured abs_err_ppm per
    quantile is what a capacity plan actually consults before trusting
    the sketch at 100 TB (where the exact rank is a job and the sketch
    is free).

    Scale: ONE map-side-combined aggregate for the histogram (~40-row
    state, mergeable — the streaming/day-2 form needs no new code);
    the exact leg is the ledger-window two-phase rank, priced only for
    calibration runs.
    """
    from wikidatabots_spark.functions.scale import (
        bucketed_global_rank,
        pushdown_fence,
    )

    ev = load_table(spark, sf_dir, "events")
    vals = pushdown_fence(
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            (F.col("value").cast("decimal(14,4)") * 100)
            .cast("bigint")
            .alias("v_cents"),
            "event_id",
        )
        .where(F.col("v_cents") > 0)
    )
    bkt = F.length(F.bin(F.col("v_cents")))
    hist = vals.groupBy(bkt.alias("bkt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    from pyspark.sql import Window

    wc = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bkt",
        F.sum("cnt").over(wc).alias("c"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in _QHIST_QS])
    ).alias("q")
    est = (
        cum.select("bkt", "c", "n", qs)
        .where(F.col("c") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bkt").alias("est_bkt"), F.max("n").alias("n"))
    )
    ranked = bucketed_global_rank(
        vals,
        bucket=F.length(F.bin(F.col("v_cents"))),
        order=[F.col("v_cents").asc(), F.col("event_id").asc()],
        rn="rn",
    )
    exact = (
        est.join(
            ranked,
            ranked["rn"]
            == F.ceil(F.col("q") * F.col("n") / F.lit(100.0)).cast("bigint"),
        )
        .groupBy("q")
        .agg(F.max("v_cents").alias("exact_cents"))
    )
    est_cents = F.pow(F.lit(2.0), F.col("est_bkt")).cast("bigint") - 1
    return (
        est.join(exact, "q")
        .select(
            F.col("q").cast("int").alias("q"),
            F.col("n").cast("bigint").alias("n"),
            est_cents.alias("est_cents"),
            F.col("exact_cents").cast("bigint").alias("exact_cents"),
            F.expr(
                "CAST(abs((CAST(power(2, est_bkt) AS BIGINT) - 1) - "
                "exact_cents) * 1000000 DIV exact_cents AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_curriculum_order — interleaved quality-decile training order
# ---------------------------------------------------------------------------

_CURRICULUM_ORACLE = """
WITH qual AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x != '')) AS nw,
           length(text) AS nc,
           length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS np,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x IN ('the','a','an','of','to','and','in','is','on','for')))
               AS ns
    FROM documents
),
scored AS (
    SELECT doc_id,
           least(CAST(nw AS DOUBLE) / 100.0, 1.0) * 0.5
             + (CASE WHEN nw > 0 THEN CAST(ns AS DOUBLE) / nw ELSE 0.0 END) * 0.3
             + (1.0 - (CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc
                            ELSE 0.0 END)) * 0.2 AS quality
    FROM qual
),
ranked AS (
    SELECT doc_id, quality,
           CAST(row_number() OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
               AS rk,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM scored
),
deciled AS (
    SELECT doc_id, rk, ((rk - 1) * 10) // n AS decile FROM ranked
)
SELECT doc_id,
       CAST(decile AS INT) AS decile,
       CAST((row_number() OVER (PARTITION BY decile ORDER BY rk) - 1) * 10
            + decile + 1 AS BIGINT) AS curriculum_pos
FROM deciled
"""


@register("corpus_curriculum_order", oracle=_CURRICULUM_ORACLE)
def corpus_curriculum_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: docs rank by quality
    (exact-rank decile, no percentile interpolation), then the
    curriculum position INTERLEAVES deciles — position p sees decile
    p mod 10 — so every training window mixes difficulty instead of
    front-loading one stratum (the anti-collapse property curriculum
    schedules want). Pure integer window math; the only global
    structure is the rank, computed once.

    Scale (VERDICT r5 next #1): the rank rides the two-phase
    ``bucketed_global_rank`` — every document-scale window is
    partitioned by the 1024-way quality bucket; the only
    single-partition window runs over the ~1k-row bucket ledger. The
    decile interleave needs NO second window at all: within-decile
    position is ``rk - ceil(decile·n/10)`` (the decile's exact-rank
    start), pure arithmetic on the global rank.
    """
    from wikidatabots_spark.functions.scale import (
        bucketed_global_rank,
        pushdown_fence,
    )
    from wikidatabots_spark.operators.dedup import ensure_parallelism
    from wikidatabots_spark.operators.textstats import with_quality

    d = load_table(spark, sf_dir, "documents")
    # fence: scored feeds the bucket ledger, the fact-side rank join,
    # and the count aggregate — one quality-feature pass, not three
    scored = pushdown_fence(
        with_quality(ensure_parallelism(d, "doc_id")).select(
            "doc_id", "quality"
        )
    )
    n = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = bucketed_global_rank(
        scored,
        # NULL quality (NULL text) sorts last under DESC in both
        # engines — sentinel bucket, never a dropped row
        bucket=F.coalesce(
            F.floor(F.col("quality") * 1024), F.lit(-(2**62))
        ),
        order=[F.col("quality").desc(), F.col("doc_id").asc()],
        descending=True,
        rn="rk",
    ).crossJoin(F.broadcast(n))
    deciled = ranked.select(
        "doc_id", "rk", "n", F.expr("((rk - 1) * 10) DIV n").alias("decile")
    )
    return deciled.select(
        "doc_id",
        F.col("decile").cast("int").alias("decile"),
        F.expr("(rk - (decile * n + 9) DIV 10 - 1) * 10 + decile + 1")
        .cast("bigint")
        .alias("curriculum_pos"),
    )


# ---------------------------------------------------------------------------
# dq_key_skew — join-key skew diagnosis (the pre-salting monitor)
# ---------------------------------------------------------------------------

_KEY_SKEW_ORACLE = """
WITH fams AS (
    SELECT 'orders.o_custkey' AS key_family,
           CAST(o_custkey AS VARCHAR) AS k FROM orders
    UNION ALL
    SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events
),
freq AS (
    SELECT key_family, k, COUNT(*) AS cnt
    FROM fams GROUP BY key_family, k
)
SELECT key_family,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
       CAST((COUNT(*) * MAX(cnt) * 1000) // SUM(cnt) AS BIGINT)
           AS skew_factor_milli
FROM freq GROUP BY key_family
"""


@register("dq_key_skew", oracle=_KEY_SKEW_ORACLE)
def dq_key_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis across the three join-key families a
    plan would shuffle on: rows, distinct keys, the hottest key's row
    count, and the skew factor max/avg in integer milli-units
    (1000 = perfectly uniform). This is the operational monitor run
    BEFORE choosing a skew lever — factor ≤ ~3000 rides AQE skew-split;
    beyond that reach for salting (`functions.scale.salted_join`) or a
    bucket cap (`cap_band_buckets`); the read side of SCALING.md's
    pressure-point table.

    Scale: one groupBy per family (map-side combined) then a
    family-sized (tiny) aggregate; the families union AFTER projection
    to (family, key) so no wide columns move.
    """
    fams = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.lit("orders.o_custkey").alias("key_family"),
            F.col("o_custkey").cast("string").alias("k"),
        )
        .unionByName(
            load_table(spark, sf_dir, "lineitem").select(
                F.lit("lineitem.l_orderkey").alias("key_family"),
                F.col("l_orderkey").cast("string").alias("k"),
            )
        )
        .unionByName(
            load_table(spark, sf_dir, "events").select(
                F.lit("events.user_id").alias("key_family"),
                F.col("user_id").cast("string").alias("k"),
            )
        )
    )
    freq = fams.groupBy("key_family", "k").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return freq.groupBy("key_family").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        F.expr("(COUNT(*) * MAX(cnt) * 1000) DIV SUM(cnt)")
        .cast("bigint")
        .alias("skew_factor_milli"),
    )


# ---------------------------------------------------------------------------
# corpus_dedup_funnel — stage-by-stage dedup yield report
# ---------------------------------------------------------------------------


def _dedup_funnel_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _TOK_SQL,
        _WINNOW_PAIRS_ORACLE,
        _semdedup_oracle,
    )

    return f"""
WITH RECURSIVE
{_TOK_SQL},
pairs AS ({_WINNOW_PAIRS_ORACLE}),
edges AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
),
gnodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM gnodes
    UNION
    SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
dup_nodes AS (SELECT node FROM comp WHERE node != component),
exact_canon AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
near_kept AS (
    SELECT doc_id FROM exact_canon
    WHERE doc_id NOT IN (SELECT node FROM dup_nodes)
),
sem AS ({_semdedup_oracle(0.3)}),
semdrop AS (SELECT vec_id AS doc_id FROM sem WHERE NOT is_kept),
sem_kept AS (
    SELECT doc_id FROM near_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)
),
stages AS (
    SELECT 0 AS stage_idx, 'total' AS stage,
           (SELECT COUNT(*) FROM documents) AS n_docs
    UNION ALL
    SELECT 1, 'after_exact', (SELECT COUNT(*) FROM exact_canon)
    UNION ALL
    SELECT 2, 'after_near_dup', (SELECT COUNT(*) FROM near_kept)
    UNION ALL
    SELECT 3, 'after_semantic', (SELECT COUNT(*) FROM sem_kept)
)
SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(lag(n_docs) OVER (ORDER BY stage_idx) - n_docs AS BIGINT)
           AS n_dropped,
       CAST((n_docs * 1000000)
            // (SELECT COUNT(*) FROM documents) AS BIGINT) AS kept_ppm
FROM stages
"""


@register("corpus_dedup_funnel", oracle=_dedup_funnel_oracle())
def corpus_dedup_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup YIELD funnel: corpus size after each dedup stage —
    exact (md5 canon), near-dup (winnow fingerprint connected
    components), semantic (SemDeDup cluster-fenced cosine) — with
    per-stage drop counts and integer-ppm survival. This is the
    capacity-planning table a curation run publishes first: it prices
    each stage's contribution before anyone pays for the full
    pipeline, and a drift in any stage's yield between deliveries is
    the earliest data-quality alarm.

    Scale: stages reuse the audited dedup shapes (each is id-only
    after its first projection); the stage counts are four tiny
    aggregates unioned. The survivor sets are fenced so the winnow/CC
    stage computes once and feeds both the near-dup count and the
    semantic stage's input.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        connected_components,
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.operators.similarity import semdedup_flags

    d = load_table(spark, sf_dir, "documents")
    # total as a 1-row FRAME (no driver-side count action): broadcast
    # into the ppm expression like every other scalar subquery here
    total = d.agg(F.count(F.lit(1)).cast("bigint").alias("__total"))
    exact = pushdown_fence(
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    comp = connected_components(
        winnow_pairs(winnow_fingerprints(d, k=3, window=4), d, min_shared=3,
                     max_df=0.2)
    )
    dup_nodes = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    near_kept = pushdown_fence(exact.join(dup_nodes, "doc_id", "left_anti"))
    semdrop = (
        semdedup_flags(
            load_table(spark, sf_dir, "embeddings"), k=4, rounds=2,
            threshold=0.3,
        )
        .where(~F.col("is_kept"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    sem_kept = near_kept.join(semdrop, "doc_id", "left_anti")

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ).select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    stages = (
        stage(0, "total", d.select("doc_id"))
        .unionByName(stage(1, "after_exact", exact))
        .unionByName(stage(2, "after_near_dup", near_kept))
        .unionByName(stage(3, "after_semantic", sem_kept))
    )
    w = Window.orderBy("stage_idx")
    return stages.crossJoin(F.broadcast(total)).select(
        "stage_idx",
        "stage",
        "n_docs",
        (F.lag("n_docs").over(w) - F.col("n_docs"))
        .cast("bigint")
        .alias("n_dropped"),
        F.expr("(n_docs * 1000000) DIV __total")
        .cast("bigint")
        .alias("kept_ppm"),
    )


# ---------------------------------------------------------------------------
# win_forward_fill — IGNORE NULLS window navigation (ffill / bfill)
# ---------------------------------------------------------------------------

_WIN_FFILL_ORACLE = """
WITH e AS (
    SELECT user_id, event_id,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
    FROM events
)
SELECT user_id, event_id, v,
       last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
       first_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_bfill
FROM e
"""


@register("win_forward_fill", oracle=_WIN_FFILL_ORACLE)
def win_forward_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward- and backward-fill of a gappy measure via IGNORE NULLS
    window navigation — the time-series repair idiom (sensor dropouts,
    sparse telemetry). Values at event_id % 7 are nulled, then
    ``last(v, ignorenulls=True)`` over unbounded-preceding→current
    carries the previous observation forward and ``first(v,
    ignorenulls=True)`` over current→unbounded-following backfills; a
    partition's LEADING nulls stay null under ffill (and trailing under
    bfill) — the edge the oracle pins. The dialect pin: Spark spells it
    ``last(expr, ignorenulls)`` (SQL: ``last_value(v) IGNORE NULLS``),
    DuckDB puts the modifier inside the call (``last_value(v IGNORE
    NULLS)``) — same ANSI semantics, different surface, so this is
    DataFrame-vs-SQL rather than one shared string. No arithmetic
    touches the doubles (values only MOVE), so cross-engine hash parity
    is exact.

    Scale: one shuffle on user_id; both fills share the single sorted
    frame, evaluated streaming within each partition (no full-frame
    buffering for these navigation functions)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        "event_id",
        "v",
        F.last("v", ignorenulls=True).over(wf).alias("v_ffill"),
        F.first("v", ignorenulls=True).over(wb).alias("v_bfill"),
    )
