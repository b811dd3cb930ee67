"""Round-4b LLM-data-pipeline additions, each oracle-checked:

- ``text_lm_score`` / ``text_lm_score_heldout`` — CCNet-style
  hashed-bigram LM quality ranking (integer-exact smoothed conditional
  frequencies, operators.lm); the heldout form trains on a reference
  half and backs unseen transitions off to 0
- ``dedup_keep_best_quality`` — FineWeb-style representative
  selection: near-dup components keep the HIGHEST-QUALITY member
- ``dedup_incremental_index`` / ``curate_corpus_incremental`` —
  incremental-ingest: probe (and fully curate) a new batch against the
  prior corpus' persisted content-hash + MinHash band indexes instead
  of re-deduping the world (the actual 100 TB operating mode)
- ``ev_scd2_intervals`` — CDC surface: event log → SCD2 validity
  intervals in a single user_id exchange; plus ``ev_funnel_3step``
  (ordered sequence funnel) and ``ev_hourly_anomaly`` (z-scores from
  exact integer moments)
- ``corpus_health_by_source`` (pre-mixture review table),
  ``corpus_token_budget_select`` (greedy best-first token budget with
  a partition-parallel two-phase prefix sum),
  ``corpus_quality_sample`` (deterministic quality-weighted Bernoulli)
- ``knn_ivf_exact`` — deterministic IVF, hash-checked end-to-end
- breadth: ``win_distribution``, ``agg_corr_covar``,
  ``dedup_pair_edit_distance``, ``graph_triangles``

No reference counterpart (north-star extensions, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# text_lm_score — hashed-bigram LM quality (CCNet-shaped, engine-exact)
# ---------------------------------------------------------------------------

_LM_ORACLE = """
WITH wl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x != '') AS wl
    FROM documents
),
occ AS (
    SELECT doc_id, u.head AS head, u.bg AS bg FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(wl) - 1, 0)),
                   i -> struct_pack(head := wl[i],
                                    bg := wl[i] || ' ' || wl[i+1]))) AS u
        FROM wl
    )
),
bgc AS (SELECT head, bg, COUNT(*) AS c2 FROM occ GROUP BY head, bg),
model AS (
    SELECT bg,
           CAST((1000000 * c2) // (SUM(c2) OVER (PARTITION BY head) + 10)
                AS BIGINT) AS score
    FROM bgc
),
scored AS (
    SELECT o.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(m.score) AS DOUBLE) / COUNT(*) AS lm_score
    FROM occ o JOIN model m USING (bg)
    GROUP BY o.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.lm_score
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


@register("text_lm_score", oracle=_LM_ORACLE)
def text_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM quality score: mean parts-per-million conditional
    bigram frequency under a corpus-trained bigram table (operators.lm).
    All-integer model, one IEEE division per doc — the oracle reproduces
    every score bit-for-bit (strings in DuckDB, xxhash64 keys in Spark;
    same internal-key tradeoff as ngram_jaccard_pairs)."""
    from wikidatabots_spark.operators.lm import with_lm_score

    return with_lm_score(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup_keep_best_quality — component representative = argmax(quality)
# ---------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _QUALITY_ORACLE,
        _WINNOW_PAIRS_ORACLE,
    )

    return f"""
WITH RECURSIVE
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
allcomp AS (
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
q AS ({_QUALITY_ORACLE}),
ranked AS (
    SELECT a.component, a.doc_id, q.quality,
           row_number() OVER (PARTITION BY a.component
                              ORDER BY q.quality DESC, a.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY a.component) AS n_members
    FROM allcomp a JOIN q ON q.doc_id = a.doc_id
)
SELECT component, doc_id AS best_id, quality AS best_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@register("dedup_keep_best_quality", oracle=_keep_best_oracle())
def dedup_keep_best_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style dedup verdict: winnowing near-dup pairs → connected
    components → each component keeps its HIGHEST-quality member (tie →
    lowest id). Singleton docs are their own component, so the output is
    the full keep-list. Ordering on the quality double is cross-engine
    safe because the score is a fixed arithmetic tree (with_quality).

    Scale: pair generation and components shuffle only (fp/id) keys; the
    verdict is one window over the component key — text never moves.
    """
    from wikidatabots_spark.operators.dedup import (
        connected_components,
        ensure_parallelism,
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.operators.textstats import with_quality

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, k=3, window=4)
    pairs = winnow_pairs(fps, d, min_shared=3, max_df=0.2)
    comp = connected_components(pairs)
    allcomp = (
        d.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("component")
        )
    )
    q = with_quality(ensure_parallelism(d, "doc_id")).select(
        "doc_id", "quality"
    )
    w = Window.partitionBy("component")
    ranked = (
        allcomp.join(q, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("quality").desc(), F.col("doc_id"))
            ),
        )
        .withColumn("n_members", F.count(F.lit(1)).over(w))
    )
    return ranked.where(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("best_id"),
        F.col("quality").alias("best_quality"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# dedup_incremental_index — probe a new batch against a prior band index
# ---------------------------------------------------------------------------


def _incremental_oracle() -> str:
    from wikidatabots_spark.operators.dedup import BAND_BUCKET_CAP
    from wikidatabots_spark.plans.extensions import (
        _MINHASH_STACKED_SQL,
        _TOK_SQL,
    )

    return f"""
WITH {_TOK_SQL},
{_MINHASH_STACKED_SQL.strip().rstrip()},
old_index AS (
    SELECT doc_id, band_idx, band_hash FROM (
        SELECT doc_id, band_idx, band_hash,
               row_number() OVER (PARTITION BY band_idx, band_hash
                                  ORDER BY doc_id) AS rk
        FROM stacked WHERE doc_id % 2 = 0
    ) WHERE rk <= {BAND_BUCKET_CAP}
)
SELECT n.doc_id AS new_id, o.doc_id AS old_id,
       COUNT(*) AS n_shared_bands
FROM stacked n JOIN old_index o
  ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
WHERE n.doc_id % 2 = 1
GROUP BY n.doc_id, o.doc_id
"""


@register("dedup_incremental_index", oracle=_incremental_oracle())
def dedup_incremental_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the corpus' even-id half plays the role
    of the already-indexed corpus (its MinHash band table persisted from
    a prior run), the odd-id half is today's batch; the batch's band
    table probes the index with one equi-join on (band_idx, band_hash).
    Per-doc signatures depend only on the doc itself, so index rows
    written yesterday are byte-identical to recomputing them — the index
    composes across batches by union, and only the NEW batch pays
    signature + shuffle cost each day. At 100 TB the index is written
    bucketed by the band key (functions.scale.write_bucketed), making
    the daily probe exchange-free on the index side.

    The PERSISTED index is bucket-capped (``cap_band_buckets``): only
    the BAND_BUCKET_CAP lowest-id members of each band bucket are kept,
    bounding a new document's per-bucket match fan-out linearly — a
    boilerplate cluster of 10⁵ historical pages would otherwise hand
    every matching new doc 10⁵ join rows per band. The kept members
    include each bucket's minimum, so component transitivity still
    connects a probing doc to the whole historical cluster."""
    from wikidatabots_spark.operators.dedup import (
        cap_band_buckets,
        minhash_band_table,
    )

    d = load_table(spark, sf_dir, "documents")
    indexed = cap_band_buckets(
        minhash_band_table(d.where(F.col("doc_id") % 2 == 0))
    )
    batch = minhash_band_table(d.where(F.col("doc_id") % 2 == 1))
    return (
        batch.select(
            F.col("doc_id").alias("new_id"), "band_idx", "band_hash"
        )
        .join(
            indexed.select(
                F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


# ---------------------------------------------------------------------------
# ev_scd2_intervals — event log → SCD2 validity intervals
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER w AS prev_type,
           CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS new_run
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT *,
           CAST(SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS run_id,
           MIN(CASE WHEN new_run = 1 THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_change
    FROM ordered
)
SELECT user_id,
       event_type,
       run_id AS version,
       MIN(ts) AS valid_from,
       MIN(next_change) AS valid_to,
       COUNT(*) AS n_events
FROM runs
GROUP BY user_id, event_type, run_id
"""


@register("ev_scd2_intervals", oracle=_SCD2_ORACLE)
def ev_scd2_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) reconstruction from a change
    log: per user, consecutive runs of the same event_type collapse to
    one row with [valid_from, valid_to) validity (valid_to NULL = the
    open current state) and a per-user version counter.

    Plan shape: ONE exchange on user_id feeds every window (lag, run
    counter, next-change running min — all share the (user_id | ts,
    event_id) frame) and the final groupBy keys on (user_id, run_id),
    whose clustering the user_id hash partitioning already satisfies —
    no second shuffle. The next-change running MIN over the FOLLOWING
    frame replaces the usual lead-after-groupBy second window, which
    would have re-exchanged on run boundaries.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_type = F.lag("event_type").over(w)
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            ~prev_type.eqNullSafe(F.col("event_type")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    runs = ordered.withColumns(
        {
            "run_id": F.sum("new_run").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            "next_change": F.min(
                F.when(F.col("new_run") == 1, F.col("ts"))
            ).over(w.rowsBetween(1, Window.unboundedFollowing)),
        }
    )
    return runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"),
        F.min("next_change").alias("valid_to"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "user_id",
        "event_type",
        F.col("run_id").alias("version"),
        "valid_from",
        "valid_to",
        "n_events",
    )


# ---------------------------------------------------------------------------
# corpus_health_by_source — the per-source corpus health report
# ---------------------------------------------------------------------------


def _health_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _QUALITY_ORACLE,
        _WINNOW_PAIRS_ORACLE,
    )

    return f"""
WITH RECURSIVE
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
near_extra AS (SELECT node AS doc_id FROM comp WHERE node != component),
exact_extra AS (
    SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
        FROM documents
    ) WHERE doc_id != canon
),
q AS ({_QUALITY_ORACLE}),
flagged AS (
    SELECT d.source, d.doc_id, q.n_words, q.quality,
           CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_exact_extra,
           CASE WHEN ne.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_near_extra
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    LEFT JOIN exact_extra e ON e.doc_id = d.doc_id
    LEFT JOIN near_extra ne ON ne.doc_id = d.doc_id
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY source
                              ORDER BY quality, doc_id) AS qrn,
           COUNT(*) OVER (PARTITION BY source) AS n_in_src
    FROM flagged
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_exact_extra) AS BIGINT) AS n_exact_dups,
       CAST(SUM(is_near_extra) AS BIGINT) AS n_near_dups,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       MAX(CASE WHEN qrn = CAST(CEIL(n_in_src / 2.0) AS BIGINT)
                THEN quality END) AS median_quality
FROM ranked
GROUP BY source
"""


@register("corpus_health_by_source", oracle=_health_oracle())
def corpus_health_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the table a data-curation run
    reviews before committing a mixture: document count, exact-duplicate
    extras (non-canonical members of an md5 group), near-duplicate
    extras (non-canonical members of a winnow/CC component), total word
    volume, and the EXACT median quality (element at ceil(n/2) by
    (quality, doc_id) rank — no interpolation, so the double survives
    hash comparison).

    Scale: the flags are (id)-keyed anti/left joins of hash-sized
    tables; the report itself is |sources| rows. The quality median is
    one window per source over (doc_id, quality) pairs — text stays in
    the scan stage.
    """
    from wikidatabots_spark.operators.dedup import (
        connected_components,
        ensure_parallelism,
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.operators.textstats import with_quality

    d = load_table(spark, sf_dir, "documents")
    exact_extra = (
        d.select(
            "doc_id",
            F.min("doc_id")
            .over(Window.partitionBy(F.md5("text")))
            .alias("canon"),
        )
        .where(F.col("doc_id") != F.col("canon"))
        .select("doc_id", F.lit(1).alias("is_exact_extra"))
    )
    pairs = winnow_pairs(
        winnow_fingerprints(d, k=3, window=4), d, min_shared=3, max_df=0.2
    )
    near_extra = (
        connected_components(pairs)
        .where(F.col("node") != F.col("component"))
        .select(
            F.col("node").alias("doc_id"), F.lit(1).alias("is_near_extra")
        )
    )
    q = with_quality(ensure_parallelism(d, "doc_id")).select(
        "doc_id", "source", "n_words", "quality"
    )
    flagged = (
        q.join(exact_extra, "doc_id", "left")
        .join(near_extra, "doc_id", "left")
        .select(
            "source",
            "doc_id",
            "n_words",
            "quality",
            F.coalesce("is_exact_extra", F.lit(0)).alias("is_exact_extra"),
            F.coalesce("is_near_extra", F.lit(0)).alias("is_near_extra"),
        )
    )
    w = Window.partitionBy("source")
    ranked = flagged.withColumns(
        {
            "qrn": F.row_number().over(w.orderBy("quality", "doc_id")),
            "n_in_src": F.count(F.lit(1)).over(w),
        }
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_exact_extra").alias("n_exact_dups"),
        F.sum("is_near_extra").alias("n_near_dups"),
        F.sum("n_words").alias("total_words"),
        F.max(
            F.when(
                F.col("qrn") == F.ceil(F.col("n_in_src") / 2.0),
                F.col("quality"),
            )
        ).alias("median_quality"),
    )


# ---------------------------------------------------------------------------
# text_lm_score_heldout — reference-corpus LM scoring (train/apply split)
# ---------------------------------------------------------------------------

_LM_HELDOUT_ORACLE = """
WITH wl AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x != '') AS wl
    FROM documents
),
occ AS (
    SELECT doc_id, u.head AS head, u.bg AS bg FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(wl) - 1, 0)),
                   i -> struct_pack(head := wl[i],
                                    bg := wl[i] || ' ' || wl[i+1]))) AS u
        FROM wl
    )
),
bgc AS (
    SELECT head, bg, COUNT(*) AS c2 FROM occ
    WHERE doc_id % 2 = 0 GROUP BY head, bg
),
model AS (
    SELECT bg,
           CAST((1000000 * c2) // (SUM(c2) OVER (PARTITION BY head) + 10)
                AS BIGINT) AS score
    FROM bgc
),
scored AS (
    SELECT o.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(COALESCE(m.score, 0)) AS DOUBLE) / COUNT(*) AS lm_score
    FROM occ o LEFT JOIN model m USING (bg)
    WHERE o.doc_id % 2 = 1
    GROUP BY o.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.lm_score
FROM documents d LEFT JOIN scored s USING (doc_id)
WHERE d.doc_id % 2 = 1
"""


@register("text_lm_score_heldout", oracle=_LM_HELDOUT_ORACLE)
def text_lm_score_heldout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The true CCNet shape: the bigram model is trained on a REFERENCE
    corpus (the even-id half standing in for a trusted corpus) and
    scores held-out documents (the odd half) that never influenced the
    model; transitions unseen in training back off to score 0. With the
    train/apply split the model table is a reusable artifact — at
    production scale it is trained once and broadcast/bucket-joined
    against every new batch, the same operating mode as
    ``dedup_incremental_index``."""
    from wikidatabots_spark.operators.lm import with_lm_score

    d = load_table(spark, sf_dir, "documents")
    return with_lm_score(
        d.where(F.col("doc_id") % 2 == 1),
        train_df=d.where(F.col("doc_id") % 2 == 0),
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_select — greedy best-quality-first token budget
# ---------------------------------------------------------------------------


def _budget_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _QUALITY_ORACLE

    return f"""
WITH q AS ({_QUALITY_ORACLE}),
tot AS (SELECT SUM(n_words) AS t FROM q),
ranked AS (
    SELECT doc_id, n_words,
           SUM(n_words) OVER (ORDER BY quality DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_words
    FROM q
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(cum_words AS BIGINT) AS cum_words
FROM ranked, tot
WHERE cum_words <= (t * 20) // 100
"""


@register("corpus_token_budget_select", oracle=_budget_oracle())
def corpus_token_budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: take documents best-quality-
    first until 20% of the corpus' words are spent (greedy knapsack —
    the "train on the best N tokens" selection every budgeted run does).

    The oracle ranks with ONE global running sum — a single-partition
    window that would serialize at corpus scale. The Spark plan computes
    the identical prefix sum in TWO PHASES: documents are bucketed by
    quality (monotone in the global order, so bucket boundaries respect
    it), the per-bucket word totals — a ~1k-row table — get the global
    running offset in one tiny window, and each bucket's internal
    running sum is a window PARTITIONED by bucket. Every fact-table
    window is partition-parallel; only the 1k-row bucket ledger is
    single-partition. Same rows, hash-identical.
    """
    from wikidatabots_spark.operators.dedup import ensure_parallelism
    from wikidatabots_spark.operators.textstats import with_quality

    d = load_table(spark, sf_dir, "documents")
    from wikidatabots_spark.functions.scale import pushdown_fence

    # q feeds three branches (bucket ledger, grand total, fact window):
    # fence so the HOF-heavy quality features are computed once
    q = pushdown_fence(
        with_quality(ensure_parallelism(d, "doc_id")).select(
            "doc_id", "n_words", "quality"
        )
    )
    q = q.withColumn("bucket", F.floor(F.col("quality") * 1024))
    # phase 1: per-bucket totals; running offset over the tiny ledger
    # (ordered by bucket DESC — higher quality buckets spend first)
    ledger = q.groupBy("bucket").agg(F.sum("n_words").alias("bwords"))
    wl = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ledger = ledger.withColumn(
        "offset", F.coalesce(F.sum("bwords").over(wl), F.lit(0))
    ).select("bucket", "offset")
    # phase 2: within-bucket running sum, partition-parallel
    wb = Window.partitionBy("bucket").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    total = q.agg(F.sum("n_words").alias("__t"))
    return (
        q.withColumn("in_cum", F.sum("n_words").over(wb))
        .join(F.broadcast(ledger), "bucket")
        .crossJoin(F.broadcast(total))
        .withColumn("cum_words", F.col("offset") + F.col("in_cum"))
        .where(
            F.col("cum_words") <= F.expr("(__t * 20) div 100")
        )
        .select("doc_id", "n_words", "cum_words")
    )


# ---------------------------------------------------------------------------
# corpus_quality_sample — quality-weighted Bernoulli sampling (soft filter)
# ---------------------------------------------------------------------------


def _qsample_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _QUALITY_ORACLE

    return f"""
WITH q AS ({_QUALITY_ORACLE}),
b AS (
    SELECT doc_id,
           (strpos('0123456789abcdef', substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
         + (strpos('0123456789abcdef', substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS bkt
    FROM documents
)
SELECT d.doc_id, d.source, q.quality
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN b ON b.doc_id = d.doc_id
WHERE b.bkt < CAST(floor(q.quality * 65536) AS BIGINT)
"""


@register("corpus_quality_sample", oracle=_qsample_oracle())
def corpus_quality_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering: each document is kept with probability
    equal to its quality score (FineWeb-Edu-style weighted sampling,
    replacing a hard threshold) — implemented as the deterministic
    content-hash Bernoulli used everywhere else in this repo (md5 bucket
    < floor(quality·65536)), so re-runs and backfills keep identical
    rows and the oracle reproduces the draw exactly. A narrow map with
    no RNG state — zero shuffles beyond the deliberate
    ensure_parallelism fan-out of the single-file local scan."""
    from wikidatabots_spark.operators.dedup import ensure_parallelism
    from wikidatabots_spark.operators.textstats import with_quality

    d = load_table(spark, sf_dir, "documents")
    q = with_quality(ensure_parallelism(d, "doc_id")).select(
        "doc_id", "source", "quality"
    )
    bkt = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qs:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    return q.where(
        bkt < F.floor(F.col("quality") * 65536).cast("long")
    ).select("doc_id", "source", "quality")


# ---------------------------------------------------------------------------
# sample_weighted_k — exact-k weighted sampling w/o replacement (A-ES race)
# ---------------------------------------------------------------------------

# 100 of the 500-doc sf0.001/sf0.01 corpus: the draw must be a real
# subset at the driver's correctness SF, not a whole-corpus no-op
_WSAMP_K = 100

# 13 hex digits = 52 bits: exact in a DOUBLE, u in (0, 1]
_WSAMP_HEX = "".join(
    f"+ (strpos('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS "
    f"VARCHAR)), {j + 1}, 1)) - 1) * {16 ** (12 - j)}\n"
    for j in range(13)
)

_WSAMP_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           -ln((({_WSAMP_HEX}) + 1.0) / {16 ** 13}.0)
               / CAST(n_chars AS DOUBLE) AS t
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars
FROM keyed
ORDER BY t, doc_id
LIMIT {_WSAMP_K}
"""


@register("sample_weighted_k", oracle=_WSAMP_ORACLE)
def sample_weighted_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SIZE weighted sampling without replacement: k documents
    drawn with probability proportional to weight (here n_chars — the
    token-budget-proportional draw corpus mixing wants), via the
    Efraimidis-Spirakis exponential race: per doc an independent
    Exp(rate = w) arrival t = -ln(u)/w from a deterministic md5 uniform
    (52-bit, u ∈ (0,1]); the k SMALLEST arrivals are exactly a
    P∝w draw without replacement. Complements the repo's two other
    samplers — Bernoulli keeps a RANDOM-SIZED set, per-group top-k
    keeps k per group uniformly — this is the fixed-budget global
    weighted draw (the 'subsample exactly 1M docs, length-weighted'
    request).

    Deterministic and oracle-exact: u is integer-derived on both
    engines; ln/division are the same IEEE doubles the oracle-green
    log-prob queries already rely on; (t, doc_id) is a total order.

    Scale: a narrow map then ONE top-k — Catalyst plans the
    sort+limit as TakeOrderedAndProject (per-partition heaps, k-row
    exchange), so no global sort and no corpus-scale window at any k
    that fits the driver; at larger k the same key ranks under
    ``bucketed_global_rank`` with a floor(log) bucket.
    """
    from wikidatabots_spark.operators.dedup import ensure_parallelism

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).where(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    t = -F.log((h + F.lit(1.0)) / F.lit(float(16**13))) / F.col(
        "n_chars"
    ).cast("double")
    return (
        d.select("doc_id", "n_chars", t.alias("__t"))
        .orderBy("__t", "doc_id")
        .limit(_WSAMP_K)
        .select("doc_id", "n_chars")
    )


_WSAMP_SRC_K = 10

_WSAMP_SRC_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id, source, n_chars,
           -ln((({_WSAMP_HEX}) + 1.0) / {16 ** 13}.0)
               / CAST(n_chars AS DOUBLE) AS t
    FROM documents WHERE n_chars > 0
),
ranked AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source ORDER BY t, doc_id) AS rk
    FROM keyed
)
SELECT doc_id, source, n_chars FROM ranked WHERE rk <= {_WSAMP_SRC_K}
"""


@register("sample_weighted_per_source", oracle=_WSAMP_SRC_ORACLE)
def sample_weighted_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-budget weighted draw: exactly k docs PER SOURCE,
    each stratum sampled P ∝ n_chars without replacement — the same
    exponential race as ``sample_weighted_k`` ranked within a
    source-partitioned window instead of a global top-k. This is the
    mixture-construction primitive ('equal doc budget per source,
    length-weighted within') that neither the global weighted draw nor
    the uniform per-group top-k gives.

    Scale: one shuffle on source + a per-stratum sort — a PARTITIONED
    window, parallel across strata; no global ordering anywhere. Skewed
    strata ride AQE; a pathological mega-stratum would use the same
    salting levers as any hot key.

    k=10: the test corpus has exactly 25 docs per source at BOTH sf0.001
    and sf0.01, so any k >= 25 would select every row and the oracle
    comparison would be a vacuous no-op (same pitfall as the global
    ``sample_weighted_k``).
    """
    from pyspark.sql import Window

    from wikidatabots_spark.operators.dedup import ensure_parallelism

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).where(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    t = -F.log((h + F.lit(1.0)) / F.lit(float(16**13))) / F.col(
        "n_chars"
    ).cast("double")
    w = Window.partitionBy("source").orderBy(F.col("__t"), F.col("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars", t.alias("__t"))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= _WSAMP_SRC_K)
        .select("doc_id", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# corpus_dsir_select — data selection via importance resampling (DSIR)
# ---------------------------------------------------------------------------

_DSIR_K = 100
_DSIR_TARGET = "src0"
_DSIR_B = 1024  # hashed feature buckets — the NB classifier's space

_DSIR_GUMBEL_HEX = "".join(
    f"+ (strpos('0123456789abcdef', substr(md5('dsir:' || CAST(doc_id AS "
    f"VARCHAR)), {j + 1}, 1)) - 1) * {16 ** (12 - j)}\n"
    for j in range(13)
)

_DSIR_BUCKET_SQL = (
    "(((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) % 1024)"
)

# The DSIR scoring program as a reusable CTE fragment (dsir_-prefixed
# names so it can be spliced into larger oracle programs — the v8
# flagship gate): hashed-bucket occurrences -> target/raw counts ->
# floored integer-ppm log-ratio model -> per-raw-doc importance sums.
_DSIR_SC_CTES = f"""dsir_toks AS (
    SELECT doc_id, source,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x != '')) AS w
    FROM documents
),
dsir_occ AS (
    SELECT doc_id, source, {_DSIR_BUCKET_SQL} AS bucket, COUNT(*) AS cnt
    FROM dsir_toks GROUP BY doc_id, source, {_DSIR_BUCKET_SQL}
),
dsir_cls AS (
    SELECT bucket,
           SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN cnt ELSE 0 END) AS c_t,
           SUM(CASE WHEN source <> '{_DSIR_TARGET}' THEN cnt ELSE 0 END) AS c_r
    FROM dsir_occ GROUP BY bucket
),
dsir_tot AS (SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r FROM dsir_cls),
dsir_model AS (
    SELECT bucket,
           CAST(floor(ln(((c_t + 1.0) / (n_t + {_DSIR_B}.0))
                         / ((c_r + 1.0) / (n_r + {_DSIR_B}.0)))
                      * 1000000.0) AS BIGINT) AS lr_ppm
    FROM dsir_cls, dsir_tot
),
dsir_sc AS (
    SELECT o.doc_id, o.source,
           CAST(SUM(o.cnt * m.lr_ppm) AS BIGINT) AS imp_ppm
    FROM dsir_occ o JOIN dsir_model m USING (bucket)
    WHERE o.source <> '{_DSIR_TARGET}'
    GROUP BY o.doc_id, o.source
)"""

_DSIR_ORACLE = f"""
WITH {_DSIR_SC_CTES},
keyed AS (
    SELECT doc_id, source, imp_ppm,
           ln(-ln((({_DSIR_GUMBEL_HEX}) + 0.5) / {16 ** 13}.0))
             - CAST(imp_ppm AS DOUBLE) / 1000000.0 AS gk
    FROM dsir_sc
)
SELECT doc_id, source, imp_ppm
FROM keyed ORDER BY gk, doc_id LIMIT {_DSIR_K}
"""


def dsir_occurrences(d: DataFrame) -> DataFrame:
    """The per-doc hashed-bucket occurrence table (doc_id, source,
    bucket, cnt) over ``d`` (doc_id, source, text) — the ONE text pass
    every hashed-feature consumer here prices. ``bucket`` is
    ``textstats._token_bucket``, the same feature space the trained NB
    classifier uses, so a single fenced instance of this table can feed
    BOTH the classifier gate (project source away) and DSIR
    training/scoring (the v8 flagship does exactly that)."""
    from wikidatabots_spark.operators.textstats import token_bucket_counts

    return token_bucket_counts(d, extra_cols=("source",))


def dsir_class_counts(occ: DataFrame) -> DataFrame:
    """Per-bucket class-conditional token counts (bucket, c_t, c_r)
    from an occurrence table — PURE ADDITIVE COUNTERS, so counts over
    any partition of the corpus (yesterday/today, micro-batches) sum
    back to the full-corpus counts exactly. This mergeability is what
    makes the model maintainable incrementally
    (``streaming.docs_stream.dsir_model_maintenance``)."""
    tgt = F.col("source") == _DSIR_TARGET
    return occ.groupBy("bucket").agg(
        F.sum(F.when(tgt, F.col("cnt")).otherwise(F.lit(0))).alias("c_t"),
        F.sum(F.when(~tgt, F.col("cnt")).otherwise(F.lit(0))).alias("c_r"),
    )


def dsir_model_from_counts(cls: DataFrame) -> DataFrame:
    """The DSIR importance model (bucket, lr_ppm) from per-bucket class
    counts: floored integer-ppm log-ratio of smoothed target-vs-raw
    bucket rates. One deterministic expression over exact integers —
    identical counts produce identical models bit-for-bit, whichever
    path (batch or merged streaming partials) produced the counts."""
    tot = cls.agg(F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r"))
    b = F.lit(float(_DSIR_B))
    return cls.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.log(
                ((F.col("c_t") + F.lit(1.0)) / (F.col("n_t") + b))
                / ((F.col("c_r") + F.lit(1.0)) / (F.col("n_r") + b))
            )
            * F.lit(1000000.0)
        )
        .cast("long")
        .alias("lr_ppm"),
    )


def dsir_occ_and_model(
    d: DataFrame, occ: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """The DSIR training pieces, shared by the batch selector and the
    streaming scoring twin: the fenced per-doc hashed-bucket occurrence
    table over ``d`` (doc_id, source, text) and the ≤1024-row
    (bucket, lr_ppm) importance model — floored integer-ppm log-ratios
    of target-vs-raw bucket rates (see ``corpus_dsir_select``). Pass a
    precomputed (already fenced) ``occ`` to share the text pass with
    other hashed-feature consumers."""
    from wikidatabots_spark.functions.scale import pushdown_fence

    if occ is None:
        occ = pushdown_fence(dsir_occurrences(d))
    model = dsir_model_from_counts(dsir_class_counts(occ))
    return occ, model


def dsir_scores(d: DataFrame, occ: DataFrame | None = None) -> DataFrame:
    """Per-raw-doc DSIR importance scores (doc_id, source, imp_ppm,
    n_tok): the occurrence table joined to the broadcast model, summed
    per doc — exact integers (the Spark twin of the ``dsir_sc`` +
    ``dsir_ntok`` oracle CTEs). Shared by the Gumbel selector and the
    v8 flagship's per-token domain gate. Pass a precomputed fenced
    ``occ`` (``dsir_occurrences``) to share the text pass."""
    occ, model = dsir_occ_and_model(d, occ=occ)
    return (
        occ.where(F.col("source") != _DSIR_TARGET)
        .join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("cnt") * F.col("lr_ppm")).cast("long").alias("imp_ppm"),
            F.sum("cnt").cast("long").alias("n_tok"),
        )
    )


@register("corpus_dsir_select", oracle=_DSIR_ORACLE)
def corpus_dsir_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    NeurIPS'23): estimate per-example importance weights from hashed
    unigram features — log p_target(b) − log p_raw(b) per bucket, where
    target = the 'src0' domain sample and raw = every other source —
    then Gumbel-top-k resample k raw docs under those weights. This is
    the domain-targeting selector the gate stack lacks: the NB
    classifier scores docs against LABELS; DSIR matches a target
    DISTRIBUTION with no labels at all.

    Engine-exactness: the per-bucket log-ratio is floored to integer
    ppm (one ln per bucket over exact-integer ratios, then floor —
    identical in both engines), so the per-doc importance is an exact
    INTEGER sum immune to float reassociation; the only per-row float
    math is the Gumbel key ln(-ln(u)) − s, the same md5-uniform ln
    family every race sampler here uses. u gets a +0.5 offset (not +1)
    so u < 1 strictly — Spark's log returns NULL at 0 where DuckDB
    errors, and the open interval sidesteps both.

    Scale: one text pass to hashed occurrences (fenced — shared by
    training and scoring; text never leaves the scan stage), a
    ≤1024-row bucket aggregate joined to a 1-row-broadcast total, the
    ≤1024-row model broadcast into the per-doc scorer, and one
    TakeOrderedAndProject top-k (per-partition heaps, k-row exchange).
    No global window, no corpus-scale collect.
    """
    sc = dsir_scores(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(16**13))
    gk = F.log(-F.log(u)) - F.col("imp_ppm").cast("double") / F.lit(1000000.0)
    return (
        sc.withColumn("__gk", gk)
        .orderBy("__gk", "doc_id")
        .limit(_DSIR_K)
        .select("doc_id", "source", "imp_ppm")
    )


# ---------------------------------------------------------------------------
# win_distribution — ntile / percent_rank / cume_dist (window family gap)
# ---------------------------------------------------------------------------

_WIN_DIST_ORACLE = """
SELECT s_suppkey, s_nationkey,
       CAST(ntile(4) OVER w AS INT) AS bal_quartile,
       percent_rank() OVER w AS bal_pct_rank,
       cume_dist() OVER w AS bal_cume_dist
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
"""


@register("win_distribution", oracle=_WIN_DIST_ORACLE)
def win_distribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    over a totally-ordered per-nation frame — the quartile/percentile
    bucketing used to band suppliers by balance. The order includes the
    key tiebreak so every rank-derived double is engine-exact (both
    engines compute (rank-1)/(n-1) and rows≤/n from identical ranks)."""
    su = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return su.select(
        "s_suppkey",
        "s_nationkey",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


# ---------------------------------------------------------------------------
# agg_corr_covar — exact-sum Pearson correlation / covariance
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
           SUM(CAST(l_discount AS DECIMAL(8,2))) AS sy,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
           SUM(CAST(l_discount AS DECIMAL(8,2))
               * CAST(l_discount AS DECIMAL(8,2))) AS syy,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(8,2))) AS sxy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1)
           AS covar_samp_qty_disc,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
          * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
           AS corr_qty_disc
FROM s
"""


@register("agg_corr_covar", oracle=_CORR_ORACLE)
def agg_corr_covar_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and sample covariance (quantity vs discount)
    per return flag — implemented from DECIMAL-exact moment sums (n,
    Σx, Σy, Σx², Σy², Σxy) with the floating-point arithmetic confined
    to ONE fixed expression tree at the end, so Spark's and DuckDB's
    different accumulation orders cannot produce different bits (the
    built-in corr()/covar_samp() stream doubles and are NOT cross-
    engine reproducible). The columns are chosen small (qty ≤ 50,
    discount ≤ 0.1): every moment stays within 15 significant digits,
    where decimal→double conversion is EXACT in both engines — with
    wider columns (extendedprice) the >2^53 sums rounded differently
    at the last bit (measured)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_discount").cast("decimal(8,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = (sxy - sx * sy / n) / (n - 1)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return s.select(
        "l_returnflag",
        "n",
        cov.alias("covar_samp_qty_disc"),
        corr.alias("corr_qty_disc"),
    )


# ---------------------------------------------------------------------------
# dedup_pair_edit_distance — Levenshtein verification of near-dup pairs
# ---------------------------------------------------------------------------


def _edit_distance_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WINNOW_PAIRS_ORACLE

    return f"""
WITH pairs AS ({_WINNOW_PAIRS_ORACLE}),
pref AS (SELECT doc_id, substr(text, 1, 80) AS p FROM documents)
SELECT pairs.id_a, pairs.id_b, pairs.n_shared,
       CAST(levenshtein(a.p, b.p) AS INT) AS prefix_edit_distance
FROM pairs
JOIN pref a ON a.doc_id = pairs.id_a
JOIN pref b ON b.doc_id = pairs.id_b
"""


@register("dedup_pair_edit_distance", oracle=_edit_distance_oracle())
def dedup_pair_edit_distance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of winnowing candidate pairs: the
    Levenshtein distance between the two documents' 80-char prefixes —
    the cheap second-stage signal that separates true near-dups (small
    edits) from docs that merely share fingerprinted boilerplate.
    Bounded-prefix distance on candidate PAIRS only: the O(L²) DP runs
    on 80-char strings over LSH-sized pair counts, never all-pairs and
    never full documents."""
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = winnow_pairs(
        winnow_fingerprints(d, k=3, window=4), d, min_shared=3, max_df=0.2
    )
    pref = d.select("doc_id", F.substring("text", 1, 80).alias("p"))
    a = pref.select(F.col("doc_id").alias("id_a"), F.col("p").alias("pa"))
    b = pref.select(F.col("doc_id").alias("id_b"), F.col("p").alias("pb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.levenshtein("pa", "pb").alias("prefix_edit_distance"),
        )
    )


# ---------------------------------------------------------------------------
# graph_triangles — triangle counts on the near-dup graph
# ---------------------------------------------------------------------------


def _triangles_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _WINNOW_PAIRS_ORACLE

    return f"""
WITH pairs AS ({_WINNOW_PAIRS_ORACLE}),
e AS (SELECT id_a AS u, id_b AS v FROM pairs)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e ab JOIN e bc ON ab.v = bc.u
JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
"""


@register("graph_triangles", oracle=_triangles_oracle())
def graph_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup pair graph — the clustering-
    coefficient numerator that distinguishes tight duplicate cliques
    from sprawling boilerplate chains. Edges are already canonical
    (id_a < id_b), so each triangle {a<b<c} is counted exactly once by
    the two-hop join (a,b)+(b,c) closed by (a,c) — the standard
    oriented-edge algorithm that avoids counting each triangle 6x and
    keeps the heaviest join keyed on the mid vertex."""
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    # materialize the (tiny) edge list once: all three join legs read it,
    # and without the checkpoint the whole fingerprint/pair pipeline is
    # replicated per leg in the plan (same pattern as
    # connected_components' edge materialization). Lazy: the query has
    # exactly one action, which computes the edge RDD once and shares
    # it across the legs — an eager checkpoint here was an extra job.
    e = winnow_pairs(
        winnow_fingerprints(d, k=3, window=4), d, min_shared=3, max_df=0.2
    ).select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).localCheckpoint(
        eager=False
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# ev_funnel_3step — ordered multi-step funnel (signup → view → purchase)
# ---------------------------------------------------------------------------

_FUNNEL3_ORACLE = """
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN s1 ON s1.user_id = e.user_id
    WHERE e.event_type = 'view' AND e.ts > s1.t1
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN s2 ON s2.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_viewed_after,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchased_after
"""


@register("ev_funnel_3step", oracle=_FUNNEL3_ORACLE)
def ev_funnel_3step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel: users who signed up, then VIEWED strictly
    after their first signup, then PURCHASED strictly after that first
    qualifying view — the sequence-constrained funnel (each step's
    anchor is the min qualifying time of the previous step, so a
    purchase before the view does not count).

    Scale: every stage reduces to per-user rows keyed on user_id —
    three groupBys and two joins all share one user_id partitioning
    (exchange reuse); the final counts are three scalar aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "view")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(
            F.broadcast(s2.agg(F.count(F.lit(1)).alias("n_viewed_after")))
        )
        .crossJoin(
            F.broadcast(
                s3.agg(F.count(F.lit(1)).alias("n_purchased_after"))
            )
        )
    )


# ---------------------------------------------------------------------------
# ev_hourly_anomaly — z-score anomaly flags from exact integer moments
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS sc,
           CAST(SUM(c * c) AS BIGINT) AS scc
    FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour_start, h.c,
       (h.c - CAST(m.sc AS DOUBLE) / m.n)
         / sqrt((CAST(m.scc AS DOUBLE) - CAST(m.sc AS DOUBLE) * CAST(m.sc AS DOUBLE) / m.n)
                / (m.n - 1)) AS z,
       abs((h.c - CAST(m.sc AS DOUBLE) / m.n)
         / sqrt((CAST(m.scc AS DOUBLE) - CAST(m.sc AS DOUBLE) * CAST(m.sc AS DOUBLE) / m.n)
                / (m.n - 1))) > 2.0 AS is_anomaly
FROM hourly h JOIN m ON m.event_type = h.event_type
"""


@register("ev_hourly_anomaly", oracle=_ANOMALY_ORACLE)
def ev_hourly_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomaly flags per event type: each (type, hour)
    count z-scored against that type's own hourly distribution,
    |z| > 2 flagged. Moments are exact integers (counts and squares of
    counts); the float math is one fixed expression tree, so the z
    doubles hash identically across engines.

    Scale: the hourly rollup is the only fact-table shuffle; the
    per-type moment table is |types| rows and broadcast back onto it.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    n = F.col("n")
    sc = F.col("sc").cast("double")
    scc = F.col("scc").cast("double")
    z = (F.col("c") - sc / n) / F.sqrt((scc - sc * sc / n) / (n - 1))
    return (
        hourly.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "hour_start",
            "c",
            z.alias("z"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# knn_ivf_exact — oracle-checked deterministic IVF (cluster-fenced search)
# ---------------------------------------------------------------------------


def _ivf_exact_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _kmeans_oracle

    return f"""
WITH asg AS ({_kmeans_oracle()}),
norms AS (
    SELECT vec_id, sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               AS nrm
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY vec_id
),
q AS (
    SELECT e.vec_id AS query_id, e.embedding AS q_vec, a.cluster
    FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
    WHERE e.vec_id < 20
),
c AS (
    SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, a.cluster
    FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
),
dots AS (
    SELECT q.query_id, c.neighbor_id,
           SUM(CAST(q.q_vec[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE)) AS dot
    FROM q JOIN c ON q.cluster = c.cluster AND q.query_id != c.neighbor_id,
    generate_series(1, 64) t(i)
    GROUP BY q.query_id, c.neighbor_id
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           d.dot / (nq.nrm * nc.nrm) AS sim
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nc ON nc.vec_id = d.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


@register("knn_ivf_exact", oracle=_ivf_exact_oracle())
def knn_ivf_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF top-k, hash-checked end-to-end: the integer
    k-means coarse quantizer (2 Lloyd rounds, oracle-unrolled — the
    same machinery as emb_kmeans/dedup_semantic) fences the search to
    each query's own cluster (nprobe=1), exact cosine inside the fence,
    top-3 by (sim DESC, neighbor_id). Unlike the seeded MLlib-based
    ``knn_ivf_topk`` (rows-only by nature), every step here is
    deterministic, so the driver hash-compares the full IVF pipeline —
    training, assignment, fenced search, ranking.

    Scale: candidate generation is a cluster-keyed equi-join (the
    corpus never self-joins) with the query side broadcast, and the
    k-means assignment is a narrow map against driver-held centroids
    (operators.clustering), so the corpus never exchanges before the
    final per-query top-k window. The recall loss of nprobe=1 is IVF's
    documented tradeoff.
    """
    from wikidatabots_spark.operators.clustering import kmeans_int_assign
    from wikidatabots_spark.operators.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round((x.cast("double") + F.lit(1.0)) * F.lit(100.0))
            .cast("int"),
        ).alias("v"),
    )
    asg = kmeans_int_assign(qv, k=4, rounds=2, id_col="vec_id", vec_col="v")
    base = emb.join(asg, "vec_id")
    q = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("q_norm"),
        "cluster",
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("c_norm"),
        "cluster",
    )
    scored = (
        c.join(
            F.broadcast(q),
            (c["cluster"] == q["cluster"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "sim",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
        )
    )


# ---------------------------------------------------------------------------
# knn_ivf_nprobe2 — the IVF nprobe recall dial, hash-checked
# ---------------------------------------------------------------------------


def _ivf_nprobe2_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _kmeans_oracle

    return f"""
WITH asg AS ({_kmeans_oracle()}),
probes AS ({_kmeans_oracle(top_n=2)}),
norms AS (
    SELECT vec_id, sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               AS nrm
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY vec_id
),
q AS (
    SELECT e.vec_id AS query_id, e.embedding AS q_vec, p.cluster
    FROM embeddings e JOIN probes p ON p.vec_id = e.vec_id
    WHERE e.vec_id < 20
),
c AS (
    SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, a.cluster
    FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
),
dots AS (
    SELECT q.query_id, c.neighbor_id,
           SUM(CAST(q.q_vec[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE)) AS dot
    FROM q JOIN c ON q.cluster = c.cluster AND q.query_id != c.neighbor_id,
    generate_series(1, 64) t(i)
    GROUP BY q.query_id, c.neighbor_id
),
scored AS (
    SELECT d.query_id, d.neighbor_id,
           d.dot / (nq.nrm * nc.nrm) AS sim
    FROM dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nc ON nc.vec_id = d.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


@register("knn_ivf_nprobe2", oracle=_ivf_nprobe2_oracle())
def knn_ivf_nprobe2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``knn_ivf_exact`` with the RECALL DIAL turned: each query probes
    its TWO nearest coarse cells (top_clusters_expr / the oracle's
    rn<=2 probe set) instead of one — the standard IVF nprobe
    trade: ~2x candidate volume for strictly-no-worse recall (a
    candidate is generated iff its cell is among the query's probes,
    and nprobe=1's cell always is). Every candidate pair appears at
    most once because a candidate lives in exactly one cell, so no
    dedup shuffle is needed. Deterministic end to end, so the driver
    hash-checks the dial position itself — compare against
    ``knn_ivf_exact``'s rows to read the recall gain as data
    (measured at sf0.01: recall@3 vs brute force 0.57 at nprobe=1 →
    0.77 at nprobe=2).

    Scale: identical shape to nprobe=1 — the probe set is a per-query
    2-element literal-centroid expression (narrow), candidates remain
    a cluster-keyed equi-join with the query side broadcast, and the
    only corpus exchange is still the final top-k window.
    """
    from wikidatabots_spark.operators.clustering import (
        kmeans_int_fit,
        top_clusters_expr,
        with_cluster,
    )
    from wikidatabots_spark.operators.dedup import ensure_parallelism
    from wikidatabots_spark.operators.similarity import _dot, _norm

    # parallelism guard (r14): the single-file embedding scan otherwise
    # pins every leg (kmeans fit jobs, the candidate dot-product side)
    # to one task; no-op at cluster scale
    emb = ensure_parallelism(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    )
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round((x.cast("double") + F.lit(1.0)) * F.lit(100.0))
            .cast("int"),
        ).alias("v"),
    )
    cent = kmeans_int_fit(qv, k=4, rounds=2, id_col="vec_id", vec_col="v")
    asg = with_cluster(qv, cent, "v").select("vec_id", "cluster")
    base = emb.join(asg, "vec_id")
    q = (
        emb.join(qv, "vec_id")
        .where(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            _norm(F.col("embedding")).alias("q_norm"),
            F.explode(top_clusters_expr("`v`", cent, 2)).alias("cluster"),
        )
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("c_norm"),
        "cluster",
    )
    scored = (
        c.join(
            F.broadcast(q),
            (c["cluster"] == q["cluster"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "sim",
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
        )
    )


# ---------------------------------------------------------------------------
# curate_corpus_incremental — day-2 curation against day-1 indexes
# ---------------------------------------------------------------------------


def _curate_incremental_oracle() -> str:
    from wikidatabots_spark.operators.dedup import BAND_BUCKET_CAP
    from wikidatabots_spark.plans.extensions import (
        _LANGID_ORACLE,
        _MINHASH_STACKED_SQL,
        _QUALITY_ORACLE,
        _TOK_SQL,
    )

    return f"""
WITH {_TOK_SQL},
{_MINHASH_STACKED_SQL.strip().rstrip()},
old_index AS (
    SELECT doc_id, band_idx, band_hash FROM (
        SELECT doc_id, band_idx, band_hash,
               row_number() OVER (PARTITION BY band_idx, band_hash
                                  ORDER BY doc_id) AS rk
        FROM stacked WHERE doc_id % 2 = 0
    ) WHERE rk <= {BAND_BUCKET_CAP}
),
new_anchors AS (
    SELECT doc_id, band_idx, band_hash FROM (
        SELECT doc_id, band_idx, band_hash,
               row_number() OVER (PARTITION BY band_idx, band_hash
                                  ORDER BY doc_id) AS rk
        FROM stacked WHERE doc_id % 2 = 1
    ) WHERE rk <= {BAND_BUCKET_CAP}
),
old_md5 AS (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
),
new_docs AS (
    SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
),
exact_drop AS (
    SELECT n.doc_id FROM new_docs n
    WHERE n.h IN (SELECT h FROM old_md5)
       OR EXISTS (SELECT 1 FROM new_docs m
                  WHERE m.h = n.h AND m.doc_id < n.doc_id)
),
near_cross AS (
    SELECT n.doc_id FROM stacked n JOIN old_index o
      ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
    WHERE n.doc_id % 2 = 1
    GROUP BY n.doc_id, o.doc_id HAVING COUNT(*) >= 2
),
near_within AS (
    SELECT b.doc_id FROM new_anchors a JOIN stacked b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    WHERE b.doc_id % 2 = 1
    GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
),
qual AS ({_QUALITY_ORACLE}),
lng AS ({_LANGID_ORACLE})
SELECT n.doc_id, n.source, q.quality
FROM new_docs n
JOIN qual q ON q.doc_id = n.doc_id
JOIN lng l ON l.doc_id = n.doc_id
WHERE n.doc_id NOT IN (SELECT doc_id FROM exact_drop)
  AND n.doc_id NOT IN (SELECT doc_id FROM near_cross)
  AND n.doc_id NOT IN (SELECT doc_id FROM near_within)
  AND q.quality >= 0.5 AND l.lang_guess = 'en'
"""


@register("curate_corpus_incremental", oracle=_curate_incremental_oracle())
def curate_corpus_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 curation: the odd-id half is today's delivery, curated
    WITHOUT recomputing anything about the even-id corpus beyond its
    persisted indexes — the md5 content index and the MinHash band
    index. A new doc is dropped if its content hash is already indexed
    (or a lower-id batch-mate shares it), if it shares ≥2 LSH bands
    with any indexed doc (or a lower-id batch-mate), or if it fails the
    quality/language gates. Output: the surviving new docs.

    The cost asymmetry is the point: at production scale the daily
    batch is ~0.1% of the corpus — this plan pays signature + gate cost
    on the BATCH only, probing the corpus-side indexes with equi-joins
    (bucketed on disk in production, making the corpus side
    exchange-free). Re-curating the whole corpus daily — what the
    non-incremental pipelines do — is a 1000x waste at that ratio.
    """
    from wikidatabots_spark.operators.dedup import (
        ensure_parallelism,
        minhash_band_table,
    )
    from wikidatabots_spark.operators.textstats import (
        with_lang_guess,
        with_quality,
    )

    d = load_table(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)
    old_md5 = old.select(F.md5("text").alias("h")).distinct()
    new_h = new.select("doc_id", F.md5("text").alias("h"))
    exact_cross = new_h.join(old_md5, "h").select("doc_id")
    within_min = new_h.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    exact_within = (
        new_h.join(within_min, "h")
        .where(F.col("doc_id") != F.col("first_id"))
        .select("doc_id")
    )
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import cap_band_buckets

    # the persisted index is bucket-capped (see dedup_incremental_index:
    # linear probe fan-out on boilerplate clusters); the kept members
    # include each bucket minimum so the ≥2-band drop rule still sees
    # every historical cluster
    old_bands = cap_band_buckets(minhash_band_table(old))
    # the batch's band table feeds THREE legs (the cross-index probe and
    # both sides of the within-batch self-join): fence it so signatures
    # are computed once, not three times
    new_bands = pushdown_fence(minhash_band_table(new))
    near_cross = (
        new_bands.join(
            old_bands.select(
                F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .groupBy("doc_id", "old_id")
        .agg(F.count(F.lit(1)).alias("nb"))
        .where(F.col("nb") >= 2)
        .select("doc_id")
    )
    near_within = (
        # anchor rule on the within-batch self-join: only the cap lowest
        # ids per bucket emit as the left side (bounded pair output)
        cap_band_buckets(new_bands)
        .select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
        .join(
            new_bands.select(
                F.col("doc_id").alias("id_b"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nb"))
        .where(F.col("nb") >= 2)
        .select(F.col("id_b").alias("doc_id"))
    )
    scored = with_lang_guess(
        with_quality(ensure_parallelism(new, "doc_id"))
    ).select("doc_id", "source", "quality", "lang_guess")
    return (
        scored.join(exact_cross, "doc_id", "left_anti")
        .join(exact_within, "doc_id", "left_anti")
        .join(near_cross, "doc_id", "left_anti")
        .join(near_within, "doc_id", "left_anti")
        .where((F.col("quality") >= 0.5) & (F.col("lang_guess") == "en"))
        .select("doc_id", "source", "quality")
    )


# ---------------------------------------------------------------------------
# corpus_ccnet_buckets — head/middle/tail LM-quality terciles per source
# ---------------------------------------------------------------------------


def _ccnet_buckets_oracle() -> str:
    return f"""
WITH lm AS ({_LM_ORACLE}),
ranked AS (
    SELECT d.doc_id, d.source, lm.lm_score,
           CAST(row_number() OVER (PARTITION BY d.source
                                   ORDER BY lm.lm_score DESC NULLS LAST,
                                            d.doc_id) AS BIGINT) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT) AS n
    FROM documents d JOIN lm ON lm.doc_id = d.doc_id
)
SELECT doc_id, source,
       CASE ((rk - 1) * 3) // n
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END
           AS bucket,
       lm_score
FROM ranked
"""


@register("corpus_ccnet_buckets", oracle=_ccnet_buckets_oracle())
def corpus_ccnet_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature output shape: every document assigned to the
    head / middle / tail LM-quality tercile OF ITS SOURCE (exact-rank
    integer cut, no percentile interpolation; docs with no bigrams sort
    last deterministically). Downstream recipes train on head+middle or
    reweight by bucket — this is the table those decisions read.

    Scale: the LM scorer is the audited text_lm_score shape; the
    tercile is one per-source window over (id, score) rows.
    """
    from wikidatabots_spark.operators.lm import with_lm_score

    d = load_table(spark, sf_dir, "documents")
    scored = with_lm_score(d).select("doc_id", "lm_score").join(
        d.select("doc_id", "source"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lm_score").desc_nulls_last(), F.col("doc_id")
    )
    ranked = scored.select(
        "doc_id",
        "source",
        "lm_score",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("n"),
    )
    return ranked.select(
        "doc_id",
        "source",
        F.when(F.expr("((rk - 1) * 3) DIV n") == 0, F.lit("head"))
        .when(F.expr("((rk - 1) * 3) DIV n") == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "lm_score",
    )


# ---------------------------------------------------------------------------
# stats_regression — per-group OLS from exact moment sums
# ---------------------------------------------------------------------------

_REGR_ORACLE = """
WITH s AS (
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
           SUM(CAST(l_tax AS DECIMAL(8,2))) AS sy,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
           SUM(CAST(l_tax AS DECIMAL(8,2))
               * CAST(l_tax AS DECIMAL(8,2))) AS syy,
           SUM(CAST(l_quantity AS DECIMAL(12,2))
               * CAST(l_tax AS DECIMAL(8,2))) AS sxy
    FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, n,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
           AS reg_slope,
       CAST(sy AS DOUBLE) / n
         - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
          / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n))
           * (CAST(sx AS DOUBLE) / n)
           AS reg_intercept,
       ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n))
         / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
          * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
           AS reg_r2
FROM s
"""


@register("stats_regression", oracle=_REGR_ORACLE)
def stats_regression_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (tax on quantity, grouped by
    returnflag x linestatus): slope, intercept, and R² computed from
    DECIMAL-exact moment sums (n, Σx, Σy, Σx², Σy², Σxy) with the
    floating-point arithmetic confined to ONE fixed expression tree at
    the end — the ``agg_corr_covar`` reproducibility discipline. Both
    engines ship built-in regr_slope/regr_intercept/regr_r2, but those
    stream doubles in engine-specific accumulation order and are NOT
    bit-reproducible across engines; the moment-sum form is, and it is
    also the MERGEABLE-PARTIAL shape (six additive sums) an
    incremental or distributed maintenance path needs anyway: map-side
    combine reduces each partition to six numbers per group, one
    exchange of group-count rows finishes the job — the same plan at
    100 TB. Columns are chosen small (qty <= 50, tax <= 0.08) so every
    moment stays within 15 significant digits where decimal->double
    conversion is exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_tax").cast("decimal(8,2)")
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxy_c = sxy - sx * sy / n
    sxx_c = sxx - sx * sx / n
    syy_c = syy - sy * sy / n
    slope = sxy_c / sxx_c
    intercept = sy / n - (sxy_c / sxx_c) * (sx / n)
    r2 = (sxy_c * sxy_c) / (sxx_c * syy_c)
    return s.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        slope.alias("reg_slope"),
        intercept.alias("reg_intercept"),
        r2.alias("reg_r2"),
    )
