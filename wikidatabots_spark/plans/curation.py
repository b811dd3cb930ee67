"""End-to-end corpus curation: the composed production pipeline a
training-data run actually executes, as oracle-checked queries.

One builder, :func:`curate`, runs these stages in order; each registered
``curate_corpus`` version is a configuration of it (table at the end):

1. exact dedup — the lowest doc_id per md5(text)
2. near-dup    — SimHash equality (v1), or winnowing pairs → connected
                 components, keeping each component's min id (v2+)
3. gates       — quality + language; repetition (v2+); a classifier
                 (v3+: the stand-in, or the self-trained NB in v7/v8)
4. drops       — SemDeDup over the embeddings (v4+), DSIR (v8)
5. LM polish   — the survivors' bottom quarter by LM score (v5+)
6. output      — gate features + split (v1, v2), or a mixture with
                 epochs (fixed weights v3-v5, temperature v6+) + split

The split is a deterministic md5 bucket (train/holdout 90/10), the same
content-hash Bernoulli as ``sample_hash``: re-runs and backfills select
identical rows. Dedup shuffles only (hash, id) pairs, never text; a
frame two consumers read is fenced once. Each oracle reproduces its
whole pipeline in DuckDB; from v4 on it is the predecessor's program
plus asserted single-site splices, so the diff between two versions'
oracles is exactly the stage the later one adds.

No reference counterpart (north-star extension; the reference's closest
shape is its dedupe-then-filter-then-emit pipelines, wd_tmdb.py:214-262).
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Sequence
from functools import cached_property, partial, reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.functions.scale import bucketed_global_rank, pushdown_fence
from wikidatabots_spark.operators.dedup import (
    connected_components,
    simhash,
    winnow_fingerprints,
    winnow_pairs,
)
from wikidatabots_spark.operators.lm import with_lm_score
from wikidatabots_spark.operators.mixture import mix_epochs, mix_temperature
from wikidatabots_spark.operators.similarity import semdedup_flags
from wikidatabots_spark.operators.textstats import (
    bucket_occurrences,
    gate_feature_counts,
    gate_features_from_counts,
    score_hashed_nb,
    train_hashed_nb,
)
from wikidatabots_spark.plans.extensions import (
    _LANGID_ORACLE,
    _QUALITY_ORACLE,
    _simhash_oracle,
)
from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table

# split threshold: first 4 md5 hex digits of 'split:'||doc_id, 90% train
_SPLIT_FRAC = 0.9
_SPLIT_CUT = int(_SPLIT_FRAC * 65536)


def split_bucket() -> Column:
    """The content-hash split bucket of ``doc_id``: the first four hex
    digits of md5('split:' || doc_id) as an integer in [0, 65536)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")


def _split() -> Column:
    return F.when(split_bucket() < _SPLIT_CUT, F.lit("train")).otherwise(
        F.lit("holdout")
    )


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------


class Corpus:
    """What the stages read: the session, the documents table, and the
    hashed-occurrence table, built by ``occurrences`` on first use and
    fenced once so every stage that reads it shares one text pass."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        occurrences: Callable[[DataFrame], DataFrame] = bucket_occurrences,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.docs = load_table(spark, sf_dir, "documents")
        self._occurrences = occurrences

    @cached_property
    def occ(self) -> DataFrame:
        return pushdown_fence(self._occurrences(self.docs))


def exact_survivors(d: DataFrame) -> DataFrame:
    """Lowest id per content hash — only (hash, id) pairs shuffle, the
    text column stays in the scan stage."""
    return (
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def simhash_survivors(d: DataFrame) -> DataFrame:
    """Exact survivors that are also the lowest id of their SimHash
    fingerprint."""
    near = (
        simhash(d)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return exact_survivors(d).join(near, "doc_id")


def component_survivors(d: DataFrame) -> DataFrame:
    """Exact survivors minus every non-canonical member of a winnowing
    near-dup component: a pair chain collapses to ONE doc, its min id."""
    fps = winnow_fingerprints(d, k=3, window=4)
    # relative max_df fences hot boilerplate fingerprints before the
    # f²-prone self-join (the r3 skew-bomb finding); oracle has the cut too
    pairs = winnow_pairs(fps, d, min_shared=3, max_df=0.2)
    dup_nodes = (
        connected_components(pairs)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    return exact_survivors(d).join(dup_nodes, "doc_id", "left_anti")


def _nb_keep(c: Corpus, scored: DataFrame) -> DataFrame:
    """Ids the SELF-TRAINED hashed-NB model keeps: trained on the
    quality≥0.5 label, scored via the broadcast model; train and score
    read the corpus' one fenced occurrence table."""
    occ = c.occ.select("doc_id", "bucket", "cnt")
    labels = scored.select("doc_id", (F.col("quality") >= 0.5).alias("label"))
    model = train_hashed_nb(c.docs, occ=occ, labels=labels)
    return (
        score_hashed_nb(c.docs.select("doc_id"), model, occ=occ)
        .where(F.col("keep"))
        .select("doc_id")
    )


class Gate(NamedTuple):
    """One gate: the fused-kernel feature columns it reads, its row
    predicates over them, and — for a gate a trained model decides —
    the stage returning the ids it keeps."""

    cols: tuple[str, ...]
    conds: Callable[[], list[Column]]
    keep: Callable[[Corpus, DataFrame], DataFrame] | None = None


QUALITY = Gate(
    ("lang_guess", "quality"),
    lambda: [F.col("quality") >= 0.5, F.col("lang_guess") == "en"],
)
REPETITION = Gate(
    ("type_token_ratio", "dup_2gram_frac"),
    lambda: [F.col("dup_2gram_frac") <= 0.05, F.col("type_token_ratio") >= 0.35],
)
STANDIN_CLASSIFIER = Gate(
    ("cls_score",), lambda: [F.coalesce(F.col("cls_score") >= 0.0, F.lit(False))]
)
# the kernel computes the stand-in score with the other features; the
# trained gate keeps it in the fenced frame but decides by the model
TRAINED_CLASSIFIER = Gate(("cls_score",), lambda: [], keep=_nb_keep)


def gate_stack(
    c: Corpus,
    gates: Sequence[Gate],
    near_dup: Callable[[DataFrame], DataFrame] = component_survivors,
    drops: Sequence[Callable[[Corpus], DataFrame]] = (),
    features: bool = False,
) -> DataFrame:
    """Near-dup survivors that pass every gate and no drop stage: the
    rows carry the gate features with ``features``, else (doc_id,
    source).

    ``gate_feature_counts`` computes every gate counter over a single
    tokenize and ``gate_features_from_counts`` reassembles the builders'
    own feature expression trees over those integers — bit-identical
    features, parity-pinned in tests/test_operators.py.
    The fence is required: without it Catalyst substitutes the
    HOF-heavy score definitions into the gate predicate (measured 20x).
    """
    keep_cols = () if features else ("source",)
    scored = pushdown_fence(
        gate_features_from_counts(gate_feature_counts(c.docs, keep_cols=keep_cols))
        .select("doc_id", *keep_cols, *[col for g in gates for col in g.cols])
    )
    docs = (
        near_dup(c.docs)
        .join(scored, "doc_id")
        .where(reduce(operator.and_, [p for g in gates for p in g.conds()]))
    )
    if features:
        return docs
    docs = docs.select("doc_id", "source")
    for g in gates:
        if g.keep is not None:
            docs = docs.join(g.keep(c, scored), "doc_id", "left_semi")
    for drop in drops:
        docs = docs.join(drop(c), "doc_id", "left_anti")
    return docs


def semdedup_drop(c: Corpus) -> DataFrame:
    """Ids whose embedding (embeddings.vec_id = doc_id, where one exists)
    SemDeDup flags as a semantic duplicate; docs without an embedding
    pass. 0.3 is deliberately aggressive (diversity pruning, not just
    near-dup removal) so the cross-table gate provably fires on the test
    corpus — the oracle then pins the anti-join, not a vacuous no-op."""
    return (
        semdedup_flags(
            load_table(c.spark, c.sf_dir, "embeddings"), k=4, rounds=2, threshold=0.3
        )
        .where(~F.col("is_kept"))
        .select(F.col("vec_id").alias("doc_id"))
    )


def _dsir_occurrences(d: DataFrame) -> DataFrame:
    """The DSIR (doc_id, source, bucket, cnt) table: the same
    ``_token_bucket`` feature space as ``bucket_occurrences``, so the
    trained classifier can read it with source projected away."""
    from wikidatabots_spark.plans.llmdata import dsir_occurrences

    return dsir_occurrences(d.select("doc_id", "source", "text"))


def dsir_drop(c: Corpus) -> DataFrame:
    """Raw-pool ids whose PER-TOKEN DSIR affinity is below the raw
    pool's overall per-token rate (target-source docs pass). The raw
    importance SUM is length-correlated — with it, 38 of v7's 40 sf0.01
    survivors died because quality gates favor long docs — so the gate
    compares imp_i·Σn ≥ n_i·Σimp, the integer cross-multiply of
    per-token averages, no division anywhere.

    The cross-multiply stays inside BIGINT at the tested SFs (|imp|
    ≲ 5e7, pool tokens ≲ 1.5e6 → products ≲ 1e14); at 10^11-doc pools
    Σn/Σimp outgrow the product headroom — there the gate compares
    floor-div ppm per-token averages instead (one div per side, still
    engine-exact), a data change not a shape change."""
    from wikidatabots_spark.plans.llmdata import dsir_scores

    sc = pushdown_fence(
        dsir_scores(c.docs.select("doc_id", "source", "text"), occ=c.occ)
    )
    stats = sc.agg(
        F.sum("imp_ppm").cast("long").alias("s_imp"),
        F.sum("n_tok").cast("long").alias("s_tok"),
    )
    return (
        sc.crossJoin(F.broadcast(stats))
        .where(F.col("imp_ppm") * F.col("s_tok") < F.col("n_tok") * F.col("s_imp"))
        .select("doc_id")
    )


def lm_drop(lm_scored: DataFrame, gated: DataFrame) -> DataFrame:
    """The LM polish: rank the GATED survivor set by LM score and drop
    its bottom quarter (exact rank, n div 4). Relative-to-survivors —
    an absolute threshold or a whole-corpus percentile is structurally
    vacuous on a heavily-gated set (measured: the corpus-level
    bottom-10% band had zero overlap with the 5-doc survivor set at
    sf0.001) — and adaptive, so the gate provably fires at any scale
    with ≥4 survivors.

    The rank rides :func:`bucketed_global_rank` (VERDICT r5 next #1):
    production gate stacks keep tens of percent of the corpus, so the
    survivor set is NOT safely one-partition-sized — the two-phase form
    keeps every fact-table window partitioned by the lm_score bucket
    (~1k ledger rows over the [0, 1e6] ppm range) and the count is a
    broadcast 1-row aggregate instead of an unbounded global window.
    NULL lm_scores (< 2-word docs) bucket below the real range,
    matching Spark's ASC NULLS FIRST placement."""
    # fence: the scored survivor frame feeds the ledger aggregate, the
    # fact-side rank join, AND the count — unfenced, the bigram-LM
    # scoring pipeline would execute three times
    joined = pushdown_fence(gated.select("doc_id").join(lm_scored, "doc_id"))
    n = joined.agg(F.count(F.lit(1)).cast("long").alias("n_gated"))
    ranked = bucketed_global_rank(
        joined,
        bucket=F.floor(
            F.coalesce(F.col("lm_score"), F.lit(-1024.0)) / F.lit(1024.0)
        ),
        order=[F.col("lm_score").asc(), F.col("doc_id").asc()],
        rn="lrn",
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .where(F.col("lrn") <= F.expr("n_gated div 4"))
        .select("doc_id")
    )


def fixed_mix(gated: DataFrame) -> DataFrame:
    """Integer-weight target mixture: starve src0, 9x src1, every other
    source 3."""
    return mix_epochs(
        gated, key="doc_id", strata="source",
        weights={"src0": 1, "src1": 9}, default_weight=3,
    )


def temperature_mix(gated: DataFrame) -> DataFrame:
    """Data-derived mixture: shares proportional to sqrt of each
    source's surviving count — no weight list to maintain."""
    return mix_temperature(gated, key="doc_id", strata="source")


def curate(
    spark: SparkSession,
    sf_dir: str,
    *,
    gates: Sequence[Gate],
    near_dup: Callable[[DataFrame], DataFrame] = component_survivors,
    drops: Sequence[Callable[[Corpus], DataFrame]] = (),
    occurrences: Callable[[DataFrame], DataFrame] = bucket_occurrences,
    lm_polish: bool = False,
    mix: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The curation pipeline: ``near_dup`` survivors → ``gates`` →
    ``drops`` → LM polish (``lm_polish``) → ``mix`` → split. Without a
    mixture the gated rows keep their gate features and gain the split
    column; with one the output is (doc_id, source, epoch, split).
    ``occurrences`` builds the hashed-occurrence table the trained
    classifier (and the DSIR drop) read."""
    c = Corpus(spark, sf_dir, occurrences)
    docs = gate_stack(c, gates, near_dup, drops, features=mix is None)
    if mix is None:
        return docs.withColumn("split", _split())
    if lm_polish:
        # fence the survivor set: BOTH the LM rank branch and the final
        # anti-join read it — unfenced, the whole gate + drop subtree
        # executed twice (measured ~+4 s at sf0.1). score_ids: only
        # survivor scores are consumed, the model still trains on the
        # full corpus
        docs = pushdown_fence(docs)
        lmdrop = lm_drop(with_lm_score(c.docs, score_ids=docs), docs)
        docs = docs.join(lmdrop, "doc_id", "left_anti")
    # the mixture reads its input TWICE — once for the per-source rate
    # counts, once as the fact side — so fence it: without it the whole
    # upstream gate stack re-derives per branch (measured 4.68 → 3.88 s
    # min on v3 at sf0.1, and the pass spread tightened)
    return mix(pushdown_fence(docs)).select(
        "doc_id", "source", "epoch", _split().alias("split")
    )


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _splice(sql: str, anchor: str, new: str) -> str:
    """Replace the one ``anchor`` in an oracle program by ``new``; the
    anchor must occur exactly once, so a moved CTE fails loudly."""
    assert sql.count(anchor) == 1, f"oracle anchor moved: {anchor!r}"
    return sql.replace(anchor, new)


_CURATE_ORACLE = f"""
WITH qual AS ({_QUALITY_ORACLE}),
lng AS ({_LANGID_ORACLE}),
fp AS ({_simhash_oracle()}),
exact_canon AS (
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(text)
),
near_canon AS (
    SELECT MIN(doc_id) AS doc_id
    FROM fp
    GROUP BY simhash
),
survivors AS (
    SELECT e.doc_id FROM exact_canon e JOIN near_canon n USING (doc_id)
),
bucket AS (
    SELECT doc_id,
           (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
         + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS b
    FROM documents
)
SELECT s.doc_id,
       lng.lang_guess,
       qual.quality,
       CASE WHEN bucket.b < {_SPLIT_CUT} THEN 'train' ELSE 'holdout' END AS split
FROM survivors s
JOIN qual ON qual.doc_id = s.doc_id
JOIN lng ON lng.doc_id = s.doc_id
JOIN bucket ON bucket.doc_id = s.doc_id
WHERE qual.quality >= 0.5 AND lng.lang_guess = 'en'
"""


_SPLIT_BUCKET_SQL = """
    (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
  + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
  + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
  + (strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
"""


def _curate_v2_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _REPETITION_ORACLE,
        _WINNOW_PAIRS_ORACLE,
    )

    return f"""
WITH RECURSIVE
qual AS ({_QUALITY_ORACLE}),
lng AS ({_LANGID_ORACLE}),
rep AS ({_REPETITION_ORACLE}),
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
survivors AS (
    SELECT doc_id FROM exact_canon
    WHERE doc_id NOT IN (SELECT node FROM dup_nodes)
),
bucket AS (
    SELECT doc_id, {_SPLIT_BUCKET_SQL} AS b FROM documents
)
SELECT s.doc_id, lng.lang_guess, qual.quality,
       rep.type_token_ratio, rep.dup_2gram_frac,
       CASE WHEN bucket.b < {_SPLIT_CUT} THEN 'train' ELSE 'holdout' END AS split
FROM survivors s
JOIN qual ON qual.doc_id = s.doc_id
JOIN lng ON lng.doc_id = s.doc_id
JOIN rep ON rep.doc_id = s.doc_id
JOIN bucket ON bucket.doc_id = s.doc_id
WHERE qual.quality >= 0.5 AND lng.lang_guess = 'en'
  AND rep.dup_2gram_frac <= 0.05 AND rep.type_token_ratio >= 0.35
"""


_MIX_BUCKET_SQL = """
    (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
  + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
  + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
  + (strpos('0123456789abcdef', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
"""

# integer-weight target mixture: starve src0, 9x src1, everything else 3
_MIX_ORACLE = f"""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(CASE WHEN source = 'src0' THEN 1
                     WHEN source = 'src1' THEN 9
                     ELSE 3 END AS BIGINT) AS wt
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


def _curate_v3_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _CLS_ORACLE,
        _REPETITION_ORACLE,
        _WINNOW_PAIRS_ORACLE,
    )

    return f"""
WITH RECURSIVE
qual AS ({_QUALITY_ORACLE}),
lng AS ({_LANGID_ORACLE}),
rep AS ({_REPETITION_ORACLE}),
cls AS ({_CLS_ORACLE}),
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
survivors AS (
    SELECT doc_id FROM exact_canon
    WHERE doc_id NOT IN (SELECT node FROM dup_nodes)
),
gated AS (
    SELECT s.doc_id, d.source
    FROM survivors s
    JOIN qual ON qual.doc_id = s.doc_id
    JOIN lng ON lng.doc_id = s.doc_id
    JOIN rep ON rep.doc_id = s.doc_id
    JOIN cls ON cls.doc_id = s.doc_id
    JOIN documents d ON d.doc_id = s.doc_id
    WHERE qual.quality >= 0.5 AND lng.lang_guess = 'en'
      AND rep.dup_2gram_frac <= 0.05 AND rep.type_token_ratio >= 0.35
      AND cls.keep
),
counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(CASE WHEN source = 'src0' THEN 1
                     WHEN source = 'src1' THEN 9
                     ELSE 3 END AS BIGINT) AS wt
    FROM gated GROUP BY source
),
tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(SUM(wt) AS BIGINT) AS w
    FROM counts
),
rates AS (
    SELECT source, (wt * t * 65536) // (w * cnt) AS k FROM counts, tot
),
mixdocs AS (
    SELECT g.doc_id, g.source, {_MIX_BUCKET_SQL.replace("doc_id", "g.doc_id")} AS b
    FROM gated g
),
expanded AS (
    SELECT m.doc_id, m.source,
           r.k // 65536 + CASE WHEN m.b < r.k % 65536 THEN 1 ELSE 0 END AS n
    FROM mixdocs m JOIN rates r USING (source)
),
final AS (
    SELECT doc_id, source,
           CAST(UNNEST(generate_series(1, n)) AS BIGINT) AS epoch
    FROM expanded WHERE n >= 1
),
bucket AS (
    SELECT doc_id, {_SPLIT_BUCKET_SQL} AS b FROM documents
)
SELECT f.doc_id, f.source, f.epoch,
       CASE WHEN bucket.b < {_SPLIT_CUT} THEN 'train' ELSE 'holdout' END AS split
FROM final f JOIN bucket ON bucket.doc_id = f.doc_id
"""


def _curate_v4_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _semdedup_oracle

    v4 = _splice(
        _curate_v3_oracle(),
        "\ngated AS (",
        f"""
sem AS ({_semdedup_oracle(0.3)}),
semdrop AS (SELECT vec_id AS doc_id FROM sem WHERE NOT is_kept),
gated AS (""",
    )
    gate = "      AND cls.keep\n"
    return _splice(
        v4, gate, gate + "      AND s.doc_id NOT IN (SELECT doc_id FROM semdrop)\n"
    )


def _curate_v5_oracle() -> str:
    from wikidatabots_spark.plans.extensions import _CLS_ORACLE
    from wikidatabots_spark.plans.llmdata import _LM_ORACLE

    cls = f"cls AS ({_CLS_ORACLE}),\n"
    v5 = _splice(_curate_v4_oracle(), cls, f"{cls}lm AS ({_LM_ORACLE}),\n")
    v5 = _splice(v5, "\ngated AS (", "\ngated4 AS (")
    return _splice(
        v5,
        "),\ncounts AS (",
        """),
lmranked AS (
    SELECT g.doc_id,
           row_number() OVER (ORDER BY l.lm_score, l.doc_id) AS lrn,
           COUNT(*) OVER () AS n_gated
    FROM gated4 g JOIN lm l ON l.doc_id = g.doc_id
),
lmdrop AS (SELECT doc_id FROM lmranked WHERE lrn <= n_gated // 4),
gated AS (
    SELECT * FROM gated4
    WHERE doc_id NOT IN (SELECT doc_id FROM lmdrop)
),
counts AS (""",
    )


_V5_WT_SQL = """CAST(CASE WHEN source = 'src0' THEN 1
                     WHEN source = 'src1' THEN 9
                     ELSE 3 END AS BIGINT) AS wt"""
_V6_WT_SQL = "CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS wt"


def _curate_v6_oracle() -> str:
    return _splice(_curate_v5_oracle(), _V5_WT_SQL, _V6_WT_SQL)


def _curate_v7_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _CLS_ORACLE,
        _CLS_TRAINED_ORACLE,
    )

    return _splice(
        _curate_v6_oracle(),
        f"cls AS ({_CLS_ORACLE})",
        f"cls AS ({_CLS_TRAINED_ORACLE})",
    )


def _curate_v8_oracle() -> str:
    from wikidatabots_spark.plans.llmdata import _DSIR_SC_CTES

    # splice 1: the DSIR scoring CTEs (dsir_-prefixed, collision-free)
    # ahead of the semdedup CTE
    anchor = "sem AS ("
    v8 = _splice(
        _curate_v7_oracle(),
        anchor,
        f"""{_DSIR_SC_CTES},
dsir_ntok AS (
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok
    FROM dsir_occ WHERE source <> 'src0' GROUP BY doc_id
),
dsir_stats AS (
    SELECT CAST(SUM(s.imp_ppm) AS BIGINT) AS s_imp,
           CAST(SUM(n.n_tok) AS BIGINT) AS s_tok
    FROM dsir_sc s JOIN dsir_ntok n USING (doc_id)
),
dsir_drop AS (
    SELECT s.doc_id FROM dsir_sc s JOIN dsir_ntok n USING (doc_id), dsir_stats
    WHERE s.imp_ppm * dsir_stats.s_tok < n.n_tok * dsir_stats.s_imp
),
{anchor}""",
    )
    # splice 2: the gate itself, right after the semdedup anti-membership
    gate = "AND s.doc_id NOT IN (SELECT doc_id FROM semdrop)"
    return _splice(
        v8, gate, gate + "\n      AND s.doc_id NOT IN (SELECT doc_id FROM dsir_drop)"
    )


# ---------------------------------------------------------------------------
# the registered versions: one configuration each, every version its
# predecessor plus the stage its oracle splices in
# ---------------------------------------------------------------------------

STANDIN_GATES = (QUALITY, REPETITION, STANDIN_CLASSIFIER)
TRAINED_GATES = (QUALITY, REPETITION, TRAINED_CLASSIFIER)

_V1 = dict(near_dup=simhash_survivors, gates=(QUALITY,))
_V2 = dict(gates=(QUALITY, REPETITION))
_V3 = dict(gates=STANDIN_GATES, mix=fixed_mix)
_V4 = dict(_V3, drops=(semdedup_drop,))
_V5 = dict(_V4, lm_polish=True)
_V6 = dict(_V5, mix=temperature_mix)
_V7 = dict(_V6, gates=TRAINED_GATES)
_V8 = dict(_V7, drops=(semdedup_drop, dsir_drop), occurrences=_dsir_occurrences)

register("curate_corpus", oracle=_CURATE_ORACLE)(partial(curate, **_V1))
register("curate_corpus_v2", oracle=_curate_v2_oracle())(partial(curate, **_V2))
register("curate_corpus_v3", oracle=_curate_v3_oracle())(partial(curate, **_V3))
register("curate_corpus_v4", oracle=_curate_v4_oracle())(partial(curate, **_V4))
register("curate_corpus_v5", oracle=_curate_v5_oracle())(partial(curate, **_V5))
register("curate_corpus_v6", oracle=_curate_v6_oracle())(partial(curate, **_V6))
register("curate_corpus_v7", oracle=_curate_v7_oracle())(partial(curate, **_V7))
register("curate_corpus_v8", oracle=_curate_v8_oracle())(partial(curate, **_V8))


@register("corpus_mix_epochs", oracle=_MIX_ORACLE)
def corpus_mix_epochs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling with epochs: integer-weight target
    shares per source; over-represented sources are hash-down-sampled,
    under-represented ones repeat documents (epoch column). All-integer
    rate math — the oracle reproduces every copy count exactly."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return fixed_mix(d).select("doc_id", "source", "epoch")
