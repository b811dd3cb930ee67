"""Hashed n-gram language-model quality scoring (CCNet-style).

CCNet (Wenzek et al., LREC '20) and the Gopher/LLaMA data pipelines rank
web documents by the perplexity of a small n-gram LM: text whose word
transitions are common in the corpus reads like prose; text full of
never-seen transitions is boilerplate, menus, code soup, or another
language. This module implements that signal Spark-first and
*engine-exact*:

- the LM is a **smoothed bigram table** trained on the corpus itself
  (self-scoring — the same estimator CCNet uses, just without a
  pre-trained external model, which this container cannot ship);
- every probability is an **integer**: score(w1 w2) =
  (1_000_000 * c(w1 w2)) div (c(w1 ·) + ALPHA) — a scaled conditional
  frequency in parts-per-million with an additive pseudo-count on the
  head marginal, floor-divided, so any engine reproduces it bit-for-bit
  (the DuckDB oracle does). The pseudo-count matters: an UNsmoothed
  self-trained MLE scores every singleton transition 1.0 (a word-salad
  document of never-seen words would look perfectly predictable); the
  shrinkage dings transitions whose head barely occurs, so documents
  built from corpus-typical language outrank one-off noise — the
  ranking CCNet's reference-corpus perplexity produces;
- a document's ``lm_score`` is the mean of its bigram scores — one IEEE
  division of two exact integers, cross-engine deterministic. Higher =
  more predictable text. (A real perplexity would sum logs; the mean
  scaled frequency is monotone-comparable for ranking and stays exact.)

Scale shape (the 100 TB story):

- bigram occurrences ship as 8-byte xxhash64 keys the moment they
  leave the row — the count shuffle carries (head_key, bigram_key)
  partials, never strings;
- the conditional-frequency table is computed once per *distinct*
  bigram (vocab²-bounded, zipf-truncated in practice — millions of
  rows, not trillions), via a window sum over the head key that reuses
  the groupBy exchange prefix;
- scoring is one equi-join of occurrences against the model keyed on
  the bigram hash (AQE picks broadcast when the model is small, and
  skew-splits hot stopword bigrams when it is not) plus one groupBy on
  doc_id. No Python anywhere.

Reference anchor: no counterpart (north-star text-analysis extension;
BASELINE.json). Hash-key-vs-string-oracle tradeoff documented at
``operators.dedup.ngram_jaccard_pairs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wikidatabots_spark.operators.dedup import ensure_parallelism
from wikidatabots_spark.operators.textstats import _words_sql

LM_SCALE = 1_000_000
LM_ALPHA = 10  # pseudo-count added to the head marginal (shrinkage)


def bigram_occurrences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, head_key, bigram_key) per bigram OCCURRENCE (multiplicity
    kept — counts need it). Keys are xxhash64 of the word /
    the space-joined word pair; the strings never leave this projection.

    From r14 to r15 this was a ``mapInArrow`` kernel that emitted one
    md5-keyed row per distinct (doc, bigram); it was deleted because it
    loses to this form on total engine CPU (JVM plus Python workers).
    Same-window A/B, ``with_lm_score`` over the documents table, 4-core
    VM, 10 alternating pairs, medians (quartiles), CPU / wall: 500
    docs, kernel 3.15 (3.06-3.39) / 1.37 s vs this form 1.83
    (1.71-1.97) / 1.08 s; 5,000 docs, kernel 3.91 (3.74-4.21) / 1.61 s
    vs this form 2.58 (2.48-2.70) / 1.27 s — this form cheaper and
    faster in 10/10 pairs. Scores equal the string-keyed reference
    (``test_lm_bigram_kernel_matches_string_reference``), collisions
    aside."""
    # guard: sequence(1, 0) counts DOWN in Spark, it is not empty
    grams_sql = (
        "CASE WHEN size(__w) >= 2 THEN"
        " transform(sequence(1, size(__w) - 1),"
        " i -> named_struct("
        "'head', element_at(__w, i),"
        " 'bg', concat_ws(' ', element_at(__w, i), element_at(__w, i + 1))"
        "))"
        " ELSE CAST(array() AS array<struct<head:string,bg:string>>) END"
    )
    return (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), F.expr(_words_sql(text_col)).alias("__w"))
        .select(F.col(id_col), F.expr(f"explode({grams_sql})").alias("o"))
        .select(
            F.col(id_col),
            F.expr("xxhash64(o.head)").alias("hk"),
            F.expr("xxhash64(o.bg)").alias("bk"),
        )
    )


def bigram_model(occ: DataFrame, alpha: int = LM_ALPHA) -> DataFrame:
    """(bigram_key, score) — score = (1e6 * c(bigram)) div (c(head) + α).

    One groupBy on (head, bigram) with map-side combine; the head
    marginal is a window sum over the head key, which shares its hash
    prefix with the groupBy output partitioning. All-integer math; α is
    the additive shrinkage that keeps singleton transitions from
    scoring as certainties (module docstring).
    """
    counts = occ.groupBy("hk", "bk").agg(F.count(F.lit(1)).alias("c2"))
    c1 = F.sum("c2").over(Window.partitionBy("hk"))
    return counts.withColumn("c1", c1).select(
        "bk", F.expr(f"({LM_SCALE} * c2) div (c1 + {int(alpha)})").alias("score")
    )


def with_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_df: DataFrame | None = None,
    score_ids: DataFrame | None = None,
) -> DataFrame:
    """Per-document LM quality: (id, n_bigrams, lm_score).

    lm_score = mean of the document's bigram scores (parts-per-million
    conditional frequency), NULL for documents with < 2 words;
    n_bigrams = 0 for those.

    ``train_df`` selects the REFERENCE corpus the model is trained on —
    the real CCNet shape, where a held-out/trusted corpus defines
    "typical language" and scored documents never influence their own
    scores. Bigrams unseen in training back off to score 0 (a never-seen
    transition is maximally surprising). Default (None) trains on ``df``
    itself, where the join is total and the backoff never fires.

    ``score_ids`` (an ``(id_col)``-keyed frame) restricts the SCORING
    leg to those documents while the model still trains on the full
    corpus (r14 optimization, guide §2.3 — aggregate fewer rows): the
    curate flagships gate first and keep only survivors' scores, so
    scoring every raw doc and discarding most rows in the consumer's
    inner join was pure waste. Per-doc scores are independent (the
    model sees all of ``df`` either way), so restricting the scoring
    leg is row-for-row identical to post-filtering the full output.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence

    # fence the occurrence table (r14 optimization, guide §2.4): it
    # feeds BOTH the model aggregate and the scoring join — unfenced,
    # each leg replays the split/explode/xxhash text pass over the full
    # corpus (two passes per call; every curate flagship calls this)
    occ = pushdown_fence(bigram_occurrences(df, id_col, text_col))
    model = bigram_model(
        occ
        if train_df is None
        else bigram_occurrences(train_df, id_col, text_col)
    )
    score_occ = occ.select(id_col, "bk")
    base = df.select(id_col)
    if score_ids is not None:
        keys = score_ids.select(id_col)
        score_occ = score_occ.join(keys, id_col, "left_semi")
        base = base.join(keys, id_col, "left_semi")
    scored = (
        score_occ
        .join(model, "bk", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.coalesce("score", F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("lm_score"),
        )
    )
    return (
        base
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "lm_score",
        )
    )
