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

- bigram occurrences ship as 8-byte hash keys the moment they leave
  the row (md5-derived int64 since r14, computed in the Arrow kernel),
  pre-aggregated per (doc, bigram) — the count shuffle carries
  (head_key, bigram_key, cnt) partials, never strings and never one
  row per occurrence;
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
from wikidatabots_spark.operators.textstats import MEMO_CAP

LM_SCALE = 1_000_000
LM_ALPHA = 10  # pseudo-count added to the head marginal (shrinkage)


def bigram_occurrences(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, head_key, bigram_key, cnt) per DISTINCT per-document bigram
    (multiplicity carried as ``cnt`` — counts need it). Keys are 64-bit
    hashes of the word / the space-joined word pair; the strings never
    leave this operator.

    r14 optimization (guide §4.2 + §2.3): formerly one exploded row per
    bigram OCCURRENCE, built by interpreted HOF lambdas (concat_ws +
    named_struct per element — no codegen inside lambdas) and hashed
    per occurrence — measured as the largest CPU part of the curate
    flagships (~39 s executor CPU at sf0.1 per ``with_lm_score`` call).
    Now a ``mapInArrow`` kernel: C-backed ``hashlib``/str ops over
    whole Arrow batches, a per-task token/bigram hash memo (capped at
    ``MEMO_CAP`` entries), and the per-doc (bigram, cnt) aggregate
    emitted DIRECTLY — the downstream model groupBy and scoring join
    consume pre-aggregated rows (the two-level aggregation: per-doc
    partials in the kernel, global sums after), so long documents
    shuffle one row per distinct bigram instead of one per occurrence.

    Hash keys are md5-derived int64 (first 8 digest bytes, signed
    big-endian) instead of the former ``xxhash64``: both are internal
    join keys only — scores, not keys, leave ``with_lm_score`` — so
    results are identical short of a 64-bit collision between two
    observed grams, the same documented tradeoff as
    ``ngram_jaccard_pairs``/``winnow_pairs`` hashed keys (birthday
    bound ~1e-11 at 10^5 grams). Tokenizer equivalence (Java ``\\s``
    class, ASCII lowercasing) as pinned for the winnow kernel;
    ``test_lm_score_hand_computed`` pins end-to-end scores."""
    from collections.abc import Iterator

    import pyarrow as pa

    src = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), id_col)
    id_type = dict(src.dtypes)[id_col]

    def bg_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import hashlib
        import re
        from collections import Counter

        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java regex \s
        memo: dict[str, int] = {}

        def h(s: str) -> int:
            v = memo.get(s)
            if v is None:
                v = int.from_bytes(
                    hashlib.md5(s.encode("utf-8")).digest()[:8],
                    "big",
                    signed=True,
                )
                if len(memo) < MEMO_CAP:
                    memo[s] = v
            return v

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_ids: list = []
            out_hk: list[int] = []
            out_bk: list[int] = []
            out_cnt: list[int] = []
            for i, s in zip(ids, texts):
                if s is None:
                    continue
                wl = [w for w in ws.split(s.lower()) if w != ""]
                if len(wl) < 2:
                    continue
                counts = Counter(
                    (wl[j], wl[j] + " " + wl[j + 1])
                    for j in range(len(wl) - 1)
                )
                for (head, bg), c in counts.items():
                    out_ids.append(i)
                    out_hk.append(h(head))
                    out_bk.append(h(bg))
                    out_cnt.append(c)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=batch.schema.field(0).type),
                    pa.array(out_hk, type=pa.int64()),
                    pa.array(out_bk, type=pa.int64()),
                    pa.array(out_cnt, type=pa.int64()),
                ],
                names=[id_col, "hk", "bk", "cnt"],
            )

    return src.mapInArrow(
        bg_batches, f"{id_col} {id_type}, hk long, bk long, cnt long"
    )


def bigram_model(occ: DataFrame, alpha: int = LM_ALPHA) -> DataFrame:
    """(bigram_key, score) — score = (1e6 * c(bigram)) div (c(head) + α).

    One groupBy on (head, bigram) with map-side combine; the head
    marginal is a window sum over the head key, which shares its hash
    prefix with the groupBy output partitioning. All-integer math; α is
    the additive shrinkage that keeps singleton transitions from
    scoring as certainties (module docstring).
    """
    counts = occ.groupBy("hk", "bk").agg(F.sum("cnt").alias("c2"))
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
    score_occ = occ.select(id_col, "bk", "cnt")
    base = df.select(id_col)
    if score_ids is not None:
        keys = score_ids.select(id_col)
        score_occ = score_occ.join(keys, id_col, "left_semi")
        base = base.join(keys, id_col, "left_semi")
    # occurrence rows are pre-aggregated per (doc, bigram) — weight the
    # sums by cnt (exact integers either way, so the doubles match the
    # former per-occurrence form bit-for-bit)
    scored = (
        score_occ
        .join(model, "bk", "left")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            (
                F.sum(F.col("cnt") * F.coalesce("score", F.lit(0)))
                .cast("double")
                / F.sum("cnt")
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
