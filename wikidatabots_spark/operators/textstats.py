"""Text analysis operators over a document corpus.

All pure Column expressions (JVM codegen, zero Python in the hot path):

- ``with_token_count``  whitespace tokenization + a BPE-ish sub-token
  estimate (regex word/number/punct split)
- ``with_quality``      length / punctuation / stopword-ratio features and
  a composite quality score
- ``with_lang_guess``   marker-word n-gram heuristic language ID
- ``with_fingerprint``  normalized-content digest (whitespace-collapsed
  md5) — the cheap "same modulo formatting" key
- ``with_repetition``   Gopher-style repetition/diversity filters
  (type-token ratio, duplicate n-gram fractions)
- ``bm25_topk``         literal-keyword BM25 search, shuffle-free up to
  the final top-k

Scale: every operator is a narrow map over the text column — no shuffle,
pipeline-able with the parquet scan; fingerprints/dedup keys are the only
things later stages aggregate on, so the wide text column never shuffles.
North-star extension (BASELINE.json) — no reference counterpart.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "on", "for"]

# tiny marker lexicons for the language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

_PUNCT_RE = r"[^.,!?;:]"
_SUBTOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# per-task cap of the Arrow kernels' str → int memos (token → bucket or
# weight here, word/bigram → key in lm.py): an entry (a fresh 8-17 char
# string, an int and its dict slot) measures 110-130 bytes under
# tracemalloc, so 115-140 MB at the cap; past it a kernel hashes without
# memoizing — same values, bounded memory
MEMO_CAP = 1 << 20


def words(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def _words_sql(text_col: str) -> str:
    """``words`` as a SQL fragment — the r14 plan-build optimization:
    the hot builders below render whole projections as ONE parsed
    expression instead of one py4j round trip per Column node (guide
    §7.3: driver-side plan construction is single-threaded dead time;
    measured ~0.5 s per curate-family query)."""
    return f"filter(split(lower(`{text_col}`), '\\\\s+'), w -> w != '')"


def _sql_str_list(values: list[str]) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word count + BPE-ish sub-token count (letters / digits / symbol runs)."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_words": F.size(words(t)).cast("bigint"),
            "n_subtokens": F.size(
                F.regexp_extract_all(F.lower(t), F.lit(_SUBTOKEN_RE), F.lit(0))
            ).cast("bigint"),
        }
    )


def with_quality(
    df: DataFrame, text_col: str = "text", words_col: str | None = None
) -> DataFrame:
    """Length/punct/stopword features + composite quality score.

    The score formula is a fixed arithmetic tree (no reassociated sums) so
    it is bit-reproducible across engines. The word array is materialized
    once (``__w``) — expression trees referenced from several features
    would re-split the text per reference (no CSE through lambdas).

    ``words_col`` names a caller-materialized word-array column to use
    instead of splitting here (r14 optimization, guide §1.2: the curate
    gate stacks chain four word-consuming builders, and each private
    split re-tokenized the corpus — one shared column tokenizes once).
    The caller owns that column's lifetime.
    """
    # rendered as SQL strings (r14 plan-build optimization, see
    # _words_sql) — each fragment textually duplicates subexpressions
    # exactly where the former Column tree referenced them, so the
    # parsed expression tree is the same
    w = words_col or "__w"
    if words_col is None:
        df = df.withColumn("__w", F.expr(_words_sql(text_col)))
    nw = f"size({w})"
    nc = f"length(`{text_col}`)"
    np_ = f"length(regexp_replace(`{text_col}`, '{_PUNCT_RE}', ''))"
    ns = f"size(filter({w}, x -> x IN ({_sql_str_list(STOPWORDS)})))"
    stop_ratio = (
        f"CASE WHEN {nw} > 0 THEN CAST({ns} AS DOUBLE) / {nw} ELSE 0.0D END"
    )
    punct_ratio = (
        f"CASE WHEN {nc} > 0 THEN CAST({np_} AS DOUBLE) / {nc} ELSE 0.0D END"
    )
    quality = (
        f"least(CAST({nw} AS DOUBLE) / 100.0D, 1.0D) * 0.5D"
        f" + ({stop_ratio}) * 0.3D"
        f" + (1.0D - ({punct_ratio})) * 0.2D"
    )
    out = df.withColumns(
        {
            "n_words": F.expr(f"CAST({nw} AS BIGINT)"),
            "n_punct": F.expr(f"CAST({np_} AS BIGINT)"),
            "n_stopwords": F.expr(f"CAST({ns} AS BIGINT)"),
            "avg_word_len": F.expr(
                f"CASE WHEN {nw} > 0 THEN"
                f" CAST({nc} - ({nw} - 1) AS DOUBLE) / {nw}"
                f" ELSE 0.0D END"
            ),
            "stopword_ratio": F.expr(stop_ratio),
            "punct_ratio": F.expr(punct_ratio),
            "quality": F.expr(quality),
        }
    )
    return out if words_col is not None else out.drop("__w")


def with_lang_guess(
    df: DataFrame, text_col: str = "text", words_col: str | None = None
) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker counts.

    Ties resolve in fixed language order (en, es, fr, de); zero markers →
    'und'. Counts occurrences (not distinct words) so longer texts vote
    proportionally. ``words_col``: see :func:`with_quality`.
    """
    # rendered as a SQL string (r14 plan-build optimization, see
    # _words_sql); the flat CASE is the nested when/otherwise chain
    # flattened — identical branch order and values
    w = words_col or "__w"
    if words_col is None:
        df = df.withColumn("__w", F.expr(_words_sql(text_col)))
    scores = {
        lang: f"size(filter({w}, x -> x IN ({_sql_str_list(markers)})))"
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    # argmax with fixed tie order: first language reaching the max wins
    max_score = scores[langs[0]]
    for lang in langs[1:]:
        max_score = f"greatest({max_score}, {scores[lang]})"
    branches = " ".join(
        f"WHEN {scores[lang]} = ({max_score}) AND ({max_score}) > 0"
        f" THEN '{lang}'"
        for lang in langs
    )
    guess = f"CASE {branches} ELSE 'und' END"
    out = df.withColumn("lang_guess", F.expr(guess))
    return out if words_col is not None else out.drop("__w")


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-normalized content digest (formatting-insensitive key)."""
    return df.withColumn(
        "fingerprint",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))),
    )


def _ngram_array(w: Column, n_words: Column, n: int) -> Column:
    """Word n-grams as an array column (empty when the doc is shorter
    than n). The sequence is guarded: Spark ``sequence(1, 0)`` counts
    DOWN, it does not return empty."""
    grams = F.transform(
        F.sequence(F.lit(1), n_words - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]
        ),
    )
    return F.when(n_words >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _ngram_array_sql(w: str, n_words: str, n: int) -> str:
    """``_ngram_array`` as a SQL fragment over column-name operands
    (r14 plan-build optimization, see _words_sql)."""
    elems = ", ".join(f"element_at({w}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN {n_words} >= {n} THEN"
        f" transform(sequence(1, {n_words} - {n - 1}),"
        f" i -> concat_ws(' ', {elems}))"
        f" ELSE CAST(array() AS array<string>) END"
    )


def with_repetition(
    df: DataFrame, text_col: str = "text", words_col: str | None = None
) -> DataFrame:
    """Repetition / diversity quality signals (Gopher-style filters).

    Adds per-document:

    - ``n_words`` / ``n_distinct_words`` and ``type_token_ratio`` —
      vocabulary diversity; templated or generated spam text scores low
    - ``dup_2gram_frac`` / ``dup_3gram_frac`` — fraction of word n-grams
      that are repeats of an earlier n-gram in the same document; the
      MassiveText/Gopher repetition filters (duplicate-n-gram fraction)
      adapted to word n-grams

    All pure array expressions — one narrow map, no shuffle, no Python.
    Each ratio is a single integer-derived division, so the doubles are
    bit-identical across engines (DuckDB-oracle-safe). The word and
    n-gram arrays are materialized as real columns first: Spark does no
    CSE through higher-order-function lambdas, so expression-tree reuse
    would re-split the text once per reference.
    """
    # rendered as SQL strings (r14 plan-build optimization, see
    # _words_sql); same expression tree, one parse per projection.
    # ``words_col``: see with_quality.
    w = words_col or "__w"
    if words_col is None:
        df = df.withColumn("__w", F.expr(_words_sql(text_col)))
    df = df.withColumn("__nw", F.expr(f"size({w})"))
    df = df.withColumn(
        "__g2", F.expr(_ngram_array_sql(w, "__nw", 2))
    ).withColumn("__g3", F.expr(_ngram_array_sql(w, "__nw", 3)))
    nd = f"size(array_distinct({w}))"

    def frac(num: str, den: str) -> Column:
        return F.expr(
            f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den}"
            f" ELSE 0.0D END"
        )

    out = df.withColumns(
        {
            "n_words": F.expr("CAST(__nw AS BIGINT)"),
            "n_distinct_words": F.expr(f"CAST({nd} AS BIGINT)"),
            "type_token_ratio": frac(nd, "__nw"),
            "dup_2gram_frac": frac(
                "size(__g2) - size(array_distinct(__g2))", "size(__g2)"
            ),
            "dup_3gram_frac": frac(
                "size(__g3) - size(array_distinct(__g3))", "size(__g3)"
            ),
        }
    ).drop("__nw", "__g2", "__g3")
    return out if words_col is not None else out.drop("__w")


def gate_feature_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """ALL integer counters of the curate gate stack in ONE
    ``mapInArrow`` pass — the r14 fusion of the per-word work in
    ``with_quality`` + ``with_lang_guess`` + ``with_repetition`` +
    ``with_classifier_score`` (guide §4.2): the IN-list marker filters
    (10 stopwords + 4×5 language markers per word), the 2/3-gram
    concat+distinct builds, and the per-token md5 classifier weight all
    ran as interpreted HOF lambdas (no codegen inside lambdas) — the
    dominant CPU of every curate flagship after the shared-tokenization
    fix. The kernel computes per document, from one tokenize:

    n_words, n_chars, n_punct, n_stop, m_en/m_es/m_fr/m_de (marker
    occurrence counts), n_distinct, g2_tot/g2_distinct,
    g3_tot/g3_distinct (word-2/3-gram totals and distincts), wsum (the
    ``_token_weight`` integer sum).

    Every output is an EXACT integer the expression form also derives
    (md5 is engine-independent; sums/counts are order-free), so the
    downstream doubles — assembled by :func:`gate_features_from_counts`
    with the builders' own expression trees — are bit-identical, pinned
    by ``test_gate_kernel_matches_builder_chain``. Tokenizer
    equivalence notes as in ``winnow_fingerprints`` (Java ``\\s``
    split class; ASCII lowercasing; codepoint ``length``).

    Rows with NULL ``text_col`` are OMITTED. The builder chain instead
    scores such a row ``quality 0.195 / lang 'und' / cls_score NULL``
    (``size(NULL array)`` is -1 under the session's legacy setting), so
    every gate in ``plans.curation.gate_stack`` filters it out and its
    ``label`` is false-with-no-occurrence-rows — both paths contribute nothing, so
    dropping the row is output-equivalent for the gate consumers (not
    for arbitrary outer-join callers; this is a gate-stack kernel).
    Token-free texts keep their row with zero counters, matching the
    builders' 0/0-guard branches.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    from wikidatabots_spark.operators.dedup import ensure_parallelism

    src = ensure_parallelism(
        df.select(
            F.col(id_col), *[F.col(c) for c in keep_cols], F.col(text_col)
        ),
        id_col,
    )
    n_keep = len(keep_cols)
    dtypes = dict(src.dtypes)
    counter_names = [
        "n_words", "n_chars", "n_punct", "n_stop",
        *[f"m_{lang}" for lang in LANG_MARKERS],
        "n_distinct", "g2_tot", "g2_distinct", "g3_tot", "g3_distinct",
        "wsum",
    ]
    stop_set = frozenset(STOPWORDS)
    marker_sets = [frozenset(m) for m in LANG_MARKERS.values()]
    punct_set = frozenset(".,!?;:")

    def feature_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import hashlib
        import re

        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java regex \s
        wmemo: dict[str, int] = {}
        half = (_CLS_RANGE - 1) // 2

        def weight(w: str) -> int:
            v = wmemo.get(w)
            if v is None:
                b = (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:4], 16)
                    % CLS_BUCKETS
                )
                v = (b * _CLS_MULT) % _CLS_RANGE - half
                if len(wmemo) < MEMO_CAP:
                    wmemo[w] = v
            return v

        for batch in batches:
            ids = batch.column(0).to_pylist()
            keeps = [batch.column(1 + j).to_pylist() for j in range(n_keep)]
            texts = batch.column(1 + n_keep).to_pylist()
            out_ids: list = []
            out_keeps: list[list] = [[] for _ in range(n_keep)]
            cols: list[list[int]] = [[] for _ in counter_names]
            for row, s in enumerate(texts):
                if s is None:
                    continue
                wl = [w for w in ws.split(s.lower()) if w != ""]
                nw = len(wl)
                g2 = [wl[j] + " " + wl[j + 1] for j in range(nw - 1)]
                g3 = [
                    wl[j] + " " + wl[j + 1] + " " + wl[j + 2]
                    for j in range(nw - 2)
                ]
                vals = (
                    nw,
                    len(s),
                    sum(1 for ch in s if ch in punct_set),
                    sum(1 for w in wl if w in stop_set),
                    *[
                        sum(1 for w in wl if w in ms)
                        for ms in marker_sets
                    ],
                    len(set(wl)),
                    len(g2),
                    len(set(g2)),
                    len(g3),
                    len(set(g3)),
                    sum(weight(w) for w in wl),
                )
                out_ids.append(ids[row])
                for j in range(n_keep):
                    out_keeps[j].append(keeps[j][row])
                for c, v in zip(cols, vals):
                    c.append(v)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=batch.schema.field(0).type),
                    *[
                        pa.array(
                            out_keeps[j], type=batch.schema.field(1 + j).type
                        )
                        for j in range(n_keep)
                    ],
                    *[pa.array(c, type=pa.int64()) for c in cols],
                ],
                names=[id_col, *keep_cols, *counter_names],
            )

    keep_schema = "".join(f"{c} {dtypes[c]}, " for c in keep_cols)
    counter_schema = ", ".join(f"{c} long" for c in counter_names)
    return src.mapInArrow(
        feature_batches,
        f"{id_col} {dtypes[id_col]}, {keep_schema}{counter_schema}",
    )


def gate_features_from_counts(cnts: DataFrame) -> DataFrame:
    """Assemble the gate-stack feature columns (``quality``,
    ``lang_guess``, ``type_token_ratio``, ``dup_2gram_frac``,
    ``cls_score``) from :func:`gate_feature_counts` output with the
    builders' OWN expression trees re-based on the counters — the
    integers are identical, the double arithmetic is the same fixed
    tree, so every feature is bit-identical to the
    ``with_quality``/``with_lang_guess``/``with_repetition``/
    ``with_classifier_score`` chain (parity-pinned)."""
    stop_ratio = (
        "CASE WHEN n_words > 0 THEN"
        " CAST(n_stop AS DOUBLE) / n_words ELSE 0.0D END"
    )
    punct_ratio = (
        "CASE WHEN n_chars > 0 THEN"
        " CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0D END"
    )
    quality = (
        f"least(CAST(n_words AS DOUBLE) / 100.0D, 1.0D) * 0.5D"
        f" + ({stop_ratio}) * 0.3D"
        f" + (1.0D - ({punct_ratio})) * 0.2D"
    )
    langs = list(LANG_MARKERS)
    scores = {lang: f"m_{lang}" for lang in langs}
    max_score = scores[langs[0]]
    for lang in langs[1:]:
        max_score = f"greatest({max_score}, {scores[lang]})"
    branches = " ".join(
        f"WHEN {scores[lang]} = ({max_score}) AND ({max_score}) > 0"
        f" THEN '{lang}'"
        for lang in langs
    )

    def frac(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den}"
            f" ELSE 0.0D END"
        )

    return cnts.withColumns(
        {
            "quality": F.expr(quality),
            "lang_guess": F.expr(f"CASE {branches} ELSE 'und' END"),
            "type_token_ratio": F.expr(frac("n_distinct", "n_words")),
            "dup_2gram_frac": F.expr(
                frac("g2_tot - g2_distinct", "g2_tot")
            ),
            "dup_3gram_frac": F.expr(
                frac("g3_tot - g3_distinct", "g3_tot")
            ),
            "cls_score": F.expr(
                "CASE WHEN n_words > 0 THEN CAST(wsum AS DOUBLE)"
                " / CAST(n_words * 1000 AS DOUBLE) END"
            ),
        }
    )


def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary by document frequency: the top-k tokens a
    tokenizer-training / stopword-mining step starts from.

    Returns (token, df BIGINT, rank INT), rank 1 = most common, ties
    broken by token. Per-document distinct tokens (``array_distinct``
    before the explode) so a doc votes once per type — document
    frequency, not term frequency.

    Scale shape: explode of per-doc distinct tokens → map-side-combined
    groupBy(token) → global top-k via TakeOrderedAndProject (each task
    keeps k rows; no full sort). The rank window runs on k rows only.
    """
    toks = df.select(
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("token")
    )
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    top = counted.orderBy(F.col("df").desc(), "token").limit(k)
    w = Window.orderBy(F.col("df").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "token", "df", "rank"
    )


def gram_table(
    d: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_id: str = "doc_id",
) -> DataFrame:
    """Distinct word-n-gram hashes per document → (out_id, gram_hash).
    The reduced form both sides of ``ngram_collisions`` consume; expose
    it so a STATIC benchmark's gram table can be computed once, fenced,
    and probed by many arriving batches (``decontamination_gate``)."""
    d2 = d.withColumn("__w", words(F.col(text_col))).withColumn(
        "__nw", F.size(F.col("__w"))
    )
    g = _ngram_array(F.col("__w"), F.col("__nw"), n)
    return d2.select(
        F.col(id_col).alias(out_id),
        F.explode(F.array_distinct(g)).alias("__g"),
    ).select(out_id, F.md5(F.col("__g")).alias("gram_hash"))


def ngram_collisions(
    train: DataFrame,
    bench: DataFrame | None,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: word n-gram collisions between a
    training corpus and an evaluation set (the GPT-3/PaLM-style 13-gram
    overlap check, parameterized on n).

    Returns one row per contaminated training doc:
    (train_id, n_collided_grams BIGINT, n_bench_docs BIGINT).

    Scale shape: both sides reduce to distinct (id, md5(gram)) pairs —
    the text column never travels. The benchmark side is small by
    definition (an eval set), so it broadcasts and the training side
    never shuffles; the per-doc count_distinct is the only wide op.
    Pass a precomputed (fenced) ``bench_grams`` — ``gram_table`` with
    out_id='bench_id' — to amortize the benchmark pass across many
    probes (the streaming gate's shape); ``bench`` is ignored then.
    """
    tg = gram_table(train, n, id_col, text_col, out_id="train_id")
    bg = (
        bench_grams
        if bench_grams is not None
        else gram_table(bench, n, id_col, text_col, out_id="bench_id")
    )
    return (
        tg.join(F.broadcast(bg), "gram_hash")
        .groupBy("train_id")
        .agg(
            F.count_distinct("gram_hash").alias("n_collided_grams"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a literal keyword query, BM25-shaped scoring.

    Returns (id, rank INT, total_tf BIGINT), rank 1 = best, ties broken
    by id. The idf factor is the RSJ weight WITHOUT the log —
    ``(N - df + 0.5) / (df + 0.5)`` — a strictly monotone transform of
    BM25's idf, so the ranking semantics match while the score stays a
    composition of +,*,/ on doubles: bit-reproducible across engines
    (libm ``log`` is only ~1-ulp-accurate and differs between JVM and
    C, which would flip tied ranks).

    Scale shape: per-term tf is an array filter over the word array — a
    narrow map fused with the scan, NO tokenize-explode-groupBy shuffle;
    corpus stats (N, per-term df, total dl) are one 1-row aggregate
    broadcast back; the only wide op is the final top-k. Terms must be
    literals (a query, not a column) — for query *tables* use the token
    table + join formulation instead.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    df2 = df.withColumn("__w", words(F.col(text_col))).withColumn(
        "__dl", F.size(F.col("__w"))
    )

    def term_eq(t: str):
        # real function scope: a default-arg lambda would take 2 params
        # and be invoked by F.filter as (element, index)
        return lambda x: x == F.lit(t)

    tf_names = [f"__tf{i}" for i in range(len(terms))]
    df2 = df2.withColumns(
        {
            name: F.size(F.filter(F.col("__w"), term_eq(t)))
            for name, t in zip(tf_names, terms)
        }
    ).drop("__w")
    stats = df2.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__dl")).alias("__sumdl"),
        *[
            F.sum((F.col(name) > 0).cast("bigint")).alias(f"__df{i}")
            for i, name in enumerate(tf_names)
        ],
    )
    matched = df2.where(
        functools.reduce(lambda a, c: a | c, [F.col(n) > 0 for n in tf_names])
    ).crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n")
    score = None
    for i, name in enumerate(tf_names):
        tf = F.col(name)
        idf = (F.col("__n") - F.col(f"__df{i}") + F.lit(0.5)) / (
            F.col(f"__df{i}") + F.lit(0.5)
        )
        s = idf * (
            (tf * F.lit(k1 + 1.0))
            / (
                tf
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * (F.col("__dl") / avgdl))
            )
        )
        score = s if score is None else score + s
    total_tf = functools.reduce(
        lambda a, c: a + c, [F.col(n) for n in tf_names]
    )
    # top-k via orderBy+limit FIRST (TakeOrderedAndProject — each task
    # keeps k rows, no match-scale global window; common query terms can
    # match most of the corpus), then the rank window runs over the
    # k-row result only (VERDICT r5 next #1 class)
    top = (
        matched.select(
            F.col(id_col),
            total_tf.cast("bigint").alias("total_tf"),
            score.alias("__score"),
        )
        .orderBy(F.col("__score").desc(), F.col(id_col))
        .limit(k)
    )
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("__score").desc(), F.col(id_col)))
        .cast("int"),
    ).select(id_col, "rank", "total_tf")


# PII patterns — deliberately restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB oracle): character
# classes with trailing literal '-', bounded repetition, no backrefs,
# no lookaround. Order matters: emails first (their local parts contain
# digit runs), then IPs (dots keep them out of the phone class), then
# free-standing phone-like digit runs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
PII_PHONE = r"[0-9][0-9 ()+-]{7,}[0-9]"


def with_pii_redacted(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """PII scrub — the standard pre-training hygiene pass: replace
    emails / IPv4 addresses / phone-like digit runs with typed
    placeholder tokens and count each kind (the counts feed doc-level
    "PII-dense" drop gates).

    Counts are computed on the ORIGINAL text, independently per kind —
    safe because the three patterns cannot overlap (the email local part
    is capped under the phone run length by '@', and dots exclude IPs
    from the phone class); redaction applies sequentially in the same
    order both here and in the oracle.

    Scale: one narrow map, three JVM regex passes over the text column,
    zero shuffles; pipelines with the scan like every other textstats
    operator. No reference counterpart (north-star component).
    """
    t = F.col(text_col)

    def _n(pattern: str) -> Column:
        return F.size(F.regexp_extract_all(t, F.lit(pattern), 0)).cast("bigint")

    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return df.select(
        "*",
        _n(PII_EMAIL).alias("n_emails"),
        _n(PII_IPV4).alias("n_ips"),
        _n(PII_PHONE).alias("n_phones"),
        red.alias(out_col),
    )


def pack_sequences(
    df: DataFrame,
    ctx: int = 512,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy contiguous sequence packing — the training-batch layout
    step: documents are concatenated in deterministic order and chopped
    into ``ctx``-token bins; each document learns which bins its tokens
    land in (``bin_first``..``bin_last``, bins crossing document
    boundaries as GPT-style packing does).

    Packing is per-shard (``shard = id % n_shards``) rather than global:
    membership and order depend only on the id, so the layout is
    reproducible run-to-run AND each shard packs independently in
    parallel — a global concatenation order would serialize the whole
    corpus through one task. At 100 TB you raise ``n_shards`` to the
    write parallelism you want; the per-shard window sort is the
    unavoidable cost of contiguity (each shard is one sort partition).

    All integer math (token counts, cumulative offsets, integer
    division) — bit-identical across engines by construction.
    """
    wl = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    t = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.size(wl).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    last_tok = F.when(F.col("n_tokens") == 0, start).otherwise(F.col("cum") - 1)
    return c.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        start.alias("__start"),
        last_tok.alias("__lt"),
    ).select(
        F.col(id_col),
        "shard",
        "n_tokens",
        F.expr(f"__start DIV {ctx}").alias("bin_first"),
        F.expr(f"__lt DIV {ctx}").alias("bin_last"),
    )


def pack_spans(
    df: DataFrame,
    ctx: int = 512,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-bin attention-span table for packed sequences — the artifact
    a trainer actually consumes from ``pack_sequences``: one row per
    (document, bin) fragment with the fragment's offset and length
    inside the bin, so attention masks and loss masks can be built
    without re-deriving the layout. A document crossing bin boundaries
    emits one fragment per bin it touches; fragments tile every full
    bin exactly ([0, ctx) with no gaps or overlaps) and per document
    sum back to its token count — both invariants are pinned by test.

    Same layout contract as ``pack_sequences`` (shard = id % n_shards,
    concatenation ordered by id within shard): the two queries describe
    the SAME packing, table-per-document vs table-per-fragment.

    Scale: one shard-partitioned window (parallel across shards) and a
    narrow explode of ≤ (n_tokens/ctx)+1 bins per doc; all integer math
    — bit-identical across engines by construction.
    """
    wl = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    t = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.size(wl).cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = (F.col("cum") - F.col("n_tokens")).alias("__start")
    exploded = (
        c.select(
            F.col(id_col),
            "shard",
            "n_tokens",
            start,
            F.col("cum").alias("__end"),
        )
        .withColumn("bin_first", F.expr(f"__start DIV {ctx}"))
        .withColumn("bin_last", F.expr(f"(__end - 1) DIV {ctx}"))
        .withColumn(
            "bin", F.explode(F.sequence(F.col("bin_first"), F.col("bin_last")))
        )
    )
    span_start = F.greatest(F.col("__start"), F.col("bin") * ctx)
    span_end = F.least(F.col("__end"), (F.col("bin") + 1) * ctx)
    return exploded.select(
        F.col(id_col),
        "shard",
        F.col("bin").cast("bigint").alias("bin"),
        (span_start - F.col("bin") * ctx).cast("bigint").alias("bin_offset"),
        (span_end - span_start).cast("bigint").alias("n_in_bin"),
        (F.col("bin") == F.col("bin_first")).cast("int").alias("starts_doc"),
        (F.col("bin") == F.col("bin_last")).cast("int").alias("ends_doc"),
    )


# hashed-feature linear classifier: bucket count + a multiplicative-hash
# weight table. Knuth constant mod an ODD range centered on zero — every
# quantity integer, so scores are bit-identical across engines.
CLS_BUCKETS = 1024
_CLS_MULT = 2654435761
_CLS_RANGE = 2001  # weights in [-1000, 1000]


def _token_weight(w: Column) -> Column:
    """Integer weight of one token: md5 16-bit bucket -> multiplicative
    hash into [-1000, 1000]."""
    bucket = (
        F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long") % CLS_BUCKETS
    )
    return (bucket * F.lit(_CLS_MULT)) % F.lit(_CLS_RANGE) - F.lit(
        (_CLS_RANGE - 1) // 2
    )


def _token_bucket(w: Column) -> Column:
    """Hash bucket of one token: first 16 md5 bits mod CLS_BUCKETS —
    the same feature space ``with_classifier_score``'s weight table
    lives in, shared by the trained model below."""
    return (
        F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long") % CLS_BUCKETS
    )


def token_bucket_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document hashed-token bucket counts as ONE ``mapInArrow``
    kernel: (id, *extra, bucket, cnt) — the shared engine under
    :func:`bucket_occurrences` and ``plans.llmdata.dsir_occurrences``.

    r14 optimization (guide §4.2 + §2.4): the former form exploded one
    row per token, ran ``_token_bucket`` (md5 + conv + mod) per token in
    the interpreter, and shuffled (id, bucket) rows into a groupBy. The
    kernel hands whole Arrow batches to C-backed ``hashlib.md5``/str
    ops, memoizes repeated tokens, and emits the per-doc (bucket, cnt)
    aggregate DIRECTLY — a doc's rows are complete within its own text,
    so the groupBy exchange is gone, not moved (one less shuffle at any
    scale).

    Exact equivalence with the expression form (pinned by
    ``test_token_bucket_kernel_matches_expression_form``): the
    tokenizer replicates Spark ``split(lower(text), '\\s+')`` — Java
    regex ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]`` (ASCII, unlike Python's
    Unicode ``\\s``); ``str.lower()`` and JVM lowercasing agree on
    ASCII (every corpus here); md5-of-UTF-8 is engine-independent, so
    bucket ids are IDENTICAL integers, not a collision tradeoff. NULL
    and token-free texts emit no rows, exactly like the explode.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    from wikidatabots_spark.operators.dedup import ensure_parallelism

    src = ensure_parallelism(
        df.select(F.col(id_col), *[F.col(c) for c in extra_cols],
                  F.col(text_col)),
        id_col,
    )
    n_extra = len(extra_cols)

    def bucket_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        import hashlib
        import re
        from collections import Counter

        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java regex \s
        # per-task token→bucket memo: corpora repeat tokens heavily
        # (Zipf), so this removes most md5 calls; capped at MEMO_CAP
        memo: dict[str, int] = {}

        def bucket(w: str) -> int:
            b = memo.get(w)
            if b is None:
                b = (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:4], 16)
                    % CLS_BUCKETS
                )
                if len(memo) < MEMO_CAP:
                    memo[w] = b
            return b

        for batch in batches:
            ids = batch.column(0).to_pylist()
            extras = [
                batch.column(1 + j).to_pylist() for j in range(n_extra)
            ]
            texts = batch.column(1 + n_extra).to_pylist()
            out_ids: list = []
            out_extras: list[list] = [[] for _ in range(n_extra)]
            out_buckets: list[int] = []
            out_cnts: list[int] = []
            for row, s in enumerate(texts):
                if s is None:
                    continue
                counts = Counter(
                    bucket(w) for w in ws.split(s.lower()) if w != ""
                )
                if not counts:
                    continue
                i = ids[row]
                for b, c in counts.items():
                    out_ids.append(i)
                    for j in range(n_extra):
                        out_extras[j].append(extras[j][row])
                    out_buckets.append(b)
                    out_cnts.append(c)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=batch.schema.field(0).type),
                    *[
                        pa.array(out_extras[j], type=batch.schema.field(1 + j).type)
                        for j in range(n_extra)
                    ],
                    pa.array(out_buckets, type=pa.int64()),
                    pa.array(out_cnts, type=pa.int64()),
                ],
                names=[id_col, *extra_cols, "bucket", "cnt"],
            )

    extra_schema = "".join(
        f"{c} {t}, "
        for c, t in zip(
            extra_cols,
            [dict(src.dtypes)[c] for c in extra_cols],
        )
    )
    return src.mapInArrow(
        bucket_batches,
        f"{id_col} {dict(src.dtypes)[id_col]}, {extra_schema}"
        f"bucket long, cnt long",
    )


def bucket_occurrences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document hashed-feature occurrence counts: (id, bucket, cnt).
    The ONE corpus/text pass both NB training and scoring consume —
    compute it once (fence it if both run in one plan) and the text
    column never leaves the scan stage again.

    Since r14 this is the :func:`token_bucket_counts` ``mapInArrow``
    kernel (guide §4.2): same (id, bucket, cnt) rows — bucket ids are
    EXACTLY the ``_token_bucket`` integers (md5 is engine-independent)
    — with the per-token interpreted md5 moved to C-backed hashlib and
    the per-doc groupBy exchange eliminated outright (a doc's counts
    are complete within its own row). ``ensure_parallelism`` guards the
    single-file local scan as before (guide §2.5)."""
    return token_bucket_counts(df, id_col=id_col, text_col=text_col)


def train_hashed_nb(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    occ: DataFrame | None = None,
    labels: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """TRAIN a hashed-feature Naive-Bayes-style linear text classifier
    in-plan: per-bucket class-conditional token rates with add-one
    smoothing, as exact integers. Input must carry a boolean
    ``label_col``; output is the MODEL — one row per hash bucket seen
    in the corpus: (bucket, w_ppm) with

        w_ppm = (1e6·(c_pos+1)) div (n_pos+V) − (1e6·(c_neg+1)) div (n_neg+V)

    where c_pos/c_neg are the bucket's token counts in positive /
    negative documents, n_pos/n_neg the class token totals and
    V = CLS_BUCKETS the smoothing vocabulary. This is the multinomial
    NB decision rule with the log replaced by the rate difference in
    parts-per-million — every quantity an integer, so DuckDB reproduces
    the learned weights bit-for-bit (the property hash-derived
    placeholder weights had, now with REAL learned signal).

    Scale: one explode + groupBy(bucket) over the corpus (the training
    pass), then a ≤V-row model frame. The class totals are a 1-row
    aggregate broadcast into the weight expression — no collect. The
    model is exactly the "broadcast swap-in" table
    ``with_classifier_score`` documents: score with it via
    ``score_hashed_nb`` (broadcast join, zero wide shuffles).

    Pass ``occ`` (from ``bucket_occurrences``) + ``labels`` (an
    (id, label) frame) to train from a PRECOMPUTED occurrence table —
    the single-text-pass form when training and scoring share a plan;
    otherwise ``df`` must carry ``label_col`` alongside the text.
    """
    if occ is not None:
        if labels is None:
            labels = df.select(F.col(id_col), F.col(label_col))
        toks = occ.join(labels, id_col).select(
            F.col(label_col).alias("__y"), "bucket", "cnt"
        )
        per_bucket = toks.groupBy("bucket").agg(
            F.sum(F.when(F.col("__y"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("c_pos"),
            F.sum(F.when(F.col("__y"), 0).otherwise(F.col("cnt")))
            .cast("long")
            .alias("c_neg"),
        )
    else:
        toks = df.select(
            F.col(label_col).alias("__y"),
            F.explode(words(F.col(text_col))).alias("__w"),
        ).select("__y", _token_bucket(F.col("__w")).alias("bucket"))
        per_bucket = toks.groupBy("bucket").agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0))
            .cast("long")
            .alias("c_pos"),
            F.sum(F.when(F.col("__y"), 0).otherwise(1))
            .cast("long")
            .alias("c_neg"),
        )
    totals = per_bucket.agg(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum("c_neg").cast("long").alias("n_neg"),
    )
    # integer DIV on non-negative operands: truncation == floor, and
    # both engines' integer division agree bit-for-bit
    return per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.expr(f"(1000000 * (c_pos + 1)) DIV (n_pos + {CLS_BUCKETS})")
            - F.expr(f"(1000000 * (c_neg + 1)) DIV (n_neg + {CLS_BUCKETS})")
        )
        .cast("long")
        .alias("w_ppm"),
    )


def score_hashed_nb(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    occ: DataFrame | None = None,
) -> DataFrame:
    """Score documents with a trained hashed-NB model (``bucket``,
    ``w_ppm``): per-doc occurrence counts joined to the BROADCAST model
    table, cls_score = Σ cnt·w_ppm / (n_tokens·10⁶) — two exact
    integers, one IEEE division. Docs with zero tokens score null and
    keep=false (the ``with_classifier_score`` contract).

    Scale: the only corpus-sized exchanges are the (id, bucket)
    occurrence groupBy and the per-doc sum — both carry ids and longs,
    never text; the model side is ≤CLS_BUCKETS rows, always broadcast.
    Pass a precomputed ``occ`` (``bucket_occurrences``) to share the
    text pass with training.
    """
    if occ is None:
        occ = bucket_occurrences(df, text_col, id_col)
    scored = (
        occ.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.col("w_ppm")).cast("long").alias("wsum"),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    return df.select(F.col(id_col)).join(scored, id_col, "left").select(
        F.col(id_col),
        F.when(
            F.col("n") > 0,
            F.col("wsum").cast("double")
            / (F.col("n") * F.lit(1000000)).cast("double"),
        ).alias("cls_score"),
        F.coalesce(
            F.col("wsum").cast("double")
            / (F.col("n") * F.lit(1000000)).cast("double")
            >= 0.0,
            F.lit(False),
        ).alias("keep"),
    )


def with_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    score_col: str = "cls_score",
    words_col: str | None = None,
) -> DataFrame:
    """Fasttext-shaped linear quality classifier over hashed token
    features — the "model-based quality filter" stage of CCNet / LLaMA /
    DCLM-style pipelines, with the model reduced to what a linear text
    classifier IS at inference time: token -> hash bucket -> weight,
    score = mean weight, gate on sign/threshold.

    The weight table here is a deterministic function of the bucket id
    (multiplicative hash into [-1000, 1000]) so the operator is
    oracle-checkable end-to-end; swapping in TRAINED fasttext weights is
    the same plan with the 1024-entry table broadcast instead of inlined
    — identical scale shape.

    Scale: ZERO shuffle — tokenize / hash / sum is one narrow codegen
    stage per document, which is why linear classifiers (not LLM
    scoring) remain the 100 TB quality-gate workhorse. Score = integer
    weight sum / (1000 * n_tokens): two exact integers, one IEEE
    division — bit-identical across engines. Empty docs score null.
    """
    # rendered as SQL strings (r14 plan-build optimization, see
    # _words_sql); the weight fragment is _token_weight verbatim.
    # ``words_col``: see with_quality.
    weight = (
        f"((CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT)"
        f" % {CLS_BUCKETS}) * {_CLS_MULT}L) % {_CLS_RANGE}"
        f" - {(_CLS_RANGE - 1) // 2}"
    )
    toks = words_col or "__toks"
    if words_col is None:
        df = df.withColumn("__toks", F.expr(_words_sql(text_col)))
    out = (
        df.withColumn(
            "__wsum",
            F.expr(
                f"aggregate({toks}, CAST(0 AS BIGINT),"
                f" (acc, w) -> acc + ({weight}))"
            ),
        )
        .withColumn("__n", F.expr(f"CAST(size({toks}) AS BIGINT)"))
        .withColumn(
            score_col,
            F.expr(
                "CASE WHEN __n > 0 THEN"
                " CAST(__wsum AS DOUBLE) / CAST(__n * 1000 AS DOUBLE) END"
            ),
        )
        .drop("__wsum", "__n")
    )
    return out if words_col is not None else out.drop("__toks")


def chunk_documents(
    df: DataFrame,
    chunk: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-window document chunking with overlap — the context-window
    preparation step (and the RAG indexing unit): window ``i`` covers
    words [i·stride, i·stride + chunk); ``stride < chunk`` overlaps
    consecutive windows so no span longer than ``chunk - stride`` words
    is ever split across a window boundary without appearing whole in
    some window. → (id, chunk_idx, chunk_text, n_tokens); empty
    documents produce no chunks; the final window may be short.

    Text is lower-cased and whitespace-normalized (the same token
    stream every dedup/fingerprint operator here sees).

    Scale shape: one narrow map — split once, per-window ``slice`` of
    the cached word array, explode. Zero shuffles, no UDF; ~n_words/
    stride output rows per document, each built JVM-side.
    """
    from wikidatabots_spark.operators.dedup import WORD_SPLIT

    if chunk < 1 or stride < 1:
        raise ValueError("chunk and stride must be >= 1")
    wl_expr = F.filter(
        F.split(F.lower(F.col(text_col)), WORD_SPLIT), lambda w: w != ""
    )
    base = df.select(F.col(id_col), wl_expr.alias("__wl"))
    wl = F.col("__wl")
    n = F.size(wl)
    idx = F.when(
        n > 0, F.sequence(F.lit(0), F.expr(f"(size(__wl) - 1) div {stride}"))
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = base.select(
        F.col(id_col), wl.alias("__wl"), F.explode(idx).alias("chunk_idx")
    )
    sl = F.slice(
        F.col("__wl"),
        (F.col("chunk_idx") * stride + 1).cast("int"),
        chunk,
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", sl).alias("chunk_text"),
        F.size(sl).cast("bigint").alias("n_tokens"),
    )


def tokenize_to_ids(
    df: DataFrame,
    vocab_size: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Map documents to integer token-id sequences under a corpus-built
    vocabulary — the step between raw text and ``pack_sequences``:
    vocab = top ``vocab_size`` words by (count desc, word asc), ids
    1..N in that rank order; unknown words map to 0 (UNK).
    → (id, ids: array<int>, n_tokens, n_unk). Deterministic end to end:
    the vocab ranking has a total tie-break, so re-runs (and the
    oracle) assign identical ids.

    Scale shape: the vocab is one explode + word-count shuffle +
    distributed top-k (TakeOrderedAndProject — per-partition partial
    top-k, no global sort); its id window runs over ≤vocab_size rows.
    The id mapping is a ``map_from_entries`` built from the tiny vocab
    frame, broadcast to a NARROW per-document transform — the corpus is
    never exploded a second time and never shuffles. A real BPE vocab
    swaps in as the same broadcast map over subtokens.
    """
    from wikidatabots_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(F.col(id_col), words(F.col(text_col)).alias("__w"))
    counts = (
        base.select(F.explode(F.col("__w")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(vocab_size)
    )
    vocab = counts.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("word")))
        .cast("int")
        .alias("token_id"),
    )
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word"), F.col("token_id")))
        ).alias("__vmap")
    )
    w = F.col("__w")
    ids = F.transform(
        w, lambda x: F.coalesce(F.element_at(F.col("__vmap"), x), F.lit(0))
    )
    return base.crossJoin(F.broadcast(vmap)).select(
        F.col(id_col),
        ids.alias("ids"),
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(F.filter(ids, lambda i: i == 0)).cast("bigint").alias("n_unk"),
    )


GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def with_gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021, Table A1): adds
    ``n_words``, seven per-rule booleans and the conjunctive ``keep``.

    Every threshold is an INTEGER cross-multiplication (``10 * n_sym <
    n_words``, not ``n_sym / n_words < 0.1``) so the battery is
    engine-exact. Rules:

    - ``r_word_count``    — 50 <= words <= 100000
    - ``r_mean_word_len`` — mean word length in [3, 10] chars
    - ``r_symbol_ratio``  — (#'#' + #ellipses) / words < 0.1
    - ``r_bullet_lines``  — < 90% of lines start with a bullet
    - ``r_ellipsis_lines``— < 30% of lines end with an ellipsis
    - ``r_alpha_words``   — >= 80% of words contain a letter
    - ``r_stopwords``     — >= 2 distinct Gopher stop words present

    A pure narrow map: word/line arrays materialize once and feed every
    rule (Catalyst does not CSE through lambda-bearing trees).
    """
    t = F.col(text_col)
    df = df.withColumns(
        {
            "__w": words(t),
            "__ln": F.split(t, "\n"),
            "__n_hash": F.length(t)
            - F.length(F.replace(t, F.lit("#"), F.lit(""))),
            "__n_ell": (
                (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit(""))))
                / F.lit(3)
            ).cast("long")
            + F.length(t)
            - F.length(F.replace(t, F.lit("…"), F.lit(""))),
        }
    )
    w, ln = F.col("__w"), F.col("__ln")
    df = df.withColumns(
        {
            "__nw": F.size(w).cast("long"),
            "__nl": F.size(ln).cast("long"),
            "__wchars": F.coalesce(
                F.aggregate(
                    w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
                ),
                F.lit(0).cast("long"),
            ),
            "__n_bullet": F.size(
                F.filter(
                    ln,
                    lambda x: F.ltrim(x).startswith("-")
                    | F.ltrim(x).startswith("*")
                    | F.ltrim(x).startswith("•"),
                )
            ).cast("long"),
            "__n_ell_ln": F.size(
                F.filter(
                    ln,
                    lambda x: F.rtrim(x).endswith("...")
                    | F.rtrim(x).endswith("…"),
                )
            ).cast("long"),
            "__n_alpha": F.size(
                F.filter(w, lambda x: x.rlike("[a-z]"))
            ).cast("long"),
            "__n_stop": F.size(
                F.filter(
                    F.array(*[F.lit(s) for s in GOPHER_STOPS]),
                    lambda s: F.array_contains(w, s),
                )
            ).cast("long"),
        }
    )
    nw = F.col("__nw")
    rules = {
        "r_word_count": nw.between(50, 100000),
        "r_mean_word_len": (F.lit(3) * nw <= F.col("__wchars"))
        & (F.col("__wchars") <= F.lit(10) * nw),
        "r_symbol_ratio": F.lit(10) * (F.col("__n_hash") + F.col("__n_ell"))
        < nw,
        "r_bullet_lines": F.lit(10) * F.col("__n_bullet")
        < F.lit(9) * F.col("__nl"),
        "r_ellipsis_lines": F.lit(10) * F.col("__n_ell_ln")
        < F.lit(3) * F.col("__nl"),
        "r_alpha_words": F.lit(10) * F.col("__n_alpha") >= F.lit(8) * nw,
        "r_stopwords": F.col("__n_stop") >= F.lit(2),
    }
    keep = rules["r_word_count"]
    for name in list(rules)[1:]:
        keep = keep & rules[name]
    return (
        df.withColumn("n_words", nw)
        .withColumns({name: expr for name, expr in rules.items()})
        .withColumn("keep", keep)
        .drop(
            "__w", "__ln", "__n_hash", "__n_ell", "__nw", "__nl",
            "__wchars", "__n_bullet", "__n_ell_ln", "__n_alpha", "__n_stop",
        )
    )
