"""Round-4d retrieval wave: product-quantization ANN and the recall
evaluation harness, each oracle-hash-checked.

- ``knn_pq_adc`` — PQ-encoded approximate nearest neighbor with ADC
  (asymmetric distance) search: codebook training, encoding, and the
  full search are deterministic integer math, so the DuckDB oracle
  reproduces the entire index lifecycle bit-for-bit
- ``knn_recall_eval`` — the "measure, don't guess" harness: per-query
  recall of the IVF index (``knn_ivf_exact``) against the exact
  brute-force top-k, computed as a query so index-quality regression
  is itself oracle-checked
- ``knn_pq_recall_eval`` — the same harness for PQ/ADC search: prices
  the code-compression approximation the way knn_recall_eval prices
  the IVF candidate fence
- ``knn_ivf_pq`` (r14) — the two approximations composed into the
  FAISS-style production index: IVF cell pruning picks WHICH
  candidates ADC scores, PQ codes set what each costs

No reference counterpart (north-star extensions, BASELINE.json
similarity-search family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidatabots_spark.plans.registry import register
from wikidatabots_spark.sources.tables import load_table

_PQ_M = 4
_PQ_SUBDIM = 16
_PQ_K = 4
_PQ_ROUNDS = 2
_PQ_NQ = 20
_PQ_TOPK = 3

_QUANT_SQL = (
    "list_transform(embedding,"
    " x -> CAST(round((CAST(x AS DOUBLE) + 1.0) * 100) AS INT))"
)


def _pq_oracle(
    m: int = _PQ_M,
    subdim: int = _PQ_SUBDIM,
    k: int = _PQ_K,
    n_queries: int = _PQ_NQ,
    topk: int = _PQ_TOPK,
    ivf: tuple[int, int] | None = None,
) -> str:
    # per-subspace: unrolled 2-round integer k-means (the emb_kmeans
    # oracle shape specialized to the subvector slice), argmin encode
    # against the round-2 centroids, then ADC = query-subvector ->
    # candidate-centroid squared distance summed across subspaces.
    # With ivf=(n_cells, nprobe) the ADC pairs are restricted to the
    # IVF-PQ candidate set: coarse cells are the n_cells quantized
    # corpus vectors ranked first by (md5(vec_id), vec_id) (the
    # knn_ivf_topk seeding, here in the quantized-integer domain so
    # every distance in the composed index is exact integer math),
    # assignment/probing are full-width integer-L2 argmins with ties
    # to the lowest cell, and cand = nprobe-probed (query, neighbor)
    # pairs.
    parts = [
        f"""q AS (
    SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings
)"""
    ]
    if ivf is not None:
        n_cells, nprobe = ivf
        dim = m * subdim
        parts.append(
            f"""ivford AS (
    SELECT vec_id, v,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                              vec_id) AS rn
    FROM q
),
ivfc AS (
    SELECT CAST(rn - 1 AS INT) AS cell, v AS cv
    FROM ivford WHERE rn <= {n_cells}
),
ivfd AS (
    SELECT e.vec_id, c.cell,
           list_sum(list_transform(generate_series(1, {dim}),
               i -> CAST((e.v[i] - c.cv[i]) AS BIGINT)
                    * CAST((e.v[i] - c.cv[i]) AS BIGINT))) AS d2
    FROM q e CROSS JOIN ivfc c
),
ivfassign AS (
    SELECT vec_id AS neighbor_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM ivfd) WHERE rn = 1
),
ivfprobes AS (
    SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS rn
        FROM ivfd WHERE vec_id < {n_queries}) WHERE rn <= {nprobe}
),
cand AS (
    SELECT p.query_id, a.neighbor_id
    FROM ivfprobes p JOIN ivfassign a USING (cell)
    WHERE a.neighbor_id != p.query_id
)"""
        )
    for s in range(m):
        lo, hi = s * subdim + 1, (s + 1) * subdim
        adc_select = f"""list_sum(list_transform(generate_series(1, {subdim}),
               i -> CAST((qq.vs[i] - cc.cv[i]) AS BIGINT)
                    * CAST((qq.vs[i] - cc.cv[i]) AS BIGINT))) AS d"""
        if ivf is None:
            adc_from = f"""SELECT qq.vec_id AS query_id, cd.vec_id AS neighbor_id,
           {adc_select}
    FROM sub{s} qq
    JOIN code_{s} cd ON qq.vec_id < {n_queries}
                    AND cd.vec_id != qq.vec_id
    JOIN c1_{s} cc ON cc.cluster = cd.code"""
        else:
            adc_from = f"""SELECT ca.query_id, ca.neighbor_id,
           {adc_select}
    FROM cand ca
    JOIN sub{s} qq ON qq.vec_id = ca.query_id
    JOIN code_{s} cd ON cd.vec_id = ca.neighbor_id
    JOIN c1_{s} cc ON cc.cluster = cd.code"""
        parts.append(
            f"""sub{s} AS (
    SELECT vec_id,
           list_transform(generate_series({lo}, {hi}), i -> v[i]) AS vs
    FROM q
),
c0_{s} AS (
    SELECT CAST(vec_id AS INT) AS cluster, vs AS cv
    FROM sub{s} WHERE vec_id < {k}
),
d1_{s} AS (
    SELECT t.vec_id, c.cluster,
           list_sum(list_transform(generate_series(1, {subdim}),
               i -> CAST((t.vs[i] - c.cv[i]) AS BIGINT)
                    * CAST((t.vs[i] - c.cv[i]) AS BIGINT))) AS dist
    FROM sub{s} t CROSS JOIN c0_{s} c
),
a1_{s} AS (
    SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1_{s}
    ) WHERE rn = 1
),
cd_{s} AS (
    SELECT a.cluster, g.i,
           CAST(SUM(t.vs[g.i]) // COUNT(*) AS INT) AS mval
    FROM a1_{s} a JOIN sub{s} t USING (vec_id),
         generate_series(1, {subdim}) g(i)
    GROUP BY a.cluster, g.i
),
c1_{s} AS (
    SELECT cluster, list(mval ORDER BY i) AS cv FROM cd_{s} GROUP BY cluster
),
d2_{s} AS (
    SELECT t.vec_id, c.cluster,
           list_sum(list_transform(generate_series(1, {subdim}),
               i -> CAST((t.vs[i] - c.cv[i]) AS BIGINT)
                    * CAST((t.vs[i] - c.cv[i]) AS BIGINT))) AS dist
    FROM sub{s} t CROSS JOIN c1_{s} c
),
code_{s} AS (
    SELECT vec_id, cluster AS code FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d2_{s}
    ) WHERE rn = 1
),
adc{s} AS (
    {adc_from}
)"""
        )
    joins = " ".join(
        f"JOIN adc{s} a{s} USING (query_id, neighbor_id)" for s in range(1, m)
    )
    total_expr = " + ".join(f"a{s}.d" for s in range(m))
    parts.append(
        f"""total AS (
    SELECT a0.query_id, a0.neighbor_id, {total_expr} AS adc_dist
    FROM adc0 a0 {joins}
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, neighbor_id) AS rank
    FROM total
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {topk}
"""


@register("knn_pq_adc", oracle=_pq_oracle())
def knn_pq_adc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, hash-checked through the WHOLE index
    lifecycle: per-subspace integer k-means codebooks (m=4 subspaces of
    16 dims, k=4, 2 Lloyd rounds), narrow-map encoding to 4 int codes
    per vector, and ADC search of the vec_id<20 query batch — each
    query's per-subspace lookup table is built driver-side from the
    tiny codebooks, a candidate's distance is 4 LUT lookups summed, and
    ranking is (adc_dist ASC, neighbor_id ASC) top-3.

    Scale (see ``operators.pq``): candidates ship 4 small ints instead
    of a 64-wide vector — at production PQ sizes one byte per subspace,
    the layout that fits a billion vectors in RAM; search does no
    per-candidate vector arithmetic, explodes over a literal query
    batch (no BNLJ), and its only shuffle is the final per-query top-k
    window. The PQ distance is an approximation by construction (ADC
    quantization error); unlike sampled ANN variants it is
    DETERMINISTIC, so the oracle pins exact equality, and
    ``knn_recall_eval`` measures the quality loss instead of assuming
    it.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.pq import pq_adc_topk, pq_encode, pq_fit

    from wikidatabots_spark.operators.dedup import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    # fence the quantized table: the m codebook fits (init + per-round
    # recompute jobs), the encode, and the query collect all read it —
    # unfenced, every one of those ~2m+2 jobs re-runs the quantize
    # projection from the parquet scan. Parallelism guard (r14): the
    # single-file embedding scan otherwise pins the fenced table — and
    # every downstream fit/encode/ADC stage — to ONE task (measured a
    # 0.8 s single-task ADC stage at sf0.1); no-op at cluster scale.
    qv = pushdown_fence(
        ensure_parallelism(emb, "vec_id").select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(
                    (x.cast("double") + F.lit(1.0)) * F.lit(100.0)
                ).cast("int"),
            ).alias("v"),
        )
    )
    books = pq_fit(
        qv, m=_PQ_M, subdim=_PQ_SUBDIM, k=_PQ_K, rounds=_PQ_ROUNDS
    )
    encoded = pq_encode(qv, books, subdim=_PQ_SUBDIM).drop("v")
    query_rows = [
        (r["vec_id"], r["v"])
        for r in qv.where(F.col("vec_id") < _PQ_NQ).collect()
    ]
    query_rows.sort()
    return pq_adc_topk(
        encoded, query_rows, books, subdim=_PQ_SUBDIM, k_top=_PQ_TOPK
    )


# ---------------------------------------------------------------------------
# knn_recall_eval — recall@k of the IVF index vs exact brute force
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    from wikidatabots_spark.plans.llmdata import _ivf_exact_oracle

    return f"""
WITH exact AS (
    WITH norms AS (
        SELECT vec_id,
               sqrt(SUM(CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE))) AS nrm
        FROM embeddings, generate_series(1, 64) t(i)
        GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               SUM(CAST(q.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE)) AS dot
        FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
        WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT d.query_id, d.neighbor_id,
               row_number() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / (nq.nrm * nc.nrm) DESC,
                                           d.neighbor_id) AS rank
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3
),
ivf AS (
    SELECT query_id, neighbor_id FROM ({_ivf_exact_oracle()})
),
u AS (
    SELECT COALESCE(e.query_id, i.query_id) AS query_id,
           CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
           CASE WHEN i.query_id IS NOT NULL THEN 1 ELSE 0 END AS in_ivf
    FROM exact e
    FULL OUTER JOIN ivf i
      ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
)
SELECT query_id,
       CAST(SUM(in_exact) AS BIGINT) AS n_exact,
       CAST(SUM(in_ivf) AS BIGINT) AS n_ivf,
       CAST(SUM(in_exact * in_ivf) AS BIGINT) AS n_matched,
       CAST(SUM(in_exact * in_ivf) AS DOUBLE) / SUM(in_exact) AS recall
FROM u
GROUP BY query_id
"""


@register("knn_recall_eval", oracle=_recall_oracle())
def knn_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of the deterministic IVF index
    (``knn_ivf_exact``: nprobe=1 cluster fence) against the exact
    brute-force cosine top-3 — the "measure, don't guess" harness run
    AS a query, so the index's quality number is itself oracle-pinned
    and a recall regression (a bad codebook, a broken fence) fails the
    correctness gate, not just a benchmark eyeball.

    Both legs are deterministic (ties broken by neighbor_id), so the
    full-outer set comparison is engine-exact; recall divides two small
    exact integers (one IEEE division, reproducible). ``n_ivf`` can be
    < 3 when a query's cluster holds fewer candidates — the honest
    denominator stays ``n_exact``.

    Scale: the exact leg is the knn_brute single-shuffle shape over the
    20-query broadcast; the IVF leg is the cluster-fenced equi-join;
    the comparison joins two top-k result sets (queries x k rows —
    trivially broadcastable at any corpus size).
    """
    from wikidatabots_spark.operators.similarity import knn_brute
    from wikidatabots_spark.plans.llmdata import knn_ivf_exact_q

    emb = load_table(spark, sf_dir, "embeddings")
    exact = (
        knn_brute(emb.where(F.col("vec_id") < 20), emb, k=3)
        .select("query_id", "neighbor_id")
        .withColumn("in_exact", F.lit(1))
    )
    ivf = (
        knn_ivf_exact_q(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("in_ivf", F.lit(1))
    )
    u = exact.join(ivf, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        F.coalesce("in_exact", F.lit(0)).alias("in_exact"),
        F.coalesce("in_ivf", F.lit(0)).alias("in_ivf"),
    )
    return u.groupBy("query_id").agg(
        F.sum("in_exact").cast("long").alias("n_exact"),
        F.sum("in_ivf").cast("long").alias("n_ivf"),
        F.sum(F.col("in_exact") * F.col("in_ivf")).cast("long").alias("n_matched"),
        (
            F.sum(F.col("in_exact") * F.col("in_ivf")).cast("double")
            / F.sum("in_exact")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# knn_pq_recall_eval — recall@k of PQ/ADC search vs exact brute force
# ---------------------------------------------------------------------------


def _pq_recall_oracle() -> str:
    return f"""
WITH exact AS (
    WITH norms AS (
        SELECT vec_id,
               sqrt(SUM(CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE))) AS nrm
        FROM embeddings, generate_series(1, 64) t(i)
        GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               SUM(CAST(q.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE)) AS dot
        FROM embeddings q, embeddings c, generate_series(1, 64) t(i)
        WHERE q.vec_id < 20 AND q.vec_id != c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ),
    ranked AS (
        SELECT d.query_id, d.neighbor_id,
               row_number() OVER (PARTITION BY d.query_id
                                  ORDER BY d.dot / (nq.nrm * nc.nrm) DESC,
                                           d.neighbor_id) AS rank
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3
),
pq AS (
    SELECT query_id, neighbor_id FROM ({_pq_oracle()})
),
u AS (
    SELECT COALESCE(e.query_id, p.query_id) AS query_id,
           CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
           CASE WHEN p.query_id IS NOT NULL THEN 1 ELSE 0 END AS in_pq
    FROM exact e
    FULL OUTER JOIN pq p
      ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
)
SELECT query_id,
       CAST(SUM(in_exact) AS BIGINT) AS n_exact,
       CAST(SUM(in_pq) AS BIGINT) AS n_pq,
       CAST(SUM(in_exact * in_pq) AS BIGINT) AS n_matched,
       CAST(SUM(in_exact * in_pq) AS DOUBLE) / SUM(in_exact) AS recall
FROM u
GROUP BY query_id
"""


@register("knn_pq_recall_eval", oracle=_pq_recall_oracle())
def knn_pq_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of PQ/ADC search against the exact cosine
    top-3 — the quantization-error counterpart of ``knn_recall_eval``
    (which measures the IVF fence): together they price the two
    orthogonal ANN tradeoffs (code compression vs candidate pruning)
    as oracle-gated numbers. Note the metric crossing: ADC ranks by
    L2 on quantized ints, exact by cosine on floats — recall measures
    exactly that compound approximation, which is why it needs
    MEASURING rather than a bound.

    Scale: both legs are the single-topk-shuffle shapes audited on
    their own queries; the comparison joins two queries x k result
    sets.
    """
    from wikidatabots_spark.operators.similarity import knn_brute

    emb = load_table(spark, sf_dir, "embeddings")
    exact = (
        knn_brute(emb.where(F.col("vec_id") < 20), emb, k=3)
        .select("query_id", "neighbor_id")
        .withColumn("in_exact", F.lit(1))
    )
    pq = (
        knn_pq_adc_q(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("in_pq", F.lit(1))
    )
    u = exact.join(pq, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        F.coalesce("in_exact", F.lit(0)).alias("in_exact"),
        F.coalesce("in_pq", F.lit(0)).alias("in_pq"),
    )
    return u.groupBy("query_id").agg(
        F.sum("in_exact").cast("long").alias("n_exact"),
        F.sum("in_pq").cast("long").alias("n_pq"),
        F.sum(F.col("in_exact") * F.col("in_pq")).cast("long").alias("n_matched"),
        (
            F.sum(F.col("in_exact") * F.col("in_pq")).cast("double")
            / F.sum("in_exact")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# dedup_minhash_est_error — measured MinHash accuracy on LSH candidates
# ---------------------------------------------------------------------------


def _minhash_err_oracle() -> str:
    from wikidatabots_spark.plans.extensions import (
        _MINHASH_ANCHORS_SQL,
        _MINHASH_STACKED_SQL,
        _TOK_SQL,
    )

    return f"""
WITH {_TOK_SQL},
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
agree AS (
    SELECT p.id_a, p.id_b,
           CAST((sa.mh0 = sb.mh0)::INT + (sa.mh1 = sb.mh1)::INT
              + (sa.mh2 = sb.mh2)::INT + (sa.mh3 = sb.mh3)::INT
              + (sa.mh4 = sb.mh4)::INT + (sa.mh5 = sb.mh5)::INT
              + (sa.mh6 = sb.mh6)::INT + (sa.mh7 = sb.mh7)::INT AS BIGINT)
               AS n_agree
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM tok GROUP BY doc_id),
inter AS (
    SELECT p.id_a, p.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
    FROM pairs p
    JOIN tok ta ON ta.doc_id = p.id_a
    JOIN tok tb ON tb.doc_id = p.id_b AND tb.token = ta.token
    GROUP BY p.id_a, p.id_b
),
j AS (
    SELECT a.id_a, a.id_b, a.n_agree,
           COALESCE(i.n_inter, 0) AS n_inter,
           za.sz + zb.sz - COALESCE(i.n_inter, 0) AS n_union
    FROM agree a
    LEFT JOIN inter i ON i.id_a = a.id_a AND i.id_b = a.id_b
    JOIN sizes za ON za.doc_id = a.id_a
    JOIN sizes zb ON zb.doc_id = a.id_b
)
SELECT id_a, id_b, n_agree,
       (n_agree * 1000000) // 8 AS est_jaccard_ppm,
       (n_inter * 1000000) // n_union AS exact_jaccard_ppm,
       (n_agree * 1000000) // 8 - (n_inter * 1000000) // n_union AS err_ppm
FROM j
"""


@register("dedup_minhash_est_error", oracle=_minhash_err_oracle())
def dedup_minhash_est_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash accuracy on every LSH candidate pair: the
    signature-agreement Jaccard estimate (agreeing positions / k, the
    estimator LSH banding is built on) against the EXACT shingle-set
    Jaccard, both in integer parts-per-million, plus the signed error.
    Completes the measured-approximation trilogy — ANN recall
    (``knn_recall_eval`` / ``knn_pq_recall_eval``), sketch error
    (``sketch_hll_error``), and now the dedup estimator — so every
    approximate structure in the engine carries an oracle-gated
    accuracy number. With k=8 hashes the estimate quantizes to eighths;
    the per-pair error column is exactly the calibration data a
    threshold choice needs.

    Scale: candidates and signatures come from the audited LSH shapes
    (band-key equi-join; zero-shuffle narrow signatures); the exact leg
    joins the token table to the CANDIDATE pairs only (broadcast-sized)
    — never all pairs — so the expensive exact computation is fenced to
    exactly the rows being calibrated.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature_cols,
        shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    k = 8
    # fences: the candidate pairs feed both the agreement join and the
    # broadcast side of the intersection join, and the token table is
    # read three times (sizes + both intersection legs) — unfenced, the
    # static plan replayed the documents scan 10x (PLANS.md)
    pairs = pushdown_fence(
        minhash_lsh_pairs(d, num_hashes=k, bands=4).select("id_a", "id_b")
    )
    sig = minhash_signature_cols(d, num_hashes=k)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)],
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    ).cast("long")
    agree = (
        pairs.join(sa, "id_a").join(sb, "id_b").select(
            "id_a", "id_b", n_agree.alias("n_agree")
        )
    )
    tok = pushdown_fence(
        shingles(d, 3, "doc_id", "text", distinct=False)
        .select("doc_id", F.xxhash64("token").alias("tk"))
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    ta = tok.select(F.col("doc_id").alias("id_a"), "tk")
    tb = tok.select(F.col("doc_id").alias("id_b"), "tk")
    inter = (
        ta.join(F.broadcast(pairs), "id_a")
        .join(tb, ["id_b", "tk"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    j = (
        agree.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sza"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "szb"), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_agree",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.col("sza") + F.col("szb") - F.coalesce("n_inter", F.lit(0))).alias(
                "n_union"
            ),
        )
    )
    est = F.expr("n_agree * 1000000 div 8")
    exact = F.expr("n_inter * 1000000 div n_union")
    return j.select(
        "id_a",
        "id_b",
        "n_agree",
        est.alias("est_jaccard_ppm"),
        exact.alias("exact_jaccard_ppm"),
        (est - exact).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup_jaccard_histogram — candidate-similarity histogram for thresholds
# ---------------------------------------------------------------------------


def _jaccard_hist_oracle() -> str:
    base = _minhash_err_oracle()
    # reuse the calibration query's entire CTE chain; re-aggregate its
    # per-pair rows into decile bands of the EXACT Jaccard
    return f"""
WITH pairs_scored AS ({base})
SELECT exact_jaccard_ppm // 100000 AS jaccard_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN est_jaccard_ppm >= 500000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_est_above_half
FROM pairs_scored
GROUP BY exact_jaccard_ppm // 100000
"""


@register("dedup_jaccard_histogram", oracle=_jaccard_hist_oracle())
def dedup_jaccard_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregate view of the MinHash calibration pair: LSH
    candidate pairs bucketed by EXACT-Jaccard decile, with the count
    of pairs the 8-hash estimator would pass at a 0.5 threshold in
    each band. Read together the two columns ARE the
    precision/recall trade of a threshold choice (estimator-passed
    pairs in low-exact deciles = false keeps; high-exact deciles
    missing estimator passes = false drops) — `dedup_minhash_est_error`
    gives the per-pair evidence, this gives the decision table.

    Scale: a |deciles|-row re-aggregation of the already-fenced
    calibration output; nothing new touches the corpus.
    """
    per_pair = dedup_minhash_est_error_q(spark, sf_dir)
    return (
        per_pair.groupBy(
            F.expr("exact_jaccard_ppm div 100000").alias("jaccard_decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("est_jaccard_ppm") >= 500000, 1).otherwise(0)
            ).cast("long").alias("n_est_above_half"),
        )
    )


# ---------------------------------------------------------------------------
# emb_power_iteration — top spectral component of the embedding Gram matrix
# ---------------------------------------------------------------------------

_PI_DIMS = 16
_PI_SCALE = 100


def _power_iter_oracle(d: int = _PI_DIMS, s: int = _PI_SCALE) -> str:
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding[1:{d}],
                          x -> CAST(round(CAST(x AS DOUBLE) * {s}) AS BIGINT))
               AS qv
    FROM embeddings
),
pairs AS (
    SELECT i, j, qv[i] * qv[j] AS p
    FROM q, generate_series(1, {d}) si(i), generate_series(1, {d}) sj(j)
),
gram AS (SELECT i, j, SUM(p) AS c FROM pairs GROUP BY i, j),
v1 AS (SELECT i, SUM(c) AS v FROM gram GROUP BY i),
v2 AS (
    SELECT g.i, SUM(g.c * v1.v) AS v
    FROM gram g JOIN v1 ON v1.i = g.j
    GROUP BY g.i
),
lam AS (
    SELECT CAST((1000000 * SUM(v2.v * v1.v)) // SUM(v1.v * v1.v) AS BIGINT)
               AS lambda_ppm
    FROM v1 JOIN v2 USING (i)
)
SELECT CAST(v1.i AS INT) AS dim,
       CAST(v1.v AS BIGINT) AS v1,
       CAST(v2.v AS DOUBLE) AS v2_scaled,
       lam.lambda_ppm
FROM v1 JOIN v2 USING (i), lam
"""


@register("emb_power_iteration", oracle=_power_iter_oracle())
def emb_power_iteration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed power iteration: two unrolled matrix-vector rounds
    against the Gram (uncentered second-moment) matrix of the first
    {_PI_DIMS} embedding dims, entirely in integer arithmetic — the
    iterative-linear-algebra pattern (PCA top component, spectral
    embedding dims) expressed Spark-first with a CTE-by-CTE oracle.
    Quantization is the established round(x*100) integer mapping; v0 is
    the ones vector; output per dim: v1, v2 (the iterates — v2 cast to
    DOUBLE, exact for these magnitudes' identical integer→double
    conversion in both engines) and the Rayleigh-quotient eigenvalue
    estimate lambda_ppm = (1e6·v2·v1) div (v1·v1), computed in
    DECIMAL(38,0)/HUGEINT so the ~1e31 intermediates never overflow
    while the final quotient fits a BIGINT. Mean-centered PCA is the
    same plan minus a broadcast rank-1 mean correction.

    Scale shape (the reason this beats collect-and-numpy): the ONLY
    corpus-sized stage is the per-vector d² pair explode feeding a
    map-side-combined groupBy — the exchange carries at most d² rows
    per map task regardless of corpus size (the CMS argument). Both
    iteration rounds then run on the d²-row Gram matrix: adding
    iterations costs d²-row joins, never another corpus pass. The
    quantized slice is fenced (the no-CSE-through-HOF-lambdas trap:
    the nested pair transform references it d² times).
    """
    from wikidatabots_spark.functions.scale import pushdown_fence

    d, s = _PI_DIMS, _PI_SCALE
    from wikidatabots_spark.operators.dedup import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    # parallelism guard (r14): single-file scan -> one task otherwise
    qd = pushdown_fence(
        ensure_parallelism(emb, "vec_id").select(
            "vec_id",
            F.transform(
                F.slice("embedding", 1, d),
                lambda x: F.round(x.cast("double") * s).cast("long"),
            ).alias("qv"),
        )
    )
    # one narrow stage: d^2 (i, j, q_i*q_j) structs per vector, exploded;
    # the transform's second lambda arg is the 0-based element INDEX
    # (the documented marker_count trap — here it is exactly what we
    # want), emitted 1-based to match the oracle
    pair_structs = F.flatten(
        F.transform(
            "qv",
            lambda xi, i: F.transform(
                "qv",
                lambda xj, j: F.struct(
                    (i + 1).cast("int").alias("i"),
                    (j + 1).cast("int").alias("j"),
                    (xi * xj).alias("p"),
                ),
            ),
        )
    )
    gram = (
        qd.select(F.explode(pair_structs).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("c"))
    )
    gram = pushdown_fence(gram)  # feeds v1, v2, and the lambda legs
    v1 = gram.groupBy("i").agg(F.sum("c").alias("v"))
    v1 = pushdown_fence(v1)
    v2 = (
        gram.join(
            v1.select(F.col("i").alias("j"), F.col("v").alias("vj")), "j"
        )
        .groupBy("i")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("vj")).alias("v")
        )
    )
    v2 = pushdown_fence(v2)
    lam = (
        v1.join(v2.select(F.col("i"), F.col("v").alias("v2v")), "i")
        .agg(
            F.sum(F.col("v2v") * F.col("v")).alias("num"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("den"),
        )
        .selectExpr("CAST((num * 1000000) DIV den AS BIGINT) AS lambda_ppm")
    )
    return (
        v1.join(v2.select("i", F.col("v").alias("v2")), "i")
        .crossJoin(F.broadcast(lam))
        .select(
            F.col("i").cast("int").alias("dim"),
            F.col("v").cast("bigint").alias("v1"),
            F.col("v2").cast("double").alias("v2_scaled"),
            "lambda_ppm",
        )
    )


# ---------------------------------------------------------------------------
# dedup_band_sweep — the LSH banding S-curve as data (bands in {2,4,8})
# ---------------------------------------------------------------------------


def _band_sweep_oracle() -> str:
    from wikidatabots_spark.operators.dedup import BAND_BUCKET_CAP
    from wikidatabots_spark.plans.extensions import _TOK_SQL

    # per config: band hashes over k/b consecutive minhashes, capped
    # anchor pairs, exact-Jaccard verification on the candidates only
    sig_cols = ", ".join(
        f"MIN(md5('{i}:' || token)) AS mh{i}" for i in range(8)
    )
    configs = []
    for b in (2, 4, 8):
        r = 8 // b
        bandexprs = []
        for bi in range(b):
            parts = " || '|' || ".join(f"mh{bi * r + j}" for j in range(r))
            bandexprs.append(
                f"SELECT doc_id, {bi} AS band_idx, md5({parts}) AS band_hash"
                f" FROM sig"
            )
        stacked = " UNION ALL ".join(bandexprs)
        configs.append(
            f"""stacked{b} AS ({stacked}),
anchors{b} AS (
    SELECT doc_id, band_idx, band_hash FROM (
        SELECT doc_id, band_idx, band_hash,
               row_number() OVER (PARTITION BY band_idx, band_hash
                                  ORDER BY doc_id) AS rk
        FROM stacked{b}
    ) WHERE rk <= {BAND_BUCKET_CAP}
),
pairs{b} AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM anchors{b} a JOIN stacked{b} b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
)"""
        )
    config_sql = ",\n".join(configs)
    tagged = " UNION ALL ".join(
        f"SELECT {b} AS bands, id_a, id_b FROM pairs{b}" for b in (2, 4, 8)
    )
    return f"""
WITH {_TOK_SQL},
sig AS (SELECT doc_id, {sig_cols} FROM tok GROUP BY doc_id),
{config_sql},
tagged AS ({tagged}),
cand AS (SELECT DISTINCT id_a, id_b FROM tagged),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
          FROM tok GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.id_a
    JOIN tok tb ON tb.doc_id = c.id_b AND tb.token = ta.token
    GROUP BY c.id_a, c.id_b
),
verdict AS (
    SELECT c.id_a, c.id_b,
           CASE WHEN 2 * COALESCE(i.n_inter, 0)
                     >= (za.sz + zb.sz - COALESCE(i.n_inter, 0))
                THEN 1 ELSE 0 END AS is_sim
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b
)
SELECT t.bands,
       CAST(8 // t.bands AS INT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(v.is_sim) AS BIGINT) AS n_sim,
       CAST((1000000 * SUM(v.is_sim)) // COUNT(*) AS BIGINT)
           AS precision_ppm
FROM tagged t JOIN verdict v ON v.id_a = t.id_a AND v.id_b = t.id_b
GROUP BY t.bands
"""


@register("dedup_band_sweep", oracle=_band_sweep_oracle())
def dedup_band_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-CURVE measured on this corpus: with k=8
    minhashes, banding (bands, rows/band) ∈ {(2,4), (4,2), (8,1)}
    sweeps the collision threshold from strict to loose — more bands =
    more candidates at lower precision. Per config: candidate count,
    exactly-verified near-dups (Jaccard ≥ 0.5, integer
    cross-multiplication), precision in ppm. This is the table a
    banding choice reads INSTEAD of trusting the (1-(1-s^r)^b) formula
    on faith — the capstone of the measured-approximation family.

    Scale: signatures compute ONCE (fenced) and feed all three band
    derivations (narrow projections of the same 8 columns); each
    config's candidate join is anchor-capped (bounded output); the
    expensive exact-Jaccard leg runs on the DISTINCT union of all
    configs' candidates only, fenced so the token table is read once
    per join leg, never per config.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        minhash_signature_cols,
        shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = pushdown_fence(minhash_signature_cols(d, num_hashes=8))
    tagged_parts = []
    for b in (2, 4, 8):
        r = 8 // b
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{bi * r + j}") for j in range(r)]
                )
            ).alias(f"band{bi}")
            for bi in range(b)
        ]
        stacked = (
            sig.select(F.col("doc_id"), *band_cols)
            .select(
                "doc_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(bi).alias("band_idx"),
                                F.col(f"band{bi}").alias("band_hash"),
                            )
                            for bi in range(b)
                        ]
                    )
                ).alias("bh"),
            )
            .select("doc_id", "bh.band_idx", "bh.band_hash")
        )
        tagged_parts.append(
            band_pairs(stacked)
            .select("id_a", "id_b")
            .distinct()
            .select(F.lit(b).alias("bands"), "id_a", "id_b")
        )
    tagged = pushdown_fence(
        tagged_parts[0].unionByName(tagged_parts[1]).unionByName(
            tagged_parts[2]
        )
    )
    cand = pushdown_fence(tagged.select("id_a", "id_b").distinct())
    tok = pushdown_fence(
        shingles(d, 3, "doc_id", "text", distinct=False)
        .select("doc_id", F.xxhash64("token").alias("tk"))
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    inter = (
        cand.join(
            tok.select(F.col("doc_id").alias("id_a"), "tk"), "id_a"
        )
        .join(tok.select(F.col("doc_id").alias("id_b"), "tk"), ["id_b", "tk"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    verdict = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("sz").alias("sza")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("sz").alias("szb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(
                2 * F.coalesce(F.col("n_inter"), F.lit(0))
                >= (
                    F.col("sza")
                    + F.col("szb")
                    - F.coalesce(F.col("n_inter"), F.lit(0))
                ),
                1,
            )
            .otherwise(0)
            .alias("is_sim"),
        )
    )
    return (
        tagged.join(verdict, ["id_a", "id_b"])
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("is_sim").cast("bigint").alias("n_sim"),
            F.expr("(1000000 * SUM(is_sim)) DIV COUNT(*)")
            .cast("bigint")
            .alias("precision_ppm"),
        )
        .select(
            "bands",
            F.expr("CAST(8 DIV bands AS INT)").alias("rows_per_band"),
            "n_candidates",
            "n_sim",
            "precision_ppm",
        )
    )


def _monitor_suite_oracle() -> str:
    from wikidatabots_spark.plans.quality import _KEY_SKEW_ORACLE

    return f"""
SELECT 'skew' AS leg, key_family AS label,
       n_rows AS m1, n_keys AS m2, max_key_rows AS m3,
       skew_factor_milli AS m4
FROM ({_KEY_SKEW_ORACLE})
UNION ALL
SELECT 'sweep' AS leg, CAST(bands AS VARCHAR) AS label,
       CAST(rows_per_band AS BIGINT) AS m1, n_candidates AS m2,
       n_sim AS m3, precision_ppm AS m4
FROM ({_band_sweep_oracle()})
"""


@register("dq_monitor_suite", oracle=_monitor_suite_oracle())
def dq_monitor_suite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both operational monitors in one frame: the join-key skew
    diagnosis (``quality.dq_key_skew_q``) and the LSH banding S-curve
    (``dedup_band_sweep``), union-tagged by ``leg`` with each monitor's
    four metrics normalized to BIGINT columns m1-m4 (skew: rows / keys /
    hottest-key rows / skew-milli; sweep: rows-per-band / candidates /
    verified near-dups / precision-ppm)."""
    from wikidatabots_spark.plans.quality import dq_key_skew_q

    skew = dq_key_skew_q(spark, sf_dir).select(
        F.lit("skew").alias("leg"),
        F.col("key_family").alias("label"),
        F.col("n_rows").alias("m1"),
        F.col("n_keys").alias("m2"),
        F.col("max_key_rows").alias("m3"),
        F.col("skew_factor_milli").alias("m4"),
    )
    sweep = dedup_band_sweep_q(spark, sf_dir).select(
        F.lit("sweep").alias("leg"),
        F.col("bands").cast("string").alias("label"),
        F.col("rows_per_band").cast("bigint").alias("m1"),
        F.col("n_candidates").alias("m2"),
        F.col("n_sim").alias("m3"),
        F.col("precision_ppm").alias("m4"),
    )
    return skew.unionByName(sweep)


# ---------------------------------------------------------------------------
# knn_ivf_pq — the composed production ANN index (IVF pruning + PQ codes)
# ---------------------------------------------------------------------------

_IVF_CELLS = 16
_IVF_NPROBE = 4


@register("knn_ivf_pq", oracle=_pq_oracle(ivf=(_IVF_CELLS, _IVF_NPROBE)))
def knn_ivf_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the two approximations composed into the FAISS-style
    production index (Jégou et al. 2011 §V: an inverted file prunes
    WHICH candidates are scored, product quantization compresses WHAT
    each candidate costs), hash-checked through the whole lifecycle:
    the coarse quantizer is the ``knn_ivf_topk`` md5-seeded center set
    re-based into the quantized-integer domain (so the composed index
    is pure integer math end to end), every vector gets a cell by
    full-width integer-L2 argmin (ties to the lowest cell) PLUS its 4
    PQ codes, queries probe their ``nprobe=4`` nearest cells, and ADC
    ranks only candidates inside probed cells (top-3 by
    ``(adc_dist ASC, neighbor_id ASC)``).

    Scale — why this composition is the billion-vector operating mode
    and not just the union of its parts: PQ alone still scores EVERY
    row (narrow, but corpus-sized per query batch); IVF-Flat alone
    ships full-width vectors into the candidate join. Composed, cell
    assignment and the probe filter are narrow literal-expression
    predicates evaluated at the scan (candidates drop to
    ~nprobe/n_cells of the corpus BEFORE any exchange), each surviving
    candidate carries 4 small ints instead of a 64-wide vector, and
    the only shuffle is the final per-query top-k window over the
    pruned, compressed rows. At production sizes (4096 cells, m=16,
    k=256) centers + codebooks are still driver-literal KBs.
    """
    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.clustering import with_cluster
    from wikidatabots_spark.operators.pq import (
        _sq_dist,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    from wikidatabots_spark.operators.dedup import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    # fenced + parallelism-guarded (r14): see knn_pq_adc_q
    qv = pushdown_fence(
        ensure_parallelism(emb, "vec_id").select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(
                    (x.cast("double") + F.lit(1.0)) * F.lit(100.0)
                ).cast("int"),
            ).alias("v"),
        )
    )
    books = pq_fit(qv, m=_PQ_M, subdim=_PQ_SUBDIM, k=_PQ_K, rounds=_PQ_ROUNDS)
    # coarse IVF book: cell i = the i-th quantized corpus vector by
    # (md5(vec_id), vec_id) — deterministic, SQL-derivable, 16 rows
    seeds = (
        qv.orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id"
        )
        .limit(_IVF_CELLS)
        .collect()
    )
    ivf_book = [(i, [int(x) for x in r.v]) for i, r in enumerate(seeds)]
    enc = with_cluster(
        pq_encode(qv, books, subdim=_PQ_SUBDIM), ivf_book, "v", out_col="cell"
    ).drop("v")
    query_rows = sorted(
        (int(r["vec_id"]), [int(x) for x in r["v"]])
        for r in qv.where(F.col("vec_id") < _PQ_NQ).collect()
    )
    # nprobe nearest cells per query: same integer L2 + lowest-cell
    # tie-break as the distributed assignment, over 16 driver-held rows
    probes = {
        qid: sorted(
            range(len(ivf_book)),
            key=lambda c: (_sq_dist(qvec, ivf_book[c][1]), c),
        )[:_IVF_NPROBE]
        for qid, qvec in query_rows
    }
    return pq_adc_topk(
        enc,
        query_rows,
        books,
        subdim=_PQ_SUBDIM,
        k_top=_PQ_TOPK,
        query_cells=probes,
        cell_col="cell",
    )
