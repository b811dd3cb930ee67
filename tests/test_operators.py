"""Unit tests for the extension operators (dedup / similarity / textstats)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wikidatabots_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    tokens,
)
from wikidatabots_spark.operators.similarity import (
    cosine,
    embedding_dup_pairs,
    knn_brute,
    knn_lsh,
)
from wikidatabots_spark.operators.textstats import (
    with_fingerprint,
    with_lang_guess,
    with_quality,
    with_token_count,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokens_distinct_lowercase(spark):
    df = _docs(spark, [(1, "A a  b")])
    out = {(r.doc_id, r.token) for r in tokens(df).collect()}
    assert out == {(1, "a"), (1, "b")}


def test_dedup_exact_groups(spark):
    df = _docs(spark, [(3, "same"), (1, "same"), (2, "other")])
    out = {r.canonical_id: r.n_copies for r in dedup_exact(df).collect()}
    assert out == {1: 2, 2: 1}


def test_shingles(spark):
    from wikidatabots_spark.operators.dedup import shingles

    df = _docs(spark, [(1, "A b c d"), (2, "x y")])
    out = {(r.doc_id, r.token) for r in shingles(df, n=3).collect()}
    # doc 2 has < 3 words → no shingles
    assert out == {(1, "a b c"), (1, "b c d")}


def test_minhash_identical_docs_share_all_bands(spark):
    df = _docs(spark, [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4"), (3, "q r s t u")])
    out = minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()
    pairs = {(r.id_a, r.id_b): r.n_shared_bands for r in out}
    assert pairs.get((1, 2)) == 4
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_exact(spark):
    # shingles(3): doc1 {abc,bcd}, doc2 {abc,bce} → inter 1, union 3
    df = _docs(spark, [(1, "a b c d"), (2, "a b c e"), (3, "x y z w w2 w3")])
    out = ngram_jaccard_pairs(df, threshold=0.1, max_df=10).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert abs(j[(1, 2)] - 1 / 3) < 1e-12
    assert (1, 3) not in j and (2, 3) not in j


def test_cosine_orthonormal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 0.0], [2.0, 0.0])],
        "a array<float>, b array<float>",
    )
    vals = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(vals[0]) < 1e-12
    assert abs(vals[1] - 1.0) < 1e-12


def test_knn_brute_excludes_self_and_ranks(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = knn_brute(emb.where(F.col("vec_id") == 1), emb, k=2).collect()
    got = sorted((r.rank, r.neighbor_id) for r in out)
    assert got == [(1, 2), (2, 3)]


def test_knn_lsh_matches_brute_on_clustered_data(spark):
    # two tight clusters: LSH with coarse buckets must still find the
    # same top-1 as brute force
    rows = [(i, [1.0 + 0.001 * i, 0.0, 0.0, 0.0]) for i in range(5)]
    rows += [(10 + i, [0.0, 1.0 + 0.001 * i, 0.0, 0.0]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") == 0)
    brute = {(r.query_id, r.rank): r.neighbor_id for r in knn_brute(q, emb, k=1).collect()}
    approx = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_lsh(q, emb, k=1, dim=4, bits=2, tables=2).collect()
    }
    assert brute == approx


def test_embedding_dup_pairs_threshold(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb, 0.99).collect()}
    assert pairs == {(1, 2)}


def test_token_count(spark):
    df = _docs(spark, [(1, "Hello world, 42 times!")])
    r = with_token_count(df).collect()[0]
    assert r.n_words == 4
    # hello | world | , | 42 | times | !
    assert r.n_subtokens == 6


def test_quality_features(spark):
    df = _docs(spark, [(1, "the cat sat.")])
    r = with_quality(df).collect()[0]
    assert r.n_words == 3
    assert r.n_punct == 1
    assert r.n_stopwords == 1
    assert abs(r.stopword_ratio - 1 / 3) < 1e-12
    assert 0.0 <= r.quality <= 1.0


def test_lang_guess(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog is here"),
            (2, "el perro y la casa de que"),
            (3, "zzz qqq www"),
        ],
    )
    out = {r.doc_id: r.lang_guess for r in with_lang_guess(df).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_whitespace_insensitive(spark):
    df = _docs(spark, [(1, "a  b\tc"), (2, "A b c"), (3, "a b d")])
    out = {r.doc_id: r.fingerprint for r in with_fingerprint(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_simhash_deterministic_and_similar_docs_close(spark):
    from wikidatabots_spark.operators.dedup import simhash, simhash_dup_pairs

    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # identical
            (3, "totally different words here now"),
        ],
    )
    fp = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert all(0 <= v < 2**32 for v in fp.values())
    # identical fingerprints → the pair surfaces
    pairs = {(r.id_a, r.id_b) for r in simhash_dup_pairs(df).collect()}
    assert (1, 2) in pairs


def test_embedding_dup_pairs_blocked_matches_expr(spark):
    from wikidatabots_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_blocked,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb, 0.99).collect()}
    b = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs_blocked(emb, 0.99, block_size=16).collect()
    }
    assert a == b and len(a) > 0


def test_embedding_dup_pairs_lsh_matches_brute(spark):
    """Banded-SRP candidates + verify find exactly the brute-force pairs
    on a corpus with genuine near-dups (high-threshold regime)."""
    import math

    from wikidatabots_spark.operators.similarity import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    dim = 16
    rows = []
    for i in range(30):
        v = [math.sin(i * 37.0 + d) for d in range(dim)]
        rows.append((i, v))
        # planted near-dup: tiny deterministic perturbation
        rows.append((i + 1000, [x + 0.001 * ((d + i) % 2 * 2 - 1) for d, x in enumerate(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb, 0.995).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs_lsh(
            emb, threshold=0.995, dim=dim, bits=8, tables=8
        ).collect()
    }
    assert lsh == brute and len(lsh) >= 30


def test_srp_bucket_cap_bounds_identical_cluster(spark):
    """The SRP candidate self-join twin of the MinHash hot-bucket cap:
    40 IDENTICAL embeddings share every (table, bucket) key, so
    uncapped candidates are f(f-1)/2 = 780; the anchor rule bounds the
    pair list at sum_{i<=cap}(f-i) while a genuine separate dup pair
    survives and connected components still recover the whole
    cluster."""
    import math

    from wikidatabots_spark.operators.dedup import connected_components
    from wikidatabots_spark.operators.similarity import (
        SRP_BUCKET_CAP,
        embedding_dup_pairs_lsh,
    )

    dim = 16
    base = [math.sin(3.0 + d) for d in range(dim)]
    other = [math.cos(11.0 + 2 * d) for d in range(dim)]
    f = 40
    rows = [(i, base) for i in range(1, f + 1)]
    rows += [(100, other), (101, other)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    capped = embedding_dup_pairs_lsh(
        emb, threshold=0.99, dim=dim, bits=8, tables=8
    ).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    cap = SRP_BUCKET_CAP
    cluster = {p for p in got if p[1] <= f}
    assert len(cluster) == sum(f - i for i in range(1, cap + 1))
    assert (100, 101) in got
    uncapped = embedding_dup_pairs_lsh(
        emb, threshold=0.99, dim=dim, bits=8, tables=8, bucket_cap=None
    ).collect()
    assert len({(r.id_a, r.id_b) for r in uncapped if r.id_b <= f}) == (
        f * (f - 1) // 2
    )
    edges = spark.createDataFrame(
        [(a, b) for a, b in got], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert {comp[i] for i in range(1, f + 1)} == {1}


def test_simhash_near_pairs_hamming(spark):
    from wikidatabots_spark.operators.dedup import simhash_near_pairs

    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # identical → hamming 0
            (3, "one two three four five six seven"),
        ],
    )
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(df, 2).collect()}
    assert out.get((1, 2)) == 0
    assert all(h <= 2 for h in out.values())


def test_knn_ivf_overlaps_brute(spark, sf_dir):
    from wikidatabots_spark.operators.similarity_ml import knn_ivf
    from wikidatabots_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in knn_brute(q, emb, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in knn_ivf(q, emb, k=5, n_cells=8, nprobe=4).collect()
    }
    # approximate: require meaningful recall, not equality
    assert len(ivf & brute) >= len(brute) * 0.5


def test_minhash_ml_finds_exact_dups(spark):
    from wikidatabots_spark.operators.similarity_ml import minhash_lsh_ml

    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "completely unrelated content over here instead"),
        ],
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_ml(df, 0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_count_min_sketch_properties(spark):
    """CMS invariants: total mass per row == stream size; point estimate
    always >= true frequency; exact for tokens with no bucket collisions."""
    from pyspark.sql import functions as F

    from wikidatabots_spark.operators.sketch import cms_estimate, count_min_sketch

    stream = spark.createDataFrame(
        [(w,) for w in ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + ["d"]], "w string"
    )
    sk = count_min_sketch(stream, "w", depth=4, width=64)
    per_row = {r.row_idx: r.total for r in
               sk.groupBy("row_idx").agg(F.sum("cnt").alias("total")).collect()}
    assert per_row == {0: 76, 1: 76, 2: 76, 3: 76}
    toks = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("zz",)], "w string")
    est = {r.token: r.est for r in cms_estimate(sk, toks, "w", depth=4, width=64).collect()}
    true = {"a": 50, "b": 20, "c": 5, "d": 1, "zz": 0}
    for t, n in true.items():
        assert est[t] >= n
    # 4 distinct tokens in 64 buckets: collisions essentially impossible
    assert est == true


def test_lsh_plan_has_no_allpairs_stage(spark):
    """The SRP-banded dedup must plan as equi-joins only — a cartesian or
    nested-loop stage means the bucketing regressed to all-pairs."""
    from wikidatabots_spark.operators.similarity import embedding_dup_pairs_lsh

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_dup_pairs_lsh(emb, threshold=0.9, dim=4, bits=4, tables=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_bloom_no_false_negatives(spark):
    from pyspark.sql import functions as F

    from wikidatabots_spark.operators.sketch import (
        bloom_bits,
        with_bloom_might_contain,
    )

    members = spark.createDataFrame([(i,) for i in range(0, 200, 2)], "key long")
    bits = bloom_bits(members, "key", m=1 << 10, k=4)
    probe = spark.createDataFrame([(i,) for i in range(200)], "key long")
    out = {r.key: r.might_contain for r in
           with_bloom_might_contain(probe, "key", bits, m=1 << 10, k=4).collect()}
    # every true member must be flagged (zero false negatives)
    assert all(out[i] for i in range(0, 200, 2))
    # and the filter must actually discriminate (some true negatives)
    assert sum(not out[i] for i in range(1, 200, 2)) > 50


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee: documents sharing a run of >= k+window-1
    words share at least one fingerprint; disjoint docs share none."""
    from wikidatabots_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = k+w-1 with k=3,w=4
    df = _docs(
        spark,
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely other ending text"),
            (3, "nothing in common with the others at all"),
        ],
    )
    fp = winnow_fingerprints(df, k=3, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnow_pairs_caps_hot_fingerprint(spark):
    """Skew fence (VERDICT r3 #3): a fingerprint shared by every document
    (license-header boilerplate) must be cut by the relative max_df BEFORE
    the self-join — without the cut a hot fp shared by f docs emits f²
    join rows. Docs here share ONLY the planted boilerplate run plus one
    genuine duplicate pair; the fence must kill the boilerplate pairs and
    keep the real one."""
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    boiler = "standard license header words common to every file here"
    dup = "unique duplicated body alpha beta gamma delta epsilon zeta eta"
    rows = [(i, f"{boiler} distinct tail {i} filler") for i in range(1, 19)]
    rows += [(19, f"{dup} ending one"), (20, f"{dup} ending two")]
    d = _docs(spark, rows)
    fps = winnow_fingerprints(d, k=3, window=4)
    # sanity: the boilerplate really is hot (some fp in >=18 of 20 docs)
    hot_df = fps.groupBy("fp").count().agg(F.max("count")).first()[0]
    assert hot_df >= 18
    pairs = winnow_pairs(fps, d, min_shared=1, max_df=0.2).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (19, 20) in got  # the genuine near-dup survives
    # cut = ceil(0.2*20) = 4: every boilerplate-only pair is fenced out —
    # without the cut the 18 boilerplate docs alone give 153 pairs
    assert len(got) < 10
    assert not any(a <= 18 and b <= 18 for a, b in got)


def test_minhash_band_join_caps_hot_bucket(spark):
    """Skew fence for the band self-join (VERDICT r4 #3/#5): an
    exact-dup cluster of f=20 docs shares ALL bands, so uncapped it
    emits f(f-1)/2 = 190 pairs (x4 band join rows) from ONE
    (band_idx, band_hash) key — the quadratic-output bomb boilerplate
    clusters plant at web scale. The anchor rule bounds the bucket's
    join output at cap*f rows while (a) the genuine unrelated dup pair
    is untouched and (b) connected components still recover the FULL
    20-doc cluster — the transitivity-recovers-the-rest contract."""
    from wikidatabots_spark.operators.dedup import (
        BAND_BUCKET_CAP,
        connected_components,
        minhash_lsh_pairs,
    )

    boiler = "identical boilerplate template page body words repeated verbatim"
    dup = "genuine duplicate pair body alpha beta gamma delta epsilon"
    rows = [(i, boiler) for i in range(1, 21)]
    rows += [(100, f"{dup} one"), (101, f"{dup} two")]
    d = _docs(spark, rows)

    f, cap = 20, BAND_BUCKET_CAP
    capped = minhash_lsh_pairs(d).collect()
    cluster = [r for r in capped if r.id_b <= f]
    # pair list bounded: only anchors (the cap lowest ids per bucket)
    # emit, so exactly sum_{i=1..cap}(f-i) pairs instead of f(f-1)/2
    expected_pairs = sum(f - i for i in range(1, cap + 1))
    assert len(cluster) == expected_pairs
    # join-row bound (VERDICT r4 #5): total band join rows for the hot
    # cluster = sum of n_shared_bands <= bands * cap * f
    assert sum(r.n_shared_bands for r in cluster) <= 4 * cap * f
    # the genuine near-dup pair outside the hot bucket survives
    assert any(r.id_a == 100 and r.id_b == 101 for r in capped)
    # uncapped really is quadratic on the same data (the fenced bomb)
    uncapped = minhash_lsh_pairs(d, bucket_cap=None).collect()
    assert len([r for r in uncapped if r.id_b <= f]) == f * (f - 1) // 2
    # CC transitivity recovers the full cluster from the capped pairs,
    # and capping does not change ANY component assignment
    edges = spark.createDataFrame(
        [(r.id_a, r.id_b) for r in capped], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert {comp[i] for i in range(1, f + 1)} == {1}
    edges_un = spark.createDataFrame(
        [(r.id_a, r.id_b) for r in uncapped], "id_a long, id_b long"
    )
    comp_un = {
        r.node: r.component
        for r in connected_components(edges_un).collect()
    }
    assert comp == comp_un


def test_partition_estimate_only_trusts_narrow_scans(spark, sf_dir):
    # ADVICE r2 dedup.py:59 — the file-inventory estimate must not apply
    # to coalesced/limited/shuffled frames; those fall back to the real
    # partition count so ensure_parallelism re-widens a coalesce(1)
    from wikidatabots_spark.operators.dedup import (
        _estimate_scan_partitions,
        ensure_parallelism,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _estimate_scan_partitions(d) is not None
    assert _estimate_scan_partitions(d.coalesce(1)) is None
    assert _estimate_scan_partitions(d.limit(5)) is None
    assert _estimate_scan_partitions(d.groupBy("doc_id").count()) is None
    target = spark.sparkContext.defaultParallelism
    widened = ensure_parallelism(d.coalesce(1), "doc_id")
    assert widened.rdd.getNumPartitions() >= min(target, 2)


def test_with_repetition_known_values(spark):
    from wikidatabots_spark.operators.textstats import with_repetition

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x"), (3, "")], "doc_id bigint, text string"
    )
    rows = {r.doc_id: r for r in with_repetition(df).collect()}
    r1 = rows[1]
    assert r1.n_words == 6 and r1.n_distinct_words == 2
    assert abs(r1.type_token_ratio - 2 / 6) < 1e-15
    # 2-grams: [a b, b a, a b, b a, a b] -> 5 total, 2 distinct
    assert abs(r1.dup_2gram_frac - 3 / 5) < 1e-15
    # 3-grams: [a b a, b a b, a b a, b a b] -> 4 total, 2 distinct
    assert abs(r1.dup_3gram_frac - 2 / 4) < 1e-15
    assert rows[2].n_words == 1 and rows[2].dup_2gram_frac == 0.0
    assert rows[3].n_words == 0 and rows[3].type_token_ratio == 0.0


def test_bm25_topk_ranking(spark):
    from wikidatabots_spark.operators.textstats import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark join"),
            (2, "spark filler filler filler filler filler filler"),
            (3, "nothing relevant here"),
            (4, "join"),
        ],
        "doc_id bigint, text string",
    )
    rows = bm25_topk(df, ["spark", "join"], k=3).collect()
    assert [r.doc_id for r in sorted(rows, key=lambda r: r.rank)][0] == 1
    assert len(rows) == 3  # doc 3 matches nothing
    assert {r.doc_id for r in rows} == {1, 2, 4}
    assert max(r.total_tf for r in rows) == 4


def test_sample_hash_stratified_fractions(spark):
    from wikidatabots_spark.functions.core import sample_hash_stratified

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 == 0 else "drop") for i in range(100)],
        "id bigint, stratum string",
    )
    out = sample_hash_stratified(
        df, "id", "stratum", {"keep": 1.0, "drop": 0.0}
    ).collect()
    assert all(r.stratum == "keep" for r in out)
    assert len(out) == 50
    # default applies to unlisted strata
    out2 = sample_hash_stratified(df, "id", "stratum", {}, default=1.0)
    assert out2.count() == 100


def test_quantize_vectors_known_values(spark):
    from wikidatabots_spark.operators.similarity import quantize_vectors

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_vectors(df).collect()}
    # scale=1.0: round half away from zero -> -63.5 => -64, 31.75 => 32
    assert rows[1].qvec == [127, -64, 32]
    assert rows[2].qvec == [0, 0, 0]  # zero vector: no division by zero


def test_narrow_map_operators_have_no_exchange(spark, sf_dir):
    # the r3 curation operators are sold as scan-fused narrow maps — pin
    # that property so a refactor cannot silently introduce a shuffle
    from wikidatabots_spark import plans

    for name in ("text_repetition", "emb_quantize", "sample_stratified",
                 "corpus_chunk_windows"):
        plan = (
            plans.REGISTRY[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"
    # winnowing is zero-shuffle array math; its ONLY exchange may be the
    # deliberate ensure_parallelism fan-out guard (REPARTITION_BY_NUM,
    # a no-op on real multi-split inputs) — never a requirement-driven
    # shuffle
    winnow = (
        plans.REGISTRY["text_winnow"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ENSURE_REQUIREMENTS" not in winnow
    # bm25: no tokenize-explode anywhere; its only joins are the 1-row
    # stats broadcast (BNLJ by construction) — but never a cartesian
    bm25 = (
        plans.REGISTRY["text_bm25_topk"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in bm25
    assert "CartesianProduct" not in bm25


def test_connected_components_shapes(spark):
    from wikidatabots_spark.operators.dedup import connected_components

    # chain (diameter 3), triangle, isolated pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (7, 9), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (7, 7), (8, 7), (9, 7),
        (20, 20), (21, 20),
    }


def test_vocab_topk_df_and_rank(spark):
    from wikidatabots_spark.operators.textstats import vocab_topk

    df = _docs(
        spark,
        [
            (1, "apple banana apple"),   # apple counts once per doc (df)
            (2, "apple cherry"),
            (3, "banana cherry"),
        ],
    )
    rows = {r.token: (r.df, r.rank) for r in vocab_topk(df, k=2).collect()}
    # df: apple=2 banana=2 cherry=2 -> top-2 by (df desc, token) = apple, banana
    assert rows == {"apple": (2, 1), "banana": (2, 2)}


def test_ngram_collisions_detects_shared_gram(spark):
    from wikidatabots_spark.operators.textstats import ngram_collisions

    shared = "one two three four five"  # exactly one 5-gram
    train = _docs(
        spark,
        [
            (10, f"lead in {shared} and more words"),
            (11, "totally disjoint text with no overlap at all"),
        ],
    )
    bench = _docs(spark, [(99, f"{shared} benchmark continuation words")])
    got = {
        r.train_id: (r.n_collided_grams, r.n_bench_docs)
        for r in ngram_collisions(train, bench, n=5).collect()
    }
    assert got == {10: (1, 1)}


def test_vocab_topk_plan_is_partial_topk(spark, sf_dir):
    """Global top-k must plan as TakeOrderedAndProject (per-task k rows),
    never a full global sort of the vocabulary."""
    from wikidatabots_spark.operators.textstats import vocab_topk
    from wikidatabots_spark.sources.tables import load_table

    out = vocab_topk(load_table(spark, sf_dir, "documents"), k=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ngram_collisions_plan_broadcasts_bench(spark, sf_dir):
    """The eval-set side must broadcast: the training corpus never
    shuffles for the collision join."""
    from pyspark.sql import functions as F

    from wikidatabots_spark.operators.textstats import ngram_collisions
    from wikidatabots_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_collisions(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        n=5,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_duplication_counts(spark):
    """A window duplicated anywhere in the corpus (across OR within
    documents) is counted at every occurrence; unique docs count zero."""
    from wikidatabots_spark.operators.dedup import substring_duplication

    run = "s1 s2 s3 s4 s5 s6 s7 s8"  # one exact 8-word window
    df = _docs(
        spark,
        [
            (1, f"a1 a2 {run}"),           # 10 words -> 3 windows, 1 dup
            (2, f"{run} b1 b2"),           # 10 words -> 3 windows, 1 dup
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # unique -> 0 dup
            (4, f"{run} zz {run}"),        # within-doc repeat -> 2 dup
            (5, "too short"),              # < k words -> 0 windows
        ],
    )
    out = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in substring_duplication(df, k=8).collect()
    }
    assert out[1] == (3, 1)
    assert out[2] == (3, 1)
    assert out[3] == (2, 0)
    assert out[4] == (10, 2)
    assert out[5] == (0, 0)


def test_pii_redaction(spark):
    from wikidatabots_spark.operators.textstats import with_pii_redacted

    df = _docs(
        spark,
        [
            (1, "mail a.b+c@foo-bar.example.COM and 192.168.0.1 ok"),
            (2, "call +44 (0) 20 7946 0958 twice: 555 123 4567 x"),
            (3, "clean text with no pii at all"),
        ],
    )
    out = {r.doc_id: r for r in with_pii_redacted(df).collect()}
    assert out[1].n_emails == 1 and out[1].n_ips == 1
    assert out[1].redacted == "mail <EMAIL> and <IP> ok"
    assert out[2].n_phones == 2
    assert "<PHONE>" in out[2].redacted and "0958" not in out[2].redacted
    assert out[3].redacted == "clean text with no pii at all"
    assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 0)


def test_pack_sequences_contiguity(spark):
    """Within a shard, bins are contiguous: each doc starts in the bin
    where the previous doc ended (or the next one), offsets never skip."""
    from wikidatabots_spark.operators.textstats import pack_sequences

    docs = [(i, " ".join(["w"] * (30 + 17 * (i % 7)))) for i in range(1, 41)]
    out = pack_sequences(_docs(spark, docs), ctx=64, n_shards=4).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    assert {r.shard for r in out} == {0, 1, 2, 3}
    for rows in by_shard.values():
        cum = 0
        for r in rows:
            assert r.bin_first == cum // 64
            assert r.bin_last == (cum + r.n_tokens - 1) // 64
            assert r.bin_first <= r.bin_last
            cum += r.n_tokens


def test_pack_spans_tile_bins_exactly(spark):
    """The fragment table's defining invariants: per document the
    fragments sum to its token count; per (shard, bin) the fragments
    tile [0, ctx) exactly — full bins sum to ctx with no gaps or
    overlaps (the last bin of a shard may be partial); starts_doc /
    ends_doc mark exactly one fragment each per document."""
    from wikidatabots_spark.operators.textstats import pack_spans

    docs = [(i, " ".join(["w"] * (30 + 17 * (i % 7)))) for i in range(1, 41)]
    out = pack_spans(_docs(spark, docs), ctx=64, n_shards=4).collect()
    by_doc, by_bin = {}, {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_bin.setdefault((r.shard, r.bin), []).append(r)
    want_tokens = {i: 30 + 17 * (i % 7) for i in range(1, 41)}
    for doc_id, frags in by_doc.items():
        assert sum(f.n_in_bin for f in frags) == want_tokens[doc_id]
        assert sum(f.starts_doc for f in frags) == 1
        assert sum(f.ends_doc for f in frags) == 1
        # fragments of one doc occupy consecutive bins
        bins = sorted(f.bin for f in frags)
        assert bins == list(range(bins[0], bins[-1] + 1))
    for (shard, b), frags in by_bin.items():
        frags = sorted(frags, key=lambda f: f.bin_offset)
        pos = 0
        for f in frags:
            assert f.bin_offset == pos  # no gap, no overlap
            pos += f.n_in_bin
        last_bin = max(bb for (s, bb) in by_bin if s == shard)
        if b < last_bin:
            assert pos == 64  # every non-final bin is exactly full
        else:
            assert 0 < pos <= 64


def test_classifier_score_deterministic_and_bounded(spark):
    from wikidatabots_spark.operators.textstats import with_classifier_score

    df = spark.createDataFrame(
        [(1, "the quick fox"), (2, ""), (3, None), (4, "the the the")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.cls_score for r in with_classifier_score(df).collect()}
    assert out[2] is None and out[3] is None
    assert -1.0 <= out[1] <= 1.0
    # identical tokens -> score is the single-token weight regardless of count
    one = {r.doc_id: r.cls_score for r in with_classifier_score(
        spark.createDataFrame([(5, "the")], "doc_id long, text string")).collect()}
    assert abs(out[4] - one[5]) < 1e-12


def test_trained_nb_learns_class_separating_weights(spark):
    """The in-plan NB trainer must produce weights with real SIGNAL,
    not just deterministic bits: tokens exclusive to the positive class
    get positive w_ppm, negative-exclusive tokens negative, and the
    scored corpus separates the classes by sign. Also pins the
    broadcast contract (model rows <= CLS_BUCKETS) and the empty-doc
    null-score/keep=false edge."""
    from wikidatabots_spark.operators.textstats import (
        CLS_BUCKETS,
        score_hashed_nb,
        train_hashed_nb,
    )

    pos_rows = [
        (i, "wonderful insightful accurate thorough prose", True)
        for i in range(1, 6)
    ]
    neg_rows = [
        (i, "spam clickbait garbage keyword stuffing", False)
        for i in range(6, 11)
    ]
    df = spark.createDataFrame(
        pos_rows + neg_rows + [(11, "", False)],
        "doc_id long, text string, label boolean",
    )
    model = train_hashed_nb(df)
    rows = model.collect()
    assert len(rows) <= CLS_BUCKETS
    scored = {
        r.doc_id: r
        for r in score_hashed_nb(df.select("doc_id", "text"), model).collect()
    }
    # class separation by sign: every positive doc scores > 0, every
    # negative < 0 (disjoint vocabularies, balanced classes)
    for i in range(1, 6):
        assert scored[i].cls_score > 0 and scored[i].keep
    for i in range(6, 11):
        assert scored[i].cls_score < 0 and not scored[i].keep
    # empty doc: null score, keep=false (the classifier contract)
    assert scored[11].cls_score is None and scored[11].keep is False
    # determinism: retraining yields the identical model
    again = {(r.bucket, r.w_ppm) for r in train_hashed_nb(df).collect()}
    assert again == {(r.bucket, r.w_ppm) for r in rows}


def test_remove_dup_spans_deletes_only_covered_tokens(spark):
    from wikidatabots_spark.operators.dedup import remove_dup_spans

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y"), (3, "p q r s t u")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_dup_spans(df, k=4).collect()}
    # window "a b c d" is duplicated across docs 1/2: its 4 tokens go
    assert out[1].cleaned == "e f" and out[1].n_removed == 4
    assert out[2].cleaned == "x y" and out[2].n_removed == 4
    assert out[3].cleaned == "p q r s t u" and out[3].n_removed == 0
    # within-doc repetition also counts as duplication
    rep = spark.createDataFrame(
        [(9, "x y z w x y z w")], "doc_id long, text string")
    r9 = remove_dup_spans(rep, k=4).collect()[0]
    assert r9.n_removed == 8 and r9.cleaned == ""


def test_connected_components_pointer_jump_long_chain(spark):
    from wikidatabots_spark.operators.dedup import connected_components

    # diameter-199 chain: plain min-propagation needs 199 rounds and
    # would NOT converge inside max_iter; path halving needs ~log2(199)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "id_a long, id_b long"
    )
    out = connected_components(edges, pointer_jump=True, max_iter=25).collect()
    assert len(out) == 200 and all(r.component == 1 for r in out)
    # equivalence with the plain form on a clique+chain mix
    e2 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    a = sorted(map(tuple, connected_components(e2).collect()))
    b = sorted(map(tuple, connected_components(e2, pointer_jump=True).collect()))
    assert a == b


def test_hll_registers_mergeable_and_estimate_sane(spark):
    from wikidatabots_spark.operators.sketch import hll_estimate, hll_registers
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    whole = hll_registers(df, "k")
    # mergeability: element-wise max of the two halves' registers == whole
    lo = hll_registers(df.where("k < 1000"), "k")
    hi = hll_registers(df.where("k >= 1000"), "k")
    merged = (
        lo.unionByName(hi).groupBy("register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    est = hll_estimate(whole).collect()[0].estimate
    # raw-HLL std error at m=64 is ~13%
    assert abs(est - 2000) / 2000 < 0.4


def test_kmeans_int_assign_partitions_planted_clusters(spark):
    from wikidatabots_spark.operators.clustering import kmeans_int_assign
    from pyspark.sql import functions as F

    # two tight planted blobs + ids 0/1 inside them as init seeds
    rows = [(0, [10, 10, 10]), (2, [11, 10, 9]), (4, [9, 11, 10]),
            (1, [100, 100, 100]), (3, [99, 101, 100]), (5, [101, 99, 100])]
    df = spark.createDataFrame(rows, "vec_id long, v array<int>")
    out = {r.vec_id: r.cluster for r in
           kmeans_int_assign(df, k=2, rounds=2).collect()}
    assert out[0] == out[2] == out[4]
    assert out[1] == out[3] == out[5]
    assert out[0] != out[1]
    # assignment is total and deterministic across re-runs
    again = {r.vec_id: r.cluster for r in
             kmeans_int_assign(df, k=2, rounds=2).collect()}
    assert out == again


def test_semdedup_drops_planted_in_cluster_dup(spark):
    """SemDeDup: a near-identical pair inside one cluster → higher id
    dropped; the cross-cluster pair stays (documented recall tradeoff);
    everything else kept."""
    from wikidatabots_spark.operators.similarity import semdedup_flags

    # two tight blobs; ids 0,1 are the k=2 init seeds (one per blob);
    # 10/11 near-identical within blob A; 4 is blob-A-ish but unique
    rows = [
        (0, [0.9, 0.1, 0.0, 0.0]), (1, [0.0, 0.1, 0.9, 0.0]),
        (10, [0.8, 0.2, 0.0, 0.1]), (11, [0.8, 0.2, 0.0, 0.1001]),
        (4, [0.1, 0.9, 0.05, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semdedup_flags(df, k=2, rounds=2, threshold=0.99).collect()}
    assert len(out) == 5
    assert not out[11].is_kept  # near-dup of 10, same cluster, higher id
    assert out[10].is_kept
    assert out[0].is_kept and out[1].is_kept and out[4].is_kept
    assert out[10].cluster == out[11].cluster


def test_words_col_sharing_matches_private_split(spark):
    """The r14 ``words_col`` parameter: each gate builder fed a shared
    pre-materialized word column produces EXACTLY the rows of its
    private-split default, and leaves the shared column in place."""
    from wikidatabots_spark.operators.textstats import (
        _words_sql,
        with_classifier_score,
        with_repetition,
    )

    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, "dup dup dup dup"),
        (3, "Je ne sais pas et il est la"),
        (4, "  spaced   out\ttabs  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shared = df.withColumn("__w", F.expr(_words_sql("text")))
    for builder in (
        with_quality,
        with_lang_guess,
        with_repetition,
        with_classifier_score,
    ):
        want = [
            tuple(r)
            for r in builder(df).orderBy("doc_id").collect()
        ]
        got_df = builder(shared, words_col="__w")
        assert "__w" in got_df.columns  # caller owns the shared column
        got = [
            tuple(r)
            for r in got_df.drop("__w").orderBy("doc_id").collect()
        ]
        assert got == want


def test_winnow_kernel_matches_expression_form(spark):
    """The r14 mapInArrow winnowing kernel emits the SAME (id, fp) set
    as the JVM expression form it replaced — split/lower/shingle/md5/
    window-min/distinct semantics replicated exactly, including the
    short-document guards (< k words, < window shingles) and repeated
    shingles."""
    import random

    from wikidatabots_spark.operators.dedup import winnow_fingerprints

    vocab = ["alpha", "beta", "Gamma", "DELTA", "ep5", "zz", "x"]
    rng = random.Random(11)
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(200)
    ]
    rows += [
        (900, ""),  # empty
        (901, "one two"),  # < k words
        (902, "one two three four five six"),  # exactly enough
        (903, "dup dup dup dup dup dup dup dup"),  # one distinct fp
        (904, "  leading   and\ttrailing  spaces\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kk, ww in ((3, 4), (2, 2)):
        got = {
            (r.doc_id, r.fp)
            for r in winnow_fingerprints(df, k=kk, window=ww).collect()
        }
        # the former expression form, verbatim
        wl_sql = "filter(split(lower(`text`), '\\\\s+'), w -> w != '')"
        base = df.select(F.col("doc_id"), F.expr(wl_sql).alias("__wl"))
        elems = ", ".join(f"element_at(__wl, i + {j})" for j in range(kk))
        idx_sql = (
            f"CASE WHEN size(__wl) >= {kk}"
            f" THEN sequence(1, size(__wl) - {kk - 1})"
            f" ELSE CAST(array() AS array<int>) END"
        )
        sh_sql = f"transform({idx_sql}, i -> concat_ws(' ', {elems}))"
        hashed = base.select(
            F.col("doc_id"),
            F.expr(f"transform({sh_sql}, t -> md5(t))").alias("__hs"),
        )
        fps_sql = (
            f"CASE WHEN size(__hs) >= {ww}"
            f" THEN array_distinct(transform("
            f"sequence(1, size(__hs) - {ww - 1}),"
            f" i -> array_min(slice(__hs, i, {ww}))))"
            f" ELSE CAST(array() AS array<string>) END"
        )
        want = {
            (r.doc_id, r.fp)
            for r in hashed.select(
                F.col("doc_id"), F.expr(f"explode({fps_sql})").alias("fp")
            ).collect()
        }
        assert got == want and len(got) > 100


def test_minhash_kernel_matches_expression_form(spark):
    """The r15 mapInArrow MinHash-signature kernel emits the SAME
    (id, mh0..mh{k-1}) rows as the JVM expression form it replaced —
    split/lower/shingle/md5('<i>:'||t)/min semantics replicated exactly
    (hex-digest min is a binary string compare in both engines),
    including the <shingle_size-words drop and repeated shingles."""
    import random

    from wikidatabots_spark.operators.dedup import minhash_signature_cols

    vocab = ["alpha", "beta", "Gamma", "DELTA", "ep5", "zz", "x"]
    rng = random.Random(23)
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(200)
    ]
    rows += [
        (900, ""),  # empty
        (901, "one two"),  # < shingle_size words
        (902, "one two three"),  # exactly one shingle
        (903, "dup dup dup dup dup dup dup dup"),  # one distinct shingle
        (904, "  leading   and\ttrailing  spaces\n"),
        (905, None),  # NULL text
        # non-ASCII: JVM toLowerCase vs Python str.lower, and Java \s
        # (ASCII whitespace only) vs the kernel's explicit class
        (910, "Café Crème brûlée CAFÉ crème Brûlée"),
        (911, "Straße STRASSE straße Maß"),
        (912, "İstanbul IŞIK ılık İSTANBUL ışık"),
        (913, "ΟΔΥΣΣΕΥΣ ΚΑΙ ΣΟΦΟΣ ΛΟΓΟΣ σοφος λογος"),  # word-final Σ
        (914, "one\u00a0two three\u2028four five\u0085six seven"),
        (915, "ＡＢＣ ｆｕｌｌ ＷＩＤＴＨ ǅemal ǄEMAL ẞig ẞ"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, n in ((8, 3), (4, 2)):
        got = {
            tuple(r)
            for r in minhash_signature_cols(
                df, num_hashes=k, shingle_size=n
            ).collect()
        }
        # the former expression form, verbatim (pre-r15)
        wl_sql = "filter(split(lower(`text`), '\\\\s+'), w -> w != '')"
        base = df.select(F.col("doc_id"), F.expr(wl_sql).alias("__wl")).where(
            F.size("__wl") >= n
        )
        elems = ", ".join(f"element_at(__wl, i + {j})" for j in range(n))
        sh_sql = (
            f"transform(sequence(1, size(__wl) - {n - 1}),"
            f" i -> concat_ws(' ', {elems}))"
        )
        shingled = base.select(F.col("doc_id"), F.expr(sh_sql).alias("__sh"))
        init_sql = "named_struct({})".format(
            ", ".join(f"'m{i}', 'g'" for i in range(k))
        )
        merge_sql = "named_struct({})".format(
            ", ".join(
                f"'m{i}', least(acc.m{i}, md5(concat('{i}:', t)))"
                for i in range(k)
            )
        )
        mins_sql = f"aggregate(__sh, {init_sql}, (acc, t) -> {merge_sql})"
        packed = shingled.select(F.col("doc_id"), F.expr(mins_sql).alias("__mh"))
        want = {
            tuple(r)
            for r in packed.select(
                F.col("doc_id"),
                *[F.expr(f"__mh.m{i}").alias(f"mh{i}") for i in range(k)],
            ).collect()
        }
        assert got == want and len(got) > 100


def test_curate_dedup_plans_compute_once(spark, sf_dir):
    """The curate dedup queries do their work once, pinned on the final
    adaptive plans: ``dedup_minhash_lsh`` runs ONE signature kernel (the
    second self-join leg reads the narrow signature exchange as a
    ``ReusedExchange``) and no exchange carries ``text``;
    ``dedup_ngram_jaccard``'s relative df cut is a scalar subquery, not
    a nested-loop join per leg."""
    from wikidatabots_spark import plans as _p

    def final_plan(name):
        df = _p.REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        return plan.split("== Initial Plan ==")[0]

    lsh = final_plan("dedup_minhash_lsh")
    assert lsh.count("MapInArrow") == 1, lsh
    reused = [l for l in lsh.splitlines() if "ReusedExchange" in l]
    assert len(reused) == 1 and "mh0#" in reused[0], lsh
    for line in lsh.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line.strip()[:120]
    assert "BroadcastNestedLoopJoin" not in final_plan("dedup_ngram_jaccard")


def test_semdedup_blocked_kernel_matches_expression_form(spark):
    """The r14 blocked-numpy pair stage is BIT-identical to the
    zip_with/aggregate expression form — the kernel accumulates one
    dimension per step, replicating the fold's left-associated float64
    adds and the norm/divide/compare operation order — including a
    cosine exactly AT the threshold (planted identical pair, cos ==
    1.0, threshold 1.0: `>=` must fire on exact equality)."""
    import random

    from wikidatabots_spark.operators.similarity import (
        _dot,
        _norm,
        _semdedup_dropped_blocked,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(16)], i % 3)
        for i in range(400)
    ]
    rows += [
        (1000, [0.3, 0.4] + [0.0] * 14, 1),
        (1001, [0.3, 0.4] + [0.0] * 14, 1),
    ]
    base = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster int"
    )
    for th in (0.45, 1.0):
        a = base.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("__va"),
            _norm(F.col("embedding")).alias("__na"),
            "cluster",
        )
        b = base.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("__vb"),
            _norm(F.col("embedding")).alias("__nb"),
            "cluster",
        )
        want = {
            r.id_b
            for r in a.join(b, on="cluster")
            .where(F.col("id_a") < F.col("id_b"))
            .where(
                _dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb"))
                >= F.lit(th)
            )
            .select("id_b")
            .distinct()
            .collect()
        }
        got = {
            r.vec_id
            for r in _semdedup_dropped_blocked(base, th, block_size=64).collect()
        }
        assert got == want
        if th == 1.0:
            assert got == {1001}  # the exact-threshold twin, and only it


def test_kmeans_assignment_plan_has_no_exchange(spark):
    """VERDICT r3 #4: assignment must be a narrow map — centroids ride
    the expression as driver-embedded literals, so the vector table
    never exchanges (the old crossJoin+groupBy(id) shape shuffled n·k
    vector-carrying rows per Lloyd round)."""
    from wikidatabots_spark.operators.clustering import kmeans_int_assign

    rows = [(i, [i % 7, (i * 3) % 5, i % 11]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, v array<int>")
    plan = kmeans_int_assign(df, k=3, rounds=3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semdedup_pair_stage_is_cluster_keyed(spark, sf_dir):
    """The SemDeDup pair join must key on the cluster id (equi-join,
    AQE-splittable) — never a cartesian/broadcast-nested-loop all-pairs
    stage; and kmeans assignment must stay join-free."""
    from wikidatabots_spark.operators.similarity import semdedup_flags
    from wikidatabots_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        semdedup_flags(emb, k=4, rounds=2, threshold=0.45)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster" in plan  # the pair equi-join keys on the cluster id


def test_shard_manifest_plan_single_aggregation_exchange(spark, sf_dir):
    """The manifest is one hash-partial aggregation over the narrow-map
    shard assignment: exactly one exchange, keyed by the shard id."""
    from wikidatabots_spark.sinks.training_shards import shard_manifest
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = (
        shard_manifest(d, 64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_new_ops_empty_input_safety(spark):
    """Empty-corpus edges: winnow_pairs, semdedup_flags, kmeans fit, and
    shard_manifest must return empty/well-typed frames, not throw."""
    from wikidatabots_spark.operators.clustering import kmeans_int_fit
    from wikidatabots_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.operators.similarity import semdedup_flags
    from wikidatabots_spark.sinks.training_shards import shard_manifest

    docs = spark.createDataFrame([], "doc_id long, text string, n_chars long")
    fps = winnow_fingerprints(docs, k=3, window=4)
    assert winnow_pairs(fps, docs, max_df=0.2).count() == 0
    assert winnow_pairs(fps, docs, max_df=5).count() == 0
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semdedup_flags(emb, k=2, rounds=2).count() == 0
    assert kmeans_int_fit(
        spark.createDataFrame([], "vec_id long, v array<int>"), k=3
    ) == []
    assert shard_manifest(docs, 8).count() == 0


def test_semdedup_k_exceeding_n_and_single_vector(spark):
    """k larger than the corpus: only existing low ids seed centroids;
    a single vector is trivially kept."""
    from wikidatabots_spark.operators.similarity import semdedup_flags

    one = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    out = semdedup_flags(one, k=5, rounds=2, threshold=0.5).collect()
    assert len(out) == 1 and out[0].is_kept


def test_chunk_documents_overlap_and_boundaries(spark):
    """Chunk windows: stride-spaced starts, overlap = chunk - stride,
    short final window, empty doc yields nothing."""
    from wikidatabots_spark.operators.textstats import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = _docs(spark, [(1, words), (2, ""), (3, "solo")])
    out = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
           for r in chunk_documents(df, chunk=4, stride=3).collect()}
    assert {k[0] for k in out} == {1, 3}
    # doc 1: starts at 0,3,6,9 — 10 words → 4 windows, last is short
    assert out[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(1, 1)] == ("w3 w4 w5 w6", 4)   # overlaps w3 with window 0
    assert out[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert out[(1, 3)] == ("w9", 1)
    assert out[(3, 0)] == ("solo", 1)


def test_pagerank_hub_ranks_highest(spark):
    """Star graph: the hub (similar to everyone) must out-rank every
    leaf; ranks are deterministic integers that approximately conserve
    total mass."""
    from wikidatabots_spark.operators.graph import RANK_SCALE, pagerank_int

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "id_a long, id_b long"
    )
    out = {r.node: r.rank for r in pagerank_int(edges, iters=3).collect()}
    assert len(out) == 9
    hub, leaves = out[0], [out[i] for i in range(1, 9)]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1  # symmetry → identical leaf ranks
    total = sum(out.values())
    assert abs(total - RANK_SCALE) < RANK_SCALE * 0.01
    # deterministic across re-runs
    again = {r.node: r.rank for r in pagerank_int(edges, iters=3).collect()}
    assert out == again


def test_mix_epochs_fact_table_never_shuffles(spark, sf_dir):
    """mix_epochs' docstring claim, plan-pinned: the doc_id-carrying
    fact relation joins the tiny rates table via broadcast — the only
    shuffles are source-keyed PARTIAL COUNTS (|sources| x partitions
    rows) and the single-row totals."""
    from wikidatabots_spark.operators.mixture import mix_epochs
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    m = mix_epochs(
        d, key="doc_id", strata="source",
        weights={"src0": 1, "src1": 9}, default_weight=3,
    )
    m.collect()
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" not in line  # fact rows never exchange
    assert "BroadcastHashJoin [source" in final


def test_wide_columns_never_exchange_in_flagship_plans(spark, sf_dir):
    """The repo-wide rule 'shuffle only keys/hashes, never wide
    columns' — plan-pinned on the flagship operators: no Exchange in
    any final adaptive plan carries the text or embedding column."""
    from wikidatabots_spark import plans as _p

    for name in (
        "asof_purchase_signup",
        "dedup_substring",
        "knn_cosine_topk",
        "dedup_winnow",
        "dedup_minhash_lsh",
        "corpus_shard_manifest",
    ):
        df = _p.REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        final = plan.split("== Initial Plan ==")[0]
        for line in final.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "text#" not in line and "embedding#" not in line, (
                    name, line.strip()[:120]
                )


def test_knn_single_exchange_query_side_broadcast(spark, sf_dir):
    """knn claim: the corpus streams through map tasks against a
    broadcast query side; the ONLY shuffle is the final per-query
    top-k window."""
    from wikidatabots_spark import plans as _p

    df = _p.REGISTRY["knn_cosine_topk"].fn(spark, sf_dir)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    hash_ex = [
        l for l in final.splitlines()
        if "Exchange hashpartitioning" in l and "Reused" not in l
    ]
    assert len(hash_ex) == 1 and "query_id" in hash_ex[0]
    assert "BroadcastHashJoin" in final or "BroadcastNestedLoopJoin" in final


def test_components_after_delete_bridge_split(spark):
    """Deletion maintenance (VERDICT r5 next #4): deleting a BRIDGE
    document must SPLIT its component, untouched labels must survive
    verbatim, and the bounded re-component must hash-equal the full
    recompute on the post-deletion corpus. The bridge is the planted
    concatenation A+C: its shingle set is the union, so its minhash
    signature deterministically shares ≥1 band with each side (verified
    offline for these exact word lists) while A and C share none."""
    from pyspark.sql import functions as F

    from wikidatabots_spark.functions.scale import pushdown_fence
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        components_after_delete,
        connected_components,
        minhash_band_index_delete,
        minhash_band_table,
    )

    A = (
        "alpha978x0 alpha883x1 alpha970x2 alpha869x3 alpha57x4 alpha93x5 "
        "alpha86x6 alpha369x7 alpha855x8 alpha173x9 alpha753x10 "
        "alpha828x11 alpha685x12 alpha874x13 alpha315x14 alpha257x15 "
        "alpha620x16 alpha217x17 alpha621x18 alpha36x19"
    )
    C = (
        "gamma595y0 gamma697y1 gamma162y2 gamma441y3 gamma653y4 "
        "gamma402y5 gamma822y6 gamma740y7 gamma880y8 gamma521y9 "
        "gamma972y10 gamma380y11 gamma557y12 gamma958y13 gamma455y14 "
        "gamma514y15 gamma274y16 gamma922y17 gamma36y18 gamma891y19"
    )
    B = A + " " + C
    df = spark.createDataFrame(
        [(1, A), (2, A), (5, B), (8, C), (9, C)], "doc_id long, text string"
    )
    stacked = pushdown_fence(minhash_band_table(df))
    labels = connected_components(band_pairs(stacked))
    pre = {r["node"]: r["component"] for r in labels.collect()}
    assert set(pre.values()) == {1}, pre  # one component via the bridge

    deletes = spark.createDataFrame([(5,)], "doc_id long")
    idx2 = minhash_band_index_delete(stacked, deletes)
    assert idx2.where(F.col("doc_id") == 5).count() == 0
    assert idx2.count() == stacked.count() - 4  # 4 band rows tombstoned

    post = {
        r["node"]: r["component"]
        for r in components_after_delete(stacked, labels, deletes).collect()
    }
    assert post == {1: 1, 2: 1, 8: 8, 9: 8}, post  # the component SPLIT
    full = {
        r["node"]: r["component"]
        for r in connected_components(
            band_pairs(
                pushdown_fence(
                    minhash_band_table(df.where(F.col("doc_id") != 5))
                )
            )
        ).collect()
    }
    assert post == full


def test_embedding_pairs_after_delete_promotes_anchors(spark):
    """Planted takedown (VERDICT r7 next #6): with bucket_cap=1 only the
    lowest-id member of a bucket anchors, so pairs among {1,2,3}
    (identical vectors) are (1,2),(1,3) — (2,3) is never generated.
    Deleting vector 1 PROMOTES 2 to anchor; the bounded bucket-local
    repair must surface the fresh (2,3) pair, and the result must equal
    a full LSH recompute on the post-deletion corpus. A naive
    survivor-filter of yesterday's pairs would return {} here."""
    import math

    from wikidatabots_spark.operators.similarity import (
        embedding_dup_pairs_lsh,
        embedding_pairs_after_delete,
        srp_index,
    )

    dim = 16
    base = [math.sin(5.0 + d) for d in range(dim)]
    other = [math.cos(7.0 + 3 * d) for d in range(dim)]
    rows = [(1, base), (2, base), (3, base), (50, other), (51, other)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    index = srp_index(emb, dim=dim, bits=8, tables=8)
    pairs = embedding_dup_pairs_lsh(
        emb, threshold=0.99, dim=dim, bits=8, tables=8, bucket_cap=1
    )
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {
        (1, 2), (1, 3), (50, 51)
    }
    deletes = spark.createDataFrame([(1,)], "vec_id long")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_pairs_after_delete(
            emb, index, pairs, deletes, threshold=0.99, bucket_cap=1
        ).collect()
    }
    survivors = emb.where(F.col("vec_id") != 1)
    want = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs_lsh(
            survivors, threshold=0.99, dim=dim, bits=8, tables=8, bucket_cap=1
        ).collect()
    }
    assert got == want
    assert (2, 3) in got


def test_rendezvous_sharding_minimal_movement(spark, sf_dir):
    """HRW sharding's defining guarantees, 8 -> 9 shards: every moved
    doc lands on the NEW shard (existing shards only ever lose to the
    newcomer — no doc reshuffles between old shards), stayers keep
    their shard, the moved fraction concentrates near 1/9, and the
    whole assignment is a zero-Exchange narrow map."""
    from wikidatabots_spark import plans as _p

    df = _p.REGISTRY["corpus_shard_rendezvous"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows
    moved = [r for r in rows if r.moved]
    assert moved, "some docs must move when a shard is added"
    assert all(r.shard_new == 8 for r in moved)
    assert all(r.shard_old == r.shard_new for r in rows if not r.moved)
    frac = len(moved) / len(rows)
    assert 0.04 < frac < 0.25  # E = 1/9 ~ 0.111
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_jl_distortion_concentrates_at_unity(spark, sf_dir):
    """JL's guarantee, measured: the per-pair squared-distance ratio
    (projected/original, scaled by k) is unbiased — the corpus mean
    sits within a few percent of 1e6 ppm — and every quantity is exact
    integer arithmetic. Plan pins: the projection is a pure narrow
    expression map (no pandas-UDF stage, no window); the only exchange
    is the id-shifted pair join."""
    from wikidatabots_spark import plans

    df = plans.REGISTRY["emb_jl_distortion"].fn(spark, sf_dir)
    rows = df.collect()
    from wikidatabots_spark.sources.tables import load_table

    n_vec = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vec - 1
    mean = sum(r.distortion_ppm for r in rows) / len(rows)
    assert 900_000 < mean < 1_150_000
    assert all(r.dist_sq_proj >= 0 and r.dist_sq_orig > 0 for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "Window" not in plan


@pytest.mark.parametrize(
    "sfd", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_ivf_tie_margin_dwarfs_fp_error(sfd):
    """Pins the cross-engine FP-determinism ASSUMPTION of the
    knn_ivf_topk oracle (ADVICE r11): Spark computes center distances
    as a strict left-to-right fold while DuckDB's SUM over a
    generate_series join guarantees no summation order, so the two
    engines' distances may differ by the reassociation error
    (~64·eps·Σ|term| ≈ 1e-12). The hash check compares rankings, so it
    is deterministic iff every ranking-relevant GAP — argmin cell
    (rank 1|2), nprobe boundary (rank 4|5), and the re-rank's k
    boundary (rank 5|6 by cosine) — exceeds that error. Measured here
    directly on the gate data at both gate SFs: the minimum nonzero
    gap must sit orders of magnitude above the bound (exact-zero gaps
    are allowed only for bit-identical centers, where both engines
    compute the SAME per-engine value and the shared lowest-cell /
    lowest-id tie-break decides identically)."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sfd}/embeddings.parquet").to_pydict()
    ids = np.asarray(t["vec_id"], dtype=np.int64)
    emb = np.asarray(
        [np.asarray(v, dtype=np.float64) for v in t["embedding"]]
    )
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )
    cents = emb[order[:16]]  # the md5-seeded literal centers

    # n x 16 squared L2 distances, float64 like both engines
    d2 = ((emb[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    s = np.sort(d2, axis=1)
    FP_BOUND = 1e-12
    MARGIN = 1e-6  # demanded headroom: 1e6 x the reassociation bound

    def check_gaps(gaps, tied_pairs):
        nz = gaps[gaps > 0]
        assert nz.size, "all gaps zero — degenerate data"
        assert nz.min() > MARGIN, f"min gap {nz.min():.3e} too close to FP"
        for a, b in tied_pairs:  # exact ties only from identical centers
            assert np.array_equal(cents[a], cents[b])

    # assignment boundary (every corpus vector) and nprobe boundary
    # (query vectors, vec_id < 20 — the seated query's probe set)
    for k, rows in ((1, np.arange(len(ids))), (4, np.where(ids < 20)[0])):
        gaps = s[rows, k] - s[rows, k - 1]
        tied = []
        for r in rows[np.where(gaps == 0)[0]] if (gaps == 0).any() else []:
            cells = np.argsort(d2[r], kind="stable")
            tied.append((cells[k - 1], cells[k]))
        check_gaps(gaps, tied)

    # re-rank boundary: cosine rank 5|6 within each query's candidate
    # set (corpus members of the nprobe probed cells, self excluded)
    assign = np.argmin(d2, axis=1)
    norms = np.linalg.norm(emb, axis=1)
    for r in np.where(ids < 20)[0]:
        probe_cells = np.argsort(d2[r], kind="stable")[:4]
        cand = np.where(np.isin(assign, probe_cells) & (ids != ids[r]))[0]
        if cand.size <= 5:
            continue
        sims = (emb[cand] @ emb[r]) / (norms[cand] * norms[r])
        ss = np.sort(sims)[::-1]
        gap = ss[4] - ss[5]
        if gap == 0:
            a, b = cand[np.argsort(-sims, kind="stable")[4:6]]
            assert np.array_equal(emb[a], emb[b])
        else:
            assert gap > MARGIN, f"cosine k-boundary gap {gap:.3e}"


def _gate_edge_rows():
    return [
        (900, "srcX", ""),
        (901, "srcX", "   \t\n "),  # whitespace-only: chars, no tokens
        (902, "srcX", "one"),  # single word: no bigrams
        (903, "srcX", "the the and of to is on for a an"),  # all stopwords
        (904, "srcX", "el la de que y el la"),  # es markers, repeats
        (905, "srcX", "x.y,z!?;: . , !"),  # punctuation-dense
        (906, "srcX", "Tab\tand\nnewline\x0b\f\rmix CASE Case case"),
        (907, "srcX", "a b a b a b a b"),  # repeated bigrams
        (908, "srcX", None),  # NULL text
        (909, "srcX", "der die und das ist der die und"),
    ]


def test_token_bucket_kernel_matches_expression_form(spark, monkeypatch):
    """The r14 token-bucket mapInArrow kernel (bucket_occurrences /
    dsir_occurrences) emits EXACTLY the rows of the explode +
    _token_bucket + groupBy expression form it replaced — md5 is
    engine-independent, so the bucket ids are identical integers, not
    a collision tradeoff; NULL and token-free texts emit no rows in
    both forms. Past the token memo's cap the rows are the same."""
    import random

    from wikidatabots_spark.operators import textstats
    from wikidatabots_spark.operators.textstats import (
        _token_bucket,
        bucket_occurrences,
        token_bucket_counts,
        words,
    )

    vocab = ["alpha", "beta", "Gamma", "DELTA", "ep5", "zz", "x", "the"]
    rng = random.Random(13)
    rows = [
        (
            i,
            f"src{i % 3}",
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))),
        )
        for i in range(150)
    ] + _gate_edge_rows()
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    got = {tuple(r) for r in bucket_occurrences(df).collect()}
    want = {
        tuple(r)
        for r in df.select(
            F.col("doc_id"), F.explode(words(F.col("text"))).alias("__w")
        )
        .select(F.col("doc_id"), _token_bucket(F.col("__w")).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    }
    assert got == want and len(got) > 100

    # the extra-column (dsir_occurrences) shape carries source through
    got_s = {
        tuple(r)
        for r in token_bucket_counts(df, extra_cols=("source",)).collect()
    }
    want_s = {
        tuple(r)
        for r in df.select(
            "doc_id", "source", F.explode(words(F.col("text"))).alias("__w")
        )
        .select(
            "doc_id", "source", _token_bucket(F.col("__w")).alias("bucket")
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    }
    assert got_s == want_s

    # a memo cap below the vocabulary size: the kernel (pickled with the
    # patched cap when the frame is built) hashes past it
    monkeypatch.setattr(textstats, "MEMO_CAP", 3)
    assert len({w.lower() for w in vocab}) > textstats.MEMO_CAP
    assert {tuple(r) for r in bucket_occurrences(df).collect()} == want


def test_lm_bigram_kernel_matches_string_reference(spark, monkeypatch):
    """with_lm_score over the r14 pre-aggregated bigram kernel equals a
    string-keyed reference that never hashes: same tokenizer expression
    form as the old per-occurrence implementation, model and scoring
    keyed on the bigram STRINGS. Pins (a) the kernel's tokenize/pair
    semantics against the JVM expression form, (b) the cnt-weighted
    two-level aggregation against per-occurrence sums, and (c) that the
    hash keys are an invisible internal detail (collisions aside).
    Past the word/bigram memo's cap the scores are the same."""
    import random

    from pyspark.sql import Window

    from wikidatabots_spark.operators import lm
    from wikidatabots_spark.operators.lm import (
        LM_ALPHA,
        LM_SCALE,
        with_lm_score,
    )

    vocab = ["alpha", "beta", "Gamma", "DELTA", "ep5", "zz", "x", "the"]
    rng = random.Random(17)
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(150)
    ] + [(900, ""), (901, "one"), (902, "a b a b a b"), (903, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {tuple(r) for r in with_lm_score(df).collect()}

    # reference: the pre-r14 per-occurrence expression form, on strings
    wl_sql = "filter(split(lower(`text`), '\\\\s+'), w -> w != '')"
    grams_sql = (
        "CASE WHEN size(__w) >= 2 THEN"
        " transform(sequence(1, size(__w) - 1),"
        " i -> named_struct("
        "'head', element_at(__w, i),"
        " 'bg', concat_ws(' ', element_at(__w, i), element_at(__w, i + 1))"
        "))"
        " ELSE CAST(array() AS array<struct<head:string,bg:string>>) END"
    )
    occ = (
        df.select(F.col("doc_id"), F.expr(wl_sql).alias("__w"))
        .select(F.col("doc_id"), F.expr(f"explode({grams_sql})").alias("o"))
        .select(F.col("doc_id"), F.col("o.head").alias("hk"), F.col("o.bg").alias("bk"))
    )
    counts = occ.groupBy("hk", "bk").agg(F.count(F.lit(1)).alias("c2"))
    model = counts.withColumn(
        "c1", F.sum("c2").over(Window.partitionBy("hk"))
    ).select(
        "bk", F.expr(f"({LM_SCALE} * c2) div (c1 + {LM_ALPHA})").alias("score")
    )
    scored = (
        occ.select("doc_id", "bk")
        .join(model, "bk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.coalesce("score", F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("lm_score"),
        )
    )
    want = {
        tuple(r)
        for r in df.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "lm_score",
        )
        .collect()
    }
    assert got == want and len(got) == len(rows)

    # a memo cap below the vocabulary size: the kernel (pickled with the
    # patched cap when the frame is built) hashes past it
    monkeypatch.setattr(lm, "MEMO_CAP", 3)
    assert len({w.lower() for w in vocab}) > lm.MEMO_CAP
    assert {tuple(r) for r in with_lm_score(df).collect()} == want


def test_gate_kernel_matches_builder_chain(spark, monkeypatch):
    """gate_feature_counts + gate_features_from_counts reproduce the
    with_quality → with_lang_guess → with_repetition →
    with_classifier_score chain BIT-for-bit on every non-NULL-text row
    (exact double equality — same integers, same expression trees), and
    the NULL-text row both paths drop once the curation gate stack filters
    run (the kernel omits it; the chain scores it below every gate).
    Past the word-weight memo's cap the features are the same."""
    import random

    from wikidatabots_spark.operators import textstats
    from wikidatabots_spark.operators.textstats import (
        _words_sql,
        gate_feature_counts,
        gate_features_from_counts,
        with_classifier_score,
        with_lang_guess,
        with_quality,
        with_repetition,
    )

    vocab = [
        "the", "and", "of", "to", "is", "el", "la", "de", "que", "y",
        "le", "les", "des", "der", "die", "und", "das", "ist",
        "alpha", "beta", "x.y,", "!?;:", "mixed",
    ]
    rng = random.Random(23)
    rows = [
        (
            i,
            f"src{i % 3}",
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))),
        )
        for i in range(200)
    ] + _gate_edge_rows()
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cols = [
        "doc_id", "source", "lang_guess", "quality",
        "type_token_ratio", "dup_2gram_frac", "cls_score",
    ]
    dw = df.withColumn("__w", F.expr(_words_sql("text")))
    chain = with_classifier_score(
        with_repetition(
            with_lang_guess(with_quality(dw, words_col="__w"), words_col="__w"),
            words_col="__w",
        ),
        words_col="__w",
    ).select(*cols)
    fused = gate_features_from_counts(gate_feature_counts(df)).select(*cols)

    got = {tuple(r) for r in fused.collect()}
    want_all = {tuple(r) for r in chain.collect()}
    # exact equality (incl. doubles) for every non-NULL-text row
    want_nonnull = {t for t in want_all if t[0] != 908}
    assert got == want_nonnull and len(got) > 150

    # the NULL-text row survives NEITHER path's gate filters
    gates = (
        (F.col("quality") >= 0.5)
        & (F.col("lang_guess") == "en")
        & (F.col("dup_2gram_frac") <= 0.05)
        & (F.col("type_token_ratio") >= 0.35)
    )
    got_g = {r.doc_id for r in fused.where(gates).collect()}
    want_g = {r.doc_id for r in chain.where(gates).collect()}
    assert got_g == want_g

    # a memo cap below the vocabulary size: the kernel (pickled with the
    # patched cap when the frame is built) hashes past it
    monkeypatch.setattr(textstats, "MEMO_CAP", 3)
    assert len(set(vocab)) > textstats.MEMO_CAP
    capped = gate_features_from_counts(gate_feature_counts(df)).select(*cols)
    assert {tuple(r) for r in capped.collect()} == want_nonnull
