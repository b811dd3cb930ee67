"""Unit tests for the round-4b LLM-data additions: hashed-bigram LM
scoring, keep-best-quality dedup, incremental band-index dedup, and SCD2
interval reconstruction. (The registered queries are additionally
oracle-hash-checked end-to-end by scripts/check_oracle.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_lm_score_hand_computed(spark):
    """Tiny corpus with hand-derived integer model scores.

    occurrences: d1 = (a b)(b a)(a c), d2 = (a b), d3 = none.
    c(head a)=3, c(a b)=2, c(a c)=1, c(head b)=1, c(b a)=1; α=10 →
    score(a b) = 2e6//13 = 153846, score(a c) = 1e6//13 = 76923,
    score(b a) = 1e6//11 = 90909.
    """
    from wikidatabots_spark.operators.lm import with_lm_score

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "z")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in with_lm_score(df).collect()}
    assert rows[1]["n_bigrams"] == 3
    assert rows[1]["lm_score"] == pytest.approx((153846 + 90909 + 76923) / 3)
    assert rows[2]["n_bigrams"] == 1
    assert rows[2]["lm_score"] == pytest.approx(153846.0)
    assert rows[3]["n_bigrams"] == 0 and rows[3]["lm_score"] is None


def test_lm_score_common_prose_outranks_word_salad(spark):
    """The signal the operator exists for: a doc made of corpus-typical
    transitions outscores a doc of one-off transitions under the same
    self-trained model."""
    from wikidatabots_spark.operators.lm import with_lm_score

    prose = "the cat sat on the mat"
    docs = [(i, prose) for i in range(1, 9)]
    docs.append((9, "qq ww ee rr tt yy"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r["lm_score"] for r in with_lm_score(df).collect()}
    assert rows[1] > 3 * rows[9]
    # prose: heads seen 8-16x → shrinkage is mild (scores ~3-4.5e5);
    # salad: every head is a singleton → 1e6//11 = 90909 per bigram
    assert rows[9] == pytest.approx(90909.0)


def test_scd2_intervals_runs_and_current_state(spark):
    import datetime as dt

    t = lambda h: dt.datetime(2026, 1, 1, h)  # noqa: E731
    ev = spark.createDataFrame(
        [
            (1, t(1), 10, "A", 0.0, "{}"),
            (2, t(2), 10, "A", 0.0, "{}"),
            (3, t(3), 10, "B", 0.0, "{}"),
            (4, t(4), 10, "A", 0.0, "{}"),
            (5, t(1), 20, "C", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    # exercise the plan body directly on the synthetic frame
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_type = F.lag("event_type").over(w)
    ordered = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(~prev_type.eqNullSafe(F.col("event_type")), F.lit(1))
        .otherwise(F.lit(0)).alias("new_run"),
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
    out = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"),
        F.min("next_change").alias("valid_to"),
        F.count(F.lit(1)).alias("n_events"),
    )
    got = {
        (r["user_id"], r["run_id"]): r for r in out.collect()
    }
    assert got[(10, 1)]["event_type"] == "A"
    assert got[(10, 1)]["n_events"] == 2
    assert got[(10, 1)]["valid_from"] == t(1)
    assert got[(10, 1)]["valid_to"] == t(3)
    assert got[(10, 2)]["event_type"] == "B"
    assert got[(10, 2)]["valid_to"] == t(4)
    assert got[(10, 3)]["event_type"] == "A"
    assert got[(10, 3)]["valid_to"] is None  # open current state
    assert got[(20, 1)]["valid_to"] is None


def test_incremental_index_equals_full_pairs_across_parity(spark, sf_dir):
    """Probing the new batch against the prior index finds exactly the
    cross-parity subset of the full corpus' LSH pairs — no pair is
    invented or lost by splitting the computation."""
    from wikidatabots_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    # bucket_cap=None: the exact split theorem is stated on the uncapped
    # pair set (the capped variants trade pair-level for component-level
    # equality on >cap buckets — see dedup_components_incremental)
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, bucket_cap=None).collect()
    }
    cross = {p for p in full if (p[0] + p[1]) % 2 == 1}

    indexed = minhash_band_table(d.where(F.col("doc_id") % 2 == 0))
    batch = minhash_band_table(d.where(F.col("doc_id") % 2 == 1))
    probe = (
        batch.select(F.col("doc_id").alias("new_id"), "band_idx", "band_hash")
        .join(
            indexed.select(
                F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    got = {
        (min(r["new_id"], r["old_id"]), max(r["new_id"], r["old_id"]))
        for r in probe.collect()
    }
    assert got == cross


def test_keep_best_quality_prefers_high_quality_member(spark):
    """A near-dup pair keeps the HIGHER-quality doc even when it has the
    higher id (distinguishes the verdict from keep-lowest-id)."""
    from pyspark.sql import Window

    from wikidatabots_spark.operators.dedup import (
        connected_components,
        winnow_fingerprints,
        winnow_pairs,
    )
    from wikidatabots_spark.operators.textstats import with_quality

    base = " ".join(f"w{i}" for i in range(40))
    richer = base + " " + " ".join(["the", "of", "and", "in", "on"] * 8)
    df = spark.createDataFrame(
        [(1, base), (2, richer), (3, "solo unrelated text")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=3, window=4)
    pairs = winnow_pairs(fps, df, min_shared=3, max_df=0.9)
    comp = connected_components(pairs)
    allcomp = (
        df.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    )
    q = with_quality(df).select("doc_id", "quality")
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
    best = {
        r["component"]: r
        for r in ranked.where(F.col("rn") == 1).collect()
    }
    # docs 1 and 2 share the 40-word run → one component keyed by min id 1
    assert best[1]["n_members"] == 2
    assert best[1]["doc_id"] == 2  # richer doc wins despite higher id
    assert best[3]["n_members"] == 1 and best[3]["doc_id"] == 3


def test_scd2_plan_single_exchange(spark, sf_dir):
    """The SCD2 docstring's scale claim, enforced: one user_id exchange
    feeds the lag/run-counter/next-change windows AND the final groupBy
    (whose (user_id, run_id) clustering the user_id hash partitioning
    already satisfies)."""
    from wikidatabots_spark import plans

    df = plans.REGISTRY["ev_scd2_intervals"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_lm_plan_stays_on_hashed_keys(spark, sf_dir):
    """No join or aggregate in the LM pipeline may carry the text
    column: occurrences leave the scan stage as 8-byte hashes."""
    from wikidatabots_spark import plans

    df = plans.REGISTRY["text_lm_score"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line
    assert "CartesianProduct" not in plan


def test_minhash_signature_narrow_matches_grouped(spark, sf_dir):
    """The zero-shuffle array_min signature equals the exploded
    groupBy-MIN signature value-for-value (MIN over a multiset is MIN
    over its set) — the oracle needs no change."""
    from wikidatabots_spark.operators.dedup import (
        minhash_signature_cols,
        minhash_signatures,
        shingles,
    )
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    narrow = sorted(map(tuple, minhash_signature_cols(d).collect()))
    grouped = sorted(
        map(
            tuple,
            minhash_signatures(shingles(d, 3, distinct=False)).collect(),
        )
    )
    assert narrow == grouped and len(narrow) > 0


def test_minhash_band_table_is_shuffle_free(spark, sf_dir):
    """Signature + banding is a narrow map: the band table plan carries
    no Exchange beyond the deliberate ensure_parallelism fan-out of the
    single-file local scan, and no aggregate at all."""
    from wikidatabots_spark.operators.dedup import minhash_band_table
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    plan = (
        minhash_band_table(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 1  # only the parallelism guard
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_lm_heldout_backoff_zero_for_unseen_transitions(spark):
    """Reference-corpus scoring: transitions absent from the training
    half back off to 0 instead of borrowing probability from the scored
    document itself. train = {"a b"}: score("a b") = 1e6//11 = 90909;
    scoring "a b c" gives (90909 + 0)/2."""
    from wikidatabots_spark.operators.lm import with_lm_score

    train = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    score = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    row = with_lm_score(score, train_df=train).collect()[0]
    assert row["n_bigrams"] == 2
    assert row["lm_score"] == pytest.approx((90909 + 0) / 2)


def test_budget_select_fact_window_is_partitioned(spark, sf_dir):
    """The two-phase prefix sum claim, enforced: the window over the
    document table is PARTITIONED by the quality bucket; the only
    unpartitioned (global-order) window runs over the ~1k-row bucket
    ledger (sums bwords, not n_words). A naive global running sum over
    documents would serialize the whole corpus through one task."""
    from wikidatabots_spark import plans

    df = plans.REGISTRY["corpus_token_budget_select"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    wins = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert len(wins) == 2
    fact = [ln for ln in wins if "sum(n_words" in ln]
    ledger = [ln for ln in wins if "sum(bwords" in ln]
    assert len(fact) == 1 and len(ledger) == 1
    # the fact window's spec starts with the bucket partition column
    assert "windowspecdefinition(bucket" in fact[0]


def test_curate_v5_lm_gate_strictly_prunes(spark, sf_dir):
    """v5's LM polish must actually FIRE: its pre-mixture doc set is a
    strict subset of v4's survivors (bottom quarter by LM score
    dropped), non-empty, and the registered v5 output stays inside it."""
    from wikidatabots_spark import plans
    from wikidatabots_spark.operators.lm import with_lm_score
    from wikidatabots_spark.operators.similarity import semdedup_flags
    from wikidatabots_spark.plans.curation import (
        STANDIN_GATES,
        Corpus,
        gate_stack,
        lm_drop,
    )
    from wikidatabots_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    semdrop = semdedup_flags(emb, 4, 2, 0.3).where(
        ~F.col("is_kept")
    ).select(F.col("vec_id").alias("doc_id"))
    gated4_df = gate_stack(Corpus(spark, sf_dir), STANDIN_GATES).join(
        semdrop, "doc_id", "left_anti"
    )
    gated4 = {r.doc_id for r in gated4_df.collect()}
    d = load_table(spark, sf_dir, "documents")
    lmdrop = {
        r.doc_id for r in lm_drop(with_lm_score(d), gated4_df).collect()
    }
    assert lmdrop and lmdrop < gated4  # gate fires, inside the survivors
    gated5 = gated4 - lmdrop
    assert len(gated5) > 0
    v5 = {
        r.doc_id
        for r in plans.REGISTRY["curate_corpus_v5"].fn(spark, sf_dir).collect()
    }
    assert v5 <= gated5 and len(v5) > 0


def test_round4b_ops_empty_input_safety(spark):
    """Empty-corpus edges for the late-r4b compositions: empty outputs
    with intact schemas, no crashes."""
    from pyspark.sql import Window

    from wikidatabots_spark.operators.dedup import minhash_band_table
    from wikidatabots_spark.operators.textstats import with_quality

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    # band table on an empty corpus: empty, correct schema
    bt = minhash_band_table(empty_docs)
    assert bt.count() == 0
    assert bt.columns == ["doc_id", "band_idx", "band_hash"]
    # quality-ranked median/window machinery over zero rows
    q = with_quality(empty_docs).select("doc_id", "source", "n_words", "quality")
    w = Window.partitionBy("source")
    ranked = q.withColumns(
        {
            "qrn": F.row_number().over(w.orderBy("quality", "doc_id")),
            "n_in_src": F.count(F.lit(1)).over(w),
        }
    )
    assert ranked.count() == 0
    # empty events through the SCD2 shape
    empty_ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    we = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_type = F.lag("event_type").over(we)
    out = (
        empty_ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.when(~prev_type.eqNullSafe(F.col("event_type")), F.lit(1))
            .otherwise(F.lit(0)).alias("new_run"),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(we.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "event_type", "run_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert out.count() == 0


def test_sample_weighted_k_is_exact_size_and_length_biased(spark, sf_dir):
    """The A-ES exponential race draws EXACTLY k distinct docs with
    P ∝ n_chars: size is exact, no duplicates, and the sample's mean
    length must sit well above the corpus mean (length-weighted draws
    overrepresent long docs — for weights w the inclusion probability
    is ~k·w/Σw). Also pins the plan: the top-k must be a
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    from wikidatabots_spark.plans.registry import REGISTRY

    df = REGISTRY["sample_weighted_k"].fn(spark, sf_dir)
    rows = df.collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == 100 and len(set(ids)) == 100
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    from wikidatabots_spark.sources.tables import load_table

    corpus = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    corpus_mean = corpus.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean * 1.1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sample_weighted_per_source_exact_k_per_stratum(spark, sf_dir):
    """The stratified race draws EXACTLY k distinct docs in EVERY
    source stratum, each stratum length-biased (P ∝ n_chars within the
    stratum). Plan pin: the rank is a source-PARTITIONED window — the
    single exchange is hashpartitioning(source), and there is no global
    (empty-partition-spec) window or global top-k anywhere."""
    from wikidatabots_spark.plans.llmdata import _WSAMP_SRC_K
    from wikidatabots_spark.plans.registry import REGISTRY
    from wikidatabots_spark.sources.tables import load_table

    df = REGISTRY["sample_weighted_per_source"].fn(spark, sf_dir)
    rows = df.collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.n_chars)
    corpus = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("n_chars").alias("mean"))
        .collect()
    )
    strata = {r.source: (r.n, r.mean) for r in corpus}
    assert set(by_src) == set(strata)
    biased = 0
    for src, lens in by_src.items():
        n, mean = strata[src]
        assert len(lens) == min(_WSAMP_SRC_K, n)
        if sum(lens) / len(lens) > mean:
            biased += 1
    # Length bias holds in the overwhelming majority of strata (each
    # stratum is a small draw, so a few can fall below by chance).
    assert biased >= 0.75 * len(by_src)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(source" in plan
    assert "windowspecdefinition(source" in plan
    assert "windowspecdefinition()" not in plan  # no global window


def test_corpus_dsir_select_importance_biased_and_topk_plan(spark, sf_dir):
    """DSIR selection contract: exactly k raw-pool docs (never the
    target source), and the Gumbel-top-k draw is importance-driven —
    the importance spread in this corpus (~12 log units) dwarfs Gumbel
    noise (sigma ~1.28), so the selection must largely coincide with
    the true importance top-k and its mean importance must beat the
    candidate-pool mean. Plan pin: the k-selection is a
    TakeOrderedAndProject (per-partition heaps), not a global sort,
    and the model side joins as a broadcast."""
    from wikidatabots_spark.plans import llmdata
    from wikidatabots_spark.plans.registry import REGISTRY

    fn = REGISTRY["corpus_dsir_select"].fn
    df = fn(spark, sf_dir)
    sel = df.collect()
    assert len(sel) == llmdata._DSIR_K
    ids = [r.doc_id for r in sel]
    assert len(ids) == len(set(ids))
    assert all(r.source != llmdata._DSIR_TARGET for r in sel)

    # pool = same plan with the limit lifted above the pool size
    old_k = llmdata._DSIR_K
    llmdata._DSIR_K = 10**9
    try:
        pool = fn(spark, sf_dir).collect()
    finally:
        llmdata._DSIR_K = old_k
    assert len(pool) > len(sel)
    mean_sel = sum(r.imp_ppm for r in sel) / len(sel)
    mean_pool = sum(r.imp_ppm for r in pool) / len(pool)
    assert mean_sel > mean_pool
    true_topk = {
        r.doc_id
        for r in sorted(pool, key=lambda r: (-r.imp_ppm, r.doc_id))[: len(sel)]
    }
    overlap = len(true_topk & set(ids)) / len(sel)
    assert overlap >= 0.6

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
