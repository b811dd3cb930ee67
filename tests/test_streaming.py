"""Streaming parity tests: availableNow → memory sink, compared against
the batch twins over the same files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikidatabots_spark.plans.events import ev_hourly_rollup
from wikidatabots_spark.streaming.events_stream import (
    hourly_rollup_stream,
    read_events_stream,
    sessionize_stream,
)


def _run_to_memory(sdf, name: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_ts_matches_batch_loader(spark, sf_dir):
    """Drift regression (VERDICT r3 #1): the testdata generator has changed
    events.ts physical encoding between rounds (nanos-long -> us NTZ); the
    stream reader must track the batch loader's schema-adaptive conversion.
    min/max event-time equality over the live files pins that, whatever the
    current encoding is."""
    from wikidatabots_spark.sources.tables import load_table

    ev = read_events_stream(spark, sf_dir)
    _run_to_memory(
        ev.groupBy().agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ),
        "ts_probe",
    )
    got = spark.sql("select * from ts_probe").first()
    want = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
        .first()
    )
    assert (got.mn, got.mx) == (want.mn, want.mx)


def test_hourly_rollup_stream_matches_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    assert ev.isStreaming
    _run_to_memory(hourly_rollup_stream(ev), "hr")
    got = {
        (r.hour_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from hr").collect()
    }
    want = {
        (r.hour_start, r.event_type): (r.n_events, r.sum_value)
        for r in ev_hourly_rollup(spark, sf_dir).collect()
    }
    # exact parity on counts and decimal-exact sums (n_users is approx in
    # streaming and deliberately not compared)
    assert got == want


def test_sessionize_stream_bounded_sessions(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    _run_to_memory(sessionize_stream(ev), "sess")
    rows = spark.sql("select * from sess").collect()
    assert len(rows) > 0
    # one user's sessions are disjoint and ordered
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    uid, sess = max(by_user.items(), key=lambda kv: len(kv[1]))
    starts = sorted(s.session_start for s in sess)
    assert len(starts) == len(set(starts))


def test_dedup_stream_matches_batch_distinct(spark, sf_dir):
    from wikidatabots_spark.streaming.events_stream import dedup_stream
    from wikidatabots_spark.sources.tables import load_table

    ev = read_events_stream(spark, sf_dir)
    q = (
        dedup_stream(ev)
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select user_id, event_type from dedup").distinct().count()
    n_rows = spark.sql("select * from dedup").count()
    want = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got == want
    assert n_rows == want  # exactly one survivor per key


def test_purchase_attribution_stream_matches_batch_range_join(spark, sf_dir):
    """Stream-stream interval join parity with the batch bucketed
    range join (ev_range_join) over the same files."""
    from wikidatabots_spark.plans.events import ev_range_join
    from wikidatabots_spark.streaming.events_stream import (
        purchase_attribution_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    sdf = purchase_attribution_stream(ev)
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.purchase_id, r.signup_id)
        for r in spark.sql("select * from attr").collect()
    }
    want = {
        (r.purchase_id, r.signup_id)
        for r in ev_range_join(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_hll_stream_registers_match_batch(spark, sf_dir):
    from wikidatabots_spark.operators.sketch import hll_registers
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.events_stream import (
        hll_distinct_users_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    _run_to_memory(hll_distinct_users_stream(ev), "hll_s")
    got = sorted(
        (r.register, r.max_rank)
        for r in spark.sql("select * from hll_s").collect()
    )
    want = sorted(
        map(tuple, hll_registers(
            load_table(spark, sf_dir, "events"), "user_id").collect())
    )
    # bounded state (<= 64 rows) and bit-exact parity with the batch twin
    assert got == want and len(got) <= 64


def test_checkpointed_stream_is_exactly_once_incremental(spark, tmp_path):
    """Production resume semantics: with a checkpointLocation, each
    availableNow run processes ONLY files that arrived since the last
    run — a restart neither drops nor re-processes data (file-source
    exactly-once). This is the property that makes the drop-zone
    pattern in read_events_stream safe to re-trigger from cron."""
    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sch = "id long, v double"

    def land(name: str, lo: int, hi: int) -> None:
        (spark.range(lo, hi)
         .selectExpr("id", "cast(id as double) * 0.5 as v")
         .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name)))
        import shutil, glob, os
        os.makedirs(stage, exist_ok=True)
        src = glob.glob(str(tmp_path / name / "*.parquet"))[0]
        shutil.copyfile(src, os.path.join(stage, f"{name}.parquet"))

    def run() -> None:
        q = (spark.readStream.schema(sch).parquet(stage)
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    land("a", 0, 100)
    run()
    assert spark.read.parquet(out).count() == 100
    land("b", 100, 150)
    run()
    # exactly the 50 new rows appended; file A not re-processed
    got = spark.read.parquet(out)
    assert got.count() == 150
    assert got.select("id").distinct().count() == 150
    # an idle re-trigger (no new files) appends nothing
    run()
    assert spark.read.parquet(out).count() == 150


def test_shard_manifest_stream_matches_batch(spark, sf_dir):
    """The shard manifest is a mergeable streaming aggregate (count /
    sum / bit_xor are all commutative+associative): streamed over the
    same files it converges to the batch manifest bit-for-bit, with
    state bounded at n_shards rows."""
    from wikidatabots_spark.sinks.training_shards import shard_manifest
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        read_documents_stream,
        shard_manifest_stream,
    )

    docs = read_documents_stream(spark, sf_dir)
    assert docs.isStreaming
    _run_to_memory(shard_manifest_stream(docs, 16), "manifest_s")
    got = sorted(
        map(tuple, spark.sql(
            "select shard, n_rows, total_size, checksum from manifest_s"
        ).collect())
    )
    want = sorted(
        map(tuple,
            shard_manifest(load_table(spark, sf_dir, "documents"), 16)
            .collect())
    )
    assert got == want and 0 < len(got) <= 16


def test_stateful_quota_matches_batch_rank_gate(spark, sf_dir):
    """Per-source ingest-quota stateful operator: streamed acceptance
    equals the batch row_number-by-doc_id gate (the processor sorts
    within the batch so parity is deterministic). Runs whichever API
    the environment supports — transformWithState when protobuf +
    RocksDB are available, applyInPandasWithState otherwise; both
    paths share the same semantics."""
    from pyspark.sql import Window
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import read_documents_stream
    from wikidatabots_spark.streaming.stateful import (
        _tws_available,
        source_quota_stream,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    if _tws_available():
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        docs = read_documents_stream(spark, sf_dir)
        q = (
            source_quota_stream(docs, quota=25)
            .writeStream.format("memory")
            .queryName("quota")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.source, r.doc_id)
            for r in spark.sql("select * from quota").collect()
        }
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        elif _tws_available():
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    w = Window.partitionBy("source").orderBy("doc_id")
    want = {
        (r.source, r.doc_id)
        for r in load_table(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 25)
        .select("source", "doc_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_grouped_hll_stream_matches_batch(spark, sf_dir):
    """Grouped HLL registers are as streaming-mergeable as the global
    ones (groupBy + max): streamed per-event_type register tables equal
    the batch twin bit-for-bit; state bounded at groups x 64 rows."""
    from wikidatabots_spark.operators.sketch import hll_registers
    from wikidatabots_spark.sources.tables import load_table

    ev = read_events_stream(spark, sf_dir)
    _run_to_memory(
        hll_registers(ev, "user_id", p=6, group_cols=("event_type",)),
        "hll_grp",
    )
    got = sorted(
        (r.event_type, r.register, r.max_rank)
        for r in spark.sql("select * from hll_grp").collect()
    )
    want = sorted(
        (r.event_type, r.register, r.max_rank)
        for r in hll_registers(
            load_table(spark, sf_dir, "events"),
            "user_id",
            p=6,
            group_cols=("event_type",),
        ).collect()
    )
    assert got == want and 0 < len(got) <= 5 * 64


def test_funnel_stream_matches_batch_cohorts(spark, sf_dir):
    """Stateful streaming funnel parity: per-user (signup, first
    conversion within 7d) state rows, rolled up to signup-day cohorts,
    equal the batch ev_funnel output exactly."""
    from wikidatabots_spark.plans.events import ev_funnel
    from wikidatabots_spark.streaming.stateful import funnel_stream

    ev = read_events_stream(spark, sf_dir)
    q = (
        funnel_stream(ev.select("user_id", "ts", "event_type"))
        .writeStream.format("memory")
        .queryName("funnel_s")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.signup_day, r.n_signups, r.n_converted, r.sum_conv_us)
        for r in spark.sql(
            """
            select to_date(timestamp_micros(signup_us)) as signup_day,
                   count(*) as n_signups,
                   count(conv_us) as n_converted,
                   coalesce(sum(conv_us - signup_us), 0) as sum_conv_us
            from funnel_s group by 1
            """
        ).collect()
    }
    want = {
        (r.signup_day, r.n_signups, r.n_converted, r.sum_conv_us)
        for r in ev_funnel(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_incremental_dedup_probe_stream_matches_batch(spark, sf_dir):
    """Stream-static LSH probe parity: documents streamed from the
    drop-zone, MinHash-signed row-by-row (narrow map — ZERO streaming
    state), probing the static band index of the even-id corpus half.
    The distinct candidate set equals the registered batch
    dedup_incremental_index query exactly."""
    from pyspark.sql import functions as F

    from wikidatabots_spark import plans
    from wikidatabots_spark.operators.dedup import minhash_band_table
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        incremental_dedup_probe_stream,
        read_documents_stream,
    )

    d = load_table(spark, sf_dir, "documents")
    # same bucket-capped persisted index the batch query probes (r5:
    # cap_band_buckets bounds hot-bucket fan-out linearly)
    from wikidatabots_spark.operators.dedup import cap_band_buckets

    index = cap_band_buckets(
        minhash_band_table(d.where(F.col("doc_id") % 2 == 0))
    )
    new_docs = read_documents_stream(spark, sf_dir).where(
        F.col("doc_id") % 2 == 1
    )
    out = incremental_dedup_probe_stream(new_docs, index)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("inc_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the "zero streaming state" claim, enforced from the engine's own
    # progress metrics: a stateless stream-static join reports no state
    # operators (an aggregation-based signature would)
    for prog in q.recentProgress:
        assert prog["stateOperators"] == []
    got = {
        (r.new_id, r.old_id)
        for r in spark.sql("select new_id, old_id from inc_probe").collect()
    }
    want = {
        (r.new_id, r.old_id)
        for r in plans.REGISTRY["dedup_incremental_index"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want and len(got) > 0


def test_minhash_band_table_stream_is_a_narrow_map(spark, sf_dir):
    """Over a streaming frame the band table is a pure narrow map: the
    signature kernel runs on the micro-batch's own partitions and no
    Exchange is planned (the batch form's repartition of an
    under-partitioned input never applies to a stream)."""
    from wikidatabots_spark.operators.dedup import minhash_band_table
    from wikidatabots_spark.streaming.docs_stream import read_documents_stream

    out = minhash_band_table(read_documents_stream(spark, sf_dir))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("band_table_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not drain"
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "MapInArrow" in plan and "Exchange" not in plan, plan
    assert spark.sql("select count(*) from band_table_stream").first()[0] > 0


def test_watermark_drops_late_data_in_append_aggregation(spark, tmp_path):
    """Watermark EVICTION pin: an event arriving after the watermark
    passed its window must be dropped from an append-mode windowed
    aggregation — the bounded-state contract every streaming agg in
    this repo relies on. Two files force two micro-batches: batch 1
    advances the watermark to 13:00, batch 2 delivers a 10:05 straggler
    whose [10:00, 10:10) window is already final — its count stays 1."""
    import datetime as dt
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()

    def _write(name, ts_list):
        spark.createDataFrame(
            [(t,) for t in ts_list], "ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    _write("f1", [t(10, 0), t(10, 10), t(14, 0)])

    stream = (
        spark.readStream.schema("ts timestamp")
        .parquet(f"{src}/*")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )

    def _rows_in() -> int:
        return int(
            sum(p["numInputRows"] for p in (q.recentProgress or []))
        )

    deadline = _time.time() + 90
    while _rows_in() < 3 and _time.time() < deadline:
        _time.sleep(0.5)
    assert _rows_in() >= 3  # batch 1 consumed; watermark now 13:00
    # the straggler arrives AFTER its window was finalized
    _write("f2", [t(10, 5), t(14, 10)])
    while _rows_in() < 5 and _time.time() < deadline:
        _time.sleep(0.5)
    assert _rows_in() >= 5
    # one more empty-batch cycle so emissions flush, then stop
    _time.sleep(2)
    q.stop()
    q.awaitTermination(30)
    got = {
        r["w"]["start"]: r["n"]
        for r in spark.sql("select * from late_agg").collect()
    }
    # the 10:00 window was finalized before the straggler arrived
    assert got.get(t(10, 0)) == 1
    assert got.get(t(10, 10)) == 1


def test_sessionize_stream_values_match_batch_session_window(spark, sf_dir):
    """Every session the stream emits must appear with identical
    (user, start, count) in the batch ev_session_window result —
    value-level parity, not just shape (complete output mode emits all
    sessions, so the comparison is full set equality)."""
    from wikidatabots_spark.plans.quality import ev_session_window_q

    ev = read_events_stream(spark, sf_dir)
    _run_to_memory(sessionize_stream(ev), "sess_parity")
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.sql(
            "select user_id, session_start, n_events from sess_parity"
        ).collect()
    }
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in ev_session_window_q(spark, sf_dir).collect()
    }
    assert len(got) > 0
    assert got == want


def test_dedup_stream_suppresses_at_least_once_replay(spark, sf_dir, tmp_path):
    """At-least-once delivery across MICRO-BATCHES: the same file lands
    in the drop zone twice and maxFilesPerTrigger=1 forces the two
    copies into separate micro-batches, so suppression must come from
    the dropDuplicatesWithinWatermark STATE carried between batches
    (a single-batch dedup would pass trivially). Output in append mode
    equals one copy exactly — per key, per row."""
    import shutil

    from pyspark.sql import functions as F

    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.events_stream import dedup_stream

    drop = tmp_path / "dropzone"
    drop.mkdir()
    # stage the same physical bytes twice (the replayed delivery)
    src = f"{sf_dir}/events.parquet"
    shutil.copyfile(src, drop / "delivery_1.parquet")
    shutil.copyfile(src, drop / "delivery_2.parquet")

    batch = load_table(spark, sf_dir, "events")
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
    )
    raw = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(str(drop))
    )
    # normalize ts like the loaders do (schema kind depends on testdata
    # generation; reuse the batch frame's already-normalized type)
    if dict(batch.dtypes)["ts"] != dict(raw.dtypes)["ts"]:
        raw = raw.withColumn("ts", F.col("ts").cast(dict(batch.dtypes)["ts"]))
    out = dedup_stream(raw, keys=["event_id"], watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("replay_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the run really did split into >= 2 micro-batches
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    got = spark.sql(
        "select count(*) as n, count(distinct event_id) as d from replay_dedup"
    ).first()
    want = batch.count()
    assert got.n == want  # every replayed row suppressed, none lost
    assert got.d == want


def test_streaming_observed_metrics_in_progress(spark, sf_dir):
    """observe() works on STREAMING frames too: per-micro-batch metric
    rows surface in StreamingQueryProgress.observedMetrics — the
    zero-extra-cost stream health counters (rows/sums per batch)
    operational monitoring hangs alerts on."""
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir).observe(
        "batch_health",
        F.count(F.lit(1)).alias("n_rows"),
        # DISTINCT aggregates are rejected in observed metrics (a
        # useful pin by itself) — min/max/sum/count only
        F.max("user_id").alias("max_user"),
    )
    q = (
        ev.writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    observed = [
        p["observedMetrics"]["batch_health"]
        for p in q.recentProgress
        if p["observedMetrics"].get("batch_health")
    ]
    assert observed, [p["observedMetrics"] for p in q.recentProgress]
    total = sum(m["n_rows"] for m in observed)
    from wikidatabots_spark.sources.tables import load_table

    ev_batch = load_table(spark, sf_dir, "events")
    assert total == ev_batch.count()
    assert max(m["max_user"] for m in observed) == (
        ev_batch.agg(F.max("user_id")).first()[0]
    )


def test_rollup_maintenance_stream_matches_batch_recompute(spark, sf_dir, tmp_path):
    """The streaming wiring of ev_rollup_incremental's DECIMAL-partials
    merge (VERDICT r7 next #4): events staged as 4 files stream through
    foreachBatch one file per trigger; each micro-batch appends only its
    partial aggregates + user-key slice; the merged view must equal the
    batch ev_hourly_rollup full recompute EXACTLY — counts, exact
    n_users (carried key set, not approx), and bit-identical decimal
    sums."""
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.events_stream import (
        merged_rollup,
        rollup_maintenance,
    )

    ev = load_table(spark, sf_dir, "events")
    stage = str(tmp_path / "stage")
    ev.repartition(4).write.parquet(stage)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    partials_path = str(tmp_path / "partials")
    keys_path = str(tmp_path / "keys")
    q = (
        stream.writeStream.foreachBatch(
            rollup_maintenance(partials_path, keys_path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # the merge must actually cross micro-batches, not see one big batch
    n_batches = (
        spark.read.parquet(partials_path).select("__batch_id").distinct().count()
    )
    assert n_batches >= 2

    got = {
        (r.hour_start, r.event_type): (r.n_events, r.n_users, r.sum_value)
        for r in merged_rollup(spark, partials_path, keys_path).collect()
    }
    want = {
        (r.hour_start, r.event_type): (r.n_events, r.n_users, r.sum_value)
        for r in ev_hourly_rollup(spark, sf_dir).collect()
    }
    assert got == want


def test_quantile_hist_stream_matches_batch_histogram(spark, sf_dir):
    """The quantile sketch's streaming form is just the incremental
    version of its additive-counter aggregate: the streamed histogram
    must equal the batch one bucket-for-bucket, bit-exact — the
    mergeability claim under the real streaming engine."""
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.events_stream import quantile_hist_stream

    ev = read_events_stream(spark, sf_dir)
    _run_to_memory(quantile_hist_stream(ev), "qhist")
    got = {
        r.bkt: r.cnt for r in spark.sql("select * from qhist").collect()
    }
    batch = load_table(spark, sf_dir, "events")
    v_cents = (F.col("value").cast("decimal(14,4)") * 100).cast("bigint")
    want = {
        r.bkt: r.cnt
        for r in batch.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(v_cents.alias("v_cents"))
        .where(F.col("v_cents") > 0)
        .groupBy(F.length(F.bin(F.col("v_cents"))).alias("bkt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    }
    assert got == want and 0 < len(got) < 64


def test_dsir_score_stream_matches_batch_scorer(spark, sf_dir):
    """Stream-static DSIR scoring parity: the literal-map token-by-token
    scorer over the document stream produces the SAME exact integer
    imp_ppm as the batch occurrence-aggregate scorer, for every
    document — and carries zero streaming state (no aggregation, no
    watermark; the engine's own progress metrics report no state
    operators)."""
    from wikidatabots_spark.plans.llmdata import dsir_occ_and_model
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        dsir_score_stream,
        read_documents_stream,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    occ, model = dsir_occ_and_model(d)
    model_ppm = {r.bucket: r.lr_ppm for r in model.collect()}
    assert 0 < len(model_ppm) <= 1024

    docs = read_documents_stream(spark, sf_dir)
    out = dsir_score_stream(docs, model_ppm)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("dsir_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for prog in q.recentProgress:
        assert prog["stateOperators"] == []
    got = {
        r.doc_id: r.imp_ppm for r in spark.sql("select * from dsir_s").collect()
    }
    want = {
        r.doc_id: r.imp_ppm
        for r in occ.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lr_ppm")).cast("long").alias("imp_ppm"))
        .collect()
    }
    assert len(got) == d.count()
    # zero-token docs (absent from the occurrence table) score 0
    assert got == {k: want.get(k, 0) for k in got}
    assert any(v != 0 for v in got.values())


def test_dedup_graph_maintenance_matches_full_recompute(spark, sf_dir, tmp_path):
    """Streaming maintenance of the dedup graph: documents staged as 3
    files stream through foreachBatch one file per trigger; each
    micro-batch probes the accumulated band index, adds within-batch
    pairs and star edges, and appends new labels. The FINAL labels must
    equal the full-corpus min-label CC recompute exactly — the
    multi-batch induction of dedup_components_incremental's theorem."""
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        connected_components,
        minhash_band_table,
    )
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
    )

    d = load_table(spark, sf_dir, "documents")
    stage = str(tmp_path / "stage")
    d.repartition(3).write.parquet(stage)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    index_path = str(tmp_path / "index")
    labels_path = str(tmp_path / "labels")
    q = (
        stream.writeStream.foreachBatch(
            dedup_graph_maintenance(index_path, labels_path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    n_batches = (
        spark.read.parquet(labels_path)
        .select("__batch_id")
        .distinct()
        .count()
    )
    assert n_batches >= 2  # the induction actually crossed batches

    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    want = {
        (r.node, r.component)
        for r in connected_components(
            band_pairs(minhash_band_table(d))
        ).collect()
    }
    assert got == want and len(want) > 0


# --- dedup-graph maintenance: replay fence / deltas / deletion / compaction ---

_DOC_TEXTS = {
    "A": "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "B": "one two three four five six seven eight nine ten",
    "C": "red orange yellow green blue indigo violet umber sepia ochre",
    "Z": "north south east west zenith nadir port starboard fore aft",
    "Q": "quark lepton boson gluon photon neutrino muon tauon hadron meson",
}


def _docs(spark, *rows):
    """rows: (doc_id, text_key) or (doc_id, text_key, op)."""
    data = []
    for r in rows:
        op = r[2] if len(r) > 2 else "insert"
        data.append((int(r[0]), _DOC_TEXTS[r[1]] if r[1] else None, op))
    return spark.createDataFrame(
        data, "doc_id long, text string, __op string"
    )


def _full_recompute(docs):
    from wikidatabots_spark.operators.dedup import (
        band_pairs,
        connected_components,
        minhash_band_table,
    )

    return {
        (r.node, r.component)
        for r in connected_components(
            band_pairs(minhash_band_table(docs))
        ).collect()
    }


def test_dedup_graph_replay_fence_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: invoking apply() TWICE with the
    same batch id (a replay after a complete first write) must leave
    every store byte-identical — same latest_labels, same band-index
    multiset, same downstream candidate generation (VERDICT r9 #2: the
    old append-mode labels + unfenced index double-appended)."""
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)

    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    b1 = _docs(spark, (4, "A"), (5, "C"), (6, "C"))
    apply(b1, 1)

    def snapshot():
        labels = {
            (r.node, r.component)
            for r in latest_labels(spark, labels_path).collect()
        }
        index = sorted(
            (r.doc_id, r.band_idx, r.band_hash)
            for r in read_band_index(spark, index_path).collect()
        )
        return labels, index

    once = snapshot()
    apply(b1, 1)  # replay of batch 1
    assert snapshot() == once

    # candidate generation after the replay is unchanged: the next
    # batch still converges to the full-recompute fixed point
    apply(_docs(spark, (7, "A")), 2)
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    want = _full_recompute(
        _docs(
            spark,
            (1, "A"), (2, "A"), (3, "B"), (4, "A"),
            (5, "C"), (6, "C"), (7, "A"),
        )
    )
    assert got == want and len(want) > 0


def test_dedup_graph_writes_deltas_not_snapshots(spark, tmp_path):
    """Each batch's label partition holds ONLY nodes of components the
    batch touched (VERDICT r8 #1 / r9 next #2): a batch disjoint from
    the prior corpus writes no rows for prior components; a batch that
    merges into a prior component writes exactly that component."""
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)

    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    apply(_docs(spark, (10, "Z"), (11, "Z")), 1)  # disjoint from batch 0
    apply(_docs(spark, (12, "A")), 2)  # merges into {1,2}

    def partition_nodes(bid):
        return {
            r.node
            for r in spark.read.parquet(labels_path)
            .where(F.col("__batch_id") == bid)
            .collect()
        }

    assert partition_nodes(1) == {10, 11}
    assert partition_nodes(2) == {1, 2, 12}
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    want = _full_recompute(
        _docs(spark, (1, "A"), (2, "A"), (3, "B"), (10, "Z"), (11, "Z"), (12, "A"))
    )
    assert got == want


def test_dedup_graph_failing_batch_releases_index_pool(
    spark, tmp_path, monkeypatch
):
    """A batch whose label-delta write raises must not leak the
    background band-index writer: when apply() returns with the error,
    the index write has been joined and no executor worker the batch
    started is still alive."""
    import os
    import threading

    from wikidatabots_spark.sinks import compaction
    from wikidatabots_spark.streaming.docs_stream import dedup_graph_maintenance

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    real = compaction.ensure_linked_store

    def failing(path):
        if path == labels_path:
            raise RuntimeError("label store unavailable")
        real(path)

    monkeypatch.setattr(compaction, "ensure_linked_store", failing)
    apply = dedup_graph_maintenance(index_path, labels_path)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="label store unavailable"):
        apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    leaked = [
        t.name
        for t in threading.enumerate()
        if t not in before
        and t.name.startswith("ThreadPoolExecutor")
        and t.is_alive()
    ]
    assert leaked == []
    assert any(n.startswith("band_pfx=") for n in os.listdir(index_path))


def test_dedup_graph_index_probe_partition_filters(spark, tmp_path):
    """The probe-side index read carries PARTITION filters (VERDICT r9
    next #3): both the batch-id replay fence and the band-prefix IN
    list land in the parquet scan's PartitionFilters, so the probe
    prunes directories instead of scanning the full accumulated
    index."""
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        read_band_index,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)
    apply(_docs(spark, (1, "A"), (2, "B")), 0)
    apply(_docs(spark, (3, "C"), (4, "Z")), 1)

    df = read_band_index(
        spark, index_path, before_batch=2, prefixes=["0", "7", "f"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "__batch_id" in seg and "band_pfx" in seg


def test_dedup_graph_deletion_batch_parity(spark, tmp_path):
    """Tombstone batches inside the maintenance sink (VERDICT r9 next
    #4): across 4 micro-batches with a deletion in the middle, the
    final labels equal the full min-label CC recompute over the
    SURVIVING documents — the streaming composition of
    components_after_delete's bounded-blast-radius theorem. Also pins
    that a deleted doc's index rows stop matching later arrivals while
    its surviving duplicate still does."""
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)

    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B"), (4, "C"), (5, "C")), 0)
    # delete doc 1: component {1,2} loses its minimum; survivor 2 is
    # singleton-ized (label tombstoned) until doc 6 re-pairs it
    apply(_docs(spark, (1, None, "delete")), 1)
    mid = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert mid == {(4, 4), (5, 4)}  # {1,2} gone; {4,5} untouched
    apply(_docs(spark, (6, "A"), (7, "C")), 2)
    apply(_docs(spark, (4, None, "delete"), (8, "Q"), (9, "Q")), 3)

    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    want = _full_recompute(
        _docs(
            spark,
            (2, "A"), (3, "B"), (5, "C"), (6, "A"),
            (7, "C"), (8, "Q"), (9, "Q"),
        )
    )
    assert got == want == {(2, 2), (6, 2), (5, 5), (7, 5), (8, 8), (9, 8)}


def test_dedup_graph_delete_replay_idempotent(spark, tmp_path):
    """Replaying a DELETION batch (same batch id twice) leaves labels,
    tombstones, and the served index unchanged — the same fence as the
    insert path, exercised on the tombstone store."""
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)
    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    d = _docs(spark, (1, None, "delete"))
    apply(d, 1)

    def snapshot():
        labels = {
            (r.node, r.component)
            for r in latest_labels(spark, labels_path).collect()
        }
        tomb = sorted(
            r.doc_id
            for r in spark.read.parquet(index_path + "_tombstones").collect()
        )
        served = sorted(
            r.doc_id for r in read_band_index(
                spark, index_path, index_path + "_tombstones", before_batch=2
            ).collect()
        )
        return labels, tomb, served

    once = snapshot()
    apply(d, 1)  # replay
    assert snapshot() == once
    assert once[1] == [1]
    assert 1 not in set(once[2])


def test_dedup_graph_reinsert_after_delete(spark, tmp_path):
    """Re-insert after delete (ADVICE r10 high): a doc deleted in batch
    N and re-inserted in batch N+1 must be probe-visible again — only
    tombstones from LATER batches suppress an index row. Before the
    ordered anti-join fix, the re-inserted doc's new band rows were
    suppressed by its old tombstone forever and later near-dups could
    never link to it (latest_labels came back empty instead of
    {(1,1),(4,1)})."""
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)

    # --- sole-copy case: the exact ADVICE repro ---
    apply(_docs(spark, (1, "A"), (3, "B")), 0)  # doc 1 is a singleton
    apply(_docs(spark, (1, None, "delete")), 1)
    apply(_docs(spark, (1, "A")), 2)  # re-insert the deleted doc
    # the re-inserted doc's batch-2 band rows must be served (its
    # batch-0 rows stay dead under the batch-1 tombstone)
    served = read_band_index(
        spark, index_path, index_path + "_tombstones", before_batch=3
    )
    assert 1 in {r.doc_id for r in served.collect()}
    apply(_docs(spark, (4, "A")), 3)  # near-dup of the re-inserted doc
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert got == {(1, 1), (4, 1)}

    # --- component case: re-insert links back to the survivor ---
    index2 = str(tmp_path / "idx2")
    labels2 = str(tmp_path / "lbl2")
    apply2 = dedup_graph_maintenance(index2, labels2)
    apply2(_docs(spark, (1, "A"), (2, "A")), 0)
    apply2(_docs(spark, (1, None, "delete")), 1)
    apply2(_docs(spark, (1, "A")), 2)  # probes and re-pairs with doc 2
    got2 = {
        (r.node, r.component)
        for r in latest_labels(spark, labels2).collect()
    }
    assert got2 == _full_recompute(_docs(spark, (1, "A"), (2, "A")))
    assert got2 == {(1, 1), (2, 1)}


def test_compact_labels_preserves_view_and_bounds_partitions(spark, tmp_path):
    """Retention compaction (VERDICT r9 next #8): folding all but the
    newest delta partition into one base partition preserves
    latest_labels EXACTLY (including tombstoned nodes staying dead),
    bounds the partition count, and the maintenance loop keeps working
    against the compacted store."""
    import os as _os

    from wikidatabots_spark.streaming.docs_stream import (
        compact_labels,
        dedup_graph_maintenance,
        latest_labels,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)
    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    apply(_docs(spark, (10, "Z"), (11, "Z")), 1)
    apply(_docs(spark, (1, None, "delete")), 2)
    apply(_docs(spark, (12, "C"), (13, "C")), 3)

    before = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    n_parts = lambda: len(  # noqa: E731
        [d for d in _os.listdir(labels_path) if d.startswith("__batch_id=")]
    )
    assert n_parts() == 4
    removed = compact_labels(spark, labels_path, keep_last=1)
    assert removed == 2 and n_parts() == 2
    after = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert after == before
    # node 2 was singleton-ized by the deletion: its tombstone must
    # survive the fold (not resurrect its batch-0 label)
    assert 2 not in {n for n, _ in after}

    # maintenance continues against the compacted store
    apply(_docs(spark, (14, "A")), 4)
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    want = _full_recompute(
        _docs(
            spark,
            (2, "A"), (3, "B"), (10, "Z"), (11, "Z"),
            (12, "C"), (13, "C"), (14, "A"),
        )
    )
    assert got == want


def test_compact_labels_crash_at_every_step_preserves_view(
    spark, tmp_path, crash_at_every_step
):
    """Fault injection over the atomic label-store compaction (VERDICT
    r10 next #1): kill compact_labels at EVERY filesystem mutation of
    the publish protocol (staged rename, pointer symlink, pointer
    rename, garbage sweeps). At every crash point latest_labels and the
    served probe candidates must be byte-identical to the pre-crash
    view (the pointer either still targets the old complete store or
    already targets the new complete one — never a mix), a re-run of
    compaction must succeed, and maintenance must keep composing to the
    full-recompute fixed point."""
    import os as _os

    from wikidatabots_spark.streaming.docs_stream import (
        compact_labels,
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    proto = tmp_path / "proto"
    proto.mkdir()
    index_path = str(proto / "idx")
    labels_path = str(proto / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)
    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    apply(_docs(spark, (10, "Z"), (11, "Z")), 1)
    apply(_docs(spark, (1, None, "delete")), 2)  # tombstone labels exist
    apply(_docs(spark, (12, "C"), (13, "C")), 3)

    def view(lbl, idx):
        labels = frozenset(
            (r.node, r.component)
            for r in latest_labels(spark, lbl).collect()
        )
        served = frozenset(
            (r.doc_id, r.band_idx, r.band_hash)
            for r in read_band_index(
                spark, idx, idx + "_tombstones", before_batch=99
            ).collect()
        )
        return labels, served

    want_view = view(labels_path, index_path)
    # the compose-after-recovery target is the same fixed point at every
    # crash case — compute the full recompute ONCE (r15 test-gate fix:
    # it is a whole CC run, ~3 s per case × ~8 cases of pure repetition)
    want_composed = _full_recompute(
        _docs(
            spark,
            (2, "A"), (3, "B"), (10, "Z"), (11, "Z"),
            (12, "C"), (13, "C"), (14, "A"),
        )
    )

    def compact(case):
        compact_labels(spark, str(case / "lbl"), keep_last=1)

    def check(case, k):
        lbl = str(case / "lbl")
        idx = str(case / "idx")
        # the served view is identical at this crash point
        assert view(lbl, idx) == want_view, f"view torn at crash point {k}"
        # recovery: compaction re-runs to completion and still serves
        # the same view with bounded partitions
        compact_labels(spark, lbl, keep_last=1)
        assert view(lbl, idx) == want_view
        n_parts = len(
            [
                d
                for d in _os.listdir(lbl)
                if d.startswith("__batch_id=")
            ]
        )
        assert n_parts <= 2
        # maintenance keeps composing on the recovered store
        apply_k = dedup_graph_maintenance(idx, lbl)
        apply_k(_docs(spark, (14, "A")), 4)
        got = {
            (r.node, r.component)
            for r in latest_labels(spark, lbl).collect()
        }
        assert got == want_composed

    k = crash_at_every_step(proto, compact, check)
    assert k >= 3  # the protocol really has multiple distinct fault points


def test_compact_rollup_state_preserves_merged_view(spark, sf_dir, tmp_path):
    """Rollup-store compaction (the rollup twin of compact_labels):
    folding per-batch partial slices to one partial per key and
    re-distincting the key store leaves merged_rollup bit-identical,
    while bounding partials rows at the key count; maintenance keeps
    appending correctly afterwards."""
    from wikidatabots_spark.plans.events import rollup_partials
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.events_stream import (
        compact_rollup_state,
        merged_rollup,
        rollup_maintenance,
    )

    ev = load_table(spark, sf_dir, "events")
    parts = [
        p.where(F.col("event_id") % 3 == i) for i, p in
        [(0, ev), (1, ev), (2, ev)]
    ]
    partials_path = str(tmp_path / "partials")
    keys_path = str(tmp_path / "keys")
    sink = rollup_maintenance(partials_path, keys_path)
    sink(parts[0], 0)
    sink(parts[1], 1)

    def view():
        return {
            (r.hour_start, r.event_type): (r.n_events, r.n_users, r.sum_value)
            for r in merged_rollup(spark, partials_path, keys_path).collect()
        }

    before = view()
    n_keys = rollup_partials(parts[0].unionByName(parts[1])).count()
    n_rows = compact_rollup_state(spark, partials_path, keys_path)
    assert n_rows == n_keys  # one partial per key, not per key×batch
    assert view() == before

    sink(parts[2], 2)  # maintenance continues against the compacted store
    got = view()
    want = {
        (r.hour_start, r.event_type): (r.n_events, r.n_users, r.sum_value)
        for r in ev_hourly_rollup(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_ingest_pipeline_composed_replay_idempotent(spark, sf_dir, tmp_path):
    """The composed ingest path (decontamination gate → dedup-graph
    maintenance → DSIR model maintenance, one stream feeding three
    state stores) is replay-idempotent AS A WHOLE: re-invoking a batch
    id on all three sinks (foreachBatch at-least-once, the crash-after-
    partial-write case) leaves the flagged set, the served labels, and
    the merged DSIR model byte-identical — the pieces' individual
    fences compose without cross-contaminating state."""
    from wikidatabots_spark.streaming.docs_stream import (
        decontamination_gate,
        dedup_graph_maintenance,
        dsir_model_maintenance,
        flagged_documents,
        latest_labels,
        merged_dsir_model,
    )
    from wikidatabots_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    flagged_path = str(tmp_path / "flagged")
    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    partials_path = str(tmp_path / "dsir")
    gate = decontamination_gate(bench, flagged_path, n=5)
    graph = dedup_graph_maintenance(index_path, labels_path)
    dsir = dsir_model_maintenance(partials_path)

    def run_batch(i):
        b = train.where(F.col("doc_id") % 2 == i)
        gate(b, i)
        admitted = b.join(
            flagged_documents(spark, flagged_path).select(
                F.col("train_id").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
        graph(admitted.select("doc_id", "text"), i)
        dsir(admitted, i)

    run_batch(0)
    run_batch(1)

    def snapshot():
        flags = frozenset(
            (r.train_id, r.n_collided_grams)
            for r in flagged_documents(spark, flagged_path).collect()
        )
        labels = frozenset(
            (r.node, r.component)
            for r in latest_labels(spark, labels_path).collect()
        )
        model = frozenset(
            (r.bucket, r.lr_ppm)
            for r in merged_dsir_model(spark, partials_path).collect()
        )
        return flags, labels, model

    once = snapshot()
    run_batch(1)  # replay the last batch through ALL THREE sinks
    assert snapshot() == once
    assert all(len(part) > 0 for part in once)


def test_compact_rollup_state_crash_at_every_step(
    spark, sf_dir, tmp_path, crash_at_every_step
):
    """Fault injection over the rollup compaction's TWO sequential
    pointer swaps (partials, then user keys): a crash at ANY filesystem
    mutation — including between the two swaps, where the partials
    store is already compacted and the key store is not — must leave
    merged_rollup byte-identical (the partials fold is view-preserving
    alone; the key store is a distinct target, so an uncompacted key
    store merges identically). Recovery compaction then completes and
    the view still matches."""

    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.events_stream import (
        compact_rollup_state,
        merged_rollup,
        rollup_maintenance,
    )

    ev = load_table(spark, sf_dir, "events")
    proto = tmp_path / "proto"
    proto.mkdir()
    partials_path = str(proto / "partials")
    keys_path = str(proto / "keys")
    sink = rollup_maintenance(partials_path, keys_path)
    sink(ev.where(F.col("event_id") % 2 == 0), 0)
    sink(ev.where(F.col("event_id") % 2 == 1), 1)

    def view(pp, kp):
        return {
            (r.hour_start, r.event_type): (r.n_events, r.n_users, r.sum_value)
            for r in merged_rollup(spark, pp, kp).collect()
        }

    want = view(partials_path, keys_path)

    def compact(case):
        compact_rollup_state(spark, str(case / "partials"), str(case / "keys"))

    def check(case, k):
        pp, kp = str(case / "partials"), str(case / "keys")
        assert view(pp, kp) == want, f"view torn at crash point {k}"
        compact_rollup_state(spark, pp, kp)  # recovery completes
        assert view(pp, kp) == want

    k = crash_at_every_step(proto, compact, check)
    assert k >= 4  # both swaps contribute distinct fault points


def test_dsir_model_maintenance_matches_batch_retrain(spark, sf_dir, tmp_path):
    """Streaming maintenance of the DSIR importance model: documents
    arrive in 3 micro-batches, each appending only its per-bucket class
    counts; the merged model must equal batch retraining on the full
    corpus BIT-FOR-BIT (additive integer counters + the shared
    deterministic log-ratio expression). A replayed batch id leaves the
    model unchanged (dynamic-partition-overwrite fence)."""
    from wikidatabots_spark.plans.llmdata import dsir_occ_and_model
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        dsir_model_maintenance,
        merged_dsir_model,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    partials_path = str(tmp_path / "dsir_partials")
    sink = dsir_model_maintenance(partials_path)
    parts = [d.where(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        sink(p, i)

    got = {
        r.bucket: r.lr_ppm
        for r in merged_dsir_model(spark, partials_path).collect()
    }
    _, model = dsir_occ_and_model(d)
    want = {r.bucket: r.lr_ppm for r in model.collect()}
    assert got == want and 0 < len(want) <= 1024

    sink(parts[1], 1)  # replay of batch 1
    again = {
        r.bucket: r.lr_ppm
        for r in merged_dsir_model(spark, partials_path).collect()
    }
    assert again == want


def test_dedup_graph_auto_compaction_bounds_partitions(spark, tmp_path):
    """compact_every wires retention into the maintenance loop: across
    5 batches with compact_every=2 the label store ends with a bounded
    partition count and the served view still equals the full
    recompute."""
    import os as _os

    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path, compact_every=2)
    batches = [
        [(1, "A"), (2, "A")],
        [(3, "B"), (4, "B")],
        [(5, "C"), (6, "C")],
        [(7, "A")],
        [(8, "Q"), (9, "Q")],
    ]
    all_rows = []
    for i, rows in enumerate(batches):
        apply(_docs(spark, *rows), i)
        all_rows.extend(rows)

    n_parts = len(
        [d for d in _os.listdir(labels_path) if d.startswith("__batch_id=")]
    )
    assert n_parts <= 3  # base + at most compact_every fresh deltas
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert got == _full_recompute(_docs(spark, *all_rows))


def test_decontamination_gate_matches_batch_sweep(spark, sf_dir, tmp_path):
    """In-flight decontamination parity: training docs streamed as 3
    micro-batches through the gate produce, in union, EXACTLY the batch
    ngram_collisions over the full training corpus vs the same static
    benchmark — per-doc collision counts included (a doc's verdict
    depends only on its own text and the benchmark, the zero-state
    property). A replayed batch id changes nothing."""
    from wikidatabots_spark.operators.textstats import ngram_collisions
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        decontamination_gate,
        flagged_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    flagged_path = str(tmp_path / "flagged")
    gate = decontamination_gate(bench, flagged_path, n=5)
    parts = [train.where(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        gate(p, i)

    def view():
        return {
            r.train_id: (r.n_collided_grams, r.n_bench_docs)
            for r in flagged_documents(spark, flagged_path).collect()
        }

    got = view()
    want = {
        r.train_id: (r.n_collided_grams, r.n_bench_docs)
        for r in ngram_collisions(train, bench, n=5).collect()
    }
    assert got == want and len(want) > 0

    gate(parts[1], 1)  # replay
    assert view() == got


def test_lazy_latest_labels_survives_compaction_publish(spark, tmp_path):
    """ADVICE r11 repro: a lazy latest_labels frame built BEFORE a
    compaction publish must still execute after it. The serving readers
    pin the store's current version via resolve_store and
    publish_dir_swap retains the previous version, so the pre-built
    frame serves its snapshot instead of FILE_NOT_EXIST."""
    from wikidatabots_spark.streaming.docs_stream import (
        compact_labels,
        dedup_graph_maintenance,
        latest_labels,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)
    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    apply(_docs(spark, (10, "Z"), (11, "Z")), 1)
    apply(_docs(spark, (12, "C"), (13, "C")), 2)

    stale = latest_labels(spark, labels_path)  # built pre-publish
    assert compact_labels(spark, labels_path, keep_last=1) == 1
    got = {(r.node, r.component) for r in stale.collect()}
    fresh = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert got == fresh  # compaction preserves the view; snapshot serves


def test_compact_index_preserves_probe_candidates(spark, tmp_path):
    """Band-index + tombstone retention compaction (VERDICT r11 next
    #1): folding old batch partitions — with tombstone suppression
    MATERIALIZED at fold time and the folded tombstones dropped — must
    leave the served index (hence every probe's candidate set)
    identical, INCLUDING the delete-then-re-insert case whose ordered
    semantics must survive materialization; partition counts must come
    out bounded and maintenance must keep composing to the full
    recompute."""
    import os as _os

    from wikidatabots_spark.sinks.compaction import (
        batch_ids as _store_batch_ids,
    )
    from wikidatabots_spark.streaming.docs_stream import (
        compact_index,
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    tomb_path = index_path + "_tombstones"
    apply = dedup_graph_maintenance(index_path, labels_path)
    # doc 1: inserted, deleted, RE-INSERTED — all inside the folded
    # range; doc 10 stays deleted (its tombstone's suppression must be
    # materialized, then the tombstone dropped)
    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B"), (10, "Z"), (11, "Z")), 0)
    apply(_docs(spark, (1, None, "delete"), (10, None, "delete")), 1)
    apply(_docs(spark, (1, "A"), (12, "C")), 2)
    apply(_docs(spark, (13, "C")), 3)

    def served():
        return frozenset(
            (r.doc_id, r.band_idx, r.band_hash)
            for r in read_band_index(
                spark, index_path, tomb_path, before_batch=99
            ).collect()
        )

    want = served()
    assert any(r[0] == 1 for r in want)  # the re-insert is visible
    assert not any(r[0] == 10 for r in want)  # the delete holds

    n_folded = compact_index(spark, index_path, tomb_path, keep_last=1)
    assert n_folded >= 1
    assert served() == want
    # history is bounded: base (batch 2) + the kept newest partition
    assert _store_batch_ids(index_path) == [2, 3]
    # the folded tombstones are gone (both were <= base)
    assert _store_batch_ids(tomb_path) == []

    # the replay fence still fences: a re-run of the newest batch reads
    # exactly the pre-batch state (base + nothing newer than itself)
    pre3 = frozenset(
        (r.doc_id, r.band_idx, r.band_hash)
        for r in read_band_index(
            spark, index_path, tomb_path, before_batch=3
        ).collect()
    )
    assert pre3 == frozenset(r for r in want if r[0] != 13)

    # maintenance composes on the compacted store: doc 14 joins A's
    # component through the re-inserted doc 1
    apply(_docs(spark, (14, "A")), 4)
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert got == _full_recompute(
        _docs(
            spark,
            (1, "A"), (2, "A"), (3, "B"), (11, "Z"),
            (12, "C"), (13, "C"), (14, "A"),
        )
    )


def test_compact_index_crash_at_every_step_preserves_view(
    spark, tmp_path, crash_at_every_step
):
    """Fault injection over the index/tombstone compaction: kill
    compact_index at EVERY python-side filesystem mutation (staged
    renames, pointer symlinks/renames, sweeps — across BOTH publishes).
    At every crash point the served probe candidates and labels are
    unchanged (the two publishes commute: materialized base rows plus
    not-yet-dropped old tombstones cannot double-suppress), a re-run
    completes the fold, and maintenance keeps composing."""

    from wikidatabots_spark.sinks.compaction import (
        batch_ids as _store_batch_ids,
    )
    from wikidatabots_spark.streaming.docs_stream import (
        compact_index,
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    proto = tmp_path / "proto"
    proto.mkdir()
    index_path = str(proto / "idx")
    labels_path = str(proto / "lbl")
    apply = dedup_graph_maintenance(index_path, labels_path)
    apply(_docs(spark, (1, "A"), (2, "A"), (3, "B")), 0)
    apply(_docs(spark, (1, None, "delete")), 1)
    apply(_docs(spark, (1, "A"), (10, "Z"), (11, "Z")), 2)
    apply(_docs(spark, (12, "C"), (13, "C")), 3)

    def view(lbl, idx):
        labels = frozenset(
            (r.node, r.component)
            for r in latest_labels(spark, lbl).collect()
        )
        idx_served = frozenset(
            (r.doc_id, r.band_idx, r.band_hash)
            for r in read_band_index(
                spark, idx, idx + "_tombstones", before_batch=99
            ).collect()
        )
        return labels, idx_served

    want_view = view(labels_path, index_path)
    # same hoist as the labels crash test: the compose target is one
    # fixed point, not one per crash case
    want_composed = _full_recompute(
        _docs(
            spark,
            (1, "A"), (2, "A"), (3, "B"), (10, "Z"), (11, "Z"),
            (12, "C"), (13, "C"), (14, "A"),
        )
    )

    def compact(case):
        idx = str(case / "idx")
        compact_index(spark, idx, idx + "_tombstones", keep_last=1)

    def check(case, k):
        lbl = str(case / "lbl")
        idx = str(case / "idx")
        assert view(lbl, idx) == want_view, f"view torn at crash point {k}"
        # recovery completes the fold and bounds history
        compact_index(spark, idx, idx + "_tombstones", keep_last=1)
        assert view(lbl, idx) == want_view
        assert _store_batch_ids(idx) == [2, 3]
        assert _store_batch_ids(idx + "_tombstones") == []
        # maintenance keeps composing on the recovered store
        apply_k = dedup_graph_maintenance(idx, lbl)
        apply_k(_docs(spark, (14, "A")), 4)
        got = {
            (r.node, r.component)
            for r in latest_labels(spark, lbl).collect()
        }
        assert got == want_composed

    k = crash_at_every_step(proto, compact, check)
    assert k >= 3


def test_dedup_graph_auto_compaction_bounds_index_and_tombstones(
    spark, tmp_path
):
    """compact_every now folds ALL three graph stores: across 6 batches
    (including deletions) with compact_every=2, the index ends with a
    bounded __batch_id partition count, old tombstones are folded away,
    and the served view still equals the full recompute on the
    survivors."""
    from wikidatabots_spark.sinks.compaction import (
        batch_ids as _store_batch_ids,
    )
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    tomb_path = index_path + "_tombstones"
    apply = dedup_graph_maintenance(index_path, labels_path, compact_every=2)
    batches = [
        [(1, "A"), (2, "A")],
        [(3, "B"), (4, "B")],
        [(1, None, "delete")],
        [(5, "C"), (6, "C")],
        [(3, None, "delete"), (7, "A")],
        [(8, "Q"), (9, "Q")],
    ]
    for i, rows in enumerate(batches):
        apply(_docs(spark, *rows), i)

    # base + at most compact_every fresh deltas per store
    assert len(_store_batch_ids(index_path)) <= 3
    assert len(_store_batch_ids(labels_path)) <= 3
    # every tombstone written before the last fold was materialized
    assert all(t >= 4 for t in _store_batch_ids(tomb_path))

    survivors = [(2, "A"), (4, "B"), (5, "C"), (6, "C"),
                 (7, "A"), (8, "Q"), (9, "Q")]
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert got == _full_recompute(_docs(spark, *survivors))
    served_ids = {
        r.doc_id
        for r in read_band_index(
            spark, index_path, tomb_path, before_batch=99
        ).collect()
    }
    assert served_ids == {d for d, _ in survivors}


def test_compact_dsir_partials_preserves_model(spark, sf_dir, tmp_path):
    """DSIR partials-store compaction (VERDICT r11 next #6): folding
    per-batch class-count partials into one summed base partition
    leaves the merged model BIT-IDENTICAL (additive integer counters),
    bounds the partition count, and maintenance — including bit-parity
    with a full batch retrain — keeps composing afterwards."""
    import os as _os

    from wikidatabots_spark.plans.llmdata import dsir_occ_and_model
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        compact_dsir_partials,
        dsir_model_maintenance,
        merged_dsir_model,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    partials_path = str(tmp_path / "partials")
    sink = dsir_model_maintenance(partials_path)
    for i in range(3):
        sink(d.where(F.col("doc_id") % 3 == i), i)

    def model():
        return {
            r.bucket: r.lr_ppm
            for r in merged_dsir_model(spark, partials_path).collect()
        }

    want = model()
    n_folded = compact_dsir_partials(spark, partials_path, keep_last=1)
    assert n_folded == 1  # batches 0,1 -> base at 1; batch 2 kept
    assert model() == want
    parts = [
        p for p in _os.listdir(partials_path) if p.startswith("__batch_id=")
    ]
    assert sorted(parts) == ["__batch_id=1", "__batch_id=2"]

    # maintenance composes on the folded store, and the merged model
    # stays bit-identical to a full batch retrain on everything seen
    extra = d.limit(0)  # batch 3: empty (counters additive with zero)
    sink(extra, 3)
    _occ, batch_model = dsir_occ_and_model(d)
    want_full = {r.bucket: r.lr_ppm for r in batch_model.collect()}
    assert model() == want_full


def test_dsir_maintenance_compact_every_bounds_partitions(
    spark, sf_dir, tmp_path
):
    """compact_every wired into dsir_model_maintenance keeps the store
    self-bounding while preserving batch-retrain bit-parity."""
    import os as _os

    from wikidatabots_spark.plans.llmdata import dsir_occ_and_model
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        dsir_model_maintenance,
        merged_dsir_model,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    partials_path = str(tmp_path / "partials")
    sink = dsir_model_maintenance(partials_path, compact_every=2)
    for i in range(5):
        sink(d.where(F.col("doc_id") % 5 == i), i)
    parts = [
        p for p in _os.listdir(partials_path) if p.startswith("__batch_id=")
    ]
    assert len(parts) <= 3
    _occ, batch_model = dsir_occ_and_model(d)
    got = {
        r.bucket: r.lr_ppm
        for r in merged_dsir_model(spark, partials_path).collect()
    }
    assert got == {r.bucket: r.lr_ppm for r in batch_model.collect()}


def test_compact_flagged_preserves_view(spark, sf_dir, tmp_path):
    """Flagged-store retention fold: the served decontamination
    verdicts are identical after folding old batch partitions, and the
    partition count is bounded."""
    import os as _os

    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        compact_flagged,
        decontamination_gate,
        flagged_documents,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    bench = d.where(F.col("doc_id") % 7 == 0)
    train = d.where(F.col("doc_id") % 7 != 0)
    flagged_path = str(tmp_path / "flagged")
    gate = decontamination_gate(bench, flagged_path, n=5)
    for i in range(3):
        gate(train.where(F.col("doc_id") % 3 == i), i)

    def view():
        return {
            (r.train_id, r.n_collided_grams, r.n_bench_docs)
            for r in flagged_documents(spark, flagged_path).collect()
        }

    want = view()
    assert want  # the gate actually flagged something at this SF
    assert compact_flagged(spark, flagged_path, keep_last=1) == 1
    assert view() == want
    parts = [
        p for p in _os.listdir(flagged_path) if p.startswith("__batch_id=")
    ]
    assert sorted(parts) == ["__batch_id=1", "__batch_id=2"]


def _flagged_fold_case(spark, sf_dir, store):
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        compact_flagged,
        decontamination_gate,
        flagged_documents,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    gate = decontamination_gate(d.where(F.col("doc_id") % 7 == 0), store, n=5)
    train = d.where(F.col("doc_id") % 7 != 0)
    for i in range(3):
        gate(train.where(F.col("doc_id") % 3 == i), i)

    def view(path):
        return {
            (r.train_id, r.n_collided_grams, r.n_bench_docs)
            for r in flagged_documents(spark, path).collect()
        }

    return lambda path: compact_flagged(spark, path, keep_last=1), view


def _dsir_fold_case(spark, sf_dir, store):
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming.docs_stream import (
        compact_dsir_partials,
        dsir_model_maintenance,
        merged_dsir_model,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sink = dsir_model_maintenance(store)
    for i in range(3):
        sink(d.where(F.col("doc_id") % 3 == i), i)

    def view(path):
        return {
            r.bucket: r.lr_ppm for r in merged_dsir_model(spark, path).collect()
        }

    return lambda path: compact_dsir_partials(spark, path, keep_last=1), view


def _parquet_dir_fold_case(spark, sf_dir, store):
    from wikidatabots_spark.sinks.compaction import (
        compact_parquet_dir,
        ensure_linked_store,
    )

    # born behind the pointer, as every store the sinks write is: a
    # plain directory's first publish moves it aside (not atomic)
    ensure_linked_store(store)
    spark.range(0, 1_000).withColumn("v", F.col("id") * 2).repartition(
        8
    ).write.mode("append").parquet(store)

    def view(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    return lambda path: compact_parquet_dir(spark, path), view


@pytest.mark.parametrize(
    "make_case",
    [_flagged_fold_case, _dsir_fold_case, _parquet_dir_fold_case],
    ids=["compact_flagged", "compact_dsir_partials", "compact_parquet_dir"],
)
def test_fold_crash_at_every_step_preserves_view(
    spark, sf_dir, tmp_path, crash_at_every_step, make_case
):
    """Fault injection over the remaining store rewrites: a crash at
    every filesystem mutation of the publish leaves the served view
    identical, and a re-run of the rewrite completes, keeps the view
    and leaves the store bounded (one base partition plus the kept
    newest one, or one file)."""
    import os as _os

    proto = tmp_path / "proto"
    proto.mkdir()
    rewrite, view = make_case(spark, sf_dir, str(proto / "store"))
    want = view(str(proto / "store"))
    assert want

    def check(case, k):
        store = str(case / "store")
        assert view(store) == want, f"view torn at crash point {k}"
        rewrite(store)  # recovery completes
        assert view(store) == want
        names = _os.listdir(store)
        parts = [n for n in names if n.startswith("__batch_id=")]
        files = [n for n in names if n.endswith(".parquet")]
        assert sorted(parts) == ["__batch_id=1", "__batch_id=2"] or (
            not parts and len(files) == 1
        )

    def run(case):
        rewrite(str(case / "store"))

    assert crash_at_every_step(proto, run, check) >= 3


def test_sinks_call_the_folds_by_module_global_name(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The sinks look their folds up as ``docs_stream`` module globals
    at call time, which is how perfbench times them (``_COMPACTIONS``
    swaps in timed wrappers by name; a sink calling the fold helper
    directly would make ``sinks.compact_s`` read 0 without an error).
    With ``compact_every=2``, two batches through the graph, gate and
    DSIR sinks call each wrapped fold once."""
    from wikidatabots_spark.sources.tables import load_table
    from wikidatabots_spark.streaming import docs_stream

    names = (
        "compact_labels",
        "compact_index",
        "compact_flagged",
        "compact_dsir_partials",
    )
    calls = dict.fromkeys(names, 0)

    def counted(name, fn):
        def call(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return call

    for name in names:
        monkeypatch.setattr(
            docs_stream, name, counted(name, getattr(docs_stream, name))
        )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    gate = docs_stream.decontamination_gate(
        d.where(F.col("doc_id") % 7 == 0),
        str(tmp_path / "flagged"),
        n=5,
        compact_every=2,
    )
    graph = docs_stream.dedup_graph_maintenance(
        str(tmp_path / "idx"), str(tmp_path / "lbl"), compact_every=2
    )
    dsir = docs_stream.dsir_model_maintenance(
        str(tmp_path / "dsir"), compact_every=2
    )
    for i in range(2):
        batch = d.where(F.col("doc_id") % 2 == i)
        gate(batch, i)
        graph(batch.select("doc_id", "text"), i)
        dsir(batch, i)
    assert calls == dict.fromkeys(names, 1)


def test_run_staged_foreach_batch_delivers_engine_batches(spark, tmp_path):
    """The seated streaming queries' hash checks are valid under ANY
    batching, so they cannot distinguish three engine micro-batches
    from one big one — this pins the wiring itself: one staged file
    per input frame, maxFilesPerTrigger=1, AvailableNow => the ENGINE
    invokes the sink once per file with consecutive batch ids."""
    from wikidatabots_spark.streaming.docs_stream import (
        run_staged_foreach_batch,
    )

    seen = {}

    def probe(batch, batch_id):
        seen[int(batch_id)] = {r.doc_id for r in batch.collect()}

    frames = [
        spark.createDataFrame([(i, f"t{i}")], "doc_id long, text string")
        for i in range(3)
    ]
    run_staged_foreach_batch(frames, probe, str(tmp_path))
    # ORDERED delivery is part of the contract (deletion batches must
    # arrive after the inserts they delete — ADVICE r12): engine batch i
    # must carry exactly staged frame i's rows, not merely three
    # size-one batches in some order.
    assert seen == {0: {0}, 1: {1}, 2: {2}}


def test_run_staged_foreach_batch_propagates_sink_error(spark, tmp_path):
    """A sink exception must surface to the caller (the registered
    query), not vanish into the streaming thread."""
    import pytest

    from wikidatabots_spark.streaming.docs_stream import (
        run_staged_foreach_batch,
    )

    def boom(batch, batch_id):
        raise ValueError("sink exploded")

    frames = [spark.createDataFrame([(1, "t")], "doc_id long, text string")]
    with pytest.raises(Exception, match="sink exploded"):
        run_staged_foreach_batch(frames, boom, str(tmp_path))


def test_real_stream_with_folds_and_deletes_matches_recompute(
    spark, tmp_path
):
    """Retention folds firing UNDER the real streaming engine: six
    one-file micro-batches (including two deletion batches) drive
    dedup_graph_maintenance(compact_every=2) through an actual
    readStream -> foreachBatch query, so compact_labels/compact_index
    run inside engine triggers, between engine-committed batches. The
    final served view must equal the full recompute on survivors and
    every store must come out bounded."""
    from wikidatabots_spark.sinks.compaction import (
        batch_ids as _store_batch_ids,
    )
    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
        read_band_index,
        run_staged_foreach_batch,
    )

    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    tomb_path = index_path + "_tombstones"
    batches = [
        [(1, "A"), (2, "A")],
        [(3, "B"), (4, "B")],
        [(1, None, "delete")],
        [(5, "C"), (6, "C"), (1, "A")],  # re-insert after delete
        [(3, None, "delete"), (7, "A")],
        [(8, "Q"), (9, "Q")],
    ]
    run_staged_foreach_batch(
        [_docs(spark, *rows) for rows in batches],
        dedup_graph_maintenance(index_path, labels_path, compact_every=2),
        str(tmp_path),
        timeout_s=900,
    )

    assert len(_store_batch_ids(index_path)) <= 3
    assert len(_store_batch_ids(labels_path)) <= 3
    assert all(t >= 4 for t in _store_batch_ids(tomb_path))

    survivors = [(1, "A"), (2, "A"), (4, "B"), (5, "C"), (6, "C"),
                 (7, "A"), (8, "Q"), (9, "Q")]
    got = {
        (r.node, r.component)
        for r in latest_labels(spark, labels_path).collect()
    }
    assert got == _full_recompute(_docs(spark, *survivors))
    served_ids = {
        r.doc_id
        for r in read_band_index(
            spark, index_path, tomb_path, before_batch=99
        ).collect()
    }
    assert served_ids == {d for d, _ in survivors}


def test_store_writes_are_file_bounded(spark, tmp_path):
    """Small-files regression pin (r13): every dynamic-partitioned store
    write repartitions on its partition columns first, so a batch write
    lands ONE AQE-sized file per touched partition dir — not one file
    per shuffle task per dir (the pre-fix band index minted
    tasks x prefixes = 512 files per batch; 1024 after two batches)."""
    import os as _os

    from wikidatabots_spark.streaming.docs_stream import (
        dedup_graph_maintenance,
        latest_labels,
    )

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body "), (F.col("id") % 40).cast("string")).alias(
            "text"
        ),
    )
    index_path = str(tmp_path / "idx")
    labels_path = str(tmp_path / "lbl")
    sink = dedup_graph_maintenance(index_path, labels_path)
    for i in range(3):
        sink(docs.where(F.col("doc_id") % 3 == i), i)

    def nfiles(path):
        return sum(
            1
            for _r, _d, fs in _os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    n_prefixes = 16  # 16**_BAND_PFX_LEN partition dirs per batch, max
    n_batches = 3
    # one file per touched (band_pfx, __batch_id) dir; "*2" leaves room
    # for AQE choosing an extra output partition, never for per-task
    # fan-out (32 tasks would blow straight past it)
    assert nfiles(index_path) <= 2 * n_prefixes * n_batches
    assert nfiles(labels_path) <= 2 * n_batches
    assert latest_labels(spark, labels_path).count() > 0


# ---------------------------------------------------------------------------
# ADVICE r13: _fresh_stream_root's eager cleanup must never strand a
# still-unconsumed frame from the previous invocation — seated queries
# return _decoupled (localCheckpoint'ed) frames, safe by construction.
# ---------------------------------------------------------------------------


def test_decoupled_frame_survives_root_removal(spark):
    """Mechanism pin: a _decoupled frame built over a _fresh_stream_root
    store keeps answering after the NEXT _fresh_stream_root call for the
    same prefix rmtree's the store out from under it."""
    import os as _os

    from wikidatabots_spark.plans.quality import (
        _decoupled,
        _fresh_stream_root,
    )

    root1 = _fresh_stream_root("wdb_test_decouple_")
    p = _os.path.join(root1, "t.parquet")
    spark.range(0, 7).withColumnRenamed("id", "v").write.parquet(p)
    lazy = spark.read.parquet(p)
    safe = _decoupled(spark.read.parquet(p))

    root2 = _fresh_stream_root("wdb_test_decouple_")  # rmtree's root1
    assert not _os.path.exists(root1) and _os.path.exists(root2)
    # the decoupled frame still answers; the raw lazy one is now broken
    assert sorted(r.v for r in safe.collect()) == list(range(7))
    try:
        lazy.collect()
        raw_readable = True
    except Exception:
        raw_readable = False
    assert not raw_readable, (
        "raw lazy frame unexpectedly survived root removal — the"
        " decoupling guard is untestable on this FS"
    )
    _fresh_stream_root("wdb_test_decouple_")  # drop root2 content too


def test_graph_stream_frame_survives_reinvocation(spark, sf_dir):
    """End-to-end pin: invoke the seated streaming query twice,
    collecting the FIRST frame only after the second invocation has
    already recycled the state root. Pre-fix this read an absent store
    (empty/erroring); now both frames must agree exactly."""
    from wikidatabots_spark.plans.quality import dedup_graph_stream_q

    first = dedup_graph_stream_q(spark, sf_dir)
    second = dedup_graph_stream_q(spark, sf_dir)
    rows1 = sorted(map(tuple, first.collect()))
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2
    assert len(rows1) > 0
