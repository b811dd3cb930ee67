"""applyInPandasWithState operator test: streaming per-user profiles
must agree with the batch aggregate over the same file."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidatabots_spark.sources.tables import load_table
from wikidatabots_spark.streaming.events_stream import read_events_stream
from wikidatabots_spark.streaming.stateful import user_profile_stream


def _drain_and_stop(q, timeout_s: float = 120.0) -> None:
    """Wait until the file source is drained, then STOP the query.

    ``awaitTermination`` is the wrong wait here (r15 test-gate fix):
    under ``Trigger.AvailableNow`` a stateful query with
    ProcessingTimeTimeout keeps firing ~0.6 s ZERO-INPUT micro-batches
    until every idle timer expires (30 min for the profile reaper), so
    the old ``awaitTermination(120)`` always timed out — 120 s per test
    — and then LEAKED the still-running query into every later test of
    the session-scoped SparkSession. The parity data is complete as
    soon as a completed batch reports zero input rows after the input
    batches; wait for that, then stop."""
    import time as _time

    deadline = _time.time() + timeout_s
    seen_data = False
    drained = False
    while not drained and _time.time() < deadline:
        # a failed query raises its own error here, not a timeout later
        if (err := q.exception()) is not None:
            raise err
        # every retained batch, not only the newest: a fast stream can
        # run its data batch and a zero-input one between two polls
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                seen_data = True
            elif seen_data:
                drained = True
        _time.sleep(0.2)
    assert seen_data, "stream never processed any input"
    q.stop()
    q.awaitTermination(30)


def test_user_profile_stream_matches_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    q = (
        user_profile_stream(ev)
        .writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)
    # update mode: keep the last emitted row per user
    got = {
        r.user_id: (r.n_events, round(r.sum_value, 4))
        for r in spark.sql("select * from profiles").collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.sum_value, 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_event_transitions_stream_matches_batch_lead(spark, sf_dir):
    """Streaming per-user transitions, aggregated to the (from, to)
    matrix, must equal the batch lead()-window counts feeding
    ev_markov_transitions."""
    from pyspark.sql import Window

    from wikidatabots_spark.streaming.stateful import event_transitions_stream

    ev = read_events_stream(spark, sf_dir)
    q = (
        event_transitions_stream(ev)
        .writeStream.format("memory")
        .queryName("transitions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)
    got = {
        (r.from_type, r.to_type): r.n
        for r in spark.sql(
            "select from_type, to_type, count(*) as n from transitions "
            "group by from_type, to_type"
        ).collect()
    }
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .count()
    )
    want = {(r.from_type, r.to_type): r["count"] for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_kmv_sketch_stream_matches_batch(spark, sf_dir):
    """The streamed KMV state (k smallest user hashes per event_type)
    must equal the batch kmv_sketch bit-for-bit."""
    from wikidatabots_spark.operators.sketch import kmv_sketch
    from wikidatabots_spark.streaming.stateful import kmv_sketch_stream

    ev = read_events_stream(spark, sf_dir)
    q = (
        kmv_sketch_stream(ev)
        .writeStream.format("memory")
        .queryName("kmv_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)
    got = {
        r.event_type: r.hashes
        for r in spark.sql("select * from kmv_state").collect()
    }
    batch = kmv_sketch(
        load_table(spark, sf_dir, "events"), "user_id", k=32,
        group_cols=("event_type",),
    )
    want: dict[str, list[int]] = {}
    for r in batch.collect():
        want.setdefault(r["event_type"], []).append(r["h"])
    want_csv = {t: ",".join(str(x) for x in sorted(hs)) for t, hs in want.items()}
    assert got == want_csv and len(got) > 0
