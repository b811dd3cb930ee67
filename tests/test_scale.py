"""Scale-strategy tests: bucketed joins eliminate the exchange; salted
joins preserve results exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikidatabots_spark.functions.scale import bucketed, salted_join, write_bucketed
from wikidatabots_spark.sources.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "t_orders_b", ["o_orderkey"], num_buckets=4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        ["o_orderkey"],
        num_buckets=4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed(spark, "t_orders_b").join(
            bucketed(spark, "t_lineitem_b"), on="o_orderkey"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: sort-merge join with zero Exchange nodes
        assert "Exchange" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_name")
    )
    plain = sorted(
        (r.o_orderkey, r.c_name)
        for r in o.join(cu, on="o_custkey").select("o_orderkey", "c_name").collect()
    )
    salted = sorted(
        (r.o_orderkey, r.c_name)
        for r in salted_join(o, cu, on=["o_custkey"], salt=4, seed=7)
        .select("o_orderkey", "c_name")
        .collect()
    )
    assert plain == salted


def test_zorder_write_clusters_both_dimensions(spark, sf_dir, tmp_path):
    import glob
    import os

    import pyarrow.parquet as pq

    from wikidatabots_spark.functions.scale import zorder_key
    from wikidatabots_spark.sinks.compaction import compact_parquet_dir

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 256).alias("u"),
        (F.col("event_id") % 256).alias("e"),
        "value",
    )
    path = str(tmp_path / "ev_z")
    ev.write.parquet(path)
    total = sum(os.path.getsize(f) for f in glob.glob(path + "/*.parquet"))
    # a target of an eighth of the table: the rewrite range-partitions
    # on the z-order key into 8 files
    compact_parquet_dir(
        spark, path, target_bytes=total // 8 + 1,
        order_by=[zorder_key("u", "e", bits=8)],
    )
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) >= 4
    # clustering proof: per-file min/max spans on BOTH interleaved
    # dimensions are far narrower than the global [0, 255] domain, so a
    # selective filter on either column skips most files' stats ranges
    spans_u, spans_e = [], []
    for f in files:
        t = pq.read_table(f, columns=["u", "e"])
        u, e = t.column("u").to_pylist(), t.column("e").to_pylist()
        spans_u.append(max(u) - min(u))
        spans_e.append(max(e) - min(e))
    assert sum(spans_u) / len(spans_u) < 200
    assert sum(spans_e) / len(spans_e) < 200


def test_observe_counters_metrics_without_second_job(spark, sf_dir):
    """Pipeline metrics ride the SAME job as the action: observe() on
    the gated frame reports rows/sums matching an independent
    recomputation, and the metric is available right after one count()
    — the zero-extra-pass health report a 100 TB export wants."""
    from pyspark.sql import functions as F

    from wikidatabots_spark.functions.scale import observe_counters
    from wikidatabots_spark.operators.textstats import with_quality
    from wikidatabots_spark.sources.tables import load_table

    d = with_quality(load_table(spark, sf_dir, "documents"))
    gated = d.where(F.col("quality") >= 0.5)
    observed, obs = observe_counters(
        gated,
        "gate_health",
        n_kept=F.count(F.lit(1)),
        words_kept=F.sum("n_words"),
        min_quality=F.min("quality"),
    )
    n_action = observed.count()  # ONE job; metrics ride along
    got = obs.get
    assert got["n_kept"] == n_action
    want = gated.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_words").alias("w")
    ).first()
    assert got["n_kept"] == want.n
    assert got["words_kept"] == want.w
    assert got["min_quality"] >= 0.5


def test_aqe_splits_planted_skewed_join(spark):
    """Turns the recurring 'AQE skew-split handles hot keys' claim into
    a regression pin: a join where one key holds ~100x the rows of any
    other must show AQE's skew handling in the FINAL adaptive plan
    (skew=true on the sort-merge join) under test-scaled thresholds.
    The planted skew mirrors what a hot band/user key looks like after
    the anchor cap bounds OUTPUT size — the shuffle itself still skews,
    and this is the layer that absorbs it."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        # force SMJ (broadcast would bypass the skew path entirely)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        joined = left.join(right, "k")
        # collect the frame ITSELF: a .count() probe executes a
        # different (collapsed) plan and leaves this one unexecuted —
        # the exchange-reuse measurement trap from NOTES_r4
        rows = joined.collect()
        assert len(rows) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_global_rank_raises_on_null_bucket(spark):
    """A NULL bucket would be silently dropped by the phase-2 equi-join
    (wrong answer); the library must fail loud instead (VERDICT r7 #1).
    Before the guard this collected 2 of 3 rows with no error."""
    from wikidatabots_spark.functions.scale import bucketed_global_rank

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0)], "id long, v double"
    )
    out = bucketed_global_rank(
        df,
        bucket=F.floor(F.col("v")),
        order=[F.col("v").desc(), F.col("id").asc()],
        descending=True,
    )
    with pytest.raises(Exception, match="NULL bucket"):
        out.collect()


def test_bucketed_global_rank_coalesced_sentinel_matches_window(spark):
    """The documented caller contract: coalesce a nullable bucket to a
    sentinel that sorts where the engine places NULLs. With the sentinel,
    the two-phase rank reproduces a plain global window (desc = NULLS
    LAST in Spark) bit-for-bit, NULL rows included."""
    from pyspark.sql import Window

    from wikidatabots_spark.functions.scale import bucketed_global_rank

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0), (4, None), (5, 10.0)],
        "id long, v double",
    )
    got = bucketed_global_rank(
        df,
        bucket=F.coalesce(F.floor(F.col("v")), F.lit(-(2**62)).cast("long")),
        order=[F.col("v").desc(), F.col("id").asc()],
        descending=True,
        rn="rn",
    )
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w).cast("long"))
    assert sorted(map(tuple, got.select("id", "rn").collect())) == sorted(
        map(tuple, want.select("id", "rn").collect())
    )


def test_rfm_segments_keeps_null_metric_users(spark, tmp_path):
    """ev_rfm_segments must NOT drop users whose monetary (all-NULL
    purchase values) or last_purchase (all-NULL ts) is NULL — the exact
    silent-row-drop VERDICT r7 #1 flagged. Scores must match the plain
    ntile-window form (desc = NULLS LAST, same as the DuckDB oracle)."""
    import datetime

    from pyspark.sql import Window

    from wikidatabots_spark.plans.registry import REGISTRY

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for uid in range(1, 7):  # six normal purchasers
        for j in range(uid):
            eid += 1
            rows.append(
                (eid, t0 + datetime.timedelta(days=uid, hours=j), uid,
                 "purchase", float(uid * 10 + j), None)
            )
    rows.append((991, t0, 98, "purchase", None, None))  # NULL monetary
    rows.append((992, None, 99, "purchase", 3.5, None))  # NULL recency
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = REGISTRY["ev_rfm_segments"].fn(spark, str(tmp_path))
    assert got.count() == 8  # nobody dropped

    base = (
        ev.where((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_purchase"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("value").cast("decimal(14,4)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    want = base.select(
        "user_id",
        F.ntile(3)
        .over(Window.orderBy(F.col("last_purchase").desc(), F.col("user_id")))
        .alias("r_score"),
        F.ntile(3)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("user_id")))
        .alias("f_score"),
        F.ntile(3)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("user_id")))
        .alias("m_score"),
    )
    got_t = sorted(
        map(tuple, got.select("user_id", "r_score", "f_score", "m_score").collect())
    )
    want_t = sorted(map(tuple, want.collect()))
    assert got_t == want_t


def test_seated_bucketed_query_join_has_no_exchange(spark, sf_dir):
    """Plan pin for the driver-checked join_bucketed_colocated query:
    rebuild its exact join (same tables, bucket count, merge hint) and
    assert the JOIN subtree is exchange-free — the query's whole point.
    The seated query itself only pins values; this pins the plan."""
    from wikidatabots_spark.functions.scale import decoupled

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, "wdb_bj_lineitem", ["l_orderkey"], num_buckets=8)
    write_bucketed(o, "wdb_bj_orders", ["o_orderkey"], num_buckets=8)
    j = bucketed(spark, "wdb_bj_lineitem").hint("merge").join(
        bucketed(spark, "wdb_bj_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    assert j.count() > 0
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_write_bucketed_overwrites_stale_cross_session_location(spark):
    """write_bucketed must survive a managed-table location left behind
    by a PREVIOUS JVM (present on disk, absent from this session's
    in-memory catalog) — the repeated-invocation path of the seated
    query across driver/check_oracle/bench processes."""
    import os

    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # simulate the cross-session state: location on disk, no catalog row
    # (DROP TABLE would also remove the location, so plant the orphan
    # dir directly — exactly what a dead JVM leaves behind)
    spark.sql("DROP TABLE IF EXISTS wdb_stale_loc_t")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, "wdb_stale_loc_t")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "orphan.parquet"), "w") as fh:
        fh.write("stale")
    write_bucketed(df, "wdb_stale_loc_t", ["k"], num_buckets=2)
    assert bucketed(spark, "wdb_stale_loc_t").count() == 10
    spark.sql("DROP TABLE IF EXISTS wdb_stale_loc_t")


def test_incremental_delta_legs_are_broadcast_and_shuffle_free(spark, sf_dir):
    """Plan pin for join_incremental_delta's maintenance legs: each of
    the three delta legs must be a BroadcastHashJoin with the delta on
    the build side and ZERO shuffle exchange — the per-increment cost
    the decomposition exists to bound. (The seated query pins values
    via its oracle; this pins the leg plans.)"""
    split = F.lit("2001-01-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    a_old = o.filter(F.col("o_orderdate") < split).drop("o_orderdate")
    a_new = o.filter(F.col("o_orderdate") >= split).drop("o_orderdate")
    b_old = li.filter(F.col("l_shipdate") < split).drop("l_shipdate")
    b_new = li.filter(F.col("l_shipdate") >= split).drop("l_shipdate")
    on = F.col("l_orderkey") == F.col("o_orderkey")
    legs = [
        b_old.join(F.broadcast(a_new), on),
        F.broadcast(b_new).join(a_old, on),
        F.broadcast(b_new).join(a_new, on),
    ]
    for leg in legs:
        assert leg.count() > 0
        plan = leg._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # BroadcastExchange is the legitimate (delta-sized) transfer;
        # any other Exchange is a shuffle the decomposition forbids
        assert "Exchange" not in plan.replace("BroadcastExchange", "BX")
