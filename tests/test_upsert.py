"""MERGE-style parquet upsert sink: latest-wins, tombstones, idempotent
re-apply, atomic publish."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from wikidatabots_spark.sinks.upsert import merge_upsert, upsert_parquet

SCHEMA = "id long, val string, version long"


def test_merge_latest_wins_and_tombstones(spark):
    cur = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], SCHEMA
    )
    chg = spark.createDataFrame(
        [(2, "b2", 2, False), (3, "c", 2, True), (4, "d", 1, False)],
        SCHEMA + ", _deleted boolean",
    )
    got = {r["id"]: r["val"] for r in merge_upsert(cur, chg, "id", "version").collect()}
    assert got == {1: "a", 2: "b2", 4: "d"}  # 3 tombstoned


def test_merge_reapply_is_idempotent(spark):
    cur = spark.createDataFrame([(1, "a", 5)], SCHEMA)
    chg = spark.createDataFrame([(1, "a2", 5)], SCHEMA)  # same version
    once = merge_upsert(cur, chg, "id", "version")
    twice = merge_upsert(once, chg, "id", "version")
    assert once.collect() == twice.collect() == [(1, "a2", 5)]


def test_upsert_parquet_roundtrip_and_atomic_dir(spark, tmp_path):
    table = os.path.join(str(tmp_path), "t")
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], SCHEMA)
    upsert_parquet(spark, table, b1, "id", "version")
    assert sorted(
        map(tuple, spark.read.parquet(table).collect())
    ) == [(1, "a", 1), (2, "b", 1)]
    b2 = spark.createDataFrame(
        [(1, "a9", 2, False), (2, "b", 2, True), (5, "e", 1, False)],
        SCHEMA + ", _deleted boolean",
    )
    upsert_parquet(spark, table, b2, "id", "version")
    assert sorted(
        map(tuple, spark.read.parquet(table).collect())
    ) == [(1, "a9", 2), (5, "e", 1)]
    assert not os.path.isdir(table + ".old")  # swap cleaned up


def test_merge_single_shuffle_plan(spark):
    """The merge is one row_number window keyed on the merge key: one
    exchange, no join."""
    cur = spark.createDataFrame([(1, "a", 1)], SCHEMA)
    chg = spark.createDataFrame([(1, "a2", 2)], SCHEMA)
    plan = (
        merge_upsert(cur, chg, "id", "version")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_lm_and_budget_empty_input_safety(spark):
    """Empty-corpus edges for the round-4b operators: no crashes, empty
    outputs with the right schemas."""
    from wikidatabots_spark.operators.lm import with_lm_score

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = with_lm_score(empty)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_bigrams", "lm_score"]
    ref = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert with_lm_score(empty, train_df=ref).count() == 0
    scored = with_lm_score(ref, train_df=empty).collect()[0]
    assert scored["lm_score"] == 0.0  # every transition unseen → backoff


def test_merge_equal_version_ties_are_deterministic(spark):
    """Two change rows with the same key AND version resolve by row-hash
    — arbitrary but stable across re-runs and shuffle orders."""
    cur = spark.createDataFrame([], SCHEMA)
    chg = spark.createDataFrame([(1, "x", 1), (1, "y", 1)], SCHEMA)
    winners = {
        merge_upsert(cur, chg, "id", "version").collect()[0]["val"]
        for _ in range(3)
    }
    assert len(winners) == 1


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    from wikidatabots_spark.sinks.compaction import compact_parquet_dir

    table = os.path.join(str(tmp_path), "many")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(table)
    before = sum(1 for f in os.listdir(table) if f.endswith(".parquet"))
    assert before >= 40
    n = compact_parquet_dir(spark, table, target_bytes=1 << 30)
    assert n == 1
    out = spark.read.parquet(table)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10_000))


def test_compaction_with_order_clusters_file_stats(spark, tmp_path):
    """order_by compaction range-partitions the rewrite: each output
    file covers a disjoint id range (min/max stats become selective)."""
    import pyarrow.parquet as pq

    from wikidatabots_spark.sinks.compaction import compact_parquet_dir

    table = os.path.join(str(tmp_path), "ordered")
    spark.range(0, 20_000).withColumn(
        "k", (F.col("id") * 7919) % 20_000
    ).repartition(16).write.parquet(table)
    compact_parquet_dir(
        spark, table, target_bytes=60_000, order_by=[F.col("k")]
    )
    files = [
        os.path.join(table, f)
        for f in os.listdir(table)
        if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["k"])["k"].to_pylist()
        ranges.append((min(t), max(t)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges per file


def test_publish_retains_previous_version_for_pinned_readers(spark, tmp_path):
    """ADVICE r11: a lazy DataFrame built before a publish must survive
    ONE publish. The read half is `resolve_store` (pin the current
    version dir — a read through the symlink records pointer-relative
    file paths and dies on the next swap regardless of retention); the
    write half is `publish_dir_swap`'s retained-version window (current
    + previous). A pinned reader serves its snapshot across one publish
    and its version dir is swept on the publish after that."""
    from wikidatabots_spark.sinks.compaction import (
        ensure_linked_store,
        publish_dir_swap,
        resolve_store,
    )

    store = os.path.join(str(tmp_path), "store")
    ensure_linked_store(store)

    def publish(vals):
        staged = os.path.join(str(tmp_path), f"staged_{vals[0]}")
        spark.createDataFrame(
            [(v,) for v in vals], "v long"
        ).coalesce(1).write.parquet(staged)
        publish_dir_swap(staged, store)

    publish([1, 2])
    pinned_dir = resolve_store(store)
    pinned = spark.read.parquet(pinned_dir)  # lazy snapshot reader
    publish([3])
    # one publish later: the snapshot still serves, the pointer moved
    assert sorted(r.v for r in pinned.collect()) == [1, 2]
    assert [r.v for r in spark.read.parquet(store).collect()] == [3]
    versions = [
        n for n in os.listdir(str(tmp_path)) if n.startswith("store.v-")
    ]
    assert len(versions) == 2  # current + previous, older swept
    # the publish after that expires the pinned snapshot's version
    publish([4])
    assert not os.path.exists(pinned_dir)
    assert [r.v for r in spark.read.parquet(store).collect()] == [4]


def test_publish_dir_swap_serializes_concurrent_publishers(spark, tmp_path):
    """VERDICT r11 next #3: concurrent publishers are serialized by the
    store's kernel flock — interleaved rename/point/sweep can no longer
    sweep the version another publisher just pointed at. Two threads
    publish five versions each; every intermediate read must succeed and
    the final store must be one thread's last publish, with the
    retention window intact."""
    import threading

    from wikidatabots_spark.sinks.compaction import (
        ensure_linked_store,
        publish_dir_swap,
    )

    store = os.path.join(str(tmp_path), "store")
    ensure_linked_store(store)
    # pre-stage every version so the threads race ONLY the publish
    staged = {}
    for t in range(2):
        for i in range(5):
            p = os.path.join(str(tmp_path), f"staged_{t}_{i}")
            spark.createDataFrame(
                [(t * 100 + i,)], "v long"
            ).coalesce(1).write.parquet(p)
            staged[(t, i)] = p
    errors = []

    def worker(t):
        try:
            for i in range(5):
                publish_dir_swap(staged[(t, i)], store)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    final = [r.v for r in spark.read.parquet(store).collect()]
    assert final in ([4], [104])  # one thread's LAST publish won
    versions = [
        n for n in os.listdir(str(tmp_path)) if n.startswith("store.v-")
    ]
    assert len(versions) == 2


def test_upsert_parquet_crash_at_every_step_keeps_table_readable(
    spark, tmp_path, crash_at_every_step
):
    """Fail an upsert at every filesystem mutation of its publish
    (os.rename, os.symlink, shutil.rmtree): at each crash point the
    table reads back complete, as the table before the upsert or after
    it, and re-running the upsert converges on the merged table. A
    rename-aside publish fails here: between its two renames the table
    path does not exist."""
    proto = tmp_path / "proto"
    proto.mkdir()
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], SCHEMA)
    upsert_parquet(spark, str(proto / "t"), b1, "id", "version")
    b2 = spark.createDataFrame(
        [(1, "a9", 2, False), (2, "b", 2, True), (5, "e", 1, False)],
        SCHEMA + ", _deleted boolean",
    )
    before = [(1, "a", 1), (2, "b", 1)]
    after = [(1, "a9", 2), (5, "e", 1)]

    def rows(table):
        return sorted(map(tuple, spark.read.parquet(table).collect()))

    def upsert(case):
        upsert_parquet(spark, str(case / "t"), b2, "id", "version")

    def check(case, k):
        table = str(case / "t")
        assert rows(table) in (before, after), f"table torn at crash point {k}"
        upsert(case)  # a re-run converges
        assert rows(table) == after

    assert crash_at_every_step(proto, upsert, check) >= 3
