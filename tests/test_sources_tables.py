"""Table loader tests incl. the URL-scan adapter (S1 over HTTPS)."""

from __future__ import annotations

import functools
import os
import threading
import uuid
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

import pytest

from wikidatabots_spark.sources.tables import load_table, scan_parquet_url


def test_load_table_events_ts_is_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def _jobs_run_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` submits, under a fresh job group."""
    sc = spark.sparkContext
    group = f"load-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "load_table")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_a_file_schema_once(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert _jobs_run_by(spark, lambda: load_table(spark, d, "t"))
    # a repeat load of the unchanged file reuses the scanned schema
    again: list = []
    assert _jobs_run_by(spark, lambda: again.append(load_table(spark, d, "t"))) == []
    assert again[0].columns == ["a"] and again[0].count() == 3
    # rewritten at the same path with another schema: scanned afresh
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.0, 2.0]}), path)
    df = load_table(spark, d, "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert sorted(map(tuple, df.collect())) == [("x", 1.0), ("y", 2.0)]
    # events.ts still branches on the scanned dtype on a cached load
    load_table(spark, sf_dir, "events")
    assert dict(load_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    # a directory-valued table (Spark's own writer) still loads
    spark.range(4).write.parquet(os.path.join(d, "dir.parquet"))
    assert load_table(spark, d, "dir").count() == 4
    assert load_table(spark, d, "dir").count() == 4


def test_scan_parquet_url_local_path(spark, sf_dir):
    df = scan_parquet_url(spark, f"{sf_dir}/nation.parquet")
    assert df.count() == 25


def test_scan_parquet_url_file_scheme(spark, sf_dir):
    df = scan_parquet_url(spark, f"file://{sf_dir}/nation.parquet")
    assert df.count() == 25


def test_scan_parquet_url_http(spark, sf_dir, tmp_path):
    handler = functools.partial(SimpleHTTPRequestHandler, directory=sf_dir)
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/region.parquet"
        df = scan_parquet_url(spark, url, cache_dir=str(tmp_path))
        assert df.count() == 5
        # second scan hits the content-addressed cache (server can die)
        srv.shutdown()
        df2 = scan_parquet_url(spark, url, cache_dir=str(tmp_path))
        assert df2.count() == 5
    finally:
        try:
            srv.shutdown()
        except Exception:
            pass


def test_orc_round_trip_and_pruning(spark, sf_dir, tmp_path):
    """Format breadth: the engine's tables round-trip through ORC
    (Spark's other first-class columnar format) bit-for-bit, and
    predicate/column pushdown reaches the ORC scan just like parquet —
    the properties that make the storage format swappable."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "docs_orc")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )
    pruned = back.where(F.col("doc_id") < 10).select("doc_id", "source")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan(doc_id,10)" in plan, plan
    assert "text" not in plan.split("ReadSchema")[-1]
