"""Session factory: memory and top-k settings that keep one query from
killing the shared JVM."""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidatabots_spark.session import TOPK_SORT_FALLBACK, default_driver_memory


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_large_k_topk_falls_back_to_sort(spark):
    """A top-k with k = 10^9 over ten rows plans as sort + limit and
    runs; as TakeOrderedAndProject its 2k-slot heap killed the JVM."""
    # explode: a row count the optimizer cannot bound, so it keeps the limit
    df = spark.range(10).selectExpr("explode(array(id)) AS id")
    big = df.orderBy(F.col("id").desc()).limit(10**9)
    assert "TakeOrderedAndProject" not in _plan(big)
    assert [r.id for r in big.collect()] == list(range(9, -1, -1))
    # a guard-sized k (the RDF sink samples 250) keeps the top-k operator
    small = df.orderBy("id").limit(250)
    assert "TakeOrderedAndProject" in _plan(small)
    assert 250 < TOPK_SORT_FALLBACK


def test_default_driver_memory_is_half_ram_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == f"{16000000 // 2048}m"
    meminfo.write_text("MemTotal:      131072000 kB\n")
    assert default_driver_memory(str(meminfo)) == "32768m"
    assert default_driver_memory(str(tmp_path / "missing")) == "32768m"
