"""Session factory: memory and top-k settings that keep one query from
killing the shared JVM, and the call-site capture that stays off."""

from __future__ import annotations

import threading

import pytest
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from wikidatabots_spark import plans
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


def test_jvm_death_fails_one_test_and_the_next_gets_a_fresh_session(
    pytester, monkeypatch
):
    """The conftest hook: a test during which the JVM dies fails with a
    "JVM died" message, and the test after it runs on a new session."""
    from pathlib import Path

    here = Path(__file__).parent
    pytester.makeconftest((here / "conftest.py").read_text())
    pytester.makepyfile(
        test_halt="""
        def test_halts_the_jvm(spark):
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().halt(1)

        def test_runs_after(spark):
            assert spark.range(3).count() == 3
        """
    )
    monkeypatch.setenv("PYTHONPATH", str(here.parent))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "1")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "512m")
    result = pytester.runpytest_subprocess("-p", "no:cacheprovider")
    result.assert_outcomes(failed=1, passed=1)
    result.stdout.fnmatch_lines(["*JVM died during test_halt.py::test_halts_the_jvm*"])


def test_call_site_capture_is_off(spark):
    """PySpark 4 would capture the Python call site of every DataFrame
    and functions call, at several py4j round trips each."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


# The budgets are the counts measured at sf0.001 plus about 10%:
# tmdb_main 801-811 and opencritic_main 495-499 round trips. With the
# call-site capture on and the OpenCritic main as a union of two joins,
# they were 1,911-1,921 and 2,811-2,815.
@pytest.mark.parametrize("name, budget", [("tmdb_main", 900), ("opencritic_main", 550)])
def test_main_frame_build_py4j_budget(spark, sf_dir, monkeypatch, name, budget):
    """Building a reconcile main's frame stays within its py4j budget.
    Only the building thread's round trips count: py4j's finalizer
    thread releases collected JVM objects whenever it gets to them."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    calls = [0]

    def counted(*args, **kwargs):
        calls[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    plans.REGISTRY[name].fn(spark, sf_dir)
    monkeypatch.undo()
    assert calls[0] <= budget, f"{name}: {calls[0]} py4j round trips > {budget}"
