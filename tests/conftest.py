from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from wikidatabots_spark.session import get_spark  # noqa: E402

pytest_plugins = ["pytester"]

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The one Spark session the suite shares, until its JVM dies. After each
# test the JVM is checked: a test during which it died fails with "JVM
# died", and the next test gets a fresh session instead of a dead
# gateway (one crash costs one test, not the rest of the suite).
_session: list[SparkSession] = []


def _jvm_died(s: SparkSession) -> bool:
    try:
        s.sparkContext._jsc.sc().isStopped()
    except Exception:  # py4j cannot reach the gateway: the JVM is gone
        return True
    return False


def _forget_dead_jvm() -> None:
    """Drop pyspark's handles on the dead gateway, so the next
    ``get_spark()`` launches a new JVM."""
    try:
        SparkContext._gateway.close()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    _session.clear()


@pytest.fixture
def spark() -> SparkSession:
    if not _session:
        _session.append(get_spark(app_name="wikidatabots-spark-tests"))
    return _session[0]


@pytest.hookimpl(wrapper=True)
def pytest_runtest_makereport(item, call):
    rep = yield
    if call.when == "call" and _session and _jvm_died(_session[0]):
        rep.outcome = "failed"
        rep.longrepr = (
            f"JVM died during {item.nodeid}; the next test gets a fresh"
            f" Spark session\n{rep.longrepr or ''}"
        )
        _forget_dead_jvm()
    return rep


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
