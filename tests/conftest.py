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


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture
def crash_at_every_step(monkeypatch, tmp_path):
    """Fault injection over a store rewrite. ``run(proto, rewrite,
    check)`` copies the ``proto`` directory to a fresh ``case`` and runs
    ``rewrite(case)`` with the k-th filesystem mutation of its publish
    (``os.rename``, ``os.symlink``, ``shutil.rmtree``) raising
    ``InjectedCrash``, then ``check(case, k)``; k counts up from 0 until
    a run completes uncrashed. Returns that k: the number of crash
    points the rewrite has."""
    import shutil

    real = {
        (os, "rename"): os.rename,
        (os, "symlink"): os.symlink,
        (shutil, "rmtree"): shutil.rmtree,
    }

    def run(proto, rewrite, check) -> int:
        k = 0
        while True:
            case = tmp_path / f"case{k}"
            shutil.copytree(proto, case, symlinks=True)
            budget = [k]

            def counted(fn):
                def w(*a, **kw):
                    if budget[0] <= 0:
                        raise InjectedCrash(f"injected fault at op budget {k}")
                    budget[0] -= 1
                    return fn(*a, **kw)

                return w

            for (mod, name), fn in real.items():
                monkeypatch.setattr(mod, name, counted(fn))
            crashed = False
            try:
                rewrite(case)
            except InjectedCrash:
                crashed = True
            finally:
                for (mod, name), fn in real.items():
                    monkeypatch.setattr(mod, name, fn)
            check(case, k)
            if not crashed:
                return k
            k += 1

    return run
