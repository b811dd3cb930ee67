"""The Python daemon module that ``get_spark`` starts workers from
(``wikidatabots_spark/pyworker/spark_graft_daemon.py``)."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from wikidatabots_spark.session import DAEMON_DIR, DAEMON_MODULE

WRAPS = sys.version_info < (3, 13)


def _load_daemon():
    """A fresh copy of the module (its own read records), not installed."""
    spec = importlib.util.spec_from_file_location(
        "daemon_under_test", os.path.join(DAEMON_DIR, DAEMON_MODULE + ".py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


@pytest.mark.skipif(not WRAPS, reason="Python >= 3.13 re-reads archives lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    mod = _load_daemon()
    # the wrapper is removed again at teardown
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    archive = str(tmp_path / "graft_pkgs.zip")
    files = {
        "graft_zip_pkg/__init__.py": "",
        "graft_zip_pkg/a.py": "VALUE = 1\n",
    }
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    names = ("graft_zip_pkg", "graft_zip_pkg.a", "graft_zip_pkg.b")
    try:
        assert importlib.import_module("graft_zip_pkg.a").VALUE == 1
        # two importers read this archive: its root and the package directory
        importers = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2

        reads: list[str] = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
        )
        assert mod.install()
        assert reads.count(archive) == 1  # install reads once, for both importers

        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {**files, "graft_zip_pkg/b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("graft_zip_pkg.b").VALUE == 2
    finally:
        for name in names:
            sys.modules.pop(name, None)


def test_wrapper_is_not_installed_on_python_313(monkeypatch):
    mod = _load_daemon()
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert mod.install() is False
    assert zipimport.zipimporter.invalidate_caches is original


def test_daemon_module_imports_no_pandas_pyarrow_or_package(tmp_path):
    # the daemon's pages are shared with every worker: preloading pandas
    # or pyarrow there would count them once per process in a summed RSS
    code = (
        f"import sys; import {DAEMON_MODULE}; "
        "print(sorted(m for m in ('pandas', 'pyarrow', 'wikidatabots_spark')"
        " if m in sys.modules))"
    )
    env = dict(os.environ, PYTHONPATH=DAEMON_DIR)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]"


def test_workers_fork_from_the_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    assert conf.get("spark.executorEnv.PYTHONPATH") == DAEMON_DIR

    def probe(batches):
        import gc
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        # the wrapper is defined in the daemon, which runs as __main__
        wrapped = zipimport.zipimporter.invalidate_caches.__module__ == "__main__"
        yield pa.RecordBatch.from_pydict(
            {
                "main": [os.path.basename(sys.modules["__main__"].__file__)],
                "wrapped": [wrapped],
                "frozen": [gc.get_freeze_count() > 0],
            }
        )

    rows = (
        spark.range(8, numPartitions=2)
        .mapInArrow(probe, "main string, wrapped boolean, frozen boolean")
        .collect()
    )
    assert {tuple(r) for r in rows} == {(DAEMON_MODULE + ".py", WRAPS, True)}
