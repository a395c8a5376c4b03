"""The worker import guard: a stat-guarded ``zipimporter.invalidate_caches``
(go_htmldate_spark/workerimport.py), checked in-process on a temporary
zip package and inside a real pandas-UDF worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from go_htmldate_spark import workerimport as W

PKG = "zg_probe_pkg"
OLD = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding a package with a subpackage, imported so that
    three zipimporters (archive root, package, subpackage) sit on it."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/mod.py": "X = 1\n",
    })
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{PKG}.sub.mod")
    importers = [
        v for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter) and k.startswith(path)
    ]
    assert len(importers) == 3
    yield path
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def read_counter(monkeypatch):
    """Counts central-directory reads per archive path."""
    counts: dict[str, int] = {}
    read = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@pytest.fixture
def worker_env(monkeypatch):
    """This process posing as a PySpark worker; the original
    ``invalidate_caches`` and the stamp table come back afterwards."""
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(W, "_stamps", {})


@pytest.mark.skipif(not OLD, reason="Python >= 3.13 reloads zip directories lazily")
def test_guard_reads_an_unchanged_archive_at_most_once(zip_pkg, read_counter, worker_env):
    assert W.install()
    for _ in range(3):
        importlib.invalidate_caches()
    # unguarded, each of the three importers re-reads on every call: 9
    assert read_counter.get(zip_pkg, 0) <= 1


@pytest.mark.skipif(not OLD, reason="Python >= 3.13 reloads zip directories lazily")
def test_guard_rereads_a_rewritten_archive(zip_pkg, read_counter, worker_env):
    assert W.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    before = read_counter.get(zip_pkg, 0)
    _write_zip(zip_pkg, {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/mod.py": "X = 1\n",
        f"{PKG}/sub/added.py": "Y = 2\n",
    })
    importlib.invalidate_caches()
    assert read_counter.get(zip_pkg, 0) > before
    assert importlib.import_module(f"{PKG}.sub.added").Y == 2


def test_guard_is_a_noop_outside_a_worker(monkeypatch):
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    original = zipimport.zipimporter.invalidate_caches
    assert not W.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_guard_is_a_noop_on_python_313(monkeypatch, worker_env):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    original = zipimport.zipimporter.invalidate_caches
    assert not W.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_guard_is_active_in_pandas_udf_workers(spark):
    """SQL Arrow-UDF workers are not the processes RDD probes run in,
    so the check runs inside a pandas_udf that imports the package."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        from go_htmldate_spark import workerimport

        active = zipimport.zipimporter.invalidate_caches is workerimport._invalidate_caches
        importlib.invalidate_caches()  # stamps every archive on sys.path
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([f"{active}:{len(reads)}"] * len(ids))

    got = {r.p for r in spark.range(8).repartition(2).select(probe("id").alias("p")).collect()}
    assert got == ({"True:0"} if OLD else {"False:0"})
