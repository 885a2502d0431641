"""The engine's worker daemon: a zip archive is re-read by
`importlib.invalidate_caches()` only when it changed on disk."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cloud_native_mapreduce_spark import worker_daemon


@pytest.fixture
def reads(monkeypatch):
    """Counts calls of `zipimport._read_directory`."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _archive(path, **modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def on_path(monkeypatch):
    """Puts an archive on sys.path; forgets its modules afterwards."""
    added = []

    def put(archive):
        monkeypatch.syspath_prepend(archive)
        added.append(archive)

    yield put
    for name, mod in list(sys.modules.items()):
        if any(str(getattr(mod, "__file__", "")).startswith(a)
               for a in added):
            del sys.modules[name]


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    imp = zipimport.zipimporter(_archive(tmp_path / "a.zip", cnms_za="x=1"))
    imp.invalidate_caches()  # first call: reads, records the stat
    reads.clear()
    for _ in range(3):
        imp.invalidate_caches()
    zipimport.zipimporter(imp.archive).invalidate_caches()
    assert reads == []
    assert "cnms_za.py" in imp._files


def test_rewritten_archive_is_reread(tmp_path, reads, on_path):
    path = _archive(tmp_path / "b.zip", cnms_zb1="x = 1")
    on_path(path)
    importlib.invalidate_caches()
    assert importlib.import_module("cnms_zb1").x == 1
    with pytest.raises(ImportError):
        importlib.import_module("cnms_zb2")
    _archive(tmp_path / "b.zip", cnms_zb1="x = 1", cnms_zb2="y = 2")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) >= 1
    assert importlib.import_module("cnms_zb2").y == 2


def test_deleted_archive_falls_back_to_the_original(tmp_path, reads):
    imp = zipimport.zipimporter(_archive(tmp_path / "c.zip", cnms_zc="x=1"))
    imp.invalidate_caches()
    os.remove(imp.archive)
    reads.clear()
    imp.invalidate_caches()
    assert reads == [imp.archive]  # the original tried, and failed
    assert imp._files == {}
    assert imp.archive not in zipimport._zip_directory_cache


def test_reimport_does_not_wrap_twice(tmp_path, reads):
    original = worker_daemon._original
    importlib.reload(worker_daemon)
    assert worker_daemon._original is original
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original
    imp = zipimport.zipimporter(_archive(tmp_path / "d.zip", cnms_zd="x=1"))
    reads.clear()
    imp.invalidate_caches()
    assert reads == [imp.archive]


def test_warm_worker_does_not_reread_pyspark_zip(spark):
    """A task of a warm worker: its second `invalidate_caches` reads no
    archive. Under PySpark's own daemon each call re-reads about 16
    importers' archives, most of them `pyspark.zip`."""
    def task(_):
        import importlib
        import sys
        import zipimport

        real, calls = zipimport._read_directory, []

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(calls)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield first, len(calls) - first, importers

    rdd = spark.sparkContext.parallelize([0], 1)
    rdd.count()  # warm a worker
    (_first, second, importers), = rdd.mapPartitions(task).collect()
    assert importers > 0
    assert second == 0
