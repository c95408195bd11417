"""The worker-side zip-directory cache (``deploy.install_zip_cache``).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task;
without the cache every ``zipimporter`` re-reads its whole archive
directory each time. The pure-Python cases pin the three ways an
archive can look on the next call (unchanged, replaced, deleted); the
Spark case checks that engine workers actually run with the cache.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ocr_module_spark.deploy import install_zip_cache

# 3.13's stock invalidate_caches is already lazy; the cache is not installed
pytestmark = pytest.mark.skipif(sys.version_info >= (3, 13),
                                reason="zipimport re-reads lazily")


@pytest.fixture
def zip_cache(monkeypatch):
    """Install the cache for one test; monkeypatch restores the stock
    ``invalidate_caches`` afterwards. Yields a list that records the
    archive of every ``_read_directory`` call."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads: list = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    install_zip_cache()
    yield reads


def _write_zip(path, modules: dict) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # what build_zip does: a new inode per build


def _register(monkeypatch, archive: str) -> zipimport.zipimporter:
    imp = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, imp)
    return imp


def test_unchanged_archive_is_not_reread(zip_cache, tmp_path, monkeypatch):
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, {"zc_probe_a": "X = 1\n"})
    imp = _register(monkeypatch, archive)
    importlib.invalidate_caches()   # first call after install reads once
    first = imp._files
    zip_cache.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert archive not in zip_cache
    assert imp._files is first and "zc_probe_a.py" in first
    install_zip_cache()             # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches.stat_checked


def test_replaced_archive_is_reread(zip_cache, tmp_path, monkeypatch):
    """A second SparkContext rebuilds the engine zip at the same path via
    os.replace: the new member must become importable."""
    archive = str(tmp_path / "b.zip")
    _write_zip(archive, {"zc_probe_b1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_probe_b1").X == 1
        importlib.invalidate_caches()   # caches the first build's directory
        _write_zip(archive, {"zc_probe_b1": "X = 1\n",
                             "zc_probe_b2": "Y = 2\n"})
        zip_cache.clear()
        importlib.invalidate_caches()
        assert archive in zip_cache
        assert importlib.import_module("zc_probe_b2").Y == 2
    finally:
        sys.modules.pop("zc_probe_b1", None)
        sys.modules.pop("zc_probe_b2", None)


def test_deleted_archive_ends_empty(zip_cache, tmp_path, monkeypatch):
    archive = str(tmp_path / "c.zip")
    _write_zip(archive, {"zc_probe_c": "X = 1\n"})
    imp = _register(monkeypatch, archive)
    importlib.invalidate_caches()
    assert "zc_probe_c.py" in imp._files
    os.remove(archive)
    importlib.invalidate_caches()
    assert imp._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_spark_workers_run_with_the_cache(spark):
    """After an engine job, a probe whose closure references the engine
    (as every engine UDF does) finds the stat-checked method in each of
    its workers, and the per-task ``invalidate_caches()`` is cheap."""
    from ocr_module_spark import pipeline

    pages = spark.createDataFrame(
        [(f"u{i}", f"<html><body><p>doc {i}</p></body></html>".encode())
         for i in range(4)], "url string, html binary")
    assert len(pipeline.extract(pages).collect()) == 4
    engine = pipeline  # unpickling the probe imports the package

    def probe(batches):
        import time
        import pyarrow as pa
        for _ in batches:
            pass
        assert engine is not None
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        importlib.invalidate_caches()   # the task set-up's call
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
        checked = getattr(zipimport.zipimporter.invalidate_caches,
                          "stat_checked", False)
        yield pa.RecordBatch.from_pydict(
            {"checked": [checked], "ms": [ms], "n_zip": [n_zip]})

    rows = (spark.range(0, 4, 1, 4)
            .mapInArrow(probe, "checked boolean, ms double, n_zip long")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r["checked"], r
        assert r["n_zip"] >= 1, r   # pyspark.zip and the engine zip
        assert r["ms"] < 10.0, r
