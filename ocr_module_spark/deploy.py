"""Executor-side packaging (the ``spark-submit --py-files`` contract).

UDF closures reference this package by module name; Python workers on
executors must therefore be able to import ``ocr_module_spark``. On a real
cluster the job ships a zip via ``spark-submit --py-files`` (north_rule);
for sessions created without it (driver harnesses, notebooks),
``ensure_pyfiles`` builds the same zip on the fly and registers it with
``SparkContext.addPyFile`` — idempotent per session (a sentinel attr on
the SparkContext guards repeat calls).

Inside an executor's Python worker the package also installs a
stat-checked zip-directory cache (``install_zip_cache``). PySpark's worker
calls ``importlib.invalidate_caches()`` once per task, and on Python
3.10-3.12 that makes every ``zipimporter`` on ``sys.path`` re-read its
whole archive directory -- most of them point into ``pyspark.zip``
(about 1,300 entries), so each task paid about 150 ms of CPU before its
first batch. With the cache an archive is re-read only when its
``(st_ino, st_mtime_ns, st_size)`` changes; a zip that ``build_zip``
republishes through ``os.replace`` gets a new inode and is re-read as
before, and a missing archive still ends with an empty directory. The
package installs it only when imported inside a Spark task, so the
driver's import machinery is never touched.
"""

from __future__ import annotations

import os
import pathlib
import sys
import tempfile
import zipfile
import zipimport

_SENTINEL_ATTR = "_ocr_module_spark_pyfiles"


def build_zip(dest: str | None = None) -> str:
    """Zip the package source tree (stable order, no timestamps in names)."""
    pkg_dir = pathlib.Path(__file__).resolve().parent
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(),
                            f"ocr_module_spark-{os.getuid()}.zip")
    tmp = f"{dest}.{os.getpid()}.tmp"  # per-process tmp: concurrent
    # drivers each build their own then atomically publish via replace
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for path in sorted(pkg_dir.rglob("*.py")):
            zf.write(path, arcname=str(
                pathlib.Path("ocr_module_spark") / path.relative_to(pkg_dir)))
    os.replace(tmp, dest)
    return dest


def ensure_pyfiles(spark) -> None:
    """Make the package importable on executor Python workers."""
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL_ATTR, False):
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SENTINEL_ATTR, True)


def install_zip_cache() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive file changed; idempotent per process. A no-op from
    Python 3.13, whose stock method only drops the cached directory."""
    cls = zipimport.zipimporter
    if (sys.version_info >= (3, 13)
            or getattr(cls.invalidate_caches, "stat_checked", False)):
        return
    reread = cls.invalidate_caches
    seen: dict = {}  # archive path -> (stat key, directory dict)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # missing: the stock ZipImportError path, _files == {}
            reread(self)
            return
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = seen.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        reread(self)  # key taken before the read: a racing change re-reads
        if self._files:
            seen[self.archive] = (key, self._files)

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches
