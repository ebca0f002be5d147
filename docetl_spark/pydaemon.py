"""PySpark daemon module for local sessions: the stock ``pyspark.daemon``
with zip archives that are re-read only when they change.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Up to Python 3.12 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory at once. ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries) is first on the worker's path and has an importer per
imported package, so a 1-row task spent ≈ 0.2 s in those reads before its
UDF ran.

``install`` makes a zip importer skip the re-read while its archive's
``(st_mtime_ns, st_size)`` equals the one recorded at the archive's last
directory read; every other finder is untouched. A rewritten archive is
re-read, and a new ``sys.path`` entry gets a new importer as before. The
daemon installs it after importing the worker code and before it forks,
so the records cover every archive loaded so far and a fresh worker's
first task already skips.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module
for ``local[...]`` masters only: cluster executors get ``--py-files`` per
task, after their daemon has started, so they keep the stock daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) at its last directory read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate(self: zipimport.zipimporter) -> None:
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _read_stamps.get(self.archive) == stamp:
        # another importer of the archive may have re-read it: share that read
        self._files = files
        return
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and record every archive read
    so far. A no-op from Python 3.13 on, whose stock method only drops the
    cached directory (the next import reads it lazily)."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate
    for archive in list(zipimport._zip_directory_cache):
        _read_stamps[archive] = _stamp(archive)


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
