"""Spark's Python worker daemon, with stat-guarded zip-archive invalidation.

``session.get_spark`` pins ``spark.python.daemon.module`` to this module, so
Spark starts ``python -m distributed_video_analytics_flink_spark.worker_daemon
pyspark.worker`` instead of ``python -m pyspark.daemon pyspark.worker``. It
installs the guard below and then runs ``pyspark.daemon.manager()``, which
forks the same workers as before. (``spark.python.worker.module`` cannot
carry this: ``pyspark/daemon.py`` honours it only for module names that start
with ``pyspark``.)

Why: every task start runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that files shipped with
``addPyFile`` after a worker started become importable. On CPython 3.11
``zipimporter.invalidate_caches`` re-reads the archive's whole directory, and
it does so for every zip importer in ``sys.path_importer_cache``: 16 reads of
the 3.5 MB ``pyspark.zip`` per task, most of a trivial task's start-up.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since this process last read it. Otherwise the importer takes the
directory already cached for that archive, so an unchanged archive costs one
``stat`` per importer. The stamp is taken before the read, so a rewrite that
races the read is seen on the next call. A missing archive goes through the
stdlib method unchanged.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when this process last read it;
# process-wide, like the zipimport._zip_directory_cache it guards
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    unchanged = stamp is not None and _read_stamps.get(self.archive) == stamp
    if unchanged and files is not None:
        self._files = files
        return
    _read_stamps.pop(self.archive, None)
    _stdlib_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = guarded_invalidate


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    # Read and stamp each archive once here, so forked workers inherit the
    # stamps and even their first task skips the re-read.
    importlib.invalidate_caches()
    manager()
