"""Python worker daemon for engine sessions: ``pyspark.daemon`` with a
stat-checked ``zipimporter.invalidate_caches``.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 a
zipimporter answers that by re-reading its archive's whole central
directory, and a Spark worker holds 16 of them: ``pyspark.zip`` and 11
sub-package importers of it, and two each for the py4j zip and
``spark-core_*.jar`` (5,359 entries).  Those re-reads take about 0.2 s of
every task.  Here an archive is re-read only when its ``(st_mtime_ns,
st_size, st_ino)`` differs from the last read, or when its directory is
gone from ``zipimport._zip_directory_cache``; all importers of one archive
share that read.  A zip added or rewritten by ``addPyFile`` has a new path
or a new stat, so it is still re-read; directory finders are untouched.
CPython 3.13 made the call lazy (it only drops the cached directory), so
there the daemon is plain ``pyspark.daemon``.

Selected by ``spark.python.daemon.module`` in ``session.DEFAULT_CONFS``;
Spark runs it as ``python -m gcp_cloudsql_to_bigquery_spark.pyworker
<worker module>``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# the stdlib method: re-reads the archive, refreshing _files and the shared cache
_read_archive = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp of the file its cached directory was read from
_stamps: dict[str, tuple[int, int, int]] = {}


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stat(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == _stamps.get(self.archive) and cached is not None:
        self._files = cached
        return
    _read_archive(self)  # a failed read drops the cached directory: re-read next time
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp every archive on
    the path with one read each (no-op on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Stamp before the daemon forks, so a new worker's first task reads nothing.
    install()
    from pyspark import daemon

    daemon.manager()
