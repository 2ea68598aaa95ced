"""The engine's Python worker daemon: ``pyspark.daemon`` plus one fix.

Spark forks every Python worker from one daemon process
(``spark.python.daemon.module``, set by :func:`streaming_spark.get_spark`).
Each task a worker runs starts with ``importlib.invalidate_caches()``
(pyspark ``worker_util.setup_spark_files``).  Before CPython 3.12 that
call makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-parse its archive's central directory.  The workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (about 1,300 entries) through
16 such importers, so every task re-read that directory 16 times:
175-240 ms of each ``stream``/``pipe_*``/ML task on a 4-vCPU box, and 16
private copies of the directory in each worker.

On those versions the daemon first replaces
``zipimporter.invalidate_caches`` with :func:`_invalidate_caches`, which
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)`` has
changed since it was last read, or it cannot be stat'ed; all importers
of an unchanged archive share its one parsed directory.  Then it runs
``pyspark.daemon.manager()``.  It imports nothing outside the standard
library before pyspark does.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> stat stamp of the directory held for it in
# zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipping the re-read of an
    archive unchanged since its directory was last read."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    # stat before the read: an archive rewritten in between is read
    # again next time, because its stamp no longer matches
    _reread(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Guard the re-read, then read each archive already imported from
    once more so that every cached directory has a stamp."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        install()
    from pyspark.daemon import manager

    manager()
