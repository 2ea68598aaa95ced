"""The engine's Python worker daemon: ``pyspark.daemon``, preloaded.

Spark forks every Python worker from one daemon process
(``spark.python.daemon.module``, set by :func:`streaming_spark.get_spark`).
This module changes two things about that daemon.

**No per-task zip directory re-reads.**  Each task a worker runs starts
with ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``).  Before CPython 3.12 that call makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse
its archive's central directory.  The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (about 1,300 entries) through 16
such importers, so every task re-read that directory 16 times: 175-240
ms of each ``stream``/``pipe_*``/ML task on a 4-vCPU box, and 16 private
copies of the directory in each worker.  On those versions the daemon
first replaces ``zipimporter.invalidate_caches`` with
:func:`_invalidate_caches`, which re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` has changed since it was last read,
or it cannot be stat'ed; all importers of an unchanged archive share its
one parsed directory.

**A preloaded, frozen worker stack.**  ``pyspark.daemon`` imports
``pyspark.worker`` and with it pyspark's serializers, but not pyarrow
or pandas: those are imported lazily by a worker's first Arrow or
pandas task.  Imported there, they are private to each worker.  So
before it runs ``pyspark.daemon.manager()`` the daemon imports
:data:`PRELOAD` (the difference between a worker's ``sys.modules``
after a ``stream``, a ``stream_arrow`` and a ``pipe_tsv`` task and the
daemon's) and calls ``gc.freeze()``, which moves every object allocated
so far to the collector's permanent generation.  A worker's collections
then never write to those objects' headers, so their pages stay shared
copy-on-write with the daemon.  Measured on a 4-vCPU box after one
``mapInArrow`` task: a worker's PSS fell from 60 to 27 MB and its
Private_Dirty from 48 to 14 MB; the daemon grew from 39 to 43 MB PSS.

**Fork safety.**  The preload starts exactly one thread: pyarrow's
bundled jemalloc (its default memory pool, configured with
``background_thread:true``) starts ``jemalloc_bg_thd``.  numpy's
OpenBLAS, imported before by ``pyspark.daemon``, starts none, because
Spark sets ``OMP_NUM_THREADS`` to the task's cores (1) for its Python
workers.  So the daemon forks with 2 OS threads instead of 1.  That is
safe: jemalloc registers ``pthread_atfork`` handlers when it
initialises.  The prefork handler takes every jemalloc mutex, the
background-thread ones included, so the fork cannot catch the
background thread holding one; the child's handler re-initialises them
and resets the background-thread state to disabled.  A forked worker
therefore has no ``jemalloc_bg_thd`` and purges dirty pages inline.
``tests/test_worker_daemon.py`` pins this with 200 short Arrow and
pandas tasks, on a fresh worker per task and on reused workers.

On Python >= 3.12, ``os.fork()`` in a process with more than one thread
emits a ``DeprecationWarning``.  The daemon leaves it to Python's
default filters, which do not show it: the warning is attributed to
``pyspark.daemon``, the caller of ``os.fork()``, not to ``__main__``.
It is not silenced, so a run with DeprecationWarnings turned on still
sees that the daemon forks with a second thread.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

# archive path -> stat stamp of the directory held for it in
# zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches

# what a worker imports for its first Arrow or pandas task beyond what
# pyspark.daemon itself imports (the difference of their sys.modules)
PRELOAD = ("pyarrow", "pandas", "pyarrow.pandas_compat")


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


def preload() -> None:
    """Import the worker stack, then freeze everything allocated so far
    out of the collector's reach, so every forked worker shares it."""
    for name in PRELOAD:
        importlib.import_module(name)
    gc.freeze()


if __name__ == "__main__":
    # PYTHONSAFEPATH (set by session.get_spark) has kept the cwd off this
    # process's sys.path; drop it so the processes a task starts (the
    # external commands of the pipes) see the usual sys.path
    os.environ.pop("PYTHONSAFEPATH", None)
    if sys.version_info < (3, 12):
        install()
    from pyspark.daemon import manager

    preload()
    manager()
