"""Process-scoped scratch space for staged sinks, checkpoints and
staged read inputs.

The contract:

- **Root.**  Every dir lives under ONE per-process root
  (:func:`scratch_root`, prefix ``spark_graft_scratch_``), created
  lazily and removed at interpreter exit.  A process that dies
  uncleanly leaves one prefixed dir to sweep by hand.
- **Cap sweep.**  :func:`scratch_dir` carves a fresh tag dir, first
  removing least-recently-ACTIVE tag dirs while the root exceeds
  ``SPARK_GRAFT_SCRATCH_CAP_BYTES`` (default 8 GiB; a malformed value
  warns once and falls back to the default).  Activity is the
  recursive max-mtime, so a sink writing nested part files reads as
  recent; the dir being handed out is never a victim.
- **Pin.**  ``scratch_dir(tag, pin=True)`` exempts a dir from the sweep
  for the life of the process.  It is for staged READ inputs of a lazy
  DataFrame: reads leave no mtime, so the sweep cannot see that a
  returned frame still needs the files.  Pinned bytes still count
  toward the cap, and a one-time ``ResourceWarning`` fires when they
  alone pass half of it.
- **Unpin.**  :func:`unpin` returns a pinned dir to the sweep pool
  (idempotent; it does not delete).  Stagers report their pinned dirs
  (``exact_nn_topk`` in ``stats_out["staged_dirs"]``) so a caller that
  knows the frame is consumed can release them.
- **Stage.**  :func:`stage` writes a frame once to a pinned dir and
  reads it back — the one place a pinned dir is paired with a parquet
  write.  A mapInPandas output can be neither column-pruned nor shared
  across lineage branches; the staged parquet can be both, and its
  round-trip is bit-exact."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import warnings
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_ROOT: str | None = None

_CAP_ENV = "SPARK_GRAFT_SCRATCH_CAP_BYTES"
_DEFAULT_CAP = 8 << 30  # 8 GiB


def scratch_root() -> str:
    """The per-process scratch root (created lazily, removed atexit)."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


_WARNED_BAD_CAP: set[str] = set()


def _cap() -> int:
    """The sweep cap, parsed defensively: a malformed env value must not
    raise at an arbitrary staging site mid-query (ADVICE r7) — warn once
    PER VALUE (not per scratch_dir call — a long session stages often)
    and fall back to the default."""
    raw = os.environ.get(_CAP_ENV)
    if raw is None:
        return _DEFAULT_CAP
    try:
        return int(raw)
    except ValueError:
        if raw not in _WARNED_BAD_CAP:
            _WARNED_BAD_CAP.add(raw)
            warnings.warn(
                f"{_CAP_ENV}={raw!r} is not an integer — using the "
                f"default cap of {_DEFAULT_CAP} bytes",
                RuntimeWarning,
                stacklevel=3,
            )
        return _DEFAULT_CAP


def _tree_stats(path: str) -> tuple[int, float]:
    """(total size, recursive max-mtime) in ONE walk.  The max-mtime
    spans every nested file plus the directory itself, so a sink
    actively writing part files deep inside reads as recent even though
    the top-level dir's own mtime never moves."""
    total = 0
    try:
        newest = os.path.getmtime(path)
    except OSError:
        newest = 0.0
    for dirpath, _dirnames, filenames in os.walk(path, onerror=lambda e: None):
        for f in filenames:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue  # concurrently removed — fine, it's an estimate
            total += st.st_size
            if st.st_mtime > newest:
                newest = st.st_mtime
    return total, newest


_PINNED: set[str] = set()

# warn once per process when pinned bytes alone pass this fraction of
# the cap — pins are process-lifetime unless released, so a session
# that stages often and never unpins monotonically shrinks the
# sweepable budget (ADVICE r8); the warning names the remedy
_PIN_WARN_FRACTION = 0.5
_WARNED_PIN_PRESSURE = False


def _sweep(root: str, cap: int) -> None:
    """Remove least-recently-ACTIVE top-level tag dirs until the root
    fits ``cap`` (activity = recursive max-mtime, see module docstring).
    Pinned dirs are never victims but their bytes count toward the
    total, so they tighten the budget for sweepable dirs rather than
    hiding from it; when pinned bytes ALONE pass half the cap a
    one-time warning fires (pins are release-or-process-lifetime — a
    caller that never calls :func:`unpin` is starving the sweep)."""
    global _WARNED_PIN_PRESSURE
    try:
        entries = [e for e in os.scandir(root) if e.is_dir(follow_symlinks=False)]
    except OSError:
        return
    if not entries:
        return  # nothing to sweep — skip the recursive walk entirely
    sized = []
    total = 0
    pinned_total = 0
    for e in entries:
        size, newest = _tree_stats(e.path)
        total += size
        if e.path in _PINNED:
            pinned_total += size
        else:
            sized.append((newest, e.path, size))
    if not _WARNED_PIN_PRESSURE and pinned_total > cap * _PIN_WARN_FRACTION:
        _WARNED_PIN_PRESSURE = True
        warnings.warn(
            f"pinned scratch dirs hold {pinned_total} bytes — more than "
            f"{_PIN_WARN_FRACTION:.0%} of the {cap}-byte sweep cap; "
            f"pins are exempt from sweeping until released, so the "
            f"sweepable budget is shrinking — call "
            f"streaming_spark.scratch.unpin(path) once a staged frame "
            f"is known to be consumed (stagers expose their dirs, e.g. "
            f"exact_nn_topk via stats_out['staged_dirs'])",
            ResourceWarning,
            stacklevel=4,
        )
    for _newest, path, size in sorted(sized):
        if total <= cap:
            break
        shutil.rmtree(path, ignore_errors=True)
        total -= size


def scratch_dir(tag: str, pin: bool = False) -> str:
    """A fresh directory under the scratch root — drop-in for
    ``tempfile.mkdtemp(prefix=...)`` with bounded lifetime AND bounded
    in-session size (least-recently-active sweep above the cap; see
    module docstring).  ``pin=True`` exempts the dir from the sweep for
    the life of the process — for metadata-sized staged READ inputs
    whose consumer is a lazy DataFrame with unbounded lifetime (the
    sweep's mtime signal cannot see reads); never pin bulk artifacts,
    and release a pin with :func:`unpin` once the consuming frame is
    known to be fully consumed (ADVICE r8)."""
    root = scratch_root()
    _sweep(root, _cap())
    out = tempfile.mkdtemp(prefix=tag + "_", dir=root)
    if pin:
        _PINNED.add(out)
    return out


def unpin(path: str) -> None:
    """Release a ``scratch_dir(..., pin=True)`` pin: the dir rejoins the
    ordinary least-recently-active sweep pool (it is NOT deleted here —
    it just stops being exempt).  Safe to call on an unpinned or
    already-released path (idempotent).  Callers that stage read inputs
    for a lazy DataFrame should release the pin as soon as the frame is
    known to be consumed (collected, written, or discarded) so a long
    session's pins cannot starve the sweepable budget (ADVICE r8)."""
    _PINNED.discard(path)


def stage(df: DataFrame, tag: str) -> tuple[DataFrame, str]:
    """Write ``df`` once to a fresh pinned scratch dir and read it back
    with the writer's schema (what parquet inference would return, with
    no inference job).  Returns ``(staged frame, dir)``; the caller
    reports the dir so the pin can be released with :func:`unpin` once
    the frame is consumed."""
    d = scratch_dir(tag, pin=True)
    df.write.parquet(d + "/t")
    return df.sparkSession.read.schema(df.schema).parquet(d + "/t"), d
