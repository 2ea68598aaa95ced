"""The one owner of the staged-index lifecycle moves.

The three staged-index families — exact-dedup digests
(operators/digest_index.py), MinHash near-dup (operators/
neardup_index.py) and ANN codes (operators/similarity.py
``ann_index_*``) — guard their non-atomic multi-file mutations and fold
their tombstone ledgers through this module alone.  These moves used to
be re-implemented per family, and three copies of the same crash-window
reasoning is how the ADVICE r12 compact-ordering bug happened once
already (VERDICT r13 #4 asked for this seam).  Three commit primitives:

- **Atomic marker** (:func:`write_marker` / :func:`read_marker` /
  :func:`clear_marker`): a small JSON file recording an in-flight
  mutation's ids, written via tmp + rename so it is never observed
  torn.  While a marker exists every other operation on the index
  refuses; the marker's ids are the recovery entry point.
- **Park-then-swap** (:func:`park_and_swap`): replace a set of
  partition directories with their staged rewrites, parking each
  replaced directory under a sibling until the whole loop lands.  A
  crash at any point leaves every row on disk — before the loop the
  table is untouched; mid-loop a missing partition's old contents sit
  intact under the park (recovery: rename them back) and its rewrite
  under the staging dir.  A partition with no staged rewrite (every
  row removed) parks without replacement.
- **Whole-directory swap** (:func:`swap_directory`): replace an entire
  index/table directory with a fully-staged sibling via two renames; a
  crash between them leaves the complete old directory at ``.old``
  (never half-written) — recovery is renaming it back, and every
  operation refuses that state.  :func:`staged_swap` is the whole
  move around it: stage into the sibling, drop it on failure, swap.

The moves built on them: victim-partition compaction
(:class:`Compaction` — stage the affected partitions minus the ledger
victims under ``.compact``, swap them in through a ``.compact_old``
park, rows removed observed on the write), the crash gates
(:func:`refuse_parked_compact`, :func:`refuse_pending_append`,
:func:`admit_recovery_takedown`), takedown id normalisation
(:func:`ledger_ids`) and the victims' partition-value collect
(:func:`partition_values`).

The local-filesystem implementation below is the default and the only
one this repository ships.  **Object-store contract** for a deployment
on rename-less storage (S3-like — the 100 TB posture): an
implementation must provide the same three primitives with the same
crash guarantees, which maps naturally onto a manifest-committed table
format —

- the marker is a conditional PUT (put-if-absent) of a small object;
  clearing it is a delete;
- park-then-swap and whole-directory swap are both ONE atomic manifest
  commit that re-points the affected partitions (or the table root) at
  the staged files — the park becomes unnecessary because the old
  files simply remain referenced by the previous manifest version
  until vacuumed;
- "refuse while a marker/park exists" becomes "refuse when the latest
  manifest records an in-flight mutation".

Every call site routes through this module, so swapping the
implementation is one seam, not a per-family audit.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from streaming_spark.io import local_frame

APPEND_PENDING = ".append_pending"


def write_marker(path: str, payload: dict) -> None:
    """Atomically write a JSON marker (tmp + rename): observers see the
    complete marker or none — a torn marker would brick an index with
    an unreadable recovery hint."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    os.rename(tmp, path)


def read_marker(path: str) -> dict | None:
    """The marker's payload, or None when no mutation is in flight."""
    if not os.path.isfile(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def clear_marker(path: str) -> None:
    os.remove(path)


def park_and_swap(
    root: str, staged: str, park: str, rel_paths
) -> tuple[int, int]:
    """Swap each ``rel_paths`` entry under ``root`` for its rewrite
    under ``staged``, parking replaced directories under ``park``
    (created here) until the loop completes.  Returns
    ``(n_rewritten, n_removed)`` — removed = parked without a staged
    replacement.  The caller removes ``park`` (FIRST — once every swap
    landed the park is dead weight, and removing it before any ledger
    makes the remaining crash window harmless) and then ``staged``."""
    os.makedirs(park)
    rewritten = removed = 0
    for rel in rel_paths:
        dst = os.path.join(root, rel)
        src = os.path.join(staged, rel)
        park_dst = os.path.join(park, rel)
        os.makedirs(os.path.dirname(park_dst), exist_ok=True)
        if os.path.isdir(dst):
            os.rename(dst, park_dst)
        if os.path.isdir(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            rewritten += 1
        else:
            removed += 1
    return rewritten, removed


def link_tree(src: str, dst: str) -> int:
    """Zero-copy staging of an UNCHANGED sub-table: recreate ``src``'s
    directory tree at ``dst`` with hardlinks to the same immutable
    parquet files (copy fallback for cross-device).  Used when a
    whole-index rebuild (reshard/refresh) leaves one table's layout
    untouched — re-reading and re-writing terabytes that did not change
    is the cost the staged index exists to avoid.  Safe because index
    files are immutable by construction (appends add files, rewrites
    stage new directories); after the swap the old directory's removal
    drops its links and the staged tree keeps the files alive.  On an
    object store this is the manifest commit re-pointing at the same
    objects — i.e. free.  Returns the number of files linked."""
    n = 0
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for name in files:
            s, d = os.path.join(root, name), os.path.join(out, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
            n += 1
    return n


def swap_directory(target: str, staged: str) -> None:
    """Replace ``target`` wholesale with the fully-staged ``staged``
    sibling: park the old directory at ``<target>.old``, rename the
    staging in, drop the park.  A crash between the two renames leaves
    the COMPLETE old directory at ``.old`` (never half-written); the
    owning family's sibling check refuses that state with a rename-back
    recovery hint.  A stale ``.old`` next to a complete ``target``
    (crash after the second rename) is harmless garbage and is swept
    here on the next swap."""
    old = target.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(target):
        os.rename(target, old)
    os.rename(staged, target)
    shutil.rmtree(old, ignore_errors=True)


@contextlib.contextmanager
def staged_swap(target: str, suffix: str):
    """Stage a whole replacement of ``target`` in the sibling
    ``<target><suffix>`` (yielded) and swap it in on success.  A stale
    sibling from an earlier failed attempt is removed first; a failure
    while staging removes the half-written sibling (table-sized, and
    outside the scratch sweep) and re-raises, leaving ``target``
    untouched; a completed stage replaces ``target`` through
    :func:`swap_directory`."""
    staged = target.rstrip("/") + suffix
    shutil.rmtree(staged, ignore_errors=True)
    try:
        yield staged
    except Exception:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    swap_directory(target, staged)


def read_table_or_empty(spark, path: str, schema: str):
    """Read a staged sub-table, or an empty frame with the declared
    schema when it does not exist yet (fresh index / empty ledger / a
    zero-row sink directory parquet cannot infer a schema from).  The
    isdir short-circuit — indexes are local-dir-managed by contract —
    keeps a fresh index's first reads from logging Spark's missing-path
    WARN stack traces into every gate run."""
    if not os.path.isdir(path):
        return local_frame(spark, [], schema)
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return local_frame(spark, [], schema)


def _compact_dirs(index_dir: str, sibling: bool = False) -> tuple[str, str]:
    """``(staging, park)`` of a compaction: inside the index, or beside
    it (``sibling``) for an ANN staged dir, which IS the table."""
    base = index_dir.rstrip("/") if sibling else os.path.join(index_dir, "")
    return base + ".compact", base + ".compact_old"


def partition_values(df: DataFrame, col) -> list:
    """The sorted distinct values of one partition expression over
    ``df`` — the driver-side list a pruned read or a victim-partition
    rewrite filters on.  The distinct runs in Spark, so the collect is
    bounded by the partition count, not by ``df``."""
    return sorted(r[0] for r in df.select(col).distinct().collect())


def refuse_parked_compact(
    index_dir: str, what: str, family: str, sibling: bool = False
) -> None:
    """Refuse an index whose compaction park exists: a compact crashed
    mid-swap, so some partitions sit under the park and are absent from
    the table — serving or extending it would silently drop rows."""
    park = _compact_dirs(index_dir, sibling)[1]
    if os.path.isdir(park):
        raise RuntimeError(
            f"{what}: {park!r} exists — a previous {family}_compact "
            "crashed mid-swap and some partitions are parked there "
            "(absent from the index).  Recover first: move each parked "
            f"directory back under {index_dir!r}, remove the "
            ".compact/.compact_old siblings, then re-run the compact."
        )


def refuse_pending_append(
    index_dir: str, what: str, family: str, why: str
) -> None:
    """Refuse an index whose append marker exists: an append crashed
    mid-landing (``why`` says what that leaves inconsistent)."""
    pending = os.path.join(index_dir, APPEND_PENDING)
    if os.path.isfile(pending):
        raise RuntimeError(
            f"{what}: {pending!r} exists — a previous {family}_append "
            f"crashed mid-landing ({why}).  Recover first: run "
            f"{family}_tombstone with the ids recorded in the marker (it "
            f"clears this marker on completion), then {family}_compact, "
            "then re-ingest the batch under the same ids."
        )


def admit_recovery_takedown(index_dir: str, family: str, ids) -> str | None:
    """The crashed-append gate of a takedown: one covering ALL the ids
    the append marker recorded is the documented recovery (the
    half-landed rows vanish merge-on-read) and proceeds; any other
    refuses, as does every takedown when the batch was too large for
    its ids to be recorded.  Returns the marker path when this takedown
    is the recovery — the caller clears it once its ledger landed."""
    marker = os.path.join(index_dir, APPEND_PENDING)
    pending = read_marker(marker)
    if pending is None:
        return None
    what = f"{family}_tombstone: {marker!r} exists"
    if pending.get("ids") is None:
        raise RuntimeError(
            f"{what} but the crashed batch was too large "
            f"({pending.get('n')} rows) for its ids to be recorded — "
            "recover manually: DELETE the marker file first (this "
            "takedown refuses while it exists), then tombstone the "
            "batch's ids (caller-known), compact, then re-ingest."
        )
    if not set(pending["ids"]) <= set(ids):
        raise RuntimeError(
            f"{what} — a previous {family}_append crashed mid-landing.  "
            "Recover first: re-run the takedown including ALL the ids "
            "recorded in the marker (it clears the marker), then "
            "compact, then re-ingest the batch."
        )
    return marker


def ledger_ids(spark, ids, col: str, dtype: str) -> DataFrame:
    """A takedown's ids — a frame (its ``col`` column, else its first)
    or a driver-side list — as a distinct one-column frame of the
    index's id type.  The cast is load-bearing: partition expressions
    hash the value and xxhash64(int) != xxhash64(bigint), so an uncast
    frame would prune to the wrong partitions silently."""
    if isinstance(ids, DataFrame):
        src = col if col in ids.columns else ids.columns[0]
        return ids.select(F.col(src).cast(dtype).alias(col)).distinct()
    rows = [(i,) for i in ids]
    return local_frame(spark, rows, f"`{col}` {dtype}").distinct()


def _on_session_clone(df: DataFrame) -> DataFrame:
    """``df``'s plan bound to a fresh clone of its session.  An
    Observation registers with its session's ObservationManager, and
    once that exists the session no longer serializes (Spark 4.1), so a
    later task closure that captures the session — a fitted ML model's
    training summary does — fails "Task not serializable".  Observing on
    a clone leaves the caller's session as it was."""
    spark = df.sparkSession
    jdataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    clone = spark._jsparkSession.cloneSession()
    return DataFrame(jdataset.ofRows(clone, df._jdf.logicalPlan()), spark)


class Compaction:
    """One victim-partition compaction of the index at ``root``: stage
    each rewrite with :meth:`rewrite`, land them all with
    :meth:`commit`.  A write that raises removes the staging, leaving
    the table's files untouched and no park behind."""

    def __init__(self, root: str, sibling: bool = False):
        self.root = root
        self.staged, self.park = _compact_dirs(root, sibling)
        self.rel_paths: list[str] = []
        shutil.rmtree(self.staged, ignore_errors=True)

    def rewrite(
        self,
        sub: str,
        rows: DataFrame,
        ledgers,
        part_cols=(),
        rel_paths=(),
        finish=None,
    ) -> tuple[int, int]:
        """Stage ``rows`` minus the victims of every ``(ledger, key
        columns)`` pair (each ledger distinct on its key) at
        ``<staging>/<sub>``, partitioned by ``part_cols`` or as one
        file; ``rel_paths`` are the partition dirs it replaces and
        ``finish`` shapes the survivors.  Returns (rows read, rows
        removed), observed on the write job: each ledger joins as a
        broadcast flag and ONE Observation ABOVE the layout shuffle
        counts before the filter.  Observations below it (either side
        of an anti-join) lose their metrics when every row is removed —
        adaptive execution replaces the empty shuffle stage."""
        marked, gone, flags = rows, F.lit(False), []
        for i, (ledger, on) in enumerate(ledgers):
            flag = f"_folded{i}"
            marked = marked.join(
                F.broadcast(ledger.select(*on).withColumn(flag, F.lit(True))),
                list(on),
                "left",
            )
            gone = gone | F.col(flag).isNotNull()
            flags.append(flag)
        marked = _on_session_clone(
            marked.repartition(*part_cols) if part_cols else marked.coalesce(1)
        )
        seen = Observation()
        kept = marked.observe(
            seen, F.count(F.lit(1)).alias("rows"),
            F.count_if(gone).alias("removed"),
        ).filter(~gone).drop(*flags)
        kept = finish(kept) if finish else kept
        try:
            kept.write.mode("overwrite").partitionBy(*part_cols).parquet(
                os.path.join(self.staged, sub)
            )
        except BaseException:
            shutil.rmtree(self.staged, ignore_errors=True)
            raise
        self.rel_paths += rel_paths
        metrics = seen.get  # only after the write: it blocks until then
        return metrics["rows"], metrics["removed"]

    def commit(self, ledger_dirs=()) -> tuple[int, int]:
        """ONE :func:`park_and_swap` over every staged rewrite, then
        the park removed FIRST and the ``ledger_dirs`` (under the root)
        second: once every swap landed the park is dead weight, and a
        park-less index with its ledgers still present serves correctly
        (merge-on-read excludes the folded rows) and re-compacts
        idempotently.  The reverse order had a window where the
        recovery hint ("move parked directories back") would silently
        resurrect tombstoned rows with the ledgers already gone.
        Returns ``(n_rewritten, n_removed)``."""
        counts = park_and_swap(
            self.root, self.staged, self.park, self.rel_paths
        )
        shutil.rmtree(self.park, ignore_errors=True)
        for name in ledger_dirs:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        shutil.rmtree(self.staged, ignore_errors=True)
        return counts
