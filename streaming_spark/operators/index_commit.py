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

The moves built on them, once for every family (:class:`IndexFamily`
declares what differs per family): the ``_params.json`` file
(refuse-existing at build, atomic write, format/version check on load);
the crash-state refusals — compaction park (:func:`refuse_parked_compact`),
``.takedown_pending`` and ``.append_pending`` markers, the
whole-directory swap window (:func:`refuse_swapped_out`); the ingest
guards — frozen-type gate, tombstone-ledger and "delta ids must be NEW"
refusals, the ``.append_pending`` write with its bounded id record
(:func:`recorded_ids`); the ``pmod(xxhash64(col), n)`` bucket expression
(:func:`bucket_expr`); the doc-tombstone ledger — merge-on-read reader
(:func:`doc_tombs`) and takedown landing (:class:`Takedown`: id
normalisation by :func:`ledger_ids`, the crashed-append gate, the
markers cleared once it lands); the
swap recovery (:func:`recover_swap`); and victim-partition compaction
(:class:`Compaction` — stage the affected partitions minus the ledger
victims under ``.compact``, swap them in through a ``.compact_old``
park, rows removed observed on the write) with the victims'
partition-value collect (:func:`partition_values`).  A family keeps
only what differs: its partition expressions, schemas, stats keys,
error wording and algorithms.

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
TAKEDOWN_PENDING = ".takedown_pending"
PARAMS = "_params.json"
DOC_TOMBSTONES = "doc_tombstones"
# a crash marker records a batch's ids only up to this many: the marker
# stays small, and a larger batch is recovered by hand
MAX_RECORDED_IDS = 100_000


def write_marker(path: str, payload: dict) -> None:
    """Atomically write a JSON marker (tmp + rename): observers see the
    complete marker or none — a torn marker would brick an index with
    an unreadable recovery hint.  The tokenizer and ANN artifact saves
    write through here for the same reason."""
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


def recorded_ids(ids: DataFrame, n: int | None = None) -> list | None:
    """The sorted distinct values of the one-column ``ids`` for a crash
    marker, or None when there are more than :data:`MAX_RECORDED_IDS`.
    ``n`` is the row count of an ``ids`` whose rows are already
    distinct: the bound is then checked without a job, and the collect
    runs only under it; otherwise a distinct collect limited to one
    past the bound decides."""
    if n is None:
        rows = ids.distinct().limit(MAX_RECORDED_IDS + 1).collect()
    elif n <= MAX_RECORDED_IDS:
        rows = ids.collect()
    else:
        return None
    if len(rows) > MAX_RECORDED_IDS:
        return None
    return sorted(r[0] for r in rows)


def bucket_expr(col, n: int):
    """The staged indexes' hash-bucket partition value of ``col``:
    ``pmod(xxhash64(col), n)`` as an int.  It hashes the VALUE, so
    xxhash64(int) != xxhash64(bigint) — the frozen-type gate keeps a
    delta from landing under (and probing) the wrong buckets."""
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


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
    the COMPLETE old directory at ``.old`` (never half-written):
    :func:`refuse_swapped_out` refuses that state and
    :func:`recover_swap` renames it back.  A stale ``.old`` next to a
    complete ``target`` (crash after the second rename) is harmless
    garbage and is swept here on the next swap."""
    old = _parked(target)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(target):
        os.rename(target, old)
    os.rename(staged, target)
    shutil.rmtree(old, ignore_errors=True)


def _parked(target: str) -> str:
    return target.rstrip("/") + ".old"


def _swapped_out(target: str) -> bool:
    """:func:`swap_directory`'s crash window: ``target`` missing, its
    complete old contents parked at ``.old``."""
    return os.path.isdir(_parked(target)) and not os.path.isdir(target)


def refuse_swapped_out(target: str, what: str, op: str) -> None:
    """Refuse ``target`` when ``op`` crashed in its swap window: the
    index would read as absent, and a write would silently start a
    fresh one while the data sits at ``.old``."""
    if _swapped_out(target):
        old = _parked(target)
        raise RuntimeError(
            f"{what}: {target!r} is missing but {old!r} exists — a "
            f"previous {op} crashed between its two renames.  Recover "
            "first: rename the .old directory back to "
            f"{target!r} (it was never half-written), then re-run the "
            f"{op}."
        )


def recover_swap(target: str, suffix: str) -> None:
    """Undo a :func:`staged_swap` of ``target`` a crash left mid-flight,
    for an owner whose resume re-derives the same rewrite: rename a
    swapped-out ``target`` back, drop a stale park and the
    ``<target><suffix>`` staging."""
    if _swapped_out(target):
        os.rename(_parked(target), target)
    shutil.rmtree(_parked(target), ignore_errors=True)
    shutil.rmtree(target.rstrip("/") + suffix, ignore_errors=True)


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


def doc_tombs(spark, index_dir: str, schema: str) -> DataFrame:
    """The doc-tombstone ledger, merge-on-read: its distinct ids (a
    resumed takedown's duplicate landing collapses here), or an empty
    frame of ``schema`` before the first takedown."""
    return read_table_or_empty(
        spark, os.path.join(index_dir, DOC_TOMBSTONES), schema
    ).distinct()


class IndexFamily:
    """One staged-index family as the lifecycle sees it: the ``name``
    its operations carry, the ``noun`` its errors use, its params
    ``fmt`` tag, what a crashed append leaves inconsistent
    (``append_crash``), whether its takedowns bracket their mutations
    with a ``.takedown_pending`` marker, and the operation that
    whole-swaps its directory, if any (``swap_op``)."""

    def __init__(self, name: str, noun: str, fmt: str, append_crash: str,
                 takedown_marker: bool = False, swap_op: str | None = None):
        self.name, self.noun, self.fmt = name, noun, fmt
        self.append_crash = append_crash
        self.takedown_marker, self.swap_op = takedown_marker, swap_op

    def create(self, index_dir: str, **params) -> None:
        """Refuse an existing index, then freeze ``params``."""
        if os.path.isfile(os.path.join(index_dir, PARAMS)):
            raise ValueError(
                f"{self.noun} already exists at {index_dir!r} — append to "
                f"it with {self.name}_append, or choose a fresh directory."
            )
        os.makedirs(index_dir, exist_ok=True)
        self.write_params(
            index_dir, {"format": self.fmt, "version": 1, **params}
        )

    @staticmethod
    def write_params(index_dir: str, params: dict) -> None:
        """Atomic: a crash mid-write leaves no params file.  A torn one
        would refuse the next build and fail every other call."""
        write_marker(os.path.join(index_dir, PARAMS), params)

    def load_params(self, index_dir: str) -> dict:
        path = os.path.join(index_dir, PARAMS)
        p = read_marker(path)
        if p is None:
            raise ValueError(
                f"{index_dir!r} is not a {self.noun} (no {PARAMS}) — "
                f"create one with {self.name}_build first."
            )
        if p.get("format") != self.fmt or p.get("version") != 1:
            raise ValueError(f"unrecognized {self.noun} format at {path!r}")
        return p

    def checked_params(
        self, index_dir: str, what: str, takedown: bool = False
    ) -> dict:
        """The params of an index ``what`` may operate on, after every
        crash-state refusal: the swap window (a family with a
        ``swap_op``), the compaction park and — except for a
        ``takedown``, which is their recovery path and admits them
        itself (:class:`Takedown`) — the takedown and append markers."""
        if self.swap_op:
            refuse_swapped_out(index_dir, what, self.swap_op)
        p = self.load_params(index_dir)
        refuse_parked_compact(index_dir, what, self.name)
        if takedown:
            return p
        marker = os.path.join(index_dir, TAKEDOWN_PENDING)
        if self.takedown_marker and os.path.isfile(marker):
            raise RuntimeError(
                f"{what}: {marker!r} exists — a previous "
                f"{self.name}_tombstone crashed mid-mutation (the index "
                "may be between states).  Recover first: re-run "
                f"{self.name}_tombstone with the ids recorded in the "
                "marker (every step is idempotent); it clears the marker "
                "on completion."
            )
        marker = os.path.join(index_dir, APPEND_PENDING)
        if os.path.isfile(marker):
            raise RuntimeError(
                f"{what}: {marker!r} exists — a previous {self.name}_append "
                f"crashed mid-landing ({self.append_crash}).  Recover "
                f"first: run {self.name}_tombstone with the ids recorded "
                "in the marker (it clears this marker on completion), then "
                f"{self.name}_compact, then re-ingest the batch under the "
                "same ids."
            )
        return p

    def gate_types(self, delta: DataFrame, frozen: dict) -> None:
        """Refuse a delta whose column types drift from the ``frozen``
        ``{column: type}`` params: the partition expressions hash the
        VALUES, so a drifted delta would land under — and probe — the
        wrong partitions silently."""
        for c, t in frozen.items():
            actual = delta.schema[c].dataType.simpleString()
            if actual != t:
                raise ValueError(
                    f"{self.name}_append: column {c!r} is {actual}, index "
                    f"froze {t} — cast the delta (a mixed-type index would "
                    "hash to the wrong partitions)."
                )

    def refuse_known_ids(self, index_dir: str, ids: DataFrame, n: int,
                         table: str, schema: str, bucket: str,
                         n_buckets: int, harm: str) -> None:
        """An append's id refusals, for the one-column ``ids`` of an
        ``n``-row delta.  Ids still in the tombstone ledger: landing
        them before the recovery's compact would land rows merge-on-read
        hides and the compact then removes (the ledger is small by
        contract: one broadcast semi-join).  Ids already in ``table``:
        delta ids must be NEW — an at-least-once replay would
        double-land (``harm``).  That probe reads the table's id column
        pruned to the ids' ``bucket`` partitions."""
        spark, col = ids.sparkSession, ids.columns[0]
        tombs = doc_tombs(
            spark, index_dir, f"{col} {ids.schema[0].dataType.simpleString()}"
        )
        if not ids.join(F.broadcast(tombs), col, "left_semi").isEmpty():
            raise ValueError(
                f"{self.name}_append: the delta contains ids that are still "
                f"in the tombstone ledger — run {self.name}_compact first "
                "(re-ingesting before the fold would land rows the compact "
                "then removes)."
            )
        parts = partition_values(ids, bucket_expr(F.col(col), n_buckets))
        mb = F.broadcast if n <= 50_000 else (lambda df: df)
        if not (
            read_table_or_empty(spark, os.path.join(index_dir, table), schema)
            .filter(F.col(bucket).isin(parts))
            .select(col)
            .join(mb(ids), col, "left_semi")
            .isEmpty()
        ):
            raise ValueError(
                f"{self.name}_append: the delta contains ids that are "
                "already indexed — delta ids must be NEW (a replayed batch "
                f"would {harm}); an upsert is {self.name}_tombstone + "
                "compact + re-append under the same ids."
            )

    @staticmethod
    def begin_append(index_dir: str, ids: DataFrame, n: int,
                     n_ids: int | None = None) -> str:
        """Write the append-pending marker ahead of a landing that is
        not atomic, recording the batch's ``ids`` (see
        :func:`recorded_ids`) and row count ``n``; returns its path, to
        clear once the landing completes."""
        marker = os.path.join(index_dir, APPEND_PENDING)
        write_marker(marker, {"ids": recorded_ids(ids, n_ids), "n": n})
        return marker


class Takedown:
    """One takedown of a ``family`` index: its ids as a checkpointed
    ledger frame (``tomb``) and a sorted list (``ids``, ledger-small by
    contract).  It passes a crashed append's marker only as that
    append's recovery, and the
    family's ``.takedown_pending`` marker only as its same-ids resume.
    Call :meth:`begin` before the first mutation, :meth:`land` last."""

    def __init__(self, family: IndexFamily, spark, index_dir: str, ids,
                 col: str, dtype: str):
        self.index_dir = index_dir
        self.tomb = ledger_ids(spark, ids, col, dtype).localCheckpoint(
            eager=True
        )
        self.ids = sorted(r[0] for r in self.tomb.collect())
        self.recovering = self._admit(family.name)
        self.marker = None
        if family.takedown_marker:
            self.marker = os.path.join(index_dir, TAKEDOWN_PENDING)
            pending = read_marker(self.marker) or {"ids": self.ids}
            if sorted(pending.get("ids", [])) != self.ids:
                raise RuntimeError(
                    f"{family.name}_tombstone: {self.marker!r} records a "
                    "pending takedown of different ids "
                    f"({pending.get('ids', [])[:5]}…) — finish it first by "
                    "re-running with exactly those ids."
                )

    def _admit(self, family: str) -> str | None:
        """The crashed-append gate: a takedown covering ALL the ids the
        append marker recorded is the documented recovery (the
        half-landed rows vanish merge-on-read) and proceeds; any other
        refuses, as does every takedown when the batch was too large
        for its ids to be recorded.  Returns the marker path when this
        takedown is the recovery."""
        marker = os.path.join(self.index_dir, APPEND_PENDING)
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
        if not set(pending["ids"]) <= set(self.ids):
            raise RuntimeError(
                f"{what} — a previous {family}_append crashed mid-landing.  "
                "Recover first: re-run the takedown including ALL the ids "
                "recorded in the marker (it clears the marker), then "
                "compact, then re-ingest the batch."
            )
        return marker

    def begin(self) -> None:
        if self.marker and not os.path.isfile(self.marker):
            write_marker(self.marker, {"ids": self.ids})

    def land(self) -> None:
        """Append the doc ledger (one coalesced file; Spark's committed
        write lands it or not), then clear the takedown's own marker
        and the crashed-append marker it recovers."""
        self.tomb.coalesce(1).write.mode("append").parquet(
            os.path.join(self.index_dir, DOC_TOMBSTONES)
        )
        for marker in (self.marker, self.recovering):
            if marker:
                clear_marker(marker)


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
