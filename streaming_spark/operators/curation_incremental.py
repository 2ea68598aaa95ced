"""Delta-bound incremental curation tail, as a library composition.

The staged-index trio (exact/line dedup: operators/digest_index.py;
near-dup: operators/neardup_index.py) makes each GLOBAL curation stage
maintainable per ingest batch — but the composition itself (which index
feeds which stage, what lands in which sink, how the end-of-stream fold
turns maintained state into the survivor set) lived in
the old pipeline stress script's incremental arm, unreachable from the
library.  This module is that composition as two calls:

- :func:`curation_ingest_batch` — the per-batch half: quality filters →
  cross-doc line dedup (line-digest index decisions) → exact dedup on
  the cleaned-text digest (second digest index) → near-dup signature
  landing (``neardup_index_append``) → decontamination flags; survivor
  and contaminated ids land in batch-keyed sinks under ``work_dir``.
- :func:`curation_survivors` — the end-of-stream fold: accumulated
  exact-dedup survivors minus near-dup keep-one drops (components over
  the MAINTAINED pair table → min-id per component) minus contaminated.

- :func:`curation_backfill` — the OUT-OF-ORDER path: a late batch is
  ingested and every survivor sink is resynced from the indexes'
  ARGMIN owners views (delta-bound cascade recompute, roll-forward
  crash posture) — afterwards the survivor set is the batch pipeline's
  over the full corpus under ANY arrival order.

Exactness contract (witnessed by the registered
``incremental_curation_maintenance`` query and
tests/test_curation_incremental.py): under ordered ingest (batches
arrive in ascending ``id_col`` ranges — ids assigned at ingest, the
production shape) the final survivor set EXACTLY equals the batch
pipeline run once over the whole corpus — every global stage's
keep-first / keep-min-id window splits exactly at the batch boundary.
An out-of-order batch goes through :func:`curation_backfill`, which
restores the same equality from the owners views.

Scale shape: per-batch cost is DELTA-bound — the digest probes read
only the batch's digest-prefix partitions, the banded join runs
delta-vs-index only, decontamination is per-doc pure — measured flat
(20.8–25.2 s/batch at 200k over 8× corpus growth, sub-linear at 1M;
ROADMAP r12/r13).  The fold is metadata-scale: pair table → components
→ anti-joins, never the corpus text.

Crash posture — the composed story, because the composition has its own
hazard the per-index markers cannot see: the three index appends are
NOT replay-idempotent, so re-running a batch whose appends already
landed would double-land occurrence/band rows and flip every decision
to is_dup (the batch's own digests are now "seen"), silently emptying
its survivor landing.  So:

- a ``.batch_pending`` marker (atomic tmp + rename, recording the
  batch's ids) brackets each ingest; while it exists every further
  ingest refuses the work dir;
- a completed batch id is recorded in ``_meta.json`` AFTER all
  landings, and re-ingesting a batch id ≤ the last completed one is a
  SKIP (stats_out["skipped"]=True) — a foreachBatch replay of a
  committed batch is a no-op, not corruption;
- a crashed batch (marker present) is recovered by
  :func:`curation_recover_batch`: tombstone the marker's ids in all
  three indexes (each index's own crashed-append marker accepts exactly
  this takedown and clears itself), compact them, drop the batch's sink
  partitions, clear the marker — then re-ingest the batch.  Recovery is
  exact for the same reason each index's is.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_spark.operators.index_commit import (
    APPEND_PENDING,
    PARAMS,
    TAKEDOWN_PENDING,
    clear_marker,
    partition_values,
    read_marker,
    read_table_or_empty,
    recorded_ids,
    write_marker,
)
from streaming_spark.operators.digest_index import (
    DIGEST_INDEX,
    digest_index_append,
    digest_index_build,
)
from streaming_spark.operators.neardup_index import (
    neardup_index_append,
    neardup_index_build,
    neardup_index_pairs,
)
from streaming_spark.operators.text import (
    apply_line_removals,
    c4_quality,
    gopher_quality,
    line_digests,
)

_LINES, _HASHES, _ND = "lines_idx", "hashes_idx", "nd_idx"
_EXACT_SINK, _CONTAM_SINK = "exact_ids", "contam_ids"
_META, _PENDING = "_meta.json", ".batch_pending"


def _last_batch_id(work_dir: str) -> int:
    meta = read_marker(os.path.join(work_dir, _META)) or {}
    return int(meta.get("last_batch_id", -1))


def _built(idx: str) -> bool:
    return os.path.isfile(os.path.join(idx, PARAMS))


def _refuse_pending(work_dir: str, what: str) -> str:
    """Refuse a work dir whose ``.batch_pending`` marker says a batch
    crashed mid-ingest; returns the marker's path."""
    pending = os.path.join(work_dir, _PENDING)
    pb = read_marker(pending)
    if pb is not None:
        raise RuntimeError(
            f"{what}: {pending!r} exists — batch {pb.get('batch_id')} "
            "crashed mid-ingest (its index appends may be partially "
            "landed).  Recover first with curation_recover_batch(spark, "
            "work_dir), then re-ingest."
        )
    return pending


def default_quality_filter(docs: DataFrame, id_col: str = "doc_id", *,
                           text_col: str = "text",
                           min_stop: int = 2) -> DataFrame:
    """The standard per-doc quality gate: Gopher ∧ C4 rule sets (both
    codegen'd scan expressions).  Per-doc pure, so it composes with any
    batching.  ``min_stop=0`` for synthetic corpora without stopwords
    (see gopher_quality).  The rule operators' own contract is
    (doc_id, text), so custom column names normalize in and rename back
    out here.  ``text_col``/``min_stop`` are keyword-only: a positional
    third argument intended as min_stop would otherwise silently become
    the text column."""
    norm = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    keep_g = (
        gopher_quality(norm, min_stop=min_stop)
        .filter("passes")
        .select(F.col("doc_id").alias(id_col))
    )
    keep_c = c4_quality(norm).filter("passes").select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(keep_g, id_col).join(keep_c, id_col)


def _land_ids(ids: DataFrame, batch_id: int, sink: str) -> None:
    """Batch-keyed idempotent landing (the engine's sink discipline —
    same idiom as queries/windows._land_batch): a replayed batch
    overwrites its own partition, never double-appends.  The overwrite
    mode is scoped to THIS writer via .option — mutating the session
    conf would leak dynamic semantics to concurrent writers."""
    ids.withColumn("batch", F.lit(int(batch_id))).repartition(
        1
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch").parquet(sink)


def curation_ingest_batch(
    batch_docs: DataFrame,
    work_dir: str,
    batch_id: int,
    bench_grams: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_filter=default_quality_filter,
    digest_kwargs: dict | None = None,
    neardup_kwargs: dict | None = None,
    stats_out: dict | None = None,
) -> None:
    """Ingest one batch through the delta-bound curation tail (module
    docstring).  ``batch_id`` keys the sink landings (replay-
    idempotent); batches must arrive in ascending ``id_col`` ranges for
    the survivor-set-equals-batch-pipeline contract.  ``bench_grams``
    (from queries.curation.benchmark_grams) enables decontamination;
    ``quality_filter`` is any per-doc-pure gate with the signature
    ``gate(docs, id_col=..., text_col=...) -> DataFrame`` — it is
    always invoked with both keywords (None to skip the stage).
    ``digest_kwargs`` / ``neardup_kwargs`` are
    partition-granularity knobs frozen into the indexes on the first
    batch (data-volume sizing — see the index docstrings).

    ``stats_out`` keys: rows_in, rows_quality, rows_exact,
    contaminated — plus ``skipped=True`` when ``batch_id`` was already
    completed (a replay no-op; see the module docstring's crash
    posture)."""
    from streaming_spark.queries.curation import decontaminate_against

    os.makedirs(work_dir, exist_ok=True)
    pending = _refuse_pending(work_dir, "curation_ingest_batch")
    if batch_id <= _last_batch_id(work_dir):
        # a replay of a COMPLETED batch: the index appends already
        # landed, so re-running them would double-land rows and flip
        # every decision to is_dup — skip instead (exactly-once)
        if stats_out is not None:
            stats_out.update(
                skipped=True, rows_in=0, rows_quality=0, rows_exact=0,
                contaminated=0,
            )
        return

    docs = batch_docs
    n_in = None
    if stats_out is not None:
        n_in = docs.count()
    # the pending marker records the batch's ids (bounded) so the
    # composed recovery can tombstone them from every index
    write_marker(pending, {
        "batch_id": int(batch_id),
        "ids": recorded_ids(batch_docs.select(id_col)),
    })
    filtered = (
        quality_filter(docs, id_col=id_col, text_col=text_col)
        if quality_filter is not None
        else docs
    ).localCheckpoint(eager=True)

    # cross-doc line dedup: the line-digest index's append decisions
    # ARE the removal set (seen in an earlier batch, or not first
    # within this one)
    lines_idx = os.path.join(work_dir, _LINES)
    dig = line_digests(filtered, text_col, id_col)
    dkw = dict(digest_kwargs or {})
    if not _built(lines_idx):
        dec_l = digest_index_build(
            lines_idx, dig, digest_col="h",
            order_cols=(id_col, "line_no"), **dkw,
        )
    else:
        dec_l = digest_index_append(lines_idx, dig)
    removals = dec_l.filter("is_dup").groupBy(id_col).agg(
        F.collect_list("line_no").alias("removed"),
        F.count(F.lit(1)).alias("n_rm"),
    )
    cleaned = apply_line_removals(
        filtered, removals, text_col, id_col
    ).localCheckpoint(eager=True)

    # exact dedup on the cleaned digest: same split of the keep-min-id
    # window
    hashes_idx = os.path.join(work_dir, _HASHES)
    if not _built(hashes_idx):
        dec_e = digest_index_build(
            hashes_idx, cleaned, digest_col="cleaned_hash",
            order_cols=(id_col,), **dkw,
        )
    else:
        dec_e = digest_index_append(hashes_idx, cleaned)
    keep_ids = dec_e.filter("NOT is_dup").select(id_col)
    exact_batch = filtered.join(keep_ids, id_col).localCheckpoint(
        eager=True
    )
    _land_ids(
        exact_batch.select(id_col), batch_id,
        os.path.join(work_dir, _EXACT_SINK),
    )

    # near-dup: the staged index's delta probe (signatures computed
    # once, banded join delta-vs-index + delta-vs-delta only)
    nd_idx = os.path.join(work_dir, _ND)
    if not _built(nd_idx):
        neardup_index_build(
            nd_idx, exact_batch, text_col=text_col, id_col=id_col,
            **(neardup_kwargs or {}),
        )
    else:
        neardup_index_append(nd_idx, exact_batch)

    # decontamination flags are per-doc pure: flag at ingest.
    # decontaminate_against's contract is (doc_id, text, source) —
    # normalize in and rename back out, so the composition works for
    # any id/text column names and sourceless corpora
    n_contam = 0
    if bench_grams is not None:
        corpus = exact_batch.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            (
                F.col("source")
                if "source" in exact_batch.columns
                else F.lit("").alias("source")
            ),
        )
        flags = decontaminate_against(corpus, bench_grams)
        contam = flags.filter("contaminated").select(
            F.col("doc_id").alias(id_col)
        )
        if stats_out is not None:
            # checkpoint only when the landing AND the stats count both
            # consume it — without stats there is a single consumer and
            # the eager materialization would be pure overhead
            contam = contam.localCheckpoint(eager=True)
        _land_ids(
            contam, batch_id, os.path.join(work_dir, _CONTAM_SINK)
        )
        if stats_out is not None:
            n_contam = contam.count()

    # batch complete: record it, then clear the marker — a crash
    # between the two leaves a marker whose batch_id is ≤ the recorded
    # last, which curation_recover_batch recognizes as ALREADY COMPLETE
    # and resolves by dropping the marker alone (tombstoning a
    # completed batch would destroy legitimate rows the skip rule never
    # re-ingests); the reverse order would let a replay re-run a
    # completed batch
    write_marker(
        os.path.join(work_dir, _META), {"last_batch_id": int(batch_id)}
    )
    clear_marker(pending)
    if stats_out is not None:
        stats_out.update(
            skipped=False,
            rows_in=n_in,
            rows_quality=filtered.count(),
            rows_exact=exact_batch.count(),
            contaminated=n_contam,
        )


def curation_recover_batch(spark, work_dir: str,
                           stats_out: dict | None = None) -> None:
    """Recover a crashed :func:`curation_ingest_batch` (its
    ``.batch_pending`` marker exists).  Two cases:

    - the marker's batch_id is ≤ the recorded last completed batch: the
      crash fell between the completion record and the marker removal —
      the batch IS complete, so recovery is dropping the marker (a
      tombstone here would destroy legitimate rows the skip rule never
      re-ingests);
    - otherwise the batch is partial: tombstone the marker's ids in
      every index that exists (an index whose own ``.append_pending``
      marker is set accepts exactly this takedown and clears it; an
      index the batch never reached records zero removals — pinned per
      index), compact each (folding the ledgers so the re-ingest's
      tombstone-conflict gate passes), drop the batch's sink
      partitions, clear the marker.  Then re-ingest the batch under the
      same batch_id.

    ``stats_out`` keys: batch_id, completed (bool)."""
    from streaming_spark.operators.digest_index import (
        digest_index_compact,
        digest_index_tombstone,
    )
    from streaming_spark.operators.neardup_index import (
        neardup_index_compact,
        neardup_index_tombstone,
    )

    pending = os.path.join(work_dir, _PENDING)
    pb = read_marker(pending)
    if pb is None:
        raise ValueError(
            f"curation_recover_batch: no {_PENDING} marker under "
            f"{work_dir!r} — nothing to recover."
        )
    batch_id, ids = int(pb["batch_id"]), pb.get("ids")
    completed = batch_id <= _last_batch_id(work_dir)
    if pb.get("mode") == "backfill" and not completed:
        # a crashed backfill's recovery is ROLL-FORWARD, not rollback:
        # its mid-flight mutations (re-keyed hashes, membership churn)
        # are already part of the owners-derived target state, and
        # tombstoning the late ids would destroy legitimate re-keys of
        # UNRELATED affected docs — re-running the backfill resumes
        # every diff safely (see curation_backfill's crash posture)
        raise RuntimeError(
            f"curation_recover_batch: {pending!r} records a crashed "
            f"BACKFILL (batch {batch_id}) — recovery is re-running "
            "curation_backfill with the same late batch and batch_id "
            "(every step is a resumable diff); rollback would corrupt "
            "the re-keyed state."
        )
    if not completed:
        if ids is None:
            raise RuntimeError(
                f"curation_recover_batch: batch {batch_id} was too "
                "large for its ids to be recorded — recover manually "
                "per the index docstrings (tombstone the batch's ids in "
                "each index, compact, drop the batch's sink partitions, "
                "delete the marker), then re-ingest."
            )
        for sub, tomb, compact in (
            (_LINES, digest_index_tombstone, digest_index_compact),
            (_HASHES, digest_index_tombstone, digest_index_compact),
            (_ND, neardup_index_tombstone, neardup_index_compact),
        ):
            idx = os.path.join(work_dir, sub)
            if _built(idx):
                tomb(spark, idx, ids)
                compact(spark, idx)
        for sink in (_EXACT_SINK, _CONTAM_SINK):
            shutil.rmtree(
                os.path.join(work_dir, sink, f"batch={batch_id}"),
                ignore_errors=True,
            )
    clear_marker(pending)
    if stats_out is not None:
        stats_out.update(batch_id=batch_id, completed=completed)


def _crashed_append_ids(idx: str, expected_ids) -> list | None:
    """The ids a crashed append recorded in ``idx``'s own
    ``.append_pending`` marker (None when there is none) — refused when
    they were not recorded or fall outside ``expected_ids``, the
    containment guard for a FRESH backfill: such a marker is a
    different crashed batch, which curation_recover_batch owns.  A
    RESUME passes None (its own ``.batch_pending`` marker already
    proves no other batch can have been mid-flight, so any sub-marker
    is its own)."""
    marker = os.path.join(idx, APPEND_PENDING)
    pending = read_marker(marker)
    if pending is None:
        return None
    ids = pending.get("ids")
    if ids is None or (
        expected_ids is not None and not set(ids) <= expected_ids
    ):
        raise RuntimeError(
            f"curation_backfill: {marker!r} records a crashed append "
            "outside this backfill's id set — recover it first "
            "(curation_recover_batch for a crashed ordered ingest, "
            "or the index docstring's manual recovery)."
        )
    return ids


def _heal_digest_index(spark, idx: str, expected_ids) -> None:
    """Automated per-index recovery ahead of a backfill mutation: a
    crashed append from a PREVIOUS backfill attempt leaves the index's
    own ``.append_pending`` marker — the documented recovery (a
    covering takedown, which clears the marker, then a compact) is run
    here so the resume can proceed; any takedown a previous attempt
    issued but did not fold is compacted too (the re-append's
    tombstone-conflict gate requires an empty ledger, and ``_live_occ``
    reads must not exclude ids the resume is about to re-key)."""
    from streaming_spark.operators.digest_index import (
        digest_index_compact,
        digest_index_tombstone,
    )

    ids = _crashed_append_ids(idx, expected_ids)
    if ids is not None:
        digest_index_tombstone(spark, idx, ids)
        digest_index_compact(spark, idx)
    elif os.path.isdir(os.path.join(idx, "doc_tombstones")):
        digest_index_compact(spark, idx)


def _heal_neardup_index(spark, idx: str, expected_ids) -> None:
    """The near-dup analog of :func:`_heal_digest_index`: complete a
    previous attempt's crashed takedown (same-ids resume is idempotent
    and clears the marker), recover a crashed append by the covering
    takedown, then fold the ledgers so re-appends pass the
    tombstone-conflict gate and membership reads see no half-landed
    rows."""
    from streaming_spark.operators.neardup_index import (
        neardup_index_compact,
        neardup_index_tombstone,
    )

    takedown = read_marker(os.path.join(idx, TAKEDOWN_PENDING))
    if takedown is not None:  # same-ids resume
        neardup_index_tombstone(spark, idx, takedown.get("ids", []))
    ids = _crashed_append_ids(idx, expected_ids)
    if ids is not None:
        neardup_index_tombstone(spark, idx, ids)  # covering takedown
    if os.path.isdir(os.path.join(idx, "doc_tombstones")) or os.path.isdir(
        os.path.join(idx, "pair_tombstones")
    ):
        neardup_index_compact(spark, idx)


def curation_backfill(
    spark,
    late_docs: DataFrame,
    work_dir: str,
    batch_id: int,
    corpus: DataFrame,
    bench_grams: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_filter=default_quality_filter,
    stats_out: dict | None = None,
) -> None:
    """Ingest an OUT-OF-ORDER (late) batch and resync every survivor
    sink from the indexes' authoritative views — the operator form of
    the recovery the module docstring used to describe as manual
    (VERDICT r13 #2).  After it completes, :func:`curation_survivors`
    EXACTLY equals the batch pipeline run once over the full corpus
    including the late docs, under ANY arrival order — the
    ordered-ingest contract becomes a fast path, not a correctness
    requirement, and the ``digest_index_append`` decisions-vs-owners
    sharp edge is absorbed (decisions are never consulted here; the
    ARGMIN owners views are).

    Why a late batch cannot ride :func:`curation_ingest_batch`: a late
    doc with a SMALLER id can steal line/exact-dedup ownership from
    already-ingested docs — the ingest-time keep-first decisions for
    those docs are stale, and a stolen line changes the victim's
    cleaned text, hence its cleaned-text digest, hence the exact-dedup
    window it competes in (the cascade).  The resync recomputes exactly
    the cascade's footprint:

    1. the late docs' line digests land in the line index (occurrence
       storage is order-independent);
    2. AFFECTED docs = docs sharing >=1 line digest with the late batch
       (a pb-pruned, delta-bound probe) — their removal sets are
       recomputed from the line index's ARGMIN owners and their cleaned
       hashes re-derived from ``corpus`` text (``apply_line_removals``,
       delta-bound: only affected docs' text is touched);
    3. affected docs whose stored cleaned-hash differs are re-keyed in
       the exact-dedup index (tombstone -> compact -> re-append);
    4. the keep set is re-derived from the exact index's owners view
       (min doc_id per cleaned digest — the batch window under any
       order) and the near-dup index membership is reconciled against
       it: dropped keepers are taken down (the index re-admits their
       buckets' survivor pairs), new keepers are appended (their
       signatures are functions of ORIGINAL text, so existing members
       never need re-signing), and new keepers are decontamination-
       flagged;
    5. the exact-id sink is rewritten wholesale from the keep set
       (batch provenance collapses into this backfill's partition —
       ids only, metadata-scale).

    ``corpus`` must contain (id, text) for every doc handed to previous
    ingests (a superset is fine — it is only read semi-joined to the
    delta-bound affected/churn sets); ``quality_filter`` must be the
    same gate previous ingests used (it gates the late docs here).

    Crash posture: ROLL-FORWARD.  The ``.batch_pending`` marker (mode
    "backfill") brackets the whole resync; every step is a diff toward
    the deterministic owners-derived target state, so re-running the
    backfill with the same arguments resumes safely from any crash
    point — including a crashed sub-append, which the heal step
    recovers via that index's own documented takedown recovery.
    ``curation_recover_batch`` on a backfill marker therefore refuses
    with a re-run instruction instead of tombstoning (partial forward
    state must not be rolled back: step 3's re-keys are already part of
    the target).  A replay of a COMPLETED backfill (batch_id <= the
    recorded last) is a skip, exactly like ordered ingest.

    Cost shape: text-touching work is delta-bound (late docs + affected
    docs + membership churn); the owners/keep-set derivation is one
    aggregation over the exact index's DIGEST rows (~0.1% of corpus
    bytes, never text) and the sink rewrite is id-sized — the
    metadata-scale price of an exceptional-path resync, vs the ordered
    fast path that touches neither.  Churn sets are ledger-small by
    contract (the same bound as the index markers).  Measured
    (scripts/scale.py --family pipeline --case backfill, a 1k late
    batch whose docs all
    steal ownership — 2000 affected, 1991 re-keys, 992+992 near-dup
    churn, survivor sets identical to the batch pipeline at every N):
    78/69/174 s at N=20k/100k/500k vs 35/65/142 s for the batch
    recompute.  Honest framing, same as the digest index's: the resync
    does NOT win local wall seconds at these fixture densities (its
    metadata passes are job-overhead-heavy, and the exact-index re-key
    pays a victim-bucket compact that is index-footprint-bound) — what
    it wins is corpus TEXT BYTES (it read ~3k docs of text at
    N=500k where the recompute re-reads and re-signs all 500k), which
    is the axis that dominates at deployment scale, plus the ordered
    fast path staying delta-bound for every non-late batch.

    ``stats_out`` keys: late_rows, late_gated, affected_docs,
    rekeyed_hashes, nd_removed, nd_added, keep_size, contaminated_new,
    plus ``skipped=True`` on a completed-backfill replay."""
    from streaming_spark.operators import digest_index as DI
    from streaming_spark.operators.digest_index import (
        digest_index_append,
        digest_index_compact,
        digest_index_owners,
        digest_index_tombstone,
    )
    from streaming_spark.operators.neardup_index import (
        neardup_index_append,
        neardup_index_members,
        neardup_index_tombstone,
    )
    from streaming_spark.operators.text import (
        apply_line_removals,
        line_digests,
    )
    from streaming_spark.queries.curation import decontaminate_against

    lines_idx = os.path.join(work_dir, _LINES)
    hashes_idx = os.path.join(work_dir, _HASHES)
    nd_idx = os.path.join(work_dir, _ND)
    if not _built(hashes_idx):
        raise ValueError(
            f"curation_backfill: no batches ingested under {work_dir!r} "
            "— a first batch is an ordered ingest (curation_ingest_batch)."
        )
    if batch_id <= _last_batch_id(work_dir):
        if stats_out is not None:
            stats_out.update(skipped=True)
        return

    # gate the late docs with the same per-doc-pure gate previous
    # ingests used, then freeze the batch id set (the marker's content
    # and every diff below derive from it)
    late = (
        quality_filter(late_docs, id_col=id_col, text_col=text_col)
        if quality_filter is not None
        else late_docs
    ).select(id_col, text_col).localCheckpoint(eager=True)
    late_ids = recorded_ids(late.select(id_col))
    if late_ids is None:
        raise ValueError(
            "curation_backfill: the late batch exceeds the 100k-id "
            "marker bound — split it into smaller backfills."
        )
    late_id_set = set(late_ids)

    pending = os.path.join(work_dir, _PENDING)
    resuming = False
    pb = read_marker(pending)
    if pb is not None:
        if (
            pb.get("mode") == "backfill"
            and int(pb.get("batch_id", -1)) == int(batch_id)
            and set(pb.get("ids") or []) == late_id_set
        ):
            resuming = True  # roll forward from wherever the crash fell
        else:
            raise RuntimeError(
                f"curation_backfill: {pending!r} exists for a different "
                f"batch ({pb.get('batch_id')}, mode "
                f"{pb.get('mode', 'ingest')!r}) — recover it first with "
                "curation_recover_batch (or re-run that backfill)."
            )

    # fresh backfill: late ids must be NEW corpus-wide (all-present
    # means a replayed/duplicated id set; the completed-replay skip is
    # handled via _meta above, so presence without our marker is a
    # caller error)
    late_ids_df = late.select(id_col).distinct().localCheckpoint(eager=True)
    if not resuming:
        lp = DIGEST_INDEX.load_params(lines_idx)
        present = (
            read_table_or_empty(
                spark, os.path.join(lines_idx, "occ"), DI._occ_schema(lp)
            )
            .select(id_col)
            .join(F.broadcast(late_ids_df), id_col, "left_semi")
        )
        if not present.isEmpty():
            raise ValueError(
                "curation_backfill: the late batch contains ids already "
                "ingested under this work dir — ids are unique "
                "corpus-wide; a correction is takedown + backfill under "
                "fresh ids."
            )
        write_marker(
            pending,
            {"batch_id": int(batch_id), "mode": "backfill", "ids": late_ids},
        )

    # ---- step 1: land the late docs' line digests (order-independent
    # occurrence storage).  On a resume the rows are all-present (each
    # append is atomic-or-marker by the index's own contract) — heal
    # any crashed sub-append first, then diff presence.
    _heal_digest_index(spark, lines_idx, None if resuming else late_id_set)
    lp = DIGEST_INDEX.load_params(lines_idx)
    dig_late = line_digests(late, text_col, id_col).localCheckpoint(
        eager=True
    )
    n_present = (
        read_table_or_empty(
            spark, os.path.join(lines_idx, "occ"), DI._occ_schema(lp)
        )
        .select(id_col)
        .join(F.broadcast(late_ids_df), id_col, "left_semi")
        .select(id_col)
        .distinct()
        .count()
    )
    if n_present == 0:
        digest_index_append(lines_idx, dig_late)  # decisions unused
    elif n_present != len(late_id_set):
        raise RuntimeError(
            "curation_backfill: the line index holds a strict subset of "
            "the late batch's ids — an append landed partially without "
            "its marker, which the index contract excludes; recover the "
            "line index manually before re-running."
        )

    # ---- step 2: the cascade footprint — docs sharing a line digest
    # with the late batch (pb-pruned probe), their removal sets from
    # the line index's ARGMIN owners, their cleaned hashes re-derived
    late_digests = dig_late.select("h").distinct()
    pbs = partition_values(
        late_digests, DI._pb_expr(F.col("h"), lp["n_prefixes"])
    )
    affected_ids = (
        DI._live_occ(spark, lines_idx, lp, pbs=pbs)
        .join(F.broadcast(late_digests), "h", "left_semi")
        .select(id_col)
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_affected = affected_ids.count()

    aff_occ = (
        DI._live_occ(spark, lines_idx, lp)
        .join(F.broadcast(affected_ids), id_col, "left_semi")
        .select("h", id_col, "line_no")
        .localCheckpoint(eager=True)
    )
    aff_digests = aff_occ.select("h").distinct()
    dig_pbs = partition_values(
        aff_digests, DI._pb_expr(F.col("h"), lp["n_prefixes"])
    )
    owners = (
        DI._live_occ(spark, lines_idx, lp, pbs=dig_pbs)
        .join(F.broadcast(aff_digests), "h", "left_semi")
        .groupBy("h")
        .agg(F.min(F.struct(id_col, "line_no")).alias("_o"))
        .select(
            "h",
            F.col(f"_o.{id_col}").alias("_oid"),
            F.col("_o.line_no").alias("_oline"),
        )
    )
    removals = (
        aff_occ.join(owners, "h")
        .filter(
            (F.col(id_col) != F.col("_oid"))
            | (F.col("line_no") != F.col("_oline"))
        )
        .groupBy(id_col)
        .agg(
            F.collect_list("line_no").alias("removed"),
            F.count(F.lit(1)).alias("n_rm"),
        )
    )
    texts = (
        late.select(id_col, text_col)
        .unionByName(corpus.select(id_col, text_col))
        .dropDuplicates([id_col])
        .join(F.broadcast(affected_ids), id_col, "left_semi")
    )
    new_hash = apply_line_removals(
        texts, removals, text_col, id_col
    ).localCheckpoint(eager=True)
    if new_hash.count() != n_affected:
        # a silent gap here would leave a stale hash in the index, so
        # the coverage contract is checked, not trusted
        raise ValueError(
            "curation_backfill: some affected docs have no text in "
            "`corpus` — it must cover every previously ingested doc."
        )

    # ---- step 3: re-key the exact-dedup index where the cleaned hash
    # changed (or is not yet indexed — the late docs themselves).  Heal
    # BEFORE the stored-hash read: a previous attempt's crashed append
    # or unfolded tombstone would make `stored` lie (half-landed rows,
    # ledger-hidden victims).  A previous attempt's fix set was a
    # subset of late ∪ affected — both deterministic — so a fresh
    # backfill can still containment-check it.
    aff_set = {r[0] for r in affected_ids.collect()}  # ledger-small
    _heal_digest_index(
        spark, hashes_idx, None if resuming else (late_id_set | aff_set)
    )
    hp = DIGEST_INDEX.load_params(hashes_idx)
    stored = (
        DI._live_occ(spark, hashes_idx, hp)
        .join(F.broadcast(affected_ids), id_col, "left_semi")
        .select(F.col("cleaned_hash").alias("_stored"), id_col)
        .localCheckpoint(eager=True)
    )
    to_fix = (
        new_hash.join(stored, id_col, "left")
        .filter(
            F.col("_stored").isNull()
            | (F.col("_stored") != F.col("cleaned_hash"))
        )
        .select(id_col, "cleaned_hash")
        .localCheckpoint(eager=True)
    )
    n_fix = to_fix.count()
    if n_fix:
        rekey_victims = to_fix.join(
            stored.select(id_col), id_col, "left_semi"
        )
        if not rekey_victims.isEmpty():
            digest_index_tombstone(spark, hashes_idx, rekey_victims)
            digest_index_compact(spark, hashes_idx)
        digest_index_append(hashes_idx, to_fix)  # decisions unused

    # ---- step 4: keep set from the owners view (the batch window
    # under any order), then reconcile near-dup membership against it
    new_keep = (
        digest_index_owners(spark, hashes_idx)
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    _heal_neardup_index(spark, nd_idx, None if resuming else late_id_set)
    members = neardup_index_members(spark, nd_idx).select(
        F.col("id").alias(id_col)
    )
    to_remove = members.join(
        new_keep, id_col, "left_anti"
    ).localCheckpoint(eager=True)
    n_remove = to_remove.count()
    to_add_ids = new_keep.join(members, id_col, "left_anti").localCheckpoint(
        eager=True
    )
    n_add = to_add_ids.count()
    to_add = (
        late.select(id_col, text_col)
        .unionByName(corpus.select(id_col, text_col))
        .dropDuplicates([id_col])
        .join(F.broadcast(to_add_ids), id_col, "left_semi")
        .localCheckpoint(eager=True)
    )
    if to_add.count() != n_add:
        raise ValueError(
            "curation_backfill: some newly-promoted keepers have no "
            "text in `corpus` — it must cover every previously "
            "ingested doc."
        )

    # decontamination flags for the new keepers land BEFORE the nd
    # append: both consume to_add, and the flag landing is idempotent
    # (batch-keyed overwrite) while the append is diff-guarded — this
    # order leaves no crash point where a keeper is a member but was
    # never flagged
    n_contam = 0
    if bench_grams is not None and n_add:
        flags = decontaminate_against(
            to_add.select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col).alias("text"),
                (
                    F.col("source")
                    if "source" in to_add.columns
                    else F.lit("").alias("source")
                ),
            ),
            bench_grams,
        )
        contam = (
            flags.filter("contaminated")
            .select(F.col("doc_id").alias(id_col))
            .localCheckpoint(eager=True)
        )
        n_contam = contam.count()
        _land_ids(contam, batch_id, os.path.join(work_dir, _CONTAM_SINK))
    if n_remove:
        neardup_index_tombstone(spark, nd_idx, to_remove)
    if n_add:
        from streaming_spark.operators.neardup_index import (
            neardup_index_compact,
        )

        if os.path.isdir(os.path.join(nd_idx, "doc_tombstones")):
            neardup_index_compact(spark, nd_idx)  # ledger gate
        neardup_index_append(nd_idx, to_add)

    # ---- step 5: rewrite the exact-id sink wholesale from the keep
    # set (batch provenance collapses into this partition — documented)
    exact_sink = os.path.join(work_dir, _EXACT_SINK)
    shutil.rmtree(exact_sink, ignore_errors=True)
    _land_ids(new_keep, batch_id, exact_sink)

    write_marker(
        os.path.join(work_dir, _META), {"last_batch_id": int(batch_id)}
    )
    clear_marker(pending)
    if stats_out is not None:
        stats_out.update(
            skipped=False,
            late_rows=late_docs.count(),
            late_gated=len(late_id_set),
            affected_docs=n_affected,
            rekeyed_hashes=n_fix,
            nd_removed=n_remove,
            nd_added=n_add,
            keep_size=new_keep.count(),
            contaminated_new=n_contam,
        )


def curation_survivors(spark, work_dir: str) -> DataFrame:
    """The end-of-stream fold: accumulated exact-dedup survivors minus
    near-dup keep-one drops (connected components over the MAINTAINED
    pair table → keep the min id per component) minus contaminated ids.
    Metadata-scale — reads the id sinks and the pair table, never the
    corpus.  Returns one ``id_col`` column; under ordered ingest the
    set EXACTLY equals the batch pipeline's (the registered
    ``incremental_curation_maintenance`` witness)."""
    from streaming_spark.operators.dedup import dedup_keep_one

    # a crashed mid-ingest work dir must refuse loudly, not fold a
    # partial state into a silently smaller survivor set (the or-empty
    # sink guard below would otherwise mask exactly that)
    _refuse_pending(work_dir, "curation_survivors")

    # an empty work dir would otherwise surface digest_index's internal
    # "not a digest index" error, misdirecting the caller toward
    # digest_index_build when the fix is ingesting a batch (ADVICE r13)
    hashes_idx = os.path.join(work_dir, _HASHES)
    if not _built(hashes_idx):
        raise ValueError(
            f"curation_survivors: no batches ingested under {work_dir!r} "
            "— run curation_ingest_batch first."
        )
    p = DIGEST_INDEX.load_params(hashes_idx)
    id_col, id_type = p["order_cols"][0], p["order_types"][0]

    def sink_ids(name: str) -> DataFrame:
        # a sink whose every batch landed zero rows is a DIRECTORY with
        # no files, which parquet cannot infer a schema from: the READ
        # goes through the or-empty guard, the column selection stays
        # outside it so schema drift surfaces loudly
        return read_table_or_empty(
            spark, os.path.join(work_dir, name), f"{id_col} {id_type}"
        ).select(id_col)

    exact_ids = sink_ids(_EXACT_SINK)
    pairs = neardup_index_pairs(spark, os.path.join(work_dir, _ND))
    out = dedup_keep_one(exact_ids, pairs, id_col)
    if os.path.isdir(os.path.join(work_dir, _CONTAM_SINK)):
        out = out.join(sink_ids(_CONTAM_SINK), id_col, "left_anti")
    return out
