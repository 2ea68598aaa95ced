"""Incrementally-maintained MinHash near-duplicate index.

The batch near-dup pipeline (``dedup_minhash_lsh``: signatures → banded
LSH candidates → exact-Jaccard verify) re-runs its banded join over the
WHOLE corpus every time — O(N) per ingest batch, cumulatively
O(N²/batch) at 100 TB.  This module gives the near-dup family the same
staged-index lifecycle the ANN family has (similarity.py
ann_index_append/tombstone/compact): signatures and band rows are
persisted ONCE, an ingest batch probes delta-vs-index plus
delta-vs-delta only, and takedowns ride a tombstone ledger folded in by
a compact.  The maintained pair set is EXACTLY the batch
``dedup_minhash_lsh`` pair set over the live corpus at every point —
not approximately: the cap-transition cases that make naive incremental
LSH drift are handled (see "Exactness" below).

Index layout (all under one caller-owned ``index_dir``)::

    _params.json            banding/verify parameters + id/text cols
    sigs/   sb=K/…          (id, shingles, sig)  partitioned by id-hash
    bands/  band_id=B/pb=P/… (id, bh)            partitioned by band and
                                                  a bucket-hash prefix
    pairs/  …               (id_a, id_b, jaccard) verified pairs, append
    doc_tombstones/  …      (id)          takedown ledger (merge-on-read)
    pair_tombstones/ …      (id_a, id_b)  cap-crossing retractions

Scale shape (the reason for the layout):

- An ingest batch computes its own signatures once (the O(len·perm)
  Arrow map), appends them under its own ``sb=``/``band_id=/pb=``
  partition directories, and probes the band table pruned to the
  delta's (band_id, pb) combos — the band-table scan is bounded by the
  delta's bucket-prefix union exactly as the ANN probe is bounded by
  the probed-cell union, and never shuffles: the delta side is the
  small side of every join.
- ``n_band_prefixes`` / ``n_id_buckets`` are the pruning-granularity
  knobs: fixture defaults are small (4); size them so one partition
  holds ~128 MB at deployment (e.g. 256–4096 prefixes per band at
  100 TB).  A small delta's prefix union saturates as it grows — the
  residual guarantee is the broadcast-shaped probe join, same law as
  the ANN cell layout (ROADMAP r11 table).
- Candidate volume per batch is bounded by the same hot-bucket cap as
  the batch arm (``max_bucket``), so verification cost is delta-bound.

Exactness (the invariant, maintained by every operation): the live
pair set equals ``{(a,b): some shared band bucket has live size in
[2, max_bucket]}`` filtered by exact Jaccard ≥ threshold — which is
precisely the batch arm's definition evaluated on the live corpus.

- APPEND can only GROW bucket sizes: existing pairs only ever lose
  validity, and a pair loses it exactly when its last ≤cap shared
  bucket CROSSES the cap this batch.  Every crossing bucket contains a
  delta member (sizes changed ⇒ touched), both members of any affected
  pair sit in it, and crossings are detected from the probe's own
  per-bucket counts — the affected (bounded: ≤ cap old members per
  crossed bucket) pairs get their true support recomputed from their
  signatures and are retracted to ``pair_tombstones`` when no ≤cap
  shared bucket remains.  New (delta-involving) pairs have ALL their
  shared buckets touched by construction, so the full [2, cap] rule is
  evaluated exactly for them.
- TOMBSTONE can only SHRINK bucket sizes: pairs only ever GAIN
  validity, exactly in buckets that cross DOWN through the cap — those
  buckets' surviving members are re-paired, verified, and appended
  (or, if the pair was previously retracted, resurrected by dropping
  its ledger row).  Pairs touching a tombstoned doc disappear at read
  time (merge-on-read).
- COMPACT folds both ledgers into the files, rewriting only the
  partitions that contain tombstoned rows; the live pair set is
  unchanged by construction.
- RESHARD rebuilds bands/pairs from the staged signatures under new
  banding/cap/partition knobs (the saturation-signal action; two-rename
  swap) — afterwards the invariant holds under the NEW parameters.

Contracts: delta ids are NEW — ENFORCED: an append refuses ids already
in the sig table or still in the tombstone ledger (an upsert is
tombstone → compact → re-append); ledgers are small
(they broadcast and, for pruning bookkeeping, collect); one writer at a
time (the directory swaps are the local-filesystem stand-in for an
object-store manifest commit, same posture as ann_index_compact).

Reference precedent: the accumulate-then-recompute loop this replaces
is the reference's own store/scan idiom (reference
tests/py_pkg_examples.sh:40-47); the index is the engine-side upgrade.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_spark.io import local_frame
from streaming_spark.operators.dedup import (
    _banded,
    minhash_signatures,
    verify_jaccard,
)
from streaming_spark.operators.index_commit import (
    Compaction,
    IndexFamily,
    Takedown,
    bucket_expr,
    clear_marker,
    doc_tombs,
    link_tree,
    partition_values,
    read_table_or_empty,
    recover_swap,
    staged_swap,
)

NEARDUP_INDEX = IndexFamily(
    "neardup_index", "near-dup index", "streaming-spark-neardup",
    append_crash="band rows may be live without their batch's pairs, so "
    "the pair set has silently diverged from the batch arm",
    takedown_marker=True, swap_op="neardup_index_reshard",
)
_load_params = NEARDUP_INDEX.load_params


def _pb_combos(df: DataFrame, p: dict) -> list:
    """ONE definition of the driver-side (band_id, prefix) combo list
    for partition-pruned band reads: distinct on the prefix expression
    IN SPARK, so the collected list is bounded by
    bands × n_band_prefixes regardless of how many buckets ``df``
    (a band-rows frame) touches."""
    return sorted(
        (r["band_id"], r["pb"])
        for r in df.select(
            "band_id", _pb_expr(F.col("bh"), p["n_band_prefixes"]).alias("pb")
        )
        .distinct()
        .collect()
    )


# ------------------------------------------------------------- sub-tables


_sb_expr = bucket_expr  # the id-bucket (sb=) partition expression


def _pb_expr(bh_col, n_prefixes: int):
    return F.pmod(bh_col, F.lit(n_prefixes)).cast("int")


def _bands_schema(p: dict) -> str:
    return f"id {p['id_type']}, bh BIGINT, band_id INT, pb INT"


def _sigs_schema(p: dict) -> str:
    return (
        f"id {p['id_type']}, shingles ARRAY<BIGINT>, sig ARRAY<BIGINT>, "
        "sb INT"
    )


def _pairs_schema(p: dict) -> str:
    return f"id_a {p['id_type']}, id_b {p['id_type']}, jaccard DOUBLE"


def _combo_filter(combos) -> "F.Column":
    """Planning-time partition-pruning predicate for the band table: an
    OR of per-band ``pb IN (…)`` lists (≤ bands terms).  Mirrors the ANN
    probed-cell union (_prune_to_probed_cells): the filter reaches the
    SCAN, so unprobed ``band_id=/pb=`` directories are never listed."""
    by_band: dict = {}
    for band_id, pb in combos:
        by_band.setdefault(int(band_id), set()).add(int(pb))
    cond = F.lit(False)
    for band_id, pbs in sorted(by_band.items()):
        cond = cond | (
            (F.col("band_id") == band_id) & F.col("pb").isin(sorted(pbs))
        )
    return cond


def _live_bands(spark, index_dir: str, p: dict, combo_filter=None) -> DataFrame:
    """Band rows minus doc tombstones (merge-on-read), optionally pruned
    to a (band_id, pb) combo list."""
    bands = read_table_or_empty(
        spark, os.path.join(index_dir, "bands"), _bands_schema(p)
    )
    if combo_filter is not None:
        bands = bands.filter(combo_filter)
    tombs = _doc_tombs(spark, index_dir, p)
    return bands.join(F.broadcast(tombs), "id", "left_anti")


def _doc_tombs(spark, index_dir: str, p: dict) -> DataFrame:
    return doc_tombs(spark, index_dir, f"id {p['id_type']}")


def _pair_tombs(spark, index_dir: str, p: dict) -> DataFrame:
    return read_table_or_empty(
        spark,
        os.path.join(index_dir, "pair_tombstones"),
        f"id_a {p['id_type']}, id_b {p['id_type']}",
    ).distinct()


def _sigs_for_ids(
    spark, index_dir: str, p: dict, ids: DataFrame, sbs=None
) -> DataFrame:
    """Signature rows of the given ids — the read is pruned to the ids'
    ``sb=`` partitions (their hash buckets are computed driver-side from
    a bounded id frame, or passed precomputed via ``sbs``), so a
    delta-bound candidate set never scans the whole signature table."""
    if sbs is None:
        sbs = partition_values(ids, _sb_expr(F.col("id"), p["n_id_buckets"]))
    sigs = read_table_or_empty(
        spark, os.path.join(index_dir, "sigs"), _sigs_schema(p)
    )
    if sbs:
        sigs = sigs.filter(F.col("sb").isin(sbs))
    return sigs.join(ids, "id", "left_semi").select("id", "shingles", "sig")


def _group_buckets(members: DataFrame) -> DataFrame:
    """ONE aggregation per probe: bucket membership lists and sizes
    together — ``members`` is (band_id, bh, id, d) → (band_id, bh, ms,
    n_total, n_delta, n_idx).  The list materializes for over-cap
    buckets too, exactly the batch arm's collect-then-filter exposure
    (lsh_candidate_pairs)."""
    return (
        members.groupBy("band_id", "bh")
        .agg(
            F.collect_list(F.struct("id", "d")).alias("ms"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("d"), 1).otherwise(0)).alias("n_delta"),
        )
        .withColumn("n_idx", F.col("n_total") - F.col("n_delta"))
    )


def _expand_pairs(
    grouped: DataFrame, require_delta: bool, idx_only: bool = False
) -> DataFrame:
    """Expand within-bucket pairs in place from a ``_group_buckets``
    frame (same single-shuffle shape as lsh_candidate_pairs, carrying a
    delta flag); output (id_a, id_b) distinct.  The caller has already
    filtered the buckets it wants expanded (≤ max_bucket members for
    candidate generation; ≤ cap OLD members for crossing checks with
    ``idx_only``, which pairs only the pre-existing index members)."""
    src = "filter(ms, m -> NOT m.d)" if idx_only else "ms"
    pair_expr = (
        f"flatten(transform({src}, (x, i) -> "
        f"transform(slice({src}, i + 2, size({src}) - i - 1), "
        "y -> struct(least(x.id, y.id) AS id_a, "
        "greatest(x.id, y.id) AS id_b, (x.d OR y.d) AS hd))))"
    )
    pairs = grouped.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.id_a", "p.id_b", "p.hd"
    )
    if require_delta:
        pairs = pairs.filter(F.col("hd"))
    return pairs.select("id_a", "id_b").distinct()


def _bucket_pairs(members: DataFrame, require_delta: bool) -> DataFrame:
    """Pair expansion from ungrouped (band_id, bh, id, d) members —
    thin composition of _group_buckets + _expand_pairs for callers that
    do not need the sizes."""
    return _expand_pairs(_group_buckets(members), require_delta)


# ------------------------------------------------------------ operations


def neardup_index_build(
    index_dir: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    seed: int = 42,
    max_bucket: int = 200,
    n_id_buckets: int = 4,
    n_band_prefixes: int = 4,
    stats_out: dict | None = None,
) -> None:
    """Create a near-dup index at ``index_dir`` and ingest ``docs`` as
    its first batch.  The parameters are FROZEN into ``_params.json``:
    signatures, banding and the verify threshold are only comparable
    under one parameter set, so appends re-load them from the index
    (the near-dup analog of the ANN quantizer-fingerprint binding — a
    mixed-parameter index would silently produce wrong pairs).

    ``n_id_buckets`` / ``n_band_prefixes`` choose partition granularity
    for the pruned probe reads (fixture-small defaults; size them to
    ~128 MB partitions at deployment).  Refuses an existing index."""
    if num_perm < bands:
        raise ValueError(
            f"num_perm={num_perm} cannot fill {bands} bands"
        )
    NEARDUP_INDEX.create(
        index_dir,
        text_col=text_col,
        id_col=id_col,
        id_type=docs.schema[id_col].dataType.simpleString(),
        threshold=threshold,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        seed=seed,
        max_bucket=max_bucket,
        n_id_buckets=n_id_buckets,
        n_band_prefixes=n_band_prefixes,
    )
    neardup_index_append(index_dir, docs, stats_out=stats_out)


def neardup_index_append(
    index_dir: str,
    delta: DataFrame,
    stats_out: dict | None = None,
) -> None:
    """Delta ingest: land the batch's signatures and band rows under
    their own partition directories, then run the banded join
    DELTA-vs-INDEX plus DELTA-vs-DELTA only — never index-vs-index —
    with candidate buckets read through the (band_id, pb)-pruned scan.

    Cost shape (measured, scripts/scale.py --family dedup --case
    maint-16x16, 10k delta
    into N = 100k/500k/1M under load): append 16/22/35 s vs the
    accumulated re-join's 18/45/115 s, exact pair-set equality at every
    point.  What is strictly delta-bound: the signature map (the
    O(N·len·num_perm) stage that dominates the batch arm), candidate
    volume (cap-bounded per touched bucket), and verification.  What
    still grows with the index: once a delta saturates the bucket-prefix
    union, the probe's partition pruning stops cutting and the probe
    pays one column-pruned scan of the BAND table (~0.3% of corpus
    bytes — digest rows, never text) plus the candidates' signature
    partitions — sub-linear in N (2.2× cost for 10× N) versus the
    re-join's linear re-hash of the text.  The partition knobs are a
    DATA-VOLUME sizing (target ~128 MB per partition), not a delta-size
    one: a measured 100k-doc comparison (scale.py case
    ``maint-256x64`` against ``maint-16x16``, idle box)
    found 256 prefixes × 64 id-buckets 3-4× SLOWER than 16×16 across
    every move — 4096 tiny band files cost more in listing/write
    overhead than their pruning saves, the classic small-files trap —
    and a 100-doc trickle append costs about the same as a 10k one at
    this scale (job + digest-scan overhead dominates the delta axis;
    delta-boundedness shows on the N axis).  Pruning pays once
    partitions hold real data volume — measured (scale.py --family
    dedup --case prune, r13): with 64 prefixes a 1-doc trickle probe
    reads 1.56% of band-table bytes, 10 docs ~14%, 100 docs ~75% (per band the delta
    hits ≤ min(delta_docs, n_prefixes) prefixes), the fraction
    byte-identical from a 208 MB real table (pair-set equality held) to
    a 3.9 GB synthetic one — the ratio is planning-time, so it
    extrapolates to deployment partition sizes unchanged.

    Exactness including cap crossings is maintained as described in the
    module docstring: buckets whose live size crosses ``max_bucket``
    this batch get their old members' pairs support-rechecked and
    retracted to the pair-tombstone ledger when no ≤cap shared bucket
    remains.  Delta ids must be NEW — enforced: ids already indexed (or
    still in the tombstone ledger) refuse loudly, so an at-least-once
    replay of a committed batch cannot silently double-land.

    Not atomic: the landing is three writes (sigs, bands, pairs), so an
    append-pending marker (atomic tmp + rename, recording the batch's
    ids) is written before the first landing and cleared after
    the pairs/retraction step — while it exists every other operation
    REFUSES the index (a half-landed batch's band rows are otherwise
    live and silently divergent from the batch arm).  Recovery:
    ``neardup_index_tombstone`` with the marker's ids (it clears the
    marker), then compact, then re-ingest under the same ids.  The
    recovery is EXACT: a sigs-only orphan is inert (candidates and
    sizes derive from the band table), a bands-landed orphan's rows
    vanish merge-on-read once tombstoned, and an un-run cap-crossing
    retraction is moot once the delta that caused the crossing is
    tombstoned (sizes drop back, so the would-be-retracted pairs are
    valid again).

    ``stats_out`` keys: rows_appended, buckets_touched, new_pairs,
    crossed_buckets, retracted_pairs — plus the saturation telemetry
    ``saturated_buckets`` (touched buckets whose live size now exceeds
    ``max_bucket``) and ``saturation_frac``: the near-dup analog of
    ann_index_drift's re-shard signal.  A rising fraction means hot
    content is concentrating into over-cap buckets — candidate
    generation silently skips those (the batch arm's own cap contract),
    so recall decays; the action is :func:`neardup_index_reshard` —
    re-band / raise the cap from the staged signatures, no corpus
    re-scan."""
    p = NEARDUP_INDEX.checked_params(index_dir, "neardup_index_append")
    spark = delta.sparkSession
    cap = p["max_bucket"]
    NEARDUP_INDEX.gate_types(delta, {p["id_col"]: p["id_type"]})

    delta_sigs = minhash_signatures(
        delta, p["text_col"], p["id_col"], p["num_perm"], p["shingle_k"],
        p["seed"],
    ).persist()
    caches = [delta_sigs]  # every persist() releases in the finally —
    # a leaked cache degrades later same-session queries (CLAUDE.md)
    try:
        n_delta = delta_sigs.count()  # materialize the bounded cache
        if n_delta == 0:
            if stats_out is not None:
                stats_out.update(
                    rows_appended=0, buckets_touched=0, new_pairs=0,
                    crossed_buckets=0, retracted_pairs=0,
                    saturated_buckets=0, saturation_frac=0.0,
                )
            return
        # any non-tombstoned id present in sigs is indexed: orphan
        # states are marker-refused above
        NEARDUP_INDEX.refuse_known_ids(
            index_dir, delta_sigs.select("id"), n_delta, "sigs",
            _sigs_schema(p), "sb", p["n_id_buckets"],
            "double-land band rows and corrupt bucket sizes",
        )
        delta_bands = (
            _banded(delta_sigs, p["bands"], sig_len=p["num_perm"])
            .withColumn("pb", _pb_expr(F.col("bh"), p["n_band_prefixes"]))
            .persist()
        )
        caches.append(delta_bands)
        delta_bands.count()
        first_ingest = not os.path.isdir(os.path.join(index_dir, "bands"))

        # pending marker BEFORE the first landing: a crash anywhere in
        # the three-write landing leaves the marker on disk and every
        # other operation refuses the index until the batch is
        # recovered — nothing proceeds silently over a half-landed batch
        pending = NEARDUP_INDEX.begin_append(
            index_dir, delta_sigs.select("id"), n_delta, n_ids=n_delta
        )

        # land FIRST: the probe below then reads the post-append band
        # table, so every bucket size it sees is already the
        # base ∪ delta size the batch semantics are defined over
        delta_sigs.withColumn(
            "sb", _sb_expr(F.col("id"), p["n_id_buckets"])
        ).repartition("sb").write.mode("append").partitionBy("sb").parquet(
            os.path.join(index_dir, "sigs")
        )
        delta_bands.repartition("band_id", "pb").write.mode(
            "append"
        ).partitionBy("band_id", "pb").parquet(
            os.path.join(index_dir, "bands")
        )

        if first_ingest:
            # empty index: the probe IS the batch pipeline (no index
            # side to join, no crossings possible — nothing was ever
            # emitted), so run the batch candidate path straight off
            # the cached signatures instead of re-reading the landed
            # tables
            from streaming_spark.operators.dedup import lsh_candidate_pairs

            new_pairs = verify_jaccard(
                lsh_candidate_pairs(delta_sigs, p["bands"], cap, sig_len=p["num_perm"]),
                delta_sigs,
                p["threshold"],
            ).localCheckpoint(eager=True)
            n_new = new_pairs.count()
            if n_new:
                new_pairs.write.mode("append").parquet(
                    os.path.join(index_dir, "pairs")
                )
            clear_marker(pending)
            if stats_out is not None:
                bsz = delta_bands.groupBy("band_id", "bh").agg(
                    F.count(F.lit(1)).alias("n")
                )
                n_touched, n_sat = bsz.select(
                    F.count(F.lit(1)),
                    F.sum((F.col("n") > cap).cast("long")),
                ).first()
                stats_out.update(
                    rows_appended=n_delta,
                    buckets_touched=n_touched,
                    new_pairs=n_new,
                    crossed_buckets=0,
                    retracted_pairs=0,
                    saturated_buckets=int(n_sat or 0),
                    saturation_frac=(
                        round(int(n_sat or 0) / n_touched, 6)
                        if n_touched
                        else 0.0
                    ),
                )
            return

        # pruned probe: only the delta's (band_id, pb) partitions are
        # listed (≤ bands × n_band_prefixes combos — a bounded collect)
        combos = [
            (r["band_id"], r["pb"])
            for r in delta_bands.select("band_id", "pb").distinct().collect()
        ]
        touched = delta_bands.select("band_id", "bh").distinct()
        # the delta is the SMALL side of every probe join: broadcast it
        # below a bound (row count known — the cache materialization
        # counted it) so the pruned band-table scan streams through a
        # broadcast-hash join with no exchange; above the bound Spark
        # shuffles both sides as usual
        mb = F.broadcast if n_delta <= 50_000 else (lambda df: df)
        # ONE probe job: touched-bucket membership lists + sizes,
        # checkpointed (eager, lineage-free) so candidate generation,
        # crossing detection and stats all read the cached rows instead
        # of re-probing the band table
        members = (
            _live_bands(spark, index_dir, p, _combo_filter(combos))
            .join(mb(touched), ["band_id", "bh"], "left_semi")
            .join(
                mb(delta_sigs.select("id").withColumn("d", F.lit(True))),
                "id",
                "left",
            )
            .select(
                "band_id", "bh", "id",
                F.coalesce("d", F.lit(False)).alias("d"),
            )
        )
        grouped = _group_buckets(members).localCheckpoint(eager=True)

        # new delta-involving pairs from buckets within the cap
        cand = _expand_pairs(
            grouped.filter(
                (F.col("n_total") >= 2) & (F.col("n_total") <= cap)
            ),
            require_delta=True,
        )
        cand_ids = (
            cand.select(F.col("id_a").alias("id"))
            .union(cand.select(F.col("id_b").alias("id")))
            .distinct()
        )
        # checkpoint the candidate-id sig subset: verify_jaccard joins
        # it TWICE (a-side and b-side) and the shingles column is the
        # table's heavy payload — without this the scan runs twice
        cand_sigs = _sigs_for_ids(
            spark, index_dir, p, cand_ids
        ).localCheckpoint(eager=True)
        new_pairs = verify_jaccard(
            cand, cand_sigs, p["threshold"]
        ).localCheckpoint(eager=True)
        n_new = new_pairs.count()
        if n_new:
            new_pairs.write.mode("append").parquet(
                os.path.join(index_dir, "pairs")
            )

        # cap crossings: buckets whose OLD (index-only) live size was
        # within the cap but whose base ∪ delta size now exceeds it —
        # previously-emitted pairs among their old members may have
        # lost their last valid support
        crossed = grouped.filter(
            (F.col("n_idx") >= 2)
            & (F.col("n_idx") <= cap)
            & (F.col("n_total") > cap)
        )
        n_crossed = crossed.count()  # cheap: grouped is checkpointed
        n_retracted = 0
        if n_crossed:
            n_retracted = _retract_unsupported(
                spark, index_dir, p, crossed
            )
        clear_marker(pending)  # landing complete — the index is consistent
        if stats_out is not None:
            n_touched, n_sat = grouped.select(
                F.count(F.lit(1)),
                F.sum((F.col("n_total") > cap).cast("long")),
            ).first()
            stats_out.update(
                rows_appended=n_delta,
                buckets_touched=n_touched,
                new_pairs=n_new,
                crossed_buckets=n_crossed,
                retracted_pairs=n_retracted,
                saturated_buckets=int(n_sat or 0),
                saturation_frac=(
                    round(int(n_sat or 0) / n_touched, 6)
                    if n_touched
                    else 0.0
                ),
            )
    finally:
        for c in caches:
            c.unpersist()


def _retract_unsupported(
    spark, index_dir: str, p: dict, crossed: DataFrame
) -> int:
    """Append-side retraction: for pairs among the OLD members of
    buckets that crossed the cap this batch (≤ cap members each, so the
    affected set is bounded; ``crossed`` is their _group_buckets rows),
    recompute their TRUE shared-bucket support from their signatures and
    tombstone the pairs with no live shared bucket within the cap left.
    Support recompute is exact — banding is a pure function of the
    stored signature — and reads are pruned: the affected ids' sigs by
    ``sb=``, the shared buckets' current sizes by ``(band_id, pb)=``."""
    cap = p["max_bucket"]
    aff_keys = _expand_pairs(crossed, require_delta=False, idx_only=True)
    live_pairs = read_table_or_empty(
        spark, os.path.join(index_dir, "pairs"), _pairs_schema(p)
    ).join(_pair_tombs(spark, index_dir, p), ["id_a", "id_b"], "left_anti")
    aff = (
        live_pairs.join(aff_keys, ["id_a", "id_b"], "left_semi")
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    if aff.isEmpty():
        return 0
    aff_ids = (
        aff.select(F.col("id_a").alias("id"))
        .union(aff.select(F.col("id_b").alias("id")))
        .distinct()
    )
    aff_bands = _banded(
        _sigs_for_ids(spark, index_dir, p, aff_ids), p["bands"],
        sig_len=p["num_perm"],
    ).localCheckpoint(eager=True)
    shared = (
        aff.join(
            aff_bands.select(
                F.col("id").alias("id_a"), "band_id", "bh"
            ),
            "id_a",
        )
        .join(
            aff_bands.select(
                F.col("id").alias("id_b"), "band_id", "bh"
            ),
            ["id_b", "band_id", "bh"],
        )
        .select("id_a", "id_b", "band_id", "bh")
        .localCheckpoint(eager=True)
    )
    need = shared.select("band_id", "bh").distinct()
    need_combos = _pb_combos(need, p)
    bsizes = (
        _live_bands(spark, index_dir, p, _combo_filter(need_combos))
        .join(need, ["band_id", "bh"], "left_semi")
        .groupBy("band_id", "bh")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    still_valid = (
        shared.join(bsizes, ["band_id", "bh"])
        .filter(F.col("n") <= cap)
        .select("id_a", "id_b")
        .distinct()
    )
    retract = aff.join(
        still_valid, ["id_a", "id_b"], "left_anti"
    ).localCheckpoint(eager=True)
    n = retract.count()
    if n:
        retract.write.mode("append").parquet(
            os.path.join(index_dir, "pair_tombstones")
        )
    return n


def neardup_index_tombstone(
    spark,
    index_dir: str,
    ids,
    stats_out: dict | None = None,
) -> None:
    """Takedown: retire documents from the index, merge-on-read.  The
    ids land in the doc-tombstone ledger (their pairs disappear from
    :func:`neardup_index_pairs` immediately; their sig/band rows are
    folded out by :func:`neardup_index_compact`).

    Removals SHRINK buckets, so pairs among the SURVIVING members of a
    bucket that drops back through the cap become batch-valid again —
    those buckets are re-paired, verified, and the resulting pairs
    appended (or, when a pair had been cap-retracted earlier,
    resurrected by dropping its pair-tombstone row), keeping the live
    pair set exactly the batch arm's over the surviving corpus.  Cost is
    bounded by the tombstoned docs' bucket footprint (pruned reads
    throughout).

    Crash-safe by MARKER + IDEMPOTENT RESUME: the mutation sequence
    (re-admit pairs → rewrite the pair-tombstone ledger → land the doc
    tombstones) cannot be atomic across three tables, so a
    ``.takedown_pending`` marker recording the victim ids is written
    (atomically, tmp + rename) immediately BEFORE the first mutation —
    the whole probe/verify phase ahead of it is read-only, so a
    transient Spark failure there leaves the index untouched and
    serving — and removed after the last; while it exists every other
    operation refuses the index, and re-running the takedown with the
    SAME ids resumes safely — re-admissions anti-join what already
    landed, the ledger rewrite parks the old ledger until the swap
    completes, the doc-ledger append deduplicates, and every size
    computation excludes the in-flight victims from the "previous
    tombstones" set so it is stable whether or not the final landing
    already happened."""
    p = NEARDUP_INDEX.checked_params(
        index_dir, "neardup_index_tombstone", takedown=True
    )
    cap = p["max_bucket"]
    t = Takedown(NEARDUP_INDEX, spark, index_dir, ids, "id", p["id_type"])
    tomb, id_list = t.tomb, t.ids
    # heal a ledger swap the previous attempt may have left mid-flight
    # (the recompute below reproduces the same rewrite)
    ledger_dir = os.path.join(index_dir, "pair_tombstones")
    recover_swap(ledger_dir, ".new")

    # sizes use the PREVIOUS tombstone set (ledger minus the in-flight
    # victims): stable across a resume whether or not the final doc-
    # ledger landing already happened
    prev_tombs = _doc_tombs(spark, index_dir, p).join(
        tomb, "id", "left_anti"
    )

    # buckets hit by the takedown: the victims' sigs give the bucket
    # SUPERSET for partition pruning, but the removal COUNTS come from
    # the victims' rows actually present in the band table — a
    # sigs-only orphan (crashed append, see neardup_index_append's
    # recovery contract) must contribute zero removals or it would
    # spuriously down-cross buckets it never sat in
    expected = _banded(
        _sigs_for_ids(spark, index_dir, p, tomb), p["bands"],
        sig_len=p["num_perm"],
    )
    hit_combos = _pb_combos(expected, p)
    n_readmitted = 0
    n_resurrected = 0
    if hit_combos:
        pruned = (
            read_table_or_empty(
                spark, os.path.join(index_dir, "bands"), _bands_schema(p)
            )
            .filter(_combo_filter(hit_combos))
            .join(F.broadcast(prev_tombs), "id", "left_anti")
        )
        hit = (
            pruned.join(F.broadcast(tomb), "id", "left_semi")
            .groupBy("band_id", "bh")
            .agg(F.count(F.lit(1)).alias("n_removed"))
            .localCheckpoint(eager=True)
        )
        live_before = pruned.join(
            hit.select("band_id", "bh"), ["band_id", "bh"], "left_semi"
        )
        sizes = live_before.groupBy("band_id", "bh").agg(
            F.count(F.lit(1)).alias("n_before")
        )
        down = (
            sizes.join(hit, ["band_id", "bh"])
            .withColumn("n_after", F.col("n_before") - F.col("n_removed"))
            .filter(
                (F.col("n_before") > cap)
                & (F.col("n_after") <= cap)
                & (F.col("n_after") >= 2)
            )
            .select("band_id", "bh")
        )
        survivors = (
            live_before.join(down, ["band_id", "bh"], "left_semi")
            .join(tomb, "id", "left_anti")
            .withColumn("d", F.lit(False))
            .select("band_id", "bh", "id", "d")
        )
        cand = _bucket_pairs(survivors, require_delta=False)
        if not cand.isEmpty():
            cand_ids = (
                cand.select(F.col("id_a").alias("id"))
                .union(cand.select(F.col("id_b").alias("id")))
                .distinct()
            )
            cand_sigs = _sigs_for_ids(
                spark, index_dir, p, cand_ids
            ).localCheckpoint(eager=True)  # verify joins it twice
            verified = verify_jaccard(
                cand, cand_sigs, p["threshold"]
            ).localCheckpoint(eager=True)
            existing = read_table_or_empty(
                spark, os.path.join(index_dir, "pairs"), _pairs_schema(p)
            ).select("id_a", "id_b")
            to_append = verified.join(
                existing, ["id_a", "id_b"], "left_anti"
            ).localCheckpoint(eager=True)
            n_readmitted = to_append.count()
            # a pair that was cap-retracted earlier and is valid again
            # is resurrected by dropping its ledger row — the ledger is
            # small by contract and rewritten whole, through a
            # park-then-swap so the retraction rows are never only in
            # memory: stage the rewrite at .new, park the old ledger,
            # rename the rewrite in, drop the park
            ptombs = _pair_tombs(spark, index_dir, p)
            resurrect = ptombs.join(
                verified.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
            ).localCheckpoint(eager=True)
            n_resurrected = resurrect.count()
            if n_resurrected:
                keep = ptombs.join(
                    resurrect, ["id_a", "id_b"], "left_anti"
                ).localCheckpoint(eager=True)

    # ---- mutation phase: everything above was read-only (eager
    # checkpoints), so the marker lands only now
    t.begin()
    if n_readmitted:
        to_append.write.mode("append").parquet(
            os.path.join(index_dir, "pairs")
        )
    if n_resurrected:
        with staged_swap(ledger_dir, ".new") as new_ledger:
            keep.coalesce(1).write.mode("overwrite").parquet(new_ledger)
    t.land()
    if stats_out is not None:
        stats_out.update(
            tombstoned=len(id_list),
            readmitted_pairs=n_readmitted,
            resurrected_pairs=n_resurrected,
        )


def neardup_index_compact(spark, index_dir: str) -> dict:
    """Fold both tombstone ledgers into the files, rewriting ONLY the
    partitions that contain tombstoned rows: the victims' ``sb=``
    signature partitions, their ``band_id=/pb=`` band partitions (both
    located from the victims' own signatures — pruned reads), and the
    pairs table (pair rows are index-output-sized, not corpus-sized, so
    it rewrites whole).  The live pair set is UNCHANGED by construction
    — re-admissions happened at tombstone time — which tests pin.

    Crash-safe through the compaction all three index families share
    (index_commit.Compaction): rewrites stage inside the index,
    replaced directories park there until every swap lands — a
    partition whose every row was tombstoned parks without replacement
    — and every other operation refuses the index while a park exists
    (nothing is ever only in process-scoped scratch).

    Returns stats: sig_rows_removed, band_rows_removed,
    pair_rows_removed, sig_parts_rewritten, band_parts_rewritten."""
    p = NEARDUP_INDEX.checked_params(index_dir, "neardup_index_compact")
    doc_t = _doc_tombs(spark, index_dir, p).localCheckpoint(eager=True)
    pair_t = _pair_tombs(spark, index_dir, p).localCheckpoint(eager=True)
    stats = {
        "sig_rows_removed": 0,
        "band_rows_removed": 0,
        "pair_rows_removed": 0,
        "sig_parts_rewritten": 0,
        "band_parts_rewritten": 0,
    }
    if doc_t.isEmpty() and pair_t.isEmpty():
        return stats

    comp = Compaction(index_dir)
    # one driver-side sb derivation shared by the pruned victim-sig
    # read and the partition list
    sbs = partition_values(doc_t, _sb_expr(F.col("id"), p["n_id_buckets"]))
    victim_sigs = _sigs_for_ids(spark, index_dir, p, doc_t, sbs=sbs)
    sig_parts = [
        f"sigs/sb={sb}"
        for sb in sbs
        if os.path.isdir(os.path.join(index_dir, f"sigs/sb={sb}"))
    ]
    if sig_parts:
        affected = read_table_or_empty(
            spark, os.path.join(index_dir, "sigs"), _sigs_schema(p)
        ).filter(F.col("sb").isin(sbs))
        _, stats["sig_rows_removed"] = comp.rewrite(
            "sigs", affected, [(doc_t, ["id"])], ("sb",), sig_parts
        )

    victim_bands = _banded(victim_sigs, p["bands"], sig_len=p["num_perm"])
    combos = _pb_combos(victim_bands, p)
    band_parts = [
        f"bands/band_id={b}/pb={pb}"
        for b, pb in combos
        if os.path.isdir(os.path.join(index_dir, f"bands/band_id={b}/pb={pb}"))
    ]
    if band_parts:
        affected = read_table_or_empty(
            spark, os.path.join(index_dir, "bands"), _bands_schema(p)
        ).filter(_combo_filter(combos))
        _, stats["band_rows_removed"] = comp.rewrite(
            "bands", affected, [(doc_t, ["id"])], ("band_id", "pb"),
            band_parts,
        )

    # the pairs table rewrites whole: both ledgers fold in, a doc
    # tombstone on either side of the pair
    _, stats["pair_rows_removed"] = comp.rewrite(
        "pairs",
        read_table_or_empty(
            spark, os.path.join(index_dir, "pairs"), _pairs_schema(p)
        ),
        [
            (pair_t, ["id_a", "id_b"]),
            (doc_t.select(F.col("id").alias("id_a")), ["id_a"]),
            (doc_t.select(F.col("id").alias("id_b")), ["id_b"]),
        ],
        rel_paths=["pairs"],
        finish=lambda live: live.select("id_a", "id_b", "jaccard"),
    )
    comp.commit(["doc_tombstones", "pair_tombstones"])
    stats["sig_parts_rewritten"] = len(sig_parts)
    stats["band_parts_rewritten"] = len(band_parts)
    return stats


def neardup_index_members(spark, index_dir: str) -> DataFrame:
    """Live member ids — one ``id`` column, sig rows minus the doc
    tombstone ledger.  The membership view resync compositions diff
    against (curation_backfill reconciles it with the exact-dedup
    owners view: members not in the keep set are taken down, keepers
    not yet members are appended)."""
    p = NEARDUP_INDEX.checked_params(index_dir, "neardup_index_members")
    sigs = read_table_or_empty(
        spark, os.path.join(index_dir, "sigs"), _sigs_schema(p)
    )
    return sigs.select("id").join(
        F.broadcast(_doc_tombs(spark, index_dir, p)), "id", "left_anti"
    )


def neardup_index_reshard(
    spark,
    index_dir: str,
    bands: int | None = None,
    max_bucket: int | None = None,
    threshold: float | None = None,
    n_band_prefixes: int | None = None,
    n_id_buckets: int | None = None,
    stats_out: dict | None = None,
) -> None:
    """Re-band / re-partition the index under new banding knobs — the
    ACTION for the saturation signal :func:`neardup_index_append` emits
    (``saturated_buckets``/``saturation_frac``): when hot content
    concentrates into over-cap buckets, candidate generation silently
    skips them and recall decays; the remedies are a higher cap, more
    (narrower) bands, or finer partitioning — all of which change how
    signatures are BUCKETED, not the signatures themselves.  Banding is
    a pure function of the stored signature, so the reshard rebuilds
    ``bands/`` and ``pairs/`` from the staged ``sigs/`` table without
    re-scanning the corpus: the O(N·len·num_perm) signature map — the
    dominant cost of a from-scratch rebuild — is never re-paid.  This is
    the near-dup analog of :func:`ann_index_refresh` (similarity.py):
    re-key the derived tables under new parameters, park-then-swap.

    Re-shardable knobs: ``bands`` (must still divide into ``num_perm``
    signature values), ``max_bucket``, ``threshold``, and the partition
    granularity knobs ``n_band_prefixes`` / ``n_id_buckets``.  The
    signature-frozen parameters (``num_perm``, ``shingle_k``, ``seed``)
    CANNOT change here — they are functions of the text, so changing
    them is a corpus re-scan, i.e. ``neardup_index_build`` into a fresh
    directory.  Omitted knobs keep their frozen values (so a no-change
    reshard is a whole-index compact: both ledgers fold by
    construction, since every table is rebuilt from live rows only).

    After the swap the live pair set is EXACTLY batch
    ``dedup_minhash_lsh`` over the live corpus under the NEW parameters
    (pinned by tests), and subsequent appends/takedowns maintain that
    under the new params — the ``_params.json`` staged alongside the
    rebuilt tables is what they re-load.

    Crash posture (same two-rename discipline as ann_index_refresh):
    the whole new index stages under ``<index_dir>.reshard``; a crash
    while staging leaves the live index untouched (the half-written
    sibling is removed and re-staged on retry); a crash BETWEEN the two
    renames leaves the complete old index at ``<index_dir>.old`` and
    every subsequent operation refuses with the rename-back recovery
    hint (index_commit.refuse_swapped_out).  Refuses an index with a pending
    append/takedown marker or a parked compact.

    Cost shape: the banded candidate join + verification over the whole
    live corpus — table-footprint-bound, the slow-cadence maintenance
    move, exactly like the ANN refresh; the fast path stays the
    delta-bound append.  What the reshard never re-pays is the
    SIGNATURE work: banding reads only the (id, sig) columns (a
    column-pruned scan ~the size of num_perm·8 bytes/doc), shingles are
    read per-candidate at verify time, and an unchanged-layout sigs
    table stages as hardlinks (zero bytes moved; a manifest re-point on
    object storage).  Measured honestly (scale.py --family dedup --case
    reshard,
    300-char fixture docs): the ORIGINAL implementation cached the
    shingle arrays (~8× the corpus text bytes) corpus-wide and LOST to
    a from-scratch rebuild at 500k (169 s vs 96 s) — at these tiny doc
    sizes re-hashing text is cheaper than moving stored shingles; the
    slim-cache + hardlink design restores the win (see the in-body
    comment), and the advantage grows with doc length since the
    re-sign cost the rebuild pays is O(text) Python-side work while the
    reshard's sig scan is fixed-width.

    ``stats_out`` keys: rows_live, pairs_after, folded_doc_tombstones,
    folded_pair_tombstones, plus the new parameter values."""
    p = NEARDUP_INDEX.checked_params(index_dir, "neardup_index_reshard")
    new_p = dict(p)
    for key, val in (
        ("bands", bands),
        ("max_bucket", max_bucket),
        ("threshold", threshold),
        ("n_band_prefixes", n_band_prefixes),
        ("n_id_buckets", n_id_buckets),
    ):
        if val is not None:
            new_p[key] = val
    if new_p["num_perm"] < new_p["bands"]:
        raise ValueError(
            f"neardup_index_reshard: num_perm={new_p['num_perm']} cannot "
            f"fill {new_p['bands']} bands — bands is re-shardable only "
            "within the frozen signature width (a wider signature is a "
            "corpus re-scan: build a fresh index)."
        )

    doc_t = _doc_tombs(spark, index_dir, p).localCheckpoint(eager=True)
    n_doc_t = doc_t.count()
    pair_t_n = _pair_tombs(spark, index_dir, p).count()
    live_full = read_table_or_empty(
        spark, os.path.join(index_dir, "sigs"), _sigs_schema(p)
    ).join(F.broadcast(doc_t), "id", "left_anti")
    # cache ONLY (id, sig): banding and counting never touch the
    # shingle arrays, which are ~8x the corpus TEXT bytes (a char
    # 9-gram hash per position) — caching them made reshard SLOWER
    # than a from-scratch rebuild at 500k (measured, scale.py dedup
    # case reshard: 169 s vs 96 s; slim cache + disk-backed verify
    # restores the no-re-sign win).  Shingles are read per-candidate
    # at verify time through a column-pruned columnar scan instead.
    live_sigs = live_full.select("id", "sig").persist()
    try:
        with staged_swap(index_dir, ".reshard") as tmp:
            n_live = live_sigs.count()
            os.makedirs(tmp)
            NEARDUP_INDEX.write_params(tmp, new_p)
            if new_p["n_id_buckets"] == p["n_id_buckets"] and n_doc_t == 0:
                # the sigs table's layout depends only on n_id_buckets
                # and its rows only on the doc-tombstone fold: unchanged
                # layout + empty ledger ⇒ stage it zero-copy (hardlinks
                # to the same immutable files) instead of decoding and
                # re-writing the shingle arrays through Spark
                link_tree(
                    os.path.join(index_dir, "sigs"),
                    os.path.join(tmp, "sigs"),
                )
            else:
                live_full.withColumn(
                    "sb", _sb_expr(F.col("id"), new_p["n_id_buckets"])
                ).repartition("sb").write.mode("overwrite").partitionBy(
                    "sb"
                ).parquet(os.path.join(tmp, "sigs"))
            new_bands = (
                _banded(
                    live_sigs, new_p["bands"], sig_len=new_p["num_perm"]
                ).withColumn(
                    "pb", _pb_expr(F.col("bh"), new_p["n_band_prefixes"])
                )
                if n_live
                else local_frame(spark, [], _bands_schema(new_p))
            )
            new_bands.repartition("band_id", "pb").write.mode(
                "overwrite"
            ).partitionBy("band_id", "pb").parquet(
                os.path.join(tmp, "bands")
            )
            # the whole-corpus candidate pass under the new banding —
            # the same grouped single-shuffle expansion the batch arm
            # runs (lsh_candidate_pairs), reusing this module's bucket
            # helpers
            members = new_bands.select(
                "band_id", "bh", "id", F.lit(False).alias("d")
            )
            cand = _expand_pairs(
                _group_buckets(members).filter(
                    (F.col("n_total") >= 2)
                    & (F.col("n_total") <= new_p["max_bucket"])
                ),
                require_delta=False,
            )
            new_pairs = verify_jaccard(
                cand, live_full, new_p["threshold"]
            ).localCheckpoint(eager=True)
            n_pairs = new_pairs.count()
            new_pairs.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(tmp, "pairs")
            )
    finally:
        live_sigs.unpersist()

    if stats_out is not None:
        stats_out.update(
            rows_live=n_live,
            pairs_after=n_pairs,
            folded_doc_tombstones=doc_t.count(),
            folded_pair_tombstones=pair_t_n,
            bands=new_p["bands"],
            max_bucket=new_p["max_bucket"],
            threshold=new_p["threshold"],
            n_band_prefixes=new_p["n_band_prefixes"],
            n_id_buckets=new_p["n_id_buckets"],
        )


def neardup_index_pairs(spark, index_dir: str) -> DataFrame:
    """The current verified near-dup pair set (id_a, id_b, jaccard) —
    merge-on-read over both ledgers, EXACTLY the batch
    ``dedup_minhash_lsh`` output over the live corpus under the index's
    frozen parameters (the invariant every maintenance op preserves;
    pinned by tests/test_neardup_index.py)."""
    p = NEARDUP_INDEX.checked_params(index_dir, "neardup_index_pairs")
    doc_t = _doc_tombs(spark, index_dir, p)
    return (
        read_table_or_empty(
            spark, os.path.join(index_dir, "pairs"), _pairs_schema(p)
        )
        .join(_pair_tombs(spark, index_dir, p), ["id_a", "id_b"], "left_anti")
        .join(
            F.broadcast(doc_t.select(F.col("id").alias("id_a"))),
            "id_a",
            "left_anti",
        )
        .join(
            F.broadcast(doc_t.select(F.col("id").alias("id_b"))),
            "id_b",
            "left_anti",
        )
        .select("id_a", "id_b", "jaccard")
    )
