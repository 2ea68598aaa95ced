"""Scale sweeps of the engine's operator families, every result timed
on a digest.

    PYTHONPATH=. python scripts/scale.py --family FAMILY \\
        [--case NAME[,NAME...]] [--n N[,N...]]

FAMILY is one of ``blocked``, ``ann``, ``dedup``, ``pipeline``,
``streaming``, ``tar``, ``10x``; its cases and the sizes each runs at
by default (the sizes recorded measurements used) are in ``CASES``.
``--case`` picks some of the family's cases, ``--n`` replaces every
picked case's sizes: corpus rows, except total members for ``tar`` and
the replication factor of the sf0.1 fixtures for ``10x``.

One session, one warm-up (the Python worker pool and the parquet write
path), then one JSON line per measurement on stdout::

    {"case": "<family>/<case>/<n>[/<step>]", "seconds": ..., "rows": ...,
     "digest": "rows:hash_sum:hash_xor", "checks": {...}, ...}

``scripts/ab.py`` pairs the arms of an A/B by ``case``.  Every timed
region ends in ``perfbench/digest.py``'s ``digest`` (one job hashing
every column of every row) instead of ``count()``, which lets Catalyst
drop the work the row count does not need; a step that only writes
(an index move) is timed alone and its line carries the digest of the
state it left.  ``checks`` are the correctness-at-scale comparisons
(index moves against the batch recompute, streaming twins against
batch, survivor sets, byte re-derivation); a failed check still prints
its line, and the run then exits 1 naming it.

Corpora: one deterministic generator per shape, every value a pure
splitmix64 function of the row id, generated on the executors (no
driver-side corpus at 1M rows) and staged once to scratch parquet in
contiguous id ranges, so the timed operators start from a parquet scan:

- vectors: 64-dim float32.  ``clustered`` = one of 32 seeded unit
  centers (``id % 32``) plus per-dim uniform noise of std 0.05
  (intra-cluster cosine ~0.86 +- 0.02); ``uniform`` = U(-1, 1) per dim,
  where no geometric bound can prune.
- texts: ~60 words from a 10k vocabulary; every fifth doc a planted
  near-copy of its predecessor (each word re-drawn with p = 1/20, so
  ~3 of 60 differ), N/5 planted pairs per N.
- events: ts one second apart from a fixed epoch, user_id among N/100
  keys, value U[0, 1).
- tar payloads: 100 KB per member.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from perfbench.digest import digest, digests
from streaming_spark import get_spark, scratch

SEED = 20260815
DIM, CLUSTERS = 64, 32
VOCAB, WORDS, MUT_DENOM = 10_000, 60, 20
_WORDS_TAB = [f"w{i}" for i in range(VOCAB)]
BASE_EPOCH, KEY_DIV = 1_700_000_000, 100
MEMBER_KB = 100
GOLDEN = np.uint64(0x9E3779B97F4A7C15)


# ---------------------------------------------------------------- generators


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (wrapping uint64 arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _centers() -> np.ndarray:
    c = np.random.default_rng(SEED).standard_normal((CLUSTERS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


CENTERS = _centers()


def gen_vectors(ids: np.ndarray, kind: str) -> np.ndarray:
    """(len(ids), DIM) float32 vectors, a pure function of the ids."""
    ids = ids.astype(np.uint64)
    pos = np.arange(DIM, dtype=np.uint64)
    with np.errstate(over="ignore"):
        u = _mix64(ids[:, None] * GOLDEN + pos[None, :]).astype(np.float64) / 2**64
    if kind == "uniform":
        return (2.0 * u - 1.0).astype(np.float32)
    noise = (u - 0.5) * (2 * 0.0866)  # U(-a, a) with std ~0.05
    cell = (ids % np.uint64(CLUSTERS)).astype(np.int64)
    return (CENTERS[cell] + noise).astype(np.float32)


def gen_texts(ids: np.ndarray) -> list[str]:
    """Texts of a batch of doc ids, a pure function of the ids."""
    ids = ids.astype(np.uint64)
    is_dup = (ids % np.uint64(5)) == np.uint64(4)
    base = np.where(is_dup, ids - np.uint64(1), ids)
    pos = np.arange(WORDS, dtype=np.uint64)
    with np.errstate(over="ignore"):
        w = _mix64(base[:, None] * GOLDEN + pos[None, :])
        mut = _mix64(ids[:, None] * np.uint64(0xD6E8FEB86659FD93) + pos[None, :])
        alt = _mix64(ids[:, None] * np.uint64(0xA24BAED4963EE407) + pos[None, :])
    w = w % np.uint64(VOCAB)
    take_alt = is_dup[:, None] & ((mut % np.uint64(MUT_DENOM)) == np.uint64(0))
    w = np.where(take_alt, alt % np.uint64(VOCAB), w).astype(np.int64)
    return [" ".join(_WORDS_TAB[i] for i in row) for row in w]


def gen_events(ids: np.ndarray, n_keys: int) -> pd.DataFrame:
    h = _mix64(ids.astype(np.uint64))
    return pd.DataFrame({
        "event_id": ids,
        "ts": pd.to_datetime(BASE_EPOCH + ids, unit="s"),
        "user_id": (h % np.uint64(n_keys)).astype(np.int64),
        "value": _mix64(h).astype(np.float64) / 2**64,
    })


def gen_payload(sample_id: int) -> bytes:
    with np.errstate(over="ignore"):
        x = np.uint64(sample_id) * GOLDEN + np.arange(MEMBER_KB * 1024 // 8, dtype=np.uint64)
    return _mix64(x).tobytes()


def stage_rows(spark, rows, schema: str, lo: int, hi: int, tag: str,
               parts: int = 32) -> tuple[DataFrame, str]:
    """Generate ids [lo, hi) with ``rows(ids) -> pandas frame`` on the
    executors, one part file per contiguous id range; returns the
    staged frame and its pinned dir."""
    def gen(batches):
        for pdf in batches:
            yield rows(pdf["id"].to_numpy())

    df = spark.range(lo, hi, 1, parts).mapInPandas(gen, schema)
    return scratch.stage(df, tag)


def stage_vectors(spark, kind: str, lo: int, hi: int):
    return stage_rows(
        spark,
        lambda ids: pd.DataFrame({"vec_id": ids, "embedding": list(gen_vectors(ids, kind))}),
        "vec_id BIGINT, embedding ARRAY<FLOAT>", lo, hi, f"scale_vec_{kind}",
    )


def stage_texts(spark, lo: int, hi: int):
    return stage_rows(
        spark, lambda ids: pd.DataFrame({"doc_id": ids, "text": gen_texts(ids)}),
        "doc_id BIGINT, text STRING", lo, hi, "scale_text",
    )


def release(*dirs: str) -> None:
    for p in dirs:
        scratch.unpin(p)
        shutil.rmtree(p, ignore_errors=True)


# ---------------------------------------------------------------- reporting

_LABELS: set[str] = set()
_FAILED: list[str] = []


def clock(fn):
    """Run ``fn`` on the clock; a DataFrame it returns is digested
    inside it.  Returns (fn's result, digest or None, seconds)."""
    t0 = time.perf_counter()
    out = fn()
    dig = digest(out) if isinstance(out, DataFrame) else None
    return out, dig, round(time.perf_counter() - t0, 2)


def emit(case: str, seconds=None, dig=None, checks=None, **fields) -> None:
    """Print one measurement; ``dig`` is a (rows, fingerprint) digest."""
    if case in _LABELS:
        raise ValueError(f"duplicate case label {case!r}")
    _LABELS.add(case)
    rec = {"case": case}
    if seconds is not None:
        rec["seconds"] = seconds
    rec["rows"], rec["digest"] = dig or (None, None)
    rec.update(fields)
    if checks:
        rec["checks"] = checks
        _FAILED.extend(f"{case}: {k}" for k, ok in checks.items() if not ok)
    print(json.dumps(rec), flush=True)


# ---------------------------------------------------------------- blocked


def run_blocked(spark, cases, n):
    """Blocked-exact cosine pairs and exact-NN self-search on both
    vector regimes.  Uniform is the worst case: candidate volume
    saturates the all-pairs ceiling and QuadraticCandidateVolumeWarning
    fires; with zero pruning each path shuffles ~N*sqrt(N) vector rows
    (~37 GB of scratch + shuffle at 200k), so uniform above 200k is
    reported as skipped.  Clustered is the regime the blocking prunes."""
    from streaming_spark.operators.similarity import cosine_pairs, exact_nn_topk

    for kind in ("clustered", "uniform"):
        mine = [c for c in cases if c.endswith(kind)]
        if not mine:
            continue
        if kind == "uniform" and n > 200_000:
            for c in mine:
                emit(f"blocked/{c}/{n}", skipped="~N*sqrt(N) vector shuffle "
                     "rows exceed local disk at zero pruning")
            continue
        corpus, d = stage_vectors(spark, kind, 0, n)
        for c in mine:
            st: dict = {}
            if c.startswith("pairs"):
                thr = 0.7 if kind == "uniform" else 0.92
                build = lambda: cosine_pairs(  # noqa: E731
                    corpus, threshold=thr, mode="blocked", stats_out=st)
            else:
                build = lambda: exact_nn_topk(  # noqa: E731
                    corpus, k=2, mode="blocked", stats_out=st)
            _, dig, s = clock(build)
            emit(f"blocked/{c}/{n}", s, dig, candidates=st.get("candidates"),
                 total_pairs=st.get("total_pairs"))
            release(*st.get("staged_dirs", []))
        release(d)


# ---------------------------------------------------------------- ann

Q, K = 1000, 10


def run_ann(spark, cases, n):
    for kind in cases:
        ann_point(spark, kind, n)


def ann_point(spark, kind: str, n: int) -> None:
    """ANN query serving: Q = 1000 queries against N vectors, recall@10
    of every arm against the exact brute-force top-k.  Strict recall
    counts identical neighbors; quality recall counts a neighbor whose
    exact sim is within one 4-dp step of the query's true 10th best
    (clustered top-k are near-ties).  Cold arms build the index inside
    the timed call; build + serve arms stage the index once (the
    ann_index_save shape).  Coarse cells ~sqrt(N) (PQ: sqrt(N)/4) with
    the published 8-bit codes m=16, ksub=256: the fixture-sized
    m=8/ksub=16 collapsed clustered recall to 0.05-0.22.

    ``bycell`` stages the same code table repartition("cell") +
    partitionBy("cell") (one file per cell, the production layout) and
    serves batches of 8 / 100 / Q queries from both layouts: scan I/O
    is the batch's probed-cell union.  Recorded at 1M / 250 cells /
    nprobe 8: Q=8 scanned 25.8% of rows and the by-cell layout was
    equal or faster at every batch size (5.1 vs 6.0 s at Q=8, 9.8 vs
    11.4 s at Q=1000).  ``maintenance`` grows the by-cell index by a
    10k delta, retires the rank-1 neighbors of the first 100 queries
    merge-on-read, then compacts them in."""
    from streaming_spark.operators.similarity import (
        _matrix, _norm_rows, ann_index_append, ann_index_compact,
        ann_index_drift, ann_tombstone_filter, ann_training_snapshot,
        cosine_topk, ivf_assign, ivf_centroids, ivf_topk, ivfpq_encode,
        ivfpq_residual_codebooks, ivfpq_topk, lsh_multiprobe_topk,
        probed_from_qc,
    )

    label = f"ann/{kind}/{n}"
    corpus, d = stage_vectors(spark, kind, 0, n)
    queries = corpus.filter(F.col("vec_id") < Q)

    truth_df, dig, s = clock(lambda: cosine_topk(corpus, queries, k=K).localCheckpoint(eager=False))
    truth_rows = truth_df.collect()
    truth = {(r.query_id, r.neighbor_id) for r in truth_rows}
    kth: dict = {}
    for r in truth_rows:
        kth[r.query_id] = min(r.sim, kth.get(r.query_id, r.sim))
    emit(f"{label}/exact", s, dig)

    def arm(step, build, **fields):
        out, dig, s = clock(lambda: build().localCheckpoint(eager=False))
        rows = out.select("query_id", "neighbor_id", "sim").collect()
        got = {(r.query_id, r.neighbor_id) for r in rows}
        good = sum(1 for r in rows if r.sim >= kth[r.query_id] - 1e-4)
        emit(f"{label}/{step}", s, dig, **fields,
             recall_at_10=round(len(got & truth) / len(truth), 4),
             quality_recall_at_10=round(good / len(truth), 4))

    c_ivf, c_pq = max(64, int(n**0.5)), max(16, int(n**0.5) // 4)
    arm("lsh-b10-p16", lambda: lsh_multiprobe_topk(
        corpus, queries, DIM, k=K, n_bits=10, n_probes=16))
    arm("ivf-cold-np4", lambda: ivf_topk(
        corpus, queries, DIM, k=K, n_cells=c_ivf, nprobe=4), cells=c_ivf)

    def build_index(step, write, path, **fields):
        quantizer, _, s = clock(write)
        staged = spark.read.parquet(path)
        emit(f"{label}/{step}", s, digest(staged), **fields)
        return quantizer, staged

    def ivf_write():
        cent = ivf_centroids(corpus, DIM, c_ivf)
        ivf_assign(corpus, cent).write.parquet(d + "/ivf_index")
        return cent

    cent, assigned = build_index("ivf-build", ivf_write, d + "/ivf_index", cells=c_ivf)
    for np_ in (4, 16):
        arm(f"ivf-serve-np{np_}", lambda: ivf_topk(
            corpus, queries, DIM, k=K, n_cells=c_ivf, nprobe=np_,
            centroids=cent, assigned=assigned), cells=c_ivf)

    def pq_write():
        cent_pq = ivf_centroids(corpus, DIM, c_pq)
        books = ivfpq_residual_codebooks(corpus, cent_pq, DIM, m=16, ksub=256,
                                         sample_limit=16384)
        ivfpq_encode(corpus, cent_pq, books).write.parquet(d + "/pq_index")
        return cent_pq, books

    (cent_pq, books), encoded = build_index("ivfpq-build", pq_write, d + "/pq_index", cells=c_pq)
    kw = dict(dim=DIM, k=K, n_cells=c_pq, nprobe=8, m=16, ksub=256,
              centroids=cent_pq, codebooks=books)
    for rer in (64, 512):
        arm(f"ivfpq-serve-rerank{rer}", lambda: ivfpq_topk(
            corpus, queries, rerank=rer, encoded=encoded, **kw), cells=c_pq)
    kw["rerank"] = 512

    def bycell_write():
        ivfpq_encode(corpus, cent_pq, books).repartition("cell").write.partitionBy(
            "cell").parquet(d + "/pq_bycell")

    _, enc_bycell = build_index("ivfpq-build-bycell", bycell_write, d + "/pq_bycell",
                                cells=c_pq)
    for q_n in (8, 100, Q):
        qdf = corpus.filter(F.col("vec_id") < q_n)
        q_mat = _norm_rows(_matrix([r[0] for r in qdf.select("embedding").collect()]))
        union = [int(c) for c in np.unique(probed_from_qc(q_mat @ cent_pq.T, 8))]
        _, flat, s_flat = clock(lambda: ivfpq_topk(corpus, qdf, encoded=encoded, **kw))
        served, bycell, s_bycell = clock(lambda: ivfpq_topk(
            corpus, qdf, encoded=enc_bycell, **kw).localCheckpoint(eager=False))
        emit(f"{label}/bycell-q{q_n}", dig=bycell, seconds_flat=s_flat,
             seconds_bycell=s_bycell, cells_probed=len(union), n_cells=c_pq,
             rows_scanned_frac=round(encoded.filter(F.col("cell").isin(union)).count() / n, 4),
             checks={"flat_equals_bycell": flat == bycell})

    tomb = sorted({r.neighbor_id for r in served.collect()
                   if r.rank == 1 and r.query_id < 100})
    delta_n = min(10_000, max(1, n // 10))
    delta, dd = stage_vectors(spark, kind, n, n + delta_n)
    all_vecs = corpus.unionByName(delta)
    qdf = corpus.filter(F.col("vec_id") < 100)
    pq_dir = d + "/pq_bycell"
    _, _, s_append = clock(lambda: ann_index_append(pq_dir, delta, cent_pq, books))
    snap = ann_training_snapshot(corpus, cent_pq)
    drift, _, s_drift = clock(lambda: ann_index_drift(delta, cent_pq, snap))
    grown = spark.read.parquet(pq_dir)
    # serving the appended table == serving base codes plus a fresh
    # inline encode of the delta (encoding is per row)
    inline = enc_bycell.unionByName(
        ivfpq_encode(delta, cent_pq, books).select("vec_id", "codes", "cell"))
    _, mor, s_mor = clock(lambda: ivfpq_topk(
        all_vecs, qdf, encoded=ann_tombstone_filter(grown, tomb), **kw))
    want = digests({
        "inline": ivfpq_topk(all_vecs, qdf, encoded=inline, **kw),
        "appended": ivfpq_topk(all_vecs, qdf, encoded=grown, **kw),
    })
    stats, _, s_compact = clock(lambda: ann_index_compact(spark, pq_dir, tomb))
    compacted = digest(ivfpq_topk(all_vecs, qdf, encoded=spark.read.parquet(pq_dir), **kw))
    emit(f"{label}/maintenance", dig=compacted, delta=delta_n, tombstones=len(tomb),
         seconds_append=s_append, seconds_drift=s_drift, seconds_serve_mor=s_mor,
         seconds_compact=s_compact,
         **{k: drift[k] for k in ("assignment_tv", "resid_ratio", "drifted")},
         cells_total=stats["cells_total"],
         cells_touched=stats["cells_rewritten"] + stats["cells_removed"],
         rows_removed=stats["rows_removed"],
         checks={"append_equals_inline_encode": want["appended"] == want["inline"],
                 "compact_equals_merge_on_read": compacted == mor})
    release(d, dd)


# ---------------------------------------------------------------- dedup


def _recall(pairs: DataFrame, n: int) -> float:
    """Fraction of the N/5 planted (d-1, d) pairs present in ``pairs``."""
    hit = pairs.filter((F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 5 == 3)).count()
    return round(hit / (n // 5), 4) if n >= 5 else 1.0


def _pairs(df: DataFrame) -> DataFrame:
    return df.select("id_a", "id_b", "jaccard")


def run_dedup(spark, cases, n):
    """Text near-duplicates.  ``minhash``: MinHash-LSH pairs at
    threshold 0.5 with planted-pair recall (~0.995), then components
    over them, driver and iterative arms.  Candidate volume stays ~linear in N: unique
    docs hash to singleton buckets.  ``simhash``: 4 x 16-bit bands at
    hamming <= 3, recall ~0.24 (the radius, not the banding, governs);
    its banding has an N^2/2^16 candidate floor on random docs, ~30M
    candidates before verify at 1M.  The index cases are in
    :func:`neardup_maint` and below."""
    from streaming_spark.operators.dedup import (
        connected_components, minhash_dedup_pairs, simhash_dedup_pairs,
    )

    runners = {
        "maint-16x16": lambda: neardup_maint(spark, n, 16, 16),
        "maint-256x64": lambda: neardup_maint(spark, n, 256, 64),
        "digmaint": lambda: digest_maint(spark, n),
        "prune": lambda: neardup_prune(spark, n),
        "reshard": lambda: neardup_reshard(spark, n),
        "simjoin": lambda: simhash_join_shapes(spark, n),
    }
    for case in [c for c in cases if c in runners]:
        runners[case]()
    if "minhash" not in cases and "simhash" not in cases:
        return
    df, d = stage_texts(spark, 0, n)
    if "minhash" in cases:
        mh, dig, s = clock(lambda: minhash_dedup_pairs(df, "text", "doc_id", threshold=0.5))
        emit(f"dedup/minhash/{n}", s, dig, recall_planted=_recall(mh, n))
        comp, cdig, s = clock(lambda: connected_components(mh))
        emit(f"dedup/minhash/{n}/components", s, cdig,
             groups=comp.select("component").distinct().count())
        # the path edges above the driver contract (>1M) take
        _, idig, s = clock(lambda: connected_components(mh, mode="iterative"))
        emit(f"dedup/minhash/{n}/components-iterative", s, idig,
             checks={"iterative_equals_driver_arm": idig == cdig})
    if "simhash" in cases:
        sh, dig, s = clock(lambda: simhash_dedup_pairs(df, "text", "doc_id", max_hamming=3))
        emit(f"dedup/simhash/{n}", s, dig, recall_planted=_recall(sh, n))
    release(d)


def neardup_maint(spark, n: int, prefixes: int, buckets: int) -> None:
    """Near-dup index maintenance: build once, append a 10k delta
    (timed against the accumulated re-join the delta costs without the
    index, pair sets equal), a 100-doc trickle append, then take down
    100 docs and compact.  The two cases are the recorded partition
    granularities: at 100k on an idle box 256 band prefixes x 64 id
    buckets ran 3-4x slower than 16 x 16 on every move (build 18 vs
    13 s, append 10k 44 vs 12, append 100 31 vs 11, compact 19 vs 8):
    4096 tiny band files cost more to list and write than their pruning
    saves, and the 100-doc append costs about the 10k one either way.
    Partition count is a data-volume knob (~128 MB per partition), not
    a delta-size knob."""
    from streaming_spark.operators.dedup import minhash_dedup_pairs
    from streaming_spark.operators.neardup_index import (
        neardup_index_append, neardup_index_build, neardup_index_compact,
        neardup_index_pairs, neardup_index_tombstone,
    )

    label = f"dedup/maint-{prefixes}x{buckets}/{n}"
    delta_n, small_n = min(10_000, n // 10), min(100, max(1, n // 100))
    df, d = stage_texts(spark, 0, n + delta_n + small_n)
    root = scratch.scratch_dir("scale_ndmaint", pin=True)
    idx = root + "/idx"
    live = lambda: digest(_pairs(neardup_index_pairs(spark, idx)))  # noqa: E731
    st: dict = {}
    _, _, s = clock(lambda: neardup_index_build(
        idx, df.filter(F.col("doc_id") < n), n_id_buckets=buckets,
        n_band_prefixes=prefixes, stats_out=st))
    emit(f"{label}/build", s, live(), pairs=st["new_pairs"])

    st = {}
    _, _, s = clock(lambda: neardup_index_append(
        idx, df.filter((F.col("doc_id") >= n) & (F.col("doc_id") < n + delta_n)),
        stats_out=st))
    _, batch, s_rejoin = clock(lambda: _pairs(minhash_dedup_pairs(
        df.filter(F.col("doc_id") < n + delta_n), "text", "doc_id", threshold=0.5)))
    maintained = live()
    emit(f"{label}/append-{delta_n}", s, maintained, new_pairs=st["new_pairs"],
         crossed_buckets=st["crossed_buckets"], retracted_pairs=st["retracted_pairs"],
         accumulated_rejoin_seconds=s_rejoin,
         checks={"pair_set_equals_rejoin": maintained == batch})

    st = {}
    _, _, s = clock(lambda: neardup_index_append(
        idx, df.filter(F.col("doc_id") >= n + delta_n), stats_out=st))
    emit(f"{label}/append-{small_n}", s, live(), new_pairs=st["new_pairs"],
         buckets_touched=st["buckets_touched"])

    victims = [int(v) for v in np.random.default_rng(n).choice(
        n, size=min(100, n // 20), replace=False)]
    st = {}
    _, _, s_tomb = clock(lambda: neardup_index_tombstone(spark, idx, victims, stats_out=st))
    cst, _, s = clock(lambda: neardup_index_compact(spark, idx))
    emit(f"{label}/takedown-compact", s, live(), tombstone_seconds=s_tomb,
         readmitted_pairs=st["readmitted_pairs"],
         sig_parts_rewritten=cst["sig_parts_rewritten"],
         band_parts_rewritten=cst["band_parts_rewritten"],
         rows_removed=cst["sig_rows_removed"])
    release(d, root)


def digest_maint(spark, n: int) -> None:
    """Exact-dedup digest index, the same protocol as the near-dup
    maintenance: build, a 10k append against the full batch recompute
    (re-scan the text, re-digest, re-window: one digest shuffle, linear
    in corpus bytes), a 100-doc trickle, a takedown of 100 docs (owners
    equal to the batch argmin over the live corpus, heirs promoted),
    then compact."""
    from streaming_spark.operators.digest_index import (
        digest_index_append, digest_index_build, digest_index_compact,
        digest_index_owners, digest_index_tombstone,
    )

    label = f"dedup/digmaint/{n}"
    delta_n, small_n = min(10_000, n // 10), min(100, max(1, n // 100))
    df, d = stage_texts(spark, 0, n + delta_n + small_n)
    root = scratch.scratch_dir("scale_digmaint", pin=True)
    idx = root + "/idx"

    def occ(docs):
        return docs.select(F.md5("text").alias("h"), "doc_id")

    def batch_owners(docs):
        return occ(docs).groupBy("h").agg(F.min("doc_id").alias("doc_id"))

    _, _, s = clock(lambda: digest_index_build(
        idx, occ(df.filter(F.col("doc_id") < n)), digest_col="h",
        n_prefixes=16, n_id_buckets=16))
    emit(f"{label}/build", s, digest(digest_index_owners(spark, idx)))

    st: dict = {}
    _, _, s = clock(lambda: digest_index_append(
        idx, occ(df.filter((F.col("doc_id") >= n) & (F.col("doc_id") < n + delta_n))),
        stats_out=st))
    _, batch, s_batch = clock(lambda: batch_owners(df.filter(F.col("doc_id") < n + delta_n)))
    _, owners, s_owners = clock(lambda: digest_index_owners(spark, idx))
    emit(f"{label}/append-{delta_n}", s, owners, digests_seen=st["digests_seen"],
         prefixes_probed=st["prefixes_probed"], batch_recompute_seconds=s_batch,
         owners_scan_seconds=s_owners, checks={"owners_equal_batch": owners == batch})

    st = {}
    _, _, s = clock(lambda: digest_index_append(
        idx, occ(df.filter(F.col("doc_id") >= n + delta_n)), stats_out=st))
    emit(f"{label}/append-{small_n}", s, digest(digest_index_owners(spark, idx)),
         prefixes_probed=st["prefixes_probed"])

    victims = sorted(int(v) for v in np.random.default_rng(n).choice(
        n, size=min(100, n // 20), replace=False))
    _, _, s_tomb = clock(lambda: digest_index_tombstone(spark, idx, victims))
    want = digests({
        "index": digest_index_owners(spark, idx),
        "batch": batch_owners(df.filter(~F.col("doc_id").isin(victims))),
    })
    cst, _, s = clock(lambda: digest_index_compact(spark, idx))
    emit(f"{label}/takedown-compact", s, digest(digest_index_owners(spark, idx)),
         tombstone_seconds=s_tomb, occ_rows_removed=cst["occ_rows_removed"],
         parts_rewritten=cst["parts_rewritten"],
         checks={"owners_equal_batch_after_takedown": want["index"] == want["batch"]})
    release(d, root)


def _scan_stats(df: DataFrame) -> tuple[int, int, int]:
    """(files, rows, bytes) the executed scan of ``df`` touched."""
    import urllib.parse

    per_file = (df.select(F.input_file_name().alias("f")).groupBy("f")
                .agg(F.count(F.lit(1)).alias("rows")).collect())
    size = sum(os.path.getsize(urllib.parse.unquote(r["f"]).replace("file://", ""))
               for r in per_file)
    return len(per_file), sum(r["rows"] for r in per_file), size


def _tree_bytes(root: str) -> tuple[int, int]:
    sizes = [os.path.getsize(os.path.join(p, f)) for p, _, names in os.walk(root)
             for f in names if f.endswith(".parquet")]
    return len(sizes), sum(sizes)


def neardup_prune(spark, n: int, prefixes: int = 64, synth_factor: int = 20) -> None:
    """Probe pruning of the near-dup band table at production-like
    partition fill.  Real arm: the operator lifecycle at N with 64 band
    prefixes (1024 band partitions), trickle appends of 1 / 10 / 100
    docs, each probe's combo filter re-derived and its executed scan
    measured against the whole table, pair set equal to the batch
    re-join at the end.  Synthetic arm: band rows alone for
    20 x N docs in the same layout, same trickle probes.  The law:
    a k-doc delta hits <= min(k, prefixes) prefixes per band, so the
    probe reads hit_combos / (bands x prefixes) of the table, decided
    from directory names at planning time."""
    from streaming_spark.io import local_frame
    from streaming_spark.operators.dedup import _banded, minhash_dedup_pairs, minhash_signatures
    from streaming_spark.operators.index_commit import read_table_or_empty
    from streaming_spark.operators.neardup_index import (
        _bands_schema, _combo_filter, _load_params, _pb_expr,
        neardup_index_append, neardup_index_build, neardup_index_pairs,
    )

    label = f"dedup/prune/{n}"
    trickles = (1, 10, 100)
    df, d = stage_texts(spark, 0, n + sum(trickles))
    root = scratch.scratch_dir("scale_ndprune", pin=True)
    idx = root + "/idx"
    _, _, s = clock(lambda: neardup_index_build(
        idx, df.filter(F.col("doc_id") < n), n_band_prefixes=prefixes, n_id_buckets=16))
    emit(f"{label}/build", s, digest(_pairs(neardup_index_pairs(spark, idx))),
         n_band_prefixes=prefixes)
    p = _load_params(idx)

    def probe(step, table, table_dir, combos, dig=None, **fields):
        probed = table.filter(_combo_filter(combos))
        pf, pr, pb = _scan_stats(probed)
        tf, tb = _tree_bytes(table_dir)
        emit(f"{label}/{step}", dig=dig or digest(probed),
             hit_combos=len(combos), combos_total=16 * prefixes, probe_files=pf,
             probe_rows=pr, probe_bytes=pb, table_files=tf, table_bytes=tb,
             bytes_frac=round(pb / tb, 4) if tb else None, **fields)

    lo = n
    for k in trickles:
        delta = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + k))
        lo += k
        st: dict = {}
        _, _, s = clock(lambda: neardup_index_append(idx, delta, stats_out=st))
        # the combo filter the append probed with, re-derived
        dbands = _banded(minhash_signatures(
            delta, p["text_col"], p["id_col"], p["num_perm"], p["shingle_k"], p["seed"],
        ), p["bands"]).withColumn("pb", _pb_expr(F.col("bh"), p["n_band_prefixes"]))
        combos = [(r["band_id"], r["pb"]) for r in dbands.select("band_id", "pb").distinct().collect()]
        full = read_table_or_empty(spark, idx + "/bands", _bands_schema(p))
        probe(f"probe-real-{k}", full, idx + "/bands", combos, append_seconds=s,
              new_pairs=st["new_pairs"])

    # the pruning numbers count only for an index that still equals the
    # batch pipeline
    _, batch, s = clock(lambda: _pairs(minhash_dedup_pairs(
        df.filter(F.col("doc_id") < lo), "text", "doc_id", threshold=0.5)))
    live = digest(_pairs(neardup_index_pairs(spark, idx)))
    emit(f"{label}/equality", s, live, checks={"pair_set_equals_rejoin": live == batch})
    release(d, root)

    n_eff = synth_factor * n
    sdir = scratch.scratch_dir("scale_ndprune_synth", pin=True)

    def synth_bands(ids: DataFrame) -> DataFrame:
        return ids.select("id", F.explode(F.array(*[F.lit(b) for b in range(16)])).alias(
            "band_id")).select(
            "id", F.xxhash64(F.concat_ws("|", "id", "band_id")).alias("bh"), "band_id",
        ).withColumn("pb", _pb_expr(F.col("bh"), prefixes))

    _, _, s = clock(lambda: synth_bands(spark.range(n_eff)).repartition(
        "band_id", "pb").write.partitionBy("band_id", "pb").parquet(sdir + "/bands"))
    stable = spark.read.parquet(sdir + "/bands")
    tf, tb = _tree_bytes(sdir + "/bands")
    emit(f"{label}/synth-stage", s, digest(stable), n_eff=n_eff, table_files=tf,
         table_bytes=tb, partitions=16 * prefixes)
    rng = np.random.default_rng(7)
    for k in trickles:
        ids = rng.integers(n_eff, n_eff * 2, size=k, dtype=np.int64)
        dbands = synth_bands(local_frame(spark, [(int(i),) for i in ids], "id BIGINT"))
        combos = [(r["band_id"], r["pb"]) for r in dbands.select("band_id", "pb").distinct().collect()]
        _, dig, s = clock(lambda: stable.filter(_combo_filter(combos)))
        probe(f"probe-synth-{k}", stable, sdir + "/bands", combos, dig,
              probe_scan_seconds=s, n_eff=n_eff)
    release(sdir)


def neardup_reshard(spark, n: int) -> None:
    """Reshard rebuilds bands and pairs from the staged signatures, so
    the O(N * len * num_perm) signature map is never re-paid: per N,
    build, then apply the saturation remedy (bucket cap 400, band
    prefixes doubled 16 -> 32) by a from-scratch rebuild (first, so
    load drift biases against it) and by reshard; both serve the same
    pair set."""
    from streaming_spark.operators.neardup_index import (
        neardup_index_build, neardup_index_pairs, neardup_index_reshard,
    )

    df, d = stage_texts(spark, 0, n)
    root = scratch.scratch_dir("scale_ndreshard", pin=True)
    idx, fresh = root + "/idx", root + "/fresh"
    _, _, s_build = clock(lambda: neardup_index_build(
        idx, df, n_id_buckets=16, n_band_prefixes=16))
    _, _, s_rebuild = clock(lambda: neardup_index_build(
        fresh, df, max_bucket=400, n_id_buckets=16, n_band_prefixes=32))
    st: dict = {}
    _, _, s = clock(lambda: neardup_index_reshard(
        spark, idx, max_bucket=400, n_band_prefixes=32, stats_out=st))
    resharded = digest(_pairs(neardup_index_pairs(spark, idx)))
    rebuilt = digest(_pairs(neardup_index_pairs(spark, fresh)))
    emit(f"dedup/reshard/{n}", s, resharded, build_seconds=s_build, rebuild_from_corpus_seconds=s_rebuild,
         reshard_over_rebuild=round(s / s_rebuild, 3) if s_rebuild else None,
         rows_live=st.get("rows_live"), pairs_after=st.get("pairs_after"),
         checks={"reshard_equals_rebuild": resharded == rebuilt})
    release(d, root)


def simhash_join_shapes(spark, n: int) -> None:
    """SimHash candidate stage as the banded self-join (the engine's)
    against a grouped collect_list rewrite, on one persisted signature
    frame large enough (4 band rows per doc) that the join cannot
    broadcast; each shape twice, alternating.  All four arms must
    return the same pairs."""
    from streaming_spark.operators.dedup import _simhash_pairs_from, simhash64

    df, d = stage_texts(spark, 0, n)
    sh = simhash64(df, "text", "doc_id").persist()
    digest(sh)  # materialize the cache off the clock
    max_hamming, bands, band_bits = 3, 4, 16

    def grouped_pairs():
        band = lambda i: F.shiftrightunsigned("simhash", band_bits * i).bitwiseAND(  # noqa: E731
            F.lit((1 << band_bits) - 1))
        banded = sh.select("id", "simhash", F.posexplode(
            F.array(*[band(i) for i in range(bands)])).alias("band_id", "band_val"))
        grouped = (banded.groupBy("band_id", "band_val")
                   .agg(F.collect_list(F.struct("id", "simhash")).alias("ms"))
                   .filter(F.size("ms") >= 2))
        pair_expr = (
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms) - i - 1), "
            "y -> struct(least(x.id, y.id) AS id_a, greatest(x.id, y.id) AS id_b, "
            "bit_count(x.simhash ^ y.simhash) AS hamming))))"
        )
        return (grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
                .select("p.id_a", "p.id_b", "p.hamming")
                .filter(F.col("id_a") < F.col("id_b")).distinct()
                .filter(F.col("hamming") <= max_hamming))

    def join_pairs():
        return _simhash_pairs_from(sh, max_hamming, bands, band_bits)

    first = None
    for arm, build in (("join", join_pairs), ("grouped", grouped_pairs),
                       ("join-2", join_pairs), ("grouped-2", grouped_pairs)):
        _, dig, s = clock(build)
        first = first or dig
        emit(f"dedup/simjoin/{n}/{arm}", s, dig, checks={"same_pairs_as_join": dig == first})
    sh.unpersist()
    release(d)


# ---------------------------------------------------------------- pipeline


def _quality(docs, id_col="doc_id", text_col="text"):
    """The Gopher + C4 gate with min_stop=0 (the generated vocabulary
    has no stopwords), shared by every arm."""
    from streaming_spark.operators.curation_incremental import default_quality_filter

    return default_quality_filter(docs, id_col=id_col, text_col=text_col, min_stop=0)


def _with_source(docs):
    return docs.withColumn("source", (F.col("doc_id") % 4).cast("string"))


def _staged(build, tag, dirs):
    """One pipeline stage on the clock: compute, write to scratch
    parquet, digest the read-back.  Returns (frame, digest, seconds)."""
    def run():
        out, d = scratch.stage(build(), tag)
        dirs.append(d)
        return out
    return clock(run)


def curate(filtered, raw, dirs, label=None):
    """The pipeline's global stages over quality-filtered docs:
    cross-doc line dedup + exact dedup on the cleaned digest (keep the
    min doc_id) -> MinHash-LSH pairs -> keep one per component ->
    decontamination against the doc_id % 97 == 0 slice of the raw
    corpus (an eval suite also scraped into the crawl).  Each stage is
    checkpointed to scratch, so its timing never replays upstream.
    With ``label`` every stage prints a line; returns the final docs."""
    from streaming_spark.operators.dedup import dedup_keep_one, minhash_dedup_pairs
    from streaming_spark.operators.text import line_dedup_clean
    from streaming_spark.queries.curation import benchmark_grams, decontaminate_against

    def exact():
        w = Window.partitionBy("cleaned_hash").orderBy("doc_id")
        keep = (line_dedup_clean(filtered).withColumn("rn", F.row_number().over(w))
                .filter("rn = 1").select("doc_id"))
        return filtered.join(keep, "doc_id")

    report = emit if label else (lambda *a, **k: None)
    exact_df, e_dig, s = _staged(exact, "scale_pipe_exact", dirs)
    report(f"{label}/line-exact-dedup", s, e_dig)
    surv, s_dig, s = _staged(lambda: dedup_keep_one(
        exact_df, minhash_dedup_pairs(exact_df, "text", "doc_id", threshold=0.5),
        "doc_id"), "scale_pipe_neardup", dirs)
    report(f"{label}/near-dedup", s, s_dig, removed=e_dig[0] - s_dig[0])
    bench = raw.filter("doc_id % 97 = 0")

    def decontaminate():
        flags = decontaminate_against(surv, benchmark_grams(bench))
        return surv.join(flags.filter("contaminated").select("doc_id"), "doc_id", "left_anti")

    clean, c_dig, s = _staged(decontaminate, "scale_pipe_clean", dirs)
    if label:
        # the floor: surviving docs that ARE benchmark docs (near-dedup
        # keeps the min id of a (bench, planted copy) pair)
        floor = surv.filter("doc_id % 97 = 0").count()
        removed = s_dig[0] - c_dig[0]
        emit(f"{label}/decontaminate", s, c_dig, bench_docs=bench.count(),
             contaminated_removed=removed, contaminated_floor=floor,
             checks={"floor_met": removed >= floor})
    return clean


def _ids(df):
    return digest(df.select("doc_id"))


def run_pipeline(spark, cases, n):
    for case in cases:
        {"batch": pipeline_batch, "streaming": pipeline_streaming,
         "incremental": pipeline_incremental, "backfill": pipeline_backfill}[case](spark, n)


def pipeline_batch(spark, n: int) -> None:
    """The composed curation pipeline a training-data run executes:
    quality filters -> line + exact dedup -> near-dup keep-one ->
    decontamination -> token accounting, each stage checkpointed.
    Exact dedup drops the planted copies none of whose words mutated
    (~N/5 * (19/20)^60, 0.94% of N); near-dup drops the rest."""
    from streaming_spark.operators.text import bpe_ish_token_count, token_count

    label, dirs = f"pipeline/batch/{n}", []
    t_all = time.perf_counter()
    raw, d = stage_texts(spark, 0, n)
    filtered, dig, s = _staged(lambda: _quality(_with_source(raw)), "scale_pipe_filtered", dirs)
    emit(f"{label}/quality-filters", s, dig)
    clean = curate(filtered, raw, dirs, label)
    stats = clean.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(token_count("text")).alias("ws_tokens"),
        F.sum(bpe_ish_token_count("text")).alias("bpe_tokens"),
    )
    _, dig, s = clock(lambda: stats)
    row = stats.first()
    emit(f"{label}/token-stats", s, dig, docs=int(row["docs"]),
         ws_tokens=int(row["ws_tokens"]), bpe_tokens=int(row["bpe_tokens"]))
    emit(f"{label}/total", round(time.perf_counter() - t_all, 2), _ids(clean), docs_in=n)
    release(d, *dirs)


def pipeline_streaming(spark, n: int) -> None:
    """Per-doc stages (quality filters) at ingest in foreachBatch
    micro-batches, the global stages over the accumulated sink, then
    the batch pipeline over the same corpus: the landed stages are
    per-doc pure and every global stage is deterministic in the ids,
    so the survivor sets must be equal."""
    from streaming_spark.queries.windows import _land_batch

    label, dirs = f"pipeline/streaming/{n}", []
    raw, d = stage_texts(spark, 0, n)
    sink = scratch.scratch_dir("scale_pipe_sink", pin=True)
    batches = []

    def land(batch_df, batch_id):
        # batch-keyed idempotent landing: a replayed micro-batch
        # overwrites its own partition
        _land_batch(_quality(_with_source(batch_df)), batch_id, sink + "/t")
        batches.append(batch_id)

    def ingest():
        (spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", 4)
         .parquet(d + "/t").writeStream.foreachBatch(land)
         .option("checkpointLocation", sink + "/ckpt").trigger(availableNow=True)
         .start().awaitTermination())
        return spark.read.parquet(sink + "/t").drop("__batch")

    streamed, dig, s = clock(ingest)
    emit(f"{label}/ingest-filters", s, dig, micro_batches=len(batches))
    _, tail, s = clock(lambda: curate(streamed, raw, dirs).select("doc_id"))
    emit(f"{label}/global-tail", s, tail)
    _, ref, s = clock(lambda: _batch_reference(_with_source(raw), raw, dirs))
    emit(f"{label}/batch-reference", s, ref,
         checks={"survivors_equal_batch": tail == ref})
    release(d, sink, *dirs)


def _batch_reference(docs, raw, dirs):
    filtered, _, _ = _staged(lambda: _quality(docs), "scale_pipe_ref", dirs)
    return curate(filtered, raw, dirs).select("doc_id")


_INGEST_KW = dict(digest_kwargs=dict(n_prefixes=16, n_id_buckets=4),
                  neardup_kwargs=dict(n_id_buckets=16, n_band_prefixes=16))


def pipeline_incremental(spark, n: int, n_batches: int = 8) -> None:
    """Every global stage maintained per ingest batch through
    curation_ingest_batch (line and exact dedup via digest indexes,
    near-dup via neardup_index_append, per-doc decontamination), in
    ascending doc_id ranges so first seen is the global min id.  The
    claim: per-batch seconds stay ~flat while the accumulated corpus
    grows 8x; the final fold (components -> keep one) equals the batch
    pipeline's survivors."""
    from streaming_spark.operators.curation_incremental import (
        _EXACT_SINK, curation_ingest_batch, curation_survivors,
    )
    from streaming_spark.queries.curation import benchmark_grams

    label, dirs = f"pipeline/incremental/{n}", []
    raw, d = stage_texts(spark, 0, n)
    grams = benchmark_grams(raw.filter("doc_id % 97 = 0")).localCheckpoint(eager=True)
    work = scratch.scratch_dir("scale_pipe_incr", pin=True)
    width = n // n_batches
    for b in range(n_batches):
        lo, hi = b * width, (b + 1) * width if b < n_batches - 1 else n
        docs = _with_source(raw.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)))
        _, _, s = clock(lambda: curation_ingest_batch(
            docs, work, b, bench_grams=grams, quality_filter=_quality, **_INGEST_KW))
        landed = spark.read.parquet(os.path.join(work, _EXACT_SINK)).filter(F.col("batch") == b)
        emit(f"{label}/batch-{b}", s, digest(landed.select("doc_id")), accumulated_hi=hi)
    _, fold, s = clock(lambda: curation_survivors(spark, work).select("doc_id"))
    emit(f"{label}/final-fold", s, fold)
    _, ref, s = clock(lambda: _batch_reference(_with_source(raw), raw, dirs))
    emit(f"{label}/batch-reference", s, ref,
         checks={"survivors_equal_batch": fold == ref})
    release(d, work, *dirs)


def pipeline_backfill(spark, n: int, late: int = 1_000, n_batches: int = 4) -> None:
    """Out-of-order backfill: after 4 ordered ingests over ids
    [late, late + N), a late batch of ``late`` docs with smaller ids and
    the exact texts of ingested docs steals line/exact ownership from
    each, so the whole resync cascade runs at delta scale; timed
    against the batch recompute over the same corpus, survivors equal."""
    from streaming_spark.operators.curation_incremental import (
        curation_backfill, curation_ingest_batch, curation_survivors,
    )
    from streaming_spark.queries.curation import benchmark_grams

    label, dirs = f"pipeline/backfill/{n}", []
    late = min(late, n // 4)
    raw, d = stage_texts(spark, 0, n + late)
    grams = benchmark_grams(raw.filter("doc_id % 97 = 0")).localCheckpoint(eager=True)
    work = scratch.scratch_dir("scale_pipe_backfill", pin=True)
    ingested = _with_source(raw.filter(F.col("doc_id") >= late))
    width = n // n_batches
    for b in range(n_batches):
        lo = late + b * width
        hi = late + (b + 1) * width if b < n_batches - 1 else late + n
        part = ingested.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        _, _, s = clock(lambda: curation_ingest_batch(
            part, work, b, bench_grams=grams, quality_filter=_quality, **_INGEST_KW))
        emit(f"{label}/ordered-batch-{b}", s, _ids(part))
    # ids [0, late) carrying the texts of ingested docs [late, 2 * late)
    late_docs = raw.filter((F.col("doc_id") >= late) & (F.col("doc_id") < 2 * late)).select(
        (F.col("doc_id") - late).alias("doc_id"), "text",
        ((F.col("doc_id") - late) % 4).cast("string").alias("source"),
    ).localCheckpoint(eager=True)
    full = ingested.select("doc_id", "text", "source").union(late_docs)
    st: dict = {}
    _, _, s = clock(lambda: curation_backfill(
        spark, late_docs, work, n_batches, full, bench_grams=grams,
        quality_filter=_quality, stats_out=st))
    emit(f"{label}/late-batch", s, _ids(late_docs),
         **{k: st.get(k) for k in ("affected_docs", "rekeyed_hashes", "nd_removed",
                                   "nd_added", "keep_size")})
    _, fold, s = clock(lambda: curation_survivors(spark, work).select("doc_id"))
    emit(f"{label}/final-fold", s, fold)
    _, ref, s = clock(lambda: _batch_reference(full, raw, dirs))
    emit(f"{label}/batch-reference", s, ref,
         checks={"survivors_equal_batch": fold == ref})
    release(d, work, *dirs)


# ---------------------------------------------------------------- streaming


def _shards(n: int) -> int:
    return 8 if n <= 20_000 else 16 if n <= 100_000 else 32 if n <= 1_000_000 else 64


def stage_events(spark, n: int):
    """The event corpus as mtime-ordered part files (one per contiguous
    event_id range, so arrival order is event-time order) plus a
    sentinel row (user_id -1, one week past the end) that drives the
    watermark past every real event: the mechanics of windows.py's
    _stage_stream_dir, over a generated corpus.  Returns (batch frame,
    stream dir, staged dir)."""
    n_keys = max(1, n // KEY_DIV)
    batch, d = stage_rows(spark, lambda ids: gen_events(ids, n_keys),
                          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE",
                          0, n, "scale_events", parts=_shards(n))
    stream_dir = d + "/stream"
    os.makedirs(stream_dir)
    parts = sorted(e for e in os.listdir(d + "/t") if e.startswith("part-") and e.endswith(".parquet"))
    base = int(time.time()) - len(parts) - 3
    for i, e in enumerate(parts):
        dst = os.path.join(stream_dir, f"part-{i:05d}.parquet")
        os.link(os.path.join(d, "t", e), dst)
        os.utime(dst, (base + i, base + i))
    sentinel = pd.DataFrame({"event_id": [-1], "user_id": [-1], "value": [0.0],
                             "ts": [pd.to_datetime(BASE_EPOCH + n + 7 * 86400, unit="s")]})
    spath = os.path.join(stream_dir, f"part-{len(parts):05d}.parquet")
    # microsecond timestamps: pandas writes TIMESTAMP(NANOS) by default
    sentinel.to_parquet(spath, coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(spath, (base + len(parts), base + len(parts)))
    return batch, stream_dir, d


def run_streaming(spark, cases, n):
    """The three streaming spines over N events, each checked exactly
    against its batch twin.  ``rollup``: per-micro-batch groupBy
    partials landed idempotently and merged at read time (counts equal,
    float sums within 1e-6).  ``rolling-mean``: applyInPandasWithState
    per-key rolling mean over N/100 keys, row for row within 1e-9.
    ``join``: the stream-stream interval join (four state stores per
    partition per side; watermark + 1 h bound keep state at the
    lateness horizon).  ``windowed-agg``: 2 h watermark + 1 h tumbling
    window in append mode, flushed by the sentinel.  ``-p8`` / ``-p32``
    are the state-partition counts: stateful maps invert at volume (32
    beat 8 ~2x at 1M/4M) while joins do not (8 beat 32 even at 4M)."""
    from streaming_spark.queries.windows import _land_batch, _run_foreach_batch, _run_until_watermark
    from streaming_spark.streaming.core import stateful_rolling_mean

    batch, stream_dir, d = stage_events(spark, n)
    real = lambda df: df.filter(F.col("user_id") >= 0)  # noqa: E731
    fpt = max(1, _shards(n) // 8)  # ~8 micro-batches

    def stream():
        return (spark.readStream.schema(batch.schema)
                .option("maxFilesPerTrigger", fpt).parquet(stream_dir))

    def run(case, query, state_partitions=8):
        sink = scratch.scratch_dir("scale_ssink") + "/t"
        _run_foreach_batch(query, lambda df, bid: _land_batch(df, bid, sink),
                           f"scale_{case}", timeout_s=1200,
                           state_partitions=state_partitions)
        return spark.read.parquet(sink)

    def mismatches(got, want, keys, col, tol):
        return got.alias("s").join(want.alias("b"), keys, "full").filter(
            F.col(f"s.{col}").isNull() | F.col(f"b.{col}").isNull()
            | (F.abs(F.col(f"s.{col}") - F.col(f"b.{col}")) > tol)).count()

    for case in cases:
        label = f"streaming/{case}/{n}"
        sp = 32 if case.endswith("p32") else 8
        if case == "rollup":
            agg = lambda df: df.groupBy("user_id").agg(  # noqa: E731
                F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("s"))
            sink = scratch.scratch_dir("scale_ssink") + "/t"

            def rollup():
                _run_foreach_batch(real(stream()), lambda df, bid: _land_batch(agg(df), bid, sink),
                                   "scale_rollup", timeout_s=1200)
                return spark.read.parquet(sink).groupBy("user_id").agg(
                    F.sum("cnt").alias("cnt"), F.sum("s").alias("s"))

            merged, dig, s = clock(rollup)
            twin = agg(real(batch))
            # counts exact, float sums within 1e-6 (summation order differs)
            bad = (mismatches(merged, twin, ["user_id"], "cnt", 0)
                   + mismatches(merged, twin, ["user_id"], "s", 1e-6))
            emit(label, s, dig, batches=spark.read.parquet(sink).select("__batch").distinct().count(),
                 checks={"equals_batch_twin": bad == 0})
        elif case.startswith("rolling-mean"):
            out, dig, s = clock(lambda: run(case, stateful_rolling_mean(real(stream())), sp)
                                .select("user_id", "event_id", "rolling_mean"))
            w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
            twin = real(batch).select("user_id", "event_id", F.avg("value").over(w).alias("rolling_mean"))
            bad = mismatches(out, twin, ["user_id", "event_id"], "rolling_mean", 1e-9)
            emit(label, s, dig, checks={"equals_batch_twin": bad == 0})
        elif case.startswith("join"):
            def side(parity, p):
                return lambda df: df.filter(F.col("event_id") % 2 == parity).select(
                    F.col("user_id").alias(f"{p}_user"), F.col("event_id").alias(f"{p}_event"),
                    F.col("ts").alias(f"{p}_ts"))
            left, right = side(0, "l"), side(1, "r")
            cond = ((F.col("l_user") == F.col("r_user")) & (F.col("r_ts") >= F.col("l_ts"))
                    & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")))
            query = lambda: left(real(stream()).withWatermark("ts", "2 hours")).join(  # noqa: E731
                right(real(stream()).withWatermark("ts", "2 hours")), cond, "inner")
            _, dig, s = clock(lambda: run(case, query(), sp).select("l_event", "r_event"))
            twin = digest(left(real(batch)).join(right(real(batch)), cond, "inner")
                          .select("l_event", "r_event"))
            emit(label, s, dig, checks={"equals_batch_twin": dig == twin})
        else:  # windowed-agg
            agg = (stream().withWatermark("ts", "2 hours")
                   .groupBy(F.window("ts", "1 hour"), (F.col("user_id") >= 0).alias("r"))
                   .agg(F.count(F.lit(1)).alias("cnt")))
            until = dt.datetime.fromtimestamp(BASE_EPOCH + n + 1, dt.timezone.utc).replace(tzinfo=None)
            _, dig, s = clock(lambda: _run_until_watermark(
                agg, f"scale_win_{n}", until, timeout_s=1200).filter("r").select(
                F.col("window.start").alias("start"), "cnt"))
            twin = digest(real(batch).groupBy(F.window("ts", "1 hour")).agg(
                F.count(F.lit(1)).alias("cnt")).select(F.col("window.start").alias("start"), "cnt"))
            emit(label, s, dig, checks={"equals_batch_twin": dig == twin})
    release(d)


# ---------------------------------------------------------------- tar


def stage_shards(n_shards: int, per_shard: int) -> str:
    """Tar shards written one member at a time (constant memory)."""
    import io
    import tarfile

    d = scratch.scratch_dir("scale_tar", pin=True)
    for s in range(n_shards):
        with tarfile.open(os.path.join(d, f"shard-{s:05d}.tar"), "w") as tf:
            for m in range(per_shard):
                sid = s * per_shard + m
                data = gen_payload(sid)
                info = tarfile.TarInfo(name=f"{sid:08d}.bin")
                info.size, info.mtime = len(data), 0
                tf.addfile(info, io.BytesIO(data))
    return d


def _bad_blobs(batches):
    """The members whose md5 differs from that of the payload
    re-derived from their sample id, on the executor."""
    for pdf in batches:
        bad = [k for k, blob in zip(pdf["sample_key"], pdf["blob"])
               if hashlib.md5(bytes(blob)).digest() != hashlib.md5(gen_payload(int(k))).digest()]
        yield pd.DataFrame({"sample_key": pd.Series(bad, dtype=object)})


def run_tar(spark, cases, n):
    """Webdataset-style tar ingest.  binaryFile reads one task per
    shard (tar has no index to split on), so parallelism is the shard
    count: ``shards-4`` against ``shards-16`` at the same 1 GB is the
    recorded comparison.  read_tar_members flushes a batch every 64 MB
    of payload, so 256 MB shards take the multi-flush path.  Then the
    per-blob md5 re-derivation and three downstream chains: the Arrow
    feature UDF stand-in, the one-to-many frame explode, 32x32 -> 8x8
    decode + resize."""
    from streaming_spark.operators.multimodal import (
        fake_decode_features, fake_decode_image, frame_sample, read_tar_members,
        resize_images,
    )

    for case in cases:
        n_shards = int(case.split("-")[1])
        per_shard = max(1, n // n_shards)
        members = n_shards * per_shard
        label = f"tar/{case}/{members}"
        tag = dict(members=members, total_mb=members * MEMBER_KB // 1024)
        d = stage_shards(n_shards, per_shard)
        _, dig, s = clock(lambda: read_tar_members(spark, d))
        total = read_tar_members(spark, d).agg(F.sum("n_bytes")).first()[0]
        emit(f"{label}/ingest", s, dig, **tag, mb_per_s=round(tag["total_mb"] / s, 1) if s else None,
             checks={"bytes_total": total == members * MEMBER_KB * 1024})
        _, dig, s = clock(lambda: read_tar_members(spark, d).select("sample_key", "blob")
                          .mapInPandas(_bad_blobs, "sample_key STRING"))
        emit(f"{label}/md5-rederive", s, dig, **tag, checks={"blobs_byte_exact": dig[0] == 0})
        blobs, md = scratch.stage(read_tar_members(spark, d).select(
            F.col("sample_key").cast("bigint").alias("id"), "blob"), "scale_tar_members")
        for step, build in (
            ("fake-decode", lambda: fake_decode_features(blobs, dim=16)),
            ("frame-sample", lambda: frame_sample(blobs, frame_bytes=4096, max_frames=8)),
            ("resize-32to8", lambda: resize_images(
                fake_decode_image(blobs, height=32, width=32), out_h=8, out_w=8)),
        ):
            _, dig, s = clock(build)
            emit(f"{label}/{step}", s, dig, **tag)
        release(d, md)


# ---------------------------------------------------------------- 10x


def replicate(df, times: int, id_cols: list[str], step: int):
    """``times`` copies with ids offset by ``step``, so keys stay
    distinct and near-dup structure replicates."""
    if times == 1:
        return df
    parts = [df.select(*[(F.col(c) + i * step).alias(c) if c in id_cols else c
                         for c in df.columns]) for i in range(times)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()


def run_10x(spark, cases, r):
    """The sf0.1 fixtures unioned ``r`` times with offset ids, the local
    proxy for whether a plan shape survives a scale-up (ARCHITECTURE
    section 7); compare r = 1 with r = 10."""
    import pyarrow.parquet as pq
    from bench import SF_DIR

    from streaming_spark import load_tables
    from streaming_spark.io import table_path
    from streaming_spark.operators import curation, multimodal
    from streaming_spark.operators.pipe import pipe_df
    from streaming_spark.operators.similarity import ivf_topk
    from streaming_spark.queries.curation import decontaminate_flags
    from streaming_spark.queries.streamops import _DF_CHILD_SUM, _child_cmd
    from streaming_spark.queries.windows import funnel_counts

    t = load_tables(spark, SF_DIR)
    dirs = []

    def samples():
        base = pq.read_table(table_path(SF_DIR, "documents"), columns=["doc_id", "text"])
        return [(str(int(k) + i * 10_000_000), "txt", (s or "").encode())
                for i in range(r)
                for k, s in zip(base["doc_id"].to_pylist(), base["text"].to_pylist())]

    # the replicas are built and checkpointed off the clock
    inputs = {
        "docs": lambda: replicate(t["documents"], r, ["doc_id"], 10_000_000),
        "lineitem": lambda: replicate(t["lineitem"].select("l_orderkey", "l_quantity"), r,
                                      ["l_orderkey"], 100_000_000),
        "events": lambda: replicate(t["events"], r, ["user_id", "event_id"], 10_000_000),
        "embeddings": lambda: replicate(t["embeddings"], r, ["vec_id"], 1_000_000),
        "samples": samples,
    }

    def sorted_layout(li):
        path = scratch.scratch_dir("scale_layout")
        dirs.append(path)
        curation.write_sorted_layout(li, path + "/t", "l_orderkey", n_files=32)
        return spark.read.parquet(path + "/t")

    def tar_ingest(samples):
        path = scratch.scratch_dir("scale_tar10x")
        dirs.append(path)
        multimodal.write_tar_shards(samples, path, n_shards=min(32, 8 * r))
        return multimodal.read_tar_members(spark, path)

    def multires(ev):
        m = ev.groupBy(
            "event_type", F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).alias("bucket"),
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        h = m.groupBy("event_type", (F.floor(F.col("bucket") / 3600) * 3600).alias("bucket")).agg(
            F.sum("n").alias("n"), F.sum("s").alias("s"))
        return m.unionByName(h)

    ops = {
        "pack-sequences": ("docs", curation.pack_sequences),
        "sorted-layout": ("lineitem", sorted_layout),
        "pipe-df": ("lineitem", lambda li: pipe_df(
            li.select("l_quantity"), _child_cmd(_DF_CHILD_SUM), "s DOUBLE, n INT")),
        "ivf-topk": ("embeddings", lambda emb: ivf_topk(
            emb, t["embeddings"].filter(F.col("vec_id") < 8), dim=64, k=5, n_cells=8, nprobe=4)),
        "tar-ingest": ("samples", tar_ingest),
        "funnel": ("events", funnel_counts),
        "decontaminate": ("docs", lambda docs: decontaminate_flags(docs, F.col("doc_id") % 97 == 0)),
        "multires": ("events", multires),
    }
    made: dict = {}
    for case in cases:
        need, op = ops[case]
        if need not in made:
            made[need] = inputs[need]()
        _, dig, s = clock(lambda: op(made[need]))
        emit(f"10x/{case}/{r}", s, dig)
    release(*dirs)


# ---------------------------------------------------------------- driver

_SWEEP = (2_000, 20_000, 50_000, 100_000, 200_000)
_INDEX_NS = (100_000, 500_000, 1_000_000)
_EVENTS = (100_000, 1_000_000, 4_000_000)
CASES = {
    "blocked": {c: _SWEEP for c in ("pairs-clustered", "nn-clustered",
                                    "pairs-uniform", "nn-uniform")},
    "ann": {"uniform": (100_000,), "clustered": (100_000, 500_000, 1_000_000)},
    "dedup": {
        "minhash": (10_000, 50_000, 200_000, 500_000, 1_000_000),
        "simhash": (10_000, 50_000, 200_000, 500_000, 1_000_000),
        "maint-16x16": _INDEX_NS, "maint-256x64": (100_000,), "digmaint": _INDEX_NS,
        "prune": (1_000_000,), "reshard": _INDEX_NS, "simjoin": (1_000_000,),
    },
    "pipeline": {"batch": (50_000, 200_000, 1_000_000), "streaming": (1_000_000,),
                 "incremental": (1_000_000,), "backfill": (1_000_000,)},
    "streaming": {"rollup": _EVENTS, "rolling-mean-p8": _EVENTS,
                  "rolling-mean-p32": _EVENTS[1:], "join-p8": _EVENTS,
                  "join-p32": _EVENTS[1:], "windowed-agg": _EVENTS},
    "tar": {"shards-4": (512, 10_240), "shards-16": (4_096, 10_240), "shards-32": (20_480,)},
    "10x": {c: (1, 10) for c in ("pack-sequences", "sorted-layout", "pipe-df", "ivf-topk",
                                 "tar-ingest", "funnel", "decontaminate", "multires")},
}
RUNNERS = {"blocked": run_blocked, "ann": run_ann, "dedup": run_dedup,
           "pipeline": run_pipeline, "streaming": run_streaming, "tar": run_tar,
           "10x": run_10x}


def plan(family: str, case_arg: str | None, n_arg: str | None) -> dict[int, list[str]]:
    """{n: the cases to run at n}, in CASES order."""
    cases = CASES[family]
    picked = case_arg.split(",") if case_arg else list(cases)
    unknown = [c for c in picked if c not in cases]
    if unknown:
        raise SystemExit(f"unknown {family} case(s) {unknown}; known: {list(cases)}")
    ns = [int(x) for x in n_arg.split(",")] if n_arg else None
    out: dict[int, list[str]] = {}
    for case in cases:
        if case in picked:
            for n in ns or cases[case]:
                out.setdefault(n, []).append(case)
    return dict(sorted(out.items()))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--family", required=True, choices=list(CASES))
    p.add_argument("--case", help="comma-separated cases of the family (default: all)")
    p.add_argument("--n", help="comma-separated sizes (default: each case's recorded sizes)")
    args = p.parse_args(argv)
    todo = plan(args.family, args.case, args.n)

    spark = get_spark(app_name=f"scale-{args.family}")
    # warm the JVM, the Python worker pool and the parquet write path
    warm, d = stage_texts(spark, 0, 1_000)
    digest(warm)
    release(d)
    for n, cases in todo.items():
        RUNNERS[args.family](spark, cases, n)
    spark.stop()
    if _FAILED:
        sys.exit("failed checks: " + "; ".join(_FAILED))


if __name__ == "__main__":
    main()
