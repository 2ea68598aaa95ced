"""Similarity search, pairs and quantizers over embedding columns
(array<float>).

Families:

- Exact top-k: ``cosine_topk`` broadcasts the query matrix and keeps a
  running top-(k+1) per partition; ``exact_nn_topk`` (self top-k) and
  ``cosine_pairs`` (threshold pairs) take a broadcast arm on small
  tables, else an arm blocked over IVF cells with triangle-inequality
  pruning (``cosine_pairs`` also has an LSH arm).
- LSH: ``lsh_bucket_topk`` / ``lsh_multiprobe_topk`` bucket both sides
  by random hyperplanes and score only within matching buckets.
- IVF: ``ivf_centroids`` (spherical k-means on a sample),
  ``ivf_assign``, ``ivf_topk``; ``spherical_kmeans_full`` runs Lloyd
  over the whole corpus.
- PQ: ``pq_topk``, ``ivfpq_topk`` and ``ivfpq_topk_local`` (shared or
  per-cell residual codebooks), with OPQ rotations from ``opq_train``
  / ``opq_train_residual``; all serve by ADC (asymmetric distance
  computation) over stored codes, then rerank exactly.
- The staged-index lifecycle (``ann_index_save`` … ``ann_index_compact``),
  ``semdedup`` and ``decontamination_audit``.

Each shared step has one owner:

- exact top-r selection under (sim DESC, id ASC):
  ``_top_by_sim_then_id``; non-finite sims are never returned, every
  finite candidate is ranked;
- per-query exact top-k with equal ids skipped: ``_topk_rows`` (one
  sims block; the broadcast arm of ``exact_nn_topk``), chunked by
  ``_topk_against`` (its blocked arm);
- running top-R across a partition's chunks: ``_RunningTopR``
  (``cosine_topk`` and the ADC scan);
- final per-query rank window: ``_rank_window``;
- small-table collect into (ids, row-normalized float64 matrix):
  ``_collect_queries``;
- IVF probe rule: ``probed_from_qc``;
- training sample: ``_md5_sample`` (md5-of-id order, bounded collect);
- spherical Lloyd update: ``_spherical_lloyd``;
- PQ codebook k-means: ``_train_pq_books``;
- nearest sub-codeword: ``_nearest_codeword`` (``_pq_codes`` per row);
- residual step (cell, then subtract): ``_residuals``;
- OPQ alternation (Procrustes): ``_opq_alternation``;
- IVF-PQ encode map: ``_ivfpq_encode_rows``;
- IVF-PQ serve preamble: ``_ivfpq_serve_setup``;
- ADC scan, candidate window and rerank: ``_adc_topk`` with its
  per-partition ``_RunningTopR``; each variant passes only its score
  function;
- exact rerank of candidate pairs: ``_topk_on_candidates``.

Everything is deterministic (fixed seeds and inits, md5-ordered
samples, float64 accumulation, (sim DESC, id ASC) tie-breaks).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_spark.io import local_frame
from streaming_spark.operators.stream import (
    _broadcast_bounded,
    ensure_parallelism,
    stream,
)
from streaming_spark.telemetry import log_candidate_volume


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    """Row-normalize with a zero guard: an all-zero vector (padding row,
    failed upstream embed) stays zero instead of going NaN and silently
    poisoning every downstream matmul/argmax.  Nonzero rows divide by
    their EXACT norm (no epsilon clamp) so the matmul arms and the
    JVM-side ``_cosine_expr`` (which divides by the exact norm product
    and coalesces the 0/0 case to 0.0) agree bit for bit on every
    input, including denormal-tiny vectors — the arms-agree contracts
    rest on it."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms > 0, norms, 1.0)


def _matrix(pdf_vecs) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf_vecs])


def _top_by_sim_then_id(sims: np.ndarray, ids: np.ndarray, r: int) -> np.ndarray:
    """Indices of the EXACT top-``r`` of (sims, ids) under the global
    (sim DESC, id ASC) total order — the tie-break every final window
    and every DuckDB oracle in this module uses.  A bare argpartition on
    sim keeps an ARBITRARY member of a tie straddling the r-th slot,
    which diverges from that order precisely when the corpus contains
    duplicate vectors (bit-identical sims — which dedup corpora contain
    by construction).  Selection under a total order is mergeable, so
    using this at every partial/compaction boundary makes the partial
    stages exactly what the global window would keep.

    O(n) in the candidate count (argpartition prefilter, then id-refine
    only the entries tying the cut value) — no full sort.

    CALLER CONTRACT: ``sims`` must be NaN-free (replace NaN with -inf
    first — see :func:`_nan_to_neginf`; a NaN cut value would empty
    both comparison masks and return fewer than r indices, crashing
    the rectangular partial buffers downstream).  The sanitization
    lives at the per-CHUNK call sites rather than here so the hot
    per-query row loop doesn't pay a redundant isnan scan per call."""
    n = len(sims)
    if r >= n:
        return np.arange(n)
    part = np.argpartition(-sims, r - 1)
    cut = sims[part[r - 1]]  # the r-th largest sim value
    gt = np.flatnonzero(sims > cut)
    need = r - len(gt)  # >= 1: at most r-1 entries exceed the r-th largest
    eq = np.flatnonzero(sims == cut)
    if need < len(eq):  # boundary tie: keep the smallest ids
        eq = eq[np.argpartition(ids[eq], need - 1)[:need]]
    return np.concatenate([gt, eq])


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``vectors``.

    Output: (query_id, neighbor_id, sim, rank), self-matches excluded.
    """
    q_ids, q_norm = _collect_queries(queries, vec_col, id_col)

    # Partial stage: ONE top-(k+1) emission per PARTITION, accumulated
    # across that partition's Arrow chunks by a _RunningTopR.  The +1
    # slot absorbs a query's own row when it lives in this partition;
    # self-matches are dropped JVM-side below, so the final window still
    # sees >= k true neighbors per partition.  This keeps the global
    # shuffle at O(partitions x Q x k) — independent of partition row
    # count — where a per-chunk emission grows with corpus_rows /
    # chunk_size (at 1M x 64-dim: ~100 chunks -> 1.1M partial rows vs
    # 32 partitions -> 35k).  Offers go one query ROW at a time,
    # deliberately not argpartition(axis=1): the vectorized form
    # allocates two (Q, rows)-sized temporaries per chunk (~160 MB at
    # Q=1000, 10k-row chunks) — measured 10-40x slowdowns with bimodal
    # stalls when 32 workers churn those mmap-sized blocks concurrently.
    q_bc = _broadcast_bounded(
        vectors.sparkSession.sparkContext, (q_ids, q_norm)
    )

    def part_topk(batches):
        q_ids, q_norm = q_bc.value
        state = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _norm_rows(_matrix(pdf[vec_col]))
            sims = q_norm @ mat.T  # (Q, rows)
            ids = pdf[id_col].to_numpy()
            if state is None:
                state = _RunningTopR(len(q_ids), k + 1)
            for qi in range(len(q_ids)):
                state.offer(qi, sims[qi], ids)
        out = None if state is None else state.flush(q_ids)
        if out is not None:
            yield out.set_axis(["query_id", "neighbor_id", "sim"], axis=1)

    partials = (
        ensure_parallelism(vectors.select(id_col, vec_col))
        .mapInPandas(part_topk, "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank_window(partials, k).select(
        "query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank"
    )


def _rank_window(
    df: DataFrame,
    k: int,
    sim: str = "sim",
    neighbor: str = "neighbor_id",
    rank: str = "rank",
) -> DataFrame:
    """THE final per-query rank: ``row_number`` over each ``query_id``
    ordered (sim DESC, neighbor ASC), kept through rank ``k`` — the
    window every top-k family ends in, and the total order every partial
    stage above it selects under (:func:`_top_by_sim_then_id`)."""
    w = Window.partitionBy("query_id").orderBy(F.col(sim).desc(), F.col(neighbor))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _nan_to_neginf(sims: np.ndarray) -> np.ndarray:
    """Replace NaN sims with -inf (one scan; returns the input when
    clean): a NaN-poisoned upstream embedding (_norm_rows guards exact
    zeros, not NaN components) must degrade — never selected ahead of a
    real candidate — rather than crash the exact-selection helper.
    Called once per CHUNK/offer, not per query row."""
    if np.isnan(sims).any():
        return np.where(np.isnan(sims), -np.inf, sims)
    return sims


def probed_from_qc(qc: np.ndarray, nprobe: int) -> np.ndarray:
    """(Q, p) probed-cell ids from a query×centroid similarity matrix —
    THE probe rule, shared by the IVF-PQ serve paths and the layout
    probes (ann_topk_ivfpq_pruned, scripts/scale.py --family ann) so the
    driver-side scan accounting can never diverge from what the
    operator actually scans (including the min(nprobe, n_cells)
    clamp)."""
    p = min(nprobe, qc.shape[1])
    return np.argpartition(-qc, p - 1, axis=1)[:, :p]


def _prune_to_probed_cells(
    enc: DataFrame, probed: np.ndarray, n_cells: int
) -> DataFrame:
    """Batch-union scan pruning, shared by both IVF-PQ serve paths:
    restrict the code-table scan to the UNION of the batch's probed
    cells.  Semantically a no-op — the per-query in-map mask drops
    unprobed rows anyway — but the filter reaches the SCAN: on a
    cell-PARTITIONED staged layout (write.partitionBy("cell"), cf.
    ann_topk_ivfpq_pruned) unprobed directories are never listed
    (partition pruning at planning time), and on a flat layout it still
    pushes to parquet row-group min/max stats.  This is the
    nprobe/n_cells I/O bound the inverted file exists for; skipped when
    the batch probes every cell."""
    probed_union = np.unique(probed)
    if len(probed_union) < n_cells:
        return enc.filter(
            F.col("cell").isin([int(c) for c in probed_union])
        )
    return enc


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bits: int = 12,
    n_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Attach (table_id, bucket) LSH keys: sign-bits of ``n_bits`` random
    projections per table, packed into a long."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_bits, dim))

    def bucketize(pdf: pd.DataFrame, side) -> pd.DataFrame:
        pl = side
        if len(pdf) == 0:
            return None
        mat = _matrix(pdf[vec_col])
        frames = []
        for t in range(pl.shape[0]):
            proj = mat @ pl[t].T  # (rows, n_bits)
            bits = (proj > 0).astype(np.int64)
            bucket = np.zeros(len(mat), dtype=np.int64)
            for bit in range(pl.shape[1]):
                bucket |= bits[:, bit] << bit
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "table_id": t,
                        "bucket": bucket,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    keyed = stream(
        df.select("vec_id", vec_col),
        bucketize,
        "vec_id BIGINT, table_id INT, bucket BIGINT",
        side_input=planes,
    )
    return keyed


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 10,
    n_tables: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket in any
    table.  At 100 TB this replaces the brute-force scan with a shuffle
    keyed by (table, bucket) whose fan-in is tunable via n_bits."""
    vb = hyperplane_buckets(vectors, vec_col, dim, n_bits, n_tables)
    qb = hyperplane_buckets(queries, vec_col, dim, n_bits, n_tables).withColumnRenamed(
        "vec_id", "query_id"
    )
    cand = (
        qb.join(vb, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _topk_on_candidates(cand, queries, vectors, k, vec_col)


def multiprobe_query_buckets(
    queries: DataFrame,
    vec_col: str,
    dim: int,
    n_bits: int = 12,
    n_tables: int = 1,
    n_probes: int = 8,
    seed: int = 42,
    id_col: str = "query_id",
) -> DataFrame:
    """Query-directed multi-probe bucket generation (Lv et al. 2007,
    "Multi-Probe LSH", VLDB): besides its home bucket, each query probes
    the buckets reached by flipping the sign bits whose projections lie
    CLOSEST to their hyperplane — the buckets most likely to hold
    near-neighbors that landed just across a boundary.  Perturbation
    sets (single flips and pairs among the 8 smallest margins) are
    ranked by total flipped margin; the ``n_probes - 1`` cheapest join
    the home bucket.

    The same planes as :func:`hyperplane_buckets` at the same seed, so
    probe buckets address the SAME stored index — multi-probe buys the
    recall of many tables for the index cost of one (the index is built
    and stored once; only the query side fans out).  Queries are small
    by contract, so the per-row perturbation loop is driver-negligible
    and runs in one narrow Arrow map."""
    assert n_bits <= 63, "bucket packs into a signed long: n_bits <= 63"
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_bits, dim))

    def probe(pdf: pd.DataFrame, side) -> pd.DataFrame:
        pl, nprobe = side
        if len(pdf) == 0:
            return None
        mat = _matrix(pdf[vec_col])
        ids = pdf["vec_id"].to_numpy()
        nb = pl.shape[1]
        m_sub = min(nb, 8)
        out_id, out_t, out_b = [], [], []
        for t in range(pl.shape[0]):
            proj = mat @ pl[t].T  # (rows, n_bits)
            bits = (proj > 0).astype(np.int64)
            home = np.zeros(len(mat), dtype=np.int64)
            for bit in range(nb):
                home |= bits[:, bit] << bit
            margins = np.abs(proj)
            for r in range(len(mat)):
                order = np.argsort(margins[r], kind="stable")[:m_sub]
                cands: list[tuple[float, int]] = []
                for i in range(len(order)):
                    bi = int(order[i])
                    cands.append((float(margins[r, bi]), 1 << bi))
                    for j in range(i + 1, len(order)):
                        bj = int(order[j])
                        cands.append(
                            (
                                float(margins[r, bi] + margins[r, bj]),
                                (1 << bi) | (1 << bj),
                            )
                        )
                cands.sort()
                masks = [0] + [m for _, m in cands[: max(0, nprobe - 1)]]
                for msk in masks:
                    out_id.append(ids[r])
                    out_t.append(t)
                    out_b.append(int(home[r]) ^ msk)
        return pd.DataFrame({id_col: out_id, "table_id": out_t, "bucket": out_b})

    return stream(
        queries.select("vec_id", vec_col),
        probe,
        f"{id_col} BIGINT, table_id INT, bucket BIGINT",
        side_input=(planes, n_probes),
    )


def lsh_multiprobe_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 10,
    n_tables: int = 1,
    n_probes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-probe LSH: the index is ONE (or few)
    hyperplane tables; each query probes its ``n_probes`` most promising
    buckets (query-directed perturbation, :func:`multiprobe_query_buckets`).

    The scale trade vs :func:`lsh_bucket_topk`: single-probe buys recall
    with ``n_tables``, multiplying the stored index and the index-side
    shuffle by T; multi-probe buys it with ``n_probes``, multiplying only
    the QUERY-side bucket keys — at 100 TB the index is the cost that
    matters (built once, T× storage and write amplification), so
    multi-probe is the standard deployment.  Candidate scoring and the
    exact verify tail are shared (:func:`_topk_on_candidates`)."""
    vb = hyperplane_buckets(vectors, vec_col, dim, n_bits, n_tables)
    qb = multiprobe_query_buckets(
        queries, vec_col, dim, n_bits, n_tables, n_probes
    )
    cand = (
        qb.join(vb, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _topk_on_candidates(cand, queries, vectors, k, vec_col)


def _topk_on_candidates(
    cand: DataFrame, queries: DataFrame, vectors: DataFrame, k: int, vec_col: str
) -> DataFrame:
    """Score (query_id, vec_id) candidate pairs with JVM-side cosine and
    keep the per-query top-k — the shared tail of every blocked ANN path
    (LSH buckets, IVF cells).  Queries broadcast; candidates join the
    vectors table on its id (one shuffle proportional to candidates)."""
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    vv = vectors.select("vec_id", F.col(vec_col).alias("v_vec"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(vv, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine_expr("q_vec", "v_vec").alias("sim"),
        )
    )
    return _rank_window(scored, k).select(
        "query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank"
    )


def _md5_sample(
    vectors: DataFrame, id_col: str, vec_col: str, limit: int
) -> list:
    """DETERMINISTIC md5-of-id-ordered sample rows (bounded collect) —
    the shared quantizer-training sample.  When the result comes back
    shorter than ``limit`` it IS the whole table, which lets callers
    learn N and dim from the same single job (no separate count()/
    first() driver jobs — they were ~2 of the fixed ~0.5 s jobs ADVICE
    r7 counted against exact_nn_topk)."""
    return (
        vectors.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(limit)
        .collect()
    )


def _normed_sample(
    vectors: DataFrame, id_col: str, vec_col: str, limit: int
) -> np.ndarray:
    """The row-normalized matrix of :func:`_md5_sample` — the input of
    every quantizer trainer."""
    rows = _md5_sample(vectors, id_col, vec_col, limit)
    return _norm_rows(_matrix([r[1] for r in rows]))


def _nearest_codeword(sub: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Index of the L2-nearest row of ``books`` (ksub, dsub) for each row
    of ``sub`` (rows, dsub) — the one nearest-sub-codeword kernel the
    PQ trainers, encoders and the OPQ reconstruction share."""
    d2 = ((sub[:, None, :] - books[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d2, axis=1)


def _pq_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """PQ codes (rows, m) int32 of ``x`` against ``books`` (m, ksub,
    dsub): the nearest codeword per subspace."""
    m, _, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = _nearest_codeword(sub, books[j])
    return codes


def _pq_codes_per_cell(
    resid: np.ndarray, cells: np.ndarray, books: np.ndarray
) -> np.ndarray:
    """PQ codes of each row against ITS cell's books (n_cells, m, ksub,
    dsub) — the per-cell codebook encode."""
    codes = np.empty((len(resid), books.shape[1]), dtype=np.int32)
    for cell in np.unique(cells):
        sel = cells == cell
        codes[sel] = _pq_codes(resid[sel], books[cell])
    return codes


def _residuals(
    mat: np.ndarray, cent: np.ndarray, rot: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Each row's nearest coarse cell (max inner product) and its
    residual ``row - cent[cell]``, rotated by ``rot`` when given (OPQ:
    cells are found in the unrotated space) — the one residual step of
    every IVF-PQ trainer and encoder."""
    cells = np.argmax(mat @ cent.T, axis=1)
    resid = mat - cent[cells]
    if rot is not None:
        resid = resid @ rot
    return cells, resid


def _train_pq_books(
    data: np.ndarray, m: int, ksub: int, dsub: int, n_iters: int
) -> np.ndarray:
    """The one L2 k-means codebook loop every PQ trainer shares
    (pq_codebooks, ivfpq_residual_codebooks, ivfpq_local_codebooks and
    the OPQ alternation behind opq_train / opq_train_residual): per
    subspace, init from the first ``ksub`` sample rows and run fixed
    Lloyd iterations — deterministic, retry-stable.  Thin samples
    (fewer rows than ``ksub``) CYCLE the rows for the init instead of
    crashing on the ``books[j] = cent`` shape mismatch — duplicate
    centroids are
    harmless (argmin picks the first; empty cells keep their init) and
    the init is bit-identical to ``sub[:ksub]`` whenever the sample is
    big enough.  Raises loudly on an empty sample (there is nothing to
    quantize; the old path died with an opaque numpy axis error)."""
    if len(data) == 0:
        raise ValueError(
            "cannot train PQ codebooks on an empty sample: the vectors "
            "frame contributed no rows"
        )
    books = np.empty((m, ksub, dsub))
    init_idx = np.arange(ksub) % len(data)
    for j in range(m):
        sub = data[:, j * dsub : (j + 1) * dsub]
        cent = sub[init_idx].copy()
        for _ in range(n_iters):
            assign = _nearest_codeword(sub, cent)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def _opq_alternation(
    x: np.ndarray, dim: int, m: int, ksub: int, n_opq_iters: int, n_iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """The OPQ loop opq_train and opq_train_residual share: from R = I,
    alternate (1) train PQ books on ``x @ R`` and reconstruct it from
    its codes, (2) set R to the Procrustes solution, the orthogonal map
    closest to taking ``x`` onto that reconstruction (SVD of xᵀx̂).
    Returns (R, books)."""
    dsub = dim // m
    rot = np.eye(dim)
    books = None
    for _ in range(n_opq_iters):
        y = x @ rot
        books = _train_pq_books(y, m, ksub, dsub, n_iters)
        recon = books[np.arange(m), _pq_codes(y, books)].reshape(y.shape)
        u, _, vt = np.linalg.svd(x.T @ recon)
        rot = u @ vt
    return rot, books


def _spherical_lloyd(
    mat: np.ndarray, cent: np.ndarray, n_iters: int
) -> np.ndarray:
    """Fixed-count spherical Lloyd iterations of ``cent`` (updated in
    place and returned) over the normalized rows of ``mat``: assign by
    max inner product, move each non-empty cell to its members'
    normalized sum."""
    for _ in range(n_iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cent[c] = m / norm
    return cent


def _spherical_kmeans(
    mat: np.ndarray, n_cells: int, n_iters: int = 10
) -> np.ndarray:
    """Driver-side spherical Lloyd iterations over an already-normalized
    sample matrix: init from the first ``n_cells`` rows, fixed iteration
    count — rerun- and retry-stable, like every hash in the engine.
    A sample smaller than ``n_cells`` returns that many centroids (every
    consumer argmaxes over however many rows the quantizer has —
    duplicate-padding would only create dead twin cells); an empty
    sample raises loudly instead of dying on a numpy axis error."""
    if len(mat) == 0:
        raise ValueError(
            "cannot train a coarse quantizer on an empty sample: the "
            "vectors frame contributed no rows"
        )
    return _spherical_lloyd(mat, mat[:n_cells].copy(), n_iters)


def ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_cells: int = 16,
    sample_limit: int = 2048,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means coarse quantizer for an IVF index, trained
    driver-side on a DETERMINISTIC md5-ordered sample (bounded collect —
    this is how IVF quantizers are trained at any scale: the quantizer
    sees a few thousand vectors, only assignment is distributed)."""
    mat = _normed_sample(vectors, id_col, vec_col, sample_limit)
    return _spherical_kmeans(mat, n_cells, n_iters)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_id: str = "vec_id",
    with_sim: bool = False,
    keep_vec: str | None = None,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells —
    narrow Arrow-batch map against broadcast centroids, no shuffle.
    ``nprobe=1`` for indexing; queries probe several cells.

    ``with_sim=True`` adds ``cent_sim`` — the DOT of the normalized
    vector against the RAW assigned centroid (``v̂ · c``), which equals
    the cosine only when the centroid is unit-norm (spherical-kmeans
    centroids are; an externally supplied quantizer's may not be —
    divide by |c| before trusting it as an angle, the exact misreading
    that once broke _cell_stats' residual formula).  The per-cell
    minimum of that column is the cell's angular radius for
    internally-trained unit centroids, the quantity the blocked-exact
    pair primitive's triangle-inequality pruning needs
    (``_block_pair_allowlist``).
    ``keep_vec`` passes the RAW input vector through under that name as
    ``array<double>`` (float32→float64 upcast is exact, so downstream
    normalize/matmul math is bit-identical to reading the source) —
    saves the id-keyed join that putting vectors back would otherwise
    cost."""

    def assign(pdf: pd.DataFrame, side) -> pd.DataFrame:
        cent = side
        if len(pdf) == 0:
            return None
        mat = _norm_rows(_matrix(pdf[vec_col]))
        sims = mat @ cent.T  # (rows, n_cells)
        top = probed_from_qc(sims, nprobe)
        p = top.shape[1]
        ids = pdf[id_col].to_numpy()
        out = {
            out_id: np.repeat(ids, p),
            "cell": top.reshape(-1).astype(np.int32),
        }
        if with_sim:
            out["cent_sim"] = np.take_along_axis(sims, top, axis=1).reshape(-1)
        frame = pd.DataFrame(out)
        if keep_vec is not None:
            frame[keep_vec] = [
                np.asarray(v, dtype=np.float64)
                for v in pdf[vec_col]
                for _ in range(p)
            ]
        return frame

    # id type follows the input (string doc ids are first-class in
    # curation pipelines); every existing bigint caller is unchanged
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{out_id} {id_type}, cell INT"
    if with_sim:
        schema += ", cent_sim DOUBLE"
    if keep_vec is not None:
        schema += f", {keep_vec} ARRAY<DOUBLE>"
    # fingerprint on BOTH columns: a staged inverted file partitioned
    # BY cell moves `cell` into directory names (column metadata lost
    # there), so the id column carries a second copy
    fp_meta = {_ANN_FP_KEY: ann_quantizer_fingerprint(centroids=centroids)}
    return (
        stream(
            df.select(id_col, vec_col),
            assign,
            schema,
            side_input=centroids,
        )
        .withMetadata("cell", fp_meta)
        .withMetadata(out_id, fp_meta)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: vectors live
    in their nearest coarse-quantizer cell; each query scores only the
    vectors of its ``nprobe`` nearest cells.

    The scale path next to hyperplane LSH: candidate volume is
    |vectors|·nprobe/n_cells per query, tuned by (n_cells, nprobe)
    instead of (n_bits, n_tables); cells adapt to the data distribution
    (k-means), which beats data-oblivious hyperplanes on clustered
    corpora.  One shuffle (candidates ⋈ vectors); centroids broadcast.
    Pass ``centroids`` to reuse a trained quantizer across calls (e.g.
    an nprobe sweep).

    ``assigned`` accepts the PRE-STAGED inverted file — the
    ``(vec_id, cell)`` frame ``ivf_assign(vectors, cent)`` produces,
    persisted as parquet next to the :func:`ann_index_save` quantizer
    artifact.  Per-call assignment is the N × n_cells matmul over the
    whole corpus (the index BUILD); a deployment builds it once and
    serves many query batches against it — at 1M × 64-dim the build is
    the dominant term of a cold call (measured by
    scripts/scale.py --family ann).  Assignment is a deterministic
    function of (vectors, centroids), so passing the staged frame is result-
    identical to inline assignment (pinned by test).

    On a CELL-PARTITIONED staged layout (``assigned`` written with
    ``partitionBy("cell")``) Spark inserts DYNAMIC PARTITION PRUNING on
    the candidate join with no code here: the query side's probed
    cells feed a runtime subquery that drops unprobed corpus
    directories from the scan (pinned by
    test_ivf_staged_join_gets_dynamic_partition_pruning) — the
    candidate-join twin of ivfpq_topk's planning-time batch-union
    filter."""
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(vectors, dim, n_cells, vec_col=vec_col)
    )
    if assigned is not None:
        _check_staged_fingerprint(
            assigned,
            ("cell", "vec_id"),
            ann_quantizer_fingerprint(centroids=cent),
            "ivf_topk",
        )
        va = assigned
    else:
        va = ivf_assign(vectors, cent, vec_col=vec_col, nprobe=1)
    qa = ivf_assign(
        queries, cent, vec_col=vec_col, nprobe=nprobe, out_id="query_id"
    )
    cand = (
        qa.join(va, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _topk_on_candidates(cand, queries, vectors, k, vec_col)


def _self_topk_broadcast(
    base: DataFrame, k: int, stats_out: dict | None = None
) -> DataFrame:
    """EXACT self top-k, broadcast arm: the whole (ids, normalized
    float64 matrix) table ships to every partition, which computes its
    own rows' similarities against ALL vectors in one blocked matmul
    and emits each row's global top-k directly — ONE narrow Arrow map,
    no shuffle, no window (every row sees the full table, so its local
    top-k IS the global one).  Valid only under the small-side contract
    (≤ 100k-ish rows — same bound as ``cosine_pairs``'s broadcast arm),
    which the CALLER's auto probe enforces; a direct forced call on a
    bigger table collects it all, like forcing
    ``cosine_pairs(mode='broadcast')``.
    Tie-break (sim DESC, neighbor_id ASC) matches the blocked arm and
    the all-pairs oracles bit for bit; sims stay unrounded float64."""
    out_schema = "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT"
    # small-side contract: N x dim floats fit in driver
    all_ids, all_mat = _collect_queries(base, "__vec")
    if stats_out is not None:
        # this arm scores every ordered pair by design — the same
        # telemetry contract as the blocked arm (including the empty
        # staged_dirs: this arm never stages, but a caller following
        # the release contract must not KeyError on the auto routing)
        n = len(all_ids)
        stats_out.update(
            n_rows=n,
            n_blocks=0,
            candidates=n * (n - 1),
            total_pairs=n * (n - 1),
            staged_dirs=[],
        )
    if len(all_ids) < 2:
        return local_frame(base.sparkSession, [], out_schema)

    def local(pdf: pd.DataFrame, side) -> pd.DataFrame:
        ids_v, mat_v = side
        if len(pdf) == 0:
            return None
        m = _norm_rows(_matrix(pdf["__vec"]))
        my = pdf["vec_id"].to_numpy()
        q, nb, sim, rank = _topk_rows(m @ mat_v.T, my, ids_v, k)
        return pd.DataFrame(
            {"query_id": q, "neighbor_id": nb, "sim": sim, "rank": rank}
        )

    return stream(
        ensure_parallelism(base),
        local,
        out_schema,
        side_input=(all_ids, all_mat),
    )


# per-task cap on the query-vector bytes a single pass-B task holds —
# above it queries are salted into subtasks (members replicated per
# subtask); module constant so tests can force the salted path small.
_PASS_B_TASK_BYTES = 64 << 20


def _topk_rows(sims, q_ids, m_ids, k, s_q=None):
    """THE per-query exact top-k over one (queries x members) ``sims``
    block, shared by every arm of ``exact_nn_topk`` (the broadcast
    arm's batch, and through :func:`_topk_against` pass A's and pass
    B's tasks — the arms' "identical math" contract holds by
    construction): pairs with EQUAL ids never score, each query keeps
    its top-k by (sim DESC, id ASC) (:func:`_top_by_sim_then_id`), and
    a non-finite sim (a NaN-poisoned vector) is never returned while
    every finite candidate is ranked.  When ``s_q`` (a per-query
    array) is given, each query that found a FULL k rows records its
    k-th-best score there — the pass-A pruning bound, captured in the
    same pass.  Returns (query, neighbor, sim, rank) column arrays,
    each query's rows in rank order."""
    sims = _nan_to_neginf(sims)
    out_q: list = []
    out_n: list = []
    out_s: list = []
    for r, qid in enumerate(q_ids):
        s = np.where(m_ids == qid, -np.inf, sims[r])
        top = _top_by_sim_then_id(s, m_ids, k)
        top = top[np.isfinite(s[top])]
        if len(top) == 0:
            continue
        order = top[np.lexsort((m_ids[top], -s[top]))]
        out_q.append(np.full(len(order), qid, dtype=np.int64))
        out_n.append(m_ids[order])
        out_s.append(s[order])
        if s_q is not None and len(order) == k:
            s_q[r] = s[order[-1]]
    if not out_q:  # typed empty columns
        out_q, out_n, out_s = [np.empty(0, dtype=np.int64)], [m_ids[:0]], [np.empty(0)]
    rank = [np.arange(1, len(a) + 1, dtype=np.int32) for a in out_q]
    return tuple(np.concatenate(c) for c in (out_q, out_n, out_s, rank))


def _topk_against(q_ids, q_mat, m_ids, m_mat, k, s_q=None):
    """:func:`_topk_rows` of queries against members, the float64
    matmul chunked over queries so task memory stays O(chunk ·
    |members|) however many queries probe one block."""
    chunk = 2048
    # one pass even with no queries, so the columns come back typed
    parts = [
        _topk_rows(
            q_mat[c0 : c0 + chunk] @ m_mat.T,
            q_ids[c0 : c0 + chunk],
            m_ids,
            k,
            None if s_q is None else s_q[c0 : c0 + chunk],
        )
        for c0 in range(0, max(len(q_ids), 1), chunk)
    ]
    return [np.concatenate(col) for col in zip(*parts)]


def _grouped_self_topk(tagged: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Per-task exact top-k scorer shared by ``exact_nn_topk``'s two
    passes.  ``tagged`` rows are ``(id, __vec, side, selftask, *keys)``;
    within each key group, queries (side 1 — or EVERY row when
    ``selftask`` is set, the own-cell pass) are scored against members
    (side 0) in one float64 matmul (identical math to the broadcast
    arm), and only each query's top-k rows BY THE GLOBAL (sim DESC,
    id ASC) ORDER leave the task — a sound pre-reduction: the final
    row_number over the union can only pick rows that are top-k inside
    their own task, so shuffling the also-rans is pure waste (the same
    lesson as the blocked pair path's task matmul, VERDICT r7).  Pairs
    with EQUAL ids never score (the self row, and duplicated-id inputs
    — the broadcast arm's skip-self contract).  A members-only group in
    a two-sided stage (a salt bucket that drew no queries) emits
    nothing."""
    out_schema = "qa BIGINT, vec_id BIGINT, cos_sim DOUBLE"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        mat = _norm_rows(_matrix(pdf["__vec"]))
        if bool(pdf["selftask"].iloc[0]):
            q_ids, q_mat, m_ids, m_mat = ids, mat, ids, mat
        else:
            qm = pdf["side"].to_numpy() == 1
            q_ids, q_mat, m_ids, m_mat = ids[qm], mat[qm], ids[~qm], mat[~qm]
        qa, nb, sim, _ = _topk_against(q_ids, q_mat, m_ids, m_mat, k)
        return pd.DataFrame({"qa": qa, "vec_id": nb, "cos_sim": sim})

    return tagged.groupBy(*keys).applyInPandas(fn, out_schema)


def exact_nn_topk(
    vectors: DataFrame,
    k: int = 1,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    mode: str = "auto",
    broadcast_limit: int = 100_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """EXACT self top-k (each vector's true k nearest others, cosine)
    WITHOUT the all-pairs crossJoin — the recall-1 neighbor generator
    the mutual-NN reciprocity test needs (an ANN candidate list cannot
    guarantee the true top-1, so routing reciprocity over it would
    silently change the answer; this keeps the oracle exact).

    Two physical strategies, both exact, mirroring ``cosine_pairs``:
    ``mode="auto"`` probes the row count with a LIMIT scan and takes
    the broadcast arm (:func:`_self_topk_broadcast` — one narrow map,
    no shuffle) while the table fits the ≤ ``broadcast_limit`` contract,
    else the blocked arm below.  Exactness is identical either way, so
    forcing ``mode="blocked"`` must not change a row (pinned by test).

    The blocked arm is an adaptive two-pass IVF search over the same
    coarse quantizer the ANN stack trains (``n_cells`` ~sqrt(N) by
    default), with per-QUERY triangle-inequality CELL pruning (the
    same bound family as ``_block_pair_allowlist``, here evaluated per
    query at cell granularity — unlike the pair path, ring refinement
    cannot sharpen a per-query probe decision: the bound is monotone
    in the radius, so a cell's loosest ring passes iff the cell-level
    bound passes, and scoring the whole probed cell preserves
    exactness while shuffling each query vector once per probed CELL
    instead of once per probed ring-block):

    - Pass A scores each vector against its OWN cell in one per-cell
      task matmul (only each query's top-k rows leave the task), takes
      the k-th best cosine found there as ``s_q`` (−2 sentinel when
      the cell holds fewer than k others) — a cheap LOWER bound on the
      true k-th best — and, IN THE SAME TASK, evaluates the cell
      bounds against the broadcast (centroids, per-cell radii) to
      emit the probe list next to the top-k rows (r9, VERDICT r8 #1:
      the bound is born inside the task, so folding s_q out through a
      groupBy + N-row shuffle join + a separate probe map was one
      whole job and one data-sized join of pure overhead per run).
    - Pass B: any y in cell c satisfies
      ``cos(q, y) <= cos(max(0, angle(q, c_c) − alpha_c))`` with
      alpha_c the cell's max member angle; only cells whose bound
      reaches ``s_q − 1e-9`` can hold a top-k member (the slack keeps
      boundary-exact ties in play).  The surviving (query, cell)
      probes become TASKS of one keyed shuffle: each probed cell's
      members meet the queries probing it in a grouped-Arrow float64
      matmul, and only each query's per-task top-k rows leave — NEVER
      the O(candidates) per-pair join (same redesign that took the
      blocked pair path 29.5 s → 2.9 s; the per-pair shape measured
      124 s for N=2,000 on a uniform corpus, the task matmul ~3 s).
      Cells whose probe population outgrows ``_PASS_B_TASK_BYTES`` of
      query vectors are salted into subtasks (members replicated per
      subtask) so one hot cell cannot exceed task memory.  Own cells
      are excluded — their pairs were scored exactly in pass A and the
      final rank unions both passes, so no candidate is verified twice
      (VERDICT r7 #2).

    Candidate-volume telemetry (the VERDICT r7 #4 contract, same as
    ``cosine_pairs``): the per-cell probe populations are folded in
    one metadata-sized aggregate BEFORE any task launches; the exact
    ORDERED candidate volume (pass A's Σ n_c·(n_c−1) own-cell pairs +
    pass B's Σ probes_c·|c|) is logged against the n·(n−1) ordered
    ceiling, a ``QuadraticCandidateVolumeWarning`` fires when pruning
    is not biting (expected on a near-uniform corpus — exact NN there
    is information-theoretically all-pairs; route such data through
    the ANN family when the contract tolerates recall < 1), and
    ``stats_out`` receives ``{"n_rows", "n_blocks", "candidates",
    "total_pairs"}``.

    Staging (VERDICT r7 #2 / ADVICE r7; reshaped in r9 per VERDICT r8
    #1): the fused pass-A output (top-k rows AND probe rows, one table
    tagged by ``kind``) is consumed by SEVERAL lineage branches (the
    salt-map/telemetry collect, the final rank union, pass B's query
    side), so it is MATERIALIZED unconditionally to process-scoped
    scratch parquet (``streaming_spark.scratch``, PINNED against the
    in-session sweep — the returned lazy frame reads these files for
    an unbounded lifetime the sweep's mtime signal cannot see):
    unstaged, the per-cell matmul shuffle re-ran once per consuming
    branch, which was most of the forced blocked arm's wall time at
    gate size, and the table is bounded by N·k + the probe volume at
    any scale — one write job costs less than one re-run of the
    lineage.  A ``persist()`` instead would outlive the returned lazy
    frame and degrade later same-session queries (CLAUDE.md).  The
    assign map is staged too (:func:`streaming_spark.scratch.stage`):
    it has three consumers — the stats fold, pass A's grouped input,
    and pass B's member and query sides — and unstaged each re-plans
    the corpus scan plus the N·dim·n_cells assign matmul.  Staged and
    recomputed medians, clustered 64-dim corpus, one warm local[4]
    session on a 4-vCPU VM, first arm alternating:

    ========  ===============  ===============
    N         staged           recompute
    ========  ===============  ===============
    1 000     2.10 s           2.13 s
    100 000   16.16 s          16.72 s
    200 000   36.36 s          41.52 s
    300 000   66.62 s          68.77 s
    ========  ===============  ===============

    Both pinned dirs are reported in ``stats_out["staged_dirs"]`` — a
    caller that knows the returned frame is fully consumed should pass
    them to :func:`streaming_spark.scratch.unpin` so a long session's
    pins cannot starve the scratch sweep (ADVICE r8).

    ``centroids`` accepts a pre-trained quantizer (e.g. the session-
    memoized cache the ANN stack shares) — any centroids are EXACT
    (the bounds use measured radii), so reuse never risks the answer;
    it skips the sample-collect job entirely.

    Shuffle volume is O(N·probed-cells + N·k); on a uniform corpus
    pruning degrades toward probing every cell — exactness never
    depends on the data.  ``id_col`` values must be UNIQUE: equal-id
    pairs never score (so a duplicated id can never become its own
    neighbor), but two rows sharing an id would also share one s_q
    bound and one output key, making the per-row result sets
    arm-dependent.  Output: (query_id, neighbor_id, sim, rank), sim
    UNROUNDED float64 so a downstream reciprocity join breaks ties
    identically to an oracle."""
    from streaming_spark.scratch import stage, unpin

    if k < 1:
        raise ValueError(f"exact_nn_topk: k must be >= 1, got {k}")
    spark = vectors.sparkSession
    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    if mode == "auto":
        probe = base.select("vec_id").limit(broadcast_limit + 1).count()
        mode = "broadcast" if probe <= broadcast_limit else "blocked"
    if mode == "broadcast":
        return _self_topk_broadcast(base, k, stats_out=stats_out)
    if mode != "blocked":
        raise ValueError(f"exact_nn_topk: unknown mode {mode!r}")
    empty_schema = "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT"
    if centroids is None:
        cent, n_rows, n_cells = _train_blocked_quantizer(
            base, n_cells, floor=4
        )
        if cent is None:
            # degenerate (< 2 vectors): same four-key stats_out contract
            # as the populated path — a generic telemetry consumer must
            # never KeyError on an empty corpus (ADVICE r8)
            if stats_out is not None:
                stats_out.update(
                    n_rows=n_rows,
                    n_blocks=0,
                    candidates=0,
                    total_pairs=0,
                    staged_dirs=[],
                )
            return local_frame(spark, [], empty_schema)
    else:
        cent = centroids

    # The assign map has THREE consumers (the stats fold, pass A's
    # grouped input, pass B's member and query sides).  A mapInPandas
    # output cannot be column-pruned or shared across lineage branches,
    # so it is staged once: the corpus scan and the N·dim·n_cells
    # assign matmul run once, and the stats fold scans only
    # (cell, cent_sim).  keep_vec upcasts float32→float64 exactly.
    assigned_vec, assign_dir = stage(
        ivf_assign(
            base,
            cent,
            id_col="vec_id",
            vec_col="__vec",
            with_sim=True,
            keep_vec="__vec",
        ),
        "nn_assign",
    )
    stats = (
        assigned_vec.groupBy("cell")
        .agg(F.min("cent_sim").alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not stats:
        # empty table under supplied centroids: fill the same stats_out
        # contract as the populated path (ADVICE r8).  The staged assign
        # dir holds nothing the returned (local, empty) frame reads —
        # release its pin now so this path reports staged_dirs=[]
        unpin(assign_dir)
        if stats_out is not None:
            stats_out.update(
                n_rows=0,
                n_blocks=0,
                candidates=0,
                total_pairs=0,
                staged_dirs=[],
            )
        return local_frame(spark, [], empty_schema)
    stats.sort(key=lambda r: r["cell"])
    cell_ids = np.array([r["cell"] for r in stats], dtype=np.int64)
    alpha = np.arccos(
        np.clip(np.array([r["r"] for r in stats]), -1.0, 1.0)
    )
    sizes = np.array([r["n"] for r in stats], dtype=np.int64)
    size_of_cell = dict(zip(cell_ids.tolist(), sizes.tolist()))
    n_total = int(sizes.sum())

    # pass A + probe generation, FUSED into one per-cell task (VERDICT
    # r8 #1): each cell's task computes the exact own-cell top-k in a
    # chunked float64 matmul (identical math to _grouped_self_topk's
    # selftask arm — equal ids never score, per-query top-k by the
    # global (sim DESC, id ASC) order, boundary ties kept), derives
    # each query's s_q bound IN-TASK (k-th best if the cell held ≥ k
    # others, else the -2 sentinel), and evaluates the per-cell
    # bounds against the broadcast (centroids, per-cell radii)
    # to emit the probe list alongside the top-k rows.  The unfused
    # shape materialized pass A, folded s_q with a groupBy, joined it
    # back to the N-row vector table, and ran a SEPARATE Arrow map +
    # staging write for the probes — an N-row shuffle join and a whole
    # extra job per run at any scale, for a bound that was born inside
    # the pass-A task to begin with.  Sentinels (-1) mark the unused
    # columns per kind; both kinds land in ONE staged table read back
    # as two pruned filters.
    fused_schema = (
        "qa BIGINT, vec_id BIGINT, cos_sim DOUBLE, probe_cell INT, kind INT"
    )

    def pass_a(pdf: pd.DataFrame) -> pd.DataFrame:
        cent_m, alpha_v, cells_v = cent, alpha, cell_ids
        ids = pdf["vec_id"].to_numpy()
        mat = _norm_rows(_matrix(pdf["__vec"]))
        own = pdf["cell"].to_numpy()
        s_q = np.full(len(ids), -2.0)  # sentinel: < any true cosine
        # own-cell exact top-k + the per-query k-th-best bound, via the
        # SHARED scoring loop (the same code object pass B runs — the
        # arms' "identical math" contract is mechanical, not manual)
        qa, nb, sim, _ = _topk_against(ids, mat, ids, mat, k, s_q=s_q)
        # probe bounds for every query in the cell, own-cell excluded.
        # CELL granularity (r9): the per-cell alpha is the cell's max
        # member angle, and the bound is monotone increasing in alpha,
        # so "any ring of this cell passes" is EXACTLY "the cell-level
        # bound passes" — ring refinement cannot sharpen the decision
        # of whether to probe a cell at all, only which of its rings
        # to score, and scoring the whole probed cell keeps exactness
        # (extra candidates are harmless) while cutting the query-side
        # shuffle by the ring factor: at saturation (uniform data) the
        # old per-(cell,ring) probes replicated every query vector 4x
        # for tasks that each scored the same queries anyway.
        theta = np.arccos(np.clip(mat @ cent_m.T, -1.0, 1.0))
        bound = np.cos(np.maximum(0.0, theta[:, cells_v] - alpha_v[None, :]))
        mask = (bound >= s_q[:, None] - 1e-9) & (cells_v[None, :] != own[:, None])
        ri, ci = np.where(mask)
        nk, np_ = len(qa), len(ri)
        return pd.DataFrame(
            {
                "qa": np.concatenate([ids[ri], qa]),
                "vec_id": np.concatenate([np.full(np_, -1, dtype=np.int64), nb]),
                "cos_sim": np.concatenate([np.full(np_, -2.0), sim]),
                "probe_cell": np.concatenate(
                    [cells_v[ci].astype(np.int32), np.full(nk, -1, dtype=np.int32)]
                ),
                "kind": np.concatenate(
                    [np.ones(np_, dtype=np.int32), np.zeros(nk, dtype=np.int32)]
                ),
            }
        )

    fused, fused_dir = stage(
        assigned_vec.select("vec_id", "__vec", "cell")
        .groupBy("cell")
        .applyInPandas(pass_a, fused_schema),
        "nn_pass_a",
    )
    scored_a = fused.filter(F.col("kind") == 0).select("qa", "vec_id", "cos_sim")
    probes = fused.filter(F.col("kind") == 1).select(
        "qa", F.col("probe_cell").alias("cell")
    )

    # candidate-volume telemetry (VERDICT r7 #4): one metadata-sized
    # fold of the probe list gives the EXACT ordered candidate volume
    # BEFORE any task launches — and doubles as the salt map that keeps
    # a hot cell's task memory bounded
    probe_counts = {
        int(r["cell"]): int(r["q"])
        for r in probes.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("q"))
        .collect()
    }
    pass_a_pairs = sum(int(n) * (int(n) - 1) for n in sizes)
    pass_b_pairs = sum(
        q * size_of_cell[c] for c, q in probe_counts.items()
    )
    candidates = pass_a_pairs + pass_b_pairs
    ordered_total = n_total * (n_total - 1)
    log_candidate_volume(
        "exact_nn_topk", candidates, n_total, total_pairs=ordered_total
    )
    if stats_out is not None:
        stats_out.update(
            n_rows=n_total,
            n_blocks=len(cell_ids),
            candidates=candidates,
            total_pairs=ordered_total,
            staged_dirs=[assign_dir, fused_dir],
        )

    if not probe_counts:
        scored = scored_a
    else:
        # each probed cell is one task; cells whose probe population
        # outgrows the per-task query-vector budget are salted into
        # subtasks (members replicated per subtask, queries hashed)
        dim = cent.shape[1]
        q_cap = max(1, _PASS_B_TASK_BYTES // (8 * dim))
        salt_df = local_frame(
            spark,
            pd.DataFrame(
                {
                    "cell": np.array(list(probe_counts), dtype=np.int32),
                    "n_sub": np.array(
                        [-(-q // q_cap) for q in probe_counts.values()],
                        dtype=np.int32,
                    ),
                }
            ),
            "cell INT, n_sub INT",
        )
        qside = (
            # query vectors come off the staged assign table (float64,
            # value-identical to the source — not another corpus scan)
            probes.join(
                assigned_vec.select(F.col("vec_id").alias("qa"), "__vec"), "qa"
            )
            .join(F.broadcast(salt_df), "cell")
            .select(
                F.col("qa").alias("id"),
                "__vec",
                F.lit(1).alias("side"),
                F.lit(0).alias("selftask"),
                "cell",
                F.pmod(F.xxhash64("qa"), F.col("n_sub")).cast("int").alias("sub"),
            )
        )
        mside = (
            assigned_vec.join(F.broadcast(salt_df), "cell")
            .select(
                F.col("vec_id").alias("id"),
                "__vec",
                F.lit(0).alias("side"),
                F.lit(0).alias("selftask"),
                "cell",
                F.explode(
                    F.sequence(F.lit(0), F.col("n_sub") - F.lit(1))
                ).alias("sub"),
            )
        )
        scored_b = _grouped_self_topk(
            mside.unionByName(qside), ["cell", "sub"], k
        )
        scored = scored_a.unionByName(scored_b)

    scored = scored.select(
        F.col("qa").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("cos_sim").alias("sim"),
    )
    return _rank_window(scored, k).select("query_id", "neighbor_id", "sim", "rank")


def cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "auto",
    broadcast_limit: int = 100_000,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    n_cells: int | None = None,
    stats_out: dict | None = None,
    quantizer: tuple | None = None,
) -> DataFrame:
    """All unordered pairs with cosine similarity ≥ ``threshold`` —
    ``(id_a, id_b, cos_sim)``, id_a < id_b — the semantic-dedup primitive.

    Three physical strategies, selected by ``mode``:

    - ``"broadcast"``: EXACT.  The whole table (ids + normalized float64
      matrix) is broadcast to every partition, which does a blocked
      matmul over its own rows and emits only above-threshold pairs.
      Output-bound shuffle, but the broadcast side is O(N·dim) — only
      valid while N is small (a query/dim table, a sampled corpus).
    - ``"blocked"``: EXACT, the 100 TB path for the recall-1 contracts
      (contrastive positives, in-batch-safe batching, mutual-NN).
      Vectors are partitioned into ~sqrt(N) IVF cells (``ivf_centroids``
      — the same coarse quantizer the ANN stack trains) refined into
      (cell, ring) blocks by angular band; a driver-side
      triangle-inequality bound over (centroid angles, per-block
      angular radii) prunes every block PAIR that provably cannot
      contain an above-threshold vector pair; each surviving block pair
      is one task of a single task-keyed shuffle whose grouped
      Arrow-batch float64 matmul emits only above-threshold pairs.
      Recall is 1 BY CONSTRUCTION (the pruning bound is a sound upper
      bound — see ``_block_pair_allowlist``); pruning EFFECTIVENESS is
      a data property (clustered corpora prune hard, uniform ones
      less), but the exact candidate volume is computed driver-side
      BEFORE any cluster work — logged, and a
      ``QuadraticCandidateVolumeWarning`` fires when blocking is not
      pruning — and worst-case shuffle is ~N·sqrt(N) rows, never the
      O(N²) candidate-pair join (see ``_cosine_pairs_blocked``).
    - ``"lsh"``: approximate (recall < 1) — random-hyperplane buckets
      on both sides (``hyperplane_buckets``), candidates from a
      self-join keyed (table_id, bucket), then exact verification on
      candidates.  Cheaper than blocked when a recall qualifier is
      acceptable; must be requested EXPLICITLY (auto never silently
      drops recall below 1 — the r5 contract).
    - ``"auto"``: probe the row count with a LIMIT scan; ≤
      ``broadcast_limit`` rows → broadcast, else blocked.  Both arms
      are exact, so callers whose contracts require recall 1 can use
      auto at any scale.

    ``stats_out`` receives the candidate-volume telemetry
    (streaming_spark/telemetry.py) in EVERY mode: blocked fills the
    exact driver-side allowlist volume for free; broadcast reports the
    all-pairs ceiling it scores by design; lsh pays two opt-in driver
    jobs for its exact pre-distinct bucket volume.
    """
    if mode == "auto":
        probe = vectors.select(id_col).limit(broadcast_limit + 1).count()
        mode = "broadcast" if probe <= broadcast_limit else "blocked"
    if mode == "broadcast":
        out = _cosine_pairs_broadcast(
            vectors, threshold, id_col, vec_col, stats_out=stats_out
        )
    elif mode == "blocked":
        out = _cosine_pairs_blocked(
            vectors,
            threshold,
            id_col,
            vec_col,
            n_cells=n_cells,
            stats_out=stats_out,
            quantizer=quantizer,
        )
    elif mode == "lsh":
        out = _cosine_pairs_lsh(
            vectors,
            threshold,
            id_col,
            vec_col,
            n_bits,
            n_tables,
            seed,
            stats_out=stats_out,
        )
    else:
        raise ValueError(f"cosine_pairs: unknown mode {mode!r}")
    # threshold is applied on RAW similarity in both modes; the display
    # rounding happens once here so the modes agree bit for bit
    return out.withColumn("cos_sim", F.round("cos_sim", 4))


def _cosine_pairs_broadcast(
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    stats_out: dict | None = None,
) -> DataFrame:
    emb = vectors.select(id_col, vec_col)
    # small-side contract: N x dim floats fit in driver
    ids, mat = _collect_queries(emb, vec_col, id_col)
    if len(ids) < 2:
        if stats_out is not None:
            stats_out.update(
                n_rows=len(ids),
                n_blocks=0,
                n_tasks=0,
                candidates=0,
                total_pairs=0,
            )
        return local_frame(
            vectors.sparkSession,
            [], "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"
        )
    if stats_out is not None:
        # the broadcast arm scores every pair by design (output-bound
        # shuffle, in-partition matmul) — candidates = the ceiling
        n = len(ids)
        stats_out.update(
            n_rows=n,
            n_blocks=0,
            n_tasks=0,
            candidates=n * (n - 1) // 2,
            total_pairs=n * (n - 1) // 2,
        )

    def pairs(pdf: pd.DataFrame, side) -> pd.DataFrame:
        all_ids, all_mat = side
        if len(pdf) == 0:
            return None
        m = _norm_rows(_matrix(pdf[vec_col]))
        sims = m @ all_mat.T  # (rows, N)
        my_ids = pdf[id_col].to_numpy()
        ri, ci = np.where(sims >= threshold)
        keep = my_ids[ri] < all_ids[ci]  # each unordered pair exactly once
        return pd.DataFrame(
            {
                "id_a": my_ids[ri[keep]],
                "id_b": all_ids[ci[keep]],
                "cos_sim": sims[ri[keep], ci[keep]],
            }
        )

    return stream(
        ensure_parallelism(emb),
        pairs,
        "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE",
        side_input=(ids, mat),
    )


def _verify_pairs(
    cand: DataFrame, base: DataFrame, threshold: float
) -> DataFrame:
    """Exact JVM-side cosine verification of candidate (id_a, id_b)
    pairs against ``base`` (vec_id, __vec) — the shared tail of every
    blocking strategy: candidates join their vectors back (two keyed
    hash joins), ``_cosine_expr`` scores in codegen, and only
    above-threshold pairs survive.  Output volume is O(true pairs), not
    O(candidates)."""
    va = base.select(F.col("vec_id").alias("id_a"), F.col("__vec").alias("__va"))
    vb2 = base.select(F.col("vec_id").alias("id_b"), F.col("__vec").alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb2, "id_b")
        .select(
            "id_a",
            "id_b",
            _cosine_expr("__va", "__vb").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _block_pair_allowlist(
    centroids: np.ndarray,
    block_ids: np.ndarray,
    block_radii: np.ndarray,
    block_sizes: np.ndarray,
    threshold: float,
    n_rings: int,
    chunk: int = 256,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Unordered (cell, ring) BLOCK pairs that COULD contain a vector
    pair with cosine ≥ ``threshold`` — the sound triangle-inequality
    prune behind ``cosine_pairs(mode='blocked')`` — plus the EXACT
    candidate volume the surviving pairs will generate.

    For unit vectors x in block i and y in block j (a block is the set
    of a cell's members inside one angular ring around the centroid),
    the spherical triangle inequality gives ``angle(x, y) >= theta_ij −
    alpha_i − alpha_j`` where ``theta_ij`` is the angle between the
    blocks' OWNING CENTROIDS and ``alpha_b`` the block's angular radius
    (max member angle within the ring, i.e. arccos of the per-block MIN
    ``cent_sim``).  Hence ``cos(x, y) <= cos(max(0, theta_ij − alpha_i
    − alpha_j))``; a block pair whose bound falls below ``threshold``
    (minus 1e-9 numerical slack, so a boundary-exact pair is never
    pruned) provably holds no qualifying pair — recall 1 regardless of
    how the quantizer clustered.

    Ring refinement (VERDICT r7 #1a): per-CELL radii use the cell's
    WORST member, so one outlier poisons the whole cell's bound.
    Bucketing members into fixed angular rings makes alpha the ring's
    own max angle — the tight cores of two well-separated cells prune
    against each other even when each cell also holds far-flung
    outliers.  Strictly tighter, never looser (a one-ring cell
    degenerates to the per-cell bound).

    Returns ``(i_idx, j_idx, same, volume)``: parallel arrays of
    surviving block-pair indices with ``i <= j`` (``same`` marks the
    diagonal) and the exact Σ |bi|·|bj| (n·(n−1)/2 on the diagonal)
    candidate count — driver math over ≤ (n_cells·n_rings)² bounds, no
    job.  The bound matrix is evaluated in row CHUNKS so the driver
    peak stays O(chunk · B) instead of O(B²) — at the auto cap (1024
    cells × 4 rings = 4096 blocks) a dense float64 theta/bound pair
    would be ~270 MB of transient allocations exactly when the
    coarsening fallback is about to discard them; chunked, the peak is
    a few MB and the kept indices (the only O(survivors) state) are
    identical, in the same row-major order."""
    cell_of = block_ids // n_rings
    cent_b = centroids[cell_of]
    alpha = np.arccos(np.clip(block_radii, -1.0, 1.0))
    n_blocks = len(block_ids)
    ii_parts: list[np.ndarray] = []
    jj_parts: list[np.ndarray] = []
    for r0 in range(0, n_blocks, chunk):
        r1 = min(r0 + chunk, n_blocks)
        theta = np.arccos(np.clip(cent_b[r0:r1] @ cent_b.T, -1.0, 1.0))
        bound = np.cos(
            np.maximum(0.0, theta - alpha[r0:r1, None] - alpha[None, :])
        )
        ri, ci = np.nonzero(bound >= threshold - 1e-9)
        ri = ri + r0
        ut = ri <= ci  # upper triangle: each unordered block pair once
        ii_parts.append(ri[ut])
        jj_parts.append(ci[ut])
    ii = np.concatenate(ii_parts) if ii_parts else np.empty(0, dtype=np.int64)
    jj = np.concatenate(jj_parts) if jj_parts else np.empty(0, dtype=np.int64)
    same = ii == jj
    # a singleton block's diagonal task holds no pairs — drop it
    useful = ~same | (block_sizes[ii] >= 2)
    ii, jj, same = ii[useful], jj[useful], same[useful]
    n = block_sizes.astype(np.int64)
    volume = int(
        (n[ii[same]] * (n[ii[same]] - 1) // 2).sum()
        + (n[ii[~same]] * n[jj[~same]]).sum()
    )
    return ii, jj, same, volume


def _with_block(assigned: DataFrame, n_rings: int) -> DataFrame:
    """Attach the (cell, ring) block id: ring = fixed angular band of
    the member's own angle to its centroid (π/2 / n_rings wide, last
    band open-ended), block = cell · n_rings + ring.  Pure codegen
    arithmetic on the ``cent_sim`` the assign map already emits."""
    ang = F.acos(F.greatest(F.least(F.col("cent_sim"), F.lit(1.0)), F.lit(-1.0)))
    band = math.pi / 2.0 / n_rings
    ring = F.least(F.lit(n_rings - 1), F.floor(ang / F.lit(band)).cast("int"))
    return assigned.withColumn(
        "block", (F.col("cell") * n_rings + ring).cast("int")
    )


# ceiling on the broadcast task table of the blocked pair path: above
# it the allowlist coarsens from (cell, ring) to per-cell granularity
# (module constant so tests can force the fallback on a small corpus).
# Sized so the worst case at the _auto_n_cells cap fits under it even
# with zero pruning (1024 cells → 1024·1025/2 = 524,800 cell-pair
# tasks, ~13 MB broadcast); only a user-supplied n_cells beyond the
# auto cap can exceed it, which the fallback then warns about.
_MAX_PAIR_TASKS = 600_000


def _auto_n_cells(n_rows: int, floor: int = 16, cap: int = 1024) -> int:
    """~sqrt(N) coarse-quantizer cells (VERDICT r7 #1b): per-cell
    blocks stay ~sqrt(N) so diagonal tasks are O(N) total work, and
    finer cells mean tighter radii, so the triangle prune bites
    earlier.  Capped so the driver-side k-means and the B² bound
    matrix stay metadata-sized; at true 100 TB scale raise the cap and
    ``sample_limit`` together (the quantizer needs ≥ n_cells sampled
    vectors)."""
    return max(floor, min(cap, math.isqrt(max(n_rows, 1))))


def _train_blocked_quantizer(
    base: DataFrame,
    n_cells: int | None,
    floor: int = 16,
    sample_limit: int = 2048,
) -> tuple[np.ndarray | None, int, int]:
    """The quantizer-training preamble shared by the blocked pair path
    and ``exact_nn_topk``'s blocked arm: ONE sample job yields the
    training sample, dim, and (below the sample limit) the exact N — no
    separate count()/first() jobs; ``n_cells`` defaults to ~sqrt(N)
    (:func:`_auto_n_cells`), and the sample is re-drawn larger only when
    the cell count outgrew it (the k-means needs ≥ ~4 vectors per cell).
    Returns ``(centroids, n_rows, n_cells)``; centroids is None when the
    table holds < 2 vectors (the callers' empty-output contract)."""
    sample = _md5_sample(base, "vec_id", "__vec", sample_limit)
    if len(sample) < 2:
        return None, len(sample), 0
    n_rows = len(sample) if len(sample) < sample_limit else base.count()
    if n_cells is None:
        n_cells = _auto_n_cells(n_rows, floor=floor)
    if 4 * n_cells > len(sample) and n_rows > len(sample):
        sample = _md5_sample(base, "vec_id", "__vec", 4 * n_cells)
    cent = _spherical_kmeans(
        _norm_rows(_matrix([r[1] for r in sample])), n_cells
    )
    return cent, n_rows, n_cells


def _cosine_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_cells: int | None = None,
    n_rings: int = 4,
    stats_out: dict | None = None,
    quantizer: tuple | None = None,
) -> DataFrame:
    """Recall-1 threshold pairs without a driver collect of the table
    and without an all-pairs stage — the 100 TB arm of
    :func:`cosine_pairs` (VERDICT r6 #1, reworked r8 per VERDICT r7 #1).

    Shape: (1) train the IVF coarse quantizer on a bounded
    deterministic sample (``ivf_centroids`` — the ANN stack's
    quantizer, same md5-ordered sample), ``n_cells`` defaulting to
    ~sqrt(N); (2) assign every vector to its ONE nearest cell in a
    narrow Arrow map that also emits the cosine to the owning centroid,
    and refine the cell into (cell, ring) BLOCKS by fixed angular bands
    of that cosine; (3) fold per-block angular radii + sizes (≤
    n_cells·n_rings rows — a metadata-sized collect); (4) prune block
    pairs with the exact triangle-inequality bound AND compute the
    exact candidate volume the survivors imply
    (``_block_pair_allowlist``) — logged, and a
    :class:`~streaming_spark.telemetry.QuadraticCandidateVolumeWarning`
    fires before any cluster work when blocking is not pruning on this
    data (VERDICT r7 #1c: never silently run a quadratic shuffle);
    (5) surviving block pairs are GROUPED BY CELL PAIR into tasks (r9):
    members of both cells meet through a single task-keyed shuffle and
    per-combo Arrow-batch float64 matmuls score ONLY the surviving
    ring combos, emitting above-threshold pairs — identical FLOPs and
    candidate volume to one-task-per-block-pair, but each vector ships
    once per partner CELL with a surviving combo instead of once per
    surviving partner ring-block (up to n_rings× less member shuffle;
    blocks partition the vectors and each block pair maps to exactly
    one cell pair, so every unordered vector pair still meets in
    exactly one task).

    The matmul verify is the same math as the broadcast arm (normalize,
    ``a @ b.T``, ``>= threshold`` on raw float64), so forcing this plan
    is bit-identical to broadcast — and it replaces the r7 per-pair
    candidate join + interpreted HOF cosine, which shuffled two full
    vectors per CANDIDATE PAIR (O(candidates) rows).  Here each vector
    is shuffled once per partner CELL (≤ N·n_cells rows total, ~N^1.5
    at the sqrt(N) default with zero pruning, and proportionally less
    as the prune bites), and the per-task matmuls are vectorized — on
    the near-uniform fixture where nothing prunes this is ~20× faster
    than the r7 shape at identical output.

    Blocks partition the vectors, so an unordered vector pair meets in
    exactly ONE task — no distinct needed.  Per-task memory is
    O(|cell_i| + |cell_j|) vectors (~2·sqrt(N) at the auto cell
    count); a pathologically hot cell is the residual skew hazard
    (same caveat as every blocking family — the telemetry makes it
    observable).  ``stats_out`` (tests, bench) receives
    ``{"n_rows", "n_blocks", "n_tasks", "candidates", "total_pairs"}``
    — ``n_tasks`` counts surviving block-pair COMBOS (the unit of
    candidate accounting), not the grouped cell-pair tasks they are
    packed into.
    """
    spark = vectors.sparkSession
    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    out_schema = "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"
    # ``quantizer`` accepts a pre-trained (centroids, n_rows, n_cells)
    # triple — the exact_nn_topk ``centroids=`` contract: ANY centroids
    # are exact (bounds use measured radii), so a session-memoized
    # quantizer can only change wall time, never a row; it skips the
    # md5-ordered sample-collect job each call otherwise pays.
    if quantizer is not None:
        cent, n_rows, n_cells = quantizer
    else:
        cent, n_rows, n_cells = _train_blocked_quantizer(base, n_cells)
    if cent is None:
        if stats_out is not None:
            stats_out.update(
                n_rows=n_rows,
                n_blocks=0,
                n_tasks=0,
                candidates=0,
                total_pairs=0,
            )
        return local_frame(spark, [], out_schema)
    # deliberately NOT persisted: a persist here would outlive the call
    # (the returned frame is lazy), which measurably degrades later
    # same-session queries (CLAUDE.md).  Nor staged: the assign map has
    # two consumers (the stats fold and the task join), and recomputing
    # it for each never lost to staging it once.  Staged and recomputed
    # medians at threshold 0.92, clustered 64-dim corpus, one warm
    # local[4] session on a 4-vCPU VM, first arm alternating:
    #
    #   N        staged    recompute
    #   100 000  11.59 s   11.94 s
    #   200 000  28.73 s   28.63 s
    #   300 000  56.02 s   50.36 s
    def _assign_blocks(keep_vec: str | None = None) -> DataFrame:
        return _with_block(
            ivf_assign(
                base,
                cent,
                id_col="vec_id",
                vec_col="__vec",
                with_sim=True,
                keep_vec=keep_vec,
            ),
            n_rings,
        )

    blocks = _assign_blocks(keep_vec="__vec")
    # the stats action runs on a VECTOR-FREE twin of the assign map:
    # mapInPandas output cannot be column-pruned, so aggregating the
    # keep_vec frame would ship all N float64 vectors through Arrow
    # just for a min/count that discards them
    stats = (
        _assign_blocks()
        .groupBy("block")
        .agg(F.min("cent_sim").alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    stats.sort(key=lambda r: r["block"])
    block_ids = np.array([r["block"] for r in stats], dtype=np.int64)
    radii = np.array([r["r"] for r in stats])
    sizes = np.array([r["n"] for r in stats], dtype=np.int64)
    ii, jj, _same, volume = _block_pair_allowlist(
        cent, block_ids, radii, sizes, threshold, n_rings
    )
    if len(ii) > _MAX_PAIR_TASKS:
        # un-prunable corpus at fine granularity: the TASK table itself
        # would outgrow its broadcast (B² pairs at B = cells·rings).
        # Coarsen to per-CELL blocks — driver math only, still sound
        # (cell radius = min ring radius), and ≤ n_cells²/2 tasks.  The
        # keyed frame must agree, so rebuild block = cell · 1 + 0.
        cells_of = block_ids // n_rings
        cell_ids = np.unique(cells_of)
        cell_r = np.array(
            [radii[cells_of == c].min() for c in cell_ids]
        )
        cell_n = np.array(
            [sizes[cells_of == c].sum() for c in cell_ids], dtype=np.int64
        )
        n_rings = 1
        blocks = _assign_blocks(keep_vec="__vec")  # rebound n_rings
        block_ids, radii, sizes = cell_ids, cell_r, cell_n
        ii, jj, _same, volume = _block_pair_allowlist(
            cent, block_ids, radii, sizes, threshold, n_rings
        )
        if len(ii) > _MAX_PAIR_TASKS:
            # cell granularity is the floor — nothing left to merge.
            # Reachable only with a user-supplied n_cells far above the
            # auto cap on an un-prunable corpus; say so loudly instead
            # of silently shipping an oversized broadcast (the module's
            # no-silent-caps stance).
            import warnings

            warnings.warn(
                f"cosine_pairs[blocked]: {len(ii)} block-pair tasks even "
                f"at per-cell granularity exceed the {_MAX_PAIR_TASKS} "
                f"broadcast ceiling — reduce n_cells (the ~sqrt(N) auto "
                f"default stays under it)",
                RuntimeWarning,
                stacklevel=2,
            )
    log_candidate_volume("cosine_pairs[blocked]", volume, n_rows)
    if stats_out is not None:
        stats_out.update(
            n_rows=n_rows,
            n_blocks=len(block_ids),
            n_tasks=len(ii),
            candidates=volume,
            total_pairs=n_rows * (n_rows - 1) // 2,
        )
    if len(ii) == 0:
        return local_frame(spark, [], out_schema)
    # group surviving block pairs by their CELL pair (r9): blocks
    # partition the vectors and every surviving block pair maps to
    # exactly one cell pair, so scoring the surviving ring combos
    # inside ONE task per cell pair preserves meets-exactly-once while
    # each vector ships once per partner CELL with >= 1 surviving
    # combo instead of once per surviving partner ring-block —
    # identical FLOPs and candidate volume (only surviving combos are
    # scored, as per-combo submatrix matmuls), up to n_rings x less
    # member shuffle.  The disk-bound uniform regime is exactly that
    # replication; per-task memory grows to O(|cell_i| + |cell_j|)
    # vectors (~2 sqrt N at the auto cell count — same order as pass A
    # of the NN path).
    bi_arr, bj_arr = block_ids[ii], block_ids[jj]
    cell_pair = np.stack([bi_arr // n_rings, bj_arr // n_rings], axis=1)
    _, task_of_combo = np.unique(cell_pair, axis=0, return_inverse=True)
    # combos sorted by task, captured by the task closure as THREE flat
    # numpy arrays + a starts index (combo_starts[t]:combo_starts[t+1]
    # slices task t's combos) — bounded by _MAX_PAIR_TASKS combos, ~8 MB
    # of int64 at the ceiling (the same budget the old task-table
    # broadcast was sized for); a per-task dict of numpy arrays pickled
    # ~4x bigger and rebuilt ~1M objects on every deserialization
    order = np.argsort(task_of_combo, kind="stable")
    combos_i = bi_arr[order]
    combos_j = bj_arr[order]
    n_tasks_grouped = int(task_of_combo.max()) + 1
    combo_starts = np.searchsorted(
        task_of_combo[order], np.arange(n_tasks_grouped + 1)
    )
    ship: set[tuple[int, int]] = set()  # (task, block) rows to ship
    for t, bi, bj in zip(
        task_of_combo.tolist(), bi_arr.tolist(), bj_arr.tolist()
    ):
        ship.add((t, bi))
        ship.add((t, bj))
    ship_rows = sorted(ship)
    task_df = local_frame(
        spark,
        pd.DataFrame(
            {
                "task": np.array([s[0] for s in ship_rows], dtype=np.int64),
                "block": np.array([s[1] for s in ship_rows], dtype=np.int32),
            }
        ),
        "task BIGINT, block INT",
    )
    exploded = blocks.select("vec_id", "__vec", "block").join(
        F.broadcast(task_df), "block"
    )

    empty_pdf = pd.DataFrame(
        {
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "cos_sim": np.array([], dtype=np.float64),
        }
    )

    def pair_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = _norm_rows(_matrix(pdf["__vec"]))
        blk = pdf["block"].to_numpy()
        t = int(pdf["task"].iloc[0])
        lo, hi = int(combo_starts[t]), int(combo_starts[t + 1])
        row_of = {int(b): np.flatnonzero(blk == b) for b in np.unique(blk)}
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for bi, bj in zip(combos_i[lo:hi].tolist(), combos_j[lo:hi].tolist()):
            a = row_of.get(bi)
            if a is None:
                continue
            if bi == bj:  # within-block combo: upper triangle, no self
                if len(a) < 2:
                    continue
                sims = mat[a] @ mat[a].T
                ri, ci = np.where(sims >= threshold)
                keep = ids[a][ri] < ids[a][ci]
                out_a.append(ids[a][ri[keep]])
                out_b.append(ids[a][ci[keep]])
                out_s.append(sims[ri[keep], ci[keep]])
            else:
                b = row_of.get(bj)
                if b is None:
                    continue
                sims = mat[a] @ mat[b].T
                ri, ci = np.where(sims >= threshold)
                ia, ib = ids[a][ri], ids[b][ci]
                # a duplicated vec_id whose rows land in different
                # blocks would meet itself here — drop it like the
                # within-block strict < and the broadcast arm do
                keep = ia != ib
                ia, ib = ia[keep], ib[keep]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_s.append(sims[ri[keep], ci[keep]])
        if not out_a:
            return empty_pdf
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        )

    return exploded.groupBy("task").applyInPandas(pair_cell, out_schema)


def _cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_bits: int,
    n_tables: int,
    seed: int,
    stats_out: dict | None = None,
) -> DataFrame:
    dim = vectors.select(F.size(vec_col).alias("d")).first()["d"]
    base = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    vb = hyperplane_buckets(base, "__vec", dim, n_bits, n_tables, seed)
    if stats_out is not None:
        # opt-in (two extra driver jobs): the exact pre-distinct bucket
        # self-join volume — the candidate-volume telemetry contract
        from streaming_spark.telemetry import (
            log_candidate_volume,
            self_join_candidate_volume,
        )

        n = base.count()
        est = self_join_candidate_volume(vb, ["table_id", "bucket"])
        log_candidate_volume("cosine_pairs[lsh]", est, n)
        stats_out.update(
            n_rows=n,
            n_blocks=0,
            n_tasks=0,
            candidates=est,
            total_pairs=n * (n - 1) // 2,
        )
    cand = (
        vb.alias("a")
        .join(vb.alias("b"), ["table_id", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    return _verify_pairs(cand, base, threshold)


def _cosine_expr(a: str, b: str):
    """JVM-side cosine via zip_with + aggregate (float64 accumulation).
    A zero vector yields 0.0 (coalesced 0/0), matching ``_norm_rows``'s
    zero guard in the matmul arms — without it the NULL would be
    silently dropped by the downstream ``>= threshold`` filter and the
    physical arms would disagree on padding rows."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.col(b), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return F.coalesce(dot / F.nullif(na * nb, F.lit(0.0)), F.lit(0.0))


def pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    sample_limit: int = 2048,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantization codebooks: the vector space splits into
    ``m`` subspaces of dim/m dims; each gets its own ``ksub``-centroid
    L2 k-means codebook.  Trained driver-side on the same bounded
    deterministic md5-ordered sample as ``ivf_centroids`` (codebooks
    are tiny — m·ksub·dsub floats — and training sees thousands of
    vectors regardless of corpus size; only encode/score distribute).

    Returns (m, ksub, dsub) float64."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    mat = _normed_sample(vectors, id_col, vec_col, sample_limit)
    if rotation is not None:
        mat = mat @ rotation
    return _train_pq_books(mat, m, ksub, dsub, n_iters)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Encode each vector as ``m`` small codes (nearest codebook entry
    per subspace, L2) — a narrow Arrow-batch map with the codebooks as
    broadcast side input; no shuffle.  At 100 TB the encoded index is
    m bytes/vector instead of 4·dim — the point of PQ."""

    def encode(pdf: pd.DataFrame, side) -> pd.DataFrame:
        books, rot = side
        if len(pdf) == 0:
            return None
        mat = _norm_rows(_matrix(pdf[vec_col]))
        if rot is not None:
            mat = mat @ rot
        codes = _pq_codes(mat, books)
        return pd.DataFrame(
            {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
        )

    return stream(
        df.select(id_col, vec_col),
        encode,
        f"{id_col} BIGINT, codes ARRAY<INT>",
        side_input=(codebooks, rotation),
    )


class _RunningTopR:
    """Per-partition running top-``topr`` per query, shared by
    :func:`cosine_topk`'s partial stage and the ADC scan
    (:func:`_adc_topk`, which serves pq_topk, ivfpq_topk and
    ivfpq_topk_local): each chunk OFFERs a query's candidate (sims,
    ids), the state keeps the best ``topr`` seen so far, and FLUSH
    emits one partial frame per partition.  This bounds the global
    window's shuffle input at O(partitions × Q × topr) instead of
    O(chunks × Q × topr) (a production 128 MB partition holds ~50
    Arrow chunks).  Padding rows and NaN-poisoned candidates carry
    sim = -inf; flush drops on NON-FINITE SIM, never on the id (a
    corpus is free to use negative vec_ids).

    Retention is DETERMINISTIC under the (sim DESC, vec_id ASC) total
    order (_top_by_sim_then_id): ADC sims tie frequently — vectors
    sharing PQ codes score identically — so an arbitrary argpartition
    boundary would make the rerank candidate pool (and hence the
    post-rerank top-k) depend on chunk arrival order; this way the
    retained pool is exactly what the downstream window's
    (adc_sim DESC, vec_id ASC) order would keep."""

    def __init__(self, n_q: int, topr: int):
        self.topr = topr
        self.s = np.full((n_q, topr), -np.inf)
        self.v = np.zeros((n_q, topr), dtype=np.int64)

    def offer(self, qi: int, sims: np.ndarray, ids: np.ndarray) -> None:
        r = min(self.topr, len(ids))
        if r == 0:
            return
        sims = _nan_to_neginf(sims)  # state is NaN-free by induction,
        # so sanitizing the incoming candidates once covers the merge
        top = _top_by_sim_then_id(sims, ids, r)
        s_all = np.concatenate([self.s[qi], sims[top]])
        v_all = np.concatenate([self.v[qi], ids[top]])
        sel = _top_by_sim_then_id(s_all, v_all, self.topr)
        self.s[qi] = s_all[sel]
        self.v[qi] = v_all[sel]

    def flush(self, qids: np.ndarray) -> pd.DataFrame | None:
        keep = np.isfinite(self.s.reshape(-1))
        if not keep.any():
            return None
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, self.topr)[keep],
                "vec_id": self.v.reshape(-1)[keep],
                "adc_sim": self.s.reshape(-1)[keep],
            }
        )


def _collect_queries(
    queries: DataFrame, vec_col: str, id_col: str = "vec_id"
) -> tuple[np.ndarray, np.ndarray]:
    """A small table collected driver-side as (ids, row-normalized
    float64 matrix) — the bounded side every broadcast arm ships (a
    query batch, an ADC serve's LUT input, a small-table self join).
    An empty table gives a (0, 0) matrix."""
    rows = queries.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])
    if not rows:
        return ids, np.empty((0, 0))
    return ids, _norm_rows(_matrix([r[1] for r in rows]))


def _adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    enc: DataFrame,
    q_ids: np.ndarray,
    side,
    score,
    k: int,
    rerank: int,
    vec_col: str,
    row_cols: tuple = (),
) -> DataFrame:
    """The ADC scan every PQ serve shares (pq_topk, ivfpq_topk,
    ivfpq_topk_local): broadcast (q_ids, ``side``, rerank), scan the
    code table ``enc`` with ONE :class:`_RunningTopR` per partition,
    keep the top ``rerank`` per query in a candidate window and
    re-score that pool exactly (:func:`_topk_on_candidates`).

    ``score(side, qi, qid, codes, cols, ids, *extra)`` is the variant's
    mask-and-score step for query ``qi`` over one Arrow chunk: codes
    (rows, m), ``cols`` = arange(m), vec_ids, then the chunk's
    ``row_cols`` columns as arrays.  It returns the (sims, vec_ids) to
    offer, or None when the chunk holds no candidate for the query."""
    side_bc = _broadcast_bounded(
        vectors.sparkSession.sparkContext, (q_ids, side, rerank)
    )

    def adc_part(batches):
        qids, side, topr = side_bc.value
        state = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].to_numpy())  # (rows, m)
            ids = pdf["vec_id"].to_numpy()
            cols = np.arange(codes.shape[1])
            extra = [pdf[c].to_numpy() for c in row_cols]
            if state is None:
                state = _RunningTopR(len(qids), topr)
            for qi, qid in enumerate(qids):
                hit = score(side, qi, qid, codes, cols, ids, *extra)
                if hit is not None:
                    state.offer(qi, *hit)
        if state is None:
            return
        out = state.flush(qids)
        if out is not None:
            yield out

    partial = ensure_parallelism(enc).mapInPandas(
        adc_part, "query_id BIGINT, vec_id BIGINT, adc_sim DOUBLE"
    )
    cand = _rank_window(partial, rerank, "adc_sim", "vec_id", "r").select(
        "query_id", "vec_id"
    )
    return _topk_on_candidates(cand, queries, vectors, k, vec_col)


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via product quantization with asymmetric
    distance computation (ADC): queries stay exact; every encoded
    vector's similarity is a table lookup — per query a (m × ksub) LUT
    of subspace inner products, sim ≈ Σⱼ lut[j, codes[j]].

    ``rotation`` (an orthogonal matrix, see :func:`opq_train`) rotates
    BOTH sides before quantization — inner products are invariant under
    orthogonal maps (q·v = (Rq)·(Rv)), so the same LUT/ADC machinery
    serves OPQ unchanged; only the codebooks and codes live in the
    rotated space.

    The third ANN path next to hyperplane LSH and IVF: PQ scans ALL
    codes (no candidate generation, perfectly partition-parallel, m
    bytes/vector memory traffic) and pays approximation error in the
    SCORES rather than in candidate recall.  ``rerank`` keeps the top-R
    per query by ADC score per partition, then re-scores that candidate
    pool exactly — the standard PQ + exact-rerank deployment.  Shuffle
    volume: O(Q·R·partitions) candidate ids, then the rerank join.

    The QUERY side is collected driver-side to build the LUTs — the
    same bounded-queries contract as cosine_topk's broadcast: this
    serves a small query batch against a huge index, never
    index-vs-index (use cosine_pairs for that)."""
    books = pq_codebooks(vectors, dim, m, ksub, vec_col=vec_col, rotation=rotation)
    enc = pq_encode(vectors, books, vec_col=vec_col, rotation=rotation)
    q_ids, q_mat = _collect_queries(queries, vec_col)
    if rotation is not None:
        q_mat = q_mat @ rotation
    dsub = dim // m
    # per-query LUTs: (Q, m, ksub) — inner product of each query
    # subvector with every codebook entry
    luts = np.einsum("qjd,jkd->qjk", q_mat.reshape(len(q_ids), m, dsub), books)

    def score(tables, qi, qid, codes, cols, ids):
        sims = tables[qi][cols, codes].sum(axis=1)  # (rows,)
        mask = ids != qid
        return sims[mask], ids[mask]

    return _adc_topk(
        vectors, queries, enc, q_ids, luts, score, k, rerank, vec_col
    )


def ivfpq_residual_codebooks(
    vectors: DataFrame,
    centroids: np.ndarray,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    sample_limit: int = 2048,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """PQ codebooks trained on RESIDUALS (vector minus its nearest IVF
    centroid) — the billion-scale composition: residuals are far more
    concentrated than raw vectors, so the same (m, ksub) budget spends
    its codes on a much smaller region and quantization error drops.
    Same bounded deterministic md5-ordered driver-side sample as
    ``ivf_centroids`` / ``pq_codebooks``; only encode/score distribute.

    ``rotation`` (orthogonal, see :func:`opq_train_residual`) trains the
    codebooks in the rotated residual space — the OPQ composition.

    Returns (m, ksub, dsub) float64."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    mat = _normed_sample(vectors, id_col, vec_col, sample_limit)
    _, resid = _residuals(mat, centroids, rotation)
    return _train_pq_books(resid, m, ksub, dsub, n_iters)


def ivfpq_encode(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ index rows: each vector's coarse cell plus the PQ codes of
    its residual — ONE narrow Arrow-batch map (centroids + codebooks
    broadcast), no shuffle.  Index cost: 4 + m bytes/vector.  With
    ``rotation`` the residual is rotated before encoding (OPQ): inner
    products are rotation-invariant, so scoring only has to rotate the
    query side to match."""
    return _ivfpq_encode_rows(
        df, centroids, codebooks, rotation, id_col, vec_col,
        lambda resid, cells, books: _pq_codes(resid, books),
    )


def _ivfpq_encode_rows(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    rotation: np.ndarray | None,
    id_col: str,
    vec_col: str,
    codes_of,
) -> DataFrame:
    """The (id, cell, codes) encode map ivfpq_encode and
    ivfpq_encode_local share: normalize, take each row's cell and
    (rotated) residual, then ``codes_of(resid, cells, codebooks)``.
    The codes column is stamped with the quantizer fingerprint."""

    def encode(pdf: pd.DataFrame, side) -> pd.DataFrame:
        cent, books, rot = side
        if len(pdf) == 0:
            return None
        mat = _norm_rows(_matrix(pdf[vec_col]))
        cells, resid = _residuals(mat, cent, rot)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cell": cells.astype(np.int32),
                "codes": list(codes_of(resid, cells, books)),
            }
        )

    id_type = df.schema[id_col].dataType.simpleString()
    return stream(
        df.select(id_col, vec_col),
        encode,
        f"{id_col} {id_type}, cell INT, codes ARRAY<INT>",
        side_input=(centroids, codebooks, rotation),
    ).withMetadata(
        "codes",
        {
            # binds the staged code table to its quantizer; survives the
            # parquet round-trip (Spark stores column metadata in the
            # footer schema) and is validated by ivfpq_topk(encoded=)
            _ANN_FP_KEY: ann_quantizer_fingerprint(
                centroids=centroids, codebooks=codebooks, rotation=rotation
            )
        },
    )


def _ivfpq_serve_setup(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    n_cells: int,
    nprobe: int,
    m: int,
    ksub: int,
    vec_col: str,
    centroids: np.ndarray | None,
    rotation: np.ndarray | None,
    codebooks: np.ndarray | None,
    encoded: DataFrame | None,
    train,
    encode,
    what: str,
):
    """The preamble ivfpq_topk and ivfpq_topk_local share: default the
    centroids (ivf_centroids) and the codebooks (``train``), take the
    code table (``encoded``, else ``encode`` inline), collect the
    queries, probe their cells and prune the table to the probed union.
    Returns (books, enc, q_ids, q_lut, qc, probed): ``qc`` (Q, n_cells)
    holds the q·c_cell terms, and ``q_lut`` is the query side of the
    residual LUT — rotated under OPQ (q·r = (Rq)·(Rr)), where the
    coarse term is not."""
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(vectors, dim, n_cells, vec_col=vec_col)
    )
    books = (
        codebooks
        if codebooks is not None
        else train(vectors, cent, dim, m, ksub, vec_col=vec_col, rotation=rotation)
    )
    # ``encoded`` accepts the PRE-STAGED code table — the
    # (vec_id, cell, codes) frame the encode map produces, persisted as
    # parquet next to the ann_index_save artifact.  Encoding is the
    # full-corpus map (the index BUILD); serving many query batches
    # re-encodes nothing.  Codes are a deterministic function of
    # (vectors, centroids, codebooks, rotation), so the staged frame is
    # result-identical to inline encoding (pinned by test) — but it is
    # only valid WITH the exact quantizer that produced it: the encode
    # map stamps a quantizer fingerprint into the staged column
    # metadata and a mismatch is refused here, not silently served.
    if encoded is not None:
        _check_staged_fingerprint(
            encoded,
            ("codes",),
            ann_quantizer_fingerprint(
                centroids=cent, codebooks=books, rotation=rotation
            ),
            what,
        )
        enc = encoded
    else:
        enc = encode(vectors, cent, books, vec_col=vec_col, rotation=rotation)
    q_ids, q_mat = _collect_queries(queries, vec_col)
    qc = q_mat @ cent.T  # (Q, n_cells): the q·c_cell scalar terms
    probed = probed_from_qc(qc, nprobe)  # (Q, p)
    enc = _prune_to_probed_cells(enc, probed, cent.shape[0])
    q_lut = q_mat if rotation is None else q_mat @ rotation
    return books, enc, q_ids, q_lut, qc, probed


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via the composed IVF-PQ index — the standard
    billion-scale ANN deployment: a coarse quantizer prunes the search
    to ``nprobe`` of ``n_cells`` inverted cells, residual PQ codes give
    each candidate an O(m)-lookup approximate score (ADC), and the top
    ``rerank`` pool per query is re-scored exactly.

    The inner-product algebra makes the composition cheap: with v ≈
    c_cell + r_v,  q·v = q·c_cell + q·r_v — so ONE (m × ksub) residual
    LUT per query serves every probed cell, and the cell's contribution
    is a per-(query, cell) scalar added at scoring time.  Residual
    encoding is why IVF-PQ beats plain PQ at equal (m, ksub): the
    codebooks only have to cover centroid-local offsets.

    Physical plan: encode is a shuffle-free Arrow map; scoring is a
    partition-parallel scan filtered at PLANNING time to the batch's
    probed-cell union (on a cell-PARTITIONED staged layout —
    ``encoded.write.partitionBy("cell")`` — unprobed directories are
    never listed, bounding scan I/O at Σ probed-cell rows ≈
    nprobe/n_cells of the table; demonstrated with files-read /
    rows-scanned accounting by ann_topk_ivfpq_pruned and measured at
    1M vectors by scripts/scale.py --family ann, ``bycell-q*`` steps)
    and masked per-query in-map;
    the only shuffles are the O(Q·rerank·partitions) candidate window
    and the exact-rerank join.  Queries collect driver-side under the
    same bounded-queries contract as cosine_topk/pq_topk.

    ``rotation`` (see :func:`opq_train_residual`) composes OPQ into the
    index: residuals are rotated before quantization, and by q·r =
    (Rq)·(Rr) only the residual LUT switches to the rotated query —
    the q·c_cell coarse term and everything downstream are untouched."""
    books, enc, q_ids, q_lut, qc, probed = _ivfpq_serve_setup(
        vectors, queries, dim, n_cells, nprobe, m, ksub, vec_col,
        centroids, rotation, codebooks, encoded,
        ivfpq_residual_codebooks, ivfpq_encode, "ivfpq_topk",
    )
    dsub = dim // m
    luts = np.einsum("qjd,jkd->qjk", q_lut.reshape(len(q_ids), m, dsub), books)

    def score(side, qi, qid, codes, cols, ids, cells):
        qc_terms, probe_sets, tables = side
        mask = np.isin(cells, probe_sets[qi]) & (ids != qid)
        if not mask.any():
            return None
        sims = (
            tables[qi][cols, codes[mask]].sum(axis=1)
            + qc_terms[qi][cells[mask]]
        )
        return sims, ids[mask]

    return _adc_topk(
        vectors, queries, enc, q_ids, (qc, probed, luts), score,
        k, rerank, vec_col, ("cell",),
    )


def opq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_opq_iters: int = 8,
    sample_limit: int = 2048,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization (Ge et al. 2014, non-parametric):
    learn an ORTHOGONAL rotation R that minimizes PQ reconstruction
    error before the space splits into subspaces — the fix for PQ's
    blind spot, energy unevenly spread across the fixed subspace
    partition (correlated/anisotropic embeddings).  Alternates (1)
    train+encode PQ in the rotated space, (2) solve the Procrustes
    problem R = argmin ||XR − X̂|| over orthogonal R (SVD of XᵀX̂).

    Driver-side on the same bounded md5-ordered sample as every other
    quantizer here; deterministic (fixed init R = I, fixed iteration
    counts, SVD of a fixed matrix).  Returns (R, codebooks); apply by
    passing both to :func:`pq_topk` / :func:`pq_encode` — scoring is
    unchanged because inner products are rotation-invariant."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    mat = _normed_sample(vectors, id_col, vec_col, sample_limit)
    return _opq_alternation(mat, dim, m, ksub, n_opq_iters, n_iters)


def opq_train_residual(
    vectors: DataFrame,
    centroids: np.ndarray,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_opq_iters: int = 8,
    sample_limit: int = 2048,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ composed with IVF: learn the orthogonal rotation on the
    RESIDUAL distribution (vector minus its coarse centroid) instead of
    the raw vectors — the space PQ actually has to quantize inside an
    IVF index.  Same alternation as :func:`opq_train` (train+encode PQ
    in the rotated space, then solve the Procrustes problem), run over
    residuals of the bounded md5-ordered sample.

    Returns (R, codebooks); pass both to :func:`ivfpq_topk` /
    :func:`ivfpq_encode`.  The coarse assignment stays in the UNROTATED
    space (cells are found before residuals exist), so the q·c_cell
    term of the scoring identity is untouched and only the residual LUT
    rotates the query."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    mat = _normed_sample(vectors, id_col, vec_col, sample_limit)
    _, resid = _residuals(mat, centroids)
    return _opq_alternation(resid, dim, m, ksub, n_opq_iters, n_iters)


def ivfpq_local_codebooks(
    vectors: DataFrame,
    centroids: np.ndarray,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    sample_limit: int = 4096,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """PER-CELL residual codebooks: every IVF cell trains its OWN
    (m, ksub) product quantizer over the residuals of its members —
    the refinement over shared residual codebooks when cells have
    different local geometry (shape, spread, orientation), which one
    global codebook set must average over.  Memory cost is n_cells× the
    codebook table (still tiny — codebooks never touch the data path),
    accuracy is bounded below by the shared variant because each cell's
    training set is a subset with its own dedicated budget.

    Cells with fewer sample members than ``ksub`` fall back to
    codebooks trained on the POOLED residuals (exactly
    :func:`ivfpq_residual_codebooks`'s output for that budget), so thin
    cells degrade to the shared behavior instead of degenerate
    centroids.  Same bounded md5-ordered driver-side sample contract as
    every quantizer here (a larger default ``sample_limit`` because the
    sample divides across cells).

    Returns (n_cells, m, ksub, dsub) float64."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    n_cells = centroids.shape[0]
    mat = _normed_sample(vectors, id_col, vec_col, sample_limit)
    # with OPQ composed in, the books live in R-space
    assign, resid = _residuals(mat, centroids, rotation)
    pooled = _train_pq_books(resid, m, ksub, dsub, n_iters)
    local = np.empty((n_cells, m, ksub, dsub))
    for cell in range(n_cells):
        members = resid[assign == cell]
        local[cell] = (
            _train_pq_books(members, m, ksub, dsub, n_iters)
            if len(members) >= ksub
            else pooled
        )
    return local


def ivfpq_encode_local(
    df: DataFrame,
    centroids: np.ndarray,
    local_books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ index rows under per-cell codebooks: each vector's codes
    are computed against ITS cell's codebooks.  Same shuffle-free
    Arrow-map plan and 4 + m bytes/vector index as the shared-codebook
    :func:`ivfpq_encode`; the broadcast side is n_cells× larger but
    still centroid-table-sized."""
    return _ivfpq_encode_rows(
        df, centroids, local_books, rotation, id_col, vec_col,
        _pq_codes_per_cell,
    )


def ivfpq_topk_local(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 32,
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ top-k with PER-CELL residual codebooks
    (:func:`ivfpq_local_codebooks`).  The scoring identity is unchanged
    — q·v = q·c_cell + q·r̂_v — but the residual LUT becomes
    per-(query, cell): a (Q, n_cells, m, ksub) table, built driver-side
    (still tiny: codebook-scale, not data-scale) and applied by indexing
    each candidate's LUT slice by its cell.  Everything else — the
    shuffle-free encode map, the probed-cell mask, the bounded candidate
    window, the exact rerank — is the shared-codebook plan verbatim.

    ``rotation`` composes OPQ in: one GLOBAL orthogonal rotation
    (:func:`opq_train_residual`) re-balances residual energy across
    subspace boundaries for every cell at once, and per-cell codebooks
    then adapt to each cell's rotated local geometry — rotation fixes
    the subspace SPLIT, local books fix the cell SHAPE; the two
    refinements are orthogonal and multiply.

    ``codebooks`` (the (n_cells, m, ksub, dsub) local books) and
    ``encoded`` (the staged :func:`ivfpq_encode_local` frame) give this
    variant the same train-once / encode-once / query-many deployment
    boundary as ivf_topk(assigned=) / ivfpq_topk(encoded=) — the staged
    frame's quantizer fingerprint is validated before serving."""
    books, enc, q_ids, q_lut, qc, probed = _ivfpq_serve_setup(
        vectors, queries, dim, n_cells, nprobe, m, ksub, vec_col,
        centroids, rotation, codebooks, encoded,
        ivfpq_local_codebooks, ivfpq_encode_local, "ivfpq_topk_local",
    )
    dsub = dim // m
    # per-(query, cell) LUTs: (Q, n_cells, m, ksub)
    luts = np.einsum(
        "qjd,cjkd->qcjk", q_lut.reshape(len(q_ids), m, dsub), books
    )

    def score(side, qi, qid, codes, cols, ids, cells):
        qc_terms, probe_sets, tables = side
        mask = np.isin(cells, probe_sets[qi]) & (ids != qid)
        if not mask.any():
            return None
        cells_m = cells[mask]
        codes_m = codes[mask]
        sims = (
            tables[qi][cells_m[:, None], cols[None, :], codes_m].sum(axis=1)
            + qc_terms[qi][cells_m]
        )
        return sims, ids[mask]

    return _adc_topk(
        vectors, queries, enc, q_ids, (qc, probed, luts), score,
        k, rerank, vec_col, ("cell",),
    )


def spherical_kmeans_full(
    vectors: DataFrame,
    dim: int,
    k: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_sample: int = 2048,
) -> tuple[np.ndarray, DataFrame]:
    """FULL-CORPUS spherical k-means: Lloyd iterations where every
    vector votes, not just a driver-side sample — the cluster-based
    curation primitive (domain discovery, cluster-balanced sampling,
    semantic bucketing of a training corpus).

    Distributed the way Lloyd distributes at any scale: per iteration,
    ONE shuffle-free Arrow map computes per-partition partial sums
    (cell, count, Σvec) against broadcast centroids — the map-side
    combine — and the driver folds the ≤ partitions · k partial rows
    (centroid-table-sized, NOT data-sized) into new centroids.  k
    iterations cost k narrow scans; nothing data-sized ever moves.

    Initialization is deterministic FARTHEST-POINT (greedy max-min
    cosine) over the md5-ordered bounded sample — the k-means++ idea
    without randomness — which avoids seeding two centroids inside one
    tight cluster (a local optimum Lloyd cannot escape); a few
    driver-side Lloyd passes on the sample then warm-start the
    distributed refinement.  Rerun-stable end to end.
    Returns (centroids, assignment DataFrame (id, cell))."""
    smat = _normed_sample(vectors, id_col, vec_col, init_sample)
    if len(smat) < k:
        raise ValueError(
            f"spherical_kmeans_full: k={k} exceeds the {len(smat)}-row "
            "init sample — farthest-point init would duplicate centroids"
        )
    chosen = [0]
    best_sim = smat @ smat[0]  # max cos to the chosen set, per sample row
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, smat @ smat[nxt])
    cent = _spherical_lloyd(smat, smat[chosen].copy(), 5)  # sample warm-up
    base = vectors.select(id_col, vec_col)

    def partials(pdf: pd.DataFrame, side) -> pd.DataFrame:
        c = side
        if len(pdf) == 0:
            return None
        mat = _norm_rows(_matrix(pdf[vec_col]))
        a = np.argmax(mat @ c.T, axis=1)
        out_cell, out_n, out_sum = [], [], []
        for cell in np.unique(a):
            sel = a == cell
            out_cell.append(int(cell))
            out_n.append(int(sel.sum()))
            out_sum.append(mat[sel].sum(axis=0).tolist())
        return pd.DataFrame({"cell": out_cell, "n": out_n, "vsum": out_sum})

    for _ in range(n_iters):
        rows = stream(
            base,
            partials,
            "cell INT, n BIGINT, vsum ARRAY<DOUBLE>",
            side_input=cent,
        ).collect()  # bounded: <= partitions * k centroid-sized rows
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["vsum"])
            counts[r["cell"]] += r["n"]
        new = cent.copy()
        for cell in range(k):
            if counts[cell]:
                norm = np.linalg.norm(sums[cell])
                if norm > 0:
                    new[cell] = sums[cell] / norm
        cent = new
    assign = ivf_assign(
        vectors, cent, id_col=id_col, vec_col=vec_col, nprobe=1, out_id=id_col
    )
    return cent, assign


def ann_quantizer_fingerprint(
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
) -> str:
    """Short deterministic fingerprint (16 hex chars of sha256) of a
    trained quantizer — the binding between a STAGED index table
    (ivf_assign / ivfpq_encode output persisted as parquet) and the
    centroids/codebooks/rotation that produced it.  Staged codes are
    meaningless under any other quantizer: serving a stale or
    mismatched table would silently return wrong neighbors, so the
    encode maps stamp this value into the staged frame's column
    metadata and the serve paths (ivf_topk(assigned=), ivfpq_topk
    (encoded=)) refuse a frame whose stamp disagrees with the quantizer
    passed alongside.  Hashes the float64 bytes + shapes, so it is
    exactly as strict as the bit-identity the ann_index_save round-trip
    guarantees."""
    import hashlib

    h = hashlib.sha256()
    for name, arr in (
        ("centroids", centroids),
        ("codebooks", codebooks),
        ("rotation", rotation),
    ):
        h.update(name.encode())
        if arr is None:
            h.update(b"<none>")
        else:
            a = np.ascontiguousarray(np.asarray(arr, dtype=np.float64))
            h.update(repr(a.shape).encode())
            h.update(a.tobytes())
    return h.hexdigest()[:16]


_ANN_FP_KEY = "streaming_spark.ann_fingerprint"


def _check_staged_fingerprint(
    staged: DataFrame, code_cols: tuple, expected_fp: str, what: str
) -> None:
    """Refuse a pre-staged index frame stamped with a DIFFERENT
    quantizer fingerprint.  ``code_cols`` lists the columns that may
    carry the stamp (ivf_assign stamps both `cell` and the id column —
    a layout partitioned BY cell moves `cell` into directory names and
    loses its column metadata).  Frames without any stamp (hand-built
    in a test, produced by an older writer) pass unchecked — the
    docstring warning still applies to them; frames produced by
    ivf_assign / ivfpq_encode always carry one, so the mismatch check
    is active on every artifact-served path."""
    for col in code_cols:
        try:
            meta = staged.schema[col].metadata or {}
        except (KeyError, TypeError):
            continue
        fp = meta.get(_ANN_FP_KEY)
        if fp is None:
            continue
        if fp != expected_fp:
            raise ValueError(
                f"{what}: staged index fingerprint {fp!r} does not match "
                f"the quantizer passed to this call ({expected_fp!r}) — "
                "the staged codes were produced by a different quantizer; "
                "serve with the exact centroids/codebooks/rotation saved "
                "next to the staged table (ann_index_save)."
            )
        return


def ann_index_save(
    path: str,
    *,
    dim: int,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    params: dict | None = None,
) -> None:
    """Persist trained ANN index parameters (coarse centroids, PQ
    codebooks, OPQ rotation) as a versioned JSON artifact — the
    deployment boundary a billion-scale index actually has: quantizers
    are trained ONCE on a bounded sample (ivf_centroids /
    pq_codebooks / opq_train_residual), then shipped to every encode and
    every query job; retraining per job would silently re-key the stored
    codes.  Mirrors bpe_save's artifact contract (operators/bpe.py):
    explicit format tag + version, loud failure on anything else.

    Arrays are stored as nested lists of float64 — exact for the
    round-trip (Python floats are IEEE doubles and json round-trips
    them via repr), so a loaded index reproduces bit-identical
    assignments, codes and ADC scores.  The write is atomic (tmp +
    rename): a crash mid-save keeps the previous quantizer, which a
    staged index's fingerprint still names."""
    from streaming_spark.operators.index_commit import write_marker

    artifact = {
        "format": "streaming-spark-ann",
        "version": 1,
        "dim": dim,
        "params": params or {},
        # binds staged code tables to this quantizer — see
        # ann_quantizer_fingerprint; float64 json round-trip is exact,
        # so the fingerprint recomputed from a LOADED artifact matches
        "fingerprint": ann_quantizer_fingerprint(
            centroids=centroids, codebooks=codebooks, rotation=rotation
        ),
        "centroids": None if centroids is None else centroids.tolist(),
        "codebooks": None if codebooks is None else codebooks.tolist(),
        "rotation": None if rotation is None else rotation.tolist(),
    }
    write_marker(path, artifact)


def ann_index_load(path: str) -> dict:
    """Load an :func:`ann_index_save` artifact; numpy arrays restored as
    float64 with their saved shapes.  Raises ``ValueError`` on an
    unrecognized format or version — a corrupt or foreign file must fail
    loudly, not decode garbage codes against the wrong codebooks."""
    import json

    with open(path, encoding="utf-8") as f:
        artifact = json.load(f)
    if artifact.get("format") != "streaming-spark-ann":
        raise ValueError(f"not a streaming-spark ANN artifact: {path}")
    if artifact.get("version") != 1:
        raise ValueError(
            f"unsupported ANN artifact version: {artifact.get('version')}"
        )
    for key in ("centroids", "codebooks", "rotation"):
        if artifact.get(key) is not None:
            artifact[key] = np.asarray(artifact[key], dtype=np.float64)
    return artifact


def _restamp(frame: DataFrame, source: DataFrame, cols: tuple) -> DataFrame:
    """Re-apply the quantizer fingerprint metadata of ``source``'s
    ``cols`` onto ``frame`` — joins/filters usually carry column
    metadata through, but the staged-index binding is load-bearing
    (serve paths REFUSE on mismatch), so the maintenance ops re-stamp
    explicitly rather than rely on plan-shape behavior."""
    for col in cols:
        try:
            meta = source.schema[col].metadata or {}
        except (KeyError, TypeError):
            continue
        if _ANN_FP_KEY in meta and col in frame.columns:
            frame = frame.withMetadata(col, meta)
    return frame


def _encode_index_rows(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray | None,
    rotation: np.ndarray | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One quantizer dispatch for every staged-index writer: with
    ``codebooks`` the rows are IVF-PQ codes (ivfpq_encode), without,
    plain-IVF inverted rows (ivf_assign with the CALLER's id column —
    the stamp rides on it, since a by-cell layout loses `cell`'s
    metadata to the directory name).  ann_index_append and
    ann_index_refresh must key rows identically or a refreshed table
    would drift from appended ones."""
    if codebooks is None:
        return ivf_assign(
            df, centroids, id_col=id_col, vec_col=vec_col, out_id=id_col
        )
    return ivfpq_encode(
        df, centroids, codebooks,
        id_col=id_col, vec_col=vec_col, rotation=rotation,
    )


def _check_index_siblings(staged_dir: str, what: str) -> None:
    """Refuse to touch (or serve) a staged index whose on-disk state
    says a maintenance move crashed mid-swap — the data is all still on
    disk, but NOT all under ``staged_dir``, so proceeding would silently
    serve or extend a partial table:

    - a compaction park beside ``staged_dir`` means ann_index_compact
      crashed mid-swap: some affected cells are PARKED there and absent
      from the table.  Recovery: move each ``cell=*`` under it back into
      ``staged_dir`` (its rewrite, if any, sits under the staging
      sibling), then delete both siblings and re-run the compact.
    - a ``<staged_dir>.old`` sibling next to a MISSING ``staged_dir``
      means ann_index_refresh crashed between its two renames: the real
      table is the ``.old`` one.  Recovery: rename it back.  (``.old``
      NEXT TO a complete ``staged_dir`` is the harmless
      crashed-after-swap leftover and passes.)

    Without this gate a post-crash ann_index_append would hit the
    missing dir, treat it as a first write, and silently start a fresh
    index with the fingerprint gate bypassed while the data sits at
    ``.old``."""
    from streaming_spark.operators.index_commit import (
        refuse_parked_compact,
        refuse_swapped_out,
    )

    refuse_parked_compact(staged_dir, what, "ann_index", sibling=True)
    refuse_swapped_out(staged_dir, what, "ann_index_refresh")


def _require_bycell_layout(staged_dir: str, what: str) -> None:
    """Refuse a staged dir without cell= partition directories — append
    would corrupt a flat table into a mixed-depth layout parquet cannot
    read, and compact has no whole-partition unit to rewrite.  Also
    refuses mid-crash sibling states (see _check_index_siblings)."""
    import os

    _check_index_siblings(staged_dir, what)
    if not any(e.startswith("cell=") for e in os.listdir(staged_dir)):
        raise ValueError(
            f"{what} requires the cell-partitioned staged layout "
            f"(write.partitionBy('cell')); {staged_dir!r} has no cell= "
            "directories — re-stage the table by cell first."
        )


def ann_index_open(spark, staged_dir: str) -> DataFrame:
    """Serve-side read of a staged index table that REFUSES a
    mid-crash on-disk state (a parked compaction, or a table left
    at ``.old`` by a crashed refresh) instead of silently serving a
    table with parked cells missing — the read-path counterpart to the
    write-path gates in ann_index_append/compact.  Use this instead of
    a bare ``spark.read.parquet`` when the path is a maintained index."""
    _check_index_siblings(staged_dir, "ann_index_open")
    return spark.read.parquet(staged_dir)


def ann_index_append(
    staged_dir: str,
    delta: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats_out: dict | None = None,
) -> None:
    """Delta ingest into a staged, cell-partitioned index table — the
    maintenance half of the train-once / encode-once / query-many
    boundary: a 100 TB corpus GROWS, and re-encoding it per ingest batch
    is exactly the rebuild the staged index exists to avoid.  With
    ``codebooks`` the delta becomes IVF-PQ code rows (ivfpq_encode, for
    ``ivfpq_topk(encoded=)``); without, plain IVF inverted-file rows
    (ivf_assign, for ``ivf_topk(assigned=)``).  Either way the delta is
    encoded with the SAME quantizer (fingerprint-validated against any
    existing staged stamp — appending rows keyed by a different
    quantizer would silently corrupt every later serve) and appended
    with ``partitionBy("cell")``: parquet append only writes files under
    the delta's OWN cell directories, so an ingest batch touches
    O(delta cells), never the base table.

    Contract: delta ids must be NEW.  An upsert is tombstone-the-old-id
    (:func:`ann_tombstone_filter` at serve time, merge-on-read) followed
    by an append of the new row; :func:`ann_index_compact` folds the
    ledger into the files.  Serving the appended table is row-identical
    to a full rebuild over base ∪ delta because encoding is a per-row
    deterministic function of (vector, quantizer) — pinned by
    test_ann_index_append_serve_equals_rebuild.

    ``stats_out`` (rows_appended / cells_touched) runs a second encode
    pass over the delta for the counts — fine for the bounded ingest
    batches this is for; skip it when the delta is huge.

    Measured (scripts/scale.py --family ann, ``maintenance`` step,
    clustered 64-dim):
    appending a 10k delta into a staged 250-cell index costs 2.0 / 2.9
    / 4.4 s at N = 100k / 500k / 1M — delta-bound, vs 62–106 s for the
    full re-encode at 1M — with serve identity holding at every
    point."""
    from pyspark.errors import AnalysisException

    spark = delta.sparkSession
    # refuse a mid-crash sibling state BEFORE the read: a table parked
    # at .old by a crashed refresh makes the read fail and would
    # otherwise be treated as a first write — a fresh index silently
    # started with the fingerprint gate bypassed while the data sits
    # in the sibling
    _check_index_siblings(staged_dir, "ann_index_append")
    expected = ann_quantizer_fingerprint(
        centroids=centroids, codebooks=codebooks, rotation=rotation
    )
    try:
        existing = spark.read.parquet(staged_dir)
    except AnalysisException:
        existing = None  # first write: append below creates the layout
    if existing is not None:
        _require_bycell_layout(staged_dir, "ann_index_append")
        _check_staged_fingerprint(
            existing, ("codes", "cell", id_col), expected, "ann_index_append"
        )
    enc = _encode_index_rows(
        delta, centroids, codebooks, rotation, id_col, vec_col
    )
    if stats_out is not None:
        cells = enc.groupBy("cell").count().collect()
        stats_out["rows_appended"] = int(sum(r["count"] for r in cells))
        stats_out["cells_touched"] = len(cells)
    enc.repartition("cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(staged_dir)


def ann_index_refresh(
    staged_dir: str,
    vectors: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Re-key the staged index under a NEW quantizer — the slow-cadence
    counterpart to :func:`ann_index_append`'s fast ingest path: after
    enough drift the quantizer retrains, and every stored row must be
    re-encoded (codes are meaningless across quantizers, which is why
    append REFUSES a fingerprint mismatch rather than mixing).  WHEN to
    refresh is :func:`ann_index_drift`'s job: it scores each ingest
    batch against the training snapshot persisted with the quantizer
    (:func:`ann_training_snapshot`) and trips on routing or residual
    shift.  The full
    corpus is encoded into a SIBLING directory and swapped in whole
    (a two-rename directory swap — the local stand-in for an
    object-store manifest commit, same posture as ann_index_compact), so
    a concurrently-failing refresh never leaves a half-keyed table: the
    old index stays serveable until the swap, and after it the old
    quantizer's serve calls refuse the new stamp loudly.  A crash
    BETWEEN the two renames leaves the table at ``<staged_dir>.old``
    intact (never half-keyed) — recovery is renaming it back.  Save the
    new quantizer alongside with :func:`ann_index_save`."""
    from streaming_spark.operators.index_commit import staged_swap

    # a parked compaction (or a table left wholly at .old) must be
    # recovered before a refresh discards the old table's directories
    _check_index_siblings(staged_dir, "ann_index_refresh")
    enc = _encode_index_rows(
        vectors, centroids, codebooks, rotation, id_col, vec_col
    )
    with staged_swap(staged_dir, ".refresh") as tmp:
        enc.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(tmp)


def _cell_stats(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
) -> "tuple[np.ndarray, np.ndarray, float]":
    """Per-cell (count, mean residual norm) of a corpus under a coarse
    quantizer, plus the overall mean residual norm — ONE ivf_assign pass
    (the same shuffle-free map an append's encode runs, so a deployment
    computes these in that pass).  Residual norm is exact:
    ``|v̂ − c|² = 1 + |c|² − 2·(v̂·c)`` with v̂ the normalized vector and
    ``cent_sim`` ivf_assign's score, which is the DOT against the raw
    centroid (``mat @ cent.T`` — equal to the cosine only for unit
    centroids); per-cell ``|c|²`` joins in from a broadcast
    centroid-norm table.  Pinned against a direct numpy computation on
    non-unit centroids (test_ann_index_drift_trigger)."""
    spark = vectors.sparkSession
    n_cells = len(centroids)
    cnorm = np.linalg.norm(np.asarray(centroids, dtype=np.float64), axis=1)
    norm_df = local_frame(
        spark,
        [(int(c), float(cnorm[c])) for c in range(n_cells)],
        "cell INT, cnorm DOUBLE",
    )
    resid = F.sqrt(
        F.greatest(
            F.lit(0.0),
            F.lit(1.0)
            + F.col("cnorm") * F.col("cnorm")
            - 2.0 * F.col("cent_sim"),
        )
    )
    # ids are never consumed here (only cell + cent_sim are), so a
    # synthesized id keeps the pass independent of how the caller's
    # frame is keyed (string doc_id corpora work) AND prunes the scan
    # to the vector column alone
    rows = (
        ivf_assign(
            vectors.select(
                F.monotonically_increasing_id().alias("__drift_id"),
                F.col(vec_col),
            ),
            centroids,
            id_col="__drift_id",
            vec_col=vec_col,
            with_sim=True,
            out_id="__drift_id",
        )
        .join(F.broadcast(norm_df), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(resid).alias("mean_resid"),
        )
        .collect()
    )
    counts = np.zeros(n_cells, dtype=np.float64)
    resids = np.zeros(n_cells, dtype=np.float64)
    for r in rows:
        counts[r["cell"]] = r["n"]
        resids[r["cell"]] = r["mean_resid"]
    total = counts.sum()
    overall = float((counts * resids).sum() / total) if total else 0.0
    return counts, resids, overall


def ann_training_snapshot(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> dict:
    """Training-time distribution snapshot for drift detection: per-cell
    assignment FRACTIONS and the overall mean residual norm of the
    corpus the quantizer was trained on.  Persist it next to the
    quantizer — ``ann_index_save(..., params={"snapshot": snap})`` —
    so every later ingest batch can measure how far it has drifted from
    what the quantizer saw (:func:`ann_index_drift`).  JSON-safe
    (plain floats/lists).  The snapshot carries the quantizer's
    fingerprint — a snapshot is only meaningful against the centroids
    it was measured under, and a same-cell-count retrain would
    otherwise slip past a shape check silently."""
    counts, _, overall = _cell_stats(vectors, centroids, vec_col)
    total = counts.sum()
    frac = (counts / total) if total else counts
    return {
        "cell_frac": [float(x) for x in frac],
        "mean_resid": overall,
        "n_vectors": int(total),
        "fingerprint": ann_quantizer_fingerprint(centroids=centroids),
    }


def ann_index_drift(
    delta: DataFrame,
    centroids: np.ndarray,
    snapshot: dict,
    vec_col: str = "embedding",
    tv_threshold: float = 0.15,
    resid_threshold: float = 1.25,
) -> dict:
    """The WHEN of :func:`ann_index_refresh`: measure an ingest batch's
    drift from the quantizer's training snapshot, in the same
    ivf_assign pass an :func:`ann_index_append` encode runs (a fused
    deployment computes both from one map; here the pass re-runs on the
    bounded delta).  Two standard, complementary signals:

    - ``assignment_tv`` — total-variation distance between the delta's
      per-cell assignment fractions and the training snapshot's
      (0 = identical routing, 1 = disjoint).  Catches DISTRIBUTION
      shift: new content routing into different cells, hot cells
      ballooning (which degrades the nprobe/n_cells pruning economics
      even when residuals stay small).
    - ``resid_ratio`` — the delta's mean residual norm over the
      training mean.  Catches REPRESENTATION shift: vectors landing
      far from every centroid (new embedding model, new modality),
      which directly inflates PQ quantization error and collapses
      recall.

    ``drifted`` is True when either exceeds its threshold — the
    retrain-and-swap trigger (ann_index_refresh + ann_index_save).
    Thresholds are deployment policy; the defaults flag a ~15% routing
    shift or a 25% residual inflation.  Pinned behavior: a stationary
    delta (same generating distribution) stays under both thresholds, a
    deliberately shifted one trips them
    (tests/test_operators.py::test_ann_index_drift_trigger)."""
    snap_fp = snapshot.get("fingerprint")
    if snap_fp is not None:
        expected = ann_quantizer_fingerprint(centroids=centroids)
        if snap_fp != expected:
            raise ValueError(
                f"ann_index_drift: snapshot fingerprint {snap_fp!r} does "
                f"not match the quantizer passed ({expected!r}) — the "
                "snapshot was measured under different centroids (a "
                "same-cell-count retrain is the common case); rebuild it "
                "with ann_training_snapshot after every refresh."
            )
    counts, _, overall = _cell_stats(delta, centroids, vec_col)
    total = counts.sum()
    if total == 0:
        raise ValueError("ann_index_drift: empty delta")
    frac = counts / total
    train_frac = np.asarray(snapshot["cell_frac"], dtype=np.float64)
    if len(train_frac) != len(frac):
        raise ValueError(
            f"ann_index_drift: snapshot has {len(train_frac)} cells, "
            f"quantizer has {len(frac)} — the snapshot belongs to a "
            "different quantizer; rebuild it with ann_training_snapshot."
        )
    tv = float(0.5 * np.abs(frac - train_frac).sum())
    base = float(snapshot["mean_resid"])
    ratio = float(overall / base) if base > 0 else float("inf")
    return {
        "assignment_tv": round(tv, 4),
        "resid_ratio": round(ratio, 4),
        "delta_mean_resid": round(float(overall), 6),
        "train_mean_resid": round(base, 6),
        "n_delta": int(total),
        "drifted": bool(tv > tv_threshold or ratio > resid_threshold),
    }


def ann_tombstone_filter(
    encoded: DataFrame, tombstones, id_col: str = "vec_id"
) -> DataFrame:
    """Merge-on-read deletes for a staged index: drop tombstoned ids
    from the code table BEFORE serving (``ivfpq_topk(encoded=...)`` /
    ``ivf_topk(assigned=...)``).  Deletes are the other half of
    maintenance — dedup keep-one and takedown pipelines both retire
    vectors — and rewriting index files per delete batch is as
    untenable at scale as re-encoding per ingest batch, so deletes
    accumulate in a small ledger that broadcast-anti-joins here and is
    folded into the files by :func:`ann_index_compact` when it grows.

    Serving the filtered table is row-identical to a rebuild over
    corpus-minus-tombstones: codes are per-row, so removing rows
    changes no other row's code or ADC score (a deleted id simply stops
    appearing as a neighbor).  The quantizer fingerprint stamp is
    re-applied to the filtered frame, keeping the serve-path mismatch
    gate active."""
    from streaming_spark.operators.index_commit import ledger_ids

    tomb = ledger_ids(
        encoded.sparkSession, tombstones, id_col,
        encoded.schema[id_col].dataType.simpleString(),
    )
    out = encoded.join(F.broadcast(tomb), id_col, "left_anti")
    return _restamp(out, encoded, ("codes", "cell", id_col))


def ann_index_compact(
    spark,
    staged_dir: str,
    tombstones,
    id_col: str = "vec_id",
) -> dict:
    """Fold a tombstone ledger into a cell-partitioned staged code
    table by rewriting ONLY the cells that contain tombstoned ids —
    the compaction a merge-on-read index needs once its delete ledger
    stops being small.  Unaffected cell directories are never read for
    data nor rewritten (their files are untouched — pinned by
    test_ann_index_compact), so compaction cost scales with the
    tombstones' cell footprint, not the table.

    Mechanics (the local-filesystem stand-in for an object-store
    manifest commit; the compaction all three index families share,
    index_commit.Compaction): survivors of the affected cells are
    written to a caller-owned staging sibling of ``staged_dir`` with
    the same by-cell layout (removed again if the write raises), then
    each affected cell directory is PARKED at a park sibling and the
    rewrite renamed in — a cell whose every row was tombstoned is
    simply parked without a replacement.  Nothing ever exists only in
    process-scoped scratch, so a crash at ANY point leaves every row on
    disk: before the swap loop the table is untouched; mid-loop a
    missing cell's old contents sit intact under the park (recovery is
    renaming them back) and its rewrite under the staging.  Both
    siblings are removed only after the loop completes.  Finding the
    affected cells scans the table's (id, cell) columns only (column
    pruning keeps the codes unread).  Returns stats: ``cells_total``,
    ``cells_rewritten``, ``cells_removed``, ``rows_before``,
    ``rows_removed``.

    Measured (scripts/scale.py --family ann, ``maintenance`` step):
    compacting 100
    tombstones out of a staged index costs 2.3 / 2.5 / 3.5 s at
    N = 100k / 500k / 1M, rewriting only the 52 / 75 / 69 cells they
    touch of 77 / 176 / 250 total — footprint-bound, not N-bound."""
    import os

    from streaming_spark.operators.index_commit import (
        Compaction,
        ledger_ids,
        partition_values,
    )

    _require_bycell_layout(staged_dir, "ann_index_compact")
    staged = spark.read.parquet(staged_dir)
    tomb = ledger_ids(
        spark, tombstones, id_col,
        staged.schema[id_col].dataType.simpleString(),
    )
    affected = partition_values(
        staged.join(F.broadcast(tomb), id_col, "left_semi"), "cell"
    )
    cells_total = sum(
        1 for e in os.listdir(staged_dir) if e.startswith("cell=")
    )
    stats = {
        "cells_total": cells_total,
        "cells_rewritten": 0,
        "cells_removed": 0,
        "rows_before": 0,
        "rows_removed": 0,
    }
    if not affected:
        return stats
    # caller-owned siblings (same filesystem, outside the scratch
    # sweep/atexit): survivors must never exist ONLY in process-scoped
    # scratch while live cell directories are being replaced
    comp = Compaction(staged_dir, sibling=True)
    stats["rows_before"], stats["rows_removed"] = comp.rewrite(
        "",
        staged.filter(F.col("cell").isin([int(c) for c in affected])),
        [(tomb, [id_col])],
        ("cell",),
        [f"cell={c}" for c in affected],
        finish=lambda kept: _restamp(kept, staged, ("codes", "cell", id_col)),
    )
    stats["cells_rewritten"], stats["cells_removed"] = comp.commit()
    return stats


def semdedup(
    vectors: DataFrame,
    dim: int,
    k: int = 8,
    threshold: float = 0.3,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    blocking + within-cluster cosine pruning.  Cluster the corpus
    (spherical_kmeans_full), compare vectors only WITHIN their cluster,
    and for every pair at or above ``threshold`` drop the member that
    sits CLOSER to its centroid — the paper's keep-low-centroid-
    similarity rule, which retains the diverse outskirts of each
    semantic region and prunes its redundant core.

    Keep-rule as pairwise dominance (no component build needed): v is
    dropped iff some same-cluster u has cos(u, v) ≥ threshold and
    (centroid_sim(u), u.id) < (centroid_sim(v), v.id) lexicographically
    — exactly one survivor per mutually-duplicate set, deterministic.

    Returns (id, cell, centroid_sim, dropped).

    Scale shape: clustering is the shuffle-free Lloyd loop; the pair
    stage is ONE self-join keyed by cell, so candidates are bounded by
    cluster populations — the paper's trick is choosing k ∝ N so
    clusters stay comparison-sized (they use k = 50k for LAION); the
    centroid table broadcasts everywhere."""
    cents, assign = spherical_kmeans_full(
        vectors, dim, k=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    spark = vectors.sparkSession
    cent_df = local_frame(
        spark,
        [(c, [float(x) for x in cents[c]]) for c in range(len(cents))],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    base = (
        vectors.select(id_col, vec_col)
        .join(assign, id_col)  # assign: (id_col, cell) from ivf_assign
        .join(F.broadcast(cent_df), "cell")
        .select(
            id_col,
            "cell",
            vec_col,
            _cosine_expr(vec_col, "centroid").alias("centroid_sim"),
        )
    )
    left = base.select(
        F.col("cell"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        F.col("centroid_sim").alias("__csa"),
    )
    right = base.select(
        F.col("cell"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        F.col("centroid_sim").alias("__csb"),
    )
    # v (= right side) is dominated by u when u is nearer the fringe
    dominated = (
        left.join(right, "cell")
        .filter(
            (F.col("__ida") != F.col("__idb"))
            & (
                (F.col("__csa") < F.col("__csb"))
                | (
                    (F.col("__csa") == F.col("__csb"))
                    & (F.col("__ida") < F.col("__idb"))
                )
            )
        )
        .filter(_cosine_expr("__va", "__vb") >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return (
        base.select(id_col, "cell", "centroid_sim")
        .join(
            dominated.withColumn("__drop", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "cell",
            "centroid_sim",
            F.coalesce("__drop", F.lit(False)).alias("dropped"),
        )
    )


def decontamination_audit(
    corpus: DataFrame, bench: DataFrame, threshold: float = 0.25
) -> DataFrame:
    """Exact embedding-space decontamination audit shared by
    q_semantic_decontaminate and its ingest-time streaming twin — the
    threshold, the -2.0 clean sentinel, and the 4-dp rounding live
    ONCE, so the twin pair cannot drift (code review r6).  ``corpus``
    is (vec_id, embedding); ``bench`` is the held-out (bench_id,
    bench_emb) slice, BROADCAST because benchmarks are eval-sized; the
    corpus streams through one broadcast pass and never shuffles."""
    sim = _cosine_expr("embedding", "bench_emb")
    hits = (
        corpus.join(F.broadcast(bench))
        .select("vec_id", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max("sim").alias("max_sim"),
        )
    )
    return (
        corpus.select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.round(F.coalesce("max_sim", F.lit(-2.0)), 4).alias("max_sim"),
            F.col("n_hits").isNotNull().alias("contaminated"),
        )
    )
