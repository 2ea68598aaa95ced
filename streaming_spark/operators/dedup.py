"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-disciplined for 100 TB operation:

- exact: hash-groupBy on content digest (one shuffle of (digest, id)).
- MinHash + LSH: shingle → minhash signature (narrow Arrow-batch map) →
  band explode → bucket join (shuffle keyed by (band, band_hash) — never
  all-pairs) → exact-Jaccard verification on candidates only.
- SimHash: 64-bit signature → 4×16-bit band blocking → Hamming
  verification via xor+popcount, JVM-side.
- embedding cosine: see similarity.py (shares the blocked-matmul path).

The signature computations are deterministic (fixed seeds, md5-based
shingle hashing) so results are stable under Spark task retries — the
engine-level requirement inherited from the reference's
kill-query-on-failure model (SURVEY.md §7 'hard parts').
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_spark.io import local_frame
from streaming_spark.operators.stream import ensure_parallelism, stream

_MERSENNE = (1 << 61) - 1
_POLY_BASE = np.uint64(1099511628211)  # FNV prime; arithmetic wraps mod 2^64


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Deterministic 64-bit hashes of the k-char shingles of ``text`` —
    vectorized polynomial rolling hash over the utf-8 bytes (wrapping
    uint64 arithmetic), O(len) with no per-shingle digest calls."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(data) < k:
        data = np.pad(data, (0, k - len(data)), constant_values=0)
    n = len(data) - k + 1
    powers = _POLY_BASE ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(data, k)
    with np.errstate(over="ignore"):
        h = (windows * powers).sum(axis=1, dtype=np.uint64)
        # final avalanche (splitmix64-style) to spread low-entropy inputs
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h = h ^ (h >> np.uint64(31))
    return h


def _perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    shingle_k: int = 9,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signatures + shingle sets.

    Output: ``(id, shingles array<long>, sig array<long>)``.  Narrow map
    over Arrow batches; cost O(len(text)·num_perm) per row, no shuffle.
    """
    a, b = _perm_params(num_perm, seed)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, shingle_lists, sigs = [], [], []
        for doc_id, text in zip(pdf[id_col], pdf[text_col]):
            h = _shingle_hashes(text or "", shingle_k)
            # (num_perm, n_shingles) permuted hashes; min per row
            permuted = (np.outer(a, h) + b[:, None]) % _MERSENNE
            sig = permuted.min(axis=1)
            ids.append(doc_id)
            # int64 view for Spark LongType: raw shingle hashes span the
            # full uint64 range (only sig is reduced mod 2^61-1), so
            # values >= 2^63 wrap negative — harmless for the set
            # algebra (both sides of intersect/union wrap identically)
            # but NOT a non-negative id: don't bucket or export these
            shingle_lists.append(np.unique(h).astype(np.int64).tolist())
            sigs.append(sig.astype(np.int64).tolist())
        return pd.DataFrame({"id": ids, "shingles": shingle_lists, "sig": sigs})

    # id type follows the input (string doc ids are first-class in
    # curation pipelines); every existing bigint caller is unchanged
    id_type = df.schema[id_col].dataType.simpleString()
    return stream(
        ensure_parallelism(
            df.select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
        ),
        compute,
        f"id {id_type}, shingles ARRAY<BIGINT>, sig ARRAY<BIGINT>",
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    max_bucket: int = 200,
    sig_len: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (id_a < id_b).

    Shuffle key is (band_id, band_hash); bucket size is capped at
    ``max_bucket`` to bound the quadratic within-bucket pairing (oversized
    buckets are degenerate content — at web scale they are boilerplate
    and are handled by the exact-dup pass instead).  Buckets over the cap
    ARE dropped from pairing; the loss is observable via
    ``lsh_bucket_stats`` (same banding, returns the hot buckets and their
    sizes) — run it when tuning ``max_bucket`` for a corpus.

    ``sig_len`` (when the caller statically knows the signature length,
    e.g. its own ``num_perm``) validates the banding on the driver and
    skips the one-row probe job ``_banded`` otherwise runs.
    """
    banded = _banded(sigs, bands, sig_len=sig_len)

    # ONE shuffle keyed by (band_id, bh): gather each bucket, expand its
    # pairs in-place (bounded by max_bucket² — no self-join, no second
    # scan of the banded table), then dedup across bands.
    grouped = (
        banded.groupBy("band_id", "bh")
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    return (
        grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _banded(sigs: DataFrame, bands: int, sig_len: int | None = None) -> DataFrame:
    """Shared banding: (id, band_id, bh) — one row per (doc, band).

    Guard: a signature SHORTER than ``bands`` floors rows_per_band to 0,
    every band slice goes empty, and the whole corpus collapses into one
    bucket per band — which the hot-bucket cap then DROPS, i.e. total
    silent recall loss.  That degenerate geometry raises driver-side
    instead: statically when the caller passes ``sig_len`` (it knows its
    num_perm — no Spark job at all), else via a one-row limit probe.
    A non-multiple num_perm uses the first bands·floor(num_perm/bands)
    values — standard banding; the remainder carries no extra collision
    power."""
    if sig_len is not None:
        n = sig_len
    else:
        probe = sigs.select(F.size("sig").alias("n")).first()
        n = probe["n"] if probe is not None else None
    if n is not None and n < bands:
        raise ValueError(
            f"lsh banding: {n} signature values cannot fill "
            f"{bands} bands (rows_per_band would be 0 and every doc "
            f"would share one bucket per band) — lower bands or raise "
            f"num_perm"
        )
    rows_per_band = F.floor(F.size("sig") / bands).cast("int")
    return sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice("sig", i * rows_per_band + 1, rows_per_band),
            )
        ).alias("band_id", "band_sig"),
    ).select("id", "band_id", F.xxhash64("band_id", "band_sig").alias("bh"))


def lsh_bucket_stats(
    sigs: DataFrame, bands: int = 16, max_bucket: int = 200
) -> DataFrame:
    """Hot-bucket observability for ``lsh_candidate_pairs``: the buckets
    whose size exceeds ``max_bucket`` (and are therefore excluded from
    pairing), with their sizes — ``(band_id, bh, bucket_size)``.  Empty
    result ⇒ no recall loss from the cap."""
    return (
        _banded(sigs, bands)
        .groupBy("band_id", "bh")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def verify_jaccard(
    pairs: DataFrame, sigs: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only —
    JVM-side array ops, no Python.

    The union SIZE is derived, never materialized (r15, guide §1.2
    step 2): shingle arrays are DISTINCT by construction
    (``minhash_signatures`` np.unique's them), so |A∪B| = |A|+|B|−|A∩B|
    exactly and ``array_union`` — which builds a hash set AND an
    |A|+|B|-element output array per pair just to be counted — drops
    out; the division takes the same two integers, so the ratio is
    bit-identical."""
    sh = sigs.select("id", "shingles")
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    # threshold on the RAW ratio; rounding is display-only (rounding
    # first would admit pairs up to 5e-5 below the threshold)
    return (
        joined.select("id_a", "id_b", jac.alias("__j"))
        .filter(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 4).alias("jaccard"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 9,
    max_bucket: int = 200,
    seed: int = 42,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs with exact verification.

    Signatures are cached for the duration of the pipeline (banding and
    verification both read them) and explicitly released afterwards — a
    lingering cache degrades later queries in the same session.  The
    verified pairs are materialized eagerly so the cache lifetime is
    bounded by this call."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_k, seed
    ).persist()
    try:
        # sig_len=num_perm: the banding guard validates statically — no
        # probe job against the cached-but-unmaterialized signatures
        pairs = lsh_candidate_pairs(sigs, bands, max_bucket, sig_len=num_perm)
        # localCheckpoint (eager) materializes while sigs are cached AND
        # leaves no cache-manager entry behind — a lingering persist()
        # both degrades later queries and silently serves identical
        # future plans from cache
        verified = verify_jaccard(pairs, sigs, threshold).localCheckpoint(eager=True)
    finally:
        sigs.unpersist()
    return verified


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document from deterministic 64-bit token hashes.

    Output ``(id, simhash)``; near-dup blocking splits the 64 bits into
    4×16-bit bands (two docs within Hamming distance 3 share at least one
    band by pigeonhole).

    Fully vectorized per Arrow batch: distinct tokens are factorized and
    hashed ONCE with pandas' C-level siphash (``pd.util.hash_array``,
    fixed default key ⇒ deterministic across processes and task retries),
    their ±1 bit matrix is scattered into per-doc accumulators with a
    single ``np.add.at`` — no per-token Python, no per-doc 64-bit loop.
    """
    bit_idx = np.arange(64, dtype=np.uint64)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        texts = pdf[text_col].fillna("")
        n_docs = len(texts)
        token_lists = [t.split() for t in texts]
        counts = np.fromiter(
            (len(t) for t in token_lists), dtype=np.int64, count=n_docs
        )
        acc = np.zeros((n_docs, 64), dtype=np.int64)
        flat: list[str] = [tok for toks in token_lists for tok in toks]
        if flat:
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh = pd.util.hash_array(np.asarray(uniques, dtype=object))
            signs = np.where(
                ((uh[:, None] >> bit_idx) & np.uint64(1)).astype(bool), 1, -1
            ).astype(np.int64)  # (n_unique, 64)
            doc_idx = np.repeat(np.arange(n_docs), counts)
            np.add.at(acc, doc_idx, signs[codes])
        packed = (
            ((acc > 0).astype(np.uint64) << bit_idx)
            .sum(axis=1, dtype=np.uint64)
            .view(np.int64)
        )
        return pd.DataFrame({"id": pdf[id_col].to_numpy(), "simhash": packed})

    return stream(
        ensure_parallelism(
            df.select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col))
        ),
        compute,
        "id BIGINT, simhash BIGINT",
    )


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: ``bands`` × ``band_bits``-bit band
    blocking over the 64-bit signature, then exact Hamming distance via
    xor + bit_count (all JVM-side).

    **Choosing the knobs — measured recall envelope** (planted 3-of-60
    -word mutations, the scripts/scale.py text corpus):

    - Candidate generation is LOSSLESS for pairs within Hamming
      distance ``bands − 1`` (pigeonhole: ≤ bands−1 flipped bits cannot
      touch every band), so recall is governed by ``max_hamming``, not
      by banding — pick ``bands ≥ max_hamming + 1`` and banding costs
      nothing.  With ``bands · band_bits < 64`` the top bits are simply
      never banded: the guarantee drops to flips-within-the-banded-
      prefix, so prefer exact 64-bit coverage.
    - The published default (4×16 bands, ham ≤ 3) has planted recall
      **~0.24** on 3-of-60-word mutations — light word edits usually
      flip MORE than 3 signature bits, and those pairs are excluded by
      the RADIUS, with banding blameless (8×8 banding at the same
      ham ≤ 3 measures the identical 0.24).  MinHash-LSH at the same
      threshold intent measures ~0.995 (scale.py --family dedup).
    - Widening radius AND bands together moves recall the right way
      (pinned by test_simhash_banding_recall_tradeoff): 8×8 bands with
      ham ≤ 7 → **0.73**; 16×4 bands with ham ≤ 11 → **0.94**.  The
      cost is the random-collision candidate floor, expected
      ``bands · N²/2^(band_bits+1)``: N²/2¹⁷ at 4×16, N²/2⁸ at 8×8,
      N²/2⁵ at 16×4 — so 8-bit bands suit corpora (or blocking keys)
      up to ~10⁵–10⁶ docs and 4-bit bands only small blocked corpora;
      beyond that, route light-mutation near-dup intent to MinHash-LSH
      and keep SimHash for its actual regime, near-identical docs at
      tight Hamming radii.

    The signature cache lifetime is bounded by this call (eager
    localCheckpoint of the result, then unpersist) — a lingering persist
    degrades later same-session queries 3-4× (measured; CLAUDE.md)."""
    sh = simhash64(df, text_col, id_col).persist()
    try:
        result = _simhash_pairs_from(
            sh, max_hamming, bands=bands, band_bits=band_bits
        ).localCheckpoint(eager=True)
    finally:
        sh.unpersist()
    return result


def _simhash_pairs_from(
    sh: DataFrame, max_hamming: int, bands: int = 4, band_bits: int = 16
) -> DataFrame:
    if bands < 1 or band_bits < 1 or bands * band_bits > 64:
        raise ValueError(
            f"simhash banding must satisfy 1 <= bands*band_bits <= 64; "
            f"got {bands} bands x {band_bits} bits"
        )
    def band_expr(i):
        shifted = F.shiftrightunsigned("simhash", band_bits * i)
        if band_bits == 64:  # the full hash IS the band; the 64-bit
            return shifted  # mask literal would overflow a Java long
        return shifted.bitwiseAND(F.lit((1 << band_bits) - 1))

    banded = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[band_expr(i) for i in range(bands)])
        ).alias("band_id", "band_val"),
    )
    # Self-join shape, NOT the grouped collect_list shape the minhash /
    # fuzzy candidate stages use: both sides read the CACHED signature
    # frame (the caller persists it for exactly this), the join
    # broadcasts, and the whole candidate stage plans shuffle-free —
    # measured 1.3 s vs 1.7-2.2 s for a grouped rewrite at sf0.1 (r14;
    # the struct-emitting pair lambda runs interpreted and the
    # aggregation forces a real exchange the broadcast join never pays).
    a = banded.select(
        "band_id", "band_val", F.col("id").alias("id_a"), F.col("simhash").alias("h_a")
    )
    b = banded.select(
        "band_id", "band_val", F.col("id").alias("id_b"), F.col("simhash").alias("h_b")
    )
    pairs = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    mode: str = "auto",
    driver_limit: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list
    ``(id_a, id_b)`` → ``(id, component)`` where component is the
    minimum member id — the cluster step that turns near-dup PAIRS into
    dedup GROUPS (keep one doc per component).

    Two physical strategies, identical results (pinned by test),
    mirroring the ``cosine_pairs`` auto contract:

    - ``"driver"``: the edge list is collected through Arrow
      (``toPandas`` — columnar, not per-row Row objects) and union-find
      with path compression labels every component in one pass —
      near-dup edge lists are usually FAR smaller than the corpus
      (only duplicated docs appear), and at gate scale the iterative
      arm's per-round jobs (two joins + fold + checkpoint +
      convergence count, times O(diameter) rounds) are pure fixed
      overhead for a graph that fits in kilobytes.  Valid only while
      edges fit the ≤ ``driver_limit`` contract (~16 MB of int64 pairs
      at the 1M default; the union-find dict adds a few hundred MB of
      transient Python objects at that extreme — size the limit down
      in driver-constrained deployments).  Depth-insensitive: no
      max_iter refusal.
    - ``"iterative"``: min-label propagation (each node takes the min
      label among itself and its neighbors) until a fixpoint;
      converges in O(diameter) rounds, and near-dup graphs are shallow
      (dup clusters are cliques or near-cliques, diameter ≈ 1-2).
      Each round is ONE shuffle of the edge list; ``localCheckpoint``
      truncates the growing lineage — without it, iteration i replays
      all i-1 predecessors (the classic iterative-Spark trap at
      scale).  Refuses loudly past ``max_iter`` (see below).
    - ``"auto"``: ONE ``LIMIT driver_limit+1`` collect both probes the
      size and, when the contract holds, IS the driver arm's input —
      the edge lineage is often an expensive similarity join (the
      whole cosine-pair matmul for the embedding graph), so a separate
      probe-count action would recompute it once per action for
      nothing.  Overflow falls through to iterative.  Both arms are
      exact, so dedup recall never depends on the routing.
    """
    edges = pairs.select(
        F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
    ).distinct()
    if mode == "auto":
        sample = edges.limit(driver_limit + 1).toPandas()
        if len(sample) <= driver_limit:
            return _components_driver(edges, sample)
        mode = "iterative"
    if mode == "driver":
        return _components_driver(edges, edges.toPandas())
    if mode != "iterative":
        raise ValueError(f"connected_components: unknown mode {mode!r}")
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    labels = nodes.withColumn("component", F.col("id")).localCheckpoint()
    for _ in range(max_iter):
        lu = edges.join(labels, edges.u == labels.id).select(
            F.col("v").alias("id"), "component"
        )
        lv = edges.join(labels, edges.v == labels.id).select(
            F.col("u").alias("id"), "component"
        )
        new_labels = (
            labels.select("id", "component")
            .union(lu)
            .union(lv)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # min-label propagation moves the minimum ONE hop per round, so
        # a duplicate CHAIN longer than max_iter exits here with labels
        # that split one true cluster into several — silently keeping
        # duplicates is the worst failure mode a dedup primitive can
        # have, so refuse loudly instead (near-dup graphs are shallow
        # cliques in practice; a deeper one needs a bigger max_iter or
        # a pointer-jumping variant)
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iter} rounds ({changed} nodes moved last round) — "
            f"the component graph is deeper than max_iter; raise it"
        )
    return labels


def _components_driver(edges: DataFrame, pdf: "pd.DataFrame") -> DataFrame:
    """Union-find labeling of an already-COLLECTED edge frame — the
    bounded small arm of :func:`connected_components` (the caller
    enforces the size contract and hands over the Arrow-collected
    pandas frame so the edge lineage runs exactly once and no per-row
    Row objects are built).  Component label = min member id, same as
    the iterative arm; id types are preserved (the output schema is
    derived from the edge columns, so string ids work identically),
    and the result ships back through Arrow too."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    groups: dict = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    ids: list = []
    comps: list = []
    for members in groups.values():
        comp = min(members)
        ids.extend(members)
        comps.extend([comp] * len(members))
    u_field = edges.schema["u"]
    schema = StructType(
        [
            StructField("id", u_field.dataType, False),
            StructField("component", u_field.dataType, False),
        ]
    )
    return local_frame(
        edges.sparkSession,
        pd.DataFrame({"id": ids, "component": comps}), schema
    )


def dedup_keep_one(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Materialized dedup: drop every near-duplicate except the
    minimum-id representative of each component.  Rows not in any pair
    are kept untouched (no join fan-out for the clean majority)."""
    comp = connected_components(pairs)
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def dedup_keep_central(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 6
) -> DataFrame:
    """Keep the most CENTRAL member of every near-dup cluster — the
    member with the highest PageRank in the similarity graph (ties
    broken by min id) — instead of ``dedup_keep_one``'s arbitrary
    min-id.  Centrality picks the copy most similar to the rest of its
    cluster: for training corpora that is usually the canonical
    version, with truncated/mangled variants scoring lower because they
    match fewer siblings.

    Plan: PageRank's per-round edge shuffle (operators/graph.py) +
    component labels + one window over cluster members — cluster-sized,
    never corpus-sized; untouched rows never join anything."""
    from pyspark.sql.window import Window

    from streaming_spark.operators.graph import pagerank

    # near-dup clusters are shallow (diameter 1-2): rank ORDER inside a
    # cluster stabilizes within a few rounds, so the default iteration
    # budget is small
    comp = connected_components(pairs)
    ranks = pagerank(pairs, max_iter=max_iter)
    member = comp.join(ranks, "id")
    w = Window.partitionBy("component").orderBy(
        F.col("rank").desc(), F.col("id")
    )
    keepers = (
        member.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("id").alias(id_col))
    )
    drop = comp.join(
        keepers.withColumnRenamed(id_col, "id").withColumn("keep", F.lit(True)),
        "id",
        "left",
    ).filter(F.col("keep").isNull()).select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")
