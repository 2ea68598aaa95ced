"""Unit tests for asof join, dedup, similarity, text, multimodal
operators on small handcrafted inputs with known answers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from streaming_spark.operators.asof import asof_join
from streaming_spark.operators.dedup import (
    minhash_dedup_pairs,
    simhash_dedup_pairs,
)
from streaming_spark.operators.multimodal import decode_image, fake_decode_features, frame_sample, to_blob
from streaming_spark.operators.similarity import cosine_topk
from streaming_spark.operators.text import fingerprint


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [(1, 10, "t1"), (1, 25, "t2"), (2, 5, "t3"), (3, 7, "t4")],
        "key INT, t INT, trade STRING",
    )
    quotes = spark.createDataFrame(
        [(1, 5, 100.0), (1, 20, 110.0), (1, 30, 120.0), (2, 6, 50.0)],
        "key INT, qt INT, px DOUBLE",
    )
    out = asof_join(trades, quotes, on="key", left_time="t", right_time="qt")
    got = {r.trade: (r.qt_right, r.px_right) for r in out.collect()}
    assert got["t1"] == (5, 100.0)   # latest quote at/before t=10
    assert got["t2"] == (20, 110.0)
    assert got["t3"] == (None, None)  # quote at 6 is after trade at 5
    assert got["t4"] == (None, None)  # no quotes for key 3


def test_asof_join_tie_at_equal_time(spark):
    trades = spark.createDataFrame([(1, 10, "t")], "key INT, t INT, trade STRING")
    quotes = spark.createDataFrame([(1, 10, 99.0)], "key INT, qt INT, px DOUBLE")
    out = asof_join(trades, quotes, on="key", left_time="t", right_time="qt")
    assert out.collect()[0].px_right == 99.0  # 'at or before' includes equal


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _docs_df(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("warm", "cold")),  # near-dup of 0
        (2, "completely different content about databases and query engines"),
        (3, "completely different content about databases and query planners"),
        (4, "entirely unrelated text mentioning mountains rivers and forests"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_minhash_finds_planted_near_dup(spark):
    docs = _docs_df(spark)
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert (2, 3) in found
    assert all(4 not in p for p in found)
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(0, 1)] > 0.7


def test_verify_jaccard_derived_union_identity(spark):
    """The r15 verify expression derives the union SIZE from the carried
    array sizes instead of materializing array_union — exact for the
    DISTINCT shingle sets minhash_signatures emits (|A∪B| =
    |A|+|B|−|A∩B|; same integers divided ⇒ bit-identical ratio).
    Pinned against a hand-computed reference over identical, disjoint,
    and partially-overlapping shingle sets.  (Two EMPTY sets would be
    0/0 — a DIVIDE_BY_ZERO under the session's ANSI default in the old
    array_union form and the derived form alike: the denominator is
    zero exactly when both sets are empty, so the throw condition is
    also identical.)"""
    from streaming_spark.operators.dedup import verify_jaccard

    sigs = spark.createDataFrame(
        [
            (1, [10, 20, 30, 40]),      # |1∩2|=4, |1∪2|=4 → 1.0
            (2, [10, 20, 30, 40]),
            (3, [10, 20, 99]),          # |1∩3|=2, |1∪3|=5 → 0.4
            (4, [77]),                  # disjoint from 1 → 0.0
        ],
        "id BIGINT, shingles ARRAY<BIGINT>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a BIGINT, id_b BIGINT"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in verify_jaccard(pairs, sigs, threshold=0.0).collect()
    }
    assert got == {(1, 2): 1.0, (1, 3): 0.4, (1, 4): 0.0}
    kept = {
        (r.id_a, r.id_b)
        for r in verify_jaccard(pairs, sigs, threshold=0.5).collect()
    }
    assert kept == {(1, 2)}


def test_simhash_finds_planted_near_dup(spark):
    docs = _docs_df(spark)
    pairs = simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>").repartition(4)
    queries = df.filter(F.col("vec_id") < 3)
    got = cosine_topk(df, queries, k=4)
    got_pairs = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}

    m = vecs.astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    for q in range(3):
        order = sorted(
            (i for i in range(50) if i != q), key=lambda i: (-sims[q, i], i)
        )[:4]
        for rank, expected in enumerate(order, start=1):
            assert got_pairs[(q, rank)] == expected


def test_fingerprint_deterministic(spark):
    docs = _docs_df(spark)
    a = {r.id: (r.rolling_hash, r.md5) for r in fingerprint(docs, "text", "doc_id").collect()}
    b = {r.id: (r.rolling_hash, r.md5) for r in fingerprint(docs, "text", "doc_id").collect()}
    assert a == b
    assert len(set(a.values())) == 5  # distinct docs → distinct fingerprints


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def test_fake_decode_and_frames(spark):
    docs = _docs_df(spark)
    blobs = to_blob(docs, "text", "doc_id")
    feats = fake_decode_features(blobs, dim=8).collect()
    assert all(len(r.features) == 8 for r in feats)
    # deterministic across runs
    feats2 = fake_decode_features(to_blob(docs, "text", "doc_id"), dim=8).collect()
    assert {r.id: tuple(r.features) for r in feats} == {
        r.id: tuple(r.features) for r in feats2
    }
    frames = frame_sample(blobs, frame_bytes=32, max_frames=3)
    by_doc = (
        frames.groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert all(1 <= r.n <= 3 for r in by_doc)


def test_tar_container_roundtrip(spark, tmp_path):
    """webdataset-style tar shards: multi-extension samples round-trip
    byte-exact through read_tar_members, and blobs chain into the
    existing frame sampler."""
    from streaming_spark.operators.multimodal import (
        read_tar_members,
        write_tar_shards,
    )

    samples = [
        ("0001", "txt", b"hello world"),
        ("0001", "json", b'{"label": 3}'),
        ("0002", "txt", b"x" * 200),
        ("0003", "bin", bytes(range(256))),
    ]
    paths = write_tar_shards(samples, str(tmp_path), n_shards=2)
    assert len(paths) == 2
    got = read_tar_members(spark, str(tmp_path)).collect()
    back = {(r.sample_key, r.ext): bytes(r.blob) for r in got}
    assert back == {(k, e): p for k, e, p in samples}
    assert all(r.n_bytes == len(bytes(r.blob)) for r in got)
    # sample assembly: group members by key
    by_key = {}
    for r in got:
        by_key.setdefault(r.sample_key, set()).add(r.ext)
    assert by_key["0001"] == {"txt", "json"}
    # blobs chain into the frame sampler (one-to-many explode)
    blobs = read_tar_members(spark, str(tmp_path)).filter(
        F.col("ext") == "bin"
    ).select(F.col("sample_key").cast("bigint").alias("id"), "blob")
    frames = frame_sample(blobs, frame_bytes=64, max_frames=8).collect()
    assert len(frames) == 4  # 256 bytes / 64


def test_tar_member_batch_flush(spark, tmp_path):
    """A tiny batch_bytes forces the explode map to flush mid-shard —
    rows must be identical to the single-batch path (the flush bound
    exists so a ~1 GB webdataset shard never materializes as one Arrow
    batch)."""
    from streaming_spark.operators.multimodal import (
        read_tar_members,
        write_tar_shards,
    )

    samples = [(f"{i:04d}", "txt", bytes([i % 256]) * 50) for i in range(20)]
    write_tar_shards(samples, str(tmp_path), n_shards=1)
    # 50-byte members with a 100-byte flush bound → ~10 flushes/shard
    got = read_tar_members(spark, str(tmp_path), batch_bytes=100).collect()
    back = {(r.sample_key, r.ext): bytes(r.blob) for r in got}
    assert back == {(k, e): p for k, e, p in samples}
    assert all(r.shard == "shard-00000.tar" for r in got)


def test_connected_components_known_graph(spark):
    from streaming_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (chain), {10,11}, {20} is absent (no edges)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keep_one_planted(spark):
    from streaming_spark.operators.dedup import dedup_keep_one, minhash_dedup_pairs

    docs = _docs_df(spark)
    pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
    kept = dedup_keep_one(docs, pairs, "doc_id")
    kept_ids = sorted(r.doc_id for r in kept.collect())
    # clusters {0,1} and {2,3} keep their min; 4 untouched
    assert kept_ids == [0, 2, 4]


def test_ann_recall_query_floor(spark):
    """The registered ann_recall_at_k query (the externally visible
    approximation contract) must hold a mean recall@5 floor at fixture
    scale — measured 0.78 at sf0.001 with the registered parameters."""
    from streaming_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    pdf = REGISTRY["ann_recall_at_k"](spark, SF_SMOKE).toPandas()
    assert len(pdf) == 8
    mean_recall = pdf.recall_at_5.mean()
    assert mean_recall >= 0.5, f"mean recall {mean_recall:.2f} below floor"


def test_cosine_pairs_lsh_contained_in_exact(spark):
    """The LSH scale path must emit a SUBSET of the exact pairs (its
    verify stage is exact cosine, so no false positives) and must still
    find a planted near-identical pair (high-cos pairs collide in some
    hyperplane table with overwhelming probability)."""
    from streaming_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((120, 32)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(32).astype(np.float32)  # planted
    rows = [(i, vecs[i].tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>").repartition(4)
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(df, threshold=0.4, mode="broadcast").collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(
            df, threshold=0.4, mode="lsh", n_bits=6, n_tables=8
        ).collect()
    }
    assert set(approx) <= set(exact)
    assert (0, 1) in approx
    for pair, sim in approx.items():
        assert abs(sim - exact[pair]) < 1e-6  # verify stage is exact


def test_cosine_pairs_auto_picks_blocked_above_limit(spark):
    """auto mode must route to the blocked-EXACT plan (no driver
    collect of the vector table, no recall loss) once the probe
    exceeds broadcast_limit — and that plan must produce the SAME
    pairs as the broadcast path (recall 1 is auto's contract now;
    VERDICT r6 #1) with no all-pairs stage."""
    from streaming_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    vecs[7] = vecs[3] + 0.01 * rng.standard_normal(8).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    out = cosine_pairs(df, threshold=0.6, broadcast_limit=10)  # 50 > 10 → blocked
    plan = str(out._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b): r.cos_sim for r in out.collect()}
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(df, threshold=0.6, mode="broadcast").collect()
    }
    assert got == exact
    assert (3, 7) in got  # the planted near-dup survived the blocking


def test_cosine_pairs_blocked_matches_broadcast(spark):
    """The blocked-exact path must reproduce the broadcast path's pairs
    EXACTLY (ids and 4-dp sims) on random data — recall 1 is a theorem
    about the triangle-inequality prune, not a tuning outcome."""
    from streaming_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((150, 24)).astype(np.float32)
    vecs[11] = vecs[4] + 0.02 * rng.standard_normal(24).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(150)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(4)
    b = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(df, threshold=0.4, mode="broadcast").collect()
    }
    bl = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(df, threshold=0.4, mode="blocked").collect()
    }
    assert b == bl
    assert (4, 11) in bl


def test_cosine_pairs_blocked_pretrained_quantizer_exact(spark):
    """``quantizer=`` (the r14 session-memo hook) must not change a
    single pair: ANY centroids are exact because the triangle-inequality
    bounds use measured radii.  Pinned two ways — the operator's own
    trainer passed back in, and a DEGRADED quantizer trained on a
    20-vector subset (different centroids, same answer)."""
    from streaming_spark.operators.similarity import (
        _train_blocked_quantizer,
        cosine_pairs,
    )

    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((120, 16)).astype(np.float32)
    vecs[9] = vecs[2] + 0.02 * rng.standard_normal(16).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    base = df.select("vec_id", F.col("embedding").alias("__vec"))
    want = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(df, threshold=0.4, mode="blocked").collect()
    }
    assert (2, 9) in want
    own = _train_blocked_quantizer(base, None)
    got_own = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(
            df, threshold=0.4, mode="blocked", quantizer=own
        ).collect()
    }
    assert got_own == want
    cent_sub, _, n_cells_sub = _train_blocked_quantizer(
        base.filter(F.col("vec_id") < 20), None
    )
    got_sub = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(
            df,
            threshold=0.4,
            mode="blocked",
            quantizer=(cent_sub, 120, n_cells_sub),
        ).collect()
    }
    assert got_sub == want


def test_cosine_pairs_blocked_drops_self_pairs_on_duplicate_ids(spark):
    """A vec_id that appears TWICE (an upstream union double-append)
    with similar-but-distinct vectors landing in different RINGS of the
    same cell: the cross-block task sees the id on both sides and must
    not emit an (x, x) self-pair — the broadcast arm's strict < drops
    it, and the arms must agree on the pair SET."""
    from streaming_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(5)
    rows = []
    for i in range(20):  # tight cluster at e1 (ring 0 of its cell)
        v = np.zeros(8)
        v[0] = 1.0
        v += 0.02 * rng.standard_normal(8)
        rows.append((i, v.tolist()))
    for i in range(20, 40):  # second cluster at e2 → the other cell
        v = np.zeros(8)
        v[1] = 1.0
        v += 0.02 * rng.standard_normal(8)
        rows.append((i, v.tolist()))
    # the duplicated id: once at e1 exactly (ring 0), once 40° away
    # toward e3 (ring 1 at n_rings=4) — same cell, different blocks,
    # mutual cosine cos(40°) ≈ 0.77 ≥ threshold, so only the id_a !=
    # id_b guard keeps the self-pair out of the cross-block task
    v1 = np.zeros(8)
    v1[0] = 1.0
    v2 = np.zeros(8)
    v2[0] = float(np.cos(np.radians(40.0)))
    v2[2] = float(np.sin(np.radians(40.0)))
    rows.append((999, v1.tolist()))
    rows.append((999, v2.tolist()))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    bl = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(
            df, threshold=0.5, mode="blocked", n_cells=2
        ).collect()
    }
    br = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(df, threshold=0.5, mode="broadcast").collect()
    }
    assert all(a != b for a, b in bl)
    assert bl == br


def test_block_pair_allowlist_chunking_is_invisible():
    """The chunked bound evaluation (driver-memory fix: O(chunk · B)
    peak instead of O(B²)) must return bit-identical survivors, order,
    and volume for any chunk size — including chunks that split the
    block list mid-row."""
    from streaming_spark.operators.similarity import _block_pair_allowlist

    rng = np.random.default_rng(11)
    n_cells, n_rings = 7, 3
    cent = rng.standard_normal((n_cells, 6))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    block_ids = np.sort(
        rng.choice(n_cells * n_rings, size=15, replace=False)
    ).astype(np.int64)
    radii = rng.uniform(0.2, 0.999, size=15)
    sizes = rng.integers(1, 50, size=15)
    for threshold in (-0.5, 0.1, 0.6, 0.95):
        ref = _block_pair_allowlist(
            cent, block_ids, radii, sizes, threshold, n_rings, chunk=10_000
        )
        for chunk in (1, 2, 4, 7):
            got = _block_pair_allowlist(
                cent, block_ids, radii, sizes, threshold, n_rings, chunk=chunk
            )
            assert np.array_equal(got[0], ref[0])
            assert np.array_equal(got[1], ref[1])
            assert np.array_equal(got[2], ref[2])
            assert got[3] == ref[3]


def test_block_pair_allowlist_prunes_soundly():
    """Tight orthogonal clusters at a high threshold: every cross-cell
    block pair is provably below threshold and must be pruned; same-cell
    pairs must survive, with the EXACT candidate volume they imply.  At
    a permissive threshold nothing may be pruned (the bound is sound,
    never aggressive)."""
    from streaming_spark.operators.similarity import _block_pair_allowlist

    cent = np.eye(3)
    tight = float(np.cos(np.radians(5.0)))
    # one ring per cell (n_rings=1): block id == cell id
    block_ids = np.array([0, 1, 2])
    radii = np.array([tight, tight, tight])
    sizes = np.array([10, 20, 30])
    # cross-cell bound: cos(90° − 10°) ≈ 0.17 < 0.8 → pruned
    ii, jj, same, vol = _block_pair_allowlist(
        cent, block_ids, radii, sizes, threshold=0.8, n_rings=1
    )
    assert set(zip(ii.tolist(), jj.tolist())) == {(0, 0), (1, 1), (2, 2)}
    assert bool(same.all())
    assert vol == 45 + 190 + 435  # Σ n(n−1)/2 per surviving diagonal
    # permissive threshold keeps everything (soundness)
    ii2, jj2, same2, vol2 = _block_pair_allowlist(
        cent, block_ids, radii, sizes, threshold=0.1, n_rings=1
    )
    assert set(zip(ii2.tolist(), jj2.tolist())) == {
        (i, j) for i in range(3) for j in range(3) if i <= j
    }
    assert vol2 == 45 + 190 + 435 + 10 * 20 + 10 * 30 + 20 * 30


def test_block_pair_allowlist_rings_tighter_than_cells():
    """The ring refinement (VERDICT r7 #1a): a cell whose members are a
    tight core plus one far outlier must still prune its CORE ring
    against a distant cell's core ring — with one ring (per-cell radii,
    the r7 shape) the outlier poisons the whole cell's bound and
    nothing prunes."""
    from streaming_spark.operators.similarity import _block_pair_allowlist

    cent = np.eye(2)
    # per-cell (1-ring) radii: 85° — bounds saturate, nothing prunes
    wide = float(np.cos(np.radians(85.0)))
    ii, _jj, _s, _v = _block_pair_allowlist(
        cent,
        np.array([0, 1]),
        np.array([wide, wide]),
        np.array([10, 10]),
        threshold=0.8,
        n_rings=1,
    )
    assert len(ii) == 3  # both diagonals + the cross pair survive
    # 4 rings: cores live in ring 0 (radius 5°), outliers in ring 3
    # (85°) — the cross CORE-CORE pair bound cos(90°−10°) prunes even
    # though each cell's worst member is at 85°
    tight = float(np.cos(np.radians(5.0)))
    block_ids = np.array([0, 3, 4, 7])  # (cell0 ring0/3, cell1 ring0/3)
    radii = np.array([tight, wide, tight, wide])
    sizes = np.array([9, 1, 9, 1])
    ii, jj, same, _v = _block_pair_allowlist(
        cent, block_ids, radii, sizes, threshold=0.8, n_rings=4
    )
    pairs = set(zip(ii.tolist(), jj.tolist()))
    assert (0, 2) not in pairs  # core(cell0) × core(cell1) pruned
    assert (0, 0) in pairs and (2, 2) in pairs  # cores pair within


def test_blocked_pairs_prune_clustered_corpus(spark):
    """End-to-end on a clustered corpus: the blocked path must still
    equal broadcast exactly (recall 1) — and here the prune actually
    bites, asserted QUANTITATIVELY (VERDICT r7 #2): the driver-side
    candidate volume must be well below the all-pairs ceiling, not just
    produce the right rows through an unpruned join."""
    from streaming_spark.operators.similarity import cosine_pairs

    rng = np.random.default_rng(23)
    axes = np.eye(16)[:4]  # 4 well-separated cluster axes in 16-d
    rows = []
    for i in range(160):
        v = axes[i % 4] + 0.05 * rng.standard_normal(16)
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(4)
    b = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(df, threshold=0.9, mode="broadcast").collect()
    }
    stats: dict = {}
    bl = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_pairs(
            df, threshold=0.9, mode="blocked", n_cells=8, stats_out=stats
        ).collect()
    }
    assert b == bl
    assert len(b) > 0  # within-cluster pairs exist at 0.9
    # the prune must keep candidates ≪ all pairs: 4 orthogonal clusters
    # at threshold 0.9 can only pair within-cluster (~25% of pairs even
    # if cells split clusters imperfectly; 35% leaves slack for ring
    # boundary effects) — a regression to keep-everything fails loudly
    assert stats["total_pairs"] == 160 * 159 // 2
    assert stats["candidates"] <= 0.35 * stats["total_pairs"], stats
    assert stats["candidates"] >= len(b)  # sound: candidates ⊇ true pairs


def test_exact_nn_topk_matches_bruteforce(spark):
    """exact_nn_topk's bound-pruned adaptive IVF search (mode FORCED to
    blocked — auto would take the broadcast arm at this size) must
    return the TRUE top-k (numpy all-pairs ground truth) — exactness
    may never depend on how the quantizer clustered the data."""
    from streaming_spark.operators.similarity import exact_nn_topk

    rng = np.random.default_rng(29)
    vecs = rng.standard_normal((90, 16)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(90)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(4)
    out = exact_nn_topk(df, k=3, n_cells=6, mode="blocked")
    plan = str(out._jdf.queryExecution().executedPlan())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    m = vecs.astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -2.0)
    for q in range(90):
        order = sorted(
            range(90), key=lambda j: (-sims[q, j], j)
        )[:3]
        assert [n for _, n in sorted(got[q])] == order, q


def test_blocked_pairs_task_coarsening_preserves_rows(spark, monkeypatch):
    """When the (cell, ring) allowlist would exceed the task-table
    broadcast ceiling, the blocked path coarsens to per-cell blocks —
    forced here by shrinking the ceiling to 1 — and the output must
    still equal the broadcast arm row for row (the fallback only
    changes the blocking granularity, never the verify)."""
    from streaming_spark.operators import similarity

    monkeypatch.setattr(similarity, "_MAX_PAIR_TASKS", 1)
    rng = np.random.default_rng(37)
    vecs = rng.standard_normal((80, 16)).astype(np.float32)
    vecs[9] = vecs[2] + 0.02 * rng.standard_normal(16).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(80)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(4)
    b = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.cosine_pairs(
            df, threshold=0.4, mode="broadcast"
        ).collect()
    }
    stats: dict = {}
    bl = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.cosine_pairs(
            df, threshold=0.4, mode="blocked", n_cells=6, stats_out=stats
        ).collect()
    }
    assert b == bl
    assert (2, 9) in bl
    assert stats["n_tasks"] <= 6 * 7 // 2  # per-cell granularity reached


def test_similarity_arms_agree_on_zero_vectors_and_empty_input(spark):
    """A padding row (all-zero embedding) must score sim 0.0 in EVERY
    physical arm — the matmul arms zero-guard it, and _cosine_expr now
    coalesces the 0/0 to 0.0 instead of producing a NULL the threshold
    filter silently dropped (so forcing an arm could change rows).
    Empty input must return a typed empty frame, not crash in the
    broadcast arm's matrix build."""
    from streaming_spark.operators.similarity import cosine_pairs, exact_nn_topk

    rng = np.random.default_rng(41)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(30)]
    rows.append((30, [0.0] * 8))  # padding row
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(2)

    def nn_snap(out):
        return {
            (r.query_id, r.rank): (r.neighbor_id, round(r.sim, 9))
            for r in out.collect()
        }

    bc = nn_snap(exact_nn_topk(df, k=2, mode="broadcast"))
    bl = nn_snap(exact_nn_topk(df, k=2, mode="blocked", n_cells=4))
    assert bc == bl
    assert (30, 1) in bc  # the zero vector still gets ranked neighbors
    assert bc[(30, 1)][1] == 0.0  # at sim exactly 0.0

    p_b = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(df, threshold=-1.0, mode="broadcast").collect()
    }
    p_bl = {
        (r.id_a, r.id_b)
        for r in cosine_pairs(
            df, threshold=-1.0, mode="blocked", n_cells=4
        ).collect()
    }
    assert p_b == p_bl
    assert len(p_b) == 31 * 30 // 2  # threshold -1 keeps every pair

    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<FLOAT>")
    assert exact_nn_topk(empty, k=1).count() == 0
    assert cosine_pairs(empty, threshold=0.5).count() == 0


def test_exact_nn_topk_arms_agree(spark):
    """The broadcast arm (auto's pick at this size) and the blocked arm
    must return identical (query, rank) → (neighbor, sim) maps — the
    auto routing is a physical choice, never a semantic one.  With a
    NaN-poisoned vector in the corpus both arms follow one rule: a
    non-finite sim is never returned and every finite candidate is
    ranked, as a numpy brute force over the finite sims ranks them."""
    from streaming_spark.operators.similarity import (
        exact_nn_topk,
        ivf_centroids,
    )

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((70, 12)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(70)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(4)

    def snap(out):
        return {
            (r.query_id, r.rank): (r.neighbor_id, round(r.sim, 9))
            for r in out.collect()
        }

    auto = snap(exact_nn_topk(df, k=2))
    blocked = snap(exact_nn_topk(df, k=2, mode="blocked"))
    assert auto == blocked
    assert len(auto) == 70 * 2

    # NaN case: row 7 is poisoned; the 5 finite rows hold 4 neighbors
    # each, so k=5 also asks for more neighbors than exist
    fin = rng.standard_normal((5, 6))
    poison = [np.nan] + [1.0] * 5
    rows = [(i, fin[i].tolist()) for i in range(5)] + [(7, poison)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(3)
    cent = ivf_centroids(df.filter(F.col("vec_id") != 7), 6, 2)
    unit = fin / np.linalg.norm(fin, axis=1, keepdims=True)
    sims = unit @ unit.T
    for k in (2, 5):
        want = {}
        for q in range(5):
            nbs = sorted((-sims[q, j], j) for j in range(5) if j != q)[:k]
            for rank, (neg, j) in enumerate(nbs, 1):
                want[(q, rank)] = (j, round(-neg, 9))
        assert snap(exact_nn_topk(df, k=k, mode="broadcast")) == want
        assert snap(
            exact_nn_topk(df, k=k, mode="blocked", centroids=cent)
        ) == want


@pytest.mark.parametrize("mode", ["broadcast", "blocked"])
def test_exact_nn_topk_rejects_k_below_one(spark, mode):
    """k < 1 is refused with ValueError before any Spark job, in every
    mode (it used to fail inside a blocked task and return rank-1 rows
    from the broadcast arm)."""
    from streaming_spark.operators.similarity import exact_nn_topk

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    sc = spark.sparkContext
    group = f"nn-k0-{mode}"
    sc.setJobGroup(group, group)
    try:
        for k in (0, -1):
            with pytest.raises(ValueError, match="k must be >= 1"):
                exact_nn_topk(df, k=k, mode=mode)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_exact_nn_topk_salted_tasks_agree(spark, monkeypatch):
    """Forcing the pass-B salt (a per-task query-vector budget far
    below the data) splits hot blocks into subtasks — the physical
    split must be invisible: identical rows to the broadcast arm."""
    from streaming_spark.operators import similarity

    monkeypatch.setattr(similarity, "_PASS_B_TASK_BYTES", 1024)
    rng = np.random.default_rng(53)
    vecs = rng.standard_normal((70, 12)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(70)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).repartition(4)

    def snap(out):
        return {
            (r.query_id, r.rank): (r.neighbor_id, round(r.sim, 9))
            for r in out.collect()
        }

    salted = snap(similarity.exact_nn_topk(df, k=2, mode="blocked", n_cells=4))
    bc = snap(similarity.exact_nn_topk(df, k=2, mode="broadcast"))
    assert salted == bc


def test_exact_nn_topk_candidate_telemetry(spark):
    """The VERDICT r7 #4 telemetry contract covers the NN search too:
    stats_out receives the exact ordered candidate volume before any
    task launches, and the saturation warning fires on a uniform
    corpus where the bound provably cannot prune (exact NN there is
    information-theoretically all-pairs)."""
    import pytest as _pytest

    from streaming_spark.operators.similarity import exact_nn_topk
    from streaming_spark.telemetry import QuadraticCandidateVolumeWarning

    rng = np.random.default_rng(59)
    rows = [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    stats: dict = {}
    with _pytest.warns(QuadraticCandidateVolumeWarning):
        out = exact_nn_topk(
            df, k=1, n_cells=5, mode="blocked", stats_out=stats
        )
        n = out.count()
    assert n == 80
    assert stats["n_rows"] == 80
    assert stats["total_pairs"] == 80 * 79  # ordered (query, member) pairs
    assert 0 < stats["candidates"] <= stats["total_pairs"]
    assert stats["n_blocks"] >= 5
    # the broadcast arm fills the same keys (it scores the ceiling by
    # design), so a generic consumer never KeyErrors on the routing
    bstats: dict = {}
    exact_nn_topk(df, k=1, mode="broadcast", stats_out=bstats).count()
    assert bstats["candidates"] == bstats["total_pairs"] == 80 * 79
    assert bstats["n_rows"] == 80


def test_sql_text_interface_guard_is_temp_view_scoped(spark):
    """ADVICE r8: q_sql_text_interface refuses only when a TEMP VIEW
    owns one of its generic names (the finally's dropTempView would
    destroy caller session state); a PERMANENT table of the same name
    is merely shadowed for the duration of analysis and must not
    trigger the refusal."""
    from tests.conftest import SF_SMOKE
    from streaming_spark.queries.relational import q_sql_text_interface

    spark.sql("DROP TABLE IF EXISTS nation")
    spark.sql("CREATE TABLE nation (n_nationkey INT, n_name STRING) USING parquet")
    try:
        assert q_sql_text_interface(spark, SF_SMOKE).count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS nation")
    # a caller-owned TEMP view still refuses, and survives the refusal
    spark.range(1).createOrReplaceTempView("nation")
    try:
        with pytest.raises(ValueError, match="temp view"):
            q_sql_text_interface(spark, SF_SMOKE)
        assert spark.table("nation").count() == 1  # untouched
    finally:
        spark.catalog.dropTempView("nation")


def test_exact_nn_topk_degenerate_returns_fill_stats(spark):
    """ADVICE r8: the blocked arm's degenerate early returns (< 2
    vectors → no quantizer; empty table under SUPPLIED centroids) fill
    the same four-key stats_out contract as the populated path — a
    generic telemetry consumer must never KeyError on the routing."""
    from streaming_spark.operators.similarity import exact_nn_topk

    keys = {"n_rows", "n_blocks", "candidates", "total_pairs", "staged_dirs"}
    empty = spark.createDataFrame([], "vec_id BIGINT, embedding ARRAY<FLOAT>")

    stats: dict = {}
    assert exact_nn_topk(empty, k=1, mode="blocked", stats_out=stats).count() == 0
    assert keys <= set(stats)
    assert stats["n_rows"] == 0 and stats["candidates"] == 0

    cent = np.eye(4, 8, dtype=np.float64)  # supplied quantizer, empty table
    stats2: dict = {}
    assert (
        exact_nn_topk(
            empty, k=1, mode="blocked", centroids=cent, stats_out=stats2
        ).count()
        == 0
    )
    assert keys <= set(stats2)
    assert stats2["n_rows"] == 0 and stats2["candidates"] == 0
    # the releasability contract holds on every return path: a caller
    # that unpins stats_out["staged_dirs"] never leaks a pin (r9 review)
    assert stats2["staged_dirs"] == []


def test_exact_nn_topk_staged_dirs_are_releasable(spark):
    """ADVICE r8: the staged arm reports its pinned scratch dirs in
    stats_out["staged_dirs"] so a caller that knows the frame is
    consumed can return them to the sweep pool via scratch.unpin."""
    from streaming_spark import scratch
    from streaming_spark.operators.similarity import exact_nn_topk

    rng = np.random.default_rng(67)
    rows = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    stats: dict = {}
    out = exact_nn_topk(df, k=1, mode="blocked", n_cells=4, stats_out=stats)
    assert out.count() == 50  # frame fully consumed
    staged = stats["staged_dirs"]
    assert len(staged) == 2  # the assign map and the fused pass-A/probe table
    assert all(d in scratch._PINNED for d in staged)
    for d in staged:
        scratch.unpin(d)
    assert not any(d in scratch._PINNED for d in staged)


def test_exact_nn_topk_never_self_neighbor_on_duplicate_ids(spark):
    """A duplicated vec_id (ids are a documented uniqueness contract,
    but a violation must not corrupt answers) can never be emitted as
    its OWN neighbor — equal-id pairs are excluded in every task, the
    same skip-self rule as the broadcast arm."""
    from streaming_spark.operators.similarity import exact_nn_topk

    rng = np.random.default_rng(61)
    rows = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(40)]
    # two rows, one id, similar vectors — without the equal-id guard
    # the second row lands in some block and becomes query 999's
    # "nearest neighbor" at cosine ~1
    v = rng.standard_normal(8).astype(np.float32)
    rows.append((999, v.tolist()))
    rows.append((999, (v + np.float32(0.01) * rng.standard_normal(8).astype(np.float32)).tolist()))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    got = exact_nn_topk(df, k=2, n_cells=4, mode="blocked").collect()
    assert all(r.query_id != r.neighbor_id for r in got)


def test_exact_nn_topk_staged_result_survives_scratch_sweep(spark, monkeypatch):
    """The staged arm returns a LAZY frame whose lineage reads scratch
    parquet; a later scratch_dir call must not sweep those files out
    from under it (they are pinned — their mtime freezes at staging
    time, so the least-recently-active sweep would otherwise pick them
    first).  Collecting AFTER a forced full sweep must still work."""
    from streaming_spark import scratch
    from streaming_spark.operators.similarity import exact_nn_topk

    rng = np.random.default_rng(43)
    rows = [(i, rng.standard_normal(12).astype(np.float32).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    out = exact_nn_topk(df, k=1, mode="blocked")
    # cap 0: the next scratch_dir sweeps EVERY unpinned sized dir
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", "0")
    scratch.scratch_dir("sweeptrigger")
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    assert len(got) == 60


def test_ann_lsh_recall_floor(spark):
    """LSH top-k must recover a reasonable fraction of the exact top-k
    on random data at these parameters (recall floor, not exactness)."""
    import numpy as np2

    from streaming_spark.operators.similarity import cosine_topk, lsh_bucket_topk

    rng = np2.random.default_rng(11)
    vecs = rng.standard_normal((400, 32)).astype(np2.float32)
    rows = [(i, vecs[i].tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>").repartition(4)
    queries = df.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(df, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_bucket_topk(
            df, queries, dim=32, k=5, n_bits=4, n_tables=12
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # measured 0.92 at these parameters on this seed; floor leaves margin
    assert recall >= 0.7, f"LSH recall {recall:.2f} below floor"


def test_ann_multiprobe_beats_single_probe(spark):
    """Query-directed multi-probe must dominate single-probe at EQUAL
    stored-index size (same 2 tables, same 4 bits): measured 0.925 vs
    0.225 mean recall@5 at sf0.001 — the whole point of probing the
    smallest-margin neighbor buckets instead of storing more tables."""
    from streaming_spark.operators.similarity import (
        cosine_topk,
        lsh_bucket_topk,
        lsh_multiprobe_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_bucket_topk(
            emb, queries, dim=64, k=5, n_bits=4, n_tables=2
        ).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in lsh_multiprobe_topk(
            emb, queries, dim=64, k=5, n_bits=4, n_tables=2, n_probes=8
        ).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= 0.7, f"multiprobe recall {r_multi:.2f} below floor"
    assert r_multi >= r_single + 0.2, (
        f"multiprobe {r_multi:.2f} should dominate single-probe "
        f"{r_single:.2f} at equal index size"
    )


def test_dedup_minhash_recall_floor(spark):
    """The registered recall measurement must stay >= 0.9 at fixture
    scale (planted dups are high-Jaccard; banded LSH catches them)."""
    from streaming_spark.queries.registry import REGISTRY

    row = REGISTRY["dedup_minhash_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row.n_true >= 1
    assert row.recall >= 0.9


def test_ann_recall_ivf_floor(spark):
    """IVF with 16 cells / 4 probes must hold recall@5 >= 0.7 at fixture
    scale (same contract style as the hyperplane-LSH floor)."""
    from streaming_spark.queries.registry import REGISTRY

    rows = REGISTRY["ann_recall_ivf"](spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 8
    mean_recall = sum(r.recall_at_5 for r in rows) / len(rows)
    assert mean_recall >= 0.7, f"IVF mean recall {mean_recall}"


def test_sketch_accuracy_floors(spark):
    """The sketch queries must realize their documented error contracts
    at fixture scale: HLL++ rsd=0.02 within 5% relative error;
    approx_percentile(accuracy=1000) within 1% of the exact value."""
    from streaming_spark.queries.registry import REGISTRY

    d = REGISTRY["q_sketch_distinct"](spark, "/root/testdata/sf0.01").collect()[0]
    assert d.rel_error <= 0.05, f"HLL error {d.rel_error}"
    rows = REGISTRY["q_sketch_percentiles"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert abs(r.approx_val - r.exact_val) <= max(0.01 * abs(r.exact_val), 1.0)


def test_overlap_join_auto_matches_bruteforce(spark):
    """overlap_join with bin_width='auto' returns exactly the brute-force
    overlap set (random intervals, several keys, degenerate points)."""
    import random

    from streaming_spark.operators.overlap import auto_bin_width, overlap_join

    rng = random.Random(11)
    L = [(i, rng.randrange(3), rng.randrange(0, 5000)) for i in range(300)]
    left = [(i, k, s, s + rng.randrange(0, 400)) for (i, k, s) in L]
    R = [(j, rng.randrange(3), rng.randrange(0, 5000)) for j in range(100)]
    right = [(j, k, s, s + rng.randrange(0, 1500)) for (j, k, s) in R]
    ldf = spark.createDataFrame(left, "lid INT, key INT, ls BIGINT, le BIGINT")
    rdf = spark.createDataFrame(right, "rid INT, key INT, rs BIGINT, re BIGINT")
    got = {
        (r.lid, r.rid)
        for r in overlap_join(
            ldf, rdf, key="key", left_start="ls", left_end="le",
            right_start="rs", right_end="re", bin_width="auto",
        ).collect()
    }
    want = {
        (lid, rid)
        for (lid, lk, ls, le) in left
        for (rid, rk, rs, re) in right
        if lk == rk and ls <= re and le >= rs
    }
    assert got == want
    # the heuristic lands in the measured plateau: ~half the longer
    # side's median length, power of two, within the clamp bounds
    w = auto_bin_width(ldf, rdf, "ls", "le", "rs", "re")
    assert 64 <= w <= 2048 and (w & (w - 1)) == 0


def test_freq_items_no_false_negatives(spark):
    """Misra-Gries contract behind q_sketch_heavyhitters: freqItems may
    return false positives but must include EVERY item whose frequency
    exceeds the support threshold — here on a skewed synthetic column
    (60% a, 25% b, the rest spread thin)."""
    rows = (
        [("a",)] * 600 + [("b",)] * 250 + [(f"x{i}",) for i in range(150)]
    )
    df = spark.createDataFrame(rows, "v STRING")
    cand = set(df.stat.freqItems(["v"], 0.2).collect()[0][0])
    assert {"a", "b"} <= cand
    # the registered query flags exactly the true heavies
    from streaming_spark.queries.registry import REGISTRY

    out = REGISTRY["q_sketch_heavyhitters"](spark, "/root/testdata/sf0.01").collect()
    assert len(out) >= 1
    # the is_true_heavy flag must agree with the exact share it reports
    # (away from the threshold: share is rounded for display, the flag
    # is computed on the raw ratio)
    for r in out:
        if abs(r.share - 0.2) > 1e-3:
            assert r.is_true_heavy == (r.share > 0.2)


def test_quality_classifier_accuracy(spark):
    """The distilled quality classifier must beat the majority class and
    agree with the rule gate on ≥80% of documents (measured 0.85 at this
    SF; the margin absorbs LBFGS tie-breaking, not data drift — the
    fixture is fixed)."""
    import pyspark.sql.functions as F

    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    df = REGISTRY["quality_classifier_score"](spark, SF_SMOKE)
    r = df.agg(
        F.avg((F.col("rule_keep") == F.col("model_keep")).cast("double")).alias("acc"),
        F.avg(F.col("rule_keep").cast("double")).alias("pos"),
    ).first()
    assert r["acc"] >= 0.80
    assert r["acc"] > max(r["pos"], 1 - r["pos"]) + 0.02  # real lift


def test_sketch_union_merge_contract(spark):
    """Merged per-source HLL sketches must estimate the global distinct
    within the sketch's error envelope (default lgConfigK=12 → ~1.6%
    stderr; 5% floor leaves slack), and each per-source estimate must
    hit its own exact count equally well."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = {r["level"]: r for r in REGISTRY["q_sketch_union"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"src_0", "src_1", "global"}
    for level, r in rows.items():
        assert r["rel_error"] <= 0.05, (level, r)
    # parity classes are disjoint, so the exact global is the sum —
    # the merged sketch must agree with it, not just with each part
    assert rows["global"]["exact_distinct"] == (
        rows["src_0"]["exact_distinct"] + rows["src_1"]["exact_distinct"]
    )


def test_ann_tradeoff_monotone(spark):
    """Per method: recall non-decreasing in probe budget.  For the
    exact-scoring 'ivf' series, probing all cells IS exhaustive search —
    that endpoint must be exactly 1.0.  The 'ivfpq' series must sit at
    or below 'ivf' at every probe budget (ADC scores are approximate;
    the compression cost is visible, never negative)."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["ann_tradeoff_curve"](spark, SF_SMOKE).collect()
    by_method = {}
    for r in sorted(rows, key=lambda r: r["nprobe"]):
        by_method.setdefault(r["method"], []).append(r)
    assert set(by_method) == {"ivf", "ivfpq"}
    for method, series in by_method.items():
        recalls = [r["recall_at_5"] for r in series]
        assert recalls == sorted(recalls), (method, recalls)
    ivf = by_method["ivf"]
    assert ivf[-1]["nprobe"] == 8 and ivf[-1]["recall_at_5"] == 1.0
    for a, b in zip(ivf, by_method["ivfpq"]):
        assert b["recall_at_5"] <= a["recall_at_5"] + 1e-9, (a, b)


def test_ann_ivfpq_recall_floor(spark):
    """The composed IVF-PQ contract: (a) at the equal-scan-budget
    endpoint (nprobe = n_cells, every code ADC-scored — the same scan
    work as plain PQ) recall must match-or-beat the plain-PQ path
    (measured 1.0 vs 0.975); (b) the registered pruned operating point
    (nprobe=4, rerank=128) holds a fixture floor of 0.6 (measured 0.70
    — this fixture's near-uniform embeddings make pruning expensive;
    see the ann_topk_ivfpq docstring)."""
    import pyspark.sql.functions as F

    from streaming_spark.io import load_table
    from streaming_spark.operators.similarity import cosine_topk, ivfpq_topk, pq_topk
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = set(
        map(
            tuple,
            cosine_topk(emb, queries, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )

    def recall(df):
        got = set(
            map(tuple, df.select("query_id", "neighbor_id").collect())
        )
        return len(exact & got) / len(exact)

    full_budget = recall(
        ivfpq_topk(
            emb, queries, dim=64, k=5, n_cells=8, nprobe=8, m=16, ksub=16,
            rerank=128,
        )
    )
    plain_pq = recall(
        pq_topk(emb, queries, dim=64, k=5, m=16, ksub=16, rerank=64)
    )
    assert full_budget >= plain_pq - 1e-9, (full_budget, plain_pq)

    rows = REGISTRY["ann_recall_ivfpq"](spark, SF_SMOKE).collect()
    mean = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert mean >= 0.6, [r.asDict() for r in rows]


def test_dedup_method_agreement_floor(spark):
    """MinHash and SimHash disagree in the gray band (different
    thresholds) but must agree on the planted blatant duplicates —
    floor on the pair-set overlap (measured 0.72 at this SF)."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    r = REGISTRY["dedup_method_agreement"](spark, SF_SMOKE).collect()[0]
    assert r["n_both"] >= 10, r
    assert r["pair_jaccard"] >= 0.5, r


def test_ann_pq_recall_floor(spark):
    """PQ+rerank must hold recall@5 ≥ 0.8 on the fixture (measured
    0.975 at this SF with m=16, ksub=16, rerank=64)."""
    import pyspark.sql.functions as F

    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["ann_recall_pq"](spark, SF_SMOKE).collect()
    mean = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert mean >= 0.8, [r.asDict() for r in rows]


def test_funnel_formulations_agree(spark):
    """The fold (one-shuffle) and three-pass (relational) funnel
    formulations are the same query in two physical shapes — their
    outputs must be identical (the knob is a deployment choice, never a
    semantics choice)."""
    from streaming_spark.queries.windows import events_table, funnel_counts
    from tests.conftest import SF_SMOKE

    ev = events_table(spark, SF_SMOKE)
    fold = funnel_counts(ev, formulation="fold").collect()[0].asDict()
    three = funnel_counts(ev, formulation="three_pass").collect()[0].asDict()
    assert fold == three, (fold, three)


def _bpe_docs(spark):
    rows = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new newer"),
        (2, "low new lowest newest"),
        (3, ""),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_bpe_train_deterministic_and_known_merge(spark):
    """Training twice gives identical merges, and the most frequent
    pair of the toy corpus ('l','o' / 'o','w' family) merges first —
    the Sennrich fixed point is a pure function of word counts."""
    from streaming_spark.operators.bpe import bpe_train

    docs = _bpe_docs(spark)
    m1, cov1 = bpe_train(docs, n_merges=10, max_words=100)
    m2, cov2 = bpe_train(docs, n_merges=10, max_words=100)
    assert m1 == m2 and cov1 == cov2 == 1.0
    # hand-computed: six pairs tie at count 7 ((l,o),(o,w),(w,</w>),
    # (n,e),(e,w),(w,e)); the deterministic tie-break (lexicographically
    # largest) picks (w,e) first
    assert m1[0] == ("w", "e"), m1[:3]
    # the (l,o)/(o,w) family must appear among the early merges
    assert ("l", "o") in m1[:6], m1


def test_bpe_encode_roundtrip_and_char_base(spark):
    """Every word's encoded pieces concatenate back to word + </w>
    (lossless), and with ZERO merges encoding is exactly
    character-level (chars + end marker)."""
    from streaming_spark.operators.bpe import _encode_word, bpe_train

    docs = _bpe_docs(spark)
    merges, _ = bpe_train(docs, n_merges=10, max_words=100)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ("low", "lowest", "newer", "unseen"):
        pieces = _encode_word(w, ranks)
        assert "".join(pieces) == w + "</w>"
    assert _encode_word("low", {}) == ["l", "o", "w", "</w>"]


def test_bpe_compression_monotone_in_merges(spark):
    """More merges never increase the corpus token count — the
    compression-vs-vocab-size contract a tokenizer deployment reads."""
    from streaming_spark.operators.bpe import bpe_encode_counts, bpe_train

    docs = _bpe_docs(spark)
    totals = []
    for n in (0, 5, 20):
        merges, _ = bpe_train(docs, n_merges=n, max_words=100)
        total = (
            bpe_encode_counts(docs, merges)
            .agg(F.sum("n_bpe_tokens").alias("t"))
            .collect()[0]["t"]
        )
        totals.append(total)
    assert totals == sorted(totals, reverse=True), totals


def test_bpe_max_words_cap_reports_coverage(spark):
    """The driver-side cap is observable: capping to 2 words reports
    the retained token-mass fraction < 1, never silently."""
    from streaming_spark.operators.bpe import bpe_train

    docs = _bpe_docs(spark)
    _, cov = bpe_train(docs, n_merges=3, max_words=2)
    assert 0 < cov < 1


def test_fuzzy_pairs_known_distances(spark):
    """Symmetric-deletion blocking finds exactly the Levenshtein
    neighbors (sound: no false negatives; verify: no false positives) —
    checked against hand-computed distances, d=1 and d=2."""
    from streaming_spark.operators.fuzzy import fuzzy_self_pairs

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "mitten"),
         (5, "banana"), (6, "kitte"), (7, "kittenx")],
        "id BIGINT, name STRING",
    )
    got1 = {(r.id_a, r.id_b): r.dist
            for r in fuzzy_self_pairs(df, "name", "id", max_dist=1).collect()}
    assert got1 == {(1, 2): 1, (1, 4): 1, (1, 6): 1, (1, 7): 1,
                    (2, 3): 1, (2, 4): 1}
    got2 = {(r.id_a, r.id_b): r.dist
            for r in fuzzy_self_pairs(df, "name", "id", max_dist=2).collect()}
    # exhaustive check vs python Levenshtein
    def lev(a, b):
        import numpy as np
        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (ca != cb))
        return int(d[len(b)])

    names = {r.id: r.name for r in df.collect()}
    want = {(a, b): lev(names[a], names[b])
            for a in names for b in names
            if a < b and lev(names[a], names[b]) <= 2}
    assert got2 == want


def test_bpe_tradeoff_monotone(spark):
    """Token count non-increasing (chars-per-token non-decreasing) in
    the merge budget, and the zero-merge endpoint is exact character
    tokenization — pinning both ends of the curve."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = sorted(
        REGISTRY["text_bpe_tradeoff"](spark, SF_SMOKE).collect(),
        key=lambda r: r["n_merges"],
    )
    tokens = [r["total_tokens"] for r in rows]
    assert tokens == sorted(tokens, reverse=True), tokens
    cpt = [r["chars_per_token"] for r in rows]
    assert cpt == sorted(cpt), cpt
    # 0 merges: every word is chars + </w> marker → tokens > chars
    assert rows[0]["chars_per_token"] < 1.0


def test_fuzzy_verify_drops_over_threshold_candidates(spark):
    """The banded thresholded verify (r15: levenshtein(a, b, max_dist),
    keep dist >= 0) must DROP candidates whose true distance exceeds
    max_dist — the thresholded form returns -1 for them, and a naive
    ``dist <= max_dist`` filter would have kept those -1 rows.  'ab' and
    'ba' share single-deletion variants ('a' and 'b') so they ARE a
    blocking candidate, but their distance is 2: at max_dist=1 the pair
    must vanish, at max_dist=2 it must surface with the TRUE distance
    (never -1).  Same contract through the cross-relation fuzzy_join."""
    from streaming_spark.operators.fuzzy import fuzzy_join, fuzzy_self_pairs

    df = spark.createDataFrame(
        [(1, "ab"), (2, "ba"), (3, "ax")], "id BIGINT, name STRING"
    )
    got1 = {(r.id_a, r.id_b): r.dist
            for r in fuzzy_self_pairs(df, "name", "id", max_dist=1).collect()}
    assert got1 == {(1, 3): 1}  # (1, 2) is a candidate but dist 2 — dropped
    got2 = {(r.id_a, r.id_b): r.dist
            for r in fuzzy_self_pairs(df, "name", "id", max_dist=2).collect()}
    assert got2 == {(1, 2): 2, (1, 3): 1, (2, 3): 2}
    left = spark.createDataFrame([(10, "ab")], "lid BIGINT, lname STRING")
    right = spark.createDataFrame([(20, "ba"), (21, "ab")],
                                  "rid BIGINT, rname STRING")
    joined = {(r.lid, r.rid): r.dist
              for r in fuzzy_join(left, right, "lname", "rname",
                                  "lid", "rid", max_dist=1).collect()}
    assert joined == {(10, 21): 0}  # (10, 20) candidate, dist 2 — dropped


def test_fuzzy_bucket_cap_observable(spark):
    """The hot-variant cap bounds pair expansion and its recall loss is
    observable: with a tiny cap some true pairs disappear (never
    silently more pairs), and the surviving pairs are a subset of the
    exact result."""
    from streaming_spark.operators.fuzzy import fuzzy_self_pairs

    df = spark.createDataFrame(
        [(i, "aa" + str(i % 3)) for i in range(9)] + [(100, "zzzz9"), (101, "zzzz8")],
        "id BIGINT, name STRING",
    )
    exact = {(r.id_a, r.id_b)
             for r in fuzzy_self_pairs(df, "name", "id", 1).collect()}
    capped = {(r.id_a, r.id_b)
              for r in fuzzy_self_pairs(df, "name", "id", 1, max_bucket=2).collect()}
    assert capped <= exact
    assert (100, 101) in capped  # cold buckets survive the cap
    assert len(capped) < len(exact)  # hot 'aa*' family got dropped


def test_ivfpq_residuals_win_on_clustered_corpus(spark):
    """The fixture's uniform embeddings hide the residual-PQ advantage
    (documented in ann_topk_ivfpq); this pins the advantage itself on a
    CLUSTERED corpus — 8 tight clusters, where residuals concentrate
    near the centroids: residual codebooks must reconstruct better than
    plain-PQ codebooks, and IVF-PQ recall must match-or-beat plain PQ
    at the same (m, ksub, rerank) while scanning a QUARTER of the codes
    (nprobe=2 of 8, measured 1.0 vs 1.0 at rerank=64 — pruning is free
    on clustered data because each query's neighbors live in its own
    cell)."""
    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        cosine_topk,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
        pq_codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(11)
    centers = _norm_rows(rng.standard_normal((8, 64)))
    rows = []
    for i in range(400):
        v = centers[i % 8] + 0.08 * rng.standard_normal(64)
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)
    queries = df.filter(F.col("vec_id") < 8)

    # reconstruction: residual books beat plain books on clustered data
    cent = ivf_centroids(df, 64, 8)
    rbooks = ivfpq_residual_codebooks(df, cent, 64, m=16, ksub=16)
    pbooks = pq_codebooks(df, 64, m=16, ksub=16)
    mat = _norm_rows(_matrix([r[1] for r in rows]))
    cells = np.argmax(mat @ cent.T, axis=1)
    resid = mat - cent[cells]

    def recon_err(books, data, add):
        m, ksub, dsub = books.shape
        out = np.empty_like(mat)
        for j in range(m):
            sub = data[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j * dsub : (j + 1) * dsub] = books[j][np.argmin(d2, axis=1)]
        return np.linalg.norm(out + add - mat, axis=1).mean()

    err_resid = recon_err(rbooks, resid, cent[cells])
    err_plain = recon_err(pbooks, mat, 0.0)
    assert err_resid < err_plain, (err_resid, err_plain)

    # recall: IVF-PQ at a quarter of the scan >= plain PQ at full scan
    exact = set(
        map(
            tuple,
            cosine_topk(df, queries, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )

    def recall(out):
        got = set(
            map(tuple, out.select("query_id", "neighbor_id").collect())
        )
        return len(exact & got) / len(exact)

    r_ivfpq = recall(
        ivfpq_topk(
            df, queries, dim=64, k=5, n_cells=8, nprobe=2, m=16, ksub=16,
            rerank=64, centroids=cent,
        )
    )
    r_pq = recall(pq_topk(df, queries, dim=64, k=5, m=16, ksub=16, rerank=64))
    assert r_ivfpq >= r_pq - 1e-9, (r_ivfpq, r_pq)
    assert r_ivfpq >= 0.95, r_ivfpq


def test_opq_beats_pq_on_anisotropic_corpus(spark):
    """OPQ's rotation must recover unevenly-distributed subspace energy:
    on a corpus whose variance is concentrated in a few directions and
    then scrambled by a fixed rotation, the learned rotation must cut
    sample reconstruction error below plain PQ's, and OPQ recall must
    match-or-beat plain PQ at the same budget."""
    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        cosine_topk,
        opq_train,
        pq_codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(5)
    # decaying spectrum → most energy in few directions, then scramble
    scales = np.linspace(3.0, 0.05, 64)
    q_rand, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    raw = rng.standard_normal((400, 64)) * scales
    data = raw @ q_rand.T
    rows = [(i, data[i].tolist()) for i in range(400)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)
    queries = df.filter(F.col("vec_id") < 8)

    rot, obooks = opq_train(df, dim=64, m=16, ksub=16)
    pbooks = pq_codebooks(df, 64, m=16, ksub=16)
    mat = _norm_rows(_matrix([r[1] for r in rows]))

    def recon_err(books, x):
        m, ksub, dsub = books.shape
        out = np.empty_like(x)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j * dsub : (j + 1) * dsub] = books[j][np.argmin(d2, axis=1)]
        return np.linalg.norm(out - x, axis=1).mean()

    err_opq = recon_err(obooks, mat @ rot)
    err_pq = recon_err(pbooks, mat)
    assert err_opq < err_pq, (err_opq, err_pq)
    # rotation must be orthogonal (scores preserved exactly)
    assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-8)

    exact = set(
        map(
            tuple,
            cosine_topk(df, queries, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )

    def recall(out):
        got = set(
            map(tuple, out.select("query_id", "neighbor_id").collect())
        )
        return len(exact & got) / len(exact)

    r_opq = recall(
        pq_topk(df, queries, dim=64, k=5, m=16, ksub=16, rerank=32, rotation=rot)
    )
    r_pq = recall(pq_topk(df, queries, dim=64, k=5, m=16, ksub=16, rerank=32))
    assert r_opq >= r_pq - 1e-9, (r_opq, r_pq)


def test_bpe_byte_level_mode(spark):
    """Byte-level BPE: multibyte UTF-8 words split into BYTES at zero
    merges (tokens = utf8 bytes + end marker, not chars), the latin-1
    byte repr round-trips losslessly, and on a pure-ASCII corpus
    byte-level and char-level training learn identical merges (ASCII
    utf-8 is one byte per char)."""
    from streaming_spark.operators.bpe import (
        _encode_word,
        _to_bytes_repr,
        bpe_encode_counts,
        bpe_train,
    )

    # multibyte: é = 2 bytes, 日 = 3 bytes
    docs = spark.createDataFrame(
        [(0, "café café"), (1, "日本 café")], "doc_id BIGINT, text STRING"
    )
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_encode_counts(docs, [], byte_level=True).collect()
    }
    # café = 5 bytes + END = 6; 日本 = 6 bytes + END = 7
    assert got == {0: 12, 1: 13}, got
    char_got = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_encode_counts(docs, [], byte_level=False).collect()
    }
    assert char_got == {0: 10, 1: 8}, char_got

    # lossless byte repr
    for w in ("café", "日本", "plain"):
        br = _to_bytes_repr(w)
        assert br.encode("latin-1").decode("utf-8") == w
        pieces = _encode_word(br, {})
        assert "".join(pieces) == br + "</w>"

    # ASCII corpus: both alphabets learn the same merges
    ascii_docs = _bpe_docs(spark)
    m_char, _ = bpe_train(ascii_docs, n_merges=10, max_words=100)
    m_byte, _ = bpe_train(ascii_docs, n_merges=10, max_words=100, byte_level=True)
    assert m_char == m_byte


def test_pagerank_known_graphs(spark):
    """PageRank sanity on hand-checkable graphs: a star's center
    outranks every leaf, leaves tie exactly, ranks sum to ~1, and the
    fixed-iteration run is deterministic."""
    from streaming_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a BIGINT, id_b BIGINT"
    )
    r = {row.id: row.rank for row in pagerank(star).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6
    assert all(r[0] > r[i] for i in range(1, 6))
    leaf_ranks = {round(r[i], 10) for i in range(1, 6)}
    assert len(leaf_ranks) == 1  # symmetry
    r2 = {row.id: row.rank for row in pagerank(star).collect()}
    assert r == r2


def test_dedup_keep_central_planted(spark):
    """Cluster-central keeper policy: in a star-shaped near-dup cluster
    the hub (most similar to everyone) is kept, not the min id."""
    from streaming_spark.operators.dedup import dedup_keep_central

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)] + [(10, "solo")],
        "doc_id BIGINT, text STRING",
    )
    # 3 is the hub: every other cluster member pairs only with it
    pairs = spark.createDataFrame(
        [(0, 3), (1, 3), (2, 3), (3, 4), (3, 5)], "id_a BIGINT, id_b BIGINT"
    )
    kept = sorted(r.doc_id for r in dedup_keep_central(docs, pairs, "doc_id").collect())
    assert kept == [3, 10]


def test_countmin_one_sided_error(spark):
    """Count-Min contract: estimates NEVER undercount; with width 256
    over 5 event types the overshoot is 0 on the fixture (no collisions
    at that load factor); and a deliberately tiny sketch still never
    undercounts while visibly overcounting (the collision regime)."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["q_sketch_countmin"](spark, SF_SMOKE).collect()
    assert len(rows) > 0
    assert all(r.estimate_n >= r.exact_n for r in rows)
    assert all(r.overshoot == 0 for r in rows)  # 5 keys vs 256 cells

    from streaming_spark.operators.sketch import (
        countmin_estimate,
        countmin_sketch,
    )
    from streaming_spark.queries.registry import events_table

    ev = events_table(spark, SF_SMOKE)
    tiny = countmin_sketch(ev, "event_type", depth=2, width=2)
    exact = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    est = countmin_estimate(tiny, list(exact))
    assert all(e >= exact[t] for t, e in zip(exact, est))
    assert sum(est) > sum(exact.values())  # collisions overcount


def test_python_xxh64_matches_spark(spark):
    """The driver-side XXH64 (countmin_estimate's base hash) must be
    bit-identical to the JVM xxhash64 the corpus pass uses — checked on
    strings covering every tail-length branch (0-7 trailing bytes, the
    4-byte word path, and the >=32-byte vectorized path) plus ints."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.sketch import xxh64

    samples = [
        "",
        "a",
        "ab",
        "abc",
        "abcd",
        "abcde",
        "click",
        "purchase",
        "x" * 31,
        "y" * 32,
        "z" * 67,
        "naïve-ütf8-日本語",
        "12345",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "v STRING")
    jvm = [
        r.h
        for r in df.select(
            F.xxhash64(F.col("v").cast("string")).alias("h")
        ).collect()
    ]
    py = [xxh64(s.encode("utf-8")) for s in samples]
    # Spark returns signed int64; normalize to the same domain.
    assert [h & ((1 << 64) - 1) for h in jvm] == py


def test_ann_quantizer_cache_bit_identity(spark):
    """The session memos for the IVF coarse quantizer and residual PQ
    codebooks claim results are bit-identical with or without the
    cache (training is a deterministic pure function of the table).
    Prove it: the registered cached query equals a from-scratch
    ivfpq_topk with no precomputed arrays, row for row."""
    from streaming_spark.operators.similarity import ivfpq_topk
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    cached = sorted(
        map(tuple, REGISTRY["ann_topk_ivfpq"](spark, SF_SMOKE).collect())
    )
    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    fresh = sorted(
        map(
            tuple,
            ivfpq_topk(
                emb, queries, dim=64, k=5, n_cells=8, nprobe=4, m=16,
                ksub=16, rerank=128,
            ).collect(),
        )
    )
    assert cached == fresh


def test_ann_prestaged_index_agrees(spark, tmp_path):
    """The serve-path affordances — ivf_topk(assigned=...) and
    ivfpq_topk(encoded=...) — must return row-identical results to the
    inline build: assignment/encoding are deterministic functions of
    (vectors, quantizer), so a parquet round-trip of the index changes
    nothing.  This is the contract that lets a deployment build the
    inverted file / code table once and serve many query batches."""
    from streaming_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        ivfpq_encode,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)

    cent = ivf_centroids(emb, 64, 8)
    ivf_kw = dict(dim=64, k=5, n_cells=8, nprobe=4, centroids=cent)
    inline = sorted(map(tuple, ivf_topk(emb, queries, **ivf_kw).collect()))
    ivf_assign(emb, cent).write.parquet(str(tmp_path / "ivf"))
    staged = spark.read.parquet(str(tmp_path / "ivf"))
    prestaged = sorted(
        map(tuple, ivf_topk(emb, queries, assigned=staged, **ivf_kw).collect())
    )
    assert inline == prestaged

    books = ivfpq_residual_codebooks(emb, cent, 64, m=16, ksub=16)
    pq_kw = dict(
        dim=64, k=5, n_cells=8, nprobe=4, m=16, ksub=16, rerank=128,
        centroids=cent, codebooks=books,
    )
    inline_pq = sorted(map(tuple, ivfpq_topk(emb, queries, **pq_kw).collect()))
    ivfpq_encode(emb, cent, books).write.parquet(str(tmp_path / "pq"))
    enc = spark.read.parquet(str(tmp_path / "pq"))
    prestaged_pq = sorted(
        map(tuple, ivfpq_topk(emb, queries, encoded=enc, **pq_kw).collect())
    )
    assert inline_pq == prestaged_pq


def test_ann_index_append_serve_equals_rebuild(spark, tmp_path):
    """Delta ingest contract: serving a staged code table built as base
    append + delta append is row-identical to a full inline rebuild
    over base ∪ delta (encoding is a per-row deterministic function of
    (vector, quantizer)), the append stats account for the delta, and
    an append keyed by a DIFFERENT quantizer is refused — appending
    foreign codes would silently corrupt every later serve."""
    import pytest

    from streaming_spark.operators.similarity import (
        ann_index_append,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    base = emb.filter(F.col("vec_id") >= 24)
    delta = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
    full = emb.filter(F.col("vec_id") >= 8)
    cent = ivf_centroids(emb, 64, 8)
    books = ivfpq_residual_codebooks(emb, cent, 64, m=16, ksub=16)
    kw = dict(
        dim=64, k=5, n_cells=8, nprobe=4, m=16, ksub=16, rerank=128,
        centroids=cent, codebooks=books,
    )
    d = str(tmp_path / "codes")
    st: dict = {}
    ann_index_append(d, base, cent, books, stats_out=st)
    assert st["rows_appended"] == base.count()
    st = {}
    ann_index_append(d, delta, cent, books, stats_out=st)
    assert st["rows_appended"] == 16 and st["cells_touched"] >= 1

    staged = sorted(
        map(
            tuple,
            ivfpq_topk(
                full, queries, encoded=spark.read.parquet(d), **kw
            ).collect(),
        )
    )
    rebuilt = sorted(map(tuple, ivfpq_topk(full, queries, **kw).collect()))
    assert staged == rebuilt

    with pytest.raises(ValueError, match="fingerprint"):
        ann_index_append(d, delta, cent + 1e-3, books)

    # refuse to append into a FLAT staged table: cell= directories next
    # to root-level part files leave a mixed-depth layout parquet
    # cannot read — the corruption must fail loudly at write time
    from streaming_spark.operators.similarity import ivfpq_encode

    flat = str(tmp_path / "flat")
    ivfpq_encode(base, cent, books).write.parquet(flat)
    with pytest.raises(ValueError, match="cell-partitioned"):
        ann_index_append(flat, delta, cent, books)


def test_ann_index_maintenance_randomized_identity(spark, tmp_path):
    """Seeded random splits and tombstone sets: for any partition of the
    corpus into base/delta and any tombstone choice, append + merge-on-
    read must serve exactly what a from-scratch rebuild over the
    surviving corpus serves — the per-row-determinism argument the
    fixed-split tests pin, exercised at arbitrary boundaries."""
    import numpy as np

    from streaming_spark.operators.similarity import (
        ann_index_append,
        ann_tombstone_filter,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cent = ivf_centroids(emb, 64, 8)
    books = ivfpq_residual_codebooks(emb, cent, 64, m=16, ksub=16)
    kw = dict(
        dim=64, k=5, n_cells=8, nprobe=4, m=16, ksub=16, rerank=128,
        centroids=cent, codebooks=books,
    )
    all_ids = sorted(r[0] for r in emb.select("vec_id").collect())
    for seed in (7, 2026):
        rng = np.random.default_rng(seed)
        in_base = rng.random(len(all_ids)) < rng.uniform(0.3, 0.9)
        base_ids = [i for i, b in zip(all_ids, in_base) if b and i >= 8]
        delta_ids = [i for i, b in zip(all_ids, in_base) if not b and i >= 8]
        tomb = [
            int(t)
            for t in rng.choice(
                base_ids + delta_ids, size=rng.integers(1, 30), replace=False
            )
        ]
        d = str(tmp_path / f"codes_{seed}")
        ann_index_append(
            d, emb.filter(F.col("vec_id").isin(base_ids)), cent, books
        )
        ann_index_append(
            d, emb.filter(F.col("vec_id").isin(delta_ids)), cent, books
        )
        corpus = emb.filter(F.col("vec_id") >= 8)
        alive = corpus.filter(~F.col("vec_id").isin(tomb))
        mor = sorted(
            map(
                tuple,
                ivfpq_topk(
                    corpus, queries,
                    encoded=ann_tombstone_filter(
                        spark.read.parquet(d), tomb
                    ),
                    **kw,
                ).collect(),
            )
        )
        rebuilt = sorted(
            map(tuple, ivfpq_topk(alive, queries, **kw).collect())
        )
        assert mor == rebuilt, f"seed {seed}"


def test_ann_index_refresh_rekeys_whole_table(spark, tmp_path):
    """Quantizer refresh contract: after ann_index_refresh the staged
    table serves identically to an inline encode under the NEW
    quantizer, appends under the new quantizer are accepted, and the
    OLD quantizer's serve/append calls refuse the new stamp — a
    half-migrated deployment fails loudly instead of mixing keys."""
    import pytest

    from streaming_spark.operators.similarity import (
        ann_index_append,
        ann_index_refresh,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    cent_old = ivf_centroids(emb, 64, 8)
    books_old = ivfpq_residual_codebooks(emb, cent_old, 64, m=16, ksub=16)
    d = str(tmp_path / "codes")
    ann_index_append(d, corpus, cent_old, books_old)

    # "retrained" quantizer: different cell count → different stamp
    cent_new = ivf_centroids(emb, 64, 4)
    books_new = ivfpq_residual_codebooks(emb, cent_new, 64, m=16, ksub=16)
    ann_index_refresh(d, corpus, cent_new, books_new)

    kw_new = dict(
        dim=64, k=5, n_cells=4, nprobe=2, m=16, ksub=16, rerank=128,
        centroids=cent_new, codebooks=books_new,
    )
    refreshed = spark.read.parquet(d)
    assert sorted(
        map(
            tuple,
            ivfpq_topk(corpus, queries, encoded=refreshed, **kw_new).collect(),
        )
    ) == sorted(map(tuple, ivfpq_topk(corpus, queries, **kw_new).collect()))

    kw_old = dict(
        dim=64, k=5, n_cells=8, nprobe=4, m=16, ksub=16, rerank=128,
        centroids=cent_old, codebooks=books_old,
    )
    with pytest.raises(ValueError, match="fingerprint"):
        ivfpq_topk(corpus, queries, encoded=refreshed, **kw_old).collect()
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index_append(d, queries, cent_old, books_old)
    # the new quantizer's ingest path is open
    ann_index_append(
        d, emb.filter(F.col("vec_id") < 4), cent_new, books_new
    )

    # the plain-IVF arm shares _encode_index_rows: refresh an inverted
    # file (codebooks=None) and the re-keyed table must serve
    # identically to inline assignment under the new centroids while
    # refusing the old quantizer's serve
    from streaming_spark.operators.similarity import ivf_topk

    d_ivf = str(tmp_path / "ivf")
    ann_index_append(d_ivf, corpus, cent_old)
    ann_index_refresh(d_ivf, corpus, cent_new)
    kw_ivf = dict(dim=64, k=5, n_cells=4, nprobe=2, centroids=cent_new)
    refreshed_ivf = spark.read.parquet(d_ivf)
    assert sorted(
        map(
            tuple,
            ivf_topk(corpus, queries, assigned=refreshed_ivf, **kw_ivf)
            .collect(),
        )
    ) == sorted(map(tuple, ivf_topk(corpus, queries, **kw_ivf).collect()))
    with pytest.raises(ValueError, match="fingerprint"):
        ivf_topk(
            corpus, queries, assigned=refreshed_ivf,
            dim=64, k=5, n_cells=8, nprobe=4, centroids=cent_old,
        ).collect()


def test_ann_index_maintenance_ivf_arm(spark, tmp_path):
    """The maintenance family on a PLAIN-IVF staged inverted file
    (codebooks=None → ivf_assign rows): append-then-serve equals
    rebuild, merge-on-read tombstones equal rebuild-minus-tombstones,
    and compaction preserves the serve — ivf_topk(assigned=) still
    validates the quantizer stamp after every maintenance move."""
    from streaming_spark.operators.similarity import (
        ann_index_append,
        ann_index_compact,
        ann_tombstone_filter,
        ivf_centroids,
        ivf_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    base = emb.filter(F.col("vec_id") >= 24)
    delta = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
    full = emb.filter(F.col("vec_id") >= 8)
    cent = ivf_centroids(emb, 64, 8)
    kw = dict(dim=64, k=5, n_cells=8, nprobe=4, centroids=cent)
    d = str(tmp_path / "ivf")
    ann_index_append(d, base, cent)
    ann_index_append(d, delta, cent)
    staged = spark.read.parquet(d)
    assert sorted(
        map(tuple, ivf_topk(full, queries, assigned=staged, **kw).collect())
    ) == sorted(map(tuple, ivf_topk(full, queries, **kw).collect()))

    tomb = [
        int(r[0])
        for r in ivf_topk(full, queries, assigned=staged, **kw)
        .filter(F.col("rank") == 1)
        .select("neighbor_id")
        .distinct()
        .collect()
    ][:2]
    alive = full.filter(~F.col("vec_id").isin(tomb))
    rebuilt = sorted(map(tuple, ivf_topk(alive, queries, **kw).collect()))
    mor = sorted(
        map(
            tuple,
            ivf_topk(
                full, queries,
                assigned=ann_tombstone_filter(staged, tomb), **kw
            ).collect(),
        )
    )
    assert mor == rebuilt
    stats = ann_index_compact(spark, d, tomb)
    assert stats["rows_removed"] == len(tomb)
    compacted = spark.read.parquet(d)
    assert sorted(
        map(
            tuple,
            ivf_topk(full, queries, assigned=compacted, **kw).collect(),
        )
    ) == rebuilt

    # custom id_col: the IVF arm must emit the caller's id column (the
    # stamp rides on it — `cell` loses its metadata to the directory
    # name), so the second append's quantizer gate stays armed
    import pytest

    named = emb.withColumnRenamed("vec_id", "doc_id")
    d2 = str(tmp_path / "ivf_named")
    ann_index_append(
        d2, named.filter("doc_id >= 250"), cent, id_col="doc_id"
    )
    staged2 = spark.read.parquet(d2)
    assert "doc_id" in staged2.columns
    from streaming_spark.operators.similarity import _ANN_FP_KEY

    assert _ANN_FP_KEY in (staged2.schema["doc_id"].metadata or {})
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index_append(
            d2, named.filter("doc_id < 250"), cent + 1e-3, id_col="doc_id"
        )


def test_ann_index_crash_sibling_recovery_gates(spark, tmp_path):
    """A maintenance move that crashes mid-swap leaves a sibling
    directory — ``.old`` from a refresh that died between its two
    renames (table absent, data intact at the sibling), ``.compact_old``
    from a compact that died mid-swap (some cells parked, absent from
    the table).  Every entry point that would write to or serve the
    index must refuse those states with a recovery hint: the append
    first-write branch would otherwise silently start a FRESH index
    with the fingerprint gate bypassed, and a serve would silently drop
    the parked cells' rows."""
    import os

    import pytest

    from streaming_spark.operators.similarity import (
        ann_index_append,
        ann_index_compact,
        ann_index_open,
        ann_index_refresh,
        ivf_centroids,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 8)
    delta = emb.filter(F.col("vec_id") < 8)
    cent = ivf_centroids(emb, 64, 8)
    d = str(tmp_path / "codes")
    ann_index_append(d, corpus, cent)
    n_rows = ann_index_open(spark, d).count()

    # crashed refresh: table wholly at .old, staged path missing
    os.rename(d, d + ".old")
    for blocked in (
        lambda: ann_index_append(d, delta, cent),
        lambda: ann_index_open(spark, d),
        lambda: ann_index_refresh(d, corpus, cent),
    ):
        with pytest.raises(RuntimeError, match="renames"):
            blocked()
    os.rename(d + ".old", d)  # the documented recovery
    assert ann_index_open(spark, d).count() == n_rows

    # crashed compact: one cell parked at .compact_old, gone from the
    # table — reads and every write path must refuse until recovered
    park = d + ".compact_old"
    os.makedirs(park)
    cell = next(e for e in sorted(os.listdir(d)) if e.startswith("cell="))
    os.rename(os.path.join(d, cell), os.path.join(park, cell))
    for blocked in (
        lambda: ann_index_open(spark, d),
        lambda: ann_index_append(d, delta, cent),
        lambda: ann_index_compact(spark, d, [8]),
        lambda: ann_index_refresh(d, corpus, cent),
    ):
        with pytest.raises(RuntimeError, match="mid-swap"):
            blocked()
    os.rename(os.path.join(park, cell), os.path.join(d, cell))
    os.rmdir(park)  # the documented recovery
    assert ann_index_open(spark, d).count() == n_rows

    # a .old sibling NEXT TO a complete table is the harmless
    # crashed-after-swap leftover and must NOT block anything
    os.makedirs(d + ".old")
    assert ann_index_open(spark, d).count() == n_rows


def test_ann_tombstone_list_matches_staged_id_type(spark, tmp_path):
    """A tombstone LIST builds its ledger with the staged table's own id
    type: string doc ids filter a string-keyed index correctly (the old
    hardcoded int()/BIGINT form raised on them), the fingerprint stamp
    survives the filter, and compact accepts the same list form."""
    from streaming_spark.operators.similarity import (
        _ANN_FP_KEY,
        ann_index_append,
        ann_index_compact,
        ann_index_open,
        ann_tombstone_filter,
        ivf_centroids,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    named = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("doc_id"),
        "embedding",
    )
    cent = ivf_centroids(emb, 64, 8)
    d = str(tmp_path / "codes")
    ann_index_append(d, named, cent, id_col="doc_id")
    staged = ann_index_open(spark, d)
    n_rows = staged.count()

    tomb = ["doc-10", "doc-11", "doc-999999"]  # last one absent: no-op
    filtered = ann_tombstone_filter(staged, tomb, id_col="doc_id")
    kept = {r[0] for r in filtered.select("doc_id").collect()}
    assert kept == {
        r[0] for r in staged.select("doc_id").collect()
    } - {"doc-10", "doc-11"}
    assert _ANN_FP_KEY in (filtered.schema["doc_id"].metadata or {})

    stats = ann_index_compact(spark, d, ["doc-20"], id_col="doc_id")
    assert stats["rows_removed"] == 1
    assert ann_index_open(spark, d).count() == n_rows - 1


def test_ann_index_drift_trigger(spark, tmp_path):
    """The refresh-cadence trigger: a stationary ingest batch (same
    generating distribution as training) stays under both drift
    thresholds; a deliberately shifted batch (constant offset pushes
    every vector toward one direction) trips BOTH the routing
    total-variation signal and the residual-inflation signal.  The
    snapshot round-trips through the ann_index_save artifact and a
    snapshot from a different quantizer is refused."""
    import os

    import pytest

    from streaming_spark.operators.similarity import (
        ann_index_drift,
        ann_index_load,
        ann_index_save,
        ann_training_snapshot,
        ivf_centroids,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    train = emb.filter(F.col("vec_id") % 2 == 0)
    cent = ivf_centroids(emb, 64, 8)
    snap = ann_training_snapshot(train, cent)
    assert abs(sum(snap["cell_frac"]) - 1.0) < 1e-9
    assert snap["mean_resid"] > 0

    # the snapshot travels with the quantizer artifact
    path = str(tmp_path / "ann.json")
    ann_index_save(path, dim=64, centroids=cent, params={"snapshot": snap})
    snap2 = ann_index_load(path)["params"]["snapshot"]

    stationary = emb.filter(F.col("vec_id") % 2 == 1)
    d_stat = ann_index_drift(stationary, cent, snap2)
    assert not d_stat["drifted"], d_stat
    # same distribution ⇒ ratio near 1; the smoke fixture's halves are
    # tiny so the band is loose — the CONTRACT is staying under the
    # 1.25 trip threshold, asserted by drifted=False above
    assert 0.7 < d_stat["resid_ratio"] < 1.25

    shifted = stationary.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(1.0)).alias("embedding"),
    )
    d_shift = ann_index_drift(shifted, cent, snap2)
    assert d_shift["drifted"], d_shift
    # the constant offset concentrates routing (tv trips); residual
    # inflation stays mild on THIS fixture because its embeddings are
    # near-uniform on the sphere — residuals are already near-max, a
    # documented data property (ROADMAP rough edges) — so the tv
    # signal is the discriminator here
    assert d_shift["assignment_tv"] > max(0.15, d_stat["assignment_tv"])
    assert d_shift["resid_ratio"] >= d_stat["resid_ratio"] - 0.05

    # the trigger is threshold policy: either signal alone can trip
    assert ann_index_drift(
        stationary, cent, snap2, tv_threshold=0.0
    )["drifted"]
    assert ann_index_drift(
        stationary, cent, snap2, resid_threshold=d_stat["resid_ratio"] - 0.01
    )["drifted"]

    # the RESIDUAL signal needs a corpus the quantizer actually fits
    # (the fixture is near-uniform on the sphere, so residuals start
    # near-max): train on tight clusters, then feed a uniform-noise
    # delta — representation shift inflates the mean residual past the
    # 1.25 trip threshold while a same-distribution delta stays flat
    rng = np.random.default_rng(12)
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    def clustered(n, seed):
        r = np.random.default_rng(seed)
        pts = centers[r.integers(0, 4, n)] + 0.05 * r.normal(size=(n, 16))
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(pts)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
    train_c = clustered(400, 1)
    cent_c = ivf_centroids(train_c, 16, 4)
    snap_c = ann_training_snapshot(train_c, cent_c)
    same_dist = ann_index_drift(clustered(200, 2), cent_c, snap_c)
    assert not same_dist["drifted"], same_dist
    noise = np.random.default_rng(3).normal(size=(200, 16))
    noise_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(noise)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    d_noise = ann_index_drift(noise_df, cent_c, snap_c)
    assert d_noise["resid_ratio"] > 1.25, d_noise
    assert d_noise["drifted"]

    cent4 = ivf_centroids(emb, 64, 4)
    with pytest.raises(ValueError, match="ann_index_drift"):
        ann_index_drift(stationary, cent4, snap2)
    # the sharp case a shape check cannot catch: a SAME-cell-count
    # retrain — the snapshot's quantizer fingerprint refuses it
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index_drift(stationary, cent + 1e-3, snap2)
    os.remove(path)

    # residual formula pinned against numpy on NON-UNIT centroids:
    # cent_sim is the dot v-hat . c (raw centroid), so |v-hat − c|² =
    # 1 + |c|² − 2·cent_sim — a uniform 2x centroid scale keeps the
    # argmax assignment and must reproduce the direct computation
    pts = np.asarray(
        [r["embedding"] for r in train.select("embedding").collect()],
        dtype=np.float64,
    )
    pts_n = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    cent2x = np.asarray(cent, dtype=np.float64) * 2.0
    snap_2x = ann_training_snapshot(train, cent2x)
    assign = np.argmax(pts_n @ cent2x.T, axis=1)
    expected = float(
        np.linalg.norm(pts_n - cent2x[assign], axis=1).mean()
    )
    assert snap_2x["mean_resid"] == pytest.approx(expected, rel=1e-9)


def test_ann_drift_signal_drives_refresh(spark, tmp_path):
    """The signal→action loop, ANN arm (VERDICT r13 #5; twin of
    test_neardup_reshard_saturation_signal_drives_recovery): a
    stationary ingest batch stays under ann_index_drift's thresholds
    and lands through the ordinary delta append; a re-embedded batch
    (new embedding model = every vector shifted) trips the signal, and
    the action the signal calls for — retrain on the re-embedded
    corpus, ann_index_refresh, persist quantizer + new snapshot —
    restores a quiet steady state: the next new-model batch does NOT
    drift, the refreshed table serves EXACTLY like an inline encode
    under the new quantizer, and the old quantizer's ingest path is
    closed by the fingerprint stamp."""
    from streaming_spark.operators.similarity import (
        ann_index_append,
        ann_index_drift,
        ann_index_load,
        ann_index_refresh,
        ann_index_save,
        ann_training_snapshot,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )

    rng = np.random.default_rng(40)
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def clustered(n, seed, start, offset=0.0):
        # offset models a model swap: the SAME doc re-embeds to the
        # same point + offset (deterministic per (seed, n))
        r = np.random.default_rng(seed)
        pts = centers[r.integers(0, 4, n)] + 0.05 * r.normal(size=(n, 16))
        pts = pts + offset
        return spark.createDataFrame(
            [(start + i, [float(x) for x in v]) for i, v in enumerate(pts)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    corpus0 = clustered(400, 1, 0)
    cent_old = ivf_centroids(corpus0, 16, 4)
    books_old = ivfpq_residual_codebooks(corpus0, cent_old, 16, m=4, ksub=16)
    art = str(tmp_path / "quantizer.json")
    ann_index_save(
        art, dim=16, centroids=cent_old, codebooks=books_old,
        params={"snapshot": ann_training_snapshot(corpus0, cent_old)},
    )
    d = str(tmp_path / "codes")
    ann_index_append(d, corpus0, cent_old, books_old)

    # stationary batch: signal quiet → no action, ordinary append
    snap = ann_index_load(art)["params"]["snapshot"]
    delta_ok = clustered(100, 2, 1000)
    assert not ann_index_drift(delta_ok, cent_old, snap)["drifted"]
    ann_index_append(d, delta_ok, cent_old, books_old)

    # new-model batch: every vector carries the re-embedding offset —
    # routing shifts, the total-variation signal trips (the pinned
    # discriminator for constant offsets on this construction, see
    # test_ann_index_drift_trigger)
    delta_shift = clustered(100, 3, 2000, offset=1.0)
    verdict = ann_index_drift(delta_shift, cent_old, snap)
    assert verdict["drifted"], verdict

    # THE ACTION: the whole corpus re-embeds under the new model;
    # retrain on what the corpus has become, refresh the staged table
    # (re-encode every row under the new quantizer), persist the new
    # quantizer artifact with its new training snapshot
    live_new = (
        clustered(400, 1, 0, offset=1.0)
        .union(clustered(100, 2, 1000, offset=1.0))
        .union(delta_shift)
    )
    cent_new = ivf_centroids(live_new, 16, 4)
    books_new = ivfpq_residual_codebooks(live_new, cent_new, 16, m=4, ksub=16)
    ann_index_refresh(d, live_new, cent_new, books_new)
    ann_index_save(
        art, dim=16, centroids=cent_new, codebooks=books_new,
        params={"snapshot": ann_training_snapshot(live_new, cent_new)},
    )

    # steady state restored: the NEXT new-model batch is quiet against
    # the new snapshot and appends through the ordinary delta path
    snap_new = ann_index_load(art)["params"]["snapshot"]
    delta_next = clustered(50, 4, 3000, offset=1.0)
    assert not ann_index_drift(delta_next, cent_new, snap_new)["drifted"]
    ann_index_append(d, delta_next, cent_new, books_new)
    live_new = live_new.union(delta_next)

    # the refreshed+appended table serves exactly like an inline
    # encode under the new quantizer
    queries = clustered(8, 7, 5000, offset=1.0)
    kw = dict(
        dim=16, k=5, n_cells=4, nprobe=2, m=4, ksub=16, rerank=64,
        centroids=cent_new, codebooks=books_new,
    )
    staged = spark.read.parquet(d)
    assert sorted(
        map(
            tuple,
            ivfpq_topk(live_new, queries, encoded=staged, **kw).collect(),
        )
    ) == sorted(map(tuple, ivfpq_topk(live_new, queries, **kw).collect()))

    # half-migrated deployments fail loudly: the old quantizer can no
    # longer ingest into the refreshed table
    with pytest.raises(ValueError, match="fingerprint"):
        ann_index_append(d, clustered(10, 9, 9000), cent_old, books_old)


def test_ann_index_compact_rewrites_only_affected_cells(spark, tmp_path):
    """Compaction contract: tombstoned rows leave the files, ONLY the
    cells containing tombstones are rewritten (unaffected cell
    directories keep their exact file lists), a fully-tombstoned cell's
    directory is removed whole, and the compacted table serves
    identically to both the merge-on-read view and an inline rebuild
    over the surviving corpus."""
    import os

    from streaming_spark.operators.similarity import (
        ann_index_append,
        ann_index_compact,
        ann_tombstone_filter,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    cent = ivf_centroids(emb, 64, 8)
    books = ivfpq_residual_codebooks(emb, cent, 64, m=16, ksub=16)
    kw = dict(
        dim=64, k=5, n_cells=8, nprobe=4, m=16, ksub=16, rerank=128,
        centroids=cent, codebooks=books,
    )
    d = str(tmp_path / "codes")
    ann_index_append(d, corpus, cent, books)
    staged = spark.read.parquet(d)
    per_cell = {
        r["cell"]: r["ids"]
        for r in staged.groupBy("cell")
        .agg(F.collect_list("vec_id").alias("ids"))
        .collect()
    }
    # empty the smallest cell entirely, and hit one more cell partially
    empty_cell = min(per_cell, key=lambda c: len(per_cell[c]))
    partial_cell = next(
        c for c in sorted(per_cell) if c != empty_cell and len(per_cell[c]) > 1
    )
    tomb = sorted(per_cell[empty_cell]) + sorted(per_cell[partial_cell])[:1]
    rows_total = sum(len(v) for v in per_cell.values())

    listing = {
        e: sorted(os.listdir(os.path.join(d, e)))
        for e in os.listdir(d)
        if e.startswith("cell=")
    }
    mor = sorted(
        map(
            tuple,
            ivfpq_topk(
                corpus, queries,
                encoded=ann_tombstone_filter(staged, tomb), **kw
            ).collect(),
        )
    )

    stats = ann_index_compact(spark, d, tomb)
    assert stats["rows_removed"] == len(tomb)
    assert stats["cells_removed"] == 1
    assert stats["cells_rewritten"] == 1
    assert not os.path.isdir(os.path.join(d, f"cell={empty_cell}"))
    for e, files in listing.items():
        cell = int(e.split("=", 1)[1])
        if cell not in (empty_cell, partial_cell):
            assert sorted(os.listdir(os.path.join(d, e))) == files

    compacted = spark.read.parquet(d)
    assert compacted.count() == rows_total - len(tomb)
    # the stamp survived the rewrite: the serve path still validates it
    served = sorted(
        map(
            tuple,
            ivfpq_topk(corpus, queries, encoded=compacted, **kw).collect(),
        )
    )
    alive = corpus.filter(~F.col("vec_id").isin([int(t) for t in tomb]))
    rebuilt = sorted(map(tuple, ivfpq_topk(alive, queries, **kw).collect()))
    assert served == mor == rebuilt
    from streaming_spark.operators.similarity import _ANN_FP_KEY

    assert _ANN_FP_KEY in (compacted.schema["codes"].metadata or {})


def test_bloom_no_false_negatives_and_fp_bound(spark):
    """Bloom contract: every indexed value probes present (one-sided
    error — NEVER a false negative), and the observed false-positive
    rate on definitely-absent probes stays within 3x the analytic
    (1 - e^{-kn/m})^k bound.  Also runs the registered accounting query
    end-to-end and asserts its in-row witness."""
    import math

    from streaming_spark.operators.sketch import bloom_build, bloom_contains
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    vals = [f"key-{i}" for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v STRING")
    n_bits, k = 1 << 16, 4
    bloom = bloom_build(df, "v", n_bits=n_bits, k=k)
    assert all(bloom_contains(bloom, vals, k=k))  # no false negatives
    absent = [f"absent-{i}" for i in range(20000)]
    fp = sum(bloom_contains(bloom, absent, k=k)) / len(absent)
    bound = (1 - math.exp(-k * len(vals) / n_bits)) ** k
    assert fp <= 3 * bound + 1e-4, f"fp {fp} vs analytic {bound}"

    row = REGISTRY["q_sketch_bloom"](spark, SF_SMOKE).collect()[0]
    assert row.n_false_neg == 0
    assert row.n_false_pos <= row.n_probed_absent  # sanity; rate observable


def test_bloom_linear_merge_and_distributed_probe(spark):
    """Bitwise-OR linearity: the filter built over the whole corpus is
    bit-identical to the OR of filters built over disjoint halves (the
    property the streaming twin relies on).  And the distributed probe
    column (`bloom_probe_col`) agrees with the driver-side
    `bloom_contains` on every row — same base hash, same mix."""
    import numpy as np

    from streaming_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
        bloom_probe_col,
    )

    vals = [f"item-{i}" for i in range(1000)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id BIGINT, v STRING"
    )
    whole = bloom_build(df, "v")
    lo = bloom_build(df.filter("id < 500"), "v")
    hi = bloom_build(df.filter("id >= 500"), "v")
    assert (whole == (lo | hi)).all()

    probes = df.select("id", "v").unionByName(
        spark.createDataFrame(
            [(10_000 + i, f"nope-{i}") for i in range(1000)],
            "id BIGINT, v STRING",
        )
    )
    got = {
        r.id: r.bloom_hit
        for r in bloom_probe_col(probes, "v", whole).collect()
    }
    rows = sorted(probes.collect(), key=lambda r: r.id)
    want = bloom_contains(whole, [r.v for r in rows])
    assert [got[r.id] for r in rows] == want
    assert all(got[i] for i in range(1000))  # indexed side all present


def test_dedup_bloom_ingest_gate_consistency(spark):
    """The bloom prefilter in dedup_bloom_ingest must never hide a true
    corpus dup: every batch digest that exists in the corpus slice has
    bloom_hit True (checked by recomputing the gate), and the query's
    classification equals dedup_incremental-style exact logic."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.sketch import bloom_build, bloom_probe_col
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    docs = T(spark, SF_SMOKE, "documents")
    corpus = (
        docs.filter(F.col("doc_id") < 350)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    bloom = bloom_build(corpus, "h")
    batch = docs.filter(F.col("doc_id") >= 350).select(
        "doc_id", F.md5("text").alias("h")
    )
    probed = bloom_probe_col(batch, "h", bloom)
    missed_dups = (
        probed.filter(~F.col("bloom_hit")).join(corpus, "h").count()
    )
    assert missed_dups == 0  # no false negatives at the gate

    got = {
        r.doc_id: r.status
        for r in REGISTRY["dedup_bloom_ingest"](spark, SF_SMOKE).collect()
    }
    # exact reference classification
    in_corpus = {r.h for r in corpus.collect()}
    batch_rows = sorted(batch.collect(), key=lambda r: r.doc_id)
    first = {}
    for r in batch_rows:
        first.setdefault(r.h, r.doc_id)
    for r in batch_rows:
        want = (
            "dup_of_corpus"
            if r.h in in_corpus
            else ("dup_in_batch" if first[r.h] != r.doc_id else "new")
        )
        assert got[r.doc_id] == want


def test_c4_quality_planted(spark):
    """C4 rules on hand-built docs where every rule fires: short lines
    dropped, javascript lines dropped, terminal punctuation counted,
    lorem-ipsum and brace pages flagged, min-kept-lines conjunction."""
    from streaming_spark.operators.text import c4_quality

    good_line = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, " ".join([good_line] * 3)),  # 3 clean 10-word lines
            (2, " ".join([good_line] * 2 + ["tiny line"])),  # short tail
            (3, " ".join([good_line, "uses javascript heavily " * 3,
                          good_line])),
            (4, " ".join([good_line] * 3) + " lorem ipsum dolor"),
            (5, " ".join([good_line] * 3).replace("kappa", "kappa{x}")),
            (6, "one two three four five six seven eight nine ten."),
        ],
        "doc_id BIGINT, text STRING",
    )
    m = {r.doc_id: r for r in c4_quality(docs).collect()}
    assert m[1].passes and m[1].n_kept_lines == 3 and m[1].n_short_lines == 0
    assert not m[2].passes and m[2].n_kept_lines == 2  # tail line < 5 words
    assert m[3].n_js_lines >= 1 and m[3].n_kept_lines < m[3].n_lines
    assert m[4].has_lorem and not m[4].passes
    assert m[5].has_brace and not m[5].passes
    assert m[6].n_term_lines == 1  # ends with '.'
    # terminal-punct profile: doc 6's one line survives only there
    strict = {
        r.doc_id: r
        for r in c4_quality(docs, require_terminal_punct=True).collect()
    }
    assert strict[1].n_kept_lines == 0  # no punctuation anywhere
    assert strict[6].n_kept_lines == 1


def test_line_dedup_surgery(spark):
    """Keep-first line dedup on planted cross-doc duplicates: the
    earlier doc keeps the shared line, the later doc loses exactly it,
    and the cleaned-text hash matches a hand-built expectation."""
    import hashlib

    from streaming_spark.operators.text import line_dedup_clean

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq1 = "one two three four five six seven eight nine ten"
    uniq2 = "red blue green cyan pink gray black white gold teal"
    docs = spark.createDataFrame(
        [(1, f"{shared} {uniq1}"), (2, f"{uniq2} {shared}")],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in line_dedup_clean(docs, "text").collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 1  # the shared line, doc 1 got there first
    want1 = hashlib.md5(f"{shared}\n{uniq1}".encode()).hexdigest()
    want2 = hashlib.md5(uniq2.encode()).hexdigest()
    assert out[1].cleaned_hash == want1
    assert out[2].cleaned_hash == want2


def test_data_recipe_contracts(spark):
    """Recipe invariants: every non-final epoch contains the WHOLE
    domain (upsampling repeats full passes); materialized per-domain
    tokens hit the weighted budget within one document's tokens (the
    trim boundary); epochs start at 1; rerun is row-identical."""
    from collections import defaultdict

    from streaming_spark.queries.curation import _RECIPE_WEIGHTS
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["pipeline_data_recipe"](spark, SF_SMOKE).collect()
    assert rows == REGISTRY["pipeline_data_recipe"](spark, SF_SMOKE).collect()

    docs_per_src = defaultdict(set)
    toks_per_src_epoch = defaultdict(lambda: defaultdict(int))
    doc_tokens = {}
    for r in rows:
        assert r.epoch >= 1
        docs_per_src[r.source].add(r.doc_id)
        toks_per_src_epoch[r.source][r.epoch] += r.n_tokens
        doc_tokens[r.doc_id] = r.n_tokens

    per_src_total = {
        s: sum(toks_per_src_epoch[s].values()) for s in toks_per_src_epoch
    }
    docs = (
        T(spark, SF_SMOKE, "documents")
        .filter(F.col("source").isin(*_RECIPE_WEIGHTS))
        .groupBy("source")
        .count()
        .collect()
    )
    n_docs = {r.source: r["count"] for r in docs}
    from streaming_spark.operators.text import bpe_ish_token_count

    tok = (
        T(spark, SF_SMOKE, "documents")
        .filter(F.col("source").isin(*_RECIPE_WEIGHTS))
        .select("source", bpe_ish_token_count("text").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("t"))
        .collect()
    )
    avail = {r.source: r.t for r in tok}
    budget = 2.0 * sum(avail.values())
    max_doc = max(doc_tokens.values())
    for s, wt in _RECIPE_WEIGHTS.items():
        want = budget * wt
        got = per_src_total[s]
        assert abs(got - want) <= max_doc, (s, got, want)
        epochs = toks_per_src_epoch[s]
        last = max(epochs)
        for e in range(1, last):  # full passes carry the whole domain
            assert epochs[e] == avail[s], (s, e)
        assert len(docs_per_src[s]) <= n_docs[s]


def test_fuzzy_join_cross_relation(spark):
    """Cross-relation fuzzy join finds exactly the Levenshtein-<=1
    (dirty, master) links on hand-checked strings — including a dirty
    record with no master within distance."""
    from streaming_spark.operators.fuzzy import fuzzy_join

    master = spark.createDataFrame(
        [(1, "kitten"), (2, "mitten"), (3, "banana")],
        "mid BIGINT, name STRING",
    )
    dirty = spark.createDataFrame(
        [(10, "kitte"), (11, "mittens"), (12, "orange")],
        "did BIGINT, name STRING",
    )
    got = {
        (r.did, r.mid): r.dist
        for r in fuzzy_join(
            dirty, master, "name", "name", "did", "mid", max_dist=1
        ).collect()
    }
    assert got == {(10, 1): 1, (11, 2): 1}, got


def test_damerau_distance_and_pairs(spark):
    """True-DL verify: the Lowrance-Wagner function reproduces the
    textbook distinguishing cases, and the DL pair set on known strings
    adds exactly the transposition pairs plain Levenshtein misses."""
    from streaming_spark.operators.fuzzy import (
        damerau_levenshtein,
        fuzzy_self_pairs,
        fuzzy_self_pairs_damerau,
    )

    assert damerau_levenshtein("ca", "abc") == 2  # true DL, not OSA's 3
    assert damerau_levenshtein("ab", "ba") == 1
    assert damerau_levenshtein("kitten", "sitting") == 3
    assert damerau_levenshtein("", "abc") == 3

    df = spark.createDataFrame(
        [(1, "abcd"), (2, "abdc"), (3, "abcde"), (4, "zzzz")],
        "id BIGINT, name STRING",
    )
    lev = {(r.id_a, r.id_b) for r in fuzzy_self_pairs(df, "name", "id", 1).collect()}
    dl = {(r.id_a, r.id_b): r.dist
          for r in fuzzy_self_pairs_damerau(df, "name", "id").collect()}
    assert (1, 2) not in lev          # transposition is 2 plain edits
    assert dl[(1, 2)] == 1            # ...but ONE Damerau edit
    assert (1, 3) in lev and dl[(1, 3)] == 1  # insert matches in both
    assert all(4 not in p for p in dl)


def test_bpe_special_tokens_atomic(spark):
    """Reserved control tokens count as exactly one token wherever they
    appear — mid-text, adjacent to words, or repeated — and ordinary
    text around them encodes unchanged (equal counts with and without
    the special path when no specials are present)."""
    from streaming_spark.operators.bpe import (
        bpe_encode_counts,
        bpe_encode_counts_special,
        bpe_train,
    )

    plain = _bpe_docs(spark)
    merges, _ = bpe_train(plain, n_merges=10, max_words=100)
    base = {r.doc_id: r.n_bpe_tokens
            for r in bpe_encode_counts(plain, merges).collect()}
    with_path = {r.doc_id: r.n_bpe_tokens
                 for r in bpe_encode_counts_special(plain, merges).collect()}
    assert base == with_path  # no specials present -> identical counts

    docs = spark.createDataFrame(
        [
            (0, "low<|endoftext|>new"),
            (1, "<|endoftext|><|endoftext|>"),
            (2, "low new<|pad|>"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: (r.n_bpe_tokens, r.n_special_tokens)
           for r in bpe_encode_counts_special(docs, merges).collect()}
    # doc 0: encode("low") + 1 + encode("new")
    single = {r.doc_id: r.n_bpe_tokens for r in bpe_encode_counts(
        spark.createDataFrame([(0, "low"), (1, "new")],
                              "doc_id BIGINT, text STRING"), merges).collect()}
    assert got[0] == (single[0] + 1 + single[1], 1)
    assert got[1] == (2, 2)
    assert got[2][1] == 1


def test_hybrid_fusion_sweep_endpoints(spark):
    """Weighted-RRF contracts: alpha=0 reproduces the pure dense
    ordering, alpha=1 the pure sparse ordering, and alpha=0.5 orders
    identically to the unweighted q_hybrid_search_rrf fusion."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["q_hybrid_fusion_sweep"](spark, SF_SMOKE).collect()
    by_alpha = {}
    for r in rows:
        by_alpha.setdefault(r.alpha, {}).setdefault(r.query_id, []).append(
            (r.fused_rank, r.doc_id)
        )

    from streaming_spark.io import load_table
    from streaming_spark.operators.similarity import cosine_topk
    from pyspark.sql import functions as F2

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dense = cosine_topk(
        emb, emb.filter(F2.col("vec_id").isin(0, 37, 74)), k=5
    ).collect()
    want_dense = {}
    for r in dense:
        want_dense.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for q, lst in want_dense.items():
        assert sorted(lst) == sorted(by_alpha[0.0][q]), (q, lst)

    sparse = {
        (r.query_id, r.doc_id): r.rank
        for r in REGISTRY["q_bm25_topk"](spark, SF_SMOKE).collect()
        if r.doc_id != r.query_id
    }
    for q, lst in by_alpha[1.0].items():
        got_docs = [d for _, d in sorted(lst)]
        want = [d for (qq, d), rk in sorted(sparse.items(), key=lambda kv: kv[1])
                if qq == q][: len(got_docs)]
        assert got_docs == want, (q, got_docs, want)

    fused = REGISTRY["q_hybrid_search_rrf"](spark, SF_SMOKE).collect()
    want_mid = {}
    for r in fused:
        if r.fused_rank <= 5:
            want_mid.setdefault(r.query_id, []).append(
                (r.fused_rank, r.doc_id)
            )
    for q, lst in want_mid.items():
        assert sorted(lst) == sorted(by_alpha[0.5][q]), (q, lst)


def test_ivfopq_rotation_beats_plain_residual(spark):
    """OPQ composed with IVF: on a corpus whose CLUSTERS carry
    anisotropic within-cluster noise (decaying spectrum scrambled by a
    fixed rotation), the residual-trained rotation must cut residual
    reconstruction error below unrotated residual codebooks at the same
    (m, ksub) budget, stay orthogonal (scores preserved exactly), and
    the end-to-end rotated index must match-or-beat plain IVF-PQ
    recall at the same scan budget."""
    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        cosine_topk,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
        opq_train_residual,
    )

    rng = np.random.default_rng(17)
    centers = _norm_rows(rng.standard_normal((8, 64)))
    scales = np.linspace(1.0, 0.02, 64)
    q_rand, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    rows = []
    for i in range(400):
        noise = (rng.standard_normal(64) * scales) @ q_rand.T
        v = centers[i % 8] + 0.15 * noise
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)
    queries = df.filter(F.col("vec_id") < 8)

    cent = ivf_centroids(df, 64, 8)
    rot, obooks = opq_train_residual(df, cent, 64, m=16, ksub=16)
    rbooks = ivfpq_residual_codebooks(df, cent, 64, m=16, ksub=16)
    mat = _norm_rows(_matrix([r[1] for r in rows]))
    cells = np.argmax(mat @ cent.T, axis=1)
    resid = mat - cent[cells]

    def recon_err(books, x):
        m, ksub, dsub = books.shape
        out = np.empty_like(x)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j * dsub : (j + 1) * dsub] = books[j][np.argmin(d2, axis=1)]
        return np.linalg.norm(out - x, axis=1).mean()

    err_opq = recon_err(obooks, resid @ rot)
    err_plain = recon_err(rbooks, resid)
    assert err_opq < err_plain, (err_opq, err_plain)
    assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-8)

    exact = set(
        map(
            tuple,
            cosine_topk(df, queries, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )

    def recall(out):
        got = set(map(tuple, out.select("query_id", "neighbor_id").collect()))
        return len(exact & got) / len(exact)

    kw = dict(
        dim=64, k=5, n_cells=8, nprobe=2, m=16, ksub=16, rerank=64,
        centroids=cent,
    )
    r_rotated = recall(ivfpq_topk(df, queries, rotation=rot, **kw))
    r_plain = recall(ivfpq_topk(df, queries, **kw))
    assert r_rotated >= r_plain - 1e-9, (r_rotated, r_plain)
    assert r_rotated >= 0.9, r_rotated


def test_ivfpq_local_codebooks_beat_shared(spark):
    """Per-cell codebooks must win when cells have HETEROGENEOUS local
    geometry: each cluster's noise lives in its own rotated decaying
    spectrum, so one shared residual codebook set has to average over
    per-cell orientations local codebooks capture individually.
    Pinned: lower residual reconstruction error than the shared
    variant, and end-to-end recall match-or-beat at the same scan
    budget, with a hard floor."""
    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        cosine_topk,
        ivf_centroids,
        ivfpq_local_codebooks,
        ivfpq_residual_codebooks,
        ivfpq_topk,
        ivfpq_topk_local,
    )

    rng = np.random.default_rng(23)
    centers = _norm_rows(rng.standard_normal((8, 64)))
    scales = np.linspace(1.0, 0.02, 64)
    rots = [np.linalg.qr(rng.standard_normal((64, 64)))[0] for _ in range(8)]
    rows = []
    for i in range(400):
        c = i % 8
        noise = (rng.standard_normal(64) * scales) @ rots[c].T
        rows.append((i, (centers[c] + 0.15 * noise).tolist()))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)
    queries = df.filter(F.col("vec_id") < 8)

    cent = ivf_centroids(df, 64, 8)
    local = ivfpq_local_codebooks(df, cent, 64, m=16, ksub=16)
    shared = ivfpq_residual_codebooks(df, cent, 64, m=16, ksub=16)
    mat = _norm_rows(_matrix([r[1] for r in rows]))
    cells = np.argmax(mat @ cent.T, axis=1)
    resid = mat - cent[cells]

    def recon_err(books_for_row):
        m, ksub, dsub = shared.shape
        err = 0.0
        for i in range(len(resid)):
            books = books_for_row(i)
            out = np.empty(64)
            for j in range(m):
                sub = resid[i, j * dsub : (j + 1) * dsub]
                d2 = ((sub[None, :] - books[j]) ** 2).sum(axis=1)
                out[j * dsub : (j + 1) * dsub] = books[j][np.argmin(d2)]
            err += np.linalg.norm(out - resid[i])
        return err / len(resid)

    err_local = recon_err(lambda i: local[cells[i]])
    err_shared = recon_err(lambda i: shared)
    assert err_local < err_shared, (err_local, err_shared)

    exact = set(
        map(
            tuple,
            cosine_topk(df, queries, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )

    def recall(out):
        got = set(map(tuple, out.select("query_id", "neighbor_id").collect()))
        return len(exact & got) / len(exact)

    kw = dict(
        dim=64, k=5, n_cells=8, nprobe=2, m=16, ksub=16, rerank=64,
        centroids=cent,
    )
    r_local = recall(ivfpq_topk_local(df, queries, **kw))
    r_shared = recall(ivfpq_topk(df, queries, **kw))
    assert r_local >= r_shared - 1e-9, (r_local, r_shared)
    assert r_local >= 0.9, r_local


def test_ivfpq_local_with_shared_books_matches_shared(spark):
    """Per-cell codebooks that are every cell's copy of the shared
    residual codebooks reduce ivfpq_encode_local to ivfpq_encode (equal
    codes) and ivfpq_topk_local to ivfpq_topk (equal rows), which pins
    the encode map, the nearest-codeword kernel and the ADC scan the
    two paths share."""
    from streaming_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_encode,
        ivfpq_encode_local,
        ivfpq_residual_codebooks,
        ivfpq_topk,
        ivfpq_topk_local,
    )

    rng = np.random.default_rng(31)
    centers = rng.standard_normal((6, 32))
    rows = [
        (i, (centers[i % 6] + 0.3 * rng.standard_normal(32)).tolist())
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(3)
    queries = df.filter(F.col("vec_id") < 6)
    cent = ivf_centroids(df, 32, 6)
    shared = ivfpq_residual_codebooks(df, cent, 32, m=8, ksub=8)
    tiled = np.broadcast_to(shared, (len(cent),) + shared.shape).copy()

    def codes(frame):
        return sorted((r.vec_id, r.cell, tuple(r.codes)) for r in frame.collect())

    assert codes(ivfpq_encode_local(df, cent, tiled)) == codes(
        ivfpq_encode(df, cent, shared)
    )
    kw = dict(dim=32, k=5, nprobe=2, m=8, ksub=8, rerank=16, centroids=cent)
    local = ivfpq_topk_local(df, queries, codebooks=tiled, **kw).collect()
    assert len(local) == 6 * 5
    assert sorted(local) == sorted(
        ivfpq_topk(df, queries, codebooks=shared, **kw).collect()
    )


def test_bpe_save_load_roundtrip(spark, tmp_path):
    """The persisted tokenizer artifact must round-trip exactly: loaded
    merges equal trained merges (order = rank table), metadata survives,
    encoding under the loaded artifact is identical to encoding under
    the in-memory one (both char- and byte-level), and a foreign file
    fails loudly."""
    import pytest as _pytest

    from streaming_spark.operators.bpe import (
        bpe_encode_counts,
        bpe_load,
        bpe_save,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog über café") for i in range(4)],
        "doc_id BIGINT, text STRING",
    )
    for byte_level in (False, True):
        merges, coverage = bpe_train(docs, n_merges=30, byte_level=byte_level)
        path = str(tmp_path / f"bpe_{byte_level}.json")
        bpe_save(path, merges, coverage, byte_level=byte_level,
                 special_tokens=("<|endoftext|>",))
        art = bpe_load(path)
        assert art["merges"] == merges
        assert art["byte_level"] == byte_level
        assert art["coverage"] == coverage
        assert art["special_tokens"] == ("<|endoftext|>",)
        a = bpe_encode_counts(docs, merges, byte_level=byte_level).orderBy("doc_id").collect()
        b = bpe_encode_counts(docs, art["merges"], byte_level=art["byte_level"]).orderBy("doc_id").collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]

    bad = tmp_path / "bad.json"
    bad.write_text('{"format": "other"}')
    with _pytest.raises(ValueError):
        bpe_load(str(bad))


def test_kmeans_full_contract(spark):
    """Full-corpus spherical k-means: on a corpus of 6 planted clusters,
    (1) the assignment must be deterministic across runs, (2) every
    planted cluster must land in one k-means cell (members agree), and
    (3) the distributed Lloyd refinement must not lose objective vs the
    sample-only init it starts from (mean member-to-centroid cosine)."""
    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        ivf_assign,
        ivf_centroids,
        spherical_kmeans_full,
    )

    rng = np.random.default_rng(31)
    centers = _norm_rows(rng.standard_normal((6, 32)))
    rows = []
    for i in range(300):
        v = centers[i % 6] + 0.1 * rng.standard_normal(32)
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)

    cent1, assign1 = spherical_kmeans_full(df, dim=32, k=6, n_iters=3)
    cent2, assign2 = spherical_kmeans_full(df, dim=32, k=6, n_iters=3)
    a1 = {r.vec_id: r.cell for r in assign1.collect()}
    a2 = {r.vec_id: r.cell for r in assign2.collect()}
    assert a1 == a2  # deterministic
    assert len(a1) == 300

    # planted purity: all members of a planted cluster share one cell
    for c in range(6):
        cells = {a1[i] for i in range(300) if i % 6 == c}
        assert len(cells) == 1, f"planted cluster {c} split across {cells}"

    # full-corpus refinement matches-or-beats the sample-only quantizer
    mat = _norm_rows(_matrix([r[1] for r in rows]))

    def objective(cent):
        return (mat @ cent.T).max(axis=1).mean()

    sample_only = ivf_centroids(df, 32, n_cells=6)
    assert objective(cent1) >= objective(sample_only) - 1e-9


def test_cluster_balanced_sample_contract(spark):
    """The cluster-balanced sample must satisfy its quota exactly
    (min(20, cluster size) per cell), be a subset of the corpus ids,
    and be deterministic across runs."""
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    out1 = REGISTRY["q_sample_cluster_balanced"](spark, SF_SMOKE).collect()
    out2 = REGISTRY["q_sample_cluster_balanced"](spark, SF_SMOKE).collect()
    assert [(r.vec_id, r.cell) for r in out1] == [
        (r.vec_id, r.cell) for r in out2
    ]
    corpus_ids = {
        r.vec_id for r in T(spark, SF_SMOKE, "embeddings").select("vec_id").collect()
    }
    sample_ids = [r.vec_id for r in out1]
    assert len(sample_ids) == len(set(sample_ids))  # no duplicates
    assert set(sample_ids) <= corpus_ids
    from collections import Counter

    per_cell = Counter(r.cell for r in out1)
    assert max(per_cell.values()) <= 20
    # every nonempty cluster contributes; fixture has 500 vectors in 8
    # clusters, so each cluster holds >= 20 and the quota binds exactly
    assert all(n == 20 for n in per_cell.values()), per_cell


def test_cluster_quality_sample_contract(spark):
    """The quality-weighted cluster sample must keep, per cell, exactly
    the quota of HIGHEST-token-count documents: every kept doc's token
    count >= every dropped doc's in the same cell (ties broken by id),
    quota respected, deterministic across runs."""
    from streaming_spark.operators.similarity import spherical_kmeans_full
    from streaming_spark.operators.text import token_count
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    out1 = REGISTRY["q_sample_cluster_quality"](spark, SF_SMOKE).collect()
    out2 = REGISTRY["q_sample_cluster_quality"](spark, SF_SMOKE).collect()
    assert [(r.vec_id, r.cell) for r in out1] == [
        (r.vec_id, r.cell) for r in out2
    ]
    emb = T(spark, SF_SMOKE, "embeddings")
    _, assign = spherical_kmeans_full(emb, dim=64, k=8, n_iters=2)
    docs = T(spark, SF_SMOKE, "documents").select(
        F.col("doc_id").alias("vec_id"), token_count("text").alias("n_tokens")
    )
    full = {
        r.vec_id: (r.cell, r.n_tokens)
        for r in assign.join(docs, "vec_id").collect()
    }
    kept = {r.vec_id for r in out1}
    from collections import Counter

    per_cell = Counter(full[v][0] for v in kept)
    assert all(n == 20 for n in per_cell.values()), per_cell
    for cell in per_cell:
        kept_scores = sorted(
            (full[v][1], v) for v in kept if full[v][0] == cell
        )
        dropped_scores = [
            (full[v][1], v)
            for v in full
            if full[v][0] == cell and v not in kept
        ]
        if dropped_scores:
            # the worst kept (score, then id as tie-break in the
            # sampler's ascending -score order = descending score,
            # ascending id) must dominate the best dropped
            worst_kept = kept_scores[0]
            best_dropped = max(dropped_scores)
            assert worst_kept[0] >= best_dropped[0], (
                cell, worst_kept, best_dropped,
            )


def test_quota_sampler_guards(spark):
    """Hardening contracts: (1) null scoring keys are excluded up front
    (pandas NaN-last vs sort_array null-first would make the two top-k
    phases disagree), (2) multiprobe bucket packing rejects n_bits >
    63, (3) k-means refuses k larger than its init sample instead of
    silently duplicating centroids."""
    import pytest as _pytest

    from streaming_spark.operators.curation import quota_sample_per_group
    from streaming_spark.operators.similarity import (
        multiprobe_query_buckets,
        spherical_kmeans_full,
    )

    df = spark.createDataFrame(
        [(0, 1, 5.0), (0, 2, None), (0, 3, 1.0), (1, 4, None), (1, 5, 2.0)],
        "grp INT, id BIGINT, score DOUBLE",
    )
    out = quota_sample_per_group(df, "grp", "id", quota=2, key=-F.col("score"))
    got = {(r.grp, r.id) for r in out.collect()}
    assert got == {(0, 1), (0, 3), (1, 5)}  # null-score rows never sampled

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(AssertionError):
        multiprobe_query_buckets(vecs, "embedding", dim=2, n_bits=64)

    with _pytest.raises(ValueError, match="exceeds the"):
        spherical_kmeans_full(vecs, dim=2, k=5)


def test_ivfpq_local_opq_composition(spark):
    """Rotation and per-cell codebooks fix DIFFERENT defects — the
    subspace split vs the cell shape — so composed they must beat
    local-only codebooks when every cell shares one anisotropic noise
    orientation (a global rotation aligns energy with the subspace
    boundaries for all cells at once): lower rotated-residual
    reconstruction error at the same budget, and end-to-end recall
    match-or-beat with a hard floor."""
    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        cosine_topk,
        ivf_centroids,
        ivfpq_local_codebooks,
        ivfpq_topk_local,
        opq_train_residual,
    )

    rng = np.random.default_rng(41)
    centers = _norm_rows(rng.standard_normal((8, 64)))
    scales = np.linspace(1.0, 0.02, 64)
    q_rand, _ = np.linalg.qr(rng.standard_normal((64, 64)))  # shared by all cells
    rows = []
    for i in range(400):
        noise = (rng.standard_normal(64) * scales) @ q_rand.T
        rows.append((i, (centers[i % 8] + 0.15 * noise).tolist()))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)
    queries = df.filter(F.col("vec_id") < 8)

    cent = ivf_centroids(df, 64, 8)
    rot, _ = opq_train_residual(df, cent, 64, m=16, ksub=16)
    plain_local = ivfpq_local_codebooks(df, cent, 64, m=16, ksub=16)
    rot_local = ivfpq_local_codebooks(df, cent, 64, m=16, ksub=16, rotation=rot)
    mat = _norm_rows(_matrix([r[1] for r in rows]))
    cells = np.argmax(mat @ cent.T, axis=1)
    resid = mat - cent[cells]

    def recon_err(books_by_cell, data):
        m, ksub, dsub = books_by_cell.shape[1:]
        err = 0.0
        for i in range(len(data)):
            books = books_by_cell[cells[i]]
            out = np.empty(64)
            for j in range(m):
                sub = data[i, j * dsub : (j + 1) * dsub]
                d2 = ((sub[None, :] - books[j]) ** 2).sum(axis=1)
                out[j * dsub : (j + 1) * dsub] = books[j][np.argmin(d2)]
            err += np.linalg.norm(out - data[i])
        return err / len(data)

    err_composed = recon_err(rot_local, resid @ rot)
    err_local = recon_err(plain_local, resid)
    assert err_composed < err_local, (err_composed, err_local)

    exact = set(
        map(
            tuple,
            cosine_topk(df, queries, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )

    def recall(out):
        got = set(map(tuple, out.select("query_id", "neighbor_id").collect()))
        return len(exact & got) / len(exact)

    kw = dict(
        dim=64, k=5, n_cells=8, nprobe=2, m=16, ksub=16, rerank=64,
        centroids=cent,
    )
    r_composed = recall(ivfpq_topk_local(df, queries, rotation=rot, **kw))
    r_local = recall(ivfpq_topk_local(df, queries, **kw))
    assert r_composed >= r_local - 1e-9, (r_composed, r_local)
    assert r_composed >= 0.9, r_composed


def test_quota_sampler_partition_invariant(spark):
    """The quota sample must be IDENTICAL at any physical partitioning
    — the 100 TB claim behind the two-phase plan: phase 1 keeps a
    superset of the global winners in every layout, phase 2's bounded
    fold resolves the same final set regardless of how rows were
    distributed."""
    from streaming_spark.operators.curation import quota_sample_per_group

    rows = [(i % 5, i, float((i * 37) % 101)) for i in range(500)]
    base = spark.createDataFrame(rows, "grp INT, id BIGINT, score DOUBLE")
    results = []
    for n_parts in (1, 4, 32):
        out = quota_sample_per_group(
            base.repartition(n_parts), "grp", "id", quota=7,
            key=-F.col("score"),
        )
        results.append(sorted((r.grp, r.id) for r in out.collect()))
    assert results[0] == results[1] == results[2]
    assert len(results[0]) == 35  # 5 groups x quota 7


def test_window_hashes_rolling_matches_direct(spark):
    """The vectorized closed-form hash (prefix sums × inverse powers,
    uint64 wraparound) must produce the SAME value as hashing each
    window from scratch with the plain polynomial recurrence — the
    modular-inverse trick is the only nontrivial arithmetic, pin it —
    and a planted cross-doc span must surface as hash-equal rows in
    both documents."""
    from streaming_spark.operators.text import window_hashes

    shared = "the quick brown fox jumps over the lazy dog!"  # 44 chars
    rows = [
        (1, "AAAA" + shared + "BBBB"),
        (2, "xyzw" + shared + "qrst"),
        (3, "completely unrelated text with no shared span here at all."),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = window_hashes(df, text_col="text", id_col="doc_id", width=40)
    got = {(r.doc_id, r.pos): r.h for r in out.collect()}

    mod, base = 1 << 64, 1000003

    def direct(s):
        acc = 0
        for ch in s:
            acc = (acc * base + ord(ch)) % mod
        return acc - mod if acc >= (1 << 63) else acc  # int64 view

    for doc_id, text in rows:
        n_windows = len(text) - 40 + 1
        assert {p for (d, p) in got if d == doc_id} == set(
            range(1, n_windows + 1)
        )
        for pos in range(1, n_windows + 1):
            assert got[(doc_id, pos)] == direct(text[pos - 1 : pos + 39]), (
                doc_id,
                pos,
            )

    # the planted span: identical 40-char windows inside docs 1 and 2
    # hash identically at the aligned positions (both prefixes are 4
    # chars, so window i of the shared region aligns at pos 4 + i)
    for i in range(1, 6):  # shared is 44 chars -> 5 full windows inside
        assert got[(1, 4 + i)] == got[(2, 4 + i)]
    # and doc 3 shares no hash with doc 1
    h1 = {h for (d, _), h in got.items() if d == 1}
    h3 = {h for (d, _), h in got.items() if d == 3}
    assert not (h1 & h3)


def test_ann_index_artifact_roundtrip(spark, tmp_path):
    """ann_index_save → ann_index_load must reproduce the arrays
    bit-exactly AND an IVF-OPQ query served from the loaded artifact
    must match the in-memory index row-for-row; foreign/corrupt
    artifacts must fail loudly."""
    import numpy as np
    import pytest

    from streaming_spark.operators.similarity import (
        ann_index_load,
        ann_index_save,
        ivf_centroids,
        ivfpq_topk,
        opq_train_residual,
    )
    from streaming_spark.queries.registry import T

    from tests.conftest import SF_SMOKE

    emb = T(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    cent = ivf_centroids(emb, 64, n_cells=4)
    rot, _ = opq_train_residual(emb, cent, 64, m=8, ksub=8, n_opq_iters=2)

    path = str(tmp_path / "index.json")
    ann_index_save(
        path, dim=64, centroids=cent, rotation=rot,
        params={"n_cells": 4, "m": 8, "ksub": 8},
    )
    art = ann_index_load(path)
    assert art["dim"] == 64 and art["params"]["n_cells"] == 4
    assert np.array_equal(art["centroids"], cent)  # bit-exact round-trip
    assert np.array_equal(art["rotation"], rot)
    assert art["codebooks"] is None

    kw = dict(dim=64, k=3, n_cells=4, nprobe=2, m=8, ksub=8, rerank=32)
    mem = ivfpq_topk(emb, queries, centroids=cent, rotation=rot, **kw)
    loaded = ivfpq_topk(
        emb, queries, centroids=art["centroids"], rotation=art["rotation"],
        **kw,
    )
    assert sorted(map(tuple, mem.collect())) == sorted(
        map(tuple, loaded.collect())
    )

    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        f.write('{"format": "something-else", "version": 1}')
    with pytest.raises(ValueError, match="not a streaming-spark ANN"):
        ann_index_load(bad)
    v2 = str(tmp_path / "v2.json")
    with open(v2, "w") as f:
        f.write('{"format": "streaming-spark-ann", "version": 99}')
    with pytest.raises(ValueError, match="unsupported ANN artifact"):
        ann_index_load(v2)


def test_unigram_full_contract(spark, tmp_path):
    """Unigram-LM trainer contracts: probabilities normalize, training
    is deterministic, the dominant repeated subword survives pruning
    and drives Viterbi, every word (even with unseen chars) stays
    segmentable, Viterbi never exceeds char-level segmentation, and the
    artifact round-trips with loud failure on foreign files."""
    import math

    import pytest

    from streaming_spark.operators.unigram import (
        _viterbi,
        learn_unigram,
        unigram_encode_counts,
        unigram_load,
        unigram_save,
    )

    wf = [("abab", 50), ("ab", 30), ("cd", 10), ("abcd", 5), ("zzz", 2)]
    pieces = learn_unigram(wf, vocab_size=8, seed_size=50, max_piece_len=4)
    assert math.isclose(
        math.fsum(math.exp(lp) for lp in pieces.values()), 1.0, rel_tol=1e-9
    )
    assert pieces == learn_unigram(
        wf, vocab_size=8, seed_size=50, max_piece_len=4
    )
    assert "ab" in pieces  # the dominant subword survives pruning
    ml = max(len(p) for p in pieces)
    assert _viterbi("abab", pieces, ml) == ["ab", "ab"]
    assert _viterbi("abcd", pieces, ml) == ["ab", "cd"]
    assert _viterbi("qq", pieces, ml) == ["q", "q"]  # unseen chars
    for word in ("abab", "abcd", "zzz", "cdcd"):
        assert len(_viterbi(word, pieces, ml)) <= len(word)

    docs = spark.createDataFrame(
        [(1, "abab ab abab"), (2, "cd zzz"), (3, "")],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r.doc_id: r.n_unigram_tokens
        for r in unigram_encode_counts(docs, pieces).collect()
    }
    assert out == {1: 5, 2: 2, 3: 0}  # ab|ab, ab, ab|ab ; cd, zzz ; —

    path = str(tmp_path / "unigram.json")
    unigram_save(path, pieces, coverage=0.97)
    art = unigram_load(path)
    assert art["coverage"] == 0.97
    assert art["pieces"] == pieces  # float64 json round-trip is exact
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        f.write('{"format": "streaming-spark-bpe", "version": 1}')
    with pytest.raises(ValueError, match="not a streaming-spark unigram"):
        unigram_load(bad)


def test_unigram_em_underflow_regression():
    """Pinned Hypothesis counterexample (VERDICT r9 #1): a single long
    word whose lattice mass spreads over many pieces drives an expected
    count denormal-small; ``log(c / total)`` underflowed to log(0.0)
    and raised ``ValueError: math domain error``.  The EM must compute
    ``log(c) - log(total)`` instead and still normalize."""
    import math

    from streaming_spark.operators.unigram import _viterbi, learn_unigram

    # exact counterexample found by tests/test_property_roundtrip.py
    pieces = learn_unigram(
        [("fbadfeadccca", 1)], vocab_size=16, seed_size=40, max_piece_len=4
    )
    total = math.fsum(math.exp(lp) for lp in pieces.values())
    assert abs(total - 1.0) < 1e-9
    seg = _viterbi("fbadfeadccca", pieces, max(len(p) for p in pieces))
    assert "".join(seg) == "fbadfeadccca"
    # sibling shape: many distinct words, one overwhelming — skew in the
    # opposite direction (tiny relative mass on the rare words' pieces)
    skew = [("q" * 8, 10**9)] + [(w, 1) for w in ("abcd", "efgh", "ijkl")]
    pieces = learn_unigram(skew, vocab_size=12, seed_size=60, max_piece_len=4)
    total = math.fsum(math.exp(lp) for lp in pieces.values())
    assert abs(total - 1.0) < 1e-9


def test_unigram_subword_sampling(spark):
    """Subword-regularization sampler contracts: every sampled
    segmentation is VALID (concatenates back to the word), sampling is
    deterministic per (seed, word), a large alpha recovers the Viterbi
    segmentation (the distribution concentrates on the argmax), a small
    alpha actually diversifies (different words/seeds yield non-Viterbi
    segmentations somewhere), and the distributed counter matches a
    driver-side replay."""
    from streaming_spark.operators.unigram import (
        _sample_segmentation,
        _viterbi,
        learn_unigram,
        unigram_sample_counts,
    )

    wf = [("abab", 50), ("ab", 30), ("cd", 10), ("abcd", 5), ("zzz", 2)]
    pieces = learn_unigram(wf, vocab_size=8, seed_size=50, max_piece_len=4)
    ml = max(len(p) for p in pieces)

    words = ["abab", "abcd", "zzz", "cdcd", "ababab"]
    for w in words:
        for seed in (0, 1, 7, 12345):
            seg = _sample_segmentation(w, pieces, ml, alpha=0.2, seed=seed)
            assert "".join(seg) == w, (w, seed, seg)
            assert seg == _sample_segmentation(
                w, pieces, ml, alpha=0.2, seed=seed
            )
        # alpha -> large concentrates on the Viterbi argmax
        assert _sample_segmentation(
            w, pieces, ml, alpha=200.0, seed=3
        ) == _viterbi(w, pieces, ml), w

    # small alpha must produce a non-Viterbi segmentation for SOME
    # (word, seed) — otherwise the sampler isn't sampling
    diverse = any(
        _sample_segmentation(w, pieces, ml, alpha=0.05, seed=s)
        != _viterbi(w, pieces, ml)
        for w in words
        for s in range(20)
    )
    assert diverse

    docs = spark.createDataFrame(
        [(1, "abab abcd"), (2, "zzz"), (3, "")],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r.doc_id: (r.n_viterbi_tokens, r.n_sampled_tokens)
        for r in unigram_sample_counts(
            docs, pieces, alpha=0.2, seed=7
        ).collect()
    }

    def replay(text, seed):
        nv = ns = 0
        for word in text.split():
            wseed = seed
            for ch in word:
                wseed = ((wseed ^ ord(ch)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
            nv += len(_viterbi(word, pieces, ml))
            ns += len(
                _sample_segmentation(word, pieces, ml, alpha=0.2, seed=wseed)
            )
        return nv, ns

    assert out == {
        1: replay("abab abcd", 7),
        2: replay("zzz", 7),
        3: (0, 0),
    }


def test_jsonl_dirty_ingest_accounting(spark):
    """PERMISSIVE JSONL ingest must quarantine EXACTLY the malformed
    lines (every 10th line at offsets 3 and 7 of the staged shard) and
    parse the rest: counts reconcile (parsed + quarantined = lines) and
    the parsed char mass equals the clean lines' text lengths."""
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    row = REGISTRY["q_input_jsonl_dirty"](spark, SF_SMOKE).collect()[0]
    docs = (
        T(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
        .collect()
    )
    n = len(docs)
    bad = sum(1 for i in range(n) if i % 10 in (3, 7))
    good_chars = sum(
        len(d.text) for i, d in enumerate(docs) if i % 10 not in (3, 7)
    )
    assert row.n_lines == n
    assert row.n_quarantined == bad
    assert row.n_parsed == n - bad
    assert row.n_parsed + row.n_quarantined == row.n_lines
    assert row.parsed_chars == good_chars


def test_hard_negatives_margin(spark):
    """Hard-negative mining contracts: every anchor yields exactly k=3
    hard negatives in descending cosine order, none equal to the
    anchor, the mined negatives are on average STRICTLY closer than the
    uniform draws at the same ranks (the reason mining exists), and the
    whole query is deterministic."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["q_hard_negatives"](spark, SF_SMOKE).collect()
    again = REGISTRY["q_hard_negatives"](spark, SF_SMOKE).collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in again]

    by_anchor = {}
    for r in rows:
        assert r.hard_neg_id != r.anchor_id
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for anchor, rs in by_anchor.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3], anchor
        cos = [r.hard_cos for r in rs]
        assert cos == sorted(cos, reverse=True), anchor

    hard_mean = sum(r.hard_cos for r in rows) / len(rows)
    rand = [r.rand_cos for r in rows if r.rand_cos is not None]
    rand_mean = sum(rand) / len(rand)
    assert hard_mean > rand_mean, (hard_mean, rand_mean)


def test_fuzzy_index_reuse_equals_inline(spark):
    """fuzzy_join with a precomputed (persisted) right index must return
    exactly the pairs of the inline build — the streaming entity
    resolver depends on this equivalence (ADVICE r5)."""
    from streaming_spark.operators.fuzzy import fuzzy_index, fuzzy_join

    master = spark.createDataFrame(
        [(1, "kitten"), (2, "mitten"), (3, "banana")],
        "mid BIGINT, name STRING",
    )
    dirty = spark.createDataFrame(
        [(10, "kitte"), (11, "mittens"), (12, "orange"), (13, "banana")],
        "did BIGINT, name STRING",
    )
    inline = {
        (r.did, r.mid, r.dist)
        for r in fuzzy_join(
            dirty, master, "name", "name", "did", "mid", max_dist=1
        ).collect()
    }
    idx = fuzzy_index(master, "name", "mid", max_dist=1, persist=True)
    try:
        reused = {
            (r.did, r.mid, r.dist)
            for r in fuzzy_join(
                dirty, None, "name", None, "did", "mid",
                max_dist=1, right_index=idx,
            ).collect()
        }
    finally:
        for frame in idx[:2]:  # third element records max_dist
            frame.unpersist()
    assert inline == reused and inline, (inline, reused)
    # an index built at d=1 holds no 2-deletion variants: probing it at
    # a LARGER max_dist must refuse instead of silently losing matches
    with pytest.raises(ValueError, match="right_index was built"):
        fuzzy_join(
            dirty, None, "name", None, "did", "mid",
            max_dist=2, right_index=idx,
        )


def test_adjacent_swap_variants_short_strings(spark):
    """len<2 strings have NO adjacent-swap variants — the unguarded
    sequence(1,0) (DESCENDING in Spark, not empty) used to fabricate an
    identity variant and a doubled-first-char variant."""
    from streaming_spark.operators.fuzzy import adjacent_swap_variants

    df = spark.createDataFrame([("",), ("a",), ("ab",), ("abc",)], "s STRING")
    got = {
        r.s: r.v
        for r in df.select(
            "s", adjacent_swap_variants("s").alias("v")
        ).collect()
    }
    assert got[""] == [] and got["a"] == []
    assert got["ab"] == ["ba"]
    assert got["abc"] == ["bac", "acb"]


def test_connected_components_refuses_unconverged_labels(spark):
    """A duplicate CHAIN deeper than max_iter must raise, not silently
    split one true cluster into several (min-label propagation moves
    the minimum one hop per round).  The refusal is an ITERATIVE-arm
    property; the driver arm (union-find) is depth-insensitive and
    handles the same chain at any max_iter."""
    from streaming_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a BIGINT, id_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(chain, max_iter=3, mode="iterative").collect()
    ok = connected_components(chain, max_iter=10, mode="iterative")
    assert {r.component for r in ok.collect()} == {0}
    deep = connected_components(chain, max_iter=3, mode="driver")
    assert {r.component for r in deep.collect()} == {0}


def test_connected_components_arms_agree(spark):
    """The driver union-find arm and the iterative min-label arm must
    return the identical (id -> component) map on a random multigraph —
    the auto routing is a physical choice, never a semantic one (the
    cosine_pairs arms-agree contract, applied to the graph step)."""
    import random

    from streaming_spark.operators.dedup import connected_components

    rng = random.Random(71)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(90)
    ]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a BIGINT, id_b BIGINT"
    )
    drv = {r.id: r.component for r in
           connected_components(pairs, mode="driver").collect()}
    itr = {r.id: r.component for r in
           connected_components(pairs, mode="iterative").collect()}
    assert drv == itr and len(drv) > 0
    # string ids survive the driver arm (schema derived from the edges)
    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a STRING, id_b STRING"
    )
    sdrv = {r.id: r.component for r in
            connected_components(spairs, mode="driver").collect()}
    assert sdrv == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_lsh_banding_refuses_short_signatures(spark):
    """num_perm < bands floors rows_per_band to 0 — every band slice
    empty, the corpus collapses into one bucket per band, and the hot
    cap then drops it: total silent recall loss.  Refuse loudly."""
    from streaming_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id BIGINT, text STRING"
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_perm=8)
    with pytest.raises(ValueError, match="cannot fill"):
        lsh_candidate_pairs(sigs, bands=16).collect()


def test_semdedup_contract(spark):
    """SemDeDup keep-rule contracts on a planted geometry: two
    near-identical vectors in a tight cluster → the one nearer its
    centroid drops and the fringe one survives; singletons survive; the
    run is deterministic; exactly one survivor per duplicate set."""
    import numpy as np

    from streaming_spark.operators.similarity import semdedup

    rng = np.random.default_rng(7)
    dim = 8

    def unit(v):
        v = np.asarray(v, dtype=float)
        return (v / np.linalg.norm(v)).tolist()

    a = unit(rng.normal(size=dim))
    # b = slightly perturbed a (cos ~ 0.999) — a semantic duplicate
    b = unit(np.asarray(a) + 0.02 * rng.normal(size=dim))
    far = [unit(rng.normal(size=dim)) for _ in range(6)]
    rows = [(0, a), (1, b)] + [(i + 2, v) for i, v in enumerate(far)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    out = {
        r.vec_id: r
        for r in semdedup(df, dim=dim, k=2, threshold=0.9).collect()
    }
    out2 = {
        r.vec_id: (r.cell, r.dropped)
        for r in semdedup(df, dim=dim, k=2, threshold=0.9).collect()
    }
    assert {i: (r.cell, r.dropped) for i, r in out.items()} == out2
    assert len(out) == len(rows)
    # the planted pair: exactly one dropped, and it's the one with the
    # HIGHER centroid similarity (the keep-low rule)
    pair = [out[0], out[1]]
    assert sorted(p.dropped for p in pair) == [False, True]
    dropped = pair[0] if pair[0].dropped else pair[1]
    kept = pair[1] if pair[0].dropped else pair[0]
    assert dropped.centroid_sim >= kept.centroid_sim or (
        dropped.centroid_sim == kept.centroid_sim
        and dropped.vec_id > kept.vec_id
    )
    # vectors with no >= threshold neighbor in their cell all survive
    lonely = [r for i, r in out.items() if i >= 2]
    assert all(not r.dropped for r in lonely)


def test_topk_tiebreak_helper_matches_lexsort():
    """_top_by_sim_then_id must select the EXACT top-r under
    (sim DESC, id ASC) — the total order every final window and DuckDB
    oracle uses — including when ties straddle the r-th slot (duplicate
    vectors produce bit-identical sims).  Randomized against the
    lexsort ground truth, with heavy tie mass and -inf padding values
    (the _RunningTopR state representation)."""
    from streaming_spark.operators.similarity import _top_by_sim_then_id

    rng = np.random.default_rng(20260815)
    for _ in range(2000):
        n = int(rng.integers(1, 40))
        r = int(rng.integers(1, 12))
        sims = rng.choice(
            np.array([0.1, 0.5, 0.5, 0.9, -np.inf]), size=n
        ).astype(float)
        ids = (rng.permutation(1000)[:n] - 500).astype(np.int64)
        sel = _top_by_sim_then_id(sims, ids, r)
        order = np.lexsort((ids, -sims))[: min(r, n)]
        assert sorted(zip(-sims[sel], ids[sel])) == sorted(
            zip(-sims[order], ids[order])
        )
        assert len(set(sel.tolist())) == len(sel)  # real indices, no dups


def test_cosine_topk_boundary_ties_deterministic(spark):
    """Planted duplicate vectors tying EXACTLY at the k boundary: the
    exact arm must return the oracle's (sim DESC, neighbor_id ASC)
    selection — the smallest-id members of the tied group — regardless
    of partitioning or chunk arrival order (ADVICE r10: an argpartition
    on sim alone could keep an arbitrary tied member at the partial
    boundary).  Duplicates are listed with DESCENDING ids in row order
    so an insertion-order-biased compaction would keep the wrong ones,
    and the corpus is spread over several partitions."""
    dim = 8
    q = [1.0] + [0.0] * (dim - 1)
    rows = [(0, q)]  # the query itself lives in the corpus
    # three distinct near neighbors (sim strictly above the tie group)
    for i, eps in ((1, 0.10), (2, 0.11), (3, 0.12)):
        v = np.array(q)
        v[1] = eps
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # six bit-identical duplicates at a lower sim — ids DESCENDING
    dup = np.array(q)
    dup[2] = 0.9
    dup = dup / np.linalg.norm(dup)
    dup_ids = [900, 800, 700, 600, 500, 400]
    for i in dup_ids:
        rows.append((i, [float(x) for x in dup]))
    # far-away filler so partitions are non-trivial
    for i in range(50, 80):
        v = np.zeros(dim)
        v[3 + (i % (dim - 3))] = 1.0
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(6, "vec_id")
    queries = df.filter(F.col("vec_id") == 0)
    for _ in range(2):  # rerun-stable
        got = [
            (r.neighbor_id, r.rank)
            for r in cosine_topk(df, queries, k=5)
            .orderBy("rank")
            .collect()
        ]
        # top-3 are the distinct neighbors (smallest eps = highest sim
        # first), then the k boundary falls INSIDE the tied duplicate
        # group: ranks 4-5 must be the two SMALLEST ids of the group,
        # not arbitrary members
        assert [n for n, _ in got[:3]] == [1, 2, 3]
        assert [n for n, _ in got[3:]] == [400, 500]


def test_running_topr_tiebreak_order_invariant():
    """_RunningTopR retains the exact top-r under (sim DESC, id ASC):
    offering the same tied candidates in different chunk orders must
    flush the identical set — ADC sims tie whenever vectors share PQ
    codes, so an arrival-order-dependent rerank pool would make the
    post-rerank top-k nondeterministic."""
    from streaming_spark.operators.similarity import _RunningTopR

    sims = np.array([0.5, 0.5, 0.5, 0.5, 0.9, 0.5])
    ids = np.array([30, 10, 40, 20, 99, 15], dtype=np.int64)
    perms = [
        np.arange(6),
        np.arange(6)[::-1],
        np.array([2, 0, 5, 1, 4, 3]),
    ]
    flushes = []
    for p in perms:
        st = _RunningTopR(1, 3)
        # two offers per run: split the permuted stream into chunks
        st.offer(0, sims[p][:3], ids[p][:3])
        st.offer(0, sims[p][3:], ids[p][3:])
        out = st.flush(np.array([7]))
        flushes.append(
            sorted(zip(out["vec_id"].tolist(), out["adc_sim"].tolist()))
        )
    # ground truth: 0.9 first, then the two smallest tied ids
    assert flushes[0] == [(10, 0.5), (15, 0.5), (99, 0.9)]
    assert flushes[0] == flushes[1] == flushes[2]


def test_ann_staged_fingerprint_refuses_mismatch(spark, tmp_path):
    """A staged index table is only meaningful WITH the quantizer that
    produced it.  The encode maps stamp a quantizer fingerprint into
    the staged column metadata (surviving the parquet round-trip); the
    serve paths must refuse a frame stamped by a DIFFERENT quantizer
    instead of silently returning wrong neighbors — and keep serving
    matching and unstamped frames."""
    from streaming_spark.operators.similarity import (
        _ANN_FP_KEY,
        ann_index_load,
        ann_index_save,
        ann_quantizer_fingerprint,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        ivfpq_encode,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    q = df.filter(F.col("vec_id") < 3)
    cent_a = ivf_centroids(df, 16, 4)
    cent_b = ivf_centroids(df, 16, 5)  # a different quantizer
    books_a = ivfpq_residual_codebooks(df, cent_a, 16, m=4, ksub=8)
    books_b = ivfpq_residual_codebooks(df, cent_b, 16, m=4, ksub=8)

    ivfpq_encode(df, cent_a, books_a).write.parquet(str(tmp_path / "pq"))
    enc = spark.read.parquet(str(tmp_path / "pq"))
    assert enc.schema["codes"].metadata[_ANN_FP_KEY] == (
        ann_quantizer_fingerprint(centroids=cent_a, codebooks=books_a)
    )
    # matching quantizer serves
    ivfpq_topk(
        df, q, 16, k=3, n_cells=4, nprobe=2, m=4, ksub=8,
        centroids=cent_a, codebooks=books_a, encoded=enc,
    ).collect()
    # mismatched quantizer is refused loudly
    with pytest.raises(ValueError, match="fingerprint"):
        ivfpq_topk(
            df, q, 16, k=3, n_cells=5, nprobe=2, m=4, ksub=8,
            centroids=cent_b, codebooks=books_b, encoded=enc,
        )

    ivf_assign(df, cent_a).write.parquet(str(tmp_path / "ivf"))
    staged = spark.read.parquet(str(tmp_path / "ivf"))
    ivf_topk(
        df, q, 16, k=3, n_cells=4, nprobe=2,
        centroids=cent_a, assigned=staged,
    ).collect()
    with pytest.raises(ValueError, match="fingerprint"):
        ivf_topk(
            df, q, 16, k=3, n_cells=5, nprobe=2,
            centroids=cent_b, assigned=staged,
        )
    # an UNSTAMPED frame (hand-built, older writer) still serves —
    # blank BOTH stamp carriers (ivf_assign stamps cell AND the id)
    bare = staged.withMetadata("cell", {}).withMetadata("vec_id", {})
    ivf_topk(
        df, q, 16, k=3, n_cells=4, nprobe=2,
        centroids=cent_a, assigned=bare,
    ).collect()
    # a CELL-PARTITIONED staged inverted file loses the cell column's
    # metadata to directory names — the id-column stamp must still
    # refuse a mismatched quantizer
    ivf_assign(df, cent_a).write.partitionBy("cell").parquet(
        str(tmp_path / "ivf_bycell")
    )
    staged_bycell = spark.read.parquet(str(tmp_path / "ivf_bycell"))
    with pytest.raises(ValueError, match="fingerprint"):
        ivf_topk(
            df, q, 16, k=3, n_cells=5, nprobe=2,
            centroids=cent_b, assigned=staged_bycell,
        )

    # the saved artifact records the same binding, and it survives the
    # json round-trip (float64 lists are exact)
    path = str(tmp_path / "index.json")
    ann_index_save(
        path, dim=16, centroids=cent_a, codebooks=books_a
    )
    art = ann_index_load(path)
    assert art["fingerprint"] == ann_quantizer_fingerprint(
        centroids=art["centroids"], codebooks=art["codebooks"]
    )


def test_ivfpq_cell_partitioned_layout(spark):
    """The registered layout probe's contract: the cell-partitioned
    staged index serves a ROW-IDENTICAL top-k (layout never changes
    semantics) while the pruned scan touches strictly fewer files than
    the flat layout — the probe mask became partition pruning, the
    nprobe/n_cells I/O bound the inverted file exists for.  Rows
    scanned must equal the probed-cell populations on BOTH layouts
    (the batch-union filter reaches the scan either way)."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = {
        r["layout"]: r
        for r in REGISTRY["ann_topk_ivfpq_pruned"](spark, SF_SMOKE).collect()
    }
    flat, part = rows["flat"], rows["cell_partitioned"]
    assert flat["result_md5"] == part["result_md5"]
    assert part["files_read"] < flat["files_read"]
    assert flat["files_read"] == flat["files_total"]  # flat can't prune
    assert part["rows_matched"] == flat["rows_matched"] < flat["rows_total"]


def test_simhash_banding_recall_tradeoff(spark):
    """The SimHash banding/radius knob must move recall the RIGHT way
    on the stress corpus protocol (VERDICT r10 #3: the published 4×16 /
    ham ≤ 3 operating point silently delivers ~0.24 recall on lightly
    mutated near-dups, 4× worse than MinHash-LSH at the same threshold
    intent).  Reuses scripts/scale.py's deterministic planted text
    corpus (every 5th doc a ~3-of-60-word mutation of its predecessor)
    so the floors here are the documented envelope, not a new metric.

    Pins: banding alone does NOT move recall (the radius governs — 8×8
    at ham ≤ 3 equals 4×16 at ham ≤ 3 exactly), widening radius+bands
    does (8×8/ham ≤ 7 ≥ 0.7, 16×4/ham ≤ 11 ≥ 0.8 — measured 0.728 /
    0.944), and an invalid banding is refused."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    from scale import gen_texts

    n = 2500
    ids = np.arange(n)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": gen_texts(ids)})
    )
    planted = n // 5

    def recall(bands, band_bits, ham):
        rows = simhash_dedup_pairs(
            docs, "text", "doc_id",
            max_hamming=ham, bands=bands, band_bits=band_bits,
        ).collect()
        hit = sum(
            1 for r in rows if r.id_b == r.id_a + 1 and r.id_a % 5 == 3
        )
        # every VERIFIED pair is a planted one: unrelated 60-word docs
        # sit ~32 bits apart, so even the widest radius here (ham <= 11)
        # admits no random pair — the candidate floor the wider banding
        # pays (bands*N^2/2^(band_bits+1) internal candidates) is fully
        # absorbed by the exact Hamming verify, never leaked as output
        assert len(rows) == hit, (len(rows), hit)
        return hit / planted

    base = recall(4, 16, 3)
    assert 0.15 < base < 0.35  # the documented ~0.24 surprise
    assert recall(8, 8, 3) == base  # radius governs; banding blameless
    assert recall(8, 8, 7) >= 0.7
    assert recall(16, 4, 11) >= 0.8

    with pytest.raises(ValueError, match="bands"):
        simhash_dedup_pairs(
            docs, "text", "doc_id", bands=5, band_bits=16
        )  # 80 > 64 bits


@pytest.mark.slow  # ~85 s: 30k-vector build + exact baseline
def test_ann_deploy_sizing_recall_floor(spark):
    """Regression pin for the published-standard PQ deployment sizing
    (VERDICT r10 #4): the r10 sweep (now scripts/scale.py --family ann)
    found the fixture-sized codes (m=8, ksub=16) collapse recall to 0.05-0.22 on
    clustered corpora, while the published standard (m=16, ksub=256,
    sample_limit 16384, rerank >= 512) restores 0.98/0.89/0.82 at
    100k/500k/1M.  This pins the deploy sizing on a clustered synthetic
    slice so the published-standard path cannot silently regress —
    the sweep ran once; this runs every suite.

    Corpus/protocol reuse scripts/scale.py's ann family verbatim (32
    unit-norm clusters, splitmix64 noise, strict identity recall@10 vs
    the exact brute-force scan)."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    from scale import gen_vectors

    from streaming_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivfpq_residual_codebooks,
        ivfpq_topk,
    )

    n, n_q, k = 30_000, 64, 10
    ids = np.arange(n)
    vecs = gen_vectors(ids, "clustered")
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": ids, "embedding": [v.tolist() for v in vecs]}
        ),
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    ).repartition(8)
    queries = corpus.filter(F.col("vec_id") < n_q)

    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(corpus, queries, k=k).collect()
    }

    # deployment sizing per the sweep: coarse cells ~sqrt(N)/4, 8-bit
    # codes, deep exact rerank
    n_cells = max(16, int(n**0.5) // 4)
    cent = ivf_centroids(corpus, 64, n_cells)
    books = ivfpq_residual_codebooks(
        corpus, cent, 64, m=16, ksub=256, sample_limit=16_384
    )
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            corpus, queries, dim=64, k=k, n_cells=n_cells, nprobe=8,
            m=16, ksub=256, rerank=512, centroids=cent, codebooks=books,
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"deploy-sized IVF-PQ recall@10 = {recall}"


def test_broadcast_pool_eviction_never_breaks_lazy_plans(spark):
    """The bounded broadcast registry UNPERSISTS (never destroys) the
    oldest entries past its cap, and unpersist only drops the cached
    executor copies — a still-lazy plan referencing an evicted
    broadcast must transparently re-ship it on execution.  Build more
    plans than the cap, executing NONE of them, then collect the
    FIRST (whose broadcast is long since evicted): the rows must be
    correct.  This is the contract that makes eviction safe to apply
    to lazily-consumed query results."""
    from streaming_spark.operators import stream as stream_mod

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    plans = []
    for qid in range(stream_mod._MAX_LIVE_BROADCASTS + 4):
        q = df.filter(F.col("vec_id") == qid % 10)
        plans.append(cosine_topk(df, q, k=3))
    assert len(stream_mod._LIVE_BROADCASTS) <= stream_mod._MAX_LIVE_BROADCASTS
    first = plans[0].collect()  # its broadcast was evicted long ago
    assert len(first) == 3
    # correctness, not just survival: equals a fresh identical plan
    fresh = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, fresh))


def test_asof_join_duplicate_time_right_rows_deterministic(spark):
    """Among RIGHT rows duplicated at the same (key, time), the match
    must be deterministic: the window's payload sort key picks the
    greatest (time, *values) struct, independent of shuffle order.
    Without the payload tiebreak, `last` returned whichever tied row
    the exchange happened to emit later."""
    from streaming_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 10, "t")], "key INT, t INT, trade STRING"
    )
    quotes = spark.createDataFrame(
        [(1, 10, 99.0), (1, 10, 101.0), (1, 10, 100.0)],
        "key INT, qt INT, px DOUBLE",
    ).repartition(3)
    for _ in range(3):  # rerun-stable
        out = asof_join(
            trades, quotes, on="key", left_time="t", right_time="qt"
        ).collect()
        assert len(out) == 1
        assert out[0].px_right == 101.0  # greatest payload wins, always


def test_bilinear_resize_contracts(spark):
    """resize_images' math is REAL (only the image decode is faked):
    pin the half-pixel-center bilinear identities — constant images are
    fixed points, an exact 2x reduction equals the 2x2 box mean, linear
    gradients resample to their box means, edge-replicate never leaves
    the input range — and the Spark plumbing resizes MIXED raster
    shapes within one Arrow batch correctly."""
    from streaming_spark.operators.multimodal import (
        _bilinear_batch,
        resize_images,
    )

    const = np.full((1, 6, 6), 7.0)
    assert np.allclose(_bilinear_batch(const, 3, 5), 7.0)

    grad = np.tile(np.arange(8, dtype=float), (8, 1))[None]  # (1, 8, 8)
    out = _bilinear_batch(grad, 4, 4)
    want_cols = np.arange(4) * 2 + 0.5
    assert np.allclose(out, np.tile(want_cols, (4, 1))[None])

    rng = np.random.default_rng(0)
    imgs = rng.integers(0, 256, (3, 16, 16)).astype(np.float64)
    assert np.allclose(
        _bilinear_batch(imgs, 8, 8),
        imgs.reshape(3, 8, 2, 8, 2).mean(axis=(2, 4)),
    )
    up = _bilinear_batch(imgs, 23, 9)  # non-integer ratios, upscale in h
    assert up.min() >= imgs.min() - 1e-9
    assert up.max() <= imgs.max() + 1e-9

    # Spark plumbing: two shapes in one frame, each resized per its own
    # geometry and equal to the direct numpy call
    rows = []
    rasters = {}
    for i, (hh, ww) in enumerate([(4, 6), (6, 4), (4, 6)]):
        img = rng.integers(0, 256, (hh, ww)).astype(np.float64)
        rasters[i] = img
        rows.append((i, [int(v) for v in img.reshape(-1)], hh, ww))
    df = spark.createDataFrame(
        rows, "id BIGINT, img ARRAY<INT>, img_h INT, img_w INT"
    ).coalesce(1)
    got = {
        r.id: np.array(r.img).reshape(3, 3)
        for r in resize_images(df, out_h=3, out_w=3).collect()
    }
    for i, img in rasters.items():
        assert np.allclose(
            got[i], _bilinear_batch(img[None], 3, 3)[0], atol=1e-4
        ), f"row {i} ({img.shape}) mismatch"


def test_cosine_topk_nan_vector_does_not_crash(spark):
    """A NaN-poisoned corpus embedding (_norm_rows guards exact zeros,
    not NaN components) must degrade, not crash: the partial-selection
    helper treats NaN sims as -inf, so a chunk with fewer healthy rows
    than k still fills its rectangular buffers and the healthy top-k
    comes back correct.  A non-finite sim is never returned: with k
    above the healthy neighbor count, the 7 healthy rows come back and
    the poisoned one does not."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]
    for i in range(1, 8):
        v = [1.0, 0.1 * i, 0.0, 0.0]
        n = float(np.linalg.norm(v))
        rows.append((i, [x / n for x in v]))
    rows.append((99, [float("nan"), 1.0, 0.0, 0.0]))  # poisoned row
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).repartition(4)
    got = (
        cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3)
        .orderBy("rank")
        .collect()
    )
    assert [r.neighbor_id for r in got] == [1, 2, 3]
    assert all(np.isfinite(r.sim) for r in got)
    wide = (
        cosine_topk(df, df.filter(F.col("vec_id") == 0), k=9)
        .orderBy("rank")
        .collect()
    )
    assert [r.neighbor_id for r in wide] == [1, 2, 3, 4, 5, 6, 7]
    assert all(np.isfinite(r.sim) for r in wide)


def test_simhash_full_width_band(spark):
    """bands=1 × band_bits=64 is the declared-valid boundary (the whole
    hash is one band; the 64-bit mask literal would overflow a Java
    long, so the band expression must skip it): candidates are exactly
    the equal-signature pairs, i.e. ham <= 0 blocking."""
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "x y z w q")],
        "doc_id BIGINT, text STRING",
    )
    pairs = simhash_dedup_pairs(
        docs, "text", "doc_id", max_hamming=0, bands=1, band_bits=64
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(0, 1, 0)]


def test_asof_join_map_value_column_still_joins(spark):
    """A right table carrying a MAP value column is not orderable, so
    the duplicate-time determinism sort key must be skipped (pre-r11
    behavior) rather than failing analysis — the match itself is still
    correct."""
    from streaming_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 10, "t")], "key INT, t INT, trade STRING"
    )
    quotes = spark.createDataFrame(
        [(1, 5, {"venue": "x"})],
        "key INT, qt INT, attrs MAP<STRING,STRING>",
    )
    out = asof_join(
        trades, quotes, on="key", left_time="t", right_time="qt"
    ).collect()
    assert out[0].qt_right == 5 and out[0].attrs_right == {"venue": "x"}


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized ground truth for the union-and-carry-forward asof
    join: on right tables with UNIQUE (key, time) rows (ties have no
    canonical answer across engines — our tie rule is pinned
    separately) the result must equal pandas.merge_asof
    (direction='backward', allow_exact_matches=True) for every left
    row, including unmatched NULLs, across several seeds."""
    import pandas as pd

    from streaming_spark.operators.asof import asof_join

    for seed in (17, 23, 91):
        rng = np.random.default_rng(seed)
        right_pairs = {
            (int(k), int(t)): float(v)
            for k, t, v in zip(
                rng.integers(0, 5, 80),
                rng.integers(0, 1000, 80),
                rng.normal(size=80),
            )
        }
        rpd = pd.DataFrame(
            [(k, t, v) for (k, t), v in sorted(right_pairs.items())],
            columns=["key", "qt", "px"],
        )
        lpd = pd.DataFrame(
            {
                "lid": range(120),
                "key": rng.integers(0, 5, 120),
                "t": rng.integers(0, 1000, 120),
            }
        )
        want_df = pd.merge_asof(
            lpd.sort_values("t", kind="stable"),
            rpd.sort_values("qt"),
            left_on="t",
            right_on="qt",
            by="key",
            direction="backward",
            allow_exact_matches=True,
        )
        want = {
            int(r.lid): None if pd.isna(r.px) else float(r.px)
            for r in want_df.itertuples()
        }
        out = asof_join(
            spark.createDataFrame(lpd).repartition(5),
            spark.createDataFrame(rpd).repartition(3),
            on="key",
            left_time="t",
            right_time="qt",
        ).collect()
        got = {
            int(r.lid): None if r.px_right is None else float(r.px_right)
            for r in out
        }
        assert got == want, f"seed {seed}"


def test_ivfpq_local_prestaged_serve_agrees_and_validates(spark, tmp_path):
    """The per-cell-codebook variant now has the same deployment
    boundary as its siblings: serving from a staged
    ivfpq_encode_local frame (codebooks= + encoded=) is row-identical
    to the inline build, and a frame staged under a different
    quantizer is refused by its fingerprint."""
    from streaming_spark.operators.similarity import (
        ivf_centroids,
        ivfpq_encode_local,
        ivfpq_local_codebooks,
        ivfpq_topk_local,
    )

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((300, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    q = df.filter(F.col("vec_id") < 3)
    cent = ivf_centroids(df, 16, 4)
    books = ivfpq_local_codebooks(df, cent, 16, m=4, ksub=8)
    kw = dict(
        dim=16, k=3, n_cells=4, nprobe=2, m=4, ksub=8, rerank=32,
        centroids=cent, codebooks=books,
    )
    inline = sorted(map(tuple, ivfpq_topk_local(df, q, **kw).collect()))
    ivfpq_encode_local(df, cent, books).write.parquet(
        str(tmp_path / "pql")
    )
    staged = spark.read.parquet(str(tmp_path / "pql"))
    prestaged = sorted(
        map(tuple, ivfpq_topk_local(df, q, encoded=staged, **kw).collect())
    )
    assert inline == prestaged

    cent_b = ivf_centroids(df, 16, 5)
    books_b = ivfpq_local_codebooks(df, cent_b, 16, m=4, ksub=8)
    with pytest.raises(ValueError, match="fingerprint"):
        ivfpq_topk_local(
            df, q, dim=16, k=3, n_cells=5, nprobe=2, m=4, ksub=8,
            rerank=32, centroids=cent_b, codebooks=books_b,
            encoded=staged,
        )


def test_fuzzy_hot_bucket_tiling_exact_and_bounded(spark):
    """r15 hot-bucket guard: with chunk far below a degenerate hot
    variant's bucket size, the tiled expansion must (a) emit exactly
    the brute-force pair set and (b) never collect more than ``chunk``
    ids into one aggregation row (asserted structurally: every tile's
    list sizes are <= chunk).  Also pins the ADVICE r14 duplicate-id
    contract: a doubled input row must NOT emit an id_a == id_b pair."""
    import itertools

    from streaming_spark.operators.fuzzy import fuzzy_self_pairs

    # 30 names over a tiny alphabet -> several hot deletion variants
    names = [(i, "ab" + str(i % 3)) for i in range(30)]
    df = spark.createDataFrame(names, "id BIGINT, name STRING")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_pairs(df, "name", "id", max_dist=1, chunk=4).collect()
    }

    def lev(a, b):
        la, lb = len(a), len(b)
        d = [[i + j if i * j == 0 else 0 for j in range(lb + 1)] for i in range(la + 1)]
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                d[i][j] = min(
                    d[i - 1][j] + 1,
                    d[i][j - 1] + 1,
                    d[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                )
        return d[la][lb]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(names, 2)
        if lev(a, b) <= 1
    }
    assert got == want

    # duplicate-id input: no self-pairs, the duplicated row's pairs
    # unchanged (ADVICE r14 — the r13 self-join's a.__id < b.__id
    # contract)
    dup = spark.createDataFrame(
        [(1, "abc"), (1, "abc"), (2, "abd")], "id BIGINT, name STRING"
    )
    dup_pairs = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_pairs(dup, "name", "id", max_dist=1).collect()
    }
    assert dup_pairs == {(1, 2, 1)}
