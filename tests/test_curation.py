"""Dataset-curation operators: packing, chunking, sampling, scrubbing,
byte framing — semantics + plan-shape (JVM-only, shuffle-bounded)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from streaming_spark.operators import curation


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta", "web"),
        (2, "one two", "web"),
        (3, "x " * 600, "web"),  # 600 tokens: longer than max_tokens
        (4, "short", "books"),
        (5, "lorem ipsum dolor sit amet", "books"),
        (6, "", "books"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")


def test_pack_sequences_bounds_and_determinism(spark, docs):
    packed = curation.pack_sequences(docs, max_tokens=10).toPandas()
    # every doc assigned exactly once
    assert sorted(packed["doc_id"]) == [1, 2, 3, 4, 5, 6]
    # a pack only exceeds max_tokens via its LAST doc crossing the
    # boundary (greedy contiguous fill): tokens before each doc < limit
    stats = packed.groupby(["source", "pack_no"])["n_tokens"].sum()
    over = stats[stats > 10]
    for (src, pack), _ in over.items():
        members = packed[(packed["source"] == src) & (packed["pack_no"] == pack)]
        assert (members["n_tokens"].cumsum() - members["n_tokens"] < 10).all()
    # deterministic rerun
    again = curation.pack_sequences(docs, max_tokens=10).toPandas()
    assert packed.sort_values("doc_id").equals(again.sort_values("doc_id"))


def test_chunk_documents_no_char_lost_at_boundary(spark):
    # regression: overlap=0 with len = k*chunk + 1 must not lose the
    # final character (the old n-1 bound dropped it)
    df = spark.createDataFrame([(1, "a" * 201 + "Z")], "doc_id BIGINT, text STRING")
    chunks = curation.chunk_documents(df, chunk_chars=101, overlap=0).collect()
    assert "".join(c.chunk for c in sorted(chunks, key=lambda r: r.chunk_no)) == "a" * 201 + "Z"


def test_chunk_documents_coverage(spark, docs):
    chunks = curation.chunk_documents(
        docs, chunk_chars=10, overlap=4
    ).toPandas()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, grp in chunks.groupby("doc_id"):
        grp = grp.sort_values("chunk_no")
        # stride reconstruction: first chunk + tail of each subsequent
        rebuilt = grp.iloc[0]["chunk"]
        for c in grp["chunk"].iloc[1:]:
            rebuilt += c[4:]
        assert rebuilt == texts[doc_id]
    assert 6 not in set(chunks["doc_id"])  # empty text yields no chunks


def test_chunk_documents_no_shuffle_no_python(spark, docs):
    plan = curation.chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_sample_stratified_exact_k(spark, docs):
    out = curation.sample_stratified(docs, strata_col="source", k=2).toPandas()
    assert out.groupby("source").size().tolist() == [2, 2]
    again = curation.sample_stratified(docs, strata_col="source", k=2).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])


def test_sample_uniform_hash_no_shuffle(spark, docs):
    sampled = curation.sample_uniform_hash(docs, fraction=0.5)
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    n = sampled.count()
    assert 0 <= n <= 6
    assert sampled.count() == n  # deterministic


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk today"),
            (2, "call 555-123-4567 or 555.123.4567"),
            (3, "clean text"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in curation.scrub_pii(df, "text").collect()}
    assert out[1].scrubbed == "mail me at <EMAIL> today"
    assert out[2].scrubbed == "call <PHONE> or <PHONE>"
    assert out[3].scrubbed == "clean text"
    assert [out[i].had_pii for i in (1, 2, 3)] == [True, True, False]


def test_frame_windows_shapes(spark):
    df = spark.createDataFrame([(1, bytes(range(100)))], "id BIGINT, blob BINARY")
    frames = curation.frame_windows(df, frame_bytes=64, hop_bytes=32).collect()
    # starts run to n - overlap = 68: 1, 33, 65 -> lengths 64, 64, 36
    # (start 97 would be a redundant tail: bytes 97-100 are already
    # covered by the frame at 65)
    assert [r.frame_no for r in frames] == [0, 1, 2]
    assert [r.frame_len for r in frames] == [64, 64, 36]
    assert bytes(frames[1].frame) == bytes(range(32, 96))
    # overlap: consecutive frames share hop..frame bytes
    assert bytes(frames[0].frame)[32:] == bytes(frames[1].frame)[:32]


def test_write_sorted_layout_disjoint_files(spark, tmp_path):
    df = spark.range(0, 10000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "layout")
    curation.write_sorted_layout(df, path, "k", n_files=4)
    stats = curation.layout_file_stats(spark, path, "k").collect()
    assert len(stats) == 4
    assert sum(r.rows for r in stats) == 10000
    assert all(r.disjoint for r in stats)  # duplicate keys never straddle files
    spans = sorted((r.lo, r.hi) for r in stats)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2


def test_sorted_layout_is_deterministic(spark, tmp_path):
    """The same input gives the same sorted-layout files: two writes in
    one session hold the same rows per file.  Sampled range bounds
    (``repartitionByRange``, seeded by the RDD id) moved the file
    boundaries on every write."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    counts = []
    for run in range(2):
        path = tmp_path / f"s{run}"
        curation.write_sorted_layout(li, str(path), "l_orderkey", n_files=8)
        files = sorted(path.glob("part-*.parquet"))
        counts.append([pq.ParquetFile(f).metadata.num_rows for f in files])
    assert len(counts[0]) == 8
    assert counts[0] == counts[1]


def test_sample_domain_mix_exact_counts(spark, docs):
    out = curation.sample_domain_mix(
        docs, {"web": 2, "books": 1}, strata_col="source"
    ).toPandas()
    counts = out.groupby("source").size().to_dict()
    assert counts == {"web": 2, "books": 1}
    again = curation.sample_domain_mix(
        docs, {"web": 2, "books": 1}, strata_col="source"
    ).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])


def test_zorder_clusters_better_than_linear(spark):
    """Contract behind layout_zorder_pruning: for a range query on the
    dimension the linear layout does NOT serve, the z-ordered layout
    must (a) return identical rows and (b) concentrate the matches into
    strictly fewer files — the locality that file-statistics pruning
    turns into skipped IO."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = {
        r.layout: r
        for r in REGISTRY["layout_zorder_pruning"](spark, SF_SMOKE).collect()
    }
    assert rows["zorder"].rows_matched == rows["linear"].rows_matched > 0
    assert rows["zorder"].files_with_matches < rows["linear"].files_with_matches


def test_zorder_layout_is_deterministic(spark, tmp_path):
    """The same input gives the same z-order files: two writes in one
    session hold the same rows per file, and layout_zorder_pruning
    returns the same rows twice.  Sampled range bounds (seeded by the
    RDD id) moved the file boundaries on every write."""
    import pyarrow.parquet as pq

    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    layouts = []
    for run in range(2):
        path = tmp_path / f"z{run}"
        curation.write_zorder_layout(li, str(path), "l_partkey", "l_suppkey")
        files = sorted(path.glob("part-*.parquet"))
        layouts.append([pq.read_table(f).to_pylist() for f in files])
    assert len(layouts[0]) == 16
    assert layouts[0] == layouts[1]
    runs = [
        sorted(REGISTRY["layout_zorder_pruning"](spark, SF_SMOKE).collect())
        for _ in range(2)
    ]
    assert runs[0] == runs[1]


def test_zvalue2_bit_interleave_exact(spark):
    """Morton-code math on handcrafted values: zvalue2(x, y) must equal
    the reference bit interleave (x even positions, y odd)."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.curation import zvalue2

    def ref(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535), (12345, 54321), (65535, 65535)]
    df = spark.createDataFrame(cases, "x INT, y INT")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zvalue2(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in cases:
        assert got[(x, y)] == ref(x, y), (x, y)


def test_compact_files_reduces_file_count(spark, tmp_path):
    """Compaction must collapse a many-small-files directory to the
    size-targeted count, preserve every row, and report honest stats."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.curation import compact_files

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 20_000).withColumn("payload", F.md5(F.col("id").cast("string")))
    df.repartition(32).write.parquet(src)

    stats = compact_files(spark, src, dst, target_bytes=512 * 1024).collect()[0]
    assert stats.files_before == 32
    assert stats.files_after < stats.files_before
    back = spark.read.parquet(dst)
    assert back.count() == 20_000
    assert back.agg(F.count_distinct("id")).first()[0] == 20_000
    # shuffle=True path: same rows, balanced output
    dst2 = str(tmp_path / "compact2")
    stats2 = compact_files(
        spark, src, dst2, target_bytes=512 * 1024, shuffle=True
    ).collect()[0]
    assert spark.read.parquet(dst2).count() == 20_000
    assert stats2.files_after == stats.files_after


def test_pipeline_tokenizer_pack_contracts(spark):
    """Tokenizer-aware packing: token mass is conserved across packs,
    pack numbering is contiguous from 0 per source, the corpus needs
    more than one pack, and the whole pipeline is deterministic."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    a = REGISTRY["pipeline_tokenizer_pack"](spark, SF_SMOKE).collect()
    b = REGISTRY["pipeline_tokenizer_pack"](spark, SF_SMOKE).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert len(a) > 1
    by_source = {}
    for r in a:
        by_source.setdefault(r.source, []).append(r)
    for src, rows in by_source.items():
        nums = sorted(r.pack_no for r in rows)
        assert nums == list(range(len(nums))), (src, nums)
        assert all(r.pack_tokens > 0 for r in rows)


def test_pipeline_cluster_pack_contract(spark):
    """The semantic-curation pipeline must (1) be deterministic, (2)
    emit packs for every cluster cell, (3) respect the per-cluster
    quota — each cell's packs hold at most 20 documents total — and
    (4) satisfy the packing invariant: pack numbering is contiguous
    from 0 within a cell and a new pack only opens once the cumulative
    token total has crossed its 512 boundary (a boundary-straddling
    document overflows the pack it crosses out of, per the documented
    pack_sequences rule)."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows1 = REGISTRY["pipeline_cluster_pack"](spark, SF_SMOKE).collect()
    rows2 = REGISTRY["pipeline_cluster_pack"](spark, SF_SMOKE).collect()
    as_tuples = lambda rows: [(r.cell, r.pack_no, r.n_docs, r.pack_tokens) for r in rows]
    assert as_tuples(rows1) == as_tuples(rows2)
    from collections import defaultdict

    by_cell = defaultdict(list)
    for r in rows1:
        by_cell[r.cell].append(r)
    assert len(by_cell) == 8
    for cell, packs in by_cell.items():
        packs.sort(key=lambda r: r.pack_no)
        assert [r.pack_no for r in packs] == list(range(len(packs)))
        assert sum(r.n_docs for r in packs) <= 20, (cell, packs)
        cum = 0
        for i, r in enumerate(packs):
            cum += r.pack_tokens
            if i < len(packs) - 1:  # a later pack exists -> boundary crossed
                assert cum >= (r.pack_no + 1) * 512, (cell, r.pack_no, cum)


def test_pipeline_span_clean_pack_contracts(spark):
    """Span-level curation pipeline: the span filter drops exactly the
    docs whose duplicated-window fraction exceeds 0.5 (cross-checked
    against an independent brute-force span count), surviving token
    mass is conserved across packs with contiguous numbering, and the
    whole pipeline is deterministic."""
    from collections import Counter

    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    a = REGISTRY["pipeline_span_clean_pack"](spark, SF_SMOKE).collect()
    b = REGISTRY["pipeline_span_clean_pack"](spark, SF_SMOKE).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert len(a) > 1
    by_source = {}
    for r in a:
        by_source.setdefault(r.source, []).append(r)
    for src, rows in by_source.items():
        nums = sorted(r.pack_no for r in rows)
        assert nums == list(range(len(nums))), (src, nums)
        assert all(r.pack_tokens > 0 for r in rows)

    # independent brute-force dup-fraction check: total docs packed ==
    # corpus minus the docs whose exact 40-char dup-window share > 0.5
    docs = {
        r.doc_id: r.text
        for r in T(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    span_docs = Counter()
    owners = {}
    for doc_id, text in docs.items():
        for i in range(len(text) - 39):
            s = text[i : i + 40]
            if s not in owners:
                owners[s] = doc_id
                span_docs[s] = 1
            elif owners[s] != doc_id:
                owners[s] = -1  # seen in >1 distinct doc
    dup_spans = {s for s, o in owners.items() if o == -1}
    expected_drop = 0
    for doc_id, text in docs.items():
        n_win = len(text) - 39
        if n_win <= 0:
            continue
        n_dup = sum(
            1 for i in range(n_win) if text[i : i + 40] in dup_spans
        )
        if n_dup > 0.5 * n_win:
            expected_drop += 1
    assert sum(r.n_docs for r in a) == len(docs) - expected_drop


def test_partitioned_layout_prunes_directories(spark):
    """Directory partitioning must return identical matched rows while
    restricting the filtered read to strictly fewer files than the
    flat layout — the observable effect of planning-time partition
    pruning (input_file_name counts the files actually scanned)."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = {
        r.layout: r
        for r in REGISTRY["layout_partitioned_pruning"](
            spark, SF_SMOKE
        ).collect()
    }
    assert rows["flat"].rows_matched == rows["partitioned"].rows_matched > 0
    assert rows["partitioned"].files_read < rows["flat"].files_read


def test_pipeline_contrastive_dataset_contract(spark):
    """Contrastive-pairs composition: per-anchor type sets are disjoint,
    hard negatives come exactly k=3 per anchor, the score ordering holds
    on average (positive > hard_negative > random_negative), and the
    build is deterministic."""
    from collections import defaultdict

    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["pipeline_contrastive_dataset"](spark, SF_SMOKE).collect()
    again = REGISTRY["pipeline_contrastive_dataset"](spark, SF_SMOKE).collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in again]

    by_type = defaultdict(list)
    per_anchor = defaultdict(lambda: defaultdict(set))
    for r in rows:
        assert r.partner_id != r.anchor_id
        by_type[r.pair_type].append(r.cos_sim)
        per_anchor[r.anchor_id][r.pair_type].add(r.partner_id)
    assert set(by_type) == {"positive", "hard_negative", "random_negative"}
    for anchor, types in per_anchor.items():
        sets = list(types.values())
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                assert not (sets[i] & sets[j]), anchor
        assert len(types.get("hard_negative", set())) == 3, anchor

    mean = lambda xs: sum(xs) / len(xs)
    assert mean(by_type["positive"]) > mean(by_type["hard_negative"])
    assert mean(by_type["hard_negative"]) > mean(by_type["random_negative"])
    # the BY-CONSTRUCTION margin, asserted pointwise, not just on
    # average: NO negative of either type may reach the positive
    # threshold (a negative at/above it would be a false negative in
    # training — the exact failure the broadcast-mode requirement and
    # q_contrastive_batch_assign exist to prevent)
    assert all(s < 0.35 for s in by_type["hard_negative"])
    assert all(s < 0.35 for s in by_type["random_negative"])


def test_ablation_subsets_nested(spark):
    """Scaling-law subsets: membership recomputed independently in
    Python (hashlib md5, same prefix-threshold rule) must match the
    query's per-fraction doc counts, the member sets must be NESTED
    (12.5% ⊆ 25% ⊆ 50% ⊆ 100%), and the largest fraction is the whole
    corpus."""
    import hashlib

    from streaming_spark.queries.curation import (
        _ABLATION_FRACS,
        _ABLATION_THRESH,
    )
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    rows = {
        r.fraction: r
        for r in REGISTRY["q_ablation_subsets"](spark, SF_SMOKE).collect()
    }
    ids = [
        r.doc_id
        for r in T(spark, SF_SMOKE, "documents").select("doc_id").collect()
    ]
    members = {
        f: {
            i
            for i in ids
            if hashlib.md5(str(i).encode()).hexdigest()[:8]
            <= _ABLATION_THRESH[f]
        }
        for f in _ABLATION_FRACS
    }
    for f in _ABLATION_FRACS:
        assert rows[f].n_docs == len(members[f]), f
    for lo, hi in zip(_ABLATION_FRACS, _ABLATION_FRACS[1:]):
        assert members[lo] <= members[hi], (lo, hi)  # nesting
    assert len(members[1.0]) == len(ids)
    # fractions actually thin the corpus (not all thresholds vacuous)
    assert rows[0.125].n_docs < rows[1.0].n_docs


def test_data_recipe_single_epoch_domain(spark):
    """Regression (code review r6): a domain whose token share is >=
    budget_mult x its weight gets e_d == 1 — no full epochs, only the
    trimmed partial.  Spark's sequence(1, 0) yields DESCENDING [1, 0]
    rather than empty, which used to fabricate a phantom full epoch
    plus an invalid epoch 0 for exactly those domains."""
    from streaming_spark.queries.curation import data_recipe_manifest
    from streaming_spark.queries.registry import T
    from tests.conftest import SF_SMOKE

    docs = T(spark, SF_SMOKE, "documents")
    # src1/src2 hold ~1/3 of the slice's tokens each but are weighted
    # at 5% -> required = 2 * 0.05 = 10% of total < their share -> e_d=1
    rows = data_recipe_manifest(
        spark, docs, {"src0": 0.9, "src1": 0.05, "src2": 0.05}, 2.0
    ).collect()
    assert rows, "manifest should not be empty"
    assert all(r.epoch >= 1 for r in rows)
    for s in ("src1", "src2"):
        eps = {r.epoch for r in rows if r.source == s}
        assert eps == {1}, (s, eps)  # only the trimmed partial epoch
        # and the trim actually bit: not every doc of the domain appears
        n_in = sum(1 for r in rows if r.source == s)
        n_all = docs.filter(F.col("source") == s).count()
        assert n_in < n_all, (s, n_in, n_all)


def test_contrastive_batch_assign_no_in_batch_dups(spark):
    """Batch-assignment contract: no two vectors sharing a batch_no are
    a near-dup pair (every cosine>=0.35 pair is split across batches),
    every vector is assigned exactly once, and the build is
    deterministic."""
    from streaming_spark.operators.similarity import cosine_pairs
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["q_contrastive_batch_assign"](spark, SF_SMOKE).collect()
    again = REGISTRY["q_contrastive_batch_assign"](spark, SF_SMOKE).collect()
    key = lambda r: r.vec_id
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    batch = {r.vec_id: r.batch_no for r in rows}
    emb = T(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    assert len(batch) == emb.count()  # total, exactly-once
    pairs = cosine_pairs(emb, threshold=0.35, mode="broadcast").collect()
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert batch[p.id_a] != batch[p.id_b], (p.id_a, p.id_b)


def test_pipeline_contrastive_aligned_contract(spark):
    """Pipeline #7 contracts: positives cover the anchor's own span and
    equal the anchor under normalization (alignment exact by
    construction); negatives never come from the anchor's document; the
    build is deterministic; and lowercase-token Jaccard of positives
    (1.0) dominates negatives on average."""
    from streaming_spark.queries.registry import REGISTRY
    from tests.conftest import SF_SMOKE

    rows = REGISTRY["pipeline_contrastive_aligned"](spark, SF_SMOKE).collect()
    rows2 = REGISTRY["pipeline_contrastive_aligned"](spark, SF_SMOKE).collect()
    key = lambda r: (r.anchor_id, r.chunk_no, r.pair_type, r.j)
    assert sorted(map(key, rows)) == sorted(map(key, rows2))  # deterministic

    import re

    def toks(s):
        return set(re.split(r"\s+", s.strip().lower())) - {""}

    anchors = {}
    pos_n = neg_n = 0
    jac = {"positive": [], "negative": []}
    # anchor text reconstruction: positives are the normalized anchor,
    # so normalize-idempotence is the alignment witness
    norm = lambda s: re.sub(r"\s+", " ", re.sub(r"[\x00-\x1f\x7f]", "", s.lower())).strip()
    anchor_text = {
        (r.anchor_id, r.chunk_no): r.partner_text
        for r in rows
        if r.pair_type == "positive"
    }  # normalized anchor text per span
    for r in rows:
        a = anchor_text[(r.anchor_id, r.chunk_no)]
        if r.pair_type == "positive":
            pos_n += 1
            assert r.partner_doc_id == r.anchor_id
            assert norm(r.partner_text) == r.partner_text  # idempotent view
            jac["positive"].append(1.0)
        else:
            neg_n += 1
            assert r.partner_doc_id != r.anchor_id
            ta, tb = toks(a), toks(r.partner_text)
            jac["negative"].append(
                len(ta & tb) / len(ta | tb) if ta | tb else 0.0
            )
    assert pos_n > 0 and neg_n > 0
    mean = lambda xs: sum(xs) / len(xs)
    assert mean(jac["positive"]) > mean(jac["negative"])


def test_dsir_and_perplexity_separate_target_domain(spark):
    """Semantic contracts for the data-selection scorers: DSIR weights
    must rank the target slice (source='src0') above the rest on
    average (its token distribution IS the target distribution), and
    LM cross-entropy must rank it below (the LM was trained on it).
    Plus plan-shape: both scorers must produce one row per non-empty
    doc, and the resample pipeline returns exactly 100 deterministic
    rows."""
    from streaming_spark.queries.registry import REGISTRY, T
    from tests.conftest import SF_SMOKE

    docs = {
        r.doc_id: r.source
        for r in T(spark, SF_SMOKE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    w = {
        r.doc_id: r.dsir_per_token
        for r in REGISTRY["q_dsir_weights"](spark, SF_SMOKE).collect()
    }
    ce = {
        r.doc_id: r.cross_entropy
        for r in REGISTRY["q_lm_perplexity"](spark, SF_SMOKE).collect()
    }
    assert set(w) == set(ce)  # same non-empty-doc domain
    mean = lambda xs: sum(xs) / len(xs)
    w_t = [v for d, v in w.items() if docs[d] == "src0"]
    w_o = [v for d, v in w.items() if docs[d] != "src0"]
    ce_t = [v for d, v in ce.items() if docs[d] == "src0"]
    ce_o = [v for d, v in ce.items() if docs[d] != "src0"]
    assert w_t and w_o
    assert mean(w_t) > mean(w_o), (mean(w_t), mean(w_o))
    assert mean(ce_t) < mean(ce_o), (mean(ce_t), mean(ce_o))

    top = REGISTRY["pipeline_dsir_resample"](spark, SF_SMOKE).collect()
    top2 = REGISTRY["pipeline_dsir_resample"](spark, SF_SMOKE).collect()
    assert len(top) == 100
    assert [r.doc_id for r in top] == [r.doc_id for r in top2]
    # the resample must actually up-weight the target domain
    frac_top = mean([1.0 if r.source == "src0" else 0.0 for r in top])
    frac_all = mean([1.0 if s == "src0" else 0.0 for s in docs.values()])
    assert frac_top > frac_all, (frac_top, frac_all)


def test_dsir_scores_raises_on_missing_domain(spark):
    """dsir_scores must fail LOUDLY (descriptive ValueError), never
    TypeError on a None sum, when the tf_index is empty or holds no
    target-domain rows (ADVICE r6 — the helper is the shared entry
    point of the batch/streaming twin pair, so a silent 0 here would
    fabricate uniform log-ratios downstream)."""
    import pytest

    from streaming_spark.queries.curation import dsir_scores

    schema = "doc_id BIGINT, source STRING, bucket STRING, tf BIGINT"
    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="no rows at all"):
        dsir_scores(empty)
    no_target = spark.createDataFrame(
        [(1, "src1", "ab", 3), (2, "src2", "cd", 1)], schema
    )
    with pytest.raises(ValueError, match="source='src0'"):
        dsir_scores(no_target)
