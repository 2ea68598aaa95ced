"""Cross-family pins for the staged-index lifecycle the three families
share through operators/index_commit.py: the Spark jobs one compact
costs (and its stats), the crash gates on on-disk states the
per-family suites do not write, and the distinct-shingle precondition
verify_jaccard relies on in the near-dup index's stored signatures."""

import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_spark.operators import digest_index as di
from streaming_spark.operators import neardup_index as ni
from streaming_spark.operators import similarity as sim
from streaming_spark.queries.registry import T
from tests.conftest import SF_CORRECT, SF_SMOKE


def _docs(spark):
    return T(spark, SF_CORRECT, "documents").select("doc_id", "text")


def _staged_compact(spark, d, family):
    """Build a fixture index for ``family``, tombstone a few ids, and
    return the compact call (not yet run)."""
    docs = _docs(spark)
    if family == "digest":
        occ = docs.select(F.md5("text").alias("h"), "doc_id")
        di.digest_index_build(d, occ.filter("doc_id % 5 != 0"))
        di.digest_index_append(d, occ.filter("doc_id % 5 = 0"))
        di.digest_index_tombstone(spark, d, [1, 2, 3, 10, 25, 40])
        return lambda: di.digest_index_compact(spark, d)
    if family == "neardup":
        ni.neardup_index_build(d, docs.filter("doc_id % 5 != 0"))
        ni.neardup_index_append(d, docs.filter("doc_id % 5 = 0"))
        paired = ni.neardup_index_pairs(spark, d).agg(F.min("id_a")).first()[0]
        ni.neardup_index_tombstone(spark, d, [1, 2, 10, paired])
        return lambda: ni.neardup_index_compact(spark, d)
    emb = T(spark, SF_SMOKE, "embeddings")
    cent = sim.ivf_centroids(emb, 64, 8)
    books = sim.ivfpq_residual_codebooks(emb, cent, 64, m=16, ksub=16)
    sim.ann_index_append(d, emb.filter("vec_id >= 8"), cent, books)
    return lambda: sim.ann_index_compact(spark, d, [8, 9, 10, 50, 51])


# Spark jobs of one compact on these fixtures, and its stats.  Each
# rewrite's rows-removed figure is observed on its write job; the
# implementation that took it from two count() actions per rewrite ran
# 15 (digest), 39 (neardup) and 14 (ann) jobs for the same stats.
_COMPACT = {
    "digest": (9, {"occ_rows_removed": 6, "parts_rewritten": 12}),
    "neardup": (23, {
        "sig_rows_removed": 4, "band_rows_removed": 64,
        "pair_rows_removed": 1, "sig_parts_rewritten": 3,
        "band_parts_rewritten": 47,
    }),
    "ann": (9, {
        "cells_total": 8, "cells_rewritten": 4, "cells_removed": 0,
        "rows_before": 261, "rows_removed": 5,
    }),
}


@pytest.mark.parametrize("family", sorted(_COMPACT))
def test_compact_job_count_and_stats(spark, tmp_path, family):
    compact = _staged_compact(spark, str(tmp_path / "idx"), family)
    sc = spark.sparkContext
    group = f"compact-{family}-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        stats = compact()
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    max_jobs, expect = _COMPACT[family]
    assert stats == expect
    assert jobs <= max_jobs, jobs


@pytest.mark.parametrize("family", ["digest", "neardup"])
def test_takedown_refuses_unrecorded_crashed_append(spark, tmp_path, family):
    """An append batch too large to record its ids leaves a marker of
    ``{"ids": null, "n": …}``: no takedown can prove it covers the
    batch, so every takedown refuses with the manual-recovery hint —
    and, once the marker is deleted as the hint says, proceeds.  The
    park refusal covers every entry point, the near-dup membership view
    and reshard included."""
    docs = _docs(spark).filter("doc_id < 20")
    d = str(tmp_path / "idx")
    if family == "digest":
        di.digest_index_build(d, docs.select(F.md5("text").alias("h"), "doc_id"))
        tombstone = di.digest_index_tombstone
        blocked = (
            lambda: di.digest_index_append(d, docs.select(
                F.md5("text").alias("h"), "doc_id")),
            lambda: di.digest_index_owners(spark, d),
            lambda: di.digest_index_tombstone(spark, d, [1]),
            lambda: di.digest_index_compact(spark, d),
        )
    else:
        ni.neardup_index_build(d, docs)
        tombstone = ni.neardup_index_tombstone
        blocked = (
            lambda: ni.neardup_index_append(d, docs),
            lambda: ni.neardup_index_pairs(spark, d),
            lambda: ni.neardup_index_tombstone(spark, d, [1]),
            lambda: ni.neardup_index_compact(spark, d),
            lambda: ni.neardup_index_members(spark, d),
            lambda: ni.neardup_index_reshard(spark, d),
        )

    marker = os.path.join(d, ".append_pending")
    with open(marker, "w") as f:
        json.dump({"ids": None, "n": 200_000}, f)
    with pytest.raises(RuntimeError, match="DELETE the marker"):
        tombstone(spark, d, [1])
    os.remove(marker)
    tombstone(spark, d, [1])

    park = os.path.join(d, ".compact_old")
    os.makedirs(park)
    for call in blocked:
        with pytest.raises(RuntimeError, match="mid-swap"):
            call()
    os.rmdir(park)


def test_verify_jaccard_inputs_have_distinct_shingles(spark, tmp_path):
    """verify_jaccard derives |A∪B| = |A| + |B| − |A∩B|, exact only for
    DISTINCT shingle arrays.  Both sources it reads must hold them:
    minhash_signatures output, and the near-dup index's stored sigs
    table after build → append → tombstone → compact (the compact
    rewrites that table)."""
    from streaming_spark.operators.dedup import minhash_signatures

    def repeated(sigs):
        return sigs.filter(
            F.size(F.array_distinct("shingles")) != F.size("shingles")
        ).count()

    docs = _docs(spark).filter("doc_id < 100")
    sigs = minhash_signatures(docs, "text", "doc_id")
    assert sigs.count() == 100
    assert repeated(sigs) == 0

    d = str(tmp_path / "idx")
    ni.neardup_index_build(d, docs.filter("doc_id % 4 != 0"))
    ni.neardup_index_append(d, docs.filter("doc_id % 4 = 0"))
    ni.neardup_index_tombstone(spark, d, [1, 2, 4])
    assert ni.neardup_index_compact(spark, d)["sig_rows_removed"] == 3
    stored = spark.read.parquet(os.path.join(d, "sigs"))
    assert stored.count() == 97
    assert repeated(stored) == 0
