"""Incrementally-maintained exact-dedup digest index: the owners view
must EXACTLY equal the batch keep-first window (``dedup_exact`` /
``q_line_dedup``'s argmin per digest group) over the live corpus at
every lifecycle point — build, delta append, takedown (which must
PROMOTE the next-smallest live occurrence), compact — and the append's
ingest-time decisions must equal the batch window under the
ordered-ingest contract."""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from streaming_spark.operators.digest_index import (
    digest_index_append,
    digest_index_build,
    digest_index_compact,
    digest_index_owners,
    digest_index_tombstone,
)
from streaming_spark.queries.registry import T
from tests.conftest import SF_CORRECT


def _docs_with_dups(spark):
    """Fixture docs plus forced exact copies under later ids, so every
    lifecycle move has non-vacuous duplicate groups."""
    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text").limit(
        200
    )
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    return docs.union(copies)


def _occ(docs):
    return docs.select(F.md5("text").alias("h"), "doc_id")


def _batch_owners(occ):
    """The batch rule: min doc_id per digest group."""
    return sorted(
        map(
            tuple,
            occ.groupBy("h").agg(F.min("doc_id").alias("doc_id")).collect(),
        )
    )


def _owners(spark, d):
    return sorted(map(tuple, digest_index_owners(spark, d).collect()))


def test_digest_index_lifecycle_matches_batch(spark, tmp_path):
    """Build on an id-ordered prefix, append the suffix, tombstone an
    OWNER whose digest has copies, compact — after every move the
    owners view equals the batch argmin over the live corpus, and the
    ingest-time survivor decisions equal the batch window (the split is
    ordered, so first-seen == min-id)."""
    docs = _docs_with_dups(spark).localCheckpoint(eager=True)
    occ = _occ(docs)
    cut = 100_000  # the forced copies all land in the second batch
    base, delta = occ.filter(f"doc_id < {cut}"), occ.filter(
        f"doc_id >= {cut}"
    )
    d = str(tmp_path / "idx")

    st: dict = {}
    dec0 = digest_index_build(d, base, digest_col="h", stats_out=st)
    assert st["rows_appended"] == base.count()
    assert st["digests_seen"] == 0
    assert _owners(spark, d) == _batch_owners(base)

    st = {}
    dec1 = digest_index_append(d, delta, stats_out=st)
    assert st["digests_seen"] > 0  # every forced copy's digest is known
    assert _owners(spark, d) == _batch_owners(occ)
    # ingest-time decisions reproduce the batch window across batches
    survivors = sorted(
        r[0]
        for dec in (dec0, dec1)
        for r in dec.filter("NOT is_dup").select("doc_id").collect()
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    batch_keep = sorted(
        r[0]
        for r in occ.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id")
        .collect()
    )
    assert survivors == batch_keep

    # takedown an owner with a copy: the copy must be PROMOTED
    dup_group = (
        occ.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter("lo <> hi")
        .orderBy("lo")
        .first()
    )
    victim, heir = int(dup_group["lo"]), int(dup_group["hi"])
    st = {}
    digest_index_tombstone(spark, d, [victim], stats_out=st)
    assert st["tombstoned"] == 1
    live = occ.filter(F.col("doc_id") != victim)
    after = _owners(spark, d)
    assert after == _batch_owners(live)
    assert (dup_group["h"], heir) in after  # promotion happened

    stats = digest_index_compact(spark, d)
    assert stats["occ_rows_removed"] == 1
    assert stats["parts_rewritten"] >= 1
    assert _owners(spark, d) == after
    assert not os.path.isdir(os.path.join(d, "doc_tombstones"))

    # re-ingesting a NEW doc with the victim's digest: its digest is
    # still live (the heir), so it is a dup at ingest and the owners
    # view keeps the heir
    extra = spark.createDataFrame(
        [(dup_group["h"], 200_000)], "h STRING, doc_id BIGINT"
    )
    dec2 = digest_index_append(d, extra)
    assert [r["is_dup"] for r in dec2.collect()] == [True]
    assert _owners(spark, d) == after


def test_digest_index_line_family_matches_line_dedup(spark, tmp_path):
    """The line-digest instantiation — composite keep-first order
    (doc_id, line_no) — maintained across an ordered two-batch split
    must reproduce batch ``line_dedup_clean`` exactly: the per-batch
    decision rows ARE the removal set, so rebuilding cleaned hashes
    from them matches the batch operator row for row."""
    from streaming_spark.operators.text import (
        apply_line_removals,
        line_dedup_clean,
        line_digests,
    )

    docs = _docs_with_dups(spark).localCheckpoint(eager=True)
    cut = 100_000
    d = str(tmp_path / "idx")
    removal_frames = []
    for b, cond in enumerate((f"doc_id < {cut}", f"doc_id >= {cut}")):
        batch = docs.filter(cond)
        dig = line_digests(batch)
        if b == 0:
            dec = digest_index_build(
                d, dig, digest_col="h", order_cols=("doc_id", "line_no")
            )
        else:
            dec = digest_index_append(d, dig)
        removal_frames.append(
            dec.filter("is_dup").select("doc_id", "line_no")
        )

    # owners view == the batch keep-first window over all line digests
    all_dig = line_digests(docs)
    w = Window.partitionBy("h").orderBy("doc_id", "line_no")
    batch_first = sorted(
        map(
            tuple,
            all_dig.withColumn("rk", F.row_number().over(w))
            .filter("rk = 1")
            .select("h", "doc_id", "line_no")
            .collect(),
        )
    )
    assert _owners(spark, d) == batch_first

    # decision-driven cleaning == batch line_dedup_clean, row for row
    rm = removal_frames[0].union(removal_frames[1])
    removals = rm.groupBy("doc_id").agg(
        F.collect_list("line_no").alias("removed"),
        F.count(F.lit(1)).alias("n_rm"),
    )
    incr = sorted(
        map(tuple, apply_line_removals(docs, removals).collect())
    )
    batch = sorted(map(tuple, line_dedup_clean(docs).collect()))
    assert incr == batch


def test_digest_index_probe_reads_are_partition_pruned(spark, tmp_path):
    """The append probe's ``pb=`` filter reaches the SCAN: reading a
    strict subset of prefixes touches strictly fewer files than the
    full occurrence table (planning-time partition pruning, same pin as
    the near-dup band table's)."""
    from streaming_spark.operators.digest_index import (
        _occ_schema,
        _load_params,
    )
    from streaming_spark.operators.index_commit import read_table_or_empty
    from streaming_spark.telemetry import scan_files_rows

    occ = _occ(_docs_with_dups(spark))
    d = str(tmp_path / "idx")
    digest_index_build(d, occ, digest_col="h", n_prefixes=4, n_id_buckets=2)
    p = _load_params(d)
    full = read_table_or_empty(spark, os.path.join(d, "occ"), _occ_schema(p))
    files_total = scan_files_rows(full).first()["files"]
    files_pruned = scan_files_rows(
        full.filter(F.col("pb").isin([0, 1]))
    ).first()["files"]
    assert 0 < files_pruned < files_total


def test_digest_index_refusals_and_append_marker(spark, tmp_path):
    """Loud failure modes: appending to a non-index path, re-building
    over an existing index, crashed-compact park refusal, and the
    ``.append_pending`` crash-window marker with its tombstone-recovery
    entry point (same contract as the near-dup index)."""
    import json

    occ = _occ(_docs_with_dups(spark)).localCheckpoint(eager=True)
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="not a digest index"):
        digest_index_append(d, occ)
    digest_index_build(d, occ, digest_col="h")
    with pytest.raises(ValueError, match="already exists"):
        digest_index_build(d, occ, digest_col="h")
    # type drift is refused loudly: the partition exprs hash the VALUE,
    # so an int-typed delta against a bigint index would land under the
    # wrong partitions silently
    with pytest.raises(ValueError, match="froze bigint"):
        digest_index_append(
            d, occ.select("h", F.col("doc_id").cast("int").alias("doc_id"))
        )

    os.makedirs(os.path.join(d, ".compact_old"))
    for blocked in (
        lambda: digest_index_append(d, occ),
        lambda: digest_index_owners(spark, d),
        lambda: digest_index_tombstone(spark, d, [1]),
        lambda: digest_index_compact(spark, d),
    ):
        with pytest.raises(RuntimeError, match="compact"):
            blocked()
    os.rmdir(os.path.join(d, ".compact_old"))
    before = _owners(spark, d)

    marker = os.path.join(d, ".append_pending")
    with open(marker, "w") as f:
        json.dump({"ids": [9001, 9002], "n": 2}, f)
    for blocked in (
        lambda: digest_index_append(d, occ),
        lambda: digest_index_owners(spark, d),
        lambda: digest_index_compact(spark, d),
    ):
        with pytest.raises(RuntimeError, match="append"):
            blocked()
    with pytest.raises(RuntimeError, match="ALL the ids"):
        digest_index_tombstone(spark, d, [9001])

    # the documented recovery sequence clears the marker
    digest_index_tombstone(spark, d, [9001, 9002])
    assert not os.path.exists(marker)
    # re-ingesting BEFORE the compact is refused: the landed rows would
    # be hidden merge-on-read and then REMOVED by the eventual fold
    with pytest.raises(ValueError, match="tombstone ledger"):
        digest_index_append(
            d,
            spark.createDataFrame(
                [("zzz", 9001)], "h STRING, doc_id BIGINT"
            ),
        )
    digest_index_compact(spark, d)
    st: dict = {}
    dec = digest_index_append(
        d,
        spark.createDataFrame([("zzz", 9001)], "h STRING, doc_id BIGINT"),
        stats_out=st,
    )
    assert st["rows_appended"] == 1 and not os.path.exists(marker)
    assert [r["is_dup"] for r in dec.collect()] == [False]
    assert sorted(_owners(spark, d)) == sorted(before + [("zzz", 9001)])


def test_digest_index_owners_exact_under_out_of_order_ingest(
    spark, tmp_path
):
    """The owners view is ingest-order-INDEPENDENT: appending a backfill
    batch whose ids are SMALLER than already-indexed ones still yields
    exactly the batch argmin (ownership transfers to the backfilled
    min-id occurrence).  The ingest-time decisions are where order
    matters — the backfilled row reads is_dup=true against the larger
    indexed id, the documented ordered-ingest caveat — which this test
    also pins so the contract stays visible."""
    docs = _docs_with_dups(spark).localCheckpoint(eager=True)
    occ = _occ(docs)
    # ingest the LARGE-id half first, then backfill the small-id half
    cut = 100_000
    late, early = occ.filter(f"doc_id >= {cut}"), occ.filter(
        f"doc_id < {cut}"
    )
    d = str(tmp_path / "idx")
    digest_index_build(d, late, digest_col="h")
    dec = digest_index_append(d, early)
    # owners: exactly the batch argmin over everything, despite order
    assert _owners(spark, d) == _batch_owners(occ)
    # the caveat, pinned: a backfilled copy of an indexed digest is
    # flagged dup at ingest even though it now OWNS the digest
    dup_h = occ.groupBy("h").count().filter("count > 1").first()["h"]
    flagged = {
        r["doc_id"]: r["is_dup"]
        for r in dec.filter(F.col("h") == dup_h).collect()
    }
    assert all(flagged.values())  # decisions said dup…
    owner = dict(_owners(spark, d))[dup_h]
    assert owner in flagged  # …but the owners view serves the backfill


def test_digest_append_refuses_already_indexed_ids(spark, tmp_path):
    """The 'delta ids are NEW' contract is ENFORCED (ADVICE r13, parity
    with the near-dup index): replaying a committed batch refuses
    loudly instead of double-landing occurrence rows (which would flip
    the replay's decisions to is_dup); fresh ids still append, and the
    upsert path (tombstone -> compact -> re-append) still works."""
    docs = _docs_with_dups(spark).localCheckpoint(eager=True)
    occ = _occ(docs)
    base = occ.filter("doc_id < 100")
    d = str(tmp_path / "idx")
    digest_index_build(d, base, digest_col="h")
    before = _owners(spark, d)

    with pytest.raises(ValueError, match="already indexed"):
        digest_index_append(d, base)
    with pytest.raises(ValueError, match="already indexed"):
        digest_index_append(d, occ.filter("doc_id >= 90 AND doc_id < 120"))
    assert not os.path.exists(os.path.join(d, ".append_pending"))
    assert _owners(spark, d) == before

    digest_index_append(d, occ.filter("doc_id >= 100 AND doc_id < 150"))
    assert _owners(spark, d) == _batch_owners(occ.filter("doc_id < 150"))

    # the documented upsert sequence passes the guard after the fold
    digest_index_tombstone(spark, d, [0])
    digest_index_compact(spark, d)
    digest_index_append(d, occ.filter("doc_id = 0"))
    assert _owners(spark, d) == _batch_owners(occ.filter("doc_id < 150"))
