"""Direct contract tests for operators/index_commit.py — the commit
seam the three staged-index families (digest_index, neardup_index,
similarity ann_index_*) route their non-atomic mutations through
(VERDICT r13 #4).  The families' own suites pin end-to-end recovery;
these pin the primitives' crash-window guarantees in isolation, so a
future object-store implementation has an executable contract to pass
(swap the fixture's import, keep the assertions)."""

import json
import os

import pytest

from streaming_spark.operators.index_commit import (
    clear_marker,
    park_and_swap,
    read_marker,
    swap_directory,
    write_marker,
)


def _mk_tree(root, rel, files):
    d = os.path.join(root, rel)
    os.makedirs(d, exist_ok=True)
    for name, body in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(body)


def _read_tree(root, rel):
    d = os.path.join(root, rel)
    if not os.path.isdir(d):
        return None
    return {
        name: open(os.path.join(d, name)).read()
        for name in sorted(os.listdir(d))
    }


def test_marker_roundtrip_and_no_torn_observation(tmp_path):
    """write_marker is tmp+rename: at no point does the marker path hold
    a partial payload — the .tmp sibling carries the in-flight bytes and
    the rename is atomic.  read_marker on absence is None (the families
    branch on that), and clear_marker removes exactly the marker."""
    m = str(tmp_path / ".append_pending")
    assert read_marker(m) is None
    write_marker(m, {"ids": [3, 1, 2], "n": 3})
    # no tmp residue after the rename, payload intact
    assert not os.path.exists(m + ".tmp")
    assert read_marker(m) == {"ids": [3, 1, 2], "n": 3}
    # overwrite is the same atomic path (a resumed retry re-records)
    write_marker(m, {"ids": None, "n": 200000})
    assert read_marker(m) == {"ids": None, "n": 200000}
    clear_marker(m)
    assert read_marker(m) is None
    with pytest.raises(FileNotFoundError):
        clear_marker(m)  # double-clear is a caller bug — fail loudly


def test_marker_survives_a_crashed_write(tmp_path):
    """A crash BEFORE the rename (simulated: the .tmp exists, the
    marker doesn't) leaves no marker — the mutation never started as
    far as observers are concerned, and the stale .tmp is overwritten
    by the next write, not read by anyone."""
    m = str(tmp_path / ".pending")
    with open(m + ".tmp", "w") as f:
        f.write('{"ids": [1')  # torn JSON — must never be observed
    assert read_marker(m) is None
    write_marker(m, {"ids": [1]})
    assert read_marker(m) == {"ids": [1]}
    assert not os.path.exists(m + ".tmp")


def test_park_and_swap_full_loop(tmp_path):
    """Every rel path with a staged rewrite is replaced (old contents
    parked), one without a staged rewrite is REMOVED (parked without
    replacement), and untouched partitions are untouched.  Counts
    returned match."""
    root, staged, park = (str(tmp_path / n) for n in ("t", "s", "p"))
    _mk_tree(root, "pb=0", {"a.parquet": "old0"})
    _mk_tree(root, "pb=1", {"a.parquet": "old1"})
    _mk_tree(root, "pb=2", {"a.parquet": "old2"})  # untouched
    _mk_tree(staged, "pb=0", {"b.parquet": "new0"})
    # pb=1 has no staged rewrite: every row was removed

    rewritten, removed = park_and_swap(
        root, staged, park, ["pb=0", "pb=1"]
    )
    assert (rewritten, removed) == (1, 1)
    assert _read_tree(root, "pb=0") == {"b.parquet": "new0"}
    assert _read_tree(root, "pb=1") is None
    assert _read_tree(root, "pb=2") == {"a.parquet": "old2"}
    # both old directories sit intact under the park until the caller
    # removes it — the crash-recovery payload
    assert _read_tree(park, "pb=0") == {"a.parquet": "old0"}
    assert _read_tree(park, "pb=1") == {"a.parquet": "old1"}


def test_park_and_swap_nested_rel_paths(tmp_path):
    """digest_index compacts occ/pb=P/ib=B — two-level rel paths must
    park and swap with intermediate directories created on both sides."""
    root, staged, park = (str(tmp_path / n) for n in ("t", "s", "p"))
    _mk_tree(root, "occ/pb=0/ib=1", {"a.parquet": "old"})
    _mk_tree(staged, "occ/pb=0/ib=1", {"a.parquet": "new"})
    rewritten, removed = park_and_swap(
        root, staged, park, ["occ/pb=0/ib=1"]
    )
    assert (rewritten, removed) == (1, 0)
    assert _read_tree(root, "occ/pb=0/ib=1") == {"a.parquet": "new"}
    assert _read_tree(park, "occ/pb=0/ib=1") == {"a.parquet": "old"}


def test_park_and_swap_crash_midloop_loses_no_rows(tmp_path):
    """The guarantee the families' refusal gates rely on: if the loop
    dies between partitions, every row is still on disk exactly once —
    completed swaps hold the rewrite, the in-flight partition's old
    contents sit under the park, pending partitions still hold their
    rewrites under staging.  Recovery (rename parks back) restores the
    pre-swap table byte-for-byte."""
    root, staged, park = (str(tmp_path / n) for n in ("t", "s", "p"))
    for i in range(3):
        _mk_tree(root, f"pb={i}", {"a.parquet": f"old{i}"})
        _mk_tree(staged, f"pb={i}", {"a.parquet": f"new{i}"})

    calls = {"n": 0}
    real_rename = os.rename

    def dying_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 4:  # pb=0 swapped (2 renames), pb=1 parked,
            raise OSError("crash")  # then die before pb=1's rewrite
        real_rename(src, dst)

    import streaming_spark.operators.index_commit as ic

    orig = ic.os.rename
    ic.os.rename = dying_rename
    try:
        with pytest.raises(OSError, match="crash"):
            park_and_swap(root, staged, park, ["pb=0", "pb=1", "pb=2"])
    finally:
        ic.os.rename = orig

    # pb=0 landed; pb=1 is parked with its rewrite still staged;
    # pb=2 untouched — nothing lost
    assert _read_tree(root, "pb=0") == {"a.parquet": "new0"}
    assert _read_tree(root, "pb=1") is None
    assert _read_tree(park, "pb=1") == {"a.parquet": "old1"}
    assert _read_tree(staged, "pb=1") == {"a.parquet": "new1"}
    assert _read_tree(root, "pb=2") == {"a.parquet": "old2"}
    # recovery: rename parks back → pre-swap rows for the unfinished
    # partitions are restored exactly
    os.rename(os.path.join(park, "pb=1"), os.path.join(root, "pb=1"))
    assert _read_tree(root, "pb=1") == {"a.parquet": "old1"}


def test_swap_directory_replaces_wholesale_and_sweeps_stale_old(tmp_path):
    target, staged = str(tmp_path / "idx"), str(tmp_path / "idx.reshard")
    _mk_tree(target, "bands", {"a.parquet": "old"})
    _mk_tree(staged, "bands", {"a.parquet": "new"})
    # a stale .old from a crash-after-second-rename is swept, not fatal
    _mk_tree(str(tmp_path / "idx.old"), "bands", {"a.parquet": "stale"})
    swap_directory(target, staged)
    assert _read_tree(target, "bands") == {"a.parquet": "new"}
    assert not os.path.exists(staged)
    assert not os.path.exists(target + ".old")


def test_swap_directory_crash_between_renames_keeps_old_complete(tmp_path):
    """A crash between the two renames leaves the COMPLETE old table at
    .old and the complete staging at its sibling — the families refuse
    that state with a rename-back hint; nothing is half-written."""
    target, staged = str(tmp_path / "idx"), str(tmp_path / "idx.tmp")
    _mk_tree(target, "bands", {"a.parquet": "old"})
    _mk_tree(staged, "bands", {"a.parquet": "new"})

    real_rename = os.rename

    def dying_rename(src, dst):
        real_rename(src, dst)
        if dst.endswith(".old"):
            raise OSError("crash")

    import streaming_spark.operators.index_commit as ic

    orig = ic.os.rename
    ic.os.rename = dying_rename
    try:
        with pytest.raises(OSError, match="crash"):
            swap_directory(target, staged)
    finally:
        ic.os.rename = orig

    assert _read_tree(target + ".old", "bands") == {"a.parquet": "old"}
    assert _read_tree(staged, "bands") == {"a.parquet": "new"}
    assert not os.path.isdir(target)
    # the documented recovery: rename the .old back
    os.rename(target + ".old", target)
    assert _read_tree(target, "bands") == {"a.parquet": "old"}


def test_read_table_or_empty(spark, tmp_path):
    """Missing directory and present directory both produce the declared
    schema; the short-circuit never touches Spark for the missing case
    (no WARN stack traces in gate logs — the reason the helper exists)."""
    missing = str(tmp_path / "nope")
    from streaming_spark.operators.index_commit import read_table_or_empty

    empty = read_table_or_empty(spark, missing, "id BIGINT, h STRING")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "h"]

    real = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id BIGINT, h STRING").write.parquet(
        real
    )
    assert read_table_or_empty(spark, real, "id BIGINT, h STRING").count() == 1


def _partitioned_table(spark, root):
    """200 rows, ids 0..199, partitioned by p = id % 4 under
    ``<root>/t`` — the shape of every family's victim-partition
    rewrite (occ/pb=/ib=, sigs/sb=, bands/band_id=/pb=, cell=)."""
    from pyspark.sql import functions as F

    spark.range(200).withColumn(
        "p", (F.col("id") % 4).cast("int")
    ).write.partitionBy("p").parquet(os.path.join(root, "t"))
    return spark.read.parquet(os.path.join(root, "t"))


def _listing(root):
    return sorted(
        (os.path.relpath(path, root), os.path.getsize(path))
        for d, _dirs, files in os.walk(root)
        for path in (os.path.join(d, f) for f in files)
    )


def test_compaction_observed_rows_removed_equals_counts(spark, tmp_path):
    """The rows-removed figure rides on the write job (an Observation),
    yet equals an independent before/after count; the commit swaps the
    rewritten partitions in, leaves the untouched ones alone and clears
    the park, the staging and the ledger."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.index_commit import Compaction

    root = str(tmp_path)
    table = _partitioned_table(spark, root)
    os.makedirs(os.path.join(root, "ledger"))
    victims = spark.createDataFrame([(0,), (4,), (9,), (13,)], "id BIGINT")
    affected = table.filter(F.col("p").isin([0, 1]))
    expect_before = affected.count()
    expect_removed = expect_before - affected.join(
        victims, "id", "left_anti"
    ).count()
    untouched = _listing(os.path.join(root, "t", "p=2"))

    comp = Compaction(root)
    assert comp.rewrite(
        "t", affected, [(victims, ["id"])], ("p",), ["t/p=0", "t/p=1"]
    ) == (expect_before, expect_removed) == (100, 4)
    assert comp.commit(["ledger"]) == (2, 0)

    assert _listing(os.path.join(root, "t", "p=2")) == untouched
    assert sorted(
        r[0] for r in spark.read.parquet(os.path.join(root, "t")).collect()
    ) == [i for i in range(200) if i not in (0, 4, 9, 13)]
    for gone in (".compact", ".compact_old", "ledger"):
        assert not os.path.exists(os.path.join(root, gone))


def test_compaction_leaves_the_session_serializable(spark, tmp_path):
    """The observed rewrite must not leave an ObservationManager on the
    caller's session: that makes the session unserializable, and a
    fitted model's transform (its closure captures the session through
    the training summary) then fails "Task not serializable"."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    from streaming_spark.operators.index_commit import Compaction

    root = str(tmp_path)
    table = _partitioned_table(spark, root)
    victims = spark.createDataFrame([(0,)], "id BIGINT")
    comp = Compaction(root)
    assert comp.rewrite("t", table, [(victims, ["id"])], ("p",)) == (200, 1)

    train = spark.createDataFrame(
        [(float(i % 2), Vectors.dense([i % 2, 1.0])) for i in range(8)],
        ["label", "features"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    scored = model.transform(train).select("prediction", "label").collect()
    assert [r["prediction"] for r in scored] == [r["label"] for r in scored]


def test_compaction_fully_tombstoned_partition_parks_without_replacement(
    spark, tmp_path
):
    """A partition whose every row is a victim stages no rewrite, so the
    commit parks it without replacement (its directory disappears) —
    and the observation still counts its rows, although adaptive
    execution drops an empty shuffle stage."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.index_commit import Compaction

    root = str(tmp_path)
    table = _partitioned_table(spark, root)
    victims = table.filter("p = 0").select("id").union(
        spark.createDataFrame([(1,)], "id BIGINT")
    )
    comp = Compaction(root)
    assert comp.rewrite(
        "t", table.filter(F.col("p").isin([0, 1])), [(victims, ["id"])],
        ("p",), ["t/p=0", "t/p=1"],
    ) == (100, 51)
    assert comp.commit() == (1, 1)
    assert not os.path.exists(os.path.join(root, "t", "p=0"))
    assert spark.read.parquet(os.path.join(root, "t")).count() == 149

    # every affected row removed: the write stages nothing at all
    comp = Compaction(root)
    assert comp.rewrite(
        "t", spark.read.parquet(os.path.join(root, "t")).filter("p = 3"),
        [(spark.range(200).select("id"), ["id"])], ("p",), ["t/p=3"],
    ) == (50, 50)
    assert comp.commit() == (0, 1)
    assert sorted(os.listdir(os.path.join(root, "t")))[-2:] == ["p=1", "p=2"]


def test_compaction_failed_write_leaves_table_untouched(spark, tmp_path):
    """A rewrite whose write job raises removes its staging and never
    creates the park: the table's files are byte-for-byte what they
    were, so nothing refuses the index afterwards."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.index_commit import Compaction

    root = str(tmp_path)
    table = _partitioned_table(spark, root)
    before = _listing(root)
    boom = F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
    comp = Compaction(root)
    with pytest.raises(Exception, match="boom"):
        comp.rewrite(
            "t", table.filter("p = 0"),
            [(spark.createDataFrame([(0,)], "id BIGINT"), ["id"])],
            ("p",), ["t/p=0"],
            finish=lambda kept: kept.withColumn(
                "id", boom.otherwise(F.col("id"))
            ),
        )
    assert _listing(root) == before
    assert not os.path.exists(os.path.join(root, ".compact"))
    assert not os.path.exists(os.path.join(root, ".compact_old"))
