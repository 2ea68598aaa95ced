"""The scratch root's two boundedness guarantees: lifetime (atexit
rmtree — r6) and in-session size (least-recently-ACTIVE sweep above the
cap — VERDICT r6 #3 / ADVICE r7: a long-lived notebook session must not
accumulate staged table copies until exit, and an active sink writing
nested part files must never be the sweep victim)."""

import os

import pytest

from streaming_spark import scratch


def _fill(path: str, size: int, mtime: float) -> None:
    blob = os.path.join(path, "blob")
    with open(blob, "wb") as f:
        f.write(b"x" * size)
    # age both the dir AND its contents: the sweep keys on the
    # recursive max-mtime, so a fresh nested file would mask the age
    os.utime(blob, (mtime, mtime))
    os.utime(path, (mtime, mtime))


def test_scratch_sweep_keeps_disk_bounded(monkeypatch, tmp_path):
    """A loop of sink-staging queries keeps disk bounded: once the root
    exceeds the cap, the least-recently-active tag dirs are swept before
    the next dir is carved — newest survivors plus the new dir stay
    under control."""
    # isolated root: dirs pinned by other tests in the shared process
    # root would count against this tiny cap and skew the accounting
    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", str(2_500))
    dirs = []
    for i in range(8):
        d = scratch.scratch_dir("sweeptest")
        _fill(d, 1_000, 1_000_000 + i)  # explicit mtimes: strict age order
        dirs.append(d)
    # each call sweeps BEFORE creating, so the root never holds more
    # than cap-worth of old data plus the newest (just-filled) dir
    root = scratch.scratch_root()
    live = [
        e
        for e in os.scandir(root)
        if e.is_dir() and os.path.basename(e.path).startswith("sweeptest")
    ]
    assert len(live) <= 3  # 2500 cap / 1000 per dir → ≤2 old + 1 new
    # the survivors are the NEWEST dirs (least-recently-active sweep)
    assert dirs[-1] in [e.path for e in live]
    assert dirs[0] not in [e.path for e in live]
    total = sum(scratch._tree_stats(e.path)[0] for e in live)
    assert total <= 2_500 + 1_000  # old data under cap + the fresh dir


def test_scratch_sweep_never_removes_the_new_dir(monkeypatch):
    """Even with a cap of zero the directory being handed out must
    exist and be writable (the sweep runs before mkdtemp)."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", "0")
    d = scratch.scratch_dir("zerocap")
    assert os.path.isdir(d)
    with open(os.path.join(d, "ok"), "w") as f:
        f.write("ok")


def test_scratch_sweep_spares_active_sink(monkeypatch, tmp_path):
    """ADVICE r7: a dir created long ago whose NESTED files are freshly
    written (an active Spark sink — part files land in subdirs, the
    top-level mtime never moves) must outlive an idle dir that was
    created later.  Victim order keys on recursive max-mtime."""
    # isolated root: pinned staged-parquet dirs from earlier tests
    # would exceed this cap on their own and force extra evictions
    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", str(1_500))
    active = scratch.scratch_dir("activesink")
    # created "long ago" at the top level...
    part_dir = os.path.join(active, "part=0")
    os.makedirs(part_dir)
    part = os.path.join(part_dir, "part-00000")
    with open(part, "wb") as f:
        f.write(b"x" * 1_000)
    os.utime(active, (1_000_000, 1_000_000))
    os.utime(part_dir, (1_000_000, 1_000_000))
    os.utime(part, (2_000_000, 2_000_000))  # ...but writing NOW (newest)
    idle = scratch.scratch_dir("idlesink")
    _fill(idle, 1_000, 1_500_000)  # created later, idle since
    # next carve must sweep the IDLE dir and spare the active sink
    scratch.scratch_dir("trigger")
    assert os.path.isdir(active)
    assert not os.path.isdir(idle)


def test_scratch_pinned_dir_survives_sweep(monkeypatch, tmp_path):
    """A pinned dir (a staged READ input a lazy DataFrame still
    depends on — e.g. exact_nn_topk's assign map) is never a sweep
    victim even when it is the least recently active, while its bytes
    still count toward the cap (they tighten the budget for the
    sweepable dirs rather than hiding from it)."""
    # isolated root: leftovers from other tests must not skew the totals
    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", str(1_500))
    pinned = scratch.scratch_dir("pinnedstage", pin=True)
    _fill(pinned, 1_000, 1_000_000)  # oldest — would be the first victim
    idle = scratch.scratch_dir("idleunpinned")
    _fill(idle, 1_000, 2_000_000)  # newer, but unpinned
    scratch.scratch_dir("trigger")
    # pinned survives; the NEWER unpinned dir was evicted in its place
    # because pinned bytes count against the cap
    assert os.path.isdir(pinned)
    assert not os.path.isdir(idle)
    scratch._PINNED.discard(pinned)  # don't leak the pin into other tests


def test_scratch_unpin_returns_dir_to_sweep_pool(monkeypatch, tmp_path):
    """ADVICE r8: pins are releasable — after unpin() the dir rejoins
    the ordinary least-recently-active sweep pool (and unpin is
    idempotent: releasing an already-released or never-pinned path is
    a no-op, never an error)."""
    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", str(1_500))
    staged = scratch.scratch_dir("releasedstage", pin=True)
    _fill(staged, 1_000, 1_000_000)  # oldest
    newer = scratch.scratch_dir("newerunpinned")
    _fill(newer, 1_000, 2_000_000)
    scratch.unpin(staged)
    scratch.unpin(staged)  # idempotent
    scratch.unpin(str(tmp_path / "never_pinned"))  # no-op
    scratch.scratch_dir("trigger")
    # with the pin released, the OLDEST dir is the victim again and the
    # newer unpinned dir survives
    assert not os.path.isdir(staged)
    assert os.path.isdir(newer)


def test_scratch_warns_on_pin_pressure(monkeypatch, tmp_path):
    """ADVICE r8: when pinned bytes alone exceed half the cap, the next
    sweep warns once per process (pins shrink the sweepable budget
    until released — the warning makes the starvation observable and
    names the unpin remedy)."""
    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    monkeypatch.setattr(scratch, "_WARNED_PIN_PRESSURE", False)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", str(1_500))
    pinned = scratch.scratch_dir("bigpin", pin=True)
    _fill(pinned, 1_000, 1_000_000)  # 1000 > 1500/2
    with pytest.warns(ResourceWarning, match="unpin"):
        scratch.scratch_dir("trigger")
    # once per process: a second sweep over the same pressure is silent
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error", ResourceWarning)
        scratch.scratch_dir("trigger2")
    scratch._PINNED.discard(pinned)  # don't leak the pin into other tests


def test_scratch_cap_env_parsed_defensively(monkeypatch):
    """ADVICE r7: a malformed SPARK_GRAFT_SCRATCH_CAP_BYTES must not
    raise at an arbitrary staging site mid-query — warn and fall back
    to the default cap."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", "8 gigabytes")
    with pytest.warns(RuntimeWarning, match="not an integer"):
        d = scratch.scratch_dir("badcap")
    assert os.path.isdir(d)


def test_stage_reads_back_its_input_from_a_pinned_dir(spark, monkeypatch, tmp_path):
    """``stage`` writes a frame once to a pinned dir and returns the
    read-back frame with the dir: the rows come back bit-exact, the
    read-back carries the schema parquet would infer (nullability and
    column metadata included) without running the inference job, the
    dir survives a cap-0 sweep while pinned, and ``unpin`` returns it
    to the sweep pool."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(scratch, "_ROOT", str(tmp_path))
    monkeypatch.setattr(scratch, "_WARNED_PIN_PRESSURE", True)  # silence it
    rows = [(i, 1.0 / (i + 3), [0.1 * i, -(i ** 0.5)]) for i in range(40)]
    df = (
        spark.createDataFrame(rows, "id BIGINT, x DOUBLE, v ARRAY<DOUBLE>")
        .withColumn("k", F.coalesce(F.col("id"), F.lit(0)))  # NOT NULL
        .withMetadata("x", {"unit": "m"})
    )
    assert not df.schema["k"].nullable
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("stagetest-idle", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, write_jobs = jobs(
        "stagetest-write", lambda: df.write.parquet(str(tmp_path / "w"))
    )
    (staged, d), stage_jobs = jobs(
        "stagetest-stage", lambda: scratch.stage(df, "stagetest")
    )
    assert stage_jobs == write_jobs  # the read-back runs no job
    inferred = spark.read.parquet(d + "/t").schema
    assert staged.schema == inferred
    assert staged.schema["x"].metadata == {"unit": "m"}
    assert sorted(staged.collect()) == sorted(df.collect())
    assert d in scratch._PINNED
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_CAP_BYTES", "0")
    scratch.scratch_dir("trigger")
    assert os.path.isdir(d)
    scratch.unpin(d)
    assert d not in scratch._PINNED
    scratch.scratch_dir("trigger")
    assert not os.path.isdir(d)
