"""Cross-family pins for the staged-index lifecycle the three families
share through operators/index_commit.py: the Spark jobs one compact,
append and tombstone cost (and their stats), the crash gates on
on-disk states the per-family suites do not write, a crash injected
at every file step of an append and a takedown, the one-owner scan of
the lifecycle's file I/O, and the distinct-shingle precondition
verify_jaccard relies on in the near-dup index's stored signatures."""

import ast
import contextlib
import json
import os
import pathlib
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

import streaming_spark
from streaming_spark.operators import bpe
from streaming_spark.operators import digest_index as di
from streaming_spark.operators import index_commit as ic
from streaming_spark.operators import neardup_index as ni
from streaming_spark.operators import similarity as sim
from streaming_spark.operators import unigram
from streaming_spark.queries.registry import T
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.test_neardup_index import _batch, _pairs, _synth_corpus, _word_docs


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


def _in_group(spark, name, call):
    """``call()``'s result and the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = call()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


# Spark jobs and stats of one append, then one tombstone, on the
# compact fixture's indexes (the same counts as the per-family copies
# of the lifecycle moves ran before index_commit owned them).
_APPEND_TOMBSTONE = {
    "digest": (
        28, {
            "rows_appended": 100, "digests_probed": 100, "digests_seen": 0,
            "new_digests": 100, "prefixes_probed": 4, "dup_rows": 0,
        },
        4, {"tombstoned": 6},
    ),
    "neardup": (
        45, {
            "rows_appended": 100, "buckets_touched": 1599, "new_pairs": 14,
            "crossed_buckets": 0, "retracted_pairs": 0,
            "saturated_buckets": 0, "saturation_frac": 0.0,
        },
        20, {"tombstoned": 4, "readmitted_pairs": 0, "resurrected_pairs": 0},
    ),
}


@pytest.mark.parametrize("family", sorted(_APPEND_TOMBSTONE))
def test_append_tombstone_job_count_and_stats(spark, tmp_path, family):
    docs = _docs(spark)
    d = str(tmp_path / "idx")
    st_a: dict = {}
    st_t: dict = {}
    if family == "digest":
        occ = docs.select(F.md5("text").alias("h"), "doc_id")
        di.digest_index_build(d, occ.filter("doc_id % 5 != 0"))
        delta = occ.filter("doc_id % 5 = 0")
        append, tombstone = di.digest_index_append, di.digest_index_tombstone
        victims = lambda: [1, 2, 3, 10, 25, 40]  # noqa: E731
    else:
        ni.neardup_index_build(d, docs.filter("doc_id % 5 != 0"))
        delta = docs.filter("doc_id % 5 = 0")
        append, tombstone = ni.neardup_index_append, ni.neardup_index_tombstone
        victims = lambda: [1, 2, 10, ni.neardup_index_pairs(  # noqa: E731
            spark, d).agg(F.min("id_a")).first()[0]]
    _, append_jobs = _in_group(
        spark, f"a-{tmp_path.name}", lambda: append(d, delta, stats_out=st_a)
    )
    ids = victims()
    _, tomb_jobs = _in_group(
        spark, f"t-{tmp_path.name}",
        lambda: tombstone(spark, d, ids, stats_out=st_t),
    )
    want_a, stats_a, want_t, stats_t = _APPEND_TOMBSTONE[family]
    assert (st_a, st_t) == (stats_a, stats_t)
    assert (append_jobs, tomb_jobs) == (want_a, want_t)


@pytest.mark.parametrize("family", ["digest", "neardup"])
def test_params_write_is_atomic(spark, tmp_path, monkeypatch, family):
    """A build that crashes while writing ``_params.json`` leaves no
    params file — a torn one would refuse the next build ("already
    exists") and fail every other call on its JSON — so a second build
    succeeds."""
    docs = _docs(spark).filter("doc_id < 10")
    if family == "digest":
        build = lambda d: di.digest_index_build(  # noqa: E731
            d, docs.select(F.md5("text").alias("h"), "doc_id"))
    else:
        build = lambda d: ni.neardup_index_build(d, docs)  # noqa: E731
    real_dump = json.dump

    def torn_dump(obj, f, *a, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full mid-write")

    d = str(tmp_path / "idx")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        build(d)
    monkeypatch.setattr(json, "dump", real_dump)
    assert not os.path.exists(os.path.join(d, "_params.json"))
    build(d)
    assert os.path.isfile(os.path.join(d, "_params.json"))


def _bpe(path, v):
    bpe.bpe_save(path, [("a", "b")] if v == 0 else [("c", "d"), ("e", "f")])


def _unigram(path, v):
    unigram.unigram_save(path, {"a": -1.0} if v == 0 else {"b": -2.0})


def _ann(path, v):
    sim.ann_index_save(path, dim=2, centroids=np.eye(2) * (1.0 + v))


_ARTIFACTS = {
    "bpe": (_bpe, bpe.bpe_load),
    "unigram": (_unigram, unigram.unigram_load),
    "ann": (_ann, sim.ann_index_load),
}


@pytest.mark.parametrize("kind", sorted(_ARTIFACTS))
def test_artifact_save_is_atomic(tmp_path, monkeypatch, kind):
    """A save that crashes while writing over an existing tokenizer or
    ANN artifact keeps the previous one: it still loads, unchanged.  A
    lost quantizer would strand a staged ANN index, whose serve refuses
    any other fingerprint."""
    save, load = _ARTIFACTS[kind]
    path = str(tmp_path / f"{kind}.json")
    save(path, 0)
    before = repr(load(path))

    def torn_dump(obj, f, *a, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full mid-write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        save(path, 1)
    monkeypatch.undo()
    assert repr(load(path)) == before
    save(path, 1)
    assert repr(load(path)) != before


class _Crash(Exception):
    """A crash injected at one index_commit file step."""


_FILE_STEPS = (
    "write_marker", "clear_marker", "park_and_swap", "swap_directory",
)


@contextlib.contextmanager
def _file_steps(crash_at=None):
    """Count the index_commit file steps (called through the module or
    a family's import of it), raising _Crash in place of step
    ``crash_at``; yields the names of the steps that ran."""
    ran: list = []
    mp = pytest.MonkeyPatch()
    for name in _FILE_STEPS:
        real = getattr(ic, name)

        def step(*a, _real=real, _name=name, **kw):
            if len(ran) == crash_at:
                raise _Crash(_name)
            ran.append(_name)
            return _real(*a, **kw)

        for mod in (ic, di, ni):
            if getattr(mod, name, None) is real:
                mp.setattr(mod, name, step)
    try:
        yield ran
    finally:
        mp.undo()


class _Digest:
    """Exact-dedup digests with planted duplicates: the owners view
    against the batch keep-min-id window."""

    def __init__(self, spark):
        self.spark = spark
        rows = [(i, f"text {i % 7}") for i in range(30)]
        docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        occ = docs.select(F.md5("text").alias("h"), "doc_id")
        self.base = occ.filter("doc_id < 20")
        self.delta = occ.filter("doc_id >= 20")

    def build(self, d):
        di.digest_index_build(d, self.base)

    def append(self, d):
        di.digest_index_append(d, self.delta)

    def tombstone(self, d, ids):
        di.digest_index_tombstone(self.spark, d, ids)

    def compact(self, d):
        di.digest_index_compact(self.spark, d)

    def view(self, d):
        return _pairs(di.digest_index_owners(self.spark, d))

    def batch(self):
        live = self.base.union(self.delta)
        return _pairs(live.groupBy("h").agg(F.min("doc_id")))


class _NearDup:
    """Near-dup pairs where the delta pushes a bucket over the cap
    (retracting its pairs), so the takedown that recovers it brings the
    bucket back down and rewrites the pair ledger through the
    whole-directory swap."""

    def __init__(self, spark):
        self.spark = spark
        same = "how vexingly quick daft zebras jump over the fence today"
        self.base = _word_docs(
            spark,
            [(1, same), (2, same), (3, same)]
            + [(100 + i, t) for i, t in _synth_corpus(8, seed=5)],
        )
        self.delta = _word_docs(spark, [(4, same)])

    def build(self, d):
        ni.neardup_index_build(d, self.base, max_bucket=3)

    def append(self, d):
        ni.neardup_index_append(d, self.delta)

    def tombstone(self, d, ids):
        ni.neardup_index_tombstone(self.spark, d, ids)

    def compact(self, d):
        ni.neardup_index_compact(self.spark, d)

    def view(self, d):
        return _pairs(ni.neardup_index_pairs(self.spark, d))

    def batch(self):
        return _batch(self.base.union(self.delta), max_bucket=3)


def _crashed(call, i):
    with _file_steps(crash_at=i), pytest.raises(_Crash):
        call()


def _recover_append(f, d):
    """The documented path after an append crashed at any file step:
    with its marker on disk every other call refuses, and the recovery
    is tombstone the marker's ids → compact → re-append; without one
    nothing landed and the append simply re-runs."""
    pending = ic.read_marker(os.path.join(d, ic.APPEND_PENDING))
    if pending is not None:
        with pytest.raises(RuntimeError, match="crashed mid-landing"):
            f.view(d)
        f.tombstone(d, pending["ids"])
        f.compact(d)
    f.append(d)


@pytest.mark.parametrize(
    "family", ["digest", pytest.param("neardup", marks=pytest.mark.slow)]
)
def test_crash_at_every_file_step(spark, tmp_path, family):
    """A crash at each index_commit file step of an append, and of the
    takedown that recovers a crashed append: the next call refuses with
    its recovery hint, the documented recovery runs, and the serve view
    then equals the batch recompute over the live corpus.  The near-dup
    case runs about four minutes on 4 vCPUs, so it is marked slow."""
    f = (_Digest if family == "digest" else _NearDup)(spark)
    seed = str(tmp_path / "seed")
    f.build(seed)
    batch = f.batch()

    def fresh(name):
        d = str(tmp_path / name)
        shutil.copytree(seed, d)
        return d

    d = fresh("count-append")
    with _file_steps() as steps:
        f.append(d)
    assert steps == ["write_marker", "clear_marker"]
    for i in range(len(steps)):
        d = fresh(f"append{i}")
        _crashed(lambda: f.append(d), i)
        _recover_append(f, d)
        assert f.view(d) == batch, (family, "append", steps[i])

    # the takedown that recovers an append crashed after its landing
    crashed = fresh("crashed-append")
    _crashed(lambda: f.append(crashed), 1)
    ids = ic.read_marker(os.path.join(crashed, ic.APPEND_PENDING))["ids"]
    d = str(tmp_path / "count-tombstone")
    shutil.copytree(crashed, d)
    with _file_steps() as steps:
        f.tombstone(d, ids)
    want = ["clear_marker"] if family == "digest" else [
        "write_marker", "swap_directory", "clear_marker", "clear_marker"]
    assert steps == want
    for i in range(len(steps)):
        d = str(tmp_path / f"tombstone{i}")
        shutil.copytree(crashed, d)
        _crashed(lambda: f.tombstone(d, ids), i)
        with pytest.raises(RuntimeError, match="Recover first"):
            f.view(d)
        f.tombstone(d, ids)  # the same-ids re-run is the recovery
        f.compact(d)
        f.append(d)
        assert f.view(d) == batch, (family, "tombstone", steps[i])


def _docstrings(tree) -> set:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def test_index_lifecycle_has_one_owner():
    """The staged-index lifecycle's file I/O has one owner,
    operators/index_commit.py: the families and curation_incremental
    make no ``open``/``json.load``/``json.dump``/``os.rename``/
    ``os.remove`` call of their own; no module but index_commit spells
    the ``.takedown_pending`` marker or the ``.old`` swap park; and the
    index modules hold one ``pmod(xxhash64(...))`` bucket expression."""
    ops = pathlib.Path(streaming_spark.__file__).parent / "operators"
    banned = {("json", "load"), ("json", "dump"), ("os", "rename"),
              ("os", "remove")}
    calls = []
    for name in ("digest_index.py", "neardup_index.py",
                 "curation_incremental.py"):
        for n in ast.walk(ast.parse((ops / name).read_text())):
            if not isinstance(n, ast.Call):
                continue
            fn = n.func
            if (isinstance(fn, ast.Name) and fn.id == "open") or (
                isinstance(fn, ast.Attribute)
                and isinstance(fn.value, ast.Name)
                and (fn.value.id, fn.attr) in banned
            ):
                calls.append(f"{name}:{n.lineno}")
    assert calls == [], f"lifecycle file I/O outside index_commit: {calls}"

    spelled = []
    for path in sorted(ops.parent.rglob("*.py")):
        if path.name == "index_commit.py":
            continue
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        spelled += [
            f"{path.relative_to(ops.parent)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and id(n) not in docs
            and (".takedown_pending" in n.value or n.value.endswith(".old"))
        ]
    assert spelled == [], f"marker/park names outside index_commit: {spelled}"

    buckets = []
    for name in ("index_commit.py", "digest_index.py", "neardup_index.py",
                 "curation_incremental.py"):
        buckets += [
            f"{name}:{n.lineno}"
            for n in ast.walk(ast.parse((ops / name).read_text()))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == "pmod"
            and n.args and isinstance(n.args[0], ast.Call)
            and isinstance(n.args[0].func, ast.Attribute)
            and n.args[0].func.attr == "xxhash64"
        ]
    assert [b.split(":")[0] for b in buckets] == ["index_commit.py"], buckets
