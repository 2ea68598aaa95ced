"""Incrementally-maintained MinHash near-dup index: the maintained pair
set must EXACTLY equal the batch ``dedup_minhash_lsh`` output over the
live corpus at every lifecycle point — including the cap-transition
cases (a bucket crossing ``max_bucket`` on append retracts pairs; a
takedown dropping a bucket back through the cap re-admits them) that
make naive incremental LSH drift from the batch semantics."""

import os

import pytest
from pyspark.sql import functions as F

from streaming_spark.operators.dedup import minhash_dedup_pairs
from streaming_spark.operators.neardup_index import (
    neardup_index_append,
    neardup_index_build,
    neardup_index_compact,
    neardup_index_pairs,
    neardup_index_tombstone,
)
from streaming_spark.queries.registry import T
from tests.conftest import SF_CORRECT


def _pairs(df):
    return sorted(map(tuple, df.collect()))


def _batch(docs, **kw):
    return _pairs(minhash_dedup_pairs(docs, "text", "doc_id", **kw))


def _word_docs(spark, rows):
    """(doc_id, text) frame from driver-side rows."""
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _synth_corpus(n, seed, vocab=400, words=30, dup_every=4):
    """Deterministic word-soup corpus with planted near-duplicates:
    every ``dup_every``-th doc copies its predecessor with one word
    changed — enough shared shingles to verify at threshold 0.5."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    prev = None
    for i in range(n):
        if prev is not None and i % dup_every == 0:
            toks = prev.copy()
            toks[int(rng.integers(0, words))] = f"w{rng.integers(0, vocab)}"
        else:
            toks = [f"w{v}" for v in rng.integers(0, vocab, size=words)]
        rows.append((i, " ".join(toks)))
        prev = list(toks)
    return rows


def test_neardup_index_lifecycle_matches_batch_fixture(spark, tmp_path):
    """Fixture documents: build on 4/5 of the corpus, append the rest,
    tombstone a paired doc, compact — after every move the live pair
    set equals the batch pipeline over the live corpus, row for row
    (ids AND jaccard values: both sides share minhash_signatures and
    verify_jaccard, so equality is exact, not approximate)."""
    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    d = str(tmp_path / "idx")

    st: dict = {}
    neardup_index_build(d, base, stats_out=st)
    assert st["rows_appended"] == base.count()
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(base)

    st = {}
    neardup_index_append(d, delta, stats_out=st)
    assert st["rows_appended"] == delta.count()
    after_append = _pairs(neardup_index_pairs(spark, d))
    assert after_append == _batch(docs)
    assert len(after_append) > 0  # non-vacuous: the fixture has dups

    victim = after_append[0][0]
    st = {}
    neardup_index_tombstone(spark, d, [victim], stats_out=st)
    assert st["tombstoned"] == 1
    alive = docs.filter(F.col("doc_id") != victim)
    after_tomb = _pairs(neardup_index_pairs(spark, d))
    assert after_tomb == _batch(alive)
    assert len(after_tomb) < len(after_append)

    stats = neardup_index_compact(spark, d)
    assert stats["sig_rows_removed"] == 1
    assert stats["pair_rows_removed"] >= 1
    assert _pairs(neardup_index_pairs(spark, d)) == after_tomb
    # ledgers folded: both gone until the next tombstone/retraction
    assert not os.path.isdir(os.path.join(d, "doc_tombstones"))
    assert not os.path.isdir(os.path.join(d, "pair_tombstones"))


def test_neardup_cap_crossing_retracts_then_resurrects(spark, tmp_path):
    """The append-side cap transition, engineered exactly: three
    identical docs fit max_bucket=3 and pair up; a fourth identical doc
    pushes EVERY shared bucket past the cap, so the batch arm over the
    union emits NO pairs among them — the incremental arm must retract
    the three previously-emitted pairs (pair-tombstone ledger).
    Tombstoning the fourth doc shrinks the buckets back under the cap:
    the batch arm re-admits the three pairs, so the incremental arm
    must RESURRECT them (ledger rewrite, not re-append)."""
    same = "the quick brown fox jumps over the lazy dog again and again"
    fillers = _synth_corpus(8, seed=99)
    base_rows = [(1, same), (2, same), (3, same)] + [
        (100 + i, t) for i, t in fillers
    ]
    kw = dict(max_bucket=3)
    base = _word_docs(spark, base_rows)
    d = str(tmp_path / "idx")
    neardup_index_build(d, base, max_bucket=3)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(base, **kw)
    assert {(1, 2), (1, 3), (2, 3)} <= {
        (a, b) for a, b, _ in _pairs(neardup_index_pairs(spark, d))
    }

    delta = _word_docs(spark, [(4, same)])
    st: dict = {}
    neardup_index_append(d, delta, stats_out=st)
    assert st["crossed_buckets"] > 0
    assert st["retracted_pairs"] == 3
    assert st["new_pairs"] == 0  # the shared buckets are all over cap
    union = base.union(delta)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(union, **kw)

    st = {}
    neardup_index_tombstone(spark, d, [4], stats_out=st)
    assert st["resurrected_pairs"] == 3
    assert st["readmitted_pairs"] == 0  # rows were still in pairs/
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(base, **kw)

    # compact folds the doc tombstone without touching the live set
    before = _pairs(neardup_index_pairs(spark, d))
    neardup_index_compact(spark, d)
    assert _pairs(neardup_index_pairs(spark, d)) == before


def test_neardup_downcross_readmits_never_admitted_pairs(spark, tmp_path):
    """The tombstone-side cap transition: FOUR identical docs in the
    base mean their buckets start over max_bucket=3 — the batch arm
    emits no pairs and neither does the index (nothing to retract:
    the pairs were never admitted).  Tombstoning one doc drops the
    buckets to 3 ≤ cap: the batch arm over the survivors emits the
    three pairs, and the incremental arm must APPEND them (they are
    absent from pairs/, so this is admission, not resurrection)."""
    same = "pack my box with five dozen liquor jugs for the big party"
    base_rows = [(1, same), (2, same), (3, same), (4, same)] + [
        (100 + i, t) for i, t in _synth_corpus(8, seed=7)
    ]
    base = _word_docs(spark, base_rows)
    kw = dict(max_bucket=3)
    d = str(tmp_path / "idx")
    st: dict = {}
    neardup_index_build(d, base, max_bucket=3, stats_out=st)
    assert st["new_pairs"] == len(_batch(base, **kw))
    assert {(1, 2), (1, 3), (2, 3)}.isdisjoint(
        {(a, b) for a, b, _ in _pairs(neardup_index_pairs(spark, d))}
    )

    st = {}
    neardup_index_tombstone(spark, d, [4], stats_out=st)
    assert st["readmitted_pairs"] == 3
    assert st["resurrected_pairs"] == 0
    alive = base.filter(F.col("doc_id") != 4)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(alive, **kw)


@pytest.mark.parametrize("seed", [11, 2026])
def test_neardup_index_randomized_equality(spark, tmp_path, seed):
    """Randomized lifecycle equality at an adversarially SMALL cap
    (max_bucket=2, so planted duplicate triples constantly cross the
    cap in both directions): three ingest batches then a random
    takedown, checking exact batch equality after every move."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = _synth_corpus(120, seed=seed, dup_every=3)
    cut1, cut2 = sorted(rng.integers(20, 110, size=2).tolist())
    kw = dict(max_bucket=2)
    d = str(tmp_path / "idx")

    b0 = _word_docs(spark, rows[:cut1])
    neardup_index_build(d, b0, max_bucket=2)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(b0, **kw)

    b1 = _word_docs(spark, rows[cut1:cut2])
    neardup_index_append(d, b1)
    live = _word_docs(spark, rows[:cut2])
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(live, **kw)

    b2 = _word_docs(spark, rows[cut2:])
    neardup_index_append(d, b2)
    live = _word_docs(spark, rows)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(live, **kw)

    victims = [int(v) for v in rng.choice(120, size=10, replace=False)]
    neardup_index_tombstone(spark, d, victims)
    alive_rows = [r for r in rows if r[0] not in set(victims)]
    alive = _word_docs(spark, alive_rows)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(alive, **kw)

    before = _pairs(neardup_index_pairs(spark, d))
    neardup_index_compact(spark, d)
    assert _pairs(neardup_index_pairs(spark, d)) == before


@pytest.mark.slow
def test_neardup_index_random_walk(spark, tmp_path):
    """Long-horizon exactness: a seeded random WALK of interleaved
    appends (5-15 docs, drawn from a pool heavy in identical and
    near-identical texts so buckets cross the cap in both directions
    repeatedly), takedowns (1-3 live docs) and compacts, asserting the
    live pair set equals the batch arm over the live corpus after
    EVERY operation.  This exercises the interactions the scenario
    tests cannot enumerate — retract→resurrect→retract cycles on the
    same pair, re-admission into buckets later re-crossed, compaction
    between transitions, and RESHARDS (re-band / re-cap, r14) landing
    on live ledger state mid-walk (the batch arm re-keys to the new
    params at the same step, so equality keeps meaning)."""
    import numpy as np

    rng = np.random.default_rng(20260816)
    templates = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet black white gray",
    ]
    synth = _synth_corpus(200, seed=77)
    kw = dict(max_bucket=2)
    d = str(tmp_path / "idx")

    next_id = [0]
    live: dict[int, str] = {}

    def make_batch(k):
        rows = []
        for _ in range(k):
            r = rng.random()
            if r < 0.5:  # identical-template doc: drives cap crossings
                text = templates[int(rng.integers(0, len(templates)))]
            else:  # unique filler with planted near-dups
                text = synth[int(rng.integers(0, len(synth)))][1]
            rows.append((next_id[0], text))
            live[next_id[0]] = text
            next_id[0] += 1
        return rows

    def check():
        corpus = _word_docs(spark, sorted(live.items()))
        assert _pairs(neardup_index_pairs(spark, d)) == _batch(corpus, **kw)

    from streaming_spark.operators.neardup_index import (
        neardup_index_reshard,
    )

    neardup_index_build(d, _word_docs(spark, make_batch(12)), max_bucket=2)
    check()
    resharded = False
    for step in range(9):
        op = rng.random()
        if op < 0.5 or len(live) < 6:
            neardup_index_append(
                d, _word_docs(spark, make_batch(int(rng.integers(5, 16))))
            )
        elif op < 0.75:
            victims = [
                int(v)
                for v in rng.choice(
                    sorted(live), size=int(rng.integers(1, 4)), replace=False
                )
            ]
            neardup_index_tombstone(spark, d, victims)
            for v in victims:
                live.pop(v)
        elif op < 0.9:
            neardup_index_compact(spark, d)
        else:
            # re-band/re-cap mid-walk, on whatever ledger state the
            # walk left; the batch arm re-keys at the same step
            resharded = True
            kw["max_bucket"] = int(rng.integers(2, 5))
            kw["bands"] = int(rng.choice([16, 8]))
            neardup_index_reshard(
                spark, d, bands=kw["bands"], max_bucket=kw["max_bucket"]
            )
        check()
    if not resharded:  # the seed must actually exercise the new move
        kw["max_bucket"], kw["bands"] = 3, 8
        neardup_index_reshard(spark, d, bands=8, max_bucket=3)
        check()


def test_neardup_index_string_ids(spark, tmp_path):
    """String doc ids are first-class end to end: the id type is frozen
    into the index params from the input frame, pair ids come back as
    strings, and takedowns by string id work."""
    docs = (
        T(spark, SF_CORRECT, "documents")
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias(
                "doc_id"
            ),
            "text",
        )
    )
    d = str(tmp_path / "idx")
    neardup_index_build(d, docs)
    got = _pairs(neardup_index_pairs(spark, d))
    assert got == _batch(docs)
    assert got and all(
        isinstance(a, str) and a.startswith("doc-") for a, _, _ in got
    )
    victim = got[0][0]
    neardup_index_tombstone(spark, d, [victim])
    alive = docs.filter(F.col("doc_id") != victim)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(alive)


def test_neardup_probe_reads_are_partition_pruned(spark, tmp_path):
    """The staged band table's (band_id, pb) layout is load-bearing: a
    probe filtered to one band's prefix list must touch FEWER parquet
    files than the table holds (planning-time partition pruning — the
    same files_read discriminator as the ANN cell layout), and the
    partition directories exist on disk as written."""
    from streaming_spark.operators.index_commit import read_table_or_empty
    from streaming_spark.operators.neardup_index import (
        _combo_filter,
        _load_params,
        _bands_schema,
    )
    from streaming_spark.telemetry import scan_files_rows

    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text")
    d = str(tmp_path / "idx")
    neardup_index_build(d, docs, n_band_prefixes=4)
    p = _load_params(d)
    bands_dir = os.path.join(d, "bands")
    band_dirs = [e for e in os.listdir(bands_dir) if e.startswith("band_id=")]
    assert len(band_dirs) == p["bands"]
    assert all(
        any(x.startswith("pb=") for x in os.listdir(os.path.join(bands_dir, b)))
        for b in band_dirs
    )

    full = read_table_or_empty(spark, bands_dir, _bands_schema(p))
    files_total = scan_files_rows(full).first()["files"]
    pruned = full.filter(_combo_filter([(0, 0), (0, 1)]))
    files_pruned = scan_files_rows(pruned).first()["files"]
    assert 0 < files_pruned < files_total


def test_neardup_crashed_append_recovery(spark, tmp_path):
    """The append is three writes (sigs, bands, pairs); a crash after
    the first leaves a sigs-only ORPHAN batch.  Contract under test:
    (1) the orphan is inert — candidates and bucket sizes derive from
    the BAND table, so the live pair set still equals the batch arm
    over the real corpus; (2) tombstoning the orphan ids contributes
    ZERO removals (counts come from the victims' ACTUAL band rows, not
    their sigs-derived buckets — phantom removals would spuriously
    down-cross an over-cap bucket and re-admit its pairs); (3) after
    compact, re-ingesting the batch under the same ids lands cleanly
    and batch equality holds over the union."""
    same = "she sells sea shells by the sea shore every single day"
    base = _word_docs(
        spark,
        [(i, same) for i in range(1, 6)]
        + [(100 + i, t) for i, t in _synth_corpus(8, seed=3)],
    )
    kw = dict(max_bucket=3)
    d = str(tmp_path / "idx")
    neardup_index_build(d, base, max_bucket=3)
    base_pairs = _batch(base, **kw)
    assert _pairs(neardup_index_pairs(spark, d)) == base_pairs
    # the five identical docs never pair: their buckets are over cap
    assert all(a > 5 for a, _, _ in base_pairs)

    # simulate the crash: land ONLY the sigs of a 2-doc batch
    from pyspark.sql import functions as F  # noqa: F811

    from streaming_spark.operators.dedup import minhash_signatures
    from streaming_spark.operators.neardup_index import (
        _load_params,
        _sb_expr,
    )

    delta = _word_docs(spark, [(6, same), (7, same)])
    p = _load_params(d)
    sigs = minhash_signatures(
        delta, p["text_col"], p["id_col"], p["num_perm"], p["shingle_k"],
        p["seed"],
    )
    sigs.withColumn("sb", _sb_expr(F.col("id"), p["n_id_buckets"])).write.mode(
        "append"
    ).partitionBy("sb").parquet(os.path.join(d, "sigs"))

    assert _pairs(neardup_index_pairs(spark, d)) == base_pairs  # inert

    # recovery step 1: tombstone the orphan ids — MUST be a no-op on
    # the pair set (the identical docs' bucket holds 5 > cap live
    # members; phantom sigs-derived removals would claim n_after=3 and
    # wrongly re-admit the 10 within-bucket pairs)
    st: dict = {}
    neardup_index_tombstone(spark, d, [6, 7], stats_out=st)
    assert st["readmitted_pairs"] == 0 and st["resurrected_pairs"] == 0
    assert _pairs(neardup_index_pairs(spark, d)) == base_pairs

    # re-ingesting BEFORE the compact is refused: the landed rows would
    # be hidden merge-on-read and then REMOVED by the eventual fold
    with pytest.raises(ValueError, match="tombstone ledger"):
        neardup_index_append(d, delta)

    # recovery step 2: fold the ledger, then re-ingest the same ids
    neardup_index_compact(spark, d)
    neardup_index_append(d, delta)
    union = base.union(delta)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(union, **kw)


def test_neardup_takedown_marker_resume(spark, tmp_path):
    """Takedown crash-safety: the mutation sequence is guarded by a
    ``.takedown_pending`` marker — while it exists every other op
    refuses the index, a takedown with DIFFERENT ids refuses, and
    re-running with the SAME ids resumes idempotently (including
    healing a pair-tombstone ledger parked mid-swap) and clears the
    marker, landing exactly the batch arm's pair set."""
    import json
    import os

    same = "how vexingly quick daft zebras jump over the fence today"
    base = _word_docs(
        spark,
        [(1, same), (2, same), (3, same)]
        + [(100 + i, t) for i, t in _synth_corpus(8, seed=5)],
    )
    kw = dict(max_bucket=3)
    d = str(tmp_path / "idx")
    neardup_index_build(d, base, max_bucket=3)
    neardup_index_append(d, _word_docs(spark, [(4, same)]))
    # state: pairs among 1-3 retracted (ledger non-empty)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(
        base.union(_word_docs(spark, [(4, same)])), **kw
    )

    # simulate a takedown of doc 4 that crashed mid-ledger-swap: marker
    # present, ledger parked at .old
    marker = os.path.join(d, ".takedown_pending")
    with open(marker, "w") as f:
        json.dump({"ids": [4]}, f)
    os.rename(
        os.path.join(d, "pair_tombstones"),
        os.path.join(d, "pair_tombstones.old"),
    )

    for blocked in (
        lambda: neardup_index_pairs(spark, d),
        lambda: neardup_index_append(d, _word_docs(spark, [(9, "x y z")])),
        lambda: neardup_index_compact(spark, d),
    ):
        with pytest.raises(RuntimeError, match="takedown"):
            blocked()
    with pytest.raises(RuntimeError, match="different ids"):
        neardup_index_tombstone(spark, d, [1])

    # resume with the recorded ids: heals the parked ledger, resurrects
    # the three pairs, clears the marker
    st: dict = {}
    neardup_index_tombstone(spark, d, [4], stats_out=st)
    assert st["resurrected_pairs"] == 3
    assert not os.path.exists(marker)
    assert not os.path.isdir(os.path.join(d, "pair_tombstones.old"))
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(base, **kw)
    assert {(1, 2), (1, 3), (2, 3)} <= {
        (a, b) for a, b, _ in _pairs(neardup_index_pairs(spark, d))
    }


def test_neardup_index_refusals(spark, tmp_path):
    """Loud failure modes: appending to a non-index path, re-building
    over an existing index, operating on an index with a crashed-compact
    park sibling (the same recover-first posture as the ANN index), and
    a banding that signatures cannot fill."""
    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text").limit(20)
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="not a near-dup index"):
        neardup_index_append(d, docs)
    neardup_index_build(d, docs)
    with pytest.raises(ValueError, match="already exists"):
        neardup_index_build(d, docs)
    with pytest.raises(ValueError, match="cannot fill"):
        neardup_index_build(str(tmp_path / "bad"), docs, num_perm=8, bands=16)
    # type drift is refused loudly (the sb partition expr hashes the
    # id VALUE, so a mistyped delta would probe the wrong partitions)
    with pytest.raises(ValueError, match="froze bigint"):
        neardup_index_append(
            d, docs.select(F.col("doc_id").cast("int").alias("doc_id"), "text")
        )

    os.makedirs(os.path.join(d, ".compact_old"))
    for blocked in (
        lambda: neardup_index_append(d, docs),
        lambda: neardup_index_pairs(spark, d),
        lambda: neardup_index_tombstone(spark, d, [1]),
        lambda: neardup_index_compact(spark, d),
    ):
        with pytest.raises(RuntimeError, match="mid-swap"):
            blocked()
    os.rmdir(os.path.join(d, ".compact_old"))
    neardup_index_pairs(spark, d).count()  # recovered


def test_neardup_append_pending_marker(spark, tmp_path):
    """Append crash-safety (the ADVICE r12 hazard): the three-write
    landing is guarded by an ``.append_pending`` marker — while it
    exists every other op refuses the index (a half-landed batch's band
    rows would otherwise be live without their pairs), a takedown NOT
    covering the crashed batch refuses, and the documented recovery
    (tombstone the marker's ids → compact → re-ingest) clears the
    marker and lands exactly the batch arm's pair set."""
    import json

    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text").limit(20)
    d = str(tmp_path / "idx")
    neardup_index_build(d, docs)
    before = _pairs(neardup_index_pairs(spark, d))

    marker = os.path.join(d, ".append_pending")
    with open(marker, "w") as f:
        json.dump({"ids": [9001, 9002], "n": 2}, f)
    for blocked in (
        lambda: neardup_index_pairs(spark, d),
        lambda: neardup_index_append(d, _word_docs(spark, [(9, "x y z")])),
        lambda: neardup_index_compact(spark, d),
    ):
        with pytest.raises(RuntimeError, match="append"):
            blocked()
    with pytest.raises(RuntimeError, match="ALL the ids"):
        neardup_index_tombstone(spark, d, [9001])

    # the documented recovery sequence
    neardup_index_tombstone(spark, d, [9001, 9002])
    assert not os.path.exists(marker)
    neardup_index_compact(spark, d)
    st: dict = {}
    neardup_index_append(
        d, _word_docs(spark, [(9001, "a b c d e f g")]), stats_out=st
    )
    assert st["rows_appended"] == 1
    assert not os.path.exists(marker)  # a completed append self-clears
    assert _pairs(neardup_index_pairs(spark, d)) == before


def test_neardup_append_saturation_telemetry(spark, tmp_path):
    """Hot-bucket saturation stats (the near-dup analog of
    ann_index_drift's re-shard signal): a skew-planted delta — copies
    concentrating into buckets past ``max_bucket`` — trips
    ``saturated_buckets``/``saturation_frac`` in the append's stats_out,
    while a uniform delta reads zero."""
    same = "pack my box with five dozen liquor jugs right now please ok"
    fillers = [(100 + i, t) for i, t in _synth_corpus(8, seed=7)]
    d = str(tmp_path / "idx")
    st: dict = {}
    neardup_index_build(
        d,
        _word_docs(spark, [(1, same), (2, same)] + fillers),
        max_bucket=3,
        stats_out=st,
    )
    assert st["saturated_buckets"] == 0  # 2-member buckets fit cap 3

    # skew delta: three more copies push every shared bucket to 5 > cap
    st = {}
    neardup_index_append(
        d, _word_docs(spark, [(3, same), (4, same), (5, same)]), stats_out=st
    )
    assert st["saturated_buckets"] >= 1
    assert st["saturation_frac"] > 0
    assert st["crossed_buckets"] >= 1  # the (1,2) pair loses support

    # uniform delta: fresh word-soup docs land in fresh buckets
    st = {}
    uniq = [(200 + i, t) for i, t in _synth_corpus(4, seed=11, dup_every=100)]
    neardup_index_append(d, _word_docs(spark, uniq), stats_out=st)
    assert st["saturated_buckets"] == 0
    assert st["saturation_frac"] == 0.0


def test_neardup_append_refuses_already_indexed_ids(spark, tmp_path):
    """The 'delta ids are NEW' contract is ENFORCED (ADVICE r13): a
    replay of a fully-committed batch — reachable under at-least-once
    foreachBatch ingest — refuses loudly instead of double-landing
    band rows (which would inflate bucket sizes past the cap and flip
    decisions to is_dup).  Fresh ids still append normally after the
    refusal."""
    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text")
    base = docs.filter("doc_id < 40")
    d = str(tmp_path / "idx")
    neardup_index_build(d, base)
    before = _pairs(neardup_index_pairs(spark, d))

    # full replay and partial overlap both refuse
    with pytest.raises(ValueError, match="already indexed"):
        neardup_index_append(d, base)
    with pytest.raises(ValueError, match="already indexed"):
        neardup_index_append(
            d, docs.filter("doc_id >= 30 AND doc_id < 50")
        )
    # the refusal happened before any landing: state unchanged, no
    # pending marker left behind
    assert not os.path.exists(os.path.join(d, ".append_pending"))
    assert _pairs(neardup_index_pairs(spark, d)) == before

    neardup_index_append(d, docs.filter("doc_id >= 40 AND doc_id < 60"))
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(
        docs.filter("doc_id < 60")
    )


def test_neardup_reshard_saturation_signal_drives_recovery(spark, tmp_path):
    """The signal→action loop (VERDICT r13 #1/#5): a skew-planted
    append trips the saturation telemetry; neardup_index_reshard with a
    raised cap rebuilds bands/pairs from the STAGED signatures (no
    corpus re-scan) and the live pair set equals the batch arm under
    the NEW parameters — including the pairs the old cap was silently
    suppressing.  Subsequent appends and takedowns maintain equality
    under the new params."""
    from streaming_spark.operators.neardup_index import (
        neardup_index_reshard,
    )

    same = "sphinx of black quartz judge my vow tonight and every night"
    fillers = [(100 + i, t) for i, t in _synth_corpus(10, seed=21)]
    base = _word_docs(spark, [(1, same), (2, same), (3, same)] + fillers)
    d = str(tmp_path / "idx")
    neardup_index_build(d, base, max_bucket=3)

    # skew delta saturates the identical-doc buckets: telemetry trips,
    # and the five copies pair with NOBODY (cap suppression)
    st: dict = {}
    neardup_index_append(
        d, _word_docs(spark, [(4, same), (5, same)]), stats_out=st
    )
    assert st["saturation_frac"] > 0
    live = base.union(_word_docs(spark, [(4, same), (5, same)]))
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(
        live, max_bucket=3
    )
    assert all(a > 5 for a, _, _ in _pairs(neardup_index_pairs(spark, d)))

    # the action: raise the cap (the policy the telemetry calls for)
    st = {}
    neardup_index_reshard(spark, d, max_bucket=10, stats_out=st)
    assert st["rows_live"] == live.count() and st["max_bucket"] == 10
    after = _pairs(neardup_index_pairs(spark, d))
    assert after == _batch(live, max_bucket=10)
    # the suppressed copy-pairs are now served: C(5,2) = 10 of them
    assert {(a, b) for a, b, _ in after} >= {
        (a, b) for a in range(1, 6) for b in range(a + 1, 6)
    }

    # the maintained lifecycle continues under the NEW params
    delta2 = _word_docs(spark, [(6, same)] + [(300, "brand new words only")])
    neardup_index_append(d, delta2)
    live2 = live.union(delta2)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(
        live2, max_bucket=10
    )
    neardup_index_tombstone(spark, d, [1, 300])
    alive = live2.filter(~F.col("doc_id").isin([1, 300]))
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(
        alive, max_bucket=10
    )


def test_neardup_reshard_rebands_and_folds_ledgers(spark, tmp_path):
    """A reshard that changes the banding geometry and partition knobs:
    the on-disk layout reflects the new (bands, n_band_prefixes), both
    tombstone ledgers fold away (every table is rebuilt from live rows
    only — a no-change reshard is a whole-index compact), and the pair
    set equals the batch arm under the new banding."""
    from streaming_spark.operators.neardup_index import (
        _load_params,
        neardup_index_reshard,
    )

    rows = _synth_corpus(60, seed=13, dup_every=3)
    docs = _word_docs(spark, rows)
    d = str(tmp_path / "idx")
    neardup_index_build(d, docs, n_band_prefixes=2)
    # leave an unfolded doc tombstone AND (via a cap crossing) pair
    # retractions in the ledgers
    neardup_index_tombstone(spark, d, [0, 3])
    assert os.path.isdir(os.path.join(d, "doc_tombstones"))

    st: dict = {}
    neardup_index_reshard(
        spark, d, bands=8, n_band_prefixes=4, n_id_buckets=2, stats_out=st
    )
    assert st["folded_doc_tombstones"] == 2
    p = _load_params(d)
    assert (p["bands"], p["n_band_prefixes"], p["n_id_buckets"]) == (8, 4, 2)
    band_dirs = [
        e for e in os.listdir(os.path.join(d, "bands"))
        if e.startswith("band_id=")
    ]
    assert len(band_dirs) == 8
    assert not os.path.isdir(os.path.join(d, "doc_tombstones"))
    assert not os.path.isdir(os.path.join(d, "pair_tombstones"))

    alive = docs.filter(~F.col("doc_id").isin([0, 3]))
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(alive, bands=8)
    # appends keep working against the re-sharded layout
    delta = _word_docs(spark, [(200 + i, t) for i, t in rows[:5]])
    neardup_index_append(d, delta)
    assert _pairs(neardup_index_pairs(spark, d)) == _batch(
        alive.union(delta), bands=8
    )


def test_neardup_reshard_refusals_and_crash_recovery(spark, tmp_path):
    """Reshard guard rails: a banding the frozen signature cannot fill
    refuses; pending markers refuse; a crash between the two renames
    (old index parked whole at .old) makes EVERY operation refuse with
    the rename-back hint, and the rename-back recovery restores exact
    service."""
    import json as _json

    from streaming_spark.operators.neardup_index import (
        neardup_index_reshard,
    )

    docs = _word_docs(spark, _synth_corpus(30, seed=5, dup_every=3))
    d = str(tmp_path / "idx")
    neardup_index_build(d, docs)
    before = _pairs(neardup_index_pairs(spark, d))

    with pytest.raises(ValueError, match="cannot fill"):
        neardup_index_reshard(spark, d, bands=128)

    marker = os.path.join(d, ".append_pending")
    with open(marker, "w") as f:
        _json.dump({"ids": [1], "n": 1}, f)
    with pytest.raises(RuntimeError, match="append"):
        neardup_index_reshard(spark, d)
    os.remove(marker)

    # crash between the renames: index dir gone, .old complete
    os.rename(d, d + ".old")
    for blocked in (
        lambda: neardup_index_pairs(spark, d),
        lambda: neardup_index_append(d, docs),
        lambda: neardup_index_reshard(spark, d),
    ):
        with pytest.raises(RuntimeError, match="rename"):
            blocked()
    os.rename(d + ".old", d)  # the documented recovery
    assert _pairs(neardup_index_pairs(spark, d)) == before
