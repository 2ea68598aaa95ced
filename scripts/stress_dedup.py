"""Scaling measurement for the TEXT near-duplicate families —
MinHash-LSH pairs, SimHash pairs, and the components step that turns
pairs into dedup groups — at N = 10k .. 1M documents, complementing
scripts/stress_blocked.py's embedding-space tables.

Corpus: deterministic hash-generated documents (~60 words from a
10k-word vocabulary), with every fifth document a PLANTED near-copy of
its predecessor (each position mutates independently with p = 1/20, so
~3 of 60 words differ — Jaccard over 9-char shingles ≈ 0.75-0.9).
Every value is a pure function of doc_id (splitmix64 mixing), so the
corpus is identical across partitionings, runs, and task retries.
Expected structure per N: N/5 planted pairs, each its own 2-clique.

Reported per (op, N): wall seconds, result rows, planted-pair RECALL
(the fraction of (d-1, d) pairs recovered — the correctness-at-scale
number; MinHash should sit near 1.0 at threshold 0.5, SimHash lower
because 6 differing words can flip > 3 signature bits), and for
components the group count.

Scale notes the sweep exposes (document next to the table in ROADMAP):

- MinHash-LSH candidate volume stays ~linear in N here: unique docs
  hash to singleton buckets, so pairs come only from planted dups plus
  band-collision noise.  Wall time tracks the signature map (O(N·len·
  num_perm), embarrassingly parallel) + one banded shuffle.
- SimHash's fixed 4x16-bit banding has an N²/2^16 candidate FLOOR on
  random docs (expected bucket size N/65536 per band): negligible at
  200k (~3/bucket), material at 1M (~15/bucket, ~30M candidate pairs
  before Hamming verify).  Wider/more bands are the standard remedy at
  larger N; the floor is a property of the published 4-band scheme,
  not of this implementation.

Usage:
    PYTHONPATH=/root/repo python scripts/stress_dedup.py [max_n]
    PYTHONPATH=/root/repo python scripts/stress_dedup.py maint [max_n]
    PYTHONPATH=/root/repo python scripts/stress_dedup.py digmaint [max_n]
    PYTHONPATH=/root/repo python scripts/stress_dedup.py prune [max_n]

``maint`` runs the INDEX-MAINTENANCE arm (operators/neardup_index.py):
at each N it builds the staged near-dup index once, appends a fixed
10k-doc delta, and times the append against the accumulated re-join
(``minhash_dedup_pairs`` over base ∪ delta — the cost every ingest
batch pays WITHOUT the index), asserting the maintained pair set is
EXACTLY the batch arm's.  The claim under measurement: append cost is
DELTA-bound (flat in N) while the re-join is N-bound; plus takedown +
compact cost points (the dedup analog of stress_ann's maintenance arm).

``digmaint`` is the same protocol for the EXACT-dedup digest index
(operators/digest_index.py): build / 10k append vs full batch digest
recompute / trickle append / takedown (owners equality asserted — heir
promotion at scale) / compact.  ``prune`` measures the (band, prefix)
partition pruning's probe-bytes cut at production-like partition fill
(real 1M-doc lifecycle with pair-set equality + an N_eff=20M synthetic
band table); both documented in ROADMAP r13.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

from streaming_spark import get_spark, scratch

VOCAB = 10_000
WORDS = 60
MUT_DENOM = 20  # per-position mutation probability 1/20 for planted dups
_WORDS_TAB = [f"w{i}" for i in range(VOCAB)]


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — wrapping uint64 arithmetic."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _gen_texts(ids: np.ndarray) -> list[str]:
    """Texts for a batch of doc ids — pure function of doc_id."""
    ids = ids.astype(np.uint64)
    is_dup = (ids % np.uint64(5)) == np.uint64(4)
    base = np.where(is_dup, ids - np.uint64(1), ids)
    pos = np.arange(WORDS, dtype=np.uint64)
    with np.errstate(over="ignore"):
        w = _mix64(base[:, None] * np.uint64(0x9E3779B97F4A7C15) + pos[None, :])
        mut = _mix64(
            ids[:, None] * np.uint64(0xD6E8FEB86659FD93) + pos[None, :]
        )
        alt = _mix64(
            ids[:, None] * np.uint64(0xA24BAED4963EE407) + pos[None, :]
        )
    w = w % np.uint64(VOCAB)
    take_alt = is_dup[:, None] & ((mut % np.uint64(MUT_DENOM)) == np.uint64(0))
    w = np.where(take_alt, alt % np.uint64(VOCAB), w).astype(np.int64)
    tab = _WORDS_TAB
    return [" ".join(tab[i] for i in row) for row in w]


def stage_corpus(spark, n: int) -> tuple[str, "object"]:
    d = scratch.scratch_dir(f"stress_dedup_{n}", pin=True)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame({"doc_id": ids, "text": _gen_texts(ids)})

    (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "doc_id BIGINT, text STRING")
        .write.parquet(d + "/t")
    )
    return d, spark.read.parquet(d + "/t")


def _recall(pairs, n: int) -> float:
    """Fraction of the N/5 planted (d-1, d) pairs present in ``pairs``."""
    from pyspark.sql import functions as F

    planted = n // 5
    if planted == 0:
        return 1.0
    hit = pairs.filter(
        (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 5 == 3)
    ).count()
    return round(hit / planted, 4)


def release(*dirs: str) -> None:
    for p in dirs:
        scratch.unpin(p)
        shutil.rmtree(p, ignore_errors=True)


def _maint_main(
    max_n: int, n_band_prefixes: int = 16, n_id_buckets: int = 16
) -> None:
    """Index-maintenance sweep: build once, append a 10k delta, compare
    against the accumulated re-join, then a 100-doc trickle append,
    then take down 100 docs and compact.  One JSON line per
    measurement.  The partition-granularity knobs are argv-settable;
    the 100k comparison they enabled (idle box) is a NEGATIVE result
    worth keeping: 256 prefixes × 64 id-buckets ran 3-4× slower than
    16 × 16 on every move (build 18 vs 13 s, append_10k 44 vs 12,
    append_100 31 vs 11, compact 19 vs 8) — 4096 tiny band files cost
    more in listing/write overhead than their pruning saves at this
    corpus size, and a 100-doc trickle append costs about the same as a
    10k one either way (job + digest-scan overhead dominates the delta
    axis).  Partition count is a data-volume knob (~128 MB/partition),
    not a delta-size knob."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_spark.operators.dedup import minhash_dedup_pairs
    from streaming_spark.operators.neardup_index import (
        neardup_index_append,
        neardup_index_build,
        neardup_index_compact,
        neardup_index_pairs,
        neardup_index_tombstone,
    )

    DELTA = 10_000
    spark = get_spark(app_name="stress-dedup-maint")
    warm_dir, warm = stage_corpus(spark, 1_000)
    minhash_dedup_pairs(warm, "text", "doc_id").count()
    release(warm_dir)

    SMALL = 100  # trickle-ingest point: the delta axis of append cost
    for n in (100_000, 500_000, 1_000_000):
        if n > max_n:
            break
        d, df = stage_corpus(spark, n + DELTA + SMALL)
        base = df.filter(F.col("doc_id") < n)
        delta = df.filter(
            (F.col("doc_id") >= n) & (F.col("doc_id") < n + DELTA)
        )
        small = df.filter(F.col("doc_id") >= n + DELTA)
        idx = scratch.scratch_dir(f"ndmaint_{n}", pin=True) + "/idx"

        t0 = time.perf_counter()
        st: dict = {}
        neardup_index_build(
            idx, base, n_id_buckets=n_id_buckets,
            n_band_prefixes=n_band_prefixes, stats_out=st,
        )
        print(json.dumps({
            "op": "neardup_build", "n": n,
            "n_band_prefixes": n_band_prefixes,
            "n_id_buckets": n_id_buckets,
            "seconds": round(time.perf_counter() - t0, 2),
            "pairs": st["new_pairs"],
        }), flush=True)

        t0 = time.perf_counter()
        st = {}
        neardup_index_append(idx, delta, stats_out=st)
        append_s = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        batch = minhash_dedup_pairs(
            df.filter(F.col("doc_id") < n + DELTA),
            "text", "doc_id", threshold=0.5,
        )
        batch_rows = batch.count()
        rejoin_s = round(time.perf_counter() - t0, 2)

        live = neardup_index_pairs(spark, idx)
        extra = live.subtract(batch).count()
        missing = batch.subtract(live).count()
        print(json.dumps({
            "op": "neardup_append_10k", "n": n, "seconds": append_s,
            "new_pairs": st["new_pairs"],
            "crossed_buckets": st["crossed_buckets"],
            "retracted_pairs": st["retracted_pairs"],
            "accumulated_rejoin_seconds": rejoin_s,
            "batch_rows": batch_rows,
            "pair_set_exactly_equal": extra == 0 and missing == 0,
        }), flush=True)

        # the delta axis: a 100-doc trickle append into the same index —
        # probe, candidates and verify all shrink with the delta (the
        # re-join alternative would still pay the full O(N) re-hash)
        t0 = time.perf_counter()
        st = {}
        neardup_index_append(idx, small, stats_out=st)
        print(json.dumps({
            "op": "neardup_append_100", "n": n,
            "seconds": round(time.perf_counter() - t0, 2),
            "new_pairs": st["new_pairs"],
            "buckets_touched": st["buckets_touched"],
        }), flush=True)

        # takedown + compact cost (fixed 100 victims → footprint-bound)
        rng = np.random.default_rng(n)
        victims = [int(v) for v in rng.choice(n, size=100, replace=False)]
        t0 = time.perf_counter()
        st = {}
        neardup_index_tombstone(spark, idx, victims, stats_out=st)
        tomb_s = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cstats = neardup_index_compact(spark, idx)
        print(json.dumps({
            "op": "neardup_takedown_compact", "n": n,
            "tombstone_seconds": tomb_s,
            "compact_seconds": round(time.perf_counter() - t0, 2),
            "readmitted_pairs": st["readmitted_pairs"],
            "sig_parts_rewritten": cstats["sig_parts_rewritten"],
            "band_parts_rewritten": cstats["band_parts_rewritten"],
            "rows_removed": cstats["sig_rows_removed"],
        }), flush=True)

        release(d)
        scratch.unpin(idx.rsplit("/", 1)[0])
        shutil.rmtree(idx.rsplit("/", 1)[0], ignore_errors=True)
    spark.stop()


def _scan_stats(df) -> tuple[int, int, int]:
    """(files, rows, bytes) actually touched by ``df``'s scan — files
    and rows from the executed plan (so a partition filter's pruning is
    measured AT THE SCAN, not assumed), bytes by sizing the listed
    files driver-side.  Bounded: the collect is one row per FILE."""
    import urllib.parse

    from pyspark.sql import functions as F

    per_file = (
        df.select(F.input_file_name().alias("f"))
        .groupBy("f")
        .count()
        .collect()
    )
    n_bytes = sum(
        os.path.getsize(urllib.parse.unquote(r["f"]).replace("file://", ""))
        for r in per_file
    )
    return len(per_file), sum(r["count"] for r in per_file), n_bytes


def _tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of every parquet part under ``root`` — the
    whole-table denominator for the pruning ratios."""
    files = 0
    total = 0
    for dirpath, _dirs, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, f))
    return files, total


def _prune_main(
    max_n: int, n_band_prefixes: int = 64, n_id_buckets: int = 16,
    n_eff_m: int = 20,
) -> None:
    """Production-volume probe-pruning measurement (VERDICT r12 #3):
    does the (band_id, bucket-prefix) partition pruning actually cut
    probe BYTES once band partitions hold real data volume — the regime
    the fixture pins (test_neardup_probe_reads_are_partition_pruned)
    cannot reach, and the r12 maintenance sweep deliberately avoided
    (its small partition counts follow the measured small-files law)?

    Two arms, one law:

    - REAL arm: the full operator lifecycle on a 1M-doc corpus with
      n_band_prefixes=64 (1024 band partitions — 16× the r12 sweep's),
      trickle deltas of 1 / 10 / 100 docs.  After each append the
      probe's own combo filter is re-derived and its band-table read
      measured (files / rows / bytes, from the EXECUTED scan) against
      the whole table; pair-set equality against the batch re-join is
      asserted at the end, so every pruning number comes from an index
      whose answers are proven exact.
    - SYNTHETIC arm: band rows alone for an N_eff = ``n_eff_m``·1M doc
      corpus (N_eff × 16 rows, same layout, partitions ~100× the real
      arm's fill — as close to the ~128 MB deployment sizing as this
      box gets), same trickle probes, no pairs (rows are synthetic).

    The law both arms express: the probe lists hit_combos /
    (bands × n_band_prefixes) of the table — per band a delta of k docs
    hits ≤ min(k, n_band_prefixes) prefixes, so pruning pays exactly
    while the delta is smaller than the prefix count and saturates
    smoothly past it (the append docstring's residual guarantee).  The
    RATIO is decided at planning time from directory names — partition
    size never enters — so bytes cut scales linearly from the measured
    ~8 MB partitions to the 128 MB deployment sizing."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_spark.operators.dedup import (
        _banded,
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from streaming_spark.operators.index_commit import read_table_or_empty
    from streaming_spark.operators.neardup_index import (
        _bands_schema,
        _combo_filter,
        _load_params,
        _pb_expr,
        neardup_index_append,
        neardup_index_build,
        neardup_index_pairs,
    )

    spark = get_spark(app_name="stress-dedup-prune")
    warm_dir, warm = stage_corpus(spark, 1_000)
    minhash_dedup_pairs(warm, "text", "doc_id").count()
    release(warm_dir)

    # ---- REAL arm: operator lifecycle + executed-scan measurement
    n = min(max_n, 1_000_000)
    trickles = (1, 10, 100)
    d, df = stage_corpus(spark, n + sum(trickles))
    base = df.filter(F.col("doc_id") < n)
    idx_root = scratch.scratch_dir(f"ndprune_{n}", pin=True)
    idx = idx_root + "/idx"

    t0 = time.perf_counter()
    neardup_index_build(
        idx, base, n_band_prefixes=n_band_prefixes,
        n_id_buckets=n_id_buckets,
    )
    print(json.dumps({
        "op": "prune_build", "n": n,
        "n_band_prefixes": n_band_prefixes,
        "seconds": round(time.perf_counter() - t0, 2),
    }), flush=True)
    p = _load_params(idx)

    lo = n
    for k in trickles:
        delta = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + k))
        lo += k
        t0 = time.perf_counter()
        st: dict = {}
        neardup_index_append(idx, delta, stats_out=st)
        dt = round(time.perf_counter() - t0, 2)
        # re-derive the combo filter the append probed with (post-
        # landing, exactly what its pruned read saw) and measure the
        # EXECUTED scan against the whole band table
        dbands = _banded(
            minhash_signatures(
                delta, p["text_col"], p["id_col"], p["num_perm"],
                p["shingle_k"], p["seed"],
            ),
            p["bands"],
        ).withColumn("pb", _pb_expr(F.col("bh"), p["n_band_prefixes"]))
        combos = [
            (r["band_id"], r["pb"])
            for r in dbands.select("band_id", "pb").distinct().collect()
        ]
        full = read_table_or_empty(spark, idx + "/bands", _bands_schema(p))
        pf, pr, pb_ = _scan_stats(full.filter(_combo_filter(combos)))
        tf, tb = _tree_bytes(idx + "/bands")
        print(json.dumps({
            "op": "prune_probe_real", "n": n, "delta": k,
            "append_seconds": dt,
            "hit_combos": len(combos),
            "combos_total": p["bands"] * p["n_band_prefixes"],
            "probe_files": pf, "probe_rows": pr, "probe_bytes": pb_,
            "table_files": tf, "table_bytes": tb,
            "bytes_frac": round(pb_ / tb, 4) if tb else None,
            "new_pairs": st["new_pairs"],
        }), flush=True)

    # equality over everything ingested: the pruning numbers above are
    # only worth reporting for an index that is still exactly the batch
    # pipeline
    t0 = time.perf_counter()
    batch = minhash_dedup_pairs(
        df.filter(F.col("doc_id") < lo), "text", "doc_id", threshold=0.5
    )
    live = neardup_index_pairs(spark, idx)
    extra = live.subtract(batch).count()
    missing = batch.subtract(live).count()
    print(json.dumps({
        "op": "prune_equality", "n": n,
        "rejoin_seconds": round(time.perf_counter() - t0, 2),
        "pair_set_exactly_equal": extra == 0 and missing == 0,
    }), flush=True)
    release(d, idx_root)

    # ---- SYNTHETIC arm: the same layout at ~20× the row volume
    n_eff = n_eff_m * 1_000_000
    bands = 16
    sdir = scratch.scratch_dir(f"ndprune_synth_{n_eff_m}m", pin=True)
    t0 = time.perf_counter()
    synth = (
        spark.range(n_eff)
        .select(
            F.col("id"),
            F.explode(
                F.array(*[F.lit(b) for b in range(bands)])
            ).alias("band_id"),
        )
        .select(
            "id",
            F.xxhash64(F.concat_ws("|", "id", "band_id")).alias("bh"),
            "band_id",
        )
        .withColumn("pb", _pb_expr(F.col("bh"), n_band_prefixes))
    )
    synth.repartition("band_id", "pb").write.partitionBy(
        "band_id", "pb"
    ).parquet(sdir + "/bands")
    tf, tb = _tree_bytes(sdir + "/bands")
    print(json.dumps({
        "op": "prune_synth_stage", "n_eff": n_eff,
        "seconds": round(time.perf_counter() - t0, 2),
        "table_files": tf, "table_bytes": tb,
        "partitions": bands * n_band_prefixes,
    }), flush=True)

    stable = spark.read.parquet(sdir + "/bands")
    rng = np.random.default_rng(7)
    for k in trickles:
        ids = rng.integers(n_eff, n_eff * 2, size=k, dtype=np.int64)
        ddf = spark.createDataFrame([(int(i),) for i in ids], "id BIGINT")
        dbands = ddf.select(
            "id",
            F.explode(
                F.array(*[F.lit(b) for b in range(bands)])
            ).alias("band_id"),
        ).select(
            F.xxhash64(F.concat_ws("|", "id", "band_id")).alias("bh"),
            "band_id",
        ).withColumn("pb", _pb_expr(F.col("bh"), n_band_prefixes))
        combos = [
            (r["band_id"], r["pb"])
            for r in dbands.select("band_id", "pb").distinct().collect()
        ]
        t0 = time.perf_counter()
        pf, pr, pb_ = _scan_stats(stable.filter(_combo_filter(combos)))
        print(json.dumps({
            "op": "prune_probe_synth", "n_eff": n_eff, "delta": k,
            "probe_scan_seconds": round(time.perf_counter() - t0, 2),
            "hit_combos": len(combos),
            "combos_total": bands * n_band_prefixes,
            "probe_files": pf, "probe_rows": pr, "probe_bytes": pb_,
            "table_files": tf, "table_bytes": tb,
            "bytes_frac": round(pb_ / tb, 4) if tb else None,
        }), flush=True)
    release(sdir)
    spark.stop()


def _reshard_main(max_n: int, n_band_prefixes: int = 16,
                  n_id_buckets: int = 16) -> None:
    """Reshard cost law: neardup_index_reshard rebuilds bands/pairs
    from the STAGED signatures, so the O(N·len·num_perm) signature map
    — the dominant cost of a from-scratch rebuild — is never re-paid.
    This sweep measures that claim at volume: per N, build the index,
    then apply the saturation remedy (double the cap, double the band
    prefixes) two ways — reshard from staged sigs vs
    neardup_index_build from the corpus under the SAME new params —
    and at the smallest N verify the two indexes serve the identical
    pair set.  One JSON line per measurement."""
    from pyspark.sql import functions as F

    from streaming_spark.operators.dedup import minhash_dedup_pairs
    from streaming_spark.operators.neardup_index import (
        neardup_index_build,
        neardup_index_pairs,
        neardup_index_reshard,
    )

    spark = get_spark(app_name="stress-dedup-reshard")
    warm_dir, warm = stage_corpus(spark, 1_000)
    minhash_dedup_pairs(warm, "text", "doc_id").count()
    release(warm_dir)

    NEW_CAP, NEW_PREFIXES = 400, n_band_prefixes * 2
    for n in (100_000, 500_000, 1_000_000):
        if n > max_n:
            break
        d, df = stage_corpus(spark, n)
        root = scratch.scratch_dir(f"ndreshard_{n}", pin=True)
        idx, fresh = root + "/idx", root + "/fresh"

        t0 = time.perf_counter()
        neardup_index_build(
            idx, df, n_id_buckets=n_id_buckets,
            n_band_prefixes=n_band_prefixes,
        )
        build_s = round(time.perf_counter() - t0, 2)

        # rebuild arm FIRST, reshard second: the shared box drifts
        # 2-3x across minutes (CLAUDE.md), and the first sweep ran
        # reshard first — opposite orderings bracket the drift bias
        t0 = time.perf_counter()
        neardup_index_build(
            fresh, df, max_bucket=NEW_CAP, n_id_buckets=n_id_buckets,
            n_band_prefixes=NEW_PREFIXES,
        )
        rebuild_s = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        st: dict = {}
        neardup_index_reshard(
            spark, idx, max_bucket=NEW_CAP,
            n_band_prefixes=NEW_PREFIXES, stats_out=st,
        )
        reshard_s = round(time.perf_counter() - t0, 2)

        pairs_equal = None
        if n == 100_000:  # pair-set parity spot check (subtract-heavy)
            a = neardup_index_pairs(spark, idx).select("id_a", "id_b")
            b = neardup_index_pairs(spark, fresh).select("id_a", "id_b")
            pairs_equal = (
                a.subtract(b).count() == 0 and b.subtract(a).count() == 0
            )
        print(json.dumps({
            "op": "neardup_reshard", "n": n,
            "build_seconds": build_s,
            "reshard_seconds": reshard_s,
            "rebuild_from_corpus_seconds": rebuild_s,
            "reshard_over_rebuild": (
                round(reshard_s / rebuild_s, 3) if rebuild_s else None
            ),
            "pairs_after": st.get("pairs_after"),
            "rows_live": st.get("rows_live"),
            "pairs_equal_rebuild": pairs_equal,
        }), flush=True)
        release(d, root)
    spark.stop()


def _digmaint_main(max_n: int, n_prefixes: int = 16,
                   n_id_buckets: int = 16) -> None:
    """Digest-index maintenance sweep — the exact-dedup analog of the
    near-dup ``maint`` mode: build once, append a 10k delta and compare
    its cost against the full batch recompute (re-scan the corpus text,
    re-digest, re-window — what a pipeline without the index pays per
    refresh), then a 100-doc trickle append, a 100-doc takedown, and a
    compact.  Owners-view equality against the batch argmin is asserted
    after the append AND after the takedown (heir promotion at scale).
    The honest cost framing: exact dedup's batch recompute is ONE digest
    shuffle — cheap in compute, linear in corpus BYTES (the text
    re-scan); the index's append is delta-bound in both, and its probe
    reads only the delta's digest-prefix partitions (measured in the
    ``prune`` mode)."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_spark.operators.digest_index import (
        digest_index_append,
        digest_index_build,
        digest_index_compact,
        digest_index_owners,
        digest_index_tombstone,
    )

    DELTA, SMALL = 10_000, 100
    spark = get_spark(app_name="stress-dedup-digmaint")
    warm_dir, warm = stage_corpus(spark, 1_000)
    warm.select(F.md5("text").alias("h"), "doc_id").groupBy("h").agg(
        F.min("doc_id")
    ).count()
    release(warm_dir)

    def occ(df):
        return df.select(F.md5("text").alias("h"), "doc_id")

    def batch_owners_count(df):
        return occ(df).groupBy("h").agg(F.min("doc_id").alias("doc_id"))

    for n in (100_000, 500_000, 1_000_000):
        if n > max_n:
            break
        d, df = stage_corpus(spark, n + DELTA + SMALL)
        base = df.filter(F.col("doc_id") < n)
        delta = df.filter(
            (F.col("doc_id") >= n) & (F.col("doc_id") < n + DELTA)
        )
        small = df.filter(F.col("doc_id") >= n + DELTA)
        idx_root = scratch.scratch_dir(f"digmaint_{n}", pin=True)
        idx = idx_root + "/idx"

        t0 = time.perf_counter()
        digest_index_build(
            idx, occ(base), digest_col="h",
            n_prefixes=n_prefixes, n_id_buckets=n_id_buckets,
        )
        print(json.dumps({
            "op": "digest_build", "n": n,
            "n_prefixes": n_prefixes, "n_id_buckets": n_id_buckets,
            "seconds": round(time.perf_counter() - t0, 2),
        }), flush=True)

        t0 = time.perf_counter()
        st: dict = {}
        digest_index_append(idx, occ(delta), stats_out=st)
        append_s = round(time.perf_counter() - t0, 2)

        # the alternative a pipeline without the index pays: re-scan
        # the accumulated corpus text, re-digest, re-window
        t0 = time.perf_counter()
        upto = df.filter(F.col("doc_id") < n + DELTA)
        batch_rows = batch_owners_count(upto).count()
        recompute_s = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        idx_rows = digest_index_owners(spark, idx).count()
        owners_scan_s = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "op": "digest_append_10k", "n": n, "seconds": append_s,
            "digests_seen": st["digests_seen"],
            "prefixes_probed": st["prefixes_probed"],
            "batch_recompute_seconds": recompute_s,
            "owners_scan_seconds": owners_scan_s,
            "owners_equal_batch": idx_rows == batch_rows,
        }), flush=True)

        t0 = time.perf_counter()
        st = {}
        digest_index_append(idx, occ(small), stats_out=st)
        print(json.dumps({
            "op": "digest_append_100", "n": n,
            "seconds": round(time.perf_counter() - t0, 2),
            "prefixes_probed": st["prefixes_probed"],
        }), flush=True)

        # takedown 100 random docs, half of them planted-dup BASES so
        # heir promotion happens at scale, then verify owners equality
        # against the batch argmin over the live corpus
        rng = np.random.default_rng(n)
        victims = sorted(
            int(v) for v in rng.choice(n, size=SMALL, replace=False)
        )
        t0 = time.perf_counter()
        st = {}
        digest_index_tombstone(spark, idx, victims, stats_out=st)
        tomb_s = round(time.perf_counter() - t0, 2)
        live = df.filter(~F.col("doc_id").isin(victims))
        t0 = time.perf_counter()
        live_batch = batch_owners_count(live)
        idx_owners = digest_index_owners(spark, idx)
        diff = idx_owners.exceptAll(live_batch).count() + live_batch.exceptAll(
            idx_owners
        ).count()
        verify_s = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cstats = digest_index_compact(spark, idx)
        print(json.dumps({
            "op": "digest_takedown_compact", "n": n,
            "tombstone_seconds": tomb_s,
            "owners_exactly_equal_after_takedown": diff == 0,
            "verify_seconds": verify_s,
            "compact_seconds": round(time.perf_counter() - t0, 2),
            "occ_rows_removed": cstats["occ_rows_removed"],
            "parts_rewritten": cstats["parts_rewritten"],
        }), flush=True)

        release(d, idx_root)
    spark.stop()


def _simjoin_main(n: int) -> None:
    """VERDICT r14 #7: the r14 round kept simhash's banded SELF-JOIN
    candidate stage (and rejected the grouped collect_list rewrite)
    based on sf0.1 measurements where the cached signature side
    BROADCASTS.  This mode re-tests the choice at a corpus size where
    the banded frame (4 rows/doc) is far past the 10 MB auto-broadcast
    threshold, so the join must plan as an exchange-bearing join over
    the persisted cache: time both shapes on the SAME persisted
    signature frame and verify identical pair counts."""
    import pyspark.sql.functions as F

    from streaming_spark.operators.dedup import (
        _simhash_pairs_from,
        simhash64,
        simhash_dedup_pairs,
    )

    spark = get_spark(app_name="stress-simjoin")
    warm_dir, warm = stage_corpus(spark, 1_000)
    simhash_dedup_pairs(warm, "text", "doc_id").count()
    release(warm_dir)

    d, df = stage_corpus(spark, n)
    sh = simhash64(df, "text", "doc_id").persist()
    sh.count()  # materialize the cache outside the timed region
    max_hamming, bands, band_bits = 3, 4, 16

    def grouped_pairs():
        def band_expr(i):
            shifted = F.shiftrightunsigned("simhash", band_bits * i)
            return shifted.bitwiseAND(F.lit((1 << band_bits) - 1))

        banded = sh.select(
            "id",
            "simhash",
            F.posexplode(
                F.array(*[band_expr(i) for i in range(bands)])
            ).alias("band_id", "band_val"),
        )
        grouped = (
            banded.groupBy("band_id", "band_val")
            .agg(F.collect_list(F.struct("id", "simhash")).alias("ms"))
            .filter(F.size("ms") >= 2)
        )
        pair_expr = (
            "flatten(transform(ms, (x, i) -> "
            "transform(slice(ms, i + 2, size(ms) - i - 1), "
            "y -> struct(least(x.id, y.id) AS id_a, greatest(x.id, y.id) AS id_b, "
            "bit_count(x.simhash ^ y.simhash) AS hamming))))"
        )
        return (
            grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.id_a", "p.id_b", "p.hamming")
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming)
        )

    for arm, build in (
        ("join", lambda: _simhash_pairs_from(sh, max_hamming, bands, band_bits)),
        ("grouped", grouped_pairs),
        ("join2", lambda: _simhash_pairs_from(sh, max_hamming, bands, band_bits)),
        ("grouped2", grouped_pairs),
    ):
        t0 = time.perf_counter()
        rows = build().count()
        print(
            json.dumps(
                {
                    "op": f"simjoin_{arm}",
                    "n": n,
                    "seconds": round(time.perf_counter() - t0, 2),
                    "rows": rows,
                }
            ),
            flush=True,
        )
    sh.unpersist()
    release(d)
    spark.stop()


def main() -> None:
    from streaming_spark.operators.dedup import (
        connected_components,
        minhash_dedup_pairs,
        simhash_dedup_pairs,
    )

    args = sys.argv[1:]
    if args and args[0] == "digmaint":
        _digmaint_main(
            int(args[1]) if len(args) > 1 else 1_000_000,
            int(args[2]) if len(args) > 2 else 16,
            int(args[3]) if len(args) > 3 else 16,
        )
        return
    if args and args[0] == "reshard":
        _reshard_main(
            int(args[1]) if len(args) > 1 else 1_000_000,
            int(args[2]) if len(args) > 2 else 16,
            int(args[3]) if len(args) > 3 else 16,
        )
        return
    if args and args[0] == "simjoin":
        _simjoin_main(int(args[1]) if len(args) > 1 else 1_000_000)
        return
    if args and args[0] == "maint":
        _maint_main(
            int(args[1]) if len(args) > 1 else 1_000_000,
            int(args[2]) if len(args) > 2 else 16,
            int(args[3]) if len(args) > 3 else 16,
        )
        return
    if args and args[0] == "prune":
        _prune_main(
            int(args[1]) if len(args) > 1 else 1_000_000,
            int(args[2]) if len(args) > 2 else 64,
            int(args[3]) if len(args) > 3 else 16,
            int(args[4]) if len(args) > 4 else 20,
        )
        return
    max_n = int(args[0]) if args else 1_000_000
    spark = get_spark(app_name="stress-dedup")

    # warm the Arrow worker pool + JVM before timing (CLAUDE.md)
    warm_dir, warm = stage_corpus(spark, 1_000)
    minhash_dedup_pairs(warm, "text", "doc_id").count()
    simhash_dedup_pairs(warm, "text", "doc_id").count()
    release(warm_dir)

    for n in (10_000, 50_000, 200_000, 500_000, 1_000_000):
        if n > max_n:
            break
        d, df = stage_corpus(spark, n)

        t0 = time.perf_counter()
        mh = minhash_dedup_pairs(df, "text", "doc_id", threshold=0.5)
        mh_rows = mh.count()
        mh_dt = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "op": "minhash_lsh",
                    "n": n,
                    "seconds": round(mh_dt, 2),
                    "rows": mh_rows,
                    "recall_planted": _recall(mh, n),
                }
            ),
            flush=True,
        )

        # components over the just-found pairs (localCheckpointed by
        # minhash_dedup_pairs, so this times ONLY the components step)
        t0 = time.perf_counter()
        comp = connected_components(mh)
        n_comp = comp.select("component").distinct().count()
        print(
            json.dumps(
                {
                    "op": "components",
                    "n": n,
                    "seconds": round(time.perf_counter() - t0, 2),
                    "rows": n_comp,
                }
            ),
            flush=True,
        )

        # at the sweep's largest point, also time the ITERATIVE arm on
        # the same edges — the path that runs when edges exceed the
        # driver contract (>1M); results must agree with the driver arm
        if n >= max_n or n == 1_000_000:
            t0 = time.perf_counter()
            n_comp_it = (
                connected_components(mh, mode="iterative")
                .select("component")
                .distinct()
                .count()
            )
            print(
                json.dumps(
                    {
                        "op": "components_iterative",
                        "n": n,
                        "seconds": round(time.perf_counter() - t0, 2),
                        "rows": n_comp_it,
                        "agrees_with_driver_arm": n_comp_it == n_comp,
                    }
                ),
                flush=True,
            )

        t0 = time.perf_counter()
        sh = simhash_dedup_pairs(df, "text", "doc_id", max_hamming=3)
        sh_rows = sh.count()
        sh_dt = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "op": "simhash",
                    "n": n,
                    "seconds": round(sh_dt, 2),
                    "rows": sh_rows,
                    "recall_planted": _recall(sh, n),
                }
            ),
            flush=True,
        )

        release(d)

    spark.stop()


if __name__ == "__main__":
    main()
