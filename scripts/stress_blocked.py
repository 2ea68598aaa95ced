"""Scaling measurement for the blocked-exact similarity family
(VERDICT r8 #2): blocked cosine pairs and blocked exact-NN at
N = 2k .. 200k on BOTH corpus regimes — uniform (the worst case: no
sound geometric bound can prune, candidate volume saturates at the
all-pairs ceiling and the QuadraticCandidateVolumeWarning fires) and
clustered (the pruning regime the blocking exists for).  One JSON line
per measurement; record the table in ROADMAP next to the r8 2k-20k
curve so the 100 TB grade rests on a measured exponent.

Corpora are deterministic (seeded numpy), staged once to scratch
parquet so the timed operator starts from a parquet scan like a real
deployment, and each run's pinned staging dirs are released through
``scratch.unpin`` afterwards (the ADVICE r8 release handle) so the
sweep keeps disk bounded across the sweep of Ns.

Uniform ops above N = 200k are disk-capped on this box — with zero
pruning each path's task shuffle is ~N x sqrt N vector rows (the pair
path ships each vector once per partner CELL after the r9 cell-pair
task grouping; the NN path ships each query once per probed cell):
measured peak scratch+shuffle at N = 200k was ~37 GB (fits), so the
next step would not.  The cap is itself the documented scale behavior
(the telemetry warns and the sanctioned escape is the ANN family);
the clustered regime runs the full sweep comfortably.

Each result is digested over every column (row count plus an
order-insensitive xxhash64 sum, floats rounded to 9 decimals) instead of
counted, so the timed plan is the one a consumer of the result runs and
two engines can be compared row for row.  One JSON line per
measurement; its ``case`` field names the (op, corpus, n) cell, which
is how ``scripts/ab.py`` pairs the arms.

Usage:
    PYTHONPATH=. python scripts/stress_blocked.py \
        [--n 200000,300000] [--corpus clustered|uniform] [--op nn|pairs]
"""

from __future__ import annotations

import argparse
import json
import shutil
import time
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_spark import get_spark
from streaming_spark import scratch

DIM = 64
SEED = 20260815
CLUSTERS = 32
CLUSTER_NOISE = 0.05  # per-dim sigma: intra-cluster cosine ~0.86 +- 0.02


def make_corpus(kind: str, n: int) -> pd.DataFrame:
    rng = np.random.default_rng(SEED)
    if kind == "uniform":
        mat = rng.standard_normal((n, DIM)).astype(np.float32)
    else:
        centers = rng.standard_normal((CLUSTERS, DIM))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        noise = rng.standard_normal((n, DIM)) * CLUSTER_NOISE
        mat = (centers[np.arange(n) % CLUSTERS] + noise).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(mat)}
    )


def stage_corpus(spark, kind: str, n: int) -> tuple[str, "object"]:
    d = scratch.scratch_dir(f"stress_{kind}_{n}", pin=True)
    pdf = make_corpus(kind, n)
    spark.createDataFrame(
        pdf, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).write.parquet(d + "/t")
    return d, spark.read.parquet(d + "/t")


def release(stats: dict, *extra_dirs: str) -> None:
    for p in stats.get("staged_dirs", []):
        scratch.unpin(p)
    for p in extra_dirs:
        scratch.unpin(p)
        shutil.rmtree(p, ignore_errors=True)


def digest(df) -> str:
    """``rows:hash_sum`` over every column of ``df``, in name order;
    doubles are rounded to 9 decimals (the oracle's normalization)."""
    cols = [
        F.round(F.col(f.name), 9) if isinstance(f.dataType, T.DoubleType)
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    r = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(0)).alias("s"),
    ).first()
    return f"{r['rows']}:{r['s']}"


DEFAULT_NS = (2_000, 20_000, 50_000, 100_000, 200_000)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--n",
        default=",".join(map(str, DEFAULT_NS)),
        help="comma-separated corpus sizes (default: %(default)s)",
    )
    p.add_argument("--corpus", choices=("clustered", "uniform"))
    p.add_argument("--op", choices=("nn", "pairs"))
    args = p.parse_args(argv)
    args.n = [int(x) for x in args.n.split(",") if x]
    return args


def main() -> None:
    from streaming_spark.operators.similarity import cosine_pairs, exact_nn_topk

    args = parse_args()
    warnings.filterwarnings(
        "default", category=Warning
    )  # keep the quadratic warning visible in the log
    spark = get_spark(app_name="stress-blocked")

    # warm both worker pools and the JVM before timing (CLAUDE.md)
    warm_dir, warm = stage_corpus(spark, "uniform", 1_000)
    st: dict = {}
    digest(exact_nn_topk(warm, k=2, mode="blocked", stats_out=st))
    release(st)
    st = {}
    digest(cosine_pairs(warm, threshold=0.7, mode="blocked", stats_out=st))
    release(st, warm_dir)

    plan = []
    for n in args.n:
        for kind in (args.corpus,) if args.corpus else ("clustered", "uniform"):
            for op in (args.op,) if args.op else ("pairs", "nn"):
                if kind == "uniform" and n > 200_000:
                    plan.append((op, kind, n, "skipped: ~N*sqrt(N) vector "
                                 "shuffle rows exceed local disk at zero "
                                 "pruning"))
                else:
                    plan.append((op, kind, n, None))
    # biggest uniform runs last so earlier results survive a disk blowup
    plan.sort(key=lambda p: (p[2], p[1] == "uniform"))

    for op, kind, n, skip in plan:
        case = f"{op}/{kind}/{n}"
        if skip:
            print(json.dumps({"case": case, "skipped": skip}), flush=True)
            continue
        d, df = stage_corpus(spark, kind, n)
        stats: dict = {}
        t0 = time.perf_counter()
        if op == "pairs":
            thr = 0.7 if kind == "uniform" else 0.92
            out = cosine_pairs(df, threshold=thr, mode="blocked", stats_out=stats)
        else:
            out = exact_nn_topk(df, k=2, mode="blocked", stats_out=stats)
        dig = digest(out)
        dt = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "case": case,
                    "seconds": round(dt, 2),
                    "digest": dig,
                    "candidates": stats.get("candidates"),
                    "total_pairs": stats.get("total_pairs"),
                }
            ),
            flush=True,
        )
        release(stats, d)

    spark.stop()


if __name__ == "__main__":
    main()
