"""Interleaved A/B of the fuzzy verify's levenshtein form, same session,
alternating per round so box load spikes hit both arms equally.

A = banded   (levenshtein(a, b, max_dist): O(d.n) band + early exit —
              the shipped _verify_dist)
B = fullmat  (levenshtein(a, b): full O(n.m) matrix, the r14 shape,
              reconstructed here by swapping the verify helper)

Also asserts both arms return identical row counts each round.

Usage: python scripts/ab_lev.py [rounds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streaming_spark import get_spark
from streaming_spark.operators import fuzzy as fuzzy_mod
from streaming_spark.queries import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
NAME = "q_fuzzy_name_pairs"

_BANDED_VERIFY = fuzzy_mod._verify_dist


def _fullmat_verify(joined, a, b, max_dist):
    return joined.withColumn("dist", F.levenshtein(a, b)).filter(
        F.col("dist") <= max_dist
    )


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark(app_name="ab-lev")
    REGISTRY["q_count"](spark, SF_DIR).collect()
    from streaming_spark.operators.stream import stream, stream_arrow

    warm = spark.range(
        0, spark.sparkContext.defaultParallelism, 1,
        spark.sparkContext.defaultParallelism,
    )
    stream(warm, lambda pdf: pdf, warm.schema).count()
    stream_arrow(warm, lambda b: b, warm.schema).count()

    arms = {"banded": _BANDED_VERIFY, "fullmat": _fullmat_verify}
    times: dict[str, list[float]] = {a: [] for a in arms}
    counts: dict[str, set[int]] = {a: set() for a in arms}
    try:
        for _ in range(rounds):
            for arm, verify in arms.items():
                fuzzy_mod._verify_dist = verify
                t0 = time.perf_counter()
                n = REGISTRY[NAME](spark, SF_DIR).count()
                times[arm].append(round(time.perf_counter() - t0, 3))
                counts[arm].add(n)
    finally:
        fuzzy_mod._verify_dist = _BANDED_VERIFY
    for arm in arms:
        ts = times[arm]
        print(
            f"{NAME} {arm:8s} best={min(ts):.3f} "
            f"median={sorted(ts)[len(ts)//2]:.3f} runs={ts} rows={counts[arm]}"
        )
    assert counts["banded"] == counts["fullmat"], counts
    spark.stop()


if __name__ == "__main__":
    main()
