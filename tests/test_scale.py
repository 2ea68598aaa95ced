"""Tooling tests for scripts/scale.py, the digest-timed scale harness.

The end-to-end test runs each family's smallest case in its own
subprocess (one Spark session each, several minutes in all), so it is
slow-marked; the CLI planning tests are fast."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scale  # noqa: E402

# family -> (arguments of its smallest case, the checks that case runs)
SMALLEST = {
    "blocked": (["--case", "pairs-clustered", "--n", "2000"], set()),
    "ann": (["--case", "clustered", "--n", "2000"], {
        "flat_equals_bycell", "append_equals_inline_encode",
        "compact_equals_merge_on_read"}),
    "dedup": (["--case", "minhash", "--n", "2000"], {"iterative_equals_driver_arm"}),
    "pipeline": (["--case", "streaming", "--n", "2000"], {"survivors_equal_batch"}),
    "streaming": (["--case", "rollup", "--n", "2000"], {"equals_batch_twin"}),
    "tar": (["--case", "shards-4", "--n", "8"], {"bytes_total", "blobs_byte_exact"}),
    "10x": (["--case", "funnel", "--n", "1"], set()),
}


def test_every_family_has_a_smallest_case():
    assert set(SMALLEST) == set(scale.CASES) == set(scale.RUNNERS)


def test_plan_groups_cases_by_size():
    assert scale.plan("blocked", "nn-uniform,pairs-clustered", "20,10") == {
        10: ["pairs-clustered", "nn-uniform"],
        20: ["pairs-clustered", "nn-uniform"],
    }
    # recorded sizes per case: the 32-state-partition arms start at 1M
    todo = scale.plan("streaming", "join-p8,join-p32", None)
    assert todo[100_000] == ["join-p8"]
    assert todo[1_000_000] == ["join-p8", "join-p32"]
    with pytest.raises(SystemExit, match="unknown"):
        scale.plan("dedup", "minhash,nope", None)


def test_generators_are_pure_functions_of_the_ids():
    import numpy as np

    ids = np.arange(40, 60)
    assert scale.gen_texts(ids[5:]) == scale.gen_texts(ids)[5:]
    assert scale.gen_vectors(ids[5:], "clustered").tobytes() == (
        scale.gen_vectors(ids, "clustered")[5:].tobytes())
    # every fifth doc is a near-copy of its predecessor
    a, b = scale.gen_texts(np.array([43, 44]))
    same = sum(x == y for x, y in zip(a.split(), b.split()))
    assert same >= scale.WORDS * 3 // 4


@pytest.mark.slow  # ~1 min per family: one Spark session each
@pytest.mark.parametrize("family", sorted(SMALLEST))
def test_smallest_case_prints_digested_records(family):
    args, checks = SMALLEST[family]
    env = dict(os.environ, PYTHONPATH=REPO)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scale.py"),
         "--family", family, *args],
        env=env, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    records = [json.loads(line) for line in proc.stdout.splitlines()
               if line.startswith("{")]
    assert records
    labels = [r["case"] for r in records]
    assert len(labels) == len(set(labels))
    for r in records:
        assert r["case"].startswith(f"{family}/")
        assert isinstance(r["digest"], str) and r["digest"].count(":") == 2
    ran = {k: v for r in records for k, v in r.get("checks", {}).items()}
    assert set(ran) == checks
    assert all(ran.values())
