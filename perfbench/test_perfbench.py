"""Tests of the benchmark itself:

    python3 -m pytest perfbench/test_perfbench.py -q

They start one local session on the seeded inputs (the same set-up a
benchmark run does) and take a few minutes.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SEED = 7


@pytest.fixture(scope="module")
def ctx():
    shutil.rmtree(run.WORK, ignore_errors=True)
    run.configure_env(trace=False)
    spark, sf_dir, _counts, _session = run.setup(SEED)
    yield run.Context(spark, sf_dir, SEED)
    spark.stop()
    run.shutdown_jvm()
    shutil.rmtree(run.WORK, ignore_errors=True)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_count_prunes_the_asof_join_and_the_digest_keeps_it(ctx):
    """q_asof_join is a union of events and orders with a carry-forward
    window.  count() lets Catalyst drop the orders side and the window;
    the digest action reads every column, so both stay in its plan."""
    from digest import digest_frame
    from streaming_spark.queries import REGISTRY

    df = REGISTRY["q_asof_join"](ctx.spark, ctx.sf_dir)
    counted = _optimized_plan(df.groupBy().count())
    digested = _optimized_plan(digest_frame(df))
    for kept in ("Window", "Union", "o_orderdate"):
        assert kept not in counted, kept
        assert kept in digested, kept


def test_digest_is_order_insensitive_and_normalizes_floats(ctx):
    from digest import digest

    spark = ctx.spark
    a = spark.createDataFrame(
        [(1, 0.1 + 0.2, "x"), (2, -0.0, None), (3, float("nan"), "z")],
        "id INT, v DOUBLE, s STRING",
    )
    b = spark.createDataFrame(
        [(3, float("nan"), "z"), (2, 0.0, None), (1, 0.3, "x")],
        "id INT, v DOUBLE, s STRING",
    )
    c = spark.createDataFrame(
        [(3, float("nan"), "z"), (2, 0.0, None), (1, 0.31, "x")],
        "id INT, v DOUBLE, s STRING",
    )
    assert digest(a) == digest(b)
    assert digest(a)[1] != digest(c)[1]


def test_ann_check_catches_a_missed_delete(ctx):
    """The maintained ANN view reranks against the whole corpus, so an
    index that kept a deleted id would return it and fail the check."""
    from digest import digest
    from streaming_spark.operators import similarity as sim

    lc = workloads.AnnLifecycle(ctx)
    lc.reset()
    for move in ("build", "append"):
        lc.move(move)
    hits = {r[0] for r in lc.view("append").select("neighbor_id").collect()}
    lc.takedown = sorted(hits)[:3]
    lc.move("tombstone")
    batch = digest(lc.batch("tombstone"))[1]
    assert digest(lc.view("tombstone"))[1] == batch
    # the same read without the tombstone ledger applied
    missed = sim.ivfpq_topk(lc.frame, lc.queries,
                            encoded=sim.ann_index_open(ctx.spark, lc.dir), **lc.kw)
    assert digest(missed)[1] != batch


def _traced_layers(ctx, workload: str) -> dict[str, int]:
    """Calls per ``layer.function`` over one traced pass of ``workload``."""
    ops = workloads.build_ops(workload, ctx)
    tracer = tracing.Tracer(ctx.spark)
    tracer.install()
    try:
        for op in ops:
            tracer.begin_op(op.name)
            tracer.end_op(op, op.run(ctx))
    finally:
        tracer.uninstall()
    return tracer.span_counts()


# the Python boundary of the stream layer; operators/stream.py also
# holds ensure_parallelism, a repartition helper that overlap_join uses
BOUNDARY = ("stream.stream", "stream.stream_arrow", "stream.stream_map")


def test_spans_load_each_layer_only_on_its_workload(ctx):
    calls = {w: _traced_layers(ctx, w) for w in workloads.WORKLOADS}

    def layer_calls(workload, prefixes):
        return sum(
            n for k, n in calls[workload].items() if k.startswith(prefixes)
        )

    assert layer_calls("process_stream", BOUNDARY) > 0
    assert layer_calls("relational", BOUNDARY) == 0
    assert layer_calls("index_maintenance", ("index.",)) > 0
    for other in ("relational", "process_stream", "curation"):
        assert layer_calls(other, ("index.",)) == 0, other
    assert layer_calls("relational", ("overlap.", "asof.")) > 0
    assert layer_calls("curation", ("dedup.", "similarity.", "fuzzy.", "text.")) > 0


def test_uninstall_restores_every_binding(ctx):
    from streaming_spark.operators import stream as stream_mod
    from streaming_spark.queries import REGISTRY, streamops

    before = (stream_mod.stream, streamops.stream, REGISTRY["q_tsv_pipe"])
    tracer = tracing.Tracer(ctx.spark)
    tracer.install()
    try:
        assert streamops.stream is stream_mod.stream is not before[0]
        assert REGISTRY["q_tsv_pipe"] is not before[2]
    finally:
        tracer.uninstall()
    assert (stream_mod.stream, streamops.stream, REGISTRY["q_tsv_pipe"]) == before

