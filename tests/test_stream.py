"""Core stream() operator contract — mirrors the reference's round-trip
matrix (reference tests/test_low.py:59-137) and map+finalize semantics
(reference py_pkg/scidbstrm/__init__.py:117-139)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from streaming_spark.operators.stream import pack_func, read_func, stream, stream_map


def make_typed_df(spark, n=1000, partitions=4):
    """Null-bearing all-types frame (FIXTURES.md F2 shape)."""
    df = spark.range(n).repartition(partitions)
    return df.select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id").cast("int")).alias("c_int32"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("c_int64"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") + 0.5)
        .alias("c_double"),
        F.when(F.col("id") % 3 == 1, None)
        .when(F.col("id") % 3 == 2, F.lit(""))
        .otherwise(F.concat(F.lit("abc"), F.col("id").cast("string")))
        .alias("c_string"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.encode(F.col("id").cast("string"), "utf-8"))
        .alias("c_binary"),
        F.when(F.col("id") % 17 == 0, None)
        .otherwise(F.col("id") % 2 == 0)
        .alias("c_bool"),
    )


def test_identity_roundtrip_all_types(spark):
    df = make_typed_df(spark)
    out = stream(df, lambda pdf: pdf, df.schema)
    a = df.orderBy("id").toPandas()
    b = out.orderBy("id").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_multi_chunk_identity(spark):
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        df = make_typed_df(spark, n=1000, partitions=2)
        out = stream(df, lambda pdf: pdf, df.schema)
        assert out.count() == 1000
        assert out.select(F.sum("id")).collect()[0][0] == 499500
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")


def test_none_emits_nothing(spark):
    df = spark.range(100).repartition(2)
    out = stream(df, lambda pdf: None, "x BIGINT")
    assert out.count() == 0


def test_finalize_runs_once_per_partition(spark):
    df = spark.range(100).repartition(4)
    out = stream(
        df,
        lambda pdf: None,
        "x BIGINT",
        finalize=lambda: pd.DataFrame({"x": [1]}),
    )
    assert out.count() == 4


def test_finalize_on_empty_input(spark):
    """Reference README.md:215-224: child runs on empty input, finalize
    message still arrives."""
    df = spark.range(100).filter(F.col("id") < -1).coalesce(1)
    out = stream(
        df,
        lambda pdf: None,
        "x BIGINT",
        finalize=lambda: pd.DataFrame({"x": [42]}),
    )
    rows = out.collect()
    assert [r.x for r in rows] == [42]


def test_provenance_coordinates(spark):
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        df = spark.range(200).repartition(2)
        out = stream(
            df,
            lambda pdf: pd.DataFrame({"n": [len(pdf)]}),
            "n BIGINT",
            provenance=True,
        ).toPandas()
        assert set(out.columns) == {"instance_id", "chunk_no", "value_no", "n"}
        assert set(out["instance_id"]) == {0, 1}
        # chunk_no counts up per partition; value_no restarts at 0 in
        # each response chunk, as pipe_df numbers it, so every one-row
        # chunk reads 0
        per_part = out.groupby("instance_id")["chunk_no"].apply(list)
        for chunks in per_part:
            assert chunks == sorted(chunks)
        assert out["n"].sum() == 200
        assert (out["value_no"] == 0).all(), out["value_no"].tolist()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")


def test_side_input_broadcast(spark):
    df = spark.range(10).repartition(2)
    side = {"offset": 1000}
    out = stream(
        df,
        lambda pdf, s: pd.DataFrame({"v": pdf["id"] + s["offset"]}),
        "v BIGINT",
        side_input=side,
    )
    assert out.select(F.min("v")).collect()[0][0] == 1000


def test_stream_map_schema_inference(spark):
    """R client precedent: schema(f, input) infers types from a sample
    (reference r_pkg/R/exported.R:37-52)."""
    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    out = stream_map(df, lambda pdf: pd.DataFrame({"doubled": pdf["v"] * 2}))
    assert [f.name for f in out.schema.fields] == ["doubled"]
    assert out.count() == 100


def test_pack_read_func_roundtrip(spark):
    def add_tax(pdf):
        return pd.DataFrame({"taxed": pdf["v"] * 1.1})

    packed = pack_func(add_tax)
    revived = read_func(packed)
    pdf = pd.DataFrame({"v": [1.0, 2.0]})
    pd.testing.assert_frame_equal(revived(pdf), add_tax(pdf))


def test_chunked_map_state_carry(spark):
    """Per-partition state accumulates across chunks (reference
    ex2.R:44-50 carry pattern)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        df = spark.range(100).coalesce(1)
        state = {"total": 0}

        def on_chunk(pdf):
            state["total"] += int(pdf["id"].sum())
            return None

        def finalize():
            return pd.DataFrame({"total": [state["total"]]})

        out = stream(df, on_chunk, "total BIGINT", finalize=finalize)
        assert out.collect()[0].total == 4950
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")


def test_chunk_rows_reslices_batches(spark):
    """chunk_size: parity (reference StreamSettings.h:272) — fn sees
    chunks of at most chunk_rows rows."""
    df = spark.range(1000).coalesce(1)
    out = stream(
        df,
        lambda pdf: pd.DataFrame({"n": [len(pdf)]}),
        "n BIGINT",
        chunk_rows=64,
    ).toPandas()
    assert out["n"].max() <= 64
    assert out["n"].sum() == 1000


def test_max_output_rows_guard(spark):
    """Response-size guard parity (reference TSVInterface.h:102)."""
    import pytest as _pytest

    df = spark.range(100).coalesce(1)
    big = stream(
        df,
        lambda pdf: pd.DataFrame({"x": range(1000)}),
        "x BIGINT",
        max_output_rows=10,
    )
    with _pytest.raises(Exception, match="max_output_rows|exceeds"):
        big.collect()


def test_avro_source_gated_without_module(spark, tmp_path):
    """Avro is an external Spark module (JAR deployment choice); absent
    on this box, the loader must fail with the clear deploy-hint error,
    not Spark's generic source-not-found (same contract as the Kafka
    source gate)."""
    import pytest

    from streaming_spark.io import load_table_avro

    with pytest.raises(NotImplementedError, match="spark-avro"):
        load_table_avro(spark, str(tmp_path / "x"))


def test_ensure_parallelism_sizing_and_key(spark):
    """r15 fan-out contract: the default target is size-adaptive
    (clamped to [min(8, cores), defaultParallelism] by the plan-stats
    byte estimate), the repartition key hashes only the narrowest
    column tier (never bulk payload columns), MapType columns are never
    hashed (hash expressions reject maps), and an explicit
    min_partitions is honored verbatim."""
    from streaming_spark.operators import stream as stream_mod
    from streaming_spark.operators.stream import _fanout_key, ensure_parallelism

    dp = spark.sparkContext.defaultParallelism

    # tiny input -> the floor, not defaultParallelism (when cores > 8)
    df = spark.range(100).coalesce(1).select(
        F.col("id"), F.encode(F.col("id").cast("string"), "utf-8").alias("blob")
    )
    n_small = ensure_parallelism(df)._jdf.rdd().getNumPartitions()
    assert n_small == min(8, dp)

    # the key hashes the narrow id column only, not the blob payload
    key_plan = ensure_parallelism(df)._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64(id" in key_plan
    assert "blob" not in key_plan.split("Exchange")[1].split("+-")[0]

    # a large byte estimate still reaches defaultParallelism
    old = stream_mod._FANOUT_TARGET_BYTES
    try:
        stream_mod._FANOUT_TARGET_BYTES = 1
        n_big = ensure_parallelism(df)._jdf.rdd().getNumPartitions()
        assert n_big == dp
    finally:
        stream_mod._FANOUT_TARGET_BYTES = old

    # explicit min_partitions wins over the estimate
    assert ensure_parallelism(df, 5)._jdf.rdd().getNumPartitions() == 5

    # rows unchanged (repartition is placement-only)
    assert ensure_parallelism(df).count() == 100

    # string tier when no fixed-width column exists
    sdf = df.select(F.col("id").cast("string").alias("s"), "blob")
    k = _fanout_key(sdf)
    assert k is not None and "s" in str(k._jc)

    # MapType is unhashable -> excluded; all-map frames fall back to
    # keyless round-robin (no AnalysisException)
    mdf = spark.range(50).coalesce(1).select(
        F.create_map(F.lit("k"), F.col("id")).alias("m")
    )
    assert _fanout_key(mdf) is None
    assert ensure_parallelism(mdf, 4).count() == 50
