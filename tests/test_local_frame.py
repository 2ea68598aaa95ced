"""``io.local_frame``: driver-built tables reach Spark as Arrow local
relations.  Parity with the list path it replaces, for the schema of
every list site under ``streaming_spark/``; no Spark job on collect;
and a registered query that builds local frames never parallelizes a
Python RDD."""

import pandas as pd
import pytest
from pyspark import SparkContext
from pyspark.sql import types as T

from streaming_spark.io import local_frame

# (site, schema) — one entry per list site, with the schema that site
# passes (dynamic parts instantiated the way the fixture queries do)
LIST_SITES = [
    ("curation_incremental.survivors", "doc_id BIGINT"),
    ("index_commit.read_table_or_empty:missing", "id BIGINT, bh BIGINT, band_id INT, pb INT"),
    (
        "index_commit.read_table_or_empty:unreadable",
        "id BIGINT, shingles ARRAY<BIGINT>, sig ARRAY<BIGINT>, sb INT",
    ),
    ("index_commit.ledger_ids", "`doc id` BIGINT"),
    ("neardup_index.reshard", "id BIGINT, bh BIGINT, band_id INT, pb INT"),
    (
        "curation.compact_files",
        "files_before BIGINT, files_after BIGINT, bytes_before BIGINT,"
        " bytes_after BIGINT, avg_file_bytes BIGINT",
    ),
    ("similarity.cosine_topk", "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT"),
    ("similarity.exact_nn:no_cells", "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT"),
    ("similarity.exact_nn:no_stats", "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT"),
    ("similarity.cosine_pairs_broadcast", "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"),
    ("similarity.cosine_pairs_blocked:empty", "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"),
    ("similarity.cosine_pairs_blocked:pruned", "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"),
    ("similarity.ann_index_drift", "cell INT, cnorm DOUBLE"),
    ("similarity.semdedup", "cell INT, centroid ARRAY<DOUBLE>"),
    (
        "windows.streaming_progress",
        "n_data_batches BIGINT, input_rows BIGINT, peak_state_rows BIGINT",
    ),
    ("windows.streaming_countmin", "cells ARRAY<BIGINT>"),
    ("windows.streaming_bloom", "words ARRAY<BIGINT>"),
    (
        "relational.input_jsonl_quarantine",
        "n_lines BIGINT, n_parsed BIGINT, n_quarantined BIGINT, parsed_chars BIGINT",
    ),
    (
        "northstar.text_bpe_train",
        "rank BIGINT, left STRING, right STRING, merged STRING, train_coverage DOUBLE",
    ),
    ("northstar.cluster_cohesion", "cell INT, centroid ARRAY<DOUBLE>"),
    (
        "northstar.ann_topk_ivfpq_pruned",
        "layout STRING, files_total INT, files_read INT, rows_total BIGINT,"
        " rows_matched BIGINT, result_md5 STRING",
    ),
    ("northstar.ann_index_maintenance:topk", "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE, rank INT"),
    (
        "northstar.ann_index_maintenance",
        "phase STRING, rows BIGINT, cells INT, served_md5 STRING, rebuild_md5 STRING",
    ),
    (
        "northstar.ann_index_drift",
        "arm STRING, assignment_tv DOUBLE, resid_ratio DOUBLE, n_delta BIGINT,"
        " drifted BOOLEAN",
    ),
    (
        "northstar.neardup_index_maintenance",
        "phase STRING, rows BIGINT, pairs BIGINT, index_md5 STRING, batch_md5 STRING",
    ),
    (
        "northstar.digest_index_maintenance",
        "phase STRING, rows BIGINT, info BIGINT, index_md5 STRING, batch_md5 STRING",
    ),
    (
        "northstar.text_unigram_train",
        "rank BIGINT, piece STRING, log_prob DOUBLE, piece_len INT, train_coverage DOUBLE",
    ),
    ("curation.dsir_scores", "bucket STRING, c_r BIGINT, c_t BIGINT"),
    ("curation.lm_perplexity", "tok STRING, c BIGINT NOT NULL"),
    ("curation.domain_mix", "source STRING, wt DOUBLE"),
    (
        "curation.incremental_curation_maintenance",
        "phase STRING, rows BIGINT, info BIGINT, incremental_md5 STRING,"
        " batch_md5 STRING",
    ),
]


def _value(dt: T.DataType, i: int):
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return 7 - 5 * i
    if isinstance(dt, T.DoubleType):
        return 0.1 + i
    if isinstance(dt, T.StringType):
        return ["a|b", "", "ü\tz"][i % 3]
    if isinstance(dt, T.BooleanType):
        return i % 2 == 0
    if isinstance(dt, T.ArrayType):
        elems = [_value(dt.elementType, j) for j in range(i + 1)]
        return elems + [None] if dt.containsNull else elems
    raise AssertionError(f"no sample value for {dt}")


def _rows(schema: T.StructType) -> list[tuple]:
    """A typed row, a row with every nullable field NULL, and a row of
    empty arrays — the shapes the sites send."""
    fields = schema.fields
    full = tuple(_value(f.dataType, 0) for f in fields)
    nulls = tuple(
        None if f.nullable else _value(f.dataType, 1) for f in fields
    )
    empties = tuple(
        [] if isinstance(f.dataType, T.ArrayType) else _value(f.dataType, 2)
        for f in fields
    )
    return [full, nulls, empties]


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("local-frame-idle", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("site,ddl", LIST_SITES, ids=[s for s, _ in LIST_SITES])
def test_local_frame_matches_list_path(spark, site, ddl):
    schema = T._parse_datatype_string(ddl)
    for rows in ([], _rows(schema)):
        ref = spark.createDataFrame(rows, ddl)
        got = local_frame(spark, rows, ddl)
        assert got.schema == ref.schema
        collected, n_jobs = _jobs(spark, f"lf-{site}-{len(rows)}", got.collect)
        assert collected == ref.collect()
        assert n_jobs == 0
    # a StructType schema (the collected-frame sites pass `.schema`)
    assert local_frame(spark, _rows(schema), schema).collect() == (
        spark.createDataFrame(_rows(schema), schema).collect()
    )


def test_local_frame_reads_rows_by_position(spark):
    from pyspark.sql import Row

    rows = [Row(b=1, a="x"), (2, "y")]
    got = local_frame(spark, rows, "n BIGINT, s STRING")
    assert got.collect() == spark.createDataFrame(rows, "n BIGINT, s STRING").collect()


def test_local_frame_pandas_matches_arrow_inference(spark):
    pdf = pd.DataFrame(
        {
            "event_type": ["a", "b"],
            "exact_n": [3, 4],
            "estimate_n": [3, 5],
            "share": [0.5, None],
        }
    )
    ref = spark.createDataFrame(pdf)
    got = local_frame(spark, pdf)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    typed = local_frame(spark, pdf[["exact_n"]], "exact_n INT")
    assert typed.schema == T.StructType([T.StructField("exact_n", T.IntegerType())])
    # an empty pandas frame, which Spark's own Arrow path hands to the
    # list path, stays a local relation here
    empty, n_jobs = _jobs(
        spark, "lf-empty-pdf",
        lambda: local_frame(spark, pdf.iloc[:0], "event_type STRING, exact_n BIGINT,"
                            " estimate_n BIGINT, share DOUBLE").collect(),
    )
    assert empty == [] and n_jobs == 0


def test_local_frame_refusals(spark):
    with pytest.raises(TypeError, match="needs a schema"):
        local_frame(spark, [(1,)])
    with pytest.raises(TypeError, match="timestamp or date"):
        local_frame(spark, [(None,)], "ts TIMESTAMP")
    with pytest.raises(TypeError, match="timestamp or date"):
        local_frame(spark, [([None],)], "ds ARRAY<DATE>")
    assert local_frame(spark, [], "ts TIMESTAMP").collect() == []
    # the list path's schema check refuses a NULL in a NOT NULL field;
    # an Arrow relation would carry it silently
    with pytest.raises(ValueError, match="non-nullable field 'c'"):
        local_frame(spark, [("a", None)], "tok STRING, c BIGINT NOT NULL")
    with pytest.raises(ValueError, match="non-nullable field 'id'"):
        local_frame(
            spark, pd.DataFrame({"id": [1.0, None]}),
            T.StructType([T.StructField("id", T.DoubleType(), False)]),
        )


@pytest.mark.parametrize("name", ["q_dsir_weights", "q_lm_perplexity"])
def test_query_runs_without_python_rdd(spark, monkeypatch, name):
    """The two curation ops that rebuild a collected table on the driver
    run to ``collect()`` without ``SparkContext.parallelize`` — no
    pickled Python RDD, so no second ``pyspark.daemon``."""
    from streaming_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    def refuse(*args, **kwargs):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    assert len(REGISTRY[name](spark, SF_SMOKE).collect()) > 0
