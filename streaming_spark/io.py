"""Fixture loaders for the driver's parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under
/root/testdata/sf{0.001,0.01,0.1}/.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    MapType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# footer-schema memo, keyed by (path, mtime, size): spark.read.parquet
# runs schema inference per CALL (~120 ms of driver/py4j work on this
# box — measured 5-6x the cost of a schema-supplied read), and query
# builders load the same immutable fixture tables on every invocation.
# Caching only the SCHEMA (metadata, never rows) and re-issuing the
# scan with .schema(...) keeps every execution reading the parquet from
# disk while skipping the repeated inference; it is also the deployment
# idiom — production readers declare schemas rather than sample
# footers.  The mtime/size key invalidates the memo when a file at a
# cached path is rewritten with a different schema (reused tmp dirs,
# regenerated fixtures — ADVICE r14); the os.stat is ~µs against the
# ~120 ms it saves.  Distinct scale factors never collide (distinct
# paths), and tests can drop entries via ``_SCHEMA_CACHE.clear()``.
_SCHEMA_CACHE: dict = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # directory-style parquet (or racing writer): stat the dir's
        # own entry; fall back to path-only keying if even that fails
        key = (path, None, None)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — columnar, splittable, predicate-pushdown friendly.

    The reference's only bulk sources are delimited text
    (aio_input/input, SURVEY.md section 2.3); parquet is the scale-correct
    upgrade and the driver's fixture format.

    ``events`` stores TIMESTAMP(NANOS), which Spark's parquet reader
    rejects; it is read via ``nanosAsLong`` and converted to a
    microsecond timestamp so every caller sees a proper ``ts``.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(_read_parquet(spark, table_path(sf_dir, name)))
    return _read_parquet(spark, table_path(sf_dir, name))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize a raw events frame's ``ts`` to a microsecond timestamp.

    Spark <= 4.0 honors ``spark.sql.legacy.parquet.nanosAsLong`` (ts
    arrives as bigint nanos, needs the explicit conversion); Spark >= 4.1
    reads TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ truncated to µs.
    NTZ must then be cast to TIMESTAMP: ``withWatermark`` rejects NTZ
    event-time columns (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and the
    session timezone is pinned to UTC (session.py) so the cast is
    value-preserving — wall-clock fields and epoch both unchanged.
    Every reader of the events fixture (batch, streaming, tests) must go
    through this guard — an unconditional ``ts / 1000`` breaks on one
    version or the other."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def _has_datetime(dt: DataType) -> bool:
    if isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
        return True
    if isinstance(dt, ArrayType):
        return _has_datetime(dt.elementType)
    if isinstance(dt, MapType):
        return _has_datetime(dt.keyType) or _has_datetime(dt.valueType)
    if isinstance(dt, StructType):
        return any(_has_datetime(f.dataType) for f in dt.fields)
    return False


def local_frame(
    spark: SparkSession,
    data,
    schema: StructType | str | None = None,
) -> DataFrame:
    """A table built on the driver, handed to Spark as an Arrow local
    relation — the one way ``streaming_spark`` calls ``createDataFrame``.

    ``createDataFrame(list)`` parallelizes the rows into a pickled
    Python RDD, and that RDD runs on a ``pyspark.daemon`` of its own,
    beside the one the Arrow UDFs share: a second daemon and its
    workers, forked for a handful of rows.  Here the rows become a
    ``pyarrow.Table`` column by column (the reference's one columnar
    wire, FeatherInterface.cpp:254-355) and Spark keeps it as a local
    relation: collecting it runs no Spark job and starts no Python
    worker.

    ``data`` is a list of rows (tuples or ``Row``s, read by position as
    the list path reads them) or a pandas DataFrame.  List input needs
    ``schema`` (a ``StructType`` or DDL string).  Rows under a timestamp
    or date field raise ``TypeError``: the list path reads naive
    datetimes as local time, and no site here sends one (an empty list
    carries no value to misread, so it is allowed).  Pandas input
    without a schema takes the schema Spark's Arrow path infers.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if isinstance(data, pd.DataFrame):
        if schema is None:
            schema = from_arrow_schema(
                pa.Schema.from_pandas(data, preserve_index=False)
            )
        table = pa.Table.from_pandas(data, preserve_index=False)
    else:
        if schema is None:
            raise TypeError("local_frame: list input needs a schema")
        rows = list(data)
        if rows and _has_datetime(schema):
            raise TypeError(
                f"local_frame: list rows with a timestamp or date field "
                f"({schema.simpleString()}); send a pandas DataFrame instead"
            )
        arrow_schema = to_arrow_schema(schema)
        table = pa.Table.from_arrays(
            [
                pa.array([r[i] for r in rows], type=f.type)
                for i, f in enumerate(arrow_schema)
            ],
            schema=arrow_schema,
        )
    for f, column in zip(schema.fields, table.columns):
        if not f.nullable and column.null_count:
            raise ValueError(
                f"local_frame: NULL in non-nullable field {f.name!r}"
            )
    return spark.createDataFrame(table, schema)


def load_table_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro twin of the parquet loaders (the warehouse interchange
    format Kafka-ecosystem pipelines hand off): same frame out, so every
    downstream operator is source-agnostic and swapping formats is THIS
    function and nothing else.  Spark ships Avro as an EXTERNAL module
    (a JAR deployment choice, not a code change — same contract as
    streaming/core.py read_events_kafka); absent here, this raises a
    clear error instead of Spark's generic source-not-found."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        # Only the MODULE-ABSENT failure is reclassified; with
        # spark-avro installed, a corrupt/unreadable file (whose error
        # text typically also mentions 'avro') must surface as-is
        # (ADVICE r5).  Spark raises error class DATA_SOURCE_NOT_FOUND
        # ("Failed to find the data source: avro") when the module is
        # missing.
        msg = str(exc)
        if not (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find the data source" in msg
            or "Failed to find data source" in msg
        ):
            raise
        raise NotImplementedError(
            "load_table_avro requires the spark-avro module on the "
            "classpath (deploy with --packages org.apache.spark:"
            "spark-avro_2.13:<spark-version>); not installed in this "
            "environment — use the parquet/csv/jsonl/orc loaders here"
        ) from exc
