"""The benchmark's timed action: one Spark job that reads every column.

``count()`` lets Catalyst prune everything the row count does not need
(a join that cannot change cardinality, a window, whole input scans), so
timing it times a different plan from the one a caller who consumes the
result runs.  :func:`digest` instead hashes every output column of every
row, Spark-side, into the row count plus an order-insensitive
fingerprint; only three numbers come back to the driver.

Floats are normalized the way ``streaming_spark.oracle._norm_cell``
normalizes them before comparing with DuckDB: rounded to 9 decimals,
``-0.0`` folded into ``0.0``, every NaN the same NaN.  Nested arrays and
structs are normalized element-wise; maps become their sorted entries.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _norm(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        d = c.cast("double")
        return F.when(F.isnan(d), F.lit(float("nan"))).otherwise(
            F.round(d, 9) + F.lit(0.0)
        )
    if isinstance(dt, T.ArrayType):
        return F.transform(c, lambda x: _norm(x, dt.elementType))
    if isinstance(dt, T.StructType):
        return F.struct(*[
            _norm(c.getField(f.name), f.dataType).alias(f.name)
            for f in dt.fields
        ])
    if isinstance(dt, T.MapType):
        entry = T.StructType([
            T.StructField("key", dt.keyType),
            T.StructField("value", dt.valueType),
        ])
        return F.array_sort(_norm(F.map_entries(c), T.ArrayType(entry)))
    return c


def digest_frame(df: DataFrame) -> DataFrame:
    """One-row frame (rows, hash_sum, hash_xor) over every column of
    ``df``, with columns taken in name order (as the oracle compares)."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    if fields:
        h = F.xxhash64(*[_norm(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    else:
        h = F.lit(0).cast("long")
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(0)).alias("hash_sum"),
        F.coalesce(F.bit_xor("h"), F.lit(0)).alias("hash_xor"),
    )


def _fingerprint(row) -> str:
    return f"{row['rows']}:{row['hash_sum']}:{row['hash_xor']}"


def digest(df: DataFrame) -> tuple[int, str]:
    """Run the digest job; return (row count, fingerprint string)."""
    row = digest_frame(df).first()
    return int(row["rows"]), _fingerprint(row)


def digests(frames: dict[str, DataFrame]) -> dict[str, str]:
    """The fingerprints of several frames, from one Spark job."""
    if not frames:
        return {}
    parts = [
        digest_frame(df).select(F.lit(name).alias("name"), "*")
        for name, df in frames.items()
    ]
    rows = functools.reduce(DataFrame.unionByName, parts).collect()
    return {r["name"]: _fingerprint(r) for r in rows}
