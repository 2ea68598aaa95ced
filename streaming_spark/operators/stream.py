"""The ``stream()`` operator family — chunked table-in/table-out user code.

Reference semantics (Paradigm4/streaming):

- The plugin forks a child per instance and exchanges one chunk at a time
  over stdin/stdout as Arrow record batches (reference
  FeatherInterface.cpp:201-235, README.md:37-43).  In Spark the "child" is
  the Python worker itself and the Arrow exchange is built in: ``stream()``
  lowers to ``mapInPandas``/``mapInArrow``, a narrow per-partition
  transformation with zero intra-operator shuffle — exactly the
  reference's execution model (SURVEY.md section 3.1 step 6).
- The client contract is ``map(map_fun, finalize_fun)``: for each chunk,
  ``map_fun(pdf)`` produces an output chunk (``None`` ⇒ emit nothing); at
  end-of-stream ``finalize_fun()`` runs once and its result (``None`` ⇒
  nothing) is emitted (reference py_pkg/scidbstrm/__init__.py:117-139).
  ``stream_map`` reproduces that contract verbatim, including the
  "child runs even on empty input ⇒ finalize still emits" behavior
  (reference README.md:215-224).
- Output carries provenance coordinates ``[instance_id, chunk_no,
  value_no]`` recording which instance produced which response chunk
  (reference FeatherInterface.cpp:96-107).  Opt in via
  ``provenance=True``; ``instance_id`` is the Spark partition id.
- An optional second input array is delivered to the child *before* the
  main data (reference PhysicalStream.cpp:74-100) — used to ship models /
  lookup tables.  Spark-first this is a broadcast: pass ``side_input=``
  (a pandas DataFrame or any picklable object) and the map function is
  called as ``fn(pdf, side)``.

Scale notes: a narrow map over Arrow batches scales linearly with
partitions; batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory use is
O(batch), not O(partition).  No driver-side collection anywhere.
"""

from __future__ import annotations

import pickle
from collections import deque
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from streaming_spark.io import local_frame

_LIVE_BROADCASTS: deque = deque()
_MAX_LIVE_BROADCASTS = 16


def _broadcast_bounded(sc, payload):
    """``sc.broadcast`` with a bounded-lifetime registry: every
    ``stream(side_input=...)`` call (and the similarity module's query
    payloads) broadcasts, and a long session or a multi-config sweep
    would otherwise accumulate broadcast blocks on driver and executors
    until the closures are GC'd.  Oldest entries beyond the cap are
    ``unpersist``-ed (NOT destroyed): unpersist only drops the cached
    executor copies — a still-lazy plan that references an evicted
    broadcast transparently re-ships it from the driver on next use, so
    eviction can never break a pending DataFrame (pinned by
    test_broadcast_pool_eviction_never_breaks_lazy_plans)."""
    bc = sc.broadcast(payload)
    _LIVE_BROADCASTS.append(bc)
    while len(_LIVE_BROADCASTS) > _MAX_LIVE_BROADCASTS:
        old = _LIVE_BROADCASTS.popleft()
        try:
            old.unpersist(False)
        except Exception:
            pass  # a torn-down SparkContext has nothing left to free
    return bc


_PROVENANCE_FIELDS = [
    StructField("instance_id", LongType(), False),
    StructField("chunk_no", LongType(), False),
    StructField("value_no", LongType(), False),
]


def _with_provenance_schema(schema: StructType) -> StructType:
    return StructType(_PROVENANCE_FIELDS + list(schema.fields))


def _partition_id() -> int:
    """The running task's partition id, the reference's instance id (0
    outside a task)."""
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def _with_provenance(
    out: pd.DataFrame, instance_id: int, chunk_no: int
) -> pd.DataFrame:
    """``out`` with the leading ``instance_id, chunk_no, value_no``
    coordinates of one response chunk (reference
    FeatherInterface.cpp:96-107); ``value_no`` numbers the chunk's rows
    from 0 (SURVEY §3.1 step 5)."""
    out = out.copy()
    out.insert(0, "value_no", np.arange(len(out), dtype=np.int64))
    out.insert(0, "chunk_no", np.int64(chunk_no))
    out.insert(0, "instance_id", np.int64(instance_id))
    return out


def stream(
    df: DataFrame,
    fn: Callable[..., pd.DataFrame | None],
    schema: StructType | str,
    *,
    finalize: Callable[..., pd.DataFrame | None] | None = None,
    side_input: Any = None,
    provenance: bool = False,
    chunk_rows: int | None = None,
    max_output_rows: int | None = None,
) -> DataFrame:
    """Run ``fn`` over each Arrow chunk of each partition of ``df``.

    ``fn(pdf)`` (or ``fn(pdf, side)`` when ``side_input`` is given) maps a
    pandas chunk to an output pandas chunk with ``schema``; returning
    ``None`` emits nothing for that chunk.  ``finalize()`` (or
    ``finalize(side)``) runs once per partition after the last chunk —
    the reference's end-of-stream message (scidbstrm.map, reference
    py_pkg/scidbstrm/__init__.py:131-137).

    With ``provenance=True`` the output gains leading ``instance_id,
    chunk_no, value_no`` columns mirroring the reference's output
    coordinates (reference FeatherInterface.cpp:96-107): ``chunk_no``
    counts the partition's non-empty response chunks and ``value_no``
    restarts at 0 in each.

    ``chunk_rows`` is the per-call analog of the reference's
    ``chunk_size:`` keyword (reference StreamSettings.h:272): incoming
    Arrow batches are re-sliced so ``fn`` sees chunks of at most this many
    rows, regardless of the session-wide ``arrow.maxRecordsPerBatch``.

    ``max_output_rows`` is the per-chunk response-size guard (the
    reference caps child responses at 1 GiB, TSVInterface.h:102) — a
    chunk result exceeding it fails the task.
    """
    if isinstance(schema, str):
        out_schema = StructType.fromDDL(schema)
    else:
        out_schema = schema
    full_schema = _with_provenance_schema(out_schema) if provenance else out_schema
    spark = df.sparkSession
    side_bc = (
        _broadcast_bounded(spark.sparkContext, side_input)
        if side_input is not None
        else None
    )

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        instance_id = _partition_id()
        side = side_bc.value if side_bc is not None else None
        chunk_no = 0

        def emit(out: pd.DataFrame | None) -> Iterator[pd.DataFrame]:
            nonlocal chunk_no
            if out is None or len(out) == 0:
                return
            if max_output_rows is not None and len(out) > max_output_rows:
                raise RuntimeError(
                    f"stream(): chunk response of {len(out)} rows exceeds "
                    f"max_output_rows={max_output_rows} (reference caps "
                    "child responses, TSVInterface.h:102)"
                )
            if provenance:
                out = _with_provenance(out, instance_id, chunk_no)
            chunk_no += 1
            yield out

        def sliced(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            if chunk_rows is None:
                yield from it
                return
            for pdf in it:
                for lo in range(0, len(pdf), chunk_rows):
                    yield pdf.iloc[lo : lo + chunk_rows]

        for pdf in sliced(batches):
            result = fn(pdf, side) if side is not None else fn(pdf)
            yield from emit(result)
        if finalize is not None:
            result = finalize(side) if side is not None else finalize()
            yield from emit(result)

    return df.mapInPandas(runner, full_schema)


def stream_map(
    df: DataFrame,
    map_fun: Callable[[pd.DataFrame], pd.DataFrame | None],
    finalize_fun: Callable[[], pd.DataFrame | None] | None = None,
    schema: StructType | str | None = None,
) -> DataFrame:
    """API-compatible analog of ``scidbstrm.map(map_fun, finalize_fun)``
    (reference py_pkg/scidbstrm/__init__.py:117-139).

    Unlike the reference — where the output schema must be declared via
    ``types:``/``names:`` keywords (reference README.md:23-27) — the
    schema may be omitted and is then inferred by running ``map_fun`` on
    an empty sample, mirroring the R client's ``schema(f, input)`` helper
    (reference r_pkg/R/exported.R:37-52).
    """
    if schema is None:
        sample = df.limit(100).toPandas()
        probe = map_fun(sample)
        if probe is None and finalize_fun is not None:
            probe = finalize_fun()
        if probe is None:
            raise ValueError(
                "cannot infer schema: map_fun and finalize_fun returned None; "
                "pass schema= explicitly (the reference's types:/names: params)"
            )
        schema = local_frame(df.sparkSession, probe).schema
    return stream(df, map_fun, schema, finalize=finalize_fun)


def stream_arrow(
    df: DataFrame,
    fn: Callable[[Any], Any],
    schema: StructType | str,
) -> DataFrame:
    """Arrow-native variant of :func:`stream`: ``fn`` maps one
    ``pyarrow.RecordBatch`` to another — the exact unit the reference's
    feather protocol exchanges (one Arrow IPC record batch per chunk,
    reference FeatherInterface.cpp:254-355).  No pandas materialization;
    use for 1:1/bandwidth-bound transforms where the per-batch work is
    cheap."""

    def runner(batches):
        for batch in batches:
            out = fn(batch)
            if out is not None and out.num_rows > 0:
                yield out

    return df.mapInArrow(runner, schema)


# Fan-out sizing knob for ensure_parallelism: target bytes of (plan-
# estimated) input per partition when the caller does not pass an
# explicit count.  This is a DATA-VOLUME knob in the guide-§2.5 sense,
# sized for Python-heavy fan-outs where the per-partition cost floor is
# the Python-worker round-trip, not scan bandwidth.  That floor is ~70 ms
# per wave of warm tasks and ~110 ms for a one-task job on a 4-vCPU box
# (a trivial mapInArrow job less the same job without Python, warm
# local[4], under the engine's worker daemon); the target was sized when
# the floor was ~0.3 s and has not been re-tuned since.  Interleaved A/B
# at sf0.1 measured the resize pipeline at 0.65 s with ~64 KB/partition
# (12 partitions for its ~820 KB input) vs 1.04 s fanned to all 32
# cores, with the doc/embedding-sized consumers (minhash, brute-force
# ANN, broadcast cosine) showing the same ≤1 scaling from 8→32
# partitions and lineitem-sized consumers (binned-grid overlap joins,
# ~3.4 MB projected) degrading below 32 —
# one bytes target separates the two regimes.
_FANOUT_TARGET_BYTES = 64 << 10


def _fanout_key(df: DataFrame):
    """Cheapest deterministic repartition key for ``df``: up to two
    columns of the narrowest available type tier — fixed-width scalars
    (numeric/date/timestamp), else the first string, else the first
    hashable complex column.  Hashing a narrow stable column set is as
    deterministic and as well-spread as hashing every column (call
    sites lead with a unique id), without paying xxhash64 over bulk
    blob/text/array payload bytes per row just to pick a partition
    (VERDICT r14 #2).  MapType columns are never hashable
    (HASH_MAP_TYPE); returns None when no column is, and the caller
    falls back to keyless round-robin."""
    from pyspark.sql import types as T

    cheap: list[str] = []
    first_string: str | None = None
    first_other: str | None = None
    for f in df.schema.fields:
        t = f.dataType
        if isinstance(t, T.MapType):
            continue
        if isinstance(
            t,
            (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType),
        ):
            if len(cheap) < 2:
                cheap.append(f.name)
        elif isinstance(t, T.StringType):
            if first_string is None:
                first_string = f.name
        elif first_other is None:
            first_other = f.name
    cols = cheap or (
        [first_string] if first_string else ([first_other] if first_other else [])
    )
    if not cols:
        return None
    return F.xxhash64(*[F.col(c) for c in cols])


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition when the input has fewer partitions than the fan-out
    its data volume justifies.

    Fixture files have a single row group, so scans arrive as one
    partition regardless of ``maxPartitionBytes``; for Python-heavy maps
    the per-row compute dominates and a cheap shuffle first buys
    parallelism.  At 100 TB inputs are many-filed and this is a no-op —
    the guard keeps it from ever *reducing* parallelism.

    The default target is SIZE-ADAPTIVE (guide §2.5 — partition count
    is a data-volume knob): ``clamp(plan-estimated bytes /
    _FANOUT_TARGET_BYTES, min(8, defaultParallelism),
    defaultParallelism)``.  Fanning a ~5 k-row input to every core made
    each task's Python-worker round-trip the dominant cost — the r14
    driver measured 11 of 35 bench queries FASTER on 8 cores than 32,
    and the resize pipeline 3.5× faster — while byte-sized inputs
    (lineitem-scale) still reach defaultParallelism.  The size estimate
    is the optimizer's (already computed for this frame; no job), and
    an unknown/huge estimate degrades to defaultParallelism, i.e. the
    old behavior.  Callers whose per-row cost is extreme relative to
    bytes (O(n²) probe sides) should pass ``min_partitions`` explicitly.

    Partitioning key: a deterministic hash of the narrowest stable
    column set (:func:`_fanout_key`) instead of keyless round-robin —
    keyless ``repartition(n)`` first LOCALLY SORTS its input
    (``spark.sql.execution.sortBeforeRepartition``, on since
    SPARK-23207 so retried tasks reproduce their row→partition
    assignment), and that sort runs single-threaded on a one-row-group
    fixture scan.  A deterministic hash key needs no sort for retry
    safety (the guide's ``pmod(xxhash64(...))`` idiom) and spreads as
    evenly for non-duplicated rows.  Caveat: rows duplicated in the key
    columns co-locate (harmless for every caller — row-wise maps and
    joins only); frames with no hashable column (all-MapType) fall back
    to round-robin.
    """
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    if min_partitions is not None:
        target = min_partitions
    else:
        # stats on the SAME QueryExecution the partition probe below
        # uses — the optimized plan is computed once and memoized, so
        # this adds a tree visit, not a planning pass
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        target = min(dp, max(min(8, dp), est // _FANOUT_TARGET_BYTES))
    # partition count via the JVM query execution — df.rdd would build a
    # Python RDD wrapper and force a separate analysis pass per call
    n = df._jdf.rdd().getNumPartitions()
    if n < target:
        key = _fanout_key(df)
        if key is None:
            return df.repartition(target)
        return df.repartition(target, key)
    return df


def dense_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "i",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1-based global row numbering WITHOUT a single-partition window.

    ``row_number() OVER (ORDER BY ...)`` with no partition spec moves the
    entire input through one task — a scale-killer at 100 TB (VERDICT r2).
    This plans the classic partition-offset scheme instead, fully
    declaratively and lazily:

      1. range-partition on the order keys (global order across
         partitions) and sort within partitions;
      2. tag each row with its partition id and its partition-LOCAL
         position — the position comes from the low 33 bits of
         ``monotonically_increasing_id()`` (documented bit layout:
         ``pid << 33 | local_counter``), evaluated in the same stage as
         the sort, so NO window and NO extra shuffle over the fact rows;
      3. count rows per partition (map-side partial agg) and
         cumulative-sum into per-partition offsets — an unpartitioned
         window over ≤ ``num_partitions`` rows, bounded by cluster
         topology, not by data;
      4. broadcast-join the offsets back: ``i = offset + local + 1``.

    Steps 2 and 3 read the same range-shuffle; AQE's stage cache (keyed
    on the canonicalized exchange) computes it ONCE, which also
    guarantees both passes see identical partition boundaries
    (RangePartitioner samples per-exchange; stage reuse makes the sample
    shared — asserted in test_plans.py AND guarded at runtime below:
    with ``spark.sql.exchange.reuse`` disabled the two branches would
    each sample their own boundaries and silently mis-key the offsets,
    so this raises instead of planning a wrong query).  Task retries are
    safe PROVIDED ``order_cols`` is a (near-)unique key: shuffle-fetch
    order is nondeterministic and ``sortWithinPartitions`` gives no
    stable order to tied keys, so rows tied on ``order_cols`` may swap
    indexes across retries.  The index SET is always a correct dense
    1..N either way; include a tie-breaker column when row-to-index
    stability matters.

    Per-partition positions use the low 33 bits of
    ``monotonically_increasing_id``; a partition holding ≥ 2^33 rows
    (~8.6 B) would wrap the counter into the pid bits and collide.  The
    already-computed per-partition counts are checked at execution time
    (``raise_error`` inside the offset sum, so the check is load-bearing
    and cannot be pruned) — raise ``num_partitions`` if it ever fires.
    """
    spark = df.sparkSession
    if spark.conf.get("spark.sql.exchange.reuse", "true").lower() != "true":
        raise RuntimeError(
            "dense_index requires spark.sql.exchange.reuse=true: partition "
            "boundaries are only shared between the fact and counts branches "
            "via exchange reuse; without it the offsets would be keyed to "
            "different boundaries than the rows' partition ids"
        )
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_local", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        )
    )
    counts = parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    checked_n = F.when(
        F.col("_n") >= F.lit(1 << 33),
        F.raise_error(
            F.concat(
                F.lit("dense_index: partition "),
                F.col("_pid").cast("string"),
                F.lit(" holds >= 2^33 rows; raise num_partitions"),
            )
        ).cast("long"),
    ).otherwise(F.col("_n"))
    # inclusive running sum minus own count (not an exclusive frame):
    # every partition's checked_n enters the sum, so the overflow check
    # fires even for the last pid.
    # GLOBAL (unpartitioned) window — bounded by construction: its input
    # is the per-PARTITION count aggregate (one row per shuffle
    # partition, metadata-sized), never data rows.  A known
    # WindowExec-warning site the plan gate admits
    # (test_plans.py::test_registry_has_no_unbounded_global_window,
    # KNOWN_BOUNDED_GLOBAL_WINDOWS) — reached via q_unpack.
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "_pid", (F.sum(checked_n).over(w_off) - F.col("_n")).alias("_off")
    )
    return (
        parted.join(F.broadcast(offsets), "_pid")
        .withColumn(index_col, (F.col("_off") + F.col("_local") + 1).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def pack_func(func: Callable) -> bytes:
    """Serialize a function for shipping to workers.

    API shim for ``scidbstrm.pack_func`` (reference
    py_pkg/scidbstrm/__init__.py:98-105, dill → 1-cell binary array).
    Spark ships closures automatically via cloudpickle, so this exists
    for API parity: the bytes can be broadcast as a ``side_input`` and
    revived with ``read_func``.
    """
    from pyspark import cloudpickle

    return cloudpickle.dumps(func)


def read_func(packed: bytes) -> Callable:
    """Revive a function packed by :func:`pack_func` (analog of
    ``scidbstrm.read_func``, reference py_pkg/scidbstrm/__init__.py:108-114)."""
    return pickle.loads(packed)
