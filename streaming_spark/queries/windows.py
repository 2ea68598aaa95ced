"""Event-time window queries over the ``events`` fixture.

The reference has NO event-time semantics — "streaming" there means
pipelined chunk exchange (SURVEY.md §2.6).  These are the Structured
Streaming-shaped extensions; each is expressed so the SAME code runs in a
batch DataFrame (oracle-checkable here) and behind ``readStream`` (tested
in tests/test_streaming.py with watermarks).

All outputs use epoch seconds for window bounds — timezone-free and
identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_spark.io import local_frame
from streaming_spark.scratch import scratch_dir
from streaming_spark.queries.curation import (
    _CURATE_CORPUS_ORACLE,
    _DECONTAMINATE_ORACLE,
    _DSIR_ORACLE,
    _LINE_DEDUP_ORACLE,
)
from streaming_spark.queries.northstar import (
    _BM25_ORACLE,
    _DUP_SPANS_ORACLE,
    _ENTITY_RESOLVE_ORACLE,
    _PHRASE_MATCH_ORACLE,
    _SEMANTIC_DECON_ORACLE,
)
from streaming_spark.queries.registry import T, events_table, query


_TUMBLING_ORACLE = """
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS win_start,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY win_start
    """


@query("q_tumbling_window", oracle=_TUMBLING_ORACLE)
def q_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time window aggregate.  Spark's window() is
    epoch-aligned, matching DuckDB's time_bucket."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_sliding_window",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)
                      - k.k * INTERVAL '30 minutes') AS BIGINT) AS win_start,
           count(*) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1)) k(k)
    GROUP BY win_start
    """,
)
def q_sliding_window(spark, sf_dir):
    """Sliding window: 1 hour long, 30-minute slide — every event lands in
    exactly two windows."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"), "n_events"
        )
    )


_SESSION_WINDOW_ORACLE = """
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marks
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
           CAST(floor(epoch(max(ts) + INTERVAL '10 minutes')) AS BIGINT) AS sess_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """


@query("q_session_window", oracle=_SESSION_WINDOW_ORACLE)
def q_session_window(spark, sf_dir):
    """Session windows with a 10-minute inactivity gap, per user.  The
    oracle is the classic gaps-and-islands formulation; Spark's
    session_window merges events where ts < previous session end
    (start of session + gap), i.e. a gap >= 10 min opens a new session."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("sess_start"),
            F.unix_timestamp(F.col("w.end")).alias("sess_end"),
            "n_events",
        )
    )


# shared by q_session_transcripts and its streaming fragment-merge twin
_SESSION_TRANSCRIPTS_ORACLE = """
    WITH marks AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marks)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           CAST(sum(length(event_type)) + count(*) - 1 AS BIGINT)
             AS n_chars,
           md5(string_agg(event_type, ' ' ORDER BY ts, event_id))
             AS transcript_hash
    FROM sessions GROUP BY user_id, session_no
"""


@query("q_session_transcripts", oracle=_SESSION_TRANSCRIPTS_ORACLE)
def q_session_transcripts(spark, sf_dir):
    """Conversation-data assembly: sessionize each user's event stream
    (10-minute inactivity gap, the q_session_window constant) and
    render every session as an ORDERED transcript — the step that
    turns interaction logs into chat-style training sequences.  Output
    is per (user, session): event count, transcript length, and the
    md5 of the space-joined event-type sequence in (ts, event_id)
    order, which the oracle recomputes — so the assembly order itself
    is verified byte-for-byte, not just the counts.  Gap comparison is
    microsecond-exact on both sides (unix_micros / epoch_us; whole-
    second truncation would misplace sub-second boundary events).

    Scale: ONE keyed shuffle (user_id) serves both the gaps-and-islands
    numbering and the per-session fold — the groupBy reuses the
    window's partitioning; transcripts are collected per session only
    (bounded by session length, not user history)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_session = (
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) >= 600_000_000)
    ).cast("bigint")
    sessions = ev.withColumn(
        "session_no",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.length("event_type")) + F.count(F.lit(1)) - 1)
        .cast("bigint")
        .alias("n_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                " ",
            )
        ).alias("transcript_hash"),
    )


@query("q_streaming_session_transcripts", oracle=_SESSION_TRANSCRIPTS_ORACLE)
def q_streaming_session_transcripts(spark, sf_dir):
    """Session-transcript assembly as CONTINUOUS INGEST — the
    fragment-merge twin of q_session_transcripts, and a new carried-
    state shape in the twin family: each micro-batch sessionizes ITS
    OWN events into maximal batch-local session FRAGMENTS (start_us,
    end_us, ordered transcript, n_events) and lands them in a
    batch-keyed idempotent sink; fragments are a mergeable sufficient
    statistic because the batch gap rule and the cross-batch gap rule
    are the SAME rule at different granularity — two adjacent
    fragments fuse iff next.start − prev.end < the 10-minute gap, so
    re-running gaps-and-islands AT FRAGMENT LEVEL over the accumulated
    sink reconstructs every session exactly, transcripts concatenated
    in time order.  Same oracle as the batch query, byte-for-byte
    transcript hashes.

    Correctness precondition (same as q_streaming_rolling_mean): the
    event stream is globally time-ordered across files, so one user's
    later batch never contains earlier events — fragments per user are
    time-disjoint and ordered by start_us.  Sink growth is O(sessions
    touched per batch), and the merge pass reads fragments, never raw
    events — at 100 TB the compaction job is session-sized."""
    from streaming_spark.streaming import read_events_stream

    sink_dir = scratch_dir("sessfrag") + "/t"
    ev_stream = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    gap_us = 600_000_000

    def land_fragments(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        us = F.unix_micros("ts")
        new_s = (
            F.lag(us).over(w).isNull()
            | (us - F.lag(us).over(w) >= gap_us)
        ).cast("bigint")
        frags = (
            batch_df.withColumn(
                "frag",
                F.sum(new_s).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .groupBy("user_id", "frag")
            .agg(
                F.min(us).alias("start_us"),
                # first event_id: the merge pass's tie-break when two
                # same-user fragments share start_us (events at one
                # timestamp straddling a file boundary) — without it
                # the fragment sort falls through to the transcript
                # STRING, which need not match event order
                F.min("event_id").alias("first_event_id"),
                F.max(us).alias("end_us"),
                F.count(F.lit(1)).alias("n_events"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda x: x["event_type"],
                    ),
                    " ",
                ).alias("transcript"),
            )
            .drop("frag")
        )
        _land_batch(
            frags,
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(ev_stream, land_fragments, "q_streaming_session_transcripts")

    frags = spark.read.parquet(sink_dir).select(
        "user_id",
        "start_us",
        "first_event_id",
        "end_us",
        "n_events",
        "transcript",
    )
    w2 = Window.partitionBy("user_id").orderBy("start_us", "first_event_id")
    new_sess = (
        F.lag("end_us").over(w2).isNull()
        | (F.col("start_us") - F.lag("end_us").over(w2) >= gap_us)
    ).cast("bigint")
    merged = (
        frags.withColumn(
            "session_no",
            F.sum(new_sess).over(
                w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("start_us", "first_event_id", "transcript")
                        )
                    ),
                    lambda x: x["transcript"],
                ),
                " ",
            ).alias("transcript"),
        )
    )
    return merged.select(
        "user_id",
        F.col("session_no").cast("bigint").alias("session_no"),
        "n_events",
        F.length("transcript").cast("bigint").alias("n_chars"),
        F.md5("transcript").alias("transcript_hash"),
    )


@query(
    "q_dedup_events",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def q_dedup_events(spark, sf_dir):
    """Keyed streaming-style dedup: keep the first event per
    (user, event_type) — the deterministic form of dropDuplicates
    (streaming twin: dropDuplicates + watermark)."""
    ev = events_table(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


@query(
    "q_event_type_rollup",
    oracle="""
    SELECT event_type,
           CAST(epoch(time_bucket(INTERVAL '1 day', ts)) AS BIGINT) AS day_start,
           count(*) AS n,
           round(avg(value), 6) AS avg_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type, day_start
    """,
)
def q_event_type_rollup(spark, sf_dir):
    """Hypertable-style daily rollup per event type — the
    continuous-aggregate pattern (time-bucketed groupBy; in streaming
    form this runs incrementally with a watermark)."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy("event_type", F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).alias("day_start"),
            "n",
            "avg_value",
            "max_value",
        )
    )


@query(
    "q_user_activity_topk",
    oracle="""
    SELECT user_id, n_events, rank FROM (
      SELECT user_id, count(*) AS n_events,
             row_number() OVER (ORDER BY count(*) DESC, user_id) AS rank
      FROM events GROUP BY user_id) t
    WHERE rank <= 20
    """,
)
def q_user_activity_topk(spark, sf_dir):
    """Top-20 most active users — agg + distributed top-k.

    The sort+limit plans as TakeOrderedAndProject (per-partition top-20
    heaps merged on the driver) — the engine never funnels every distinct
    user through one partition the way a global row_number window over the
    full aggregate would (fixed per VERDICT r2; same delegation as
    q_top_customers, test_plans.py).  Rank is then a row_number window over
    the ALREADY-LIMITED frame: a single-partition sort of ≤20 rows, which
    is harmless and keeps the query lazy (no collect at construction —
    ADVICE r3)."""
    ev = events_table(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    top = agg.orderBy(F.col("n_events").desc(), F.col("user_id")).limit(20)
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("user_id", "n_events", "rank")
    )


def _stage_stream_dir(
    sf_dir: str,
    n_files: int = 4,
    event_type: str | None = None,
    sentinel_advance_s: int | None = None,
) -> str:
    """Re-materialize the events table as ``n_files`` part files (with
    ascending mtimes, so the file source discovers them in order) — the
    finite stand-in for an unbounded source; each file becomes one
    micro-batch.  ``event_type`` filters to a single type (for
    stream-stream joins where the two sides are different substreams).

    ``sentinel_advance_s`` appends a LAST file holding one marker row
    (user_id = -1) whose ts sits that many seconds past the stream's max
    event time.  Outer-join null rows and other watermark-gated state
    only flush once the watermark PASSES the stalled rows; on a finite
    stream the watermark otherwise parks at max_ts - delay and the last
    unmatched rows never emit.  The sentinel drives the watermark past
    everything real (Spark's no-data micro-batch then flushes state);
    queries filter user_id < 0 back out."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from streaming_spark.io import table_path

    stream_dir = scratch_dir("stream")
    table = pq.read_table(table_path(sf_dir, "events"))
    max_ts = pc.max(table["ts"]).as_py()
    if event_type is not None:
        table = table.filter(pc.equal(table["event_type"], event_type))
    step = (table.num_rows + n_files - 1) // n_files
    # mtimes ascend 1s apart but END ~2s before NOW: a deep backdate
    # (this used now-1000) made the just-staged dir the oldest thing
    # under the scratch root, i.e. the FIRST victim of the LRU sweep a
    # later scratch_dir("ckpt") call triggers — live stream input
    # deleted mid-query in a capped long session
    base = int(_time.time()) - n_files - 2
    for i in range(n_files):
        path = os.path.join(stream_dir, f"part-{i}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        os.utime(path, (base + i, base + i))
    if sentinel_advance_s is not None:
        one = table.slice(0, 1)
        import datetime as _dt

        far = max_ts + _dt.timedelta(seconds=sentinel_advance_s)
        one = one.set_column(
            one.schema.get_field_index("ts"),
            "ts",
            pa.array([far], type=one.schema.field("ts").type),
        )
        one = one.set_column(
            one.schema.get_field_index("user_id"),
            "user_id",
            pa.array([-1], type=one.schema.field("user_id").type),
        )
        path = os.path.join(stream_dir, f"part-{n_files}.parquet")
        pq.write_table(one, path)
        os.utime(path, (base + n_files, base + n_files))
    return stream_dir


def _stage_docs_stream_dir(
    sf_dir: str, n_files: int = 3, table_name: str = "documents"
) -> str:
    """Re-materialize a fixture table as ``n_files`` mtime-ordered part
    files — the finite stand-in for an ingest stream (same mechanism as
    :func:`_stage_stream_dir` for events)."""
    import os
    import time as _time

    import pyarrow.parquet as pq

    from streaming_spark.io import table_path

    stream_dir = scratch_dir("docstream")
    table = pq.read_table(table_path(sf_dir, table_name))
    step = (table.num_rows + n_files - 1) // n_files
    # recent mtimes (see _stage_stream_dir): ascending for discovery
    # order, ending ~2s before NOW so the LRU sweep never picks the
    # live stream input as its oldest victim
    base = int(_time.time()) - n_files - 2
    for i in range(n_files):
        path = os.path.join(stream_dir, f"part-{i}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        os.utime(path, (base + i, base + i))
    return stream_dir


def _stream_conf(spark, state_partitions: int | None):
    """Save/set the shuffle-partition conf for a FINITE fixture stream
    run; returns a restore thunk for the caller's finally.  Stateful
    micro-batch cost is dominated by per-partition state-store
    get/put/commit — at gate scale (a few thousand rows per stream) 32
    state partitions cost ~2.5 s PER BATCH in pure store overhead
    (measured: q_streaming_join_outer 19 s → 8 s at 4-8 partitions,
    identical rows; VERDICT r8 #4), while at deployment scale the
    partition count should track the cluster, so the runners take an
    explicit fixture-sized default and restore the session conf after
    the stream terminates.  Partitioning never changes results — the
    oracle-parity contracts of every streaming twin are content-
    deterministic — so this is a physical knob only.

    The knob is PER-OPERATOR (scripts/scale.py --family streaming,
    ``-p8`` vs ``-p32`` cases): the
    stateful rolling MAP inverts at volume — at 1M/4M events it runs
    ~2x faster at 32 state partitions than at 8 (21 vs 39 s, 59 vs
    143 s), because its compute scales with rows and amortizes the
    per-partition store cost — while the stream-stream JOIN stays
    faster at 8 even at 4M (15 vs 37 s): its state is bounded by the
    watermark horizon, not N, so the four-stores-per-partition-per-side
    overhead never amortizes.  Size state partitions to per-batch
    state+compute volume, not to a global rule; the 8 here is
    fixture-sized by design."""
    key = "spark.sql.shuffle.partitions"
    if state_partitions is None:
        return lambda: None
    prev = spark.conf.get(key)
    spark.conf.set(key, str(state_partitions))
    return lambda: spark.conf.set(key, prev)


_STATE_PARTITIONS = 8  # fixture-scale state-store count (see _stream_conf)


def _run_until_watermark(
    df,
    sink_name: str,
    min_watermark,
    timeout_s: int = 300,
    state_partitions: int | None = _STATE_PARTITIONS,
):
    """Run a streaming DF in append mode until the engine's event-time
    watermark has PASSED ``min_watermark`` (a datetime) in a committed
    batch, then stop and return the sink table.

    Why not availableNow: watermark-gated output (outer-join nulls,
    evicted sessions) emits in the batch AFTER the one that ingested the
    watermark-advancing rows — and availableNow terminates as soon as
    the file snapshot is consumed, skipping that trailing no-data batch
    (measured here: the sentinel batch runs, its watermark update is
    committed, the flush batch never fires).  A processing-time trigger
    keeps no-data micro-batches coming; we watch query progress until a
    committed batch reports a watermark past everything real, which
    proves the flush batch has already run with it."""
    import datetime as _dt
    import time as _time

    restore = _stream_conf(df.sparkSession, state_partitions)
    try:
        # start() is INSIDE the conf window's try: a builder/analysis
        # failure (bad checkpoint dir, sink-name collision) must still
        # restore the session's shuffle-partition conf (r9 review)
        q = (
            df.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode("append")
            .option("checkpointLocation", scratch_dir("ckpt"))
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        deadline = _time.time() + timeout_s
        try:
            while _time.time() < deadline:
                if not q.isActive:
                    # a dead query's watermark never advances — re-raise
                    # its own failure instead of spinning to a masking
                    # timeout
                    exc = q.exception()
                    if exc is not None:
                        raise exc
                    raise RuntimeError(
                        f"streaming query {sink_name} terminated before "
                        f"the watermark passed {min_watermark}"
                    )
                prog = q.lastProgress
                wm = (prog or {}).get("eventTime", {}).get("watermark")
                if wm is not None:
                    wm_dt = _dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
                    if wm_dt >= min_watermark:
                        break
                _time.sleep(0.2)
            else:
                raise TimeoutError(
                    f"streaming query {sink_name}: watermark never reached "
                    f"{min_watermark} within {timeout_s}s"
                )
        finally:
            q.stop()
    finally:
        restore()
    q.awaitTermination(60)
    return df.sparkSession.table(sink_name)


def _run_foreach_batch(
    stream_df,
    land,
    label: str,
    timeout_s: int = 300,
    state_partitions: int | None = _STATE_PARTITIONS,
) -> None:
    """Run a finite file-backed stream to completion through a
    ``foreachBatch`` landing function — availableNow trigger, fresh
    scratch checkpoint, bounded wait.  ONE implementation for the ~19
    foreachBatch queries in this module (the run block was copy-pasted
    per query until round 8), so exception/timeout behavior has a
    single owner: ``awaitTermination`` re-raises the query's own
    failure; the timeout only fires when the query is genuinely stuck,
    and stops it before raising so the session is not left holding a
    zombie stream."""
    restore = _stream_conf(stream_df.sparkSession, state_partitions)
    try:
        q = (
            stream_df.writeStream.foreachBatch(land)
            .option("checkpointLocation", scratch_dir("ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"{label} did not finish within {timeout_s}s")
    finally:
        restore()


def _land_batch(df, batch_id, sink_dir: str) -> None:
    """Idempotent batch landing: overwrite exactly this batch's
    partition of the parquet sink (dynamic partition overwrite keyed by
    ``__batch``), so a replayed micro-batch after a checkpoint recovery
    rewrites its own output instead of duplicating it — the shared sink
    discipline of every foreachBatch query here."""
    (
        df.withColumn("__batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(sink_dir)
    )


def _max_event_ts(sf_dir: str):
    """Max event timestamp of the events fixture (driver-side pyarrow
    read of one column — cheap, and only used to pick sentinel/flush
    thresholds for finite streaming runs)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from streaming_spark.io import table_path

    return pc.max(pq.read_table(table_path(sf_dir, "events"), columns=["ts"])["ts"]).as_py()


def _run_to_memory_sink(
    df,
    sink_name: str,
    output_mode: str,
    state_partitions: int | None = _STATE_PARTITIONS,
):
    """Execute a finite streaming query to a memory sink (availableNow)
    and return the final result table."""

    restore = _stream_conf(df.sparkSession, state_partitions)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(output_mode)
            .option("checkpointLocation", scratch_dir("ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"streaming query {sink_name} did not finish within 300s — "
                "refusing to return a partial memory-sink table"
            )
    finally:
        restore()
    return df.sparkSession.table(sink_name)


@query("q_streaming_tumbling", oracle=_TUMBLING_ORACLE)
def q_streaming_tumbling(spark, sf_dir):
    """A REAL Structured Streaming execution inside the correctness gate:
    the events table is re-materialized as four part files, consumed as a
    file-source stream (micro-batch per file), aggregated with window()
    in complete output mode into a memory sink, and the final result
    table is returned — it must equal the batch tumbling aggregation
    row-for-row (the streaming/batch unification guarantee)."""
    from streaming_spark.streaming import read_events_stream

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory_sink(agg, "q_streaming_tumbling_sink", "complete")


@query("q_streaming_sessionization", oracle=_SESSION_WINDOW_ORACLE)
def q_streaming_sessionization(spark, sf_dir):
    """Sessionization executed AS A STREAM: per-user 10-minute-gap
    session windows over the file-source event stream, one micro-batch
    per file — sessions merge correctly ACROSS micro-batches (the state
    store carries open sessions between triggers).  The final table must
    equal the batch q_session_window / gaps-and-islands oracle
    row-for-row.

    Complete output mode is used because the fixture is finite and the
    gate compares the FINAL table (same decision as q_streaming_tumbling
    — with append mode the watermark never passes the last sessions).
    In unbounded production the same aggregation runs in append mode
    with ``sessionized_counts``'s watermark, where state is evicted as
    sessions close."""
    from streaming_spark.streaming import read_events_stream

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    agg = (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("sess_start"),
            F.unix_timestamp(F.col("w.end")).alias("sess_end"),
            "n_events",
        )
    )
    return _run_to_memory_sink(
        agg, "q_streaming_sessionization_sink", "complete"
    )


@query(
    "q_streaming_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id,
           CAST(floor((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0)
                AS BIGINT) AS secs_to_purchase
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
)
def q_streaming_join(spark, sf_dir):
    """Stream-stream interval join executed as a real streaming query:
    clicks and purchases arrive as two independent file-source streams
    (different micro-batch cadence), joined on user within a 30-minute
    attribution window via ``interval_join`` — watermarked on both sides
    so join state is EVICTABLE (the property that keeps this runnable on
    an unbounded 100 TB stream).  Inner-join output in append mode; the
    result must equal the batch interval join row-for-row."""
    from streaming_spark.streaming import interval_join, read_events_stream

    clicks = read_events_stream(
        spark, _stage_stream_dir(sf_dir, n_files=3, event_type="click")
    ).select("event_id", "ts", "user_id")
    purchases = read_events_stream(
        spark, _stage_stream_dir(sf_dir, n_files=2, event_type="purchase")
    ).select("event_id", "ts", "user_id")
    joined = interval_join(
        clicks,
        purchases,
        on="user_id",
        lower="0 seconds",
        upper="30 minutes",
        watermark="2 hours",
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
        "user_id",
        # whole seconds via µs arithmetic — unix_timestamp() TRUNCATES
        # each side separately, which disagrees with flooring the diff
        F.floor(
            (F.unix_micros("ts_r") - F.unix_micros("ts")) / F.lit(1_000_000.0)
        ).alias("secs_to_purchase"),
    )
    return _run_to_memory_sink(joined, "q_streaming_join_sink", "append")


_STREAMING_DEDUP_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"


@query("q_streaming_dedup", oracle=_STREAMING_DEDUP_ORACLE)
def q_streaming_dedup(spark, sf_dir):
    """Streaming deduplication: dropDuplicates state carried ACROSS
    micro-batches (one per staged file) — each (user, event_type) key is
    emitted exactly once over the whole stream, in append mode.  Only
    the key columns are emitted, so the result is deterministic whatever
    duplicate arrives first (the batch oracle is a plain DISTINCT).  In
    unbounded production the same plan runs as
    ``dropDuplicatesWithinWatermark`` to bound the key state."""
    from streaming_spark.streaming import read_events_stream

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_to_memory_sink(deduped, "q_streaming_dedup_sink", "append")


@query(
    "q_streaming_sink_parquet",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_streaming_sink_parquet(spark, sf_dir):
    """Exactly-once streaming ETL into a parquet sink: each micro-batch
    lands via foreachBatch as an idempotent overwrite keyed by batch_id
    (rerun-safe — a retried batch replaces its own output, never
    duplicates it); the sink directory is then read back and aggregated.
    This is the streaming→lakehouse write path; with a transactional
    table format the same foreachBatch body becomes a MERGE."""

    from streaming_spark.streaming import read_events_stream

    sink_dir = scratch_dir("sink") + "/t"
    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )

    def land(batch_df, batch_id):
        # partition-by-batch overwrite: idempotent under Spark's batch
        # replay (same batch_id -> same directory replaced)
        _land_batch(
            batch_df,
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(ev, land, "q_streaming_sink_parquet")
    landed = spark.read.parquet(sink_dir)
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "q_streaming_join_outer",
    oracle="""
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
         purch  AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id,
           CAST(floor((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0)
                AS BIGINT) AS secs_to_purchase
    FROM clicks a LEFT JOIN purch b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
)
def q_streaming_join_outer(spark, sf_dir):
    """LEFT OUTER stream-stream interval join with ASYMMETRIC watermarks:
    every click emits — attributed to a purchase within 30 minutes, or
    with null purchase columns once the purchase-side watermark proves no
    match can still arrive.  Clicks run a 30-minute lateness budget,
    purchases 2 hours (the batchy side); state for a click is held until
    the PURCHASE watermark clears click_ts + 30min, so only the slow
    side's budget pays for extra state (streaming/core.py interval_join).

    Finite-run mechanics: unmatched rows flush only when the watermark
    PASSES them, so each staged stream ends with a far-future sentinel
    row (user_id = -1, filtered back out below) that drives the final
    watermark past all real events, and the query runs under a
    processing-time trigger until a committed batch reports that
    watermark (availableNow would skip the trailing flush batch — see
    _run_until_watermark).  The result must equal the batch LEFT JOIN
    oracle row-for-row."""
    import datetime as _dt

    from streaming_spark.streaming import interval_join, read_events_stream

    # ingestion shape (VERDICT r8 #4): clicks bundle 2 files/trigger,
    # purchases 1 — real rows still SPAN micro-batches on both sides
    # (cross-batch matching stays demonstrated: batch-0 clicks wait in
    # state for batch-1 purchases) while the batch count drops 5 → 4;
    # and the runner gets 2 state partitions — a stream-stream join
    # opens FOUR state stores per partition per side, so at gate scale
    # the per-batch floor is store open/commit, not compute (measured:
    # 19 s at 16 partitions, ~8 s at 2, identical rows)
    clicks = read_events_stream(
        spark,
        _stage_stream_dir(
            sf_dir, n_files=3, event_type="click", sentinel_advance_s=4 * 3600
        ),
        max_files_per_trigger=2,
    ).select("event_id", "ts", "user_id")
    purchases = read_events_stream(
        spark,
        _stage_stream_dir(
            sf_dir, n_files=2, event_type="purchase", sentinel_advance_s=4 * 3600
        ),
        max_files_per_trigger=1,
    ).select("event_id", "ts", "user_id")
    joined = interval_join(
        clicks,
        purchases,
        on="user_id",
        lower="0 seconds",
        upper="30 minutes",
        watermark="30 minutes",
        right_watermark="2 hours",
        how="left_outer",
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
        "user_id",
        F.floor(
            (F.unix_micros("ts_r") - F.unix_micros("ts")) / F.lit(1_000_000.0)
        ).alias("secs_to_purchase"),
    )
    # The sentinel filter MUST happen after the sink, in batch: inside
    # the streaming plan Catalyst pushes `user_id >= 0` below the
    # watermark node into BOTH scans (constraint propagation through the
    # equi-join), which silently deletes the sentinels before they can
    # advance the watermark — measured: the watermark parks at
    # last-real-click - 30min and the trailing nulls never flush.
    #
    # Every real click is flushable once the watermark clears
    # max_ts + 30min; the sentinels sit at max_ts + 4h, leaving the
    # final global watermark at max_ts + 2h (sentinel minus the 2h
    # purchase budget) — aim between the two.
    sink = _run_until_watermark(
        joined,
        "q_streaming_join_outer_sink",
        _max_event_ts(sf_dir) + _dt.timedelta(hours=1),
        state_partitions=2,
    )
    return sink.filter(F.col("user_id") >= 0)


@query(
    "q_resample_ffill",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour,
             count(*) AS n_events,
             round(avg(value), 4) AS avg_value
      FROM events GROUP BY event_type, hour),
    b AS (SELECT min(hour) AS mn, max(hour) AS mx FROM h),
    g AS (
      SELECT t.event_type, unnest(generate_series(b.mn, b.mx, 3600)) AS hour
      FROM (SELECT DISTINCT event_type FROM events) t, b)
    SELECT g.event_type, g.hour,
           CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
           last_value(h.avg_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_ffill
    FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hour = h.hour
    """,
)
def q_resample_ffill(spark, sf_dir):
    """Time-series resample to a dense hourly grid with forward-fill —
    the gap-fill operator every metrics/feature pipeline needs and plain
    SQL lacks.

    Scale plan: the hourly pre-aggregate is ONE partial-agg'd shuffle of
    (type, hour) — data-sized but collapsing.  The dense grid is
    time-bounded, not data-bounded (hours × types), generated by a
    sequence explode off a broadcast 1-row bounds frame — no collect().
    The forward-fill window partitions by event_type; for very long
    spans with few types, re-key to (type, day) and seed each day with
    the previous day's closing value — same operator, two passes."""
    ev = events_table(spark, sf_dir)
    hourly = (
        ev.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )
    bounds = hourly.agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(mn, mx, 3600)")).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_ffill"),
        )
    )


@query(
    "q_rollup_multires",
    oracle="""
    SELECT 'minute' AS res, event_type,
           CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type, bucket
    UNION ALL
    SELECT 'hour', event_type,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT),
           count(*), round(sum(value), 4)
    FROM events GROUP BY event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
    UNION ALL
    SELECT 'day', event_type,
           CAST(epoch(date_trunc('day', ts)) AS BIGINT),
           count(*), round(sum(value), 4)
    FROM events GROUP BY event_type, CAST(epoch(date_trunc('day', ts)) AS BIGINT)
    """,
)
def q_rollup_multires(spark, sf_dir):
    """Multi-resolution time rollup (minute/hour/day), continuous-
    aggregate style: the engine CASCADES — raw events aggregate once to
    minute grain (the only data-sized shuffle), then hours re-aggregate
    the ~60× smaller minute frame and days the ~24× smaller hour frame.

    The oracle recomputes each grain from raw events; sums are rounded
    to 4 dp because the cascade adds doubles in a different order.  At
    100 TB the cascade reads the fact table once instead of three times
    — the same trick materialized-view rollups (timeseries hypertables)
    use, expressed as three Catalyst aggregates."""
    ev = events_table(spark, sf_dir)
    minute = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    hour = minute.groupBy(
        "event_type",
        (F.floor(F.col("bucket") / 3600) * 3600).alias("bucket"),
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    day = hour.groupBy(
        "event_type",
        (F.floor(F.col("bucket") / 86400) * 86400).alias("bucket"),
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))

    def out(df, res):
        return df.select(
            F.lit(res).alias("res"),
            "event_type",
            "bucket",
            F.col("n").alias("n_events"),
            F.round("s", 4).alias("sum_value"),
        )

    return out(minute, "minute").unionAll(out(hour, "hour")).unionAll(out(day, "day"))


_FUNNEL_ORACLE = """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
    SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
           (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel
    """


@query("q_event_funnel", oracle=_FUNNEL_ORACLE)
def q_event_funnel(spark, sf_dir):
    """Ordered conversion funnel (first view → first click after it →
    first purchase after that), corpus-wide counts per stage.

    The oracle takes the textbook route: three passes over the fact
    table, each stage re-joining and re-aggregating.  The engine makes
    ONE shuffle: per-user events collapse to a sorted (ts, type) array
    in a single groupBy, and the sequential stage logic runs as a
    codegen'd fold over that array — the strict `ts > prev-stage`
    comparisons inside the fold reproduce the oracle's semantics
    exactly.  Shuffle volume is 1× the fact vs the oracle's 3×;
    per-user arrays are bounded by per-user activity (salt or
    window the fold per (user, day) for pathological hot users).

    Measured tradeoff (10M events × 15k users, local[32]): the fold
    runs 14.8 s vs 10.8 s for the codegen'd three-pass — the HOF fold
    is interpreted per element, and on a single box shuffles are
    memory-cheap, so CPU wins locally.  The fold's 3× shuffle saving
    is the cluster argument, where exchange is network-bound; the
    choice is exposed as ``funnel_counts(formulation=...)`` defaulting
    to the shuffle-light fold, with oracle-equality of both
    formulations pinned in tests/test_operators.py::
    test_funnel_formulations_agree."""
    return funnel_counts(events_table(spark, sf_dir))


def funnel_counts(ev, formulation: str = "fold"):
    """Ordered-funnel core (see q_event_funnel); takes any frame with
    (user_id, ts, event_type).

    ``formulation`` picks the physical strategy — the semantics are
    identical (tested equal):

    - ``"fold"`` (default): ONE shuffle of the fact; per-user events
      collapse to a sorted array and the stage logic is an interpreted
      HOF fold.  Wins on network-bound clusters (3× less exchange).
    - ``"three_pass"``: the oracle's relational shape — three
      filter+join+agg passes, each a codegen'd shuffle.  Wins on
      CPU-bound deployments (measured 1.4× faster on local[32] at 10M
      events) at 3× the shuffle volume.
    """
    if formulation == "three_pass":
        return _funnel_counts_three_pass(ev)
    if formulation != "fold":
        raise ValueError(f"funnel_counts: unknown formulation {formulation!r}")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    fold = F.expr(
        """
        aggregate(
          evs,
          struct(CAST(NULL AS TIMESTAMP) AS t1,
                 CAST(NULL AS TIMESTAMP) AS t2,
                 CAST(NULL AS TIMESTAMP) AS t3),
          (s, e) -> struct(
            IF(s.t1 IS NULL AND e.event_type = 'view', e.ts, s.t1) AS t1,
            IF(s.t2 IS NULL AND s.t1 IS NOT NULL
               AND e.event_type = 'click' AND e.ts > s.t1, e.ts, s.t2) AS t2,
            IF(s.t3 IS NULL AND s.t2 IS NOT NULL
               AND e.event_type = 'purchase' AND e.ts > s.t2, e.ts, s.t3) AS t3))
        """
    )
    stages = per_user.select(fold.alias("f"))
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("f.t1").alias("n_view"),
        F.count("f.t2").alias("n_view_click"),
        F.count("f.t3").alias("n_full_funnel"),
    )


def _funnel_counts_three_pass(ev):
    """The relational funnel formulation: each stage filters its event
    type, joins the previous stage's first-timestamp, and keeps the
    earliest qualifying event — three codegen'd shuffles of the fact.
    Stage frames are user-keyed aggregates (small sides): Spark
    broadcasts them into the fact scans, so each pass is scan + bcast
    join + partial agg, never a fact-fact shuffle join."""
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        ev.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view")))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
    SELECT CAST(epoch(date_trunc('day', f.first_ts)) AS BIGINT) AS cohort_day,
           CAST(floor((floor(epoch(e.ts)) - floor(epoch(f.first_ts))) / 604800.0)
                AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f USING (user_id)
    GROUP BY cohort_day, week_offset
    """,
)
def q_retention_cohorts(spark, sf_dir):
    """Retention triangle: users grouped by first-activity day, counted
    as active per week-offset from their own first event.

    Scale plan: first-seen is one partial-agg'd shuffle on user_id; the
    join back to the fact stays on the SAME key, so with AQE the
    exchange is reused (no second full shuffle of the fact — asserted
    by eye in explain; the small first_seen side broadcasts).  The
    distinct-user count per (cohort, offset) is the only other
    exchange, over the already-collapsed frame."""
    ev = events_table(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (
        ev.join(first_seen, "user_id")
        .select(
            F.unix_timestamp(F.date_trunc("day", F.col("first_ts"))).alias(
                "cohort_day"
            ),
            F.floor(
                (F.unix_timestamp("ts") - F.unix_timestamp("first_ts")) / 604800.0
            )
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "q_streaming_rolling_mean",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling_mean
    FROM events
    """,
)
def q_streaming_rolling_mean(spark, sf_dir):
    """The custom stateful operator (applyInPandasWithState per-key
    rolling mean, streaming/core.py) executed as a REAL streaming run —
    availableNow over mtime-ordered file micro-batches — and checked
    against the batch window-function oracle.

    This works because the operator is deterministic under ordered
    replay: the fixture files are staged in event-time order, each
    micro-batch sorts within itself, and the keyed state (last
    ``width-1`` values per user) carries the tail across batch
    boundaries — so the streaming output is EXACTLY the batch
    ``avg OVER (ROWS 2 PRECEDING)``.  State is bounded (2 floats/key);
    at scale the shuffle is the one hash-exchange on user_id that any
    stateful op pays, and the same code runs unbounded."""
    from streaming_spark.streaming.core import read_events_stream, stateful_rolling_mean

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    out = stateful_rolling_mean(ev, width=3)
    result = _run_to_memory_sink(out, "rolling_mean_sink", "append")
    return result.select(
        "user_id", "event_id", F.round("rolling_mean", 6).alias("rolling_mean")
    )


@query(
    "q_streaming_incremental_rollup",
    oracle="""
    SELECT event_type,
           CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY event_type, bucket
    """,
)
def q_streaming_incremental_rollup(spark, sf_dir):
    """Incrementally-maintained rollup (materialized-view pattern): each
    micro-batch writes its minute-grain PARTIAL aggregates — not raw
    rows — into a batch-keyed partition (idempotent overwrite, rerun
    safe), and reads compact partials by summing per bucket.  The final
    result equals the batch rollup exactly because count/sum are
    associative.

    This is the continuous-aggregate write path at scale: sink growth
    is O(buckets per batch), not O(events); compaction is a periodic
    re-aggregate of a tiny frame; and a retried batch replaces its own
    partials, so exactly-once holds without a transaction log.  The
    shuffle per batch is the one minute-grain aggregate any rollup
    pays."""

    from streaming_spark.streaming import read_events_stream

    sink_dir = scratch_dir("mv") + "/t"
    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )

    def land_partials(batch_df, batch_id):
        _land_batch(
            batch_df.groupBy(
                "event_type",
                F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).alias(
                    "bucket"
                ),
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(ev, land_partials, "q_streaming_incremental_rollup")
    partials = spark.read.parquet(sink_dir)
    return partials.groupBy("event_type", "bucket").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("s"), 4).alias("sum_value"),
    )


@query("q_streaming_decontaminate", oracle=_DECONTAMINATE_ORACLE)
def q_streaming_decontaminate(spark, sf_dir):
    """Streaming decontamination: documents arrive as an ingest stream
    (one micro-batch per staged file) and each batch is flagged against
    the STATIC benchmark 5-gram set via foreachBatch, landing flags in
    a batch-keyed parquet sink (idempotent overwrite, rerun-safe).  The
    union over batches equals the whole-corpus `text_decontaminate`
    EXACTLY — same DuckDB oracle — because per-doc flags depend only on
    the doc and the benchmark set (decontaminate_against's incremental
    contract).

    This is the continuous-ingest curation path at scale: the eval-suite
    gram set is built once and broadcast into every batch (megabytes
    against an unbounded corpus); each batch pays one narrow gram
    generation + broadcast probe + per-doc aggregate; raw text never
    shuffles and never accumulates in state — sink growth is O(docs
    flagged per batch)."""

    from streaming_spark.queries.curation import (
        benchmark_grams,
        decontaminate_against,
    )

    docs_static = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bench = benchmark_grams(
        docs_static.filter(F.col("doc_id") % 97 == 0)
    ).persist()
    # everything from materialization to stream completion runs under
    # the unpersist finally: staging and stream start can throw, and a
    # leaked persisted frame degrades every later query in the session
    # 3-4x (CLAUDE.md; same shape q_streaming_entity_resolve fixed)
    try:
        bench.count()  # materialize once; every micro-batch reuses it

        sink_dir = scratch_dir("decon") + "/t"
        stream_docs = (
            spark.readStream.schema(docs_static.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(_stage_docs_stream_dir(sf_dir))
        )

        def flag_batch(batch_df, batch_id):
            corpus = batch_df.filter(F.col("doc_id") % 97 != 0)
            _land_batch(
                decontaminate_against(corpus, bench),
                batch_id,
                sink_dir,
            )

        _run_foreach_batch(stream_docs, flag_batch, "q_streaming_decontaminate")
    finally:
        bench.unpersist()
    return spark.read.parquet(sink_dir).select(
        "doc_id", "source", "n_hits", "contaminated"
    )


@query(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
           CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to,
           round(value, 4) AS value,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension type 2 from a change log: each user's
    events become versioned rows with [valid_from, valid_to) intervals
    — valid_to is the NEXT change's timestamp (NULL = current version).
    The warehouse pattern every CDC ingest lands into, and the
    point-in-time source q_asof_join queries against.

    Scale: ONE shuffle (hash on user_id) and a per-key sort for the
    lead() — the window is keyed, never global, so the plan is the same
    at 100 TB; rebuilding only changed keys is the incremental variant
    (join against the CDC batch's distinct keys first)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events_table(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("valid_from"),
        F.unix_timestamp(F.lead("ts").over(w)).alias("valid_to"),
        F.round("value", 4).alias("value"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_ANOMALY_ZSCORE_ORACLE = """
    WITH stats AS (
      SELECT user_id, event_id, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sigma,
             count(*) OVER w AS n_hist
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id, round(value, 4) AS value,
           round((value - mu) / sigma, 4) AS zscore
    FROM stats
    WHERE n_hist >= 5 AND sigma > 0 AND abs((value - mu) / sigma) > 2.5
    """


@query("q_anomaly_zscore", oracle=_ANOMALY_ZSCORE_ORACLE)
def q_anomaly_zscore(spark, sf_dir):
    """Per-key streaming-style anomaly detection: each event's value
    scored against its OWN user's trailing-20 window (current row
    excluded — no self-contamination), flagged when |z| > 2.5 with at
    least 5 history rows.  The per-key keyed window means one hash
    shuffle + per-key sort — the same plan at any scale; the history
    width bounds state exactly like a stream's sliding window."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    ev = events_table(spark, sf_dir).select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.filter(
            (F.col("n_hist") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 2.5)
        )
        .select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@query("q_streaming_dedup_watermark", oracle=_STREAMING_DEDUP_ORACLE)
def q_streaming_dedup_watermark(spark, sf_dir):
    """Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    holds each key only until the event-time watermark passes its
    lateness budget, instead of forever (q_streaming_dedup's
    `dropDuplicates` keeps every key for the life of the stream — the
    state-growth failure mode this operator exists to fix).

    Oracle-equality with global DISTINCT holds here because the delay
    budget (31 days) exceeds the fixture's whole event-time span, so no
    key expires while duplicates can still arrive; production picks the
    real dedup horizon and trades state for it.  Same plan unbounded."""
    from streaming_spark.streaming import read_events_stream

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    deduped = (
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", "31 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory_sink(
        deduped, "q_streaming_dedup_wm_sink", "append"
    )


@query(
    "q_streaming_static_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_streaming_static_join(spark, sf_dir):
    """Stream-static enrichment join: each micro-batch of the event
    stream joins the STATIC customer dimension (re-planned per batch —
    dimension updates between batches are picked up automatically),
    then rolls up per market segment via foreachBatch into batch-keyed
    partial aggregates (idempotent, compacted at read — the same
    exactly-once sink pattern as q_streaming_incremental_rollup).

    Scale: the dimension side broadcasts into every micro-batch (no
    stream-side shuffle for the join, no join state at all — unlike a
    stream-stream join there is nothing to evict); the only exchange is
    the per-batch segment aggregate, O(segments) rows."""

    from streaming_spark.streaming import read_events_stream

    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    sink_dir = scratch_dir("ssj") + "/t"
    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    enriched = ev.join(F.broadcast(cust), "user_id").select(
        "c_mktsegment", "value"
    )

    def land(batch_df, batch_id):
        _land_batch(
            batch_df.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(enriched, land, "q_streaming_static_join")
    return (
        spark.read.parquet(sink_dir)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("s"), 4).alias("sum_value"),
        )
    )


@query("q_streaming_funnel", oracle=_FUNNEL_ORACLE)
def q_streaming_funnel(spark, sf_dir):
    """The ordered conversion funnel as a REAL streaming run: per-user
    (t1, t2, t3) stage state carried across micro-batches by
    ``stateful_funnel_stages`` (applyInPandasWithState, O(1) state per
    key), each batch emitting the key's post-batch state; the final
    state per user is its max-``n_seen`` row, and the corpus-wide stage
    counts over those EXACTLY match the batch fold / the oracle's
    three-pass SQL (same oracle as q_event_funnel).

    This upgrades q_event_funnel to continuous operation: a live funnel
    dashboard reads the sink's latest row per user instead of re-folding
    history — per-batch cost is the arriving events, not the corpus.
    Order contract: per-key in-order arrival (file stage is ts-sorted),
    as for q_streaming_rolling_mean."""
    from streaming_spark.streaming.core import stateful_funnel_stages

    from streaming_spark.streaming import read_events_stream

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    staged = stateful_funnel_stages(ev)
    result = _run_to_memory_sink(staged, "q_streaming_funnel_sink", "append")
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    final = (
        result.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return final.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1_us").alias("n_view"),
        F.count("t2_us").alias("n_view_click"),
        F.count("t3_us").alias("n_full_funnel"),
    )


@query("q_streaming_ann_index")  # rows-only: encoded cells/codes are
# engine-internal; exact streaming-vs-batch index equality is asserted
# both in the returned row (n_mismatch must be 0) and in
# tests/test_streaming.py::test_streaming_ann_index_equals_batch
def q_streaming_ann_index(spark, sf_dir):
    """Incremental ANN index maintenance: embeddings arrive as an
    ingest stream and each micro-batch is IVF-PQ-encoded (cell +
    residual codes) into a batch-keyed parquet index partition — the
    streaming path for keeping a vector index fresh as a corpus grows.

    It works because encode is a pure per-row map against FROZEN
    quantizers (centroids + codebooks trained once on the static
    corpus, broadcast into every batch): no shuffle, no state, and the
    incrementally-built index is BIT-IDENTICAL to a batch rebuild —
    which is what this query proves, returning the row counts and the
    number of disagreeing rows (must be 0) between the streamed index
    and a batch encode of the same corpus.  At deployment the quantizer
    refreshes on a slow cadence (retrain → re-encode) while ingest
    stays on this fast path — there the per-batch landing would be
    ann_index_append into the cell-partitioned serve layout; this query
    lands batch-keyed partitions (idempotent replay via _land_batch) and
    verifies encode equality, with the serve-layout lifecycle (append /
    delete / compact) covered by ann_index_maintenance
    (queries/northstar.py)."""

    from streaming_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_residual_codebooks,
    )
    from streaming_spark.queries.northstar import _ivf_centroids_cached

    emb_static = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _ivf_centroids_cached(spark, sf_dir)
    books = ivfpq_residual_codebooks(emb_static, cent, dim=64, m=16, ksub=16)

    sink_dir = scratch_dir("annidx") + "/t"
    stream_emb = (
        spark.readStream.schema(emb_static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir, table_name="embeddings"))
    )

    def encode_batch(batch_df, batch_id):
        _land_batch(
            ivfpq_encode(batch_df, cent, books, id_col="vec_id"),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_emb, encode_batch, "q_streaming_ann_index")

    streamed = spark.read.parquet(sink_dir).select("vec_id", "cell", "codes")
    batch = ivfpq_encode(emb_static, cent, books, id_col="vec_id")
    joined = streamed.alias("s").join(batch.alias("b"), "vec_id", "full")
    disagree = joined.filter(
        (F.col("s.cell") != F.col("b.cell"))
        | (F.col("s.codes") != F.col("b.codes"))
        | F.col("s.cell").isNull()
        | F.col("b.cell").isNull()
    )
    return (
        streamed.agg(F.count(F.lit(1)).alias("n_streamed"))
        .crossJoin(batch.agg(F.count(F.lit(1)).alias("n_batch")))
        .crossJoin(disagree.agg(F.count(F.lit(1)).alias("n_mismatch")))
    )


@query("q_streaming_anomaly", oracle=_ANOMALY_ZSCORE_ORACLE)
def q_streaming_anomaly(spark, sf_dir):
    """Per-key anomaly detection as a REAL streaming run: trailing-20
    history carried across micro-batches by ``stateful_anomaly_zscore``
    (applyInPandasWithState, bounded state: 20 floats/key), each
    arriving event scored against its own history and emitted only when
    |z| > 2.5 — and the union over batches EXACTLY matches the batch
    keyed-window formulation (same oracle as q_anomaly_zscore).  The
    live-alerting upgrade of the batch scorer: per-event latency is one
    micro-batch, state never grows, and the same code runs unbounded.
    Order contract: per-key in-order arrival (ts-sorted file stage),
    as for q_streaming_rolling_mean."""
    from streaming_spark.streaming import read_events_stream
    from streaming_spark.streaming.core import stateful_anomaly_zscore

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    out = stateful_anomaly_zscore(ev)
    return _run_to_memory_sink(out, "q_streaming_anomaly_sink", "append")


@query("q_streaming_progress")  # rows-only: wall-time metrics are
# engine-internal; the row-accounting contract (processed == fixture
# rows, batches == staged files) is asserted in
# tests/test_streaming.py::test_streaming_progress_accounting
def q_streaming_progress(spark, sf_dir):
    """Streaming observability surface: run a real windowed-aggregate
    stream to completion and report the engine's own progress metrics —
    micro-batch count, total input rows, peak state rows, and end-to-end
    input coverage.  This is the monitoring contract an operator reads
    in production (rows/sec trends, state growth, watermark lag all come
    from the same recentProgress feed); surfacing it as a query makes
    the accounting auditable: processed rows must equal the fixture
    exactly (nothing dropped, nothing double-counted across batch
    replays)."""

    from streaming_spark.streaming import read_events_stream

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    agg = (
        ev.withWatermark("ts", "31 days")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    restore = _stream_conf(spark, _STATE_PARTITIONS)
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("q_streaming_progress_sink")
            .outputMode("append")
            .option(
                "checkpointLocation", scratch_dir("ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_streaming_progress did not finish within 300s")
    finally:
        restore()
    progress = [p for p in q.recentProgress if p is not None]
    n_batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
    input_rows = sum(p.get("numInputRows", 0) for p in progress)
    state_rows = max(
        (
            op.get("numRowsTotal", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        ),
        default=0,
    )
    return local_frame(
        spark,
        [(n_batches, input_rows, state_rows)],
        "n_data_batches BIGINT, input_rows BIGINT, peak_state_rows BIGINT",
    )


@query("q_streaming_kmeans_update")  # rows-only: the centroid state is
# the fold of a distributed iteration (no SQL form); streamed-vs-batch
# agreement is returned IN the result row and floor-asserted in
# tests/test_streaming.py::test_streaming_kmeans_matches_batch
def q_streaming_kmeans_update(spark, sf_dir):
    """Streaming k-means maintenance: embeddings arrive as an ingest
    stream and each micro-batch contributes per-cell sufficient
    statistics (count, Σvec) against FROZEN current centroids; the
    accumulated statistics fold into one Lloyd centroid update — the
    mini-batch refresh a deployment runs on a cadence as a corpus
    grows, without rescanning history (the clustering analog of
    q_streaming_ann_index's frozen-quantizer encode).

    It works because Lloyd's update is a pure fold over (cell, n, Σvec)
    partials — associative and batch-boundary-independent — so the
    streamed update must agree with a batch update of the same corpus
    to float tolerance, and the ASSIGNMENT under both updated centroid
    sets must be identical.  Both agreements are returned in the result
    row (max |Δcentroid|, mismatched assignments) rather than asserted
    silently.  Scale shape: per batch ONE shuffle-free Arrow map
    emitting ≤ k centroid-sized rows; state is the parquet partial log
    (O(batches·k)), never vectors."""

    import numpy as np
    import pandas as pd

    from streaming_spark.operators.similarity import (
        _matrix,
        _norm_rows,
        ivf_assign,
        ivf_centroids,
    )
    from streaming_spark.operators.stream import stream

    k, dim = 8, 64
    emb_static = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent0 = ivf_centroids(emb_static, dim=dim, n_cells=k)

    def partials(pdf: pd.DataFrame, side) -> pd.DataFrame:
        c = side
        if len(pdf) == 0:
            return None
        mat = _norm_rows(_matrix(pdf["embedding"]))
        a = np.argmax(mat @ c.T, axis=1)
        cells, ns, sums = [], [], []
        for cell in np.unique(a):
            sel = a == cell
            cells.append(int(cell))
            ns.append(int(sel.sum()))
            sums.append(mat[sel].sum(axis=0).tolist())
        return pd.DataFrame({"cell": cells, "n": ns, "vsum": sums})

    sink_dir = scratch_dir("kmstream") + "/t"
    stream_emb = (
        spark.readStream.schema(emb_static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir, table_name="embeddings"))
    )

    def accumulate(batch_df, batch_id):
        _land_batch(
            stream(
                batch_df.select("vec_id", "embedding"),
                partials,
                "cell INT, n BIGINT, vsum ARRAY<DOUBLE>",
                side_input=cent0,
            ),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_emb, accumulate, "q_streaming_kmeans_update")

    def fold_update(rows):
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in sorted(rows, key=lambda r: (r["cell"], r["n"])):
            sums[r["cell"]] += np.asarray(r["vsum"])
            counts[r["cell"]] += r["n"]
        new = cent0.copy()
        for cell in range(k):
            if counts[cell]:
                nrm = np.linalg.norm(sums[cell])
                if nrm > 0:
                    new[cell] = sums[cell] / nrm
        return new, int(counts.sum())

    streamed_rows = spark.read.parquet(sink_dir).select(
        "cell", "n", "vsum"
    ).collect()  # bounded: batches * k centroid-sized rows
    cent_stream, n_stream = fold_update(streamed_rows)

    batch_rows = stream(
        emb_static,
        partials,
        "cell INT, n BIGINT, vsum ARRAY<DOUBLE>",
        side_input=cent0,
    ).collect()  # bounded: partitions * k
    cent_batch, n_batch = fold_update(batch_rows)

    max_diff = float(np.abs(cent_stream - cent_batch).max())
    a_s = ivf_assign(emb_static, cent_stream).withColumnRenamed("cell", "c_s")
    a_b = ivf_assign(emb_static, cent_batch).withColumnRenamed("cell", "c_b")
    return (
        a_s.join(a_b, "vec_id", "full")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                (
                    F.col("c_s").isNull()
                    | F.col("c_b").isNull()
                    | (F.col("c_s") != F.col("c_b"))
                ).cast("bigint")
            ).alias("n_assign_mismatch"),
        )
        .select(
            "n_vectors",
            F.lit(n_stream).alias("n_streamed_vectors"),
            F.lit(n_batch).alias("n_batch_vectors"),
            F.lit(round(max_diff, 12)).alias("max_centroid_diff"),
            "n_assign_mismatch",
        )
    )


@query("q_streaming_dup_spans", oracle=_DUP_SPANS_ORACLE)
def q_streaming_dup_spans(spark, sf_dir):
    """INCREMENTAL exact duplicate-span index: documents arrive as an
    ingest stream (one micro-batch per staged file); each batch rolls
    its window hashes ONCE at ingest (operators/text.py window_hashes)
    and lands the (doc_id, pos, h) triples in a batch-keyed parquet sink
    — the materialized span-hash index a continuous-ingest pipeline
    maintains.  Because the triples are a mergeable sufficient statistic
    (the dup decision is a pure function of their union), the final
    cross-doc aggregation + exact-substring verification over the
    accumulated index equals the whole-corpus q_dup_spans EXACTLY —
    same DuckDB oracle.

    The incremental win at 100 TB: each document's TEXT is scanned and
    hashed exactly once, in the batch that ingested it; what accumulates
    is 16-byte triples, and re-answering "what is duplicated now?" after
    every ingest reads only the index, never the corpus.  The
    batch-keyed sink is idempotent under retries (dynamic partition
    overwrite, same pattern as q_streaming_incremental_rollup); the
    exact verify touches only candidate positions' documents."""

    from streaming_spark.operators.text import window_hashes

    width = 40
    docs_static = T(spark, sf_dir, "documents").select("doc_id", "text")
    sink_dir = scratch_dir("spanidx") + "/t"
    stream_docs = (
        spark.readStream.schema(T(spark, sf_dir, "documents").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )

    def land_hashes(batch_df, batch_id):
        batch = batch_df.filter(F.length("text") >= width)
        _land_batch(
            window_hashes(batch, text_col="text", id_col="doc_id", width=width),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_docs, land_hashes, "q_streaming_dup_spans")

    spans = spark.read.parquet(sink_dir).select("doc_id", "pos", "h")
    docs = docs_static.filter(F.length("text") >= width)
    hot = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h")
    )
    exact = (
        spans.join(hot, "h")
        .join(docs, "doc_id")
        .select(
            "doc_id",
            "pos",
            F.expr(f"substring(text, pos, {width})").alias("span"),
        )
    )
    dup = (
        exact.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("span")
    )
    # (candidate pipeline deliberately inlined rather than reusing
    # northstar._dup_window_positions: the hash stage here must read the
    # accumulated SINK — the point of the query — not rehash the corpus)
    return (
        exact.join(dup, "span")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
        .join(
            docs.select(
                "doc_id", (F.length("text") - width + 1).alias("n_windows")
            ),
            "doc_id",
        )
        .select("doc_id", "n_windows", "n_dup_windows")
        .orderBy("doc_id")
    )


_EWMA_ORACLE = """
    WITH t AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS j
      FROM events),
    s AS (
      SELECT user_id, event_id, value, j,
             sum(value * pow(0.9, -j)) OVER w AS num,
             sum(pow(0.9, -j)) OVER w AS den
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, round(value, 4) AS value,
           round(num / den, 4) AS ewma
    FROM s
    """


@query("q_ewma", oracle=_EWMA_ORACLE)
def q_ewma(spark, sf_dir):
    """Exponentially-weighted moving average of each user's value
    stream (decay 0.9, adjusted form — the pandas ``ewm(adjust=True)``
    semantics): the smoothing primitive behind monitoring baselines and
    trend features.  The recurrence y_i = a·x_i + (1−a)·y_{i−1} looks
    sequential, but the adjusted form factors into TWO running sums —
    y_i = Σ_j r^{i−j} x_j / Σ_j r^{i−j} = running(x_j·r^{−j}) /
    running(r^{−j}), the r^i scaling cancelling in the ratio — so it
    runs as ordinary cumulative window aggregates: ONE keyed shuffle,
    per-key sort, no UDF, no iteration.

    The r^{−j} growth overflows double at per-key sequence length
    ~6700 (r = 0.9), which would silently yield NaN ewma — so rows past
    j = 6000 RAISE instead (observable failure, ADVICE r5; the guard is
    free: a codegen'd when() on the already-computed row number).  For
    genuinely unbounded per-key horizons use the streaming twin
    (q_streaming_ewma's stateful_ewma), whose O(1) recurrence is
    numerically stable at any length."""
    r = 0.9
    max_j = 6000  # 0.9^-6000 ≈ 1e274; overflow at ~6700
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = (
        Window.partitionBy("user_id")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_j = events_table(spark, sf_dir).select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(ordered).alias("j"),
    )
    guarded_j = F.when(F.col("j") <= max_j, F.col("j")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q_ewma: per-key sequence length exceeds "),
                F.lit(str(max_j)),
                F.lit(
                    " (r^-j would overflow double); use the stateful"
                    " streaming twin for unbounded horizons"
                ),
            )
        ).cast("int")
    )
    num = F.sum(F.col("value") * F.pow(F.lit(r), -guarded_j)).over(running)
    den = F.sum(F.pow(F.lit(r), -guarded_j)).over(running)
    return with_j.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round(num / den, 4).alias("ewma"),
    )


_TRANSITIONS_ORACLE = """
    WITH t AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions,
           round(count(*) * 1.0 / sum(count(*)) OVER
                   (PARTITION BY event_type), 4) AS p_next
    FROM t WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY from_type, to_type
    """


@query("q_event_transitions", oracle=_TRANSITIONS_ORACLE)
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    stream: for every (from_type → to_type) adjacency in time order,
    the corpus-wide count and the conditional probability
    P(next | current) — the sequence-mining primitive behind funnel
    discovery and next-action models (q_event_funnel checks ONE known
    path; this surfaces all of them with their weights).

    Scale: one keyed shuffle (hash user_id) + per-key sort for the
    lead(), then a transition-keyed aggregate whose cardinality is
    |event_types|² — the output is model-sized, not data-sized, and the
    normalizing window runs over that tiny aggregate, never the
    corpus."""
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    per_from = Window.partitionBy("from_type")
    return (
        events_table(spark, sf_dir)
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(ordered).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .withColumn(
            "p_next",
            F.round(
                F.col("n_transitions")
                / F.sum("n_transitions").over(per_from),
                4,
            ),
        )
        .orderBy("from_type", "to_type")
    )


@query("q_streaming_ewma", oracle=_EWMA_ORACLE)
def q_streaming_ewma(spark, sf_dir):
    """q_ewma's streaming twin, executed as a REAL run: per-user EWMA
    state (just num and den — two floats per key, streaming/core.py
    stateful_ewma) carried across mtime-ordered file micro-batches via
    applyInPandasWithState.  Same DuckDB oracle as the batch query: the
    O(1) recurrence and the batch closed form compute the same ratio,
    and ordered replay (staged files in event-time order, per-batch
    sort, keyed carry) makes the streaming output row-for-row equal.
    The scale contrast with q_streaming_rolling_mean: window-of-width-w
    state grows with w; EWMA's infinite-horizon memory costs TWO floats
    regardless of history length — the state-bounded smoothing a
    monitoring pipeline runs unbounded."""
    from streaming_spark.streaming.core import read_events_stream, stateful_ewma

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    out = stateful_ewma(ev, decay=0.9)
    result = _run_to_memory_sink(out, "ewma_sink", "append")
    return result.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round("ewma", 4).alias("ewma"),
    )


@query("q_streaming_transitions", oracle=_TRANSITIONS_ORACLE)
def q_streaming_transitions(spark, sf_dir):
    """q_event_transitions' streaming twin, executed as a REAL run: the
    Markov adjacency extraction carries ONE string per user (the last
    seen event type, streaming/core.py stateful_transitions) across
    mtime-ordered micro-batches — the state that captures transitions
    straddling batch boundaries, which a per-batch-rollup formulation
    would silently drop (one lost adjacency per user per batch edge).
    Emitted (from, to) rows aggregate to the transition matrix with
    conditional probabilities — same DuckDB oracle as the batch query,
    row-for-row."""
    from streaming_spark.streaming.core import (
        read_events_stream,
        stateful_transitions,
    )

    ev = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )
    out = stateful_transitions(ev)
    result = _run_to_memory_sink(out, "transitions_sink", "append")
    per_from = Window.partitionBy("from_type")
    return (
        result.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .withColumn(
            "p_next",
            F.round(
                F.col("n_transitions")
                / F.sum("n_transitions").over(per_from),
                4,
            ),
        )
        .orderBy("from_type", "to_type")
    )


@query("q_streaming_countmin")  # rows-only: sketch cells depend on
# engine-internal hashing; the bit-identity-to-batch and one-sided
# error contracts are returned IN-ROW (n_cell_mismatch, min overshoot)
def q_streaming_countmin(spark, sf_dir):
    """Incrementally-maintained Count-Min sketch: each micro-batch
    builds its OWN sketch matrix in one narrow Arrow pass and lands the
    flattened cells in a batch-keyed parquet sink (idempotent dynamic
    overwrite); reading the sink and summing cells IS the merged sketch
    — Count-Min is linear, so the streamed sum is BIT-IDENTICAL to the
    batch-built matrix over the whole corpus, which this query asserts
    in-row (n_cell_mismatch must be 0) next to the estimates-vs-exact
    accounting and the one-sided-error witness (min_overshoot ≥ 0).

    This is the materialized-view pattern applied to a SKETCH: sink
    growth is O(depth·width) per batch regardless of event volume,
    re-answering point-frequency queries reads only cell partials, and
    a retried batch replaces its own partition — exactly-once without a
    transaction log (same spine as q_streaming_incremental_rollup)."""

    import numpy as np
    import pandas as pd

    from streaming_spark.operators.sketch import (
        countmin_estimate,
        countmin_sketch,
    )
    from streaming_spark.streaming import read_events_stream

    depth, width = 4, 256
    sink_dir = scratch_dir("cmsink") + "/t"
    ev_stream = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )

    def land_sketch(batch_df, batch_id):
        mat = countmin_sketch(batch_df, "event_type", depth, width)
        _land_batch(
            local_frame(
                spark,
                [(mat.reshape(-1).tolist(),)], "cells ARRAY<BIGINT>"
            ),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(ev_stream, land_sketch, "q_streaming_countmin")

    merged = np.zeros(depth * width, dtype=np.int64)
    for r in spark.read.parquet(sink_dir).collect():
        merged += np.array(r["cells"], dtype=np.int64)
    merged = merged.reshape(depth, width)

    ev = events_table(spark, sf_dir)
    batch_mat = countmin_sketch(ev, "event_type", depth, width)
    n_mismatch = int((merged != batch_mat).sum())

    exact = ev.groupBy("event_type").count().orderBy("event_type").collect()
    types = [r["event_type"] for r in exact]
    est = countmin_estimate(merged, types)
    pdf = pd.DataFrame(
        {
            "event_type": types,
            "exact_n": [r["count"] for r in exact],
            "estimate_n": est,
        }
    )
    pdf["overshoot"] = pdf["estimate_n"] - pdf["exact_n"]
    pdf["n_cell_mismatch"] = n_mismatch
    return local_frame(spark, pdf)


@query("q_streaming_bloom_index")  # rows-only: bloom bits depend on
# engine-internal hashing; the bit-identity-to-batch and
# no-false-negative contracts are returned IN-ROW
def q_streaming_bloom_index(spark, sf_dir):
    """Incrementally-maintained Bloom membership index: each micro-batch
    builds its OWN bitmap over the user ids it saw (one narrow Arrow
    pass) and lands the packed words in a batch-keyed parquet sink;
    reading the sink and OR-ing the words IS the merged filter — Bloom
    is a bitwise-OR monoid, so the streamed union is BIT-IDENTICAL to
    the batch-built filter over the whole corpus, asserted in-row
    (n_word_mismatch must be 0) next to the no-false-negative witness
    (every ingested user id must probe present, n_false_neg must be 0).

    This is the ingest-time membership gate kept CURRENT: sink growth is
    O(n_bits/64) per batch regardless of event volume, a retried batch
    replaces its own partition (idempotent dynamic overwrite), and any
    consumer — e.g. `dedup_bloom_ingest`'s prefilter — reads one OR of
    the partials instead of rescanning history (same spine as
    q_streaming_countmin)."""
    import numpy as np
    import pandas as pd

    from streaming_spark.operators.sketch import bloom_build, bloom_contains
    from streaming_spark.streaming import read_events_stream

    n_bits, k = 1 << 16, 4
    sink_dir = scratch_dir("bloomsink") + "/t"
    ev_stream = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )

    def land_bloom(batch_df, batch_id):
        words = bloom_build(batch_df, "user_id", n_bits=n_bits, k=k)
        _land_batch(
            local_frame(
                spark,
                [(words.view(np.int64).tolist(),)], "words ARRAY<BIGINT>"
            ),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(ev_stream, land_bloom, "q_streaming_bloom_index")

    merged = np.zeros(n_bits // 64, dtype=np.uint64)
    for r in spark.read.parquet(sink_dir).collect():
        merged |= np.array(r["words"], dtype=np.int64).view(np.uint64)

    ev = events_table(spark, sf_dir)
    batch_words = bloom_build(ev, "user_id", n_bits=n_bits, k=k)
    n_word_mismatch = int((merged != batch_words).sum())

    users = sorted(
        r["user_id"] for r in ev.select("user_id").distinct().collect()
    )
    hits = bloom_contains(merged, users, k=k)
    pdf = pd.DataFrame(
        {
            "n_users": [len(users)],
            "n_false_neg": [sum(1 for h in hits if not h)],
            "n_word_mismatch": [n_word_mismatch],
            "n_bits_set": [int(sum(bin(int(w)).count("1") for w in merged))],
        }
    )
    return local_frame(spark, pdf)


@query("q_streaming_hll_distinct")  # rows-only: sketch registers are
# engine-internal; the streamed-union == single-pass estimate identity
# and the error floor are pinned in tests/test_streaming.py::
# test_streaming_hll_union_matches_batch
def q_streaming_hll_distinct(spark, sf_dir):
    """Incrementally-maintained distinct-count: each micro-batch lands
    its OWN HyperLogLog sketch (Spark's Datasketches hll_sketch_agg —
    one binary blob per batch) in a batch-keyed sink; the final answer
    is hll_union_agg over the landed blobs.  HLL registers are maxes,
    so union of per-batch sketches reproduces the single-pass corpus
    sketch REGISTER-FOR-REGISTER — the streamed estimate equals the
    batch estimate exactly, not approximately (asserted in-row:
    est_streamed == est_batch), while both carry the usual HLL error
    vs the exact count (also in-row).

    The scale story is the sketch version of the incremental rollup:
    sink growth is one KB-scale blob per batch regardless of event
    volume, and "how many distinct users so far" is answered by
    unioning blobs, never re-scanning events."""

    from streaming_spark.streaming import read_events_stream

    sink_dir = scratch_dir("hllsink") + "/t"
    ev_stream = read_events_stream(
        spark, _stage_stream_dir(sf_dir), max_files_per_trigger=1
    )

    def land_sketch(batch_df, batch_id):
        _land_batch(
            batch_df.agg(F.hll_sketch_agg("user_id").alias("sk")),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(ev_stream, land_sketch, "q_streaming_hll_distinct")

    streamed = spark.read.parquet(sink_dir).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_streamed")
    )
    ev = events_table(spark, sf_dir)
    batch = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_batch"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return streamed.crossJoin(batch).select(
        "est_streamed",
        "est_batch",
        "exact_distinct",
        (F.col("est_streamed") == F.col("est_batch")).alias(
            "union_exactly_matches_batch"
        ),
        F.round(
            F.abs(F.col("est_streamed") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


@query("q_streaming_minhash_index")  # rows-only: signatures/bands are
# engine-internal; the streamed-index == batch-pipeline pair-set
# identity AND the delta-bound per-batch probe are pinned in
# tests/test_streaming.py::test_streaming_minhash_index_matches_batch
def q_streaming_minhash_index(spark, sf_dir):
    """Incrementally-maintained MinHash near-dup INDEX, served by the
    staged index family (operators/neardup_index.py): each ingest
    micro-batch runs ``neardup_index_append`` — its documents'
    signatures are computed ONCE at ingest (where the text is already
    in memory) and the banded join runs DELTA-vs-INDEX plus
    delta-vs-delta only, with the index's band table read through the
    (band, prefix)-pruned scan.  Until r12 this query landed per-batch
    signatures and re-ran the banded join over the ACCUMULATED index at
    end-of-stream — exactly the O(N)/batch shape the index was built to
    kill (VERDICT r12 #2); the per-batch probe is now bounded by the
    DELTA's bucket footprint, never the corpus (the append stats pin
    this in the test).  The maintained pair set equals the batch
    pipeline's (dedup_minhash_lsh) row for row at every batch boundary
    — the index lifecycle's exactness invariant
    (tests/test_neardup_index.py) composed with streaming ingest.

    Replay posture: the append's ``.append_pending`` marker makes a
    foreachBatch retry after a mid-landing crash REFUSE loudly (recover
    = tombstone the marker's ids, compact, re-ingest) instead of
    silently double-landing rows — the right trade for an index whose
    product IS exactness; the batch-keyed-sink queries keep the
    silent-retry idempotence their append-only sinks afford."""
    import os as _os

    from streaming_spark.operators.neardup_index import (
        neardup_index_append,
        neardup_index_build,
        neardup_index_pairs,
    )

    idx = scratch_dir("mhidx") + "/idx"
    docs_schema = T(spark, sf_dir, "documents").schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )
    append_stats: list[dict] = []

    def ingest(batch_df, batch_id):
        st: dict = {}
        docs = batch_df.select("doc_id", "text")
        if not _os.path.isdir(idx):
            neardup_index_build(idx, docs, stats_out=st)
        else:
            neardup_index_append(idx, docs, stats_out=st)
        append_stats.append(st)

    _run_foreach_batch(stream_docs, ingest, "q_streaming_minhash_index")
    # expose the per-batch stats for the pinning test (delta-bound
    # probe: buckets_touched ≤ batch_rows × bands for every batch)
    q_streaming_minhash_index.last_append_stats = append_stats
    return neardup_index_pairs(spark, idx).orderBy("id_a", "id_b")


@query("q_streaming_bm25_index", oracle=_BM25_ORACLE)
def q_streaming_bm25_index(spark, sf_dir):
    """Incrementally-maintained BM25 index: each ingest micro-batch
    tokenizes its documents ONCE and lands their per-(doc, term) stats
    — tf and the term's first position — in a batch-keyed sink, plus a
    one-row document count per batch.  A document lives wholly in its
    ingest batch, so the landed rows ARE final postings: document
    length is the per-doc sum of tf, document frequency is a term-keyed
    count over the accumulated index, and corpus stats fold from the
    per-batch count rows — every BM25 ingredient recovers EXACTLY, and
    the top-10 answers over the streamed index match q_bm25_topk's
    oracle row-for-row (same DuckDB SQL).

    This is how search indexes actually deploy: the ingest path pays
    the tokenize + postings write per batch; queries only probe the
    accumulated index; and a retried batch replaces its own partition
    (idempotent dynamic overwrite)."""

    post_dir = scratch_dir("bm25post") + "/t"
    cnt_dir = scratch_dir("bm25cnt") + "/t"
    docs_schema = T(spark, sf_dir, "documents").schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )

    def land_postings(batch_df, batch_id):
        toks = batch_df.filter(F.length(F.trim("text")) > 0).select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"),
        )
        _land_batch(
            toks.groupBy("doc_id", "tok")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.min("pos").alias("first_pos"),
            ),
            batch_id,
            post_dir,
        )
        _land_batch(
            batch_df.agg(F.count(F.lit(1)).alias("n")),
            batch_id,
            cnt_dir,
        )

    _run_foreach_batch(stream_docs, land_postings, "q_streaming_bm25_index")

    index = spark.read.parquet(post_dir).select(
        "doc_id", "tok", "tf", "first_pos"
    )
    n_docs = sum(
        r["n"] for r in spark.read.parquet(cnt_dir).select("n").collect()
    )
    dlen = index.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avg_dl = dlen.agg(F.avg("dl")).collect()[0][0]
    dfreq = index.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    w_rank = Window.partitionBy("query_id").orderBy("first_pos")
    qterms = (
        index.filter(F.col("doc_id").isin(0, 37, 74))
        .select(F.col("doc_id").alias("query_id"), "tok", "first_pos")
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 4)
        .select("query_id", "tok")
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + 1.2 * (
        0.25 + 0.75 * F.col("dl") / F.lit(float(avg_dl))
    )
    scored = (
        F.broadcast(qterms)
        .join(index.select("doc_id", "tok", "tf"), "tok")
        .join(dlen, "doc_id")
        .join(
            F.broadcast(dfreq.join(qterms.select("tok").distinct(), "tok")),
            "tok",
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum(idf * F.col("tf") * 2.2 / denom).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "doc_id", F.round("score", 4).alias("score"), "rank"
        )
    )


@query("q_streaming_entity_resolve", oracle=_ENTITY_RESOLVE_ORACLE)
def q_streaming_entity_resolve(spark, sf_dir):
    """q_entity_resolve as the deployment its docstring describes: the
    MASTER's deletion-variant index is built ONCE (and persisted for
    the life of the stream — it is master-sized, not stream-sized);
    each ingest micro-batch of dirty registrations expands only ITS OWN
    variants, probes the static index, verifies with exact Levenshtein,
    and lands its per-record best-match resolutions in a batch-keyed
    sink.  Resolution is a pure per-record function of (record, master),
    so the union over batches equals the batch query EXACTLY — same
    oracle, row for row.

    Per batch the cost is O(batch · len) variant expansion + one probe
    join against the broadcast-scale index; the master is never
    re-scanned.  (Master UPDATES would re-land its variants — the
    MERGE/SCD2 surface covers that axis.)"""

    from streaming_spark.operators.fuzzy import fuzzy_index

    cust_static = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Build + persist the master's deletion-variant index ONCE, before
    # the stream starts; every micro-batch probes these cached frames
    # instead of re-expanding master-sized variants (ADVICE r5).
    # Lifetime is bounded: unpersisted right after the stream finishes.
    master_index = fuzzy_index(
        cust_static, "c_name", "c_custkey", max_dist=1, persist=True
    )
    # everything from here to stream completion runs under the
    # unpersist finally: a failure in staging/sink setup/start must not
    # leak the two cached frames (a leaked persist degrades every later
    # query in the session 3-4x — CLAUDE.md quirk; code review r6)
    try:
        sink_dir = scratch_dir("ersink") + "/t"
        cust_schema = T(spark, sf_dir, "customer").schema
        stream_cust = (
            spark.readStream.schema(cust_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(_stage_docs_stream_dir(sf_dir, table_name="customer"))
        )
        return _run_entity_resolve_stream(
            spark, stream_cust, master_index, sink_dir
        )
    finally:
        for frame in master_index[:2]:  # third element records max_dist
            frame.unpersist()


def _run_entity_resolve_stream(spark, stream_cust, master_index, sink_dir):
    from streaming_spark.operators.fuzzy import fuzzy_join

    def resolve_batch(batch_df, batch_id):
        pos = (F.col("c_custkey") % 8 + 10).cast("int")
        dirty = batch_df.select(
            F.col("c_custkey").alias("dirty_id"),
            F.when(
                F.col("c_custkey") % 3 == 0,
                F.concat(
                    F.substr(F.col("c_name"), F.lit(1), pos),
                    F.lit("x"),
                    F.substr(F.col("c_name"), pos + 2, F.length("c_name")),
                ),
            )
            .otherwise(F.col("c_name"))
            .alias("dirty_name"),
        )
        links = fuzzy_join(
            dirty, None, "dirty_name", None, "dirty_id",
            "master_id", max_dist=1, right_index=master_index,
        )
        rk = F.row_number().over(
            Window.partitionBy("dirty_id").orderBy("dist", "master_id")
        )
        _land_batch(
            links.withColumn("rk", rk)
            .filter(F.col("rk") == 1)
            .select("dirty_id", "master_id", "dist"),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_cust, resolve_batch, "q_streaming_entity_resolve")
    return (
        spark.read.parquet(sink_dir)
        .select(
            "dirty_id",
            "master_id",
            "dist",
            (F.col("dirty_id") == F.col("master_id")).alias("resolved_self"),
        )
        .orderBy("dirty_id")
    )


@query("q_streaming_phrase_index", oracle=_PHRASE_MATCH_ORACLE)
def q_streaming_phrase_index(spark, sf_dir):
    """Positional postings as an INCREMENTAL index: each ingest
    micro-batch lands its documents' full (doc, token, position) rows
    in a batch-keyed sink — positions are per-document facts, so the
    accumulated index is the corpus positional index verbatim and the
    bigram-phrase probe over it (adjacency as a (doc, pos+1) equi-join)
    answers EXACTLY like the batch q_phrase_match — same oracle.
    Together with q_streaming_bm25_index this completes the streamed
    retrieval pair: one sink with a position column serves both the
    ranked bag-of-words query and the exact-phrase query; the ingest
    path tokenizes once for both."""

    sink_dir = scratch_dir("phrasepost") + "/t"
    docs_schema = T(spark, sf_dir, "documents").schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )

    def land_postings(batch_df, batch_id):
        _land_batch(
            batch_df.filter(F.length(F.trim("text")) > 0)
            .select(
                "doc_id",
                F.posexplode(F.split(F.trim("text"), r"\s+")).alias(
                    "pos", "tok"
                ),
            )
            .withColumn("pos", F.col("pos") + 1),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_docs, land_postings, "q_streaming_phrase_index")

    toks = spark.read.parquet(sink_dir).select("doc_id", "tok", "pos")
    probe = toks.filter(F.col("doc_id").isin(0, 37, 74) & (F.col("pos") <= 2))
    bigram = probe.groupBy(F.col("doc_id").alias("query_id")).agg(
        F.max(F.when(F.col("pos") == 1, F.col("tok"))).alias("w1"),
        F.max(F.when(F.col("pos") == 2, F.col("tok"))).alias("w2"),
    )
    a = toks.select("doc_id", F.col("tok").alias("t1"), "pos")
    c = toks.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("tok").alias("t2"),
        (F.col("pos") - 1).alias("pos_prev"),
    )
    return (
        F.broadcast(bigram)
        .join(a, F.col("t1") == F.col("w1"))
        .join(
            c,
            (F.col("doc_id2") == F.col("doc_id"))
            & (F.col("pos_prev") == F.col("pos"))
            & (F.col("t2") == F.col("w2")),
        )
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


@query("q_streaming_curate_corpus", oracle=_CURATE_CORPUS_ORACLE)
def q_streaming_curate_corpus(spark, sf_dir):
    """Composed pipeline #1 as CONTINUOUS INGEST — end-to-end streaming
    curation under the batch pipeline's own oracle.  The per-document
    stages (language-ID vote, ≥20-token quality gate, content digest)
    run AT INGEST inside each micro-batch, and only the survivors land
    — the sink IS the curated corpus, already filtered, carrying the
    digest so the cross-document stage downstream never rehashes text.
    The global stages (exact-dedup keep-one, 200/40 chunking, per-source
    rollup) run over the accumulated survivors: keep-one needs ALL
    batches' digests, which is exactly why it cannot run per-batch and
    why the sink stores the digest column.

    The division of labor at 100 TB: the raw corpus is scanned once, at
    ingest, and the expensive per-doc featurization never re-runs; the
    one keyed shuffle (digest) downstream runs over the curated SUBSET.
    Union-over-batches equals the batch pipeline exactly because the
    landed stages are per-doc pure and the global stages see the same
    survivor set — same DuckDB oracle, row for row."""

    from streaming_spark.operators import curation
    from streaming_spark.operators.text import token_count, with_lang_scores

    sink_dir = scratch_dir("curated") + "/t"
    docs_schema = T(spark, sf_dir, "documents").schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )

    def land_survivors(batch_df, batch_id):
        _land_batch(
            with_lang_scores(
                batch_df.select("doc_id", "source", "text"), "text"
            )
            .filter(F.col("pred_lang") == "en")
            .filter(token_count("text") >= 20)
            .select(
                "doc_id", "source", "text", F.md5("text").alias("digest")
            ),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_docs, land_survivors, "q_streaming_curate_corpus")

    survivors = spark.read.parquet(sink_dir).select(
        "doc_id", "source", "text", "digest"
    )
    w = Window.partitionBy("digest").orderBy("doc_id")
    deduped = (
        survivors.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source", "text")
    )
    chunks = curation.chunk_documents(
        deduped, chunk_chars=200, overlap=40, carry_cols=("source",)
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("docs_kept"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.length("chunk")).alias("sum_chunk_chars"),
    )


@query("q_streaming_line_index", oracle=_LINE_DEDUP_ORACLE)
def q_streaming_line_index(spark, sf_dir):
    """Incrementally-maintained FIRST-OCCURRENCE line index — the
    streaming twin of q_line_dedup, and a new merge shape in the twin
    family: the carried state is an ARGMIN index (line digest → the
    (doc_id, line_no) that owns it), and min is associative, so
    per-batch minima landed in a batch-keyed sink fold to the global
    first occurrence exactly.  Each micro-batch hashes its OWN
    documents' lines once at ingest (text never re-scanned, the
    dup-spans-twin property) and lands one owner candidate per distinct
    digest it saw; reading the sink and taking the min per digest IS
    the corpus-wide keep-first decision.  The cleaned-text surgery then
    reruns q_line_dedup's narrow rebuild against that index — same
    DuckDB oracle, row for row, byte-for-byte cleaned hashes.

    Sink growth is one (16-byte digest, 16-byte owner) row per distinct
    line per batch — sublinear in re-ingested duplicates; a retried
    batch replaces its own partition (idempotent dynamic overwrite)."""
    from streaming_spark.operators.text import (
        apply_line_removals,
        line_digests,
    )

    sink_dir = scratch_dir("lineidx") + "/t"
    docs_schema = T(spark, sf_dir, "documents").schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )

    def land_owners(batch_df, batch_id):
        _land_batch(
            line_digests(batch_df, "text", "doc_id")
            .groupBy("h")
            .agg(F.min(F.struct("doc_id", "line_no")).alias("own"))
            .select("h", "own.doc_id", "own.line_no"),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_docs, land_owners, "q_streaming_line_index")

    owners = (
        spark.read.parquet(sink_dir)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("own"))
    )
    docs_static = T(spark, sf_dir, "documents")
    digests = line_digests(docs_static, "text", "doc_id")
    removals = (
        digests.join(owners, "h")
        .filter(
            (F.col("doc_id") != F.col("own.doc_id"))
            | (F.col("line_no") != F.col("own.line_no"))
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list("line_no").alias("removed"),
            F.count(F.lit(1)).alias("n_rm"),
        )
    )
    return apply_line_removals(docs_static, removals, "text", "doc_id")


@query("q_streaming_dsir_index", oracle=_DSIR_ORACLE)
def q_streaming_dsir_index(spark, sf_dir):
    """Incrementally-maintained DSIR feature index (the streaming twin
    of q_dsir_weights): each ingest micro-batch tokenizes ITS OWN
    documents and lands per-(doc, bucket) hashed-feature counts in a
    batch-keyed parquet sink (idempotent dynamic overwrite) — documents
    live wholly in their ingest batch, so the landed rows ARE the final
    feature index.  Target/raw bucket distributions, their totals, and
    every document's importance weight all FOLD from the accumulated
    index (counts are linear — the Count-Min/BM25-twin merge property),
    so the streamed scores equal the batch query's EXACTLY: same DuckDB
    oracle, row for row.

    Deployment shape: ingest pays tokenize + one index write per batch;
    re-scoring after a target-slice change is an index-sized job that
    never touches raw text again."""
    sink_dir = scratch_dir("dsiridx") + "/t"
    docs_schema = T(spark, sf_dir, "documents").schema
    stream_docs = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir))
    )

    def land_features(batch_df, batch_id):
        toks = batch_df.filter(F.length(F.trim("text")) > 0).select(
            "doc_id",
            "source",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        ).select(
            "doc_id",
            "source",
            F.substring(F.md5("tok"), 1, 4).alias("bucket"),
        )
        _land_batch(
            toks.groupBy("doc_id", "source", "bucket")
            .agg(F.count(F.lit(1)).alias("tf")),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_docs, land_features, "q_streaming_dsir_index")

    from streaming_spark.queries.curation import dsir_scores

    index = spark.read.parquet(sink_dir).select(
        "doc_id", "source", "bucket", "tf"
    )
    # the scoring fold is the SHARED dsir_scores helper — smoothing,
    # coalesce, and rounding live once, so this twin cannot drift from
    # the batch query it must equal row for row (code review r6)
    return dsir_scores(index)


@query("q_streaming_semantic_decontaminate", oracle=_SEMANTIC_DECON_ORACLE)
def q_streaming_semantic_decontaminate(spark, sf_dir):
    """q_semantic_decontaminate at INGEST time — the deployment the
    batch query's asymmetry already implies: the benchmark slice is
    static (held-out-eval sized, loaded once and broadcast into every
    micro-batch), each arriving embedding batch probes it exactly, and
    the per-vector audit rows land in a batch-keyed idempotent sink.
    Contamination is a pure per-vector function of (vector, benchmark),
    so the union over batches equals the batch query row for row —
    same oracle.  No carried state at all: the cheapest twin shape in
    the twin table (like q_streaming_decontaminate for n-grams)."""
    emb_static = T(spark, sf_dir, "embeddings")
    bench = emb_static.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("bench_emb"),
    )
    sink_dir = scratch_dir("semdecon") + "/t"
    emb_schema = emb_static.schema
    stream_emb = (
        spark.readStream.schema(emb_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_docs_stream_dir(sf_dir, table_name="embeddings"))
    )
    def probe_batch(batch_df, batch_id):
        # the audit expression is the SHARED decontamination_audit
        # helper — threshold/sentinel/rounding live once, the twin
        # cannot drift from the batch query (code review r6)
        from streaming_spark.operators.similarity import (
            decontamination_audit,
        )

        corpus = batch_df.filter(F.col("vec_id") % 50 != 0)
        _land_batch(
            decontamination_audit(corpus, bench, threshold=0.25),
            batch_id,
            sink_dir,
        )

    _run_foreach_batch(stream_emb, probe_batch, "q_streaming_semantic_decontaminate")
    return spark.read.parquet(sink_dir).select(
        "vec_id", "n_hits", "max_sim", "contaminated"
    )
