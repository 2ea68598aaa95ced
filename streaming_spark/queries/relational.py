"""The ambient relational surface (SURVEY.md §2.3-§2.4).

The reference composes its ``stream()`` operator with the host DB's AFL
operators — build/apply/filter/project/sort/limit/count/grouped_aggregate/
cross_join/redimension/… (SURVEY.md §2.3, citing e.g. reference
tests/test.sh:15,70-75 and r_pkg/vignettes/advanced_example.Rmd:142-161).
Here each is a thin, declarative DataFrame query so Catalyst gets full
pushdown/pruning/codegen; every one has a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_spark.io import local_frame
from streaming_spark.scratch import scratch_dir
from streaming_spark.queries.registry import T, query


@query(
    "q_build",
    oracle="SELECT i, CAST(i AS DOUBLE) AS val FROM range(1, 1001) t(i)",
)
def q_build(spark, sf_dir):
    """build(<val:double>[i=1:1000], i) — generate from expression
    (reference tests/test.sh:15)."""
    return spark.range(1, 1001).select(
        F.col("id").alias("i"), F.col("id").cast("double").alias("val")
    )


@query(
    "q_apply",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           CAST(floor(l_quantity) AS BIGINT) % 10 AS qty_bucket
    FROM lineitem
    """,
)
def q_apply(spark, sf_dir):
    """apply(A, c, expr) — add computed columns (reference
    tests/test.sh:70-75).  Row-wise IEEE arithmetic is bit-identical
    across engines, so no rounding is needed (or wanted: engines disagree
    on decimal rounding of binary doubles)."""
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        # floor() pins ONE double->int semantic: a bare CAST truncates in
        # Spark but rounds half-away in DuckDB — masked only because the
        # fixture quantities are whole numbers
        (F.floor("l_quantity").cast("bigint") % 10).alias("qty_bucket"),
    )


@query(
    "q_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def q_filter(spark, sf_dir):
    """filter(A, pred) (reference README.md:215).  The predicate reaches
    the parquet scan as a pushed filter."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "q_project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def q_project(spark, sf_dir):
    """project(A, cols) (reference advanced_example.Rmd:106) — column
    pruning reaches the scan (ReadSchema shows only 3 columns)."""
    return T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@query(
    "q_sort",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q_sort(spark, sf_dir):
    """sort(A, key) + limit — Catalyst plans this as TakeOrderedAndProject
    (a distributed top-k, no global sort shuffle)."""
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


@query(
    "q_limit",
    oracle="SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 10",
)
def q_limit(spark, sf_dir):
    """limit(A, n) with deterministic order (reference
    4-machine-learning.py:61)."""
    return (
        T(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey")
        .limit(10)
    )


_COUNT_LINEITEM_ORACLE = "SELECT count(*) AS n_rows FROM lineitem"


@query("q_count", oracle=_COUNT_LINEITEM_ORACLE)
def q_count(spark, sf_dir):
    """op_count(A) (reference tests/test.sh:16)."""
    return T(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "q_grouped_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_grouped_agg(spark, sf_dir):
    """grouped_aggregate(A, keys, aggs) (reference
    advanced_example.Rmd:142-150).  Hash aggregate with map-side partials
    — two-phase for free, unlike the reference's manual map+finalize+_sg."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_groupby_max",
    oracle="""
    SELECT l_returnflag, max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_groupby_max(spark, sf_dir):
    """grouped_aggregate(HAR, class, max(...)) (reference
    advanced_example.Rmd:142-150)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.max("l_extendedprice").alias("max_price"))
    )


@query(
    "q_cross_join",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def q_cross_join(spark, sf_dir):
    """cross_join(A, B) (reference 4-machine-learning.py:282-287) —
    Catalyst broadcasts the small side (BroadcastNestedLoopJoin)."""
    return T(spark, sf_dir, "region").crossJoin(T(spark, sf_dir, "nation")).select(
        "r_name", "n_name"
    )


@query(
    "q_unpack",
    oracle="""
    SELECT row_number() OVER (ORDER BY o_orderkey) AS i, o_orderkey FROM orders
    """,
)
def q_unpack(spark, sf_dir):
    """unpack(A, i) — flatten to 1-D with a fresh dense coordinate
    (reference advanced_example.Rmd:107).  Deterministic (keyed) variant of
    monotonically_increasing_id.

    Numbering is partition-parallel (dense_index: range-partition →
    per-partition counts → broadcast offsets → local row_number + offset)
    — the naive ``row_number() OVER (ORDER BY ...)`` funnels the whole
    table through one task (VERDICT r2 scale-killer, fixed here; plan
    gate in test_plans.py)."""
    from streaming_spark.operators.stream import dense_index

    return dense_index(
        T(spark, sf_dir, "orders").select("o_orderkey"), ["o_orderkey"]
    ).select(F.col("i").cast("long").alias("i"), "o_orderkey")


@query(
    "q_redimension",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def q_redimension(spark, sf_dir):
    """redimension(A, schema) — re-key/re-partition cells by an expression
    (reference ranges.Rmd:163; SURVEY.md §2.3: semantics = repartition by
    expression).  Content is preserved; placement changes."""
    return (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartitionByRange(8, "l_orderkey")
    )


@query(
    "q_train_test_split",
    oracle="""
    SELECT (o_orderkey * 2654435761) % 8 AS bucket, count(*) AS n
    FROM orders GROUP BY bucket
    """,
)
def q_train_test_split(spark, sf_dir):
    """Randomize rows into k buckets, split even/odd (reference
    advanced_example.Rmd:157-161).  The reference uses random(); for a
    cross-engine-checkable oracle we use a deterministic multiplicative
    hash (Knuth), which is also retry-safe under Spark task retries —
    unseeded random() would not be (SURVEY.md §7 'hard parts')."""
    return (
        T(spark, sf_dir, "orders")
        .select(((F.col("o_orderkey") * F.lit(2654435761)) % 8).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_scan_store",
    oracle="SELECT l_linestatus, count(*) AS n FROM lineitem GROUP BY l_linestatus",
)
def q_scan_store(spark, sf_dir):
    """store/scan named arrays (reference tests/py_pkg_examples.sh:40-47)
    — temp-view registration + spark.table scan."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("stored_lineitem")
    return (
        spark.table("stored_lineitem")
        .groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_aio_input",
    oracle="""
    SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_aio_input(spark, sf_dir):
    """aio_input(path, attribute_delimiter:'|', header:1) — parallel
    delimited-text load (reference 4-machine-learning.py:52-59,
    advanced_example.Rmd:103-135).  Round-trips a projection of lineitem
    through pipe-delimited CSV with declared schema, then aggregates."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = os.path.join(
        scratch_dir("csv"), "lineitem_csv"
    )
    li.write.mode("overwrite").option("header", True).option("delimiter", "|").csv(out)
    back = (
        spark.read.option("header", True)
        .option("delimiter", "|")
        .schema(
            "l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, l_quantity DOUBLE"
        )
        .csv(out)
    )
    return back.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_input_csv",
    oracle="""
    SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    """,
)
def q_input_csv(spark, sf_dir):
    """input(schema, path, 0, 'csv:lt') — CSV load with a declared schema
    (reference 4-machine-learning.py:338-344); unlike q_aio_input the
    schema is asserted up front, not inferred from a header."""
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = os.path.join(scratch_dir("csv2"), "orders_csv")
    orders.write.mode("overwrite").option("header", False).csv(out)
    back = spark.read.schema(
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"
    ).csv(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "q_sg_broadcast",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sg_broadcast(spark, sf_dir):
    """_sg(A, 0) — replicate an array to every instance (reference
    ranges.Rmd:237, 2-pack-func.py:56).  Spark-first: an explicit
    broadcast join — the replicated side never shuffles."""
    customer = T(spark, sf_dir, "customer")
    nation = F.broadcast(T(spark, sf_dir, "nation"))
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q_sg_gather",
    oracle="SELECT count(*) AS n_rows, count(DISTINCT o_custkey) AS n_custs FROM orders",
)
def q_sg_gather(spark, sf_dir):
    """_sg(A, 2, 0) — gather all chunks to instance 0 (reference
    tests/test.sh:49-65).  Spark: repartition(1); the gathered partition
    is then processed as one stream."""
    gathered = T(spark, sf_dir, "orders").select("o_custkey").repartition(1)
    return gathered.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


_INPUT_JSONL_ORACLE = """
    SELECT count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    """


@query("q_input_jsonl", oracle=_INPUT_JSONL_ORACLE)
def q_input_jsonl(spark, sf_dir):
    """JSON-lines ingestion with a DECLARED schema — the de facto
    interchange format for pretraining corpora (one JSON doc per line,
    gzip-splittable shards).  Schema is asserted up front like
    q_input_csv (no inference pass over 100 TB: an explicit schema
    makes the read single-pass and catches drift as nulls/corrupt-record
    rows instead of silent type flips); round-trips the documents table
    byte-exactly (oracle compares against the parquet originals).

    Scale: one task per shard line-range — JSONL splits on newlines, so
    a 100 TB corpus parallelizes exactly like CSV; columns still prune
    (Spark's JSON reader projects during parse)."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = os.path.join(scratch_dir("jsonl"), "docs_jsonl")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id BIGINT, source STRING, text STRING").json(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.count_distinct("source").alias("n_sources"),
    )


@query("q_input_jsonl_gz", oracle=_INPUT_JSONL_ORACLE)
def q_input_jsonl_gz(spark, sf_dir):
    """GZIP-compressed JSONL shards — the de facto distribution format
    for public pretraining corpora (one .jsonl.gz per shard).  The
    corpus is written as multiple gzip shards and read back with a
    declared schema; the oracle asserts the round-trip is byte-exact
    in aggregate against the parquet originals.

    Scale note, and why shard COUNT is the real knob: gzip is NOT
    splittable — each .gz file is one task no matter its size, so a
    100 TB corpus must arrive as many shards (the upstream reality:
    crawls ship thousands of them) or be transcoded to a splittable
    codec (zstd parquet) at ingest; this query demonstrates the
    many-shards path, with parallelism = shard count."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = os.path.join(scratch_dir("jsonlgz"), "docs_jsonl_gz")
    (
        docs.repartition(8)  # 8 shards -> 8 read tasks
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(out)
    )
    back = spark.read.schema("doc_id BIGINT, source STRING, text STRING").json(
        out
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.count_distinct("source").alias("n_sources"),
    )


@query(
    "q_input_orc",
    oracle="""
    SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
           count(DISTINCT l_returnflag) AS n_flags
    FROM lineitem
    """,
)
def q_input_orc(spark, sf_dir):
    """ORC ingestion round-trip — the other columnar warehouse format
    the engine reads natively (predicate pushdown + column pruning work
    the same as parquet: ORC carries stripe-level min/max stats).  The
    lineitem slice is written to ORC once and read back; the oracle
    aggregates the parquet originals, so the round-trip must preserve
    every value exactly."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    out = os.path.join(scratch_dir("orc"), "li_orc")
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count_distinct("l_returnflag").alias("n_flags"),
    )


_SHARED_SQL_TEXT = """
    SELECT n.n_name AS nation, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
"""


@query("q_sql_text_interface", oracle=_SHARED_SQL_TEXT)
def q_sql_text_interface(spark, sf_dir):
    """The SQL-TEXT host surface: the reference's users drive it from a
    host query language (AFL strings composed around the stream
    operator, SURVEY.md §2.3); this engine's host language is ANSI SQL
    — and the demonstration is that the IDENTICAL query string runs
    unmodified on both engines (spark.sql here, DuckDB in the oracle —
    the oracle IS the query text, byte for byte).  The generic-named
    temp views exist only for the duration of analysis: spark.sql
    resolves relations EAGERLY, so the views are dropped before
    returning (ADVICE r6 — leaving session-global `orders`/`customer`/
    `nation` views behind would let a later spark.sql over different
    data silently resolve stale fixtures) while the returned plan keeps
    its resolved scans.

    Scale: the string compiles to the same Catalyst plan the DataFrame
    API would build — broadcast dim joins, partial aggs, pushdown; the
    text interface costs nothing at execution time."""
    names = ("orders", "customer", "nation")
    # refuse, loudly, rather than createOrReplace over a CALLER-owned
    # TEMP VIEW of the same name (the finally would then also drop it —
    # silent destruction of someone else's session state).  Only
    # temporary views conflict: a PERMANENT table of the same name is
    # merely shadowed for the duration of analysis and the finally's
    # dropTempView cannot touch it, so tableExists (true for metastore
    # objects too) would refuse spuriously (ADVICE r8).
    temp_views = {
        t.name for t in spark.catalog.listTables() if t.isTemporary
    }
    taken = [n for n in names if n in temp_views]
    if taken:
        raise ValueError(
            f"q_sql_text_interface: temp view(s) {taken} already exist "
            f"in this session — the query needs those generic names "
            f"free (it drops them when done); drop or rename yours first"
        )
    try:
        for name in names:
            T(spark, sf_dir, name).createOrReplaceTempView(name)
        return spark.sql(_SHARED_SQL_TEXT)  # analysis resolves views HERE
    finally:
        for name in names:
            spark.catalog.dropTempView(name)


@query(
    "q_schema_evolution",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN doc_id >= 250 AND lang IS NOT NULL THEN 1
                    ELSE 0 END) AS BIGINT) AS n_with_lang,
           count(DISTINCT CASE WHEN doc_id >= 250 THEN lang END) AS n_langs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents
    """,
)
def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read: a corpus landed in two generations — v1
    shards carry (doc_id, text), v2 shards added a ``lang`` column —
    is read as ONE relation via mergeSchema; v1 rows surface the new
    column as NULL instead of failing the scan (the additive-column
    evolution every long-lived 100 TB corpus goes through).  The
    accounting (total rows, rows carrying lang, distinct langs, total
    chars) is oracle-checked against the original table with the same
    doc_id<250 generation split.

    Scale note: mergeSchema reconciles footers at planning time (one
    footer read per file — cheap next to the scan); per-stripe reads
    still prune columns, and files missing a column fill NULL without
    touching data pages."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = scratch_dir("schevo")
    docs.filter(F.col("doc_id") < 250).select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "gen=1"))
    docs.filter(F.col("doc_id") >= 250).write.mode("overwrite").parquet(
        os.path.join(base, "gen=2")
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("lang").isNotNull().cast("bigint")).alias("n_with_lang"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


@query(
    "q_backfill_partition",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY day, event_type
    """,
)
def q_backfill_partition(spark, sf_dir):
    """Partition-scoped BACKFILL: a day-partitioned rollup sink is
    first landed INCOMPLETE (one day's ingest failed — its rows are
    absent), then repaired by recomputing ONLY the missing day and
    dynamic-overwriting that single partition; the returned relation is
    the final sink, which the oracle checks against a straight
    full-table rollup — so the repair must reconstruct the day exactly
    and must not have disturbed any other partition.

    This is the lakehouse repair pattern at 100 TB: the backfill job
    scans one day's slice (partition pruning on the source), writes one
    directory, and every other partition's files are untouched —
    exactly-once repair without a transaction log, the same
    dynamic-overwrite spine as the streaming index sinks."""
    from streaming_spark.queries.registry import events_table

    missing_day = "2024-01-03"
    ev = events_table(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    rollup = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    sink = os.path.join(scratch_dir("backfill"), "rollup")
    # initial landing: the bad day never arrived
    rollup.filter(F.col("day") != missing_day).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(sink)
    # repair: recompute ONLY the missing day, overwrite only its dir
    (
        rollup.filter(F.col("day") == missing_day)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(sink)
    )
    return spark.read.parquet(sink).select(
        "day", "event_type", "n_events", "n_users"
    )


@query(
    "q_upsert_merge",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 1.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM updates
    UNION ALL
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice
    FROM orders o
    WHERE o.o_orderkey % 7 <> 0
    """,
)
def q_upsert_merge(spark, sf_dir):
    """MERGE / upsert semantics — apply an updates relation to a base
    table by key, updated rows replacing their base versions and the
    rest of the base passing through (the warehouse MERGE INTO ...
    WHEN MATCHED THEN UPDATE shape, here with a deterministic updates
    set derived from the fixture: every 7th order re-priced +1.0 —
    an exact IEEE op, per the no-row-wise-rounding rule — and flagged
    'U').

    Physical plan — the scale-right formulation: LEFT ANTI join (base
    minus updated keys) + union, both sides shuffled ONCE on the key,
    no window, no row_number; at 100 TB the anti join broadcasts
    whenever the updates batch is small (the common case), making the
    merge a single narrow pass over the base."""
    orders = T(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
    )
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return base.join(
        updates.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(updates)


@query(
    "q_input_jsonl_dirty",
    # The staged dirty file itself is invisible to DuckDB, but its
    # corruption rule is position-based and deterministic (every
    # i%10==3 / i%10==7 line over the first 200 docs by doc_id), so the
    # oracle recomputes the expected ingest accounting straight from
    # ``documents`` — the PERMISSIVE reader must agree exactly
    # (VERDICT r5 item 2).
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY doc_id) - 1 AS i
        FROM documents
        ORDER BY doc_id
        LIMIT 200
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN i % 10 IN (3, 7) THEN 0 ELSE 1 END)
                AS BIGINT) AS n_parsed,
           CAST(sum(CASE WHEN i % 10 IN (3, 7) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN i % 10 IN (3, 7) THEN NULL
                         ELSE length(text) END)
                AS BIGINT) AS parsed_chars
    FROM d
    """,
)
def q_input_jsonl_dirty(spark, sf_dir):
    """JSONL ingestion that SURVIVES corruption — the production
    contract q_input_jsonl's clean round-trip doesn't exercise: a
    staged shard set where every 10th line is malformed (truncated
    JSON, bare text, wrong-type field) is read PERMISSIVE with a
    declared schema + _corrupt_record column, so bad lines become
    quarantine rows instead of job failures.  Emits the ingest
    accounting a 100 TB loader alarms on: rows parsed, rows
    quarantined, and the parsed payload checksum — corruption is
    OBSERVABLE and bounded, never silent (the PERMISSIVE analog of the
    engine-wide observable-loss rule for caps).

    Scale: identical to the clean reader — newline-splittable shards,
    one parse pass, schema declared up front; the corrupt-record column
    costs nothing on clean lines."""
    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    out_dir = scratch_dir("dirtyjsonl")
    rows = docs.collect()  # bounded staging set (limit 200)
    path = os.path.join(out_dir, "shard-0.jsonl")
    import json as _json

    with open(path, "w", encoding="utf-8") as f:
        for i, r in enumerate(rows):
            if i % 10 == 3:
                f.write('{"doc_id": ' + str(r.doc_id) + ', "source": "tru\n')
            elif i % 10 == 7:
                f.write("not json at all\n")
            else:
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "source": r.source, "text": r.text}
                    )
                    + "\n"
                )
    schema = (
        "doc_id BIGINT, source STRING, text STRING, _corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out_dir)
    ).cache()  # SPARK-21610: corrupt-record queries need the full scan
    try:
        # evaluate eagerly so the cache's lifetime is bounded to this
        # call (a lingering cache degrades later queries — CLAUDE.md);
        # the result is one accounting row, re-wrapped as a DataFrame
        row = back.agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("_corrupt_record").isNull().cast("bigint")).alias(
                "n_parsed"
            ),
            F.sum(
                F.col("_corrupt_record").isNotNull().cast("bigint")
            ).alias("n_quarantined"),
            F.sum(
                F.when(F.col("_corrupt_record").isNull(), F.length("text"))
            ).alias("parsed_chars"),
        ).collect()[0]
    finally:
        back.unpersist()
    return local_frame(
        spark,
        [tuple(row)],
        "n_lines BIGINT, n_parsed BIGINT, n_quarantined BIGINT,"
        " parsed_chars BIGINT",
    )
