r"""The reference's own demonstrated workloads (SURVEY.md §2.5) — the
stream()-centric query set: identity/null round trips, chunk counts,
map+finalize partial aggregation, two-phase gather, rolling windows,
function shipping, TSV pipe + escaping, empty input.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from streaming_spark.operators.pipe import parse_tsv_response, pipe_tsv, unescape_field
from streaming_spark.operators.stream import pack_func, read_func, stream, stream_map
from streaming_spark.queries.relational import _COUNT_LINEITEM_ORACLE
from streaming_spark.queries.registry import T, query

_LI_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus"
).split()


@query(
    "q_identity_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(l_shipdate AS VARCHAR) AS l_shipdate_str
    FROM lineitem
    """,
)
def q_identity_roundtrip(spark, sf_dir):
    """stream identity: data in == data out, all types + order preserved
    within partition (reference tests/scripts/one_chunk.py,
    tests/test_low.py:59-137).  Uses the Arrow-native path — one
    RecordBatch in, one out, no pandas conversion — matching the
    reference's feather wire unit exactly."""
    from streaming_spark.operators.stream import stream_arrow

    # no ensure_parallelism: the identity map is bandwidth-bound, and the
    # repartition costs more than the parallelism buys (measured 1.26s vs
    # 1.53s at sf0.1 — the CLAUDE.md rule); at scale inputs are
    # many-filed and arrive parallel anyway
    li = T(spark, sf_dir, "lineitem").select(
        *_LI_COLS, F.col("l_shipdate").cast("string").alias("l_shipdate_str")
    )
    return stream_arrow(li, lambda batch: batch, li.schema)


@query(
    "q_null_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber % 7 = 0 THEN NULL ELSE l_quantity + 0.5 END AS c_double,
           CASE WHEN l_linenumber % 5 = 0 THEN NULL ELSE l_linenumber END AS c_int,
           CASE WHEN l_linenumber % 3 = 1 THEN NULL
                WHEN l_linenumber % 3 = 2 THEN ''
                ELSE concat('abc', CAST(l_orderkey AS VARCHAR)) END AS c_string
    FROM lineitem
    """,
)
def q_null_roundtrip(spark, sf_dir):
    """NULLs of double/int/string survive the stream round trip, including
    empty-vs-NULL strings (reference tests/test.sh:69-76 ↔
    test.expected:50-52)."""
    li = T(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    built = li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(ln % 7 == 0, F.lit(None)).otherwise(F.col("l_quantity") + 0.5).alias(
            "c_double"
        ),
        F.when(ln % 5 == 0, F.lit(None)).otherwise(ln).alias("c_int"),
        F.when(ln % 3 == 1, F.lit(None))
        .when(ln % 3 == 2, F.lit(""))
        .otherwise(F.concat(F.lit("abc"), F.col("l_orderkey").cast("string")))
        .alias("c_string"),
    )
    return stream(built, lambda pdf: pdf, built.schema)


@query("q_chunk_count")  # rows-only: per-chunk shape depends on partitioning
def q_chunk_count(spark, sf_dir):
    """Per-chunk row count with provenance coordinates — the reference's
    canonical first example (reference py_pkg/examples/0-iquery.txt:1-15:
    ``pd.DataFrame({'count': [df.shape[0]]})``), output
    ``[instance_id, chunk_no, value_no] count`` like the plugin's output
    schema (FeatherInterface.cpp:96-107)."""
    li = T(spark, sf_dir, "lineitem")
    return stream(
        li,
        lambda pdf: pd.DataFrame({"count": [len(pdf)]}),
        StructType([StructField("count", LongType())]),
        provenance=True,
    )


@query("q_chunk_count_total", oracle=_COUNT_LINEITEM_ORACLE)
def q_chunk_count_total(spark, sf_dir):
    """Chunk counts composed with a relational reduction — total equals
    count(*) regardless of partitioning."""
    counts = q_chunk_count(spark, sf_dir)
    return counts.agg(F.sum("count").alias("n_rows"))


@query(
    "q_partition_sum_finalize",
    oracle="SELECT round(sum(l_quantity), 2) AS sum_qty FROM lineitem",
)
def q_partition_sum_finalize(spark, sf_dir):
    """map+finalize: chunks accumulate into per-partition state, finalize
    emits one row per partition at end-of-stream (reference
    py_pkg/examples/1-map-finalize.py:74-107); a final reduction combines
    partitions."""
    li = T(spark, sf_dir, "lineitem").select("l_quantity")

    def make_runner():
        state = {"total": 0.0}

        def on_chunk(pdf: pd.DataFrame):
            state["total"] += float(pdf["l_quantity"].sum())
            return None  # None ⇒ emit nothing for this chunk

        def finalize():
            return pd.DataFrame({"partial": [state["total"]]})

        return on_chunk, finalize

    on_chunk, finalize = make_runner()
    partials = stream(
        li,
        on_chunk,
        StructType([StructField("partial", DoubleType())]),
        finalize=finalize,
    )
    return partials.agg(F.round(F.sum("partial"), 2).alias("sum_qty"))


@query(
    "q_global_sum_twophase",
    oracle="SELECT round(sum(l_extendedprice), 2) AS sum_price FROM lineitem",
)
def q_global_sum_twophase(spark, sf_dir):
    """Grand aggregate via explicit two-phase: per-instance partial →
    gather to one instance (_sg(...,2,0)) → final combine (reference
    tests/test.sh:49-65, examples/R_sum.R).  Spark: stream partials →
    repartition(1) → stream combine."""
    li = T(spark, sf_dir, "lineitem").select("l_extendedprice")
    partial_schema = StructType([StructField("partial", DoubleType())])

    def partial(pdf: pd.DataFrame):
        return pd.DataFrame({"partial": [float(pdf["l_extendedprice"].sum())]})

    partials = stream(li, partial, partial_schema)

    acc = {"total": 0.0}

    def combine_chunk(pdf: pd.DataFrame):
        acc["total"] += float(pdf["partial"].sum())
        return None

    def combine_final():
        return pd.DataFrame({"sum_price": [round(acc["total"], 2)]})

    gathered = partials.repartition(1)
    return stream(
        gathered,
        combine_chunk,
        StructType([StructField("sum_price", DoubleType())]),
        finalize=combine_final,
    )


@query(
    "q_instance_mean",
    oracle="SELECT round(avg(l_quantity), 6) AS mean_qty FROM lineitem",
)
def q_instance_mean(spark, sf_dir):
    """Per-instance mean via map(NULL)+finalize then exact global combine
    from (sum, count) partials (reference r_pkg/inst/examples/ex1.R,
    basic_examples.Rmd:112-177)."""
    li = T(spark, sf_dir, "lineitem").select("l_quantity")
    schema = StructType(
        [StructField("s", DoubleType()), StructField("n", LongType())]
    )

    def partial(pdf: pd.DataFrame):
        return pd.DataFrame(
            {"s": [float(pdf["l_quantity"].sum())], "n": [len(pdf)]}
        )

    partials = stream(li, partial, schema)
    return partials.agg(
        F.round(F.sum("s") / F.sum("n"), 6).alias("mean_qty")
    )


@query(
    "q_rolling_avg3",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(avg3, 6) AS avg3 FROM (
      SELECT l_orderkey, l_linenumber,
             avg(l_quantity) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS avg3,
             row_number() OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity) AS rn
      FROM lineitem) t
    WHERE rn >= 3
    """,
)
def q_rolling_avg3(spark, sf_dir):
    """Moving average, window 3, only complete windows emitted (reference
    r_pkg/inst/examples/ex2.R carries 2 rows of state across chunks;
    declaratively that is a rows-window — Catalyst handles the cross-chunk
    carry, and the plan is a single sort-window, no Python).  l_quantity
    is a trailing sort key because (l_orderkey, l_linenumber) is not
    unique in the fixture — it pins the value sequence under ties."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
    return (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("avg3", F.avg("l_quantity").over(w.rowsBetween(-2, 0)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") >= 3)
        .select("l_orderkey", "l_linenumber", F.round("avg3", 6).alias("avg3"))
    )


@query("q_empty_input", oracle="SELECT CAST(0 AS BIGINT) AS n_rows")
def q_empty_input(spark, sf_dir):
    """Filtered-to-empty input still runs the child; only the finalize
    message comes back (reference README.md:215-224).  The predicate must
    not be foldable — ``filter(false)`` would let Catalyst collapse the
    whole subtree to an empty relation and never run the map stage, which
    is the one place our semantics must deviate from the optimizer's
    instinct."""
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < -1)  # no such rows, but not foldable
        .coalesce(1)
    )
    seen = {"n": 0}

    def on_chunk(pdf: pd.DataFrame):
        seen["n"] += len(pdf)
        return None

    def finalize():
        return pd.DataFrame({"n_rows": [seen["n"]]})

    return stream(
        li, on_chunk, StructType([StructField("n_rows", LongType())]), finalize=finalize
    )


@query(
    "q_ship_function",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
)
def q_ship_function(spark, sf_dir):
    """Upload a packed function, replicate to all instances, execute
    remotely (reference py_pkg/examples/2-pack-func.py:44-69;
    scidbstrm.pack_func/read_func).  Spark-first: the packed bytes ride a
    broadcast (the reference's _sg(A,0) replication) and are revived
    worker-side."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )

    def compute_revenue(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["l_orderkey", "l_linenumber"]].copy()
        out["revenue"] = pdf["l_extendedprice"] * (1 - pdf["l_discount"])
        return out

    packed = pack_func(compute_revenue)
    schema = "l_orderkey BIGINT, l_linenumber INT, revenue DOUBLE"
    return stream(
        li,
        lambda pdf, side: read_func(side)(pdf),
        schema,
        side_input=packed,
    )


@query(
    "q_ml_train_combine_predict",
    oracle="""
    WITH m AS (
      SELECT regr_slope(l_extendedprice, l_quantity) AS a,
             regr_intercept(l_extendedprice, l_quantity) AS b
      FROM lineitem),
    e AS (
      SELECT avg((l_extendedprice - (m.a * l_quantity + m.b))
                 * (l_extendedprice - (m.a * l_quantity + m.b))) AS mse
      FROM lineitem, m)
    SELECT round(m.a, 3) AS slope, round(m.b, 3) AS intercept,
           round(sqrt(e.mse), 2) AS rmse
    FROM m, e
    """,
)
def q_ml_train_combine_predict(spark, sf_dir):
    """Distributed ML: per-partition model fit → gather → combine →
    broadcast model → predict (reference advanced_example.Rmd:288,326 and
    py_pkg/examples/4-machine-learning.py:167-313, the stream(stream(...))
    nesting with a side-input model).

    The model is OLS y~x fit from sufficient statistics: per-partition
    partials (n, Σx, Σy, Σxx, Σxy) combine EXACTLY, so the distributed
    fit equals the single-node fit — the scale-correct version of the
    reference's averaged per-partition models."""
    li = T(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    stats_schema = (
        "n DOUBLE, sx DOUBLE, sy DOUBLE, sxx DOUBLE, sxy DOUBLE"
    )

    def fit_partial(pdf: pd.DataFrame):
        x = pdf["l_quantity"].to_numpy()
        y = pdf["l_extendedprice"].to_numpy()
        return pd.DataFrame(
            {
                "n": [float(len(x))],
                "sx": [float(x.sum())],
                "sy": [float(y.sum())],
                "sxx": [float((x * x).sum())],
                "sxy": [float((x * y).sum())],
            }
        )

    partials = stream(li, fit_partial, stats_schema)

    def combine(pdf: pd.DataFrame):
        n, sx, sy = pdf["n"].sum(), pdf["sx"].sum(), pdf["sy"].sum()
        sxx, sxy = pdf["sxx"].sum(), pdf["sxy"].sum()
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        return pd.DataFrame({"slope": [slope], "intercept": [intercept]})

    model_df = stream(
        partials.repartition(1), combine, "slope DOUBLE, intercept DOUBLE"
    )
    model = model_df.collect()[0]  # 2 scalars — the broadcast "model array"
    a, b = model["slope"], model["intercept"]

    def predict(pdf: pd.DataFrame, side):
        aa, bb = side
        err = pdf["l_extendedprice"] - (aa * pdf["l_quantity"] + bb)
        return pd.DataFrame({"sse": [float((err * err).sum())], "n": [float(len(pdf))]})

    sse = stream(li, predict, "sse DOUBLE, n DOUBLE", side_input=(a, b))
    return sse.agg(
        F.round(F.lit(a), 3).alias("slope"),
        F.round(F.lit(b), 3).alias("intercept"),
        F.round(F.sqrt(F.sum("sse") / F.sum("n")), 2).alias("rmse"),
    )


@query("q_tsv_pipe", oracle=_COUNT_LINEITEM_ORACLE)
def q_tsv_pipe(spark, sf_dir):
    """Pipe TSV through an external non-Python binary with the reference's
    framed protocol, parse the response, count round-tripped rows
    (reference tests/test.sh:16-18, examples/client.cpp — /bin/cat is the
    echo client)."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    responses = pipe_tsv(li, "cat", chunk_rows=20000)
    parsed = parse_tsv_response(responses, num_attributes=2, column_names=["k", "q"])
    return parsed.filter(F.col("k").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


_ESCAPE_CASE_SQL = r"""
    SELECT o_orderkey AS id,
           CASE o_orderkey % 8
             WHEN 0 THEN e'a\nb'
             WHEN 1 THEN e'a\tb'
             WHEN 2 THEN e'a\rb'
             WHEN 3 THEN 'back\slash'
             WHEN 4 THEN '\N'
             WHEN 5 THEN ''
             WHEN 6 THEN NULL
             ELSE 'plain ascii'
           END AS s
    FROM orders
"""


@query("q_string_escapes", oracle=_ESCAPE_CASE_SQL)
def q_string_escapes(spark, sf_dir):
    r"""``\n \r \t \\`` escaping + NULL ``\N`` + literal-backslash-N data
    survive the TSV pipe byte-for-byte (reference tests/test.sh:79 ↔
    test.expected:53; escaping rules TSVInterface.cpp:200-222)."""
    orders = T(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 8
    tricky = orders.select(
        F.col("o_orderkey").alias("id"),
        F.when(k == 0, F.lit("a\nb"))
        .when(k == 1, F.lit("a\tb"))
        .when(k == 2, F.lit("a\rb"))
        .when(k == 3, F.lit("back\\slash"))
        .when(k == 4, F.lit("\\N"))
        .when(k == 5, F.lit(""))
        .when(k == 6, F.lit(None))
        .otherwise(F.lit("plain ascii"))
        .alias("s"),
    )
    responses = pipe_tsv(tricky, "cat", chunk_rows=5000)
    parsed = parse_tsv_response(responses, num_attributes=2, column_names=["id", "s"])

    def unescape(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id": pdf["id"].astype("int64"),
                "s": [None if v is None else unescape_field(v) for v in pdf["s"]],
            }
        )

    clean = parsed.filter(F.col("id").isNotNull())
    return stream(clean, unescape, "id BIGINT, s STRING")


@query(
    "q_parse",
    oracle="""
    SELECT CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS sum_keys,
           CAST(sum(CAST(q AS DOUBLE)) AS DOUBLE) AS sum_qty
    FROM (SELECT l_orderkey AS k, l_quantity AS q FROM lineitem)
    """,
)
def q_parse(spark, sf_dir):
    """parse(stream(...), num_attributes:n) — split TSV response strings
    into typed columns (reference README.md:81-99, the
    accelerated_io_tools parse() idiom): pipe → response cells →
    posexplode lines → split fields → cast → aggregate."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    responses = pipe_tsv(li, "cat", chunk_rows=50000)
    parsed = parse_tsv_response(responses, num_attributes=2, column_names=["k", "q"])
    typed = parsed.filter(F.col("k").isNotNull()).select(
        F.col("k").cast("bigint").alias("k"), F.col("q").cast("double").alias("q")
    )
    return typed.agg(
        F.sum("k").alias("sum_keys"), F.sum("q").alias("sum_qty")
    )


@query(
    "q_csv_to_binary",
    oracle="""
    SELECT doc_id AS id, octet_length(encode(text)) AS n_bytes,
           CAST(doc_id % 10 AS BIGINT) AS label
    FROM documents
    """,
)
def q_csv_to_binary(spark, sf_dir):
    """Parse text records into labeled binary blobs — the reference's
    MNIST csv→binary-image step (4-machine-learning.py:68-96, 112-147):
    a mapInPandas stage producing a BinaryType column plus metadata."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")

    def to_labeled_blob(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "id": pdf["doc_id"],
                "blob": [t.encode("utf-8") for t in pdf["text"]],
                "label": pdf["doc_id"] % 10,
            }
        )

    blobs = stream(docs, to_labeled_blob, "id BIGINT, blob BINARY, label BIGINT")
    return blobs.select(
        "id", F.octet_length("blob").alias("n_bytes"), "label"
    )


_ARROW_CHILD_SUM = (
    "import streaming_spark.client as scidbstrm\n"
    "import pandas as pd\n"
    "state = {'s': 0.0, 'n': 0}\n"
    "def on_chunk(df):\n"
    "    state['s'] += float(df['l_quantity'].sum()); state['n'] += len(df)\n"
    "    return None\n"
    "def finalize():\n"
    "    return pd.DataFrame({'s': [state['s']], 'n': [state['n']]})\n"
    "scidbstrm.map(on_chunk, finalize)\n"
)


@query(
    "q_arrow_pipe",
    oracle="""
    SELECT round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
    FROM lineitem
    """,
)
def q_arrow_pipe(spark, sf_dir):
    """The feather wire protocol to an EXTERNAL process: a child program
    written against the reference's Python client API (map+finalize over
    framed Arrow IPC messages) computes per-partition sums; a relational
    reduction combines them (reference op_stream_feather,
    FeatherInterface.cpp:201-235 + scidbstrm contract)."""
    from streaming_spark.operators.pipe import pipe_arrow

    li = T(spark, sf_dir, "lineitem").select("l_quantity")
    partials = pipe_arrow(
        li, _child_cmd(_ARROW_CHILD_SUM), "s DOUBLE, n BIGINT", chunk_rows=50000
    )
    return partials.agg(
        F.round(F.sum("s"), 2).alias("sum_qty"),
        F.sum("n").alias("n_rows"),
    )


_DF_CHILD_SUM = (
    "import pandas as pd\n"
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "state = {'s': 0.0, 'n': 0}\n"
    "def on_chunk(df):\n"
    "    state['s'] += float(df['l_quantity'].sum()); state['n'] += len(df)\n"
    "    return None\n"
    "def finalize():\n"
    "    return pd.DataFrame({'s': pd.array([state['s']], dtype='Float64'),\n"
    "                         'n': pd.array([state['n']], dtype='Int32')})\n"
    "df_child_loop(on_chunk, finalize)\n"
)

_DF_CHILD_IDENTITY = (
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "df_child_loop(lambda df: df)\n"
)


def _child_cmd(code: str) -> str:
    """A shell command running ``code`` in this Python, with the engine
    importable."""
    import base64
    import sys

    from streaming_spark.session import ENGINE_ROOT

    b64 = base64.b64encode(code.encode()).decode()
    return (
        f"PYTHONPATH={ENGINE_ROOT} {sys.executable} -uc "
        f"\"import base64; exec(base64.b64decode('{b64}'))\""
    )


@query(
    "q_df_pipe",
    oracle="""
    SELECT round(sum(l_quantity), 2) AS sum_qty, CAST(count(*) AS INT) AS n_rows
    FROM lineitem
    """,
)
def q_df_pipe(spark, sf_dir):
    """The R ``df`` wire protocol to an external process (reference
    op_stream_df, DFInterface.cpp:179-447): an R_sum.R-shaped child
    (reference examples/R_sum.R:7-31 — empty reply per chunk, one total
    at the final handshake) accumulates per-partition sums over
    R-serialized messages; a relational reduction combines them."""
    from streaming_spark.operators.pipe import pipe_df

    li = T(spark, sf_dir, "lineitem").select("l_quantity")
    partials = pipe_df(li, _child_cmd(_DF_CHILD_SUM), "s DOUBLE, n INT")
    return partials.agg(
        F.round(F.sum("s"), 2).alias("sum_qty"),
        F.sum("n").cast("int").alias("n_rows"),
    )


@query(
    "q_df_roundtrip",
    oracle="""
    SELECT CAST(o_orderkey AS INTEGER) AS k,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS status
    FROM orders
    """,
)
def q_df_roundtrip(spark, sf_dir):
    """R_identity.R echo child over the df wire: int32/double/string
    columns with nulls round-trip exactly — R NA conventions on the wire
    (NA_real_ 1954-payload NaN, NA_integer_ INT32_MIN, length -1 CHARSXP;
    reference DFInterface.cpp:116-118, :206-216)."""
    from streaming_spark.operators.pipe import pipe_df

    orders = T(spark, sf_dir, "orders")
    typed = orders.select(
        F.col("o_orderkey").cast("int").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    return pipe_df(
        typed, _child_cmd(_DF_CHILD_IDENTITY), "k INT, price DOUBLE, status STRING"
    )


_DF_CHILD_GAUSS = (
    "import pandas as pd\n"
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "def on_chunk(df):\n"
    "    g = df.groupby('seed')['x']\n"
    "    out = pd.DataFrame({\n"
    "        'seed': pd.array(g.count().index.astype(int), dtype='Int32'),\n"
    "        'n': pd.array(g.count().to_numpy(), dtype='Int32'),\n"
    "        's1': pd.array(g.sum().to_numpy(), dtype='Float64'),\n"
    "        's2': pd.array((g.apply(lambda v: (v * v).sum())).to_numpy(),\n"
    "                       dtype='Float64')})\n"
    "    return out\n"
    "df_child_loop(on_chunk)\n"
)


@query(
    "q_model_selection_df",
    oracle="""
    WITH seeds AS (SELECT unnest(generate_series(1, 4)) AS seed),
    s AS (
      SELECT seed, l_extendedprice AS x
      FROM lineitem, seeds
      WHERE substring(md5(seed || ':' || l_orderkey), 1, 8) <= '0ccccccc')
    SELECT CAST(seed AS INT) AS seed,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(x), 2) AS mu,
           round(stddev_pop(x), 2) AS sigma,
           round(-count(*) * (0.5 + ln(stddev_pop(x)) + 0.5 * ln(2 * pi())), 1)
             AS loglik
    FROM s GROUP BY seed
    """,
)
def q_model_selection_df(spark, sf_dir):
    """The poLCA vignette made FULLY verifiable: per-seed deterministic
    subsamples (md5-threshold — the reproducible-across-cluster-sizes
    replication the vignette gets from L'Ecuyer streams, poLCA.Rmd:8-14)
    are fitted by an EXTERNAL df-wire child that emits exact sufficient
    statistics (n, Σx, Σx²) per chunk; the relational layer combines
    them into (μ, σ, log-likelihood) per candidate model.  Because the
    statistics combine exactly, the result is partition-independent and
    ORACLE-CHECKED — an external-process model fit matching SQL to the
    last rounded digit."""
    from streaming_spark.operators.pipe import pipe_df

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    seeds = spark.range(1, 5).select(F.col("id").cast("int").alias("seed"))
    replicated = (
        li.crossJoin(F.broadcast(seeds))
        .filter(
            F.substring(
                F.md5(F.concat_ws(":", F.col("seed"), F.col("l_orderkey"))), 1, 8
            )
            <= "0ccccccc"
        )
        .select("seed", F.col("l_extendedprice").alias("x"))
    )
    partials = pipe_df(
        replicated, _child_cmd(_DF_CHILD_GAUSS), "seed INT, n INT, s1 DOUBLE, s2 DOUBLE"
    )
    n = F.sum("n").cast("bigint")
    mu = F.sum("s1") / F.sum("n")
    var = F.sum("s2") / F.sum("n") - mu * mu
    sigma = F.sqrt(var)
    pi2 = 2 * 3.141592653589793
    loglik = -n * (F.lit(0.5) + F.log(sigma) + 0.5 * F.log(F.lit(pi2)))
    return (
        partials.groupBy("seed")
        .agg(
            n.alias("n"),
            F.round(mu, 2).alias("mu"),
            F.round(sigma, 2).alias("sigma"),
            F.round(loglik, 1).alias("loglik"),
        )
        .select(F.col("seed").cast("int").alias("seed"), "n", "mu", "sigma", "loglik")
    )


_DF_CHILD_LINREG_STATS = (
    "import pandas as pd\n"
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "def on_chunk(df):\n"
    "    x, y = df['x'], df['y']\n"
    "    return pd.DataFrame({\n"
    "        'n': pd.array([len(df)], dtype='Int32'),\n"
    "        'sx': pd.array([float(x.sum())], dtype='Float64'),\n"
    "        'sy': pd.array([float(y.sum())], dtype='Float64'),\n"
    "        'sxx': pd.array([float((x * x).sum())], dtype='Float64'),\n"
    "        'sxy': pd.array([float((x * y).sum())], dtype='Float64')})\n"
    "df_child_loop(on_chunk)\n"
)

_DF_CHILD_LINREG_PREDICT = (
    "import pandas as pd\n"
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "model = {}\n"
    "def on_side(df):\n"
    "    model['a'] = float(df['intercept'][0]); model['b'] = float(df['slope'][0])\n"
    "def on_chunk(df):\n"
    "    return pd.DataFrame({\n"
    "        'k': pd.array(df['k'], dtype='Int32'),\n"
    "        'ln': pd.array(df['ln'], dtype='Int32'),\n"
    "        'pred': pd.array(model['a'] + model['b'] * df['x'], dtype='Float64')})\n"
    "df_child_loop(on_chunk, n_side=1, on_side=on_side)\n"
)


@query(
    "q_ml_train_predict_df",
    oracle="""
    WITH m AS (
      SELECT regr_slope(l_extendedprice, l_quantity) AS b,
             regr_intercept(l_extendedprice, l_quantity) AS a
      FROM lineitem WHERE l_orderkey % 10 <> 0)
    SELECT CAST(l_orderkey AS INT) AS k,
           l_linenumber AS ln,
           round(a + b * l_quantity, 4) AS pred
    FROM lineitem, m
    WHERE l_orderkey % 10 = 0
    """,
)
def q_ml_train_predict_df(spark, sf_dir):
    """The advanced vignette's full ML flow over the df wire (reference
    advanced_example.Rmd:288,326: train children → _sg gather → combine
    → store model → predict children with the model as _sg side input):
    an external trainer child emits EXACT sufficient statistics
    (n, Σx, Σy, Σx², Σxy) per chunk; the relational layer combines them
    and solves the normal equations (the 5-number gather IS the
    reference's _sg(...,2,0)); the fitted model rides the df-wire side
    input into an external predictor child scoring the held-out split.
    Oracle: DuckDB's regr_slope/regr_intercept on the same split —
    an end-to-end external-process ML pipeline checked against SQL."""
    from streaming_spark.operators.pipe import pipe_df

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    train = li.filter(F.col("l_orderkey") % 10 != 0).select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    partials = pipe_df(
        train,
        _child_cmd(_DF_CHILD_LINREG_STATS),
        "n INT, sx DOUBLE, sy DOUBLE, sxx DOUBLE, sxy DOUBLE",
    )
    m = partials.agg(
        F.sum("n").alias("n"), F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"), F.sum("sxy").alias("sxy"),
    ).first()
    # normal equations on combined exact statistics
    slope = (m.n * m.sxy - m.sx * m.sy) / (m.n * m.sxx - m.sx * m.sx)
    intercept = (m.sy - slope * m.sx) / m.n
    side = pd.DataFrame(
        {
            "slope": pd.array([slope], dtype="Float64"),
            "intercept": pd.array([intercept], dtype="Float64"),
        }
    )
    test = li.filter(F.col("l_orderkey") % 10 == 0).select(
        F.col("l_orderkey").cast("int").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").alias("x"),
    )
    preds = pipe_df(
        test,
        _child_cmd(_DF_CHILD_LINREG_PREDICT),
        "k INT, ln INT, pred DOUBLE",
        side_input=side,
    )
    return preds.select("k", "ln", F.round("pred", 4).alias("pred"))
