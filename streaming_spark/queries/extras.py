"""Additional surface: grouped-map UDFs, set operations, the scalar
expression library the reference workloads use (SURVEY.md §2.4), distinct
aggregation, and the poLCA per-instance model-selection pattern.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from streaming_spark.io import local_frame
from streaming_spark.queries.registry import T, query


@query(
    "q_grouped_map_zscore",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(CASE WHEN stddev_pop(l_quantity) OVER w = 0 THEN 0.0
                      ELSE (l_quantity - avg(l_quantity) OVER w)
                           / stddev_pop(l_quantity) OVER w END, 6) AS z
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
)
def q_grouped_map_zscore(spark, sf_dir):
    """groupBy().applyInPandas — the keyed upgrade of the reference's
    per-*instance* grouping (SURVEY.md §2.6: grouping by key has no
    reference analog; stream() groups by physical instance only).
    Whole-group z-score of quantity per return flag."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        sd = float(q.std(ddof=0))
        z = (q - q.mean()) / sd if sd > 0 else q * 0.0
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "z": z.round(6),
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        zscore, "l_orderkey BIGINT, l_linenumber INT, z DOUBLE"
    )


@query(
    "q_set_ops",
    oracle="""
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
         pri AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union' AS op, count(*) AS n
      FROM (SELECT DISTINCT o_custkey FROM (SELECT * FROM hi UNION SELECT * FROM pri))
    UNION ALL
    SELECT 'intersect', count(*) FROM (SELECT DISTINCT o_custkey FROM hi
                                       INTERSECT SELECT DISTINCT o_custkey FROM pri)
    UNION ALL
    SELECT 'except', count(*) FROM (SELECT DISTINCT o_custkey FROM hi
                                    EXCEPT SELECT DISTINCT o_custkey FROM pri)
    """,
)
def q_set_ops(spark, sf_dir):
    """union / intersect / except (absent from the reference, SURVEY.md
    §2.6) — distinct set semantics over customer key sets."""
    orders = T(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 150000).select("o_custkey").distinct()
    pri = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    u = hi.union(pri).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("union").alias("op"), "n"
    )
    i = hi.intersect(pri).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    # subtract() IS set-difference (left-anti + distinct, one exchange);
    # the previous exceptAll().distinct() planned the strictly costlier
    # multiset count-replication form just to re-distinct it
    e = hi.subtract(pri).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except").alias("op"), "n"
    )
    return u.unionByName(i).unionByName(e)


@query(
    "q_scalar_expressions",
    oracle=r"""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_class,
           CAST(floor(l_quantity) AS INTEGER) AS qty_int,
           CAST(l_extendedprice AS VARCHAR) AS price_str,
           concat('item-', CAST(l_linenumber AS VARCHAR)) AS tag,
           regexp_replace(l_returnflag, 'R', 'X', 'g') AS flag_sub,
           CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_tax END AS maybe_tax,
           (CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_tax END) IS NULL
             AS tax_is_null,
           l_quantity * 10 + 0.1 AS arith,
           CAST(l_linenumber AS BIGINT) % 2 = 0 AS is_even
    FROM lineitem
    """,
)
def q_scalar_expressions(spark, sf_dir):
    """The reference workloads' scalar expression set in one query
    (SURVEY.md §2.4): iif → when/otherwise, casts, string concat,
    regex substitution (rsub), null literal + is_null, arithmetic,
    modulo/bool (reference tests/test.sh:70-75, advanced_example.Rmd:
    110-127, py_pkg_examples.sh:44)."""
    li = T(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    maybe_tax = F.when(ln % 4 == 0, F.lit(None)).otherwise(F.col("l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") > 25, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        # floor() before the cast: Spark CAST truncates, DuckDB rounds
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.col("l_extendedprice").cast("string").alias("price_str"),
        F.concat(F.lit("item-"), ln.cast("string")).alias("tag"),
        F.regexp_replace("l_returnflag", "R", "X").alias("flag_sub"),
        maybe_tax.alias("maybe_tax"),
        maybe_tax.isNull().alias("tax_is_null"),
        (F.col("l_quantity") * 10 + 0.1).alias("arith"),
        (ln.cast("bigint") % 2 == 0).alias("is_even"),
    )


@query(
    "q_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark, sf_dir):
    """Distinct aggregation (absent from the reference, SURVEY.md §2.6).
    At 100 TB swap countDistinct for approx_count_distinct (HLL) — same
    query shape, no exact-distinct shuffle explosion."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@query("q_model_selection")  # rows-only: per-partition fits are placement-dependent
def q_model_selection(spark, sf_dir):
    """poLCA pattern: replicate data, fit one model per instance with a
    different seed, select the best by log-likelihood (reference
    r_pkg/vignettes/poLCA.Rmd:60-80, polca_example.R).  Here: per-partition
    Gaussian fits of extendedprice with partition-seeded subsampling; the
    best (highest log-likelihood on its sample) wins via a single-row
    top-k.

    ONE model per partition, exactly: the map consumes the partition's
    whole Arrow-batch ITERATOR before fitting — a per-batch map would
    fit once per 65536-row chunk, reusing the partition seed across
    chunks and silently breaking the one-model-per-instance semantics
    whenever a partition spans several batches (it does at sf0.1: 600k
    rows / 8 partitions = 2 chunks each).  The accumulated column is
    one float per row of the partition — bounded by the repartition
    contract."""
    import numpy as np

    from streaming_spark.operators.stream import ensure_parallelism

    li = ensure_parallelism(
        T(spark, sf_dir, "lineitem").select("l_extendedprice"), 8
    )

    def fit(batches):
        from pyspark import TaskContext

        seed = (TaskContext.get().partitionId() if TaskContext.get() else 0) + 1
        parts = [b["l_extendedprice"].to_numpy() for b in batches]
        if not parts:
            return
        x = np.concatenate(parts)
        rng = np.random.default_rng(seed)
        sample = rng.choice(x, size=min(len(x), 2000), replace=False)
        mu, sigma = float(sample.mean()), float(sample.std() + 1e-9)
        ll = float(
            -0.5 * np.sum(((sample - mu) / sigma) ** 2)
            - len(sample) * np.log(sigma * np.sqrt(2 * np.pi))
        )
        yield pd.DataFrame(
            {"seed": [seed], "mu": [mu], "sigma": [sigma], "loglik": [ll]}
        )

    fits = li.mapInPandas(fit, "seed INT, mu DOUBLE, sigma DOUBLE, loglik DOUBLE")
    return fits.orderBy(F.col("loglik").desc()).limit(1)


@query(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark, sf_dir):
    """Semi-structured extraction: pull a field out of a JSON string
    column and aggregate (the props column models event payloads)."""
    from streaming_spark.queries.registry import events_table

    ev = events_table(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_window_functions",
    oracle="""
    SELECT o_orderkey, o_custkey,
           rank() OVER w AS price_rank,
           row_number() OVER w AS rn,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_functions(spark, sf_dir):
    """Ranking/analytic window functions (absent from the reference,
    SURVEY.md §2.6): rank, row_number, lag, lead, windowed sum."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wp = Window.partitionBy("o_custkey")
    return T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("price_rank"),
        F.row_number().over(w).alias("rn"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.round(F.sum("o_totalprice").over(wp), 2).alias("cust_total"),
    )


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """Grouping-set aggregation (rollup) — subtotals + grand total in one
    pass (absent from the reference, SURVEY.md §2.6)."""
    return (
        T(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
           round(min(l_quantity), 6) AS min_qty,
           round(max(l_quantity), 6) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact percentile aggregation (continuous interpolation, matching
    quantile_cont).  At 100 TB swap for approx_percentile — same shape."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
            F.round(F.min("l_quantity"), 6).alias("min_qty"),
            F.round(F.max("l_quantity"), 6).alias("max_qty"),
        )
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n, max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark, sf_dir):
    """Skew-proof aggregation: two-phase salted groupBy (phase 1 spreads
    each key over 16 salt buckets, phase 2 merges partials).  Identical
    results to a plain groupBy — the point is the shuffle shape: no
    single reducer ever owns a hot key.  l_returnflag has only 3 values,
    exactly the degenerate-key case salting exists for."""
    from streaming_spark.operators.skew import salted_aggregate

    # project FIRST: salted_aggregate salts with F.hash(*df.columns), so
    # handing it the full table makes the salt reference all 16 lineitem
    # columns and defeats column pruning on the scan — the 3 needed
    # columns keep ReadSchema narrow (salt values change, results don't:
    # the salt only spreads rows across reducers)
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        partials={
            "p_sum": F.sum("l_quantity"),
            "p_n": F.count(F.lit(1)),
            "p_max": F.max("l_extendedprice"),
        },
        merges={
            "sum_qty": F.round(F.sum("p_sum"), 2),
            "n": F.sum("p_n"),
            "max_price": F.max("p_max"),
        },
        salt_buckets=16,
    )
    return out.select("l_returnflag", "sum_qty", "n", "max_price")


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_join(spark, sf_dir):
    """Co-located join via bucketing: both sides written bucketed by the
    join key, so the join needs NO exchange on either side — at 100 TB
    this converts the nightly fact-fact join from a full shuffle into a
    local merge per bucket.  (Bucket tables are materialized once per
    session into the local warehouse; tests assert the exchange-free
    plan.)"""
    import shutil

    size_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    li_tbl, o_tbl = f"li_bucketed_{size_tag}", f"o_bucketed_{size_tag}"
    existing = {t.name for t in spark.catalog.listTables()}
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def materialize(tbl, df, key):
        if tbl in existing:
            return
        # a stale location from a previous session is invisible to the
        # in-memory catalog — clear it before writing
        shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(tbl)

    materialize(
        li_tbl,
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        "l_orderkey",
    )
    materialize(
        o_tbl,
        T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderkey",
    )
    li = spark.table(li_tbl)
    orders = spark.table(o_tbl)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_BIG_GENES_SQL = """
    SELECT o_orderkey AS gene_id,
           o_custkey % 23 AS chrom,
           (o_orderkey * 7919) % 190000 AS gstart,
           (o_orderkey * 7919) % 190000 + 500 + (o_custkey * 13) % 8000 AS gend
    FROM orders
"""


@query(
    "q_overlap_join_large",
    oracle=f"""
    WITH variants AS (
      SELECT l_orderkey AS vid,
             l_partkey % 23 AS chrom,
             CAST(floor(l_extendedprice * 7) AS BIGINT) % 200000 AS vstart,
             CAST(floor(l_extendedprice * 7) AS BIGINT) % 200000
               + l_linenumber % 8 AS vend
      FROM lineitem),
    genes AS ({_BIG_GENES_SQL})
    SELECT v.chrom AS chrom, count(*) AS n_overlaps
    FROM variants v JOIN genes g
      ON v.chrom = g.chrom AND v.vstart <= g.gend AND v.vend >= g.gstart
    GROUP BY v.chrom
    """,
)
def q_overlap_join_large(spark, sf_dir):
    """Interval join where BOTH sides are fact-sized (genes derived from
    orders — 10x too big to broadcast comfortably at scale): the binned
    grid join shuffles both sides on (chrom, bin) instead of
    broadcasting.  This is the honest 100 TB path for range joins."""
    from streaming_spark.operators.overlap import overlap_join
    from streaming_spark.operators.stream import ensure_parallelism

    li = ensure_parallelism(
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice"
        )
    )
    vstart = F.floor(F.col("l_extendedprice") * 7).cast("bigint") % 200000
    variants = li.select(
        F.col("l_orderkey").alias("vid"),
        (F.col("l_partkey") % 23).alias("chrom"),
        vstart.alias("vstart"),
        (vstart + F.col("l_linenumber") % 8).alias("vend"),
    )
    gstart = (F.col("o_orderkey") * 7919) % 190000
    genes = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("gene_id"),
        (F.col("o_custkey") % 23).alias("chrom"),
        gstart.alias("gstart"),
        (gstart + 500 + (F.col("o_custkey") * 13) % 8000).alias("gend"),
    )
    joined = overlap_join(
        variants, genes, key="chrom",
        left_start="vstart", left_end="vend",
        right_start="gstart", right_end="gend",
        # pinned to what auto_bin_width picks for these tables (half the
        # median gene length): the sf0.1 sweep measured 1024-4096 as the
        # plateau (1.47s) vs 1.65s at 8192 and 2.12s at 16384.  Pinning
        # skips auto's two stats jobs, which at this scale cost more
        # (~1.2s: job overhead + the ensure_parallelism exchange) than
        # the width correction saves; at 100 TB "auto" amortizes.
        bin_width=2048, broadcast_right=False,
    )
    return joined.groupBy("chrom").agg(F.count(F.lit(1)).alias("n_overlaps"))


@query(
    "q_datetime_functions",
    oracle="""
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS order_month,
           EXTRACT(year FROM o_orderdate) AS order_year,
           EXTRACT(quarter FROM o_orderdate) AS order_quarter,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY ALL
    """,
)
def q_datetime_functions(spark, sf_dir):
    """Date/time function surface (absent from the reference, SURVEY.md
    §2.4 last row): truncation, field extraction, time-grouped rollup."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("order_month"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "q_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           replace(c_mktsegment, 'AUTO', 'CAR') AS seg_sub,
           contains(c_mktsegment, 'BUILD') AS is_build,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key
    FROM customer
    """,
)
def q_string_functions(spark, sf_dir):
    """String function surface: case, substring, length, replace,
    contains, padding."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.regexp_replace("c_mktsegment", "AUTO", "CAR").alias("seg_sub"),
        F.col("c_mktsegment").contains("BUILD").alias("is_build"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           round(COALESCE(sum(l_quantity) FILTER (l_linestatus = 'O'), 0), 2) AS qty_O,
           round(COALESCE(sum(l_quantity) FILTER (l_linestatus = 'F'), 0), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot: linestatus values become columns (conditional aggregation
    under the hood — one shuffle, same as the groupBy)."""
    li = T(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
    )


@query(
    "q_semi_anti_join",
    oracle="""
    SELECT 'with_urgent_order' AS cohort, count(*) AS n FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'without_urgent_order', count(*) FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_semi_anti_join(spark, sf_dir):
    """Semi and anti joins (SURVEY.md §2.6 joins list): customers with /
    without an urgent order.  Semi/anti never materialize the right
    side's columns — at scale this is the EXISTS pattern without the
    join fan-out."""
    customer = T(spark, sf_dir, "customer")
    urgent = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_custkey").alias("c_custkey"))
    semi = customer.join(urgent, "c_custkey", "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_urgent_order").alias("cohort"), "n")
    anti = customer.join(urgent, "c_custkey", "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_urgent_order").alias("cohort"), "n")
    return semi.unionByName(anti)


@query(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """CUBE grouping sets — all 2^k subtotal combinations in one pass."""
    return (
        T(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query("q_sketch_distinct")  # rows-only: the HLL sketch estimate is
# engine-internal; its error CONTRACT is asserted in
# tests/test_operators.py::test_sketch_accuracy_floors
def q_sketch_distinct(spark, sf_dir):
    """Sketch-based distinct counting (HyperLogLog++) next to the exact
    count, with the realized relative error — the cardinality-estimation
    contract surfaced as a query.  At 100 TB the sketch is the only
    option for high-cardinality streams: fixed memory, partial-merge
    (one tiny shuffle of sketch buffers), vs the exact path's full
    shuffle of distinct keys."""
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("exact_distinct"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_distinct"),
    ).select(
        "exact_distinct",
        "approx_distinct",
        F.round(
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


@query("q_sketch_percentiles")  # rows-only: approx_percentile's internal
# quantile sketch is engine-specific; accuracy floor tested alongside
# q_sketch_distinct
def q_sketch_percentiles(spark, sf_dir):
    """Quantile sketch (Greenwald-Khanna) vs exact percentiles of
    l_extendedprice, with realized absolute rank error — the
    percentile-estimation contract.  Exact percentiles need a full sort;
    the sketch is mergeable and single-pass."""
    li = T(spark, sf_dir, "lineitem").select("l_extendedprice")
    exact = F.expr(
        "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))"
    ).alias("exact")
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99), 1000)"
    ).alias("approx")
    agg = li.agg(exact, approx)
    return agg.select(
        F.posexplode(
            F.arrays_zip(F.col("exact"), F.col("approx"))
        ).alias("q_idx", "pair")
    ).select(
        "q_idx",
        F.round(F.col("pair.exact"), 2).alias("exact_val"),
        F.round(F.col("pair.approx"), 2).alias("approx_val"),
    )


@query("q_sketch_heavyhitters")  # rows-only: the Misra-Gries candidate
# set is engine-internal (bounded false positives by construction); the
# no-false-NEGATIVES contract is asserted in
# tests/test_operators.py::test_freq_items_no_false_negatives
def q_sketch_heavyhitters(spark, sf_dir):
    """Heavy hitters via Spark's Misra-Gries frequent-items sketch
    (df.stat.freqItems), completing the sketch family next to HLL
    distinct and quantile sketches: single-pass, fixed memory
    (≤ 1/support counters per partition, mergeable), vs the exact path's
    full groupBy shuffle.  The candidate set may contain false positives
    but NEVER misses an item above the support threshold — each
    candidate is therefore joined back to its exact share and flagged.
    The driver-side collect is of the sketch result itself, bounded at
    1/support items regardless of input size — scale-safe by design."""
    from streaming_spark.queries.registry import events_table

    support = 0.2
    ev = events_table(spark, sf_dir).select("event_type")
    candidates = ev.stat.freqItems(["event_type"], support).collect()[0][0]
    total = ev.count()
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        exact.filter(F.col("event_type").isin(list(candidates)))
        .select(
            "event_type",
            "cnt",
            F.round(F.col("cnt") / F.lit(float(total)), 4).alias("share"),
            (F.col("cnt") / F.lit(float(total)) > support).alias("is_true_heavy"),
        )
    )


@query("q_sketch_union")  # rows-only: Datasketches HLL buffers are
# engine-internal; the merge-consistency and error contracts are
# asserted in tests/test_operators.py::test_sketch_union_merge_contract
def q_sketch_union(spark, sf_dir):
    """Mergeable-sketch contract: per-source HLL sketches of customer
    keys, UNIONED into a global estimate — the pattern that makes
    sketches work on a cluster (partials merge associatively; no
    re-scan for rollups).

    Per source-nation we keep the sketch AND the exact distinct; the
    global row estimates from the MERGED sketches only — at 100 TB the
    global pass touches one fixed-size buffer per group, not the data.
    The realized error of the merged estimate is part of the output."""
    orders = T(spark, sf_dir, "orders").select("o_custkey")
    # two deterministic "sources" (key parity) stand in for per-shard
    # sketch production
    tagged = orders.withColumn("src", (F.col("o_custkey") % 2).cast("int"))
    per_src = tagged.groupBy("src").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
    )
    merged = per_src.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct"),
        F.sum("exact_distinct").alias("exact_distinct"),  # parity classes are disjoint
    )
    per_src_out = per_src.select(
        F.concat(F.lit("src_"), F.col("src")).alias("level"),
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        "exact_distinct",
    )
    out = per_src_out.unionByName(
        merged.select(F.lit("global").alias("level"), "est_distinct", "exact_distinct")
    )
    return out.select(
        "level",
        "est_distinct",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_error"),
    )


@query(
    "q_data_quality_report",
    oracle="""
    WITH orphans AS (
      SELECT count(*) AS fk_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL)
    SELECT (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL)
             AS null_quantity,
           (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
             AS null_shipdate,
           (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
             AS bad_quantity,
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1) AS bad_discount,
           (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
             AS bad_price,
           (SELECT fk_orphans FROM orphans) AS fk_orphans
    """,
)
def q_data_quality_report(spark, sf_dir):
    """Expectations-style data-quality report over the fact table: null
    counts, range-constraint violations, and referential orphans — the
    validation gate a pipeline runs before training consumes a drop.

    Scale plan: every null/range check is a conditional sum in ONE
    scan-stage aggregate (no per-check passes — the oracle's subquery
    list is the readable form, not the physical plan).  The FK-orphan
    check is a left anti join against the orders key column only; at
    100 TB that's the one shuffle (or zero, with a bloom-filtered
    probe), and everything else partial-aggregates map-side."""
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders").select("o_orderkey")
    checks = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_quantity"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("null_shipdate"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_quantity"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("bad_discount"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias("bad_price"),
    )
    orphans = (
        li.select("l_orderkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    return checks.crossJoin(F.broadcast(orphans))


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2')
                  ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 100000, md5('inserted')
      FROM documents WHERE doc_id % 11 = 0)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'insert'
                WHEN n.doc_id IS NULL THEN 'delete'
                WHEN o.h <> n.h THEN 'update'
                ELSE 'unchanged' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot diff (CDC shape): classify every key as
    insert/update/delete between two corpus snapshots by comparing
    content digests — the incremental-refresh primitive for derived
    datasets (the second snapshot is synthesized deterministically from
    the fixture: %13 deleted, %7 rewritten, %11 re-inserted shifted).

    Scale plan: each side reduces to (key, digest) at the scan — the
    full outer join shuffles 16-byte digests, never the documents; a
    parquet-bucketed layout on doc_id makes it exchange-free.  Output
    carries changed keys only, so downstream refresh touches the delta,
    not the corpus."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.select("doc_id", F.md5("text").alias("h"))
    new = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" v2")))
            )
            .otherwise(F.md5("text"))
            .alias("h"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.md5(F.lit("inserted")).alias("h"),
            )
        )
    )
    o = old.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("h").alias("n_h"))
    joined = o.join(n, o.o_id == n.n_id, "full_outer")
    return (
        joined.select(
            F.coalesce("o_id", "n_id").alias("doc_id"),
            F.when(F.col("o_id").isNull(), "insert")
            .when(F.col("n_id").isNull(), "delete")
            .when(F.col("o_h") != F.col("n_h"), "update")
            .otherwise("unchanged")
            .alias("change_type"),
        )
        .filter(F.col("change_type") != "unchanged")
    )


@query("q_sketch_countmin")  # rows-only: sketch cells are engine-internal;
# the one-sided-error contract (estimate >= exact, bounded overshoot) is
# asserted in tests/test_operators.py::test_countmin_one_sided_error
def q_sketch_countmin(spark, sf_dir):
    """Count-Min frequency sketch vs exact counts for every event type —
    the point-frequency estimation contract surfaced as a query
    (operators/sketch.py).  The sketch is LINEAR: per-partition matrices
    merge by elementwise sum in one narrow pass — no key shuffle at all,
    vs the exact path's groupBy exchange; estimates are one-sided
    (never undercount).  At 100 TB this answers "how often does item X
    appear" for arbitrary X in fixed memory."""

    from streaming_spark.operators.sketch import (
        countmin_estimate,
        countmin_sketch,
    )
    from streaming_spark.queries.registry import events_table

    ev = events_table(spark, sf_dir)
    sk = countmin_sketch(ev, "event_type", depth=4, width=256)
    exact = ev.groupBy("event_type").count().orderBy("event_type").collect()
    types = [r["event_type"] for r in exact]
    est = countmin_estimate(sk, types)
    pdf = pd.DataFrame(
        {
            "event_type": types,
            "exact_n": [r["count"] for r in exact],
            "estimate_n": est,
        }
    )
    pdf["overshoot"] = pdf["estimate_n"] - pdf["exact_n"]
    return local_frame(spark, pdf)


@query("q_sketch_bloom")  # rows-only: bloom bits are engine-internal;
# the no-false-negative and FP-bound contracts are asserted in
# tests/test_operators.py::test_bloom_no_false_negatives_and_fp_bound
def q_sketch_bloom(spark, sf_dir):
    """Bloom membership sketch vs exact membership, surfaced as a query
    (operators/sketch.py `bloom_build`): the filter is built over every
    distinct customer name in one narrow bitwise-OR pass, then probed
    with those same names (must ALL hit — no false negatives, witnessed
    in-row by n_false_neg = 0) and with an equal-sized set of synthetic
    absent names (each hit there is a false positive; the observed rate
    rides along).  At 100 TB this is the broadcastable membership gate
    in front of any expensive corpus lookup — fixed memory, one-sided
    error."""

    from streaming_spark.operators.sketch import bloom_build, bloom_contains

    cust = T(spark, sf_dir, "customer").select(F.col("c_name").alias("v")).distinct()
    bloom = bloom_build(cust, "v", n_bits=1 << 16, k=4)
    present = sorted(r["v"] for r in cust.collect())
    absent = [f"no-such-customer#{i:06d}" for i in range(len(present))]
    hits_p = bloom_contains(bloom, present, k=4)
    hits_a = bloom_contains(bloom, absent, k=4)
    n_false_neg = sum(1 for h in hits_p if not h)
    n_false_pos = sum(1 for h in hits_a if h)
    pdf = pd.DataFrame(
        {
            "n_indexed": [len(present)],
            "n_probed_present": [len(present)],
            "n_false_neg": [n_false_neg],
            "n_probed_absent": [len(absent)],
            "n_false_pos": [n_false_pos],
        }
    )
    return local_frame(spark, pdf)
