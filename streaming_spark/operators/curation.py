"""Dataset-curation operators for training-data pipelines — sequence
packing, document chunking, deterministic sampling, PII scrubbing.

All pure column expressions (window functions, ``sequence`` explodes,
``regexp_replace``) — whole-stage codegen end to end, no Python in any
hot path.  These generalize the reference's train/test-split and
ML-pipeline patterns (reference py_pkg/examples/4-machine-learning.py,
1-map-finalize.py) to the curation surface a 100 TB corpus needs.

Scale notes, per operator, are in each docstring; the common theme is
that every shuffle is keyed by a bounded-cardinality column (``source``
strata, pack ids) or is a single global exchange the operation
fundamentally requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_spark.io import local_frame
from streaming_spark.operators.text import token_count


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    max_tokens: int = 512,
    token_counter=None,
) -> DataFrame:
    """Greedy contiguous sequence packing: assign documents to training
    context windows ("packs") of ``max_tokens`` whitespace tokens.

    Documents are ordered deterministically inside each ``group_col``
    stratum (by md5 of the id — a stable shuffle-proof order), a running
    token total is computed, and a document starts a new pack whenever
    the running total before it crosses a ``max_tokens`` boundary:
    ``pack_no = floor((cumsum - n_tokens) / max_tokens)``.  Documents
    longer than ``max_tokens`` occupy packs alone (they overflow their
    boundary, exactly like real packing with truncation downstream).

    Scale shape: ONE shuffle, keyed (group, md5-order) via a window sort
    per group — packing is embarrassingly parallel across groups
    (sources/shards), which is how 100 TB pipelines pack (per input
    shard, never a global sort).  Output is one row per document with
    its (group, pack_no) assignment.
    """
    order = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(order)
    # token_counter: any str|Column -> Column counter (default whitespace
    # words; pass text.bpe_ish_token_count — or a real tokenizer's count
    # column — to budget in sub-word pieces)
    toks = (token_counter or token_count)(text_col)
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            toks.alias("n_tokens"),
            order.alias("__ord"),
        )
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .select(
            id_col,
            group_col,
            "n_tokens",
            F.floor((F.col("__cum") - F.col("n_tokens")) / max_tokens)
            .cast("bigint")
            .alias("pack_no"),
        )
    )


def pack_stats(packed: DataFrame, group_col: str = "source") -> DataFrame:
    """Aggregate pack assignments → per-pack fill statistics (doc count,
    token total).  Partial aggregation applies; the shuffle key
    (group, pack_no) is high-cardinality and uniform by construction."""
    return packed.groupBy(group_col, "pack_no").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 200,
    overlap: int = 40,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the context-window chunking step of a pretraining/RAG pipeline.

    Chunk starts are ``1, 1+stride, 1+2*stride, ...`` with
    ``stride = chunk_chars - overlap``, up to ``len - overlap`` — the
    smallest start set that covers every character (the last start s
    satisfies s + chunk > len), without redundant tail chunks.
    Implemented as a JVM-side ``sequence()`` explode + ``substring`` —
    one narrow map stage, no shuffle at all; chunking is per-row and
    scales linearly.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    # carry_cols ride the explode (no join-back needed downstream —
    # recovering metadata by re-joining on id would shuffle the chunk
    # set, which is strictly larger than the input)
    carry = [F.col(c) for c in carry_cols]
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            *carry,
            F.posexplode(starts).alias("chunk_no", "start"),
        )
        .select(
            id_col,
            *carry_cols,
            "chunk_no",
            F.substring(F.col(text_col), F.col("start"), chunk_chars).alias("chunk"),
        )
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling: exactly ``min(k, |stratum|)``
    rows per stratum, chosen by md5-of-id order — a content-independent,
    rerun-stable pseudo-random order (the engine's standard deterministic
    substitute for ``rand()``, which breaks under task retry).

    Scale shape: one shuffle keyed by stratum.  A hot stratum sorts only
    its own partitionful; for truly giant strata switch to the
    ``sample_uniform_hash`` threshold filter (no sort, approximate k).
    """
    w = Window.partitionBy(strata_col).orderBy(F.md5(F.col(id_col).cast("string")))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def sample_uniform_hash(
    df: DataFrame, id_col: str = "doc_id", fraction: float = 0.1
) -> DataFrame:
    """Deterministic uniform sampling by hash threshold: keep a row when
    the first 8 hex digits of md5(id) fall under ``fraction`` of the
    32-bit space.  NO shuffle, no sort, no RNG state — the filter pushes
    into the scan stage and the sample is identical on every rerun and
    every cluster size.  This is the 100 TB default; exact-k sampling is
    what :func:`sample_stratified` is for."""
    threshold = format(int(fraction * 0xFFFFFFFF), "08x")
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    # fixed-width lowercase hex compares lexicographically == numerically,
    # so no base conversion is needed on either engine
    return df.filter(prefix <= threshold)


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}[-. ]\d{3}[-. ]\d{4}"


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """Replace email addresses and phone-shaped digit groups with typed
    placeholder tokens — the standard pre-training scrub pass.  Pure
    ``regexp_replace`` (RE2-compatible patterns, so the DuckDB oracle
    matches byte for byte); flags rows that were touched.  Codegen'd,
    no shuffle."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), PII_EMAIL, "<EMAIL>"),
        PII_PHONE,
        "<PHONE>",
    )
    return df.withColumn(out_col, scrubbed).withColumn(
        "had_pii", F.col(out_col) != F.col(text_col)
    )


def frame_windows(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "id",
    frame_bytes: int = 64,
    hop_bytes: int = 32,
) -> DataFrame:
    """Overlapping byte windows over a binary column — the audio framing
    primitive (frame length + hop, as in STFT pipelines), kept as opaque
    bytes because codecs are stubbed in this container.

    JVM-side ``sequence`` explode + binary ``substring`` — one narrow
    stage, no Python, no shuffle; frame starts run to ``n - overlap``
    (overlap = frame - hop), the smallest set covering every byte with
    no redundant tail frames.
    """
    overlap = max(frame_bytes - hop_bytes, 0)
    n = F.octet_length(F.col(blob_col))
    starts = F.sequence(
        F.lit(1), F.greatest(n - F.lit(overlap), F.lit(1)), F.lit(hop_bytes)
    )
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(blob_col),
            F.posexplode(starts).alias("frame_no", "start"),
        )
        .select(
            id_col,
            "frame_no",
            F.expr(f"substring({blob_col}, start, {frame_bytes})").alias("frame"),
            F.octet_length(
                F.expr(f"substring({blob_col}, start, {frame_bytes})")
            ).alias("frame_len"),
        )
    )


def _write_range_layout(
    df: DataFrame, path: str, key: str, n_files: int, drop: tuple = ()
) -> None:
    """Write ``df`` as ``n_files`` parquet files, file i holding the i-th
    range of the numeric ``key``, sorted on it.  The ranges are cut at
    the exact ``i/n_files`` quantiles, so the same input always yields
    the same files (``repartitionByRange`` draws them from a sample
    seeded by the RDD id, which moved them on every write).  Cost: one
    exact quantile agg (it holds each distinct key's count), one hash
    shuffle and an in-partition sort."""
    cuts = [i / n_files for i in range(1, n_files)]
    bounds = df.agg(F.percentile(key, cuts)).first()[0] if cuts else []
    rank = sum(((F.col(key) > b).cast("int") for b in bounds), F.lit(0))
    # a hash shuffle sends key k to partition pmod(hash(k), n_files); key
    # range i by the smallest id that hashes to i, so range i is file i
    keys = dict(
        df.sparkSession.range(64 * n_files)
        .groupBy(F.pmod(F.hash("id"), F.lit(n_files)))
        .agg(F.min("id"))
        .collect()
    )
    part = F.array(*[F.lit(keys[i]) for i in range(n_files)])[rank]
    (
        df.repartition(n_files, part.cast("bigint"))
        .sortWithinPartitions(key)
        .drop(*drop)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_sorted_layout(
    df: DataFrame,
    path: str,
    range_col: str,
    n_files: int = 8,
) -> None:
    """Materialize ``df`` as ``n_files`` parquet files range-partitioned
    and sorted by the numeric ``range_col`` — the write-side layout that
    makes later range scans prune: each file owns a disjoint key range,
    so parquet footer min/max statistics skip whole files/row groups for
    selective predicates.  This is the z-order-lite single-key layout;
    the bounds are exact quantiles, so the files are the same on every
    write (:func:`_write_range_layout`), and no driver data."""
    _write_range_layout(df, path, range_col, n_files)


def layout_file_stats(spark, path: str, range_col: str) -> DataFrame:
    """Per-file (min, max, rows) of a written layout plus a global
    disjointness check — reads back only the key column."""
    df = spark.read.parquet(path).select(
        F.col(range_col), F.input_file_name().alias("file")
    )
    per_file = df.groupBy("file").agg(
        F.min(range_col).alias("lo"),
        F.max(range_col).alias("hi"),
        F.count(F.lit(1)).alias("rows"),
    )
    # GLOBAL (unpartitioned) window — bounded by construction: the input
    # is the per-FILE aggregate (one row per parquet part file, ≤ the
    # layout's n_files), never data-sized.  This is one of the known
    # WindowExec-warning sites the plan gate admits
    # (test_plans.py::test_registry_has_no_unbounded_global_window,
    # KNOWN_BOUNDED_GLOBAL_WINDOWS) — reached via layout_sorted_write.
    w = Window.orderBy("lo")
    return per_file.withColumn(
        "disjoint", F.coalesce(F.col("lo") > F.lag("hi").over(w), F.lit(True))
    )


def sample_domain_mix(
    df: DataFrame,
    targets: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mix resampling: take exactly ``targets[stratum]`` rows per
    stratum (md5-of-id order — deterministic), dropping strata not in
    ``targets``.  The curation step that rebalances a crawl toward a
    training mixture.  One shuffle keyed by stratum; the per-stratum k
    is a small CASE expression, no driver loop."""
    w = Window.partitionBy(strata_col).orderBy(F.md5(F.col(id_col).cast("string")))
    if not targets:
        return df.filter(F.lit(False))  # empty mixture -> empty result
    expr = None
    for stratum, count in sorted(targets.items()):
        cond = F.col(strata_col) == stratum
        expr = F.when(cond, count) if expr is None else expr.when(cond, count)
    k = expr.otherwise(F.lit(0))
    return (
        df.withColumn("__k", k)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__k"))
        .drop("__k", "__rn")
    )


def _spread_bits16(c: Column) -> Column:
    """Spread a 16-bit value's bits to the even positions of a 32-bit
    word (closed-form magic-mask sequence — 4 shift/or/mask steps, all
    whole-stage-codegen'd; no UDF)."""
    c = c.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in (
        (8, 0x00FF00FF),
        (4, 0x0F0F0F0F),
        (2, 0x33333333),
        (1, 0x55555555),
    ):
        c = F.shiftleft(c, shift).bitwiseOR(c).bitwiseAND(F.lit(mask))
    return c


def zvalue2(x: Column, y: Column) -> Column:
    """Morton (Z-order) interleave of two 16-bit dimensions into one
    32-bit sort key: x bits at even positions, y bits at odd.  Rows
    close in BOTH dimensions land close on the curve, so a layout
    sorted by z-value clusters multi-dimensional locality into few
    files — the property file-statistics pruning needs for predicates
    on EITHER dimension (a single-column sort only serves its own
    column)."""
    return _spread_bits16(x).bitwiseOR(F.shiftleft(_spread_bits16(y), 1))


def write_zorder_layout(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
) -> None:
    """Materialize ``df`` as ``n_files`` parquet files range-partitioned
    and sorted by the Morton code of min-max-scaled (x, y) — the
    two-dimensional upgrade of write_sorted_layout.

    Both dimensions are scaled to the full 16-bit domain first (one
    tiny min/max aggregate, broadcast back).  Interleaving RAW values
    of unequal bit width silently degenerates to a single-column sort —
    the wider column's high bits own the top of every z-value, and the
    narrow column's locality is lost (measured on the fixture: raw
    interleave of an 11-bit × 7-bit pair left a y-range query touching
    all 16 files, exactly like the linear layout).

    The files are cut at exact z-value quantiles by
    :func:`_write_range_layout`, so the same input always yields the
    same files.  Cost shape: the stats agg plus that writer's quantile
    agg, hash shuffle and sort; the z computation is pure codegen.  At
    100 TB this is the layout pass you run once per ingest so every
    later selective scan on either dimension prunes."""
    stats = df.agg(
        F.min(x_col).alias("__xmin"),
        F.max(x_col).alias("__xmax"),
        F.min(y_col).alias("__ymin"),
        F.max(y_col).alias("__ymax"),
    )

    def scaled(col: str, lo: str, hi: str) -> Column:
        span = F.greatest(F.col(hi) - F.col(lo), F.lit(1)).cast("double")
        frac = (F.col(col) - F.col(lo)).cast("double") / span
        return F.least(F.floor(frac * 65536).cast("bigint"), F.lit(65535))

    z = zvalue2(scaled(x_col, "__xmin", "__xmax"), scaled(y_col, "__ymin", "__ymax"))
    zdf = df.crossJoin(F.broadcast(stats)).withColumn("__z", z)
    _write_range_layout(
        zdf, path, "__z", n_files, drop=("__z", "__xmin", "__xmax", "__ymin", "__ymax")
    )


def compact_files(
    spark,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
) -> DataFrame:
    """Small-files compaction — the table-maintenance operator every
    long-running ingest needs: micro-batch sinks and per-batch
    partitions (q_streaming_sink_parquet, incremental rollups) leave
    thousands of small files whose per-file open/footer cost eventually
    dominates scans.  Rewrites ``src_dir`` into ceil(total/target)
    files at ``dst_dir`` and returns a one-row stats frame
    (files/bytes before and after, achieved mean file size).

    ``shuffle=False`` (default) uses coalesce — no exchange, adjacent
    partitions concatenate, file sizes approximate the target (right
    for maintenance passes).  ``shuffle=True`` uses a round-robin
    repartition — one full exchange buying near-uniform output sizes
    (right when the source is skewed or downstream wants balanced
    splits).  Sizing reads the filesystem listing, not the data.

    At deployment this runs per table partition (compact yesterday's
    partition after the day closes), so the rewrite unit stays bounded
    regardless of table size."""
    import math
    import os

    def dir_stats(d):
        sizes = []
        for root, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    sizes.append(os.path.getsize(os.path.join(root, n)))
        return len(sizes), sum(sizes)

    files_before, bytes_total = dir_stats(src_dir)
    n_out = max(1, math.ceil(bytes_total / target_bytes))
    df = spark.read.parquet(src_dir)
    writer = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    writer.write.mode("overwrite").parquet(dst_dir)
    files_after, bytes_after = dir_stats(dst_dir)
    return local_frame(
        spark,
        [
            (
                files_before,
                files_after,
                bytes_total,
                bytes_after,
                int(bytes_after / max(files_after, 1)),
            )
        ],
        "files_before BIGINT, files_after BIGINT, bytes_before BIGINT,"
        " bytes_after BIGINT, mean_file_bytes BIGINT",
    )


def quota_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    quota: int,
    key: Column | None = None,
) -> DataFrame:
    """Deterministic per-group quota sample: the ``quota`` rows of each
    group with the smallest ``key`` (default md5-of-id — the stable
    shuffle-proof order every deterministic sampler here uses; pass
    e.g. a negated quality score to keep each group's BEST rows
    instead of a uniform draw).  Ties always break on the id, so any
    key yields one answer.

    Physical plan — two-phase bounded top-k, NOT a per-group window:
    a window partitioned by group must buffer-and-sort each group's
    ENTIRE row set in one task, which breaks exactly when groups are
    few and large (k-means cells, coarse domains) — the 100 TB case.
    Instead (1) a narrow per-partition map keeps each partition's local
    quota per group (state ≤ groups·quota rows per task), then (2) one
    groupBy folds the ≤ partitions·quota survivors per group and slices
    the global quota via sort_array — an aggregation whose input is
    already quota-bounded, never data-sized.  Output: (group, id)."""
    import pandas as pd

    from streaming_spark.operators.stream import stream

    key_expr = (
        key if key is not None else F.md5(F.col(id_col).cast("string"))
    )
    keyed = df.select(
        F.col(group_col).alias("__grp"),
        F.col(id_col).alias("__id"),
        key_expr.alias("__key"),  # native type: numeric keys sort numerically
    ).filter(F.col("__key").isNotNull())
    # NULL keys are excluded up front: pandas sorts NaN last while
    # sort_array sorts null FIRST, so a null-keyed row could lose the
    # partition phase yet win the global slice — dropping them keeps
    # the two phases ordering-consistent (and a null score has no
    # defensible rank anyway)

    def local_topk(pdf: pd.DataFrame, side) -> pd.DataFrame:
        q = side
        if len(pdf) == 0:
            return None
        return (
            pdf.sort_values(["__grp", "__key", "__id"])
            .groupby("__grp", sort=False)
            .head(q)
        )

    partial = stream(keyed, local_topk, keyed.schema, side_input=quota)
    return (
        partial.groupBy("__grp")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("__key", "__id"))),
                1,
                quota,
            ).alias("__top")
        )
        .select(
            F.col("__grp").alias(group_col),
            F.explode(F.transform("__top", lambda s: s.getField("__id"))).alias(
                id_col
            ),
        )
    )
