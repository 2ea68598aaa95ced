"""Fuzzy string matching: blocked edit-distance self-join.

The entity-resolution primitive (name/title matching across records) as
a candidate-generation + exact-verify pipeline, like every near-dup
family in the engine (MinHash, SimHash, LSH):

- **Blocking** by SYMMETRIC DELETION (the SymSpell scheme): two strings
  within Levenshtein distance d always share a common string obtainable
  by deleting ≤ d characters from each (substitution = one delete on
  each side; insert/delete = a delete on the longer side).  Generating
  every ≤ d-deletion variant and hash-joining on the variant is
  therefore SOUND — no false negatives — unlike prefix or phonetic
  blocking.
- **Verification** is exact JVM-side ``levenshtein`` on candidate pairs
  only.

Scale shape: variant expansion is O(len^d) per row (len+1 variants at
d=1), candidates are ONE shuffle keyed by variant, and the raw strings
join back only for the per-candidate verify.  Hot variants (very common
short substrings) fan out quadratically within their bucket — the same
hot-bucket failure mode as LSH bands; cap or pre-aggregate by variant
frequency when deploying against short-string columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _verify_dist(joined: DataFrame, a: str, b: str, max_dist: int) -> DataFrame:
    """Attach ``dist`` = levenshtein(a, b) and keep rows with dist ≤
    ``max_dist`` — the shared exact-verify tail of both fuzzy joins.

    Uses the THRESHOLDED levenshtein (Spark 3.5+): a banded
    O(max_dist·n) computation with early exit instead of the full
    O(n·m) matrix — per-pair verify work drops with the radius, not
    the string length squared (guide §1.2 step 2: per-task work).
    Over-threshold pairs return -1 (their true distance is never
    computed), so the keep-filter becomes ``dist >= 0``; kept rows and
    their dist values are identical to the full form by the function's
    contract (≤ threshold ⇒ true distance), nulls propagate the same,
    and a -1 can never leak into the output.  Interleaved A/B on
    q_fuzzy_name_pairs (r15): banded medians
    1.97/2.76 s vs full-matrix 2.22/2.97 s in two matched-load series,
    identical 262,500 rows — and the gap grows with string length at
    deployment (names here are only ~18 chars)."""
    return joined.withColumn("dist", F.levenshtein(a, b, max_dist)).filter(
        F.col("dist") >= 0
    )


def deletion_variants(col, max_dist: int = 1):
    """Array of all strings reachable by deleting ≤ ``max_dist`` chars
    (including the string itself).  Implemented with HOF transforms —
    per-element string building runs interpreted (CLAUDE.md quirk), but
    the expansion is one pass over len+1 elements per row, measured
    fine at fixture scale; for d=2 the same expression composes one
    more deletion level."""
    c = F.col(col) if isinstance(col, str) else col

    def drop_one(s):
        return F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substr(s, F.lit(1), i - 1), F.substr(s, i + 1, F.length(s))
            ),
        )

    base = F.array(c)
    if max_dist == 0:
        return base
    one = drop_one(c)
    if max_dist == 1:
        return F.array_distinct(F.concat(base, one))
    if max_dist == 2:
        two = F.flatten(F.transform(one, drop_one))
        return F.array_distinct(F.concat(base, one, two))
    raise ValueError("deletion_variants supports max_dist <= 2")


def fuzzy_self_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 1,
    max_bucket: int | None = None,
    stats_out: dict | None = None,
    chunk: int = 512,
) -> DataFrame:
    """All unordered pairs of rows whose ``col`` strings are within
    Levenshtein distance ``max_dist`` — (id_a, id_b, dist), id_a < id_b.
    Symmetric-deletion blocking + exact verify (module docstring).

    ``max_bucket`` caps the per-variant bucket size (the LSH-band
    analog): a variant shared by more than ``max_bucket`` rows is
    DROPPED before pair expansion, trading recall for a hard quadratic
    bound — a pair is only lost if EVERY shared variant is hot, and the
    loss is observable (compare against an uncapped run on a sample).
    Default None = exact (the oracle-checked configuration); set it
    when deploying against short/low-entropy string columns.

    ``chunk`` bounds PER-ROW materialization independently of
    ``max_bucket`` (r15): buckets larger than ``chunk`` are tiled into
    chunk-pair aggregation groups, so no collected list exceeds
    ``chunk`` ids and no expansion row exceeds ``chunk²`` structs even
    when an uncapped hot variant holds millions of members — the pair
    SET is identical (each pair meets in exactly one tile), only the
    quadratic volume is spread across ``m·(m+1)/2`` bounded rows
    instead of one unbounded one.

    ``stats_out`` (opt-in, costs two small driver jobs) receives the
    candidate-volume telemetry contract (VERDICT r7 #4 /
    streaming_spark/telemetry.py): the exact pre-distinct join volume
    Σ n·(n−1)/2 over variant buckets (``candidates``), ``n_rows``, and
    ``total_pairs``; the quadratic-volume warning fires when the
    blocking isn't pruning.  The estimator-vs-actual agreement is gated
    in tests/test_candidates.py."""
    base = df.select(F.col(id_col).alias("__id"), F.col(col).alias("__s"))
    # shuffle 64-bit variant HASHES, not variant strings: the blocking
    # key only has to collide when variants are equal — a spurious hash
    # collision merely adds a candidate pair that exact verification
    # kills, so soundness is unaffected and the candidate shuffle drops
    # from O(len) to 8 bytes per variant
    variants = base.select(
        "__id", F.explode(deletion_variants("__s", max_dist)).alias("__vs")
    ).select("__id", F.xxhash64("__vs").alias("__v"))
    # ONE shuffle keyed by variant hash: gather each bucket and expand
    # its pairs in-place (the lsh_candidate_pairs shape).  The r13
    # self-join evaluated the variant expansion TWICE (each join side
    # re-ran the interpreted deletion transform over the whole column)
    # and paid two join-side exchanges plus a third evaluation for the
    # max_bucket sizes join; the grouped expansion runs the expansion
    # once and exchanges once, and the cap becomes a bucket-size filter
    # — identical pair set (pinned by the estimator and known-distance
    # tests).
    #
    # Hot-bucket guard (r15, VERDICT r14 #5): collect_list of a WHOLE
    # bucket materializes O(n) ids in one aggregation row and the pair
    # expansion O(n²) structs in one task row — and an aggregation row
    # cannot spill mid-group (guide §5), so one hot variant on a
    # low-entropy column was an OOM where the old self-join streamed.
    # Buckets are therefore TILED: each member takes a chunk number
    # c = (rank-1) div chunk within its bucket, every unordered chunk
    # pair (i ≤ j) is one aggregation group ("tile"), and a member of
    # chunk c is routed to the tiles {(min(c,t), max(c,t))} for t <
    # m = ceil(n/chunk).  A pair (x, y) meets in exactly ONE tile
    # (chunk(x), chunk(y)) — no duplicates by construction — and every
    # materialized row is bounded by ``chunk`` ids per collected list /
    # ``chunk²`` structs per expansion, whatever the bucket size.
    # Normal buckets (n ≤ chunk) have m = 1: one tile, one collected
    # list, the exact r14 shape — the tiling only replicates rows of
    # OVERSIZED buckets (m× for their members).  The window's count and
    # rank share the groupBy's hash(__v) partitioning, so the plan
    # still carries ONE exchange.
    # ONE ordered window spec hosts both the bucket count (full frame)
    # and the member rank (running frame) — one sort, one WindowExec,
    # sharing the aggregation's hash(__v) exchange
    w_v = Window.partitionBy("__v").orderBy("__id")
    sized = variants.withColumn(
        "__n",
        F.count(F.lit(1)).over(
            w_v.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    ).withColumn("__rn", F.row_number().over(w_v))
    sized = sized.filter(F.col("__n") >= 2)
    if max_bucket is not None:
        sized = sized.filter(F.col("__n") <= max_bucket)
    tiled = (
        sized.withColumn("__c", ((F.col("__rn") - 1) / F.lit(chunk)).cast("int"))
        .withColumn(
            "__m", F.expr(f"CAST((__n + {chunk - 1}) DIV {chunk} AS INT)")
        )
        .select(
            "__id",
            "__v",
            "__c",
            F.explode(
                F.expr(
                    "transform(sequence(0, __m - 1), t -> "
                    "struct(least(__c, t) AS ti, greatest(__c, t) AS tj))"
                )
            ).alias("__t"),
        )
        .select("__id", "__v", "__c", "__t.ti", "__t.tj")
    )
    grouped = tiled.groupBy("__v", "ti", "tj").agg(
        F.collect_list(
            F.when(F.col("__c") == F.col("ti"), F.col("__id"))
        ).alias("ids"),
        # the partner chunk's ids — empty on diagonal tiles (collect_list
        # skips the when()'s nulls)
        F.collect_list(
            F.when(
                (F.col("ti") != F.col("tj"))
                & (F.col("__c") == F.col("tj")),
                F.col("__id"),
            )
        ).alias("ids_b"),
    )
    if stats_out is not None:
        from streaming_spark.telemetry import log_candidate_volume

        n_rows = base.count()
        # exact join volume of the (capped) buckets — Σ n·(n−1)/2, the
        # same quantity self_join_candidate_volume computes from the
        # keyed frame (integral div: n·(n−1) is even)
        est = int(
            variants.groupBy("__v")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .filter(
                F.col("__n") <= max_bucket if max_bucket is not None else F.lit(True)
            )
            .agg(F.sum(F.expr("__n * (__n - 1) div 2")).alias("__cand"))
            .first()["__cand"]
            or 0
        )
        log_candidate_volume("fuzzy_self_pairs", est, n_rows)
        stats_out.update(
            n_rows=n_rows,
            candidates=est,
            total_pairs=n_rows * (n_rows - 1) // 2,
        )
    within_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    cross_expr = (
        "flatten(transform(ids, x -> transform(ids_b, "
        "y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    pair_expr = f"CASE WHEN ti = tj THEN {within_expr} ELSE {cross_expr} END"
    cand = (
        grouped.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        # strict inequality: a duplicated input id appearing twice in a
        # bucket would otherwise emit an id_a == id_b self-pair, which
        # the r13 self-join's a.__id < b.__id excluded and the id_a <
        # id_b output contract promises (ADVICE r14)
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    sa = base.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = base.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    return _verify_dist(
        cand.join(sa, "id_a").join(sb, "id_b"), "__sa", "__sb", max_dist
    ).select("id_a", "id_b", "dist")


def fuzzy_index(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 1,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame, int]:
    """The master side of :func:`fuzzy_join`, precomputed: ``(base,
    variants, max_dist)`` where ``base`` holds ``(__rid, __s)`` and
    ``variants`` holds ``(__rid, __v)`` hashed deletion variants.
    Build ONCE for a static master and pass as ``right_index=`` so
    per-batch probes skip the master-sized variant expansion (ADVICE
    r5).  The index RECORDS its ``max_dist`` so :func:`fuzzy_join` can
    refuse a mismatched probe — an index built at d=1 holds no
    2-deletion variants, and joining it at max_dist=2 would silently
    lose matches.  With ``persist=True`` both frames are cached AND
    materialized eagerly; the caller owns the lifetime (unpersist when
    the stream ends — a lingering cache degrades later queries,
    CLAUDE.md)."""
    base = df.select(F.col(id_col).alias("__rid"), F.col(col).alias("__s"))
    v = base.select(
        "__rid", F.explode(deletion_variants("__s", max_dist)).alias("__vs")
    ).select("__rid", F.xxhash64("__vs").alias("__v"))
    if persist:
        base = base.persist()
        v = v.persist()
        base.count()
        v.count()
    return base, v, max_dist


def fuzzy_join(
    left: DataFrame,
    right: DataFrame | None,
    left_col: str,
    right_col: str | None,
    left_id: str,
    right_id: str,
    max_dist: int = 1,
    max_bucket: int | None = None,
    right_index: tuple[DataFrame, DataFrame, int] | None = None,
) -> DataFrame:
    """Cross-RELATION fuzzy match: all (left_id, right_id, dist) pairs
    with ``levenshtein(left_col, right_col) <= max_dist`` — the
    record-linkage join (dirty batch against a clean master).  Same
    symmetric-deletion blocking + exact verify as
    :func:`fuzzy_self_pairs`, with both sides expanding to hashed
    deletion variants and candidates coming from ONE variant-keyed
    shuffle; at deployment the master side's variant index is the thing
    you persist and reuse per batch — build it with :func:`fuzzy_index`
    and pass it as ``right_index`` (then ``right``/``right_col`` may be
    None)."""

    def variant_frame(df, col, id_col, out_id):
        base = df.select(F.col(id_col).alias(out_id), F.col(col).alias("__s"))
        v = base.select(
            out_id, F.explode(deletion_variants("__s", max_dist)).alias("__vs")
        ).select(out_id, F.xxhash64("__vs").alias("__v"))
        return base, v

    lbase, lv = variant_frame(left, left_col, left_id, "__lid")
    if right_index is not None:
        rbase, rv, idx_dist = right_index
        if idx_dist != max_dist:
            raise ValueError(
                f"fuzzy_join: right_index was built with max_dist="
                f"{idx_dist} but the join asks for max_dist={max_dist} — "
                f"the index holds only {idx_dist}-deletion variants, so "
                f"the join would silently lose matches; rebuild the index"
            )
    else:
        rbase, rv = variant_frame(right, right_col, right_id, "__rid")
    if max_bucket is not None:
        # the cap applies to the JOINT bucket (left + right occupancy)
        sizes = (
            lv.select("__v").union(rv.select("__v"))
            .groupBy("__v")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("__v")
        )
        lv = lv.join(sizes, "__v")
        rv = rv.join(sizes, "__v")
    cand = lv.join(rv, "__v").select("__lid", "__rid").distinct()
    ls = lbase.select("__lid", F.col("__s").alias("__ls"))
    rs = rbase.select("__rid", F.col("__s").alias("__rs"))
    return _verify_dist(
        cand.join(ls, "__lid").join(rs, "__rid"), "__ls", "__rs", max_dist
    ).select(
        F.col("__lid").alias(left_id),
        F.col("__rid").alias(right_id),
        "dist",
    )


def damerau_levenshtein(a: str, b: str) -> int:
    """TRUE Damerau-Levenshtein distance (Lowrance-Wagner: adjacent
    transposition as a first-class edit, transposed pairs may be edited
    again — matching DuckDB's ``damerau_levenshtein``, which gives
    DL('ca','abc') = 2 where the restricted/OSA variant gives 3).
    Driver/worker-side verify function for candidate pairs only — never
    the blocking step."""
    la, lb = len(a), len(b)
    maxdist = la + lb
    da: dict[str, int] = {}
    # matrix with 2-row/col offset: d[0][*] is the maxdist sentinel row
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def adjacent_swap_variants(col):
    """Array of every string reachable by ONE adjacent-character swap
    (len-1 variants; swapping equal chars reproduces the input).

    Strings shorter than 2 chars get an EMPTY array explicitly: Spark's
    ``sequence(1, 0)`` is DESCENDING ([1, 0]), not empty (CLAUDE.md),
    so the unguarded transform fabricated an identity variant (i=1) and
    a doubled-first-char variant (i=0) — masked in the Damerau pair
    query only because its union takes min(dist), but wrong for any
    other consumer."""
    c = F.col(col) if isinstance(col, str) else col
    variants = F.transform(
        F.sequence(F.lit(1), F.length(c) - 1),
        lambda i: F.concat(
            F.substr(c, F.lit(1), i - 1),
            F.substr(c, i + 1, F.lit(1)),
            F.substr(c, i, F.lit(1)),
            F.substr(c, i + 2, F.length(c)),
        ),
    )
    return F.when(
        F.length(c) < 2, F.array().cast("array<string>")
    ).otherwise(variants)


def fuzzy_self_pairs_damerau(
    df: DataFrame,
    col: str,
    id_col: str,
) -> DataFrame:
    """Unordered pairs within TRUE Damerau-Levenshtein distance 1 —
    transposition-aware matching (swapped adjacent characters, the most
    common typing error, count as ONE edit).

    Fully JVM, no Python anywhere, via an exact decomposition: DL ≤ 1
    ⇔ plain Levenshtein ≤ 1 (the existing symmetric-deletion path) OR
    the strings are one adjacent SWAP apart — and swap pairs are an
    EQUI-join of one side's swap variants against the other side's raw
    strings (string equality IS the verification; no distance function
    runs at all).  A pandas-UDF Lowrance-Wagner verify was measured
    5× slower on the same input — the decomposition beats the general
    verifier because each branch is a codegen'd hash join.  Overlap
    (equal-adjacent-char swaps reproduce dist-0 pairs) collapses via
    min(dist) per pair."""
    base = df.select(F.col(id_col).alias("__id"), F.col(col).alias("__s"))
    lev1 = fuzzy_self_pairs(df, col, id_col, max_dist=1)
    swaps = base.select(
        "__id", F.explode(adjacent_swap_variants("__s")).alias("__sw")
    )
    trans = (
        swaps.alias("a")
        .join(
            base.alias("b"),
            (F.col("a.__sw") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.lit(1).alias("dist"),
        )
        .distinct()
    )
    return (
        lev1.unionByName(trans)
        .groupBy("id_a", "id_b")
        .agg(F.min("dist").alias("dist"))
    )
