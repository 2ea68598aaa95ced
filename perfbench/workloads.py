"""The benchmark's four workloads: fixed op lists over the public
``streaming_spark`` API.

An op is one registry query or one index lifecycle call, plus its timed
action (:func:`digest.digest` over the op's result), and returns the
result's fingerprint.  After the first pass, untimed, :func:`verify_ops`
checks the fingerprints that pass produced; every later pass must
reproduce them:

- registry ops with a DuckDB oracle: the oracle's output, digested in
  Spark after a cast to the op's output schema, must give the same
  fingerprint.  When it does not, the op's output is compared in full
  with the oracle through ``streaming_spark.oracle.compare``, which
  decides;
- registry ops without one (dedup_minhash_lsh, dedup_simhash,
  ann_topk_lsh) run again and must reproduce the fingerprint;
- each index lifecycle move must equal a from-scratch batch recompute
  over the live corpus.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from digest import digest, digests

RELATIONAL = [
    "q_grouped_agg", "q_revenue_by_nation", "q_top_customers",
    "q_overlap_join", "q_overlap_join_large", "q_bucketed_join",
    "q_salted_agg", "q_rolling_avg3", "q_asof_join", "q_session_window",
    "q_tumbling_window",
]
PROCESS_STREAM = [
    "q_identity_roundtrip", "q_null_roundtrip", "q_chunk_count_total",
    "q_partition_sum_finalize", "q_global_sum_twophase", "q_tsv_pipe",
    "q_string_escapes", "q_arrow_pipe", "q_df_pipe", "q_df_roundtrip",
]
CURATION = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_topk_bruteforce", "ann_topk_lsh", "q_exact_nn_blocked",
    "q_dsir_weights", "q_fuzzy_name_pairs", "dedup_bloom_ingest",
    "q_line_dedup", "text_quality",
]
MOVES = ("build", "append", "tombstone", "compact")


class RegistryOp:
    """One registry query; ``rows_in`` is filled by the caller from the
    fixture tables the query loads."""

    def __init__(self, name: str):
        self.name = name
        self.rows_in = 0
        self.schema = self.want = None

    def run(self, ctx) -> str:
        from streaming_spark.queries import REGISTRY

        df = REGISTRY[self.name](ctx.spark, ctx.sf_dir)
        self.schema = df.schema
        return digest(df)[1]

    @property
    def ref_key(self) -> str:
        return self.name

    def reference(self, ctx):
        """The frame whose digest the op's output must equal: the
        oracle's output cast to the op's schema.  None without an
        oracle, or when the oracle's columns are not the op's."""
        from streaming_spark.queries import ORACLES

        if self.name not in ORACLES:
            return None
        self.want = ctx.duckdb().execute(ORACLES[self.name]).arrow()
        if sorted(self.want.column_names) != sorted(self.schema.names):
            return None
        return oracle_frame(ctx.spark, self.want, self.schema)

    def check(self, ctx, fingerprint: str, want: str | None) -> list[str]:
        """Problems with ``fingerprint``, given the reference's."""
        from streaming_spark.oracle import compare
        from streaming_spark.queries import ORACLES, REGISTRY

        if self.name not in ORACLES:
            again = self.run(ctx)
            return [] if again == fingerprint else [
                f"not reproducible: {fingerprint} then {again}"]
        if want == fingerprint:
            return []
        # the digests differ: the full comparison, on another evaluation
        # of the query, decides
        df = REGISTRY[self.name](ctx.spark, ctx.sf_dir)
        problems = compare(df.toPandas(), self.want.to_pandas())
        return problems and [f"digest differs from the oracle's: {problems}"]


def oracle_frame(spark, table, schema):
    """The oracle's Arrow output as a Spark frame with the op's schema,
    so both digests hash the same types."""
    df = spark.createDataFrame(table)
    return df.select(*[
        F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in schema.fields
    ])


class Lifecycle:
    """One staged-index family driven build → append → tombstone →
    compact on seed-chosen base, delta and takedown batches.  ``view``
    is the maintained read; ``batch`` recomputes it from scratch over
    the live corpus."""

    family = ""
    table = "documents"
    id_col = "doc_id"
    min_id = 0  # ids below it are not indexed

    def __init__(self, ctx, frame):
        import pyarrow.parquet as pq
        from streaming_spark.io import table_path

        self.ctx, self.frame, self.dir = ctx, frame, None
        ids = pq.read_table(table_path(ctx.sf_dir, self.table),
                            columns=[self.id_col])[self.id_col].to_pylist()
        self.base, self.delta, self.takedown = _split(
            [i for i in ids if i >= self.min_id], ctx.seed, self.family)
        self.rows = {"build": len(self.base), "append": len(self.delta),
                     "tombstone": len(self.takedown),
                     "compact": len(self.base) + len(self.delta)}

    def reset(self) -> None:
        from streaming_spark.scratch import scratch_dir

        if self.dir:
            shutil.rmtree(os.path.dirname(self.dir), ignore_errors=True)
        self.dir = os.path.join(scratch_dir(self.family), "idx")

    def live(self, move: str):
        """The corpus the index holds after ``move``."""
        f = self.frame
        if move == "build":
            return f.filter(F.col(self.id_col).isin(self.base))
        live = f.filter(F.col(self.id_col).isin(self.base + self.delta))
        if move in ("tombstone", "compact"):
            live = live.filter(~F.col(self.id_col).isin(self.takedown))
        return live


def _split(ids: list[int], seed: int, family: str):
    """Seeded base / delta / takedown batches over ``ids``: 80% base,
    the rest delta, and a 5% takedown drawn from both."""
    rng = np.random.default_rng([seed, sum(map(ord, family))])
    ids = np.array(sorted(ids))
    in_base = rng.random(len(ids)) < 0.8
    takedown = rng.choice(ids, max(1, len(ids) // 20), replace=False)
    return (
        [int(i) for i in ids[in_base]],
        [int(i) for i in ids[~in_base]],
        sorted(int(i) for i in takedown),
    )


class DigestLifecycle(Lifecycle):
    family = "digest_index"

    def __init__(self, ctx):
        from streaming_spark.queries.registry import T

        docs = T(ctx.spark, ctx.sf_dir, "documents")
        super().__init__(ctx, docs.select(F.md5("text").alias("h"), "doc_id"))

    def move(self, move: str):
        from streaming_spark.operators import digest_index as di

        spark, d = self.ctx.spark, self.dir
        if move == "build":
            di.digest_index_build(d, self.live("build"), digest_col="h",
                                  n_prefixes=2, n_id_buckets=2)
        elif move == "append":
            di.digest_index_append(
                d, self.frame.filter(F.col("doc_id").isin(self.delta)))
        elif move == "tombstone":
            di.digest_index_tombstone(spark, d, self.takedown)
        else:
            return di.digest_index_compact(spark, d).get("occ_rows_removed", 0)
        return None

    def view(self, move: str):
        from streaming_spark.operators.digest_index import digest_index_owners

        return digest_index_owners(self.ctx.spark, self.dir)

    def batch(self, move: str):
        return self.live(move).groupBy("h").agg(F.min("doc_id").alias("doc_id"))


class NeardupLifecycle(Lifecycle):
    family = "neardup_index"
    params = dict(num_perm=32, bands=8)

    def __init__(self, ctx):
        from streaming_spark.queries.registry import T

        super().__init__(
            ctx, T(ctx.spark, ctx.sf_dir, "documents").select("doc_id", "text"))

    def move(self, move: str):
        from streaming_spark.operators import neardup_index as ni

        spark, d = self.ctx.spark, self.dir
        if move == "build":
            ni.neardup_index_build(d, self.live("build"), n_id_buckets=2,
                                   n_band_prefixes=2, **self.params)
        elif move == "append":
            ni.neardup_index_append(
                d, self.frame.filter(F.col("doc_id").isin(self.delta)))
        elif move == "tombstone":
            ni.neardup_index_tombstone(spark, d, self.takedown)
        else:
            st = ni.neardup_index_compact(spark, d)
            return sum(v for k, v in st.items() if k.endswith("_rows_removed"))
        return None

    def view(self, move: str):
        from streaming_spark.operators.neardup_index import neardup_index_pairs

        return neardup_index_pairs(self.ctx.spark, self.dir).select(
            "id_a", "id_b", "jaccard")

    def batch(self, move: str):
        from streaming_spark.operators.dedup import minhash_dedup_pairs

        return minhash_dedup_pairs(
            self.live(move), "text", "doc_id", **self.params
        ).select("id_a", "id_b", "jaccard")


class AnnLifecycle(Lifecycle):
    family = "ann_index"
    table = "embeddings"
    id_col = "vec_id"
    min_id = 8  # the first eight vectors are the queries

    def __init__(self, ctx):
        from streaming_spark.operators.similarity import (
            ivf_centroids,
            ivfpq_residual_codebooks,
        )
        from streaming_spark.queries.registry import T

        emb = T(ctx.spark, ctx.sf_dir, "embeddings")
        super().__init__(ctx, emb.filter(F.col("vec_id") >= self.min_id))
        self.queries = emb.filter(F.col("vec_id") < self.min_id)
        cent = ivf_centroids(emb, 64, 8)
        books = ivfpq_residual_codebooks(emb, cent, 64, m=16, ksub=16)
        self.cent, self.books = cent, books
        self.kw = dict(dim=64, k=5, n_cells=8, nprobe=4, m=16, ksub=16,
                       rerank=128, centroids=cent, codebooks=books)

    def move(self, move: str):
        from streaming_spark.operators import similarity as sim

        if move == "build":
            sim.ann_index_append(self.dir, self.live("build"), self.cent, self.books)
        elif move == "append":
            sim.ann_index_append(
                self.dir, self.frame.filter(F.col("vec_id").isin(self.delta)),
                self.cent, self.books)
        elif move == "compact":
            st = sim.ann_index_compact(self.ctx.spark, self.dir, self.takedown)
            return st.get("rows_removed", 0)
        # a tombstone is merge-on-read: the ledger is applied in view()
        return None

    def view(self, move: str):
        from streaming_spark.operators import similarity as sim

        encoded = sim.ann_index_open(self.ctx.spark, self.dir)
        if move == "tombstone":
            encoded = sim.ann_tombstone_filter(encoded, self.takedown)
        # the rerank joins candidates to the whole corpus, so the index
        # alone decides which ids are live
        return sim.ivfpq_topk(self.frame, self.queries, encoded=encoded,
                              **self.kw)

    def batch(self, move: str):
        from streaming_spark.operators.similarity import ivfpq_topk

        return ivfpq_topk(self.live(move), self.queries, **self.kw)


class LifecycleOp:
    """One lifecycle move plus the digest of the maintained view."""

    def __init__(self, lc: Lifecycle, move: str):
        self.lc, self.move = lc, move
        self.name = f"{lc.family}.{move}"
        self.rows_in = lc.rows[move]
        self.removed = 0

    def run(self, ctx) -> str:
        if self.move == "build":
            self.lc.reset()
        self.removed = self.lc.move(self.move) or 0
        return digest(self.lc.view(self.move))[1]

    @property
    def ref_key(self) -> str:
        # tombstone and compact hold the same live corpus: one recompute
        return f"{self.lc.family}/{'compact' if self.move == 'tombstone' else self.move}"

    def reference(self, ctx):
        return self.lc.batch(self.ref_key.rpartition("/")[2])

    def check(self, ctx, fingerprint: str, want: str | None) -> list[str]:
        return [] if fingerprint == want else [
            f"view {fingerprint} != batch {want}"]


def verify_ops(ops, ctx, prints: dict) -> dict[str, list[str]]:
    """Untimed check of the fingerprints one pass produced; the problems
    per op, empty where the op's output is right.  The digests of all
    references (oracle outputs, batch recomputes) come from one job."""
    refs = {}
    for op in ops:
        if prints[op.name] is not None and op.ref_key not in refs:
            refs[op.ref_key] = op.reference(ctx)
    want = digests({k: f for k, f in refs.items() if f is not None})
    return {
        op.name: ["raised"] if prints[op.name] is None
        else op.check(ctx, prints[op.name], want.get(op.ref_key))
        for op in ops
    }


def build_ops(workload: str, ctx) -> list:
    """The workload's fixed op list, in pass order."""
    names = {"relational": RELATIONAL, "process_stream": PROCESS_STREAM,
             "curation": CURATION}
    if workload in names:
        return [RegistryOp(n) for n in names[workload]]
    if workload != "index_maintenance":
        raise ValueError(f"unknown workload {workload!r}")
    ops = []
    for cls in (DigestLifecycle, NeardupLifecycle, AnnLifecycle):
        lc = cls(ctx)
        ops += [LifecycleOp(lc, m) for m in MOVES]
    return ops + [RegistryOp("q_streaming_line_index")]


WORKLOADS = ("relational", "process_stream", "curation", "index_maintenance")
