"""streaming_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the Paradigm4/streaming SciDB plugin.

The reference (/root/reference) is a single-operator process-streaming
plugin: it pipes array chunks through a forked child process over
stdin/stdout (reference README.md:7, 37-43).  This package re-expresses
that capability Spark-first:

- ``stream()`` / ``stream_map()``  — chunked table-in/table-out user code
  over Arrow batches (``mapInPandas``/``mapInArrow``), with the reference's
  map+finalize contract (reference py_pkg/scidbstrm/__init__.py:117-139)
  and optional ``instance_id/chunk_no/value_no`` provenance coordinates
  (reference FeatherInterface.cpp:96-107; ``value_no`` restarts at 0 in
  each response chunk).
- ``pipe_tsv()`` — the reference's TSV wire protocol to an *external*
  binary (header ``nlines\\n`` + escaped TSV body, ``\\N`` nulls,
  0-terminator handshake; reference TSVInterface.cpp:163-362).
- relational operators (filter/project/group/join/window/sort/...) via the
  DataFrame API — the surface the reference borrows from its host DB
  (SURVEY.md section 2.3).
- Structured Streaming integration (event-time windows, watermarks,
  stateful maps) — the north-star extension the reference lacks.
- large-scale training-data pipeline operators: dedup (exact / MinHash-LSH
  / SimHash / embedding-cosine), ANN similarity search, text analysis,
  multimodal binary columns.
"""

import importlib

# public name -> defining module, resolved on access (PEP 562): a child
# program that imports only ``streaming_spark.client`` or
# ``streaming_spark.operators.rserial`` then never imports pyspark.  Not
# cached here, so a rebinding in the defining module shows through.
_EXPORTS = {
    "get_spark": "streaming_spark.session",
    "load_tables": "streaming_spark.io",
    "table_path": "streaming_spark.io",
    "stream": "streaming_spark.operators.stream",
    "stream_arrow": "streaming_spark.operators.stream",
    "stream_map": "streaming_spark.operators.stream",
    "ensure_parallelism": "streaming_spark.operators.stream",
    "pack_func": "streaming_spark.operators.stream",
    "read_func": "streaming_spark.operators.stream",
    "pipe_tsv": "streaming_spark.operators.pipe",
    "pipe_arrow": "streaming_spark.operators.pipe",
    "parse_tsv_response": "streaming_spark.operators.pipe",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(module), name)


def __dir__() -> list[str]:
    return sorted(set(globals()) | set(__all__))


__version__ = "0.1.0"
