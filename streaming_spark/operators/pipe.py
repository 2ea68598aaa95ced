r"""``pipe_tsv()`` — the reference's TSV wire protocol to an external binary.

Protocol (reference README.md:37-56, TSVInterface.cpp:163-362):

1. parent writes a header line ``<nlines>\n`` then ``nlines`` TSV rows;
2. child replies with its own ``<nlines>\n`` header + body;
3. repeat per chunk; after the last chunk the parent writes ``0\n`` and
   the child replies with one final message (possibly ``0\n``).

Escaping (reference TSVInterface.cpp:200-222): ``\t`` → ``\\t``, ``\n`` →
``\\n``, ``\r`` → ``\\r``, ``\\`` → ``\\\\``; NULL → ``\N``; doubles print
NaN as ``nan`` (reference TSVInterface.cpp:71, 237-247).

Each response chunk becomes ONE string cell, header stripped — matching
the reference's ``<response:string>`` output schema
(TSVInterface.cpp:58-64); parse it downstream with
:func:`parse_tsv_response` (the analog of accelerated_io_tools
``parse()``, reference README.md:81-99).

Execution model: one child process per partition (the reference forks one
child per instance, ChildProcess.cpp:49-102).  A writer thread feeds all
chunks while the main thread reads responses in order — same pipelining,
deadlock-free for children that buffer.  Like every other operator that
crosses the Python boundary it runs under ``mapInArrow``: chunks are
framed from Arrow record batches (string columns escaped in Arrow) and
the responses go back as one Arrow batch per partition.
"""

from __future__ import annotations

import os
import subprocess
import threading
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from streaming_spark.operators.stream import _broadcast_bounded

RESPONSE_SCHEMA = StructType(
    [
        StructField("instance_id", LongType(), False),
        StructField("chunk_no", LongType(), False),
        StructField("response", StringType(), True),
    ]
)

# Byte-for-byte escaping rules of reference TSVInterface.cpp:200-222.
_ESCAPES = {"\\": "\\\\", "\t": "\\t", "\n": "\\n", "\r": "\\r"}
_UNESCAPES = {"\\\\": "\\", "\\t": "\t", "\\n": "\n", "\\r": "\r"}


def escape_field(value) -> str:
    r"""TSV-escape one value; None → ``\N`` (reference TSVInterface.cpp:72)."""
    if value is None or (isinstance(value, float) and value != value):
        if value is None:
            return "\\N"
        return "nan"  # NaN prints as 'nan' (reference TSVInterface.cpp:71)
    s = str(value)
    out = []
    for ch in s:
        out.append(_ESCAPES.get(ch, ch))
    return "".join(out)


def unescape_field(s: str) -> str | None:
    r"""Inverse of :func:`escape_field`; ``\N`` → None."""
    if s == "\\N":
        return None
    out = []
    i = 0
    n = len(s)
    while i < n:
        ch = s[i]
        if ch == "\\" and i + 1 < n:
            pair = s[i : i + 2]
            if pair in _UNESCAPES:
                out.append(_UNESCAPES[pair])
                i += 2
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _check_allowed(op: str, command: str, allowed_commands: list[str] | None) -> None:
    """The analog of the reference's ``etc/stream_allowed`` command
    allowlist (LogicalStream.cpp:97-118), shared by the three pipes:
    ``allowed_commands`` (or the STREAMING_SPARK_PIPE_ALLOWLIST env var,
    colon-separated), when set, rejects a command not on the list before
    any process is forked.  Unset ⇒ unrestricted, matching a user with
    operator rights."""
    allow = allowed_commands
    if allow is None:
        env = os.environ.get("STREAMING_SPARK_PIPE_ALLOWLIST")
        allow = env.split(":") if env else None
    if allow is not None and command not in allow:
        raise PermissionError(
            f"{op}: command {command!r} is not on the allowlist "
            "(reference etc/stream_allowed semantics)"
        )


def _tsv_fields(col: pa.ChunkedArray) -> pa.Array:
    r"""One column's TSV fields: the columnar form of :func:`escape_field`.

    String columns are escaped in Arrow.  Every other column goes through
    ``str()`` of the Python value the row-wise rule saw, so the bytes on
    the wire are those of ``escape_field`` over ``collect()`` rows:
    ``nan`` for NaN, naive local-time datetimes for timestamps.
    """
    t = col.type
    if pa.types.is_string(t):
        text = col.combine_chunks()
    else:
        if pa.types.is_timestamp(t) and t.tz is not None:
            to_py = TimestampType().fromInternal
            values = [to_py(v) for v in col.cast(pa.int64()).to_pylist()]
        else:
            values = col.to_pylist()
        text = pa.array([None if v is None else str(v) for v in values], pa.string())
    for raw, escaped in _ESCAPES.items():  # backslash first
        text = pc.replace_substring(text, raw, escaped)
    return text.fill_null("\\N")


def _tsv_chunk(table: pa.Table) -> bytes:
    r"""One framed TSV message: ``<nlines>\n`` then one tab-joined line per
    row (reference TSVInterface.cpp:163-222)."""
    fields = [_tsv_fields(c) for c in table.columns]
    lines = pc.binary_join_element_wise(*fields, "\t").to_pylist()
    return ("\n".join([str(table.num_rows), *lines]) + "\n").encode("utf-8")


def _rechunk(batches: Iterator[pa.RecordBatch], rows: int) -> Iterator[pa.Table]:
    """Re-slice a stream of record batches into tables of exactly ``rows``
    rows (the last one shorter), across batch boundaries."""
    pending: list[pa.RecordBatch] = []
    have = 0
    for batch in batches:
        while batch.num_rows:
            take = min(rows - have, batch.num_rows)
            pending.append(batch.slice(0, take))
            have += take
            batch = batch.slice(take)
            if have == rows:
                yield pa.Table.from_batches(pending)
                pending, have = [], 0
    if have:
        yield pa.Table.from_batches(pending)


def pipe_tsv(
    df: DataFrame,
    command: str,
    chunk_rows: int = 100_000,
    allowed_commands: list[str] | None = None,
    silence_timeout: float = 600.0,
) -> DataFrame:
    """Pipe ``df`` through ``command`` (run via ``/bin/bash -c``, like the
    reference's ``execle("/bin/bash","-c",cmd)`` — ChildProcess.cpp:84-88)
    using the framed TSV protocol.  Returns
    ``<instance_id, chunk_no, response:string>`` — one row per response
    chunk, exactly the reference's TSV output shape
    (TSVInterface.cpp:58-64).

    Only scalar columns cross the TSV wire: a nested column (array, map,
    struct) is rejected with a ``TypeError`` before any process is
    forked, as is a command off the allowlist (:func:`_check_allowed`).
    """
    _check_allowed("pipe_tsv", command, allowed_commands)
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, MapType, StructType)):
            raise TypeError(
                f"pipe_tsv: column {field.name!r} has nested type "
                f"{field.dataType.simpleString()} — only scalar columns "
                "cross the TSV wire"
            )

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        instance_id = ctx.partitionId() if ctx is not None else 0
        proc = subprocess.Popen(
            ["/bin/bash", "-c", command],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            bufsize=1024 * 1024,  # reference read buffer is 1 MiB (ChildProcess.h:47)
        )

        write_error: list[BaseException] = []

        def writer() -> None:
            try:
                for table in _rechunk(batches, chunk_rows):
                    proc.stdin.write(_tsv_chunk(table))
                    proc.stdin.flush()
                # end-of-stream terminator (reference README.md:52-56)
                proc.stdin.write(b"0\n")
                proc.stdin.flush()
                proc.stdin.close()
            except BaseException as exc:  # surfaced by the reader loop
                write_error.append(exc)

        t = threading.Thread(target=writer, daemon=True)
        t.start()

        # line reader over the RAW stream with a silence watchdog: a
        # wedged child (stopped reading AND writing without closing
        # stdout) fails the task instead of blocking readline forever.
        # select() must see the raw fd — the BufferedReader would slurp
        # bytes the fd no longer shows.
        import select as _select

        raw = proc.stdout.raw if hasattr(proc.stdout, "raw") else proc.stdout
        fd = proc.stdout.fileno()
        rbuf = bytearray()
        eof = [False]

        def read_line() -> bytes:
            while True:
                i = rbuf.find(b"\n")
                if i >= 0:
                    line = bytes(rbuf[: i + 1])
                    del rbuf[: i + 1]
                    return line
                if eof[0]:
                    line = bytes(rbuf)
                    rbuf.clear()
                    return line
                ready, _, _ = _select.select([fd], [], [], silence_timeout)
                if not ready:
                    proc.kill()
                    proc.wait()
                    raise RuntimeError(
                        f"pipe_tsv: child produced no output for "
                        f"{silence_timeout}s mid-protocol; killed"
                    )
                got = raw.read(1 << 20)
                if not got:
                    eof[0] = True
                else:
                    rbuf.extend(got)

        def read_message() -> str | None:
            header = read_line()
            if not header:
                return None
            n = int(header.strip() or 0)
            if n == 0:
                return ""
            body = b"".join(read_line() for _ in range(n)).decode("utf-8")
            # strip single trailing newline, as the reference does
            # (TSVInterface.cpp:58-64 / README.md:81)
            return body[:-1] if body.endswith("\n") else body

        responses: list[str | None] = []
        while True:
            msg = read_message()
            if msg is None:
                break
            responses.append(msg if msg != "" else None)
        t.join(timeout=60)
        if t.is_alive():
            # writer still blocked feeding a stalled child — kill it so the
            # task FAILS instead of hanging on proc.wait() (the reference
            # kills the query when the child wedges, ChildProcess.cpp:147-156)
            proc.kill()
            proc.wait()
            raise RuntimeError(
                "pipe_tsv: child stopped consuming stdin (writer stalled "
                ">60s); killed child and failed the task"
            )
        rc = proc.wait()
        if write_error:
            raise write_error[0]
        if rc != 0:
            # child early exit fails the task (reference kills the query on
            # child death — ChildProcess.cpp:147-156; Spark retries the task)
            raise RuntimeError(f"pipe_tsv child exited with status {rc}")
        n = len(responses)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([instance_id] * n, pa.int64()),
                pa.array(range(n), pa.int64()),
                pa.array(responses, pa.string()),
            ],
            names=RESPONSE_SCHEMA.fieldNames(),
        )

    return df.mapInArrow(run_partition, RESPONSE_SCHEMA)


def parse_tsv_response(
    responses: DataFrame,
    num_attributes: int,
    column_names: list[str] | None = None,
) -> DataFrame:
    """Split ``response`` string cells back into typed rows — the analog of
    accelerated_io_tools ``parse(..., num_attributes:)`` (reference
    README.md:81-99).  All output columns are strings (plus an ``error``
    column for short rows, as in the reference); cast downstream.
    """
    names = column_names or [f"a{i}" for i in range(num_attributes)]
    lines = responses.select(
        F.posexplode(F.split(F.col("response"), "\n")).alias("line_no", "line")
    )
    parts = lines.withColumn("parts", F.split(F.col("line"), "\t"))
    cols = [
        F.when(F.size("parts") > i, F.col("parts").getItem(i)).alias(names[i])
        for i in range(num_attributes)
    ]
    error = F.when(F.size("parts") < num_attributes, F.lit("short")).alias("error")
    return parts.select(*cols, error)


def pipe_df(
    df: DataFrame,
    command: str,
    schema,
    provenance: bool = False,
    side_input=None,
    chunk_rows: int = 100_000,
    allowed_commands: list[str] | None = None,
    env: dict[str, str] | None = None,
    read_timeout: float = 60.0,
) -> DataFrame:
    """The reference's ``format=df`` external pipe: each chunk crosses the
    child's stdin/stdout as one R-serialized named list of column vectors
    (reference DFInterface.cpp:179-283 write side, :285-447 read side);
    the child replies one message per chunk, then one final message after
    the parent's empty-list terminator.  R children written against the
    reference contract (examples/R_identity.R, R_sum.R) speak this exact
    byte stream; Python children use ``rserial.df_child_loop``.

    Input/output columns are restricted to the reference's allowlist —
    double, int32 (short widens), string (DFInterface.cpp:74-79); int64
    input is rejected rather than silently truncated.  ``schema`` is the
    declared child output (the reference's mandatory ``types:``/``names:``
    keywords, DFInterface.cpp:46-64).  With ``provenance=True`` the
    output carries (instance_id, chunk_no, value_no) — the reference's
    output dimensions (DFInterface.cpp:82-85).

    The exchange is strictly synchronous request/response per chunk (the
    reference's streamData :137-158), so no writer thread is needed; a
    child that stops replying trips ``read_timeout`` and fails the task
    (kill-query-on-wedge, ChildProcess.cpp:147-156).

    ``side_input`` (a pandas DataFrame) is sent FIRST, before any data
    chunks, as one df message whose response is discarded — the
    reference's second-array semantics (PhysicalStream.cpp:74-100; the
    poLCA vignette ships a whole serialized R program this way,
    poLCA.Rmd:70-78).  A child using ``df_child_loop(..., n_side=1,
    on_side=...)`` pops it.
    """
    import select

    from pyspark.sql.types import (
        DoubleType,
        FloatType,
        IntegerType,
        ShortType,
        StringType,
    )

    from streaming_spark.operators import rserial

    _check_allowed("pipe_df", command, allowed_commands)

    def rtype_of(field) -> str:
        t = field.dataType
        if isinstance(t, (DoubleType, FloatType)):
            return rserial.RTYPE_REAL
        if isinstance(t, (IntegerType, ShortType)):
            return rserial.RTYPE_INT
        if isinstance(t, StringType):
            return rserial.RTYPE_STR
        raise TypeError(
            f"pipe_df: column {field.name!r} has unsupported type {t.simpleString()} "
            "— only double, int32/uint16 and string cross the df wire "
            "(reference DFInterface.cpp:74-79)"
        )

    in_rtypes = [rtype_of(f) for f in df.schema.fields]
    out_schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    out_rtypes = [rtype_of(f) for f in out_schema.fields]
    out_names = [f.name for f in out_schema.fields]
    if provenance:
        full_schema = StructType(
            [
                StructField("instance_id", LongType(), False),
                StructField("chunk_no", LongType(), False),
                StructField("value_no", LongType(), False),
            ]
            + list(out_schema.fields)
        )
    else:
        full_schema = out_schema
    child_env = dict(env or {})
    side_bc = (
        _broadcast_bounded(df.sparkSession.sparkContext, side_input)
        if side_input is not None
        else None
    )

    class _TimeoutReader:
        """File-like over the child's stdout that fails instead of
        blocking forever when the child wedges mid-protocol."""

        def __init__(self, stream):
            # Use the UNBUFFERED raw stream: selecting on the fd while
            # reading through a BufferedReader deadlocks (the buffer
            # slurps bytes the fd no longer shows).  _read_exact loops,
            # so raw short reads are fine.
            self._raw = stream.raw if hasattr(stream, "raw") else stream
            self._fd = stream.fileno()

        def read(self, n: int) -> bytes:
            ready, _, _ = select.select([self._fd], [], [], read_timeout)
            if not ready:
                raise TimeoutError(
                    f"pipe_df: child produced no output for {read_timeout}s"
                )
            return self._raw.read(n)

    class _TimeoutWriter:
        """Write-side twin: a child that stops CONSUMING stdin would
        block a plain write forever once the pipe buffer fills (the
        chunk is typically MBs, the pipe 64 KB) — select on writability
        and fail the task instead."""

        def __init__(self, stream):
            self._fd = stream.fileno()
            # MUST be non-blocking: on a blocking pipe, write(2) of more
            # than PIPE_BUF blocks until the WHOLE chunk transfers, and
            # select's writability (≥ PIPE_BUF free) cannot prevent that
            os.set_blocking(self._fd, False)

        def write(self, data) -> int:
            view = memoryview(bytes(data))
            total = 0
            while total < len(view):
                _, ready, _ = select.select([], [self._fd], [], read_timeout)
                if not ready:
                    raise TimeoutError(
                        f"pipe_df: child stopped consuming stdin for {read_timeout}s"
                    )
                try:
                    total += os.write(self._fd, view[total : total + (1 << 20)])
                except BlockingIOError:
                    continue  # raced: buffer refilled before our write
            return total

        def flush(self) -> None:
            pass  # writes go straight to the fd

    def run_partition(batches):
        ctx = TaskContext.get()
        instance_id = ctx.partitionId() if ctx is not None else 0
        full_env = dict(os.environ)
        full_env.update(child_env)
        proc = subprocess.Popen(
            ["/bin/bash", "-c", command],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            env=full_env,
        )
        reader = _TimeoutReader(proc.stdout)
        writer = _TimeoutWriter(proc.stdin)

        def exchange(pdf_or_none, chunk_no: int):
            try:
                if pdf_or_none is None:
                    rserial.write_empty_message(writer)
                else:
                    rserial.write_df_message(
                        writer,
                        rserial.pandas_to_columns(pdf_or_none, in_rtypes),
                    )
                cols = rserial.read_df_message(reader)
            except BaseException:
                proc.kill()
                proc.wait()
                raise
            if cols == {}:
                return None
            if len(cols) != len(out_names):
                proc.kill()
                proc.wait()
                raise RuntimeError(
                    f"pipe_df: child returned {len(cols)} columns, declared "
                    f"{len(out_names)} (reference readDF:291-295)"
                )
            out = rserial.columns_to_pandas(cols)
            out.columns = out_names  # positional, like the reference reader
            for name, rt in zip(out_names, out_rtypes):
                want = {"double": "Float64", "int32": "Int32", "string": "string"}[rt]
                if str(out[name].dtype) != want:
                    proc.kill()
                    proc.wait()
                    raise RuntimeError(
                        f"pipe_df: child column {name!r} arrived as "
                        f"{out[name].dtype}, declared {rt}"
                    )
            if provenance:
                out.insert(0, "value_no", np.arange(len(out), dtype=np.int64))
                out.insert(0, "chunk_no", np.int64(chunk_no))
                out.insert(0, "instance_id", np.int64(instance_id))
            return out

        if side_bc is not None:
            # second-array semantics: the side chunk goes down the same
            # wire first; its response is discarded (the reference
            # streams the extra array's chunks before the main one,
            # PhysicalStream.cpp:74-100)
            side_pdf = side_bc.value
            try:
                rserial.write_df_message(
                    writer,
                    rserial.pandas_to_columns(
                        side_pdf, rserial.infer_rtypes(side_pdf)
                    ),
                )
                rserial.read_df_message(reader)
            except BaseException:
                proc.kill()
                proc.wait()
                raise

        # coalesce Arrow batches up to chunk_rows per wire message: each
        # exchange is a synchronous round trip, so bigger chunks amortize
        # the per-message serialization + handshake (the reference's
        # chunk == SciDB chunk; ours is a tunable batch)
        chunk_no = 0
        pending: list[pd.DataFrame] = []
        pending_rows = 0

        def flush_pending():
            nonlocal pending, pending_rows, chunk_no
            if not pending:
                return None
            pdf = pending[0] if len(pending) == 1 else pd.concat(
                pending, ignore_index=True
            )
            pending, pending_rows = [], 0
            out = exchange(pdf, chunk_no)
            if out is not None and len(out):
                chunk_no += 1
            return out

        for pdf in batches:
            if len(pdf) == 0:
                continue
            pending.append(pdf)
            pending_rows += len(pdf)
            if pending_rows >= chunk_rows:
                out = flush_pending()
                if out is not None and len(out):
                    yield out
        out = flush_pending()
        if out is not None and len(out):
            yield out
        out = exchange(None, chunk_no)
        if out is not None and len(out):
            yield out
        try:
            rc = proc.wait(timeout=read_timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(
                "pipe_df: child replied to the final handshake but did not "
                f"exit within {read_timeout}s; killed"
            )
        if rc != 0:
            raise RuntimeError(f"pipe_df child exited with status {rc}")

    return df.mapInPandas(run_partition, full_schema)


def pipe_arrow(
    df: DataFrame,
    command: str,
    schema,
    side_input=None,
    chunk_rows: int = 65536,
    allowed_commands: list[str] | None = None,
    env: dict[str, str] | None = None,
) -> DataFrame:
    """The feather-protocol external pipe: each chunk crosses the child's
    stdin/stdout as an 8-byte LE size + Arrow IPC record batch, the child
    answers one message per chunk plus one final message after the 0-size
    terminator (reference README.md:37-56, FeatherInterface.cpp:201-235).

    ``side_input`` (a pandas DataFrame) is sent FIRST, before any data
    chunks — the reference's second-array semantics
    (PhysicalStream.cpp:74-100); a child using ``client.read_func`` pops
    it and acks with an empty message.

    Child programs written against the reference's Python client API run
    unchanged with ``streaming_spark.client`` on their PYTHONPATH.
    Output schema must be declared (the reference's ``types:``/``names:``
    keywords, README.md:23-27).
    """
    import struct

    _check_allowed("pipe_arrow", command, allowed_commands)
    out_schema = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    side_bc = (
        _broadcast_bounded(df.sparkSession.sparkContext, side_input)
        if side_input is not None
        else None
    )
    child_env = dict(env or {})

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        full_env = dict(os.environ)
        full_env.update(child_env)
        proc = subprocess.Popen(
            ["/bin/bash", "-c", command],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            env=full_env,
        )
        sout, sin = proc.stdin, proc.stdout

        def write_message(batch_or_none) -> None:
            if batch_or_none is None:
                sout.write(struct.pack("<Q", 0))
                sout.flush()
                return
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch_or_none.schema) as w:
                w.write_batch(batch_or_none)
            buf = sink.getvalue()
            sout.write(struct.pack("<Q", buf.size))
            sout.write(buf.to_pybytes())
            sout.flush()

        def read_message():
            header = sin.read(8)
            if len(header) < 8:
                raise RuntimeError("pipe_arrow: child closed stream mid-protocol")
            (size,) = struct.unpack("<Q", header)
            if size == 0:
                return None
            payload = sin.read(size)
            reader = pa.ipc.open_stream(payload)
            return reader.read_all()

        import pandas as _pd

        if side_bc is not None:
            side_tbl = pa.Table.from_pandas(
                side_bc.value, preserve_index=False
            ).replace_schema_metadata(None)
            for b in side_tbl.to_batches(max_chunksize=chunk_rows) or [
                pa.record_batch([], schema=side_tbl.schema)
            ]:
                write_message(b)
            ack = read_message()  # child acks the side input (read_func)
            del ack

        def emit(table) -> Iterator[pa.RecordBatch]:
            # schema enforcement happens in mapInArrow against out_schema
            if table is None or table.num_rows == 0:
                return
            yield from table.to_batches(max_chunksize=chunk_rows)

        for batch in batches:
            for lo in range(0, batch.num_rows, chunk_rows):
                write_message(batch.slice(lo, chunk_rows))
                yield from emit(read_message())
        write_message(None)
        yield from emit(read_message())
        rc = proc.wait()
        if rc != 0:
            raise RuntimeError(f"pipe_arrow child exited with status {rc}")

    return df.mapInArrow(run_partition, out_schema)
