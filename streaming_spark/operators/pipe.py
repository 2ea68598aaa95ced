r"""The three external pipes — ``pipe_tsv``, ``pipe_df`` and
``pipe_arrow`` — on one Arrow path.

Each is the reference's stream() to an external binary in one wire
format: TSV (TSVInterface.cpp:163-362), R serialization (``rserial``,
DFInterface.cpp:168-447) and Arrow IPC (``client``,
FeatherInterface.cpp:201-235).  They share everything but the framing:

- one child per partition (the reference forks one per instance,
  ChildProcess.cpp:49-102), driven by :class:`_Child`, whose single
  ``select`` loop drains the child's stdout while it writes;
- ``mapInArrow``, with :func:`_rechunk` cutting messages of exactly
  ``chunk_rows`` rows, except a partition's last, which may hold fewer;
- for ``pipe_df`` and ``pipe_arrow``, one request/response loop,
  :func:`_exchange`: the side input as one message and one discarded
  reply, one reply per chunk, the terminator and its final reply.

``pipe_tsv`` instead sends every chunk before it reads the first reply,
since a TSV child may hold its replies until the terminator.  Its
protocol (reference README.md:37-56): a ``<nlines>\n`` header then
``nlines`` rows, escaped as ``\t`` → ``\\t``, ``\n`` → ``\\n``, ``\r``
→ ``\\r``, ``\\`` → ``\\\\``, NULL → ``\N``, NaN → ``nan``
(TSVInterface.cpp:71, 200-247); ``0\n`` terminates.  Each response chunk
becomes ONE string cell, header stripped — the reference's
``<response:string>`` output (TSVInterface.cpp:58-64); parse it with
:func:`parse_tsv_response` (accelerated_io_tools ``parse()``, reference
README.md:81-99).
"""

from __future__ import annotations

import os
import select
import subprocess
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from streaming_spark import client
from streaming_spark.operators import rserial
from streaming_spark.operators.stream import (
    _broadcast_bounded,
    _partition_id,
    _with_provenance,
    _with_provenance_schema,
)

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
        listed = os.environ.get("STREAMING_SPARK_PIPE_ALLOWLIST")
        allow = listed.split(":") if listed else None
    if allow is not None and command not in allow:
        raise PermissionError(
            f"{op}: command {command!r} is not on the allowlist "
            "(reference etc/stream_allowed semantics)"
        )


# How long a child may go without reading a byte or writing one (or, after
# its final reply, without exiting) before the task fails.  Read when a
# pipe is built, so the value ships with the plan.
_CHILD_TIMEOUT_S = 600.0
_IO_BYTES = 1 << 20  # reference read buffer is 1 MiB (ChildProcess.h:47)


class _Child:
    """One external child: the core of all three pipes (the reference's
    ChildProcess, ChildProcess.cpp:49-225).

    The child runs as ``/bin/bash -c command`` (the reference's
    ``execle("/bin/bash","-c",cmd)``, ChildProcess.cpp:84-88).  Its stdin
    is non-blocking and one ``select`` loop serves both pipe ends:
    :meth:`write` drains the child's stdout into a buffer while it waits,
    so an echoing child cannot deadlock the parent, and :meth:`read` /
    :meth:`readline` serve from that buffer — the file object the wire
    framings read and write.  A child that neither reads nor writes for
    ``timeout`` seconds fails the task, and leaving the ``with`` block on
    any error kills it (kill-query-on-wedge, ChildProcess.cpp:147-156).
    """

    def __init__(self, op: str, command: str, timeout: float):
        self._op = op
        self._timeout = timeout
        self._proc = subprocess.Popen(
            ["/bin/bash", "-c", command],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            bufsize=0,
        )
        self._in = self._proc.stdin.fileno()
        self._out = self._proc.stdout.fileno()
        # a blocking write(2) of more than PIPE_BUF bytes waits for the
        # whole write, which select's writability cannot prevent
        os.set_blocking(self._in, False)
        self._buf = bytearray()
        self._eof = False

    def __enter__(self) -> _Child:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdin.close()
        self._proc.stdout.close()

    def _poll(self, writing: bool) -> bool:
        """Wait for the child's stdout (and, when ``writing``, its stdin);
        buffer what stdout has.  True when stdin can take bytes."""
        ready_r, ready_w, _ = select.select(
            [] if self._eof else [self._out],
            [self._in] if writing else [],
            [],
            self._timeout,
        )
        if not ready_r and not ready_w:
            raise TimeoutError(
                f"{self._op}: child neither read nor wrote for "
                f"{self._timeout}s mid-protocol; killed"
            )
        if ready_r:
            got = os.read(self._out, _IO_BYTES)
            self._buf += got
            self._eof = not got
        return bool(ready_w)

    def write(self, data) -> None:
        view = memoryview(data).cast("B")
        sent = 0
        while sent < len(view):
            if self._poll(writing=True):
                try:
                    sent += os.write(self._in, view[sent : sent + _IO_BYTES])
                except BlockingIOError:
                    pass

    def read(self, n: int) -> bytes:
        """``n`` bytes of the child's output; fewer only at its end."""
        while len(self._buf) < n and not self._eof:
            self._poll(writing=False)
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def readline(self) -> bytes:
        """One line with its newline; at the output's end, what is left."""
        seen = 0
        while (i := self._buf.find(b"\n", seen)) < 0 and not self._eof:
            seen = len(self._buf)
            self._poll(writing=False)
        return self.read(i + 1 if i >= 0 else len(self._buf))

    def end_input(self) -> None:
        self._proc.stdin.close()

    def wait(self) -> None:
        """Bound the child's exit and fail the task on a non-zero status
        (child death is a query error, ChildProcess.cpp:147-156).  It
        waits for the end of the child's output first, which ``select``
        sees at once; ``Popen.wait`` with a timeout polls, sleeping up to
        50 ms between checks.  Output past the final reply is dropped."""
        while not self._eof:
            self._poll(writing=False)
        try:
            rc = self._proc.wait(timeout=self._timeout)
        except subprocess.TimeoutExpired:
            raise TimeoutError(
                f"{self._op}: child sent its final reply but did not exit "
                f"within {self._timeout}s; killed"
            ) from None
        if rc != 0:
            raise RuntimeError(f"{self._op} child exited with status {rc}")


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


def _exchange(op: str, command: str, timeout: float, side, chunks, write, read):
    """The request/response loop of ``pipe_df`` and ``pipe_arrow`` (the
    reference's streamData, PhysicalStream.cpp:74-100): one child; the
    side input, when given, as ONE message whose reply is discarded; then
    each chunk, answered by one reply; then the terminator and its final
    reply; then the child's exit.  Yields the replies.  A pipe brings only
    its framing: ``write(child, message)`` (``None`` is the terminator)
    and ``read(child)``."""
    with _Child(op, command, timeout) as child:
        if side is not None:
            write(child, side)
            read(child)
        for chunk in chunks:
            write(child, chunk)
            yield read(child)
        write(child, None)
        child.end_input()
        yield read(child)
        child.wait()


def pipe_tsv(
    df: DataFrame,
    command: str,
    chunk_rows: int = 100_000,
    allowed_commands: list[str] | None = None,
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
    The child owes one reply per chunk sent plus the final one; a child
    that closes its output sooner fails the task (child early exit is a
    query error, TSVInterface.cpp:317-360).
    """
    _check_allowed("pipe_tsv", command, allowed_commands)
    for field in df.schema.fields:
        if isinstance(field.dataType, (ArrayType, MapType, StructType)):
            raise TypeError(
                f"pipe_tsv: column {field.name!r} has nested type "
                f"{field.dataType.simpleString()} — only scalar columns "
                "cross the TSV wire"
            )
    timeout = _CHILD_TIMEOUT_S

    def read_line(child: _Child) -> bytes:
        line = child.readline()
        if not line.endswith(b"\n"):
            raise RuntimeError("pipe_tsv: child closed its output mid-protocol")
        return line

    def read_message(child: _Child) -> str | None:
        n = int(read_line(child).strip() or 0)
        # header and the single trailing newline stripped, as the
        # reference does (TSVInterface.cpp:58-64 / README.md:81)
        body = b"".join(read_line(child) for _ in range(n))[:-1]
        return body.decode("utf-8") or None

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        instance_id = _partition_id()
        with _Child("pipe_tsv", command, timeout) as child:
            # every chunk goes out before the first reply is read: a
            # child may hold its replies until the terminator
            sent = 0
            for table in _rechunk(batches, chunk_rows):
                child.write(_tsv_chunk(table))
                sent += 1
            # end-of-stream terminator (reference README.md:52-56)
            child.write(b"0\n")
            child.end_input()
            responses = [read_message(child) for _ in range(sent + 1)]
            child.wait()
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

    Each message holds exactly ``chunk_rows`` rows (a partition's last
    may hold fewer), and the exchange is strictly synchronous
    request/response (:func:`_exchange`, the reference's streamData
    :137-158); a child that stops reading or replying fails the task
    (:class:`_Child`).

    ``side_input`` (a pandas DataFrame) is sent FIRST, before any data
    chunks, as one df message whose response is discarded — the
    reference's second-array semantics (PhysicalStream.cpp:74-100; the
    poLCA vignette ships a whole serialized R program this way,
    poLCA.Rmd:70-78).  A child using ``df_child_loop(..., n_side=1,
    on_side=...)`` pops it.
    """
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
    full_schema = _with_provenance_schema(out_schema) if provenance else out_schema
    arrow_schema = to_arrow_schema(full_schema)
    side_bc = (
        _broadcast_bounded(df.sparkSession.sparkContext, side_input)
        if side_input is not None
        else None
    )
    timeout = _CHILD_TIMEOUT_S

    def write(child: _Child, cols) -> None:
        if cols is None:
            rserial.write_empty_message(child)
        else:
            rserial.write_df_message(child, cols)

    def response(cols) -> pd.DataFrame | None:
        if not cols:
            return None
        if len(cols) != len(out_names):
            raise RuntimeError(
                f"pipe_df: child returned {len(cols)} columns, declared "
                f"{len(out_names)} (reference readDF:291-295)"
            )
        out = rserial.columns_to_pandas(cols)
        out.columns = out_names  # positional, like the reference reader
        for name, rt in zip(out_names, out_rtypes):
            want = {"double": "Float64", "int32": "Int32", "string": "string"}[rt]
            if str(out[name].dtype) != want:
                raise RuntimeError(
                    f"pipe_df: child column {name!r} arrived as "
                    f"{out[name].dtype}, declared {rt}"
                )
        return out

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        instance_id = _partition_id()
        side = None
        if side_bc is not None:
            side = rserial.pandas_to_columns(
                side_bc.value, rserial.infer_rtypes(side_bc.value)
            )
        chunks = (
            rserial.pandas_to_columns(table.to_pandas(), in_rtypes)
            for table in _rechunk(batches, chunk_rows)
        )
        replies = _exchange(
            "pipe_df", command, timeout, side, chunks, write, rserial.read_df_message
        )
        chunk_no = 0
        for out in map(response, replies):
            if out is None or not len(out):
                continue
            if provenance:
                out = _with_provenance(out, instance_id, chunk_no)
            chunk_no += 1
            yield pa.RecordBatch.from_pandas(
                out, schema=arrow_schema, preserve_index=False
            )

    return df.mapInArrow(run_partition, full_schema)


def pipe_arrow(
    df: DataFrame,
    command: str,
    schema,
    side_input=None,
    chunk_rows: int = 65536,
    allowed_commands: list[str] | None = None,
) -> DataFrame:
    """The feather-protocol external pipe: each chunk crosses the child's
    stdin/stdout as an 8-byte LE size + Arrow IPC record batch
    (``client.write_message``), the child answers one message per chunk
    plus one final message after the 0-size terminator (reference
    README.md:37-56, FeatherInterface.cpp:201-235).  Each message holds
    exactly ``chunk_rows`` rows (a partition's last may hold fewer), and
    the exchange is :func:`_exchange`, the one ``pipe_df`` runs.

    ``side_input`` (a pandas DataFrame) is sent FIRST, before any data
    chunks, as ONE message — the reference's second-array semantics
    (PhysicalStream.cpp:74-100); a child using ``client.read_func`` pops
    it and acks with an empty message.

    Child programs written against the reference's Python client API run
    unchanged with ``streaming_spark.client`` on their PYTHONPATH.
    Output schema must be declared (the reference's ``types:``/``names:``
    keywords, README.md:23-27).
    """
    _check_allowed("pipe_arrow", command, allowed_commands)
    out_schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    side_bc = (
        _broadcast_bounded(df.sparkSession.sparkContext, side_input)
        if side_input is not None
        else None
    )
    timeout = _CHILD_TIMEOUT_S

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        side = side_bc.value if side_bc is not None else None
        replies = _exchange(
            "pipe_arrow", command, timeout, side, _rechunk(batches, chunk_rows),
            client.write_message, client.read_message,
        )
        for table in replies:
            # schema enforcement happens in mapInArrow against out_schema
            if table is not None:
                yield from table.to_batches(max_chunksize=chunk_rows)

    return df.mapInArrow(run_partition, out_schema)
