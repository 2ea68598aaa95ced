"""The Arrow pipe wire, both ends, and the child-side client API — the
counterpart of the reference's ``scidbstrm`` Python package (reference
py_pkg/scidbstrm/__init__.py), reimplemented from the wire contract:

- each message is an 8-byte little-endian unsigned size followed by an
  Arrow IPC stream holding ONE record batch (reference README.md:37-56;
  scidbstrm ``read``/``write`` framing, __init__.py:62-95);
- a 0-size message is the end-of-stream terminator in either direction;
- the child answers every chunk with exactly one message, then answers
  the terminator with one final message (possibly empty).

:func:`write_message` and :func:`read_message` are that framing, the
only copy of it: :func:`streaming_spark.operators.pipe.pipe_arrow`
drives its child with them, and :func:`read`/:func:`write` below wrap
them for the child, as ``rserial`` does for the df wire.

A child program written against the reference's client API —
``map(fn, finalize)``, ``read()``, ``write(df)`` — runs unchanged
against ``pipe_arrow`` with this module on its PYTHONPATH
(``import streaming_spark.client as scidbstrm``).  The module imports
no pyspark.

Uses cloudpickle instead of dill for function shipping — the only
intentional deviation (dill is not in this environment; the bytes are
produced and consumed by this engine on both ends).
"""

from __future__ import annotations

import pickle
import struct
import sys
from collections.abc import Callable
from typing import BinaryIO

import pandas as pd
import pyarrow as pa

_STDIN = sys.stdin.buffer
_STDOUT = sys.stdout.buffer


def write_message(out: BinaryIO, data: pa.Table | pd.DataFrame | None) -> None:
    """Frame ``data`` as one message on ``out``: its size, then an Arrow
    IPC stream of ONE record batch (a table's chunks are combined; a
    pandas frame loses its index and schema metadata, as the reference
    does, __init__.py:84).  ``None`` → the 0-size terminator."""
    if data is None:
        out.write(struct.pack("<Q", 0))
        return
    if isinstance(data, pd.DataFrame):
        data = pa.Table.from_pandas(data, preserve_index=False)
        data = data.replace_schema_metadata(None)
    batches = data.combine_chunks().to_batches() or [
        pa.RecordBatch.from_pylist([], schema=data.schema)
    ]
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, data.schema) as writer:
        writer.write_batch(batches[0])
    buf = sink.getvalue()
    out.write(struct.pack("<Q", buf.size))
    out.write(buf)


def read_message(stream: BinaryIO, at_eof_ok: bool = False) -> pa.Table | None:
    """One framed message from ``stream`` → Arrow table, or None for the
    0-size terminator.  A stream that ends mid-message raises
    ``EOFError``, except that with ``at_eof_ok`` a short size reads as
    the terminator (the child's stdin closing)."""
    header = stream.read(8)
    if len(header) < 8:
        if at_eof_ok:
            return None
        raise EOFError("arrow protocol: stream closed before a message")
    (size,) = struct.unpack("<Q", header)
    if size == 0:
        return None
    payload = stream.read(size)
    if len(payload) < size:
        raise EOFError("arrow protocol: stream closed mid-message")
    return pa.ipc.open_stream(payload).read_all()


def read() -> pd.DataFrame | None:
    """Read one framed message from stdin → pandas DataFrame, or None on
    the 0-size end-of-stream terminator (contract of scidbstrm.read,
    reference py_pkg/scidbstrm/__init__.py:62-74)."""
    table = read_message(_STDIN, at_eof_ok=True)
    return None if table is None else table.to_pandas()


def write(df: pd.DataFrame | None = None) -> None:
    """Write one framed message to stdout; ``None`` → 0-size message
    (contract of scidbstrm.write, reference __init__.py:77-95)."""
    write_message(_STDOUT, df)
    _STDOUT.flush()


def map(map_fun: Callable, finalize_fun: Callable | None = None) -> None:  # noqa: A001
    """Chunk loop: read → map_fun(df) → write; on end-of-stream, write
    ``finalize_fun()`` (or an empty message).  Verbatim contract of
    scidbstrm.map (reference __init__.py:117-139)."""
    while True:
        df = read()
        if df is None:
            break
        write(map_fun(df))
    write(finalize_fun() if finalize_fun is not None else None)


def pack_func(func: Callable) -> pd.DataFrame:
    """Serialize a function into a 1-cell binary DataFrame for shipping
    as the side input (contract of scidbstrm.pack_func,
    reference __init__.py:98-105)."""
    from pyspark import cloudpickle

    return pd.DataFrame({"function": [cloudpickle.dumps(func)]})


def read_func() -> Callable:
    """Child side: pop the first (side-input) chunk, unpickle cell (0,0),
    ack with an empty message (contract of scidbstrm.read_func,
    reference __init__.py:108-114)."""
    df = read()
    func = pickle.loads(df.iloc[0, 0])
    write(None)
    return func


def debug(*args) -> None:
    """stderr logging — stdout is the data channel (reference
    __init__.py:142-145)."""
    print(*args, file=sys.stderr, flush=True)


python_map = (
    f"{sys.executable} -uc "
    '"import streaming_spark.client as scidbstrm; '
    'scidbstrm.map(scidbstrm.read_func())"'
)
