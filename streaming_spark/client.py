"""Child-side client API for the Arrow pipe protocol — the counterpart
of the reference's ``scidbstrm`` Python package (reference
py_pkg/scidbstrm/__init__.py), reimplemented from the wire contract:

- each message is an 8-byte little-endian unsigned size followed by an
  Arrow IPC stream holding ONE record batch (reference README.md:37-56;
  scidbstrm ``read``/``write`` framing, __init__.py:62-95);
- a 0-size message is the end-of-stream terminator in either direction;
- the child answers every chunk with exactly one message, then answers
  the terminator with one final message (possibly empty).

A child program written against the reference's client API —
``map(fn, finalize)``, ``read()``, ``write(df)`` — runs unchanged
against :func:`streaming_spark.operators.pipe.pipe_arrow` with this
module on its PYTHONPATH (``import streaming_spark.client as scidbstrm``).

Uses cloudpickle instead of dill for function shipping — the only
intentional deviation (dill is not in this environment; the bytes are
produced and consumed by this engine on both ends).
"""

from __future__ import annotations

import pickle
import struct
import sys
from collections.abc import Callable

import pandas as pd
import pyarrow as pa

_STDIN = sys.stdin.buffer
_STDOUT = sys.stdout.buffer


def read() -> pd.DataFrame | None:
    """Read one framed message from stdin → pandas DataFrame, or None on
    the 0-size end-of-stream terminator (contract of scidbstrm.read,
    reference py_pkg/scidbstrm/__init__.py:62-74)."""
    header = _STDIN.read(8)
    if len(header) < 8:
        return None
    (size,) = struct.unpack("<Q", header)
    if size == 0:
        return None
    payload = _STDIN.read(size)
    reader = pa.ipc.open_stream(payload)
    table = reader.read_all()
    return table.to_pandas()


def write(df: pd.DataFrame | None = None) -> None:
    """Write one framed message to stdout; ``None`` → 0-size message
    (contract of scidbstrm.write, reference __init__.py:77-95)."""
    if df is None:
        _STDOUT.write(struct.pack("<Q", 0))
        _STDOUT.flush()
        return
    table = pa.Table.from_pandas(df, preserve_index=False)
    # strip pandas schema metadata, as the reference does (__init__.py:84)
    table = table.replace_schema_metadata(None)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    buf = sink.getvalue()
    _STDOUT.write(struct.pack("<Q", buf.size))
    _STDOUT.write(buf.to_pybytes())
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
