r"""R native binary serialization (the ``df`` wire format) — pure Python.

The reference's ``format=df`` ships each chunk to the child as one R
``serialize(list, xdr=FALSE, version=2)`` message — a named list of
column vectors — and reads one such message back per chunk
(reference DFInterface.cpp:168-283 defines the writer byte layout,
:285-447 the reader; the child is plain R ``unserialize``/``serialize``,
reference examples/R_identity.R:6-19).

This module implements BOTH ends of that byte protocol in Python, so

* the engine can drive a ``df``-protocol child (:func:`pipe_df` in
  ``pipe.py``), and
* child programs can be written in Python without R
  (:func:`df_child_loop` — the analog of the R client loop).

Supported column types mirror the reference's allowlist — double,
int32 (uint16 is widened to int32 on the wire), string
(DFInterface.cpp:74-79) — with R's NA conventions: ``NA_real_`` is the
1954-payload NaN ``0x7ff00000000007a2``, ``NA_integer_`` is INT32_MIN,
and a string NA is a CHARSXP with length -1 (DFInterface.cpp:116-118,
:206-216).

Message layout (all integers little-endian, per the reference's
constants at DFInterface.cpp:168-177):

==============  =======================================================
header (14 B)   ``"B\n"`` + format version 2 + writer version 3.2.0 +
                min-reader version 2.3.0
VECSXP (4 B)    flags ``0x213`` (type 19 | has-attributes); the empty
                final message uses ``0x13`` (no attributes)
ncol (4 B)      column count; 0 ⇒ empty message, nothing follows
columns         per column: vector flags (REALSXP ``0x0e`` /
                INTSXP ``0x0d`` / STRSXP ``0x10``) + int32 length +
                payload (doubles/int32s raw; strings as CHARSXP flags
                ``0x00040009`` + int32 byte-length + UTF-8 bytes)
names tail      pairlist: LISTSXP ``0x402`` + SYMSXP ``0x01`` +
                CHARSXP ``"names"``, then a STRSXP of column names,
                then NILVALUE ``0xfe``
==============  =======================================================
"""

from __future__ import annotations

import struct
from typing import BinaryIO, Callable, Optional

import numpy as np
import pandas as pd

R_HEADER = bytes(
    [0x42, 0x0A, 0x02, 0x00, 0x00, 0x00, 0x00, 0x02, 0x03, 0x00, 0x00, 0x03, 0x02, 0x00]
)
_SXP_VEC = 0x13  # VECSXP (generic list)
_SXP_INT = 0x0D  # INTSXP
_SXP_REAL = 0x0E  # REALSXP
_SXP_STR = 0x10  # STRSXP
_SXP_CHAR = 0x09  # CHARSXP
_SXP_LIST = 0x02  # LISTSXP (pairlist)
_SXP_SYM = 0x01  # SYMSXP
_SXP_NIL = 0xFE  # NILVALUE (pairlist terminator)
_FLAG_ATTR = 0x200
_FLAG_TAG = 0x400
_CHARSXP_FLAGS = 0x00040009  # CHARSXP with the reference's encoding bits

NA_INT = -(2**31)
NA_REAL_BITS = np.uint64(0x7FF00000000007A2)

# wire type tags, keyed the way callers declare columns
RTYPE_INT = "int32"
RTYPE_REAL = "double"
RTYPE_STR = "string"

_i32 = struct.Struct("<i")


def _charsxp(s: Optional[str]) -> bytes:
    if s is None:
        return _i32.pack(_CHARSXP_FLAGS) + _i32.pack(-1)
    raw = s.encode("utf-8")
    return _i32.pack(_CHARSXP_FLAGS) + _i32.pack(len(raw)) + raw


def write_df_message(out: BinaryIO, columns: dict[str, np.ndarray | list]) -> None:
    """Serialize named columns as one ``df`` message (the byte stream of
    DFInterface.writeDF, :179-275).  ``columns`` maps name → data:

    * float64 ndarray → REALSXP (NaN is sent as ``NA_real_`` — pandas
      cannot distinguish null from NaN, and the reference maps NA→null);
    * int32 ndarray → INTSXP (``NA_INT`` sentinel passes through);
    * list of ``str | None`` → STRSXP.
    """
    parts = [R_HEADER, _i32.pack(_SXP_VEC | _FLAG_ATTR), _i32.pack(len(columns))]
    for data in columns.values():
        if isinstance(data, np.ndarray) and data.dtype == np.float64:
            vals = np.ascontiguousarray(data, dtype="<f8")
            nan = np.isnan(vals)
            if nan.any():
                vals = vals.copy()
                vals.view("<u8")[nan] = NA_REAL_BITS
            parts += [_i32.pack(_SXP_REAL), _i32.pack(len(vals)), vals.tobytes()]
        elif isinstance(data, np.ndarray) and data.dtype == np.int32:
            vals = np.ascontiguousarray(data, dtype="<i4")
            parts += [_i32.pack(_SXP_INT), _i32.pack(len(vals)), vals.tobytes()]
        else:
            parts += [_i32.pack(_SXP_STR), _i32.pack(len(data))]
            parts += [_charsxp(s) for s in data]
    # names attribute pairlist (reference R_TAIL_HDR bytes, :176)
    parts += [
        _i32.pack(_SXP_LIST | _FLAG_TAG),
        _i32.pack(_SXP_SYM),
        _charsxp("names"),
        _i32.pack(_SXP_STR),
        _i32.pack(len(columns)),
    ]
    parts += [_charsxp(n) for n in columns]
    parts.append(_i32.pack(_SXP_NIL))
    out.write(b"".join(parts))


def write_empty_message(out: BinaryIO) -> None:
    """The 0-column list — the parent's final-handshake message and a
    child's "no output for this chunk" reply (DFInterface.cpp:277-283)."""
    out.write(R_HEADER + _i32.pack(_SXP_VEC) + _i32.pack(0))


def _read_exact(stream: BinaryIO, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        got = stream.read(n - len(buf))
        if not got:
            raise EOFError(f"df protocol: stream closed ({len(buf)}/{n} bytes)")
        buf += got
    return buf


def _read_i32(stream: BinaryIO) -> int:
    return _i32.unpack(_read_exact(stream, 4))[0]


def read_df_message(
    stream: BinaryIO, at_eof_ok: bool = False
) -> Optional[dict[str, np.ndarray | list]]:
    """Parse one ``df`` message → ``{name: column}`` (float64 ndarray /
    int32 ndarray / list of ``str|None``), ``{}`` for the empty message,
    or None at clean EOF (only when ``at_eof_ok``).

    Mirrors DFInterface.readDF (:285-447) but parses flag words instead
    of blind-skipping them, so a protocol error fails loudly.  NA
    sentinels are preserved (``NA_real_`` bit pattern / ``NA_INT`` /
    None) for the caller to map to nulls.
    """
    first = stream.read(1)
    if not first:
        if at_eof_ok:
            return None
        raise EOFError("df protocol: stream closed before message")
    header = first + _read_exact(stream, len(R_HEADER) - 1)
    if header[:2] != b"B\n" or header[2:6] != R_HEADER[2:6]:
        raise ValueError(f"df protocol: bad serialization header {header!r}")
    flags = _read_i32(stream)
    if flags & 0xFF != _SXP_VEC:
        raise ValueError(f"df protocol: expected a list (VECSXP), got flags {flags:#x}")
    ncol = _read_i32(stream)
    if ncol == 0:
        return {}
    cols: list[np.ndarray | list] = []
    for _ in range(ncol):
        vflags = _read_i32(stream)
        vtype = vflags & 0xFF
        n = _read_i32(stream)
        if vtype == _SXP_REAL:
            cols.append(np.frombuffer(_read_exact(stream, 8 * n), dtype="<f8"))
        elif vtype == _SXP_INT:
            cols.append(np.frombuffer(_read_exact(stream, 4 * n), dtype="<i4"))
        elif vtype == _SXP_STR:
            vals: list[Optional[str]] = []
            for _ in range(n):
                _read_i32(stream)  # CHARSXP flags — ignored, like the reference
                size = _read_i32(stream)
                if size < -1:
                    raise ValueError("df protocol: bad string size")
                vals.append(None if size == -1 else _read_exact(stream, size).decode("utf-8"))
            cols.append(vals)
        else:
            raise ValueError(f"df protocol: unsupported column SEXP type {vtype:#x}")
    names = [f"a{i}" for i in range(ncol)]
    if flags & _FLAG_ATTR:
        aflags = _read_i32(stream)
        while aflags & 0xFF == _SXP_LIST:
            tag = None
            if aflags & _FLAG_TAG:
                sflags = _read_i32(stream)
                if sflags & 0xFF != _SXP_SYM:
                    raise ValueError("df protocol: attribute tag is not a symbol")
                _read_i32(stream)  # CHARSXP flags
                tag = _read_exact(stream, _read_i32(stream)).decode("utf-8")
            vflags = _read_i32(stream)
            if vflags & 0xFF != _SXP_STR:
                raise ValueError("df protocol: only string attributes supported")
            nv = _read_i32(stream)
            vals = []
            for _ in range(nv):
                _read_i32(stream)
                size = _read_i32(stream)
                vals.append(None if size == -1 else _read_exact(stream, size).decode("utf-8"))
            if tag == "names":
                names = [v if v is not None else names[i] for i, v in enumerate(vals)]
            aflags = _read_i32(stream)
        if aflags & 0xFF != _SXP_NIL:
            raise ValueError("df protocol: unterminated attribute pairlist")
    return dict(zip(names, cols))


# ---------------------------------------------------------------- pandas glue


def pandas_to_columns(pdf: pd.DataFrame, rtypes: list[str]) -> dict[str, np.ndarray | list]:
    """Coerce a pandas DataFrame to wire columns per declared R types."""
    out: dict[str, np.ndarray | list] = {}
    for name, rtype in zip(pdf.columns, rtypes):
        col = pdf[name]
        if rtype == RTYPE_REAL:
            out[name] = col.to_numpy(dtype=np.float64, na_value=np.nan)
        elif rtype == RTYPE_INT:
            mask = col.isna().to_numpy()
            vals = col.fillna(NA_INT).to_numpy(dtype=np.int64)
            if ((vals > 2**31 - 1) | (vals < NA_INT)).any():
                raise OverflowError(
                    f"df protocol: column {name!r} exceeds int32 (the wire "
                    "format has no int64, reference DFInterface.cpp:74-79)"
                )
            vals = vals.astype(np.int32)
            vals[mask] = NA_INT
            out[name] = vals
        else:
            out[name] = [None if pd.isna(v) else str(v) for v in col]
    return out


def columns_to_pandas(cols: dict[str, np.ndarray | list]) -> pd.DataFrame:
    """Wire columns → pandas with NA sentinels mapped to nulls (nullable
    Int32/Float64 so Spark sees real nulls, not NaN)."""
    data = {}
    for name, col in cols.items():
        if isinstance(col, np.ndarray) and col.dtype == np.dtype("<f8"):
            mask = col.view("<u8") == NA_REAL_BITS
            data[name] = pd.array(col, dtype="Float64")
            if mask.any():
                data[name][mask] = pd.NA
        elif isinstance(col, np.ndarray):
            arr = pd.array(col.astype(np.int32), dtype="Int32")
            arr[col == NA_INT] = pd.NA
            data[name] = arr
        else:
            data[name] = pd.array(col, dtype="string")
    return pd.DataFrame(data)


def df_child_loop(
    map_fn: Callable[[pd.DataFrame], Optional[pd.DataFrame]],
    final_fn: Optional[Callable[[], Optional[pd.DataFrame]]] = None,
    stdin: Optional[BinaryIO] = None,
    stdout: Optional[BinaryIO] = None,
    n_side: int = 0,
    on_side: Optional[Callable[[pd.DataFrame], None]] = None,
) -> None:
    """Child-side protocol loop — the Python analog of the reference's R
    client (examples/R_identity.R:6-19, R_sum.R:7-31): for each incoming
    chunk reply ``map_fn(chunk)`` (None ⇒ empty message); on the final
    empty message reply ``final_fn()`` and exit.  Lets users run
    ``df``-protocol children with no R installed.

    ``n_side`` messages are popped FIRST and handed to ``on_side``, each
    acked with an empty reply — the reference's side-input contract (the
    poLCA vignette's ``getChunk()`` bootstrap, poLCA.Rmd:70-78)."""
    import sys

    sin = stdin if stdin is not None else sys.stdin.buffer
    sout = stdout if stdout is not None else sys.stdout.buffer
    for _ in range(n_side):
        side = read_df_message(sin)
        if side and on_side is not None:
            on_side(columns_to_pandas(side))
        write_empty_message(sout)
        sout.flush()
    while True:
        msg = read_df_message(sin)
        if msg == {}:
            res = final_fn() if final_fn is not None else None
            if res is None or len(res.columns) == 0:
                write_empty_message(sout)
            else:
                write_df_message(sout, pandas_to_columns(res, infer_rtypes(res)))
            sout.flush()
            break
        pdf = columns_to_pandas(msg)
        res = map_fn(pdf)
        if res is None or len(res.columns) == 0:
            write_empty_message(sout)
        else:
            write_df_message(sout, pandas_to_columns(res, infer_rtypes(res)))
        sout.flush()


def infer_rtypes(pdf: pd.DataFrame) -> list[str]:
    """Map pandas dtypes to wire types (int-like → int32, float-like →
    double, everything else → string)."""
    rtypes = []
    for dtype in pdf.dtypes:
        kind = getattr(dtype, "kind", None) or getattr(
            getattr(dtype, "numpy_dtype", None), "kind", "O"
        )
        if kind in "iu" or str(dtype).startswith("Int"):
            rtypes.append(RTYPE_INT)
        elif kind == "f" or str(dtype).startswith("Float"):
            rtypes.append(RTYPE_REAL)
        else:
            rtypes.append(RTYPE_STR)
    return rtypes
