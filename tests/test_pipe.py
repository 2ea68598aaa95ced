r"""TSV pipe protocol conformance — escaping rules byte-for-byte per
reference TSVInterface.cpp:200-222 and framing per README.md:37-56."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from streaming_spark.operators.pipe import (
    escape_field,
    parse_tsv_response,
    pipe_tsv,
    unescape_field,
)


def test_escape_rules():
    assert escape_field("a\tb") == "a\\tb"
    assert escape_field("a\nb") == "a\\nb"
    assert escape_field("a\rb") == "a\\rb"
    assert escape_field("a\\b") == "a\\\\b"
    assert escape_field(None) == "\\N"
    assert escape_field(float("nan")) == "nan"
    assert escape_field("") == ""
    # literal backslash-N data is distinguishable from NULL
    assert escape_field("\\N") == "\\\\N"
    assert unescape_field("\\\\N") == "\\N"
    assert unescape_field("\\N") is None


@given(st.text(max_size=50))
@settings(max_examples=200, deadline=None)
def test_escape_unescape_roundtrip(s):
    assert unescape_field(escape_field(s)) == s


def test_pipe_cat_echo(spark):
    df = spark.range(1000).select(
        F.col("id"), F.concat(F.lit("row"), F.col("id").cast("string")).alias("s")
    ).repartition(2)
    responses = pipe_tsv(df, "cat", chunk_rows=100)
    parsed = parse_tsv_response(responses, 2, ["id", "s"])
    rows = parsed.filter(F.col("id").isNotNull())
    assert rows.count() == 1000
    got = sorted(int(r.id) for r in rows.collect())
    assert got == list(range(1000))


def test_pipe_awk_client(spark):
    """Non-echo external client: per-chunk sum via awk, protocol-aware."""
    script = (
        "awk 'BEGIN{n=0} { if (n==0) { n=$1; if (n==0) { print 0; exit } "
        'total=0; cnt=0 } else { total+=$1; cnt+=1; n-=1; '
        "if (n==0) { print 1; print total; } } }'"
    )
    # one chunk per partition: the awk client answers one sum per chunk
    df = spark.range(1, 101).coalesce(1)
    responses = pipe_tsv(df, script, chunk_rows=1000)
    vals = [r.response for r in responses.collect() if r.response]
    assert [int(v) for v in vals] == [5050]


def test_pipe_child_failure_raises(spark):
    df = spark.range(10).coalesce(1)
    with pytest.raises(Exception):
        pipe_tsv(df, "exit 3").collect()


def test_tricky_strings_roundtrip(spark):
    cases = ["a\nb", "a\tb", "a\rb", "back\\slash", "\\N", "", None, "plain"]
    pdf_rows = [(i, c) for i, c in enumerate(cases)]
    df = spark.createDataFrame(pdf_rows, "id INT, s STRING").coalesce(1)
    responses = pipe_tsv(df, "cat", chunk_rows=100)
    parsed = parse_tsv_response(responses, 2, ["id", "s"]).filter(
        F.col("id").isNotNull()
    )
    got = {
        int(r.id): (None if r.s is None else unescape_field(r.s))
        for r in parsed.collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == c, f"case {i}: {c!r} -> {got[i]!r}"


@pytest.mark.parametrize("source", ["argument", "env"])
@pytest.mark.parametrize("pipe", ["pipe_tsv", "pipe_df", "pipe_arrow"])
def test_pipe_allowlist(spark, monkeypatch, pipe, source):
    """All three pipes share one allowlist: a command off the list is
    refused before any child is forked, whether the list comes from
    ``allowed_commands`` or from STREAMING_SPARK_PIPE_ALLOWLIST; a listed
    command builds the plan (and, for the TSV pipe, whose ``cat`` child
    speaks the protocol, runs)."""
    from streaming_spark.operators import pipe as pipe_mod

    df = spark.range(3).select(F.col("id").cast("double").alias("v"))
    call = {
        "pipe_tsv": lambda **kw: pipe_mod.pipe_tsv(df, "cat", **kw),
        "pipe_df": lambda **kw: pipe_mod.pipe_df(df, "cat", "v DOUBLE", **kw),
        "pipe_arrow": lambda **kw: pipe_mod.pipe_arrow(df, "cat", "v DOUBLE", **kw),
    }[pipe]

    def allow(commands):
        if source == "env":
            monkeypatch.setenv("STREAMING_SPARK_PIPE_ALLOWLIST", ":".join(commands))
            return {}
        return {"allowed_commands": commands}

    with pytest.raises(PermissionError, match=f"{pipe}: .*allowlist"):
        call(**allow(["wc -l", "sort"]))
    out = call(**allow(["wc -l", "cat"]))
    if pipe == "pipe_tsv":
        assert out.count() >= 1


def test_pipe_tsv_bytes_match_row_rule(spark):
    r"""The columnar framing puts on the wire exactly the bytes of the
    row-wise rule, ``escape_field`` over ``collect()`` rows joined by tabs,
    for every scalar type, with batches smaller than a chunk and chunks
    that do not divide a batch."""
    import datetime
    import decimal

    cases = [
        (1, 2**40, 0.5, decimal.Decimal("1.25"), True, datetime.date(2020, 1, 31),
         datetime.datetime(2021, 3, 4, 5, 6, 7, 89), "plain", b"ab"),
        (-2, -(2**62), float("nan"), decimal.Decimal("-0.01"), False,
         datetime.date(1969, 12, 31), datetime.datetime(1999, 12, 31, 23, 59, 59),
         "a\tb", b"\t\x00"),
        (None, None, None, None, None, None, None, None, None),
        (0, 0, float("inf"), decimal.Decimal("0.00"), True, datetime.date(2000, 2, 29),
         datetime.datetime(2000, 1, 1), "", b""),
        (3, 7, float("-inf"), decimal.Decimal("123456.78"), False,
         datetime.date(2024, 7, 1), datetime.datetime(2024, 7, 1, 12, 0, 0, 500000),
         "line\nbreak\rcr\\back\\slash", None),
        (4, 8, -0.0, None, None, None, None, "\\N", b"x"),
        (5, 9, 1e300, decimal.Decimal("9.99"), True, datetime.date(1, 1, 1), None,
         "tab\there \\N\\\\", b"\xff"),
    ]
    rows = [c for _ in range(4) for c in cases]  # 28 rows
    df = spark.createDataFrame(
        rows,
        "i INT, b BIGINT, d DOUBLE, m DECIMAL(10,2), f BOOLEAN, dt DATE, "
        "ts TIMESTAMP, s STRING, bin BINARY",
    ).coalesce(1)
    lines = ["\t".join(escape_field(v) for v in r) for r in df.collect()]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "6")
    try:
        for chunk_rows in (4, 5, 9):
            got = [r.response for r in pipe_tsv(df, "cat", chunk_rows=chunk_rows).collect()]
            want = [
                "\n".join(lines[lo : lo + chunk_rows])
                for lo in range(0, len(lines), chunk_rows)
            ]
            assert got == want + [None], chunk_rows
    finally:
        spark.conf.set(key, old)


def test_pipe_tsv_rejects_nested_columns(spark):
    """Arrays, maps and structs have no form on the scalar TSV wire: the
    call fails, naming the column, before any child is forked."""
    base = spark.range(2)
    for col in (
        F.array(F.col("id")),
        F.create_map(F.col("id"), F.col("id")),
        F.struct(F.col("id")),
    ):
        with pytest.raises(TypeError, match="'nested'"):
            pipe_tsv(base.select("id", col.alias("nested")), "cat")


def test_pipe_tsv_forks_a_child_per_empty_partition(spark):
    """Every partition gets its own child, even an empty one, and each
    child's final message comes back (reference: one child per instance)."""
    df = spark.range(0, 8, 1, 4).filter(F.col("id") < 2)
    got = sorted(map(tuple, pipe_tsv(df, "cat").collect()))
    assert got == [(0, 0, "0\n1"), (0, 1, None), (1, 0, None), (2, 0, None), (3, 0, None)]


@pytest.mark.parametrize(
    "module", ["streaming_spark.client", "streaming_spark.operators.rserial"]
)
def test_pipe_child_imports_skip_pyspark(module):
    """A pipe child imports only the client or rserial module; the
    package's lazy re-exports keep pyspark out of that process."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"import sys, {module}; assert 'pyspark' not in sys.modules"
    env = dict(os.environ, PYTHONPATH=root)
    subprocess.run([sys.executable, "-c", code], env=env, check=True)


def test_package_reexports_resolve():
    import streaming_spark

    for name in streaming_spark.__all__:
        assert callable(getattr(streaming_spark, name)), name
        assert name in dir(streaming_spark)
    with pytest.raises(AttributeError):
        getattr(streaming_spark, "not_an_export")


def test_pipe_arrow_side_input_broadcasts_are_bounded(spark):
    """pipe_arrow ships its side input through the bounded broadcast
    registry that stream() uses, so repeated calls cannot pile up
    broadcast blocks."""
    import pandas as pd2

    from streaming_spark.operators import stream as stream_mod
    from streaming_spark.operators.pipe import pipe_arrow

    before = list(stream_mod._LIVE_BROADCASTS)
    side = pd2.DataFrame({"k": [1, 2, 3]})
    df = spark.range(3)
    for _ in range(stream_mod._MAX_LIVE_BROADCASTS + 4):
        pipe_arrow(df, "cat", "id BIGINT", side_input=side)
    live = list(stream_mod._LIVE_BROADCASTS)
    assert len(live) == stream_mod._MAX_LIVE_BROADCASTS
    assert not any(any(bc is old for old in before) for bc in live)


ARROW_CLIENT_COUNT = (
    "import streaming_spark.client as scidbstrm\n"
    "import pandas as pd\n"
    "scidbstrm.map(lambda df: pd.DataFrame({'count': [len(df)]}))\n"
)

ARROW_CLIENT_SUM_FINALIZE = (
    "import streaming_spark.client as scidbstrm\n"
    "import pandas as pd\n"
    "state = {'total': 0.0}\n"
    "def on_chunk(df):\n"
    "    state['total'] += float(df['v'].sum())\n"
    "    return None\n"
    "def finalize():\n"
    "    return pd.DataFrame({'total': [state['total']]})\n"
    "scidbstrm.map(on_chunk, finalize)\n"
)


def _py_cmd(code: str) -> str:
    import base64
    import sys

    from streaming_spark.session import ENGINE_ROOT

    b64 = base64.b64encode(code.encode()).decode()
    return (
        f"PYTHONPATH={ENGINE_ROOT} {sys.executable} -uc "
        f"\"import base64; exec(base64.b64decode('{b64}'))\""
    )


TSV_CLIENT_COUNT = (
    "import sys\n"
    "inp, out = sys.stdin.buffer, sys.stdout.buffer\n"
    "while True:\n"
    "    n = int(inp.readline())\n"
    "    for _ in range(n):\n"
    "        inp.readline()\n"
    "    out.write(b'1\\n%d\\n' % n if n else b'0\\n')\n"
    "    out.flush()\n"
    "    if not n:\n"
    "        break\n"
)

DF_CLIENT_COUNT = (
    "import pandas as pd\n"
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "df_child_loop(lambda df: pd.DataFrame({'count': pd.array([len(df)], dtype='Int32')}))\n"
)


@pytest.mark.parametrize("pipe", ["pipe_tsv", "pipe_df", "pipe_arrow"])
def test_pipe_arrow_chunk_count(spark, pipe):
    """``chunk_rows`` means one thing on all three wires: every message
    holds exactly that many rows (a partition's last may hold fewer),
    whatever the input batches are.  1000 rows in 300-row batches with
    ``chunk_rows=500``: a child counting each chunk sees [500, 500]."""
    from streaming_spark.operators import pipe as pipe_mod

    df = spark.range(0, 1000, 1, 1).select(F.col("id").cast("double").alias("v"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        if pipe == "pipe_tsv":
            out = pipe_mod.pipe_tsv(df, _py_cmd(TSV_CLIENT_COUNT), chunk_rows=500)
            counts = [int(r.response) for r in out.collect() if r.response]
        else:
            child, schema = {
                "pipe_df": (DF_CLIENT_COUNT, "count INT"),
                "pipe_arrow": (ARROW_CLIENT_COUNT, "count BIGINT"),
            }[pipe]
            out = getattr(pipe_mod, pipe)(df, _py_cmd(child), schema, chunk_rows=500)
            counts = [r["count"] for r in out.collect()]
    finally:
        spark.conf.set(key, old)
    assert counts == [500, 500]


def test_pipe_arrow_map_finalize(spark):
    """map(None-returning chunk fn) + finalize through the wire — the
    reference's 1-map-finalize example shape."""
    from pyspark.sql import functions as F2

    from streaming_spark.operators.pipe import pipe_arrow

    df = spark.range(1, 101).select(F2.col("id").cast("double").alias("v")).repartition(2)
    out = pipe_arrow(df, _py_cmd(ARROW_CLIENT_SUM_FINALIZE), "total DOUBLE")
    totals = [r.total for r in out.collect()]
    assert len(totals) == 2  # one finalize message per partition/child
    assert sum(totals) == 5050.0


def test_pipe_arrow_side_input_read_func(spark):
    """Function shipping over the wire: pack_func → side input → child
    read_func pops and applies it (reference 2-pack-func.py flow)."""
    import pandas as pd2

    from streaming_spark.client import pack_func
    from streaming_spark.operators.pipe import pipe_arrow

    def triple(df):
        return pd2.DataFrame({"v3": df["v"] * 3})

    packed = pack_func(triple)
    child = (
        "import streaming_spark.client as scidbstrm\n"
        "scidbstrm.map(scidbstrm.read_func())\n"
    )
    from pyspark.sql import functions as F2

    df = spark.range(1, 11).select(F2.col("id").cast("double").alias("v")).coalesce(1)
    out = pipe_arrow(df, _py_cmd(child), "v3 DOUBLE", side_input=packed)
    assert sorted(r.v3 for r in out.collect()) == [float(i * 3) for i in range(1, 11)]


def test_pipe_arrow_empty_side_input(spark):
    """A zero-row side input goes down as ONE empty message carrying its
    schema: the child reads it, acks it, and maps the data as usual."""
    import pandas as pd2

    from streaming_spark.operators.pipe import pipe_arrow

    child = (
        "import pandas as pd\n"
        "import streaming_spark.client as scidbstrm\n"
        "side = scidbstrm.read()\n"
        "scidbstrm.write(None)\n"
        "scidbstrm.map(lambda df: pd.DataFrame({'v': df['v'],"
        " 'side_rows': len(side), 'side_cols': ','.join(side.columns)}))\n"
    )
    side = pd2.DataFrame({"k": pd2.Series([], dtype="int64")})
    df = spark.range(1, 6).select(F.col("id").cast("double").alias("v")).coalesce(1)
    out = pipe_arrow(
        df, _py_cmd(child), "v DOUBLE, side_rows BIGINT, side_cols STRING",
        side_input=side,
    ).collect()
    assert sorted(r.v for r in out) == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert {(r.side_rows, r.side_cols) for r in out} == {(0, "k")}


# --------------------------------------------------------------- df protocol

DF_CLIENT_IDENTITY = (
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "df_child_loop(lambda df: df)\n"
)

DF_CLIENT_SUM_FINALIZE = (
    "import pandas as pd\n"
    "from streaming_spark.operators.rserial import df_child_loop\n"
    "state = {'total': 0.0}\n"
    "def on_chunk(df):\n"
    "    state['total'] += float(df[df.columns[0]].sum())\n"
    "    return None\n"
    "def finalize():\n"
    "    return pd.DataFrame({'s': pd.array([state['total']], dtype='Float64')})\n"
    "df_child_loop(on_chunk, finalize)\n"
)


def test_rserial_roundtrip():
    """Writer and reader agree on all three wire types incl. the NA
    sentinels (reference DFInterface.cpp:116-118, :206-216)."""
    import io

    import numpy as np
    import pandas as pd

    from streaming_spark.operators import rserial

    pdf = pd.DataFrame(
        {
            "d": pd.array([1.5, None, float("nan"), -0.0], dtype="Float64"),
            "i": pd.array([7, None, -(2**31) + 1, 0], dtype="Int32"),
            "s": pd.array(["plain", None, "", "unié€"], dtype="string"),
        }
    )
    buf = io.BytesIO()
    rserial.write_df_message(
        buf, rserial.pandas_to_columns(pdf, ["double", "int32", "string"])
    )
    buf.seek(0)
    cols = rserial.read_df_message(buf)
    assert buf.read() == b""  # message fully consumed
    back = rserial.columns_to_pandas(cols)
    assert list(back.columns) == ["d", "i", "s"]
    assert back["d"][0] == 1.5 and back["d"][3] == 0.0
    assert back["d"].isna().tolist() == [False, True, True, False]  # NaN -> NA
    assert back["i"].tolist()[0] == 7 and back["i"][2] == -(2**31) + 1
    assert back["i"].isna().tolist() == [False, True, False, False]
    assert back["s"].tolist()[0] == "plain" and back["s"][2] == ""
    assert back["s"][3] == "unié€"
    assert back["s"].isna().tolist() == [False, True, False, False]


def test_rserial_bytes_exact():
    """Byte-for-byte check of one serialized message against the layout
    hand-assembled from the reference's constants (DFInterface.cpp:168-177,
    writeDF :179-275) — guards against drift from the R wire format."""
    import io
    import struct

    import numpy as np

    from streaming_spark.operators import rserial

    buf = io.BytesIO()
    rserial.write_df_message(
        buf,
        {
            "x": np.array([1.0], dtype=np.float64),
            "n": np.array([5, rserial.NA_INT], dtype=np.int32),
        },
    )
    i32 = struct.Struct("<i").pack
    expected = (
        bytes([0x42, 0x0A, 0x02, 0, 0, 0, 0, 0x02, 0x03, 0, 0, 0x03, 0x02, 0])  # R_HEADER
        + bytes([0x13, 0x02, 0, 0])  # R_VECSXP (list with attributes)
        + i32(2)
        + bytes([0x0E, 0, 0, 0])  # R_REALSXP
        + i32(1)
        + struct.pack("<d", 1.0)
        + bytes([0x0D, 0, 0, 0])  # R_INTSXP
        + i32(2)
        + i32(5)
        + i32(-(2**31))  # NA_integer_
        + bytes(  # R_TAIL_HDR: pairlist + symbol + "names"
            [0x02, 0x04, 0, 0, 0x01, 0, 0, 0, 0x09, 0, 0x04, 0, 0x05, 0, 0, 0]
        )
        + b"names"
        + bytes([0x10, 0, 0, 0])  # R_STRSXP
        + i32(2)
        + bytes([0x09, 0, 0x04, 0]) + i32(1) + b"x"
        + bytes([0x09, 0, 0x04, 0]) + i32(1) + b"n"
        + bytes([0xFE, 0, 0, 0])  # R_TAIL
    )
    assert buf.getvalue() == expected


def test_rserial_reads_what_dfinterface_writes():
    """The child-side reader consumes the exact byte stream the reference
    parent emits (writeDF :179-275), including the NA double bit pattern
    (:116-117) and the final-handshake empty message (:277-283)."""
    import io
    import struct

    from streaming_spark.operators import rserial

    i32 = struct.Struct("<i").pack
    parent_msg = (
        bytes([0x42, 0x0A, 0x02, 0, 0, 0, 0, 0x02, 0x03, 0, 0, 0x03, 0x02, 0])
        + bytes([0x13, 0x02, 0, 0])
        + i32(1)
        + bytes([0x10, 0, 0, 0])  # one STRSXP column
        + i32(3)
        + bytes([0x09, 0, 0x04, 0]) + i32(2) + b"ab"
        + bytes([0x09, 0, 0x04, 0]) + i32(-1)  # NA string
        + bytes([0x09, 0, 0x04, 0]) + i32(0)  # empty string
        + bytes([0x02, 0x04, 0, 0, 0x01, 0, 0, 0, 0x09, 0, 0x04, 0, 0x05, 0, 0, 0])
        + b"names"
        + bytes([0x10, 0, 0, 0])
        + i32(1)
        + bytes([0x09, 0, 0x04, 0]) + i32(1) + b"v"
        + bytes([0xFE, 0, 0, 0])
    )
    cols = rserial.read_df_message(io.BytesIO(parent_msg))
    assert cols == {"v": ["ab", None, ""]}
    final = bytes([0x42, 0x0A, 0x02, 0, 0, 0, 0, 0x02, 0x03, 0, 0, 0x03, 0x02, 0]) + bytes(
        [0x13, 0, 0, 0]
    ) + i32(0)
    assert rserial.read_df_message(io.BytesIO(final)) == {}


def test_pipe_df_identity(spark):
    """R_identity.R-shaped echo child round-trips double/int32/string with
    nulls through the df wire."""
    from pyspark.sql import functions as F2

    from streaming_spark.operators.pipe import pipe_df

    df = (
        spark.range(100)
        .select(
            F2.when(F2.col("id") % 7 == 0, None)
            .otherwise(F2.col("id").cast("double") / 4)
            .alias("d"),
            F2.when(F2.col("id") % 5 == 0, None)
            .otherwise(F2.col("id").cast("int"))
            .alias("i"),
            F2.when(F2.col("id") % 3 == 0, None)
            .otherwise(F2.concat(F2.lit("s"), F2.col("id")))
            .alias("s"),
        )
        .repartition(3)
    )
    out = pipe_df(df, _py_cmd(DF_CLIENT_IDENTITY), "d DOUBLE, i INT, s STRING")
    got = sorted(out.collect(), key=lambda r: (r.i is None, r.i, r.s is None, r.s))
    want = sorted(df.collect(), key=lambda r: (r.i is None, r.i, r.s is None, r.s))
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_pipe_df_sum_finalize(spark):
    """R_sum.R semantics: empty reply per chunk, one total at the final
    handshake, per child/partition; provenance dims attached
    (DFInterface.cpp:82-85)."""
    from pyspark.sql import functions as F2

    from streaming_spark.operators.pipe import pipe_df

    df = (
        spark.range(1, 101)
        .select(F2.col("id").cast("double").alias("v"))
        .repartition(2)
    )
    out = pipe_df(df, _py_cmd(DF_CLIENT_SUM_FINALIZE), "s DOUBLE", provenance=True)
    rows = out.collect()
    assert len(rows) == 2  # one finalize total per partition child
    assert sum(r.s for r in rows) == 5050.0
    assert all(r.value_no == 0 for r in rows)
    assert {r.instance_id for r in rows} == {0, 1}


def test_pipe_df_rejects_int64(spark):
    """int64 has no df wire representation — rejected up front, mirroring
    the reference's type allowlist error (DFInterface.cpp:74-79)."""
    import pytest as _pytest

    from streaming_spark.operators.pipe import pipe_df

    with _pytest.raises(TypeError, match="unsupported type"):
        pipe_df(spark.range(5), "cat", "id BIGINT")


def test_pipe_df_side_input(spark):
    """Second-array semantics over the df wire: a lookup table is shipped
    first, the child joins it into every chunk (the poLCA vignette's
    program-shipping pattern, reference poLCA.Rmd:70-78)."""
    import pandas as pd2
    from pyspark.sql import functions as F2

    from streaming_spark.operators.pipe import pipe_df

    side = pd2.DataFrame(
        {
            "i": pd2.array([0, 1, 2], dtype="Int32"),
            "label": pd2.array(["zero", "one", "two"], dtype="string"),
        }
    )
    child = (
        "import pandas as pd\n"
        "from streaming_spark.operators.rserial import df_child_loop\n"
        "lut = {}\n"
        "def on_side(df):\n"
        "    lut.update(dict(zip(df['i'].astype(int), df['label'].astype(str))))\n"
        "def on_chunk(df):\n"
        "    out = pd.DataFrame({\n"
        "        'i': df['i'],\n"
        "        'label': pd.array([lut.get(int(v), '?') for v in df['i']],\n"
        "                          dtype='string')})\n"
        "    return out\n"
        "df_child_loop(on_chunk, n_side=1, on_side=on_side)\n"
    )
    df = spark.range(6).select((F2.col("id") % 4).cast("int").alias("i")).coalesce(1)
    out = pipe_df(df, _py_cmd(child), "i INT, label STRING", side_input=side)
    got = {(r.i, r.label) for r in out.collect()}
    assert got == {(0, "zero"), (1, "one"), (2, "two"), (3, "?")}


SIDE_CHILDREN = {
    "pipe_arrow": (
        "import pandas as pd\n"
        "import streaming_spark.client as scidbstrm\n"
        "side = scidbstrm.read()\n"
        "scidbstrm.write(None)\n"
        "state = {'rows': 0}\n"
        "def on_chunk(df):\n"
        "    state['rows'] += len(df)\n"
        "scidbstrm.map(on_chunk, lambda: pd.DataFrame("
        "{'side_rows': [len(side)], 'data_rows': [state['rows']]}))\n",
        "side_rows BIGINT, data_rows BIGINT",
    ),
    "pipe_df": (
        "import pandas as pd\n"
        "from streaming_spark.operators.rserial import df_child_loop\n"
        "state = {'side': 0, 'rows': 0}\n"
        "def on_side(df):\n"
        "    state['side'] = len(df)\n"
        "def on_chunk(df):\n"
        "    state['rows'] += len(df)\n"
        "def finalize():\n"
        "    return pd.DataFrame({'side_rows': pd.array([state['side']], dtype='Int32'),\n"
        "                         'data_rows': pd.array([state['rows']], dtype='Int32')})\n"
        "df_child_loop(on_chunk, finalize, n_side=1, on_side=on_side)\n",
        "side_rows INT, data_rows INT",
    ),
}


@pytest.mark.parametrize("pipe", ["pipe_df", "pipe_arrow"])
def test_pipe_side_input_larger_than_chunk(spark, pipe):
    """A side input longer than ``chunk_rows`` still goes down as ONE
    message answered by one reply, so a map+finalize child gets the
    whole side table first and its finalize row comes back (3 side rows,
    ``chunk_rows=2``, 10 data rows)."""
    import pandas as pd2

    from streaming_spark.operators import pipe as pipe_mod

    child, schema = SIDE_CHILDREN[pipe]
    side = pd2.DataFrame({"k": pd2.array([1, 2, 3], dtype="Int32")})
    df = spark.range(1, 11).select(F.col("id").cast("double").alias("v")).coalesce(1)
    out = getattr(pipe_mod, pipe)(
        df, _py_cmd(child), schema, side_input=side, chunk_rows=2
    )
    assert [tuple(r) for r in out.collect()] == [(3, 10)]


def test_pipe_df_ships_program(spark):
    """The poLCA vignette pattern end-to-end: a serialized PROGRAM rides
    the df-wire side input as a base64 string cell; the child decodes it
    and maps it over every chunk (reference poLCA.Rmd:70-78 ships a
    serialized R expression the same way)."""
    import base64 as b64mod

    import pandas as pd2
    from pyspark.sql import functions as F2

    from pyspark import cloudpickle

    from streaming_spark.operators.pipe import pipe_df

    def program(df):
        import pandas as _pd

        return _pd.DataFrame(
            {"v2": _pd.array(df["v"] * 2 + 1, dtype="Float64")}
        )

    side = pd2.DataFrame(
        {"program": pd2.array(
            [b64mod.b64encode(cloudpickle.dumps(program)).decode()], dtype="string"
        )}
    )
    child = (
        "import base64, pickle, pandas as pd\n"
        "from streaming_spark.operators.rserial import df_child_loop\n"
        "state = {}\n"
        "def on_side(df):\n"
        "    state['fn'] = pickle.loads(base64.b64decode(df['program'][0]))\n"
        "df_child_loop(lambda df: state['fn'](df), n_side=1, on_side=on_side)\n"
    )
    df = spark.range(1, 6).select(F2.col("id").cast("double").alias("v")).coalesce(1)
    out = pipe_df(df, _py_cmd(child), "v2 DOUBLE", side_input=side)
    assert sorted(r.v2 for r in out.collect()) == [3.0, 5.0, 7.0, 9.0, 11.0]


# ------------------------------------------------------------ child faults


def _pipe_failure(spark, out, limit: float = 120.0):
    """Collect ``out`` in its own job group and return the error it fails
    with.  A collect still running after ``limit`` seconds is cancelled
    and fails the test, so a pipe that wedges cannot hang the suite."""
    import threading
    import time

    sc = spark.sparkContext
    box = {}

    def run():
        sc.setJobGroup("pipe-fault", "pipe fault", interruptOnCancel=True)
        try:
            out.collect()
        except Exception as exc:
            box["error"] = exc

    t0 = time.monotonic()
    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(limit)
    if t.is_alive():
        sc.cancelJobGroup("pipe-fault")
        t.join(60)
        pytest.fail(f"the task was still running after {time.monotonic() - t0:.0f}s")
    assert "error" in box, "a faulty child did not fail the task"
    return str(box["error"])


def _faulty_pipe(spark, monkeypatch, pipe: str, command: str, rows: int):
    from streaming_spark.operators import pipe as pipe_mod

    monkeypatch.setattr(pipe_mod, "_CHILD_TIMEOUT_S", 4.0)
    df = spark.range(rows).select(F.col("id").cast("double").alias("v")).coalesce(1)
    if pipe == "pipe_tsv":
        return pipe_mod.pipe_tsv(df, command)
    return getattr(pipe_mod, pipe)(df, command, "v DOUBLE")


@pytest.mark.parametrize("rows", [10, 200_000])
@pytest.mark.parametrize("pipe", ["pipe_tsv", "pipe_df", "pipe_arrow"])
def test_pipe_stalled_child_fails_task(spark, monkeypatch, pipe, rows):
    """A child that neither reads nor writes (``sleep 600``) fails the task
    once the child timeout passes — whether the parent waits on a reply
    (10 rows fit the pipe buffer) or on a write (200k rows, MBs against
    a 64 KB buffer) — not when the child would have exited on its own
    (the reference kills the query on a wedged child,
    ChildProcess.cpp:147-156)."""
    out = _faulty_pipe(spark, monkeypatch, pipe, "sleep 600", rows)
    assert "neither read nor wrote" in _pipe_failure(spark, out)


@pytest.mark.parametrize("pipe", ["pipe_tsv", "pipe_df", "pipe_arrow"])
def test_pipe_silent_child_fails_task(spark, monkeypatch, pipe):
    """A child that reads everything and never replies (``cat >
    /dev/null``) fails the task instead of returning a truncated result
    or waiting forever (child early exit is a query error,
    TSVInterface.cpp:317-360)."""
    out = _faulty_pipe(spark, monkeypatch, pipe, "cat > /dev/null", 1000)
    assert re.search(
        "mid-protocol|stream closed|neither read nor wrote", _pipe_failure(spark, out)
    )


@pytest.mark.parametrize("pipe", ["pipe_tsv", "pipe_df", "pipe_arrow"])
def test_pipe_child_death_fails_task(spark, monkeypatch, pipe):
    """A child that exits mid-protocol fails the task (the reference kills
    the query on child death, ChildProcess.cpp:147-156)."""
    out = _faulty_pipe(spark, monkeypatch, pipe, "head -c 4 > /dev/null", 10)
    assert re.search("mid-protocol|stream closed|Broken pipe", _pipe_failure(spark, out))
