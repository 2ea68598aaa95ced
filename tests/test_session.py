"""Session defaults (streaming_spark/session.py): PySpark's per-Column
call-site capture is off, so building a query neither walks the stack
on every Column call nor imports IPython into the driver."""

import os
import subprocess
import sys

import pyspark.errors.utils as perr

from streaming_spark.oracle import compare, duckdb_connection
from streaming_spark.queries import ORACLES, REGISTRY

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = "q_null_roundtrip"  # F.col, F.when, Column arithmetic and cast


def _refuse(depth):
    raise AssertionError("call site captured")


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    # the flag is cached per process; read it from this session's conf
    monkeypatch.setattr(perr, "_enable_debugging_cache", None)
    monkeypatch.setattr(perr, "_capture_call_site", _refuse)
    got = REGISTRY[QUERY](spark, SF_SMOKE).toPandas()
    con = duckdb_connection(SF_SMOKE)
    try:
        want = con.execute(ORACLES[QUERY]).fetchdf()
    finally:
        con.close()
    assert len(got) > 0
    problems = compare(got, want)
    assert not problems, problems


def test_query_build_does_not_import_ipython():
    """The first call-site capture imported IPython (532 modules, about
    0.4 s and 27 MB of driver PSS)."""
    code = f"""
import sys
sys.path.insert(0, {ROOT!r})
from streaming_spark import get_spark
from streaming_spark.queries import REGISTRY

spark = get_spark(cpus=2, shuffle_partitions=2)
assert len(REGISTRY[{QUERY!r}](spark, {SF_SMOKE!r}).collect()) > 0
spark.stop()
assert "IPython" not in sys.modules, "IPython imported"
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    subprocess.run([sys.executable, "-c", code], env=env, check=True, timeout=600)
