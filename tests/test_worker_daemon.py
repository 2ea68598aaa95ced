"""The engine's Python worker daemon (streaming_spark/worker_daemon.py):
a task no longer re-reads pyspark.zip's directory, the guard re-reads an
archive that changed, workers fork from a daemon that preloaded and froze
the Arrow/pandas stack and survive many short tasks doing so, and a
session's workers import the engine with no PYTHONPATH in the
environment."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from streaming_spark import worker_daemon

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_task_does_not_reread_zip_directories(spark):
    """pyspark's per-task importlib.invalidate_caches() re-parsed
    pyspark.zip's directory once per zipimporter on Python < 3.12 (16
    reads, 175-240 ms a task on a 4-vCPU box); under the engine's daemon
    it reads nothing."""

    def probe(batches):
        import importlib
        import time
        import zipimport

        calls = 0
        read = zipimport._read_directory

        def counting(archive):
            nonlocal calls
            calls += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            seconds = time.perf_counter() - t0
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"calls": [calls], "seconds": [seconds], "importers": [importers]}
        )

    schema = "calls BIGINT, seconds DOUBLE, importers BIGINT"
    for _ in range(2):  # the second round runs on reused workers
        rows = spark.range(4, numPartitions=2).mapInArrow(probe, schema).collect()
        assert len(rows) == 2
        for row in rows:
            assert row.importers > 0, row  # pyspark is imported from the zip
            assert row.calls == 0, row
            assert row.seconds < 0.05, row


def test_workers_fork_from_a_preloaded_frozen_daemon(spark):
    """The daemon imported pyarrow before forking (its parent maps
    libarrow) and froze its heap (gc.freeze), seen from two jobs, the
    second on reused workers: the worker shares those pages instead of
    importing them privately."""

    def probe(batches):
        import gc

        with open(f"/proc/{os.getppid()}/maps") as f:
            arrow = any("libarrow" in line for line in f)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"arrow": [arrow], "frozen": [gc.get_freeze_count()]}
        )

    for _ in range(2):  # the second round runs on reused workers
        rows = (
            spark.range(4, numPartitions=2)
            .mapInArrow(probe, "arrow BOOLEAN, frozen BIGINT")
            .collect()
        )
        assert len(rows) == 2
        for row in rows:
            assert row.arrow, row
            assert row.frozen > 0, row


# 100 mapInArrow and 100 mapInPandas tasks, each allocating Arrow buffers
# and converting them to pandas, with worker reuse on or off
_MANY_TASKS = """
import os, sys, time
sys.path.insert(0, {root!r})
import pyarrow as pa
from streaming_spark import get_spark

def arrow_task(batches):
    for b in batches:
        t = pa.table({{"x": pa.array(range(20_000)), "s": pa.array(["v"] * 20_000)}})
        pdf = t.to_pandas()
        yield pa.RecordBatch.from_pydict(
            {{"n": [len(pdf) + b.num_rows], "pid": [os.getpid()]}})

def pandas_task(frames):
    import pandas as pd
    for pdf in frames:
        big = pa.Table.from_pandas(pd.DataFrame({{"x": range(20_000)}})).to_pandas()
        yield pd.DataFrame({{"n": [len(big) + len(pdf)], "pid": [os.getpid()]}})

spark = get_spark(cpus=2, shuffle_partitions=2)
t0 = time.perf_counter()
df = spark.range(100, numPartitions=100)
a = df.mapInArrow(arrow_task, "n BIGINT, pid BIGINT").collect()
p = df.mapInPandas(pandas_task, "n BIGINT, pid BIGINT").collect()
seconds = time.perf_counter() - t0
for rows in (a, p):
    assert sorted(r.n for r in rows) == [20_001] * 100, rows[:3]
    workers = len({{r.pid for r in rows}})
    assert workers == 100 if {fresh} else workers < 100, workers
assert seconds < 120, seconds  # far below the pipes' 600 s child timeout
spark.stop()
"""


@pytest.mark.parametrize("reuse", ["false", "true"])
def test_forked_workers_survive_many_arrow_and_pandas_tasks(reuse):
    """The daemon forks with pyarrow's jemalloc background thread
    running; jemalloc's atfork handlers keep that safe.  200 short tasks
    that allocate Arrow buffers and convert them to pandas all finish,
    on a fresh worker per task (reuse off) and on reused ones."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.python.worker.reuse={reuse} pyspark-shell"
    )
    subprocess.run(
        [
            sys.executable,
            "-c",
            _MANY_TASKS.format(root=ROOT, fresh=reuse == "false"),
        ],
        env=env,
        check=True,
        timeout=300,
    )


@pytest.fixture
def guarded():
    """The stat-guarded invalidate_caches in this process, undone after."""
    worker_daemon.install()
    yield
    zipimport.zipimporter.invalidate_caches = worker_daemon._reread
    worker_daemon._stamps.clear()


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the daemon guards only Python < 3.12"
)
def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch, guarded):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").X == 1

    calls = []
    read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first sight of this archive: read once
    assert calls == [archive]
    importlib.invalidate_caches()  # unchanged: not read again
    assert calls == [archive]

    # rewrite with a new member: a new size since the last read
    os.remove(archive)
    _write_zip(archive, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert calls == [archive, archive]
    assert importlib.import_module("zmod_b").Y == 2


def test_workers_import_engine_without_pythonpath(tmp_path):
    """A session started outside the repo with PYTHONPATH unset: stream()
    runs, and so does q_df_roundtrip, whose closure names an engine
    module (before the daemon set the workers' PYTHONPATH it failed with
    ModuleNotFoundError: streaming_spark)."""
    code = f"""
import sys
sys.path.insert(0, {ROOT!r})
import pandas as pd
from streaming_spark import get_spark, stream
from streaming_spark.oracle import compare, duckdb_connection
from streaming_spark.queries import ORACLES, REGISTRY

spark = get_spark(cpus=2, shuffle_partitions=2)
counts = stream(spark.range(100, numPartitions=2),
                lambda pdf: pd.DataFrame({{"n": [len(pdf)]}}), "n BIGINT")
assert counts.toPandas()["n"].sum() == 100
got = REGISTRY["q_df_roundtrip"](spark, {SF_SMOKE!r}).toPandas()
want = duckdb_connection({SF_SMOKE!r}).execute(ORACLES["q_df_roundtrip"]).fetchdf()
assert len(got) > 0
problems = compare(got, want)
assert not problems, problems
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=tmp_path, check=True, timeout=600
    )


def test_workers_ignore_an_engine_in_the_driver_cwd(tmp_path):
    """A ``streaming_spark`` package in the driver's cwd does not shadow
    the engine in the workers.  Spark starts the daemon with ``python
    -m``, which puts the cwd first on ``sys.path`` unless
    PYTHONSAFEPATH is set; the daemon then drops the variable, so child
    processes of a task keep the usual ``sys.path``."""
    decoy = tmp_path / "streaming_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text('raise ImportError("decoy engine")\n')
    code = f"""
import sys
sys.path.insert(0, {ROOT!r})
import pandas as pd
import streaming_spark
from streaming_spark import get_spark, stream


def where(pdf):
    import os
    import streaming_spark
    safe = os.environ.get("PYTHONSAFEPATH", "")
    return pd.DataFrame({{"engine": [streaming_spark.__file__], "safe": [safe]}})


spark = get_spark(cpus=1, shuffle_partitions=1)
got = stream(spark.range(4, numPartitions=1), where, "engine STRING, safe STRING")
rows = got.collect()
assert {{r.engine for r in rows}} == {{streaming_spark.__file__}}, rows
assert {{r.safe for r in rows}} == {{""}}, rows
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=tmp_path, check=True, timeout=600
    )
