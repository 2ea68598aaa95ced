"""SparkSession factory with engine defaults.

Tuned for local[N] testing but with settings that carry to a large
cluster: AQE on (runtime re-planning, skew-join handling), Arrow
exchange on (the engine's core operator is Arrow-batch streaming, the
Spark analog of the reference's per-chunk columnar exchange —
reference FeatherInterface.cpp:254-355), UTC session timezone for
deterministic timestamp semantics across engines.  Python workers fork
from the engine's daemon (``worker_daemon``), with the engine's own
parent directory on their ``PYTHONPATH`` and ``PYTHONSAFEPATH`` set, so
a ``streaming_spark`` directory in the driver's cwd cannot shadow the
engine in the workers.

PySpark's DataFrame debugging is off.  With it on, every ``F.col`` and
``Column`` method walks the Python stack, retries a failing ``import
ipykernel`` and makes extra py4j round trips (an ``F.col`` took 13 round
trips and 1.9 ms instead of 3 and 0.45 ms), and the first such call
imports IPython into the driver (about 540 modules, 0.3-0.4 s and 26 MB
of PSS).  A Spark error message then lacks the Python file:line
"DataFrame query context"; the Python traceback and the Java exception
are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size is the analog of the reference's chunk_size: keyword
# (reference StreamSettings.h:272 — default 1 GiB of values). 64k rows per
# batch keeps per-batch memory bounded while amortizing Arrow framing.
DEFAULT_ARROW_BATCH = 65536

# the directory holding the imported streaming_spark package, on the
# PYTHONPATH of Python workers (they start the daemon from it) and of the
# registry's pipe children, so both import the driver's copy of the engine
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "streaming-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, then ``*``.  Shuffle
    partitions default to 32 (matched to local core count; on a real
    cluster this should scale with executor count — AQE coalesces the
    excess at runtime).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = int(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", 32))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "streaming_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
        # keep the driver's cwd off the daemon's sys.path (``python -m``
        # would put it first, ahead of ENGINE_ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        # no Python call-site capture on every Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
