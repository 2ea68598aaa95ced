"""Benchmark entry point for the streaming_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Closed loop, one client: a single driver process on local[nproc] runs
the workload's fixed op list (workloads.py) in order, each op issued
after the previous op's digest action returned, and repeats that pass
until ``--seconds`` of passes have run (at least one pass).

Per run:

1. set-up: start a session, then stage the seeded inputs (gen.py) and
   what the workload's ops use: both Python worker pools warmed (on a
   second thread, in parallel) where the ops cross the Python
   boundary, the bucketed tables where q_bucketed_join reads them;
2. timed passes, sampling PSS over the process tree;
3. untimed check of the first pass: every op's output against its
   oracle (workloads.py); every later pass must reproduce it.

Set-up and pass times are wall times net of the CPU time a hypervisor
stole from the machine (:class:`UnstolenClock`); the raw wall times are
in the detail line.  With ``--trace 1`` a warm-up pass comes first, then passes alternate
untraced / traced / untraced (spans and job groups on, tracing.py) and
the per-layer metrics are reported instead.  The last stdout line is
one JSON object: correct, attempted, failed and metrics.  The session
is fitted to the box from outside the program: cores from the affinity
mask, as many shuffle partitions as cores, driver memory below physical
RAM, and TMPDIR, Spark's local dir and warehouse inside the run's work
area.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SCALE = 0.01  # fixture scale factor: 60k lineitem rows, 500 documents
CORES = len(os.sched_getaffinity(0))


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_mem() -> str:
    """Half the physical RAM, at most 2 GiB: the engine's 16g default is
    larger than small boxes have, and the inputs are small."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(2, phys // 2 >> 30))}g"


def configure_env(trace: bool) -> None:
    """Everything the session needs, set before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap, touched up front: peak PSS then does not
        # depend on when the JVM grew the heap or how much of it a
        # collection had touched when the sampler looked
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{mem} -XX:+AlwaysPreTouch",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
        })
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_SHUFFLE=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=mem,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell",
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


class UnstolenClock:
    """Wall time less the share of it a hypervisor stole from this
    virtual machine.  /proc/stat counts, per CPU, the time the VM wanted
    to run but the host ran something else (steal); the work on the
    critical path lost the same share of its time as the busy CPUs did,
    so ``wall × busy / (busy + steal)`` is what the interval would have
    taken on a host that stole nothing.  Equal to the wall time there."""

    @staticmethod
    def ticks() -> tuple[int, int]:
        """(busy, stolen) CPU ticks of the machine so far."""
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(x) for x in f.readline().split()[1:9])
        return user + nice + system + irq + softirq, steal

    def __init__(self):
        self.t0, self.ticks0 = time.perf_counter(), self.ticks()

    def read(self) -> tuple[float, float]:
        """(unstolen seconds, wall seconds) since the clock started."""
        wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.ticks0, self.ticks()))
        return wall * busy / max(1, busy + stolen), wall


class PssSampler:
    """Peak PSS summed over this process and all its descendants (JVM,
    Python workers, pipe children), read from /proc/*/smaps_rollup."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_pss() -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_pss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree_pss())


class Context:
    """What ops need: the session, the staged inputs and the seed."""

    def __init__(self, spark, sf_dir: str, seed: int):
        self.spark, self.sf_dir, self.seed = spark, sf_dir, seed
        self._con = None

    def duckdb(self):
        from streaming_spark.oracle import duckdb_connection

        if self._con is None:
            self._con = duckdb_connection(self.sf_dir)
        return self._con


def warm_pools(spark) -> None:
    """One trivial task per core through mapInPandas and mapInArrow:
    the two use separate Python worker pools."""
    from streaming_spark import stream, stream_arrow

    n = spark.sparkContext.defaultParallelism
    warm = spark.range(0, n, 1, n)
    stream(warm, lambda pdf: pdf, warm.schema).count()
    stream_arrow(warm, lambda b: b, warm.schema).count()


# what set-up stages beyond the session and the inputs: the Python
# worker pools for the workloads that cross the Python boundary, the
# bucketed tables for the one whose q_bucketed_join reads them
WARM_POOLS = {"process_stream", "curation", "index_maintenance"}
BUCKETED = {"relational"}


def setup(seed: int, workload: str | None = None):
    """Returns (spark, sf_dir, row counts per table, session timings);
    without a workload, set-up stages everything any workload uses."""
    import gen
    from streaming_spark import get_spark
    from streaming_spark.queries import REGISTRY

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm = {"s": 0.0}

    def warm_up():
        try:
            warm_pools(spark)
        except Exception as e:  # noqa: BLE001 - re-raised below
            warm["error"] = e
        warm["s"] = time.perf_counter() - t1

    thread = threading.Thread(target=warm_up)
    if workload is None or workload in WARM_POOLS:
        thread.start()
    try:
        sf_dir = os.path.join(WORK, "inputs", f"sf{SCALE}")
        counts = gen.write_tables(sf_dir, seed, SCALE)
        if workload is None or workload in BUCKETED:
            REGISTRY["q_bucketed_join"](spark, sf_dir).count()
    finally:
        if thread.is_alive():
            thread.join()
    if "error" in warm:
        raise warm["error"]
    return spark, sf_dir, counts, {"start_s": t1 - t0, "warm_s": warm["s"]}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class InputRows:
    """Pass hook that fills each registry op's ``rows_in`` with the row
    counts of the fixture tables it loads, seen through the io layer's
    single parquet reader."""

    def __init__(self, counts: dict[str, int]):
        self.counts, self.loaded = counts, set()

    def __enter__(self):
        from streaming_spark import io as ssio

        orig = self._orig = ssio._read_parquet

        def spy(spark, path):
            self.loaded.add(os.path.basename(path).removesuffix(".parquet"))
            return orig(spark, path)

        ssio._read_parquet = spy
        return self

    def __exit__(self, *exc):
        from streaming_spark import io as ssio

        ssio._read_parquet = self._orig

    def begin_op(self, name: str) -> None:
        self.loaded = set()

    def end_op(self, op, fingerprint) -> None:
        if not op.rows_in:
            op.rows_in = sum(self.counts.get(t, 0) for t in self.loaded)


def run_pass(ops, ctx, op_s, hook=None) -> tuple[tuple[float, float], dict]:
    """One pass; returns ((unstolen, wall) seconds, fingerprint per op,
    None where the op raised).  Appends each op's wall time to
    ``op_s[op.name]``; ``hook`` (a tracer) sees each op begin and end."""
    prints = {}
    clock = UnstolenClock()
    for op in ops:
        t_op = time.perf_counter()
        if hook:
            hook.begin_op(op.name)
        fingerprint = None
        try:
            fingerprint = op.run(ctx)
        except Exception:  # noqa: BLE001 - counted, reported, run goes on
            traceback.print_exc(limit=3, file=sys.stderr)
        if hook:
            hook.end_op(op, fingerprint)
        op_s.setdefault(op.name, []).append(time.perf_counter() - t_op)
        prints[op.name] = fingerprint
    return clock.read(), prints


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env(bool(args.trace))
    try:
        return bench(args)
    finally:
        shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)


def bench(args) -> int:
    import workloads

    clock = UnstolenClock()
    spark, sf_dir, counts, session = setup(args.seed, args.workload)
    setup_s, setup_wall = clock.read()
    ctx = Context(spark, sf_dir, args.seed)
    ops = workloads.build_ops(args.workload, ctx)

    tracer = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer(spark)
    passes, traced, walls, prints, op_s = [], [], [], [], {}
    with PssSampler() as pss:
        if tracer:  # warm-up, so traced and untraced passes are both warm
            with InputRows(counts) as hook:
                prints.append(run_pass(ops, ctx, {}, hook)[1])
        t_start = time.perf_counter()
        # traced runs go untraced, traced, untraced at least, so the
        # untraced median brackets the traced pass
        while (not passes or (tracer and (not traced or len(passes) < 2))
               or time.perf_counter() - t_start < args.seconds):
            on = tracer is not None and len(passes) > len(traced)
            if on:
                tracer.install()
            try:
                if prints:
                    (net, wall), fps = run_pass(ops, ctx, op_s,
                                                tracer if on else None)
                else:
                    with InputRows(counts) as hook:
                        (net, wall), fps = run_pass(ops, ctx, op_s, hook)
            finally:
                if on:
                    tracer.uninstall()
            (traced if on else passes).append(net)
            if on:
                tracer.end_pass(net)
            else:
                walls.append(wall)
            prints.append(fps)
    t_check = time.perf_counter()
    problems = workloads.verify_ops(ops, ctx, prints[0])
    check_s = time.perf_counter() - t_check
    spark.stop()
    bad = {name for name, p in problems.items() if p}
    for name in sorted(bad):
        print(f"# check failed: {name}: {problems[name]}", file=sys.stderr)
    attempted = len(ops) * len(prints)
    failed = sum(
        op.name in bad or fps[op.name] != prints[0][op.name]
        for fps in prints for op in ops
    )

    rows = sum(op.rows_in for op in ops)
    q1, med, q3 = quartiles(passes)
    detail = {
        "workload": args.workload, "seed": args.seed, "scale": SCALE,
        "cores": CORES, "passes": len(passes), "pass_s_q1": q1,
        "pass_s_median": med, "pass_s_q3": q3, "rows_per_pass": rows,
        "pass_wall_s_median": statistics.median(walls),
        "failed_ops_ratio": failed / attempted, "setup_s": setup_s,
        "setup_wall_s": setup_wall, "check_s": check_s, "session": session, "check_failed": sorted(bad),
        "op_s": {k: round(statistics.median(v), 3) for k, v in op_s.items()},
    }
    print("# " + json.dumps(detail))
    if args.trace:
        print("# spans " + json.dumps(tracer.span_counts()))
        metrics = tracer.report(
            os.path.join(WORK, "eventlog"), session, statistics.median(passes),
            CORES,
        )
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": med, "unit": "s"},
            "rows_per_s": {"value": rows / med, "unit": "1/s"},
            "peak_rss_mb": {"value": pss.peak / 2**20, "unit": "MB"},
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
