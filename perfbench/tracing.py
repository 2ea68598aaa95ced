"""The traced run: driver spans around the engine's public functions plus
Spark's own event log, folded into per-layer metrics.

Spans are recorded from outside the program.  :meth:`Tracer.install`
wraps every public function of the engine modules in ``LAYERS`` and puts
the wrapper into EVERY loaded module namespace that holds the original
(registry modules bind operators at import time, e.g. ``from
...operators.stream import stream``), and into the query registry.  The
wrapper keeps the original's module and qualified name, so cloudpickle
still ships functions to Python workers by reference.
:meth:`Tracer.uninstall` puts the originals back.

Each op runs under ``sc.setJobGroup(op)``; Spark jobs are attributed to
an op by that group, or by time window for jobs on other threads
(foreachBatch), and to a layer by the innermost span open on the driver
when the job was submitted.  Spans on lazy functions measure plan
building plus any eager jobs inside the call; executor-side time comes
from the event log.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import logging
import os
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

# module -> layer; the ANN index lifecycle functions of similarity are
# re-homed to "index" in _layer_of
LAYERS = {
    "streaming_spark.session": "session",
    "streaming_spark.io": "io",
    "streaming_spark.scratch": "scratch",
    "streaming_spark.operators.stream": "stream",
    "streaming_spark.operators.pipe": "pipe",
    "streaming_spark.operators.rserial": "pipe",
    "streaming_spark.operators.dedup": "dedup",
    "streaming_spark.operators.similarity": "similarity",
    "streaming_spark.operators.fuzzy": "fuzzy",
    "streaming_spark.operators.text": "text",
    "streaming_spark.operators.overlap": "overlap",
    "streaming_spark.operators.asof": "asof",
    "streaming_spark.operators.index_commit": "index",
    "streaming_spark.operators.digest_index": "index",
    "streaming_spark.operators.neardup_index": "index",
    "streaming_spark.streaming.core": "streaming",
    "digest": "action",
}
# private functions that are a layer's single entry point: every fixture
# load goes through io._read_parquet (registry.T calls it directly)
EXTRA = {"streaming_spark.io": ("_read_parquet",)}
INDEX_MOVES = (
    ("append", re.compile(r"_(build|append)$")),
    ("tombstone", re.compile(r"tombstone")),
    ("compact", re.compile(r"_compact$")),
    ("read", re.compile(r"_(owners|pairs|members|open)$")),
)
PY_NODE = re.compile(r"MapIn|Python|ArrowEval|InPandas|InArrow")
# SQL metrics of the Python plan nodes (Spark 4.1 names; times in ms)
PY_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
    "number of output rows": "rows",
}
COUNTED = ("dedup", "similarity", "fuzzy", "text")


def _layer_of(module: str, name: str) -> str | None:
    if module.startswith("streaming_spark.queries"):
        return "queries"
    if module == "streaming_spark.operators.similarity" and (
        name.startswith("ann_index_") or name == "ann_tombstone_filter"
    ):
        return "index"
    return LAYERS.get(module)


class _Span:
    __slots__ = ("layer", "name", "start", "end", "child", "depth", "registry")

    def __init__(self, layer, name, start, depth, registry):
        self.layer, self.name, self.start = layer, name, start
        self.depth, self.registry = depth, registry
        self.end, self.child = None, 0.0


class _CandidateLog(logging.Handler):
    """Collects the candidate-pair counts streaming_spark logs."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.records: list[tuple[float, int]] = []

    def emit(self, record):
        args = record.args if isinstance(record.args, tuple) else ()
        if len(args) >= 2 and isinstance(args[1], int):
            self.records.append((record.created, args[1]))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[_Span] = []
        self.ops: list[dict] = []  # name, start, end, rows_out, removed
        self.walls: list[float] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[dict, str, object]] = []
        self._wrappers: dict[int, object] = {}
        self._cands = _CandidateLog()
        self._scratch = {"peak": 0, "pinned": 0}
        self._stop = threading.Event()
        self._sampler = None

    # -- spans ------------------------------------------------------------
    def _wrap(self, fn, layer):
        tracer = self
        registry = layer == "queries"

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            stack = getattr(tracer._tls, "stack", None)
            if stack is None:
                stack = tracer._tls.stack = []
            span = _Span(layer, fn.__name__, time.time(), len(stack), registry)
            stack.append(span)
            try:
                return fn(*a, **kw)
            finally:
                span.end = time.time()
                stack.pop()
                if stack:
                    stack[-1].child += span.end - span.start
                with tracer._lock:
                    tracer.spans.append(span)

        return wrapper

    def _targets(self) -> dict[int, tuple]:
        """id(original) -> (original, wrapper) for every traced function."""
        out = {}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname.startswith("streaming_spark") or modname in LAYERS
            ):
                continue
            extra = EXTRA.get(modname, ())
            for name, obj in list(vars(mod).items()):
                if not inspect.isfunction(obj) or obj.__module__ != modname:
                    continue
                if name.startswith("_") and name not in extra:
                    continue
                layer = _layer_of(modname, name)
                if layer and id(obj) not in out:
                    out[id(obj)] = (obj, self._wrap(obj, layer))
        return out

    def install(self) -> None:
        from streaming_spark.queries import REGISTRY

        if not self._wrappers:
            self._wrappers = self._targets()
        w = self._wrappers
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not isinstance(d, dict):
                continue
            for name, obj in list(d.items()):
                hit = w.get(id(obj))
                if hit is not None and hit[0] is obj:
                    d[name] = hit[1]
                    self._patched.append((d, name, obj))
        for name, obj in list(REGISTRY.items()):
            hit = w.get(id(obj))
            if hit is not None and hit[0] is obj:
                REGISTRY[name] = hit[1]
                self._patched.append((REGISTRY, name, obj))
        logging.getLogger("streaming_spark.candidates").addHandler(self._cands)
        logging.getLogger("streaming_spark.candidates").setLevel(logging.INFO)
        self._start_sampler()

    def uninstall(self) -> None:
        for d, name, obj in reversed(self._patched):
            d[name] = obj
        self._patched.clear()
        logging.getLogger("streaming_spark.candidates").removeHandler(self._cands)
        self._stop_sampler()

    # -- scratch sampler ----------------------------------------------------
    def _sample_scratch(self) -> None:
        from streaming_spark import scratch

        while not self._stop.is_set():
            root = scratch._ROOT
            if root and os.path.isdir(root):
                total = pinned = 0
                for e in os.scandir(root):
                    size = scratch._tree_stats(e.path)[0] if e.is_dir() else 0
                    total += size
                    pinned += size if e.path in scratch._PINNED else 0
                self._scratch["peak"] = max(self._scratch["peak"], total)
                self._scratch["pinned"] = max(self._scratch["pinned"], pinned)
            self._stop.wait(0.2)

    def _start_sampler(self) -> None:
        self._stop.clear()
        self._sampler = threading.Thread(target=self._sample_scratch, daemon=True)
        self._sampler.start()

    def _stop_sampler(self) -> None:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join()

    # -- ops and passes -----------------------------------------------------
    def begin_op(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)
        self.ops.append({"name": name, "start": time.time()})

    def end_op(self, op, fingerprint: str | None) -> None:
        rec = self.ops[-1]
        rec["end"] = time.time()
        rec["removed"] = getattr(op, "removed", 0)
        rec["rows_out"] = int(fingerprint.split(":")[0]) if fingerprint else 0
        self.spark.sparkContext.setJobGroup("", "")

    def end_pass(self, wall: float) -> None:
        self.walls.append(wall)

    def span_counts(self) -> dict[str, int]:
        """Calls per traced function, as ``layer.function``."""
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[f"{s.layer}.{s.name}"] += 1
        return dict(sorted(out.items()))

    # -- report -------------------------------------------------------------
    def _innermost(self, t: float, spans) -> _Span | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.depth > best.depth):
                best = s
        return best

    def report(self, eventlog_dir: str, session: dict, untraced_s: float,
               cores: int) -> dict:
        log = read_event_log(eventlog_dir)
        n = max(1, len(self.walls))
        m: dict[str, float] = defaultdict(float)
        spans = [s for s in self.spans if s.end is not None]

        for s in spans:
            dur = s.end - s.start
            m[f"{s.layer}.calls"] += 1
            if s.name == "_read_parquet":
                m["io.load_calls"] += 1
            m[f"{s.layer}.self_s"] += dur - s.child
            if s.layer == "queries" and s.depth == 0:
                m["queries.build_s"] += dur
            if s.layer == "action" and s.name == "digest":
                m["queries.action_s"] += dur
            if s.layer == "index":
                for move, pat in INDEX_MOVES:
                    if pat.search(s.name):
                        m[f"index.{move}_s"] += dur
                        break

        ops = [o for o in self.ops if "end" in o]
        groups = {o["name"] for o in ops}

        def op_of(job):
            t = job["submit"]
            for o in ops:
                if o["start"] <= t <= o["end"] and (
                    job["group"] == o["name"] or job["group"] not in groups
                ):
                    return o
            return None

        pipe_ops = {o["name"] for o in ops for s in spans
                    if s.layer == "pipe" and o["start"] <= s.start <= o["end"]}
        for job in log["jobs"]:
            op = op_of(job)
            if op is None:
                continue
            m["spark.jobs"] += 1
            for k, v in job["metrics"].items():
                m[f"spark.{k}"] += v
            inner = self._innermost(job["submit"], spans)
            if inner is not None and inner.layer in COUNTED + ("index",):
                m[f"{inner.layer}.jobs"] += 1
            if any(
                s.registry and s.start <= job["submit"] <= s.end for s in spans
            ):
                m["queries.build_jobs"] += 1
            py = job["python"]
            m["stream.py_start_s"] += py.get("start_ms", 0) / 1e3
            m["stream.py_init_s"] += py.get("init_ms", 0) / 1e3
            m["stream.py_run_s"] += py.get("run_ms", 0) / 1e3
            m["stream.arrow_bytes_sent"] += py.get("sent", 0)
            m["stream.arrow_bytes_returned"] += py.get("returned", 0)
            if op["name"] in pipe_ops:
                m["pipe.rows"] += py.get("rows", 0)
        compact_written = 0.0
        for ex in log["sql"]:
            open_index = [s for s in spans if s.layer == "index"
                          and s.start <= ex["start"] <= s.end]
            m["index.files_written"] += ex["files_written"] if open_index else 0
            if any(s.name.endswith("_compact") for s in open_index):
                compact_written += ex["rows_written"]

        removed = sum(o["removed"] for o in ops)
        cands = sum(c for t, c in self._cands.records)
        verified = sum(
            o["rows_out"] for o in ops
            if any(o["start"] <= t <= o["end"] for t, _ in self._cands.records)
        )
        batches = [b for b in log["batches"]
                   if any(o["start"] <= b[0] <= o["end"] for o in ops)]
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(b[1] for b in batches)

        per_pass = {k: v / n for k, v in m.items()}
        traced_s = statistics.median(self.walls) if self.walls else 0.0
        per_pass["spark.idle_core_s"] = (
            traced_s * cores - per_pass.get("spark.executor_run_s", 0.0)
        )
        per_pass["session.start_s"] = session["start_s"]
        per_pass["session.warm_s"] = session["warm_s"]
        per_pass["scratch.peak_bytes"] = self._scratch["peak"]
        per_pass["scratch.pinned_peak_bytes"] = self._scratch["pinned"]
        per_pass["dedup.verify_yield"] = verified / cands if cands else 0.0
        per_pass["index.compact_yield"] = (
            removed / (removed + compact_written)
            if removed + compact_written else 0.0
        )
        per_pass["trace.overhead_s"] = traced_s - untraced_s
        return {name: {"value": per_pass.get(name, 0.0), "unit": unit}
                for name, unit in PER_LAYER}


PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("io.load_calls", "count"), ("io.self_s", "s"),
    ("queries.build_s", "s"), ("queries.action_s", "s"),
    ("queries.build_jobs", "count"),
    ("stream.calls", "count"), ("stream.self_s", "s"),
    ("stream.py_start_s", "s"), ("stream.py_init_s", "s"),
    ("stream.py_run_s", "s"), ("stream.arrow_bytes_sent", "bytes"),
    ("stream.arrow_bytes_returned", "bytes"),
    ("pipe.calls", "count"), ("pipe.self_s", "s"), ("pipe.rows", "count"),
    *[(f"{m}.{k}", u) for m in COUNTED
      for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))],
    ("dedup.verify_yield", "ratio"),
    ("overlap.self_s", "s"), ("asof.self_s", "s"),
    ("scratch.calls", "count"), ("scratch.self_s", "s"),
    ("scratch.peak_bytes", "bytes"), ("scratch.pinned_peak_bytes", "bytes"),
    ("index.append_s", "s"), ("index.tombstone_s", "s"),
    ("index.compact_s", "s"), ("index.read_s", "s"), ("index.jobs", "count"),
    ("index.files_written", "count"), ("index.compact_yield", "ratio"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_retries", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.idle_core_s", "s"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"), ("spark.spill_bytes", "bytes"),
    ("spark.result_bytes", "bytes"),
    ("trace.overhead_s", "s"),
]


# -- event log ---------------------------------------------------------------
def _log_files(eventlog_dir: str) -> list[str]:
    """Spark 4.1 rolls the log into ``eventlog_v2_<app>/events_<n>_<app>``;
    a non-rolling log is one file per application."""
    rolled = glob.glob(os.path.join(eventlog_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        def key(p):
            return (os.path.dirname(p), int(os.path.basename(p).split("_")[1]))
        return sorted(rolled, key=key)
    return sorted(
        p for p in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(p)
    )


def _plan_metrics(info: dict, out: dict, py: set) -> None:
    is_py = bool(PY_NODE.search(info.get("nodeName", "")))
    for mt in info.get("metrics", []):
        out[mt["accumulatorId"]] = mt["name"]
        if is_py:
            py.add(mt["accumulatorId"])
    for child in info.get("children", []):
        _plan_metrics(child, out, py)


def read_event_log(eventlog_dir: str) -> dict:
    """Jobs (submit time, group, task metrics, Python-node SQL metrics),
    SQL executions (start time, files and rows written) and streaming
    micro-batches (timestamp, seconds) from the event log."""
    names: dict[int, str] = {}
    py_ids: set[int] = set()
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    batches: list[tuple[float, float]] = []
    for path in _log_files(eventlog_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1e3,
                        "group": props.get("spark.jobGroup.id"),
                        "metrics": defaultdict(float),
                        "python_raw": defaultdict(float),
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageSubmitted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["metrics"]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        _task(ev, jobs[jid], py_ids)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev["sparkPlanInfo"], names, py_ids)
                    if "time" in ev:
                        sql[ev["executionId"]] = {
                            "start": ev["time"] / 1e3, "files_written": 0.0,
                            "rows_written": 0.0,
                        }
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = sql.get(ev["executionId"])
                    for aid, val in ev["accumUpdates"] if ex else ():
                        name = names.get(aid, "")
                        if name == "number of written files":
                            ex["files_written"] += val
                        elif name == "number of output rows":
                            ex["rows_written"] += val
                elif kind.endswith("QueryProgressEvent"):
                    p = ev["progress"]
                    ts = datetime.fromisoformat(
                        p["timestamp"].replace("Z", "+00:00")).timestamp()
                    dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
                    batches.append((ts + dur / 2, dur))
    # Python-node metrics were summed per accumulator; fold them by name
    for job in jobs.values():
        folded: dict[str, float] = defaultdict(float)
        for aid, v in job.pop("python_raw").items():
            key = PY_METRICS.get(names.get(aid, ""))
            if key:
                folded[key] += v
        job["python"] = folded
    return {"jobs": list(jobs.values()), "sql": list(sql.values()),
            "batches": batches}


def _task(ev: dict, job: dict, py_ids: set) -> None:
    m = job["metrics"]
    info = ev.get("Task Info", {})
    tm = ev.get("Task Metrics") or {}
    m["tasks"] += 1
    if info.get("Attempt", 0) > 0:
        m["task_retries"] += 1
    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["result_bytes"] += tm.get("Result Size", 0)
    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
        "Disk Bytes Spilled", 0)
    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0)
    m["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("ID") in py_ids:
            job["python_raw"][acc["ID"]] += float(acc.get("Update", 0))
