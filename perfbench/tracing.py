"""Traced-run tooling: spans around public calls, Spark event-log and
Catalyst-tracker reading, self time, and per-operation layer numbers.

Spans are kept in memory and written out once at the end of a run.  The
event log is read after the session stops, so nothing is parsed while
operations are timed.  Jobs are attributed to an operation by their
submission time falling inside the operation's build or action window:
operations run one at a time, so the windows never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from statistics import median


class Tracer:
    """Span recorder.  ``enabled=False`` makes ``span`` a no-op, so the
    same workload code runs traced and untraced."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        #: parent for spans opened on threads with no open span (the
        #: streaming engine calls back on its own threads)
        self.root: int | None = None
        #: seconds spent recording spans, part of the tracing overhead
        self.own_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, layer: str, **attrs):
        return _Span(self, name, layer, attrs)

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a function recording a span around
        each call (the package is untouched on disk)."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(attr, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_time_by_layer(self.spans)}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict):
        self.t, self.name, self.layer, self.attrs = tracer, name, layer, attrs

    def __enter__(self):
        if not self.t.enabled:
            return self
        t0 = time.perf_counter()
        stack = self.t._stack()
        parent = stack[-1] if stack else self.t.root
        self.rec = {
            "id": len(self.t.spans), "name": self.name, "layer": self.layer,
            "parent": parent, "start": time.time(), "end": None, **self.attrs,
        }
        self.t.spans.append(self.rec)
        stack.append(self.rec["id"])
        self.t.own_s += time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            t0 = time.perf_counter()
            self.rec["end"] = time.time()
            self.t._stack().pop()
            self.t.own_s += time.perf_counter() - t0
        return False


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer not covered by that span's children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur = 0.0, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"])
            if cur is None or lo > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur:
            covered += max(0.0, cur[1] - cur[0])
        s["self_s"] = max(0.0, s["end"] - s["start"] - covered)
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["self_s"]
    return out


# ---------------------------------------------------------------- catalyst
def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of the action ``df`` ran, from
    ``queryExecution().tracker()``."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


#: the listener-bus thread that writes the Spark event log
EVENTLOG_THREAD = "spark-listener-group-eventLog"


def eventlog_cpu_s(spark) -> float:
    """CPU seconds the JVM's event-log writer thread has used so far
    (0 when the event log is off)."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    ns = 0
    for t in jvm.java.lang.Thread.getAllStackTraces().keySet():
        if t.getName() == EVENTLOG_THREAD:
            ns += max(0, mx.getThreadCpuTime(t.getId()))
    return ns / 1e9


# --------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order
    (Spark 4 rolls the log into ``eventlog_v2_*/events_<n>_*`` files)."""
    events = []
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    rolled.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in rolled + glob.glob(os.path.join(log_dir, "local-*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


_PY_NODE = ("Python", "InPandas", "InArrow")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application."""

    def __init__(self, events: list[dict]):
        self.jobs: list[dict] = []          # {id, t (s), stages}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.sql: dict[int, dict] = {}      # execution id -> {t, plan}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs.append({
                    "id": e["Job ID"], "t": e["Submission Time"] / 1000.0,
                    "stages": e["Stage IDs"],
                })
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(e["Stage ID"], []).append(e)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql[e["executionId"]] = {"t": e["time"] / 1000.0, "plan": e["sparkPlanInfo"]}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in self.sql:
                    self.sql[e["executionId"]]["plan"] = e["sparkPlanInfo"]

    def window(self, t0: float, t1: float) -> dict:
        """Counters of every job submitted and SQL execution started in
        ``[t0, t1)`` (epoch seconds)."""
        jobs = [j for j in self.jobs if t0 <= j["t"] < t1]
        c = dict.fromkeys((
            "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "sched_delay_s", "failed_tasks", "shuffle_write_mb", "shuffle_read_mb",
            "fetch_wait_s", "spill_disk_mb", "input_mb", "input_rows", "output_mb",
            "py_rows", "py_mb_sent", "py_mb_recv", "py_stage_run_s",
            "exchanges", "broadcasts", "python_evals", "codegen_stages",
        ), 0.0)
        c["jobs"] = len(jobs)
        py_row_ids: set[int] = set()
        for ex in self.sql.values():
            if not t0 <= ex["t"] < t1:
                continue
            for node in _plan_nodes(ex["plan"]):
                name = node.get("nodeName", "")
                if name == "Exchange":
                    c["exchanges"] += 1
                elif name == "BroadcastExchange":
                    c["broadcasts"] += 1
                elif name.startswith("WholeStageCodegen"):
                    c["codegen_stages"] += 1
                elif any(k in name for k in _PY_NODE):
                    c["python_evals"] += 1
                    py_row_ids.update(
                        m["accumulatorId"] for m in node.get("metrics", [])
                        if m.get("name") == "number of output rows"
                    )
        for j in jobs:
            for sid in j["stages"]:
                tasks = self.stage_tasks.get(sid)
                if not tasks:
                    continue  # skipped stage (shuffle output reused)
                c["stages"] += 1
                stage_run, has_py = 0.0, False
                for t in tasks:
                    c["tasks"] += 1
                    info, m = t["Task Info"], t.get("Task Metrics") or {}
                    if info.get("Failed") or info.get("Killed"):
                        c["failed_tasks"] += 1
                    run = m.get("Executor Run Time", 0) / 1000.0
                    stage_run += run
                    c["task_run_s"] += run
                    c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    total = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    c["sched_delay_s"] += max(0.0, total - run - (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)) / 1000.0)
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    c["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) / 1e6
                    c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                    c["spill_disk_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    c["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                    c["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    c["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
                    for a in info.get("Accumulables", []):
                        upd = a.get("Update")
                        if not isinstance(upd, (int, float, str)):
                            continue
                        name = a.get("Name")
                        if name == _PY_SENT:
                            has_py = True
                            c["py_mb_sent"] += float(upd) / 1e6
                        elif name == _PY_RECV:
                            c["py_mb_recv"] += float(upd) / 1e6
                        elif a.get("ID") in py_row_ids:
                            c["py_rows"] += float(upd)
                if has_py:
                    c["py_stage_run_s"] += stage_run
        return c


def layer_metrics(ops: list[dict], ev: EventLog, cores: int) -> dict[str, float]:
    """Per-operation medians of the event-log and tracker numbers.

    Each op carries epoch windows ``build`` and ``action`` and may carry
    ``catalyst`` (ms per phase), ``barriers`` and ``rows``."""
    per_op = []
    for op in ops:
        b0, b1 = op["build"]
        a0, a1 = op["action"]
        build, action = ev.window(b0, b1), ev.window(a0, a1)
        tot = {k: build[k] + action[k] for k in build}
        wall = max(1e-9, a1 - b0)
        per_op.append({
            "build.self_s": b1 - b0,
            "build.jobs": build["jobs"],
            "build.barriers": op.get("barriers", 0),
            "catalyst.analysis_ms": op.get("catalyst", {}).get("analysis", 0.0),
            "catalyst.optimization_ms": op.get("catalyst", {}).get("optimization", 0.0),
            "catalyst.planning_ms": op.get("catalyst", {}).get("planning", 0.0),
            "plan.exchanges": tot["exchanges"],
            "plan.broadcasts": tot["broadcasts"],
            "plan.python_evals": tot["python_evals"],
            "plan.codegen_stages": tot["codegen_stages"],
            "exec.jobs": tot["jobs"],
            "exec.stages": tot["stages"],
            "exec.tasks": tot["tasks"],
            "exec.task_run_s": tot["task_run_s"],
            "exec.task_cpu_s": tot["task_cpu_s"],
            "exec.gc_s": tot["gc_s"],
            "exec.sched_delay_s": tot["sched_delay_s"],
            "exec.failed_tasks": tot["failed_tasks"],
            "exec.core_util": tot["task_run_s"] / (wall * cores),
            "shuffle.write_mb": tot["shuffle_write_mb"],
            "shuffle.read_mb": tot["shuffle_read_mb"],
            "shuffle.fetch_wait_s": tot["fetch_wait_s"],
            "spill.disk_mb": tot["spill_disk_mb"],
            "scan.input_mb": tot["input_mb"],
            "scan.rows_per_result": tot["input_rows"] / max(1, op.get("rows", 0)),
            "python.rows_sent": tot["py_rows"],
            "python.mb_sent": tot["py_mb_sent"],
            "python.mb_received": tot["py_mb_recv"],
            "python.self_s": tot["py_stage_run_s"],
        })
    if not per_op:
        return {}
    return {k: float(median(o[k] for o in per_op)) for k in per_op[0]}
