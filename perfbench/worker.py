"""One workload in a fresh process: set-up, the timed loop, checks, and
(with ``--trace 1``) the layer numbers.  Started by ``run.py``, which
passes the time it spawned this process so set-up counts from process
start; writes one JSON result to ``--out``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pct(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples (inclusive
    method, so it never lies beyond the largest); the median for q=50."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    if q == 50:
        return float(median(values))
    return float(quantiles(values, n=100, method="inclusive")[q - 1])


def prefork(spark) -> None:
    """Start every Python worker the session can run (numpy and pandas
    imported), so no timed stage pays worker start-up."""

    def touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    par = max(1, spark.sparkContext.defaultParallelism)
    spark.range(0, par, 1, par).mapInPandas(touch, "id long").collect()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sys.path.insert(0, ROOT)

    from tracing import (EventLog, Tracer, eventlog_cpu_s, layer_metrics, read_event_log,
                         self_time_by_layer)
    import workloads as W

    tracer = Tracer(bool(a.trace))
    session_m: dict[str, float] = {}
    with tracer.span("setup", "session"):
        t = time.perf_counter()
        import __spark_entry__ as entry
        from simple_rust_query_engine_spark import testing  # noqa: I001
        from simple_rust_query_engine_spark.session import get_spark, load_tables

        session_m["import_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = get_spark(f"perfbench-{a.workload}")
        session_m["session.start_s"] = time.perf_counter() - t
        qs, oracles = entry.queries(), entry.oracle_sql()
        ctx = W.Ctx(spark, qs, oracles, tracer, testing.compare, testing.duckdb_conn,
                    a.work, a.seed, a.seconds)
        ingest = None
        t = time.perf_counter()
        with tracer.span("register", "session"):
            if a.workload == "olap":
                load_tables(spark, a.inputs)
            elif a.workload == "curate":
                load_tables(spark, os.path.join(a.inputs, "warm"))
            else:
                ingest = W.Ingest(ctx, a.inputs)
                if a.trace:
                    trace_writes(tracer)
        session_m["session.register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("warmup", "session"):
            if a.workload == "olap":
                # an untimed shape pays the engine's one-time start-up
                # (first job, code paths), which would otherwise land in
                # whichever timed shape the seeded order puts first;
                # olap runs no Python UDF, so no prefork
                qs["agg_grouped"](spark, a.inputs).collect()
            else:
                prefork(spark)
            if ingest is not None:
                # the base corpus: the first execution of the ingest shape
                ingest.drain("ingest_base")
        session_m["session.warmup_s"] = time.perf_counter() - t
    setup_s = time.time() - a.spawned
    if a.trace:
        own0, evlog0 = tracer.own_s, eventlog_cpu_s(spark)

    if a.workload == "olap":
        with open(os.path.join(a.inputs, "rows.json")) as f:
            W.olap(ctx, a.inputs, json.load(f))
    elif a.workload == "curate":
        W.curate(ctx, os.path.join(a.work, "shards"))
    else:
        ingest.run(sorted(glob.glob(os.path.join(a.inputs, "staged", "*.parquet"))))
        ingest.check_labels(testing.compare)

    e2e, ops = summarize(a.workload, ctx, ingest, setup_s)
    out = {
        "attempted": ctx.attempted, "failed": ctx.failed,
        "problems": ctx.checker.problems[:20], "e2e": e2e,
        "n_ops": len(ops),
        "ops": [[o["shape"], round(o["latency"], 4), o.get("docs", 0)] for o in ctx.ops if "latency" in o],
        "freshness": [round(f, 4) for o in ops for f in o.get("freshness", [])],
        "setup_parts": session_m,
        "check_s": ctx.checker.seconds,
        "loop_end_s": time.time() - a.spawned,
    }
    if a.trace:
        # tracing's own cost over the timed loop: span bookkeeping,
        # probes (tracker and RDD reads) and the event-log writer's CPU
        out["trace_parts_s"] = {"spans": tracer.own_s - own0, "probes": ctx.probe_s,
                                "eventlog_cpu": eventlog_cpu_s(spark) - evlog0}
        trace_s = sum(out["trace_parts_s"].values())
        cores = spark.sparkContext.defaultParallelism
        state = ingest.state_size() if ingest else (0.0, 0)
        spark.stop()
        ev = EventLog(read_event_log(a.eventlog))
        timed = [o for o in ctx.ops if "action" in o and o["shape"] != "ingest_base"]
        layers = dict.fromkeys(layer_units(a.workload), 0.0)
        layers.update({k: v for k, v in session_m.items() if k.startswith("session.")})
        layers.update({k: v for k, v in layer_metrics(timed, ev, cores).items() if k in layers})
        if a.workload == "curate":
            for stage in W.CURATE_CHAIN:
                lat = [o["latency"] for o in ops if o["shape"] == stage]
                layers[f"curate.{stage}_s"] = pct(lat, 50)
        if ingest is not None:
            layers.update(ingest_layers(ingest, ctx, tracer, ev, state, timed))
        layers["harness.failed_frac"] = ctx.failed / max(1, ctx.attempted)
        out["layers"] = layers
        tracer.dump(os.path.join(a.work, "spans.json"))
        out["self_s"] = self_time_by_layer(tracer.spans)
        timed_s = sum(o["latency"] for o in timed)
        layers["trace.overhead_frac"] = trace_s / max(1e-9, timed_s)
    with open(a.out, "w") as f:
        json.dump(out, f)


def trace_writes(tracer) -> None:
    """Spans around the write-path calls the ingest stream makes."""
    from simple_rust_query_engine_spark.pipeline import dedup, dedup_ingest
    from simple_rust_query_engine_spark.sources import write

    tracer.wrap(write, "write_bucketed", "write")
    tracer.wrap(dedup, "probe_band_index", "write")
    tracer.wrap(dedup, "fold_edges_into_labels", "write")
    tracer.wrap(dedup_ingest, "commit_label_state", "write")


def summarize(workload: str, ctx, ingest, setup_s: float) -> tuple[dict, list]:
    """End-to-end metrics (everything but peak RSS, which run.py samples
    from outside) and the steady operations they were taken from."""
    ops = [o for o in ctx.ops if "latency" in o and o["shape"] not in ("pass", "ingest_base")]
    steady = [o for o in ops if not o.get("cold") and not o.get("warm")]
    cold = [o for o in ops if o.get("cold")]
    lat = [o["latency"] for o in steady]
    e2e = {"setup_s": setup_s, "query_p50_s": pct(lat, 50), "query_p90_s": pct(lat, 90)}
    if workload == "olap":
        e2e["cold_total_s"] = sum(o["latency"] for o in cold)
        e2e["docs_per_s"] = sum(o["docs"] for o in steady) / max(1e-9, sum(lat))
        fresh = lat
    elif workload == "curate":
        passes = [o for o in ctx.ops if o["shape"] == "pass"]
        e2e["cold_total_s"] = sum(o["latency"] for o in cold)
        e2e["docs_per_s"] = pct([o["docs"] / o["latency"] for o in passes if not o["cold"]], 50)
        fresh = [o["latency"] for o in passes if not o["cold"]]
    else:
        base = [o for o in ctx.ops if o["shape"] == "ingest_base"]
        e2e["cold_total_s"] = sum(o["latency"] for o in base)
        e2e["docs_per_s"] = sum(o["docs"] for o in steady) / max(1e-9, sum(lat))
        fresh = [f for o in steady for f in o.get("freshness", [])]
    e2e["freshness_p50_s"] = pct(fresh, 50)
    e2e["freshness_p90_s"] = pct(fresh, 90)
    return e2e, steady


def layer_units(workload: str) -> dict[str, str]:
    """Per-layer metric -> unit, in report order.  The optional curate
    workload adds one latency per chain stage."""
    import workloads as W

    if workload != "curate":
        return LAYER_UNITS
    return {**LAYER_UNITS, **{f"curate.{s}_s": "s" for s in W.CURATE_CHAIN}}


#: per-layer metrics of the workloads in BENCHMARK.json
LAYER_UNITS = {
    "session.start_s": "s",
    "session.register_s": "s",
    "session.warmup_s": "s",
    "build.self_s": "s",
    "build.jobs": "count",
    "build.barriers": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "plan.python_evals": "count",
    "plan.codegen_stages": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.sched_delay_s": "s",
    "exec.failed_tasks": "count",
    "exec.core_util": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB",
    "scan.input_mb": "MB",
    "scan.rows_per_result": "ratio",
    "python.rows_sent": "count",
    "python.mb_sent": "MB",
    "python.mb_received": "MB",
    "python.self_s": "s",
    "stream.start_s": "s",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.commit_s": "s",
    "stream.files_per_batch": "count",
    "stream.jobs_per_batch": "count",
    "write.bucketed_s": "s",
    "write.probe_s": "s",
    "write.labels_fold_s": "s",
    "write.label_commit_s": "s",
    "write.mb_per_batch": "MB",
    "write.amp": "ratio",
    "write.state_mb": "MB",
    "write.state_files": "count",
    "gen.late_p90_s": "s",
    "harness.failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def ingest_layers(ingest, ctx, tracer, ev, state, timed) -> dict[str, float]:
    """Streaming and write numbers per drain call (medians)."""
    calls = [o for o in timed if o["shape"] == "ingest"]
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def call_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == "ingest":
                return s
        return None

    per_call: dict[int, dict[str, float]] = {}
    for s in spans:
        if s["layer"] != "write" or s["end"] is None:
            continue
        c = call_of(s)
        if c is None:
            continue
        parent = by_id[s["parent"]]
        key = {"write_bucketed": "write.bucketed_s", "probe_band_index": "write.probe_s",
               "fold_edges_into_labels": "write.labels_fold_s",
               "commit_label_state": "write.label_commit_s"}[s["name"]]
        if s["name"] == "write_bucketed" and parent["name"] == "commit_label_state":
            continue  # the commit's own write counts under label_commit_s
        d = per_call.setdefault(c["id"], {})
        d[key] = d.get(key, 0.0) + s["end"] - s["start"]

    def med(values):
        return pct(list(values), 50)

    def dur(o, k):
        return sum(p.get(k, 0) for p in o["progress"]) / 1000.0

    out = {
        "stream.start_s": med(o["start_s"] for o in calls),
        "stream.trigger_s": med(dur(o, "triggerExecution") for o in calls),
        "stream.add_batch_s": med(dur(o, "addBatch") for o in calls),
        "stream.planning_s": med(dur(o, "queryPlanning") for o in calls),
        "stream.commit_s": med(dur(o, "walCommit") + dur(o, "commitOffsets") for o in calls),
        "stream.files_per_batch": med(len(o["files"]) / max(1, o["batches"]) for o in calls),
        "stream.jobs_per_batch": med(ev.window(*o["action"])["jobs"] / max(1, o["batches"]) for o in calls),
        "write.mb_per_batch": med(ev.window(*o["action"])["output_mb"] / max(1, o["batches"]) for o in calls),
        "write.amp": med(ev.window(*o["action"])["output_mb"] * 1e6 / max(1, o["ingested_bytes"]) for o in calls),
        "write.state_mb": state[0],
        "write.state_files": float(state[1]),
        "gen.late_p90_s": pct(ingest.lateness, 90),
    }
    for key in ("write.bucketed_s", "write.probe_s", "write.labels_fold_s", "write.label_commit_s"):
        out[key] = med(d.get(key, 0.0) for d in per_call.values())
    return out


if __name__ == "__main__":
    main()
