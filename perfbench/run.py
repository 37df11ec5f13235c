#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {olap,curate,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  Generates the workload's inputs from the
seed, runs the workload in a fresh worker process (``worker.py``) with a
fresh state directory and fresh Spark local dirs, samples the resident
memory of the worker's whole process tree (JVM and Python workers), and
prints as the last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (event log on, spans and Catalyst
tracker reads around every timed call).  Everything is written under
``.perfbench_work/`` in the repository root and removed at the end,
except a per-workload record of the last run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKER_BUDGET_S = 165.0
#: end-to-end metric -> unit, in report order
E2E_UNITS = {
    "setup_s": "s", "query_p50_s": "s", "query_p90_s": "s", "cold_total_s": "s",
    "docs_per_s": "docs/s", "freshness_p50_s": "s", "freshness_p90_s": "s",
    "peak_rss_mb": "MB",
}


def host() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1)}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs.  Steal is time the hypervisor
    gave this host's CPUs to someone else: a run with a high share of it
    was slowed by its neighbours, not by the code."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def source_id() -> dict:
    """Git SHA when the tree is a repository; always a hash of the
    package sources, which identifies a checkout without ``.git``."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "simple_rust_query_engine_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(pkg)):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = {"source_sha1": h.hexdigest()}
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return out
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            out["git_sha"] = sha.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return out


# --------------------------------------------------------- process tree
def _pss(pid: str) -> int:
    """Proportional set size in bytes: shared pages (the forked Python
    workers share their daemon's) are split among their sharers rather
    than counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


#: ``/proc/<pid>/stat`` flag of a process that forked and has not exec'd
PF_FORKNOEXEC = 0x40


def _jvm_spawn_child(pid: str, flags: int) -> bool:
    """A JVM child between fork and exec.  The JVM starts processes with
    posix_spawn, whose child shares the JVM's address space until it
    execs, so its PSS is the JVM's own and must not be counted twice
    (it was, in about one run in ten, before this check)."""
    if not flags & PF_FORKNOEXEC:
        return False
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def _session_procs(sid: int, mem: bool = False) -> dict[int, tuple[str, int, str]]:
    """pid -> (state, PSS bytes if ``mem``, command name) of every
    process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        rest = rest.split()
        if int(rest[3]) != sid:
            continue
        counted = mem and rest[0] != "Z" and not _jvm_spawn_child(name, int(rest[6]))
        out[int(name)] = (rest[0], _pss(name) if counted else 0, comm)
    return out


class RssSampler(threading.Thread):
    """Peak summed resident memory (PSS) of a process session, sampled
    every 0.2 s, leaving out the session leader: the worker's own Python
    process, which also holds the benchmark's DuckDB oracles, so what is
    summed is the JVM and the Python workers it starts."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid, self.peak = sid, 0
        #: command name -> [processes, MB] at the peak
        self.at_peak: dict[str, list] = {}
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.2):
            procs = [v for p, v in _session_procs(self.sid, mem=True).items() if p != self.sid]
            total = sum(r for _, r, _ in procs)
            if total > self.peak:
                self.peak, self.at_peak = total, {}
                for _, r, comm in procs:
                    n, mb = self.at_peak.get(comm, (0, 0.0))
                    self.at_peak[comm] = [n + 1, round(mb + r / 1e6, 1)]


def _reap(sid: int) -> None:
    """Stop whatever is left of the worker's session and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        live = [p for p, (s, _, _) in _session_procs(sid).items() if s != "Z"]
        if not live:
            return
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.time() + wait_s
        while time.time() < end:
            if not any(s != "Z" for s, _, _ in _session_procs(sid).values()):
                return
            time.sleep(0.1)


# ----------------------------------------------------------------- run
def generate(workload: str, seed: int, seconds: float, inputs: str) -> None:
    sys.path.insert(0, HERE)
    import gen
    import workloads

    if workload == "olap":
        rows = gen.tables(inputs, seed)
        with open(os.path.join(inputs, "rows.json"), "w") as f:
            json.dump(rows, f)
    elif workload == "curate":
        gen.shard(os.path.join(inputs, "warm"), seed * 1000 + 999,
                  workloads.SHARD_DOCS, workloads.SHARD_EMB)
    else:
        p = workloads.INGEST
        gen.ingest_files(
            os.path.join(inputs, "landing"), os.path.join(inputs, "staged"), seed,
            p["base_docs"], workloads.ingest_files(seconds), p["docs_per_file"],
        )


def run_worker(a, trace: int, deadline: float) -> dict:
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    generate(a.workload, a.seed, a.seconds, inputs)
    tmp = os.path.join(run_dir, "tmp")
    eventlog = os.path.join(run_dir, "eventlog")
    for d in (tmp, eventlog, os.path.join(run_dir, "local"), os.path.join(run_dir, "state")):
        os.makedirs(d, exist_ok=True)
    h = host()
    mem_gb = 1
    # a fixed heap (-Xms = -Xmx) keeps the JVM's resident size from
    # depending on when the collector chose to grow the heap
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem_gb}g'",
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{eventlog}",
                   "--conf spark.eventLog.compress=false"]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(h["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_GRAFT_STATE_DIR=os.path.join(run_dir, "state"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        TMPDIR=tmp,
        # the launcher JVM and the driver JVM: keep HotSpot's perf-data
        # file out of /tmp (the run reads and writes only its checkout)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(trace),
           "--inputs", inputs, "--work", run_dir, "--eventlog", eventlog, "--out", out]
    steal0, total0 = cpu_ticks()
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd + ["--spawned", repr(spawned)], cwd=run_dir, env=env,
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        rss = RssSampler(proc.pid)
        rss.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            rss.done.set()
            rss.join()
            _reap(proc.pid)
            proc.wait()
    steal1, total1 = cpu_ticks()
    res = {"code": code, "run_dir": run_dir, "peak_rss_mb": rss.peak / 1e6,
           "peak_procs": rss.at_peak,
           "worker_wall_s": time.time() - spawned,
           "steal_frac": (steal1 - steal0) / max(1, total1 - total0)}
    if code == 0 and os.path.exists(out):
        with open(out) as f:
            res.update(json.load(f))
    return res


def keep_record(workload: str, trace: int, res: dict, prov: dict) -> None:
    """Keep the result, provenance, worker log tail and spans of the
    last run per workload; drop its inputs and state."""
    last = os.path.join(WORK, f"last-{workload}-trace{trace}")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for name in ("spans.json", "worker.log"):
        src = os.path.join(res["run_dir"], name)
        if os.path.exists(src):
            shutil.copy(src, last)
    with open(os.path.join(last, "record.json"), "w") as f:
        json.dump({"provenance": prov, **{k: v for k, v in res.items() if k != "run_dir"}}, f, indent=1)
    shutil.rmtree(res["run_dir"], ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap", "curate", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
            os.path.join(ROOT, "simple_rust_query_engine_spark")):
        print(f"perfbench: no package to benchmark under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    prov = {**source_id(), **host(), "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace}
    print("# perfbench " + json.dumps(prov), flush=True)

    res = run_worker(a, a.trace, start + WORKER_BUDGET_S)
    keep_record(a.workload, a.trace, res, prov)
    print(f"# steal_frac {res['steal_frac']:.4f}", file=sys.stderr)
    if res["code"] != 0 or "e2e" not in res:
        print(f"perfbench: worker failed (exit {res['code']}); see "
              f".perfbench_work/last-{a.workload}-trace{a.trace}/worker.log", file=sys.stderr)
        return 1
    for p in res["problems"]:
        print(f"# problem: {p}", file=sys.stderr)
    if a.trace:
        from worker import layer_units

        units = layer_units(a.workload)
        metrics = res["layers"]
    else:
        units = E2E_UNITS
        metrics = dict(res["e2e"], peak_rss_mb=res["peak_rss_mb"])
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
