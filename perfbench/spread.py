#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload olap --seeds 1-10 --seconds 8

Runs ``run.py`` once per seed, one run at a time, and prints for each
end-to-end metric its median and its quartile spread,
``(Q3 - Q1) / median`` with ``statistics.quantiles(values, n=4)``, next
to the metric's bound from ``BENCHMARK.json``.  Raw results are kept
in ``.perfbench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or str(bench["run_seconds"])
    log = os.path.join(ROOT, ".perfbench_work", f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    runs = []
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench_work", f"last-{a.workload}-trace0", "record.json")) as f:
            rec = json.load(f)
        for k in ("steal_frac", "peak_procs", "ops", "freshness"):
            res[k] = rec.get(k)
        res["seed"] = seed
        runs.append(res)
        with open(log, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: correct={res['correct']} steal={res['steal_frac']:.3f} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"{'metric':18} {'median':>10} {'spread':>7} {'bound':>6}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        print(f"{m['name']:18} {med:10.4g} {(q[2] - q[0]) / med:7.3f} {m['bound']:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
