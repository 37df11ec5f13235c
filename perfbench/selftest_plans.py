#!/usr/bin/env python3
"""Plan-preservation self-test for the benchmark's timed action.

    python3 perfbench/selftest_plans.py

For every timed query of ``olap`` and ``curate``, plus the cases where a
``count()`` is known to prune work (join_asof, simhash, kmeans_train,
events_sessionize), the test builds the query once and runs three
actions on the same DataFrame:

1. ``collect()`` -- the reference, which returns every row;
2. ``workloads.materialise`` -- the action the benchmark times;
3. ``count()`` -- the negative control.

The physical plan of each action is read from Spark's own SQL execution
store.  The test fails if the timed action's plan lacks any operator of
the ``collect()`` plan.  For the known cases it also prints what
``count()`` loses, which shows the check can see a pruned plan.  Build-
time jobs (materialize barriers) run before the actions and are not
compared.  Exit code 0 means every timed query keeps its plan.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KNOWN_PRUNED = ("join_asof", "simhash", "kmeans_train", "events_sessionize")

_TREE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?")


def plan_ops(text: str) -> Counter:
    """Operator names of a physical-plan description: the tree at its
    top, not the per-node detail section after the first blank line."""
    ops: Counter = Counter()
    for line in text.split("\n"):
        if line.startswith("=="):
            continue
        if not line.strip():
            if ops:
                break
            continue
        body = _TREE.sub("", line)
        m = re.match(r"[A-Za-z][A-Za-z0-9]*", body)
        if m and m.group(0) not in ("AdaptiveSparkPlan", "Subquery", "SubqueryBroadcast"):
            ops[m.group(0)] += 1
    return ops


def executions(spark) -> dict[int, str]:
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    out = {}
    for i in range(seq.size()):
        e = seq.apply(i)
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def action_ops(spark, run) -> Counter:
    """Operators of every SQL execution ``run`` starts."""
    before = max(executions(spark), default=-1)
    run()
    ops: Counter = Counter()
    for eid, text in executions(spark).items():
        if eid > before:
            ops += plan_ops(text)
    return ops


def main() -> int:
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    import gen
    import workloads as W

    tables, shard = os.path.join(work, "tables"), os.path.join(work, "shard")
    gen.tables(tables, 7)
    gen.shard(shard, 7, W.SHARD_DOCS, W.SHARD_EMB)
    for d in ("local", "state", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_STATE_DIR=os.path.join(work, "state"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    import __spark_entry__ as entry
    from simple_rust_query_engine_spark.session import (
        SessionContext, get_spark, load_tables, unwrap_df,
    )

    spark = get_spark("perfbench-selftest")
    qs = entry.queries()
    sc = SessionContext(spark)
    cases = [(n, tables) for n in W.OLAP_SHAPES] + [(n, shard) for n in W.CURATE_CHAIN]
    cases += [(n, tables) for n in KNOWN_PRUNED if n not in W.OLAP_SHAPES + W.CURATE_CHAIN]
    bad = 0
    try:
        for name, data in cases:
            if name == "flagship_sql":
                load_tables(spark, data)  # the views the SQL names
                df = unwrap_df(sc.sql(W.FLAGSHIP_SQL))
            else:
                df = qs[name](spark, data)
            ref = action_ops(spark, df.collect)
            got = action_ops(spark, lambda: W.materialise(df))
            missing = ref - got
            line = f"{name:24} ops={sum(ref.values()):3d} timed-action-missing={dict(missing) or '-'}"
            if name in KNOWN_PRUNED:
                lost = ref - action_ops(spark, df.count)
                line += f" count()-loses={dict(lost) or '-'}"
            print(line, flush=True)
            bad += bool(missing)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("plan preservation:", "FAIL" if bad else "ok", f"({len(cases) - bad}/{len(cases)})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
