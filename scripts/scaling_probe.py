#!/usr/bin/env python
"""Core-count scaling probe (r14, VERDICT r13 item 1).

The driver's 8-vs-32-core sweep over the sub-second sf0.1 headline
set reads ≈1 for every row (per-task overhead dominates), which made
the scaling contract unfalsifiable.  This probe runs the
COMPUTE-BOUND rows — the ones whose kernels actually scale with
cores — at each core count in a FRESH process (core count is a
session-level property), bench methodology (cold + min-of-2 steady,
release_barriers between passes), and emits one JSON line per
(cpus, sf) for docs/SCALING_R14.json.  Timed passes materialize the
full result with ``collect()``: under ``count()`` Catalyst prunes
operators whose output no column needs (kmeans_train's
ArrowEvalPython), so the probe would time less work than the row
does.

Usage: SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SF_DIR=... python scripts/scaling_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import __spark_entry__ as entry_mod  # noqa: E402
from simple_rust_query_engine_spark.session import (  # noqa: E402
    get_spark,
    release_barriers,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the scaling-sensitive set: broadcast-kernel exact k-NN, the IVF
#: cell join, its recall row, Lloyd's iterations, the Arrow signature
#: kernel, and the label spread composed on the k-NN kernel
QUERIES = [
    "knn_join",
    "ann_ivf_knn_join",
    "knn_recall_ivf",
    "kmeans_train",
    "knn_label_spread",
    "dedup_minhash",
]


def main() -> None:
    spark = get_spark("srqe-scaling-probe")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    qs = entry_mod.queries()
    for warm in ("distinct", "simhash"):
        qs[warm](spark, SF_DIR).count()
    par = max(1, spark.sparkContext.defaultParallelism)

    def _prefork(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for b in batches:
            yield b

    spark.range(0, par, 1, par).mapInPandas(_prefork, "id long").count()

    out: dict = {"cpus": cpus, "sf_dir": SF_DIR, "cold": {}, "steady": {}}
    for name in QUERIES:
        release_barriers(spark)
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).collect()
        out["cold"][name] = round(time.perf_counter() - t0, 3)
        warm_times = []
        for _ in range(2):
            release_barriers(spark)
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).collect()
            warm_times.append(time.perf_counter() - t0)
        out["steady"][name] = round(min(warm_times), 3)
        print(
            f"# {name}: cold {out['cold'][name]} steady {out['steady'][name]}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
