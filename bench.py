#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "steady_total": ..., "steady_queries": {...},
"extra_total": ..., "extra_queries": {...}, "sf": ...}.

Metric semantics (STABLE across rounds — r3 briefly reported warm
times under ``value``, which conflated a metric redefinition with real
speedup; reverted):

* ``value`` / ``queries`` — COLD per-query runtime, the first
  execution of each query shape in the session: Catalyst planning +
  codegen JIT + full execution.  Same definition as BENCH_r01.
* ``steady_total`` / ``steady_queries`` — best of two further full
  re-executions with the compiled plan warm; the engine's throughput
  number once compile cost has amortized.  min() rejects the rare
  multi-second JVM stalls (cleaner/safepoint) a long-lived local JVM
  shows on otherwise-identical runs.

No DataFrame caching anywhere: every pass re-reads parquet and
re-runs every shuffle/UDF.  Between queries the harness releases
localCheckpoint barriers (``release_barriers``) — without that they
accumulate across the run and warm passes degrade (BENCH_r03 measured
ngram_jaccard 28% slower warm than cold for exactly this reason).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: the reference-parity core + each pipeline family
BENCH_QUERIES = [
    "flagship",
    "tpch_q1",
    "tpch_q3_like",
    "agg_grouped",
    "join_inner",
    "join_left",
    "window_topk_per_group",
    "join_asof",
    "range_join",
    "agg_rollup",
    "quantile",
    "distinct",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "simhash",
    "token_count",
    "fingerprint",
    "ann_brute",
    "embedding_neardup",
    "events_window",
    "events_sessionize",
]

#: later-round additions, timed identically but reported under
#: separate keys (extra_*) so ``value``/``steady_total`` stay
#: comparable with rounds 1-3 over the SAME 22-query set.  This list
#: GROWS as operators land (r4: first 12; r5: +18; r6: +7), so
#: extra_total is only comparable round-over-round per query, not as
#: a sum.
EXTRA_QUERIES = [
    "tpch_q5_like",
    "events_funnel",
    "shuffle_shards",
    "train_test_split",
    "emb_centroid",
    "semantic_search",
    "text_normalize",
    "chunk_documents",
    "vocab_stats",
    "events_retention",
    "join_full",
    "pipeline_clean_incr",
    # round 5
    "quantile_approx",
    "bm25_search",
    "inverted_index",
    "profile_table",
    "len_histogram",
    "doc_repetition",
    "semantic_dedup",
    "join_asof_nearest",
    "dup_spans",
    "dup_span_frac",
    "decontaminate",
    "lm_score",
    "stratified_sample",
    "token_budget_mixture",
    "tpch_q18_like",
    "tpch_q14_like",
    "quality_topk",
    # round 6 — cold pays the one-time bucketed index build; steady is
    # the shuffle-free UDF-free probe (the ingest steady state)
    "dedup_minhash_bucketed",
    "profile_table_approx",
    "excise_spans",
    "dedup_minhash_ingest_stream",
    "temperature_mixture",
    "decontaminate_fuzzy",
    # round 7 — the stateful-ingest family reads persisted state
    # tables built once per session.  ORDER MATTERS here: dedup_cc is
    # the state BUILDER (its cold pass prices pair machinery + CC +
    # the bucketed label layout, its steady the state scan);
    # dedup_keep_best / dedup_cc_incr / pipeline_incr_stateful then
    # price what production pays per batch against held state.
    # dedup_keep_best and dedup_cc_incr moved here from the r5/r6
    # positions for exactly that reason (per-query keys unchanged, so
    # round-over-round per-query comparison still lines up).
    "dedup_cc",
    "dedup_keep_best",
    "dedup_cc_incr",
    "pipeline_incr_stateful",
    "dedup_labels_stream",
    "bpe_pair_counts",
    # the r7 driver entry for profile_table_approx adds an exact
    # validity band (for the hash oracle), so timing IT under the r6
    # key would silently change what that key measures (approx+exact
    # vs approx).  The legacy key keeps timing the RAW HLL dial (see
    # the qs overlay in main); the checked driver gate is timed here
    # under its own key.
    "profile_table_approx_checked",
    # r7 dedup-analytics family: doc_novelty is span machinery (off
    # the same explode as dup_spans); cross_source_overlap reuses the
    # session edge cache; dup_cluster_sizes scans the persisted label
    # state dedup_cc built above (order matters: after the builder)
    "doc_novelty",
    "cross_source_overlap",
    "dup_cluster_sizes",
    # round 8 — the corpus-sized BPE encode pass: cold prices training
    # (BPE_CHECK_MERGES vocab-sized argmax rounds, eager at plan
    # construction) + the map-only encode; the merge list is cached
    # per (session, corpus) under a state: tag surviving
    # release_barriers, so STEADY measures the encode pass alone —
    # the production shape (train once, encode every batch)
    "bpe_encode_checked",
    # r8: exact k-NN self-join — broadcast index, map-only kernel —
    # and the majority-vote label spread composed on top of it
    "knn_join",
    "knn_label_spread",
    "knn_join_stream",
    # r8: the resize step of the image pipeline (map-only mapInPandas)
    "multimodal_resize",
    # r8: count-min-sketch heavy hitters (map-side fixed-size counter
    # merge + exact candidate verify)
    "cms_heavy_hitters",
    # round 9 — exact k-NN without a full-corpus broadcast (per-tile
    # indexes + one vec_id merge exchange); distributed KMeans (cold
    # prices the Lloyd's iterations, the trained matrix is cached
    # state so steady is the map-only assignment pass); the merged
    # per-source CMS (cell-wise sketch merge, tokens never shuffle)
    "knn_join_twophase",
    "kmeans_train",
    # order matters: kmeans_train (above) is the centroid-state
    # BUILDER — ann_ivf_trained then prices the steady search against
    # held model state
    "ann_ivf_trained",
    "cms_merge_heavy_hitters",
    # r9: hybrid retrieval — BM25 leg + dense cosine leg fused by RRF
    "hybrid_search_rrf",
    # r9: Bloom membership pre-filter (build cells + probe + exact
    # verify — the corpus never shuffles)
    "bloom_dedup_precheck",
    # round 10 — per-source KMV sketches merged union-then-take-k
    # (cold prices the corpus scan + sketch build; the merge itself
    # touches ≤ k·sources rows per key)
    "kmv_merge_ndistinct",
    # r10: banded approximate k-NN self-join over the trained cells
    # (reads the persisted centroid state kmeans_train built above —
    # order matters) and its recall@k eval row vs the exact join
    "ann_ivf_knn_join",
    "knn_recall_ivf",
    # r10: continuous CMS heavy hitters through foreachBatch — cold
    # prices stream machinery + one micro-batch fold + extraction
    "cms_stream_heavy_hitters",
    # r10: interpolated bigram-LM NLL (transition-probability quality
    # filter — broadcast transition table, exact-integer sums)
    "lm_score_bigram",
    # r10: corpus-comparison drift report (log-odds w/ Dirichlet
    # prior — one vocab-sized exchange + TakeOrdered)
    "vocab_drift",
    # r11: multi-probe cell co-assignment k-NN join (reads the same
    # persisted centroid state; ~p× the single-cell candidate work)
    # and the cell-vs-probe recall row (exact leg + both approx legs)
    "ann_ivf_knn_join_probe",
    "knn_recall_ivf_probe",
    # r11: continuous Bloom dedup pre-filter through foreachBatch —
    # cold prices stream machinery + set-bit fold + probe/verify
    "bloom_precheck_stream",
    # r11 late: curation additions — pii_redact is a pure map pass
    # (scan-speed regex ladder), split_by_cluster reads the label
    # state dedup_cc built above (order matters), tfidf_topterms is
    # two aggs behind one barrier + WindowGroupLimit
    "pii_redact",
    "split_by_cluster",
    "tfidf_topterms",
    # r11 late: product quantization — cold prices 4 subspace Lloyd's
    # trainings + the encode pass (then codes/books are per-session
    # state), STEADY prices what a deployment pays per query: code
    # scans + JVM lookups.  Order matters: pq_encode builds the code
    # table, ann_pq reuses it, ann_ivf_pq builds the combined index
    "pq_encode",
    "ann_pq",
    "ann_pq_rerank",
    "ann_ivf_pq",
    "knn_recall_pq",
    # r12: probe-routed text dedup — cold prices the candidate-bound
    # probe plus the path it picks (PPJoin at driver densities; the
    # LSH branch is what runs at closed-vocab densities)
    "dedup_text_auto",
    # r12: the complete IVFADC + exact re-rank stack (reads the same
    # persisted cell-partitioned index ann_ivf_pq built above — order
    # matters; steady prices pruned code scan + r raw-vector folds)
    "ann_ivf_pq_rerank",
    # r13: batch IVFADC — every vector × compressed index, scored
    # from codes via per-row JVM LUTs, exact re-rank of r per query —
    # and its recall-vs-exact row (the eval a deployment tracks)
    "ann_ivf_pq_knn_join",
    "knn_recall_ivf_pq",
]

#: state-family queries timed under the ADOPTED column (r13, VERDICT
#: r12 item 6): cold-in-a-fresh-PROCESS with SPARK_GRAFT_STATE_DIR
#: pre-warmed by a prior process — the 100 TB "ingest cycle adopts
#: yesterday's state instead of rebuilding it" number, measured in
#: the checked-in artifact instead of only in AB logs.  The band
#: index is deliberately absent: it is per-process mutable state and
#: never adopts (dedup_sketch._band_index_for).
ADOPTED_QUERIES = [
    "dedup_cc",
    "split_by_cluster",
    "kmeans_train",
    "ann_ivf_pq",
    "ann_ivf_pq_rerank",
]

#: compute-bound extras ALSO reported under their own
#: ``scaling_queries`` key (r14, VERDICT r13 item 1): the headline 22
#: are sub-second and
#: per-task-overhead-bound at sf0.1, so a low-core/high-core
#: comparison over them reads ≈1 for every row and says nothing about
#: whether the engine parallelizes — the queries that DO scale with
#: cores (broadcast-kernel k-NN, IVF cell joins, Lloyd's iterations,
#: the Arrow signature kernel) all live in the extras, which the
#:  comparison never samples.  These rows are timed ONCE, in their
#: usual extras position with the usual methodology, and their cold
#: and steady numbers are repeated under ``scaling_queries`` (also on
#: the compact line) so a core-count sweep sees them; ``queries`` and
#: ``steady_queries`` hold exactly the 22 headline rows, so ``value``
#: and ``steady_total`` stay their sums, and the extras keys keep
#: reporting every extra as before.
SCALING_QUERIES = [
    "knn_join",
    "ann_ivf_knn_join",
    "knn_recall_ivf",
    "kmeans_train",
    "knn_label_spread",
]

_ADOPTED_SCRIPT = """
import json, sys, time
sys.path.insert(0, {root!r})
import __spark_entry__ as m
from simple_rust_query_engine_spark.session import get_spark, release_barriers
from simple_rust_query_engine_spark.pipeline import dedup_core
spark = get_spark("srqe-bench-adopted")
qs = m.queries()
out = {{}}
for name in {names!r}:
    release_barriers(spark)
    t0 = time.perf_counter()
    qs[name](spark, {sf!r}).count()
    out[name] = round(time.perf_counter() - t0, 4)
print("ADOPTED=" + json.dumps(
    {{"queries": out,
      "events": sorted(
          f"{{k}}:{{t}}" for k, t in set(dedup_core.STATE_TABLE_EVENTS)
      )}}
))
"""


def run_adopted(names: list[str]) -> dict:
    """Time ``names`` cold-in-a-fresh-process against a durable state
    dir a PRIOR process populated: phase A builds (untimed — the main
    run's cold column already prices fresh builds), phase B is a new
    interpreter + new JVM that ADOPTS every state table and pays only
    query execution — the per-cycle cost of a production ingest
    pipeline restarting against yesterday's warehouse.  Failures
    degrade to an ``error`` field; the bench always emits its line."""
    import shutil
    import subprocess
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))
    state_dir = tempfile.mkdtemp(prefix="srqe_bench_state_")
    script = _ADOPTED_SCRIPT.format(root=root, names=names, sf=SF_DIR)
    env = dict(os.environ, SPARK_GRAFT_STATE_DIR=state_dir)
    try:
        subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True,
            text=True, timeout=2400, check=True, cwd=root,
        )
        out = subprocess.run(
            [sys.executable, "-c", script], env=env, capture_output=True,
            text=True, timeout=2400, check=True, cwd=root,
        ).stdout
        line = [ln for ln in out.splitlines() if ln.startswith("ADOPTED=")][0]
        payload = json.loads(line[8:])
        payload["total"] = round(sum(payload["queries"].values()), 4)
        return payload
    except Exception as exc:
        # str(CalledProcessError) is dominated by the embedded -c
        # script source — record the exit status + stderr TAIL (where
        # the traceback lives) so the artifact's error is diagnostic
        err = f"{type(exc).__name__}"
        code = getattr(exc, "returncode", None)
        if code is not None:
            err += f" exit={code}"
        stderr = getattr(exc, "stderr", None) or str(exc)
        return {"error": f"{err}: ...{stderr[-450:]}"}
    finally:
        shutil.rmtree(state_dir, True)


#: host-speed anchor for the canary loop below, from the healthy
#: windows every prior round benched in (r7: 0.763, r8: 0.779, r9
#: early-session: 0.763-0.81).  BENCH_r09.json was captured at canary
#: 1.224s (~57% degraded) and overstated cold time ~1.5x — hence this
#: gate (VERDICT r9 item 2): a run only counts as comparable when BOTH
#: the pre and post canary land within CANARY_TOLERANCE of the anchor.
CANARY_ANCHOR_SEC = 0.78
CANARY_TOLERANCE = 0.20  # pre AND post must land INSIDE anchor*(1±tol)
#                          — two-sided: slow windows overstate, fast
#                          windows manufacture phantom speedups


def _canary_ok(pre: float, post: float) -> bool:
    """True when the host window is healthy enough for the run's raw
    seconds to be comparable with prior rounds' anchored numbers —
    BOTH bounds matter: a slow window overstates runtimes, and a
    faster-than-anchor window would manufacture a phantom cross-round
    speedup just as misleading as the r9 slowdown artifact."""
    lo = CANARY_ANCHOR_SEC * (1.0 - CANARY_TOLERANCE)
    hi = CANARY_ANCHOR_SEC * (1.0 + CANARY_TOLERANCE)
    return lo <= pre <= hi and lo <= post <= hi


#: parallel-canary shape: N equal JVM-side tasks (N = the session's
#: defaultParallelism) vs ONE task of the same per-task work.  At
#: perfect scaling the two take the same wall time (ratio 1.0); the
#: ratio is host-speed-INDEPENDENT, so unlike the single-thread
#: anchor it needs no window-specific calibration.  It exists because
#: the single-thread canary understates multi-core contention
#: (VERDICT r11 observation 2): in the r11 driver window the
#: single-thread probe passed (0.769s) while many-tiny-job stateful
#: queries ran 10-30x slow — contention that only shows up when all
#: cores are asked to work at once.
PAR_CANARY_ROWS_PER_TASK = 30_000_000
#: gate threshold, calibrated r12 against a KNOWN-degraded window
#: (the r11 failure mode reproduced: single canary 0.84-0.87 passed
#: the ±20% band while the headline set ran 1.4-1.5x over the healthy
#: 15.15 s record): in-bench probes there read 1.55-1.69, idle probes
#: 1.31-1.43.  Perfect scaling is 1.0; 1.5 passes an idle-healthy box
#: with sane overhead and flags the contended windows raw seconds
#: can't survive.  If a demonstrably healthy window (single canary
#: 0.75-0.81 AND headline near record) ever probes above 1.5,
#: recalibrate with that observation.
#: Calibration point (r13): the round's best window — headline
#: 18.16 s, 1.20x of the 15.15 s r11 record, single canary
#: 0.78-0.81 — probed 1.38-1.45 IN-BENCH (docs/BENCH_R13_FINAL.json
#: par pre/mid/post 1.45/1.45/1.38), so the 1.5 gate sits just above
#: a near-record window's reading; a fully-healthy (1.0x) window's
#: in-bench value remains unobserved on this host.
PAR_CANARY_MAX_RATIO = 1.5


def _parallel_canary(spark) -> dict:
    """Parallel-efficiency probe: min-of-2 wall time for N equal
    CPU-bound tasks (xxhash64 fold, whole-stage codegen — pmod keeps
    the ANSI sum under 2^63) divided by min-of-2 for ONE task of the
    same per-task work.  One warm pass per shape first: the C2 JIT
    otherwise inflates whichever shape runs first."""
    import pyspark  # noqa: F401  (session already up; keep import local)

    tasks = max(1, spark.sparkContext.defaultParallelism)

    def run(n: int) -> float:
        t0 = time.perf_counter()
        spark.range(0, PAR_CANARY_ROWS_PER_TASK * n, 1, n).selectExpr(
            "sum(pmod(xxhash64(id), 1000000007)) AS s"
        ).collect()
        return time.perf_counter() - t0

    run(1)
    run(tasks)
    t1 = min(run(1) for _ in range(2))
    tn = min(run(tasks) for _ in range(2))
    return {
        "tasks": tasks,
        "par1_sec": round(t1, 4),
        "parN_sec": round(tn, 4),
        "ratio": round(tn / t1, 4),
    }


def _git_provenance() -> dict:
    """HEAD SHA + dirty flag, so a bench JSON is attributable to the
    exact code it measured (VERDICT r10: two same-round artifacts
    differed 15% with nothing recording whether code moved between
    them).  Never fails the bench: outside a git checkout both fields
    degrade to None."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=here, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
        # BENCH_LOCAL.json is this harness's own output: a prior run's
        # artifact must not mark the CODE dirty (measured r12 — run 2
        # of a clean clone reported git_dirty purely from run 1's
        # BENCH_LOCAL write)
        dirty_probe = subprocess.run(
            ["git", "status", "--porcelain", "--",
             ".", ":(exclude)BENCH_LOCAL.json"],
            cwd=here, capture_output=True, text=True, timeout=10,
        )
        dirty = (
            bool(dirty_probe.stdout.strip())
            if dirty_probe.returncode == 0
            else None
        )
    except Exception:
        sha, dirty = None, None
    return {"git_sha": sha, "git_dirty": dirty}


def _canary_sec() -> float:
    """Host-speed canary: a 20M-iteration CPython loop, the same probe
    that diagnosed the r5/r6 cross-round drift (identical code
    measured 14.1s vs 18.3s cold in different host windows; the loop
    read 1.3-1.4s in fast windows, 1.9-2.1s in slow ones, with zero
    steal and no competing load).  Emitting it in the JSON line makes
    every bench number normalizable without digging through commit
    messages: compare rounds via value/canary ratios, not raw secs."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    assert x  # keep the loop from being optimized away by a future VM
    return round(time.perf_counter() - t0, 4)


#: a headline steady reading past this multiple of its gates-green
#: reference marks the run implausible — wide enough that real
#: regressions under test still get recorded (a 2x code regression
#: passes and shows up in the numbers), tight enough to catch the
#: 3-10x contention waves the probes miss
PLAUSIBLE_MAX = 3.0


def _steady_outliers(steady: dict) -> tuple[dict, "bool | None"]:
    """(outliers, plausible_ok) vs docs/BENCH_STEADY_REF.json; ok is
    None (gate not applicable) when the reference is missing or the
    run's sf / core count differ from the reference's."""
    ref_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "docs",
        "BENCH_STEADY_REF.json",
    )
    try:
        with open(ref_path) as f:
            ref = json.load(f)
    except (OSError, ValueError):
        return {}, None
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if str(ref.get("sf")) != sf or int(ref.get("cpus", 0)) != cpus:
        return {}, None
    out = {}
    for name, sec in steady.items():
        base = ref.get("steady", {}).get(name)
        if base and sec / base > PLAUSIBLE_MAX:
            out[name] = round(sec / base, 2)
    return out, not out


def main() -> None:
    import __spark_entry__ as entry_mod
    from simple_rust_query_engine_spark.session import get_spark, release_barriers

    canary_pre = _canary_sec()
    # provenance captured at START: it must describe the code this
    # run loads, not whatever the tree looks like after ~20 minutes
    prov = _git_provenance()
    spark = get_spark("srqe-bench")
    qs = dict(entry_mod.queries())
    # keep the r6-comparable "profile_table_approx" key measuring the
    # raw HLL scan (the 100 TB dial); the driver's oracle-checked
    # variant (raw + exact validity band) times under its own key
    from simple_rust_query_engine_spark.operators.profile import (
        profile_table_approx,
    )

    qs["profile_table_approx_checked"] = qs["profile_table_approx"]
    qs["profile_table_approx"] = lambda s, d: profile_table_approx(
        s.read.parquet(os.path.join(d, "orders.parquet"))
    )

    # session warmup: table registration + parquet footers + Python
    # worker fork (numpy+pandas import per worker) paid once up front
    for warm in ("distinct", "simhash"):
        try:
            qs[warm](spark, SF_DIR).count()
        except Exception as exc:  # warmup failure must not kill the run
            print(f"# warmup {warm} failed: {exc}", file=sys.stderr)
    # ... at the session's FULL width (r14 measurement fix, guide §1):
    # the two warmup queries read single-split inputs, so they fork
    # exactly ONE Python worker — the first widened Arrow stage then
    # paid a worker fork + numpy/pandas import per task inside its
    # TIMED cold pass (measured at 32 cores: knn_join cold 10-15 s vs
    # ~2 s once workers exist; widening itself, now the data-driven
    # session.size_to_input rule, only spreads the kernel over
    # min(cores, ceil(input bytes / 64 KB)) tasks).  Worker fork was
    # always declared warmup cost (the comment above, r4) — this
    # makes the warmup actually pay it for every worker the session
    # can run.  Timed regions,
    # query set and metric definitions are unchanged.
    try:
        par = max(1, spark.sparkContext.defaultParallelism)

        def _prefork(batches):
            import numpy  # noqa: F401
            import pandas  # noqa: F401

            for b in batches:
                yield b

        spark.range(0, par, 1, par).mapInPandas(_prefork, "id long").count()
    except Exception as exc:
        print(f"# warmup prefork failed: {exc}", file=sys.stderr)

    par_pre = _parallel_canary(spark)

    # one failing query must not zero out the whole bench (round 2
    # recorded NO numbers because a single query raised): time what
    # runs, report what breaks, always emit the JSON line.
    errors: dict[str, str] = {}

    def run_set(names: list[str]) -> tuple[dict, dict]:
        cold: dict[str, float] = {}
        steady: dict[str, float] = {}
        for name in names:
            if name not in qs:
                continue
            release_barriers(spark)
            try:
                t0 = time.perf_counter()
                n = qs[name](spark, SF_DIR).count()
                cold[name] = round(time.perf_counter() - t0, 4)
                warm_times = []
                for _ in range(2):
                    # release between passes too: barrier-backed caches
                    # (near_dup_edges) would otherwise hand the warm
                    # pass a precomputed table, and steady must measure
                    # re-execution, not cache reads
                    release_barriers(spark)
                    t0 = time.perf_counter()
                    n = qs[name](spark, SF_DIR).count()
                    warm_times.append(time.perf_counter() - t0)
                steady[name] = round(min(warm_times), 4)
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                # drop partial numbers: totals must cover exactly the
                # same query set, or steady-vs-cold comparison skews
                cold.pop(name, None)
                steady.pop(name, None)
                print(f"# {name}: FAILED {errors[name][:120]}", file=sys.stderr)
                continue
            print(
                f"# {name}: cold {cold[name]:.3f}s steady {steady[name]:.3f}s rows={n}",
                file=sys.stderr,
            )
        return cold, steady

    cold, steady = run_set(BENCH_QUERIES)
    # mid-run probe (r13, VERDICT r12 item 1): BENCH_R12_FINAL2 passed
    # both BRACKETING probes yet absorbed a contention wave mid-run —
    # a probe between the query groups catches a window that degrades
    # after the run starts, instead of silently recording it
    par_mid = _parallel_canary(spark)
    extra_cold, extra_steady = run_set(EXTRA_QUERIES)
    # the ADOPTED column runs in subprocesses (fresh interpreter +
    # JVM per phase) — after the in-process sets so its JVMs don't
    # contend with the timed passes above
    adopted = run_adopted(ADOPTED_QUERIES)
    par_post = _parallel_canary(spark)
    canary_post = _canary_sec()
    par_ok = (
        par_pre["ratio"] <= PAR_CANARY_MAX_RATIO
        and par_mid["ratio"] <= PAR_CANARY_MAX_RATIO
        and par_post["ratio"] <= PAR_CANARY_MAX_RATIO
    )

    # per-query plausibility gate (r13): the canary probes SAMPLE the
    # window, but contention waves can be shorter than a bench — a run
    # passed all three probes while untouched headline queries read
    # 3-10x their gates-green values between probe points
    # (docs/AB_R13_POSTOPT_NEW.json, the motivating miss).  Compare
    # each headline steady against the checked-in gates-green
    # reference (docs/BENCH_STEADY_REF.json) and flag >3x outliers.
    # Only applies when sf AND core count match the reference — a
    # lower SPARK_GRAFT_CPUS run inflates steady legitimately.
    steady_outliers, plausible_ok = _steady_outliers(steady)

    # the round-1-comparable totals close over the 22-query headline
    # set (metric contract at the top of this file)
    headline_value = round(sum(cold.values()), 4)
    headline_steady = round(sum(steady.values()), 4)
    scaling = {
        name: {"cold": extra_cold[name], "steady": extra_steady[name]}
        for name in SCALING_QUERIES
        if name in extra_cold
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline_queries_total_runtime",
        "value": headline_value,
        "unit": "sec",
        "queries": cold,
        "steady_total": headline_steady,
        "steady_queries": steady,
        "extra_total": round(sum(extra_cold.values()), 4),
        "extra_queries": extra_cold,
        "extra_steady_total": round(sum(extra_steady.values()), 4),
        "extra_steady_queries": extra_steady,
        "scaling_queries": scaling,
        # cold-in-a-fresh-process WITH durable-state adoption (r13,
        # VERDICT r12 item 6): what an ingest cycle pays when it
        # restarts against yesterday's state dir, vs the cold column's
        # full rebuild — the cold/adopted/steady triple in one artifact
        "adopted": adopted,
        # host-speed canary bracketing the run (pre/post); min is the
        # window's best-case CPU speed — normalize cross-round compares
        # by value/canary_sec, not raw seconds
        "canary_sec": min(canary_pre, canary_post),
        "canary_pre": canary_pre,
        "canary_post": canary_post,
        # parallel-efficiency probe bracketing the run (r12, VERDICT
        # r11 item 2): N equal tasks vs one — catches windows degraded
        # only under concurrency, which the single-thread probe passes
        "par_canary_pre": par_pre,
        "par_canary_mid": par_mid,
        "par_canary_post": par_post,
        "par_canary_max_ratio": PAR_CANARY_MAX_RATIO,
        "par_canary_ok": par_ok,
        # the window-health gate (VERDICT r9 item 2, extended r12 with
        # the parallel probe): false means the host was degraded during
        # this run and its raw seconds are NOT comparable against
        # anchored rounds — re-run in a healthier window, or normalize
        # by canary ratios only
        "canary_ok": _canary_ok(canary_pre, canary_post) and par_ok,
        # per-query plausibility vs the checked-in gates-green steady
        # reference (r13): null = gate not applicable (missing ref or
        # sf/cpus mismatch); false = some headline steady read >
        # PLAUSIBLE_MAX x its reference — a wave the probes missed.
        # Deliberately NOT folded into canary_ok (its semantics and
        # history stay comparable); consumers gate on both.
        "plausible_ok": plausible_ok,
        "steady_outliers": steady_outliers,
        "canary_anchor_sec": CANARY_ANCHOR_SEC,
        "sf": sf_val,
        # code provenance (VERDICT r10 item: same-round artifacts must
        # be attributable to the code they measured, not archaeology)
        **prov,
    }
    if errors:
        full["errors"] = errors

    # The driver captures only the LAST 2000 chars of stdout and parses
    # the final JSON line (BENCH_r05.json had parsed:null because the
    # full per-query line outgrew that window).  Full detail goes to
    # BENCH_LOCAL.json in-repo; stdout gets a compact line — headline
    # cold per-query dict (the round-1-comparable 22-query set) plus
    # the four totals — that stays well under the capture window.
    local_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
    with open(local_path, "w") as f:
        json.dump(full, f, indent=1)
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": cold,
        "steady_total": full["steady_total"],
        "extra_total": full["extra_total"],
        "extra_steady_total": full["extra_steady_total"],
        "scaling_queries": scaling,
        "canary_sec": full["canary_sec"],
        "canary_ok": full["canary_ok"],
        "plausible_ok": plausible_ok,
        # the cold/adopted/steady triple's middle column (r13): the
        # same state-family queries cold-in-a-fresh-process that
        # ADOPTED a prior process's durable state dir (full per-query
        # detail + adoption audit in BENCH_LOCAL.json)
        "adopted_total": adopted.get("total"),
        "adopted_queries": adopted.get("queries"),
        "par_ratio": max(
            par_pre["ratio"], par_mid["ratio"], par_post["ratio"]
        ),
        "sf": sf_val,
        "git_sha": full["git_sha"],
        "git_dirty": full["git_dirty"],
    }
    if not full["canary_ok"]:
        print(
            f"# WARNING: off-anchor host window (canary pre={canary_pre:.3f}s "
            f"post={canary_post:.3f}s vs anchor {CANARY_ANCHOR_SEC}s "
            f"±{CANARY_TOLERANCE:.0%}; parallel ratio "
            f"pre={par_pre['ratio']:.2f} mid={par_mid['ratio']:.2f} "
            f"post={par_post['ratio']:.2f} vs "
            f"max {PAR_CANARY_MAX_RATIO}); raw seconds NOT cross-round "
            "comparable — re-run in an anchored window",
            file=sys.stderr,
        )
    if plausible_ok is False:
        print(
            f"# WARNING: implausible headline steady readings vs the "
            f"gates-green reference (>{PLAUSIBLE_MAX}x): "
            f"{steady_outliers} — a contention wave the canary probes "
            "missed; raw seconds NOT cross-round comparable",
            file=sys.stderr,
        )
    if errors:
        compact["error_count"] = len(errors)
    if "error" in adopted:
        compact["adopted_error"] = adopted["error"][:120]
    line = json.dumps(compact)
    if len(line) >= 1900:
        # degrade rather than die: a run that already paid for every
        # query must ALWAYS emit a parseable final line.  Totals-only
        # is ~200 chars; per-query detail survives in BENCH_LOCAL.json.
        compact.pop("queries", None)
        compact["queries_in_local_json_only"] = True
        line = json.dumps(compact)
    print(line)
    if not cold:
        sys.exit(1)


if __name__ == "__main__":
    main()
