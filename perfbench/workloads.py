"""The three workloads.  Each runs in the worker process after set-up,
records one dict per timed operation and checks every result outside
the timed regions.

An operation is a builder call (``queries()[name](spark, dir)``, or
``SessionContext.sql``) followed by a full materialisation of the
result with ``collect()``, which returns every row.
``count()`` is never used: Catalyst would prune work a collect does
(``selftest_plans.py`` pins this).
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from datetime import datetime

import pyarrow.parquet as pq

import gen
from check import Checker, Collected, OracleCache
from tracing import catalyst_phases_ms, persistent_rdds

#: relational, OLAP and temporal rows of ``queries()``; ``flagship_sql``
#: is the reference README flagship through ``SessionContext.sql``
OLAP_SHAPES = (
    "flagship", "flagship_sql", "tpch_q1", "tpch_q3_like", "tpch_q18_like",
    "agg_rollup", "join_inner", "window_topk_per_group", "distinct",
    "events_window", "events_sessionize",
)
#: latencies fell about 25% over the first four cycles after the cold
#: one and were flat from the fifth on; the steady cycles start after
#: these warm ones, at the same point of that curve in every run.  One
#: rather than four keeps a run on a busy host inside the time budget
OLAP_WARM_CYCLES = 1
#: time of one warm olap cycle on a 4-core host
OLAP_CYCLE_S = 6.0

#: double quotes are identifiers, as in the reference README's dialect
FLAGSHIP_SQL = """
    SELECT c_mktsegment,
           ROUND(SUM(o_totalprice), 2) AS "sum_total",
           ROUND(AVG(o_totalprice), 4) AS "avg_total"
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    WHERE c_acctbal < 4000.0
    GROUP BY c_mktsegment
    ORDER BY "sum_total" DESC
"""

CURATE_CHAIN = (
    "text_normalize", "dedup_exact", "dedup_minhash", "ngram_jaccard",
    "simhash", "dedup_cc", "pipeline_clean", "knn_join", "kmeans_train",
)
SHARD_DOCS, SHARD_EMB = 250, 100
#: time of one steady curate pass on a 4-core host
CURATE_PASS_S = 8.0

#: Arrivals at a tenth of a drain call's marginal throughput.  Over 40
#: drain calls of 25-275 documents on a 4-core host, call time fit
#: 6.6 s + 0.0099 s per document, so a call absorbs about 100 more
#: documents per second of its time.  Files keep landing during a call,
#: so its time sets the next call's batch; at 10 documents/s a call x
#: seconds slower makes the next one 0.1·x seconds slower (at the 25
#: documents/s tried first, 0.34·x), and drain time follows host speed
#: without amplifying it.  Small files give freshness many samples.
#: The base corpus is the documents table at sf0.01, a tenth of the
#: olap scale: with the sf0.1 table (5,000 documents) set-up took 32 s
#: instead of 25 s and a run 67 s, more than a run's share of the
#: regression check's time budget, while steady drains took as long.
INGEST = {"base_docs": 500, "docs_per_file": 5, "interval_s": 0.5}


def ingest_files(seconds: float) -> int:
    """Files that land in a run of ``seconds``."""
    return max(1, round(seconds / INGEST["interval_s"]))


class Ctx:
    """What a workload needs from set-up."""

    def __init__(self, spark, qs, oracles, tracer, compare, duckdb_conn, work, seed, seconds):
        self.spark, self.qs, self.oracles = spark, qs, oracles
        self.tracer, self.work, self.seed, self.seconds = tracer, work, seed, seconds
        self.checker = Checker(compare)
        self.duckdb_conn = duckdb_conn
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.probe_s = 0.0

    def probe(self, fn, *args):
        """A tracing-only call, its time counted as tracing overhead."""
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.probe_s += time.perf_counter() - t

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.checker.problems.append(msg)


def materialise(df) -> list:
    """The timed action: a full materialisation of every row."""
    return df.collect()


def timed_query(ctx: Ctx, shape: str, build, **attrs) -> tuple[dict, object, list | None]:
    """Build and collect one query; returns (op record, df, rows)."""
    tr = ctx.tracer
    op = {"shape": shape, **attrs}
    ctx.attempted += 1
    df = rows = None
    try:
        with tr.span(shape, "op", **attrs):
            if tr.enabled:
                rdds0 = ctx.probe(persistent_rdds, ctx.spark)
            b0, p0 = time.time(), time.perf_counter()
            with tr.span("build", "build"):
                df = build()
            b1, p1 = time.time(), time.perf_counter()
            if tr.enabled:
                op["barriers"] = ctx.probe(persistent_rdds, ctx.spark) - rdds0
            a0, p2 = time.time(), time.perf_counter()
            with tr.span("action", "exec"):
                rows = materialise(df)
            a1, p3 = time.time(), time.perf_counter()
    except Exception as exc:  # one failing query must not end the run
        ctx.fail(f"{shape}: {type(exc).__name__}: {str(exc)[:300]}")
        return op, df, None
    op.update(latency=(p1 - p0) + (p3 - p2), build=(b0, b1), action=(a0, a1), rows=len(rows))
    if tr.enabled:
        op["catalyst"] = ctx.probe(catalyst_phases_ms, df)
    ctx.ops.append(op)
    return op, df, rows


def steady_rounds(seconds: float, nominal_s: float) -> int:
    """Steady cycles or passes in a run of ``seconds``: a fixed count,
    the rounds of ``nominal_s`` (their time on a 4-core host) that fill
    it, never fewer than one.  A count taken from the clock would give a
    slow run fewer rounds, so it would stop earlier on the JIT's warm-up
    curve and its median would drift with host speed."""
    return max(1, round(seconds / nominal_s))


# -------------------------------------------------------------------- olap
def olap(ctx: Ctx, sf_dir: str, table_rows: dict[str, int]) -> None:
    """Closed loop, one client: every shape once in a seeded order
    (cold), ``OLAP_WARM_CYCLES`` more seeded-order cycles while the JIT
    settles, then the steady cycles ``seconds`` holds."""
    from simple_rust_query_engine_spark.session import SessionContext, unwrap_df

    sc = SessionContext(ctx.spark)
    oracle = OracleCache(ctx.duckdb_conn(sf_dir))
    rng = random.Random(ctx.seed)
    input_rows: dict[str, int] = {}

    def builder(shape):
        if shape == "flagship_sql":
            return lambda: unwrap_df(sc.sql(FLAGSHIP_SQL))
        return lambda: ctx.qs[shape](ctx.spark, sf_dir)

    cycles = 1 + OLAP_WARM_CYCLES + steady_rounds(ctx.seconds, OLAP_CYCLE_S)
    for cycle in range(cycles):
        order = list(OLAP_SHAPES)
        rng.shuffle(order)
        for shape in order:
            op, df, rows = timed_query(
                ctx, shape, builder(shape), cold=cycle == 0,
                warm=0 < cycle <= OLAP_WARM_CYCLES,
            )
            if rows is None:
                continue
            if shape not in input_rows:
                # rows of every input table the query reads
                read = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
                input_rows[shape] = sum(table_rows.get(t, 0) for t in read)
            op["docs"] = input_rows[shape]
            sql = ctx.oracles["flagship" if shape == "flagship_sql" else shape]
            if not ctx.checker.check(shape, shape, Collected(df, rows), oracle, sql):
                ctx.failed += 1


# ------------------------------------------------------------------ curate
def curate(ctx: Ctx, shard_root: str) -> None:
    """Closed loop, one client: each pass runs the curation chain over
    a fresh seeded shard.  Pass 0 is the cold pass; the steady passes
    ``seconds`` holds follow."""
    from simple_rust_query_engine_spark.session import release_barriers

    for p in range(1 + steady_rounds(ctx.seconds, CURATE_PASS_S)):
        shard = os.path.join(shard_root, f"pass{p:03d}")
        n_docs = gen.shard(shard, ctx.seed * 1000 + p, SHARD_DOCS, SHARD_EMB)
        oracle = OracleCache(ctx.duckdb_conn(shard))
        pass_s, ok = 0.0, True
        for stage in CURATE_CHAIN:
            op, df, rows = timed_query(
                ctx, stage, lambda s=stage: ctx.qs[s](ctx.spark, shard),
                cold=p == 0, pass_no=p,
            )
            if rows is None:
                ok = False
                continue
            op["docs"] = n_docs
            pass_s += op["latency"]
            if not ctx.checker.check(f"{stage}@pass{p}", (stage, p), Collected(df, rows), oracle, ctx.oracles[stage]):
                ctx.failed += 1
        if ok:
            ctx.ops.append({"shape": "pass", "pass_no": p, "cold": p == 0,
                            "latency": pass_s, "docs": n_docs})
        # the next shard must not find this one's barriers or caches
        release_barriers(ctx.spark)


# ------------------------------------------------------------------ ingest
class Ingest:
    """Open loop: fixed-size document files land on a fixed schedule;
    each drain runs ``stream_minhash_ingest`` with ``availableNow`` over
    whatever has landed since the last one, then stops."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx = ctx
        self.landing = os.path.join(root, "landing")
        self.state = os.path.join(root, "state")
        self.ckpt = os.path.join(self.state, "checkpoint")
        self.paths = {k: os.path.join(self.state, k) for k in ("idx", "pairs", "labels")}
        self.tables = {k: f"bench_ingest_{k}" for k in ("idx", "pairs", "labels")}
        self.batches_seen = 0
        self.calls = 0

    def drain(self, shape: str = "ingest") -> dict:
        """One scheduled availableNow run; returns its op record."""
        from simple_rust_query_engine_spark.streaming.dedup import stream_minhash_ingest

        ctx, tr = self.ctx, self.ctx.tracer
        op = {"shape": shape}
        ctx.attempted += 1
        self.calls += 1
        try:
            with tr.span(shape, "stream") as sp:
                tr.root = sp.rec["id"] if tr.enabled else None
                c0, p0 = time.time(), time.perf_counter()
                q = stream_minhash_ingest(
                    ctx.spark, self.landing,
                    self.tables["idx"], self.paths["idx"],
                    self.tables["pairs"], pairs_path=self.paths["pairs"],
                    query_name=f"bench_ingest_{self.calls}",
                    glob="documents_*.parquet",
                    checkpoint_location=self.ckpt,
                    label_table=self.tables["labels"], label_path=self.paths["labels"],
                )
                q.awaitTermination()
                c1, p1 = time.time(), time.perf_counter()
                tr.root = None
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:300])
        except Exception as exc:
            ctx.fail(f"{shape}: {type(exc).__name__}: {str(exc)[:300]}")
            return op
        files = [os.path.join(self.landing, os.path.basename(f)) for f in self._new_batch_files()]
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        # rows from the files themselves: the source's numInputRows
        # counts a batch once per action foreachBatch runs on it
        docs = sum(pq.read_metadata(f).num_rows for f in files)
        op.update(
            latency=p1 - p0, build=(c0, c0), action=(c0, c1), commit=c1,
            files=files, batches=len(progress), docs=docs, rows=docs,
            ingested_bytes=sum(os.path.getsize(f) for f in files),
            progress=[p["durationMs"] for p in progress],
            start_s=(_epoch(progress[0]["timestamp"]) - c0) if progress else 0.0,
        )
        ctx.ops.append(op)
        return op

    def _new_batch_files(self) -> list[str]:
        """Files of the batches committed since the last call, from the
        file source's own log in the checkpoint."""
        log = os.path.join(self.ckpt, "sources", "0")
        ids = sorted(int(n) for n in os.listdir(log) if n.isdigit())
        out = []
        for b in ids[self.batches_seen:]:
            with open(os.path.join(log, str(b))) as f:
                for line in f.read().splitlines()[1:]:
                    out.append(json.loads(line)["path"])
        self.batches_seen = len(ids)
        return out

    def run(self, staged: list[str]) -> None:
        """Land one staged file every ``interval_s`` for ``seconds``; a
        new drain starts as soon as the last one stopped and a landed
        file waits.  Arrivals follow the clock, not the engine, so a
        slow drain leaves more files waiting, and their freshness shows
        it.  After the last arrival, drains continue until every landed
        file is committed."""
        iv = INGEST["interval_s"]
        t0 = time.time() + iv
        due = {os.path.basename(p): t0 + k * iv for k, p in enumerate(staged)}
        landed: dict[str, float] = {}
        stop = threading.Event()

        def land():
            for p in staged:
                name = os.path.basename(p)
                if stop.wait(max(0.0, due[name] - time.time())):
                    return
                os.replace(p, os.path.join(self.landing, name))
                landed[name] = time.time()

        lander = threading.Thread(target=land, daemon=True)
        lander.start()
        done: set[str] = set()
        try:
            while lander.is_alive() or any(n not in done for n in list(landed)):
                if all(n in done for n in list(landed)):
                    time.sleep(0.02)
                    continue
                op = self.drain()
                if "latency" not in op:  # a failed drain: stop feeding it
                    break
                for f in op["files"]:
                    name = os.path.basename(f)
                    done.add(name)
                    op.setdefault("freshness", []).append(op["commit"] - due[name])
        finally:
            stop.set()
            lander.join()
        self.lateness = [landed[n] - due[n] for n in landed]

    def check_labels(self, compare_fn) -> None:
        """Final label state against from-scratch minhash-edged CC."""
        import duckdb
        from simple_rust_query_engine_spark.pipeline.dedup import mh_cc_labels_oracle

        ctx = self.ctx
        ctx.attempted += 1
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{self.landing}/documents_*.parquet')"
        )
        df = ctx.spark.read.parquet(self.paths["labels"])
        bad = compare_fn(Collected(df, df.collect()), con, mh_cc_labels_oracle())
        if bad:
            ctx.fail(f"label state: {bad[:3]}")

    def state_size(self) -> tuple[float, int]:
        size, files = 0, 0
        for k in ("idx", "pairs", "labels"):
            for f in glob.glob(os.path.join(self.paths[k], "**", "*"), recursive=True):
                if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_")):
                    size += os.path.getsize(f)
                    files += 1
        return size / 1e6, files


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
