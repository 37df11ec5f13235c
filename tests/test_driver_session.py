"""Driver-harness parity: the package must work — and hash-match its
oracles — on a SparkSession it did NOT build.

Round 1 shipped a bug class where everything passed under
``get_spark()`` but died under the driver's own bare session
(nano-timestamp reads); round 2's residue was the same class
(``unix_millis`` on the TIMESTAMP_NTZ the driver's scan produced).
This test makes that class structurally unshippable: a SUBPROCESS
builds a minimal session — fresh JVM, none of our configs, and a
deliberately non-UTC timezone — and runs every previously-fragile
query end-to-end against its DuckDB oracle.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: queries with timestamp/array surfaces — the ones a session-dependent
#: regression would hit first — plus the flagship smoke
PROBE_QUERIES = [
    "flagship",
    "range_join",
    "join_asof",
    "events_window",
    "events_sessionize",
    "skew_safe_collect",
    "filter_predicate",
    # streaming entries run a full Structured Streaming job (source →
    # watermark/state → memory sink) — the watermark NTZ rejection was
    # a bare-session-only failure mode, so they belong in this probe
    "events_window_stream",
    "dedup_exact_stream",
    # round-4 window rotation: these enter the driver's checked window
    # having never faced its bare session; all carry timestamp or
    # session_window surfaces — the exact session-dependent risk class
    "join_asof_fwd",
    "events_window_sliding",
    "events_session_window",
    "kmv_ndistinct",
    # round-4 additions with timestamp surfaces
    "events_funnel",
    "tpch_q5_like",
]

_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# bare driver-style session: no package configs, non-UTC timezone
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-parity-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "America/New_York")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry_mod
from simple_rust_query_engine_spark.testing import compare, duckdb_conn

qs = entry_mod.queries()
oracles = entry_mod.oracle_sql()
con = duckdb_conn({sf_dir!r})
out = {{}}
for name in {names!r}:
    try:
        problems = compare(qs[name](spark, {sf_dir!r}), con, oracles[name])
        out[name] = problems
    except Exception as exc:
        out[name] = ["EXCEPTION: %s: %s" % (type(exc).__name__, exc)]
print("RESULT::" + json.dumps(out))
"""


def test_bare_session_oracle_parity():
    script = _SCRIPT.format(repo=REPO, sf_dir=SF_DIR, names=PROBE_QUERIES)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    marker = [l for l in proc.stdout.splitlines() if l.startswith("RESULT::")]
    assert marker, f"probe produced no result\nstdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-2000:]}"
    results = json.loads(marker[0][len("RESULT::"):])
    bad = {k: v for k, v in results.items() if v}
    assert not bad, f"bare-session mismatches: {bad}"


def test_bench_plausibility_gate():
    # r13: the per-query plausibility gate flags headline steady
    # readings > PLAUSIBLE_MAX x their checked-in gates-green
    # reference (a contention wave the canary probes missed), ignores
    # queries without a reference (adding queries can never break it),
    # and reports not-applicable when sf/cpus differ from the ref
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    ref = json.load(
        open(os.path.join(REPO, "docs", "BENCH_STEADY_REF.json"))
    )
    base = ref["steady"]["tpch_q1"]
    # the gate's own applicability test: sf AND core count, the cores
    # read exactly as bench.py reads them
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    if m.SF_DIR.rstrip("/").endswith("sf0.1") and cpus == int(ref["cpus"]):
        out, ok = m._steady_outliers({"tpch_q1": base * 1.5})
        assert ok is True and out == {}
        out, ok = m._steady_outliers(
            {"tpch_q1": base * 5.0, "join_asof": ref["steady"]["join_asof"]}
        )
        assert ok is False and list(out) == ["tpch_q1"]
        out, ok = m._steady_outliers({"query_without_ref": 99.0})
        assert ok is True and out == {}
    else:
        # bench module bound to a non-reference sf or core count:
        # gate reports N/A
        out, ok = m._steady_outliers({"tpch_q1": base * 5.0})
        assert ok is None and out == {}
