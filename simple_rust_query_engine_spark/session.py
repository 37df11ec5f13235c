"""SparkSession factory + ``SessionContext`` facade.

Reference parity: ``SessionContext`` in
``/root/reference/src/execution/context.rs:26-102`` — a named-table
catalog with ``read_csv`` / ``register_csv`` / ``sql``.  Here the
catalog IS Spark's catalog (temp views), and ``sql`` is Catalyst.

Scale notes (100 TB posture)
----------------------------
* One long-lived session; all fixed cost (JVM, catalog, AQE state)
  is paid once.
* AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace every hand-rolled physical
  decision the reference makes (build-side choice, batch sizing).
* ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster leave it to AQE's coalescing with a high initial
  value (e.g. 2000+ for 100 TB inputs).
* Timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: tables the driver testdata provides (TESTDATA.md)
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def unwrap_df(df) -> DataFrame:
    """Unwrap an ``EngineDataFrame`` facade to the underlying Spark
    DataFrame; pass a real DataFrame through UNTOUCHED.  Never a bare
    ``getattr(df, "df", df)``: DataFrame attribute access falls
    through to COLUMNS, so a frame carrying a column literally named
    ``df`` would hand back a Column."""
    return df if isinstance(df, DataFrame) else getattr(df, "df", df)


def get_spark(app_name: str = "simple_rust_query_engine_spark") -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    local[N] for tests/bench; the same config block is what we would
    ship to a 1000-executor cluster minus the master/memory lines.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        # driver testdata parquet carries TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # durable materialization barriers are reliable checkpoints
        # (pipeline.dedup.materialize); retire a round's checkpoint
        # files once its frame is garbage-collected so iterative
        # algorithms hold O(1) rounds of live disk
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_nano_read(spark: SparkSession) -> None:
    """Make THIS session able to read parquet TIMESTAMP(NANOS) files.

    The driver harness (and any real user) passes its own bare
    SparkSession — we cannot rely on configs set by ``get_spark()``.
    ``nanosAsLong`` is runtime-settable and applies to subsequent
    reads, so setting it here makes every entry point self-sufficient.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) in ``path``.

    Probed from the parquet footer (pyarrow) instead of a hardcoded
    registry — empirically only ``events.ts`` is nano in the driver
    testdata, but the data, not a table name list, is the authority.
    """
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        # recurse: a Hive-partitioned dataset (key=…/part-*.parquet)
        # has NO parquet file at the top level — a flat listdir would
        # return () and silently leave nano columns un-restored
        import glob as _glob

        inner = sorted(
            _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not inner:
            return ()
        probe = inner[0]
    try:
        schema = pq.read_schema(probe)
    except Exception:
        return ()
    import pyarrow as pa

    return tuple(
        f.name
        for f in schema
        if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
    )


#: SQL literal for the NTZ epoch — the anchor every timezone-independent
#: epoch computation in the package hangs off
EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def restore_nano_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Canonicalize parquet TIMESTAMP(NANOS) columns to TIMESTAMP_NTZ.

    What the scan returns depends on the Spark build and session confs,
    so every possibility is normalized to ONE canonical type —
    TIMESTAMP_NTZ, which is what the data means (isAdjustedToUTC=false)
    and what DuckDB's naive-timestamp oracle sees:

    * ``TimestampNTZType`` — pyspark ≥ 4.1 reads nanos natively as NTZ
      (truncated to micros): already canonical.
    * ``LongType`` — older builds under ``nanosAsLong=true``: rebuild
      NTZ by adding ``nanos div 1000`` micros to the NTZ epoch.
      Integer division, not ``/`` — a double round-trip loses precision
      above 2^53 (epoch nanos ≈ 1.7e18).
    * ``TimestampType`` (LTZ) — e.g. ``inferTimestampNTZ`` disabled:
      ``unix_micros`` extracts the instant (the naive value, since such
      reads treat the file value as UTC) and the NTZ rebuild is
      timezone-independent — no session-timezone cast anywhere.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fields = {f.name: f for f in df.schema.fields}
    for col_name in cols:
        field = fields.get(col_name)
        if field is None:
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                col_name,
                F.expr(
                    # floor ns→µs like DuckDB's TIMESTAMP_NS cast —
                    # bare `div 1000` truncates toward zero and lands
                    # pre-1970 sub-µs values 1 µs late
                    f"timestampadd(MICROSECOND, (`{col_name}` - pmod(`{col_name}`, 1000)) div 1000, {EPOCH_NTZ})"
                ),
            )
        elif isinstance(field.dataType, T.TimestampType):
            df = df.withColumn(
                col_name,
                F.expr(
                    f"timestampadd(MICROSECOND, unix_micros(`{col_name}`), {EPOCH_NTZ})"
                ),
            )
    return df


def epoch_ms(df: DataFrame, col_name: str):
    """Timezone-independent epoch milliseconds for a timestamp column.

    Works for every type a timestamp column can arrive as (NTZ from a
    modern parquet scan, LTZ from a legacy one, raw long nanos under
    ``nanosAsLong``) — ``unix_millis``/``unix_timestamp`` alone reject
    NTZ input, which is exactly the class of session-dependent breakage
    that killed ``range_join`` in round 2.  Truncates toward ZERO at
    the millisecond, exactly like DuckDB's ``epoch_ms`` (verified:
    both give 0 for 1969-12-31 23:59:59.9995); raw nanos floor to µs
    first, mirroring DuckDB's TIMESTAMP_NS→TIMESTAMP cast.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col_name].dataType
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MILLISECOND, {EPOCH_NTZ}, `{col_name}`)")
    if isinstance(dt, T.TimestampType):
        # unix_millis FLOORS pre-1970 sub-ms values, but DuckDB's
        # epoch_ms truncates toward zero (verified: epoch_ms of
        # 1969-12-31 23:59:59.9995 is 0, not -1) and so does the NTZ
        # timestampdiff branch — truncate via unix_micros div 1000 so
        # every branch agrees with the oracle and with each other
        return F.expr(f"unix_micros(`{col_name}`) div 1000")
    if isinstance(dt, T.LongType):  # raw nanos
        # mirror DuckDB's two-step pipeline exactly: ns→µs FLOORS
        # (the TIMESTAMP_NS→TIMESTAMP cast, verified), then µs→ms
        # TRUNCATES toward zero (epoch_ms).  pmod is non-negative, so
        # the inner floor is exact integer math.
        return F.expr(
            f"(((`{col_name}` - pmod(`{col_name}`, 1000)) div 1000) div 1000)"
        )
    if isinstance(dt, T.DateType):
        # a DATE has no timezone: days-since-epoch × 86_400_000,
        # negative for pre-1970 (datediff is signed)
        return F.datediff(
            F.col(col_name), F.lit("1970-01-01").cast("date")
        ).cast("long") * F.lit(86_400_000)
    raise TypeError(f"epoch_ms: {col_name} has non-timestamp type {dt}")


def epoch_us(df: DataFrame, col_name: str):
    """Timezone-independent epoch MICROseconds — the precision Spark
    timestamps actually carry.  Same type contract as ``epoch_ms``;
    use this when a comparison must not collapse sub-millisecond
    ordering (e.g. merge-asof direction tests)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col_name].dataType
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, `{col_name}`)")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(F.col(col_name))
    if isinstance(dt, T.LongType):  # raw nanos — floor toward -inf
        return F.expr(f"(`{col_name}` - pmod(`{col_name}`, 1000)) div 1000")
    if isinstance(dt, T.DateType):
        return F.datediff(
            F.col(col_name), F.lit("1970-01-01").cast("date")
        ).cast("long") * F.lit(86_400_000_000)
    raise TypeError(f"epoch_us: {col_name} has non-timestamp type {dt}")


def as_event_time(df: DataFrame, col_name: str) -> DataFrame:
    """Convert a timestamp column to ``TimestampType`` (LTZ) holding
    the naive value read as a UTC instant — timezone-independently.

    Structured Streaming watermarks REJECT ``TIMESTAMP_NTZ``
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so streaming event-time
    columns must be LTZ.  A plain ``cast`` would interpret the naive
    value in the session timezone and shift the instant; going through
    the tz-free epoch (``timestampdiff`` from the NTZ epoch →
    ``timestamp_micros``) pins naive == UTC on any session.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col_name].dataType
    if isinstance(dt, T.TimestampType):
        return df
    if isinstance(dt, T.TimestampNTZType):
        micros = F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, `{col_name}`)")
    elif isinstance(dt, T.LongType):  # raw nanos, floor toward -inf
        micros = F.expr(f"(`{col_name}` - pmod(`{col_name}`, 1000)) div 1000")
    else:
        raise TypeError(f"as_event_time: {col_name} has non-timestamp type {dt}")
    return df.withColumn(col_name, F.timestamp_micros(micros))


#: callbacks that drop caches holding barrier-backed DataFrames —
#: registered by modules that memoize materialized intermediates (e.g.
#: pipeline.dedup's near-dup edge table).  release_barriers invalidates
#: the underlying blocks, so any such cache MUST be cleared with them
#: or later hits would raise CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
_BARRIER_CACHE_CLEARERS: list = []


def register_barrier_cache(clear_fn) -> None:
    _BARRIER_CACHE_CLEARERS.append(clear_fn)


def release_barriers(spark: SparkSession) -> int:
    """Unpersist every persistent RDD in the context (localCheckpoint
    barriers included) and clear the SQL cache.  Returns the number of
    RDDs released.

    ``materialize`` barriers (``pipeline.dedup``) persist blocks that
    the JVM only reclaims when py4j finalizers run — in a long-lived
    session running many pipeline queries they accumulate (measured:
    +2 persistent RDDs per ngram+minhash round, and BENCH_r03 showed
    warm runs 28% SLOWER than cold once ~60 barriers piled up).  Call
    between logically-independent queries; do NOT call while a
    DataFrame built on a live barrier is still needed — a truncated
    lineage cannot recompute.

    Durable (reliable-checkpoint) barriers are unaffected: their
    files live in the checkpoint dir, not the block manager, and the
    context cleaner retires them as their frames are collected
    (``spark.cleaner.referenceTracking.cleanCheckpoints``)."""
    for clear in _BARRIER_CACHE_CLEARERS:
        clear()
    rdds = persistent_rdds(spark.sparkContext)
    for rdd in rdds.values():
        rdd.unpersist(False)
    spark.catalog.clearCache()
    return len(rdds)


def persistent_rdds(sc) -> dict:
    """The context's persistent RDDs (localCheckpoint barriers
    included) as {rdd id: JVM RDD}.  The per-batch ingest loops
    snapshot the ids before a batch and unpersist the ones that
    appeared during it once its commit lands."""
    out = {}
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        out[t._1()] = t._2()
    return out


#: file-input bytes per task below which widening a compute kernel
#: costs more than it saves: each extra task pays its own Arrow/Python
#: round-trip (A/B at sf0.1 on the signature kernel, 581 KB / 5000
#: docs: width 8 ≈ 73 KB/task beat both width 1 and width 32 — 1.37 s
#: vs 1.75 s vs 1.56 s for the full pair run).
MIN_BYTES_PER_TASK = 64 * 1024


def input_bytes(df: DataFrame) -> "int | None":
    """Total on-disk bytes of a file-backed frame, from driver-side
    metadata only (no job).  None when the frame has no resolvable
    local input files: cached or in-memory frames, non-file sources,
    and ``foreachBatch`` micro-batches (the sink hands the batch over
    as an RDD-backed frame)."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                return None
            total += os.path.getsize(unquote(p.path))
        return total
    except Exception:
        return None


def size_to_input(df: DataFrame, key: str) -> DataFrame:
    """The one parallelism rule for the compute-bound kernels (k-NN
    scoring, minhash signatures): run ``df`` at

        width = min(defaultParallelism, max(1, ceil(bytes / MIN_BYTES_PER_TASK)))

    tasks, ``bytes`` being the frame's input file size.  When the
    frame would run narrower — a compact corpus arriving as one
    parquet split strands the kernel on one core — add one hash
    exchange on the unique ``key`` column: deterministic, and unlike a
    round-robin exchange it needs no local sort of the rows first.
    Otherwise the plan is untouched, so small inputs stay at one task
    and inputs already split ``width`` ways or more (any at-scale
    corpus) stay map-only.

    Sizing never runs a job.  The bytes come from file metadata; the
    split count is read only from a plan with no exchange, where it
    is known before execution.  A shuffled input (or one with no
    resolvable files) is returned as it is: AQE sizes shuffle output
    from the data at run time."""
    total = input_bytes(df)
    if total is None:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    width = min(cores, max(1, -(-total // MIN_BYTES_PER_TASK)))
    if width <= 1:
        return df
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec" or (
        "Exchange" in plan.toString()
    ):
        return df
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width, key)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver parquet table under ``sf_dir`` and register
    each as a temp view named after the table.

    Works on ANY SparkSession — including one not built by
    ``get_spark()`` — and one unreadable table cannot prevent the
    other nine from loading.

    Parquet scans give Catalyst pushdown + pruning for free — the
    reference's hand-written ``ProjectionPushDownRule`` /
    ``PredicatePushDownRule`` (``src/optimize/rules/*.rs``) reduce to
    "read parquet declaratively".
    """
    import warnings

    ensure_nano_read(spark)

    out: dict[str, DataFrame] = {}
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        try:
            df = spark.read.parquet(path)
            df = restore_nano_ts(df, nano_ts_columns(path))
        except Exception as exc:  # pragma: no cover - hardening path
            warnings.warn(f"load_tables: skipping {path}: {exc}")
            continue
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


class SessionContext:
    """Facade with the reference's entry-point surface.

    Reference: ``src/execution/context.rs:44-84`` (``read_csv``,
    ``register_csv``, ``sql``).  Extended with parquet (driver data is
    parquet) and a generic ``register``/``table``.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()

    # -- sources ----------------------------------------------------
    def read_csv(self, path: str, **options) -> "EngineDataFrame":
        from .dataframe import EngineDataFrame
        from .sources.csv import read_csv

        return EngineDataFrame(read_csv(self.spark, path, **options))

    def read_parquet(self, path: str) -> "EngineDataFrame":
        from .dataframe import EngineDataFrame

        ensure_nano_read(self.spark)
        df = restore_nano_ts(self.spark.read.parquet(path), nano_ts_columns(path))
        return EngineDataFrame(df)

    def register_csv(self, name: str, path: str, **options) -> None:
        self.read_csv(path, **options).df.createOrReplaceTempView(name)

    def register_parquet(self, name: str, path: str) -> None:
        self.read_parquet(path).df.createOrReplaceTempView(name)

    def register(self, name: str, df) -> None:
        unwrap_df(df).createOrReplaceTempView(name)

    def table(self, name: str) -> "EngineDataFrame":
        from .dataframe import EngineDataFrame

        return EngineDataFrame(self.spark.table(name))

    # -- SQL entry point -------------------------------------------
    def sql(self, query: str) -> "EngineDataFrame":
        """Reference ``SessionContext::sql`` → here it is Catalyst.

        The reference validates table references by hand
        (``context.rs:87-102``); Spark's analyzer does that.

        Dialect shim: the reference parses with sqlparser's
        GenericDialect, where double quotes delimit IDENTIFIERS
        (its README orders by ``"SUM(r2)"`` — ``README.md:140``);
        Spark reads double quotes as string literals.  Rewriting
        them to backticks makes reference queries run verbatim.
        The rewrite is single-quote aware: double quotes INSIDE a
        single-quoted string literal (''-escaping respected) are
        left untouched."""
        import re

        from .dataframe import EngineDataFrame

        # alternation: match whole single-quoted literals first (with
        # '' escapes) and keep them verbatim; only bare "..." spans
        # outside literals become backtick identifiers
        def repl(mt: "re.Match[str]") -> str:
            if mt.group(1) is not None:
                return mt.group(0)  # single-quoted literal, untouched
            return f"`{mt.group(2)}`"

        query = re.sub(r"('(?:[^']|'')*')|\"([^\"]*)\"", repl, query)
        return EngineDataFrame(self.spark.sql(query))
