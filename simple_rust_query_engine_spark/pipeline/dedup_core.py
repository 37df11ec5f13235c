"""Shared dedup-pipeline primitives: materialization barriers and
the session-scoped state cache.

Split out of ``dedup.py`` (r8, VERDICT r7 item 6) — every name here is
re-exported by the ``dedup`` facade, which remains the import surface.

* ``materialize`` — the hard lineage-truncating barrier every
  multi-consumer intermediate in the family goes through.
* ``_STATE_CACHE`` / ``_session_cached`` — one cache for every piece
  of session-scoped dedup state; ``state:``-tagged entries are
  persisted parquet tables that survive ``release_barriers``.
* ``_state_table`` — the build-once persisted-state-table pattern the
  incremental ingest queries read between batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: durability switch for every hard materialization barrier below.
#: default (False): ``localCheckpoint`` — fastest; partitions are
#: recomputed from scratch if an executor dies.  durable (True, or env
#: SPARK_GRAFT_DURABLE=1): eager RELIABLE ``checkpoint`` — replayable
#: from stable storage after executor loss, the right setting for
#: long cluster jobs where losing an executor mid-join is routine.
DURABLE_MATERIALIZE = os.environ.get("SPARK_GRAFT_DURABLE", "") == "1"


def materialize(df: DataFrame, durable: bool | None = None) -> DataFrame:
    """Hard materialization barrier for a multi-consumer intermediate.

    Catalyst inlines a UDF-bearing subtree into every consumer (the
    static minhash plan showed 8 ArrowEvalPython nodes, zero reuse);
    a barrier computes it once.  Both flavors TRUNCATE LINEAGE, which
    iterative callers (connected components) depend on as hard as
    they depend on the data barrier: a persist-based "barrier" keeps
    the full logical plan, so per-round plans nest and Catalyst
    re-analysis grows exponentially — the 64-chain star-CC test went
    5 s → 15 s → minutes per round under an earlier persist(DISK_ONLY)
    implementation while reading every byte from cache.

    * ``durable=False`` — ``localCheckpoint(eager=True)``: blocks are
      executor-local, lost blocks are lost (recompute = rerun the
      query).  Fine single-node / short jobs.
    * ``durable=True`` — reliable ``checkpoint(eager=True)``: files in
      the checkpoint dir survive executor loss; for 100 TB runs.  On a
      cluster, point ``setCheckpointDir`` at HDFS/S3 BEFORE the first
      barrier — a local path would scatter partition files across
      executor disks where the driver cannot read them back, so an
      unset dir on a non-local master raises immediately rather than
      failing deep in a pipeline.  Locally, a fresh per-process tmp
      dir is installed (mkdtemp — no collision with other users'
      runs) and removed at interpreter exit; superseded checkpoints
      within a run are retired by the context cleaner when
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on
      (set by ``get_spark()``; best-effort — it needs the frame
      GC'd, so worst-case live disk in an iterative loop is
      O(rounds), each checkpoint label-table-sized, until exit
      cleanup).
    """
    if durable is None:
        durable = DURABLE_MATERIALIZE
    if durable:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            if not sc.master.startswith("local"):
                raise RuntimeError(
                    "durable materialize on a cluster needs "
                    "sparkContext.setCheckpointDir(<HDFS/S3 path>) before "
                    "the first barrier: a node-local default would write "
                    "checkpoint partitions to executor disks the driver "
                    "cannot read back"
                )
            sc.setCheckpointDir(_fallback_checkpoint_dir())
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


_FALLBACK_CK_DIR: str | None = None


def _fallback_checkpoint_dir() -> str:
    """Per-process local checkpoint dir, removed at interpreter exit.

    A fixed shared path (e.g. /tmp/srqe_checkpoints) would be owned by
    whichever user ran first and break durable mode for everyone else
    on the machine — and reliable-checkpoint files outlive the
    SparkContext, so without the atexit hook every run would leak its
    final checkpoints to disk permanently."""
    global _FALLBACK_CK_DIR
    if _FALLBACK_CK_DIR is None:
        import atexit
        import shutil
        import tempfile

        _FALLBACK_CK_DIR = tempfile.mkdtemp(prefix="srqe_checkpoints_")
        atexit.register(shutil.rmtree, _FALLBACK_CK_DIR, True)
    return _FALLBACK_CK_DIR
# ------------------------------------------- persisted band index
#: bucket count for the batch band index (``build_band_index``) and
#: the ``_state_table`` state tables, whose band self-join and
#: doc_id joins read the bucket layout shuffle-free.  The per-batch
#: ingest loops write plain tables and do not use it.
BAND_BUCKETS = 32

_STATE_TBL_DIR: str | None = None

#: audit trail of _state_table outcomes, ("built"|"adopted",
#: table_name) — what the cross-process adoption test (and a curious
#: operator) reads to prove a fresh driver REUSED prior state instead
#: of re-running the build.  Session-cache hits return the memoized
#: table name without re-entering build() and record nothing, so the
#: trail is one entry per (session, state table), not per call.
STATE_TABLE_EVENTS: list[tuple[str, str]] = []


def _state_table_dir() -> str:
    """Directory for persisted pipeline-state tables (band indexes,
    label state, pair state, centroids, PQ codes).

    Default: per-process mkdtemp, removed at interpreter exit — every
    fresh driver pays the full state build.  Set
    ``SPARK_GRAFT_STATE_DIR`` to a durable path (on a cluster:
    HDFS/S3-backed) and state SURVIVES the process: table names are
    content-addressed (md5 of plan-fingerprint + input files), so a
    new driver whose corpus and derivation match simply ADOPTS the
    prior process's table — registration replay from the sidecar
    meta, zero recompute.  At sf1 this is the difference between a
    787 s cold ``split_by_cluster`` and a 0.2 s steady one (VERDICT
    r11 observation 3).  The durable dir assumes one WRITER at a time
    per table key (the warehouse contract); adoption only trusts
    tables whose sidecar meta exists, and the sidecar is written
    after the data, so a crashed half-write is rebuilt, not adopted.

    One state family opts out: the BAND INDEX
    (``dedup_sketch._band_index_for``) is mutable ingest state —
    streams append to it — so adopting another process's copy would
    inherit its appends; it rebuilds per process (no sidecar) until
    an append journal exists."""
    durable = os.environ.get("SPARK_GRAFT_STATE_DIR")
    if durable:
        os.makedirs(durable, exist_ok=True)
        return durable
    return _process_state_dir()


def _process_state_dir() -> str:
    """Per-process state dir (mkdtemp, removed at exit) — the home of
    state that must NOT be shared across processes even when
    ``SPARK_GRAFT_STATE_DIR`` is set.  The band index lives here: it
    is per-process MUTABLE ingest state (streams append to it), so
    two processes writing the same content-addressed path in a shared
    durable dir would overwrite each other's live files mid-append
    (ADVICE r12).  Adoptable, immutable state keeps using
    ``_state_table_dir``."""
    global _STATE_TBL_DIR
    if _STATE_TBL_DIR is None:
        import atexit
        import shutil
        import tempfile

        _STATE_TBL_DIR = tempfile.mkdtemp(prefix="srqe_state_")
        atexit.register(shutil.rmtree, _STATE_TBL_DIR, True)
    return _STATE_TBL_DIR


def dedup_config_salt() -> str:
    """Algorithm/config fingerprint folded into every durable dedup
    state key (ADVICE r12): cross-process adoption trusts a sidecar at
    name+md5(docs_key), so the key must change whenever a constant
    that changes the TABLES' CONTENT changes — otherwise a new
    process silently adopts state computed under the old semantics
    (exactly the failure r12's kmeans seed change would have caused
    had centroids been adopted across that round).  Derived from the
    live constants, not a hand-bumped literal, so it cannot go stale;
    the trailing ``ccv1`` covers CC label semantics (smallest
    reachable doc_id), which no constant encodes — bump it by hand if
    that ever changes."""
    from . import dedup_ingest as _di
    from . import dedup_sketch as _ds

    return (
        f"jt{_ds.JACCARD_T}|sn{_ds.SHINGLE_N}|k{_ds.MH_K}b{_ds.MH_BANDS}"
        f"m{_ds.MH_MOD}|nm{_di.MH_DUP_NM}|incr{_ds.INCR_MOD}|ccv1"
    )


def file_inventory(files: list) -> str:
    """File list widened with size+mtime per file (local paths; a
    non-local URI contributes its name alone — a cluster deployment
    would swap in FileSystem.listStatus here): in-place rewrites of
    the corpus change the inventory, so durable adoption rebuilds
    instead of serving state derived from bytes that no longer
    exist.  The ONE spelling, shared by the dedup-family keys below
    and the kmeans/PQ keys in ``similarity`` — two drifting copies
    would silently split the durable-state namespace between the
    families (r13 review)."""
    parts = []
    for uri in files:
        path = uri[5:] if uri.startswith("file:") else uri
        try:
            st = os.stat(path)
            parts.append(f"{uri}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(uri)
    return "|".join(parts)


def docs_state_key(docs: DataFrame, sf_dir: str) -> str:
    """Content-identifying ``docs_key`` for the dedup family's durable
    state tables: corpus path + input-file inventory (name, size,
    mtime) + config salt.  A bare ``abspath(sf_dir)`` key (the
    pre-r13 scheme) let a second process adopt stale tables after the
    corpus files changed in place or the dedup constants moved
    (ADVICE r12 medium); folding the inventory + salt into the md5'd
    key makes either change a different table name, so the stale
    sidecar is simply never looked up and the state rebuilds.
    ``os.stat`` only resolves local paths — on HDFS/S3 input the
    inventory falls back to the file list alone (still
    content-addressed by path set + salt; see ``file_inventory``).

    Session-cached per (corpus path, docs anchor): the key folds in
    a JVM ``inputFiles()`` round-trip plus one stat per part file,
    and the state helpers call it on EVERY invocation — at thousands
    of part files that is a per-call listing for a key that cannot
    change mid-session (the parquet immutability contract every
    cache here already assumes; r13 review)."""

    def build() -> str:
        return "|".join(
            [
                os.path.abspath(sf_dir),
                dedup_config_salt(),
                file_inventory(sorted(docs.inputFiles())),
            ]
        )

    return _session_cached(f"docs_key:{os.path.abspath(sf_dir)}", docs, build)


def _adopt_state_table(spark, table: str, path: str, meta: dict) -> None:
    """Register a durable state table written by a PRIOR process in
    this session's catalog: replay the layout DDL (plain / CLUSTERED
    BY / PARTITIONED BY) against the existing files.  Bucket metadata
    lives in the catalog, not the files, so replaying CLUSTERED BY is
    what keeps the adopted table's joins shuffle-free; partitioned
    adoption recovers the partition index so FileScan
    PartitionFilters keep pruning at the storage layer."""
    if spark.catalog.tableExists(table):
        spark.catalog.refreshTable(table)
        return
    cols = ", ".join(f"`{n}` {t}" for n, t in meta["columns"])
    clauses = ""
    if meta.get("bucket_by"):
        bcols = ", ".join(f"`{c}`" for c in meta["bucket_by"])
        clauses = (
            f" CLUSTERED BY ({bcols}) INTO {meta['num_buckets']} BUCKETS"
        )
    elif meta.get("partition_by"):
        pcols = ", ".join(f"`{c}`" for c in meta["partition_by"])
        clauses = f" PARTITIONED BY ({pcols})"
    spark.sql(
        f"CREATE TABLE `{table}` ({cols}) USING parquet{clauses} "
        f"LOCATION '{path}'"
    )
    if meta.get("partition_by"):
        spark.catalog.recoverPartitions(table)
    spark.catalog.refreshTable(table)


def _state_table(
    spark,
    name: str,
    docs_key: str,
    build_df,
    bucket_by: list[str] | None = None,
    num_buckets: int = BAND_BUCKETS,
    partition_by: list[str] | None = None,
) -> str:
    """Build-once persisted STATE table per (session, corpus): the
    incremental-ingest pattern where per-batch queries read state a
    real pipeline holds between batches instead of recomputing it per
    call.  The table name is cached in ``_STATE_CACHE`` anchored on
    the SESSION under a ``state:`` tag, which ``release_barriers``
    deliberately KEEPS — the files are parquet, not checkpoint
    blocks, and surviving the block sweep is the point of persisting
    state.  A reused id() after a session dies cannot resurrect its
    table name (weakref identity check).

    ``bucket_by`` co-locates join keys (shuffle-free equi-joins);
    ``partition_by`` lays the table out as one directory per key
    value, so an equality/IN filter on that column prunes at the
    STORAGE layer (FileScan PartitionFilters — files for other
    values are never opened).  Use it for low-cardinality scan-prune
    keys (IVF cells); a high-cardinality key would explode the file
    count."""
    import hashlib

    # the layouts are mutually exclusive below (bucket_by wins the
    # elif), so a caller passing both would silently get a bucketed,
    # UNpartitioned table — losing the storage-layer pruning it asked
    # for (ADVICE r11)
    assert not (bucket_by and partition_by), (
        "_state_table: bucket_by and partition_by are mutually "
        "exclusive — pick the co-location layout or the pruning layout"
    )

    def build() -> str:
        import json

        table = f"{name}_" + hashlib.md5(docs_key.encode()).hexdigest()[:12]
        path = os.path.join(_state_table_dir(), table)
        meta_path = os.path.join(path, "_srqe_meta.json")
        durable = bool(os.environ.get("SPARK_GRAFT_STATE_DIR"))
        # cross-process adoption (durable dir only): the table name is
        # content-addressed, so a sidecar at this path means a prior
        # process already built THIS state — register it, skip the build
        if durable and os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            _adopt_state_table(spark, table, path, meta)
            STATE_TABLE_EVENTS.append(("adopted", table))
            return table
        df = build_df()
        if bucket_by:
            from ..sources.write import write_bucketed

            write_bucketed(df, table, path, bucket_by=bucket_by,
                           num_buckets=num_buckets)
        elif partition_by:
            (
                df.write.mode("overwrite")
                .partitionBy(*partition_by)
                .option("path", path)
                .saveAsTable(table)
            )
            spark.catalog.refreshTable(table)
        else:
            df.write.mode("overwrite").option("path", path).saveAsTable(table)
            spark.catalog.refreshTable(table)
        if durable:
            # written AFTER the data: its presence is the completion
            # marker adoption trusts (a crashed half-write has no
            # sidecar and is rebuilt).  Column types from the TABLE's
            # schema, not build_df's — saveAsTable puts partition
            # columns last, and the replayed DDL must match the files
            schema = spark.table(table).schema
            meta = {
                "columns": [
                    [fld.name, fld.dataType.simpleString()]
                    for fld in schema.fields
                ],
                "bucket_by": list(bucket_by) if bucket_by else None,
                "num_buckets": num_buckets if bucket_by else None,
                "partition_by": list(partition_by) if partition_by else None,
            }
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, meta_path)
        STATE_TABLE_EVENTS.append(("built", table))
        return table

    return _session_cached(f"state:{name}:{docs_key}", spark, build)

#: (tag, id(anchor)) → (weakref(anchor), cached value).  One cache for
#: every piece of session-scoped dedup state (near-dup edge table,
#: component labels, incremental base labels, band-index table names):
#: the whole dedup family derives from shared intermediates a pipeline
#: should pay once per corpus per session.  DataFrame entries are
#: backed by localCheckpoint blocks, so `session.release_barriers`
#: clears this cache along with the blocks (registered below) — a
#: stale hit would raise CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  The
#: weakref identity check mirrors __spark_entry__._tables (id-reuse
#: hazard); the weakref CALLBACK pops the entry when its anchor dies,
#: so a long-lived session processing many distinct corpora cannot
#: grow the dict unboundedly or pin dead frames' checkpoint blocks.
_STATE_CACHE: dict = {}


def _session_cached(tag: str, anchor, build, on_evict=None):
    """Memoize ``build()`` per (tag, live anchor object).  A hit
    requires the stored weakref to resolve to the SAME object — a
    reused ``id()`` after the anchor died fails the identity check,
    evicts the stale entry, and rebuilds.

    ``on_evict(value)`` runs when the entry leaves the cache because
    its anchor died (weakref callback) or failed the identity check —
    the deterministic release hook for entries holding executor-side
    resources (a broadcast variable's ``unpersist``); without it,
    freeing relies on the anchor's GC plus Spark's best-effort
    ContextCleaner.  Exceptions are swallowed: the hook can fire at
    interpreter exit or after the owning SparkContext stopped."""
    import weakref

    def _release(val):
        if on_evict is not None:
            try:
                on_evict(val)
            except Exception:
                pass

    key = (tag, id(anchor))
    hit = _STATE_CACHE.get(key)
    if hit is not None:
        wref, val, release = hit
        if wref() is anchor:
            return val
        del _STATE_CACHE[key]
        release(val)
    val = build()

    def _evict(dead_ref, _key=key):
        # module globals may already be torn down at interpreter exit
        cache = globals().get("_STATE_CACHE")
        if cache is None:
            return
        hit = cache.get(_key)
        # only evict the entry THIS weakref was registered for (the
        # callback hands us the dead weakref itself): if the dead
        # anchor's id() was reused by a new live anchor whose entry
        # replaced ours under the same key, popping blindly would
        # evict — and unpersist the broadcasts of — the NEW entry
        # (ADVICE r9)
        if hit is not None and hit[0] is dead_ref:
            del cache[_key]
            hit[2](hit[1])

    _STATE_CACHE[key] = (weakref.ref(anchor, _evict), val, _release)
    return val


def evict_state(tag_substr: str) -> int:
    """Evict every ``_STATE_CACHE`` entry whose tag contains
    ``tag_substr``, firing each entry's release hook — the supported
    way for external code (benches, tests) to drop entries.  Popping
    the dict directly skips ``on_evict`` and leaks executor-side
    resources (an unpersisted tile-index broadcast per cold iteration
    — ADVICE r9).  Returns the number of entries evicted."""
    n = 0
    for k in [k for k in _STATE_CACHE if tag_substr in k[0]]:
        gone = _STATE_CACHE.pop(k, None)
        if gone is not None:
            gone[2](gone[1])
            n += 1
    return n


def evict_state_entry(tag: str, anchor) -> bool:
    """Evict the single ``(tag, anchor)`` entry, firing its release
    hook — the anchor-scoped sibling of ``evict_state`` for callers
    that must drop ONE corpus's entry without touching same-tag
    entries for other anchors (``route_text_dedup`` dropping the
    shingle barrier it probed on the LSH route).  The supported
    replacement for hand-spelled ``_STATE_CACHE.pop`` (ADVICE r12):
    the key layout lives here, next to the cache."""
    gone = _STATE_CACHE.pop((tag, id(anchor)), None)
    if gone is not None:
        gone[2](gone[1])
        return True
    return False


def _same_corpus(a: DataFrame, b: DataFrame) -> bool:
    """Catalyst plan equivalence (``sameResult`` — the relation the
    optimizer's own ReuseExchange trusts): True when two frames are
    guaranteed to produce the same rows, e.g. two independent reads
    of the same parquet path.  Assumes immutable input files within a
    session, the standard parquet contract.  Session identity is part
    of the match: a localCheckpoint-backed cache entry is bound to the
    session whose block manager holds its blocks, so in a multi-session
    process (e.g. a bare `SparkSession.newSession()` driver) a
    plan-equal frame from ANOTHER session must rebuild, not reuse."""
    if a.sparkSession is not b.sparkSession:
        return False
    try:
        return bool(
            a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()
            )
        )
    except Exception:
        return False


from ..session import register_barrier_cache as _register_barrier_cache


def _clear_barrier_backed_state() -> None:
    """`release_barriers` hook: drop every checkpoint-BACKED cache
    entry (edge frames, label frames — their blocks are about to be
    unpersisted, a stale hit would raise
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) but KEEP ``state:`` entries
    (band indexes, persisted label/pair state): those are registered
    parquet tables whose files survive the block sweep, and
    rebuilding them per release would re-pay the one-time layout cost
    the persisted-state design exists to amortize."""
    for key in list(_STATE_CACHE):
        if not key[0].startswith("state:"):
            _STATE_CACHE.pop(key, None)


_register_barrier_cache(_clear_barrier_backed_state)
