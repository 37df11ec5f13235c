"""Streaming deduplication — exact dedup of an unbounded document
feed, the ingest-time twin of ``pipeline/dedup.q_dedup_exact``.

Beyond reference parity (the reference has no stream processing,
SURVEY §2.9).  A training-data ingest pipeline dedups documents as
they ARRIVE, not in nightly batches; Structured Streaming's stateful
``dropDuplicates`` is exactly that operator:

* ``stream_dedup_exact`` — full-history dedup on the content digest.
  State is one entry per distinct digest, sharded across executors by
  the digest (uniform, no skew).  Unbounded history means unbounded
  state — correct for "never emit a duplicate ever", and the digest
  set is tiny relative to the corpus (16 bytes vs whole documents).
* ``stream_dedup_within_watermark`` — the bounded-state variant:
  ``dropDuplicatesWithinWatermark`` retires state once the watermark
  passes it, for the common case where duplicates cluster in time
  (re-crawls, retry storms).  State is bounded by the watermark
  horizon regardless of stream length.

The streaming path is held to the batch oracle (``SELECT DISTINCT
md5(text)``) through the memory sink, like ``events_window_stream``:
the emitted digest SET is deterministic even though which physical
row emits it is not — which is also why the query emits the digest
only (attaching "the first doc_id seen" would be a race; batch
``q_dedup_exact`` provides the deterministic min-id choice).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sink import drain_memory_sink


def _documents_stream(spark: SparkSession, sf_dir: str):
    from .source import file_stream

    return file_stream(spark, sf_dir, "documents")


def stream_dedup_exact(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "dedup_exact_stream",
):
    """readStream → md5(text) → stateful dropDuplicates → memory sink.
    Returns the started StreamingQuery; caller runs
    processAllAvailable() + stop()."""
    deduped = (
        _documents_stream(spark, sf_dir)
        .select(F.md5(F.col("text")).alias("content_hash"))
        .dropDuplicates(["content_hash"])
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


_STREAM_RUN = [0]


def q_dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the streaming dedup executed to completion, sink
    table returned — the STREAMING engine's output is hash-checked
    against the batch DISTINCT oracle."""
    _STREAM_RUN[0] += 1
    name = f"dedup_exact_stream_{_STREAM_RUN[0]}"
    q = stream_dedup_exact(spark, sf_dir, query_name=name)
    q.processAllAvailable()
    q.stop()
    # drained + dropped: repeated driver/bench invocations must not
    # accumulate one full-result in-memory table per call (r9 — the
    # same hygiene every other memory-sink entry got in r8)
    return drain_memory_sink(spark, name)


def stream_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "dedup_events_wm",
    horizon: str = "2 hours",
):
    """Bounded-state dedup over the events stream: one row per
    (user_id, hour) key, with per-key state retired once the event
    -time watermark passes ``horizon`` beyond it.  The shape for
    unbounded feeds where duplicates arrive close together."""
    from ..session import as_event_time
    from .events import _events_stream

    from ..session import epoch_ms

    src = as_event_time(_events_stream(spark, sf_dir), "ts")
    # hour key built from the INSTANT (epoch_ms floor), not date_trunc
    # — date_trunc snaps to session-timezone wall-clock boundaries
    # (half-hour offsets like +5:30 shift the key); epoch_ms is the
    # package's single tz-independent epoch source for any timestamp
    # flavor, and the rebuilt column is still a proper LTZ event-time
    # for the watermark
    hour_start = F.timestamp_millis(
        (F.floor(epoch_ms(src, "ts") / F.lit(3_600_000)) * 3_600_000).cast("long")
    )
    keyed = (
        src.withColumn("hour_start", hour_start)
        .withWatermark("hour_start", horizon)
        .select("user_id", "hour_start")
        .dropDuplicatesWithinWatermark(["user_id", "hour_start"])
    )
    return (
        keyed.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_minhash_signatures(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "minhash_sig_stream",
):
    """Ingest-time featurization: the SAME map-only Arrow/numpy
    signature UDF the batch dedup uses (``pipeline/dedup.
    minhash_signatures``), applied to the document stream.  Because
    the operator is stateless and per-row, it streams unchanged — the
    plan is a map over arriving files/micro-batches, no state store,
    no watermark.  This is how a 100 TB pipeline computes near-dup
    features on arrival instead of re-scanning the corpus nightly;
    the banded LSH pair join then runs as periodic batch over the
    accumulated signature table."""
    from ..pipeline.dedup import minhash_signatures

    sigs = minhash_signatures(_documents_stream(spark, sf_dir))
    return (
        sigs.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def q_minhash_sig_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: signatures computed THROUGH the streaming engine,
    hash-checked against the batch signature oracle."""
    _STREAM_RUN[0] += 1
    name = f"minhash_sig_stream_{_STREAM_RUN[0]}"
    q = stream_minhash_signatures(spark, sf_dir, query_name=name)
    q.processAllAvailable()
    q.stop()
    # the sink keeps the real array<long> signature; the contract row
    # ships it comma-joined — a flat string survives result
    # canonicalization/hashing that raw arrays break.  The sink view
    # is drained + dropped first (r9 catalog hygiene); the select runs
    # on the drained checkpoint-backed frame.
    return drain_memory_sink(spark, name).select(
        "doc_id",
        F.array_join(
            F.transform(F.col("sig"), lambda x: x.cast("string")), ","
        ).alias("sig"),
    )


def stream_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "decontaminate_stream",
):
    """Ingest-time benchmark decontamination: every ARRIVING document
    is probed against the held-out eval set's span-hash set before it
    enters the corpus — the streaming twin of
    ``pipeline/dedup.q_decontaminate`` and the shape a production
    ingest pipeline actually runs (contaminated docs never land).

    The eval hash set is tiny by construction (an eval suite, not a
    corpus), so it is collected ONCE as model state — same standing as
    the IVF centroids and ANN query vectors — and shipped inside a
    single Arrow UDF: the stream side is therefore 100% map-only,
    append mode, ZERO state store, no watermark.  A stream-static
    join formulation would force a per-doc streaming aggregation
    (unbounded state) for strictly worse semantics."""
    from pyspark.sql.functions import pandas_udf

    from ..pipeline.dedup import EVAL_SOURCE, SPAN_W, window_hash_udf

    ev_rows = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode(window_hash_udf()(F.col("text"))).alias("h"))
        .distinct()
        .collect()
    )
    ev_arr = np.sort(np.array([r.h for r in ev_rows], dtype=np.int64))
    width = SPAN_W

    @pandas_udf("array<bigint>")
    def probe_udf(texts: pd.Series) -> pd.Series:
        from ..pipeline.dedup import _py_window_hashes

        out = []
        for text in texts:
            h = _py_window_hashes(text, width)
            out.append(
                np.array([len(h), int(np.isin(h, ev_arr).sum())], dtype=np.int64)
            )
        return pd.Series(out)

    probed = (
        _documents_stream(spark, sf_dir)
        .filter(F.col("source") != EVAL_SOURCE)
        .select("doc_id", probe_udf(F.col("text")).alias("_c"))
        .select(
            "doc_id",
            F.element_at("_c", 1).alias("n_windows"),
            F.element_at("_c", 2).alias("n_hits"),
        )
        # batch twin only emits docs with >= 1 window (explode drops
        # the rest) — mirror that so the oracle matches exactly
        .filter(F.col("n_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_windows"), 6
            ).alias("contam_frac"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )
    return (
        probed.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def q_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: decontamination executed THROUGH the streaming
    engine, hash-checked against the same DuckDB oracle as the batch
    query."""
    _STREAM_RUN[0] += 1
    name = f"decontaminate_stream_{_STREAM_RUN[0]}"
    q = stream_decontaminate(spark, sf_dir, query_name=name)
    q.processAllAvailable()
    q.stop()
    return drain_memory_sink(spark, name)


def stream_minhash_ingest(
    spark: SparkSession,
    sf_dir: str,
    index_table: str,
    index_path: str,
    pairs_table: str,
    pairs_path: str | None = None,
    query_name: str = "minhash_ingest",
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
    checkpoint_location: str | None = None,
    release_batch_barriers: bool = True,
    label_table: str | None = None,
    label_path: str | None = None,
):
    """Continuous LSH near-dup ingest THROUGH the streaming engine —
    the streaming twin of the persisted band index
    (``pipeline.dedup.build_band_index``): per micro-batch of
    documents, ``foreachBatch`` runs ``pipeline.dedup.ingest_docs_batch``,
    the one ingest loop body, which

    1. computes the batch's band rows map-only (Arrow signature UDF
       over the BATCH only — paid exactly once per batch),
    2. APPENDS them to the index table, a plain parquet table (the
       probe broadcasts the batch, so no bucket layout is needed and
       a batch writes one file per band-checkpoint partition), then
    3. PROBES the index with those same band rows (batch broadcast,
       index never shuffled) and appends the resulting pairs to
       ``pairs_table``.

    Because the append precedes the probe, a batch sees itself plus
    everything earlier: each unordered near-dup pair surfaces exactly
    once — in the probe of its LATER member's batch — so after any
    prefix of batches the accumulated ``pairs_table`` equals the
    from-scratch ``minhash_lsh_pairs`` over the documents ingested so
    far (pinned multi-batch by
    ``tests/test_streaming_multibatch.py::test_stream_minhash_ingest_accumulates_full_pairs``).
    This is the 100 TB ingest steady state: per batch, one map-only
    UDF pass over the batch, one plain append, one broadcast
    probe; the corpus-sized index is never recomputed or reshuffled.

    Failure semantics — foreachBatch is AT-LEAST-ONCE, and the two
    appends are not transactional, so a task retry or restart can
    replay a batch's appends.  Replays cannot produce WRONG pairs,
    only duplicate rows: a duplicated band append yields duplicate
    candidates whose pair stats are identical, and a duplicated pairs
    append repeats rows verbatim — so the correct read of
    ``pairs_table`` is ``DISTINCT`` (the driver query does this), and
    duplicate index rows cost probe work, never correctness.  In
    production pass ``checkpoint_location`` so a restarted stream
    resumes from the committed source offset (only the in-flight
    batch can replay) instead of re-ingesting every file; compact the
    index periodically (``sources.write.compact_parquet``) if replay
    duplicates accumulate.

    Each batch's materialization barriers (signature + band
    localCheckpoints) are released once its appends commit — without
    that, a long-running ingest grows block-manager storage linearly
    with batch count.  The sweep assumes this stream owns the session
    (the intended deployment): it unpersists every RDD persisted
    DURING the batch, which would race with a concurrent query
    creating barriers in the same session — a later read of that
    query's truncated frame raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    A SHARED-session caller must pass
    ``release_batch_barriers=False`` (the guard, not just a docstring
    assumption) and manage block growth itself, e.g. via
    ``session.release_barriers`` between its own queries.

    Pass ``label_table``/``label_path`` to ALSO maintain component
    labels continuously: after each batch's pairs land, the thresholded
    new edges are folded into the persisted label state (a
    driver-side union-find over the edges' component labels, applied
    as a literal relabel map — ``fold_edges_into_labels``) and the
    merged labels committed back.  Batch docs enter with
    identity labels via an ANTI-join against the state, so an
    at-least-once replay of a committed batch re-merges the same
    edges into the same labels (idempotent) instead of duplicating
    vertices.  After any prefix of batches the label state equals
    from-scratch CC over the same-threshold LSH edges of the
    documents seen so far."""
    if label_table is not None and label_path is None:
        raise ValueError("stream_minhash_ingest: label_table needs label_path")
    from ..pipeline.dedup import ingest_docs_batch
    from .source import file_stream

    src = file_stream(
        spark,
        sf_dir,
        "documents",
        glob=glob,
        max_files_per_trigger=max_files_per_trigger,
    )

    def ingest(batch_df, batch_id):
        ingest_docs_batch(
            spark,
            batch_df,
            index_table,
            index_path,
            label_table,
            label_path,
            release_batch_barriers=release_batch_barriers,
            pairs_table=pairs_table,
            pairs_path=pairs_path,
        )

    writer = src.writeStream.foreachBatch(ingest).queryName(query_name)
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.trigger(availableNow=True).start()


def q_dedup_minhash_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: the full corpus ingested through
    ``stream_minhash_ingest`` (single micro-batch at driver scale —
    the multi-batch path is pinned by the chronological-replay test),
    accumulated pairs returned.  One batch holding every doc probes
    the fully-appended index, so the result is the COMPLETE pair set:
    hash-checked against the same DuckDB oracle as ``dedup_minhash``."""
    import uuid

    # uuid, not a run counter: the counter restarts per process while
    # spark-warehouse/ persists, so a managed table named by counter
    # collides with a previous process's leftover directory
    # (LOCATION_ALREADY_EXISTS — caught by the durable hardening
    # sweep).  Both tables get explicit locations under ONE
    # per-process dir removed at interpreter exit (same lifecycle as
    # the band-index cache dir) so neither the repo warehouse nor
    # /tmp accumulates run leftovers; the uuid-named catalog entries
    # are in-memory metadata that dies with the session.
    run = uuid.uuid4().hex[:10]
    index_table = f"minhash_ingest_idx_{run}"
    pairs_table = f"minhash_ingest_pairs_{run}"
    tmp = os.path.join(_ingest_run_dir(), run)
    q = stream_minhash_ingest(
        spark,
        sf_dir,
        index_table,
        os.path.join(tmp, "idx"),
        pairs_table,
        pairs_path=os.path.join(tmp, "pairs"),
        query_name=f"minhash_ingest_{run}",
    )
    q.processAllAvailable()
    q.stop()
    # Read the result from its parquet path, then drop the run's
    # catalog entries: repeated driver/bench invocations would
    # otherwise accumulate uuid-named tables for the session lifetime
    # (the external-table files under the per-process run dir are
    # untouched by DROP and removed at interpreter exit).
    # DISTINCT: at-least-once appends can only duplicate rows (never
    # alter the pair set) — see stream_minhash_ingest's failure notes
    pairs = spark.read.parquet(os.path.join(tmp, "pairs")).distinct()
    for tbl in (index_table, pairs_table):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return pairs


def q_dedup_labels_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for CONTINUOUS label maintenance: the corpus
    ingested through ``stream_minhash_ingest`` with
    ``label_table`` set, so every micro-batch appends its bands,
    probes, and folds the thresholded edges into the persisted label
    state (``fold_edges_into_labels``: union-find relabel + commit).
    The committed state after the stream drains must equal
    from-scratch minhash-edged CC over the corpus — the oracle IS
    that recursive CTE
    (``pipeline.dedup.mh_cc_labels_oracle``); the multi-batch
    chronological-replay path is pinned by
    ``tests/test_streaming_multibatch.py``."""
    import uuid

    run = uuid.uuid4().hex[:10]
    index_table = f"labels_stream_idx_{run}"
    pairs_table = f"labels_stream_pairs_{run}"
    label_table = f"labels_stream_state_{run}"
    tmp = os.path.join(_ingest_run_dir(), run)
    q = stream_minhash_ingest(
        spark,
        sf_dir,
        index_table,
        os.path.join(tmp, "idx"),
        pairs_table,
        pairs_path=os.path.join(tmp, "pairs"),
        query_name=f"labels_stream_{run}",
        label_table=label_table,
        label_path=os.path.join(tmp, "labels"),
    )
    q.processAllAvailable()
    q.stop()
    # same catalog hygiene as the ingest-stream entry above: hand back
    # a path-backed read of the committed state and drop the run's
    # three uuid-named tables so the session catalog stays bounded
    labels = spark.read.parquet(os.path.join(tmp, "labels"))
    for tbl in (index_table, pairs_table, label_table):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return labels


_INGEST_RUN_DIR: list = [None]


def _ingest_run_dir() -> str:
    if _INGEST_RUN_DIR[0] is None:
        import atexit
        import shutil
        import tempfile

        _INGEST_RUN_DIR[0] = tempfile.mkdtemp(prefix="srqe_ingest_runs_")
        atexit.register(shutil.rmtree, _INGEST_RUN_DIR[0], True)
    return _INGEST_RUN_DIR[0]


def _minhash_sig_stream_oracle() -> str:
    from ..pipeline.dedup import MH_K, _minhash_sig_sql

    sig_list = "[" + ", ".join(f"s{i}" for i in range(MH_K)) + "]"
    return (
        f"SELECT doc_id, array_to_string({sig_list}, ',') AS sig "
        f"FROM ({_minhash_sig_sql()}) t"
    )


def _decontaminate_stream_oracle() -> str:
    # the streaming probe must equal the BATCH decontamination oracle
    # exactly (per-doc results are independent of micro-batch split)
    from ..pipeline import dedup as _batch_dedup

    return _batch_dedup.ORACLE["decontaminate"]


def _minhash_ingest_oracle() -> str:
    # the accumulated streaming ingest pairs over the full corpus ARE
    # the full from-scratch pair set — one oracle definition with the
    # batch dedup_minhash row
    from ..pipeline.dedup import _minhash_oracle

    return _minhash_oracle()


def _labels_stream_oracle() -> str:
    # continuous label maintenance must reproduce from-scratch
    # minhash-edged CC exactly — shared definition
    from ..pipeline.dedup import mh_cc_labels_oracle

    return mh_cc_labels_oracle()


ORACLE: dict[str, str] = {
    "dedup_exact_stream": "SELECT DISTINCT md5(text) AS content_hash FROM documents",
    "minhash_sig_stream": _minhash_sig_stream_oracle(),
    "decontaminate_stream": _decontaminate_stream_oracle(),
    "dedup_minhash_ingest_stream": _minhash_ingest_oracle(),
    "dedup_labels_stream": _labels_stream_oracle(),
}

QUERIES: dict = {}

#: entries that need (spark, sf_dir) directly (streaming sources)
QUERIES_SPARK = {
    "dedup_exact_stream": q_dedup_exact_stream,
    "minhash_sig_stream": q_minhash_sig_stream,
    "decontaminate_stream": q_decontaminate_stream,
    "dedup_minhash_ingest_stream": q_dedup_minhash_ingest_stream,
    "dedup_labels_stream": q_dedup_labels_stream,
}
