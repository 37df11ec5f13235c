"""Quality-aware canonicalization and the stateful ingest cycle:
``keep_best``, label-state commit/fold, per-batch document ingest,
and fuzzy decontamination.  Split out of ``dedup.py`` (r8); the
``dedup`` facade re-exports everything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import persistent_rdds
from .dedup_core import _state_table, materialize
from .dedup_sketch import (
    INCR_MOD,
    MH_K,
    _band_index_for,
    _checkpointed_bands,
    minhash_pairs_from_index,
    probe_band_index,
)
from .dedup_spans import EVAL_SOURCE
from .dedup_state import (
    _label_state_for,
    _read_docs,
    connected_components,
    relabel,
)

def keep_best(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Quality-aware canonical selection over PRECOMPUTED component
    labels: one representative per near-dup component, chosen by
    CONTENT (highest distinct-token count, tie → lowest doc_id)
    instead of the arbitrary lowest-id rule — real curation keeps the
    richest duplicate (the full article, not the truncated scrape).
    Emits per component: label, keep_id, the keeper's uniq_tokens,
    and the member count.

    Accepting ``labels`` (doc_id, label) decouples the selection from
    label construction: a pipeline that already ran
    ``connected_components`` (or holds labels from a previous ingest
    cycle) pays ONE shuffle on the component label here — row_number
    and the member count share the same window partitioning, so
    ranking costs a single exchange.  Components are near-dup groups,
    inherently small (bounded by the dedup threshold, not corpus
    size), so the label key is uniform at any scale.  The richness
    metric is an integer distinct-count — no float compare at the
    keep/drop boundary.
    """
    from pyspark.sql import Window

    richness = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("uniq_tokens"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("uniq_tokens").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("label")
    return (
        labels.join(richness, "doc_id")
        .select(
            "label",
            "doc_id",
            "uniq_tokens",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "label",
            F.col("doc_id").alias("keep_id"),
            "uniq_tokens",
            "n_members",
        )
    )


def q_dedup_keep_best(spark, sf_dir: str) -> DataFrame:
    """Driver composition: ``keep_best`` over the PERSISTED label
    state (built once per session by whichever label consumer runs
    first) — per call this pays one doc_id join against the bucketed
    state plus the single label-window exchange, never the CC loop."""
    docs = _read_docs(spark, sf_dir)
    labels = spark.table(
        _label_state_for(spark, docs, os.path.abspath(sf_dir))
    )
    return keep_best(docs, labels)


#: minhash near-dup edge threshold for the stateful pipeline, in
#: agreeing signature rows (integer compare — never a float
#: boundary): est_jaccard >= 0.5, i.e. ceil(MH_K * 0.5).  The SINGLE
#: definition of this expression — DECON_NM (fuzzy decontamination)
#: aliases it; give that dial its own value if the two ever diverge.
MH_DUP_NM = -(-MH_K // 2)


def _mh_old_label_state_for(
    spark, docs: DataFrame, docs_key: str, idx_table: str
) -> str:
    """Base label state for the MINHASH-edged stateful pipeline: CC
    over the both-old candidate pairs read shuffle-free off the
    bucketed band index, plus identity labels for the arriving batch.
    Built once per (session, corpus) — the label table the incremental
    pipeline maintains."""

    def build() -> DataFrame:
        is_new = lambda c: c % INCR_MOD == 0  # noqa: E731
        old_edges = (
            minhash_pairs_from_index(spark, idx_table)
            .filter(
                ~is_new(F.col("doc_a"))
                & ~is_new(F.col("doc_b"))
                & (F.col("n_match") >= MH_DUP_NM)
            )
            .select("doc_a", "doc_b")
        )
        old_docs = docs.filter(~is_new(F.col("doc_id"))).select("doc_id")
        return connected_components(old_edges, old_docs).union(
            docs.filter(is_new(F.col("doc_id"))).select(
                "doc_id", F.col("doc_id").alias("label")
            )
        )

    from .dedup_core import docs_state_key

    return _state_table(
        spark,
        "mh_old_label_state",
        docs_state_key(docs, docs_key),
        build,
        bucket_by=["doc_id"],
    )


def commit_label_state(
    spark, labels: DataFrame, table: str, path: str,
    barrier: bool = True,
) -> None:
    """Overwrite the persisted label state with merged labels — the
    COMMIT step of the ingest cycle.  ``table`` is a plain parquet
    table at ``path`` holding exactly the current (doc_id, label)
    rows, so its scan is split by bytes like any file read; nothing
    reading it needs a bucket layout (the fold's anti-join broadcasts
    the batch).  The merged frame is hard-materialized first (the
    fold's relabel is a lazy projection over the state scan): a plan
    still referencing the table being overwritten would read files
    the overwrite is deleting.  ``barrier=False`` skips that
    materialization — ONLY valid when the caller can prove the plan
    never reads ``table`` (the first batch of a stream, where the
    state table does not exist yet).  The table is refreshed on
    ``spark``, the session the next batch reads the state through."""
    (materialize(labels) if barrier else labels).write.mode(
        "overwrite"
    ).option("path", path).saveAsTable(table)
    spark.catalog.refreshTable(table)


def fold_edges_into_labels(
    spark,
    arriving_docs: DataFrame,
    pairs: DataFrame,
    label_table: str,
    label_path: str,
) -> None:
    """Fold one batch's thresholded near-dup edges into the persisted
    label state and commit it — the merge/commit tail of
    ``ingest_docs_batch``, the one ingest loop body.

    ``pairs`` is the batch's probe result (``doc_a, doc_b, n_match``);
    rows at >= ``MH_DUP_NM`` agreeing signature rows become edges,
    which ``relabel`` folds in on the driver.  A single batch holding
    the whole corpus has 25 such edges at sf0.01, 256 at sf0.1 and 91
    on the seeded sf1 corpus of ``scripts/gen_sf1.py``, whose only
    near-dups are its injected exact copies (banded-LSH pairs counted
    on DuckDB).

    Arriving docs enter with identity labels via an ANTI-join against
    the state, so an at-least-once replay of a committed batch
    re-merges the same edges into the same labels (idempotent)
    instead of duplicating vertices.  Creates the label table on
    first use; commits the merged labels back when done."""
    edges = pairs.filter(F.col("n_match") >= MH_DUP_NM)
    state = None
    if spark.catalog.tableExists(label_table):
        state = spark.table(label_table)
        arriving = (
            arriving_docs.select("doc_id")
            .join(state.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.col("doc_id").alias("label"))
        )
        labels = state.union(arriving)
    else:
        # first batch (r14): no empty-table bootstrap commit — the
        # state IS the arriving identity labels, and the final commit
        # below creates the table.  Saves one materialize + one
        # table write per stream; the replay-idempotence contract
        # is untouched (a replayed FIRST batch still anti-joins
        # against the by-then-existing table on the branch above).
        labels = arriving_docs.select(
            "doc_id", F.col("doc_id").alias("label")
        )
    # first batch: the plan reads only the batch frame and literals —
    # never the (not yet existing) label table — so the pre-commit
    # barrier is one job the overwrite hazard does not need (r14)
    commit_label_state(
        spark, relabel(labels, edges, state), label_table, label_path,
        barrier=state is not None,
    )


def ingest_docs_batch(
    spark,
    batch_docs: DataFrame,
    index_table: str,
    index_path: str,
    label_table: str | None = None,
    label_path: str | None = None,
    release_batch_barriers: bool = True,
    pairs_table: str | None = None,
    pairs_path: str | None = None,
) -> DataFrame | None:
    """ONE full committed ingest cycle — the loop body both ingest
    loops run per arriving batch (this batch API and
    ``streaming.dedup.stream_minhash_ingest``'s ``foreachBatch``),
    every corpus-sized input persisted state:

    1. band rows for the batch computed map-only (Arrow signature
       UDF over the BATCH only) and APPENDED to the index, a plain
       parquet table (one file per band-checkpoint partition);
    2. the index PROBED with those same rows (batch broadcast, corpus
       never shuffled) — because the append precedes the probe, the
       batch sees itself plus everything earlier, so each new pair
       surfaces exactly once across batches;
    3. with ``pairs_table`` set, the batch's pairs APPENDED to it;
    4. with ``label_table`` set, pairs at >= ``MH_DUP_NM`` agreeing
       signature rows become edges and ``fold_edges_into_labels``
       merges them into the label state (a driver-side union-find
       over the edges' component labels, applied to the state as a
       literal relabel map; batch docs enter with identity labels via
       an anti-join, so replaying a committed batch is idempotent)
       and COMMITS the merged labels back over it.

    Returns the committed label frame (None without ``label_table``).
    After any prefix of batches the label state equals from-scratch
    CC over the same-threshold LSH edges of the documents seen so far
    (``tests/test_end_to_end_pipeline.py::
    test_committed_ingest_cycle_matches_from_scratch``).

    Once the commits land, every barrier this cycle materialized
    (batch band rows, the pinned pairs, the pre-commit label
    checkpoint) is consumed — they are unpersisted before returning
    so block-manager state stays bounded over an unbounded batch loop.
    The sweep assumes the loop owns the session: it unpersists every
    RDD persisted DURING the batch, which would race with a
    concurrent query creating barriers in the same session.  A caller
    running concurrent barrier-creating queries passes
    ``release_batch_barriers=False`` and manages blocks itself."""
    # the probe and the fold are looked up on the ``dedup`` facade at
    # call time, where run-time wrappers (the benchmark's write-path
    # spans) patch them
    from . import dedup

    sc = spark.sparkContext
    live_before = set(persistent_rdds(sc)) if release_batch_barriers else ()
    # one barrier per batch (r14): sign → filter → band-explode →
    # checkpoint in a single job; the separate signature checkpoint
    # fed nothing but the explode here (see _checkpointed_bands)
    bands = _checkpointed_bands(batch_docs)
    bands.write.mode("append").option("path", index_path).saveAsTable(
        index_table
    )
    # refresh on THE PROBING SESSION: the append refreshes the
    # writer's session, but a streaming batch frame is bound to an
    # isolated micro-batch session clone — the outer session's cached
    # file listing survives its refresh, and the probe would read the
    # PRE-append index and silently miss every pair involving this
    # batch (caught by the multi-batch test)
    spark.catalog.refreshTable(index_table)
    pairs = dedup.probe_band_index(spark, index_table, new_bands=bands)
    if pairs_table is not None:
        if label_table is not None:
            # the pair set is consumed twice (pairs append + label
            # fold) — pin it so the broadcast probe against the
            # corpus-sized index runs ONCE per batch, not per consumer
            pairs = materialize(pairs)
        w = pairs.write.mode("append")
        if pairs_path is not None:
            w = w.option("path", pairs_path)
        w.saveAsTable(pairs_table)
        spark.catalog.refreshTable(pairs_table)
    if label_table is not None:
        dedup.fold_edges_into_labels(
            spark, batch_docs, pairs, label_table, label_path
        )
    if release_batch_barriers:
        for rid, rdd in persistent_rdds(sc).items():
            if rid not in live_before:
                rdd.unpersist(False)
    return None if label_table is None else spark.table(label_table)


def q_pipeline_incr_stateful(spark, sf_dir: str) -> DataFrame:
    """The 100 TB ingest cycle END-TO-END as one per-batch query, every
    corpus-sized input a persisted table laid down once per session:

    1. PROBE — the arriving batch's band rows (every 5th doc, the
       ``INCR_MOD`` demo predicate) broadcast against the bucketed
       band index; the corpus side is never shuffled.  Collisions
       with >= ``MH_DUP_NM`` agreeing signature rows (est Jaccard
       >= 0.5, integer compare) are the batch's near-dup edges.
    2. MERGE — ``relabel`` folds those edges into the persisted base
       label state: a driver-side union-find over the edges'
       component labels, applied to the state as a literal map.
    3. CANONICALIZE — ``keep_best`` re-ranks ONLY the touched
       components (those containing a batch doc): touched labels are
       a tiny distinct set, broadcast into the member filter, so the
       window runs over touched members, not the corpus.

    Oracle: the from-scratch composition — full-corpus banded-LSH
    pairs at the same threshold, recursive-CTE components, the same
    richness rank — restricted to components containing a batch doc.
    Merged labels equal from-scratch labels (star forest ∪ new edges
    is connectivity-equivalent to old ∪ new edges), so both engines
    rank identical component rosters."""
    docs = _read_docs(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    idx = _band_index_for(spark, docs, key)
    labels0 = spark.table(_mh_old_label_state_for(spark, docs, key, idx))
    batch_bands = spark.table(idx).filter(F.col("doc_id") % INCR_MOD == 0)
    new_edges = probe_band_index(spark, idx, new_bands=batch_bands).filter(
        F.col("n_match") >= MH_DUP_NM
    )
    merged = relabel(labels0, new_edges, labels0)
    touched = (
        merged.filter(F.col("doc_id") % INCR_MOD == 0)
        .select("label")
        .distinct()
    )
    return keep_best(docs, merged.join(F.broadcast(touched), "label"))


#: fuzzy-decontamination flag threshold: currently the same
#: est_jaccard >= 0.5 dial as the dedup edge threshold (one
#: definition of the expression — see MH_DUP_NM)
DECON_NM = MH_DUP_NM


def q_decontaminate_fuzzy(t: dict) -> DataFrame:
    """Document-level FUZZY decontamination: a training document is
    flagged when its minhash-estimated Jaccard against ANY eval-set
    document reaches 0.5 — the near-duplicate leakage (paraphrased
    questions, reformatted answers, partial copies) that the exact
    span probe (``q_decontaminate``) cannot see.  Real pipelines run
    both: exact n-gram overlap for verbatim leakage, fuzzy minhash
    for near-verbatim (e.g. the Llama/GPT-4 contamination appendices
    combine token-overlap with fuzzy matching).

    Emits every train doc with its candidate-eval count, the count
    that clears the threshold, the max estimated Jaccard (NULL when
    LSH surfaces no candidate), and the flag.

    Plan: eval and train signatures come from two disjoint
    source-pushed scans (one Arrow UDF pass over each subset); the
    eval band table is tiny by construction and BROADCAST into the
    train side — the train corpus is never shuffled for the probe;
    candidate pairs (LSH collisions only, never all-pairs) distinct,
    one groupBy on the train doc id, then a broadcast-sized hit
    table left-joins back to the train docs."""
    docs = t["documents"]
    # one barrier per side (r14): each side's signature table feeds
    # ONLY its band explode here, so the separate signature
    # checkpoint paid a barrier job per side for a table nothing
    # else read (same fusion as the ingest loops —
    # _checkpointed_bands)
    ev_bands = _checkpointed_bands(docs.filter(F.col("source") == EVAL_SOURCE))
    tr_bands = _checkpointed_bands(docs.filter(F.col("source") != EVAL_SOURCE))
    tr, ev = tr_bands.alias("tr"), ev_bands.alias("ev")
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("tr.sig"), F.col("ev.sig"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    pairs = (
        tr.join(F.broadcast(ev), F.col("tr.band") == F.col("ev.band"))
        .select(
            F.col("tr.doc_id").alias("tid"),
            F.col("ev.doc_id").alias("eid"),
            n_match.alias("nm"),
        )
        .distinct()
    )
    hits = pairs.groupBy("tid").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("nm") >= DECON_NM, 1).otherwise(0)).alias("n_hits"),
        (F.max("nm").cast("double") / F.lit(float(MH_K))).alias("max_est_jaccard"),
    )
    train = docs.filter(F.col("source") != EVAL_SOURCE).select("doc_id")
    return train.join(
        F.broadcast(hits), train.doc_id == hits.tid, "left"
    ).select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        "max_est_jaccard",
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )
