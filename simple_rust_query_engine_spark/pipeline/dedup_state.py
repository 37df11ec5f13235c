"""Corpus-level dedup state: the shared near-dup edge table,
distributed connected components, the union-find relabel that folds
new edges into held labels, persisted label state, and the
analytics queries that read them (cc, cluster sizes, cross-source
overlap, survivors).  Split out of ``dedup.py`` (r8); the ``dedup``
facade re-exports everything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from .dedup_core import (
    _STATE_CACHE,
    _same_corpus,
    _session_cached,
    _state_table,
    docs_state_key,
    materialize,
)
from .dedup_sketch import INCR_MOD, ngram_jaccard_pairs

def near_dup_edges(docs: DataFrame) -> DataFrame:
    """Materialized, session-cached exact-Jaccard near-dup pair table
    (doc_a, doc_b, jaccard) for ``docs`` — the shared input of the
    dedup family.  Tiny (near-dup pairs, not corpus rows), so the
    materialization barrier is cheap insurance even for a single
    consumer.

    Reuse is by object identity first, then by PLAN EQUIVALENCE: a
    fresh read of the same parquet corpus (a different DataFrame
    object with the same logical plan) gets the already-materialized
    pair table instead of re-running the PPJoin machinery — so the
    object-keyed family queries and the persisted-state builders pay
    the edge computation once per session per corpus between barrier
    releases."""
    hit = _STATE_CACHE.get(("edges", id(docs)))
    if hit is not None and hit[0]() is docs:
        return hit[1]
    for key, (wref, val, _release) in list(_STATE_CACHE.items()):
        if key[0] != "edges":
            continue
        anchor = wref()
        if anchor is not None and anchor is not docs and _same_corpus(anchor, docs):
            return val
    return _session_cached(
        "edges", docs, lambda: materialize(ngram_jaccard_pairs(docs))
    )

def q_ngram_jaccard(t: dict) -> DataFrame:
    return near_dup_edges(t["documents"])


#: routing dial for ``dedup_text_auto``: take the exact PPJoin path
#: while the probe's candidate upper bound stays within this many
#: candidates PER DOC (i.e. bound ≈ linear in corpus size); beyond it
#: the posting lists are dense enough that exact-verify work goes
#: quadratic and the banded minhash-LSH path (near-FLAT over the same
#: growth, measured sf0.1→sf1: 3.6 s → 4.0 s) wins.  Calibrated from
#: the measured crossover on the driver corpora: bound/doc = 3.2 at
#: sf0.01 and 86 at sf0.1 (PPJoin comfortably linear, 4.7 s at sf0.1)
#: vs 1018 at sf1 (PPJoin went quadratic: 138× candidates on 10×
#: docs — docs/SOAK_SF1_R11LATE.json).
AUTO_ROUTE_MAX_CAND_PER_DOC = 256


def route_text_dedup(docs: DataFrame) -> tuple[str, int, int]:
    """The go/no-go decision of ``dedup_text_auto``, exposed so tests
    pin the routing at both densities: returns (route, candidate
    bound, doc count).  Cost = one count + the
    ``estimate_ppjoin_candidates`` probe (one aggregation over the
    prefix postings, ~4% of a full PPJoin run) — the cheap insurance
    against launching an exact join that would explode.  The decision
    is session-cached per docs anchor (the corpus is immutable within
    a session, the standard parquet contract), so repeated per-batch
    calls pay the probe's shingle pass once, not per call.  Cached
    under a ``state:`` tag (r13): the route is a scalar MODEL DIAL
    derived once per (session, corpus) — the same lifecycle as the
    kmeans centroids or the knn index broadcast — and the cached
    value is a plain tuple, not a checkpoint-backed frame, so
    surviving ``release_barriers`` cannot reference swept blocks.
    The routed PAIR SET is still recomputed from parquet on every
    call; only the probe's decision is state."""
    from .dedup_core import _session_cached
    from .dedup_sketch import estimate_ppjoin_candidates

    def decide():
        n = docs.count()
        bound = estimate_ppjoin_candidates(docs)
        route = (
            "ppjoin" if bound <= AUTO_ROUTE_MAX_CAND_PER_DOC * n else "lsh"
        )
        if route == "lsh":
            # the probe checkpointed the corpus-sized shingle barrier
            # (_shingle_arrs) that only the PPJOIN path consumes; on
            # the LSH route nothing will read it, so drop the cache's
            # strong reference now — GC + the context cleaner reclaim
            # the blocks instead of pinning them until the next
            # release_barriers (r12 review; key spelling owned by the
            # helper since r13 — ADVICE r12)
            from .dedup_sketch import drop_shingle_arrs

            drop_shingle_arrs(docs)
        return route, bound, n

    return _session_cached("state:route_text", docs, decide)


def dedup_text_auto(docs: DataFrame) -> DataFrame:
    """Self-routing text dedup (VERDICT r11 item 6): probe the
    corpus's candidate-pair bound, then take the exact PPJoin path
    when it is ≈ linear (candidates ≤ ``AUTO_ROUTE_MAX_CAND_PER_DOC``
    per doc) and the banded minhash-LSH path otherwise — the measured
    sf1 crossover wired into one operator, so a pipeline gets exact
    pairs when exact is affordable and near-flat approximate pairs
    when it is not.  Returns (doc_a, doc_b, route); ``route`` is a
    literal column, so the driver's hash check certifies the routing
    DECISION along with the pair set.

    Both routes mean the SAME thing — "near-duplicate at the dedup
    threshold": the ppjoin branch is exact Jaccard ≥ ``JACCARD_T``,
    the lsh branch keeps only candidates with ≥ ``MH_DUP_NM``
    agreeing signature rows (estimated Jaccard ≥ 0.5, the same
    filter every other edge consumer applies) — raw band collisions
    reach down to est ≈ 0.25 and would silently change the
    operator's meaning when the route flips."""
    route, _, _ = route_text_dedup(docs)
    if route == "ppjoin":
        pairs = near_dup_edges(docs)
    else:
        from .dedup_ingest import MH_DUP_NM
        from .dedup_sketch import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(docs).filter(
            F.col("n_match") >= MH_DUP_NM
        )
    return pairs.select("doc_a", "doc_b", F.lit(route).alias("route"))


def q_dedup_text_auto(t: dict) -> DataFrame:
    return dedup_text_auto(t["documents"])


def _materialize_observed(
    df: DataFrame, *metrics, project: list | None = None
) -> tuple[DataFrame, dict]:
    """Materialization barrier + convergence metrics in ONE job
    (VERDICT r11 item 7): the propagation CC loop previously ran the
    round's join+agg job AND a separate convergence collect per
    round — under multi-core contention those extra tiny jobs
    dominate (the r11 driver window measured dedup_cc 130 s vs 4.1 s
    healthy).  ``observe`` rides the aggregates on the checkpoint
    job itself (Dataset.checkpoint/localCheckpoint execute through
    withAction, which posts the SQL-execution event the Observation
    listener needs), so the loop driver reads the metrics without a
    second pass over the labels.

    ``project`` applies a projection ABOVE the CollectMetrics node —
    the metrics may reference columns (an old-vs-new comparison) the
    materialized output should not carry.

    Caveat the caller must design around: observed metrics are
    accumulator-backed, so a cluster-side stage retry or speculative
    duplicate task can double-count partitions.  Use conditions that
    are exact in the safe direction under inflation (a CHANGES
    count: inflating zero yields zero, so observed-0 ⟺ true-0)."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *metrics)
    if project is not None:
        observed = observed.select(*project)
    out = materialize(observed)
    return out, obs.get


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint: every vertex ends with the
    smallest doc_id in its connected component.  The standard Spark
    CC shape (GraphFrames does the same under the hood): per round,
    one join + one aggregation; rounds ≈ graph diameter (near-dup
    components are shallow, so this is the default).  The driver-side
    loop holds only the convergence counter — all data stays
    distributed; localCheckpoint truncates lineage so plans don't
    grow across rounds.

    It builds labels from scratch (``dedup_cc``, the base label
    states); ``relabel`` folds later edges into held labels without
    a loop."""
    bidir = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    bidir = materialize(bidir.repartition("dst"))
    # iterate ONLY over edge endpoints: a vertex with no near-dup edge
    # keeps label = doc_id and never enters the loop.  At 100 TB this
    # is the difference between a corpus-sized label table per round
    # and a dup-subgraph-sized one (near-dup docs are a small fraction
    # of a curated corpus); locally it cut dedup_cc's loop from 3.0 s
    # to ~1.5 s at sf0.1.  Round 0 is fused into the initialization:
    # each endpoint starts at min(self, min direct neighbor), which is
    # exactly one propagation round from identity labels.
    lab = materialize(
        bidir.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("doc_id"), "label")
    )
    # convergence = "this round decreased no label", counted as an
    # observed metric riding each round's OWN checkpoint job (one job
    # per round, not join+agg PLUS a convergence collect — VERDICT
    # r11 item 7).  A CHANGES count — not a label-sum fingerprint —
    # because observed metrics are accumulator-backed and a cluster
    # stage retry can double-count partitions: inflating a nonzero
    # count costs one extra (harmless) round, while inflating ZERO
    # still reads zero, so the break condition is exact exactly when
    # it fires.  Labels only decrease ⇒ changes hit 0 ⇒ terminates.
    while True:
        msgs = (
            bidir.join(lab, bidir.src == lab.doc_id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        # durable rounds write reliable checkpoints; superseded label
        # checkpoints are retired by the context cleaner as frames are
        # GC'd (cleanCheckpoints=true in get_spark) — best-effort, so
        # live disk is worst-case O(rounds) until exit cleanup
        lab, m = _materialize_observed(
            lab.join(msgs, lab.doc_id == msgs.dst, "left")
            .select(
                "doc_id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("new_label"),
            ),
            F.sum(
                F.when(F.col("new_label") < F.col("old_label"), 1).otherwise(0)
            ).alias("chg"),
            project=[F.col("doc_id"), F.col("new_label").alias("label")],
        )
        if not m["chg"]:  # 0 or None (empty edge set) — fixpoint
            break
    # (the internal edge-table checkpoint is likewise cleaner-retired
    # once this function returns; the RETURNED labels' files live
    # until the caller's frame is collected)
    # edge-free vertices rejoin with their identity label
    return vertices.join(lab, "doc_id", "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
    )


def relabel_map(edges, labels: dict) -> dict:
    """Union-find over one batch's near-dup ``edges`` (doc id pairs)
    on a star-forest label state: returns {old label → new label} for
    every component label the batch changes.

    ``labels`` maps doc id → label for the edge endpoints the state
    holds; an endpoint it lacks (an arriving doc, or one only the
    band index has seen) keeps its own id, as connected components
    over (star forest ∪ edges) would give it.  Each label is the
    minimum doc id of its component, so an edge can only merge whole
    components, and the merged component's minimum is the smallest
    of its labels: the smaller root wins every union.  Every key maps
    straight to its final root, so one lookup applies the map."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(labels.get(a, a)), find(labels.get(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def relabel(
    labels: DataFrame, edges: DataFrame, held: DataFrame | None
) -> DataFrame:
    """Fold near-dup ``edges`` (doc_a, doc_b) into the star-forest
    ``labels`` (doc_id, label) as a lazy frame: the labels connected
    components over (star forest ∪ edges) would give, with no
    connected-components job.  The one incremental label path: both
    ingest loops (``fold_edges_into_labels``), ``dedup_cc_incr`` and
    ``pipeline_incr_stateful`` call it.

    It runs two collects: one of the edges and, when there are any,
    one of their endpoints' labels, read from ``held`` with a
    ``doc_id IN (…)`` filter.  ``relabel_map`` then runs on the driver,
    and its map is applied to every row of ``labels`` as a JVM
    literal.  An endpoint ``held`` lacks keeps its own id, so every
    row of ``labels`` that ``held`` lacks must carry its own id as its
    label; ``held=None`` means no state is held yet.  The edges of one
    batch are few, because near-dups are a small fraction of a corpus."""
    pairs = [
        (r.doc_a, r.doc_b) for r in edges.select("doc_a", "doc_b").collect()
    ]
    ends = sorted({d for e in pairs for d in e})
    known = {}
    if held is not None and ends:
        known = dict(
            held.filter(F.col("doc_id").isin(ends))
            .select("doc_id", "label")
            .collect()
        )
    remap = sorted(relabel_map(pairs, known).items())
    if not remap:
        return labels
    # JVM literals, not a driver-built DataFrame: a frame made from a
    # Python list runs pickled-RDD Python workers per call
    t = ArrayType(labels.schema["label"].dataType)
    new = F.element_at(
        F.map_from_arrays(
            F.lit([k for k, _ in remap]).cast(t),
            F.lit([v for _, v in remap]).cast(t),
        ),
        F.col("label"),
    )
    return labels.select(
        "doc_id", F.coalesce(new, F.col("label")).alias("label")
    )


def _read_docs(spark, sf_dir: str) -> DataFrame:
    """Session-cached documents frame per (session, corpus dir): one
    stable anchor object so the object-keyed family caches (edge
    table) hit across repeated per-batch query calls."""
    return _session_cached(
        f"docs:{os.path.abspath(sf_dir)}",
        spark,
        lambda: spark.read.parquet(os.path.join(sf_dir, "documents.parquet")),
    )


def _edge_state_for(spark, docs: DataFrame, docs_key: str) -> str:
    """Persisted exact-Jaccard near-dup PAIR state (doc_a, doc_b,
    jaccard) — the accumulated pair table a continuous-ingest pipeline
    holds (each batch's probe appends its pairs).  Tiny (near-dup
    pairs, not corpus rows); plain parquet, no bucketing needed.
    Built FROM the session edge cache (``near_dup_edges`` — plan-
    equivalent frames share one entry), so a session that already ran
    the object-keyed family queries writes the table without
    re-running the PPJoin.

    ``docs_key`` (the corpus path) is widened to the full
    content-identifying key — input-file inventory + config salt —
    here, INSIDE the state helpers, so every caller (and the durable
    cross-process adoption the key addresses) gets the ADVICE r12
    fix without each call site re-spelling it."""
    docs_key = docs_state_key(docs, docs_key)
    return _state_table(
        spark, "edge_state", docs_key, lambda: near_dup_edges(docs)
    )


def _label_state_for(spark, docs: DataFrame, docs_key: str) -> str:
    """Persisted full-corpus component-label state (doc_id, label),
    bucketed on doc_id so per-doc joins against it (keep_best's
    richness join) read pre-partitioned files.  Built from scratch by
    ``connected_components`` once per (session, corpus) from the
    persisted pair state; later edges fold into such a table with
    ``relabel``."""

    def build() -> DataFrame:
        edges = spark.table(_edge_state_for(spark, docs, docs_key))
        return connected_components(
            edges.select("doc_a", "doc_b"), docs.select("doc_id")
        )

    return _state_table(
        spark,
        "label_state",
        docs_state_key(docs, docs_key),
        build,
        bucket_by=["doc_id"],
    )


def _old_label_state_for(spark, docs: DataFrame, docs_key: str) -> str:
    """The incremental demo's BASE label state: component labels as
    they stood BEFORE the arriving batch (every 5th doc, the
    ``INCR_MOD`` demo predicate) — CC over the both-old pair subset,
    plus identity labels for the arriving docs.  A real pipeline
    holds exactly this table between ingest cycles; persisting it
    makes the per-call cost of ``dedup_cc_incr`` the merge, not a
    from-scratch rebuild of state."""

    def build() -> DataFrame:
        pairs = spark.table(_edge_state_for(spark, docs, docs_key))
        is_new = lambda c: c % INCR_MOD == 0  # noqa: E731
        old_edges = pairs.filter(
            ~is_new(F.col("doc_a")) & ~is_new(F.col("doc_b"))
        ).select("doc_a", "doc_b")
        old_docs = docs.filter(~is_new(F.col("doc_id"))).select("doc_id")
        return connected_components(old_edges, old_docs).union(
            docs.filter(is_new(F.col("doc_id"))).select(
                "doc_id", F.col("doc_id").alias("label")
            )
        )

    return _state_table(
        spark,
        "old_label_state",
        docs_state_key(docs, docs_key),
        build,
        bucket_by=["doc_id"],
    )


def q_dedup_cc_incr(spark, sf_dir: str) -> DataFrame:
    """Driver demo of incremental label maintenance: the base label
    state (corpus minus the arriving batch) and the accumulated pair
    state are PERSISTED tables built once per session — exactly the
    state a real ingest pipeline holds between batches — so this
    query's per-call cost is what production pays per batch: filter
    the batch's pairs off the pair state (map-only) and ``relabel``
    the base labels with them (a driver-side union-find over the
    edges' component labels; two small jobs, then a map-only
    projection of the state).  The merged labels must equal
    from-scratch CC over the full corpus — the oracle IS
    ``dedup_cc``'s recursive-reachability CTE."""
    docs = _read_docs(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    labels0 = spark.table(_old_label_state_for(spark, docs, key))
    pairs = spark.table(_edge_state_for(spark, docs, key))
    new_edges = pairs.filter(
        (F.col("doc_a") % INCR_MOD == 0) | (F.col("doc_b") % INCR_MOD == 0)
    )
    return relabel(labels0, new_edges, labels0)


def q_dedup_cc(spark, sf_dir: str) -> DataFrame:
    """Near-dup components: each doc labeled with the smallest doc_id
    reachable through 3-gram-Jaccard>=0.5 edges — the correct
    (transitive) dedup grouping vs q_dedup_survivors' greedy pass.
    Oracle: recursive reachability CTE + MIN over reached set.

    Reads (and on first call per session, BUILDS) the persisted label
    state table: labels are pipeline STATE, built here by propagation
    CC and maintained incrementally by ``relabel`` at scale — the
    bench's cold pass prices the
    build (pair machinery + CC + bucketed layout), the steady pass
    prices what every downstream consumer actually pays: a scan of
    the bucketed state."""
    docs = _read_docs(spark, sf_dir)
    return spark.table(
        _label_state_for(spark, docs, os.path.abspath(sf_dir))
    )


def q_split_by_cluster(spark, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split over the NEAR-dup components:
    ``split_by_cluster`` (the generic label-hashing splitter in
    ``pack.py``) fed with ``dedup_cc``'s persisted labels — the
    production composition: a per-doc split (``train_test_split``)
    would strand near-copies of a training document in the test set,
    silently inflating every eval built on the holdout.

    Plan: scan of the persisted bucketed label state + a map-only
    CASE — the split costs nothing beyond what dedup already paid."""
    from .pack import split_by_cluster

    return split_by_cluster(q_dedup_cc(spark, sf_dir))


def q_dup_cluster_sizes(spark, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE distribution — the corpus-health report a
    dedup run ends with (how much of the corpus is duplicated, and in
    what shape: a few giant boilerplate clusters vs many small ones
    drive very different excision policies).  One row per observed
    component size: how many components have that size and how many
    documents they hold.

    Plan: scan of the persisted bucketed label state (built once per
    session, the same table ``dedup_cc`` serves), then two uniform
    aggregations — groupBy(label) (components are small, so the key is
    near-unique; map-side partials absorb the within-partition
    repeats) and groupBy(cluster_size) (low-cardinality but
    partial-aggregated, so the hot size-1 key combines map-side and
    no reducer sees corpus-scale rows).  No joins, no skew exposure —
    this shape is unchanged at 100 TB."""
    sizes = q_dedup_cc(spark, sf_dir).groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


def cross_source_overlap(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Cross-SOURCE near-dup leakage matrix: for every unordered pair
    of sources, how many near-dup pairs (3-gram Jaccard >= JACCARD_T)
    straddle them, and the worst overlap seen.  This is the audit a
    training-data pipeline runs before mixing corpora — it surfaces
    both inter-source contamination (a "web" crawl that swallowed the
    "books" set) and intra-source boilerplate (the diagonal).

    Plan: the near-dup edge table (tiny — pairs, not corpus rows) is
    hydrated with each endpoint's source via two equi-joins on doc_id
    (edge side auto-broadcasts locally; at cluster scale it's a
    uniform shuffled join — doc_id is unique on the build side, so no
    skew), then one low-cardinality groupBy with map-side partials.
    MAX(jaccard) is order-insensitive, so the float column stays
    bit-identical to the oracle's; an AVG here would be
    summation-order-dependent and is deliberately absent."""
    src = docs.select("doc_id", "source")
    e = (
        edges.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        ).join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
    )
    return (
        e.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def q_cross_source_overlap(spark, sf_dir: str) -> DataFrame:
    """Driver entry: the leakage matrix over the PERSISTED pair state
    (``_edge_state_for`` — the accumulated edge table a continuous-
    ingest pipeline holds between batches), not the checkpoint-backed
    session cache.  r8 change: the audit is a recurring read of held
    state in production, so its steady cost should be the two joins +
    groupBy over the tiny pair table, not a PPJoin rebuild — the same
    persisted-state shift the cc family made in r7 (the bench
    releases checkpoint barriers between queries; parquet state
    survives by design)."""
    docs = _read_docs(spark, sf_dir)
    edges = spark.table(_edge_state_for(spark, docs, os.path.abspath(sf_dir)))
    return cross_source_overlap(docs, edges)


def q_dedup_survivors(t: dict) -> DataFrame:
    """Near-dup removal materialized: greedy keep-lowest-id — a doc is
    dropped when it near-duplicates (3-gram Jaccard >= 0.5) any doc
    with a smaller id.  One anti-join against the pair list; see
    q_dedup_cc for the transitive connected-components variant."""
    pairs = near_dup_edges(t["documents"])
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return t["documents"].join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )
