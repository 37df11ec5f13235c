"""Plan-shape assertions — the rebuild's counterpart to the
reference's optimizer tests (predicate_pushdown.rs:539-719,
projection_pushdown.rs:303-442): instead of asserting Display strings
of a hand-rolled optimizer, assert that Catalyst produced the plan
properties those rules exist to guarantee — filters pushed into the
parquet scan, columns pruned, small joins broadcast."""

import re

import __spark_entry__ as entry_mod
from simple_rust_query_engine_spark.plans.inspect import (
    join_strategies,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_DIR


def _q(spark, name):
    return entry_mod.queries()[name](spark, SF_DIR)


def test_predicate_pushdown_reaches_scan(spark):
    # reference PredicatePushDownRule → Catalyst + parquet PushedFilters
    pf = pushed_filters(_q(spark, "filter_predicate"))
    assert any("l_quantity" in f and "l_returnflag" in f for f in pf), pf


def test_projection_pruning_reaches_scan(spark):
    # reference ProjectionPushDownRule → parquet ReadSchema
    cols = read_schema_columns(_q(spark, "scan_projection"))
    assert cols and set(cols[0]) == {
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
    }, cols


def test_small_dim_join_is_broadcast(spark):
    # the reference always builds the LEFT side in memory
    # (hash_join.rs:326-361); Spark should pick broadcast by size
    strategies = join_strategies(_q(spark, "join_inner"))
    assert "BroadcastHashJoin" in strategies, strategies


def test_keyless_join_is_nested_loop(spark):
    # reference planner.rs:186-194: empty on → NestedLoopJoinExec
    strategies = join_strategies(_q(spark, "cross_join_filter"))
    assert any(
        s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
    ), strategies


def test_topk_is_take_ordered(spark):
    from simple_rust_query_engine_spark.plans.inspect import explain_str

    text = explain_str(_q(spark, "topk"))
    assert "TakeOrderedAndProject" in text


def test_agg_has_partial_final_split(spark):
    # Spark's partial (map-side) + final agg replaces the reference's
    # single blocking hash (row_hash.rs:21-154)
    from simple_rust_query_engine_spark.plans.inspect import explain_str

    text = explain_str(_q(spark, "agg_grouped"))
    assert "HashAggregate" in text
    assert "partial_" in text.lower() or text.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_scan_filter(spark):
    from simple_rust_query_engine_spark.plans.inspect import explain_str

    # in explain("formatted") codegen'd operators carry a "*" prefix
    # ("* Filter (3)"), not the literal WholeStageCodegen node name
    text = explain_str(_q(spark, "filter_predicate"))
    assert "* Filter" in text and "* Project" in text, text


#: streaming-engine entries execute eagerly on call — exercised by
#: their own tests; plan text of the returned sink table is trivial
_STREAMING_QUERIES = {
    "events_window_stream",
    "dedup_exact_stream",
    "minhash_sig_stream",
    "events_stream_join",
    "dedup_minhash_ingest_stream",
}


def test_no_query_plans_a_cartesian_product(spark):
    # blanket plan hygiene: an unintended CartesianProduct is the
    # silent O(n²) cliff at scale.  Every declared query must plan
    # without one — keyless joins go through BroadcastNestedLoopJoin
    # with an explicitly tiny side (cross_join_filter's dim tables,
    # ANN's 1-row query vector), never a shuffled cartesian.
    # Scope caveat: for queries built on localCheckpoint barriers
    # (minhash/ngram/cc) the inspected plan covers the stages AFTER
    # the final checkpoint — pre-checkpoint subtrees are map-only
    # selects here (no joins to misplan), but a new checkpointed
    # JOIN stage would need its own plan assertion.
    from simple_rust_query_engine_spark.plans.inspect import explain_str

    offenders = {}
    for name, fn in entry_mod.queries().items():
        if name in _STREAMING_QUERIES:
            continue
        text = explain_str(fn(spark, SF_DIR))
        if "CartesianProduct" in text:
            offenders[name] = True
    assert not offenders, f"cartesian products in: {sorted(offenders)}"


def test_bucketed_join_is_shuffle_free(spark, tables, tmp_path):
    # co-located join: both sides bucketed on the join key at write
    # time → the scan's output partitioning satisfies the join's
    # distribution requirement, no Exchange in the plan
    from simple_rust_query_engine_spark.plans.inspect import explain_str
    from simple_rust_query_engine_spark.sources.write import write_bucketed

    write_bucketed(
        tables["orders"], "b_orders", str(tmp_path / "bo"), ["o_custkey"], 8
    )
    write_bucketed(
        tables["customer"], "b_customer", str(tmp_path / "bc"), ["c_custkey"], 8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("b_orders")
        b = spark.table("b_customer")
        j = a.join(b, a.o_custkey == b.c_custkey).groupBy("o_custkey").count()
        text = explain_str(j)
        assert "Exchange" not in text, text
        assert "SortMergeJoin" in text, text
        # and the data actually flows
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_band_index_self_join_is_shuffle_free(spark, tables, tmp_path):
    # the persisted band index is bucketed on the band key: full pair
    # regeneration self-joins the table against itself with ZERO
    # Exchange before the join — the only shuffle left is the final
    # pair-distinct.  This is the pay-the-band-shuffle-once layout
    # contract for continuous dedup at 100 TB.
    from simple_rust_query_engine_spark.pipeline.dedup import (
        build_band_index,
        minhash_pairs_from_index,
    )

    build_band_index(
        spark, tables["documents"], "band_idx_plan", str(tmp_path / "bi"), 8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        full = minhash_pairs_from_index(spark, "band_idx_plan")
        plan = full._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # exactly one shuffle: the pair-distinct.  The band self-join
        # reads pre-bucketed files on both sides.
        assert plan.count("Exchange") == 1, plan
        assert full.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS band_idx_plan")


def test_band_index_probe_no_shuffle_no_recompute(spark):
    # the incremental ingest probe against the persisted index must
    # (a) broadcast the batch — the corpus-sized index side is never
    # shuffled — and (b) recompute NO signatures (no Python UDF node:
    # the sigs ride in the index rows)
    plan = (
        _q(spark, "dedup_minhash_bucketed")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # only the pair-distinct may hash-shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pack_sequences_shards_never_global_sort(spark):
    # the running token sum must be windowed per SHARD: the physical
    # plan may exchange on hashpartitioning(source) but NEVER on
    # SinglePartition — a global-window pack would serialize 100 TB
    # through one task
    plan = _q(spark, "pack_sequences")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan and "source" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_ngram_jaccard_has_no_shingle_partitioned_window(spark):
    # document frequency must come from the skew-immune two-phase
    # groupBy + AQE-splittable join, never a window partitioned on the
    # Zipf-skewed shingle key (that puts the hottest shingle's rows in
    # ONE task — unsplittable at 100 TB).  Windows partitioned by
    # doc_id (the per-doc rank) are fine: doc size bounds them.
    plan = _q(spark, "ngram_jaccard")._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "shingle" in line and "doc_id" not in line:
            raise AssertionError(f"shingle-partitioned window in plan: {line}")


def test_sample_mixture_is_map_only(spark):
    # deterministic-hash sampling is a scan + filter: zero exchanges
    plan = _q(spark, "sample_mixture")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_tpch_q5_dims_all_broadcast(spark):
    # the Q5 join chain: every dim edge (region, nation, supplier,
    # customer at driver scale) must be a broadcast hash join — a
    # shuffled dim join at 100 TB moves the fact table once per dim
    from simple_rust_query_engine_spark.plans.inspect import join_strategies

    strategies = join_strategies(_q(spark, "tpch_q5_like"))
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies


def test_events_funnel_is_single_shuffle(spark):
    # stage-k gating windows and the final per-user agg all cluster on
    # user_id: exactly ONE hash exchange no matter how many stages —
    # the per-stage self-join formulation would pay one per stage
    plan = (
        _q(spark, "events_funnel")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_semantic_dedup_drop_set_is_broadcast(spark):
    # the drop-set anti-join must broadcast (the docstring's claim):
    # applyInPandas output has no size stats, so without the explicit
    # hint the anti-join can SMJ-shuffle the whole embeddings table
    strategies = join_strategies(_q(spark, "semantic_dedup"))
    assert "BroadcastHashJoin" in strategies, strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_decontaminate_eval_set_is_broadcast(spark):
    # the eval span-hash set must broadcast into the train probe (the
    # train corpus is never shuffled through a join) and the source
    # split must be pushed to the parquet scan on both sides
    df = _q(spark, "decontaminate")
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies
    pf = pushed_filters(df)
    assert any("src0" in f for f in pf), pf


def test_dup_spans_no_join_uniform_agg(spark):
    # exact-substring detection is explode + ONE groupBy family on the
    # uniform span hash: no join anywhere in the plan
    plan = _q(spark, "dup_spans")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_asof_nearest_one_exchange_no_join(spark):
    # both directional carries share ONE exchange on the join key;
    # r13: the forward carry is a second GROWING frame over the
    # REVERSED sort (last over _us desc) instead of a shrinking
    # (currentRow, unboundedFollowing) frame, which Spark recomputes
    # from scratch per row — O(n²) per partition.  Cost: a second
    # Window + per-partition re-Sort (no new shuffle); still zero
    # join nodes — the re-join-two-directions formulation would cost
    # three shuffles and a join
    plan = (
        _q(spark, "join_asof_nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window ") == 2, plan
    assert plan.count("Sort [") == 2, plan
    assert "Join" not in plan, plan


def test_shuffle_shards_never_global_sort(spark):
    # the training shuffle orders WITHIN hash shards: one exchange on
    # shard, no global ordering structure (a global orderBy would
    # range-partition — fine locally, a straggler chain at 100 TB)
    plan = (
        _q(spark, "shuffle_shards")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_stratified_sample_preprune_spreads_strata(spark):
    # exact k-per-stratum sampling runs TWO top-k windows: phase 1
    # partitioned by (stratum, bucket) — the bucket key is what
    # spreads each ~5-value stratum over 32 reducers — then phase 2
    # over the <= buckets*k survivors on the bare stratum key.  A plan
    # whose only window partitioning is the bare stratum has lost the
    # skew protection and is the low-cardinality straggler at 100 TB.
    plan = (
        _q(spark, "stratified_sample")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window [row_number()") == 2, plan
    # phase-1 spec carries the bucket key alongside the stratum
    # (two_phase_topk names its spread column ``_b``)
    assert re.search(r"windowspecdefinition\(lang#\d+, _b#", plan), plan
    assert "SinglePartition" not in plan, plan
    # Spark additionally inserts WindowGroupLimit: rank filters prune
    # to the top-k BEFORE the exchange (Partial) and after (Final) —
    # map-side combine for top-k windows, free extra skew headroom
    assert "WindowGroupLimit" in plan, plan


def test_token_budget_mixture_offsets_broadcast(spark):
    # the distributed prefix sum joins each row to its bucket OFFSET
    # (a strata x 16-row frame): that edge must broadcast — a shuffled
    # join there would re-shuffle the corpus to join 80 rows — and no
    # window may run over a single partition (the naive cumulative
    # form this operator exists to avoid)
    from simple_rust_query_engine_spark.plans.inspect import join_strategies

    df = _q(spark, "token_budget_mixture")
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the data-sized cumulative window is keyed by (stratum, bucket)
    assert re.search(r"windowspecdefinition\(lang#\d+, bucket#", plan), plan
    assert "SinglePartition" not in plan, plan
    # tokenize-ONCE: the regexp over full text runs at the
    # materialization barrier; the post-barrier plan (both window
    # consumers) must not re-scan the parquet.  Holds in BOTH barrier
    # flavors — localCheckpoint and reliable checkpoint each truncate
    # lineage to a Scan ExistingRDD.
    assert "Scan parquet" not in plan, plan


def test_tpch_q18_having_agg_broadcasts_back(spark):
    # big-agg -> semi-join composite: the only data-sized shuffle is
    # lineitem's groupBy on l_orderkey; the HAVING survivors and the
    # joined result are broadcast-sized, and the final ORDER BY+LIMIT
    # is a TakeOrdered, never a global sort
    from simple_rust_query_engine_spark.plans.inspect import join_strategies

    df = _q(spark, "tpch_q18_like")
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(l_orderkey" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_quality_topk_preprune_spreads_langs(spark):
    # the lowest-perplexity-per-language selection must run the same
    # two-phase top-k as stratified_sample: phase 1 partitioned by
    # (lang, hash-bucket), WindowGroupLimit pruning map-side, never a
    # bare-language window over the scored corpus
    plan = (
        _q(spark, "quality_topk")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window [row_number()") == 2, plan
    assert re.search(r"windowspecdefinition\(lang#\d+, _b#", plan), plan
    assert "WindowGroupLimit" in plan, plan
    # the corpus-total 1-row aggregate legitimately crosses a
    # SinglePartition exchange; what must NOT exist is an
    # unpartitioned window over the scored corpus
    assert not _has_global_window(plan), plan


def test_tpch_q14_conditional_agg_single_pass(spark):
    # both the CASE-gated promo sum and the total sum must live in ONE
    # grouped aggregate (partial+final) over ONE broadcast join — a
    # two-pass formulation would self-join the fact table
    from simple_rust_query_engine_spark.plans.inspect import join_strategies

    df = _q(spark, "tpch_q14_like")
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan  # lineitem + part once each
    assert "partial_sum" in plan, plan


def test_train_test_split_is_map_only(spark):
    # deterministic-hash holdout split is a scan + project: no shuffle
    plan = (
        _q(spark, "train_test_split")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_emb_centroid_partial_aggregates(spark):
    # the 64x posexplode must combine map-side: partial_avg before the
    # exchange caps per-partition shuffle output at labels x dims rows
    plan = (
        _q(spark, "emb_centroid")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_avg" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_semantic_search_hydration_is_broadcast(spark):
    # the k-row hit list must broadcast into the documents join — a
    # shuffled hydration would move the whole document table for a
    # 10-row lookup
    from simple_rust_query_engine_spark.plans.inspect import join_strategies

    strategies = join_strategies(_q(spark, "semantic_search"))
    assert "SortMergeJoin" not in strategies, strategies
    assert "ShuffledHashJoin" not in strategies, strategies
    assert "BroadcastHashJoin" in strategies, strategies


def test_quantile_approx_sketch_combines_map_side(spark):
    # the scale path for grouped percentiles: the GK sketch must
    # partial-aggregate BEFORE the exchange (each upstream partition
    # ships one merged sketch per group, not its raw rows) — the exact
    # percentile form cannot do this, which is exactly why it's the
    # low-cardinality straggler at 100 TB
    plan = (
        _q(spark, "quantile_approx")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ObjectHashAggregate" in plan, plan
    assert "partial_percentile_approx" in plan, plan


def test_bm25_stats_join_is_broadcast(spark):
    # the per-term df and corpus (N, avgdl) aggregates are KB-sized
    # whatever the corpus size — they must broadcast into the score
    # computation, never shuffle the hits on the Zipf token key
    from simple_rust_query_engine_spark.plans.inspect import join_strategies

    strategies = join_strategies(_q(spark, "bm25_search"))
    assert "SortMergeJoin" not in strategies, strategies
    assert "ShuffledHashJoin" not in strategies, strategies


def test_profile_table_two_scans_no_expand_no_sort(spark):
    # r13 shape: TWO cheap scans (keyless basics agg + the no-Expand
    # ndistinct melt), never a per-column scan loop — and neither the
    # Expand (×5 shuffled copies of the table) nor the 5-key Sorts the
    # old single-aggregate exact-distinct plan paid (the string min/max
    # forced the whole expanded chain through sort-based aggregation)
    plan = (
        _q(spark, "profile_table")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 2, plan
    assert "Expand" not in plan, plan
    assert "Sort " not in plan, plan


def _has_global_window(plan: str) -> bool:
    """True iff a Window node feeds an Exchange SinglePartition — the
    whole-input-through-one-task straggler.  An empty partition spec
    is OMITTED from the printed Window node (not shown as `[]`), so
    the probe walks the tree print instead: Sort and Window are unary,
    so the Exchange's parent chain is the line(s) directly above it.
    A keyed window elsewhere in a plan that also carries a legitimate
    1-row global aggregate does NOT match (quality_topk's
    corpus-total)."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        # walk up through pass-through unary nodes: Sort, and the
        # WindowGroupLimit pair Spark inserts for rank-filtered
        # windows (Partial below the exchange, Final above — a
        # rank-filtered GLOBAL window still funnels through one task)
        j = i - 1
        while j >= 0 and (
            "Sort [" in lines[j] or "WindowGroupLimit [" in lines[j]
        ):
            j -= 1
        if j >= 0 and "Window [" in lines[j]:
            return True
    return False


def test_no_query_windows_over_single_partition(spark):
    # blanket plan hygiene, companion to the cartesian sweep: a window
    # function whose partition spec is empty funnels the whole input
    # through ONE task (Exchange SinglePartition → Window) — the
    # unsplittable straggler at 100 TB.  Every declared query that
    # plans a Window must partition it by a real key.
    #
    # Probe the SIMPLE plan via _has_global_window.  The previous
    # probe ("Window" AND "Exchange SinglePartition" in the FORMATTED
    # text) was doubly wrong: formatted mode prints the partitioning
    # on a separate `Arguments:` line so the literal never matched
    # (the sweep was vacuous), and had it matched it would
    # false-flag keyed-window plans that also carry a legitimate
    # 1-row global aggregate (quality_topk's corpus-total).
    offenders = {}
    for name, fn in entry_mod.queries().items():
        if name in _STREAMING_QUERIES:
            continue
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if _has_global_window(plan):
            offenders[name] = True
    assert not offenders, f"single-partition windows in: {sorted(offenders)}"


def test_global_window_probe_catches_offender(spark):
    # positive control: the sweep's regex must actually fire on a
    # deliberately unpartitioned window — guards against the probe
    # regressing into the vacuous string match it replaces
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _has_global_window(plan), plan
    # and an order-less global frame (Window directly over the
    # exchange, no Sort) must match too
    df2 = spark.range(10).withColumn(
        "s", F.sum("id").over(Window.partitionBy())
    )
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert _has_global_window(plan2), plan2
    # and a RANK-filtered global window, where Spark inserts a
    # WindowGroupLimit Partial/Final pair around the exchange — the
    # probe must see through those pass-through nodes.  (row_number
    # with a small filter would instead rewrite to
    # TakeOrderedAndProject, which is NOT a straggler and rightly
    # doesn't match; rank() keeps the Window + SinglePartition shape.)
    df3 = (
        spark.range(10)
        .withColumn("rn", F.rank().over(Window.orderBy("id")))
        .filter("rn <= 3")
    )
    plan3 = df3._jdf.queryExecution().executedPlan().toString()
    assert _has_global_window(plan3), plan3


def test_temperature_mixture_two_phase_and_broadcast_quotas(spark):
    # selection must run the same two-phase skew protection as
    # stratified_sample (phase-1 window keyed by (source, bucket),
    # never a bare low-cardinality source partition alone), and the
    # per-source quota frame must BROADCAST into the corpus — a
    # shuffled join there would reshuffle 100 TB to attach 5 rows
    df = _q(spark, "temperature_mixture")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window [row_number()") == 2, plan
    assert re.search(r"windowspecdefinition\(source#\d+, _b#", plan), plan
    # the 5-row quota frames may single-partition (global SUM over a
    # source-cardinality aggregate); the DATA-SIZED windows must not —
    # every window line must carry partition keys
    for line in plan.splitlines():
        if "Window [row_number()" in line:
            assert "windowspecdefinition(source#" in line, line
    strategies = join_strategies(df)
    # quota frames attach by broadcast only (hash for the per-source
    # quotas, nested-loop for the 1-row weight total); a shuffled join
    # here would reshuffle the corpus to attach 5 rows
    assert strategies, strategies
    assert set(strategies) <= {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}, (
        strategies
    )
    assert "BroadcastHashJoin" in strategies, strategies


def test_decontaminate_fuzzy_broadcasts_eval_side(spark):
    # every join must broadcast (the tiny eval band table into the
    # train probe; the hit table back onto train docs) — the train
    # corpus is never shuffled through a join
    df = _q(spark, "decontaminate_fuzzy")
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}, strategies


def test_profile_approx_has_no_expand(spark):
    # the HLL variant must plan WITHOUT Expand — fixed-size mergeable
    # sketch state is the whole point of the 100 TB dial (since r13 the
    # exact profile also avoids Expand via the two-phase melt; this pin
    # keeps the approx-checked row honest independently)
    approx_plan = (
        _q(spark, "profile_table_approx")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in approx_plan, approx_plan


def test_stateful_pipeline_probe_stays_exchange_free(spark):
    # the per-batch edge-generation stage of pipeline_incr_stateful:
    # batch bands broadcast against the bucketed index (the corpus
    # side is never shuffled), signatures ride in the index rows (no
    # Python eval node), and the only hash shuffle is the
    # pair-distinct — the O(batch) ingest contract at 100 TB
    import os

    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.pipeline import dedup as D

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    idx = D._band_index_for(spark, docs, os.path.abspath(SF_DIR))
    batch = spark.table(idx).filter(F.col("doc_id") % D.INCR_MOD == 0)
    new_edges = D.probe_band_index(spark, idx, new_bands=batch).filter(
        F.col("n_match") >= D.MH_DUP_NM
    )
    plan = new_edges._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_stateful_pipeline_rank_is_touched_only_and_label_windowed(spark):
    # the canonicalize stage: the touched-component filter must reach
    # the rank as a BROADCAST semi/inner join (touched labels are a
    # tiny set), and the window must partition on the component label
    # — never SinglePartition (a global window would serialize the
    # corpus through one task)
    df = _q(spark, "pipeline_incr_stateful")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert re.search(r"Window .*label", plan), plan


def test_label_state_reused_across_calls(spark):
    # repeated per-batch queries must hit the SAME persisted state
    # tables (built once per session per corpus) — a rebuild per call
    # would re-pay CC + layout, the exact cost VERDICT r6 flagged
    from simple_rust_query_engine_spark.pipeline import dedup as D

    _q(spark, "dedup_keep_best").count()
    mid = {k: v for k, v in D._STATE_CACHE.items() if k[0].startswith("state:")}
    assert mid  # keep_best laid down pair + label state
    _q(spark, "dedup_keep_best").count()
    _q(spark, "dedup_cc_incr").count()
    after = {k: v for k, v in D._STATE_CACHE.items() if k[0].startswith("state:")}
    # TUPLE IDENTITY, not value equality: table names are
    # deterministic md5 digests, so a broken cache that rebuilds per
    # call still produces equal strings — only the entry object
    # itself proves build() did not rerun
    for k, v in mid.items():
        assert after[k] is v, k
    # cc_incr never evicted/rebuilt keep_best's entries (its own keys
    # may or may not be new — an earlier test in the shared session
    # can have built them already)
    assert set(mid) <= set(after)


def test_bpe_encode_plan_is_map_only(spark):
    # the corpus-sized tokenization pass (VERDICT r7 item 4): one
    # Arrow-batched encode UDF, every invariant column a row-local
    # expression — so the RETURNED plan must hold exactly one
    # ArrowEvalPython and zero Exchange.  (Training runs eagerly at
    # construction as separate vocab-sized jobs; it is not part of
    # this plan.)
    plan = (
        _q(spark, "bpe_encode_checked")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_bpe_merges_trained_once_per_session_corpus(spark):
    # the merge list is tokenizer STATE (train once, encode many
    # batches): a second construction against the same corpus must
    # reuse the cached list, not re-run the n_merges argmax rounds.
    # TUPLE IDENTITY, not value equality — a broken cache retraining
    # per call would still produce an equal merge list.
    from simple_rust_query_engine_spark.pipeline import dedup_core as DC

    _q(spark, "bpe_encode_checked").count()
    keys = [k for k in DC._STATE_CACHE if k[0].startswith("state:bpe_merges")]
    assert keys
    before = {k: DC._STATE_CACHE[k] for k in keys}
    _q(spark, "bpe_encode_checked").count()
    for k, v in before.items():
        assert DC._STATE_CACHE[k] is v, k


def _knn_sizing_exchanges(spark) -> int:
    """Sizing exchanges ``session.size_to_input`` adds to the k-NN
    probe over the test embeddings: one when the scan has fewer
    splits than min(cores, ceil(bytes / MIN_BYTES_PER_TASK)), else
    none (one split of 193,646 B at sf0.001 → one on any multi-core
    session)."""
    from simple_rust_query_engine_spark.session import (
        MIN_BYTES_PER_TASK,
        input_bytes,
        load_tables,
    )

    emb = load_tables(spark, SF_DIR)["embeddings"]
    width = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-input_bytes(emb) // MIN_BYTES_PER_TASK)),
    )
    return int(emb.rdd.getNumPartitions() < width)


def _run_exchanges(df) -> list[str]:
    """Collect ``df`` and return the Exchange nodes of its final
    adaptive plan: the shuffles that ran, an exchange reused by
    several consumers counted once."""
    df.collect()
    final = df._jdf.queryExecution().executedPlan().executedPlan()
    nodes = [line.split("+- ", 1)[-1] for line in final.toString().splitlines()]
    return [n for n in nodes if n.startswith("Exchange")]


def test_knn_join_plan_is_map_only(spark):
    # the k-NN self-join ships the index as a task broadcast and emits
    # n·k rows straight from the kernel: one ArrowEvalPython-family
    # node (mapInPandas) and no shuffle of its output.  The only
    # exchange is the probe side's sizing exchange (a vec_id hash),
    # present exactly when the scan is narrower than its input bytes
    # warrant; an at-scale corpus whose splits outnumber that width
    # stays zero-Exchange (test_kernel_sizing_rule's "wide" case)
    plan = (
        _q(spark, "knn_join")._jdf.queryExecution().executedPlan().toString()
    )
    sizing = _knn_sizing_exchanges(spark)
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") == sizing, plan
    assert plan.count("Exchange hashpartitioning(vec_id") == sizing, plan
    assert plan.count("REPARTITION_BY_NUM") == sizing, plan


def test_knn_auto_dial_picks_by_index_budget(spark, tables):
    # VERDICT r9 item 3: mode="auto" (the default) picks broadcast vs
    # two-phase from the estimated index bytes against the executor
    # budget.  On the sf corpora the estimate sits far under the
    # default budget → broadcast (one MapInPandas, no exchange but
    # the probe's sizing one); a forced-low budget must
    # switch to two-phase with tiles = ceil(est / budget), each tile
    # broadcast within budget by construction — and the OUTPUT must
    # be identical either way.
    import pytest

    from simple_rust_query_engine_spark.pipeline.similarity import (
        KNN_INDEX_BUDGET_BYTES,
        _knn_geometry,
        knn_index_bytes,
        knn_join,
    )

    emb = tables["embeddings"]
    n, dim = _knn_geometry(emb)
    est = knn_index_bytes(n, dim)
    assert 0 < est < KNN_INDEX_BUDGET_BYTES
    plan = knn_join(emb)._jdf.queryExecution().executedPlan().toString()
    sizing = _knn_sizing_exchanges(spark)
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM") == sizing

    budget = est // 3 + 1
    want_tiles = -(-est // budget)
    assert want_tiles >= 2  # the forced budget actually forces tiling
    df = knn_join(emb, index_budget_bytes=budget)
    plan2 = df._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("MapInPandas") == want_tiles, plan2
    assert "BroadcastExchange" not in plan2, plan2
    ran = _run_exchanges(df)
    assert len(ran) == 1 + sizing, ran

    a = sorted(map(tuple, knn_join(emb, mode="broadcast").collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b

    with pytest.raises(ValueError):
        knn_join(emb, mode="bogus")


def test_lm_score_bigram_plan_single_corpus_scan(spark):
    # the interpolated bigram row: the pair stream and the vocab table
    # are materialize barriers (each feeds 2-3 consumers — unbarriered
    # the corpus re-scanned per consumer, 8 FileScans measured), so
    # the returned plan holds exactly ONE corpus FileScan (the firsts
    # projection); model-table joins are broadcast; no cartesian.  The
    # single SortMergeJoin is the doc-level firsts⟕pairs aggregate
    # join — doc-count-sized, the correct shape at scale.
    plan = (
        _q(spark, "lm_score_bigram")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_ivf_knn_join_plan_one_cell_exchange(spark):
    # the banded approximate k-NN self-join: map-only assignment
    # (Arrow UDF with the trained matrix in closure — never a
    # plan-side join), ONE exchange hash-partitioning on cell, the
    # per-cell top-k inside one FlatMapGroupsInPandas kernel.  No
    # Window (ranks come from the kernel), no cartesian, no broadcast
    # exchange — and never an all-pairs join across cells.
    plan = (
        _q(spark, "ann_ivf_knn_join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_ivf_pq_knn_join_plan_cogroup_and_codes(spark):
    # the batch IVFADC join (r13): queries meet the persisted code
    # table through ONE cell-keyed cogroup (FlatMapCoGroupsInPandas —
    # candidates contribute M ints per row, never raw vectors); the
    # shortlist re-rank is two equi-joins over n·r id pairs and one
    # Window for the final rank.  Never a cartesian, and the code
    # table's FileScan reads (vec_id, cell, codes) — the embedding
    # column must NOT survive pruning on the candidate side.
    plan = (
        _q(spark, "ann_ivf_pq_knn_join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window [") == 1, plan
    # the final-rank cut is pruned map-side BEFORE the vec_id
    # exchange (Partial+Final WindowGroupLimit) — the re-rank never
    # shuffles more than ~k rows per query
    assert plan.count("WindowGroupLimit") == 2, plan
    import re as _re

    code_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "ivf_pq_" in ln
    ]
    assert code_scans, plan  # the persisted index is what's scanned
    assert all(
        not _re.search(r"ReadSchema:[^\n]*embedding", ln)
        for ln in code_scans
    ), code_scans


def test_knn_recall_ivf_plan_and_single_cell_identity(spark, tables):
    # the recall metric joins two n·k-row frames — never the corpus:
    # the hit check is a broadcast semi-join, the 1-row×1-row summary
    # cross joins as BNLJ, and the exact side reads its materialize
    # barrier (no double kernel execution)
    plan = (
        _q(spark, "knn_recall_ivf")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # (vec_id, nbr_id) semi
    assert plan.count("FlatMapGroupsInPandas") == 1, plan  # approx leg
    assert "Scan ExistingRDD" in plan, plan  # exact leg's barrier

    # single-cell identity: with n_cells=1 every vector shares one
    # cell, the banded join degenerates to the exact join, and recall
    # is exactly 1.0 over n·k pairs
    from simple_rust_query_engine_spark.pipeline.similarity import (
        KNN_K,
        knn_recall_ivf,
    )

    row = knn_recall_ivf(tables["embeddings"], n_cells=1).collect()[0]
    assert row.recall_at_k == 1.0
    assert row.n_hits == row.n_exact_pairs == row.n_queries * KNN_K


def test_ann_ivf_knn_join_probe_plan_two_exchanges(spark):
    # the multi-probe cell join adds exactly ONE exchange over the
    # single-cell plan: the p-cell assignment and explode are map-only
    # (Arrow UDF, matrix in closure), the per-cell top-k keeps the
    # cell exchange, and the dedup + global exact top-k run as pure
    # JVM array expressions (collect_list → array_distinct →
    # array_sort → slice → posexplode) behind a vec_id exchange —
    # never a distinct-then-Window (two exchanges + a sort), never a
    # broadcast, never all-pairs across cells, and NO second Python
    # stage (r13: the per-vec_id Arrow kernel paid pandas group
    # dispatch once per query — n tiny groups — and measured 10.5 s
    # steady at sf0.1 vs 0.5 s single-cell).  One corpus scan.
    plan = (
        _q(spark, "ann_ivf_knn_join_probe")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Generate posexplode" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cms_verify_plan_shuffles_candidates_only(spark):
    # the RETURNED plan is the verify stage (the sketch pass ran
    # eagerly at construction, merging d*w counter cells): since r13
    # ONE corpus pass feeds a single map-side-combined vocab exchange
    # (groupBy(w).count carries the exact counts with the distinct
    # pass), the estimate UDF runs over distinct tokens only, no joins
    # and no barrier remain, and the top-k plans as TakeOrdered —
    # never a Window over the token dictionary
    plan = (
        _q(spark, "cms_heavy_hitters")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 0, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "TakeOrdered" in plan, plan
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_knn_label_spread_plan_two_uniform_exchanges(spark):
    # vote count + struct-max argmax: two partial-aggregated hash
    # exchanges over n*k rows, labels attached by broadcast, the
    # scoring itself one MapInPandas — and NO window (a row_number
    # formulation would re-sort every group).  The k-NN kernel under
    # it adds its probe-side sizing exchange exactly as in
    # test_knn_join_plan_is_map_only.
    plan = (
        _q(spark, "knn_label_spread")
        ._jdf.queryExecution().executedPlan().toString()
    )
    sizing = _knn_sizing_exchanges(spark)
    assert plan.count("Exchange hashpartitioning") == 2 + sizing, plan
    assert plan.count("REPARTITION_BY_NUM") == sizing, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "Window" not in plan and "rangepartitioning" not in plan, plan
    assert "roundrobinpartitioning" not in plan.lower(), plan


def test_knn_twophase_plan_one_merge_exchange_no_broadcast(spark):
    # the exact-kNN scale fallback (VERDICT r8 item 3): per-tile
    # indexes ship as task broadcasts (invisible to the plan — there
    # must be NO BroadcastExchange, the full corpus never joins
    # plan-side), each tile scores through its own MapInPandas, and
    # the only exchanges are the vec_id hash merge of the n·k·tiles
    # candidate rows to the global top-k and the shared probe side's
    # sizing exchange when the scan is narrower than its input bytes
    # warrant (test_knn_join_plan_is_map_only)
    from simple_rust_query_engine_spark.pipeline.similarity import KNN_TILES

    df = _q(spark, "knn_join_twophase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == KNN_TILES, plan
    assert "BroadcastExchange" not in plan, plan
    # every tile pass maps over the same sized probe, so its one
    # sizing shuffle runs once and is reused by the other passes
    ran = _run_exchanges(df)
    sizing = _knn_sizing_exchanges(spark)
    assert len(ran) == 1 + sizing, ran
    assert all(e.startswith("Exchange hashpartitioning(vec_id") for e in ran), ran
    assert sum("REPARTITION_BY_NUM" in e for e in ran) == sizing, ran
    assert "CartesianProduct" not in plan, plan


def test_knn_twophase_matches_single_broadcast_knn(spark, tables):
    # the two paths implement ONE semantic contract (they share the
    # oracle): same rows, bit-identical cosines
    from simple_rust_query_engine_spark.pipeline.similarity import (
        knn_join,
        knn_join_twophase,
    )

    a = {
        (r.vec_id, r.rank): (r.nbr_id, r.cos_sim)
        for r in knn_join(tables["embeddings"]).collect()
    }
    b = {
        (r.vec_id, r.rank): (r.nbr_id, r.cos_sim)
        for r in knn_join_twophase(tables["embeddings"]).collect()
    }
    assert a == b


def test_kmeans_iteration_plan_is_one_exchange(spark, tables):
    # each Lloyd's iteration (VERDICT r8 item 4): broadcast-matrix
    # assignment is map-only (one ArrowEvalPython), the new means use
    # the emb_centroid posexplode partial-agg shape — partials emitted
    # map-side, ONE hash exchange moving centroid-sized state, never
    # vectors
    from simple_rust_query_engine_spark.pipeline.similarity import (
        KMEANS_CELLS,
        _ivf_centroids,
        _kmeans_update_frame,
    )

    emb = tables["embeddings"]
    C = _ivf_centroids(emb, KMEANS_CELLS)  # the shared seed helper
    plan = (
        _kmeans_update_frame(emb, C)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "partial_avg" in plan or "partial" in plan.lower(), plan
    assert "Window" not in plan and "BroadcastExchange" not in plan, plan


def test_kmeans_centroids_trained_once_per_session_corpus(spark, tables):
    # the trained matrix is model STATE (train once, assign many):
    # a second call must return the cached object, not re-run the
    # Lloyd's jobs.  OBJECT IDENTITY, not value equality — a broken
    # cache retraining per call still produces an equal matrix.
    from simple_rust_query_engine_spark.pipeline.similarity import (
        kmeans_centroids,
    )

    c1 = kmeans_centroids(tables["embeddings"])
    c2 = kmeans_centroids(tables["embeddings"])
    assert c1 is c2


def test_cms_merge_sketch_exchanges_cells_never_tokens(spark, tables):
    # the merge row's pin (VERDICT r8 item 6): the per-source sketch
    # assembly folds tokens map-side (MapInPandas BEFORE the exchange)
    # and its exchange carries (source, pos, cnt) counter cells — at
    # most d·w per source — never token rows; the RETURNED plan is the
    # shared extraction (same single-candidate-exchange shape as
    # cms_heavy_hitters)
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        _cms_fold_batches,
    )

    docs = tables["documents"]
    tokens_src = docs.select(
        F.col("source"),
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    per_source = (
        tokens_src.mapInPandas(
            _cms_fold_batches(CMS_D, CMS_W, key_col="source"),
            "source string, pos long, cnt long",
        )
        .groupBy("source", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    plan = per_source._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    fold_at = plan.index("MapInPandas")
    exch_at = plan.index("Exchange hashpartitioning")
    # executedPlan prints top-down: the exchange sits ABOVE the fold,
    # i.e. tokens were folded to cells before anything shuffled
    assert exch_at < fold_at, plan
    # and the exchanged row schema is the cell schema, not tokens
    assert "source" in plan[exch_at:exch_at + 120] and "pos" in plan[
        exch_at:exch_at + 120
    ], plan

    # the returned extraction plan keeps the cms_heavy_hitters shape
    out_plan = (
        _q(spark, "cms_merge_heavy_hitters")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert out_plan.count("Exchange hashpartitioning") == 1, out_plan
    assert out_plan.count("BroadcastExchange") == 0, out_plan
    assert "TakeOrdered" in out_plan, out_plan


def test_session_cached_on_evict_releases(spark):
    # ADVICE r8 #3: cache entries holding executor-side resources get
    # a deterministic release hook — fired on identity-check eviction
    # and on anchor death, never on a plain hit
    import gc

    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        _STATE_CACHE,
        _session_cached,
    )

    released = []

    class Anchor:
        pass

    a = Anchor()
    v1 = _session_cached("state:evict_probe", a, lambda: "v1",
                         on_evict=released.append)
    assert _session_cached("state:evict_probe", a, lambda: "BAD",
                           on_evict=released.append) is v1
    assert released == []  # plain hit: no release
    # simulate id reuse: stale entry under this key anchored elsewhere
    b = Anchor()
    key = ("state:evict_probe2", id(b))
    stale = Anchor()
    _session_cached("state:evict_probe2", stale, lambda: "stale",
                    on_evict=released.append)
    _STATE_CACHE[key] = _STATE_CACHE.pop(("state:evict_probe2", id(stale)))
    v2 = _session_cached("state:evict_probe2", b, lambda: "v2",
                         on_evict=released.append)
    assert v2 == "v2" and "stale" in released  # identity-miss released
    # anchor death releases through the weakref callback
    del a
    gc.collect()
    assert "v1" in released
    del b
    gc.collect()
    assert "v2" in released


def test_evict_callback_ignores_replaced_entry():
    # ADVICE r9 #3: a dead anchor's weakref callback must evict only
    # the entry it was registered for — if the dead id() was reused
    # and a NEW live anchor's entry sits under the same key, the
    # callback must leave it (and its broadcasts) alone
    import gc
    import weakref

    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        _STATE_CACHE,
        _session_cached,
    )

    released = []

    class Anchor:
        pass

    a = Anchor()
    _session_cached("state:idreuse_probe", a, lambda: "old",
                    on_evict=released.append)
    key = ("state:idreuse_probe", id(a))
    # simulate the reuse window: a NEW entry replaces ours under the
    # SAME key before the old anchor's callback fires
    keeper = Anchor()
    _STATE_CACHE[key] = (weakref.ref(keeper), "new", released.append)
    del a
    gc.collect()  # fires the OLD entry's callback with its dead ref
    assert key in _STATE_CACHE and _STATE_CACHE[key][1] == "new"
    assert "new" not in released  # the new entry was NOT torn down
    del _STATE_CACHE[key]


def test_evict_state_fires_release_hooks():
    # ADVICE r9 #1: external eviction (benches clearing knn entries)
    # goes through evict_state so on_evict fires — a bare dict pop
    # leaks the entry's executor-side broadcasts
    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        _STATE_CACHE,
        _session_cached,
        evict_state,
    )

    released = []

    class Anchor:
        pass

    a = Anchor()
    _session_cached("state:evsweep_probe:x", a, lambda: "val",
                    on_evict=released.append)
    assert evict_state("evsweep_probe") == 1
    assert released == ["val"]
    assert not any("evsweep_probe" in k[0] for k in _STATE_CACHE)


def test_hybrid_rrf_plan_no_window_no_cartesian(spark):
    # both legs end in TakeOrdered; ranks come from rank-by-count
    # broadcast loops (no window at all — a ROW_NUMBER over an empty
    # partition spec would be invisible noise at k rows but would
    # hollow out the blanket global-window sweep); the fusion join
    # and everything after it touches <= 2*leg_k rows
    plan = (
        _q(spark, "hybrid_search_rrf")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrdered" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # rank-by-count legs


def test_bloom_precheck_plan_never_shuffles_the_corpus(spark):
    # build ran eagerly at construction (set-bit cells merged by
    # distinct, bitset collected as model state); the RETURNED plan is
    # probe + exact verify: one Arrow probe UDF, the existing corpus
    # touched only by a broadcast semi-join (never hash-shuffled — the
    # two hashpartitioning exchanges are the batch-sized hash-set
    # distincts), no sort-merge join, no cartesian
    plan = (
        _q(spark, "bloom_dedup_precheck")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmv_merge_exchanges_carry_sketch_rows(spark, tables):
    # the KMV-merge pin (VERDICT r9 item 4): (a) in the per-source
    # sketch pipeline every exchange is bounded MAP-SIDE — the
    # distinct partially aggregates before shuffling and both rank
    # exchanges sit directly above a Partial WindowGroupLimit, so at
    # most k rows per (key, source[, salt]) group ever cross the wire,
    # never the underlying value set; (b) the returned merge plan
    # consumes the MATERIALIZED sketch twice (estimator + n_sources)
    # and never rescans the corpus
    import re

    from simple_rust_query_engine_spark.operators.sketch import (
        KMV_K,
        N_SALT,
        _kmv_source_sketch,
    )

    raw = _kmv_source_sketch(
        tables["documents"], "lang", "doc_id", "source", KMV_K, N_SALT
    )
    plan = raw._jdf.queryExecution().executedPlan().toString()
    exch = [m.start() for m in re.finditer("Exchange hashpartitioning", plan)]
    part = [
        m.start()
        for m in re.finditer(rf"row_number\(\), {KMV_K}, Partial", plan)
    ]
    assert len(exch) == 3, plan  # distinct + salted rank + per-src rank
    assert len(part) == 2, plan
    # executedPlan prints top-down: each rank exchange sits ABOVE its
    # map-side Partial limiter, and the distinct exchange is last
    # (closest to the scan), below both
    assert exch[0] < part[0] < exch[1] < part[1] < exch[2], plan

    out_plan = (
        _q(spark, "kmv_merge_ndistinct")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FileScan" not in out_plan, out_plan  # corpus scanned ONCE
    assert out_plan.count("Scan ExistingRDD") == 2, out_plan
    assert out_plan.count("BroadcastExchange") == 1, out_plan
    # the n_sources attach is a null-safe broadcast hash join
    assert "BroadcastHashJoin [coalesce" in out_plan, out_plan
