"""End-to-end corpus-curation integration: the operators composed the
way a real training-data pipeline composes them, in ONE session —
near-dup removal (shared edge table), benchmark decontamination,
quality filtering, temperature-balanced selection, sequence packing.

The per-operator tests pin each stage in isolation; this chain pins
the INTEGRATION properties: stages accept each other's outputs, the
dedup family's materialized edge table is computed once across its
three consumers, and the corpus only ever shrinks (each stage's
output is a subset of its input).
"""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_curation_pipeline_end_to_end(spark, tables):
    from simple_rust_query_engine_spark.pipeline import dedup as D
    from simple_rust_query_engine_spark.pipeline.pack import (
        pack_sequences,
        temperature_mixture,
    )

    docs = tables["documents"]
    n0 = docs.count()

    # 1. near-dup removal, quality-aware: keep the richest member of
    # each component (computes the shared edge table ONCE)
    labels = D.connected_components(
        D.near_dup_edges(docs).select("doc_a", "doc_b"),
        docs.select("doc_id"),
    )
    keep = D.keep_best(docs, labels).select(
        F.col("keep_id").alias("doc_id")
    )
    deduped = docs.join(keep, "doc_id")
    n1 = deduped.count()
    assert 0 < n1 <= n0
    # the family cache: a second consumer must get the SAME
    # materialized edge table, not a recompute
    assert D.near_dup_edges(docs) is D.near_dup_edges(docs)

    # 2. benchmark decontamination over the deduped corpus: drop docs
    # sharing any verbatim span with the eval source (and the eval
    # source itself — it is held out, not trained on)
    contam = D.q_decontaminate({"documents": deduped})
    clean = deduped.join(
        contam.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    n2 = clean.count()
    assert 0 < n2 <= n1

    # 3. quality floor: docs must retain at least 5 distinct tokens
    # (a stand-in for the lm_score / repetition filters, which have
    # their own oracle rows)
    quality = clean.filter(
        F.size(F.array_distinct(F.split(F.col("text"), " "))) >= 5
    )
    n3 = quality.count()
    assert 0 < n3 <= n2

    # 4. temperature-balanced selection over the surviving corpus
    selected = temperature_mixture(quality, target=min(200, n3))
    picked = quality.join(selected.select("doc_id"), "doc_id")
    n4 = picked.count()
    assert 0 < n4 <= min(200, n3)

    # 5. pack into training sequences: every selected doc with >= 1
    # token must appear in the packed index, and sequence ids are
    # dense per shard from 0
    packed = pack_sequences(picked)
    packed_docs = {r.doc_id for r in packed.select("doc_id").distinct().collect()}
    expected_docs = {
        r.doc_id
        for r in picked.filter(
            F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 1
        )
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id")
        .collect()
    }
    assert packed_docs == expected_docs
    for r in packed.groupBy("source").agg(
        F.collect_set("seq_id").alias("seqs")
    ).collect():
        assert sorted(r.seqs) == list(range(len(r.seqs))), (
            r.source, sorted(r.seqs)[:5]
        )

    # the funnel is monotone and ends non-trivial
    assert n0 >= n1 >= n2 >= n3 >= n4 > 0


def test_committed_ingest_cycle_matches_from_scratch(
    spark, tables, tmp_path_factory
):
    # the FULL committed loop, three arriving batches: band append ->
    # broadcast probe -> union-find relabel -> commit label state.  After
    # every batch the persisted label state must equal from-scratch
    # CC over the same-threshold LSH edges of the documents seen so
    # far — the invariant that makes incremental ingest trustworthy
    # at 100 TB (no drift, ever, regardless of batch boundaries).
    from simple_rust_query_engine_spark.pipeline import dedup as D

    docs = tables["documents"]
    out = tmp_path_factory.mktemp("ingest_cycle")
    idx_t, lab_t = "t_cycle_idx", "t_cycle_labels"

    # empty initial state
    D.commit_label_state(
        spark,
        spark.createDataFrame([], "doc_id long, label long"),
        lab_t,
        str(out / "labels"),
    )
    try:
        seen = None
        for b in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == b)
            seen = batch.select("doc_id") if seen is None else (
                seen.union(batch.select("doc_id"))
            )
            state = D.ingest_docs_batch(
                spark, batch, idx_t, str(out / "idx"),
                lab_t, str(out / "labels"),
            )
            # from-scratch truth over the documents seen so far
            seen_docs = docs.join(seen, "doc_id")
            edges = (
                D.minhash_lsh_pairs(seen_docs)
                .filter(F.col("n_match") >= D.MH_DUP_NM)
                .select("doc_a", "doc_b")
            )
            want = D.connected_components(edges, seen.select("doc_id"))
            got = {(r.doc_id, r.label) for r in state.collect()}
            exp = {(r.doc_id, r.label) for r in want.collect()}
            assert got == exp, f"batch {b}: state diverged from scratch"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx_t}")
        spark.sql(f"DROP TABLE IF EXISTS {lab_t}")
