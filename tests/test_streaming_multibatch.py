"""Multi-batch streaming state tests (round-5 follow-up): the other
streaming tests drain the file source in ONE ``availableNow``
micro-batch, so watermark advancement and state eviction ACROSS
triggers were never exercised.  Here the events table is split into 3
chronological parquet files and replayed with ``maxFilesPerTrigger=1``
— at least 3 micro-batches, state carried between them and evicted as
the watermark advances — and the results must STILL equal the batch
twins, with join-state row counts staying bounded by the watermark
horizon instead of growing with the input.
"""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def chrono_dir(tmp_path_factory):
    """events split into 3 chronological files; physical schema
    (TIMESTAMP NANOS) preserved by slicing with pyarrow, mtimes set
    ascending so the file source replays them oldest-first."""
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.take(
        pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    out = tmp_path_factory.mktemp("events_chrono")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = str(out / f"events-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        stamp = 1_700_000_000 + i * 60
        os.utime(path, (stamp, stamp))
    return str(out)


def _batches_with_input(query):
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def test_stream_join_state_evicts_across_batches(spark, chrono_dir, tables):
    from simple_rust_query_engine_spark.streaming.join import (
        interval_join_batch,
        stream_interval_join,
    )

    q = stream_interval_join(
        spark,
        chrono_dir,
        query_name="t_join_multibatch",
        glob="events-*.parquet",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    progresses = list(q.recentProgress)
    q.stop()

    # the rate limit actually split the replay
    assert len(_batches_with_input(q)) >= 3, [
        p["numInputRows"] for p in progresses
    ]

    got = sorted(
        tuple(r)
        for r in spark.table("t_join_multibatch")
        .select("purchase_id", "click_id", "user_id", "gap_ms")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in interval_join_batch(tables["events"])
        .select("purchase_id", "click_id", "user_id", "gap_ms")
        .collect()
    )
    # chronological arrival + watermarks sized over the lookback ⇒ no
    # matching click is evicted before its purchases arrive: the
    # multi-batch streaming result is EXACTLY the batch join
    assert got == want

    # state boundedness: by the final batch the click watermark sits
    # ~3h behind the last event, so clicks/purchases from the first
    # two thirds of the 30-day span must have been EVICTED — state
    # holds a small tail, not the whole input
    n_events_in_state_scope = (
        tables["events"]
        .filter("event_type in ('click', 'purchase')")
        .count()
    )
    with_state = [p for p in progresses if p.get("stateOperators")]
    assert with_state, "no state operator progress recorded"
    final_state_rows = with_state[-1]["stateOperators"][0]["numRowsTotal"]
    assert 0 < final_state_rows < 0.5 * n_events_in_state_scope, (
        final_state_rows,
        n_events_in_state_scope,
    )


def test_stateful_sessionizer_state_carries_across_batches(
    spark, chrono_dir, tables
):
    from simple_rust_query_engine_spark.streaming.events import (
        q_events_sessionize,
        stream_sessionize_stateful,
    )
    from pyspark.sql import functions as F

    q = stream_sessionize_stateful(
        spark,
        chrono_dir,
        query_name="t_sess_multibatch",
        glob="events-*.parquet",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    n_batches = len(_batches_with_input(q))
    q.stop()
    assert n_batches >= 3

    # update-mode sink: one row per user per batch; totals are
    # monotone, so max() per user recovers the final state
    got = sorted(
        tuple(r)
        for r in spark.table("t_sess_multibatch")
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
        .collect()
    )
    want = sorted(
        tuple(r) for r in q_events_sessionize(tables).collect()
    )
    # a session whose gap straddles a BATCH boundary only counts once
    # iff the carried (last_ts, counts) state works — the single-batch
    # parity test can't distinguish that from recomputation
    assert got == want


def test_file_stream_bad_glob_raises(spark):
    # a custom glob matching nothing must raise, not silently start an
    # empty stream off the default file's existence
    import pytest as _pytest

    from simple_rust_query_engine_spark.streaming.source import file_stream

    with _pytest.raises(FileNotFoundError, match="no files match"):
        file_stream(
            spark, "/root/testdata/sf0.001", "events", glob="no-such-*.parquet"
        )


def test_stateful_funnel_across_batches_matches_batch(spark, chrono_dir, tables):
    # chronological multi-batch replay = the in-order-arrival case the
    # stateful funnel's docstring claims equals the batch operator:
    # cross-batch state carry of the per-stage first-times is exercised
    # for real (3+ micro-batches, one file each)
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.operators.temporal import funnel
    from simple_rust_query_engine_spark.session import epoch_ms
    from simple_rust_query_engine_spark.streaming.events import (
        stream_funnel_stateful,
    )

    q = stream_funnel_stateful(
        spark,
        chrono_dir,
        query_name="t_funnel_multibatch",
        glob="events-*.parquet",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    q.stop()
    assert len(_batches_with_input(q)) >= 3

    # update mode: one row per user per batch; depth only grows and
    # first-times only decrease, so take min/max over the emissions
    sink = spark.table("t_funnel_multibatch")
    got = {
        (r.user_id, r.depth, r.t_view_ms, r.t_click_ms, r.t_purchase_ms)
        for r in sink.groupBy("user_id")
        .agg(
            F.max("depth").alias("depth"),
            F.min("t_view_ms").alias("t_view_ms"),
            F.min("t_click_ms").alias("t_click_ms"),
            F.min("t_purchase_ms").alias("t_purchase_ms"),
        )
        .collect()
    }

    b = funnel(tables["events"], ("view", "click", "purchase"))
    want = {
        (r.user_id, r.depth, r.t_view, r.t_click, r.t_purchase)
        for r in b.select(
            "user_id",
            "depth",
            epoch_ms(b, "t_view").alias("t_view"),
            epoch_ms(b, "t_click").alias("t_click"),
            epoch_ms(b, "t_purchase").alias("t_purchase"),
        ).collect()
    }
    assert got == want


def test_interval_join_batch_respects_microsecond_order(spark):
    # a click 400 µs AFTER its purchase (same floored millisecond)
    # must be excluded — the batch twin compares raw timestamps like
    # the streaming query and the oracle, not floored epoch-ms
    import datetime as dt

    from simple_rust_query_engine_spark.streaming.join import (
        interval_join_batch,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0, 100)
    ev = spark.createDataFrame(
        [
            (1, base, 7, "purchase", 1.0, "{}"),
            (2, base + dt.timedelta(microseconds=400), 7, "click", 1.0, "{}"),
            (3, base - dt.timedelta(seconds=1), 7, "click", 1.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    rows = interval_join_batch(ev).collect()
    # only the click strictly before the purchase qualifies
    assert [(r.purchase_id, r.click_id) for r in rows] == [(1, 3)]


def test_stream_minhash_ingest_accumulates_full_pairs(
    spark, tmp_path_factory, tables
):
    # the continuous-ingest claim, exercised for real: documents split
    # into 3 files, replayed one file per trigger; each batch appends
    # its bands to the index and probes it; the accumulated pair table
    # must equal the from-scratch pair set EXACTLY (each unordered
    # pair surfaces once, in its later member's batch)
    from simple_rust_query_engine_spark.pipeline.dedup import (
        minhash_lsh_pairs,
    )
    from simple_rust_query_engine_spark.streaming.dedup import (
        stream_minhash_ingest,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_split")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = str(out / f"documents-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        stamp = 1_700_000_000 + i * 60
        os.utime(path, (stamp, stamp))

    idx_dir = tmp_path_factory.mktemp("ingest_idx")
    q = stream_minhash_ingest(
        spark,
        str(out),
        "t_ingest_idx",
        str(idx_dir / "idx"),
        "t_ingest_pairs",
        query_name="t_minhash_ingest",
        glob="documents-*.parquet",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    try:
        assert n_batches >= 3
        got = spark.table("t_ingest_pairs")
        want = minhash_lsh_pairs(tables["documents"])
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # the index is a plain table: no bucket spec, and each batch
        # wrote at most one file per partition of its band checkpoint
        # (one per split of its input file), not one per bucket
        info = spark.sql("DESCRIBE TABLE EXTENDED t_ingest_idx").collect()
        assert not [r for r in info if r.col_name == "Num Buckets"], info
        splits = sum(
            spark.read.parquet(str(out / f"documents-{i}.parquet"))
            .rdd.getNumPartitions()
            for i in range(3)
        )
        data_files = [
            f for f in os.listdir(idx_dir / "idx") if f.endswith(".parquet")
        ]
        assert 0 < len(data_files) <= splits, (len(data_files), splits)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ingest_idx")
        spark.sql("DROP TABLE IF EXISTS t_ingest_pairs")


def test_stream_minhash_ingest_restart_resumes_from_checkpoint(
    spark, tmp_path_factory, tables
):
    # the production restart path: ingest files 0-1 with a checkpoint,
    # stop, a new file arrives, restart on the SAME checkpoint/tables.
    # The committed batches must NOT replay (pairs stay duplicate-free
    # without any distinct), and the final accumulation equals the
    # from-scratch pair set
    from simple_rust_query_engine_spark.pipeline.dedup import (
        minhash_lsh_pairs,
    )
    from simple_rust_query_engine_spark.streaming.dedup import (
        stream_minhash_ingest,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_restart")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    paths = []
    for i in range(3):
        p = str(out / f"documents-{i}.parquet")
        paths.append((p, t.slice(cuts[i], cuts[i + 1] - cuts[i])))

    for i in range(2):  # only the first two files exist initially
        pq.write_table(paths[i][1], paths[i][0])
        os.utime(paths[i][0], (1_700_000_000 + i * 60,) * 2)

    base = tmp_path_factory.mktemp("restart_state")
    args = (
        spark,
        str(out),
        "t_restart_idx",
        str(base / "idx"),
        "t_restart_pairs",
    )
    kwargs = dict(
        pairs_path=str(base / "pairs"),
        glob="documents-*.parquet",
        max_files_per_trigger=1,
        checkpoint_location=str(base / "ckpt"),
    )
    try:
        q = stream_minhash_ingest(*args, query_name="t_restart_a", **kwargs)
        q.processAllAvailable()
        q.stop()
        n_after_two = spark.table("t_restart_pairs").count()

        pq.write_table(paths[2][1], paths[2][0])
        os.utime(paths[2][0], (1_700_000_000 + 180,) * 2)
        q = stream_minhash_ingest(*args, query_name="t_restart_b", **kwargs)
        q.processAllAvailable()
        q.stop()

        got = spark.table("t_restart_pairs")
        # no committed batch replayed: zero duplicate rows even
        # WITHOUT the defensive distinct
        assert got.count() == got.distinct().count()
        assert got.count() >= n_after_two
        want = minhash_lsh_pairs(tables["documents"])
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_restart_idx")
        spark.sql("DROP TABLE IF EXISTS t_restart_pairs")


def test_stream_minhash_ingest_shared_session_keeps_foreign_barriers(
    spark, tmp_path_factory, tables
):
    # release_batch_barriers=False is the shared-session contract: a
    # concurrent query's localCheckpoint blocks must SURVIVE the
    # ingest (the default sweep would unpersist them and a later read
    # would raise CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    from simple_rust_query_engine_spark.pipeline.dedup import materialize
    from simple_rust_query_engine_spark.streaming.dedup import (
        stream_minhash_ingest,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_shared")
    path = str(out / "documents-0.parquet")
    pq.write_table(t.slice(0, t.num_rows // 3), path)
    os.utime(path, (1_700_000_000, 1_700_000_000))

    # the "concurrent query": a barrier created BEFORE ingest runs,
    # read AFTER — only possible if the sweep leaves it alone
    held = materialize(tables["documents"].select("doc_id").limit(100))
    n_before = held.count()

    idx_dir = tmp_path_factory.mktemp("ingest_idx_shared")
    q = stream_minhash_ingest(
        spark,
        str(out),
        "t_shared_idx",
        str(idx_dir / "idx"),
        "t_shared_pairs",
        query_name="t_minhash_ingest_shared",
        glob="documents-*.parquet",
        release_batch_barriers=False,
    )
    q.processAllAvailable()
    q.stop()
    try:
        assert held.count() == n_before  # blocks intact, no rebuild error
    finally:
        spark.sql("DROP TABLE IF EXISTS t_shared_idx")
        spark.sql("DROP TABLE IF EXISTS t_shared_pairs")


def test_stream_label_maintenance_matches_from_scratch(
    spark, tmp_path_factory, tables
):
    # continuous label maintenance across 3 chronological batches plus
    # one batch of documents shorter than SHINGLE_N tokens (no
    # signature, so ZERO band rows: an empty append and probe): after
    # the stream drains, the committed label state must equal
    # from-scratch minhash-edged CC over every document ingested, the
    # short ones as identity labels — the streaming counterpart of the
    # committed batch-loop test
    import pyarrow as pa
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.pipeline import dedup as D
    from simple_rust_query_engine_spark.streaming.dedup import (
        stream_minhash_ingest,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_labels")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = str(out / f"documents-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        stamp = 1_700_000_000 + i * 60
        os.utime(path, (stamp, stamp))
    # replayed between the first and second corpus batches
    texts = [" ".join(["tok"] * k) for k in range(D.SHINGLE_N)]
    top = pc.max(t["doc_id"]).as_py()
    short_ids = [top + 1 + k for k in range(len(texts))]
    short = pa.table(
        {
            "doc_id": short_ids,
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": [len(x) for x in texts],
        },
        schema=t.schema,
    )
    path = str(out / "documents-short.parquet")
    pq.write_table(short, path)
    os.utime(path, (1_700_000_030, 1_700_000_030))

    run = tmp_path_factory.mktemp("labels_state")
    q = stream_minhash_ingest(
        spark,
        str(out),
        "t_lbl_idx",
        str(run / "idx"),
        "t_lbl_pairs",
        query_name="t_labels_stream",
        glob="documents-*.parquet",
        max_files_per_trigger=1,
        label_table="t_lbl_state",
        label_path=str(run / "labels"),
    )
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    try:
        assert n_batches >= 4
        edges = (
            D.minhash_lsh_pairs(tables["documents"])
            .filter(F.col("n_match") >= D.MH_DUP_NM)
            .select("doc_a", "doc_b")
        )
        vertices = tables["documents"].select("doc_id").union(
            spark.createDataFrame([(i,) for i in short_ids], "doc_id long")
        )
        want = D.connected_components(edges, vertices)
        got = {(r.doc_id, r.label) for r in spark.table("t_lbl_state").collect()}
        exp = {(r.doc_id, r.label) for r in want.collect()}
        assert got == exp
    finally:
        for tbl in ("t_lbl_idx", "t_lbl_pairs", "t_lbl_state"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_knn_stream_scoring_invariant_under_batch_split(
    spark, tmp_path_factory
):
    # the stream-static k-NN scorer is stateless vs the HELD index, so
    # ANY micro-batch split of the arriving embeddings must accumulate
    # to exactly the batch self-join — pinned here with 3 files at
    # maxFilesPerTrigger=1 (the driver entry drains in one batch)
    import pyarrow.parquet as _pq

    from simple_rust_query_engine_spark.pipeline.similarity import (
        KNN_SCHEMA,
        knn_index,
        knn_join,
        knn_score_fn,
    )
    from simple_rust_query_engine_spark.streaming.source import file_stream

    t = _pq.read_table(f"{SF_DIR}/embeddings.parquet")
    out = tmp_path_factory.mktemp("emb_split")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = str(out / f"emb-{i}.parquet")
        _pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        stamp = 1_700_000_000 + i * 60
        os.utime(path, (stamp, stamp))

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = knn_index(emb, cache_key=f"test_split:{SF_DIR}")
    scored = (
        file_stream(
            spark,
            str(out),
            "embeddings",
            glob="emb-*.parquet",
            max_files_per_trigger=1,
        )
        .select("vec_id", "embedding")
        .mapInPandas(knn_score_fn(idx), KNN_SCHEMA)
    )
    q = (
        scored.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_knn_multibatch")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(_batches_with_input(q)) >= 3  # genuinely multi-batch
    # sorted LISTS, not sets — a regression double-emitting rows
    # (e.g. a file replayed across triggers) must fail, not dedup away
    got = sorted(tuple(r) for r in spark.table("t_knn_multibatch").collect())
    exp = sorted(tuple(r) for r in knn_join(emb).collect())
    assert got == exp
    spark.catalog.dropTempView("t_knn_multibatch")


def test_stream_cms_accumulates_and_replay_is_idempotent(
    spark, tmp_path_factory, tables
):
    # the continuous-profile claim, exercised for real: documents
    # split into 3 files, one file per trigger; the per-batch sketch
    # cells must accumulate (counter linearity) to EXACTLY the batch
    # heavy-hitter result — and a hand-replayed batch (foreachBatch is
    # at-least-once; a replay appends IDENTICAL batch-keyed rows) must
    # change nothing, because the merge reader dedups before summing.
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        HH_K,
        HH_PHI_DENOM,
        _cms_extract,
        _cms_tokens,
        cms_heavy_hitters,
    )
    from simple_rust_query_engine_spark.streaming.sketch import (
        merged_cells_sketch,
        stream_cms_cells,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_split_cms")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = str(out / f"documents-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        stamp = 1_700_000_000 + i * 60
        os.utime(path, (stamp, stamp))

    cells_dir = tmp_path_factory.mktemp("cms_cells")
    q = stream_cms_cells(
        spark,
        str(out),
        "t_cms_cells",
        str(cells_dir / "cells"),
        query_name="t_cms_stream",
        glob="documents-*.parquet",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    try:
        assert n_batches >= 3

        def extract():
            cms = merged_cells_sketch(spark, "t_cms_cells")
            return {
                tuple(r)
                for r in _cms_extract(
                    _cms_tokens(tables["documents"]),
                    cms,
                    HH_K,
                    CMS_W,
                    CMS_D,
                    HH_PHI_DENOM,
                ).collect()
            }

        want = {
            tuple(r) for r in cms_heavy_hitters(tables["documents"]).collect()
        }
        assert extract() == want

        # REPLAY: re-append one batch's rows verbatim — the DISTINCT
        # in the merge reader must absorb it
        replay = spark.table("t_cms_cells").filter(F.col("batch_id") == 0)
        replay.write.mode("append").saveAsTable("t_cms_cells")
        spark.catalog.refreshTable("t_cms_cells")
        assert extract() == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cms_cells")


def test_stream_cms_restart_resumes_from_checkpoint(
    spark, tmp_path_factory, tables
):
    # the production restart path for the continuous profile: ingest
    # files 0-1 with a checkpoint, stop, a new file arrives, restart
    # on the SAME checkpoint/table.  Committed batches must NOT
    # replay (cell rows stay duplicate-free without the defensive
    # distinct) and the accumulated sketch must equal the batch row's
    from simple_rust_query_engine_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        HH_K,
        HH_PHI_DENOM,
        _cms_extract,
        _cms_tokens,
        cms_heavy_hitters,
    )
    from simple_rust_query_engine_spark.streaming.sketch import (
        merged_cells_sketch,
        stream_cms_cells,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_cms_restart")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    slices = [
        (str(out / f"documents-{i}.parquet"), t.slice(cuts[i], cuts[i + 1] - cuts[i]))
        for i in range(3)
    ]
    for i in range(2):
        pq.write_table(slices[i][1], slices[i][0])
        os.utime(slices[i][0], (1_700_000_000 + i * 60,) * 2)

    base = tmp_path_factory.mktemp("cms_restart_state")
    kwargs = dict(
        glob="documents-*.parquet",
        max_files_per_trigger=1,
        checkpoint_location=str(base / "ckpt"),
    )
    try:
        q = stream_cms_cells(
            spark, str(out), "t_cms_restart", str(base / "cells"),
            query_name="t_cms_restart_a", **kwargs,
        )
        q.processAllAvailable()
        q.stop()
        n_after_two = spark.table("t_cms_restart").count()

        pq.write_table(slices[2][1], slices[2][0])
        os.utime(slices[2][0], (1_700_000_000 + 180,) * 2)
        q = stream_cms_cells(
            spark, str(out), "t_cms_restart", str(base / "cells"),
            query_name="t_cms_restart_b", **kwargs,
        )
        q.processAllAvailable()
        q.stop()

        got = spark.table("t_cms_restart")
        assert got.count() == got.distinct().count()  # no replay
        assert got.count() > n_after_two  # the new file landed
        cms = merged_cells_sketch(spark, "t_cms_restart")
        want = {
            tuple(r) for r in cms_heavy_hitters(tables["documents"]).collect()
        }
        got_hh = {
            tuple(r)
            for r in _cms_extract(
                _cms_tokens(tables["documents"]), cms, HH_K, CMS_W, CMS_D,
                HH_PHI_DENOM,
            ).collect()
        }
        assert got_hh == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cms_restart")


def _bloom_batch_positions(docs):
    """The batch-built filter's set-bit positions over the existing
    side — the ground truth the accumulated stream bits must equal."""
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.operators.sketch import (
        BLOOM_M,
        CMS_D,
        _bloom_set_bits_df,
        _bloom_split,
        _cms_bucket_py,
        _kmv_hash,
    )

    existing, _ = _bloom_split(docs)
    return {
        r.pos
        for r in _bloom_set_bits_df(
            existing.select(_kmv_hash(F.col("text")).alias("h")),
            _cms_bucket_py,
            BLOOM_M,
            CMS_D,
        ).collect()
    }


def test_stream_bloom_accumulates_and_replay_is_idempotent(
    spark, tmp_path_factory, tables
):
    # OR linearity, exercised for real: documents split into 3 files,
    # one per trigger — after ALL batches the accumulated DISTINCT
    # positions must equal the batch-built filter bit for bit (so the
    # probe/verify tail and its oracle carry over verbatim), and a
    # hand-replayed batch (foreachBatch is at-least-once) must change
    # nothing because distinct absorbs identical (batch_id, pos) rows.
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.streaming.sketch import (
        stream_bloom_bits,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_split_bloom")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        path = str(out / f"documents-{i}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        stamp = 1_700_000_000 + i * 60
        os.utime(path, (stamp, stamp))

    bits_dir = tmp_path_factory.mktemp("bloom_bits")
    q = stream_bloom_bits(
        spark,
        str(out),
        "t_bloom_bits",
        str(bits_dir / "bits"),
        query_name="t_bloom_stream",
        glob="documents-*.parquet",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    n_batches = len(_batches_with_input(q))
    q.stop()
    try:
        assert n_batches >= 3
        want = _bloom_batch_positions(tables["documents"])

        def got():
            return {
                r.pos
                for r in spark.table("t_bloom_bits")
                .select("pos").distinct().collect()
            }

        assert got() == want

        # REPLAY: re-append one batch's rows verbatim
        replay = spark.table("t_bloom_bits").filter(F.col("batch_id") == 0)
        replay.write.mode("append").saveAsTable("t_bloom_bits")
        spark.catalog.refreshTable("t_bloom_bits")
        assert got() == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bloom_bits")


def test_stream_bloom_restart_resumes_from_checkpoint(
    spark, tmp_path_factory, tables
):
    # production restart: ingest files 0-1 with a checkpoint, stop, a
    # new file arrives, restart on the SAME checkpoint/table.
    # Committed batches must NOT replay (bit rows stay duplicate-free
    # without the defensive distinct) and the accumulated filter must
    # equal the batch-built one — and the full streamed entry's
    # soundness guarantee must hold on the final probe.
    from simple_rust_query_engine_spark.streaming.sketch import (
        accumulated_bloom_bitset,
        stream_bloom_bits,
    )

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    out = tmp_path_factory.mktemp("docs_bloom_restart")
    n = t.num_rows
    cuts = [0, n // 3, 2 * n // 3, n]
    slices = [
        (
            str(out / f"documents-{i}.parquet"),
            t.slice(cuts[i], cuts[i + 1] - cuts[i]),
        )
        for i in range(3)
    ]
    for i in range(2):
        pq.write_table(slices[i][1], slices[i][0])
        os.utime(slices[i][0], (1_700_000_000 + i * 60,) * 2)

    base = tmp_path_factory.mktemp("bloom_restart_state")
    kwargs = dict(
        glob="documents-*.parquet",
        max_files_per_trigger=1,
        checkpoint_location=str(base / "ckpt"),
    )
    try:
        q = stream_bloom_bits(
            spark, str(out), "t_bloom_restart", str(base / "bits"),
            query_name="t_bloom_restart_a", **kwargs,
        )
        q.processAllAvailable()
        q.stop()
        n_after_two = spark.table("t_bloom_restart").count()

        pq.write_table(slices[2][1], slices[2][0])
        os.utime(slices[2][0], (1_700_000_000 + 180,) * 2)
        q = stream_bloom_bits(
            spark, str(out), "t_bloom_restart", str(base / "bits"),
            query_name="t_bloom_restart_b", **kwargs,
        )
        q.processAllAvailable()
        q.stop()

        got = spark.table("t_bloom_restart")
        assert got.count() == got.distinct().count()  # no replay
        assert got.count() >= n_after_two  # the new file landed
        bitset = accumulated_bloom_bitset(spark, "t_bloom_restart")
        want = _bloom_batch_positions(tables["documents"])
        import numpy as np

        assert set(np.flatnonzero(bitset).tolist()) == want

        # the streamed filter probes soundly: no false negatives
        from simple_rust_query_engine_spark.operators.sketch import (
            BLOOM_M,
            CMS_D,
            _bloom_probe_verify,
            _bloom_split,
            _cms_bucket_py,
        )

        existing, batch = _bloom_split(tables["documents"])
        res = _bloom_probe_verify(
            existing, batch, bitset, _cms_bucket_py, BLOOM_M, CMS_D
        )
        assert res.filter("NOT sound").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bloom_restart")
