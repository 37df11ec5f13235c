"""Runtime paths not covered by the oracle harness: mapInPandas
decode plumbing, frame sampling, Structured Streaming end-to-end."""

import pytest
from pyspark.sql import functions as F

from simple_rust_query_engine_spark.pipeline.multimodal import (
    decode_images,
    frame_sample,
    with_binary_payload,
)
from simple_rust_query_engine_spark.streaming.events import stream_events_hourly
from tests.conftest import SF_DIR


def test_decode_images_mapinpandas(tables):
    b = with_binary_payload(tables["documents"])
    dec = decode_images(b)
    assert dec.schema.simpleString() == (
        "struct<doc_id:bigint,n_bytes:int,format:string,width:int,"
        "height:int,n_channels:int,mean_luma:double>"
    )
    rows = dec.collect()
    assert len(rows) == tables["documents"].count()
    r0 = rows[0]
    assert r0.n_bytes > 0 and 1 <= r0.width <= 640 and 1 <= r0.height <= 480


def test_decode_images_real_codec(spark):
    # exercised only where a codec exists (the build container has no
    # PIL): a synthetic in-memory PNG must decode to its true
    # dimensions/format through the same mapInPandas plumbing
    import io

    import pytest

    pytest.importorskip("PIL")
    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (8, 5), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    )
    r = decode_images(df, codec="real").collect()[0]
    assert (r.format, r.width, r.height, r.n_channels) == ("png", 8, 5, 3)
    assert r.n_bytes == len(png)
    assert abs(r.mean_luma - 76.245) < 1.0  # ITU-R 601 luma of pure red


def test_decode_images_rejects_unknown_codec(tables):
    import pytest

    from simple_rust_query_engine_spark.pipeline.multimodal import (
        with_binary_payload,
    )

    with pytest.raises(ValueError, match="codec"):
        decode_images(with_binary_payload(tables["documents"]), codec="webp")


def test_resize_images_fake_kernel(spark):
    # geometry: aspect-fit in integer floor division, never upscales;
    # resample: nearest-neighbor byte positions (i*n)//t; empty
    # payload emits zero samples and mean 0.0
    from simple_rust_query_engine_spark.pipeline.multimodal import (
        _fit_geometry,
        resize_images,
    )

    assert _fit_geometry(100, 50, 224) == (100, 50)      # no upscale
    assert _fit_geometry(640, 480, 224) == (224, 168)    # landscape
    assert _fit_geometry(480, 640, 224) == (168, 224)    # portrait
    assert _fit_geometry(10000, 1, 224) == (224, 1)      # clamp to 1
    df = spark.createDataFrame(
        [(1, bytearray(b"abcd")), (2, bytearray(b""))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in resize_images(df, codec="fake").collect()}
    r1 = got[1]
    assert (r1.width, r1.height) == (4 % 640 + 1, 4 * 7 % 480 + 1)
    assert r1.n_sampled == 4
    assert r1.mean_sampled == sum(b"abcd") / 4
    assert r1.used_real is False  # kernel flag: fake byte semantics
    r2 = got[2]
    assert (r2.n_sampled, r2.mean_sampled) == (0, 0.0)


def test_fit_geometry_vs_pil_thumbnail_contract():
    """PIL-free pin of the fake/real RESIZE geometry contract (the
    build container has no PIL and installs are unavailable, so the
    real kernel cannot execute in CI — this is the documented
    container constraint, and the contract is pinned another way).

    CONTRACT (also stated in ``resize_images``'s docstring): both
    kernels aspect-fit into a max_side square and never upscale, but
    they ROUND DIFFERENTLY — ``_fit_geometry`` floors the scaled side
    (integer-only, DuckDB-twinnable) while ``PIL.Image.thumbnail``
    rounds it to the nearest aspect-preserving integer — so out_w/
    out_h may differ by AT MOST 1px between kernels, and agree
    exactly whenever the scaled side is integral.  Auto-mode
    consumers disambiguate per row via ``used_real``.

    ``_pil_thumbnail_size`` below is transcribed from Pillow's public
    ``Image.thumbnail`` (round_aspect logic, Pillow 9-11); asserting
    against the transcription pins OUR claim about the divergence
    without importing PIL.  The skip-marked real-codec tests execute
    the genuine article wherever PIL exists."""
    import math

    from simple_rust_query_engine_spark.pipeline.multimodal import (
        _fit_geometry,
    )

    def _pil_thumbnail_size(w, h, max_side):
        # Pillow Image.thumbnail geometry (public source): aspect-
        # preserving round-to-nearest with a floor/ceil tie broken by
        # which is closer to the true aspect; min 1; never upscales
        x = y = max_side
        if x >= w and y >= h:
            return w, h

        def round_aspect(number, key):
            return max(min(math.floor(number), math.ceil(number), key=key), 1)

        aspect = w / h
        if x / y >= aspect:
            x = round_aspect(y * aspect, key=lambda n: abs(aspect - n / y))
        else:
            y = round_aspect(
                x / aspect,
                key=lambda n: 0 if n == 0 else abs(aspect - x / n),
            )
        return x, y

    max_side = 224
    for w in list(range(1, 40)) + [224, 225, 448, 640, 1000, 10000]:
        for h in list(range(1, 40)) + [224, 225, 336, 480, 999]:
            fw, fh = _fit_geometry(w, h, max_side)
            rw, rh = _pil_thumbnail_size(w, h, max_side)
            # both: never upscale, fit the square, floor of the true
            # scaled side never exceeded by more than the 1px rounding
            assert fw <= max(w, 1) and fh <= max(h, 1)
            assert max(fw, fh) <= max_side and max(rw, rh) <= max_side
            assert abs(fw - rw) <= 1 and abs(fh - rh) <= 1, (w, h)
            if w <= max_side and h <= max_side:
                assert (fw, fh) == (rw, rh) == (w, h)
            elif w >= h and (h * max_side) % w == 0:
                # integral scaled side → floor == round → exact match
                assert (fw, fh) == (rw, rh), (w, h)


def test_resize_images_real_codec(spark):
    import io

    import pytest

    pytest.importorskip("PIL")
    from PIL import Image

    from simple_rust_query_engine_spark.pipeline.multimodal import (
        resize_images,
    )

    buf = io.BytesIO()
    Image.new("RGB", (448, 224), (0, 255, 0)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    r = resize_images(df, codec="real").collect()[0]
    assert (r.width, r.height) == (448, 224)
    assert (r.out_w, r.out_h) == (224, 112)  # thumbnail aspect-fit
    assert r.used_real is True  # kernel flag: real pixel semantics


def test_frame_sample_explode(tables):
    b = with_binary_payload(tables["documents"])
    fs = frame_sample(b, every_n_bytes=64)
    # every doc emits ceil(n_bytes/64) frames
    expected = (
        b.select(
            (F.floor((F.octet_length("payload") - 1) / 64) + 1).alias("k")
        ).agg(F.sum("k")).collect()[0][0]
    )
    assert fs.count() == expected
    assert fs.filter(F.col("byte_offset") % 64 != 0).count() == 0


def test_streaming_complete_matches_batch_exactly(spark):
    # complete mode re-emits every window — must EQUAL the batch twin
    from simple_rust_query_engine_spark.streaming.events import (
        q_events_window,
        q_events_window_stream,
    )
    from simple_rust_query_engine_spark.session import load_tables

    out = q_events_window_stream(spark, SF_DIR)
    batch = q_events_window(load_tables(spark, SF_DIR))
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in batch.collect()}


def test_stateful_sessionize_matches_batch(spark):
    # applyInPandasWithState sessionizer == batch window-function twin
    from simple_rust_query_engine_spark.streaming.events import (
        q_events_sessionize,
        stream_sessionize_stateful,
    )
    from simple_rust_query_engine_spark.session import load_tables

    q = stream_sessionize_stateful(spark, SF_DIR, "t_sessions_stateful")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_sessions_stateful")
    # update semantics: one row per user per micro-batch; totals are
    # monotone, so the per-user max is the final state
    last = got.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max("n_events").alias("n_events"),
    )
    exp = q_events_sessionize(load_tables(spark, SF_DIR))
    assert last.exceptAll(exp).count() == 0
    assert exp.exceptAll(last).count() == 0


def test_incremental_minhash_is_restriction_of_full(tables):
    # incremental (new-vs-all) pairs == full self-join pairs that
    # touch at least one new doc — nothing extra, nothing lost
    from simple_rust_query_engine_spark.pipeline.dedup import (
        INCR_MOD,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    docs = tables["documents"]
    full = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    incr = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs_incremental(
            docs, lambda d: d % INCR_MOD == 0
        ).collect()
    }
    expected = {p for p in full if p[0] % INCR_MOD == 0 or p[1] % INCR_MOD == 0}
    assert incr == expected


def test_band_index_full_and_probe_match_from_scratch(spark, tables, tmp_path):
    # the persisted bucketed band index must be a pure layout change:
    # full regeneration == minhash_lsh_pairs, and a fresh-batch probe
    # (signatures recomputed for the batch only) == the from-scratch
    # incremental join — rows, stats and all
    from simple_rust_query_engine_spark.pipeline.dedup import (
        INCR_MOD,
        build_band_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_pairs_from_index,
        probe_band_index,
    )

    docs = tables["documents"]
    build_band_index(spark, docs, "band_idx_test", str(tmp_path / "bi"), 8)
    try:
        full = minhash_pairs_from_index(spark, "band_idx_test")
        scratch = minhash_lsh_pairs(docs)
        assert full.exceptAll(scratch).count() == 0
        assert scratch.exceptAll(full).count() == 0

        batch = docs.filter(F.col("doc_id") % INCR_MOD == 0)
        probed = probe_band_index(spark, "band_idx_test", batch)
        incr = minhash_lsh_pairs_incremental(docs, lambda d: d % INCR_MOD == 0)
        assert probed.exceptAll(incr).count() == 0
        assert incr.exceptAll(probed).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS band_idx_test")


def test_band_index_append_ingest_cycle(spark, tables, tmp_path):
    # the REAL ingest loop: index holds the existing corpus, a new
    # batch arrives → probe (new-vs-existing pairs), append the
    # batch's bands, and the grown index must reproduce the
    # from-scratch full pair set exactly
    from simple_rust_query_engine_spark.pipeline.dedup import (
        INCR_MOD,
        _band_exploded,
        _checkpointed_sigs,
        build_band_index,
        minhash_lsh_pairs,
        minhash_pairs_from_index,
        probe_band_index,
    )
    from simple_rust_query_engine_spark.sources.write import write_bucketed

    docs = tables["documents"]
    existing = docs.filter(F.col("doc_id") % INCR_MOD != 0)
    batch = docs.filter(F.col("doc_id") % INCR_MOD == 0)
    build_band_index(spark, existing, "band_idx_cycle", str(tmp_path / "bi"), 8)
    try:
        probed = probe_band_index(spark, "band_idx_cycle", batch)
        # the probe sees only new-vs-EXISTING pairs here (the index
        # predates the batch); every one must be a true full-join pair
        full = minhash_lsh_pairs(docs)
        assert probed.join(
            full, ["doc_a", "doc_b", "n_match", "est_jaccard"], "left_anti"
        ).count() == 0
        # complete the cycle: append the batch's band rows
        write_bucketed(
            _band_exploded(_checkpointed_sigs(batch), with_sig=True),
            "band_idx_cycle",
            str(tmp_path / "bi"),
            bucket_by=["band"],
            num_buckets=8,
            mode="append",
        )
        grown = minhash_pairs_from_index(spark, "band_idx_cycle")
        assert grown.exceptAll(full).count() == 0
        assert full.exceptAll(grown).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS band_idx_cycle")


def test_merge_labels_bridges_old_components(spark):
    # the case where incremental label maintenance must actually do
    # work: a new edge BRIDGES two existing components (their minima
    # must unify to the global min), another attaches a brand-new doc
    # pair, and untouched components keep their labels
    from simple_rust_query_engine_spark.pipeline.dedup import merge_labels

    labels0 = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5), (3, 3), (7, 7), (9, 9)],
        "doc_id long, label long",
    )
    new_edges = spark.createDataFrame(
        [(2, 5), (7, 9)], "doc_a long, doc_b long"
    )
    vertices = labels0.select("doc_id")
    got = {
        r.doc_id: r.label
        for r in merge_labels(labels0, new_edges, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 3: 3, 7: 7, 9: 7}


def _fold_batch(spark, arriving, pairs):
    # (arriving docs, probe pairs) frames; a pair's flag says whether it
    # clears the edge threshold
    from simple_rust_query_engine_spark.pipeline.dedup import MH_DUP_NM

    return (
        spark.createDataFrame([(d,) for d in arriving], "doc_id long"),
        spark.createDataFrame(
            [(a, b, MH_DUP_NM if keep else MH_DUP_NM - 1) for a, b, keep in pairs],
            "doc_a long, doc_b long, n_match int",
        ),
    )


def _fold(spark, arriving, pairs, table, path):
    from simple_rust_query_engine_spark.pipeline.dedup import fold_edges_into_labels

    fold_edges_into_labels(spark, *_fold_batch(spark, arriving, pairs), table, path)
    return sorted(map(tuple, spark.table(table).collect()))


def test_fold_bridges_components_and_replay_is_idempotent(spark, tmp_path):
    # the ingest fold over committed state: a batch edge BRIDGES two
    # components an earlier batch built, another attaches an arriving
    # doc, a below-threshold pair is no edge, and untouched docs keep
    # their labels; replaying the batch changes nothing
    path = str(tmp_path / "labels")
    try:
        first = _fold(spark, [1, 2, 5, 6, 3, 7],
                      [(1, 2, True), (5, 6, True)], "t_fold_bridge", path)
        assert first == [(1, 1), (2, 1), (3, 3), (5, 5), (6, 5), (7, 7)]
        batch = ([9], [(2, 5, True), (7, 9, True), (3, 7, False)])
        want = [(1, 1), (2, 1), (3, 3), (5, 1), (6, 1), (7, 7), (9, 7)]
        assert _fold(spark, *batch, "t_fold_bridge", path) == want
        assert _fold(spark, *batch, "t_fold_bridge", path) == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fold_bridge")


def test_fold_matches_merge_labels_with_index_only_endpoint(spark, tmp_path):
    # an edge endpoint neither held nor arriving (a doc only the band
    # index has seen) keeps its own id, as in merge_labels' CC over
    # (star forest ∪ edges): here it is the bridged component's
    # minimum, so it becomes the label without becoming a row
    from simple_rust_query_engine_spark.pipeline.dedup import merge_labels

    path = str(tmp_path / "labels")
    try:
        _fold(spark, [4, 6, 8, 9], [(4, 6, True)], "t_fold_ghost", path)
        before = spark.createDataFrame(
            [(4, 4), (6, 4), (8, 8), (9, 9), (10, 10)], "doc_id long, label long"
        )
        edges = spark.createDataFrame(
            [(0, 6), (0, 8), (9, 10)], "doc_a long, doc_b long"
        )
        want = sorted(
            map(tuple, merge_labels(before, edges, before.select("doc_id")).collect())
        )
        got = _fold(spark, [10], [(0, 6, True), (0, 8, True), (9, 10, True)],
                    "t_fold_ghost", path)
        assert got == want == [(4, 0), (6, 0), (8, 0), (9, 9), (10, 9)]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fold_ghost")


def test_fold_runs_at_most_two_jobs_before_commit(spark, tmp_path, monkeypatch):
    # with state held and an edge to fold, the fold reads the batch's
    # edges and its endpoints' state labels — one job each — and
    # hands the commit a lazy frame: no connected-components job runs
    from simple_rust_query_engine_spark.pipeline import dedup_ingest

    path = str(tmp_path / "labels")
    try:
        _fold(spark, [1, 2, 3, 4], [(1, 2, True)], "t_fold_jobs", path)
        batch = _fold_batch(spark, [5], [(2, 3, True), (4, 5, True)])
        handed = []
        monkeypatch.setattr(
            dedup_ingest, "commit_label_state",
            lambda spark, labels, *a, **k: handed.append(labels),
        )
        sc = spark.sparkContext
        sc.setJobGroup("fold_jobs", "fold one batch into held state")
        try:
            dedup_ingest.fold_edges_into_labels(
                spark, *batch, "t_fold_jobs", path
            )
            jobs = list(sc.statusTracker().getJobIdsForGroup("fold_jobs"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) <= 2, jobs
        (labels,) = handed
        assert sorted(map(tuple, labels.collect())) == [
            (1, 1), (2, 1), (3, 1), (4, 4), (5, 4)
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fold_jobs")


def test_temperature_mixture_upweights_small_sources(tables):
    # alpha=0.5 quotas: each source gets min(n, floor(target*sqrt(n)/
    # sum sqrt)) docs — smaller sources get a LARGER share than
    # proportional sampling would give them, totals never exceed the
    # target, and per-source selection is an exact rank prefix
    import math

    from simple_rust_query_engine_spark.pipeline.pack import (
        TEMP_TARGET,
        TEMP_W_SCALE,
        temperature_mixture,
    )

    docs = tables["documents"]
    n_by_src = {r.source: r.cnt for r in docs.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
    out = temperature_mixture(docs).collect()
    got = {}
    for r in out:
        got.setdefault(r.source, []).append(r.rank)
    w = {s: math.floor(math.sqrt(n) * TEMP_W_SCALE) for s, n in n_by_src.items()}
    wt = sum(w.values())
    for s, n in n_by_src.items():
        want = min(n, (TEMP_TARGET * w[s]) // wt)
        ranks = sorted(got.get(s, []))
        assert ranks == list(range(1, want + 1)), (s, want, ranks[:5])
    assert len(out) <= TEMP_TARGET


def test_temperature_mixture_upweight_property_on_skewed_sources(spark):
    # the driver corpus has uniform source sizes (sqrt == proportional
    # there), so the temperature property needs a skewed frame: with
    # sources of 1000/100/10 docs, the small sources' selected SHARE
    # must exceed their corpus share and the giant's must shrink
    from simple_rust_query_engine_spark.pipeline.pack import (
        temperature_mixture,
    )

    rows = []
    did = 0
    for src, n in (("big", 1000), ("mid", 100), ("small", 10)):
        for _ in range(n):
            rows.append((did, src))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture(df, target=200)
    got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    total = 1110
    selected = sum(got.values())
    # small/mid overrepresented, big underrepresented vs corpus share
    assert got["small"] / selected > 10 / total
    assert got["mid"] / selected > 100 / total
    assert got["big"] / selected < 1000 / total
    assert selected <= 200


def test_decontaminate_fuzzy_flags_eval_neardups(tables):
    # ground truth from the full minhash pair list: a train doc is
    # flagged iff it has an est_jaccard>=0.5 pair with an eval doc
    from simple_rust_query_engine_spark.pipeline.dedup import (
        EVAL_SOURCE,
        q_decontaminate_fuzzy,
        minhash_lsh_pairs,
    )

    docs = tables["documents"]
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    flagged_want = set()
    for r in minhash_lsh_pairs(docs).collect():
        if r.est_jaccard >= 0.5:
            a_ev, b_ev = src[r.doc_a] == EVAL_SOURCE, src[r.doc_b] == EVAL_SOURCE
            if a_ev != b_ev:  # one train, one eval
                flagged_want.add(r.doc_b if a_ev else r.doc_a)
    out = {r.doc_id: r for r in q_decontaminate_fuzzy(tables).collect()}
    assert set(out) == {d for d, s in src.items() if s != EVAL_SOURCE}
    flagged_got = {d for d, r in out.items() if r.contaminated}
    assert flagged_got == flagged_want


def test_excise_spans_consistent_with_span_frac(tables):
    # excision and the drop rule share the duplicated-window
    # detection: a doc loses tokens iff it has duplicated windows,
    # and k distinct duplicated window starts excise at least k and
    # at most k*SPAN_W tokens (distinct starts have distinct leftmost
    # tokens; each window covers SPAN_W)
    from simple_rust_query_engine_spark.pipeline.dedup import (
        SPAN_W,
        q_dup_span_frac,
        q_excise_spans,
    )

    frac = {r.doc_id: r for r in q_dup_span_frac(tables).collect()}
    exc = {r.doc_id: r for r in q_excise_spans(tables).collect()}
    docs = {r.doc_id: r.text for r in tables["documents"].collect()}
    assert set(exc) == set(docs)  # every doc comes back
    for doc_id, e in exc.items():
        f = frac.get(doc_id)
        if f is None:  # shorter than SPAN_W: no windows, never excised
            assert e.n_removed == 0 and e.text_clean == docs[doc_id]
        elif f.n_dup_windows == 0:
            assert e.n_removed == 0 and e.text_clean == docs[doc_id]
        else:
            assert f.n_dup_windows <= e.n_removed <= f.n_dup_windows * SPAN_W
            assert e.text_clean != docs[doc_id]


def test_near_dup_edges_cache_shared_and_invalidated(spark, tables):
    # the dedup family shares ONE materialized edge table per corpus
    # per session; release_barriers must drop the cache with the
    # blocks (a stale hit would raise CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    from simple_rust_query_engine_spark.pipeline.dedup import near_dup_edges
    from simple_rust_query_engine_spark.session import release_barriers

    e1 = near_dup_edges(tables["documents"])
    assert near_dup_edges(tables["documents"]) is e1
    n1 = e1.count()
    release_barriers(spark)
    e3 = near_dup_edges(tables["documents"])
    assert e3 is not e1
    assert e3.count() == n1


def test_multiprobe_recall_dominates_single_probe(tables):
    # multi-probe searches a strict superset of buckets, so its k-th
    # best cosine can never be worse than single-probe's
    from simple_rust_query_engine_spark.pipeline.similarity import (
        ann_lsh_multiprobe_topk,
        ann_lsh_topk,
    )

    single = ann_lsh_topk(tables["embeddings"], 0, k=5).collect()
    multi = ann_lsh_multiprobe_topk(tables["embeddings"], 0, k=5).collect()
    assert len(multi) >= len(single)
    # dominance holds pairwise over the top-|single| prefix (both are
    # sorted desc); comparing raw mins would be wrong when the query
    # bucket holds fewer than k vectors and multi returns MORE rows
    for s, m in zip(single, multi):
        assert m.cos_sim >= s.cos_sim - 1e-12


def test_streaming_dedup_matches_batch_distinct(spark):
    # stateful dropDuplicates through the streaming engine == batch
    # DISTINCT digest set
    from simple_rust_query_engine_spark.streaming.dedup import q_dedup_exact_stream

    out = q_dedup_exact_stream(spark, SF_DIR)
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.md5("text").alias("content_hash")
    ).distinct()
    assert {r.content_hash for r in out.collect()} == {
        r.content_hash for r in batch.collect()
    }


def test_streaming_dedup_within_watermark(spark):
    # bounded-state variant: one row per (user_id, hour) key; since a
    # single availableNow run never retires state mid-batch here, the
    # output equals the batch distinct of the same keys
    from simple_rust_query_engine_spark.streaming.dedup import (
        stream_dedup_within_watermark,
    )
    from simple_rust_query_engine_spark.session import load_tables

    q = stream_dedup_within_watermark(spark, SF_DIR, "t_dedup_wm")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_dedup_wm")
    e = load_tables(spark, SF_DIR)["events"]
    exp = e.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).distinct()
    assert got.count() == exp.count()
    assert got.distinct().count() == got.count()


def test_structured_streaming_hourly(spark):
    q = stream_events_hourly(spark, SF_DIR, "t_stream_hourly")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM t_stream_hourly")
    n = out.count()
    assert n > 0
    # streaming result must agree with the batch twin
    from simple_rust_query_engine_spark.streaming.events import q_events_window
    from simple_rust_query_engine_spark.session import load_tables

    batch = q_events_window(load_tables(spark, SF_DIR))
    b_rows = {tuple(r) for r in batch.collect()}
    s_rows = {tuple(r) for r in out.collect()}
    # append mode emits only watermark-finalized windows: the stream
    # result is a prefix of the batch result, missing at most the
    # windows inside the 1h watermark of the max event time
    assert s_rows <= b_rows
    missing = b_rows - s_rows
    max_hour = max(r[0] for r in b_rows)
    assert all(r[0] >= max_hour - 2 * 3600 for r in missing), missing


def test_stream_to_parquet_exactly_once(spark, tmp_path):
    # file sink + checkpoint: drain the events stream to parquet, then
    # RERUN with the same checkpoint — the commit log must prevent any
    # re-emission (exactly-once), and the landed rows equal the batch read
    from simple_rust_query_engine_spark.streaming.sink import stream_to_parquet
    from simple_rust_query_engine_spark.streaming.source import file_stream

    out = str(tmp_path / "events_out")
    ckpt = str(tmp_path / "ckpt")
    src = file_stream(spark, SF_DIR, "events").select("event_id", "event_type")
    q = stream_to_parquet(src, out, ckpt, query_name="t_sink_1")
    q.awaitTermination(120)
    n_batch = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert spark.read.parquet(out).count() == n_batch

    src2 = file_stream(spark, SF_DIR, "events").select("event_id", "event_type")
    q2 = stream_to_parquet(src2, out, ckpt, query_name="t_sink_2")
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_batch  # no duplicates


def test_stream_foreach_batch_upsert(spark, tmp_path):
    from simple_rust_query_engine_spark.streaming.sink import stream_foreach_batch
    from simple_rust_query_engine_spark.streaming.source import file_stream

    seen = []

    def fold(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    src = file_stream(spark, SF_DIR, "documents").select("doc_id")
    q = stream_foreach_batch(src, fold, str(tmp_path / "ckpt_fb"), query_name="t_fb")
    q.awaitTermination(120)
    total = sum(n for _, n in seen)
    assert total == spark.read.parquet(f"{SF_DIR}/documents.parquet").count()


def test_redact_pii_synthetic(spark):
    # driver corpus has no PII — exercise on synthetic rows instead
    from simple_rust_query_engine_spark.pipeline.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
            (2, "ssn 123-45-6789 appears once"),
            (3, "clean text with no identifiers at all"),
            (4, "two mails: a@b.io c.d@e-f.org and +1 (212) 555-0199"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1
    assert "<EMAIL>" in out[1].text_redacted and "<PHONE>" in out[1].text_redacted
    assert "bob.smith" not in out[1].text_redacted
    assert out[2].n_ssn == 1 and "<SSN>" in out[2].text_redacted
    assert out[3].n_email == out[3].n_phone == out[3].n_ssn == 0
    assert out[3].text_redacted == out[3].text
    assert out[4].n_email == 2 and out[4].n_phone == 1


def test_neardup_tiling_is_exact(tables):
    # chunk=3 forces many tiles on the bench corpus; results must be
    # BIT-identical to the untiled path (tiling bounds memory, never
    # changes the left-to-right fold arithmetic)
    from simple_rust_query_engine_spark.pipeline.similarity import (
        embedding_neardup_pairs,
    )

    emb = tables["embeddings"]
    big = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in embedding_neardup_pairs(emb).collect()
    }
    tiled = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in embedding_neardup_pairs(emb, chunk=3).collect()
    }
    assert big == tiled and len(big) > 0


def test_neardup_bucket_count_grows_with_planes(tables):
    # the scale dial must actually refine the blocking: more planes ⇒
    # strictly more distinct buckets on the bench corpus, all < 2^planes
    from simple_rust_query_engine_spark.pipeline.similarity import lsh_bucket

    emb = tables["embeddings"]
    counts = {}
    for planes in (4, 6):
        buckets = emb.select(
            lsh_bucket(F.col("embedding"), planes=planes).alias("b")
        )
        stats = buckets.agg(
            F.countDistinct("b").alias("n"), F.max("b").alias("mx"),
            F.min("b").alias("mn"),
        ).collect()[0]
        assert 0 <= stats.mn and stats.mx < 2**planes
        counts[planes] = stats.n
    assert counts[6] > counts[4], counts


def test_neardup_multiband_is_superset(tables):
    # band 0 blocks on the same hyperplane family as the single-band
    # run, so OR-ing band 1 in can only ADD recovered pairs
    from simple_rust_query_engine_spark.pipeline.similarity import (
        embedding_neardup_pairs,
    )

    emb = tables["embeddings"]
    single = {
        (r.vec_a, r.vec_b) for r in embedding_neardup_pairs(emb).collect()
    }
    multi = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_pairs(emb, bands=2).collect()
    }
    assert single <= multi


def test_strong_hash_paths(spark):
    # the one-flag production exit: blake2b shingle ids instead of the
    # oracle-friendly affine word hash.  Same plan, same semantics —
    # near-dups found, exact dups at est_jaccard 1.0 — different ids.
    from simple_rust_query_engine_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        simhash,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, base + " with a tiny suffix change"),
            (4, "completely unrelated text about spark query engines here"),
            (5, "xy"),  # under SHINGLE_N tokens → NULL signature
        ],
        "doc_id long, text string",
    )
    for strong in (False, True):
        pairs = {
            (r.doc_a, r.doc_b): r.est_jaccard
            for r in minhash_lsh_pairs(docs, strong_hash=strong).collect()
        }
        assert pairs.get((1, 2)) == 1.0, (strong, pairs)
        assert (1, 4) not in pairs and (2, 4) not in pairs, (strong, pairs)
        sh = {r.doc_id: r.simhash for r in simhash(docs, strong_hash=strong).collect()}
        assert sh[1] == sh[2] and sh[5] == 0, (strong, sh)
        assert bin(sh[1] ^ sh[4]).count("1") > 3, (strong, sh)
    # the two paths must actually use different shingle ids
    weak = minhash_signatures(docs).collect()
    strong = minhash_signatures(docs, strong_hash=True).collect()
    w = {r.doc_id: list(r.sig) for r in weak}
    s = {r.doc_id: list(r.sig) for r in strong}
    assert w[1] != s[1]
    assert s[5] == [None] * len(s[1])  # NULL semantics preserved


def test_star_cc_chain_converges_logarithmically(spark):
    # a 64-node chain is the propagation worst case (~63 rounds);
    # large-star/small-star must land the same labels in O(log n)
    from simple_rust_query_engine_spark.pipeline.dedup import (
        connected_components_star,
    )

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    lab, rounds = connected_components_star(edges, vertices)
    got = {r.doc_id: r.label for r in lab.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 12, rounds  # paper bound ~2 log n; propagation needs ~63


def test_ngram_candidate_aggregation_matches_row_filtered_distinct(tables):
    # r14: the candidate stage aggregates per pair (map-side combined)
    # instead of filtering each matched row and running a distinct —
    # the pair requirement is constant per pair, so max-over-rows ⟺
    # any-row-passes and the candidate SET must be identical to the
    # r11 row-filtered-distinct reference, spelled out here verbatim
    from simple_rust_query_engine_spark.pipeline.dedup_sketch import (
        JACCARD_T,
        _ngram_candidates,
        _prefix_postings,
        _shingle_arrs,
    )

    docs = tables["documents"]
    probe = _prefix_postings(_shingle_arrs(docs))
    pa = probe.select(
        F.col("doc_id").alias("pa"), "shingle",
        F.col("rn").alias("rn_a"), F.col("n_sh").alias("na"),
    )
    pb = probe.select(
        F.col("doc_id").alias("pb"), "shingle",
        F.col("rn").alias("rn_b"), F.col("n_sh").alias("nb"),
    )
    ubound = (
        F.least(F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b")) + 1
    )
    req = F.lit(JACCARD_T / (1.0 + JACCARD_T)) * (F.col("na") + F.col("nb"))
    lenf = (F.col("na") >= F.lit(JACCARD_T) * F.col("nb")) & (
        F.col("nb") >= F.lit(JACCARD_T) * F.col("na")
    )
    ref = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("pa") < F.col("pb"))
            & lenf
            & (ubound >= req - F.lit(1e-9))
        )
        .select(F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
        .distinct()
    )
    _, cand = _ngram_candidates(docs)
    ref_set = {(r.doc_a, r.doc_b) for r in ref.collect()}
    cand_set = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert cand_set == ref_set and len(cand_set) > 0


def test_ppjoin_candidate_estimate_bounds_actual(tables):
    # the density dial: Σ C(prefix_df, 2) must upper-bound the real
    # (pre-distinct, hence also post-distinct) candidate-pair count —
    # the property that makes it a safe go/no-go probe before paying
    # the exact verify (sf1 soak: 50.9M bound vs 17.2M actual)
    from simple_rust_query_engine_spark.pipeline.dedup_sketch import (
        _ngram_candidates,
        estimate_ppjoin_candidates,
    )

    docs = tables["documents"]
    bound = estimate_ppjoin_candidates(docs)
    _, cand = _ngram_candidates(docs)
    actual = cand.count()
    assert bound >= actual
    assert bound > 0


def test_star_cc_matches_propagation_on_neardup_graph(tables, spark):
    from simple_rust_query_engine_spark.pipeline.dedup import (
        connected_components,
        q_ngram_jaccard,
    )

    t = tables
    edges = q_ngram_jaccard(t).select("doc_a", "doc_b")
    verts = t["documents"].select("doc_id")
    prop = {
        r.doc_id: r.label
        for r in connected_components(edges, verts).collect()
    }
    star = {
        r.doc_id: r.label
        for r in connected_components(edges, verts, algorithm="star").collect()
    }
    assert prop == star and len(prop) > 0


def test_lsh_bucket_udf_matches_expression(tables):
    # the Arrow bucket UDF must be bit-identical to the interpreted
    # expression form (which the DuckDB oracle mirrors) on every
    # vector, for every band
    from simple_rust_query_engine_spark.pipeline.similarity import (
        LSH_PLANES,
        lsh_bucket,
        lsh_bucket_udf,
    )

    emb = tables["embeddings"]
    udf = lsh_bucket_udf(planes=LSH_PLANES, bands=2)
    both = emb.select(
        "vec_id",
        udf(F.col("embedding")).alias("u"),
        lsh_bucket(F.col("embedding")).alias("e0"),
        lsh_bucket(F.col("embedding"), plane_offset=LSH_PLANES).alias("e1"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert list(r.u) == [r.e0, r.e1], r


def test_stream_interval_join_matches_batch(spark):
    # the stream-stream join through the streaming engine must emit
    # exactly the batch twin's rows (inner join => append-safe)
    from simple_rust_query_engine_spark.session import load_tables
    from simple_rust_query_engine_spark.streaming.join import (
        interval_join_batch,
        q_events_stream_join,
    )

    t = load_tables(spark, SF_DIR)
    batch = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_ms)
        for r in interval_join_batch(t["events"]).collect()
    }
    stream = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_ms)
        for r in q_events_stream_join(spark, SF_DIR).collect()
    }
    assert batch == stream and len(batch) > 0


def test_stateful_funnel_matches_batch(spark):
    # applyInPandasWithState funnel == batch single-shuffle window
    # funnel (first-times compared in epoch ms — the state's unit)
    from simple_rust_query_engine_spark.operators.temporal import (
        FUNNEL_STAGES,
        funnel,
    )
    from simple_rust_query_engine_spark.session import epoch_ms, load_tables
    from simple_rust_query_engine_spark.streaming.events import (
        stream_funnel_stateful,
    )

    q = stream_funnel_stateful(spark, SF_DIR, "t_funnel_stateful")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("t_funnel_stateful")
    # update semantics: first-times only decrease, depth only grows
    last = got.groupBy("user_id").agg(
        F.max("depth").alias("depth"),
        *[F.min(f"t_{s}_ms").alias(f"t_{s}_ms") for s in FUNNEL_STAGES],
    )
    b = funnel(load_tables(spark, SF_DIR)["events"], FUNNEL_STAGES)
    for s in FUNNEL_STAGES:
        b = b.withColumn(f"t_{s}_ms", epoch_ms(b, f"t_{s}"))
    exp = b.select(
        "user_id", "depth", *[f"t_{s}_ms" for s in FUNNEL_STAGES]
    )
    last = last.select(*exp.columns)
    assert last.exceptAll(exp).count() == 0
    assert exp.exceptAll(last).count() == 0


def test_ivf_kmeans_production_variant(tables):
    # the KMeans-trained IVF (no oracle twin — KMeans isn't
    # cross-engine reproducible) must behave like an ANN index:
    # k results, descending scores, deterministic under its seed, and
    # probing 4/16 cells still recovers brute-force neighbours
    from simple_rust_query_engine_spark.pipeline.similarity import (
        ann_brute_topk,
        ann_ivf_kmeans_topk,
    )

    emb = tables["embeddings"]
    got = ann_ivf_kmeans_topk(emb, k=5).collect()
    assert len(got) == 5
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)
    brute = {r.vec_id for r in ann_brute_topk(emb, k=5).collect()}
    assert len({r.vec_id for r in got} & brute) >= 1
    again = ann_ivf_kmeans_topk(emb, k=5).collect()
    assert [r.vec_id for r in again] == [r.vec_id for r in got]


def test_chunk_documents_gapped_stride_stays_in_range(spark):
    # stride > chunk_size = gapped sampling: every emitted chunk must
    # be non-empty with n_tok_chunk >= 1 (a negative overlap used to
    # emit starts past the token array)
    from simple_rust_query_engine_spark.pipeline.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(16))),
         (2, " ".join(f"w{i}" for i in range(15)))],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_size=8, stride=16).collect()
    assert rows, "expected at least one chunk per doc"
    for r in rows:
        assert r.n_tok_chunk >= 1, r
        assert r.chunk_text != "", r
    # doc 1: exactly one chunk (start 16 would be past the array)
    assert len([r for r in rows if r.doc_id == 1]) == 1


def test_funnel_rejects_repeated_stage_names(spark):
    from simple_rust_query_engine_spark.operators.temporal import funnel

    df = spark.createDataFrame([], "user_id long, ts timestamp, event_id long, event_type string")
    try:
        funnel(df, ("view", "click", "view"))
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "unique" in str(e)


def test_token_budget_greedy_rule(tables):
    # greedy budget semantics: within each stratum the kept token sum
    # reaches the budget (overshooting by at most the crossing doc) OR
    # the stratum ran out of tokens; and every stratum emits >= 1 doc
    from pyspark.sql import functions as F

    from simple_rust_query_engine_spark.pipeline.pack import (
        BUDGET_TOKENS,
        token_budget_mixture,
    )

    docs = tables["documents"]
    kept = token_budget_mixture(docs).groupBy("lang").agg(
        F.sum("n_tok").alias("kept_tok"),
        F.max("n_tok").alias("max_tok"),
        F.count("*").alias("n"),
    )
    totals = {
        r["lang"]: r["tot"]
        for r in docs.select(
            "lang", F.regexp_count("text", F.lit(r"\S+")).alias("t")
        )
        .groupBy("lang")
        .agg(F.sum("t").alias("tot"))
        .collect()
    }
    rows = kept.collect()
    assert {r["lang"] for r in rows} == set(totals), "a stratum emitted 0 docs"
    for r in rows:
        if totals[r["lang"]] >= BUDGET_TOKENS:
            assert r["kept_tok"] >= BUDGET_TOKENS, r
            assert r["kept_tok"] < BUDGET_TOKENS + r["max_tok"], r
        else:
            assert r["kept_tok"] == totals[r["lang"]], r


def test_stratified_sample_bucket_fan_is_invisible(tables):
    # the n_buckets dial changes the PLAN (pre-prune fan-out), never
    # the RESULT: phase 1 keeps a superset of the global top-k at any
    # fan, so 1-bucket (the naive form), 4 and 32 agree exactly
    from simple_rust_query_engine_spark.pipeline.pack import stratified_sample

    docs = tables["documents"]
    base = sorted(map(tuple, stratified_sample(docs, n_buckets=1).collect()))
    for b in (4, 32):
        assert (
            sorted(map(tuple, stratified_sample(docs, n_buckets=b).collect()))
            == base
        )


def test_durable_materialize_truncates_lineage(spark):
    # regression: a persist(DISK_ONLY)-based durable barrier kept the
    # full logical plan, so iterative callers (star CC) nested plans
    # per round and Catalyst re-analysis grew exponentially — the
    # 64-chain test went 5s -> 15s -> minutes per round while reading
    # every byte from cache.  The durable barrier must truncate
    # lineage like localCheckpoint does: plan rooted at an RDD scan,
    # no trace of the upstream operators.
    from simple_rust_query_engine_spark.pipeline.dedup import materialize

    df = spark.range(10).selectExpr("id", "id * 2 AS y")
    out = materialize(df, durable=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "Range" not in plan, plan
    assert sorted(map(tuple, out.collect())) == [(i, 2 * i) for i in range(10)]


def test_bpe_train_matches_python_reference(spark, tables):
    # the distributed BPE loop (pair counts + merge apply over the
    # word dict) must produce the exact merge sequence a single-node
    # reference implementation derives from the same word counts —
    # including tie-breaks (count desc, then pair lexicographic)
    from collections import Counter

    from simple_rust_query_engine_spark.pipeline.text import (
        bpe_train,
        word_counts,
    )

    docs = tables["documents"]
    wc = {
        r.word: r.cnt
        for r in word_counts(docs).collect()
        if len(r.word) >= 2
    }

    def py_bpe(wc, n):
        state = {w: tuple(w) for w in wc}
        merges = []
        for _ in range(n):
            counts = Counter()
            for w, syms in state.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] += wc[w]
            if not counts:
                break
            (a, b), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((a, b, c))
            nxt = {}
            for w, syms in state.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nxt[w] = tuple(out)
            state = nxt
        return merges

    want = py_bpe(wc, 8)
    got = bpe_train(docs, n_merges=8)
    assert got == want


def test_bpe_train_survives_word_collapse(spark):
    # a frequent two-letter word collapses to ONE symbol the moment
    # its pair wins a round; the next round's pair counting must skip
    # (not index past) collapsed rows, and training must terminate by
    # exhaustion once every word is fully merged (regression: the
    # unguarded transform(sequence(1, size(syms) - 1)) evaluated the
    # DESCENDING [1, 0] on size-1 rows and threw INVALID_ARRAY_INDEX
    # under Spark 4's default ANSI mode)
    from simple_rust_query_engine_spark.pipeline.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab ab ab cd cd"), (2, "ab cd xy")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=10)
    assert merges == [("a", "b", 4), ("c", "d", 3), ("x", "y", 1)]


def test_bpe_encode_matches_merge_replay(spark, tables):
    # encode-by-lowest-rank must equal sequentially replaying the
    # trained merges over every word (the standard BPE equivalence),
    # and concatenating subwords must reproduce the original words
    from simple_rust_query_engine_spark.pipeline.text import (
        bpe_encode,
        bpe_train,
    )

    docs = tables["documents"]
    merges = bpe_train(docs, n_merges=8)

    def replay(word):
        syms = list(word)
        for a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r.doc_id: (list(r.subwords), r.n_subwords)
           for r in bpe_encode(docs, merges).collect()}
    for row in docs.select("doc_id", "text").collect():
        want = [s for w in row.text.split(" ") if w for s in replay(w)]
        subwords, n = got[row.doc_id]
        assert subwords == want, row.doc_id
        assert n == len(want)
        assert "".join(subwords) == row.text.replace(" ", "")


def test_doc_novelty_first_seen_ordering(spark):
    # novelty counts a window as "seen before" only when a LOWER
    # doc_id carries the same span text; within-doc repeats and
    # same-doc first carriers stay novel, and docs shorter than
    # SPAN_W emit no row at all
    from simple_rust_query_engine_spark.pipeline.dedup import q_doc_novelty

    base = "a b c d e f g h"          # exactly SPAN_W tokens: 1 window
    docs = spark.createDataFrame(
        [
            (1, base),                # first carrier -> novel
            (2, base),                # verbatim replay -> seen before
            (3, base + " i"),         # window1 seen, window2 novel
            (4, "too short"),         # < SPAN_W tokens: no row
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_windows, r.n_seen_before, r.novelty_frac)
        for r in q_doc_novelty({"documents": docs}).collect()
    }
    assert got == {1: (1, 0, 1.0), 2: (1, 1, 0.0), 3: (2, 1, 0.5)}


def test_cross_source_overlap_matrix(spark):
    # three verbatim copies across two sources: one intra-A pair and
    # two A-B pairs, all at jaccard 1.0; the unrelated doc joins no
    # pair and contributes no row
    from simple_rust_query_engine_spark.pipeline.dedup import (
        cross_source_overlap,
        near_dup_edges,
    )

    docs = spark.createDataFrame(
        [
            (1, "x y z w", "en", "srcA", 7),
            (2, "x y z w", "en", "srcB", 7),
            (3, "x y z w", "en", "srcA", 7),
            (4, "p q r s t u v", "en", "srcB", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.source_a, r.source_b): (r.n_pairs, r.max_jaccard)
        for r in cross_source_overlap(docs, near_dup_edges(docs)).collect()
    }
    assert got == {
        ("srcA", "srcA"): (1, 1.0),
        ("srcA", "srcB"): (2, 1.0),
    }


def test_dup_cluster_sizes_matches_label_state(spark):
    # the histogram must be exactly the size distribution of the
    # persisted label state dedup_cc serves, and n_docs must tie out
    # both per-row (size x count) and in total (the whole corpus)
    from collections import Counter

    from simple_rust_query_engine_spark.pipeline.dedup import (
        q_dedup_cc,
        q_dup_cluster_sizes,
    )
    from tests.conftest import SF_DIR

    labels = q_dedup_cc(spark, SF_DIR).collect()
    want = Counter(Counter(r.label for r in labels).values())
    rows = q_dup_cluster_sizes(spark, SF_DIR).collect()
    assert {r.cluster_size: r.n_clusters for r in rows} == dict(want)
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
    assert sum(r.n_docs for r in rows) == len(labels)


def test_kmeans_centroids_train_once(spark, monkeypatch):
    # VERDICT r9 item 6: the trained matrix persists as a state:
    # parquet table per (corpus files, geometry) — a SECOND call,
    # even from a different frame over the same files, must reload
    # instead of re-running Lloyd's.  The pin: after the first train,
    # the iteration kernel is replaced with a tripwire and a fresh
    # frame still gets the identical matrix.
    import os

    import numpy as np

    import simple_rust_query_engine_spark.pipeline.similarity as S

    path = os.path.join(SF_DIR, "embeddings.parquet")
    emb1 = spark.read.parquet(path)
    C1 = S.kmeans_centroids(emb1)

    def boom(*a, **k):
        raise AssertionError("Lloyd's re-ran despite persisted state")

    monkeypatch.setattr(S, "_kmeans_update_frame", boom)
    monkeypatch.setattr(S, "_ivf_centroids", boom)
    emb2 = spark.read.parquet(path)  # different frame, same corpus
    C2 = S.kmeans_centroids(emb2)
    assert np.array_equal(C1, C2)  # parquet doubles round-trip exactly


def test_kmeans_centroids_synthetic_frame_skips_persistence(spark):
    # a createDataFrame corpus has no input files: it must train under
    # the per-frame session cache alone (and not collide with any
    # persisted table)
    import numpy as np

    import simple_rust_query_engine_spark.pipeline.similarity as S

    rows = [(i, [float(i % 3), 1.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    C = S.kmeans_centroids(emb, n_cells=3, n_iters=1)
    assert C.shape == (3, 2) and np.isfinite(C).all()


def test_kmeans_centroids_filtered_frame_gets_own_state(spark):
    # the state key includes the canonicalized-plan shape fingerprint
    # (_plan_shape_fingerprint — md5 of the jvmId-stripped canonical
    # plan JSON), not just inputFiles: a filtered frame over the SAME
    # parquet must train its own matrix, never reuse (or poison) the
    # whole-corpus one
    import os

    import numpy as np

    import simple_rust_query_engine_spark.pipeline.similarity as S

    path = os.path.join(SF_DIR, "embeddings.parquet")
    C_full = S.kmeans_centroids(spark.read.parquet(path))
    sub = spark.read.parquet(path).filter("vec_id < 100")
    C_sub = S.kmeans_centroids(sub)
    assert not np.array_equal(C_full, C_sub)
    # and the whole-corpus state is intact after the subset call
    C_again = S.kmeans_centroids(spark.read.parquet(path))
    assert np.array_equal(C_full, C_again)


def test_knn_twophase_warns_when_budget_unmeetable(spark):
    # a corpus whose degenerate tiling forces the full-index
    # broadcast must WARN when that index exceeds the budget the
    # auto dial rejected (few rows x huge dim) — never silently
    # violate it
    import warnings as W

    import pytest

    import simple_rust_query_engine_spark.pipeline.similarity as S

    rows = [(i, [float(i)] * 8) for i in range(4)]  # 4 <= k: degenerate
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "KNN_INDEX_BUDGET_BYTES", 1)
        with pytest.warns(UserWarning, match="cannot be tiled"):
            S.knn_join_twophase(emb, tiles=2).count()
    # within budget the same degenerate fallback stays silent about
    # tiling (unrelated library warnings must not fail this test —
    # record and filter rather than simplefilter("error"))
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        S.knn_join_twophase(emb, tiles=2).count()
    assert not [w for w in caught if "cannot be tiled" in str(w.message)]

    # the CALLER's budget is the one checked: the auto dial threads a
    # custom index_budget_bytes down to the degenerate fallback
    with pytest.warns(UserWarning, match="cannot be tiled"):
        S.knn_join(emb, mode="auto", index_budget_bytes=1).count()


def test_text_dedup_routing_both_densities(spark, tables):
    # VERDICT r11 item 6: the probe-routed operator must take the
    # exact PPJoin path at driver density and the banded LSH path on
    # a closed-vocabulary corpus whose candidate bound is quadratic
    from simple_rust_query_engine_spark.pipeline.dedup import (
        AUTO_ROUTE_MAX_CAND_PER_DOC,
        dedup_text_auto,
        minhash_lsh_pairs,
        route_text_dedup,
    )

    route, bound, n = route_text_dedup(tables["documents"])
    assert route == "ppjoin"
    assert bound <= AUTO_ROUTE_MAX_CAND_PER_DOC * n

    # r13: the decision is a state:-tagged scalar dial — it must
    # survive release_barriers (the probe reruns would otherwise
    # re-pay the prefix-postings pass every bench pass) and keep
    # returning the identical tuple
    from simple_rust_query_engine_spark.session import release_barriers

    release_barriers(spark)
    assert route_text_dedup(tables["documents"]) == (route, bound, n)

    # 200 identical docs: every posting list is corpus-length, the
    # bound is 3·C(200,2) ≈ 298 candidates/doc — past the dial
    dense = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(200)],
        "doc_id long, text string",
    )
    route2, bound2, n2 = route_text_dedup(dense)
    assert route2 == "lsh"
    assert bound2 > AUTO_ROUTE_MAX_CAND_PER_DOC * n2

    out = dedup_text_auto(dense)
    assert out.columns == ["doc_a", "doc_b", "route"]
    rows = out.collect()
    assert {r.route for r in rows} == {"lsh"}
    # the routed pair set IS the LSH path's pair set AT THE DEDUP
    # THRESHOLD (n_match >= MH_DUP_NM — the filter every other edge
    # consumer applies; raw band collisions reach est J ~0.25 and
    # would change the operator's meaning when the route flips)
    from simple_rust_query_engine_spark.pipeline.dedup import MH_DUP_NM

    lsh = minhash_lsh_pairs(dense)
    want = {
        (r.doc_a, r.doc_b)
        for r in lsh.filter(F.col("n_match") >= MH_DUP_NM)
        .select("doc_a", "doc_b").collect()
    }
    assert {(r.doc_a, r.doc_b) for r in rows} == want and want


def test_ann_ivf_pq_knn_join_semantics(tables):
    # the batch IVFADC join (r13): pairs only within a shared coarse
    # cell, dense per-query ranks, and — the re-rank contract — with
    # the ADC shortlist widened past every cell population the result
    # EQUALS the exact within-cell join (ADC ordering stops mattering
    # once nothing is cut before the exact re-rank)
    import collections

    from simple_rust_query_engine_spark.pipeline.similarity import (
        ann_ivf_knn_join,
        ann_ivf_pq_knn_join,
        kmeans_train,
    )

    emb = tables["embeddings"]
    out = ann_ivf_pq_knn_join(emb).collect()
    assert out
    cells = {r.vec_id: r.cell for r in kmeans_train(emb).collect()}
    by_q = collections.defaultdict(list)
    for r in out:
        assert cells[r.vec_id] == cells[r.nbr_id]
        by_q[r.vec_id].append(r.rank)
    assert all(
        sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values()
    )
    widened = ann_ivf_pq_knn_join(emb, r=1_000_000)
    exact_cell = ann_ivf_knn_join(emb)
    assert widened.exceptAll(exact_cell).count() == 0
    assert exact_cell.exceptAll(widened).count() == 0


def test_docs_state_key_tracks_inventory_and_config(spark, tmp_path):
    # ADVICE r12 (medium): the durable state key must change when the
    # corpus files change IN PLACE (same path) or when the dedup
    # constants move — a bare abspath key let a second process adopt
    # stale tables after either change
    import time as _time

    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        dedup_config_salt,
        docs_state_key,
    )

    p = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, "a b c"), (1, "d e f")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)
    key1 = docs_state_key(docs, p)
    assert dedup_config_salt() in key1
    # in-place rewrite: same path, different bytes/mtime → new key
    _time.sleep(0.01)
    spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (2, "g h i")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    key2 = docs_state_key(spark.read.parquet(p), p)
    assert key1 != key2
    # deterministic across calls on an unchanged corpus (the property
    # cross-process adoption depends on)
    assert key2 == docs_state_key(spark.read.parquet(p), p)


def test_file_inventory_single_spelling_and_fallback(tmp_path):
    # r13 review: ONE spelling of the size+mtime inventory, shared by
    # the dedup and kmeans/PQ durable keys — two drifting copies would
    # silently split the durable-state namespace between the families
    from simple_rust_query_engine_spark.pipeline import similarity
    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        file_inventory,
    )

    f = tmp_path / "part-0.parquet"
    f.write_bytes(b"x" * 10)
    uri = f"file:{f}"
    inv = file_inventory([uri, "hdfs://nn/warehouse/part-1.parquet"])
    assert inv.startswith(f"{uri}:10:")
    # non-local URI contributes its name alone (no stat possible)
    assert inv.endswith("|hdfs://nn/warehouse/part-1.parquet")
    assert similarity._file_inventory([uri]) == file_inventory([uri])


def test_docs_state_key_cached_per_anchor(spark, tmp_path):
    # r13 review: the key is computed once per (corpus, docs anchor) —
    # state helpers call it on EVERY invocation, and at thousands of
    # part files an uncached key is a per-call file listing.  Pin the
    # cache by deleting the corpus between calls on the SAME anchor:
    # a re-stat would change (or error) the key; the cached one holds.
    import shutil

    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        docs_state_key,
    )

    p = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(0, "a b c")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)
    key1 = docs_state_key(docs, p)
    shutil.rmtree(p)
    assert docs_state_key(docs, p) == key1


def test_band_index_stays_per_process_under_durable_dir(
    spark, tables, tmp_path, monkeypatch
):
    # ADVICE r12 (low): the band index is per-process MUTABLE ingest
    # state — with SPARK_GRAFT_STATE_DIR set it must keep writing into
    # the per-process dir, not the shared durable one where two
    # processes at the same content-addressed path would overwrite
    # each other's live files
    import os as _os

    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        _process_state_dir,
    )
    from simple_rust_query_engine_spark.pipeline.dedup_sketch import (
        _band_index_for,
    )

    durable = str(tmp_path / "durable")
    monkeypatch.setenv("SPARK_GRAFT_STATE_DIR", durable)
    table = _band_index_for(
        spark, tables["documents"], "band-durable-probe-key"
    )
    try:
        assert not any(
            name.startswith("band_idx_")
            for name in (_os.listdir(durable) if _os.path.isdir(durable) else [])
        )
        assert any(
            name == table for name in _os.listdir(_process_state_dir())
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_drop_shingle_arrs_releases_the_cached_barrier(tables):
    # ADVICE r12 (low): the supported drop helper owns the cache key
    # spelling — popping must release exactly this anchor's entry and
    # report whether anything was dropped
    from simple_rust_query_engine_spark.pipeline.dedup_core import (
        _STATE_CACHE,
    )
    from simple_rust_query_engine_spark.pipeline.dedup_sketch import (
        _ARRS_TAG,
        _shingle_arrs,
        drop_shingle_arrs,
    )

    docs = tables["documents"]
    _shingle_arrs(docs)
    assert (_ARRS_TAG, id(docs)) in _STATE_CACHE
    assert drop_shingle_arrs(docs) is True
    assert (_ARRS_TAG, id(docs)) not in _STATE_CACHE
    assert drop_shingle_arrs(docs) is False


def test_durable_state_adopted_across_processes(tmp_path):
    # VERDICT r11 item 4: with SPARK_GRAFT_STATE_DIR pointed at a
    # durable path, a SECOND driver process must adopt the first's
    # persisted state tables (content-addressed names + sidecar meta)
    # instead of re-running the builds — covering all three layouts:
    # plain (edge_state), bucketed (label_state), partitioned (ivf_pq)
    # plus the kmeans/PQ-codebook tables.  "No re-run" is proved by
    # the STATE_TABLE_EVENTS audit trail: process 1 only builds,
    # process 2 only adopts; both emit identical result digests.
    import json
    import os
    import subprocess
    import sys

    import simple_rust_query_engine_spark.pipeline.similarity as S

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    repo_root = os.path.dirname(repo_root)
    state_dir = str(tmp_path / "durable_state")
    script = f"""
import sys, os, json, hashlib
sys.path.insert(0, {repo_root!r})
from simple_rust_query_engine_spark.session import get_spark
from simple_rust_query_engine_spark.pipeline import dedup_core
import __spark_entry__ as m
spark = get_spark('durable-probe')
qs = m.queries()
digests = {{}}
for q in ('dedup_cc', 'ann_ivf_pq'):
    rows = sorted(map(str, qs[q](spark, {SF_DIR!r}).collect()))
    digests[q] = hashlib.md5('|'.join(rows).encode()).hexdigest()
print('EVENTS=' + json.dumps(sorted(dedup_core.STATE_TABLE_EVENTS)))
print('DIGESTS=' + json.dumps(digests))
"""

    def run():
        env = dict(os.environ, SPARK_GRAFT_STATE_DIR=state_dir)
        out = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True, text=True, timeout=600, check=True,
            env=env, cwd=repo_root,
        ).stdout
        events = json.loads(
            [ln for ln in out.splitlines() if ln.startswith("EVENTS=")][0][7:]
        )
        digests = json.loads(
            [ln for ln in out.splitlines() if ln.startswith("DIGESTS=")][0][8:]
        )
        return events, digests

    events1, digests1 = run()
    assert events1, "first process should have created state tables"
    assert all(kind == "built" for kind, _ in events1), events1
    events2, digests2 = run()
    # the second process must not rebuild ANY state table — every
    # event is an adoption, of tables the first process built.  A
    # strict SUBSET is expected: edge_state exists only to feed
    # label_state's build, and an adopted label_state never asks for
    # it — adoption skips the dependency states too
    assert all(kind == "adopted" for kind, _ in events2), events2
    built = {t for _, t in events1}
    adopted = {t for _, t in events2}
    assert adopted <= built, (events1, events2)
    # every layout is exercised: bucketed (label_state), partitioned
    # (ivf_pq), plain (kmeans centroids)
    assert any(t.startswith("label_state") for t in adopted)
    assert any(t.startswith("ivf_pq") for t in adopted)
    assert any(t.startswith("kmeans") for t in adopted)
    assert digests1 == digests2


def test_plan_fingerprint_stable_across_processes(spark, tmp_path):
    # the persisted-state key must survive a driver restart: the
    # fingerprint strips the per-JVM random ExprId jvmId UUIDs before
    # hashing (unstripped, the same plan hashed differently in every
    # process — measured), so a fresh process computes the SAME value
    import os
    import subprocess
    import sys

    import simple_rust_query_engine_spark.pipeline.similarity as S

    path = os.path.join(SF_DIR, "embeddings.parquet")
    here = S._plan_shape_fingerprint(spark.read.parquet(path))
    # a filtered frame fingerprints differently (the hash contributes
    # what the file list cannot see)...
    assert here != S._plan_shape_fingerprint(
        spark.read.parquet(path).filter("vec_id < 100")
    )
    # ...but the hash is SHAPE-only: a same-schema frame over a
    # DIFFERENT dataset fingerprints identically (the canonicalized
    # JSON serializes the file relation as null), which is why every
    # persisted-state key must also concatenate the input-file list
    other_ds = str(tmp_path / "other.parquet")
    spark.read.parquet(path).limit(7).write.parquet(other_ds)
    assert here == S._plan_shape_fingerprint(spark.read.parquet(other_ds))

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    repo_root = os.path.dirname(repo_root)  # package dir -> repo root
    script = (
        f"import sys; sys.path.insert(0, {repo_root!r})\n"
        "from simple_rust_query_engine_spark.session import get_spark\n"
        "import simple_rust_query_engine_spark.pipeline.similarity as S\n"
        "spark = get_spark('fp-probe')\n"
        f"print('FP=' + S._plan_shape_fingerprint(spark.read.parquet({path!r})))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    other = [ln for ln in out.splitlines() if ln.startswith("FP=")][0][3:]
    assert other == here


def test_ivf_probe_recall_strictly_above_single_cell(tables):
    # VERDICT r10 item 2's acceptance: at the same k, probing the
    # second-nearest cell must strictly beat the single-cell join —
    # and because the probe candidate set is a superset of the cell
    # one, hits can only grow
    import simple_rust_query_engine_spark.pipeline.similarity as S

    rows = {
        r.method: r
        for r in S.knn_recall_ivf_probe(tables["embeddings"]).collect()
    }
    assert rows["probe"].n_exact_pairs == rows["cell"].n_exact_pairs
    assert rows["probe"].n_hits >= rows["cell"].n_hits
    assert rows["probe"].recall_at_k > rows["cell"].recall_at_k


def test_ivf_probe_all_cells_degenerates_to_exact(tables):
    # probe_cells == n_cells co-assigns every vector to every cell, so
    # the banded join sees every pair and must reproduce the exact
    # k-NN join bit for bit (ids, ranks, cosines)
    import simple_rust_query_engine_spark.pipeline.similarity as S

    emb = tables["embeddings"]
    exact = {
        (r.vec_id, r.nbr_id, r.rank, r.cos_sim)
        for r in S.knn_join(emb, mode="broadcast").collect()
    }
    allp = {
        (r.vec_id, r.nbr_id, r.rank, r.cos_sim)
        for r in S.ann_ivf_knn_join(emb, n_cells=4, probe_cells=4).collect()
    }
    assert allp == exact


def test_bpe_train_batched_matches_python_batched_reference(tables):
    # VERDICT r10 item 7: batch_m applies the top-m SYMBOL-DISJOINT
    # merges per round (greedy in rank order, round-start counts).
    # The distributed trainer must match a pure-Python batched
    # reference merge-for-merge at every m — and at m=1 both must
    # reduce to the sequential reference the earlier test pins.
    from collections import Counter

    from simple_rust_query_engine_spark.pipeline.text import (
        bpe_train,
        word_counts,
    )

    docs = tables["documents"]
    wc = {
        r.word: r.cnt for r in word_counts(docs).collect() if len(r.word) >= 2
    }

    def py_bpe_batched(wc, n, m):
        state = {w: tuple(w) for w in wc}
        merges, batches = [], []
        while len(merges) < n:
            take = min(m, n - len(merges))
            counts = Counter()
            for w, syms in state.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] += wc[w]
            if not counts:
                break
            top = sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[:m]
            used, accepted = set(), []
            for (a, b), c in top:
                if len(accepted) >= take:
                    break
                if a in used or b in used:
                    continue
                accepted.append((a, b, c))
                used.update((a, b))
            merges.extend(accepted)
            batches.append(accepted)
            nxt = {}
            for w, syms in state.items():
                xs = list(syms)
                for a, b, _ in accepted:
                    out, i = [], 0
                    while i < len(xs):
                        if i + 1 < len(xs) and xs[i] == a and xs[i + 1] == b:
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(xs[i])
                            i += 1
                    xs = out
                if len(xs) >= 2:
                    nxt[w] = tuple(xs)
            state = nxt
        return merges, batches

    for m in (1, 2, 4):
        want, batches = py_bpe_batched(wc, 8, m)
        got = bpe_train(docs, n_merges=8, batch_m=m)
        assert got == want, (m, got, want)
        # contract on the reference's batch structure (a round may
        # accept FEWER than m pairs when candidates overlap): within
        # each batch, merges are symbol-disjoint with non-increasing
        # counts, and every batch accepts at least one pair
        for batch in batches:
            assert batch
            syms = [s for a, b, _ in batch for s in (a, b)]
            assert len(syms) == len(set(syms))
            cnts = [c for _, _, c in batch]
            assert cnts == sorted(cnts, reverse=True)
    # m=1 batched == the sequential reference semantics
    assert bpe_train(docs, n_merges=8, batch_m=1) == bpe_train(
        docs, n_merges=8
    )


@pytest.fixture(scope="module")
def sizing_inputs(spark, tables, tmp_path_factory):
    """Per input kind, one parquet file set each for the k-NN probe
    (embeddings) and the minhash docs side (documents): ``single``
    is one split above the floor, ``small`` one split below it,
    ``empty`` a 0-byte file and ``wide`` at least as many splits as
    the rule's width (more on any host with over two cores).  Written uncompressed so the bytes track the rows."""
    root = tmp_path_factory.mktemp("sizing")
    cores = spark.sparkContext.defaultParallelism
    docs = tables["documents"]
    rest = [c for c in docs.columns if c not in ("doc_id", "text")]
    # three copies with fresh ids and a per-copy token: enough bytes
    # for a width above 1, and cross-copy near-duplicate pairs
    for i, tag in ((1, "copyone"), (2, "copytwo")):
        docs = docs.unionByName(
            tables["documents"].select(
                (F.col("doc_id") + i * 10**6).alias("doc_id"),
                *rest,
                F.concat_ws(" ", "text", F.lit(tag)).alias("text"),
            )
        )
    out = {}
    for kind, src, key in (
        ("emb", tables["embeddings"], "vec_id"),
        ("docs", docs, "doc_id"),
    ):
        frames = {
            "single": src.coalesce(1),
            "small": src.orderBy(key).limit(20).coalesce(1),
            # 40% of the rows, so the width stays under the core
            # count, in more files than cores (Spark packs small
            # files toward one split per core)
            "wide": src.filter(F.pmod(key, 5) < 2).repartition(
                2 * cores + 2, key
            ),
        }
        for case, df in frames.items():
            path = str(root / f"{kind}_{case}")
            df.write.option("compression", "none").parquet(path)
            out[kind, case] = path
        empty = root / f"{kind}_empty.parquet"
        empty.touch()
        out[kind, "empty"] = str(empty)
    return out, {"emb": tables["embeddings"].schema, "docs": docs.schema}


def _kernel_output(kernel, df):
    """(sized kernel output, its partition count, the rows it must
    hold — None where a DuckDB twin checks them instead)."""
    import simple_rust_query_engine_spark.pipeline.dedup_sketch as DS
    import simple_rust_query_engine_spark.pipeline.similarity as S

    if kernel == "knn_probe":
        out = S.knn_join(df, mode="broadcast")
        return out, out.rdd.getNumPartitions(), None
    if kernel == "sigs":
        parts = DS._checkpointed_sigs(df).rdd.getNumPartitions()
        return DS.minhash_lsh_pairs(df), parts, None
    bands = DS._checkpointed_bands(df)
    # the band kernel has no SQL twin: its rows are the same per-row
    # expressions over the frame as it arrived
    ref = DS._band_exploded(
        DS.minhash_signatures(df).filter(F.element_at("sig", 1).isNotNull()),
        with_sig=True,
    )
    rows = {(r.doc_id, r.band, tuple(r.sig)) for r in ref.collect()}
    return bands, bands.rdd.getNumPartitions(), rows


@pytest.mark.parametrize("case", ["single", "small", "empty", "wide"])
@pytest.mark.parametrize("kernel", ["knn_probe", "sigs", "bands"])
def test_kernel_sizing_rule(spark, sizing_inputs, kernel, case):
    # one rule sizes every widened kernel from its input bytes:
    # width = min(cores, max(1, ceil(bytes / MIN_BYTES_PER_TASK))); a
    # narrower input gets exactly that width, any other is left as it
    # arrived, and the output never depends on the sizing
    import duckdb

    import __spark_entry__ as entry_mod
    from simple_rust_query_engine_spark.session import (
        MIN_BYTES_PER_TASK,
        input_bytes,
    )
    from simple_rust_query_engine_spark.testing import compare

    paths, schemas = sizing_inputs
    kind = "emb" if kernel == "knn_probe" else "docs"
    df = spark.read.schema(schemas[kind]).parquet(paths[kind, case])
    total = input_bytes(df)
    cores = spark.sparkContext.defaultParallelism
    width = min(cores, max(1, -(-total // MIN_BYTES_PER_TASK)))
    scan = df.rdd.getNumPartitions()
    out, parts, rows = _kernel_output(kernel, df)
    if case == "single":
        assert scan == 1 and total > MIN_BYTES_PER_TASK, (scan, total)
        assert parts == width, (parts, width)
    elif case == "small":
        assert total < MIN_BYTES_PER_TASK, total
        assert parts == scan == 1, (parts, scan)
    elif case == "empty":
        assert total == 0 and parts <= 1, (total, parts)
        assert out.collect() == []
        return
    else:
        assert scan >= width and parts == scan, (scan, width, parts)
    if rows is not None:
        assert {(r.doc_id, r.band, tuple(r.sig)) for r in out.collect()} == rows
        return
    table = "embeddings" if kind == "emb" else "documents"
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{paths[kind, case]}/*.parquet')"
    )
    name = "knn_join" if kernel == "knn_probe" else "dedup_minhash"
    assert compare(out, con, entry_mod.oracle_sql()[name]) == []


def test_sizing_a_shuffled_input_runs_no_job(spark, sizing_inputs):
    # a shuffled frame's partition count is known only once its
    # upstream stages run; sizing must not run them while the plan is
    # being built, so it leaves such a frame to AQE
    from simple_rust_query_engine_spark.session import (
        MIN_BYTES_PER_TASK,
        input_bytes,
        size_to_input,
    )

    paths, schemas = sizing_inputs
    docs = spark.read.schema(schemas["docs"]).parquet(paths["docs", "single"])
    shuffled = docs.distinct()
    # above the floor, so the rule does reach the partition question
    assert input_bytes(shuffled) > MIN_BYTES_PER_TASK
    sc = spark.sparkContext
    sc.setJobGroup("sizing_no_job", "size a shuffled input")
    try:
        sized = size_to_input(shuffled, "doc_id")
        jobs = list(sc.statusTracker().getJobIdsForGroup("sizing_no_job"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], jobs
    assert sized is shuffled
