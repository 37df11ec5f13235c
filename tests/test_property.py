"""Property-based tests (hypothesis): the vectorized shingle /
minhash implementations agree with straightforward Python references
on arbitrary token streams — guarding the places where the driver
corpus can't reach (tiny docs, repeated words, single chars)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from simple_rust_query_engine_spark.pipeline.dedup import (
    MH_K,
    MH_MOD,
    SH_M,
    SH_P,
    SHINGLE_N,
    minhash_signatures,
    ngram_shingles,
)

WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=5), min_size=0, max_size=12
)

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_word_hash(w: str) -> int:
    return (ord(w[0]) * 131 + len(w) * 31 + ord(w[-1])) if w else 0


def _py_shingle_hashes(text: str) -> list[int]:
    ws = text.split(" ")
    if len(ws) < SHINGLE_N:
        return []
    wh = [_py_word_hash(w) for w in ws]
    seen = []
    for i in range(len(wh) - SHINGLE_N + 1):
        h = wh[i]
        for j in range(1, SHINGLE_N):
            h = (h * SH_P + wh[i + j]) % SH_M
        if h not in seen:
            seen.append(h)
    return seen


@settings(**_SETTINGS)
@given(ws=WORDS)
def test_ngram_shingles_matches_python(spark, ws):
    text = " ".join(ws)
    got = (
        spark.createDataFrame([(text,)], "text string")
        .select(ngram_shingles(F.col("text")).alias("s"))
        .collect()[0]
        .s
    )
    toks = text.split(" ")
    exp = (
        list(
            dict.fromkeys(
                " ".join(toks[i : i + SHINGLE_N])
                for i in range(len(toks) - SHINGLE_N + 1)
            )
        )
        if len(toks) >= SHINGLE_N
        else []
    )
    assert got == exp


@settings(**_SETTINGS)
@given(ws=WORDS)
def test_minhash_signature_matches_python(spark, ws):
    text = " ".join(ws)
    got = (
        minhash_signatures(
            spark.createDataFrame([(0, text)], "doc_id long, text string")
        )
        .collect()[0]
        .sig
    )
    hs = _py_shingle_hashes(text)
    if not hs:
        exp = [None] * MH_K
    else:
        exp = [
            min(((2 * i + 3) * x + 7 * i + 1) % MH_MOD for x in hs)
            for i in range(MH_K)
        ]
    assert list(got) == exp


# ---------------------------------------------------------------- pack
def _py_pack(rows, seq_len):
    """Pure-Python concat-and-chunk reference: rows = [(shard, doc_id,
    n_tok)]; returns {(shard, seq_id, doc_id): n_tok_in_seq}."""
    out = {}
    by_shard = {}
    for shard, doc_id, n in rows:
        by_shard.setdefault(shard, []).append((doc_id, n))
    for shard, docs in by_shard.items():
        cum = 0
        for doc_id, n in sorted(docs):
            if n <= 0:
                continue
            start, end = cum, cum + n
            cum = end
            for seq in range(start // seq_len, (end - 1) // seq_len + 1):
                lo, hi = seq * seq_len, (seq + 1) * seq_len
                out[(shard, seq, doc_id)] = min(end, hi) - max(start, lo)
    return out


PACK_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1"]),
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=40),
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),  # one row per (shard, doc_id)
)


@settings(**_SETTINGS)
@given(rows=PACK_ROWS, seq_len=st.sampled_from([1, 7, 64]))
def test_pack_sequences_matches_python(spark, rows, seq_len):
    from simple_rust_query_engine_spark.pipeline.pack import pack_sequences

    df = spark.createDataFrame(
        [(s, d, "w " * n) for s, d, n in rows] or [("s0", 0, "")],
        "source string, doc_id long, text string",
    )
    # "w " * n has exactly n whitespace tokens
    got = {
        (r.source, r.seq_id, r.doc_id): r.n_tok_in_seq
        for r in pack_sequences(df, seq_len=seq_len).collect()
    }
    want = _py_pack(rows if rows else [("s0", 0, 0)], seq_len)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user_id
            st.integers(min_value=0, max_value=10**7),    # epoch ms
            st.sampled_from(["purchase", "click", "view"]),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_interval_join_batch_matches_python(spark, events):
    # arbitrary event streams: the batch interval join (the stream
    # join's oracle-checked twin) must agree with a brute-force
    # Python reference, including boundary gaps of exactly 0 and
    # exactly JOIN_WINDOW_MS
    import datetime as dt

    from simple_rust_query_engine_spark.streaming.join import (
        JOIN_WINDOW_MS,
        interval_join_batch,
    )

    rows = [
        (i, uid, dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms), typ)
        for i, (uid, ms, typ) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_ms)
        for r in interval_join_batch(df).collect()
    }
    want = set()
    for pi, (pu, pm, pt) in enumerate(events):
        if pt != "purchase":
            continue
        for ci, (cu, cm, ct) in enumerate(events):
            if ct == "click" and cu == pu and 0 <= pm - cm <= JOIN_WINDOW_MS:
                want.add((pi, ci, pu, pm - cm))
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user_id
            st.integers(min_value=0, max_value=10**6),    # epoch ms
            st.sampled_from(["purchase", "click", "view"]),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_funnel_matches_python(spark, events):
    # arbitrary event streams: the single-shuffle window funnel must
    # agree with a brute-force Python reference, including ts ties
    # (broken by event_id), stages hit out of order, and users who
    # never start the funnel
    import datetime as dt

    from simple_rust_query_engine_spark.operators.temporal import funnel

    stages = ("view", "click", "purchase")
    epoch = dt.datetime(1970, 1, 1)
    rows = [
        (i, uid, epoch + dt.timedelta(milliseconds=ms), typ)
        for i, (uid, ms, typ) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        (r.user_id, r.t_view, r.t_click, r.t_purchase, r.depth)
        for r in funnel(df, stages).collect()
    }

    by_user: dict = {}
    for eid, (uid, ms, typ) in enumerate(events):
        by_user.setdefault(uid, []).append((ms, eid, typ))
    want = set()
    for uid, evs in by_user.items():
        firsts: list = [None, None, None]
        for ms, _eid, typ in sorted(evs):
            for k, stg in enumerate(stages):
                if typ == stg and (k == 0 or firsts[k - 1] is not None):
                    if firsts[k] is None or ms < firsts[k]:
                        firsts[k] = ms
        depth = sum(1 for f in firsts if f is not None)
        ts = [
            epoch + dt.timedelta(milliseconds=f) if f is not None else None
            for f in firsts
        ]
        want.add((uid, ts[0], ts[1], ts[2], depth))
    assert got == want


@settings(**_SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 20)),
        min_size=1,
        max_size=8,
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 20)),
        min_size=0,
        max_size=8,
    ),
)
def test_asof_nearest_matches_python(spark, lefts, rights):
    # nearest as-of vs a brute-force reference on arbitrary key/time
    # layouts: equidistant ties must go backward, exact hits are
    # distance 0, keys with no right rows yield NULLs
    import datetime as dt

    from simple_rust_query_engine_spark.operators.temporal import (
        merge_asof_nearest,
    )

    epoch = dt.datetime(1970, 1, 1)
    rights = sorted(set(rights))  # unique per (key, time) contract
    left = spark.createDataFrame(
        [
            (i, k, epoch + dt.timedelta(seconds=s))
            for i, (k, s) in enumerate(lefts)
        ],
        "id long, k long, t timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(k, epoch + dt.timedelta(seconds=s), f"r{k}-{s}") for k, s in rights],
        "rk long, rt timestamp_ntz, payload string",
    ) if rights else spark.createDataFrame([], "rk long, rt timestamp_ntz, payload string")
    got = {
        (r.id, r.payload, r.delta_ms)
        for r in merge_asof_nearest(left, right, "k", "rk", "t", "rt").collect()
    }

    want = set()
    for i, (k, s) in enumerate(lefts):
        cands = [(rs,) for rk, rs in rights if rk == k]
        back = max((rs for (rs,) in cands if rs <= s), default=None)
        fwd = min((rs for (rs,) in cands if rs >= s), default=None)
        if back is None and fwd is None:
            want.add((i, None, None))
            continue
        if fwd is None or (back is not None and s - back <= fwd - s):
            pick = back
        else:
            pick = fwd
        want.add((i, f"r{k}-{pick}", abs(s - pick) * 1000))
    assert got == want


@settings(**_SETTINGS)
@given(ws=WORDS)
def test_window_hashes_match_python(spark, ws):
    # the Arrow rolling-span-hash UDF vs a straightforward Python
    # fold, covering tiny docs (< SPAN_W tokens -> empty), empty
    # tokens, and repeated words
    from simple_rust_query_engine_spark.pipeline.dedup import (
        SPAN_W,
        window_hash_udf,
    )
    from simple_rust_query_engine_spark.pipeline.text import _FP_MOD, _FP_MUL

    text = " ".join(ws)
    got = (
        spark.createDataFrame([(text,)], "text string")
        .select(window_hash_udf()(F.col("text")).alias("h"))
        .collect()[0]
        .h
    )
    wh = [_py_word_hash(w) for w in text.split(" ")]
    want = []
    for i in range(len(wh) - SPAN_W + 1):
        h = wh[i]
        for j in range(1, SPAN_W):
            h = (h * _FP_MUL + wh[i + j]) % _FP_MOD
        want.append(h)
    assert list(got) == want

    # the documented pure-expression fallback must stay bit-identical
    # to the UDF path (it has no production caller to keep it honest)
    from simple_rust_query_engine_spark.pipeline.dedup import (
        _window_hashes_expr,
    )

    got_expr = (
        spark.createDataFrame([(text,)], "text string")
        .select(_window_hashes_expr(F.col("text")).alias("h"))
        .collect()[0]
        .h
    )
    assert list(got_expr) == want


# ---------------------------------------------------------------------------
# sampling operators vs pure-Python references: tiny corpora reach the
# boundaries the driver tables can't (empty strata, one-doc strata,
# budget crossing on the first doc, every doc in one hash bucket)

import hashlib

from simple_rust_query_engine_spark.pipeline.pack import (
    stratified_sample,
    token_budget_mixture,
)

_DOCS = st.lists(
    st.tuples(
        st.text(alphabet="xy", min_size=1, max_size=2),            # lang
        st.lists(st.text(alphabet="ab", min_size=1, max_size=3),
                 min_size=0, max_size=6),                          # words
    ),
    min_size=0,
    max_size=10,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _mk_rows(docs):
    # unique doc_ids by position — the operators' ordering contract
    return [(i, lang, " ".join(ws)) for i, (lang, ws) in enumerate(docs)]


def _py_stratified(rows, k):
    bylang: dict = {}
    for doc_id, lang, _ in rows:
        bylang.setdefault(lang, []).append(doc_id)
    out = []
    for lang, ids in bylang.items():
        order = sorted(ids, key=lambda d: (_md5("strat" + str(d)), d))
        out.extend((d, lang, r) for r, d in enumerate(order[:k], 1))
    return sorted(out)


def _py_budget(rows, budget):
    bylang: dict = {}
    for doc_id, lang, text in rows:
        n = len(text.split())
        if n > 0:
            bylang.setdefault(lang, []).append((doc_id, n))
    out = []
    for lang, docs in bylang.items():
        docs.sort(key=lambda t: (_md5("budget" + str(t[0])), t[0]))
        cum = 0
        for d, n in docs:
            if cum < budget:
                out.append((d, lang, n, cum + n))
            cum += n
    return sorted(out)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_DOCS)
def test_stratified_sample_matches_python(spark, docs):
    rows = _mk_rows(docs)
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = sorted(map(tuple, stratified_sample(df, k=3, n_buckets=4).collect()))
    assert got == _py_stratified(rows, 3)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_DOCS)
def test_token_budget_mixture_matches_python(spark, docs):
    rows = _mk_rows(docs)
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = sorted(map(tuple, token_budget_mixture(df, budget=10).collect()))
    assert got == _py_budget(rows, 10)


@settings(**_SETTINGS)
@given(
    base=st.lists(st.sampled_from(["aa", "ab", "ba", "bb", "ac"]), min_size=0, max_size=30),
    slices=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 20)), min_size=1, max_size=5
    ),
)
def test_excise_spans_matches_python(spark, base, slices):
    # docs are slices of one shared word sequence, so SPAN_W-windows
    # genuinely repeat across docs; the Spark excision must equal a
    # direct Python implementation over the same window-hash kernel
    # (multiset count >= 2 -> every covered token removed)
    from collections import Counter

    from simple_rust_query_engine_spark.pipeline.dedup import (
        SPAN_W,
        _py_window_hashes,
        q_excise_spans,
    )

    texts = {
        i: " ".join(base[s : s + ln]) for i, (s, ln) in enumerate(slices)
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in q_excise_spans({"documents": df}).collect()
    }

    wins = {d: _py_window_hashes(t, SPAN_W).tolist() for d, t in texts.items()}
    cnt = Counter(h for arr in wins.values() for h in arr)
    want = {}
    for d, t in texts.items():
        toks = t.split(" ")
        covered: set = set()
        for j, h in enumerate(wins[d]):
            if cnt[h] >= 2:
                covered.update(range(j, j + SPAN_W))
        kept = [w for i, w in enumerate(toks) if i not in covered]
        want[d] = (" ".join(kept), len(toks), len(toks) - len(kept))
    assert got == want


# ---------------------------------------------------------------------------
# r9 operators vs references on arbitrary tiny corpora: the two-phase
# k-NN must equal the broadcast path on ANY geometry (sparse/negative
# ids, degenerate tile sizes, duplicate vectors = cosine ties); the
# merged per-source CMS must equal the single-sketch CMS on ANY source
# layout (NULL sources, tokenless sources); the distributed KMeans
# must match a pure-Python Lloyd's reference built from the same
# determinism rules.

_EMB_IDS = st.lists(
    st.integers(min_value=-20, max_value=40), min_size=0, max_size=24,
    unique=True,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ids=_EMB_IDS, tiles=st.sampled_from([1, 2, 4]),
       seed=st.integers(0, 5))
def test_knn_twophase_equals_broadcast_on_any_geometry(spark, ids, tiles, seed):
    import numpy as np

    from simple_rust_query_engine_spark.pipeline.similarity import (
        knn_join,
        knn_join_twophase,
    )

    rng = np.random.RandomState(seed)
    rows = [
        # first component pinned to 1.0: a zero vector would make
        # cosine NaN on BOTH paths, but NaN breaks the equality assert
        (int(i), [1.0] + [float(x) for x in rng.randint(-3, 4, 3)])
        for i in ids
    ]
    if not rows:
        return  # empty corpus: both paths trivially emit nothing
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(tuple(r) for r in knn_join(emb, k=3).collect())
    b = sorted(
        tuple(r) for r in knn_join_twophase(emb, k=3, tiles=tiles).collect()
    )
    assert a == b


_SRC_DOCS = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1", None]),
        st.lists(st.sampled_from(["aa", "ab", "b"]), min_size=0, max_size=5),
    ),
    min_size=0,
    max_size=10,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_SRC_DOCS)
def test_cms_merge_linearity_on_any_source_layout(spark, docs):
    # counter linearity: the heavy hitters extracted from the merged
    # per-source sketches must equal the single whole-corpus sketch's,
    # for any split across sources incl. NULL and tokenless ones
    from simple_rust_query_engine_spark.operators.sketch import (
        cms_heavy_hitters,
        cms_merge_heavy_hitters,
    )

    rows = [(i, " ".join(ws), src) for i, (src, ws) in enumerate(docs)]
    df = spark.createDataFrame(
        rows or [(0, "", None)], "doc_id long, text string, source string"
    )
    single = sorted(tuple(r) for r in cms_heavy_hitters(df).collect())
    merged = sorted(
        tuple(r)
        for r in cms_merge_heavy_hitters(df).drop("n_sources_merged").collect()
    )
    assert merged == single


def _py_kmeans_assign(rows, n_cells, n_iters, train_mod=None):
    """Pure-Python Lloyd's with the EXACT determinism rules of
    kmeans_centroids/kmeans_train: seeds are the first K TRAINING
    vectors by vec_id, cosine argmax with per-dim left-fold
    arithmetic, ties toward the lower cell, means rounded to 6dp,
    empty cells keep their centroid.  ``train_mod`` mirrors the r13
    sampled trainer: seeds and every training iteration see only the
    ``vec_id % train_mod == 0`` subset; the returned assignment (the
    apply-model pass) covers every row."""
    import math

    rows = sorted(rows)
    train = (
        rows if train_mod is None
        else [(v, e) for v, e in rows if v % train_mod == 0]
    )
    C = [list(map(float, e)) for vid, e in train[:n_cells]]
    dim = len(rows[0][1])

    def cos(v, c):
        dot = vn = cn = 0.0
        for d in range(dim):  # left-to-right like the Arrow kernel
            dot += v[d] * c[d]
            vn += v[d] * v[d]
            cn += c[d] * c[d]
        return dot / math.sqrt(vn) / math.sqrt(cn)

    def assign(over):
        out = {}
        for vid, e in over:
            best, best_c = None, None
            for ci, c in enumerate(C):
                cs = cos([float(x) for x in e], c)
                if best is None or cs > best:
                    best, best_c = cs, ci
            out[vid] = best_c
        return out

    for _ in range(n_iters):
        a = assign(train)
        for ci in range(len(C)):
            members = [e for vid, e in train if a[vid] == ci]
            if members:
                C[ci] = [
                    round(sum(float(e[d]) for e in members) / len(members), 6)
                    for d in range(dim)
                ]
    return assign(rows)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(min_value=1, max_value=14), seed=st.integers(0, 5))
def test_kmeans_train_matches_python_reference(spark, n, seed):
    import numpy as np

    from simple_rust_query_engine_spark.pipeline.similarity import (
        KMEANS_TRAIN_MOD,
        kmeans_train,
    )

    rng = np.random.RandomState(seed)
    # integer-valued components (first pinned nonzero): partial-sum
    # order can't change an exact-integer total, so the rounded means
    # are bit-identical between the distributed and Python paths
    rows = [
        (i, [1.0] + [float(x) for x in rng.randint(-4, 5, 3)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: r.cell for r in kmeans_train(emb, n_cells=3, n_iters=2).collect()
    }
    # the reference mirrors the default sampled trainer (r13)
    want = _py_kmeans_assign(
        [(i, e) for i, e in rows], 3, 2, train_mod=KMEANS_TRAIN_MOD
    )
    assert got == want
    # the unsampled path (train_mod=None — what the PQ codebook route
    # passes) still matches the full-corpus reference
    from simple_rust_query_engine_spark.pipeline.similarity import (
        _cell_assign_udf,
        kmeans_centroids,
    )

    C_full = kmeans_centroids(emb, 3, 2, train_mod=None)
    got_full = {
        r.vec_id: r.cell
        for r in emb.select(
            "vec_id", _cell_assign_udf(C_full)(F.col("embedding")).alias("cell")
        ).collect()
    }
    assert got_full == _py_kmeans_assign(
        [(i, e) for i, e in rows], 3, 2, train_mod=None
    )


_BLOOM_DOCS = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet="abc ", min_size=0, max_size=6),
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_BLOOM_DOCS)
def test_bloom_precheck_matches_python_reference(spark, texts):
    # arbitrary tiny corpora incl. NULL and duplicate texts: the
    # filter must agree bit-for-bit with a pure-Python Bloom built
    # from the same md5-prefix hash and affine bit maps, and the
    # one-sided guarantee must hold on every row
    import hashlib

    from simple_rust_query_engine_spark.operators.sketch import (
        BLOOM_M,
        CMS_A,
        CMS_B,
        CMS_D,
        CMS_P,
        bloom_dedup_precheck,
    )
    from simple_rust_query_engine_spark.pipeline.dedup_sketch import INCR_MOD

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows or [(0, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bloom_dedup_precheck(df).collect()}

    def h(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:13], 16)

    def bits_of(hv):
        return [((CMS_A[i] * hv + CMS_B[i]) % CMS_P) % BLOOM_M
                for i in range(CMS_D)]

    ex = {h(t) for i, t in rows if i % INCR_MOD != 0 and t is not None}
    setbits = {p for hv in ex for p in bits_of(hv)}
    want = {}
    for i, t in rows:
        if i % INCR_MOD != 0 or t is None:
            continue
        hv = h(t)
        maybe = all(p in setbits for p in bits_of(hv))
        is_dup = hv in ex
        want[i] = (maybe, is_dup, maybe or not is_dup)
    assert {k: (v.maybe_dup, v.is_dup, v.sound) for k, v in got.items()} == want
    assert all(v.sound for v in got.values())


@settings(max_examples=12, deadline=None)
@given(
    fp=st.sampled_from([0.001, 0.005, 0.01, 0.02, 0.05, 0.1]),
    seed=st.integers(min_value=0, max_value=4),
)
def test_bloom_geometry_fp_rate_within_band(fp, seed):
    # VERDICT r9 item 5: at the SIZED geometry the measured FP rate
    # must actually land near the target — the fixed-M row proves
    # soundness, this proves usable precision.  Pure-numpy simulation
    # of the exact kernel arithmetic (same affine family, same uniform
    # 2^52 hash range as the md5-prefix kernel): n member hashes set
    # their bits, n fresh probes measure FP.  Band is one-sided with
    # Poisson slack — under-target is fine, saturation is the bug.
    import numpy as np

    from simple_rust_query_engine_spark.operators.sketch import (
        _bloom_bucket_sized,
        bloom_geometry,
    )

    n = 4000
    m, d = bloom_geometry(n, fp)
    # sanity: the sized filter carries ~1.44·log2(1/p) bits/element
    assert m >= n and d >= 1
    rng = np.random.RandomState(seed)
    member = rng.randint(0, 2**52, n).astype(np.int64)
    probe = rng.randint(0, 2**52, n).astype(np.int64)
    bitset = np.zeros(m, dtype=bool)
    for i in range(d):
        bitset[_bloom_bucket_sized(member, i, m)] = True
    hit = np.ones(n, dtype=bool)
    for i in range(d):
        hit &= bitset[_bloom_bucket_sized(probe, i, m)]
    fp_rate = float(hit.mean())
    assert fp_rate <= 3.5 * fp + 2.0 / n, (m, d, fp_rate)


def _components_min(vertices, edges) -> dict:
    # reference connected components by graph search (not union-find):
    # every vertex labelled with the minimum id reachable from it,
    # through any node an edge names
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for v in vertices:
        seen, todo = {v}, [v]
        while todo:
            for w in adj.get(todo.pop(), ()):
                if w not in seen:
                    seen.add(w)
                    todo.append(w)
        out[v] = min(seen)
    return out


def _fold_dicts(state: dict, arriving, edges) -> dict:
    # fold_edges_into_labels on Python dicts: arriving docs enter with
    # identity labels only if the state lacks them, the endpoints'
    # state labels feed relabel_map, and the map relabels every row
    from simple_rust_query_engine_spark.pipeline.dedup import relabel_map

    labels = dict(state)
    for d in arriving:
        labels.setdefault(d, d)
    known = {d: state[d] for e in edges for d in e if d in state}
    remap = relabel_map(edges, known)
    return {d: remap.get(lab, lab) for d, lab in labels.items()}


def _batch_edges(data, nodes: list, ghosts: list):
    # one batch's edges, in one of the shapes a fold must handle:
    # random pairs, a chain, a star, or nothing
    pool = nodes + ghosts
    if len(pool) < 2:
        return []
    shape = data.draw(st.sampled_from(["random", "chain", "star", "none"]))
    if shape == "none":
        return []
    if shape == "random":
        pair = st.tuples(st.sampled_from(pool), st.sampled_from(pool))
        return [e for e in data.draw(st.lists(pair, max_size=8)) if e[0] != e[1]]
    members = data.draw(st.lists(st.sampled_from(pool), min_size=2, max_size=8,
                                 unique=True))
    if shape == "chain":
        return list(zip(members, members[1:]))
    return [(members[0], m) for m in members[1:]]


@settings(max_examples=200, deadline=None)
@given(data=st.data(), ghosts_allowed=st.booleans())
def test_relabel_fold_matches_connected_components(data, ghosts_allowed):
    # batch-by-batch folds of random edge batches — chains, stars,
    # bridges between components earlier batches built, replays of an
    # earlier batch, re-added edges and docs — give the labels
    # connected components over (star forest ∪ batch edges) gives,
    # batch for batch; with every endpoint a doc already seen (the
    # ingest loops' case) they equal from-scratch CC over all edges.
    # Ghosts are endpoints the state never holds (index-only docs):
    # they keep their own id, and may be a component's minimum.
    n = data.draw(st.integers(min_value=1, max_value=14))
    order = data.draw(st.permutations(range(2, 2 * n + 2, 2)))
    ghosts = [1, 2 * n + 3] if ghosts_allowed else []
    cuts = sorted(data.draw(st.lists(st.integers(0, n), max_size=4)))
    arrivals = [order[a:b] for a, b in zip([0] + cuts, cuts + [n])]
    state: dict = {}
    history, all_edges = [], []
    for arriving in arrivals:
        batches = [(arriving, _batch_edges(data, list(state) + arriving, ghosts))]
        if history and data.draw(st.booleans()):
            batches.append(data.draw(st.sampled_from(history)))  # replay
        for arr, edges in batches:
            star = [(d, lab) for d, lab in state.items() if d != lab]
            vertices = set(state) | set(arr)
            want = _components_min(vertices, star + edges)
            state = _fold_dicts(state, arr, edges)
            assert state == want, (arr, edges)
            history.append((arr, edges))
            all_edges += edges
            if not ghosts_allowed:
                assert state == _components_min(vertices, all_edges)
