"""Sketch- and signature-based near-dup machinery: minhash/LSH,
the persisted bucketed band index, simhash, and exact n-gram Jaccard
(PPJoin).  Split out of ``dedup.py`` (r8); the ``dedup`` facade
re-exports everything.  See the facade docstring for the family map
and the cross-engine determinism contract.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import size_to_input
from .dedup_core import (
    BAND_BUCKETS,
    _session_cached,
    materialize,
)
from .text import py_word_hash, word_hash

MH_K = 16          # minhash functions
MH_BANDS = 4       # LSH bands (rows per band = MH_K // MH_BANDS)
MH_MOD = 1000003   # prime modulus for the affine permutations
SH_BITS = 32       # simhash width (16 bits degenerates on small-vocab
                   # corpora: most pairs land within hamming<=3)
SH_MOD = 1048583   # prime for per-bit mixing
SH_BLOCK = 65536   # pair-search block = high 16 bits of the hash


SHINGLE_N = 3
SH_P = 1000003
SH_M = 1000000007


def _shingle_hashes(text_col):
    """Distinct hashes of word 3-gram shingles: a polynomial combine
    of the per-word hashes, all int64-exact (< 2^53 at every step) so
    the DuckDB twin matches bit-for-bit.  Shingle-level minhash is
    the standard choice: token-*set* minhash degenerates when docs
    share a small vocabulary (every doc contains most words).

    Built with zip_with over shifted slices, NOT element_at(whs, i)
    inside a transform lambda: higher-order functions evaluate their
    *array arguments* once per row, but an array referenced inside
    the lambda *body* is re-evaluated per ELEMENT — O(n²) per doc
    (measured 30×+ slowdown on the driver corpus)."""
    whs = F.transform(F.split(text_col, " "), word_hash)
    k = F.size(whs)
    combine = lambda a, b: (a * F.lit(SH_P) + b) % F.lit(SH_M)
    grams = whs
    for j in range(1, SHINGLE_N):
        # zip_with pads the shorter side with null; null arithmetic
        # poisons the tail elements, sliced off below
        grams = F.zip_with(
            grams, F.slice(whs, j + 1, F.greatest(k - j, F.lit(0))), combine
        )
    grams = F.slice(grams, 1, F.greatest(k - F.lit(SHINGLE_N - 1), F.lit(0)))
    return F.when(k >= SHINGLE_N, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


# ------------------------------------------------------------ exact
def q_dedup_exact(t: dict) -> DataFrame:
    """Exact dedup: group by content digest, keep lowest doc_id.
    Scale: shuffle on md5 — uniformly distributed, no skew."""
    return (
        t["documents"]
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------- minhash
def _perm(i: int):
    # closure factory: a bare 1-arg lambda, so F.transform doesn't
    # mistake an extra default param for the index argument
    return lambda x: (F.lit(2 * i + 3) * x + F.lit(7 * i + 1)) % F.lit(MH_MOD)


def _minhash_sig_expr(docs: DataFrame) -> DataFrame:
    """Pure-expression signature variant (no Python anywhere).  Kept
    for reference/fallback: Spark's higher-order array functions are
    CodegenFallback — interpreted, ~4 ms/doc on the driver corpus —
    so the Arrow/numpy UDF below is ~10× faster.  Swap back if Spark
    gains whole-stage codegen for lambda functions."""
    hs = _shingle_hashes(F.col("text"))
    sig = F.array(
        *[F.array_min(F.transform(hs, _perm(i))) for i in range(MH_K)]
    )
    return docs.select("doc_id", sig.alias("sig"))


def _strong_shingle_hashes(words: list) -> "np.ndarray":
    """53-bit blake2b digests of each word-SHINGLE_N-gram string —
    the production shingle id: deterministic everywhere (unlike
    ``hash()``), collision-negligible up to ~10^8 distinct shingles
    (birthday bound in a 2^53 space), and small enough that the
    affine permutations below stay int64-exact (35 · 2^53 < 2^63)."""
    from hashlib import blake2b

    return np.fromiter(
        (
            int.from_bytes(
                blake2b(
                    " ".join(words[i : i + SHINGLE_N]).encode(), digest_size=8
                ).digest(),
                "big",
            )
            >> 11
            for i in range(len(words) - SHINGLE_N + 1)
        ),
        dtype=np.int64,
        count=len(words) - SHINGLE_N + 1,
    )


def minhash_signatures(docs: DataFrame, strong_hash: bool = False) -> DataFrame:
    """doc_id + sig array<long>[MH_K] over word-3-gram shingle hashes.

    Arrow-batched pandas UDF, numpy-vectorized over each doc's shingle
    array: identical integer arithmetic to the DuckDB oracle (every
    intermediate < 2^53, int64-exact in numpy).  Map-only — no explode,
    no shuffle; scales linearly with input splits at 100 TB.

    ``strong_hash=True`` is the production switch: shingle ids become
    53-bit blake2b digests of the shingle STRING instead of the
    oracle-friendly affine word-hash combine (``text.word_hash``,
    which collides heavily on real corpora).  Same plan, same
    permutation pipeline, no oracle twin — flip it when correctness
    is checked by tests rather than the cross-engine hash gate."""
    from pyspark.sql.functions import pandas_udf

    a = np.arange(MH_K, dtype=np.int64) * 2 + 3   # perm multipliers
    b = np.arange(MH_K, dtype=np.int64) * 7 + 1   # perm offsets

    @pandas_udf("array<bigint>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            words = text.split(" ")
            if len(words) < SHINGLE_N:
                out.append([None] * MH_K)  # array_min(empty) semantics
                continue
            if strong_hash:
                g = _strong_shingle_hashes(words)
            else:
                wh = np.fromiter(
                    (py_word_hash(w) for w in words),
                    dtype=np.int64,
                    count=len(words),
                )
                g = ((wh[:-2] * SH_P + wh[1:-1]) % SH_M * SH_P + wh[2:]) % SH_M
            g = np.unique(g)
            out.append(((a[:, None] * g[None, :] + b[:, None]) % MH_MOD).min(axis=1))
        return pd.Series(out)

    return docs.select("doc_id", sig_udf(F.col("text")).alias("sig"))


def _checkpointed_sigs(docs: DataFrame, strong_hash: bool = False) -> DataFrame:
    """Materialized signature table shared by the full and incremental
    pair joins.

    localCheckpoint = hard materialization barrier: the signature UDF
    column feeds three consumers (bands + both verify sides) and
    Catalyst re-plans the Arrow UDF evaluation into each one (the
    static plan showed EIGHT ArrowEvalPython nodes, zero reuse).
    Checkpointing computes signatures exactly once and every consumer
    reads the materialized rows.  At cluster scale the same holds
    per-executor; recompute-on-executor-loss is the accepted trade
    (or persist(DISK) for reliability).

    The signature kernel is compute-bound per document, so the docs
    side is sized by ``session.size_to_input`` (keyed on the unique
    doc_id).  The sizing exchange sits INSIDE the checkpointed
    subtree — size the scan, then sign, then checkpoint — so the
    materialized table keeps its size stats and the downstream verify
    joins still auto-broadcast (an r13 A/B that repartitioned docs
    OUTSIDE the barrier broke exactly that and measured 5× WORSE).
    Signatures are per-row, so output is identical under any
    partitioning."""
    return (
        minhash_signatures(
            size_to_input(docs, "doc_id"), strong_hash=strong_hash
        )
        # docs shorter than SHINGLE_N tokens have all-NULL signatures;
        # the oracle's NULL band never joins (NULL || ... = NULL), but
        # concat_ws SKIPS nulls, which would band every short doc
        # together — drop them up front on both semantics and cost
        .filter(F.element_at("sig", 1).isNotNull())
        .transform(materialize)
    )


def _checkpointed_bands(docs: DataFrame) -> DataFrame:
    """ONE materialization for the per-batch ingest shape: signature
    UDF → null filter → band explode (sig carried) → checkpoint.

    The ingest loops (``ingest_docs_batch``,
    ``streaming.dedup.stream_minhash_ingest``) consume ONLY the
    banded layout — both the index append and the probe read (doc_id,
    band, sig) rows — so checkpointing the signatures first and the
    band explode second (the r13 shape) paid one barrier job per
    batch for a table nothing else read.  Within a single linear
    plan the Arrow UDF evaluates once (the multi-consumer re-planning
    hazard ``_checkpointed_sigs`` exists for needs multiple
    consumers); the 4×-sig storage of the exploded layout is the
    band-index layout already.  The batch is sized inside the barrier
    exactly like ``_checkpointed_sigs``."""
    return materialize(
        _band_exploded(
            minhash_signatures(size_to_input(docs, "doc_id")).filter(
                F.element_at("sig", 1).isNotNull()
            ),
            with_sig=True,
        )
    )


def _band_exploded(sigs: DataFrame, with_sig: bool = False) -> DataFrame:
    """(doc_id, band) rows: one banded-signature string per band.
    ``with_sig=True`` carries the full signature along with each band
    row (4× storage of a 16-long array) so a consumer joining on the
    band key can compute pair stats WITHOUT the two doc_id re-joins of
    ``_with_pair_stats`` — the layout the persisted band index uses."""
    rows = MH_K // MH_BANDS
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(b),
                *[F.element_at("sig", b * rows + j + 1).cast("string") for j in range(rows)],
            )
            for b in range(MH_BANDS)
        ]
    )
    cols = ["doc_id", "sig"] if with_sig else ["doc_id"]
    return sigs.select(*cols, F.explode(band_arr).alias("band"))


def _with_pair_stats(cand: DataFrame, sigs: DataFrame) -> DataFrame:
    """Attach signature-agreement stats to normalized candidate pairs."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            (n_match.cast("double") / F.lit(float(MH_K))).alias("est_jaccard"),
        )
    )


def minhash_lsh_pairs(docs: DataFrame, strong_hash: bool = False) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + exact signature
    agreement estimate. Returns (doc_a, doc_b, n_match, est_jaccard).
    ``strong_hash`` switches the whole stack (signatures → bands →
    stats) to production blake2b shingle ids in one flag."""
    sigs = _checkpointed_sigs(docs, strong_hash=strong_hash)
    bands = _band_exploded(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _with_pair_stats(cand, sigs)


def q_dedup_minhash(t: dict) -> DataFrame:
    return minhash_lsh_pairs(t["documents"])


#: "new arrival" predicate for the incremental demo: every 5th doc
INCR_MOD = 5


def minhash_lsh_pairs_incremental(
    docs: DataFrame, is_new, strong_hash: bool = False
) -> DataFrame:
    """Incremental LSH dedup: candidate pairs where at least one side
    is a NEW document — the shape of continuous ingest at 100 TB.

    A full corpus re-join is O(corpus²) work repeated every batch;
    joining the new batch's bands against the full band index is
    O(new × collisions) and produces exactly the pairs the full join
    would add.  This is the FROM-SCRATCH form (recomputes signatures
    per call — the standalone-query contract); the production path
    persists the band table and probes it with the batch broadcast,
    never shuffling the index: ``build_band_index`` /
    ``probe_band_index`` batch,
    ``streaming.dedup.stream_minhash_ingest`` continuous.  Output pairs
    are normalized (doc_a < doc_b) so a pair arriving from either
    orientation dedups to one row."""
    sigs = _checkpointed_sigs(docs, strong_hash=strong_hash)
    bands = _band_exploded(sigs)
    new_bands = bands.filter(is_new(F.col("doc_id")))
    n, a = new_bands.alias("n"), bands.alias("a")
    cand = (
        n.join(a, (F.col("n.band") == F.col("a.band")) & (F.col("n.doc_id") != F.col("a.doc_id")))
        .select(
            F.least(F.col("n.doc_id"), F.col("a.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("a.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return _with_pair_stats(cand, sigs)


def q_dedup_minhash_incr(t: dict) -> DataFrame:
    return minhash_lsh_pairs_incremental(
        t["documents"], lambda d: d % INCR_MOD == 0
    )



def _sig_pair_stats(sig_a, sig_b):
    """(n_match, est_jaccard) columns from two carried signatures —
    symmetric in its arguments, so pair normalization (least/greatest
    on doc ids) never changes the stats."""
    n_match = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    )
    return (
        n_match.alias("n_match"),
        (n_match.cast("double") / F.lit(float(MH_K))).alias("est_jaccard"),
    )


def build_band_index(
    spark,
    docs: DataFrame,
    table: str,
    path: str,
    num_buckets: int = BAND_BUCKETS,
    strong_hash: bool = False,
) -> DataFrame:
    """Persist the LSH band table BUCKETED ON THE BAND KEY — the
    layout contract behind shuffle-free dedup at 100 TB: the band
    shuffle is paid ONCE when the index is laid down, and every
    consumer (full pair regeneration, per-batch ingest probes) reads
    rows already hash-partitioned on the join key, so the band
    self-join plans with ZERO Exchange (pinned in
    ``tests/test_plans.py::test_band_index_self_join_is_shuffle_free``;
    ``bench_bucketed.py`` measured 1.8× steady on the fact↔fact join
    this replaces).

    Each row carries (doc_id, band, sig): the signature rides with
    the band so pair stats come straight off the joined rows — no
    doc_id re-joins.  The pre-write ``repartition(num_buckets, band)``
    aligns task partitions with bucket ids (both are
    ``pmod(murmur3, n)``), so each bucket is one file instead of
    one-per-input-task."""
    bands = _band_exploded(
        _checkpointed_sigs(docs, strong_hash=strong_hash), with_sig=True
    )
    from ..sources.write import write_bucketed

    write_bucketed(
        bands.repartition(num_buckets, F.col("band")),
        table,
        path,
        bucket_by=["band"],
        num_buckets=num_buckets,
    )
    return spark.table(table)


def minhash_pairs_from_index(spark, table: str) -> DataFrame:
    """Full candidate-pair regeneration from the persisted band index:
    both sides of the band self-join scan the same bucketed table, so
    the join needs no Exchange — the only shuffle left is the final
    pair-distinct (candidate-pair-sized, orders of magnitude smaller
    than the band table).  Re-run after a threshold change without
    re-paying signatures OR the band shuffle."""
    idx = spark.table(table)
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *_sig_pair_stats(F.col("a.sig"), F.col("b.sig")),
        )
        .distinct()
    )


def probe_band_index(
    spark,
    table: str,
    new_docs: DataFrame | None = None,
    strong_hash: bool = False,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """O(batch) ingest probe: the new batch's bands are computed
    map-only (Arrow signature UDF, no shuffle) and BROADCAST against
    the persisted index — the corpus-sized side is never shuffled and
    never recomputed.  The index may be the bucketed batch index
    (``build_band_index``) or the plain table the ingest loops append
    to; the broadcast join needs no layout from either.  The ingest
    loops append the batch's band rows to the index BEFORE probing, so
    a batch sees itself plus everything earlier.  Emits normalized
    (doc_a < doc_b) pairs with signature stats, including
    batch-internal pairs when the batch collides with itself through
    the index (the driver demo indexes the full corpus, so
    batch×batch pairs surface through the index side).

    Pass ``new_bands`` (a (doc_id, band, sig) frame, e.g. the one just
    appended to the index) to skip recomputing the batch signatures —
    the shape ``streaming.dedup.stream_minhash_ingest`` uses so each
    micro-batch pays the signature UDF exactly once."""
    if new_bands is not None:
        nb = new_bands
    elif new_docs is not None:
        nb = _band_exploded(
            _checkpointed_sigs(new_docs, strong_hash=strong_hash), with_sig=True
        )
    else:
        raise ValueError("probe_band_index: pass new_docs or new_bands")
    idx = spark.table(table)
    i, n = idx.alias("i"), nb.alias("n")
    return (
        i.join(
            F.broadcast(n),
            (F.col("i.band") == F.col("n.band"))
            & (F.col("i.doc_id") != F.col("n.doc_id")),
        )
        .select(
            F.least(F.col("i.doc_id"), F.col("n.doc_id")).alias("doc_a"),
            F.greatest(F.col("i.doc_id"), F.col("n.doc_id")).alias("doc_b"),
            *_sig_pair_stats(F.col("i.sig"), F.col("n.sig")),
        )
        .distinct()
    )



def _band_index_for(spark, docs: DataFrame, docs_key: str) -> str:
    """Build-once band index per (session, corpus): the layout cost is
    paid on first use, every later probe reads the bucketed files.

    DELIBERATELY bypasses ``_state_table``'s durable cross-process
    adoption (r12): the band index is MUTABLE ingest state — the
    foreachBatch streams append batch band rows to it — so an
    adopting process would inherit whatever appends the previous
    process made, not the freshly-built corpus index its queries'
    oracles assume.  Making it adoptable needs an append journal
    (adopt base + replay/own the appends); until then each process
    rebuilds it — in the PER-PROCESS state dir even when
    ``SPARK_GRAFT_STATE_DIR`` is set (ADVICE r12): in the shared
    durable dir two processes on the same corpus would overwrite each
    other's live band files at the same content-addressed path, and a
    per-process mutable table gains nothing from durability."""
    import hashlib

    from .dedup_core import _process_state_dir

    def build() -> str:
        table = "band_idx_" + hashlib.md5(docs_key.encode()).hexdigest()[:12]
        build_band_index(spark, docs, table,
                         os.path.join(_process_state_dir(), table))
        return table

    return _session_cached(f"state:band_idx:{docs_key}", spark, build)


def q_dedup_minhash_bucketed(spark, sf_dir: str) -> DataFrame:
    """Driver entry for the bucketed-layout ingest path: the corpus
    band index is persisted bucketed-on-band (built once per session,
    the ingest steady state), and the incremental probe — every 5th
    doc as the arriving batch, same demo predicate as
    ``dedup_minhash_incr`` — reads it WITHOUT shuffling or recomputing
    anything corpus-sized: the batch's band rows are filtered out of
    the index scan and broadcast back against it.  Same output as
    ``dedup_minhash_incr`` (one shared DuckDB oracle definition),
    entirely different cost shape: O(batch × collisions) per call vs
    re-paying signatures + band shuffle."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    table = _band_index_for(spark, docs, os.path.abspath(sf_dir))
    batch_bands = spark.table(table).filter(F.col("doc_id") % INCR_MOD == 0)
    return probe_band_index(spark, table, new_bands=batch_bands)


# ---------------------------------------------------------- simhash
def simhash(docs: DataFrame, strong_hash: bool = False) -> DataFrame:
    """SH_BITS-bit simhash over word-3-gram SHINGLE hashes: per bit
    j, +1/-1 votes of an affine per-bit hash parity, folded over the
    doc's distinct shingles.

    Shingle-level (like minhash above) because token-set simhash
    degenerates on small-vocabulary corpora — every doc contains
    most words, so token-set fingerprints collapse to near-identical
    values and hamming blocking returns ~all pairs.

    Arrow-batched numpy UDF for the same reason as
    ``minhash_signatures``: 32 interpreted higher-order folds per row
    would be ~10× slower.  All arithmetic int64-exact (< 2^53),
    mirrored in the oracle; docs under SHINGLE_N tokens hash to 0 on
    both engines (empty vote never exceeds 0).

    ``strong_hash=True``: production blake2b shingle ids (see
    ``minhash_signatures``) — per-bit mixing stays int64-exact
    (65 · 2^53 < 2^63); no oracle twin on this path."""
    from pyspark.sql.functions import pandas_udf

    mult = np.arange(SH_BITS, dtype=np.int64) * 2 + 3
    add = np.arange(SH_BITS, dtype=np.int64)
    weights = (1 << np.arange(SH_BITS, dtype=np.int64))

    @pandas_udf("long")
    def sh_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, text in enumerate(texts):
            words = text.split(" ")
            if len(words) < SHINGLE_N:
                continue  # empty shingle set → all votes 0 → hash 0
            if strong_hash:
                g = np.unique(_strong_shingle_hashes(words))
            else:
                wh = np.fromiter(
                    (py_word_hash(w) for w in words),
                    dtype=np.int64,
                    count=len(words),
                )
                g = np.unique(
                    ((wh[:-2] * SH_P + wh[1:-1]) % SH_M * SH_P + wh[2:]) % SH_M
                )
            bits = ((g[None, :] * mult[:, None] + add[:, None]) % SH_MOD) % 2
            votes = (2 * bits - 1).sum(axis=1)
            out[i] = int(weights[votes > 0].sum())
        return pd.Series(out)

    return docs.select("doc_id", sh_udf(F.col("text")).alias("simhash"))


def q_simhash(t: dict) -> DataFrame:
    return simhash(t["documents"])


def q_simhash_pairs(t: dict) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= 3, blocked on the high
    16 bits of the hash (cheap band) so the self-join isn't O(n²) on
    big corpora: near-identical docs agree on high bits w.h.p."""
    sh = simhash(t["documents"]).withColumn(
        "block", (F.col("simhash") / F.lit(SH_BLOCK)).cast("long")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "block"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "block"
    )
    ham = F.expr("bit_count(sh_a ^ sh_b)")
    return (
        a.join(b, ["block"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


# ----------------------------------------------------- ngram jaccard
def ngram_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles; empty when the doc is shorter
    than n tokens.  Same zip_with-over-shifted-slices shape as
    ``_shingle_hashes`` — O(n) per doc, array args evaluated once."""
    toks = F.split(text_col, " ")
    k = F.size(toks)
    grams = toks
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, F.greatest(k - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.slice(grams, 1, F.greatest(k - F.lit(n - 1), F.lit(0)))
    return F.when(k >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_shingles_udf(n: int = 3):
    """Arrow twin of ``ngram_shingles`` — identical arrays (first-
    occurrence distinct order, empty under n tokens; pinned by test),
    ~1.5× faster than the interpreted zip_with lambdas at sf0.1 and
    pure per-row Python at any scale."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def shingles(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            w = text.split(" ")
            if len(w) < n:
                out.append([])
                continue
            seen: set = set()
            arr = []
            for i in range(len(w) - n + 1):
                s = " ".join(w[i : i + n])
                if s not in seen:
                    seen.add(s)
                    arr.append(s)
            out.append(arr)
        return pd.Series(out)

    return shingles


JACCARD_T = 0.5


def _prefix_postings(arrs: DataFrame) -> DataFrame:
    """Prefix-filtered postings (doc_id, n_sh, shingle, df, rn) from a
    (doc_id, shingles) frame — the ONE definition of the PPJoin
    prefix, shared by candidate generation AND the
    ``estimate_ppjoin_candidates`` probe (the probe's upper-bound
    guarantee holds only while both compute the identical prefix
    set, so a drifting copy would silently break the dial).

    n_sh rides along with the explode — no per-doc count groupBy.
    Document frequency via two-phase groupBy + equi-join, NOT
    COUNT OVER (PARTITION BY shingle): shingle frequency is Zipfian,
    and a window partitioned on the shingle key puts the hottest
    shingle's rows in ONE task — a straggler (or OOM) at 100 TB that
    no runtime facility can split.  The groupBy is skew-immune
    (map-side partial counts combine the hot key per partition
    before the merge shuffle), and the re-join is AQE-splittable
    (skewJoin duplicates the one-row build side across probe
    splits); locally the tiny count table auto-broadcasts and the
    exploded side never shuffles at all.  A/B at sf0.1 in one
    session, barriers cleared between runs: join 3.96/3.00/2.70 s
    vs window 3.52/2.49 s warm — a wash locally, only the join form
    survives the 100× skew.

    NOTE: do NOT localCheckpoint the result — although it feeds both
    sides of the candidate self-join, Spark's ReusedExchange already
    shares the shuffle output of the identical rank subtrees; an
    explicit barrier here breaks that reuse and measured 2-4× SLOWER
    A/B'd in a fresh session (3.0s vs 6.2-14.8s at sf0.1)."""
    from pyspark.sql.window import Window

    sh = arrs.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("s"),
    ).select("doc_id", "n_sh", F.xxhash64("s").alias("shingle"))
    cnt = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(cnt, "shingle")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    return ranked.filter(
        F.col("rn")
        <= F.col("n_sh") - F.ceil(F.lit(JACCARD_T) * F.col("n_sh")) + 1
    )


def _shingle_arrs(d: DataFrame) -> DataFrame:
    """Session-cached hard barrier over the corpus shingle pass
    (doc_id, shingles) — the single most expensive Python step of the
    n-gram dedup family, shared by the PPJoin candidate generator AND
    the candidate-bound probe so ``dedup_text_auto``'s cold call
    (probe, then the routed path) pays it once, not twice (r12
    review).  Materialized because the arrays feed multiple consumers
    (explode + both verify sides) and Catalyst would otherwise inline
    the UDF subtree into each; cached per docs anchor because the
    barrier blocks are released by ``release_barriers`` along with
    every other non-``state:`` entry."""
    from .dedup_core import _session_cached

    return _session_cached(
        _ARRS_TAG,
        d,
        lambda: materialize(
            d.select(
                "doc_id", ngram_shingles_udf()(F.col("text")).alias("shingles")
            )
        ),
    )


#: cache tag of the _shingle_arrs barrier — one spelling, shared with
#: drop_shingle_arrs so a tag rename cannot silently strand the drop
_ARRS_TAG = "arrs"


def drop_shingle_arrs(d: DataFrame) -> bool:
    """Release the ``_shingle_arrs`` barrier for THIS docs anchor (the
    corpus-sized checkpoint the probe materialized), firing the
    entry's release hook — the supported drop for callers that know
    nothing downstream will read it (the auto-router's LSH branch).
    Lives next to ``_shingle_arrs`` so the key spelling has one home
    (ADVICE r12)."""
    from .dedup_core import evict_state_entry

    return evict_state_entry(_ARRS_TAG, d)


def _ngram_candidates(
    d: DataFrame, positional_filter: bool = True
) -> "tuple[DataFrame, DataFrame]":
    """(shingle-array barrier, candidate pair set) — the generation
    half of ``ngram_jaccard_pairs``, split out so the measured A/B
    (docs/AB_R11_ppjoin.jsonl) counts candidates through the
    PRODUCTION code path instead of a drifting copy."""

    arrs = _shingle_arrs(d)
    probe = _prefix_postings(arrs)
    pa = probe.select(
        F.col("doc_id").alias("pa"), "shingle",
        F.col("rn").alias("rn_a"), F.col("n_sh").alias("na"),
    )
    pb = probe.select(
        F.col("doc_id").alias("pb"), "shingle",
        F.col("rn").alias("rn_b"), F.col("n_sh").alias("nb"),
    )
    # symmetric length filter: J >= t forces t·|B| <= |A| <= |B|/t
    # (pair-constant, so filtering the match stream before the pair
    # aggregation drops all of a pair's rows or none)
    lenf = (F.col("na") >= F.lit(JACCARD_T) * F.col("nb")) & (
        F.col("nb") >= F.lit(JACCARD_T) * F.col("na")
    )
    rows = pa.join(pb, "shingle").filter((F.col("pa") < F.col("pb")) & lenf)
    # r14: per-pair AGGREGATION replaces the bare pair-distinct —
    # same (pa, pb) exchange key, map-side combined, carrying three
    # longs of aggregation state per pair instead of one row per
    # surviving match (A/B in one session at sf0.1: candidate stage
    # 1.95 s → 0.75 s warm, identical pair set).  The r11 per-row
    # positional filter moves into the aggregate: the pair
    # requirement ``overlap >= t/(1+t)·(na+nb)`` is constant per
    # pair, so any-row-passes ⟺ max-over-rows-passes — the same
    # candidate set as filtering each row before a distinct, and a
    # hash collision can only ADD a row and so only RAISE the max
    # (recall-safe; the string verify is exact anyway).
    #
    # Measured and REJECTED here (r14, VERDICT r13 item 2): the
    # aggregated PPJoin suffix bound ``cnt + min(na − max rn_a, nb −
    # max rn_b)`` with collision-safety via a broadcast tainted-hash
    # set (hashes covering ≥2 distinct strings corpus-wide; the
    # positional maxima trust only untainted rows, so collisions can
    # only raise the bound — the soundness proof survives).  On this
    # corpus it prunes only 4% of candidates (124 839 → 119 678):
    # 96% of candidate pairs match at LOW ranks, where ``na − max
    # rn_a`` stays near ``na`` and the bound clears the requirement
    # regardless of cnt — while the taint computation (one distinct
    # (hash, string) aggregation over the corpus shingles; strings
    # must stay out of agg BUFFERS or the df-count pass plans
    # SortAggregate, measured 1.6× slower end-to-end) costs 0.7 s
    # per pass locally and a vocab-sized string exchange at scale.
    # Net negative at every scale tested; the exactness contract
    # forbids the taint-free variant (a collision can push the bound
    # below a true pair's requirement — proven in r13).
    agg = rows.groupBy("pa", "pb").agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max(
            F.least(F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b"))
        ).alias("ub"),
    )
    req_p = F.lit(JACCARD_T / (1.0 + JACCARD_T)) * (F.col("na") + F.col("nb"))
    # ``positional_filter=False`` exists ONLY for the measured A/B
    # (docs/AB_R11_ppjoin.jsonl): prefix + length filters alone vs
    # PPJoin proper.  The result set is identical either way (the
    # verify is exact); only the candidate count and runtime move.
    if positional_filter:
        agg = agg.filter(F.col("ub") + 1 >= req_p - F.lit(1e-9))
    cand = agg.select(F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
    return arrs, cand


def estimate_ppjoin_candidates(d: DataFrame) -> int:
    """Upper bound on the exact PPJoin's candidate-pair count, priced
    at ONE aggregation over the prefix postings: Σ over prefix
    shingles of C(df_prefix, 2).  Every candidate pair shares at
    least one prefix shingle, so the sum bounds the (pre-distinct)
    match stream from above — and it tracks the right ORDER (measured:
    bound 430k vs 125k actual at sf0.1, 50.9M vs 17.2M at sf1 — ~3×
    over, at ~4% of the full run's cost; docs/SOAK_SF1_R11LATE.json).

    The decision dial this exists for: exact-verify work scales with
    this number, which grows QUADRATICALLY in per-shingle posting
    density (sf0.1 → sf1 on the synthetic corpus: 10× docs, 138×
    candidates — the 40-word vocabulary makes every posting list 10×
    longer).  Probe this before an exact `ngram_jaccard` run; when
    bound/doc_count ≫ expected dup rate, take the minhash-LSH path
    instead (measured near-FLAT over the same growth: 3.6 s → 4.0 s
    cold), whose banding keeps candidates ≈ true near-dups at any
    density."""
    # the prefix set comes from the SAME _prefix_postings the real
    # candidate join uses, so the bound cannot drift from the
    # production prefix definition; the sum runs in decimal (a `/ 2`
    # double sum would shed low-order bits past 2^53 — exactly the
    # pathological-density regime this dial exists for — and could
    # round BELOW the true bound).  The arrays come from the SHARED
    # materialized barrier (_shingle_arrs): without a barrier Catalyst
    # inlines the shingle-UDF explode into both of _prefix_postings'
    # consumers (ADVICE r11), and sharing the cache entry with
    # _ngram_candidates means a probe-then-run sequence
    # (dedup_text_auto cold) pays the corpus Python pass once
    arrs = _shingle_arrs(d)
    row = (
        _prefix_postings(arrs)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("pdf"))
        .agg(
            F.sum(
                F.col("pdf").cast("decimal(38,0)") * (F.col("pdf") - 1)
            ).alias("twice_bound")
        )
        .collect()[0]
    )
    return int(row.twice_bound or 0) // 2


def ngram_jaccard_pairs(
    d: DataFrame, positional_filter: bool = True
) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5), computed
    with the AllPairs/PPJoin prefix filter so it scales:

    1. candidate generation runs on xxhash64(shingle) longs (hashed
       post-explode, inside whole-stage codegen — hashing inside an
       interpreted ``transform`` lambda measured 4× slower), never on
       30-char strings;
    2. rank each doc's shingles by global document frequency
       (rarest first — a canonical total order);
    3. candidates come from a prefix-to-prefix self-join (prefix =
       first ``|X| - ceil(t·|X|) + 1`` shingles in df order) — the
       high-DF shingles that drive the quadratic blowup of a naive
       self-join never generate candidates.  ``pa < pb`` keeps one
       orientation per unordered pair, halving the enumerated
       matches;
    4. the symmetric length filter (``t·|B| <= |A| <= |B|/t``) drops
       rows before the pair aggregation (pair-constant, so it drops
       all of a pair's rows or none); the match stream then
       aggregates per pair — same (pa, pb) exchange the old
       pair-distinct paid, now map-side combined and ~2.5× faster —
       and the PPJoin positional filter applies in aggregated form
       (max-over-rows ⟺ any-row-passes: the pair requirement
       ``overlap >= t/(1+t)(na+nb)`` is constant per pair), so the
       candidate set is unchanged and collision rows can only raise
       the max (recall-safe);
    5. exact verify via array_intersect on the per-doc string shingle
       arrays — checkpoint stats let Spark auto-broadcast them at
       bench scale; at cluster scale AQE falls back to a shuffled
       join.

    Output is identical to the naive all-pairs join (the DuckDB
    oracle IS the naive string-level join) — only the plan differs.
    A hash collision in candidate generation can only ADD a
    candidate; the string-level verify removes it, so the result is
    collision-proof.
    """
    arrs, cand = _ngram_candidates(d, positional_filter)
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    bb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common.cast("double") / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )
