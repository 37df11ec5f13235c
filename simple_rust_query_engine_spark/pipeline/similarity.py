"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the query vector
against a map-only scoring pass, then TakeOrderedAndProject.  Exactly
the plan you want at scale: score is embarrassingly parallel, only k
rows cross the final exchange.

Scale path: random-hyperplane LSH bucketing — deterministic sign-bit
buckets computed map-only; candidate search touches one bucket
(≈ n / 2^bits of the corpus).  An IVF variant would replace the
hyperplanes with k-means centroids (Spark ML KMeans) — same plan
shape: assign → co-partition by cell → search probed cells.

Determinism for the DuckDB oracle: dot products are sequential left
folds over index order (F.aggregate ↔ list_reduce) with float→double
casts — bit-identical across engines, so even raw doubles hash-match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import size_to_input

LSH_PLANES = 4  # bucket bits for the scale path


#: corpus embedding width assumed by every full-width fold below
_EMB_DIM = 64


def _sql_dot_n(a: str, b: str, n: int) -> str:
    """Left-fold dot product over the first ``n`` list elements — the
    ONE spelling of the oracle fold; the full-width helpers below are
    its ``n = _EMB_DIM`` instance, and the PQ chains use subspace
    widths."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {n + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)"
    )


def _sql_cos_n(a: str, b: str, n: int) -> str:
    return (
        f"{_sql_dot_n(a, b, n)} / sqrt({_sql_dot_n(a, a, n)})"
        f" / sqrt({_sql_dot_n(b, b, n)})"
    )


def _sql_dot(a: str, b: str) -> str:
    return _sql_dot_n(a, b, _EMB_DIM)


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_dot(a, a)})"


def _sql_cos(a: str, b: str) -> str:
    return _sql_cos_n(a, b, _EMB_DIM)


def _dots(a, b) -> Column:
    """Sequential left-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b) -> Column:
    # fixed operation order (dot / |a| / |b|) so engines agree bitwise
    return _dots(a, b) / _norm(a) / _norm(b)


def ann_brute_topk(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Top-k cosine neighbours of ``query_vec_id`` by full scan.

    The 1-row query side is cross-joined (Catalyst → broadcast
    nested loop over a single row = free); scoring is map-only.
    Norms are precomputed per row so the scoring pass folds each
    embedding once, not three times.  Division order (dot / |q| /
    |c|) mirrors the oracle — float division is order-sensitive in
    the last bit."""
    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .withColumn("nrm", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (_dots(F.col("q_emb"), F.col("embedding")) / F.col("q_nrm") / F.col("nrm")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def hyperplane_sign(emb_col, j: int) -> Column:
    """Sign bit of the dot product with deterministic pseudo-random
    hyperplane j: component i is +1 when ((i*(2j+3) + (j+1)*31) % 97)
    is even.

    The mod-97 mix matters: the earlier ``(i*j + i + j) % 2`` factors
    as ``(i+1)(j+1)+1 mod 2``, so every even j produced the SAME
    hyperplane and every odd j a constant sign — at most 2 informative
    bits, 4 effective buckets, no matter how many planes were
    requested.  Measured on the driver embeddings: old formula 4
    distinct buckets at any plane count; this one 16/60/182 at
    4/6/8 planes with max-bucket occupancy 54/20/12 of 500."""
    signed = F.zip_with(
        emb_col,
        F.sequence(F.lit(0), F.size(emb_col) - 1),
        lambda x, i: F.when(
            ((i * F.lit(2 * j + 3) + F.lit((j + 1) * 31)) % 97) % 2 == 0,
            x.cast("double"),
        ).otherwise(-x.cast("double")),
    )
    dot = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket_udf(planes: int = LSH_PLANES, bands: int = 1):
    """Arrow/numpy twin of ``lsh_bucket``: one batched pass computes
    EVERY band's bucket (band b uses hyperplanes ``b*planes ..
    b*planes+planes-1``), returned as ``array<int>`` of length
    ``bands``.

    Exists because Spark's higher-order lambdas are CodegenFallback —
    interpreted per element, measured ~3 s warm for 2 bands × 4
    planes × 64 dims × 5k vectors, where this UDF is ~0.1 s.
    Bit-parity with the expression form (and the DuckDB oracle): the
    dimension loop accumulates the signed sum left-to-right per row,
    the same float addition sequence as ``F.aggregate``/
    ``list_reduce``; a test pins UDF == expression on the corpus."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def buckets(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        A = np.stack(embs.to_numpy()).astype(np.float64)
        n, dim = A.shape
        idx = np.arange(dim)
        out = np.zeros((n, bands), dtype=np.int32)
        for band in range(bands):
            for j in range(planes):
                jj = band * planes + j
                s = np.where(((idx * (2 * jj + 3) + (jj + 1) * 31) % 97) % 2 == 0, 1.0, -1.0)
                dot = np.zeros(n)
                for d in range(dim):  # left-to-right fold == F.aggregate
                    dot = dot + A[:, d] * s[d]
                out[:, band] += (dot > 0).astype(np.int32) << j
        return pd.Series(list(out))

    return buckets


def lsh_bucket(emb_col, planes: int = LSH_PLANES, plane_offset: int = 0) -> Column:
    """``planes``-bit sign-hash bucket.  ``planes`` sets the blocking
    granularity — 2^planes buckets — and grows with corpus size (4
    bits for the bench corpus, 16-24 at 10^9 vectors so a bucket fits
    one task).  ``plane_offset`` selects an independent hyperplane
    family, giving multi-band OR-of-ANDs constructions distinct bands
    from one generator."""
    b = F.lit(0)
    for j in range(planes):
        b = b + hyperplane_sign(emb_col, plane_offset + j) * F.lit(2**j)
    return b.cast("int")


def ann_lsh_topk(emb: DataFrame, query_vec_id: int = 0, k: int = 5) -> DataFrame:
    """Scale-path ANN: search only the query's hyperplane bucket.
    Recall < 1 by design; production raises LSH_PLANES and probes
    neighbouring buckets (multi-probe)."""
    bucketed = emb.withColumn("bucket", lsh_bucket(F.col("embedding")))
    q = (
        bucketed.filter(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    return (
        bucketed.filter(F.col("vec_id") != query_vec_id)
        .withColumn("nrm", _norm(F.col("embedding")))
        .join(F.broadcast(q), F.col("bucket") == F.col("q_bucket"))
        .select(
            "vec_id",
            "bucket",
            (_dots(F.col("q_emb"), F.col("embedding")) / F.col("q_nrm") / F.col("nrm")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ann_lsh_multiprobe_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 5
) -> DataFrame:
    """Multi-probe LSH: search the query's bucket PLUS every bucket at
    hamming distance 1 (one hyperplane bit flipped) — the standard
    recall upgrade over single-probe without adding hash tables.  The
    vectors most likely lost to single-probe sit just across ONE
    hyperplane; probing the LSH_PLANES+1 nearest buckets recovers
    them while still scanning only (planes+1)/2^planes of the corpus.
    Plan shape is unchanged: map-side bucketing, 1-row broadcast,
    disjunctive equi-probes on the broadcast side, TakeOrdered."""
    bucketed = emb.withColumn("bucket", lsh_bucket(F.col("embedding")))
    q = (
        bucketed.filter(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    probe = F.col("bucket") == F.col("q_bucket")
    for j in range(LSH_PLANES):
        probe = probe | (
            F.col("bucket") == F.col("q_bucket").bitwiseXOR(F.lit(1 << j))
        )
    return (
        bucketed.filter(F.col("vec_id") != query_vec_id)
        .withColumn("nrm", _norm(F.col("embedding")))
        .join(F.broadcast(q), probe)
        .select(
            "vec_id",
            "bucket",
            (_dots(F.col("q_emb"), F.col("embedding")) / F.col("q_nrm") / F.col("nrm")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


IVF_CELLS = 16   # coarse cells (vectors 0..15 act as fixed centroids)
IVF_PROBE = 4    # cells searched per query


def _ivf_centroids(
    emb: DataFrame, n_cells: int = IVF_CELLS, fast_bound: int | None = None
):
    """Deterministic seed centroids: the first ``n_cells`` vectors by
    vec_id — the fixed 'trained' cells of the oracle-checked
    ``ann_ivf`` row AND the Lloyd's initialization of
    ``kmeans_centroids`` (one definition, so the Spark seed can never
    diverge from the oracles' c0 CTE).  The centroid matrix is
    driver-side model state, tiny (cells×dim), broadcast into the
    assignment UDF; collecting it is the IVF design, not a
    driver-side data loop.

    Two-step scan (r12): first try ``vec_id < n_cells`` — on the
    dense-id corpora every caller feeds today, parquet min/max stats
    prune that filter to the one row group holding the first K ids,
    and K distinct ints all below K are necessarily exactly the K
    smallest, so the fast path is provably the same seed set.  A
    frame where the filter yields fewer than K rows (offset ids,
    gaps) falls back to the generic orderBy+limit TakeOrdered — a
    full scan, paid only where correctness requires it.

    ``fast_bound`` widens the fast-path id cut for callers whose
    frame is a SAMPLED view (r13): on a ``vec_id % S == 0`` frame
    with dense underlying ids, the K smallest members all sit below
    ``K*S``, so the sampled trainer passes ``fast_bound = K*S`` and
    keeps the min/max row-group pruning a bare modulo filter cannot
    get — at 100 TB the difference between reading one row group and
    scanning the corpus for 8 seed rows.  The count check below
    still guards any layout where the bound assumption fails."""
    rows = (
        emb.filter(F.col("vec_id") < (fast_bound or n_cells))
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .limit(n_cells)
        .collect()
    )
    if len(rows) < n_cells:
        rows = (
            emb.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(n_cells)
            .collect()
        )
    C = np.stack([np.asarray(r.embedding) for r in rows]).astype(np.float64)
    return C


def _fold_assign(sub: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """argmax-cosine cell per row, dims folded left-to-right for
    oracle parity; ties → lowest cell (np.argmax takes the first
    winner).  The ONE spelling of the assignment arithmetic — the
    IVF/KMeans assignment UDF and the PQ encoder both call it, so
    their tie/fold conventions can never drift apart."""
    n_cells = C.shape[0]
    c_nrm2 = np.zeros(n_cells)
    v_nrm2 = np.zeros(len(sub))
    dot = np.zeros((len(sub), n_cells))
    for d in range(C.shape[1]):
        c_nrm2 = c_nrm2 + C[:, d] * C[:, d]
        v_nrm2 = v_nrm2 + sub[:, d] * sub[:, d]
        dot = dot + np.outer(sub[:, d], C[:, d])
    cos = dot / np.sqrt(v_nrm2)[:, None] / np.sqrt(c_nrm2)[None, :]
    return np.argmax(cos, axis=1).astype("int32")


def _cell_assign_udf(C: "np.ndarray"):
    """cell = argmax over centroids of cos(v, c) — ``_fold_assign``
    behind an Arrow kernel."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def assign(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="int32")
        A = np.stack(embs.to_numpy()).astype(np.float64)
        return pd.Series(_fold_assign(A, C))

    return assign


def _probe_cells(v: "np.ndarray", C: "np.ndarray", n_probe: int) -> list:
    """The query's ``n_probe`` nearest cells by fold cosine, ties
    toward the lower cell (stable argsort — the oracle's ORDER BY
    c_cos DESC, cell ASC).  Driver-side: n_cells is tiny."""
    dim = len(v)
    v_nrm = 0.0
    dots = np.zeros(len(C))
    for d in range(dim):
        v_nrm = v_nrm + v[d] * v[d]
        dots = dots + v[d] * C[:, d]
    c_nrm = np.zeros(len(C))
    for d in range(dim):
        c_nrm = c_nrm + C[:, d] * C[:, d]
    cos_c = dots / np.sqrt(v_nrm) / np.sqrt(c_nrm)
    return sorted(np.argsort(-cos_c, kind="stable")[:n_probe].tolist())


def ann_ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 5,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF ANN: assign every vector to its nearest coarse cell
    (map-side, broadcast centroid matrix), then search only the
    query's IVF_PROBE nearest cells.  Same plan at 100 TB: the
    assignment is a map over input splits; the probe prunes the scan
    to n_probe/n_cells of the corpus (with cell as a partition/
    cluster key the pruning happens at the storage layer).

    ``centroids`` swaps in a trained centroid matrix — e.g.
    ``kmeans_centroids(emb)`` (the distributed Lloyd's loop below) —
    for the deterministic first-K seed the oracle-checked row uses;
    the plan is identical either way."""
    C = _ivf_centroids(emb) if centroids is None else centroids
    assign = _cell_assign_udf(C)
    cells = emb.withColumn("cell", assign(F.col("embedding")))

    q = (
        cells.filter(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    # the query's IVF_PROBE nearest cells, computed from the same
    # centroid matrix (driver-side: n_cells tiny)
    q_row = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    v = np.asarray(q_row[0].embedding, dtype=np.float64)
    probe = _probe_cells(v, C, IVF_PROBE)

    return (
        cells.filter(F.col("vec_id") != query_vec_id)
        .filter(F.col("cell").isin(probe))
        .withColumn("nrm", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "cell",
            (_dots(F.col("q_emb"), F.col("embedding")) / F.col("q_nrm") / F.col("nrm")).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ann_ivf_kmeans_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    probe: int = IVF_PROBE,
    seed: int = 42,
) -> DataFrame:
    """Production IVF: coarse cells TRAINED with Spark ML KMeans
    (seeded) instead of the fixed deterministic centroids the
    oracle-checked `ann_ivf` uses — same plan shape end to end:
    assignment is `model.transform` (JVM-side, map-only over input
    splits), the centroid matrix is tiny driver-side model state, and
    the probe prunes the scan to the query's `probe` nearest cells by
    the model's own euclidean metric.  No DuckDB twin (KMeans
    iterations aren't cross-engine reproducible) — pinned instead by
    a recall-vs-brute-force test."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.withColumn("_feat", array_to_vector(F.col("embedding")))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_feat", predictionCol="cell"
    ).fit(feat)
    cells = model.transform(feat).drop("_feat")

    C = np.stack([np.asarray(c) for c in model.clusterCenters()])
    q_row = (
        emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    )
    v = np.asarray(q_row[0].embedding, dtype=np.float64)
    d2 = ((C - v[None, :]) ** 2).sum(axis=1)
    probes = sorted(np.argsort(d2, kind="stable")[:probe].tolist())

    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    return (
        cells.filter(F.col("vec_id") != query_vec_id)
        .filter(F.col("cell").isin(probes))
        .withColumn("nrm", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "cell",
            (
                _dots(F.col("q_emb"), F.col("embedding"))
                / F.col("q_nrm")
                / F.col("nrm")
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


KMEANS_CELLS = 8   # trained coarse cells (Lloyd's)
KMEANS_ITERS = 3   # fixed iteration count — determinism over convergence
#: deterministic coarse-trainer sample modulus (r13, VERDICT r12
#: item 4 — the same dial PQ_TRAIN_MOD gave the codebook trainer in
#: r12): the COARSE centroids train on the ``vec_id % mod == 0``
#: subset, so the n_iters training scans touch 1/mod of the corpus —
#: at 100 TB that is the difference between n_iters full-corpus
#: passes and n_iters sample passes for a K-centroid model a sample
#: trains equally well.  The APPLY passes (kmeans_train's assignment,
#: every IVF consumer) still cover every vector.  Id-modulo, not a
#: hash, for the same reason as PQ_TRAIN_MOD: the DuckDB oracle must
#: evaluate the identical predicate.
KMEANS_TRAIN_MOD = 4


def _kmeans_update_frame(emb: DataFrame, C: "np.ndarray") -> DataFrame:
    """ONE Lloyd's update as a plan: assign every vector to its
    nearest centroid (broadcast matrix, map-only Arrow kernel — the
    same ``_cell_assign_udf`` IVF uses), then the new per-(cell, dim)
    means via the ``emb_centroid`` posexplode partial-agg shape — each
    partition emits at most n_cells×dim partial sums, so the single
    exchange of the iteration moves centroid-sized state, never
    vectors (plan-pinned: exactly one hashpartitioning Exchange).
    Means round to 6 decimals: cross-partition summation order is
    nondeterministic in the last bits, and the rounded value is what
    feeds the next iteration on BOTH engines, keeping the iterate
    trajectories identical.  Residual risk, accepted and symmetric:
    an AVG landing within one ulp of a .5×10⁻⁶ rounding boundary can
    flip under either engine's parallel summation order (DuckDB
    multi-thread AVG included) — measure-zero on real data; verified
    stable on the driver corpora (10 repeated oracle runs at 32
    threads, value-identical after row sort)."""
    assign = _cell_assign_udf(C)
    return (
        emb.withColumn("cell", assign(F.col("embedding")))
        .select("cell", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


def _plan_shape_fingerprint(df: DataFrame) -> str:
    """Cross-process fingerprint of a frame's PLAN SHAPE: md5 of the
    CANONICALIZED analyzed plan's toJSON (expr-ids normalized), with
    every jvmId UUID stripped first.  SHAPE only, NOT the row set:
    the canonicalized JSON serializes a LogicalRelation's underlying
    HadoopFsRelation as null (measured — no file path survives), so
    two frames over DIFFERENT datasets with the same schema and
    operator tree fingerprint identically.  Any persisted-state key
    MUST therefore combine this with the frame's input-file list, as
    ``kmeans_centroids`` does — this hash contributes the
    filters/projections/derivations the file list cannot see.  Each rejected alternative was a
    measured failure: Spark serializes ExprId as {id, jvmId} where
    jvmId is a RANDOM per-JVM UUID canonicalization does not
    normalize — unstripped, the same plan hashes differently in every
    process, so a restarted driver on a durable warehouse would never
    match its own persisted state; toString/treeString truncates at
    spark.sql.debug.maxToStringFields (default 25), so plans
    differing only past a node's 25th field render byte-identical;
    the bare 32-bit semanticHash birthday-collides between ad-hoc
    filters.  Pinned cross-process by
    ``test_pipeline_paths.test_plan_fingerprint_stable_across_processes``."""
    import hashlib
    import re

    plan_json = df._jdf.queryExecution().analyzed().canonicalized().toJSON()
    plan_json = re.sub(
        r'"jvmId"\s*:\s*"[0-9a-fA-F-]{36}"', '"jvmId":"0"', plan_json
    )
    return hashlib.md5(plan_json.encode()).hexdigest()


#: trajectory-convention version, folded into the persisted-state key:
#: bump when the trainer's SEMANTICS move without a signature change
#: (seed rule, rounding, tie-break, empty-cell coalesce) so a durable
#: state dir can never hand a new process centroids trained under the
#: old convention (ADVICE r12; r12's orderBy-seed change is the
#: motivating example).
_KMEANS_TRAJ_VER = "t2"


def _file_inventory(files: list) -> str:
    """See ``dedup_core.file_inventory`` — the one spelling of the
    size+mtime inventory, shared so the dedup and kmeans/PQ durable
    keys can never drift apart (r13 review)."""
    from .dedup_core import file_inventory

    return file_inventory(files)


def kmeans_centroids(
    emb: DataFrame,
    n_cells: int = KMEANS_CELLS,
    n_iters: int = KMEANS_ITERS,
    train_mod: int | None = KMEANS_TRAIN_MOD,
) -> "np.ndarray":
    """Distributed KMeans TRAINING, DataFrame-native (the trained
    replacement for ``_ivf_centroids``'s first-K seed — VERDICT r8
    item 4): ``n_iters`` Lloyd's iterations, each one exchange.

    Trains on the deterministic ``vec_id % train_mod == 0`` SAMPLE by
    default (r13, VERDICT r12 item 4 — the dial ``PQ_TRAIN_MOD`` gave
    the codebook trainer in r12): at 100 TB the n_iters training
    scans touch 1/mod of the corpus; consumers' apply passes still
    cover every vector.

    Deterministic end to end, so it carries an exact DuckDB twin (the
    same fixed iterations unrolled in CTEs): seeds are the first
    ``n_cells`` TRAINING vectors by vec_id (raw values, no RNG); assignment
    argmax breaks ties toward the lower cell; new means round to 6
    decimals before feeding the next iteration; an EMPTY cell keeps
    its previous centroid (both sides coalesce).  Per iteration the
    driver collects n_cells×dim scalars — centroid model state, the
    same standing as the IVF centroid matrix — and the cluster does
    one map-only assignment pass + one centroid-sized exchange.

    The trained matrix PERSISTS as a ``state:`` parquet table per
    (corpus files, geometry) — the ``dedup_core._state_table``
    pattern the band index and label state use (VERDICT r9 item 6):
    train once, every later consumer — even one holding a DIFFERENT
    frame over the same files — reloads n_cells×dim scalars instead
    of re-running Lloyd's (pinned:
    ``test_pipeline_paths.test_kmeans_centroids_train_once``).
    Parquet doubles round-trip exactly, so the reloaded matrix is
    bit-identical to the trained one and the oracle trajectory is
    unaffected.  A frame with no input files (a synthetic
    createDataFrame corpus) skips persistence and trains under the
    per-frame session cache alone."""
    from .dedup_core import _session_cached, _state_table

    # training sample (r13, VERDICT r12 item 4): seeds AND every
    # Lloyd's iteration run over the deterministic ``vec_id % mod``
    # subset — the n_iters corpus scans become sample scans, the same
    # trade the r12 PQ trainer made.  ``train_mod=None`` trains on
    # the given frame unsampled (pq_codebooks passes this: its slice
    # frames are ALREADY the sampled subset, and double-filtering
    # would hide the sampling decision from the one place that owns
    # it).  The oracle twin is ``_kmeans_cte_parts(train_mod=...)``,
    # the predicate mirrored verbatim.
    trainfrm = (
        emb if train_mod is None
        else emb.filter(F.col("vec_id") % train_mod == 0)
    )

    def train():
        # shared deterministic seed; the widened fast_bound keeps the
        # seed scan row-group-prunable on the sampled frame (the bare
        # modulo filter is not a parquet-pushable predicate)
        C = _ivf_centroids(
            trainfrm,
            n_cells,
            fast_bound=None if train_mod is None else n_cells * train_mod,
        )
        for _ in range(n_iters):
            updated = _kmeans_update_frame(trainfrm, C).collect()
            C2 = C.copy()  # empty cells keep their previous centroid
            for r in updated:
                C2[r.cell, r.dim] = r.centroid
            C = C2
        return C

    def load():
        files = sorted(emb.inputFiles())
        if not files:
            return train()
        spark = emb.sparkSession
        # the key must identify the ROW SET, not just the files: a
        # filtered/derived frame over the same parquet reports the
        # same inputFiles, and keying on files alone would let a
        # subset-trained matrix poison every later whole-corpus call
        # (and vice versa).  It must also identify the TRAINER: the
        # sample modulus and the trajectory version ride in the key
        # (ADVICE r12 — r12's seed change and r13's sampling change
        # are both content changes a durable dir would otherwise
        # adopt across), and the file inventory carries sizes+mtimes
        # so in-place corpus rewrites rebuild instead of adopting.
        plan_fp = _plan_shape_fingerprint(emb)
        inv = _file_inventory(files)

        def build_df():
            C = train()
            rows = [
                (c, d, float(C[c, d]))
                for c in range(C.shape[0])
                for d in range(C.shape[1])
            ]
            return spark.createDataFrame(
                rows, "cell int, dim int, centroid double"
            )

        table = _state_table(
            spark,
            f"kmeans_{n_cells}x{n_iters}m{train_mod}",
            f"sh{plan_fp}|{_KMEANS_TRAJ_VER}|m{train_mod}|{inv}",
            build_df,
        )
        rows = spark.table(table).collect()
        C = np.zeros(
            (max(r.cell for r in rows) + 1, max(r.dim for r in rows) + 1)
        )
        for r in rows:
            C[r.cell, r.dim] = r.centroid
        return C

    return _session_cached(
        f"state:kmeans:{n_cells}x{n_iters}m{train_mod}", emb, load
    )


def kmeans_train(
    emb: DataFrame,
    n_cells: int = KMEANS_CELLS,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Driver surface for the trained model: the FINAL assignment pass
    (vec_id → nearest trained cell), map-only over the corpus — the
    production apply-model step, and the row the oracle's unrolled
    CTE chain reproduces exactly."""
    C = kmeans_centroids(emb, n_cells, n_iters)
    return emb.select(
        "vec_id", _cell_assign_udf(C)(F.col("embedding")).alias("cell")
    )


def q_kmeans_train(t: dict) -> DataFrame:
    return kmeans_train(t["embeddings"])


def ann_ivf_trained_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 5
) -> DataFrame:
    """IVF search over TRAINED cells: ``ann_ivf_topk`` fed by the
    Lloyd's-trained centroid matrix — the production composition
    (train coarse cells, assign map-only, probe the query's nearest
    cells), and because the training loop is deterministic the WHOLE
    pipeline carries an exact DuckDB twin (train CTEs + assignment +
    probe + the shared fold cosine), unlike the Spark-ML-KMeans
    variant (``ann_ivf_kmeans_topk``) whose iterations aren't
    cross-engine reproducible."""
    return ann_ivf_topk(
        emb, query_vec_id=query_vec_id, k=k,
        centroids=kmeans_centroids(emb),
    )


def q_ann_ivf_trained(t: dict) -> DataFrame:
    return ann_ivf_trained_topk(t["embeddings"])


def _kmeans_cte_parts(
    K: int = KMEANS_CELLS,
    iters: int = KMEANS_ITERS,
    prefix: str = "",
    lo: int = 1,
    subdim: int = _EMB_DIM,
    train_mod: int | None = None,
) -> str:
    """The fixed Lloyd's iterations unrolled in DuckDB CTEs:
    {prefix}c0 = first-K seed arrays; per iteration i — s{i} scores
    every (vector, centroid) pair with the shared left-fold cosine,
    a{i} picks the argmax (ties toward the lower cell), n{i} computes
    the rounded per-(cell, dim) means, c{i+1} coalesces empty cells
    back to their previous centroid.  Ends with s{iters}/a{iters}:
    the scores and assignment against the FINAL centroids.

    ``prefix``/``lo``/``subdim`` parameterize the SAME trajectory
    over a column slice for the PQ codebook chains — one generator,
    so an edit to the rounding/tie/coalesce conventions cannot
    desynchronize the KMeans and PQ oracles.

    ``train_mod=S`` mirrors the Spark side's deterministic training
    sample (``vec_id % S == 0``, r12): seeds and the TRAINING
    iterations run over the sample only; the FINAL s{iters}/a{iters}
    — the apply-model step every consumer reads — stays over the
    full corpus.  The predicate is id-modulo, not a hash: it must
    evaluate identically on both engines, and DuckDB has no
    xxhash64.  Seeds become rank-within-sample (ROW_NUMBER - 1), the
    exact mirror of the Spark seed matrix's positional row index
    over ORDER BY vec_id LIMIT K."""
    p = prefix
    full = lo == 1 and subdim == _EMB_DIM
    sl = "embedding" if full else (
        f"list_slice(embedding, {lo}, {lo + subdim - 1})"
    )
    idx = "d.i" if lo == 1 else f"{lo - 1} + d.i"
    dims = f"(SELECT unnest(range(1, {subdim + 1})) AS i)"
    # seeds are rank-within-training-set — the exact mirror of the
    # Spark seed matrix's positional row index over ORDER BY vec_id
    # LIMIT K (_ivf_centroids) — in BOTH branches: a `vec_id < K`
    # seed with vec_id-valued cells only coincides with the matrix's
    # row positions when ids are dense 0..K-1, and the engines must
    # agree on any id layout (ADVICE r12 review)
    train_pred = "" if train_mod is None else (
        f" WHERE vec_id % {train_mod} = 0"
    )
    seed = (
        f"{p}c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 "
        f"AS cell, c_emb FROM (SELECT vec_id, {sl} AS c_emb "
        f"FROM embeddings{train_pred} ORDER BY vec_id LIMIT {K}))"
    )
    parts = [seed]
    for i in range(iters + 1):
        # training iterations score the sample; the final pass (the
        # apply-model step) scores the whole corpus
        pred = train_pred if i < iters else ""
        parts.append(
            f"{p}s{i} AS (SELECT v.vec_id, c.cell, "
            f"{_sql_cos_n('v_emb', 'c_emb', subdim)} AS cs "
            f"FROM (SELECT vec_id, {sl} AS v_emb FROM embeddings{pred}) v "
            f"CROSS JOIN {p}c{i} c)"
        )
        parts.append(
            f"{p}a{i} AS (SELECT vec_id, cell FROM ("
            f"SELECT vec_id, cell, ROW_NUMBER() OVER ("
            f"PARTITION BY vec_id ORDER BY cs DESC, cell ASC) AS rn "
            f"FROM {p}s{i}) t WHERE rn = 1)"
        )
        if i == iters:
            break
        parts.append(
            f"{p}n{i} AS (SELECT a.cell, d.i AS di, "
            f"ROUND(AVG(e.embedding[{idx}]::DOUBLE), 6) AS val "
            f"FROM {p}a{i} a JOIN embeddings e ON e.vec_id = a.vec_id "
            f"CROSS JOIN {dims} d GROUP BY a.cell, d.i)"
        )
        parts.append(
            f"{p}c{i + 1} AS (SELECT p.cell, "
            f"list(COALESCE(n.val, p.c_emb[d.i]::DOUBLE) ORDER BY d.i) "
            f"AS c_emb FROM {p}c{i} p CROSS JOIN {dims} d "
            f"LEFT JOIN {p}n{i} n ON n.cell = p.cell AND n.di = d.i "
            f"GROUP BY p.cell)"
        )
    return ",\n        ".join(parts)


def _kmeans_ctes(
    K: int = KMEANS_CELLS,
    iters: int = KMEANS_ITERS,
    train_mod: int | None = KMEANS_TRAIN_MOD,
) -> str:
    # the COARSE trainer's chain — sampled by default since r13,
    # mirroring kmeans_centroids' default
    return "WITH " + _kmeans_cte_parts(K, iters, train_mod=train_mod)


def _kmeans_oracle(
    K: int = KMEANS_CELLS, iters: int = KMEANS_ITERS
) -> str:
    return (
        _kmeans_ctes(K, iters)
        + f"\n        SELECT vec_id, cell::INT AS cell FROM a{iters}"
    )


def _ann_ivf_trained_oracle(
    K: int = KMEANS_CELLS, iters: int = KMEANS_ITERS
) -> str:
    """Train (the kmeans CTE chain) + probe + search, one statement:
    probe cells are query 0's IVF_PROBE nearest FINAL centroids (ties
    toward the lower cell, matching the Spark driver's stable
    argsort), the scan is pruned to vectors assigned to probed cells,
    and the shared fold cosine ranks the survivors."""
    return f"""
        {_kmeans_ctes(K, iters)},
        probe AS (
            SELECT cell FROM s{iters} WHERE vec_id = 0
            ORDER BY cs DESC, cell ASC LIMIT {IVF_PROBE}
        )
        SELECT b.vec_id AS vec_id, a2.cell::INT AS cell,
               {_SQL_COS} AS cos_sim
        FROM (SELECT embedding AS a_emb FROM embeddings WHERE vec_id = 0) q,
             (SELECT vec_id, embedding AS b_emb FROM embeddings
              WHERE vec_id <> 0) b
        JOIN a{iters} a2 ON a2.vec_id = b.vec_id
        WHERE a2.cell IN (SELECT cell FROM probe)
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    """


# ------------------------------------------- product quantization
# Jégou, Douze & Schmid 2011 (public): compress each vector to M
# subspace code ids against per-subspace trained codebooks, and score
# queries with asymmetric distance computation (ADC) — the query stays
# raw, each candidate costs M table lookups instead of a dim-wide
# fold.  THE memory story for billion-vector ANN: the index is M
# small ints per vector + M×K×(dim/M) codebook floats, ~16 bytes/vec
# here vs 512 for raw float64 — the difference between "index fits on
# one executor" and "index does not fit in the cluster" at 10⁹ rows.
PQ_M = 4       # subspaces (dim 64 → 16 dims each)
PQ_K = 8       # codewords per subspace (3-bit codes at driver scale)
PQ_ITERS = 2   # Lloyd's per codebook — determinism over convergence
PQ_TOPK = 5
#: deterministic training-sample modulus (r12, VERDICT r11 item 5):
#: codebooks train on the ``vec_id % PQ_TRAIN_MOD == 0`` subset — a
#: K×iters quantizer needs a SAMPLE, not the corpus, and full-corpus
#: training costs M×(iters+1) corpus scans at 100 TB for no recall
#: gain.  Id-modulo rather than a hash because the oracle must
#: evaluate the identical predicate and DuckDB has no xxhash64; on a
#: corpus whose ids correlate with content, swap in a hash modulus on
#: BOTH sides.  The ENCODE pass still covers every vector.
PQ_TRAIN_MOD = 4


def pq_codebooks(
    emb: DataFrame, n_sub: int = PQ_M, k: int = PQ_K,
    iters: int = PQ_ITERS, train_mod: int | None = PQ_TRAIN_MOD,
) -> tuple[list, int]:
    """Train the M per-subspace codebooks: each is the SAME
    deterministic distributed Lloyd's loop as ``kmeans_centroids``
    (first-K-by-vec_id seed, cosine assignment with ties to the lower
    cell, 6dp-rounded means, persisted ``state:`` table per plan
    fingerprint) run over a SLICED view of the TRAINING SAMPLE
    (``vec_id % train_mod == 0``; ``train_mod=None`` trains on the
    full corpus) — one column-slice select per subspace, so PQ
    training reuses the already-oracle-proven trainer verbatim
    instead of a second implementation.  Returns (codebooks, subdim).

    The sampled trainer drops training-scan volume ~train_mod× (the
    sample frame's parquet scan reads every row group but each
    Lloyd's exchange and assignment kernel sees 1/train_mod of the
    rows); the sample predicate rides into the persisted-state key
    through the slice frame's plan fingerprint, so sampled and
    full-corpus trainings can never collide on one cached table.

    The books list is session-cached anchored on ``emb`` itself —
    the per-subspace slice frames are throwaway objects, so without
    this anchor an inputFiles-less corpus (createDataFrame) would
    re-run full Lloyd's on every call."""
    from .dedup_core import _session_cached

    _, dim = _knn_geometry(emb)
    if dim % n_sub != 0:
        raise ValueError(
            f"PQ needs dim divisible by n_sub: dim={dim}, n_sub={n_sub} "
            f"would silently drop the last {dim % n_sub} dimensions"
        )
    subdim = dim // n_sub
    train = (
        emb if train_mod is None
        else emb.filter(F.col("vec_id") % train_mod == 0)
    )

    def build():
        books = []
        for m in range(n_sub):
            sub = train.select(
                "vec_id",
                F.slice(
                    "embedding", m * subdim + 1, subdim
                ).alias("embedding"),
            )
            # train_mod=None: `sub` IS already the sampled training
            # set (filtered above) — the sampling decision stays here,
            # where PQ's own modulus owns it
            books.append(kmeans_centroids(sub, k, iters, train_mod=None))
        return books

    return (
        _session_cached(
            f"state:pq_books:{n_sub}x{k}x{iters}m{train_mod}", emb, build
        ),
        subdim,
    )


def _pq_codes_udf(books: list):
    """Arrow kernel: the full M-subspace encode in ONE map-only pass
    (an assignment per subspace then M-1 joins would shuffle the
    corpus M-1 times for no reason).  Emits array<int> of length M."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def codes(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        A = np.stack(embs.to_numpy()).astype(np.float64)
        cols = []
        lo = 0
        for C in books:
            subdim = C.shape[1]
            cols.append(_fold_assign(A[:, lo:lo + subdim], C))
            lo += subdim
        out = np.stack(cols, axis=1)
        return pd.Series([row.tolist() for row in out])

    return codes


def _model_digest(mats: list) -> str:
    """md5 of the model VALUES — state keys built from shapes alone
    would let two different trainings with matching geometry collide
    on one cached table (silently wrong codes for one of them)."""
    import hashlib

    h = hashlib.md5()
    for M in mats:
        h.update(np.ascontiguousarray(np.asarray(M, dtype=np.float64)).tobytes())
    return h.hexdigest()[:12]


def pq_codes_state(emb: DataFrame, books: list | None = None) -> DataFrame:
    """The compressed index as persisted STATE: (vec_id, codes) with
    ``codes`` an array of M small ints.  Built by ONE map-only Arrow
    pass over the corpus — the full scan PQ exists to make a
    once-per-corpus cost — then saved as a ``state:`` parquet table
    keyed on (plan fingerprint, input files), the same pattern as the
    band index and the KMeans centroids: every later query reads M
    ints per row and never touches the raw vectors.  A frame with no
    input files (createDataFrame) skips persistence and encodes
    inline."""
    if books is None:
        books, _ = pq_codebooks(emb)
    spark = emb.sparkSession

    def build_df():
        codes = _pq_codes_udf(books)
        return emb.select("vec_id", codes("embedding").alias("codes"))

    files = sorted(emb.inputFiles())
    if not files:
        return build_df()
    from .dedup_core import _state_table

    fp = _plan_shape_fingerprint(emb)
    table = _state_table(
        spark,
        f"pq_codes_{len(books)}x{books[0].shape[0]}",
        f"sh{fp}|bk{_model_digest(books)}|" + "|".join(files),
        build_df,
    )
    return spark.table(table)


def pq_encode(emb: DataFrame, books: list | None = None) -> DataFrame:
    """Driver surface for the compressed index: (vec_id, m, code) —
    a posexplode over the persisted flat code table (what a
    deployment holds between queries).  The IVF-PQ composition does
    NOT join this table — ``ivf_pq_state`` re-encodes in its own
    cell-partitioned build pass (one scan, no corpus-wide join)."""
    return pq_codes_state(emb, books).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )


def q_pq_encode(t: dict) -> DataFrame:
    return pq_encode(t["embeddings"])


def _pq_luts(books: list, q: "np.ndarray") -> list["np.ndarray"]:
    """The M ADC lookup tables: LUT[m][cell] = dot(q_m, codeword) —
    M×K scalars computed driver-side per query, dims folded
    left-to-right (oracle order)."""
    luts = []
    lo = 0
    for C in books:
        subdim = C.shape[1]
        qs = q[lo:lo + subdim]
        lut = np.zeros(C.shape[0])
        for d in range(subdim):
            lut = lut + qs[d] * C[:, d]
        luts.append(lut)
        lo += subdim
    return luts


def _adc_score_expr(books: list, q: "np.ndarray"):
    """The ONE spelling of the ADC score over a ``codes`` column: M
    ``element_at`` lookups into LUT array literals (1-based, hence
    the +1), accumulated in subspace order, rounded through
    ``F.round`` (HALF_UP, matching DuckDB's ROUND — numpy's
    round-half-to-even would diverge on exact .5 ties).  Shared by
    the flat and IVF-pruned search paths so the lookup/offset/
    rounding conventions cannot drift apart."""
    score = None
    for m, lut in enumerate(_pq_luts(books, q)):
        arr = F.array(*[F.lit(float(x)) for x in lut])
        term = F.element_at(arr, F.element_at("codes", m + 1) + F.lit(1))
        score = term if score is None else score + term
    return F.round(score, 6)


def ann_pq_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = PQ_TOPK,
    books: list | None = None,
) -> DataFrame:
    """Top-k by PQ-approximate inner product: dot(q, v) ≈
    Σ_m dot(q_m, codeword_m(v)) — candidates are scored from their
    PERSISTED codes alone: the query path is a scan of the code
    table plus the ``_adc_score_expr`` lookups, pure JVM expressions
    (no Python anywhere at query time), then TakeOrdered."""
    if books is None:
        books, _ = pq_codebooks(emb)
    q = np.asarray(
        emb.filter(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .collect()[0][0],
        dtype=np.float64,
    )
    return (
        pq_codes_state(emb, books)
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", _adc_score_expr(books, q).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def q_ann_pq(t: dict) -> DataFrame:
    return ann_pq_topk(t["embeddings"])


def ivf_pq_state(
    emb: DataFrame,
    books: list | None = None,
    coarse: "np.ndarray | None" = None,
) -> DataFrame:
    """The combined IVF-PQ index as persisted state: (vec_id, cell,
    codes) — the coarse Voronoi cell (Lloyd's-trained, the same
    matrix ``ann_ivf_trained`` probes) PLUS the M PQ codes, built in
    ONE map-only pass over the raw vectors and saved as a ``state:``
    table PARTITIONED BY cell.  This is the billion-vector layout:
    the probe's cell filter prunes at the storage layer (FileScan
    PartitionFilters — unprobed cells' files are never opened,
    plan-pinned), the codes price each surviving candidate at M
    lookups — raw vectors appear in neither step.

    Deliberately re-encodes rather than joining ``pq_codes_state``:
    the assignment pass must read the raw vectors anyway, so adding
    the encode to the SAME map pass is one scan with no shuffle,
    while reusing the flat code table would trade that for a
    corpus-wide join.  The two tables coexist only when both index
    layouts are actually served."""
    if books is None:
        books, _ = pq_codebooks(emb)
    if coarse is None:
        coarse = kmeans_centroids(emb)
    spark = emb.sparkSession

    def build_df():
        assign = _cell_assign_udf(coarse)
        codes = _pq_codes_udf(books)
        return emb.select(
            "vec_id",
            assign("embedding").alias("cell"),
            codes("embedding").alias("codes"),
        )

    files = sorted(emb.inputFiles())
    if not files:
        return build_df()
    from .dedup_core import _state_table

    fp = _plan_shape_fingerprint(emb)
    # partitioned BY CELL: the probe's `cell IN (...)` filter prunes
    # at the storage layer (FileScan PartitionFilters — unprobed
    # cells' files are never opened; plan-pinned).  Cell cardinality
    # is the coarse K — small by construction, so the layout stays
    # a handful of directories at any corpus size
    table = _state_table(
        spark,
        f"ivf_pq_{len(books)}x{books[0].shape[0]}x{coarse.shape[0]}",
        f"sh{fp}|bk{_model_digest(books)}|cc{_model_digest([coarse])}|"
        + "|".join(files),
        build_df,
        partition_by=["cell"],
    )
    return spark.table(table)


def ann_ivf_pq_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = PQ_TOPK,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """IVF-PQ search — the production composition for 10⁹+ vectors:
    the query's ``n_probe`` nearest trained coarse cells prune the
    index scan to n_probe/n_cells of the corpus, then ONLY the
    surviving candidates are ADC-scored from their codes (M
    ``element_at`` lookups each, JVM-side).  Per-query work =
    (pruned scan) × (M lookups); raw vectors are read exactly once —
    at index build time."""
    books, _ = pq_codebooks(emb)
    coarse = kmeans_centroids(emb)
    q = np.asarray(
        emb.filter(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .collect()[0][0],
        dtype=np.float64,
    )
    probe = _probe_cells(q, coarse, n_probe)
    return (
        ivf_pq_state(emb, books, coarse)
        .filter(F.col("vec_id") != query_vec_id)
        .filter(F.col("cell").isin(probe))
        .select(
            "vec_id", "cell", _adc_score_expr(books, q).alias("adc_score")
        )
        .orderBy(F.col("adc_score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def q_ann_ivf_pq(t: dict) -> DataFrame:
    return ann_ivf_pq_topk(t["embeddings"])


def ann_ivf_pq_rerank_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = PQ_TOPK,
    r: int | None = None,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """The COMPLETE billion-vector retrieval stack in one operator
    (r12): coarse probe prunes the scan to n_probe/n_cells of the
    index at the STORAGE layer (cell-partitioned state table), ADC
    shortlists the top ``r`` survivors from their codes alone (M
    JVM-side lookups each), and only those ``r`` raw vectors are
    re-scored with the exact fold cosine — Jégou 2011's
    IVFADC + re-ranking composition.  Per-query cost: pruned code
    scan × M lookups + r raw-vector folds; raw vectors are read in
    bulk exactly once, at index build.

    Recall is monotonically ≥ the un-reranked ``ann_ivf_pq`` row at
    the same k (any exact-top-k vector that reaches the shortlist
    survives the re-rank — same argument as ``ann_pq_rerank``,
    pinned); with n_probe = n_cells and r ≥ corpus the result equals
    brute force bit-for-bit (tested)."""
    if r is None:
        r = PQ_RERANK  # module global, defined below — resolved at call time
    cand = ann_ivf_pq_topk(emb, query_vec_id, r, n_probe).select("vec_id")
    return _exact_rerank(emb, cand, query_vec_id, k)


def q_ann_ivf_pq_rerank(t: dict) -> DataFrame:
    return ann_ivf_pq_rerank_topk(t["embeddings"])


PQ_RERANK = 20  # exact re-rank depth (candidates per query)


def ann_pq_rerank_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = PQ_TOPK,
    r: int = PQ_RERANK,
    books: list | None = None,
) -> DataFrame:
    """The production two-stage retrieval: PQ-ADC shortlists the top
    ``r`` candidates from codes alone, then ONLY those ``r`` raw
    vectors are re-scored with the exact fold cosine and the top-k is
    taken — recall recovers toward exact while the full-corpus pass
    still touches M ints per row.  Any exact-global-top-k vector that
    reaches the shortlist always survives the re-rank, so recall is
    monotonically ≥ the pure-ADC row at the same k (pinned).

    Scale: the shortlist is r rows (broadcast), the re-score is a
    broadcast semi-join + map-only fold over r vectors — per-query
    cost independent of corpus size beyond the code scan."""
    cand = ann_pq_topk(emb, query_vec_id, r, books=books).select("vec_id")
    return _exact_rerank(emb, cand, query_vec_id, k)


def _exact_rerank(
    emb: DataFrame, cand: DataFrame, query_vec_id: int, k: int
) -> DataFrame:
    """The ONE spelling of the exact re-rank stage: broadcast the
    shortlist's vec_ids, semi-join the raw vectors, score with the
    shared fold cosine, TakeOrdered k.  Shared by the flat-ADC and
    IVF-PQ two-stage paths so the scoring/tie conventions cannot
    drift apart."""
    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .withColumn("nrm", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                _dots(F.col("q_emb"), F.col("embedding"))
                / F.col("q_nrm")
                / F.col("nrm")
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def q_ann_pq_rerank(t: dict) -> DataFrame:
    return ann_pq_rerank_topk(t["embeddings"])


def knn_recall_pq(
    emb: DataFrame, query_vec_id: int = 0, k: int = PQ_TOPK
) -> DataFrame:
    """Recall@k of the PQ-ADC ranking AND its exact-rerank upgrade
    against the exact brute-force top-k, side by side — the honest
    price tag of the ~32× compression and the measured payback of the
    re-rank stage, in one hash-checked metric row (the
    ``knn_recall_ivf_probe`` pattern)."""
    books, _ = pq_codebooks(emb)  # once, shared by both legs
    exact = ann_brute_topk(emb, query_vec_id, k).select("vec_id")
    adc_hits = (
        ann_pq_topk(emb, query_vec_id, k, books=books)
        .select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits_adc"))
    )
    rr_hits = (
        ann_pq_rerank_topk(emb, query_vec_id, k, books=books)
        .select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits_rerank"))
    )
    return adc_hits.crossJoin(rr_hits).select(
        F.lit(k).alias("k"),
        "n_hits_adc",
        F.round(F.col("n_hits_adc").cast("double") / k, 6).alias(
            "recall_adc"
        ),
        "n_hits_rerank",
        F.round(F.col("n_hits_rerank").cast("double") / k, 6).alias(
            "recall_rerank"
        ),
    )


def q_knn_recall_pq(t: dict) -> DataFrame:
    return knn_recall_pq(t["embeddings"])


def q_ann_brute(t: dict) -> DataFrame:
    return ann_brute_topk(t["embeddings"], query_vec_id=0, k=10)


def q_ann_lsh(t: dict) -> DataFrame:
    return ann_lsh_topk(t["embeddings"], query_vec_id=0, k=5)


def q_ann_ivf(t: dict) -> DataFrame:
    return ann_ivf_topk(t["embeddings"], query_vec_id=0, k=5)


def q_ann_multiprobe(t: dict) -> DataFrame:
    return ann_lsh_multiprobe_topk(t["embeddings"], query_vec_id=0, k=5)


NEARDUP_T = 0.40

#: per-task pairwise tile edge: memory inside the applyInPandas UDF is
#: bounded by PAIR_CHUNK² doubles (~128 MB at 4096) no matter how big
#: a bucket gets — a hot bucket becomes more tiles, not a bigger matrix
PAIR_CHUNK = 4096

_EMPTY_PAIRS = {
    "vec_a": pd.Series(dtype="int64"),
    "vec_b": pd.Series(dtype="int64"),
    "cos_sim": pd.Series(dtype="float64"),
}


def _bucket_pairs_fn(threshold: float, chunk: int):
    """Within-bucket pairwise cosine, tiled.  Each (row-tile, col-tile)
    block accumulates dot products dimension-by-dimension left-to-right
    — bit-identical to the untiled matrix and to the DuckDB
    list_reduce fold, so tiling changes memory, never results."""

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(_EMPTY_PAIRS)
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        dim = A.shape[1]
        nrm2 = np.zeros(n)
        for d in range(dim):  # left-to-right fold, same as the oracle
            col = A[:, d]
            nrm2 = nrm2 + col * col
        nrm = np.sqrt(nrm2)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            for lo2 in range(lo, n, chunk):
                hi2 = min(lo2 + chunk, n)
                dot = np.zeros((hi - lo, hi2 - lo2))
                for d in range(dim):
                    dot = dot + np.outer(A[lo:hi, d], A[lo2:hi2, d])
                cos = dot / nrm[lo:hi, None] / nrm[lo2:hi2][None, :]
                rr, cc = np.nonzero(cos >= threshold)
                upper = (lo2 + cc) > (lo + rr)  # sorted ids ⇒ vec_a < vec_b
                rr, cc = rr[upper], cc[upper]
                out_a.append(ids[lo + rr])
                out_b.append(ids[lo2 + cc])
                out_c.append(cos[rr, cc])
        if not out_a:
            return pd.DataFrame(_EMPTY_PAIRS)
        return pd.DataFrame(
            {"vec_a": np.concatenate(out_a), "vec_b": np.concatenate(out_b),
             "cos_sim": np.concatenate(out_c)}
        )

    return bucket_pairs


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_T,
    planes: int = LSH_PLANES,
    bands: int = 1,
    chunk: int = PAIR_CHUNK,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= ``threshold``), LSH-bucket
    blocked, with the three scale dials explicit:

    * ``planes`` — blocking granularity: 2^planes buckets.  At 10^9
      vectors use 16-24 so the expected bucket (n / 2^planes) fits one
      task's tile loop; 4 suffices for the bench corpus.
    * ``bands`` — OR-of-ANDs recall: band b blocks on an independent
      hyperplane family (``plane_offset = b*planes``); a pair is a
      candidate when it collides in ANY band — the same construction
      as minhash_lsh_pairs, recovering pairs a single fine-grained
      bucketing splits.  Results from all bands are unioned and
      deduplicated (identical fold arithmetic per band ⇒ bitwise-equal
      cos_sim ⇒ exact distinct).
    * ``chunk`` — per-task memory bound: the within-bucket matrix is
      computed in chunk×chunk tiles, so a hot bucket costs more tiles,
      never an O(bucket²) allocation.

    Plan: ONE Arrow UDF pass computes every band's bucket
    (``lsh_bucket_udf`` — the interpreted expression form measured
    ~3 s warm for the same work), a posexplode emits one (band,
    bucket) row per vector per band, and a single
    groupBy(band, bucket).applyInPandas shuffle covers all bands —
    each vector crosses the exchange ``bands`` times total (a
    bucket-join would push every candidate pair × two 64-float
    vectors through it).  Bit-parity with the DuckDB oracle:
    dimension loops left-to-right like list_reduce, float32→float64
    products exact, division order dot/|a|/|b|."""
    fn = _bucket_pairs_fn(threshold, chunk)
    schema = "vec_a long, vec_b long, cos_sim double"
    b_udf = lsh_bucket_udf(planes=planes, bands=bands)
    bucketed = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(b_udf(F.col("embedding"))).alias("band", "bucket"),
    )
    out = bucketed.groupBy("band", "bucket").applyInPandas(fn, schema)
    return out.distinct() if bands > 1 else out


#: SemDeDup within-cluster cosine threshold — calibrated so the
#: driver corpus splits meaningfully (within-label max cosine ≈ 0.47;
#: 0.30 drops ~1/5 of vectors at sf0.01)
SEMDEDUP_T = 0.30


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_T,
    chunk: int = PAIR_CHUNK,
    label_col: str = "label",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    within-cluster pairwise cosine — keep one representative of every
    group of semantically-near-identical documents.  Unlike
    ``embedding_neardup_pairs`` (LSH-blocked, recall-bounded), the
    cluster-scoped search is exhaustive *within* each cluster: the
    published recipe sizes k ∝ N so a cluster stays ~10⁴-10⁵ vectors
    and the O(cluster²) pair scan is tractable per task.

    Here ``label`` stands in for the k-means cell assignment (the
    production path derives cells from ``ann_ivf_kmeans_topk``'s
    trained centroids — same downstream).  Survivor rule mirrors
    ``dedup_survivors``: drop a vector iff some above-threshold
    neighbour with a smaller vec_id shares its cluster.

    Scale shape: ONE shuffle (groupBy on the cluster key →
    applyInPandas), pair scan tiled at ``chunk``² doubles so a hot
    cluster costs more tiles, never a bigger matrix; the drop-set
    anti-join is a broadcast at any realistic dedup rate.  Fold
    arithmetic is dimension-ordered exactly like the DuckDB oracle
    (see ``_bucket_pairs_fn``), so the threshold boundary is
    bitwise-identical across engines.
    """
    fn = _bucket_pairs_fn(threshold, chunk)
    pairs = (
        emb.select(label_col, "vec_id", "embedding")
        .groupBy(label_col)
        .applyInPandas(fn, "vec_a long, vec_b long, cos_sim double")
    )
    dropped = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    # explicit hint: the drop set comes out of applyInPandas, whose
    # size Spark cannot estimate — without it the anti-join can plan
    # as SMJ and shuffle the whole embeddings table
    return emb.join(F.broadcast(dropped), "vec_id", "left_anti").select(
        "vec_id", label_col
    )


def q_semantic_dedup(t: dict) -> DataFrame:
    return semantic_dedup(t["embeddings"])


def emb_centroid(emb: DataFrame, label_col: str = "label") -> DataFrame:
    """Per-label embedding centroid in long format: (label, dim,
    centroid) — the class-mean step behind IVF training, label-cluster
    diagnostics, and embedding-drift monitors.

    posexplode turns each 64-float vector into 64 (dim, value) rows;
    the groupBy on (label, dim) then partial-aggregates map-side, so
    every partition emits at most n_labels × 64 partial sums no matter
    how many vectors it held — at 100 TB the merge shuffle moves a few
    hundred rows per partition, not the corpus.  A collect_list-based
    elementwise mean would instead move every vector to its group.
    Rounded to 6 decimals: summation order across partitions is
    nondeterministic and double-precision means differ in the last
    bits across engines.
    """
    return (
        emb.select(
            label_col, F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy(label_col, "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
        .select(label_col, F.col("dim").cast("long").alias("dim"), "centroid")
    )


def q_emb_centroid(t: dict) -> DataFrame:
    return emb_centroid(t["embeddings"])


def semantic_search(
    emb: DataFrame, docs: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """End-to-end retrieval: cosine top-k over the embedding corpus,
    hydrated with document metadata (``embeddings.vec_id`` is the
    ``documents.doc_id`` keyspace) — the RAG-style lookup a corpus
    engine exists to serve, as ONE declarative plan.

    Scale shape: the scoring pass is ``ann_brute_topk`` (broadcast
    query, map-only score, TakeOrdered — swap in the LSH/IVF variant
    for 10⁹+ corpora, same downstream), and the k-row hit list then
    BROADCASTS into the documents join — the document table is never
    shuffled, so hydration costs one scan regardless of corpus size.
    """
    hits = ann_brute_topk(emb, query_vec_id=query_vec_id, k=k)
    return (
        docs.join(F.broadcast(hits), docs.doc_id == hits.vec_id)
        .select("doc_id", "cos_sim", "lang", "source", "n_chars")
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    )


def q_semantic_search(t: dict) -> DataFrame:
    return semantic_search(t["embeddings"], t["documents"])


#: neighbors returned per vector by the k-NN self-join
KNN_K = 5


#: executor-memory budget for ONE k-NN index broadcast (bytes) — the
#: auto dial's threshold.  512 MiB is conservative against multi-GiB
#: executors (the index is pinned for the query's lifetime and shares
#: the executor with shuffle/UDF memory); on a cluster size it to a
#: fraction of spark.executor.memory.
KNN_INDEX_BUDGET_BYTES = 512 * 1024 * 1024


def _knn_geometry(emb: DataFrame) -> tuple[int, int]:
    """(row count, embedding dim) — ONE cheap aggregate, cached per
    (session, corpus) like the tile-size precheck, so the auto dial
    never pays a second scan."""
    from .dedup_core import _session_cached

    def build():
        row = emb.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size("embedding")).alias("dim"),
        ).collect()[0]
        return int(row.n), int(row.dim or 0)

    return _session_cached("state:knn_geometry", emb, build)


def knn_index_bytes(n: int, dim: int) -> int:
    """Estimated bytes of the broadcast (ids, float64 matrix, norms)
    index: n·dim·8 for the matrix + 16n for ids and norms.

    This counts the DESERIALIZED numpy payload only.  While a task
    first unpickles the broadcast, the executor transiently holds the
    serialized copy alongside the live arrays — peak footprint can
    reach ~2× this estimate.  The budget the auto dial compares
    against (``KNN_INDEX_BUDGET_BYTES``, 512 MiB against multi-GiB
    executors) deliberately leaves that headroom; when sizing a
    custom budget, keep it ≤ half of what the executor can actually
    spare for the index."""
    return n * (dim * 8 + 16)


def knn_join(
    emb: DataFrame,
    k: int = KNN_K,
    chunk: int = 512,
    mode: str = "auto",
    index_budget_bytes: int = KNN_INDEX_BUDGET_BYTES,
) -> DataFrame:
    """EXACT k-nearest-neighbor self-join: for every vector, its ``k``
    most-cosine-similar neighbors with a dense rank — the
    retrieval-augmentation / semantic-clustering primitive
    (``ann_brute`` answers one query; ``embedding_neardup`` emits
    thresholded pairs; this ranks neighbors for EVERY row).

    Plan: MAP-ONLY.  The (vec_id, embedding, norm) index — sorted by
    vec_id so candidate order is engine-identical — ships as one task
    broadcast, and each partition's rows compute their exact top-k
    against it in a single Arrow/numpy pass: dot products accumulate
    DIMENSION-BY-DIMENSION left-to-right (bit-identical to the DuckDB
    ``list_reduce`` fold and to ``F.aggregate`` — numpy's pairwise-sum
    ``A @ B`` is NOT), division order dot/|a|/|b| mirrors the oracle,
    self is masked, and ties break toward the lower neighbor id
    (``np.lexsort`` — secondary key vec_id ascending).  Only n·k rows
    leave the UDF; no key shuffle (pinned in
    ``tests/test_plans.py::test_knn_join_plan_is_map_only``).

    Scale: the broadcast side must fit executor memory — and since
    r10 the choice is a DIAL, not a docstring.  ``mode="auto"`` (the
    default) estimates the index size from one cached (count, dim)
    aggregate: within ``index_budget_bytes`` it broadcasts (one
    index, no key shuffle — the sf corpora land here); past the
    budget it delegates to ``knn_join_twophase`` with tiles =
    ⌈est / budget⌉, so each per-tile broadcast fits the budget by
    construction.  Both paths
    share one oracle — the output is identical either way
    (property-tested), only the plan changes.  ``mode="broadcast"`` /
    ``mode="twophase"`` force a path.  Row-side memory is bounded by
    ``chunk`` (the scoring tile is chunk × index, accumulated per
    dimension).  At 10⁹+ vectors prefer the PRUNED candidate sets
    (IVF cell / LSH bucket union, see ``ann_ivf``/``ann_lsh``) when
    approximate recall suffices.

    The kernel is compute-bound (n·dim FLOPs per probe row), so its
    parallelism is the probe side's partition count: a corpus
    arriving as a handful of parquet splits strands the cluster
    (measured, sf1 soak: 20k vectors in one file ⇒ 2 tasks on 32
    cores, 106–119 s; widened to 32 tasks, 9.4–11.5 s — identical
    output; the r11 sf1 soak A/B under docs/).  The probe side is
    therefore sized by ``session.size_to_input`` on vec_id, shared by
    both paths: one hash exchange when the scan is narrower than its
    input bytes warrant, none once input splits outnumber that width
    (the at-scale plan stays map-only)."""
    if mode not in ("auto", "broadcast", "twophase"):
        raise ValueError(f"unknown knn_join mode {mode!r}")
    if mode == "twophase":
        return knn_join_twophase(
            emb,
            k,
            chunk=chunk,
            index_budget_bytes=index_budget_bytes,
        )
    if mode == "auto":
        n, dim = _knn_geometry(emb)
        est = knn_index_bytes(n, dim)
        if est > index_budget_bytes:
            tiles = -(-est // index_budget_bytes)  # ceil
            return knn_join_twophase(
                emb,
                k,
                tiles=tiles,
                chunk=chunk,
                index_budget_bytes=index_budget_bytes,
            )
    bc = knn_index(emb)
    probe = size_to_input(emb.select("vec_id", "embedding"), "vec_id")
    return probe.mapInPandas(knn_score_fn(bc, k, chunk), KNN_SCHEMA)


KNN_SCHEMA = "vec_id long, nbr_id long, cos_sim double, rank long"


def _bc_unpersist(bc) -> None:
    """Eviction hook for cached index broadcasts: free executor memory
    deterministically when the cache entry dies instead of waiting for
    the anchor's GC + Spark's best-effort ContextCleaner (a long-lived
    session touching many corpora would otherwise pin multiple
    full-corpus indexes).  Best-effort by contract — the owning
    context may already be stopped when the weakref callback fires."""
    bc.unpersist()


def knn_index(
    emb: DataFrame, cache_key: str | None = None, tile: tuple | None = None
):
    """Collect + task-broadcast the (ids, matrix, norms) index, sorted
    by vec_id so candidate order is engine-identical.  Broadcast model
    state (like the IVF centroids), not a data path; the streaming
    scorer builds it from a BATCH read of the held index table.

    Built ONCE per (session, corpus) and cached under a ``state:``
    tag (same lifecycle as the BPE merge list — broadcast variables
    are not checkpoint blocks, so ``release_barriers`` rightly keeps
    the entry): a bench/driver session invoking knn_join,
    knn_label_spread and the streaming scorer would otherwise pay a
    full-corpus collect + broadcast PER CALL.  Eviction (anchor death
    or identity-check failure) unpersists the broadcast explicitly —
    see ``_bc_unpersist``.  Anchored on the frame object by default
    (the driver's table dict reuses frames); pass ``cache_key`` (e.g.
    the corpus path) to anchor on the session when each call
    constructs a fresh read of the same files.  Both anchors assume
    immutable input files within a session — the standing parquet
    contract every ``state:`` table in this repo shares (see
    ``dedup_core._state_table`` / ``_same_corpus``); an in-session
    rewrite of the corpus requires a new session or key.

    ``tile=(t, n_tiles)`` builds the index over the ``vec_id % n_tiles
    == t`` slice only — the two-phase exact k-NN's per-tile index,
    each 1/n_tiles of the corpus so NO single broadcast ever holds the
    full index.  Cached per (anchor, tile) under its own tag."""
    from .dedup_core import _session_cached

    src = emb
    if tile is not None:
        t, n_tiles = tile
        # pmod, not %: a signed remainder would assign negative
        # vec_ids to NO tile (0..n_tiles-1), silently dropping them
        # from every index
        src = emb.filter(F.pmod(F.col("vec_id"), F.lit(n_tiles)) == t)

    def build():
        rows = src.select("vec_id", "embedding").orderBy("vec_id").collect()
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        if not rows:  # an empty tile scores nothing (kernel kk <= 0)
            return emb.sparkSession.sparkContext.broadcast(
                (ids, np.zeros((0, 1)), np.zeros(0))
            )
        B = np.stack(
            [np.asarray(r.embedding, dtype=np.float64) for r in rows]
        )
        nrm2 = np.zeros(len(ids))
        for d in range(B.shape[1]):  # left-to-right fold, like the oracle
            nrm2 = nrm2 + B[:, d] * B[:, d]
        return emb.sparkSession.sparkContext.broadcast(
            (ids, B, np.sqrt(nrm2))
        )

    suffix = "" if tile is None else f":tile{tile[0]}of{tile[1]}"
    if cache_key is not None:
        return _session_cached(
            f"state:knn_index:{cache_key}{suffix}",
            emb.sparkSession,
            build,
            on_evict=_bc_unpersist,
        )
    return _session_cached(
        f"state:knn_index{suffix}", emb, build, on_evict=_bc_unpersist
    )


def _topk_frames(ids_b, Bm, nb, Q, qids, kk: int, chunk: int) -> list:
    """ONE definition of the exact top-k fold arithmetic, shared by
    the broadcast-index kernel (``knn_score_fn``), the two-phase tile
    scorer, and the per-cell IVF self-join kernel: dot products
    accumulate dimension-by-dimension left-to-right (bit-identical to
    the DuckDB ``list_reduce`` fold), division order dot/|q|/|b|
    mirrors the oracle, self is masked, ties break toward the lower
    neighbor id.  Returns a list of per-chunk DataFrames."""
    n = len(ids_b)
    dim = Bm.shape[1]
    out = []
    for lo in range(0, len(qids), chunk):
        hi = min(lo + chunk, len(qids))
        Qc, qid = Q[lo:hi], qids[lo:hi]
        m = hi - lo
        qn2 = np.zeros(m)
        dot = np.zeros((m, n))
        for d in range(dim):
            # in-place adds keep the left-to-right fold order
            # (bit-identical) without a tile-sized temporary
            # per dimension
            qn2 += Qc[:, d] * Qc[:, d]
            dot += np.outer(Qc[:, d], Bm[:, d])
        cos = dot / np.sqrt(qn2)[:, None] / nb[None, :]
        cos[qid[:, None] == ids_b[None, :]] = -np.inf  # mask self
        # per-row (-cos, nbr_id) order; the masked self sorts
        # LAST (-(-inf) = +inf), so top-kk never includes it.
        # One vectorized emit per tile — a per-row DataFrame
        # was the kernel's dominant cost (measured 3x).
        top = np.stack(
            [np.lexsort((ids_b, -cos[r]))[:kk] for r in range(m)]
        )
        out.append(
            pd.DataFrame(
                {
                    "vec_id": np.repeat(qid, kk),
                    "nbr_id": ids_b[top].ravel(),
                    "cos_sim": np.take_along_axis(cos, top, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, kk + 1), m),
                }
            )
        )
    return out


def knn_score_fn(bc, k: int = KNN_K, chunk: int = 512):
    """mapInPandas kernel scoring each arriving row's exact top-k
    against the broadcast index (shared by the batch self-join and the
    streaming scorer — one definition of the fold arithmetic)."""

    def score(batches):
        ids_b, Bm, nb = bc.value
        kk = min(k, len(ids_b) - 1)
        for pdf in batches:
            if pdf.empty or kk <= 0:
                continue
            Q = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            qids = pdf["vec_id"].to_numpy().astype(np.int64)
            out = _topk_frames(ids_b, Bm, nb, Q, qids, kk, chunk)
            if out:
                yield pd.concat(out, ignore_index=True)

    return score


def q_knn_join(t: dict) -> DataFrame:
    return knn_join(t["embeddings"])


#: corpus tiles for the two-phase exact k-NN (sized so ONE tile's
#: (ids, matrix, norms) fits executor memory; the full index never
#: broadcasts)
KNN_TILES = 4


def knn_join_twophase(
    emb: DataFrame,
    k: int = KNN_K,
    tiles: int = KNN_TILES,
    chunk: int = 512,
    index_budget_bytes: int | None = None,
) -> DataFrame:
    """EXACT k-NN self-join WITHOUT a full-corpus broadcast — the
    scale fallback ``knn_join``'s docstring names for when the index
    exceeds executor memory (reference has no k-NN at all; beyond
    parity).  Same oracle as ``knn_join``: the output is identical.

    Phase 1 (map-only): the corpus splits into ``tiles`` disjoint
    id-hash slices; each slice's (ids, matrix, norms) index — 1/tiles
    of the corpus, the piece that must fit an executor — broadcasts
    independently, and every row computes its exact top-k against
    each tile through the SAME fold kernel as ``knn_join``
    (bit-identical cosine per pair regardless of tiling).  Correct
    because a global top-k neighbor is, within its own tile, beaten
    by at most k-1 rows — so it always survives that tile's local
    top-k.  (Requires each tile to hold > k vectors — guaranteed at
    any scale where this path is the right one, and enforced below
    with a ``knn_join`` fallback for degenerate corpora.)

    Phase 2 (one exchange): the n·k·tiles candidate rows — k rows per
    vector per tile, NOT the corpus — hash-shuffle ONCE on vec_id and
    a per-key rank keeps the global top-k.  Plan pinned:
    ``tiles`` MapInPandas nodes, zero BroadcastExchange (the per-tile
    indexes are task broadcasts, never plan-side joins) and one
    vec_id hash exchange for the merge, plus ``knn_join``'s sizing
    exchange on the shared probe side every tile pass maps over when
    the scan is narrower than its input bytes warrant.

    The precondition is ENFORCED, not just documented: every tile
    must be empty (harmless — it contributes no candidates) or hold
    > k vectors; a corpus producing a 1..k-sized tile falls back to
    ``knn_join`` (same contract, same oracle) instead of silently
    under-emitting candidates.  The check is one cached grouped count
    — no index matrices are built until the two-phase path is known
    to apply.

    At 10⁹ vectors: tiles = ceil(index_bytes / executor_budget); each
    pass re-scans the query side, so total work is tiles× the scan +
    the same n·tiles score volume a replicated-query block join would
    shuffle — but here the corpus-side vectors move ZERO times (each
    tile index ships once per executor as a broadcast) and the only
    exchange carries k·tiles candidate rows per vector."""
    from .dedup_core import _session_cached

    # exactness requires every tile to be EMPTY or hold > k vectors
    # (an empty tile contributes nothing — the kernel's kk <= 0 skips
    # it — but a 1..k-sized one silently under-emits: the kernel caps
    # at tile_size - 1 to cover self-masking).  Sizes come from ONE
    # cheap grouped count, cached per (corpus, tiles) — deciding the
    # fallback must not first build the per-tile index matrices it
    # would then throw away
    sizes = _session_cached(
        f"state:knn_tile_sizes:{tiles}",
        emb,
        lambda: [
            r["count"]
            for r in emb.groupBy(
                F.pmod(F.col("vec_id"), F.lit(tiles)).alias("t")
            )
            .count()
            .collect()
        ],
    )
    if any(0 < n <= k for n in sizes):
        # a corpus producing a degenerate 1..k tile is small enough
        # (or id-degenerate enough) to broadcast whole.  Forced to
        # mode="broadcast": the auto dial delegates HERE when the
        # estimate exceeds the budget, so falling back through auto
        # again would recurse.  If the index the dial rejected STILL
        # exceeds the budget (few rows × huge dim), no valid tiling
        # exists for this scheme — say so instead of silently
        # shipping an over-budget broadcast.  The budget checked is
        # the CALLER's (the auto dial threads its index_budget_bytes
        # down), falling back to the module default for direct calls
        budget = (
            KNN_INDEX_BUDGET_BYTES
            if index_budget_bytes is None
            else index_budget_bytes
        )
        n_all, dim = _knn_geometry(emb)
        est = knn_index_bytes(n_all, dim)
        if est > budget:
            import warnings

            warnings.warn(
                f"knn_join_twophase: a tile holds <= k={k} vectors, so "
                f"the corpus cannot be tiled and the full ~{est}-byte "
                f"index broadcasts despite exceeding the "
                f"{budget}-byte index budget — reduce dim, raise the "
                "budget, or use the approximate cell join "
                "(ann_ivf_knn_join)",
                stacklevel=2,
            )
        return knn_join(emb, k, chunk, mode="broadcast")
    probe = size_to_input(emb.select("vec_id", "embedding"), "vec_id")
    cand = None
    for t in range(tiles):
        bc = knn_index(emb, tile=(t, tiles))
        part = probe.mapInPandas(
            knn_score_fn(bc, k, chunk), KNN_SCHEMA
        )
        # the per-tile rank is meaningless globally — drop it
        part = part.select("vec_id", "nbr_id", "cos_sim")
        cand = part if cand is None else cand.unionByName(part)
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "nbr_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_knn_join_twophase(t: dict) -> DataFrame:
    return knn_join_twophase(t["embeddings"])


#: cells each vector is co-assigned to on the multi-probe cell-join
#: path — 2 recovers most near-boundary losses at ~2× candidate cost
KNN_PROBE_CELLS = 2


def _cell_assign_topp_udf(C: "np.ndarray", p: int):
    """Top-``p`` nearest cells per vector (cos desc, ties toward the
    lower cell — a stable argsort on the negated scores, matching the
    oracle's ROW_NUMBER tie rule).  Same sequential-fold arithmetic
    as ``_cell_assign_udf``; p=1 reduces to its argmax."""
    from pyspark.sql.functions import pandas_udf

    n_cells, dim = C.shape
    p_eff = min(p, n_cells)
    c_nrm = np.zeros(n_cells)
    for d in range(dim):
        c_nrm = c_nrm + C[:, d] * C[:, d]
    c_nrm = np.sqrt(c_nrm)

    @pandas_udf("array<int>")
    def assign_p(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        A = np.stack(embs.to_numpy()).astype(np.float64)
        v_nrm = np.zeros(len(A))
        dot = np.zeros((len(A), n_cells))
        for d in range(A.shape[1]):
            v_nrm = v_nrm + A[:, d] * A[:, d]
            dot = dot + np.outer(A[:, d], C[:, d])
        cos = dot / np.sqrt(v_nrm)[:, None] / c_nrm[None, :]
        # stable argsort on -cos: equal scores keep index (= cell asc)
        top = np.argsort(-cos, axis=1, kind="stable")[:, :p_eff]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return assign_p


def ann_ivf_knn_join(
    emb: DataFrame,
    k: int = KNN_K,
    n_cells: int = KMEANS_CELLS,
    n_iters: int = KMEANS_ITERS,
    chunk: int = 512,
    probe_cells: int = 1,
) -> DataFrame:
    """APPROXIMATE k-NN SELF-join over trained IVF cells — the scale
    path ``knn_join``'s exact kernels cannot take at 10⁹ vectors:
    vectors co-assigned to the same Lloyd's-trained coarse cell are
    joined WITHIN the cell only (banded, like LSH — never all-pairs),
    and each vector keeps its exact top-k among its cell-mates.
    Recall against the exact join is itself an oracle-checked row
    (``knn_recall_ivf``).

    Plan: assignment is map-only (broadcast trained matrix — reloaded
    from the persisted ``state:`` table, never retrained); ONE
    exchange hash-partitions on cell; each cell group scores itself
    through the SAME fold arithmetic as ``knn_join``
    (``_topk_frames`` — bit-identical cosine per pair, ties toward
    the lower neighbor id), so the DuckDB twin reuses the kmeans
    assignment CTEs plus a cell-equijoined pair rank.  Memory per
    task is one cell's matrix — n_cells scales with the corpus so a
    cell stays executor-sized (the IVF contract; SemDeDup's
    cluster-scoped pruning relies on the same bound).

    ``probe_cells`` > 1 lifts the single-cell recall ceiling
    (VERDICT r10 item 2): each vector is co-assigned to its ``p``
    nearest trained cells (deterministic ties — the same multi-probe
    recall upgrade ``ann_lsh_multiprobe_topk`` applies to LSH
    buckets), candidates come from EVERY shared cell, and the exact
    per-vector top-k is taken over the deduplicated union.  Near-
    boundary vectors — whose true neighbors sit just across the
    Voronoi face, the single-cell path's structural loss — now meet
    them in a shared second cell.  Still banded (candidate work grows
    by a factor ~p² of cell co-residency, never all-pairs) and still
    exactly TWO hash exchanges: the cell exchange, then one on vec_id
    where pure JVM array expressions dedup pairs seen in multiple
    shared cells (bit-identical cos_sim — the fold is per-pair, so
    ``array_distinct`` on (cos_sim, nbr_id) structs keeps exactly one
    copy) and take the global exact top-k via one ``array_sort`` over
    the ≤ p·k collected candidates per query (r13 optimization: the
    previous per-``vec_id`` Arrow kernel paid the pandas group
    dispatch once per QUERY — n tiny groups — and measured 10.5 s
    steady at sf0.1 vs 0.5 s for the single-cell variant; the
    collect_list/array_sort form is result-identical and removes the
    second Python stage from the plan).  The per-cell top-k cut
    before that global rank is lossless: a global-top-k candidate
    ranks ≤ k inside every cell it shares with the query, because
    its cell-local competitor set is a subset of the global union."""
    C = kmeans_centroids(emb, n_cells, n_iters)

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_raw = pdf["vec_id"].to_numpy().astype(np.int64)
        kk = min(k, len(ids_raw) - 1)
        if kk <= 0:  # singleton cell: no neighbors to emit
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "nbr_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                    "rank": pd.Series(dtype="int64"),
                }
            )
        order = np.argsort(ids_raw)  # candidate order engine-identical
        ids_b = ids_raw[order]
        Bm = np.stack(
            [
                np.asarray(e, dtype=np.float64)
                for e in pdf["embedding"].to_numpy()[order]
            ]
        )
        nrm2 = np.zeros(len(ids_b))
        for d in range(Bm.shape[1]):  # left-to-right fold, like the oracle
            nrm2 = nrm2 + Bm[:, d] * Bm[:, d]
        nb = np.sqrt(nrm2)
        # the group is both query set and index (self masked inside)
        return pd.concat(
            _topk_frames(ids_b, Bm, nb, Bm, ids_b, kk, chunk),
            ignore_index=True,
        )

    if probe_cells <= 1:
        assign = _cell_assign_udf(C)
        cells = emb.select("vec_id", "embedding").withColumn(
            "cell", assign(F.col("embedding"))
        )
        return cells.groupBy("cell").applyInPandas(cell_topk, KNN_SCHEMA)

    assign_p = _cell_assign_topp_udf(C, probe_cells)
    exploded = emb.select("vec_id", "embedding").withColumn(
        "cell", F.explode(assign_p(F.col("embedding")))
    )
    cand = exploded.groupBy("cell").applyInPandas(cell_topk, KNN_SCHEMA)
    return _probe_global_topk(cand, k)


def _probe_global_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global exact top-k over multi-probe candidates, pure JVM — ONE
    definition shared by ``ann_ivf_knn_join`` (p>1) and the fused
    recall row so the dedup/tie conventions can never drift.

    A pair sharing >1 probed cell arrives once per shared cell with
    IDENTICAL cos_sim (the fold is per-pair), so array_distinct on
    (cos_sim, nbr_id) structs keeps exactly one copy; the global
    exact top-k (cos desc, nbr asc — nbr_id is unique per query
    after the distinct, so the order is total) is one array_sort
    over ≤ p·k candidates per query.  All JVM: the per-query group
    is far too small for a pandas kernel to amortize its dispatch."""

    def _pair_cmp(le, ri):
        return (
            F.when(le["cos_sim"] > ri["cos_sim"], F.lit(-1))
            .when(le["cos_sim"] < ri["cos_sim"], F.lit(1))
            .when(le["nbr_id"] < ri["nbr_id"], F.lit(-1))
            .when(le["nbr_id"] > ri["nbr_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    top = F.slice(
        F.array_sort(
            F.array_distinct(F.col("_pairs")), _pair_cmp
        ),
        1,
        k,
    )
    return (
        cand.groupBy("vec_id")
        .agg(F.collect_list(F.struct("cos_sim", "nbr_id")).alias("_pairs"))
        .select("vec_id", F.posexplode(top).alias("_pos", "_pair"))
        .select(
            "vec_id",
            F.col("_pair.nbr_id").alias("nbr_id"),
            F.col("_pair.cos_sim").alias("cos_sim"),
            (F.col("_pos") + 1).cast("long").alias("rank"),
        )
    )


def q_ann_ivf_knn_join(t: dict) -> DataFrame:
    return ann_ivf_knn_join(t["embeddings"])


def q_ann_ivf_knn_join_probe(t: dict) -> DataFrame:
    return ann_ivf_knn_join(t["embeddings"], probe_cells=KNN_PROBE_CELLS)


def _cell_topk_both_fn(k: int, chunk: int):
    """Per-cell kernel of the FUSED recall row: one grouped pass emits
    BOTH legs' candidates — ``leg='probe'`` ranks every query against
    all co-residents of the cell (exactly the p-probe kernel), and
    ``leg='cell'`` restricts both query and candidate sets to the rows
    whose probe rank for this cell is 1, i.e. exactly the membership
    the single-cell (p=1) kernel sees (``_fold_assign`` argmax ==
    rank-1 of the stable top-p argsort, same fold, same tie rule).
    Both legs run through the ONE ``_topk_frames`` fold, so each leg's
    rows are bit-identical to the unfused kernels'."""

    def cell_topk2(pdf: pd.DataFrame) -> pd.DataFrame:
        def leg_frames(sub: pd.DataFrame) -> list:
            ids_raw = sub["vec_id"].to_numpy().astype(np.int64)
            kk = min(k, len(ids_raw) - 1)
            if kk <= 0:  # singleton membership: no neighbors
                return []
            order = np.argsort(ids_raw)
            ids_b = ids_raw[order]
            Bm = np.stack(
                [
                    np.asarray(e, dtype=np.float64)
                    for e in sub["embedding"].to_numpy()[order]
                ]
            )
            nrm2 = np.zeros(len(ids_b))
            for d in range(Bm.shape[1]):  # left-to-right, like the oracle
                nrm2 = nrm2 + Bm[:, d] * Bm[:, d]
            return _topk_frames(ids_b, Bm, np.sqrt(nrm2), Bm, ids_b, kk, chunk)

        frames = []
        for leg, sub in (
            ("probe", pdf),
            ("cell", pdf[pdf["_prank"] == 0]),
        ):
            for fr in leg_frames(sub):
                fr = fr.copy()
                fr["leg"] = leg
                frames.append(fr)
        if not frames:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "nbr_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                    "rank": pd.Series(dtype="int64"),
                    "leg": pd.Series(dtype="object"),
                }
            )
        return pd.concat(frames, ignore_index=True)

    return cell_topk2


def knn_recall_ivf(
    emb: DataFrame,
    k: int = KNN_K,
    n_cells: int = KMEANS_CELLS,
    n_iters: int = KMEANS_ITERS,
) -> DataFrame:
    """RECALL@k of the IVF cell-join against the exact k-NN — the
    eval metric a similarity-search deployment actually tracks when
    it trades the exact kernel for the banded one.  Both sides are
    deterministic, so the metric itself is hash-checked: the oracle
    recomputes exact pairs, trained cells, cell-ranked pairs and the
    intersection in SQL.

    One summary row: (n_queries, n_exact_pairs, n_hits, recall_at_k).
    The exact side is ``materialize``d — it feeds both the hit
    semi-join and the denominator aggregate, and unbarriered the
    map-only kernel (and the corpus scan under it) would execute
    twice.  The hit check is a semi-join on (vec_id, nbr_id) — n·k
    rows against n·k rows, never corpus-sized."""
    from .dedup_core import materialize

    exact = materialize(knn_join(emb, k, mode="broadcast"))
    approx = ann_ivf_knn_join(emb, k, n_cells, n_iters)
    hits = exact.join(
        approx.select("vec_id", "nbr_id"), ["vec_id", "nbr_id"], "left_semi"
    )
    denom = exact.agg(
        F.count_distinct("vec_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
    )
    num = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    # zero-guard: an empty or single-vector corpus has no exact pairs;
    # define recall as 1.0 there (the approximate join missed nothing)
    # instead of emitting a NULL from 0/0
    recall = F.when(
        F.col("n_exact_pairs") > 0,
        F.col("n_hits").cast("double") / F.col("n_exact_pairs"),
    ).otherwise(F.lit(1.0))
    return denom.crossJoin(num).select(
        "n_queries",
        "n_exact_pairs",
        "n_hits",
        recall.alias("recall_at_k"),
    )


def q_knn_recall_ivf(t: dict) -> DataFrame:
    return knn_recall_ivf(t["embeddings"])


def knn_recall_ivf_probe(
    emb: DataFrame,
    k: int = KNN_K,
    n_cells: int = KMEANS_CELLS,
    n_iters: int = KMEANS_ITERS,
    probe_cells: int = KNN_PROBE_CELLS,
) -> DataFrame:
    """RECALL@k of the single-cell IVF join AND its multi-probe
    upgrade against the exact k-NN, side by side — the measurement a
    deployment reads to decide whether probing the second cell is
    worth ~p× the candidate work.  Two rows, ``method`` ∈
    ('cell', 'probe'); every leg is deterministic, so both recalls
    are hash-checked (the oracle recomputes exact pairs, trained
    cells, single-cell and p-cell candidate ranks and the two
    intersections in one statement).  The probe row's candidate set
    is a superset of the cell row's — recall can only go up; the
    strict improvement at the test scales is pinned in pytest.

    The exact leg is ``materialize``d: it feeds the denominator and
    BOTH hit semi-joins, and unbarriered the map-only kernel (and
    the corpus scan under it) would execute three times.

    r13 (guide §1.2/§2.4): the two approximate legs are FUSED into
    one candidate pass — the unfused form ran ``ann_ivf_knn_join``
    twice (two corpus scans, two assignment passes, two cell
    exchanges, two grouped kernels) even though the p=1 leg's
    membership is exactly the probe-rank-1 subset of the p-probe
    leg's.  One posexplode carries the probe rank to the cell kernel,
    which emits both legs' candidates from a single grouped pass
    (``_cell_topk_both_fn`` — each leg through the same
    ``_topk_frames`` fold as the unfused kernels, so both recalls are
    bit-identical)."""
    from .dedup_core import materialize

    exact = materialize(knn_join(emb, k, mode="broadcast"))
    denom = exact.agg(
        F.count_distinct("vec_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
    )
    recall = F.when(
        F.col("n_exact_pairs") > 0,
        F.col("n_hits").cast("double") / F.col("n_exact_pairs"),
    ).otherwise(F.lit(1.0))
    C = kmeans_centroids(emb, n_cells, n_iters)
    assign_p = _cell_assign_topp_udf(C, probe_cells)
    exploded = emb.select("vec_id", "embedding").select(
        "vec_id",
        "embedding",
        F.posexplode(assign_p(F.col("embedding"))).alias("_prank", "cell"),
    )
    # one grouped pass emits BOTH legs; materialized because each leg
    # feeds its own semi-join — unbarriered, the scan + assignment +
    # cell exchange + kernel would execute twice
    cand = materialize(
        exploded.groupBy("cell").applyInPandas(
            _cell_topk_both_fn(k, 512), KNN_SCHEMA + ", leg string"
        )
    )
    legs = []
    for method, approx in (
        ("cell", cand.filter(F.col("leg") == "cell")),
        ("probe", _probe_global_topk(cand.filter(F.col("leg") == "probe"), k)),
    ):
        hits = exact.join(
            approx.select("vec_id", "nbr_id"),
            ["vec_id", "nbr_id"],
            "left_semi",
        )
        num = hits.agg(F.count(F.lit(1)).alias("n_hits"))
        legs.append(
            denom.crossJoin(num).select(
                F.lit(method).alias("method"),
                "n_queries",
                "n_exact_pairs",
                "n_hits",
                recall.alias("recall_at_k"),
            )
        )
    return legs[0].unionByName(legs[1])


def q_knn_recall_ivf_probe(t: dict) -> DataFrame:
    return knn_recall_ivf_probe(t["embeddings"])


#: per-query ADC shortlist depth of the batch IVFADC join — the r
#: raw vectors fetched per query by the exact re-rank tail.  A
#: recall dial, not a correctness one: r >= cell population makes the
#: result EQUAL the exact within-cell join (pinned); production picks
#: r ~ 5-20x k.  The driver-scale default keeps the re-rank volume
#: (n x r pairs) comparable to the other knn rows.
KNN_PQ_RERANK = 10


def _adc_shortlist_fn(books: list, r: int):
    """Per-cell Arrow kernel of the batch IVFADC join: for one coarse
    cell, score every (query, candidate) pair from the candidates'
    PQ CODES alone and emit each query's top-``r`` shortlist —
    ``r`` rows per query leave the kernel, never the cell's pair
    matrix.  Vectorized ADC with the ORACLE'S exact arithmetic:

    * per-query LUTs fold dims left-to-right (``lut += q_d * C[:,d]``
      — element-identical to ``_pq_luts`` and the ``_sql_dot_n``
      fold),
    * pair scores accumulate the M subspace lookups in subspace
      order (element-identical to DuckDB's ``l0.part + l1.part +
      ...``), UNROUNDED — every term and sum is a fixed-order
      float64 chain both engines reproduce bit-for-bit, so unlike
      the single-query rows (whose ``_adc_score_expr`` convention
      predates this op) no 6dp rounding is needed for parity,
    * the cut sorts (score desc, candidate id asc): candidates enter
      sorted by id, a stable argsort on the negated scores preserves
      that order across exact ties — equal-code candidates produce
      bit-equal scores, matching the oracle's ROW_NUMBER tie rule.

    Memory per task: the cell's query vectors (for LUTs) + its code
    matrix (M small ints per candidate) — the raw CANDIDATE vectors,
    the big side at 10^9 rows, never enter the kernel."""

    def shortlist(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "nbr_id": pd.Series(dtype="int64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        qids_all = left["vec_id"].to_numpy().astype(np.int64)
        Q_all = np.stack(
            [np.asarray(e, dtype=np.float64) for e in left["embedding"]]
        )
        order = np.argsort(right["vec_id"].to_numpy().astype(np.int64))
        nids = right["vec_id"].to_numpy().astype(np.int64)[order]
        codes = np.stack(
            [np.asarray(c, dtype=np.int64) for c in right["codes"]]
        )[order]
        kk = min(r, len(nids))
        frames = []
        # query chunks bound the Q×N score matrix (rows independent,
        # so chunking cannot change any row's result)
        for lo_q in range(0, len(qids_all), 1024):
            qids = qids_all[lo_q:lo_q + 1024]
            Q = Q_all[lo_q:lo_q + 1024]
            # pair scores: S[q, c] = sum_m LUT_m[q, codes[c, m]], both
            # loops in oracle order (dims left-to-right, subspaces
            # 0..M-1)
            S = np.zeros((len(qids), len(nids)))
            lo = 0
            for m, C in enumerate(books):
                subdim = C.shape[1]
                lut = np.zeros((len(qids), C.shape[0]))
                for d in range(subdim):
                    lut = lut + np.outer(Q[:, lo + d], C[:, d])
                S = S + lut[:, codes[:, m]]
                lo += subdim
            S[nids[None, :] == qids[:, None]] = -np.inf  # mask self
            # vectorized per-row cut: candidates enter in id order, so
            # a STABLE argsort on the negated scores is (score desc,
            # nbr asc) — the oracle's ROW_NUMBER tie rule — across
            # exact ties (equal-code candidates score bit-equal)
            top = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            keep = np.isfinite(
                S[np.arange(len(qids))[:, None], top]
            ).ravel()
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id": np.repeat(qids, kk)[keep],
                        "nbr_id": nids[top].ravel()[keep],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return shortlist


def ann_ivf_pq_knn_join(
    emb: DataFrame,
    k: int = KNN_K,
    r: int = KNN_PQ_RERANK,
) -> DataFrame:
    """Batch IVFADC + exact re-rank — the 100 TB k-NN-everything
    shape (VERDICT r12 item 5): every vector finds its k approximate
    neighbors against a corpus whose raw vectors are too large to
    pair up.  Composition: vectors meet candidates co-assigned to the
    same trained coarse cell (banded, like ``ann_ivf_knn_join`` —
    never all-pairs), candidates are scored from their persisted PQ
    CODES alone (M lookups into the query's ADC tables, vectorized in
    one per-cell Arrow kernel), each query's top-``r`` ADC shortlist
    leaves the kernel, and ONLY those r raw vectors per query are
    fetched and exactly re-ranked with the shared fold cosine —
    Jégou 2011's IVFADC applied per corpus row instead of per
    external query.

    What moves: ONE cell-keyed exchange per side — the query side
    ships raw vectors once (each query must reach some task with its
    raw values to build its LUTs; at M·K < dim shipping precomputed
    LUTs would be smaller, a swap localized to the kernel), the
    candidate side ships M small ints per row; kernel output is n·r
    id pairs; the re-rank joins raw vectors for n·r rows.  The
    candidate side — the 10⁹-row side — never moves dim-wide data,
    and per-pair scoring is M lookups instead of a dim-wide fold
    (measured 16× fewer FLOPs at dim 64, M 4).  Recall vs the exact
    join is itself an oracle-checked row (``knn_recall_ivf_pq``), and
    ``r`` is the recall dial: with r past the cell population the
    result equals the exact within-cell join bit-for-bit (pinned)."""
    from pyspark.sql import Window

    books, _ = pq_codebooks(emb)
    coarse = kmeans_centroids(emb)
    state = ivf_pq_state(emb, books, coarse)
    assign = _cell_assign_udf(coarse)
    q = emb.select("vec_id", "embedding").withColumn(
        "cell", assign(F.col("embedding"))
    )
    shortlist = (
        q.groupBy("cell")
        .cogroup(state.select("vec_id", "cell", "codes").groupBy("cell"))
        .applyInPandas(
            _adc_shortlist_fn(books, r), "vec_id long, nbr_id long"
        )
    )
    qv = emb.select("vec_id", F.col("embedding").alias("a_emb"))
    nv = emb.select(
        F.col("vec_id").alias("nbr_id"), F.col("embedding").alias("b_emb")
    )
    rescored = (
        shortlist.join(qv, "vec_id")
        .join(nv, "nbr_id")
        .select(
            "vec_id",
            "nbr_id",
            cosine(F.col("a_emb"), F.col("b_emb")).alias("cos_sim"),
        )
    )
    w_cos = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w_cos))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "nbr_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_ann_ivf_pq_knn_join(t: dict) -> DataFrame:
    return ann_ivf_pq_knn_join(t["embeddings"])


def knn_recall_ivf_pq(
    emb: DataFrame,
    k: int = KNN_K,
    r: int = KNN_PQ_RERANK,
) -> DataFrame:
    """RECALL@k of the batch IVFADC+re-rank join against the exact
    k-NN — the eval metric that decides whether the compressed index
    can serve the k-NN-everything workload.  Same shape/zero-guard
    as ``knn_recall_ivf``; both sides deterministic, so the metric
    itself is hash-checked."""
    from .dedup_core import materialize

    exact = materialize(knn_join(emb, k, mode="broadcast"))
    approx = ann_ivf_pq_knn_join(emb, k, r)
    hits = exact.join(
        approx.select("vec_id", "nbr_id"), ["vec_id", "nbr_id"], "left_semi"
    )
    denom = exact.agg(
        F.count_distinct("vec_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
    )
    num = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    recall = F.when(
        F.col("n_exact_pairs") > 0,
        F.col("n_hits").cast("double") / F.col("n_exact_pairs"),
    ).otherwise(F.lit(1.0))
    return denom.crossJoin(num).select(
        "n_queries",
        "n_exact_pairs",
        "n_hits",
        recall.alias("recall_at_k"),
    )


def q_knn_recall_ivf_pq(t: dict) -> DataFrame:
    return knn_recall_ivf_pq(t["embeddings"])


def knn_label_spread(emb: DataFrame, k: int = KNN_K) -> DataFrame:
    """k-NN LABEL SPREAD — majority vote of each vector's k nearest
    neighbors vs its own label: the weak-supervision primitive (spread
    a small labeled seed set over an unlabeled corpus; audit label
    noise by flagging rows whose neighborhood disagrees).

    Plan: the ranked-neighbor table comes out of the map-only
    ``knn_join`` kernel (n·k rows); neighbor labels attach via a
    BROADCAST join (the label table is dimension-sized); votes count
    in one uniform-key groupBy; the per-vector argmax is a struct-MAX
    over (n_votes, -label) in a second partial-aggregated groupBy —
    deterministic ties toward the smaller label, and NO window (a
    row_number window would re-sort every group; max is mergeable
    map-side).  Two hash exchanges over n·k rows total, both on
    near-uniform keys — scales.  The vote/argmax tail is
    partitioning-independent aggregation, so the output is identical
    however ``knn_join`` sizes its kernel."""
    nn = knn_join(emb, k)
    lab = emb.select("vec_id", "label")
    votes = (
        nn.join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("nbr_id"),
                    F.col("label").alias("nbr_label"),
                )
            ),
            "nbr_id",
        )
        .groupBy("vec_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    best = (
        votes.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_votes").alias("v"),
                    (-F.col("nbr_label")).alias("neg_label"),
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            (-F.col("m.neg_label")).cast("int").alias("pred_label"),
            F.col("m.v").alias("n_votes"),
        )
    )
    return best.join(F.broadcast(lab), "vec_id").select(
        "vec_id",
        "label",
        "pred_label",
        "n_votes",
        (F.col("pred_label") == F.col("label")).alias("agree"),
    )


def q_knn_label_spread(t: dict) -> DataFrame:
    return knn_label_spread(t["embeddings"])


def q_embedding_neardup(t: dict) -> DataFrame:
    """Driver entry: 2-band, 4-plane OR-of-ANDs blocking (threshold
    0.40 calibrated to the driver corpus — max pairwise cosine ≈ 0.51,
    59 true pairs at sf0.01 of which the 2-band blocking recovers 15;
    the oracle mirrors the same 2-band union, so recall is a blocking
    property, not a correctness gap)."""
    return embedding_neardup_pairs(t["embeddings"], bands=2)


# ------------------------------------------------------------- oracle
# DuckDB lists are 1-indexed; fold order mirrors F.aggregate exactly.


_SQL_COS = _sql_cos("a_emb", "b_emb")

#: shared exact-kNN definition — one spelling of all-pairs cosine +
#: per-vector rank, reused by the knn_join and knn_label_spread
#: oracles so the two can never desynchronize
_KNN_RANKED_CTES = f"""pairs AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT vec_id, nbr_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_sim DESC, nbr_id ASC
                   ) AS rank
            FROM pairs
        )"""


def _sql_sign(emb: str, j: int) -> str:
    # mirrors hyperplane_sign: 0-based component index is (i-1)
    return (
        f"(CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> CASE WHEN ((i-1)*{2 * j + 3} + {(j + 1) * 31}) % 97 % 2 = 0 "
        f"THEN {emb}[i]::DOUBLE ELSE -{emb}[i]::DOUBLE END)), "
        f"(acc, x) -> acc + x) > 0 THEN 1 ELSE 0 END)"
    )


def _sql_bucket(emb: str, offset: int = 0) -> str:
    # mirrors lsh_bucket(planes=LSH_PLANES, plane_offset=offset)
    return (
        "("
        + " + ".join(f"{_sql_sign(emb, offset + j)} * {2**j}" for j in range(LSH_PLANES))
        + ")::INT"
    )


_IVF_ORACLE = f"""
    WITH cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, c_emb
        FROM (SELECT vec_id, embedding AS c_emb FROM embeddings
              ORDER BY vec_id LIMIT {IVF_CELLS})
    ),
    scored AS (
        SELECT v.vec_id, cent.cell,
               {_sql_cos('v_emb', 'c_emb')} AS c_cos
        FROM (SELECT vec_id, embedding AS v_emb FROM embeddings) v
        CROSS JOIN cent
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY c_cos DESC, cell ASC) AS rn
            FROM scored) t
        WHERE rn = 1
    ),
    probe AS (
        SELECT cell FROM scored WHERE vec_id = 0
        ORDER BY c_cos DESC, cell ASC LIMIT {IVF_PROBE}
    )
    SELECT b.vec_id AS vec_id, a2.cell::INT AS cell, {_SQL_COS} AS cos_sim
    FROM (SELECT embedding AS a_emb FROM embeddings WHERE vec_id = 0) q,
         (SELECT vec_id, embedding AS b_emb FROM embeddings
          WHERE vec_id <> 0) b
    JOIN assigned a2 ON a2.vec_id = b.vec_id
    WHERE a2.cell IN (SELECT cell FROM probe)
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
"""

_PQ_SUBDIM = _EMB_DIM // PQ_M


def _pq_all_chains() -> str:
    """The M codebook training chains, each ``_kmeans_cte_parts``'s
    exact Lloyd's trajectory over the ``list_slice`` of its subspace
    (one chain generator for KMeans and PQ — a trajectory edit cannot
    desynchronize them), CTE names prefixed ``p{m}`` so the chains
    coexist in one statement.  ``train_mod`` mirrors the Spark
    trainer's deterministic sample (r12): training CTEs over the
    ``vec_id % mod = 0`` subset, the final encode pass over all."""
    return ",\n        ".join(
        _kmeans_cte_parts(
            PQ_K,
            PQ_ITERS,
            prefix=f"p{m}",
            lo=m * _PQ_SUBDIM + 1,
            subdim=_PQ_SUBDIM,
            train_mod=PQ_TRAIN_MOD,
        )
        for m in range(PQ_M)
    )


def _pq_encode_oracle() -> str:
    it = PQ_ITERS
    selects = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, cell::INT AS code FROM p{m}a{it}"
        for m in range(PQ_M)
    )
    return f"""
        WITH {_pq_all_chains()}
        {selects}
    """


def _pq_adc_core() -> str:
    """Shared CTE tail for the ADC rows: per-subspace LUT (query
    subvector · codeword, the left fold) + the per-vector sum of its
    M lookups in subspace order, rounded 6dp like the kernel."""
    it = PQ_ITERS
    q_cols = ", ".join(
        f"list_slice(embedding, {m * _PQ_SUBDIM + 1}, "
        f"{(m + 1) * _PQ_SUBDIM}) AS q{m}"
        for m in range(PQ_M)
    )
    luts = ",\n        ".join(
        f"lut{m} AS (SELECT c.cell, "
        f"{_sql_dot_n(f'q.q{m}', 'c.c_emb', _PQ_SUBDIM)} AS part "
        f"FROM p{m}c{it} c, q)"
        for m in range(PQ_M)
    )
    joins = " ".join(
        f"JOIN p{m}a{it} a{m} ON a{m}.vec_id = b.vec_id "
        f"JOIN lut{m} l{m} ON l{m}.cell = a{m}.cell"
        for m in range(PQ_M)
    )
    score = " + ".join(f"l{m}.part" for m in range(PQ_M))
    return f"""{_pq_all_chains()},
        q AS (SELECT {q_cols} FROM embeddings WHERE vec_id = 0),
        {luts},
        adc AS (
            SELECT b.vec_id, ROUND({score}, 6) AS adc_score
            FROM embeddings b {joins}
            WHERE b.vec_id <> 0
        )"""


def _ann_pq_oracle() -> str:
    return f"""
        WITH {_pq_adc_core()}
        SELECT vec_id, adc_score FROM adc
        ORDER BY adc_score DESC, vec_id ASC LIMIT {PQ_TOPK}
    """


def _ann_pq_rerank_oracle() -> str:
    return f"""
        WITH {_pq_adc_core()},
        cand AS (
            SELECT vec_id FROM adc
            ORDER BY adc_score DESC, vec_id ASC LIMIT {PQ_RERANK}
        )
        SELECT b.vec_id AS vec_id, {_SQL_COS} AS cos_sim
        FROM (SELECT embedding AS a_emb FROM embeddings
              WHERE vec_id = 0) qx,
             (SELECT vec_id, embedding AS b_emb FROM embeddings) b
        JOIN cand ON cand.vec_id = b.vec_id
        ORDER BY cos_sim DESC, b.vec_id ASC LIMIT {PQ_TOPK}
    """


def _ann_ivf_pq_oracle() -> str:
    """Coarse chain (unprefixed — the kmeans_train trajectory) + the
    PQ chains/LUTs/adc + the probe filter, one statement."""
    ki = KMEANS_ITERS
    return f"""
        WITH {_kmeans_cte_parts(KMEANS_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD)},
        {_pq_adc_core()},
        probe AS (
            SELECT cell FROM s{ki} WHERE vec_id = 0
            ORDER BY cs DESC, cell ASC LIMIT {IVF_PROBE}
        )
        SELECT adc.vec_id, a2.cell::INT AS cell, adc.adc_score
        FROM adc JOIN a{ki} a2 ON a2.vec_id = adc.vec_id
        WHERE a2.cell IN (SELECT cell FROM probe)
        ORDER BY adc.adc_score DESC, adc.vec_id ASC LIMIT {PQ_TOPK}
    """


def _ann_ivf_pq_rerank_oracle() -> str:
    """Coarse chain + PQ chains/LUTs/adc + probe filter (the
    ``ann_ivf_pq`` statement) producing the top-R shortlist, then the
    exact fold-cosine re-rank tail (the ``ann_pq_rerank`` statement)
    — the full IVFADC+re-rank composition under one oracle."""
    ki = KMEANS_ITERS
    return f"""
        WITH {_kmeans_cte_parts(KMEANS_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD)},
        {_pq_adc_core()},
        probe AS (
            SELECT cell FROM s{ki} WHERE vec_id = 0
            ORDER BY cs DESC, cell ASC LIMIT {IVF_PROBE}
        ),
        cand AS (
            SELECT adc.vec_id FROM adc
            JOIN a{ki} a2 ON a2.vec_id = adc.vec_id
            WHERE a2.cell IN (SELECT cell FROM probe)
            ORDER BY adc.adc_score DESC, adc.vec_id ASC LIMIT {PQ_RERANK}
        )
        SELECT b.vec_id AS vec_id, {_SQL_COS} AS cos_sim
        FROM (SELECT embedding AS a_emb FROM embeddings
              WHERE vec_id = 0) qx,
             (SELECT vec_id, embedding AS b_emb FROM embeddings) b
        JOIN cand ON cand.vec_id = b.vec_id
        ORDER BY cos_sim DESC, b.vec_id ASC LIMIT {PQ_TOPK}
    """


def _knn_recall_pq_oracle() -> str:
    return f"""
        WITH {_pq_adc_core()},
        approx AS (
            SELECT vec_id FROM adc
            ORDER BY adc_score DESC, vec_id ASC LIMIT {PQ_TOPK}
        ),
        cand AS (
            SELECT vec_id FROM adc
            ORDER BY adc_score DESC, vec_id ASC LIMIT {PQ_RERANK}
        ),
        rr AS (
            SELECT b.vec_id FROM
                (SELECT embedding AS a_emb FROM embeddings
                 WHERE vec_id = 0) qx,
                (SELECT vec_id, embedding AS b_emb FROM embeddings) b
            JOIN cand ON cand.vec_id = b.vec_id
            ORDER BY {_SQL_COS} DESC, b.vec_id ASC LIMIT {PQ_TOPK}
        ),
        exact AS (
            SELECT b.vec_id, {_SQL_COS} AS cos_sim
            FROM (SELECT embedding AS a_emb FROM embeddings
                  WHERE vec_id = 0) qx,
                 (SELECT vec_id, embedding AS b_emb FROM embeddings
                  WHERE vec_id <> 0) b
            ORDER BY cos_sim DESC, vec_id ASC LIMIT {PQ_TOPK}
        )
        SELECT {PQ_TOPK} AS k,
               (SELECT COUNT(*) FROM approx JOIN exact USING (vec_id)
               )::BIGINT AS n_hits_adc,
               ROUND((SELECT COUNT(*) FROM approx JOIN exact
                      USING (vec_id))::DOUBLE / {PQ_TOPK}, 6)
                   AS recall_adc,
               (SELECT COUNT(*) FROM rr JOIN exact USING (vec_id)
               )::BIGINT AS n_hits_rerank,
               ROUND((SELECT COUNT(*) FROM rr JOIN exact
                      USING (vec_id))::DOUBLE / {PQ_TOPK}, 6)
                   AS recall_rerank
    """


def _ivf_pq_knn_cte_parts(r: int = KNN_PQ_RERANK, k: int = KNN_K) -> str:
    """CTE tail of the BATCH IVFADC join: per-query LUTs (qsub/qlut),
    cell-banded ADC pairs off the PQ codes (adcp — coarse final
    assignment for banding, per-subspace code joined to the query's
    LUT row, parts summed in subspace order, UNROUNDED — a
    fixed-order float64 chain the Arrow kernel reproduces
    bit-for-bit), the per-query top-``r`` shortlist, exact-cosine
    re-rank and final rank — ends with ``pqranked``."""
    ki, it = KMEANS_ITERS, PQ_ITERS
    qsub_cols = ", ".join(
        f"list_slice(embedding, {m * _PQ_SUBDIM + 1}, "
        f"{(m + 1) * _PQ_SUBDIM}) AS q{m}"
        for m in range(PQ_M)
    )
    qluts = ",\n        ".join(
        f"qlut{m} AS (SELECT q.vec_id AS qid, c.cell AS code, "
        f"{_sql_dot_n(f'q.q{m}', 'c.c_emb', _PQ_SUBDIM)} AS part "
        f"FROM qsub q CROSS JOIN p{m}c{it} c)"
        for m in range(PQ_M)
    )
    code_joins = " ".join(
        f"JOIN p{m}a{it} pa{m} ON pa{m}.vec_id = cb.vec_id "
        f"JOIN qlut{m} l{m} ON l{m}.qid = qa.vec_id "
        f"AND l{m}.code = pa{m}.cell"
        for m in range(PQ_M)
    )
    score = " + ".join(f"l{m}.part" for m in range(PQ_M))
    return f"""qsub AS (SELECT vec_id, {qsub_cols} FROM embeddings),
        {qluts},
        asn AS (SELECT vec_id, cell FROM a{ki}),
        adcp AS (
            SELECT qa.vec_id AS vec_id, cb.vec_id AS nbr_id,
                   {score} AS adc_score
            FROM asn qa
            JOIN asn cb ON cb.cell = qa.cell AND cb.vec_id <> qa.vec_id
            {code_joins}
        ),
        pqshort AS (
            SELECT vec_id, nbr_id FROM (
                SELECT vec_id, nbr_id, ROW_NUMBER() OVER (
                    PARTITION BY vec_id
                    ORDER BY adc_score DESC, nbr_id ASC
                ) AS rr FROM adcp
            ) t WHERE rr <= {r}
        ),
        pqrer AS (
            SELECT s.vec_id, s.nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM pqshort s
            JOIN embeddings a ON a.vec_id = s.vec_id
            JOIN embeddings b ON b.vec_id = s.nbr_id
        ),
        pqranked AS (
            SELECT vec_id, nbr_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_sim DESC, nbr_id ASC
                   ) AS rank
            FROM pqrer
        )"""


def _ann_ivf_pq_knn_join_oracle() -> str:
    return f"""
        {_kmeans_ctes()},
        {_pq_all_chains()},
        {_ivf_pq_knn_cte_parts()}
        SELECT vec_id, nbr_id, cos_sim, rank
        FROM pqranked WHERE rank <= {KNN_K}
    """


def _knn_recall_ivf_pq_oracle() -> str:
    return f"""
        {_kmeans_ctes()},
        {_pq_all_chains()},
        {_KNN_RANKED_CTES},
        {_ivf_pq_knn_cte_parts()},
        ex AS (
            SELECT vec_id, nbr_id FROM ranked WHERE rank <= {KNN_K}
        ),
        pqapx AS (
            SELECT vec_id, nbr_id FROM pqranked WHERE rank <= {KNN_K}
        ),
        hits AS (SELECT 1 FROM ex JOIN pqapx USING (vec_id, nbr_id))
        SELECT (SELECT COUNT(DISTINCT vec_id) FROM ex)::BIGINT AS n_queries,
               (SELECT COUNT(*) FROM ex)::BIGINT AS n_exact_pairs,
               (SELECT COUNT(*) FROM hits)::BIGINT AS n_hits,
               CASE WHEN (SELECT COUNT(*) FROM ex) > 0
                    THEN (SELECT COUNT(*) FROM hits)::DOUBLE
                         / (SELECT COUNT(*) FROM ex)
                    ELSE 1.0 END AS recall_at_k
    """


ORACLE: dict[str, str] = {
    "ann_ivf": _IVF_ORACLE,
    "pq_encode": _pq_encode_oracle(),
    "ann_pq": _ann_pq_oracle(),
    "ann_pq_rerank": _ann_pq_rerank_oracle(),
    "ann_ivf_pq": _ann_ivf_pq_oracle(),
    "ann_ivf_pq_rerank": _ann_ivf_pq_rerank_oracle(),
    "knn_recall_pq": _knn_recall_pq_oracle(),
    # r13: batch IVFADC + exact re-rank (every vector × compressed
    # index) and its recall-vs-exact eval row
    "ann_ivf_pq_knn_join": _ann_ivf_pq_knn_join_oracle(),
    "knn_recall_ivf_pq": _knn_recall_ivf_pq_oracle(),
    "ann_brute": f"""
        SELECT b.vec_id AS vec_id, {_SQL_COS} AS cos_sim
        FROM (SELECT embedding AS a_emb FROM embeddings WHERE vec_id = 0) q,
             (SELECT vec_id, embedding AS b_emb FROM embeddings WHERE vec_id <> 0) b
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
    "ann_lsh": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket
            FROM embeddings
        )
        SELECT b.vec_id AS vec_id, b.bucket AS bucket, {_SQL_COS} AS cos_sim
        FROM (SELECT embedding AS a_emb, bucket FROM bucketed WHERE vec_id = 0) q
        JOIN (SELECT vec_id, embedding AS b_emb, bucket FROM bucketed
              WHERE vec_id <> 0) b
          ON q.bucket = b.bucket
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    """,
    "ann_multiprobe": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket
            FROM embeddings
        )
        SELECT b.vec_id AS vec_id, b.bucket AS bucket, {_SQL_COS} AS cos_sim
        FROM (SELECT embedding AS a_emb, bucket FROM bucketed WHERE vec_id = 0) q
        JOIN (SELECT vec_id, embedding AS b_emb, bucket FROM bucketed
              WHERE vec_id <> 0) b
          ON (b.bucket = q.bucket
              {' '.join(f'OR b.bucket = xor(q.bucket, {1 << j})' for j in range(LSH_PLANES))})
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
    """,
    # 2-band OR-of-ANDs: band 0 blocks on planes 0-3, band 1 on
    # planes 4-7; UNION (distinct) mirrors the Spark-side
    # unionByName + distinct — identical fold arithmetic per band
    # makes cos_sim bitwise-equal, so the distinct is exact
    "embedding_neardup": f"""
        WITH bucketed AS (
            SELECT vec_id, embedding,
                   {_sql_bucket('embedding')} AS b0,
                   {_sql_bucket('embedding', offset=LSH_PLANES)} AS b1
            FROM embeddings
        )
        SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, {_SQL_COS} AS cos_sim
        FROM (SELECT vec_id, embedding AS a_emb, b0 FROM bucketed) x
        JOIN (SELECT vec_id, embedding AS b_emb, b0 FROM bucketed) y
          ON x.b0 = y.b0 AND x.vec_id < y.vec_id
        WHERE {_SQL_COS} >= {NEARDUP_T}
        UNION
        SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, {_SQL_COS} AS cos_sim
        FROM (SELECT vec_id, embedding AS a_emb, b1 FROM bucketed) x
        JOIN (SELECT vec_id, embedding AS b_emb, b1 FROM bucketed) y
          ON x.b1 = y.b1 AND x.vec_id < y.vec_id
        WHERE {_SQL_COS} >= {NEARDUP_T}
    """,
    # exhaustive within-label pair scan; drop rule = any above-T
    # neighbour with a smaller vec_id in the same cluster
    "semantic_dedup": f"""
        WITH dropped AS (
            SELECT DISTINCT y.vec_id AS vec_id
            FROM (SELECT label, vec_id, embedding AS a_emb FROM embeddings) x
            JOIN (SELECT label, vec_id, embedding AS b_emb FROM embeddings) y
              ON x.label = y.label AND x.vec_id < y.vec_id
            WHERE {_SQL_COS} >= {SEMDEDUP_T}
        )
        SELECT e.vec_id AS vec_id, e.label AS label
        FROM embeddings e
        WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = e.vec_id)
    """,
    "semantic_search": f"""
        WITH hits AS (
            SELECT b.vec_id AS vec_id, {_SQL_COS} AS cos_sim
            FROM (SELECT embedding AS a_emb FROM embeddings
                  WHERE vec_id = 0) q,
                 (SELECT vec_id, embedding AS b_emb FROM embeddings
                  WHERE vec_id <> 0) b
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
        )
        SELECT doc_id, cos_sim, lang, source, n_chars
        FROM documents JOIN hits ON doc_id = vec_id
        ORDER BY cos_sim DESC, doc_id ASC
    """,
    # DuckDB's 1-indexed list access vs posexplode's 0-based dim
    "emb_centroid": """
        SELECT label, i - 1 AS dim,
               ROUND(AVG(embedding[i]::DOUBLE), 6) AS centroid
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) AS dims
        GROUP BY label, i
    """,
    # exact all-pairs + window rank IS the semantic contract the
    # map-only broadcast kernel must reproduce; ties break toward the
    # lower neighbor id on both sides, cos_sim is the same left-fold
    "knn_join": f"""
        WITH {_KNN_RANKED_CTES}
        SELECT vec_id, nbr_id, cos_sim, rank
        FROM ranked WHERE rank <= {KNN_K}
    """,
    # the two-phase path must produce the IDENTICAL result — same
    # oracle definition, so the two can never desynchronize
    "knn_join_twophase": f"""
        WITH {_KNN_RANKED_CTES}
        SELECT vec_id, nbr_id, cos_sim, rank
        FROM ranked WHERE rank <= {KNN_K}
    """,
    "kmeans_train": _kmeans_oracle(),
    "ann_ivf_trained": _ann_ivf_trained_oracle(),
    # cell-banded approximate k-NN self-join: the kmeans assignment
    # CTEs give the final cells, pairs form ONLY within a cell, and
    # the per-vector rank mirrors the kernel's (cos DESC, nbr ASC)
    "ann_ivf_knn_join": f"""
        {_kmeans_ctes()},
        asn AS (SELECT vec_id, cell FROM a{KMEANS_ITERS}),
        cpairs AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM embeddings a
            JOIN asn ca ON ca.vec_id = a.vec_id
            JOIN asn cb ON cb.cell = ca.cell AND cb.vec_id <> a.vec_id
            JOIN embeddings b ON b.vec_id = cb.vec_id
        ),
        cranked AS (
            SELECT vec_id, nbr_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_sim DESC, nbr_id ASC
                   ) AS rank
            FROM cpairs
        )
        SELECT vec_id, nbr_id, cos_sim, rank
        FROM cranked WHERE rank <= {KNN_K}
    """,
    # recall@k of the cell join vs the exact join — both sides
    # recomputed in SQL, intersected on (vec_id, nbr_id)
    "knn_recall_ivf": f"""
        {_kmeans_ctes()},
        {_KNN_RANKED_CTES},
        ex AS (
            SELECT vec_id, nbr_id FROM ranked WHERE rank <= {KNN_K}
        ),
        asn AS (SELECT vec_id, cell FROM a{KMEANS_ITERS}),
        cpairs AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM embeddings a
            JOIN asn ca ON ca.vec_id = a.vec_id
            JOIN asn cb ON cb.cell = ca.cell AND cb.vec_id <> a.vec_id
            JOIN embeddings b ON b.vec_id = cb.vec_id
        ),
        apx AS (
            SELECT vec_id, nbr_id FROM (
                SELECT vec_id, nbr_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id
                           ORDER BY cos_sim DESC, nbr_id ASC
                       ) AS rank
                FROM cpairs
            ) t WHERE rank <= {KNN_K}
        ),
        hits AS (SELECT 1 FROM ex JOIN apx USING (vec_id, nbr_id))
        SELECT (SELECT COUNT(DISTINCT vec_id) FROM ex)::BIGINT AS n_queries,
               (SELECT COUNT(*) FROM ex)::BIGINT AS n_exact_pairs,
               (SELECT COUNT(*) FROM hits)::BIGINT AS n_hits,
               CASE WHEN (SELECT COUNT(*) FROM ex) > 0
                    THEN (SELECT COUNT(*) FROM hits)::DOUBLE
                         / (SELECT COUNT(*) FROM ex)
                    ELSE 1.0 END AS recall_at_k
    """,
    # multi-probe cell join: each vector co-assigned to its
    # KNN_PROBE_CELLS nearest trained cells (ties toward the lower
    # cell — the Spark side's stable argsort), candidate pairs from
    # ANY shared cell (DISTINCT collapses multi-cell co-residency),
    # exact top-k over the union
    "ann_ivf_knn_join_probe": f"""
        {_kmeans_ctes()},
        pasn AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY cs DESC, cell ASC
                ) AS pr FROM s{KMEANS_ITERS}
            ) t WHERE pr <= {KNN_PROBE_CELLS}
        ),
        puniq AS (
            SELECT DISTINCT ca.vec_id AS vec_id, cb.vec_id AS nbr_id
            FROM pasn ca
            JOIN pasn cb ON cb.cell = ca.cell AND cb.vec_id <> ca.vec_id
        ),
        ppairs AS (
            SELECT u.vec_id, u.nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM puniq u
            JOIN embeddings a ON a.vec_id = u.vec_id
            JOIN embeddings b ON b.vec_id = u.nbr_id
        ),
        pranked AS (
            SELECT vec_id, nbr_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_sim DESC, nbr_id ASC
                   ) AS rank
            FROM ppairs
        )
        SELECT vec_id, nbr_id, cos_sim, rank
        FROM pranked WHERE rank <= {KNN_K}
    """,
    # cell-vs-probe recall side by side — the measurement that decides
    # whether the second probed cell is worth the candidate work; the
    # probe candidate set is a superset, so recall can only rise
    "knn_recall_ivf_probe": f"""
        {_kmeans_ctes()},
        {_KNN_RANKED_CTES},
        ex AS (
            SELECT vec_id, nbr_id FROM ranked WHERE rank <= {KNN_K}
        ),
        asn AS (SELECT vec_id, cell FROM a{KMEANS_ITERS}),
        cpairs AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM embeddings a
            JOIN asn ca ON ca.vec_id = a.vec_id
            JOIN asn cb ON cb.cell = ca.cell AND cb.vec_id <> a.vec_id
            JOIN embeddings b ON b.vec_id = cb.vec_id
        ),
        capx AS (
            SELECT vec_id, nbr_id FROM (
                SELECT vec_id, nbr_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id
                           ORDER BY cos_sim DESC, nbr_id ASC
                       ) AS rank
                FROM cpairs
            ) t WHERE rank <= {KNN_K}
        ),
        pasn AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY cs DESC, cell ASC
                ) AS pr FROM s{KMEANS_ITERS}
            ) t WHERE pr <= {KNN_PROBE_CELLS}
        ),
        puniq AS (
            SELECT DISTINCT ca.vec_id AS vec_id, cb.vec_id AS nbr_id
            FROM pasn ca
            JOIN pasn cb ON cb.cell = ca.cell AND cb.vec_id <> ca.vec_id
        ),
        ppairs AS (
            SELECT u.vec_id, u.nbr_id,
                   {_sql_cos("a.embedding", "b.embedding")} AS cos_sim
            FROM puniq u
            JOIN embeddings a ON a.vec_id = u.vec_id
            JOIN embeddings b ON b.vec_id = u.nbr_id
        ),
        papx AS (
            SELECT vec_id, nbr_id FROM (
                SELECT vec_id, nbr_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id
                           ORDER BY cos_sim DESC, nbr_id ASC
                       ) AS rank
                FROM ppairs
            ) t WHERE rank <= {KNN_K}
        ),
        chits AS (SELECT 1 FROM ex JOIN capx USING (vec_id, nbr_id)),
        phits AS (SELECT 1 FROM ex JOIN papx USING (vec_id, nbr_id)),
        base AS (
            SELECT (SELECT COUNT(DISTINCT vec_id) FROM ex)::BIGINT
                       AS n_queries,
                   (SELECT COUNT(*) FROM ex)::BIGINT AS n_exact_pairs
        )
        SELECT 'cell' AS method, n_queries, n_exact_pairs,
               (SELECT COUNT(*) FROM chits)::BIGINT AS n_hits,
               CASE WHEN n_exact_pairs > 0
                    THEN (SELECT COUNT(*) FROM chits)::DOUBLE
                         / n_exact_pairs
                    ELSE 1.0 END AS recall_at_k
        FROM base
        UNION ALL
        SELECT 'probe' AS method, n_queries, n_exact_pairs,
               (SELECT COUNT(*) FROM phits)::BIGINT AS n_hits,
               CASE WHEN n_exact_pairs > 0
                    THEN (SELECT COUNT(*) FROM phits)::DOUBLE
                         / n_exact_pairs
                    ELSE 1.0 END AS recall_at_k
        FROM base
    """,
    # same ranked-neighbor definition; majority vote with ties toward
    # the smaller label (mirrors the Spark struct-max over
    # (n_votes, -label))
    "knn_label_spread": f"""
        WITH {_KNN_RANKED_CTES},
        votes AS (
            SELECT r.vec_id, e.label AS nbr_label, COUNT(*) AS n_votes
            FROM ranked r JOIN embeddings e ON r.nbr_id = e.vec_id
            WHERE r.rank <= {KNN_K}
            GROUP BY 1, 2
        ),
        pred AS (
            SELECT vec_id, nbr_label AS pred_label, n_votes,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY n_votes DESC, nbr_label ASC
                   ) AS rn
            FROM votes
        )
        SELECT p.vec_id AS vec_id, e.label AS label, p.pred_label,
               p.n_votes, (p.pred_label = e.label) AS agree
        FROM pred p JOIN embeddings e ON p.vec_id = e.vec_id
        WHERE p.rn = 1
    """,
}

QUERIES = {
    "ann_brute": q_ann_brute,
    "ann_lsh": q_ann_lsh,
    "ann_multiprobe": q_ann_multiprobe,
    "ann_ivf": q_ann_ivf,
    "embedding_neardup": q_embedding_neardup,
    "emb_centroid": q_emb_centroid,
    "semantic_search": q_semantic_search,
    "semantic_dedup": q_semantic_dedup,
    "knn_join": q_knn_join,
    "knn_join_twophase": q_knn_join_twophase,
    "knn_label_spread": q_knn_label_spread,
    "kmeans_train": q_kmeans_train,
    "ann_ivf_trained": q_ann_ivf_trained,
    "ann_ivf_knn_join": q_ann_ivf_knn_join,
    "ann_ivf_knn_join_probe": q_ann_ivf_knn_join_probe,
    "knn_recall_ivf": q_knn_recall_ivf,
    "knn_recall_ivf_probe": q_knn_recall_ivf_probe,
    "pq_encode": q_pq_encode,
    "ann_pq": q_ann_pq,
    "ann_pq_rerank": q_ann_pq_rerank,
    "ann_ivf_pq": q_ann_ivf_pq,
    # r12: the complete IVFADC + exact re-rank composition
    "ann_ivf_pq_rerank": q_ann_ivf_pq_rerank,
    "knn_recall_pq": q_knn_recall_pq,
    # r13: the batch shape — every vector × compressed index
    "ann_ivf_pq_knn_join": q_ann_ivf_pq_knn_join,
    "knn_recall_ivf_pq": q_knn_recall_ivf_pq,
}
