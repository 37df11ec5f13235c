"""Deduplication operators for LLM training-data pipelines.

Four families, each idiomatic Spark with a DuckDB oracle twin built
from identical deterministic arithmetic:

exact        hash-groupBy on md5(text) — one shuffle on the digest.
minhash_lsh  shingle→minhash→band→bucket-join.  Signatures are
             map-only Arrow/numpy UDF work (no explode, no shuffle);
             only the band-bucket self-join shuffles, on the band key.
             This is the shape that survives 100 TB: candidate pairs
             ≈ true near-dups, never O(n²).  The band table persists
             BUCKETED on the band key (``build_band_index``): full
             regeneration self-joins with zero Exchange, and ingest
             batches broadcast-probe it (``probe_band_index``;
             streaming twin in ``streaming.dedup``).
simhash      per-bit affine-hash votes over the shingle-hash set
             (map-only numpy UDF); near-dup pairs by hamming distance
             over a self-join blocked on the hash's high 16 bits.
ngram_jaccard EXACT 3-gram Jaccard via the AllPairs/PPJoin prefix
             filter (hash-keyed candidates, string-array verify);
             the pair table materializes once per corpus per session
             (``near_dup_edges``) and feeds the whole family below.
dedup_cc     transitive components over the jaccard edges (endpoint-
             restricted min-label propagation) + greedy
             `dedup_survivors` + quality-aware `keep_best`.
span ops     rolling-window hashes: `dup_spans` (detection),
             `dup_span_frac` (drop rule), `excise_spans` (surgical
             removal), `decontaminate` (train/eval overlap).

Cross-engine determinism: the word hash is an affine combo of
codepoints (see ``text.word_hash``); all arithmetic stays < 2^53 so
Spark longs and DuckDB BIGINTs agree exactly.  Swap ``F.xxhash64``
in production when no oracle twin is required.
"""


# r8 (VERDICT r7 item 6): the implementation moved into five focused
# modules along the family seams — ``dedup_core`` (barriers + session
# state cache), ``dedup_sketch`` (minhash/LSH/band-index/simhash/
# PPJoin), ``dedup_state`` (edges, connected components, label state,
# analytics), ``dedup_spans`` (window hashes, excision,
# decontamination), ``dedup_ingest`` (keep_best + the stateful ingest
# cycle), ``dedup_oracles`` (the DuckDB twins).  This module remains
# the import surface: every name that lived here pre-split is
# re-exported below, so callers (streaming, clean, tests, the driver
# entry) are unaffected.  Pure move — no query changed name, plan, or
# oracle; the full sf0.01 parity sweep is the regression gate.

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import py_word_hash, word_hash

from .dedup_core import (  # noqa: F401
    BAND_BUCKETS,
    DURABLE_MATERIALIZE,
    _STATE_CACHE,
    _clear_barrier_backed_state,
    _fallback_checkpoint_dir,
    _process_state_dir,
    _register_barrier_cache,
    _same_corpus,
    _session_cached,
    _state_table,
    _state_table_dir,
    dedup_config_salt,
    docs_state_key,
    evict_state,
    evict_state_entry,
    materialize,
)
from .dedup_sketch import (  # noqa: F401
    INCR_MOD,
    JACCARD_T,
    MH_BANDS,
    MH_K,
    MH_MOD,
    SH_BITS,
    SH_BLOCK,
    SH_M,
    SH_MOD,
    SH_P,
    SHINGLE_N,
    _band_exploded,
    _band_index_for,
    _checkpointed_bands,
    _checkpointed_sigs,
    _minhash_sig_expr,
    _perm,
    _shingle_hashes,
    _sig_pair_stats,
    _strong_shingle_hashes,
    _with_pair_stats,
    build_band_index,
    drop_shingle_arrs,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    minhash_pairs_from_index,
    minhash_signatures,
    ngram_jaccard_pairs,
    ngram_shingles,
    ngram_shingles_udf,
    probe_band_index,
    q_dedup_exact,
    q_dedup_minhash,
    q_dedup_minhash_bucketed,
    q_dedup_minhash_incr,
    q_simhash,
    q_simhash_pairs,
    simhash,
)
from .dedup_state import (  # noqa: F401
    AUTO_ROUTE_MAX_CAND_PER_DOC,
    _edge_state_for,
    _label_state_for,
    _old_label_state_for,
    _read_docs,
    connected_components,
    cross_source_overlap,
    dedup_text_auto,
    near_dup_edges,
    q_cross_source_overlap,
    q_dedup_cc,
    q_dedup_cc_incr,
    q_dedup_survivors,
    q_dedup_text_auto,
    q_dup_cluster_sizes,
    q_ngram_jaccard,
    q_split_by_cluster,
    relabel,
    relabel_map,
    route_text_dedup,
)
from .dedup_spans import (  # noqa: F401
    DUP_FRAC_T,
    EVAL_SOURCE,
    SPAN_W,
    _py_window_hashes,
    _window_hashes_expr,
    q_decontaminate,
    q_doc_novelty,
    q_dup_span_frac,
    q_dup_spans,
    q_excise_spans,
    window_hash_udf,
)
from .dedup_ingest import (  # noqa: F401
    DECON_NM,
    MH_DUP_NM,
    _mh_old_label_state_for,
    commit_label_state,
    fold_edges_into_labels,
    ingest_docs_batch,
    keep_best,
    q_decontaminate_fuzzy,
    q_dedup_keep_best,
    q_pipeline_incr_stateful,
)
from .dedup_oracles import (  # noqa: F401
    ORACLE,
    SQL_NGRAM_DROPPED_CTES,
    SQL_NGRAM_PAIR_CTES,
    SQL_SPAN_CTES,
    _SQL_SHINGLE_HS,
    _SQL_SHINGLE_SRC,
    _SQL_WH,
    _SQL_WHS_ORDERED,
    _decontaminate_fuzzy_oracle,
    _mh_cc_lab_ctes,
    _minhash_incr_oracle,
    _minhash_oracle,
    _minhash_sig_sql,
    _pipeline_incr_stateful_oracle,
    _simhash_expr_sql,
    _simhash_oracle,
    _simhash_pairs_oracle,
    _sql_span_hash,
    mh_cc_labels_oracle,
)

QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_minhash_incr": q_dedup_minhash_incr,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    # r12: probe-routed text dedup — PPJoin when the candidate bound
    # is ≈ linear, minhash-LSH when the density says exact would
    # explode; the route literal makes the decision hash-checked
    "dedup_text_auto": q_dedup_text_auto,
    "dedup_survivors": q_dedup_survivors,
    "dup_spans": q_dup_spans,
    "dup_span_frac": q_dup_span_frac,
    "doc_novelty": q_doc_novelty,
    "excise_spans": q_excise_spans,
    "decontaminate": q_decontaminate,
    "decontaminate_fuzzy": q_decontaminate_fuzzy,
}

#: entries that need (spark, sf_dir) directly (persisted-table state)
QUERIES_SPARK = {
    "dedup_minhash_bucketed": q_dedup_minhash_bucketed,
    "dedup_cc": q_dedup_cc,
    # r8: the leakage audit reads the persisted pair state (recurring
    # read of held state in production) — moved from QUERIES so the
    # entry can reach the state tables; same name, same oracle
    "cross_source_overlap": q_cross_source_overlap,
    "dup_cluster_sizes": q_dup_cluster_sizes,
    "dedup_cc_incr": q_dedup_cc_incr,
    # leakage-free holdout over the CC labels (r11) — the generic
    # splitter lives in pack.py; the composition reads label STATE
    "split_by_cluster": q_split_by_cluster,
    "dedup_keep_best": q_dedup_keep_best,
    "pipeline_incr_stateful": q_pipeline_incr_stateful,
}
