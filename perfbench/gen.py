"""Seeded input generator for the benchmark.

Every input a workload reads is written here from the workload seed; the
package only ever receives the resulting paths.  Schemas match the
TPC-H-shaped test tables (``region nation customer supplier part orders
lineitem events documents embeddings``) and the value distributions of
``scripts/gen_sf1.py``; row counts are those of the sf0.1 table set.

* ``tables(out, seed)``      — the ten tables at sf0.1 size (``olap``).
* ``shard(out, seed, ...)``  — one curation shard: ``documents`` with
  injected exact and near duplicates, plus ``embeddings`` (``curate``).
* ``ingest_files(...)``      — a base corpus file and a schedule of
  fixed-size document files, a share of them near-duplicating earlier
  documents (``ingest``).

Duplicate shares come from measurements, not from choice: exact copies
at ``EXACT_SHARE``, the rate ``scripts/gen_sf1.py`` injects (80 pairs in
50,000 documents), and near copies at ``NEAR_SHARE``, the share of C4
training documents that NearDup found a near duplicate of (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL 2022,
Table 2).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts (lineitem 600k, the bench scale of the test tables)
SF01 = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "part": 20_000,
    "supplier": 1_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
DAY_US = 86_400_000_000
#: exact-duplicate share of ``scripts/gen_sf1.py`` (80 of 50,000)
EXACT_SHARE = 80 / 50_000
#: near-duplicate share of C4 under NearDup (Lee et al., 2022)
NEAR_SHARE = 0.0304


def _write(out: str, name: str, table: pa.Table) -> str:
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def tables(out: str, seed: int) -> dict[str, int]:
    """Write the ten sf0.1-sized tables under ``out``; return row counts."""
    rng = np.random.default_rng(seed)
    n = SF01
    n_users = n["customer"] // 10
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    ns = n["supplier"]
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
    }))
    nc = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    }))
    npart = n["part"]
    adjs = ["large", "hot", "blue", "red", "small", "green", "cold", "dim"]
    nouns = ["ring", "bolt", "case", "drum", "plate", "wheel", "cap", "rod"]
    names = np.array([f"{a} {b}" for a in adjs for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(npart)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    }))
    no = n["orders"]
    o_start = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
    o_days = (np.datetime64("2001-08-01", "us").astype(np.int64) - o_start) // DAY_US
    odate = o_start + rng.integers(0, o_days + 1, no) * DAY_US
    stat = np.array(["O", "P", "F"])
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": stat[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pri[rng.integers(0, 5, no)],
    }))
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    rf = np.array(["A", "N", "R"])
    ls = np.array(["F", "O"])
    ship = odate[lok] + rng.integers(1, 96, nl) * DAY_US
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rf[rng.integers(0, 3, nl)],
        "l_linestatus": ls[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }))
    ne = n["events"]
    e_start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ets = np.sort(e_start + rng.integers(0, 30 * DAY_US, ne))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))
    _write(out, "documents", _documents(rng, 0, n["documents"], n["documents"] // 600, 0))
    _write(out, "embeddings", _embeddings(rng, n["embeddings"]))
    return dict(n, region=5, nation=25)


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    return [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]


def _near_dup(rng, text: str) -> str:
    """A near duplicate: about one word in twenty replaced."""
    words = text.split(" ")
    for i in np.flatnonzero(rng.random(len(words)) < 0.05):
        words[i] = str(VOCAB[rng.integers(0, len(VOCAB))])
    return " ".join(words)


def _documents(rng, first_id: int, n: int, n_exact: int, n_near: int) -> pa.Table:
    """``n`` documents with ids from ``first_id``; ``n_exact`` exact and
    ``n_near`` near copies of other documents of the table."""
    texts = _texts(rng, n)
    dst = rng.choice(n, n_exact + n_near, replace=False)
    others = np.setdiff1d(np.arange(n), dst)
    for k, j in enumerate(dst):
        src = texts[int(others[rng.integers(0, len(others))])]
        texts[j] = src if k < n_exact else _near_dup(rng, src)
    return _doc_table(rng, first_id, texts)


def _doc_table(rng, first_id: int, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(first_id, first_id + n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    emb = rng.standard_normal((n, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32))),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _dup_counts(n: int) -> tuple[int, int]:
    """Exact and near copies among ``n`` documents at the measured
    shares; at least one of each, so every dedup stage has one to find."""
    return max(1, round(n * EXACT_SHARE)), max(1, round(n * NEAR_SHARE))


def shard(out: str, seed: int, n_docs: int, n_emb: int) -> int:
    """One curation shard: ``documents`` with exact and near duplicates
    at the measured shares, and ``embeddings``.  Returns the document
    count."""
    rng = np.random.default_rng(seed)
    _write(out, "documents", _documents(rng, 0, n_docs, *_dup_counts(n_docs)))
    _write(out, "embeddings", _embeddings(rng, n_emb))
    return n_docs


def ingest_files(
    base_dir: str, staged_dir: str, seed: int,
    n_base: int, n_files: int, docs_per_file: int,
) -> list[str]:
    """Write the base corpus into ``base_dir`` and ``n_files`` scheduled
    files into ``staged_dir``; return the staged paths in landing order.

    File k holds ``docs_per_file`` new document ids.  Across the stream,
    document i is an exact or near copy exactly when the running count
    ``floor((i + 1) * share)`` steps up, so every seed puts the same
    number of copies in the same files and only their text varies.
    Copying only base documents keeps the near-duplicate graph shallow
    on every seed: the label merge's iteration count, and so a batch's
    cost, does not depend on chains the seed happened to draw."""
    rng = np.random.default_rng(seed)
    base = _documents(rng, 0, n_base, *_dup_counts(n_base))
    _write(base_dir, "documents_00000", base)
    seen = base.column("text").to_pylist()

    def steps(i: int, share: float) -> bool:
        return int((i + 1) * share) > int(i * share)

    paths = []
    for k in range(n_files):
        texts = _texts(rng, docs_per_file)
        for j in range(docs_per_file):
            i = k * docs_per_file + j
            if steps(i, EXACT_SHARE):
                texts[j] = seen[int(rng.integers(0, len(seen)))]
            elif steps(i, NEAR_SHARE):
                texts[j] = _near_dup(rng, seen[int(rng.integers(0, len(seen)))])
        t = _doc_table(rng, n_base + k * docs_per_file, texts)
        paths.append(_write(staged_dir, f"documents_{k + 1:05d}", t))
    return paths
