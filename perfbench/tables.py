"""Seeded generator for the analytics tables the query mix reads.

Same physical schema as the project's test tables (TPC-H-style star schema
plus ``events``, ``documents`` and ``embeddings``; see FIXTURES.md), written
as one parquet file per table so ``sources.tables.load_table`` reads them
unchanged.  ``scale`` = 1.0 gives 1,500 customers, 15,000 orders,
~60,000 lineitems, 10,000 events, 500 documents and 500 embeddings.

Documents carry planted exact and near duplicates (one word substituted in
a long text, word 3-gram Jaccard ~0.9) so the dedup operators find pairs;
every other pair of texts is far below the 0.5 threshold, so the banded
MinHash answer equals the exact one on every seed.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash spark line sort "
         "window merge batch order data column join small customer query big "
         "filter group vector stream").split()

# tables the query mix reads (``part`` is not among them)
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents", "embeddings")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, start: datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.015:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 20 and r < 0.03:  # near duplicate: one word substituted
            src = [t for t in texts[-20:] if len(t.split()) >= 50]
            if src:
                words = src[int(rng.integers(0, len(src)))].split()
                k = len(words) // 2
                words[k] = "dedup" if words[k] != "dedup" else "near"
                texts.append(" ".join(words))
                continue
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    return texts


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(1500 * scale), max(25, int(100 * scale))
    n_ord, n_ev = int(15000 * scale), int(10000 * scale)
    n_docs, n_emb, n_users = int(500 * scale), int(500 * scale), int(150 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    odate = _days(rng, n_ord, datetime(1995, 1, 1), 2404)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    per_order = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord), per_order)
    n_li = len(lkey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    ship = odate[lkey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    # distinct microsecond offsets: no two events share a timestamp, so
    # every per-user ordering is total
    offs = np.sort(rng.choice(30 * 86400 * 10**6, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 20, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li, "events": n_ev,
            "documents": n_docs, "embeddings": n_emb}


def duckdb_views(con, tables_dir: str) -> None:
    """Register every generated table as a DuckDB view for the oracles."""
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
