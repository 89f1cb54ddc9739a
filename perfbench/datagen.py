"""Seeded input tables for the benchmark, written as parquet.

``documents`` and ``embeddings`` are rows of the engine's sf0.1 test
corpus, committed unchanged under ``perfbench/data/``; each file's sha256
is checked before use. A workload takes either the whole tables or a
seeded sample of a fixed number of documents, always in a seeded row
order, so no workload can depend on row order. Small star-schema tables
are generated so that ``catalog.register_views`` finds every table it
registers; no workload reads them. The same seed gives the same rows in
the same order.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF01_SHA256 = {
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}


def sf01_table(name: str) -> pa.Table:
    """The committed sf0.1 table ``name``; fails if the file changed."""
    path = os.path.join(DATA_DIR, f"{name}.parquet")
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    if digest != SF01_SHA256[name]:
        raise ValueError(f"{path}: sha256 {digest} is not that of the sf0.1 table")
    return pq.read_table(path)


def corpus(rng: np.random.Generator, n_docs: int | None) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings``: all of sf0.1 when ``n_docs`` is
    None, else a seeded sample of ``n_docs`` documents.

    In sf0.1 the vector with ``vec_id`` i belongs to the document with
    ``doc_id`` i, and 2 in 5 documents have one. A sample keeps both: it
    draws that share of its documents from those with a vector and keeps
    exactly their vectors."""
    docs, embs = sf01_table("documents"), sf01_table("embeddings")
    if n_docs is not None:
        ids = docs.column("doc_id").to_numpy()
        vec_ids = embs.column("vec_id").to_numpy()
        has_vec = np.isin(ids, vec_ids)
        n_with = round(n_docs * has_vec.mean())
        with_vec = rng.choice(ids[has_vec], n_with, replace=False)
        keep = np.concatenate([with_vec, rng.choice(ids[~has_vec], n_docs - n_with, replace=False)])
        docs = docs.filter(pa.array(np.isin(ids, keep)))
        embs = embs.filter(pa.array(np.isin(vec_ids, with_vec)))
    return {name: t.take(rng.permutation(t.num_rows))
            for name, t in (("documents", docs), ("embeddings", embs))}


def _star_schema(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Small star-schema tables: present so every view registers, not
    read by any workload."""
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 150, 10, 200, 1500, 6000, 1000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": [f"REGION{i}" for i in range(5)],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(0, 1e4, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(["AUTO", "BUILD", "HOUSE"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(0, 1e4, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": pa.array(rng.choice(["Brand#1", "Brand#2"], n_part)),
            "p_type": pa.array(rng.choice(["STEEL", "TIN", "COPPER"], n_part)),
            "p_size": pa.array(rng.integers(1, 50, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(1, 2e3, n_part), 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1, 5e5, n_ord), 2)),
            "o_orderdate": pa.array(t0 + rng.integers(0, 10**6, n_ord) * 10**6),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "5-LOW"], n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
            "l_extendedprice": pa.array(np.round(rng.uniform(1, 1e5, n_line), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": pa.array(t0 + rng.integers(0, 10**6, n_line) * 10**6),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(t0 + rng.integers(0, 10**6, n_ev) * 10**6),
            "user_id": pa.array(rng.integers(0, 100, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(["view", "click", "buy"], n_ev)),
            "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
            "props": pa.array(['{"k": 1}'] * n_ev),
        }),
    }


def write_corpus(out_dir: str, seed: int, n_docs: int | None) -> str:
    """Write every table of the corpus under ``out_dir`` and return it."""
    rng = np.random.default_rng(seed)
    tables = corpus(rng, n_docs)
    tables.update(_star_schema(rng))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
