"""Seeded input tables for the benchmark, written as one parquet file each.

The shapes follow the engine's sf0.1 fixtures: TPC-H-like customer, orders
and lineitem tables (600k lineitem rows, keyed to 20k parts and 1k
suppliers), a document corpus with planted near-duplicates and 64-dim
embeddings. The same seed always gives the same bytes; another seed draws
new values from the same distributions, so plans and job counts stay
comparable across seeds.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
N_CUSTOMERS, N_ORDERS = int(150_000 * SCALE), int(1_500_000 * SCALE)
N_PARTS, N_SUPPLIERS = int(200_000 * SCALE), int(10_000 * SCALE)
#: the corpus is smaller than sf0.1's 5000 documents: the DuckDB oracle of
#: the n-gram Jaccard join, which every run checks, grows with it
N_DOCS = 2000
N_VECTORS, VEC_DIM = int(20_000 * SCALE), 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast"
).split()
_DAY_US = 86_400_000_000


def _days(rng, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, span_days + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _customer(r) -> dict:
    n = N_CUSTOMERS
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(r, n, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n)],
    }


def _orders(r) -> dict:
    n = N_ORDERS
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMERS, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r, n, 1000.0, 500000.0),
        "o_orderdate": _days(r, n, "1995-01-01", 2404),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n)],
    }


def _lineitem(r) -> dict:
    per_order = np.clip(r.binomial(16, 0.25, N_ORDERS), 1, None)
    n = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = r.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": np.repeat(np.arange(N_ORDERS, dtype=np.int64), per_order),
        "l_partkey": r.integers(0, N_PARTS, n).astype(np.int64),
        "l_suppkey": r.integers(0, N_SUPPLIERS, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _days(r, n, "1995-01-02", 2498),
    }


def _documents(r) -> dict:
    n, vocab = N_DOCS, np.array(_VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))]) for _ in range(n)]
    # planted duplicates: 5% near-duplicates (an earlier document plus one
    # marker word) and a handful of exact copies
    for i in r.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n // 2))] + " dup"
    for i in r.choice(np.arange(n // 2, n), 8, replace=False):
        texts[i] = texts[int(r.integers(0, n // 2))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(r) -> dict:
    vecs = r.normal(0.0, 0.12, (N_VECTORS, VEC_DIM)).astype(np.float32)
    return {
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, N_VECTORS).astype(np.int32),
    }


TABLES = {
    "customer": _customer, "orders": _orders, "lineitem": _lineitem,
    "documents": _documents, "embeddings": _embeddings,
}


def generate(out_dir: str, seed: int, tables=tuple(TABLES)) -> None:
    """Write the requested tables under ``out_dir``. Every table draws from
    its own stream of (seed, table name), so a table's bytes do not depend
    on which other tables are asked for."""
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        pq.write_table(pa.table(TABLES[name](rng)), os.path.join(out_dir, f"{name}.parquet"))
