"""Seeded generator for the ten batch tables the query suite reads.

The tables have the column names, types and value domains of the
engine's sf0.1 test tables (a slimmed TPC-H star schema plus ``events``,
``documents`` and ``embeddings``), so every query in ``batch.QUERIES``
and its DuckDB oracle run unchanged on them.  The same seed writes the
same bytes.  Row counts scale linearly with ``sf``; ``sf=0.1`` gives
600k lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
_NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "pipe"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EMB_DIM = 64
_US_PER_DAY = 86_400_000_000


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(d * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    # a few exact and near duplicates, so the dedup operators have work
    for i in rng.choice(n, max(1, n // 500), replace=False):
        texts[i] = texts[(i + 1) % n]
    for i in rng.choice(n, max(1, n // 20), replace=False):
        texts[i] = texts[i] + " dup"
    n_sources = max(1, n // 250)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)].tolist()),
        "source": pa.array([f"src{i % n_sources}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, _EMB_DIM))
    v = centers[labels] + rng.normal(scale=0.8, size=(n, _EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<table>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }
    n_event_users = max(1, n["customer"] // 10)
    names = np.array([f"{c} {w}" for c in _COLORS for w in _NOUNS])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array(_keyed_names("Customer", n["customer"])),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n["customer"], -999.99, 9999.99)),
            "c_mktsegment": pa.array(
                np.array(_SEGMENTS)[rng.integers(0, 5, n["customer"])].tolist()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array(_keyed_names("Supplier", n["supplier"])),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n["supplier"], -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array(names[rng.integers(0, len(names), n["part"])].tolist()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": pa.array(np.array(_TYPES)[rng.integers(0, 6, n["part"])].tolist()),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])].tolist()),
            "o_totalprice": pa.array(_money(rng, n["orders"], 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(
                np.array(_PRIORITIES)[rng.integers(0, 5, n["orders"])].tolist()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"], dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"], dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"], dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n["lineitem"], 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])].tolist()),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])].tolist()),
            "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + np.sort(rng.integers(0, 30 * _US_PER_DAY, n["events"], dtype=np.int64)),
                pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_event_users, n["events"], dtype=np.int64)),
            "event_type": pa.array(
                np.array(_EVENT_TYPES)[rng.integers(0, 5, n["events"])].tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
