"""Seeded star-schema tables for the analyst and corpus workloads.

The catalog rows in ``testdata_queries`` read ``<sf_dir>/<table>.parquet``
for ``region nation customer supplier part orders lineitem events documents
embeddings``. This module writes those tables with the same schemas and
value domains as the engine's sf0.01 test tables (uniform keys and
measures, TPC-H-style categorical columns, a one-month event stream, short
documents over a small vocabulary, unit-norm 64-d embeddings), so the
benchmark needs nothing outside the repository. The seed moves every value;
row counts are fixed by ``scale``, with sf0.01 at ``scale=0.01``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "new", "old", "red", "small", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
EMBED_DIM = 64
EMBED_LABELS = 10
ORDER_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
EVENT_MONTH = dt.datetime(2024, 1, 1)
TS = pa.timestamp("us")


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days
    base = np.datetime64(first, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def doc_words(doc_id: int) -> int:
    """Words in a generated document: 10-89, fixed by the id, so that only
    the words themselves depend on the seed."""
    return 10 + doc_id * 37 % 80


def doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def near_duplicate(rng, text: str) -> str:
    """The text with one word in twenty replaced by ``dup``: Jaccard-close
    to its source, so the dedup stages pair them."""
    words = text.split()
    for i in rng.choice(len(words), max(1, len(words) // 20), replace=False):
        words[i] = "dup"
    return " ".join(words)


def unit_vectors(rng, n: int, labels: np.ndarray) -> np.ndarray:
    """Unit-norm vectors clustered around one random centroid per label."""
    centroids = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    v = centroids[labels] + 2.0 * rng.normal(size=(n, EMBED_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def write_tables(root: str, seed: int, scale: float, n_docs: int, n_vectors: int) -> dict:
    """Write every table under ``root``; returns the row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_users, n_events = max(150, int(15_000 * scale)), int(1_000_000 * scale)

    _write(root, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(root, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(root, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(root, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(root, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    })
    order_dates = _days(rng, n_ord, *ORDER_DAYS)
    _write(root, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(order_dates, TS),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    _write(root, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, ORDER_DAYS[0] + dt.timedelta(days=1),
                                     ORDER_DAYS[1] + dt.timedelta(days=95)), TS),
    })
    month_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64(EVENT_MONTH, "us").astype(np.int64)
    _write(root, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), TS),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })
    texts = [doc_text(rng, doc_words(i)) for i in range(n_docs)]
    for i in range(n_docs // 10, n_docs, 10):  # every tenth doc repeats an earlier one
        texts[i] = near_duplicate(rng, texts[i // 2])
    _write(root, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, EMBED_LABELS, n_vectors).astype(np.int32)
    vecs = unit_vectors(rng, n_vectors, labels)
    _write(root, "embeddings", {
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_line, "events": n_events, "documents": n_docs, "embeddings": n_vectors}
