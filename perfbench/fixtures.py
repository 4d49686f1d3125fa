"""Seeded synthetic fixture tables for the query workloads.

The tables follow the schemas and value domains of the engine's fixture
contract (FIXTURES.md): a TPC-H-ish star schema, the ``events`` stream table,
and the ``documents``/``embeddings`` corpus tables. Only the tables the
benchmark's queries read are generated. The same seed and sizes always give
byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_TOKEN = "dup"
DUP_SHARE = 0.05  # documents that repeat an earlier one plus DUP_TOKEN
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMBED_DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days
    day_us = 86_400_000_000
    us = _us(lo) + rng.integers(0, span + 1, n) * day_us
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    })


def orders(rng, n, n_customers):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem(rng, n, n_orders, n_parts, n_suppliers):
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_suppliers, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })


def events(rng, n, n_users):
    """Event times are strictly increasing over 30 days from 2024-01-01, so
    every (user, ts) pair is unique, as in the engine's fixture."""
    start = _us(dt.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    ts = start + np.sort(rng.choice(span, n, replace=False))
    value = np.maximum(np.round(rng.exponential(60.0, n), 2), 0.01)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, n):
    """Word-soup documents over a fixed vocabulary; DUP_SHARE of them are an
    earlier document plus a trailing ``dup`` token (near-duplicates for the
    dedup jobs)."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP_TOKEN)
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    """Unit-norm float32 vectors scattered around one centroid per label."""
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    x = 0.35 * centroids[label] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_fixture(out_dir: str, seed: int, sizes: dict[str, int]) -> list[str]:
    """Write the tables named in ``sizes`` (table -> row count) as
    ``<out_dir>/<table>.parquet``; returns the table names written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_customers = sizes.get("customer", 1500)
    n_orders = sizes.get("orders", 15000)
    # TPC-H ratios: 10 000 suppliers and 200 000 parts per 6 M lineitems
    n_suppliers = max(100, sizes.get("lineitem", 0) // 600)
    n_parts = max(2000, sizes.get("lineitem", 0) // 30)
    makers = {
        "customer": lambda n: customer(rng, n),
        "orders": lambda n: orders(rng, n, n_customers),
        "lineitem": lambda n: lineitem(rng, n, n_orders, n_parts, n_suppliers),
        "events": lambda n: events(rng, n, max(1, n // 66)),
        "documents": lambda n: documents(rng, n),
        "embeddings": lambda n: embeddings(rng, n),
    }
    unknown = set(sizes) - set(makers)
    if unknown:
        raise ValueError(f"no generator for tables {sorted(unknown)}")
    for name in sorted(sizes):
        pq.write_table(makers[name](sizes[name]), os.path.join(out_dir, f"{name}.parquet"))
    return sorted(sizes)
