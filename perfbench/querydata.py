"""Seeded generator for the star-schema tables the headline queries read.

The headline queries (``HEADLINE`` in ``serve.py``) read ten parquet
tables: a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), a click ``events`` log, a ``documents`` corpus
and an ``embeddings`` table.  This module writes all ten, with the column
names, types and value domains the queries and their DuckDB oracles
expect, from one integer seed.  The corpus carries deliberate
near-duplicate documents, near-duplicate vectors and a few planted
credentials, so the dedup, ANN and secret-scan queries return rows.

Sizes are small (about 6k line items): at this size every query's time
is dominated by the engine's fixed per-query work (planning, codegen,
shuffles, Python workers), which is what the serve workload measures.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Row counts: 150 customers, 1.5k orders and about 6k line items, the
# shape of the engine's sf0.001 test data.
N_CUSTOMERS = 150
N_SUPPLIERS = 10
N_PARTS = 200
N_ORDERS = 1500
N_EVENTS = 1000
N_DOCUMENTS = 500  # also the number of embedding vectors

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "shiny", "old"]
_PART_NOUN = ["widget", "bolt", "rod", "gear", "valve", "panel", "spring", "nut"]
_PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_SECRETS = [
    "AKIA" + "ABCDEFGHIJKLMNOP",
    "ghp_" + "a1B2c3D4e5F6g7H8i9J0k1L2m3N4o5P6q7R8",
    "xoxb-" + "1234567890-abcdef",
]


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    lo_us = int(dt.datetime.fromisoformat(lo).timestamp() * 1e6)
    hi_us = int(dt.datetime.fromisoformat(hi).timestamp() * 1e6)
    days = rng.integers(0, (hi_us - lo_us) // 86_400_000_000, n)
    return pa.array(lo_us + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.12:
            # near-duplicate of an earlier document: a few words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
            text = " ".join(toks)
        else:
            k = int(rng.integers(8, 90))
            text = " ".join(rng.choice(_WORDS, k))
        if r > 0.95:
            text += " dup"
        if 0.5 < r < 0.53:
            text += " token " + _SECRETS[i % len(_SECRETS)]
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.normal(size=(n, dim)).astype(np.float32)
    for i in range(10, n, 9):  # a near-duplicate of an earlier vector
        x[i] = x[int(rng.integers(0, i))] + 0.3 * rng.normal(size=dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int) -> str:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = N_CUSTOMERS, N_SUPPLIERS, N_PARTS, N_ORDERS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                    for _ in range(n_part)
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
            ),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000)),
            "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string()),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), per_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(rng, n_li, 900, 2100), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li), pa.string()),
            "l_shipdate": _ts(rng, n_li, "1995-01-01", "2001-11-04"),
        }
    )
    n_ev = N_EVENTS
    t0 = int(dt.datetime(2024, 1, 1).timestamp() * 1e6)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(_money(rng, n_ev, 0, 490)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    tables["documents"] = _documents(rng, N_DOCUMENTS)
    tables["embeddings"] = _embeddings(rng, N_DOCUMENTS)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
