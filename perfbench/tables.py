"""Seeded star-schema tables for the query-mix workload, written without
Spark.

The eight headline queries read ``lineitem orders customer supplier
nation region events documents embeddings``; the DuckDB oracle views
every table in ``fastobo_py_spark.sources.tables.TABLES``, so ``part``
is written too. ``scale`` 1 gives the row counts of the sf0.01 test
tables (60k line items). Values are drawn so that the top-k queries
have no ties the two engines could break differently: prices and
embeddings are continuous, and window orders carry a unique key.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small customer query big stream group filter "
    "der die und le la et el los y"
).split()
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            # near duplicate of an earlier document: a few words swapped
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            toks = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 80)))]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (n_labels, dim))
    label = rng.integers(0, n_labels, n)
    vecs = (centers[label] + rng.normal(0, 0.8, (n, dim))) / np.sqrt(dim)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_orders, n_users = int(15000 * scale), int(150 * scale)
    n_events, n_docs, n_vecs = int(10000 * scale), int(500 * scale), int(500 * scale)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [["ECONOMY", "SMALL", "LARGE"][k] for k in rng.integers(0, 3, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][k] for k in rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, n_orders) * _DAY_US),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": qty * rng.integers(3600, 8400, n_li) / 4,
            "l_discount": rng.integers(0, 4, n_li) / 32,
            "l_tax": rng.integers(0, 3, n_li) / 32,
            "l_returnflag": [["A", "N", "R"][k] for k in rng.integers(0, 3, n_li)],
            "l_linestatus": [["F", "O"][k] for k in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_li) * _DAY_US),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_events))),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": [_EVENTS[k] for k in rng.integers(0, 5, n_events)],
            "value": _money(rng, 0, 50, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
