"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the gate registry reads (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the column names, types and value distributions of the
project's standard test-data layout.  Row counts scale with ``sf``:
at ``sf=0.01`` lineitem has 60,000 rows.

The tables depend only on ``sf`` and ``data_seed``, so every run of the
benchmark reads identical bytes and the DuckDB oracle sees exactly the
data Spark sees.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, data_seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(data_seed)
    n_cust = max(int(150_000 * sf), 10)
    n_orders = int(1_500_000 * sf)
    n_lines = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    n_events = int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    d1995 = 9131  # 1995-01-01 as days since 1970-01-01

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _ts(d1995 + rng.integers(0, 2404, n_orders)),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts(d1995 + 1 + rng.integers(0, 2499, n_lines)),
    })

    # events: one stream over 30 days, strictly increasing timestamps
    gaps = rng.exponential(30 * _DAY_US / n_events, n_events).astype("int64") + 1
    t0 = (d1995 + 10592) * _DAY_US  # 2024-01-01
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # documents: bag-of-words texts; 5% are near-duplicates of an
    # earlier document (one word replaced by "dup"), a few are exact
    # copies, so the dedup kernels find real clusters
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n_words)))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    vecs = rng.normal(size=(n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32"),
    })
    return out


def write(sf_dir: str, sf: float, data_seed: int = 42) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables(sf, data_seed).items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
