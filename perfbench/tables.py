"""Seeded generator for the query_mix input tables.

Writes the ten tables ``icechunk_spark.catalog.TABLES`` names, with the
value domains of the test data at sf0.01 row counts (60k lineitem rows,
1000 documents, 500 64-d embeddings), as one parquet file each.  Every
table follows ``seed``.  At this size the DuckDB oracles of all queries take seconds,
so each run checks its results against freshly computed oracles.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01

N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_LINEITEM = int(6_000_000 * SF)
N_EVENTS = 10_000
N_DOCS = 1_000
N_VECS = 500
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (seconds * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tpch(rng) -> dict[str, pa.Table]:
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                "c_name": _names("Customer", N_CUSTOMER),
                "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                "s_name": _names("Supplier", N_SUPPLIER),
                "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
    }
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), N_PART)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, N_PART)],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), N_PART)],
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
        }
    )
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, span_days, N_ORDERS) * 86400),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": np.round(rng.uniform(0.0, 0.1, N_LINEITEM), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, N_LINEITEM), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, span_days + 94, N_LINEITEM) * 86400),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    out["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts("2024-01-01", secs),
            "user_id": rng.integers(0, 1500, N_EVENTS),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    return out


def _corpus(rng) -> dict[str, pa.Table]:
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.004:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:  # near duplicate: a few words replaced, one marker
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = "dup"
            texts.append(" ".join(toks))
            continue
        texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    docs = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.standard_normal((10, DIM))
    vecs = centers[labels] + 1.5 * rng.standard_normal((N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table under ``out_dir``, an sf directory in the
    layout ``catalog.load_tables`` reads."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in (_tpch(rng) | _corpus(rng)).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
