"""Seeded TPC-H-ish dataset for the analytics mix.

Writes the ten parquet tables the registered queries read (the schema
of the program's test fixtures: region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) at a given
scale factor. Row counts follow the fixture convention (lineitem is
6M x sf); values are drawn from the same domains, so every query runs
its normal plan. Nothing here imports the program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
P_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
P_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype="int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype="int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype="int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line, dtype="int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_line) * DAY_US),
    })
    ev_ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(150, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(VOCAB, int(n))) for n in rng.integers(10, 100, n_doc)]
    # a slice of near-duplicates (one word swapped), as in the fixtures
    for i in range(0, n_doc - 1, 20):
        words = texts[i].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[i + 1] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    centers = rng.normal(0, 0.15, (10, 64))
    label = rng.integers(0, 10, n_vec, dtype="int32")
    vecs = (centers[label] + rng.normal(0, 0.05, (n_vec, 64))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label,
    })
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
