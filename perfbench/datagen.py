"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables the registry queries read (`region nation
customer supplier part orders lineitem events documents embeddings`) in
the same schemas, key domains and value shapes as the engine's test data,
scaled by `sf` (sf=1 ≈ 6M lineitem rows). Everything is a pure function of
(seed, sf): the same arguments give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
DIM = 64
N_LABELS = 10


def _ts(base: str, seconds: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")).astype("datetime64[us]")


def _days(base: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "D") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema | None = None) -> None:
    table = pa.table(cols, schema=schema) if schema is not None else pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under `out_dir`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_orders = max(int(1_500_000 * sf), 100)
    n_lines = max(int(6_000_000 * sf), 400)
    n_events = max(int(1_000_000 * sf), 1_000)
    n_docs = max(int(50_000 * sf), 50)
    n_vecs = max(int(20_000 * sf), 100)
    i32 = pa.int32()

    _write(out_dir, "region", {"r_regionkey": pa.array(np.arange(5), i32), "r_name": REGIONS})
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
    )
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    retail = 900.0 + np.round((np.arange(n_part) % 1000) / 10.0, 1)
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": retail,
        },
    )
    odate_days = rng.integers(0, 2404, n_orders)
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
            "o_orderdate": _days("1995-01-01", odate_days),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        },
    )
    l_order = np.sort(rng.integers(0, n_orders, n_lines))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_lines), 0))
    linenumber = (np.arange(n_lines) - run_start) % 7 + 1
    perm = rng.permutation(n_lines)
    l_part = rng.integers(0, n_part, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": l_order[perm],
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": pa.array(linenumber[perm], i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 2.33, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": _days("1995-01-02", np.clip(odate_days[l_order[perm]] + rng.integers(-2400, 2500, n_lines), 0, 2498)),
        },
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts("2024-01-01", secs),
            "user_id": rng.integers(0, max(n_cust // 10, 10), n_events),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    )
    texts = _text(rng, n_docs)
    # 5% near-duplicates: an earlier document's text plus one marker token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(
        out_dir,
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    labels = rng.integers(0, N_LABELS, n_vecs)
    centers = rng.normal(0, 0.07, (N_LABELS, DIM))
    vecs = centers[labels] + rng.normal(0, 1.0, (n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        },
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_orders,
        "lineitem": n_lines, "events": n_events, "documents": n_docs, "embeddings": n_vecs,
    }


if __name__ == "__main__":
    import sys
    import time

    t0 = time.perf_counter()
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])), f"{time.perf_counter() - t0:.2f}s")
