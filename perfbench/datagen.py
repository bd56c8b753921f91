"""Deterministic input tables for the benchmark.

Writes the ten base tables the engine reads (see ``tables.TABLE_NAMES``) at
the sf0.1 shape: the same column names, parquet types and value domains as
the engine's test data, drawn from a fixed-seed numpy generator so every
checkout produces byte-identical files. The benchmark's ``--seed`` never
reaches this module: it varies the order and the write batches of a run,
while the tables (and the derived-table caches the engine builds from them)
stay fixed, so the caches are built once per checkout.

Usage: ``python3 perfbench/datagen.py <out_dir>``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
# Row counts of the sf0.1 tables.
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_US = np.timedelta64(1, "us")


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    keys = np.arange(N_PART)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]
        ),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    n = N_LINEITEM
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    n = N_EVENTS
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": start + np.sort(rng.integers(0, span_us, n)) * _US,
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng)
    vecs = rng.normal(0.0, 1.0, (N_EMBEDDINGS, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
    })
    return t


def _documents(rng) -> pa.Table:
    """Bag-of-words texts: 5% are another document plus a `` dup`` suffix
    (near-duplicates) and a few are exact copies, so the dedup operators
    have something to find."""
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        for _ in range(N_DOCUMENTS)
    ]
    near = rng.choice(N_DOCUMENTS, N_DOCUMENTS // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    exact = rng.choice(np.setdiff1d(np.arange(N_DOCUMENTS), near), 16, replace=False)
    for src, dst in zip(exact[:8], exact[8:]):
        texts[dst] = texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCUMENTS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def ensure_tables(out_dir: str) -> bool:
    """Write the tables into ``out_dir`` unless a complete set is there.
    Returns True when it wrote them. The ``_DONE`` marker is written last,
    so an interrupted run is regenerated, never half-read."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return False
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables()
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    with open(done, "w") as fh:
        json.dump({"seed": DATA_SEED,
                   "rows": {k: v.num_rows for k, v in tables.items()}}, fh)
    return True


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: datagen.py <out_dir>")
    ensure_tables(sys.argv[1])
