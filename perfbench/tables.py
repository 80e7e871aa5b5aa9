"""Seeded generator for the scale tables the query workloads read.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the schemas and
value distributions of the repository's ``sf`` test tables: a
TPC-H-like star schema, a month of click events, a word-salad document
corpus in which one document in twenty is a copy of another with a
``dup`` marker appended, and unit-norm 64-dimensional embeddings.
Row counts scale linearly with ``sf`` (``sf=0.1`` gives 600k lineitem
rows, 5k documents, 2k embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIMS = 64


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # one document in twenty repeats an earlier one, marked "dup"
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    vecs = rng.standard_normal((n, EMB_DIMS)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                        rng.choice(PART_NOUN, n_part))
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, int(50_000 * sf)))
    _write(out_dir, "embeddings", _embeddings(rng, int(20_000 * sf)))
    return {
        "lineitem": n_line, "orders": n_ord, "events": n_ev,
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }
