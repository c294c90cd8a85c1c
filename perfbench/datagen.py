"""Seeded generator for the query workloads' input tables.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one single-row-group parquet file each, with the schemas and value
distributions of the package's reference test data. Row counts follow
TPC-H's per-scale-factor sizes; the corpus tables have floors so a tiny
scale still exercises the text and vector operators.

Everything is drawn from one ``numpy`` generator seeded with ``seed``:
the same seed writes byte-identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.15, 0.15, 0.1, 0.1]
EMBED_DIM = 64
N_LABELS = 10

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _days(rng: np.random.Generator, n: int, lo: datetime, hi: datetime) -> np.ndarray:
    """``n`` midnight timestamps uniform over [lo, hi], as datetime64[us]."""
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    return np.datetime64(lo, "D") + d.astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for scale factor ``sf`` under ``out_dir``.

    Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(150_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
    })
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))], s
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_ord), 2), f64),
        "o_orderdate": pa.array(
            _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)), ts
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
    })
    # most orders get a handful of lines; ~0.3% are bulk orders with
    # enough lines for TPC-H Q18's SUM(quantity) > 300 to select them
    okey = rng.integers(0, n_ord, n_line)
    bulk = rng.integers(0, n_ord, max(1, n_ord // 300))
    okey[: 16 * len(bulk)] = np.repeat(bulk, 16)
    okey.sort(kind="stable")
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    linenumber = np.arange(n_line) - np.repeat(first, np.diff(np.r_[first, n_line])) + 1
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(linenumber, i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(
            _days(rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4)), ts
        ),
    })
    month_us = 30 * 86_400 * 1_000_000
    evt_ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(evt_ts.astype("datetime64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), s),
        "value": pa.array(np.round(rng.exponential(40.0, n_evt), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s),
    })
    lengths = rng.integers(10, 101, n_doc)
    words = rng.choice(WORDS, int(lengths.sum()))
    bounds = np.r_[0, np.cumsum(lengths)]
    docs = [list(words[bounds[i]: bounds[i + 1]]) for i in range(n_doc)]
    # 5% of documents are near-copies of an earlier one (two words
    # replaced), so the dedup operators have pairs to find
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i == 0:
            continue
        copy = list(docs[rng.integers(0, i)])
        for j in rng.integers(0, len(copy), 2):
            copy[j] = rng.choice(WORDS)
        docs[i] = copy
    texts = [" ".join(d) for d in docs]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, N_LABELS, n_vec)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_doc, "embeddings": n_vec,
    }
