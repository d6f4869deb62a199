"""Seeded analytics tables in the shape of the engine's test data.

The registry's queries read parquet tables from one directory: a
TPC-H-like star (``region nation customer supplier orders lineitem``),
an ``events`` click stream, a ``documents`` text corpus and an
``embeddings`` table.  This writes the same schemas and value shapes at
about the smallest test scale (1,500 orders, 6,000 line items), so the
benchmark needs no data outside its checkout.  Timestamps are
microsecond parquet timestamps without a zone, as in the test data.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 150
N_SUPPLIERS = 10
N_PARTS = 200
N_ORDERS = 1500
N_USERS = 15
N_EVENTS = 1000
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the row column table key value data query join group sort merge scan "
    "filter agg hash window stream batch spark part line order customer vector "
    "big small fast slow"
).split()
DAY_US = 86_400_000_000


def _us(year: int, month: int, day: int) -> int:
    return int((datetime(year, month, day) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
        }
    )
    first_day, n_days = _us(1995, 1, 1), 2404  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _ts(first_day + rng.integers(0, n_days, N_ORDERS) * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_li), pa.int64()),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(first_day + rng.integers(0, n_days + 95, n_li) * DAY_US),
        }
    )
    ev_start = _us(2024, 1, 1)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * DAY_US, N_EVENTS))),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.06:
            # Near-duplicate of an earlier document, as in the test corpus.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in rng.permutation(N_DOCS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, N_VECS)
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0.0, 1.0, (N_VECS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(seed: int, out_dir: str) -> list[str]:
    os.makedirs(out_dir)
    tables = make_tables(seed)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
