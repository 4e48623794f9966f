"""Seeded generator of the ten testdata tables the query registry reads.

The tables follow the schema and value shapes of the shipped testdata
(see ``sources.testdata``): a TPC-H-like star (``region nation customer
supplier part orders lineitem``), an ``events`` stream, ``documents``
and ``embeddings``, one parquet file of one row group each.  Row counts
scale with ``sf`` as the shipped tables do (``sf=0.01``: 60,000
lineitems); ``documents`` and ``embeddings`` keep 500 rows.  The same
generator state gives the same files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64
N_DOCS = 500


def _days(rng, n: int, first: datetime.date, last: datetime.date) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from ``first..last``."""
    span = (last - first).days
    base = np.datetime64(first, "us")
    return pa.array(base + rng.integers(0, span + 1, n).astype("timedelta64[D]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng: np.random.Generator, sf: float = 0.01) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, n_orders, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_orders, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_part, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": i32(rng.integers(1, 8, n_lines)),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, n_lines, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_lines) / 100,
            "l_tax": rng.integers(0, 9, n_lines) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _days(rng, n_lines, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)),
        }),
    }
    # events arrive in time order over January 2024
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = datagen.documents(rng, N_DOCS)
    vecs = rng.standard_normal((N_DOCS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_DOCS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, N_DOCS)),
    })
    return out


def write(rng: np.random.Generator, out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(rng, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) or 1)
        rows[name] = t.num_rows
    return rows
