"""Seeded batch tables for the dashboard workload.

Writes the four tables the dashboard keys read (``events``, ``orders``,
``customer``, ``nation``) as single-row-group parquet files with the
column names and types of the program's star schema
(``sources.tables``), at scale factor 0.1 row counts by default. Values
are drawn with NumPy from the seed; money columns carry two decimals.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])

_US_PER_DAY = 86_400 * 1_000_000
_EVENTS_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01
_ORDERS_START_US = 788_918_400 * 1_000_000  # 1995-01-01


def _money(rng, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the tables and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_events, n_orders, n_cust = int(1_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf)
    n_users = max(1, int(15_000 * sf))
    tables = {
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": _ts(_EVENTS_START_US + rng.integers(0, 30 * _US_PER_DAY, n_events)),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(_money(rng, 0, 56_022, n_events)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
            "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_money(rng, 100_191, 49_999_319, n_orders)),
            "o_orderdate": _ts(_ORDERS_START_US + rng.integers(0, 2405, n_orders) * _US_PER_DAY),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_orders)]),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -99_985, 999_981, n_cust)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
