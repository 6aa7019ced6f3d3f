"""Seeded stand-ins for the corpus tables the workloads read.

The benchmark must not depend on a corpus outside its checkout, so it
generates ``orders`` and ``lineitem`` with the corpus schema
(FIXTURES.md) and value ranges from ``--seed`` alone: the same seed
writes byte-identical parquet. Both tables are written as a single
file with several row groups, the layout the engine's catalog reads.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_ROWS = 150_000          # sf0.1 orders
MAX_LINES_PER_ORDER = 7        # sf0.1 lineitem: ~600k rows
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                       "4-NOT SPECIFIED", "5-LOW"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUSES = np.array(["F", "O"])
DATE_LO = dt.datetime(1995, 1, 1)
DATE_DAYS = (dt.datetime(2001, 8, 1) - DATE_LO).days
ROW_GROUP = 50_000


def _days_to_ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(DATE_LO, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``orders.parquet`` and ``lineitem.parquet`` under
    ``out_dir``; returns the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = ORDERS_ROWS
    odays = rng.integers(0, DATE_DAYS + 1, n)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n // 10, n, dtype=np.int64)),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _days_to_ts(odays),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
    })
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"),
                   row_group_size=ROW_GROUP)

    lines = rng.integers(1, MAX_LINES_PER_ORDER + 1, n)
    m = int(lines.sum())
    okey = np.repeat(np.arange(n, dtype=np.int64), lines)
    # 1..lines[i] within each order, so (orderkey, linenumber) is unique
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(m) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 20_000, m, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, m, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(RETURNFLAGS[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(LINESTATUSES[rng.integers(0, 2, m)]),
        "l_shipdate": _days_to_ts(
            np.minimum(np.repeat(odays, lines) + rng.integers(1, 122, m),
                       DATE_DAYS + 95)),
    })
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"),
                   row_group_size=ROW_GROUP * 4)
    return {"orders": n, "lineitem": m}
