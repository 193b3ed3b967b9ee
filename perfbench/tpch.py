"""Seeded TPC-H-shaped tables for the ``relational_pass`` workload.

Only the columns the six relational queries read, with the column
types of the repository's sf0.1 test tables (600k lineitem rows at the
default size). The same seed writes byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def write_tables(out_dir: str, seed: int, n_orders: int = 150_000) -> None:
    """Write region, nation, customer, orders and lineitem parquet
    files into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(1, n_orders // 10)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_nationkey": rng.integers(0, len(NATIONS), n_cust).astype(np.int32),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_cust)],
    })
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    put("orders", {
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
    })
    l_orderkey = np.repeat(orderkey, rng.integers(1, 8, n_orders))
    n = len(l_orderkey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    # whole cents, so extended prices are exact two-decimal values
    price_cents = rng.integers(90_000, 200_000, n).astype(np.float64)
    put("lineitem", {
        "l_orderkey": l_orderkey,
        "l_quantity": qty,
        "l_extendedprice": qty * price_cents / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
    })
