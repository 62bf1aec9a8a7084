"""Seeded TPC-H-ish base tables for the read and reasoning workloads.

Same tables, column names, types and row counts as the sf0.01 set that
the `q_*` entry queries in `kr_spark.entry_queries` and their DuckDB twins
are checked against:
customer (1,500), supplier (100), orders (15,000), plus the fixed 25-row
nation and 5-row region dimensions. Every value that varies
(nation keys, balances, segments, order customers, statuses, prices) is
drawn from `numpy.random.default_rng(seed)`, so one seed always gives the
same files. nation and region do not depend on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_ORDERS = 15_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ("region", "nation", "customer", "supplier", "orders")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so decimal and double arithmetic agree on every value
    return rng.integers(int(lo * 100), int(hi * 100), n, endpoint=True) / 100.0


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    days = rng.integers(0, 365 * 7, N_ORDERS)
    orders = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": pa.array(
                (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
    }


def write_tables(seed: int, out_dir: str) -> str:
    """Write the seed's tables as `<out_dir>/<name>.parquet`; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
