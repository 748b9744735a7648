"""sf0.1 star schema + events table for ``relational_mix``.

The benchmark writes its own tables because its run has only its checkout:
the repository's sf0.1 fixtures (``catalog.default_sf_dir()``) are not part
of it, and they have been regenerated between rounds (their timestamp
columns changed physical type).  The tables follow the schemas in
``catalog.SCHEMAS``, and every distribution below was read off the sf0.1
fixtures with DuckDB (``python3 perfbench/fixtures.py`` prints both sets
side by side, with each mix query's selectivity, output rows and time):

- every column is drawn on its own, uniformly, except as noted: the pairs
  checked in the fixtures (quantity and price, an order's total and its
  lines' sum, user and value) correlate below 0.01;
- ``orders``: 150 k, ``o_orderdate`` one of the 2 405 days 1995-01-01 ..
  2001-08-01, ``o_totalprice`` uniform 1 000 .. 500 000;
- ``lineitem``: 600 k, ``l_orderkey`` uniform over the orders (so 1.8 %
  of orders have none, as in the fixtures), ``l_shipdate`` one of the
  2 499 days 1995-01-02 .. 2001-11-04 independent of the order date (48 %
  of the lines ship before their order);
- ``events``: 100 k over 1 500 uniform users, strictly increasing ``ts``
  from 2024-01-01 with exponential gaps of mean 25.92 s (microseconds),
  ``value`` exponential with mean 50 rounded to cents, so consecutive
  values of a user almost never repeat (0.01 % in the fixtures).

They are drawn from one fixed seed, written once per checkout and reused,
like a TPC-H ``dbgen`` database; the run's ``--seed`` permutes the query
stream instead.  Timestamps are written as parquet ``timestamp[us]``
without a zone, as in the fixtures, which ``catalog.load_table``
normalises.  Writing is atomic (a temp directory renamed into place), so
an interrupted first run leaves no half-written table set behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101

_DAY_US = 86_400_000_000


def _day(s: str) -> int:
    return int(np.datetime64(s, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    """``n`` whole days drawn uniformly from ``first`` .. ``last`` inclusive."""
    span = (_day(last) - _day(first)) // _DAY_US + 1
    return _day(first) + rng.integers(0, span, n) * _DAY_US


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_ord, n_li, n_ev, n_users = 15_000, 1_000, 150_000, 600_000, 100_000, 1_500

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
        }
    )
    # Gaps of at least 1 us keep event times distinct, so as-of and
    # lag/lead orders have no ties.
    gaps = np.maximum(1, np.round(rng.exponential(25.92e6, n_ev))).astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_day("2024-01-01") + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(["click", "purchase", "error", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def data_dir(root: str) -> str:
    """Where the table set lives under ``root``: named after a digest of this
    file, so tables written by an earlier generator are never reused."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(root, ".data", f"sf0.1-{digest}")


def ensure_tables(data_dir: str) -> float:
    """Write the table set under ``data_dir`` unless it is already there.
    Returns the seconds spent writing (0 when reused)."""
    if os.path.isdir(data_dir):
        return 0.0
    t0 = time.perf_counter()
    tmp = f"{data_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, data_dir)
    return time.perf_counter() - t0


def table_names(data_dir: str) -> list[str]:
    """The tables written under ``data_dir``."""
    return sorted(f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))
