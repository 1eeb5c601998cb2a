"""Seeded generator for the benchmark's input tables.

Produces the same table shapes and column types as the engine's TPC-H
and embeddings fixtures (orders, lineitem, customer, supplier, part,
nation, region, embeddings) from a numpy ``Generator``, so the same
seed always yields byte-identical parquet.  Money columns are whole cents
and dates are whole days, which keeps sums exact enough for the DuckDB
cross-checks.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01 00:00:00 UTC in µs
DAY_US = 86_400_000_000
ORDER_DAYS = 2_405  # 1992-01-01 .. 1998-08-02, as in TPC-H
MAX_LINES = 7

STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_RETURNFLAG = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["F", "O"])
_PART_TYPES = np.array("STANDARD SMALL MEDIUM LARGE ECONOMY PROMO".split())


def day_ts(day: int) -> datetime.datetime:
    """Naive UTC datetime ``day`` days after 1992-01-01."""
    return datetime.datetime(1992, 1, 1) + datetime.timedelta(days=int(day))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1992_US + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def orders_rows(
    rng: np.random.Generator, keys: np.ndarray, n_customers: int, days: np.ndarray | None = None
) -> pa.Table:
    """Order rows for ``keys``; ``days`` pins o_orderdate (days since 1992)."""
    n = len(keys)
    if days is None:
        days = rng.integers(0, ORDER_DAYS, n)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, n_customers + 1, n), pa.int64()),
            "o_orderstatus": pa.array(STATUS[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_cents(rng, 900, 500_000, n)),
            "o_orderdate": _ts(days),
            "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n)]),
        }
    )


def lineitem_rows(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    linenumbers: np.ndarray,
    n_parts: int,
    n_suppliers: int,
    order_days: np.ndarray | None = None,
) -> pa.Table:
    n = len(orderkeys)
    if order_days is None:
        order_days = rng.integers(0, ORDER_DAYS, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, n_parts + 1, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, n_suppliers + 1, n), pa.int64()),
            "l_linenumber": pa.array(linenumbers, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(qty * _cents(rng, 900, 2_000, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(_RETURNFLAG[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(_LINESTATUS[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(order_days + rng.integers(1, 122, n)),
        }
    )


def lines_for(orderkeys: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(l_orderkey, l_linenumber) arrays giving each order ``counts`` lines."""
    ok = np.repeat(orderkeys, counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    return ok, (np.arange(len(ok)) - starts + 1).astype(np.int32)


def _embeddings(rng: np.random.Generator, n: int, dim: int = 32, labels: int = 5) -> pa.Table:
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = (centers[label] + rng.normal(0, 0.8, (n, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(
    out_dir: str,
    seed: int,
    n_orders: int,
    n_embeddings: int = 0,
) -> dict[str, int]:
    """Write ``<table>.parquet`` files into ``out_dir``; returns row counts.

    Dimension tables scale with ``n_orders`` the way TPC-H scales them
    (customer = orders/10, part = orders·2/15, supplier = orders/150)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, n_orders // 10)
    n_part = max(10, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS, n_orders)
    counts = rng.integers(1, MAX_LINES + 1, n_orders)
    l_ok, l_ln = lines_for(okeys, counts)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_cents(rng, -999, 9_999, n_cust)),
                "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_cents(rng, -999, 9_999, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
                "p_name": pa.array([f"part {i}" for i in range(1, n_part + 1)]),
                "p_brand": pa.array([f"Brand#{1 + i % 5}{1 + i % 7}" for i in range(n_part)]),
                "p_type": pa.array(_PART_TYPES[rng.integers(0, len(_PART_TYPES), n_part)]),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(_cents(rng, 900, 2_000, n_part)),
            }
        ),
        "orders": orders_rows(rng, okeys, n_cust, odays),
        "lineitem": lineitem_rows(
            rng, l_ok, l_ln, n_part, n_supp, np.repeat(odays, counts)
        ),
    }
    if n_embeddings:
        tables["embeddings"] = _embeddings(rng, n_embeddings)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
