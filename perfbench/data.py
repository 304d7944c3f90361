"""Deterministic TPC-H-shaped tables at scale factor 0.1, one parquet each.

The tables follow the TPC-H column names and value ranges but use DECIMAL
money columns and DATE columns, so every aggregation the workloads run is
exact and the DuckDB oracle agrees with Spark bit for bit. Each table is
written as a single row group, the layout of the repository's sf0.1
fixtures. Generation depends only on ``DATA_SEED``: the tables are the same
in every run and are built once per checkout into ``DATA_DIR``.

The benchmark builds its own tables because it reads nothing outside its
checkout, where the repository's sf0.1 fixtures are not. As Arrow, the
generated ``lineitem`` is 599,825 rows and 63.9 MB (the fixture's 47.5 MB
holds its money columns as DOUBLE) and ``orders`` 150,000 rows and 8.0 MB.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parents[1]
DATA_SEED = 20240601
DATA_DIR = ROOT / ".perfbench_data" / f"sf0.1-v1-{DATA_SEED}"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, region) as in the TPC-H specification
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
COLORS = ["almond", "azure", "blush", "coral", "forest", "ivory", "khaki",
          "linen", "navy", "olive", "peach", "plum", "rose", "sienna", "tan"]

EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01
LAST_ORDER_DAY = 10440  # 1998-08-02


def _money(cents: np.ndarray) -> pa.Array:
    """DECIMAL(15,2) array from non-negative int64 cents (no Python objects)."""
    words = np.zeros((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    return pa.Array.from_buffers(
        pa.decimal128(15, 2), len(cents), [None, pa.py_buffer(words.tobytes())]
    )


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int32), pa.int32()).view(pa.date32())


def _pick(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS], pa.string()),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })

    ckeys = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ckeys,
        "c_name": _names("Customer", ckeys),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng.integers(0, 1_099_999, N_CUSTOMER)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, N_CUSTOMER)),
    })

    skeys = np.arange(1, N_SUPPLIER + 1, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": skeys,
        "s_name": _names("Supplier", skeys),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng.integers(0, 1_099_999, N_SUPPLIER)),
    })

    pkeys = np.arange(1, N_PART + 1, dtype=np.int64)
    t1, t2, t3 = (rng.integers(0, len(c), N_PART) for c in (TYPE_1, TYPE_2, TYPE_3))
    c1, c2 = rng.integers(0, len(COLORS), (2, N_PART))
    retail_cents = 90_000 + (pkeys // 10) % 20_001 + 100 * (pkeys % 1_000)
    tables["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": pa.array(
            [f"{COLORS[a]} {COLORS[b]}" for a, b in zip(c1.tolist(), c2.tolist())],
            pa.string(),
        ),
        "p_brand": pa.array(
            [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (N_PART, 2)).tolist()],
            pa.string(),
        ),
        "p_type": pa.array(
            [f"{TYPE_1[a]} {TYPE_2[b]} {TYPE_3[c]}"
             for a, b, c in zip(t1.tolist(), t2.tolist(), t3.tolist())],
            pa.string(),
        ),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": _money(retail_cents),
    })

    # Sparse order keys as in TPC-H: 8 keys used out of every 32.
    okeys = (np.arange(N_ORDERS, dtype=np.int64) // 8) * 32 + (
        np.arange(N_ORDERS) % 8
    ) + 1
    odate = rng.integers(EPOCH_1992, LAST_ORDER_DAY - 151, N_ORDERS)
    # Two thirds of the customers place orders, as in TPC-H.
    ocust = rng.integers(1, N_CUSTOMER + 1, N_ORDERS)
    ocust = np.where(ocust % 3 == 0, ocust - 1, ocust).clip(1)

    nlines = rng.integers(1, 8, N_ORDERS)
    n = int(nlines.sum())
    l_order_idx = np.repeat(np.arange(N_ORDERS), nlines)
    starts = np.cumsum(nlines) - nlines
    linenumber = np.arange(n) - np.repeat(starts, nlines) + 1
    partkey = rng.integers(1, N_PART + 1, n)
    quantity = rng.integers(1, 51, n)
    ext_cents = quantity * retail_cents[partkey - 1]
    discount = rng.integers(0, 11, n)
    tax = rng.integers(0, 9, n)
    shipdate = odate[l_order_idx] + rng.integers(1, 122, n)
    current = 9298  # 1995-06-17: shipped after it means status O
    linestatus = (shipdate > current).astype(np.int64)
    receipt = shipdate + rng.integers(1, 31, n)
    returnflag = np.where(
        receipt <= current, rng.integers(0, 2, n) * 2, 1
    )  # R or A when received, else N
    tables["lineitem"] = pa.table({
        "l_orderkey": okeys[l_order_idx],
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": ((partkey + linenumber * 251) % N_SUPPLIER + 1).astype(np.int64),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": _money(quantity * 100),
        "l_extendedprice": _money(ext_cents),
        "l_discount": _money(discount),
        "l_tax": _money(tax),
        "l_returnflag": _pick(["A", "N", "R"], returnflag),
        "l_linestatus": _pick(["F", "O"], linestatus),
        "l_shipdate": _dates(shipdate),
    })

    # o_totalprice is the sum of the order's lines' gross prices.
    total = np.bincount(
        l_order_idx, weights=ext_cents * (100 + tax) * (100 - discount) // 10_000,
        minlength=N_ORDERS,
    ).astype(np.int64)
    statuses = np.bincount(l_order_idx, weights=linestatus, minlength=N_ORDERS)
    ostatus = np.where(statuses == 0, 0, np.where(statuses == nlines, 1, 2))
    tables["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": ocust.astype(np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], ostatus),
        "o_totalprice": _money(total),
        "o_orderdate": _dates(odate),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, N_ORDERS)),
    })
    return tables


def ensure_data() -> Path:
    """Write the tables once; later runs reuse them. The directory appears
    only when complete (built aside, then renamed into place)."""
    if DATA_DIR.is_dir():
        return DATA_DIR
    tmp = DATA_DIR.with_name(f"{DATA_DIR.name}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in build_tables().items():
        pq.write_table(table, tmp / f"{name}.parquet", row_group_size=table.num_rows)
    try:
        os.rename(tmp, DATA_DIR)
    except OSError:  # a concurrent run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return DATA_DIR
