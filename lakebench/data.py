"""Seeded generator of the TPC-H-shaped tables the benchmark reads.

The tables have the column names and types of the engine's test data
(``region nation customer supplier part orders lineitem events``), so
the registry builders and their DuckDB oracles run on them unchanged.
Everything is drawn from one ``numpy`` generator, so a seed fixes every
byte. Row counts are those of TPC-H sf0.1 (600k lineitem rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "red", "small", "green", "steel", "gold"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "valve", "screw", "spring"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
TPCH_NAMES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def generate(seed: int) -> dict[str, pa.Table]:
    """All eight tables at the sf0.1 row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_ev = 15_000, 1_000, 20_000, 150_000, 100_000
    n_li = 4 * n_ord
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
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    partkeys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (partkeys % 1000) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(partkeys),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": retail,
        }
    )
    odays = rng.integers(0, 2404, n_ord)
    odate = _EPOCH_1995 + odays * np.timedelta64(_DAY_US, "us")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_li, dtype=np.int64)
    l_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 122, n_li) * np.timedelta64(_DAY_US, "us")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] + rng.uniform(0, 1, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["O", "F"], n_li),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    return t


def write_dir(tables: dict[str, pa.Table], root: str) -> dict[str, int]:
    """Write ``<root>/<table>.parquet`` for each table; returns the byte
    size of each file."""
    os.makedirs(root, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
