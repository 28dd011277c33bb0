"""Seeded generator for the benchmark's inputs.

The benchmark makes its own inputs: the same ``(seed, sf)`` always yields
byte-identical parquet files with the fixture schemas the ``tpch_*``
registry queries read — a TPC-H-style star schema (dates as naive
timestamps, no ``partsupp``) with uniform keys and categoricals — and
``events_table`` makes the click-stream files the streaming workload lands.

Cardinalities at scale ``sf`` (the fixture corpus's): lineitem 6 000 000·sf,
orders 1 500 000·sf, customer 150 000·sf, part 200 000·sf, supplier
10 000·sf.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
STATUS = ("F", "O", "P")
PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH = datetime(1995, 1, 1)
_SHIP_EPOCH = datetime(1995, 1, 2)


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    idx = rng.choice(len(values), size=n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, epoch: datetime, span_days: int, n: int) -> pa.Array:
    return _ts(_us(epoch) + rng.integers(0, span_days + 1, n) * _US_PER_DAY)


def cardinalities(sf: float) -> dict[str, int]:
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = cardinalities(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = c["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -1000.0, 10000.0, n)),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = c["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -1000.0, 10000.0, n)),
        }
    )
    n = c["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": _pick(rng, tuple(names), n),
            "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)),
        }
    )
    n = c["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n)),
            "o_orderstatus": _pick(rng, STATUS, n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _days(rng, _ORDER_EPOCH, 2404, n),
            "o_orderpriority": _pick(rng, PRIORITY, n),
        }
    )
    n = c["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n)),
            "l_partkey": pa.array(rng.integers(0, c["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n),
            "l_linestatus": _pick(rng, ("F", "O"), n),
            "l_shipdate": _days(rng, _SHIP_EPOCH, 2498, n),
        }
    )
    return out


def events_table(
    rng: np.random.Generator, n: int, first_id: int, start_us: int, span_us: int, users: int
) -> pa.Table:
    """``n`` events with ids from ``first_id``, time-ordered over
    ``[start_us, start_us + span_us)``."""
    ts = np.sort(rng.integers(start_us, start_us + span_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(1, users), n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
