"""Seeded fixture generator: the TPC-H-style star schema plus the
``events`` stream table, written as one parquet file per table.

The shapes (column names, types, cardinalities per scale factor and
value ranges) follow the repo's TESTDATA.md fixtures, so the engine's
queries over them run unchanged. Values are drawn from
``numpy.random.default_rng(seed)``: one seed gives byte-identical
tables, another seed gives different rows of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PART_ADJ = "blue hot small old red new cold big".split()
PART_NOUN = "bolt gear anvil ring widget rod plate".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TESTDATA.md)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    return rng.integers(a, b + 1, n).astype("int64") * DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    """All tables at ``sf`` drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _choice(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype="int64")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _choice(rng, names, npart),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": _choice(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": _choice(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, n["users"], ne).astype("int64"),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``<out_dir>/<name>.parquet``; row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
