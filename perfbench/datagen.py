"""Seeded generator for the benchmark's input tables and ingest batches.

The tables follow the engine's declared TPC-H-like schema
(``pysparkdb.catalog.DECLARED_SCHEMAS``): the same columns, key ranges and
value domains as the reduced TPC-H star the engine's query corpus is written
against (nations ``NATION_<k>``, brands ``Brand#<k>``, six part types, dates
1995-2001). Every value is drawn from one ``numpy.random.Generator`` seeded
by the benchmark's ``--seed``, so the same seed writes byte-identical
parquet and a different seed changes the data.

Sizes follow TPC-H's row counts at scale factor ``SF`` = 0.01: lineitem
60 000 rows, orders 15 000, customer 1 500, supplier 100, part 2 000. That
is a tenth of the sf0.1 the repository's own bench runs at: a run has about
a minute for JVM start, generation, correctness checks, warm-up and the
timed region, and at sf0.1 one run takes 90-105 s on a 4-vCPU host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
N_BRANDS = 25
PART_WORDS = ("blue", "red", "green", "small", "hot", "dark")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FLAGS = ("A", "N", "R")

# epoch microseconds of the date range every timestamp is drawn from
_US_PER_DAY = 86_400_000_000
_DAY0 = int(np.datetime64("1995-01-01", "D").astype(np.int64))
_DAYS = int(np.datetime64("2001-08-01", "D").astype(np.int64)) - _DAY0

SF = 0.01
# TPC-H row counts at scale factor 1
_SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000}
ROWS = {t: round(n * SF) for t, n in _SF1_ROWS.items()}

_TS = pa.timestamp("us")


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    d = _DAY0 + rng.integers(0, _DAYS, n)
    return pa.array(d.astype(np.int64) * _US_PER_DAY, type=pa.int64()).cast(_TS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def lineitem_batch(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` lineitem rows whose order/part/supplier keys reference the
    generated dimension tables (so ingest batches join like base rows)."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, FLAGS, n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, n),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """Every base table for ``seed``, keyed by table name."""
    rng = np.random.default_rng(seed)
    nc, ns, np_, no = (ROWS[t] for t in ("customer", "supplier", "part", "orders"))
    nat = np.arange(N_NATIONS, dtype=np.int32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nat),
            "n_name": pa.array([f"NATION_{k}" for k in nat]),
            "n_regionkey": pa.array(nat % len(REGIONS)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, len(PART_WORDS), np_),
                                rng.integers(0, len(PART_NOUNS), np_))
            ]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, N_BRANDS + 1, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(np_) % 1000 / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        "lineitem": lineitem_batch(rng, ROWS["lineitem"]),
    }


def write_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write every base table as ``<out_dir>/<name>.parquet`` (one file,
    one row group — the layout the engine's catalog registers)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables(seed).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def ingest_batches(seed: int, n_batches: int, rows: int) -> list[pa.Table]:
    """The ingest workload's append batches: new lineitem rows for the
    existing orders, drawn from a stream independent of the base tables."""
    rng = np.random.default_rng([seed, 1])
    return [lineitem_batch(rng, rows) for _ in range(n_batches)]
