"""Query templates and seed-driven parameter draws for the workloads.

``ssb_dashboard`` runs the 13 Star Schema Benchmark flight queries
(1.1-4.3) as parameterized templates over the engine's reduced TPC-H star:
lineorder is ``lineitem JOIN orders``, the date dimension is derived from
``o_orderdate``, and the customer/supplier geography (region, nation, city)
comes from ``nation``/``region`` joins, as in ``pysparkdb/queries/ssb.py``.
Values are drawn from the seed and bound through ``Engine.sql(args=...)``,
so the engine only ever receives the SQL text and its bound values. A run
draws one set of values per query kind and every pass reuses it, like a
dashboard refreshing its panels: Spark's generated code inlines numeric
literals, so values drawn afresh per query would each pay a code compile,
and as values repeat over a run that cost fades and the pass times drift.

``ingest_refresh`` runs a fixed set of aggregates over the snapshot view
``lineitem_live`` after every refresh.

Templates use ``:name`` markers (Spark's named parameters); ``duckdb_sql``
rewrites them to DuckDB's ``$name`` so the oracle runs the same text with
the same values.
"""

from __future__ import annotations

import re

import numpy as np

from datagen import N_BRANDS, N_NATIONS, PART_TYPES, REGIONS


def _dsum(x: str) -> str:
    # exact decimal sum: bit-identical on Spark and DuckDB
    return f"CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE)"


_REVENUE = "l_extendedprice * (1 - l_discount)"
_PROFIT = "l_extendedprice * (1 - l_discount) - l_quantity * p_retailprice * 0.5"
_YEAR = "EXTRACT(YEAR FROM o_orderdate)"
_YM = f"{_YEAR} * 100 + EXTRACT(MONTH FROM o_orderdate)"
_FACT = "lineitem JOIN orders ON l_orderkey = o_orderkey"
_SUP = """JOIN (SELECT s_suppkey, n_name AS s_nation, r_name AS s_region,
                  n_name || '_' || CAST(s_suppkey % 10 AS STRING) AS s_city
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey) sup
      ON l_suppkey = sup.s_suppkey"""
_CUS = """JOIN (SELECT c_custkey, n_name AS c_nation, r_name AS c_region,
                  n_name || '_' || CAST(c_custkey % 10 AS STRING) AS c_city
           FROM customer JOIN nation ON c_nationkey = n_nationkey
                         JOIN region ON n_regionkey = r_regionkey) cus
      ON o_custkey = cus.c_custkey"""
_PART = "JOIN part ON l_partkey = p_partkey"


def _flight1(where: str) -> str:
    return (f"SELECT {_dsum('l_extendedprice * l_discount')} AS revenue "
            f"FROM {_FACT} WHERE {where}")


def _flight2(where: str) -> str:
    return (f"SELECT CAST({_YEAR} AS BIGINT) AS d_year, p_brand, "
            f"{_dsum(_REVENUE)} AS revenue FROM {_FACT} {_PART} {_SUP} "
            f"WHERE {where} GROUP BY d_year, p_brand ORDER BY d_year, p_brand")


def _flight3(where: str, c: str, s: str) -> str:
    return (f"SELECT {c}, {s}, CAST({_YEAR} AS BIGINT) AS d_year, "
            f"{_dsum(_REVENUE)} AS revenue FROM {_FACT} {_CUS} {_SUP} "
            f"WHERE {where} GROUP BY {c}, {s}, d_year "
            f"ORDER BY d_year ASC, revenue DESC")


def _flight4(where: str, keys: str) -> str:
    return (f"SELECT CAST({_YEAR} AS BIGINT) AS d_year, {keys}, "
            f"{_dsum(_PROFIT)} AS profit FROM {_FACT} {_CUS} {_SUP} {_PART} "
            f"WHERE {where} GROUP BY d_year, {keys} ORDER BY d_year, {keys}")


_DISC = "l_discount BETWEEN :dlo AND :dhi"
_QTY = "l_quantity BETWEEN :qlo AND :qhi"
_YEARS = f"{_YEAR} BETWEEN :y0 AND :y1"
_CITIES = "cus.c_city IN (:c1, :c2) AND sup.s_city IN (:s1, :s2)"
_REG = "cus.c_region = :region AND sup.s_region = :region"

SSB: dict[str, str] = {
    "ssb1_1": _flight1(f"{_YEAR} = :year AND {_DISC} AND l_quantity < :qty"),
    "ssb1_2": _flight1(f"{_YM} = :ym AND {_DISC} AND {_QTY}"),
    "ssb1_3": _flight1(f"WEEKOFYEAR(o_orderdate) = :week AND {_YEAR} = :year "
                       f"AND {_DISC} AND {_QTY}"),
    "ssb2_1": _flight2("p_type = :ptype AND sup.s_region = :region"),
    "ssb2_2": _flight2("p_brand BETWEEN :blo AND :bhi AND sup.s_region = :region"),
    "ssb2_3": _flight2("p_brand = :brand AND sup.s_region = :region"),
    "ssb3_1": _flight3(f"{_REG} AND {_YEARS}", "c_nation", "s_nation"),
    "ssb3_2": _flight3(f"cus.c_nation = :cn AND sup.s_nation = :sn AND {_YEARS}",
                       "c_city", "s_city"),
    "ssb3_3": _flight3(f"{_CITIES} AND {_YEARS}", "c_city", "s_city"),
    "ssb3_4": _flight3(f"{_CITIES} AND {_YM} = :ym", "c_city", "s_city"),
    "ssb4_1": _flight4(f"{_REG} AND p_type IN (:t1, :t2)", "c_nation"),
    "ssb4_2": _flight4(f"{_REG} AND p_type IN (:t1, :t2) AND {_YEAR} IN (:y0, :y1)",
                       "s_nation, p_type"),
    "ssb4_3": _flight4(f"cus.c_region = :region AND sup.s_nation = :sn "
                       f"AND p_type = :ptype AND {_YEAR} IN (:y0, :y1)",
                       "s_city, p_brand"),
}


def ssb_args(name: str, rng: np.random.Generator, cities: tuple[list[str], list[str]]) -> dict:
    """One draw of bound values for SSB template ``name``. ``cities`` holds
    the (customer, supplier) city names present in the generated data, so
    city-grain queries select rows that exist."""
    def i(lo, hi):  # inclusive integer draw as a plain int (a typed literal)
        return int(rng.integers(lo, hi + 1))

    year = i(1995, 2000)
    d = i(0, 8) / 100.0
    q = i(10, 30)
    region = REGIONS[i(0, len(REGIONS) - 1)]
    t1, t2 = (PART_TYPES[k] for k in rng.choice(len(PART_TYPES), 2, replace=False))
    cus, sup = cities
    draws = {
        "year": year, "ym": year * 100 + i(1, 12), "week": i(1, 52),
        "dlo": d, "dhi": round(d + 0.02, 2), "qty": q, "qlo": q, "qhi": q + 9,
        "y0": year, "y1": year + 1, "region": region,
        "ptype": t1, "t1": t1, "t2": t2,
        "brand": f"Brand#{i(1, N_BRANDS)}",
        "blo": f"Brand#{i(10, 17)}",
        "cn": f"NATION_{i(0, N_NATIONS - 1)}", "sn": f"NATION_{i(0, N_NATIONS - 1)}",
        "c1": cus[i(0, len(cus) - 1)], "c2": cus[i(0, len(cus) - 1)],
        "s1": sup[i(0, len(sup) - 1)], "s2": sup[i(0, len(sup) - 1)],
    }
    draws["bhi"] = f"Brand#{int(draws['blo'][len('Brand#'):]) + 7}"
    return {k: draws[k] for k in markers(SSB[name])}


# ---- ingest_refresh ---------------------------------------------------------

LIVE = "lineitem_live"

INGEST: dict[str, str] = {
    # the first query after every refresh: its return closes the fresh lag
    "fresh_totals": (
        f"SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, "
        f"{_dsum('l_quantity')} AS sum_qty, {_dsum(_REVENUE)} AS revenue "
        f"FROM {LIVE} WHERE EXTRACT(YEAR FROM l_shipdate) >= :year "
        f"GROUP BY l_returnflag, l_linestatus"),
    "brand_revenue": (
        f"SELECT p_brand, {_dsum(_REVENUE)} AS revenue FROM {LIVE} {_PART} "
        f"WHERE p_type = :ptype GROUP BY p_brand"),
    "nation_revenue": (
        f"SELECT n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year, "
        f"{_dsum(_REVENUE)} AS revenue FROM {LIVE} "
        f"JOIN supplier ON l_suppkey = s_suppkey "
        f"JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE l_discount BETWEEN :dlo AND :dhi GROUP BY n_name, l_year"),
}


def ingest_args(name: str, rng: np.random.Generator) -> dict:
    d = int(rng.integers(0, 9)) / 100.0
    draws = {"year": int(rng.integers(1995, 2001)),
             "ptype": PART_TYPES[int(rng.integers(0, len(PART_TYPES)))],
             "dlo": d, "dhi": round(d + 0.02, 2)}
    return {k: draws[k] for k in markers(INGEST[name])}


# ---- shared -----------------------------------------------------------------

_MARKER = re.compile(r"(?<![:\w]):([A-Za-z_]\w*)")


def markers(sql: str) -> list[str]:
    """Named parameter markers of ``sql``, in first-use order."""
    return list(dict.fromkeys(_MARKER.findall(sql)))


def duckdb_sql(sql: str) -> str:
    """The same text with DuckDB's ``$name`` parameter markers."""
    return _MARKER.sub(r"$\1", sql)


def permuted(rng: np.random.Generator, kinds: list[str]) -> list[str]:
    """One pass: every kind once, in a seed-drawn order."""
    return [kinds[k] for k in rng.permutation(len(kinds))]
