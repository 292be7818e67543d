"""DuckDB reference results for the correctness gate."""

from __future__ import annotations

import datetime
import math

import duckdb

from workloads import duckdb_sql


def connect(table_paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in table_paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def register_files(con: duckdb.DuckDBPyConnection, name: str, files: list[str]) -> None:
    """(Re)define view ``name`` over exactly ``files``."""
    listed = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{listed}])")


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def canonical(rows, columns: list[str]) -> list[tuple]:
    """Rows as a sorted multiset, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def expected(con: duckdb.DuckDBPyConnection, sql: str, args: dict) -> tuple[list[tuple], list[str]]:
    rel = con.execute(duckdb_sql(sql), args)
    cols = [d[0] for d in rel.description]
    return canonical(rel.fetchall(), cols), cols


def mismatch(rows, columns: list[str], want: tuple[list[tuple], list[str]]) -> str | None:
    """None when Spark ``rows`` equal the DuckDB result, else a reason."""
    want_rows, want_cols = want
    if sorted(columns) != sorted(want_cols):
        return f"columns {columns} != {want_cols}"
    got = canonical([tuple(r) for r in rows], columns)
    if got != want_rows:
        diff = [(a, b) for a, b in zip(got, want_rows) if a != b][:3]
        return f"{len(got)} rows vs {len(want_rows)}; first differences {diff}"
    return None
