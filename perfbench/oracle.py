"""Result comparison against DuckDB oracles.

Rows are normalised as in ``tests/test_entry_oracle.py`` (decimals to
float, NaN to a marker, columns ordered by name, rows sorted); floats
then compare with a relative tolerance, because Spark and DuckDB sum in
different orders.
"""

from __future__ import annotations

import decimal
import math

import duckdb

REL_TOL = 1e-9


def connect(table_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def _norm_val(x):
    if isinstance(x, decimal.Decimal):
        return float(x)
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    return x


def _sort_key(row):
    # floats sort by a rounded value so last-digit differences between
    # engines cannot reorder rows
    return tuple((0, round(v, 6)) if isinstance(v, float)
                 else (1, str(v)) if v is not None else (2, "")
                 for v in row)


def norm_rows(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_val(r[i]) for i in order) for r in rows),
                  key=_sort_key)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(float(a), float(b), rel_tol=REL_TOL,
                                 abs_tol=1e-9))
    return a == b


def mismatch(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns differ: {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row counts differ: {len(got_rows)} vs {len(want_rows)}"
    a = norm_rows(got_rows, got_cols)
    b = norm_rows(want_rows, want_cols)
    for x, y in zip(a, b):
        if len(x) != len(y) or not all(_close(u, v) for u, v in zip(x, y)):
            return f"first value mismatch: {x} vs {y}"
    return None
