"""Result checks against DuckDB oracles, run outside the timed path.

Rows are compared the way the repository's oracle-parity tests compare
them: same column names, same row count, and equal rows after
normalising floats to nine significant digits and sorting, so the
comparison does not depend on row order.
"""

from __future__ import annotations

import math
import os

import duckdb


def _cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0 else float(f"{v:.9g}")
    return str(v)


def normalize(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def duck(sf_dir: str, tables=None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table file in ``sf_dir``
    (a ``<name>.parquet`` directory is read as all its part files)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for entry in sorted(os.listdir(sf_dir)):
        name, ext = os.path.splitext(entry)
        if ext != ".parquet" or (tables and name not in tables):
            continue
        path = os.path.join(sf_dir, entry)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def same(con, oracle_sql: str, spark_rows, spark_cols) -> str | None:
    """None if the Spark rows equal the oracle's, else a short reason."""
    res = con.execute(oracle_sql)
    cols = [c[0] for c in res.description]
    rows = res.fetchall()
    if sorted(cols) != sorted(spark_cols):
        return f"columns differ: {sorted(spark_cols)} vs oracle {sorted(cols)}"
    if len(rows) != len(spark_rows):
        return f"row count {len(spark_rows)} vs oracle {len(rows)}"
    a, b = normalize(spark_rows, spark_cols), normalize(rows, cols)
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} rows differ" if bad else None
