"""DuckDB oracle check for registered queries.

The comparison is the one ``tests/test_oracle_parity.py`` applies: equal
column-name sets, equal row counts, and equal rows after sorting columns
by name and rows by their ``repr`` (NaN compared as a string).
"""

from __future__ import annotations

import math
import os

from tables_gen import TABLES


def connect(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _canonical(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def mismatch(con, sql: str, spark_rows, spark_cols) -> str | None:
    """None when the Spark result equals the oracle's, else a reason."""
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} != {len(duck_rows)}"
    a = _canonical(spark_rows, spark_cols)
    b = _canonical(duck_rows, duck_cols)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row {x!r} != {y!r}"
    return None
