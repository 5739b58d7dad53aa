"""Order-insensitive comparison of a step's rows with its DuckDB replay.

A step's ``oracle_sql()`` text is replayed in DuckDB over the same
generated parquet tables. Both sides are compared on column names, row
count and values: columns sorted by name, rows sorted, floats compared
exactly (registry outputs are integer or rounded by contract).
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _cell(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v  # -0.0 and 0.0 compare equal
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    data = sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, type(v).__name__, str(v)) for v in t),
    )
    return [columns[i] for i in order], data


def mismatch(con, sql: str, columns: list[str], rows: list[tuple]) -> str | None:
    """None when the replay of ``sql`` equals ``rows``, else a reason."""
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if sorted(columns) != sorted(o_cols):
        return f"columns {sorted(columns)} != oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows != oracle {len(o_rows)}"
    _, mine = _canonical(columns, rows)
    _, theirs = _canonical(o_cols, o_rows)
    if mine != theirs:
        diff = next((a, b) for a, b in zip(mine, theirs) if a != b)
        return f"first differing row {diff[0]} != oracle {diff[1]}"
    return None
