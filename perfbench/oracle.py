"""DuckDB oracle comparison on the generated inputs.

The normalization and ordering mirror ``tests/test_oracle_parity.py``:
column sets must match by name, values must be equal after mapping NaN to a
token, -0.0 to 0.0, timestamps to naive ISO strings and lists to tuples,
compared as order-insensitive multisets.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _sortkey(row):
    return tuple((x is None, str(type(x).__name__), str(x)) for x in row)


def compare(con: duckdb.DuckDBPyConnection, sql: str, columns: list[str], rows: list) -> str | None:
    """None when the Spark ``rows`` (with ``columns``) equal the oracle's
    result, else a one-line reason."""
    spark_cols = sorted(columns)
    pos = {c: i for i, c in enumerate(columns)}
    spark_rows = [tuple(_norm(r[pos[c]]) for c in spark_cols) for r in rows]
    res = con.execute(sql)
    duck_raw = [d[0] for d in res.description]
    duck_cols = sorted(duck_raw)
    if spark_cols != duck_cols:
        return f"columns {spark_cols} vs {duck_cols}"
    idx = [duck_raw.index(c) for c in duck_cols]
    duck_rows = [tuple(_norm(r[i]) for i in idx) for r in res.fetchall()]
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    spark_rows.sort(key=_sortkey)
    duck_rows.sort(key=_sortkey)
    bad = sum(s != d for s, d in zip(spark_rows, duck_rows))
    return f"{bad} mismatched rows" if bad else None
