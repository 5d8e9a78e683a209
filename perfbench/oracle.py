"""DuckDB oracle comparison: the same rule as `tools/check_oracle.py`
(column names, row count, then order-insensitive values with floats by
`repr`), kept here so the benchmark's check does not move when that tool
does."""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _norm_val(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_val(x) for x in v) + "]"
    return str(v)


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_val(r[i]) for i in order) for r in rows)


def expected(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def compare(cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]) -> str | None:
    """None when the Spark result equals the oracle's, else the reason."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"row count {len(rows)} != oracle {len(orows)}"
    s, o = normalize(rows, cols), normalize(orows, ocols)
    if s != o:
        bad = sum(1 for a, b in zip(s, o) if a != b)
        return f"{bad} rows differ from the oracle"
    return None
