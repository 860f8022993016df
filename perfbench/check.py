"""Output checks: order-insensitive comparison of a step's output with
its DuckDB oracle, the way ``tools/check_oracle.py`` compares the
registry (row count, column names, then every value)."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import pandas as pd


def duck_con(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _norm(v):
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, decimal.Decimal):
        return _norm(float(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (int, float)):
        return (1, v)
    return (2, str(v))


class Canon:
    """Canonical form of a result: sorted column names and the sorted
    multiset of normalized rows, with an order-insensitive digest."""

    def __init__(self, df: pd.DataFrame):
        self.columns = sorted(df.columns)
        cols = [df[c].tolist() for c in self.columns]
        rows = [tuple(_norm(v) for v in r) for r in zip(*cols)] if cols else []
        rows.sort(key=lambda r: tuple(_key(v) for v in r))
        self.rows = rows
        self.digest = hashlib.sha256(repr((self.columns, rows)).encode()).hexdigest()

    def diff(self, other: Canon) -> str | None:
        """None when equal, else a one-line description."""
        if self.columns != other.columns:
            return f"columns {other.columns} != expected {self.columns}"
        if len(self.rows) != len(other.rows):
            return f"rowcount {len(other.rows)} != expected {len(self.rows)}"
        if self.digest != other.digest:
            bad = next(i for i, (a, b) in enumerate(zip(self.rows, other.rows)) if a != b)
            return f"values differ, first at row {bad}: {other.rows[bad]} != expected {self.rows[bad]}"
        return None
