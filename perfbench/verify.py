"""Output checks: order-insensitive digests of query results.

A result is reduced to (sorted column names, row count, SHA-256 of the
sorted canonical rows). Two results match when all three agree: the
row count, schema and order-insensitive value hash rule of the
engine's t2 oracle check. Values compare exactly, floats bit for bit,
because the engine's determinism contract (``functions.numeric``) makes
its float aggregates equal to DuckDB's.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os


def _canon(x):
    if x is None:
        return None
    if isinstance(x, bool):
        return ("b", x)
    if isinstance(x, float):
        if math.isnan(x):
            return None
        return int(x) if x.is_integer() and abs(x) < 2**53 else repr(x)
    if isinstance(x, decimal.Decimal):
        if x == x.to_integral_value():
            return int(x)
        return str(x.normalize())
    if isinstance(x, datetime.datetime):
        return x.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(x, datetime.date):
        return x.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(x, (bytes, bytearray, memoryview)):
        return bytes(x).hex()
    if hasattr(x, "asDict"):  # pyspark Row (struct): DuckDB gives a dict
        x = x.asDict()
    if isinstance(x, dict):
        return tuple(sorted((repr(_canon(k)), _canon(v)) for k, v in x.items()))
    if isinstance(x, (list, tuple)):
        return tuple(_canon(v) for v in x)
    if hasattr(x, "tolist"):  # numpy scalar or array
        return _canon(x.tolist())
    return x


def rows_digest(columns, rows) -> tuple:
    """Digest of a result given in column order ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return (tuple(sorted(columns)), len(lines), h.hexdigest())


def oracle_digest(con, sql: str) -> tuple:
    rel = con.sql(sql)
    return rows_digest(rel.columns, rel.fetchall())


def compare_digest(got: tuple, want: tuple) -> str | None:
    """None when the digests match, else what differs."""
    if got[0] != want[0]:
        return f"columns {list(got[0])} != oracle {list(want[0])}"
    if got[1] != want[1]:
        return f"{got[1]} rows != oracle {want[1]}"
    if got[2] != want[2]:
        return "values differ from the oracle"
    return None


def duckdb_views(sf_dir: str, tables):
    """A DuckDB connection with one view per fixture table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def read_text_output(out_dir: str) -> list[str]:
    """The sorted lines of a ``write_text_output`` directory."""
    lines: list[str] = []
    for name in os.listdir(out_dir):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as fh:
                lines.extend(line.rstrip("\n") for line in fh)
    return sorted(lines)
