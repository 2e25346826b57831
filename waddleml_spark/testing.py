"""DuckDB-oracle differential harness.

Mimics the driver's t2 correctness check (SURVEY.md §5): run the Spark query
and the oracle SQL over the same parquet, compare row-count, column names,
and an order-insensitive value comparison.  Used by tests/ to catch parity
bugs before the driver does.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in DRIVER_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0 and int-valued floats
        return v + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def normalize_rows(cols, rows):
    """Sort columns by name, normalize values, sort rows — order-insensitive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def compare(spark_df, con, sql, name="query"):
    """Return (ok, message).

    EXACT float equality: the driver hashes values, so catalog
    queries must produce bit-identical doubles (pre-round with the shared
    floor-formula helpers; keep arithmetic order identical on both sides).
    """
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    o = con.execute(sql)
    o_cols = [d[0] for d in o.description]
    o_rows = o.fetchall()

    if sorted(s_cols) != sorted(o_cols):
        return False, f"{name}: column mismatch spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return False, f"{name}: rowcount mismatch spark={len(s_rows)} oracle={len(o_rows)}"

    _, sn = normalize_rows(s_cols, s_rows)
    _, on = normalize_rows(o_cols, o_rows)
    for i, (a, b) in enumerate(zip(sn, on)):
        if a != b:
            return False, f"{name}: row {i} differs\n  spark : {a}\n  oracle: {b}"
    return True, f"{name}: OK ({len(s_rows)} rows)"

