"""Local replica of the driver's t2 correctness check.

Runs a registered Spark query and its DuckDB oracle SQL over the same
parquet fixtures, then compares row count, column names, and
order-insensitive values (floats rounded to 6 decimals, matching
FIXTURES.md tolerance rules).
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb

from conversadocs_spark.io import TABLES


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per table in ``TABLES``.

    Accepts both file-form tables (``{t}.parquet``, the driver's
    fixtures) and Spark's directory-form tables
    (``{t}.parquet/*.parquet``, the scale sets)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        glob = "/*.parquet" if os.path.isdir(path) else ""
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}{glob}'")
    return con


def run_duckdb(sql: str, sf_dir: str):
    con = duckdb_views(sf_dir)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def _normalize(cols, rows):
    """Sort columns by name, normalize cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [cols[i] for i in order], out


def mismatch(s_cols, s_rows, o_cols, o_rows) -> str | None:
    """Compare a Spark result with its oracle's after ``_normalize``;
    None when they agree, else what differs."""
    s_cols_n, s_norm = _normalize(s_cols, s_rows)
    o_cols_n, o_norm = _normalize(o_cols, o_rows)
    if s_cols_n != o_cols_n:
        return f"column mismatch spark={s_cols_n} oracle={o_cols_n}"
    if len(s_norm) != len(o_norm):
        return f"row count spark={len(s_norm)} oracle={len(o_norm)}"
    bad = [(i, a, b) for i, (a, b) in enumerate(zip(s_norm, o_norm)) if a != b]
    if bad:
        return f"{len(bad)} row mismatches; first 3: {bad[:3]}"
    return None


def assert_query_matches_oracle(spark, name: str, sf_dir: str) -> None:
    """Run queries()[name] and oracle_sql()[name]; assert they agree."""
    from conversadocs_spark.plans import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    diff = mismatch(
        sdf.columns, [tuple(r) for r in sdf.collect()],
        *run_duckdb(ORACLES[name], sf_dir),
    )
    assert diff is None, f"{name}: {diff}"
