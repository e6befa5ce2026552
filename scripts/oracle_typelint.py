"""Oracle result-TYPE lint: catch DuckDB column types the driver's
type-sensitive hash cannot reconcile with the Spark side.

Why this exists (the r5/r12 lesson, VERDICT r12 "What's wrong"): every
local gate (scale_gate.py, the judge sweep) compares value-NORMALIZED
rows, so a DuckDB HUGEINT column — which DuckDB
silently produces by widening `sum(BIGINT)` / `-sum(...)` — passes
locally (Python ints compare equal) yet fails the driver's typed hash
(Arrow has no int128; the export degrades to a different physical
type). `text_stats_by_lang` hit this in r5, `bpe_train_exact`
reintroduced it in r12. This module makes the class un-shippable:

  1. `hugeint_offenders(con, oracles)` — bind every oracle SQL in
     DuckDB (binding only, no execution: `con.sql(sql).types`) and
     report any column whose type contains HUGEINT/UHUGEINT, plus any
     oracle that fails to bind at all. Run by scripts/preflight.py
     whenever testdata is present — ~1s for all oracles.
  2. `type_class(duckdb_type)` / `spark_type_class(spark_dtype)` —
     map both engines' column types onto one coarse class lattice
     (int / float / decimal / str / bool / date / timestamp / array /
     struct / map / binary) so scripts/scale_gate.py can assert
     per-column class equality next to its value compare. Class-level
     (not width-level) on purpose: int32 vs int64 round-trips
     faithfully through the driver's Arrow path, int128 does not.
"""

from __future__ import annotations

import re

BANNED = ("HUGEINT", "UHUGEINT")

_DUCK_CLASS = [
    (r"HUGEINT|UHUGEINT", "BANNED"),
    (r"U?TINYINT|U?SMALLINT|U?INTEGER|U?BIGINT|^INT\d*$", "int"),
    (r"FLOAT|DOUBLE|REAL", "float"),
    (r"DECIMAL", "decimal"),
    (r"VARCHAR|TEXT|STRING|CHAR", "str"),
    (r"BOOLEAN", "bool"),
    (r"TIMESTAMP", "timestamp"),
    (r"DATE", "date"),
    (r"INTERVAL", "interval"),
    (r"BLOB|BYTEA|BINARY", "binary"),
    (r"MAP\(", "map"),
    (r"STRUCT\(", "struct"),
    (r"\[\]$|^LIST", "array"),
]

_SPARK_CLASS = [
    (r"^(tinyint|smallint|int|bigint|long)$", "int"),
    (r"^(float|double)$", "float"),
    (r"^decimal", "decimal"),
    (r"^(string|varchar|char)", "str"),
    (r"^boolean$", "bool"),
    (r"^timestamp", "timestamp"),
    (r"^date$", "date"),
    (r"^interval", "interval"),
    (r"^binary$", "binary"),
    (r"^map<", "map"),
    (r"^struct<", "struct"),
    (r"^array<", "array"),
]


def type_class(duck_type: str) -> str:
    t = str(duck_type).upper()
    # container types first: a STRUCT(...)[] is an array, and any
    # HUGEINT nested anywhere is still banned.
    for name in BANNED:
        if name in t:
            return "BANNED"
    if t.endswith("[]"):
        return "array"
    for pat, cls in _DUCK_CLASS:
        if re.search(pat, t):
            return cls
    return f"?duck:{t}"


def spark_type_class(spark_dtype: str) -> str:
    t = str(spark_dtype).lower()
    for pat, cls in _SPARK_CLASS:
        if re.match(pat, t):
            return cls
    return f"?spark:{t}"


def hugeint_offenders(con, oracles: dict[str, str]) -> list[str]:
    """Bind each oracle and return 'name.col=TYPE' offender strings
    (BIND-ERR entries if the SQL no longer binds against the views)."""
    out: list[str] = []
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            cols, types = rel.columns, [str(t) for t in rel.types]
        except Exception as e:  # noqa: BLE001 - report, don't crash the lint
            out.append(f"{name}: BIND-ERR {str(e)[:120]}")
            continue
        for c, t in zip(cols, types):
            if type_class(t) == "BANNED":
                out.append(f"{name}.{c}={t}")
    return out


def class_mismatches(
    spark_dtypes: list[tuple[str, str]],
    duck_cols: list[str],
    duck_types: list[str],
) -> list[str]:
    """Per-column coarse-class compare between a Spark schema
    (df.dtypes) and a DuckDB relation's (columns, types). Column
    order-insensitive (the driver sorts by name)."""
    duck = {c: str(t) for c, t in zip(duck_cols, duck_types)}
    out: list[str] = []
    for col, sdt in spark_dtypes:
        if col not in duck:
            out.append(f"{col}: missing in oracle")
            continue
        sc, dc = spark_type_class(sdt), type_class(duck[col])
        if sc != dc:
            out.append(f"{col}: spark {sdt}({sc}) vs duck "
                       f"{duck[col]}({dc})")
    for col in duck:
        if col not in {c for c, _ in spark_dtypes}:
            out.append(f"{col}: missing in spark")
    return out
