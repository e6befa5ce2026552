#!/usr/bin/env python
"""Pre-snapshot preflight: the fast non-Spark pins, in a few seconds.

Round 8 closed with a red suite because a query was registered in the
final commit without its `_DRIVER_ORDER` slot — a failure mode the
full 10-minute pytest run catches but a hurried snapshot skips. This
script runs ONLY the cheap invariants (no SparkSession, no data):

  1. registry <-> _DRIVER_ORDER exact sync (the r8 failure),
  2. every oracle_sql() key has a queries() entry,
  3. no duplicate names in _DRIVER_ORDER,
  4. COVERAGE.md's "All N registered queries (X oracle-checked, Y
     rows-only)" header matches the live registry,
  5. the `.collect(` lint (driver-side materialization allowlist,
     same sites as tests/test_plans.py),
  6. no unconditional `F.broadcast(` outside the documented
     bounded-side allowlist (the knn_filtered lesson, ADVICE r7),
  7. oracle result types driver-safe (scripts/oracle_typelint.py),
  8. no result-cell normalizer outside tests/oracle.py,
  9. no direct parquet read of an `sf_dir` path outside
     conversadocs_spark/io.py (fixture reads go through its
     per-session relation cache),
 10. no `.conf.set(` / `.conf.unset(` in conversadocs_spark/ outside
     session.py (a query that needs conf of its own runs in
     session.child_session),
 11. the `SPARK_GRAFT_*` names under conversadocs_spark/ equal
     ENGINE_ENV_KNOBS: a new env knob fails until it is listed, and a
     deleted one until the list shrinks,
 12. no `os.environ` / `os.getenv` under conversadocs_spark/ outside a
     function body: an import-time read freezes the value the
     process had when it first imported the package,
 13. no `createOrReplaceTempView` / `createOrReplaceGlobalTempView`
     under conversadocs_spark/: a view named after a table is shared
     by every caller of the session (pass frames to
     `spark.sql(text, name=df)` instead),
 14. no `basename(sf_dir` / `gettempdir(` under conversadocs_spark/plans/
     outside SHARED_NAME_ALLOWED: a query's files go under
     `scratch.call_dir`, never a path named after the fixture,
 15. no `Window.partitionBy(` in the ANN ladder (operators/ivf.py,
     pq.py, lsh.py): its per-query ranks go through
     operators/knn.py's `topk`.

Usage: python scripts/preflight.py   (exit 0 = safe to snapshot)
Run it before every snapshot-sized commit; the full pytest suite
remains the real bar, this is the "can't land obviously broken" gate.
"""

from __future__ import annotations

import ast
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FAILS: list[str] = []

#: a result-cell normalizer: rounding cells to 6 places, or a norm()
NORMALIZER_RE = re.compile(r"round\(v, 6\)|def norm\(")
#: a fixture read that bypasses io.table's relation cache
SF_READ_RE = re.compile(r"spark\.read\.parquet\([^)]*\bsf_dir", re.S)
#: a write of session conf
CONF_WRITE_RE = re.compile(r"\.conf\.(?:set|unset)\(")
#: an engine env knob
ENV_KNOB_RE = re.compile(r"SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]")
#: a session-wide temp view
TEMP_VIEW_RE = re.compile(r"createOrReplace(?:Global)?TempView")
#: a file or table name derived from the fixture dir or a shared tmp dir
SHARED_NAME_RE = re.compile(r"basename\(sf_dir|gettempdir\(")
#: (file under plans/, enclosing function) -> why its name may be shared
SHARED_NAME_ALLOWED = {
    ("vector.py", "_staged_ivf_index"):
        "content key of a stamp-checked cache, not scratch; the key "
        "also hashes the absolute sf_dir",
}
#: the ANN ladder, whose per-query ranks go through knn.topk
ANN_LADDER = ("operators/ivf.py", "operators/pq.py", "operators/lsh.py")
#: every env knob the engine reads; each one is a code path that a
#: measurement or a test needs
ENGINE_ENV_KNOBS = frozenset({
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_RESULT_SIZE",
    "SPARK_GRAFT_REAL_EMBED",
})


def import_time_env_reads(source: str) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` references in
    ``source`` that are not inside a function body (module level, class
    bodies, decorators and default argument values all run at import)."""
    lines: list[int] = []

    def visit(node: ast.AST, in_body: bool) -> None:
        if (
            not in_body and isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name) and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        ):
            lines.append(node.lineno)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for dec in node.decorator_list:
                visit(dec, in_body)
            visit(node.args, in_body)
            for stmt in node.body:
                visit(stmt, True)
        elif isinstance(node, ast.Lambda):
            visit(node.args, in_body)
            visit(node.body, True)
        else:
            for child in ast.iter_child_nodes(node):
                visit(child, in_body)

    visit(ast.parse(source), False)
    return sorted(lines)


def enclosing_function(source: str, line: int) -> str | None:
    """Name of the innermost function whose body spans ``line``."""
    best = None
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.lineno <= line <= node.end_lineno
            and (best is None or node.lineno > best.lineno)
        ):
            best = node
    return best and best.name


def check(ok: bool, msg: str) -> None:
    tag = "ok  " if ok else "FAIL"
    print(f"[{tag}] {msg}")
    if not ok:
        FAILS.append(msg)


def main() -> int:
    import __spark_entry__ as entry_mod
    from conversadocs_spark.plans import ORACLES, QUERIES

    q = set(QUERIES)
    order = entry_mod._DRIVER_ORDER
    diff = q ^ set(order)
    check(not diff, f"registry == _DRIVER_ORDER (diverge: {diff or '{}'})")
    check(len(order) == len(set(order)),
          "_DRIVER_ORDER has no duplicates")
    extra_oracles = set(ORACLES) - q
    check(not extra_oracles,
          f"every oracle key has a query (extra: {extra_oracles or '{}'})")

    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(
        r"All (\d+) registered queries \((\d+) oracle-checked, (\d+)\s*\n?"
        r"rows-only\)", cov)
    if m:
        total, oracle_n, rows_only = map(int, m.groups())
        check(total == len(q) and oracle_n == len(ORACLES)
              and rows_only == len(q) - len(ORACLES),
              f"COVERAGE.md header counts {m.groups()} match live "
              f"registry ({len(q)}, {len(ORACLES)}, "
              f"{len(q) - len(ORACLES)})")
    else:
        check(False, "COVERAGE.md count header found")

    readme = open(os.path.join(REPO, "README.md")).read()
    mr = re.search(
        r"`COVERAGE\.md` \((\d+) registered queries, (\d+)\s*\n?"
        r"oracle-checked\)", readme)
    if mr:
        check(int(mr.group(1)) == len(q)
              and int(mr.group(2)) == len(ORACLES),
              f"README.md counts {mr.groups()} match live registry "
              f"({len(q)}, {len(ORACLES)})")
    else:
        check(False, "README.md count line found")

    # .collect( lint — keep in sync with tests/test_plans.py
    collect_allowed = {
        "operators/bpe.py", "operators/logreg.py",
        "sources/ingest.py", "streaming/ivf_maintain.py",
    }
    pkg = os.path.join(REPO, "conversadocs_spark")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(root, f)
            rel = os.path.relpath(full, pkg).replace(os.sep, "/")
            for i, line in enumerate(open(full), 1):
                if ".collect(" in line and rel not in collect_allowed:
                    offenders.append(f"{rel}:{i}")
    check(not offenders, f".collect( allowlist (offenders: {offenders})")

    # F.broadcast( lint — per-file site counts pinned with bound
    # justifications (see scripts/broadcast_allowlist.py docstring and
    # the tests/test_plans.py twin). Exact counts, so both added AND
    # removed sites force a review.
    from scripts.broadcast_allowlist import BROADCAST_ALLOWED
    found: dict[str, int] = {}
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(root, f)
            rel = os.path.relpath(full, pkg).replace(os.sep, "/")
            n = open(full).read().count("F.broadcast(")
            if n:
                found[rel] = n
    b_diff = {
        rel: (found.get(rel, 0), BROADCAST_ALLOWED.get(rel, 0))
        for rel in set(found) | set(BROADCAST_ALLOWED)
        if found.get(rel, 0) != BROADCAST_ALLOWED.get(rel, 0)
    }
    check(not b_diff,
          f"F.broadcast( site counts match allowlist "
          f"(found vs pinned: {b_diff or '{}'})")

    # Oracle result-TYPE lint (the r5/r12 HUGEINT class — see
    # scripts/oracle_typelint.py). Binds every oracle in DuckDB
    # against sf0.001 views (binding only, ~1s total) and fails on
    # any HUGEINT/UHUGEINT column or bind error. Soft-skips if the
    # driver testdata isn't present (preflight stays data-optional).
    sf_dir = os.environ.get("SPARK_GRAFT_TYPELINT_SF",
                            "/root/testdata/sf0.001")
    if os.path.isdir(sf_dir):
        from scripts.oracle_typelint import hugeint_offenders
        from tests.oracle import duckdb_views
        offenders = hugeint_offenders(duckdb_views(sf_dir), ORACLES)
        check(not offenders,
              f"oracle result types driver-safe, {len(ORACLES)} bound "
              f"(offenders: {offenders or '[]'})")
    else:
        print(f"[skip] oracle type lint (no testdata at {sf_dir})")

    # One comparator: tests/oracle.py is the only place allowed to
    # round result cells, so a float-boundary fix reaches every gate.
    copies = []
    for sub in ("scripts", "tests"):
        for root, _dirs, files in os.walk(os.path.join(REPO, sub)):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, REPO).replace(os.sep, "/")
                if f.endswith(".py") and rel != "tests/oracle.py" and (
                    NORMALIZER_RE.search(open(full).read())
                ):
                    copies.append(rel)
    check(not copies,
          f"no cell normalizer outside tests/oracle.py (copies: "
          f"{copies or '[]'})")

    # Fixture reads go through io.table: a direct spark.read.parquet of
    # an sf_dir path pays a schema-inference job on every call.
    sources = [os.path.join(REPO, f) for f in os.listdir(REPO)]
    for sub in ("conversadocs_spark", "scripts", "tests"):
        for root, _dirs, files in os.walk(os.path.join(REPO, sub)):
            sources += [os.path.join(root, f) for f in files]
    uncached = []
    for full in sources:
        rel = os.path.relpath(full, REPO).replace(os.sep, "/")
        if rel.endswith(".py") and rel != "conversadocs_spark/io.py":
            text = open(full).read()
            uncached += [
                f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                for m in SF_READ_RE.finditer(text)
            ]
    check(not uncached,
          f"no spark.read.parquet of an sf_dir path outside io.py "
          f"(offenders: {uncached or '[]'})")

    # A query's conf is its own: one that writes the session conf
    # leaks its tuning into every query running beside it on that
    # session. Conf of a query's own comes from session.child_session.
    writes = []
    for full in sources:
        rel = os.path.relpath(full, REPO).replace(os.sep, "/")
        if (
            rel.startswith("conversadocs_spark/") and rel.endswith(".py")
            and rel != "conversadocs_spark/session.py"
        ):
            text = open(full).read()
            writes += [
                f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                for m in CONF_WRITE_RE.finditer(text)
            ]
    check(not writes,
          f"no session conf write in conversadocs_spark/ outside "
          f"session.py (offenders: {writes or '[]'})")

    # Env knobs are an explicit list: each one is a code path to keep
    # working, so adding one is a decision, not a side effect.
    knobs = set()
    for full in sources:
        rel = os.path.relpath(full, REPO).replace(os.sep, "/")
        if rel.startswith("conversadocs_spark/") and rel.endswith(".py"):
            knobs |= set(ENV_KNOB_RE.findall(open(full).read()))
    check(knobs == ENGINE_ENV_KNOBS,
          f"SPARK_GRAFT_* names in conversadocs_spark/ == ENGINE_ENV_KNOBS "
          f"(unlisted: {sorted(knobs - ENGINE_ENV_KNOBS) or '[]'}, "
          f"unused: {sorted(ENGINE_ENV_KNOBS - knobs) or '[]'})")

    # Env is read when the engine runs, not when it is imported: a
    # module-level read keeps whatever the process had at first import.
    import_reads = []
    for full in sources:
        rel = os.path.relpath(full, REPO).replace(os.sep, "/")
        if rel.startswith("conversadocs_spark/") and rel.endswith(".py"):
            import_reads += [
                f"{rel}:{line}"
                for line in import_time_env_reads(open(full).read())
            ]
    check(not import_reads,
          f"no import-time env read in conversadocs_spark/ "
          f"(offenders: {import_reads or '[]'})")

    # A query must not assume it is the session's only caller: a temp
    # view named after a table, or a file path named after the fixture,
    # is read and rewritten by every concurrent caller.
    views, shared = [], []
    for full in sources:
        rel = os.path.relpath(full, REPO).replace(os.sep, "/")
        if not (rel.startswith("conversadocs_spark/") and rel.endswith(".py")):
            continue
        text = open(full).read()
        views += [
            f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
            for m in TEMP_VIEW_RE.finditer(text)
        ]
        if rel.startswith("conversadocs_spark/plans/"):
            for m in SHARED_NAME_RE.finditer(text):
                line = text.count(chr(10), 0, m.start()) + 1
                key = (rel.rsplit("/", 1)[1], enclosing_function(text, line))
                if key not in SHARED_NAME_ALLOWED:
                    shared.append(f"{rel}:{line}")
    check(not views,
          f"no createOrReplace*TempView in conversadocs_spark/ "
          f"(offenders: {views or '[]'})")
    check(not shared,
          f"no basename(sf_dir / gettempdir( in conversadocs_spark/plans/ "
          f"outside SHARED_NAME_ALLOWED (offenders: {shared or '[]'})")

    # The ANN ladder ranks through the top-k core, so the single-query /
    # batch plan choice stays in one place.
    windows = [
        rel for rel in ANN_LADDER
        if "Window.partitionBy(" in open(os.path.join(pkg, rel)).read()
    ]
    check(not windows,
          f"no Window.partitionBy( in the ANN ladder; ranks go through "
          f"knn.topk (offenders: {windows or '[]'})")

    if FAILS:
        print(f"\npreflight: {len(FAILS)} FAILURE(S) — do not snapshot")
        return 1
    print(f"\npreflight: all green ({len(q)} queries, "
          f"{len(ORACLES)} oracle-backed)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
