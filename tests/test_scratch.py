"""Per-call scratch directories and session-local SQL names: a query's
answer must not depend on what other calls of the same session did
before it or do beside it."""

from __future__ import annotations

import hashlib
import os
import threading
from collections import Counter

import pytest

from conversadocs_spark.plans import ORACLES, QUERIES
from tests.conftest import SF_ORACLE, SF_SMOKE


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name",
    [
        "lake_compact_files",
        "scan_csv_roundtrip",
        "index_build_overwrite",
        "dedup_incremental",
        "streaming_foreachbatch_sink",
        "join_bucketed_colocated",
    ],
)
def test_held_dataframe_survives_a_later_call(spark, tmp_path, name):
    """Two fixture dirs with one basename: a DataFrame returned for
    ``a`` still reads ``a``'s answer after the same query ran on
    ``b``."""
    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for link, target in ((a, SF_ORACLE), (b, SF_SMOKE)):
        link.parent.mkdir()
        link.symlink_to(target)
    held = QUERIES[name](spark, str(a))
    QUERIES[name](spark, str(b))
    assert _rows(held) == _rows(QUERIES[name](spark, str(a)))


def test_threaded_calls_on_one_session_match_serial(spark):
    """Four threads of one session, two queries that write files, each
    twice at once: every output equals that query's serial run."""
    names = ["lake_compact_files", "dedup_incremental"] * 2
    serial = {n: _rows(QUERIES[n](spark, SF_SMOKE)) for n in set(names)}
    barrier = threading.Barrier(len(names), timeout=300)
    got: dict[int, Counter] = {}
    errors: list[str] = []

    def run(i: int, name: str) -> None:
        try:
            barrier.wait()
            got[i] = _rows(QUERIES[name](spark, SF_SMOKE))
        except Exception as e:  # reported by the assertion below
            errors.append(f"{name}: {e!r}"[:400])
            barrier.abort()

    threads = [
        threading.Thread(target=run, args=(i, n))
        for i, n in enumerate(names)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for i, n in enumerate(names):
        assert got[i] == serial[n], n


def test_sweep_removes_only_dead_pid_dirs(monkeypatch):
    """The first call in a process removes ``ROOT/<pid>`` of every dead
    pid and nothing else: its own and other live pids' directories,
    and every name outside ``ROOT`` (IVF stages, staged fixture dirs,
    tests' own stages), survive."""
    import shutil

    from conversadocs_spark import scratch

    dead_pid = 2**22 + 11  # above the default pid_max: never alive
    dead = os.path.join(scratch.ROOT, str(dead_pid))
    own = os.path.join(scratch.ROOT, str(os.getpid()), "kept")
    live = os.path.join(scratch.ROOT, str(os.getppid()))
    outside = [
        os.path.join(scratch.STAGE_ROOT, n)
        for n in ("ivf_sfT_abcd1234", "run_2024_01", f"test_sfT_{dead_pid}")
    ]
    made = [os.path.join(dead, "cdc-x"), own, live, *outside]
    for p in made:
        os.makedirs(p, exist_ok=True)
    monkeypatch.setattr(scratch, "_swept_pid", None)
    try:
        out = scratch.call_dir("cdc")
        assert not os.path.isdir(dead), "dead-pid dir must be swept"
        assert os.path.isdir(own), "the caller's own dirs survive"
        assert os.path.isdir(live), "a live pid's dir survives"
        for p in outside:
            assert os.path.isdir(p), f"name outside ROOT touched: {p}"
        assert os.path.dirname(out) == os.path.dirname(own)
        assert os.path.basename(out).startswith("cdc-")
        assert os.listdir(out) == []
        assert scratch.call_dir("cdc") != out
    finally:
        for p in (dead, own, live, *outside):
            shutil.rmtree(p, ignore_errors=True)


_VIEW_QUERIES = (
    "sql_recursive_cte",
    "udtf_chunk_fixed",
    "udtf_dynamic_schema",
    "sql_correlated_subqueries",
    "sql_lateral_topk",
)


def test_sql_queries_leave_no_session_views(spark):
    """The SQL-text queries bind their tables per call, so the session
    holds no view named after a table for another caller to read."""
    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    for name in _VIEW_QUERIES:
        QUERIES[name](spark, SF_SMOKE)
    assert views() == before


def test_sql_query_oracles_are_byte_identical():
    """The oracle text is the Spark SQL text with table names filled in:
    each keeps the bytes it had when the query read table-named views."""
    assert {
        n: hashlib.sha256(ORACLES[n].encode()).hexdigest()[:16]
        for n in ("sql_recursive_cte", "sql_correlated_subqueries",
                  "sql_lateral_topk")
    } == {
        "sql_recursive_cte": "7aa90e1595f6a095",
        "sql_correlated_subqueries": "6e9b22c3a25b4318",
        "sql_lateral_topk": "3d428c19cdd9fbca",
    }
