"""Unit tests for the gate tooling: tests/oracle.py's comparator,
scripts/scale_gate.py's value checks, scripts/make_scale_dataset.py's
stride guard and scripts/oracle_typelint.py.

Above the gate's hash-compare cap the only feasible check is
engine-side: per-column checksums computed by BOTH Spark and DuckDB
over the full result. These tests pin that the signal (a) agrees when
the data agrees, (b) diverges when a value differs while the row
COUNT still matches (exactly the blind spot count-parity had), and
(c) applies per-type rules (float tolerance, string length, bool).
"""

from __future__ import annotations

import os
from datetime import date, datetime, timezone

import duckdb
import pytest

from tests.oracle import _normalize, duckdb_views, mismatch

@pytest.fixture(scope="module")
def gate():
    from scripts import scale_gate

    return scale_gate


_ROWS = [
    (1, 1.25, "alpha", True),
    (2, -0.5, "bb", False),
    (3, 7.0, "", True),
    (4, None, None, None),
]
_SCHEMA = "id long, val double, s string, flag boolean"


def _ducksetup(rows):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, val DOUBLE, s VARCHAR, "
        "flag BOOLEAN)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    return con


def test_value_signals_agree_on_identical_data(spark, gate):
    sdf = spark.createDataFrame(_ROWS, _SCHEMA)
    con = _ducksetup(_ROWS)
    ssig, osig, ok = gate.value_signals(con, sdf, "SELECT * FROM t")
    assert ok, f"signals diverged on identical data: {ssig} vs {osig}"
    assert ssig is not None and osig is not None


def test_value_signals_catch_value_drift_at_equal_count(spark, gate):
    """The case count-parity is blind to: same cardinality, one
    different value."""
    drifted = [(1, 1.25, "alpha", True), (2, -0.5, "bb", False),
               (3, 7.0, "", True), (4, 999.0, None, None)]
    sdf = spark.createDataFrame(_ROWS, _SCHEMA)
    con = _ducksetup(drifted)
    _, _, ok = gate.value_signals(con, sdf, "SELECT * FROM t")
    assert not ok


def test_value_signals_catch_string_and_bool_drift(spark, gate):
    drift_s = [(1, 1.25, "alphaX", True), (2, -0.5, "bb", False),
               (3, 7.0, "", True), (4, None, None, None)]
    drift_b = [(1, 1.25, "alpha", False), (2, -0.5, "bb", False),
               (3, 7.0, "", True), (4, None, None, None)]
    sdf = spark.createDataFrame(_ROWS, _SCHEMA)
    for rows in (drift_s, drift_b):
        con = _ducksetup(rows)
        _, _, ok = gate.value_signals(con, sdf, "SELECT * FROM t")
        assert not ok


def test_value_signals_tolerate_float_summation_order(spark, gate):
    """Engines sum floats in different orders; the comparison must
    not flag last-ulp noise (rel_tol covers it)."""
    rows = [(i, 0.1 * i, "x", True) for i in range(1, 200)]
    sdf = spark.createDataFrame(rows, _SCHEMA)
    con = _ducksetup(list(reversed(rows)))
    _, _, ok = gate.value_signals(con, sdf, "SELECT * FROM t")
    assert ok


def test_value_signals_skip_unsignalable_columns(spark, gate):
    """All-array schema -> no signal, reported as vacuous-ok (the
    gate prints 'no signal-able columns' instead of a fake pass)."""
    sdf = spark.createDataFrame(
        [([1.0, 2.0],), ([3.0],)], "emb array<double>"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (emb DOUBLE[])")
    ssig, osig, ok = gate.value_signals(con, sdf, "SELECT * FROM t")
    assert (ssig, osig, ok) == (None, None, True)


def test_value_signals_midpoint_unambiguous(spark, gate):
    """Round-half midpoints (x.xxx5) were the ADVICE r8 hazard: Spark
    round is BigDecimal HALF_UP, DuckDB round is C round, and they
    can disagree on the same double. The floor(x*1000 + 0.5)
    integerization is the identical IEEE expression in both engines,
    so a result column full of midpoints must still agree exactly."""
    rows = [(i, (2 * i + 1) / 2000.0, "m", True) for i in range(50)]
    rows += [(100 + i, -(2 * i + 1) / 2000.0, "m", False)
             for i in range(50)]
    sdf = spark.createDataFrame(rows, _SCHEMA)
    con = _ducksetup(list(reversed(rows)))
    ssig, osig, ok = gate.value_signals(con, sdf, "SELECT * FROM t")
    assert ok, f"midpoint column diverged: {ssig} vs {osig}"


# --------------------------------------------------------------------------
# VERDICT r9 #6: the quadratic-oracle queries' scale runs must assert
# values. Unit-level: each checker's diverge path on tampered outputs.
# Integration: every QUADRATIC_CHECKS entry green on its real query at
# sf0.01 (the same call the gate makes at sf1/sf10).
# --------------------------------------------------------------------------


def test_quadratic_checks_green_on_real_queries(
    spark, gate, sf_oracle_dir
):
    from conversadocs_spark.plans import QUERIES

    con = duckdb_views(sf_oracle_dir)
    for name, check in gate.QUADRATIC_CHECKS.items():
        sdf = QUERIES[name](spark, sf_oracle_dir)
        ok, note = check(spark, con, sdf)
        assert ok, f"{name}: {note}"


def _doc_con(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(texts.items())
    )
    return con


def test_pair_checker_catches_wrong_jaccard(spark, gate):
    texts = {
        1: "a b c d e f",       # shingles {a b c, b c d, c d e, d e f}
        2: "a b c d e g",       # true jaccard = 3/5 = 0.6
    }
    con = _doc_con(texts)
    good = spark.createDataFrame(
        [(1, 2, 0.6)], "id1 long, id2 long, jaccard_sim double"
    )
    ok, _ = gate.check_dedup_pairs_values(spark, con, good)
    assert ok
    wrong_val = spark.createDataFrame(
        [(1, 2, 0.75)], "id1 long, id2 long, jaccard_sim double"
    )
    ok, note = gate.check_dedup_pairs_values(spark, con, wrong_val)
    assert not ok and "mismatches=1" in note
    non_canonical = spark.createDataFrame(
        [(2, 1, 0.6)], "id1 long, id2 long, jaccard_sim double"
    )
    ok, _ = gate.check_dedup_pairs_values(spark, con, non_canonical)
    assert not ok
    below_batch_floor = spark.createDataFrame(
        [(1, 2, 0.6)], "id1 long, id2 long, jaccard_sim double"
    )
    ok, _ = gate.check_dedup_pairs_values(
        spark, con, below_batch_floor, min_id2=400
    )
    assert not ok


def test_cluster_checker_catches_broken_fixed_point(spark, gate):
    schema = "doc_id long, cluster_id long, is_survivor boolean"
    good = spark.createDataFrame(
        [(1, 1, True), (5, 1, False), (9, 1, False),
         (2, 2, True), (4, 2, False)],
        schema,
    )
    ok, _ = gate.check_clusters_fixed_point(spark, None, good)
    assert ok
    # cluster_id is not the min member id
    not_min = spark.createDataFrame(
        [(1, 5, False), (5, 5, True)], schema
    )
    ok, _ = gate.check_clusters_fixed_point(spark, None, not_min)
    assert not ok
    # singleton cluster
    single = spark.createDataFrame([(3, 3, True)], schema)
    ok, _ = gate.check_clusters_fixed_point(spark, None, single)
    assert not ok
    # two survivors
    twosurv = spark.createDataFrame(
        [(1, 1, True), (5, 1, True)], schema
    )
    ok, _ = gate.check_clusters_fixed_point(spark, None, twosurv)
    assert not ok
    # one doc labeled twice
    double = spark.createDataFrame(
        [(1, 1, True), (5, 1, False), (5, 2, False), (2, 2, True),
         (7, 2, False)],
        schema,
    )
    ok, _ = gate.check_clusters_fixed_point(spark, None, double)
    assert not ok


def test_basket_checker_catches_wrong_lift(spark, gate):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)"
    )
    # 4 orders; parts 10,20 co-occur in orders 1 and 2 and 3
    rows = [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 20),
            (4, 30)]
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    # n_orders=4, n10=3, n20=3, pair=3 -> lift = 3*4/(3*3) = 1.333333
    schema = "part_a long, part_b long, pair_n long, lift double"
    good = spark.createDataFrame([(10, 20, 3, round(12 / 9, 6))], schema)
    ok, note = gate.check_basket_lift_values(spark, con, good)
    assert ok, note
    wrong_lift = spark.createDataFrame([(10, 20, 3, 1.5)], schema)
    ok, note = gate.check_basket_lift_values(spark, con, wrong_lift)
    assert not ok and "mismatches=1" in note
    wrong_n = spark.createDataFrame(
        [(10, 20, 4, round(16 / 9, 6))], schema
    )
    ok, _ = gate.check_basket_lift_values(spark, con, wrong_n)
    assert not ok
    below_support = spark.createDataFrame(
        [(10, 20, 2, round(8 / 9, 6))], schema
    )
    ok, _ = gate.check_basket_lift_values(spark, con, below_support)
    assert not ok


# ---------------------------------------------------------------- #
# Oracle result-TYPE lint (scripts/oracle_typelint.py): the r5/r12
# HUGEINT class. Value-normalized gates cannot see column types, so
# the lint must (a) flag an injected uncast sum(BIGINT) oracle and
# (b) find ZERO offenders in the live registry.
# ---------------------------------------------------------------- #

@pytest.fixture(scope="module")
def typelint():
    from scripts import oracle_typelint

    return oracle_typelint


def test_typelint_catches_injected_hugeint(typelint):
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT CAST(1 AS BIGINT) AS x")
    bad = typelint.hugeint_offenders(con, {
        "uncast": "SELECT sum(x) AS total FROM t",       # HUGEINT
        "negated": "SELECT -sum(x) AS total FROM t",      # HUGEINT
        "cast_ok": "SELECT CAST(sum(x) AS BIGINT) AS total FROM t",
        "bindless": "SELECT nope FROM t",
    })
    assert any(b.startswith("uncast.total=") for b in bad)
    assert any(b.startswith("negated.total=") for b in bad)
    assert any(b.startswith("bindless: BIND-ERR") for b in bad)
    assert not any(b.startswith("cast_ok") for b in bad)


def test_typelint_registry_clean(typelint):
    sf = os.environ.get("SPARK_GRAFT_TYPELINT_SF",
                        "/root/testdata/sf0.001")
    if not os.path.isdir(sf):
        pytest.skip(f"no testdata at {sf}")
    from conversadocs_spark.plans import ORACLES
    assert typelint.hugeint_offenders(duckdb_views(sf), ORACLES) == []


def test_typelint_class_parity_helpers(typelint):
    tc, sc = typelint.type_class, typelint.spark_type_class
    assert tc("BIGINT") == sc("bigint") == "int"
    assert tc("INTEGER") == sc("int") == "int"       # width-blind
    assert tc("DOUBLE") == sc("double") == "float"
    assert tc("VARCHAR") == sc("string") == "str"
    assert tc("VARCHAR[]") == sc("array<string>") == "array"
    assert tc("HUGEINT") == "BANNED"
    assert tc("STRUCT(a BIGINT)[]") == "array"
    bad = typelint.class_mismatches(
        [("a", "bigint"), ("b", "double")],
        ["a", "b"], ["HUGEINT", "DOUBLE"])
    assert bad and "a:" in bad[0]
    assert typelint.class_mismatches(
        [("a", "bigint")], ["a"], ["INTEGER"]) == []


# ---------------------------------------------------------------- #
# tests/oracle.py is the one comparator every gate imports. These are
# the cell kinds on which the per-script copies it replaced disagreed
# with it (they only rounded top-level floats).
# ---------------------------------------------------------------- #


@pytest.mark.parametrize("cell, want", [
    (None, None),
    (True, True),
    (7, 7),
    (0.12345649, 0.123456),
    (float("nan"), "NaN"),
    ([1.0000004, 2, None], (1.0, 2, None)),
    ({"b": 0.1234567, "a": None}, (("a", None), ("b", 0.123457))),
    (datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc),
     "2024-01-02T03:04:05"),
    (datetime(2024, 1, 2, 3, 4, 5), "2024-01-02T03:04:05"),
    (date(2024, 1, 2), "2024-01-02"),
])
def test_normalize_cell_kinds(cell, want):
    assert _normalize(["c"], [(cell,)]) == (["c"], [(want,)])


def test_normalize_sorts_columns_by_name_and_none_last():
    cols, rows = _normalize(["b", "a"], [(None, 2), ("x", 1), (None, 1)])
    assert cols == ["a", "b"]
    assert rows == [(1, "x"), (1, None), (2, None)]


def test_mismatch_equates_nan_and_tz_and_reports_drift():
    nan, ts = float("nan"), datetime(2024, 1, 2, tzinfo=timezone.utc)
    assert mismatch(["x", "t"], [(nan, ts)],
                    ["t", "x"], [(ts.replace(tzinfo=None), nan)]) is None
    assert "row count" in mismatch(["x"], [(1,)], ["x"], [])
    assert "column mismatch" in mismatch(["x"], [(1,)], ["y"], [(1,)])
    assert "1 row mismatches" in mismatch(["x"], [(1.5,)], ["x"], [(1.25,)])


def test_scale_dataset_refuses_chained_build(spark, sf_dir, tmp_path):
    """An unstrided source builds; a source that is already a strided
    copy raises before anything is written (the sf0.1 -> sf1 -> sf10
    chain that collided doc_id/vec_id)."""
    from scripts.make_scale_dataset import build

    once = str(tmp_path / "x2")
    build(spark, sf_dir, once, copies=2)
    assert os.path.isdir(os.path.join(once, "documents.parquet"))
    twice = str(tmp_path / "x4")
    with pytest.raises(ValueError, match="per-copy stride"):
        build(spark, once, twice, copies=2)
    assert not os.path.exists(twice)


def test_family_plan_rules(gate):
    """One exchange allowlist for every sf100 family: first allowed key
    wins, the serving tag records the semi-join shape, and broadcast /
    forbidden-operator rules fail loudly."""
    plan = "\n".join([
        "+- Exchange hashpartitioning(query_id#1, 8)",
        "   +- Exchange hashpartitioning(vec_id#2, 8)",
        "      +- BroadcastExchange HashedRelationBroadcastMode",
    ])
    serving = gate.Gate(
        "q", None, None,
        keys=("hashpartitioning(query_id", "hashpartitioning(vec_id"),
        tag=gate._serving_shape(True),
    )
    assert gate.check_plan(serving, plan) == "shuffled-semi"
    assert gate.check_plan(
        gate.Gate("q", None, None, keys=("id#",), broadcast=True), plan
    ) == "broadcast+2ex"
    with pytest.raises(AssertionError, match="outside the allowed keys"):
        gate.check_plan(gate.Gate("q", None, None, keys=("query_id",)), plan)
    with pytest.raises(AssertionError, match="BroadcastExchange at scale"):
        gate.check_plan(
            gate.Gate("q", None, None, forbid=("BroadcastExchange",)), plan
        )
    with pytest.raises(AssertionError, match="no broadcast"):
        gate.check_plan(
            gate.Gate("q", None, None, broadcast=True),
            plan.replace("BroadcastExchange", "Project"),
        )
