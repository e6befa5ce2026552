"""Distributed logistic-regression trainer (operators/logreg.py).

The trainer is rows-only by design (iterative Newton state), so these
tests carry the correctness burden: an independent NumPy IRLS
re-derivation must reproduce the converged weights, and the fixture
task (a linear threshold of the features) must be separated almost
perfectly.
"""

from __future__ import annotations

import numpy as np
import pytest


def _numpy_irls(X, y, lam=1e-6, n_iter=15):
    d = X.shape[1]
    w = np.zeros(d)
    n = len(y)
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-X @ w))
        r = p * (1.0 - p)
        H = (X.T * r) @ X / n + lam * np.eye(d)
        g = X.T @ (p - y) / n + lam * w
        w = w - np.linalg.solve(H, g)
    return w


def test_lr_train_matches_numpy_irls(spark):
    """Converged weights on a planted 2-feature task == the NumPy
    IRLS fixed point (the L2 ridge makes it unique)."""
    from conversadocs_spark.operators.logreg import lr_predict, lr_train

    rng = [(i * 37 % 97) / 97.0 for i in range(200)]
    rows = [
        (1.0, x, (x * 3 % 1.0), 1.0 if x + (x * 3 % 1.0) > 1.0 else 0.0)
        for i, x in enumerate(rng)
    ]
    df = spark.createDataFrame(
        rows, "f_bias double, f_a double, f_b double, y double"
    ).persist()
    try:
        w = lr_train(df, ["f_bias", "f_a", "f_b"], lam=1e-6, n_iter=15)
    finally:
        df.unpersist()
    X = np.array([[r[0], r[1], r[2]] for r in rows])
    y = np.array([r[3] for r in rows])
    w_np = _numpy_irls(X, y)
    assert np.allclose(w, w_np, rtol=1e-4, atol=1e-6), (w, list(w_np))
    assert callable(lr_predict)


def test_quality_lr_train_separates_fixture(spark, sf_oracle_dir):
    """The fixture label is a linear threshold of the features, so
    the trainer must reach >= 0.95 train accuracy, and the weights
    must match the NumPy IRLS re-derivation of the SAME features."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["quality_lr_train"](spark, sf_oracle_dir).collect()
    by_feat = {r.feature: r.weight for r in rows}
    acc = rows[0].train_accuracy
    assert set(by_feat) == {"f_bias", "f_lensat", "f_uniq", "f_punct"}
    assert acc >= 0.95, acc

    # independent re-derivation from the raw parquet
    import duckdb

    con = duckdb.connect()
    feats = con.execute(
        f"""
        WITH s AS (
          SELECT least(len(string_split(text,' '))/50.0, 1.0) AS f1,
                 len(list_distinct(string_split(text,' ')))*1.0
                     / len(string_split(text,' ')) AS f2,
                 least(len(regexp_extract_all(text,'[^A-Za-z0-9\\s]'))
                       *1.0/length(text), 1.0) AS f3
          FROM '{sf_oracle_dir}/documents.parquet')
        SELECT f1, f2, f3,
               f1*0.4 + f2*0.4 + (1-f3)*0.2 AS q
        FROM s
        """
    ).fetchall()
    con.close()
    X = np.array([[1.0, r[0], r[1], r[2]] for r in feats])
    q = np.array([r[3] for r in feats])
    y = (q > np.median(q)).astype(float)
    w_np = _numpy_irls(X, y)
    got = np.array(
        [by_feat[c] for c in ("f_bias", "f_lensat", "f_uniq", "f_punct")]
    )
    assert np.allclose(got, w_np, rtol=1e-3, atol=1e-4), (
        list(got),
        list(w_np),
    )


def test_lr_train_one_job_per_iteration(spark):
    """Scale contract: K iterations must launch exactly K aggregate
    jobs over the cached features (gradient + Hessian fused into one
    pass) — not K*(d + d^2) separate scans."""
    from conversadocs_spark.operators.logreg import lr_train

    rows = [(1.0, float(i % 7) / 7.0, float(i % 2)) for i in range(50)]
    df = spark.createDataFrame(
        rows, "f_bias double, f_a double, y double"
    ).persist()
    df.count()  # materialize the cache outside the measured window
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    try:
        lr_train(df, ["f_bias", "f_a"], n_iter=5)
    finally:
        df.unpersist()
    after = len(tracker.getJobIdsForGroup(None) or [])
    # AQE materializes the partial-agg exchange as its own job, so a
    # single fused aggregate costs 2 jobs per iteration; the failure
    # mode guarded against is O(d + d^2) scans per iteration (>= 6
    # per iteration even at d=2).
    assert after - before <= 2 * 5 + 1, (
        f"{after - before} jobs for 5 IRLS iterations — the "
        "gradient/Hessian sums are no longer fused into one agg"
    )


def test_quality_lr_serve_manifest_roundtrip(spark, sf_oracle_dir, call_dirs):
    """Serve path: scores must equal the sigmoid of the manifest
    weights against independently recomputed features (JSON doubles
    round-trip repr-exact), keep == score >= 0.5, and roughly half
    the corpus clears the above-median gate."""
    import json
    import math
    import os

    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["quality_lr_serve"](spark, sf_oracle_dir).collect()
    n = len(rows)
    keep = sum(1 for r in rows if r.keep)
    assert 0.3 * n <= keep <= 0.7 * n, (keep, n)
    for r in rows:
        assert r.keep == (r.lr_score >= 0.5)

    (model_dir,) = call_dirs["lrmodel"]
    mpath = os.path.join(model_dir, "v=1", "_manifest.json")
    with open(mpath) as fh:
        m = json.load(fh)
    assert m["features"] == ["f_bias", "f_lensat", "f_uniq", "f_punct"]
    w = m["weights"]

    import duckdb

    con = duckdb.connect()
    feats = con.execute(
        f"""
        SELECT doc_id,
               least(len(string_split(text,' '))/50.0, 1.0),
               len(list_distinct(string_split(text,' ')))*1.0
                   / len(string_split(text,' ')),
               least(len(regexp_extract_all(text,'[^A-Za-z0-9\\s]'))
                     *1.0/length(text), 1.0)
        FROM '{sf_oracle_dir}/documents.parquet'
        """
    ).fetchall()
    con.close()
    expect = {}
    for doc_id, f1, f2, f3 in feats:
        z = w[0] + w[1] * f1 + w[2] * f2 + w[3] * f3
        expect[doc_id] = 1.0 / (1.0 + math.exp(-z))
    for r in rows:
        assert abs(r.lr_score - round(expect[r.doc_id], 6)) < 2e-6, (
            r.doc_id, r.lr_score, expect[r.doc_id]
        )


def test_lr_train_raises_on_null_rows(spark):
    """A NULL label or feature must error loudly, not silently shrink
    the gradient/Hessian by 1/n (ADVICE r8)."""
    import pytest

    from conversadocs_spark.operators.logreg import lr_train

    df = spark.createDataFrame(
        [(1.0, 0.5, 1.0), (1.0, -0.5, 0.0), (1.0, None, 1.0)],
        "f_bias double, f_x double, y double",
    )
    with pytest.raises(ValueError, match="NULL label/feature"):
        lr_train(df, ["f_bias", "f_x"], label_col="y", n_iter=2)
    null_label = spark.createDataFrame(
        [(1.0, 0.5, 1.0), (1.0, -0.5, None)],
        "f_bias double, f_x double, y double",
    )
    with pytest.raises(ValueError, match="NULL label/feature"):
        lr_train(null_label, ["f_bias", "f_x"], label_col="y",
                 n_iter=2)


def test_quality_lr_score_fixed_is_shuffle_free_scan(spark,
                                                     sf_oracle_dir):
    """The serving expression must stay a pure narrow map: no
    Exchange of any kind in the executed plan — at 100 TB this query
    is a storage-bandwidth scan, nothing else."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["quality_lr_score_fixed"](spark, sf_oracle_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    # executedPlan toString marks codegen stages with a "*(n)" prefix
    assert plan.lstrip().startswith("*("), plan[:300]


def test_tdiv_truncates_toward_zero_like_both_engines():
    """tdiv must match DuckDB's // and Spark's div (truncation), NOT
    Python's flooring // — the one-rounding rule every division in the
    fixed-point trainer relies on."""
    import duckdb

    from conversadocs_spark.operators.logreg import tdiv

    cases = [(-7, 2), (7, 2), (-6, 2), (7, -2), (-7, -2), (0, 5)]
    con = duckdb.connect()
    for a, b in cases:
        duck = con.execute(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()[0]
        assert tdiv(a, b) == duck, (a, b, tdiv(a, b), duck)


def test_quality_lr_train_fixed_matches_oracle(spark, sf_oracle_dir):
    """The 48 preconditioned heavy-ball updates replay bit-for-bit in
    DuckDB's recursive CTE (VERDICT r11 #6 — the lr_train promotion)."""
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(
        spark, "quality_lr_train_fixed", sf_oracle_dir
    )


def test_quality_lr_train_fixed_learns_the_planted_boundary(
    spark, sf_oracle_dir
):
    """The fixture label is a linear threshold of the features, so the
    fixed-point trainer must actually separate it: train accuracy
    >= 0.9 (measured 0.96 at sf0.01), and the learned direction must
    agree with the planted one (positive weight on both length
    saturation and lexical diversity)."""
    from conversadocs_spark.plans import QUERIES

    rows = {
        r["feature"]: r
        for r in QUERIES["quality_lr_train_fixed"](
            spark, sf_oracle_dir
        ).collect()
    }
    assert rows["f_bias"]["train_accuracy"] >= 0.9
    assert rows["f_lensat"]["weight_fp"] > 0
    assert rows["f_uniq"]["weight_fp"] > 0
    # fixed-point/double projections agree
    for r in rows.values():
        assert abs(r["weight"] - r["weight_fp"] / 1e6) < 1e-12
