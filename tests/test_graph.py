"""Graph + sketch tests: PageRank against a NumPy power-iteration
reference (including a dangling node), and the Misra-Gries guarantee
checked value-wise against exact counts."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.operators.pagerank import pagerank
from conversadocs_spark.operators.sketch import heavy_hitters
from conversadocs_spark.plans.registry import QUERIES


def _numpy_pagerank(edges, alpha=0.85, iters=200):
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = {i: 0 for i in range(n)}
    for s, _ in edges:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        new = np.full(n, (1.0 - alpha) / n)
        dangling = sum(r[i] for i in range(n) if out_deg[i] == 0)
        new += alpha * dangling / n
        for s, d in edges:
            new[idx[d]] += alpha * r[idx[s]] / out_deg[idx[s]]
        r = new
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy_with_dangling(spark):
    # 1->2, 1->3, 2->3, 3->1 plus dangling node 4 (edge 1->4, no out)
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (1, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.id: r.rank for r in pagerank(df, max_iter=100, tol=1e-10).collect()
    }
    ref = _numpy_pagerank(edges)
    assert set(got) == set(ref)
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_raises_without_convergence(spark):
    # asymmetric graph (node 3 dangling): ranks move on every early
    # round, so 1 iteration cannot reach a 1e-300 residual
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        pagerank(df, max_iter=1, tol=1e-300)


def test_graph_pagerank_query_ranks_hubs(spark, sf_dir):
    rows = QUERIES["graph_pagerank"](spark, sf_dir).collect()
    assert rows
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.rank > 0 for r in rows)


def _python_pagerank_fixedpoint(edges, iters, scale=10**12,
                                alpha_num=85, alpha_den=100):
    """Integer replay of pagerank_fixedpoint (dangling-uniform model:
    each dangling node contributes r DIV n to every node)."""
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    base = scale // n
    out_deg: dict = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    r = {v: base for v in nodes}
    one_minus = alpha_den - alpha_num
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += r[s] // out_deg[s]
        dshare = sum(r[v] // n for v in nodes if v not in out_deg)
        r = {
            v: (one_minus * base
                + alpha_num * (inflow[v] + dshare)) // alpha_den
            for v in nodes
        }
    return r


def test_pagerank_fixedpoint_matches_python_with_dangling(spark):
    """The integer operator (dangling='uniform' path) must equal the
    pure-python integer replay EXACTLY — bit-identical, not close —
    as the distributed loop and as the single-task kernel."""
    from conversadocs_spark.operators.pagerank import (
        pagerank_fixedpoint,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (1, 4)]  # 4 is dangling
    df = spark.createDataFrame(edges, ["src", "dst"])
    ref = _python_pagerank_fixedpoint(edges, iters=12)
    for single_task in (False, True):
        got = {
            r.id: r.rank_fp
            for r in pagerank_fixedpoint(
                df, iters=12, tol_fp=10**12, dangling="uniform",
                single_task=single_task,
            ).collect()
        }
        assert got == ref, f"single_task={single_task}"


def test_pagerank_fixedpoint_contracts(spark):
    """dangling='none' raises on a graph with dangling nodes; the
    residual guard raises when the fixed budget cannot settle. Both
    hold for the distributed loop and for the single-task kernel."""
    from conversadocs_spark.operators.pagerank import (
        pagerank_fixedpoint,
    )

    df = spark.createDataFrame([(1, 2), (1, 3), (2, 1)], ["src", "dst"])
    for single_task in (False, True):
        with pytest.raises(ValueError, match="dangling"):
            pagerank_fixedpoint(
                df, iters=2, dangling="none", single_task=single_task
            )
        with pytest.raises(RuntimeError, match="residual"):
            pagerank_fixedpoint(
                df, iters=1, tol_fp=0, dangling="uniform",
                single_task=single_task,
            )


def test_pagerank_plan_capture_degrades_not_raises(spark):
    """VERDICT r14 #6: the executed-plan capture rides the PRIVATE
    _jdf.queryExecution() surface — a py4j/API change must degrade
    observability to None, never fail the operator. _capture_plan
    swallows both a missing surface and one that raises; the
    plan_sink out-param receives the per-call plan."""
    from conversadocs_spark.operators import pagerank as pr

    # broken surfaces: no _jdf at all, and a _jdf whose access raises
    assert pr._capture_plan(object()) is None

    class _Boom:
        @property
        def _jdf(self):
            raise RuntimeError("py4j surface changed")

    assert pr._capture_plan(_Boom()) is None

    # healthy path: the sink gets the per-call plan
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    sink: list = []
    ranks = pr.pagerank_fixedpoint(
        df, iters=4, tol_fp=10**12, dangling="none", plan_sink=sink
    ).collect()
    assert len(ranks) == 3
    assert len(sink) == 1
    assert sink[0] is not None and "HashAggregate" in sink[0]


def _strip_cached_lineage(plan: str) -> str:
    """Executed segment only, minus every InMemoryRelation subtree —
    the work a round itself does (the sf100 gate's helper, inlined so
    importing the gate script's module side effects is not needed)."""
    final = plan.split("== Initial Plan ==")[0]
    out: list = []
    skip_indent = None
    for line in final.splitlines():
        indent = len(line) - len(line.lstrip(" :"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def _random_edges(seed: int, symmetric: bool) -> list:
    """A seeded random small graph with duplicate edges and self-loops,
    one edge per node on average, so about a third of the nodes are
    dangling (their shares must floor one by one); ``symmetric`` adds
    every reverse edge (no dangling nodes)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(3, 80))
    pairs = rng.integers(0, n, size=(n, 2)) * 7 + 100
    edges = [tuple(map(int, p)) for p in pairs]
    return edges + [(d, s) for s, d in edges] if symmetric else edges


def test_pagerank_kernel_matches_distributed_loop(spark):
    """single_task=True (graph_pagerank_exact's path) runs the fixed
    budget as one numpy kernel; on seeded random graphs, in both
    dangling modes, its ranks must equal the distributed loop's bit
    for bit. A drift in the kernel's division order, dangling share or
    dedup fails here before it can reach the oracle row."""
    from conversadocs_spark.operators.pagerank import (
        pagerank_fixedpoint,
    )

    for seed in range(3):
        for dangling in ("uniform", "none"):
            df = spark.createDataFrame(
                _random_edges(seed, symmetric=dangling == "none"),
                ["src", "dst"],
            )
            loop, kernel = (
                sorted(
                    tuple(r)
                    for r in pagerank_fixedpoint(
                        df, iters=9, tol_fp=10**12, dangling=dangling,
                        checkpoint_every=3, single_task=single_task,
                    ).collect()
                )
                for single_task in (False, True)
            )
            assert loop and kernel == loop, (seed, dangling)


def test_pagerank_loop_keeps_session_width(spark):
    """The distributed loop (the corpus-scale path the sf100 graph gate
    runs) plans each round at the session shuffle width, so the round
    keeps its hash exchange, and leaves the session conf untouched."""
    import re

    from conversadocs_spark.operators import pagerank as pr

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)],
        ["src", "dst"],
    )
    width_before = spark.conf.get("spark.sql.shuffle.partitions")
    sink: list = []
    pr.pagerank_fixedpoint(
        df, iters=4, tol_fp=10**12, dangling="none",
        checkpoint_every=4, plan_sink=sink,
    ).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == width_before
    assert sink and sink[0]
    assert re.search(
        r"Exchange hashpartitioning",
        _strip_cached_lineage(sink[0]),
    ), "session-width loop lost its per-round aggregate shuffle"


def test_graph_pagerank_exact_matches_oracle(spark, sf_oracle_dir):
    """The fixed-24-iteration integer power iteration replays in
    DuckDB's recursive CTE (VERDICT r10 #2; budget raised 16->24 by
    the r11 sf1 gate catch — see plans/graph.py)."""
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(
        spark, "graph_pagerank_exact", sf_oracle_dir
    )


def test_graph_pagerank_exact_is_nondegenerate(spark, sf_oracle_dir):
    """The co-purchase graph actually ranks: top-20 contains more than
    one distinct rank value (the word-adjacency fixture graph is
    degree-regular/uniform — this one must not be)."""
    rows = QUERIES["graph_pagerank_exact"](spark, sf_oracle_dir).collect()
    assert len(rows) == 20
    assert len({r.rank_fp for r in rows}) > 1
    assert all(r.rank_fp > 0 for r in rows)


def test_misra_gries_guarantee(spark, sf_dir):
    terms = (
        io.table(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .where(F.length("term") >= 4)
    )
    exact = {
        r.term: r["cnt"]
        for r in terms.groupBy("term").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(exact.values())
    k = 50  # tighter than the query's 200 to make the bound bite
    est = {r.term: r.est for r in heavy_hitters(terms, "term", k=k).collect()}
    budget = n / (k + 1)
    # every heavy term survives
    for t, c in exact.items():
        if c > budget:
            assert t in est, f"heavy term {t} ({c} > {budget}) dropped"
    # estimates are underestimates within the MG budget
    for t, e in est.items():
        assert e <= exact[t]
        assert e >= exact[t] - budget


def test_triangles_total_and_plan(spark, sf_oracle_dir):
    """The per-node counts must sum to 3x the global triangle count
    (every triangle has exactly 3 corners) measured independently by
    the naive id-ordered join, and the executed plan must hold no
    nested-loop join — the degree-ordered iterator is equi-keyed
    end to end."""
    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    li = (
        io.table(spark, sf_oracle_dir, "lineitem")
        .where(F.col("l_orderkey") < 2000)
        .select("l_orderkey", "l_partkey")
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
        )
        .distinct()
        .persist()
    )
    e1 = e.select(F.col("x").alias("a"), F.col("y").alias("b"))
    e2 = e.select(F.col("x").alias("b"), F.col("y").alias("c"))
    e3 = e.select(F.col("x").alias("a"), F.col("y").alias("c"))
    n_tri = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    assert n_tri == 19928

    df = QUERIES["graph_triangles"](spark, sf_oracle_dir)
    rows = df.collect()
    assert len(rows) == 20
    assert rows == sorted(
        rows, key=lambda r: (-r.n_triangles, r.part_id)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
