"""PageRank over an edge DataFrame — the iterative-algorithm class
(power iteration with dangling-mass redistribution).

The reference has no graph surface; this serves the corpus-curation
use the similarity graph creates anyway (dedup pairs -> graph):
centrality picks the canonical document per near-dup neighborhood and
scores hub-ness for sampling/weighting decisions (the same role the
original PageRank plays for web corpora like Common Crawl).

Spark-first design, mirroring operators/components.py:
- state is one (id, rank) DataFrame; each round is
  contribution-join -> groupBy-sum -> teleport/dangling correction —
  two shuffles on the edge key per round, edge table hash-partitioned
  ONCE and cached so every round reuses the distribution.
- zero-inflow nodes stay alive via KEEPER self-rows in the flow
  relation (a (id, id, NULL-deg) row per node — the NULL contribution
  is ignored by SUM but the group survives), not a per-round join
  against the node table: one relation join + one aggregation per
  round, nothing else. Measured at sf0.1 (6.5k-node co-purchase
  graph, 24 fixed rounds, local[32]): the keeper formulation cut
  116 AQE stage-jobs to 82 and wall 14.8 s to ~5.1-5.9 s across
  sessions, with bit-identical ranks (r12, VERDICT r11 #4 — local-mode job latency, not data,
  dominated the old per-round nodes join + broadcast).
- dangling mass (nodes with no out-edges) is a 1-row aggregate
  broadcast into the update — never a driver-side vector.
- lineage is truncated per round with localCheckpoint(eager=False);
  the convergence aggregate (sum |delta|, an L1 residual) is the one
  action per round.
- ranks are plain doubles: convergence is detected on a tolerance,
  not bit-equality, so float-order drift cannot wedge the loop.

The fixed-point twin, :func:`pagerank_fixedpoint`, also runs as one
numpy kernel in one task (``single_task``) for a graph its caller
bounds, where the per-round jobs, not the data, are the cost.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _capture_plan(df: DataFrame) -> str | None:
    """Best-effort executed-plan capture. PySpark has no public
    executedPlan accessor, so this goes through the private py4j
    surface — wrapped so a py4j/API change degrades observability to
    None instead of failing the OPERATOR (VERDICT r14 #6: the scale
    gate then skips its plan pin loudly; ranks are unaffected)."""
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank. ``edges`` is a directed edge list;
    returns (id, rank) with ranks summing to 1 over all nodes that
    appear in the edge list (either side).

    Raises if the L1 residual has not dropped below ``tol`` within
    ``max_iter`` rounds — never returns silently-unconverged ranks
    (the components.py non-convergence contract).
    """
    # persisted for the same reason as the fixedpoint twin: the degree
    # relation and links each re-derive e, and without the cache each
    # materialization re-runs the caller's whole edge-construction
    # subtree.
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # ONE degree pass replaces the old nodes-distinct + two left-anti
    # joins (r15, guide §2.4 — remove shuffles outright): per node,
    # out_deg = number of rows where it is a src, has_in = whether it
    # is ever a dst. From this single grouped relation fall out the
    # node set (every id), the keeper set (has_in = 0), the dangling
    # set (out_deg = 0) and the out-degree join side — identical sets
    # to the old formulation, one exchange instead of four.
    deg = (
        e.select(
            F.col("src").alias("id"),
            F.lit(1).alias("o"),
            F.lit(0).alias("i"),
        )
        .unionAll(
            e.select(
                F.col("dst").alias("id"),
                F.lit(0).alias("o"),
                F.lit(1).alias("i"),
            )
        )
        .groupBy("id")
        .agg(
            F.sum("o").cast("long").alias("out_deg"),
            F.max("i").alias("has_in"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = deg.count()  # scalar: also materializes the cache
    if n_nodes == 0:
        # empty graph: empty result, not a divide-by-zero
        deg.unpersist()
        e.unpersist()
        return deg.select("id", F.lit(0.0).alias("rank"))
    # flow relation: (src, dst, out_deg) PLUS one keeper self-row —
    # NULL out_deg, contribution ignored by SUM but the group
    # survives — for each node that would otherwise drop out of the
    # per-round aggregation. Only no-IN-edge nodes need one (any
    # other node's group survives via its real inflow rows); empty on
    # symmetric edge lists. Hash-partitioned once on src: every
    # round's contribution join reuses this distribution.
    keepers = deg.where(F.col("has_in") == 0).select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        F.lit(None).cast("long").alias("out_deg"),
    )
    # a node with out_deg = 0 never appears as src in e, so the inner
    # join drops it without an explicit filter
    links = (
        e.join(deg.select(F.col("id").alias("src"), "out_deg"), "src")
        .unionByName(keepers)
        .repartition(F.col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # static dangling id set, once (see the fixedpoint twin's note)
    dang = (
        deg.where(F.col("out_deg") == 0)
        .select("id")
        .repartition(F.col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dang.count()
    # links materializes lazily at the first round's action (e stays
    # cached until the end of the call so that population is
    # cache-priced) — r16: the dedicated links.count() job bought
    # nothing the first round doesn't also do.
    ranks = deg.select(
        "id", F.lit(1.0 / n_nodes).alias("rank")
    ).localCheckpoint(eager=False)

    converged = False
    for _ in range(max_iter):
        # ONE groupBy straight off the join — the per-round
        # select/groupBy/agg chain is fused so the driver analyzes 3
        # Dataset ops per round instead of 6 (r16: the 24-round build
        # was ~1.4 s of pure py4j+analyzer wall at sf0.1, guide §1.2
        # order-of-operations applied to the DRIVER side). Identical
        # aggregate tree: sum(rank / out_deg) partial/final as before.
        contrib = (
            links.join(ranks, links["src"] == ranks["id"])
            .groupBy(links["dst"].alias("nid"))
            .agg(
                F.sum(F.col("rank") / F.col("out_deg")).alias("inflow")
            )
        )
        # dangling nodes (no out-edges) leak their rank; redistribute
        # it uniformly. 1-row aggregate, broadcast via crossJoin.
        dangling = (
            ranks.join(dang, "id", "semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        new_ranks = (
            contrib.crossJoin(F.broadcast(dangling))
            .select(
                F.col("nid").alias("id"),
                (
                    F.lit((1.0 - alpha) / n_nodes)
                    + alpha
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + F.col("dmass") / n_nodes
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
        residual = (
            new_ranks.join(
                ranks.select(
                    F.col("id").alias("oid"), F.col("rank").alias("orank")
                ),
                new_ranks["id"] == F.col("oid"),
            )
            .agg(F.sum(F.abs(F.col("rank") - F.col("orank"))).alias("r"))
            .first()["r"]
        )
        ranks = new_ranks
        if residual < tol:
            converged = True
            break
    links.unpersist()
    deg.unpersist()
    dang.unpersist()
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"pagerank did not converge below {tol} in {max_iter} "
            "iterations; raise max_iter or loosen tol"
        )
    return ranks


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 16,
    scale: int = 10**12,
    alpha_num: int = 85,
    alpha_den: int = 100,
    tol_fp: int = 20_000_000,
    dangling: str = "uniform",
    checkpoint_every: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
    single_task: bool = False,
    plan_sink: list | None = None,
) -> DataFrame:
    """FIXED-POINT power-iteration PageRank — the oracle-checkable twin
    of :func:`pagerank` (VERDICT r10 #2).

    Ranks are BIGINT in units of 1/scale; every update is pure integer
    arithmetic with the division order spelled out so DuckDB replays
    the iteration bit for bit (the lm_bigram fixed-point rule):

        base   = scale DIV n
        c_edge = r_src DIV out_deg_src          (per directed edge)
        r_new  = ((alpha_den - alpha_num) * base
                  + alpha_num * (inflow + dangling_share)) DIV alpha_den

    All quantities are non-negative, so Spark's truncating ``DIV`` and
    DuckDB's flooring ``//`` agree, and BIGINT sums are partition-order
    exact. The iteration count is FIXED (no data-dependent early exit
    — that is what makes a recursive-CTE replay possible); the L1
    residual between the last two iterations is still computed once at
    the end and raises above ``tol_fp`` fixed-point units, so a graph
    the fixed budget cannot settle fails loudly instead of returning
    drifting ranks (the components.py non-convergence contract; floors
    quantize the dynamics, so the residual plateaus near n/2 units and
    never diverges on a converging graph).

    ``dangling``: "uniform" routes each dangling node's rank to every
    node as ``r_d DIV n`` (the classical dangling-goes-everywhere
    model, kept integer per dangling node); "none" asserts the graph
    has no dangling nodes (one cheap left-anti count — symmetric edge
    lists built as union-of-both-directions qualify) and skips the
    per-round aggregate entirely.

    ``checkpoint_every``: eager-localCheckpoint cadence. A FIXED
    iteration count needs no per-round action, so rounds between
    checkpoints stay lazy and execute fused in one job — values are
    identical at any cadence (checkpointing only truncates lineage).
    Measured on the sf0.1 co-purchase graph (6580 nodes, 24 rounds,
    local[32]): every-round 20.8 s, every-4 13.3 s, no-checkpoints
    31.0 s (the un-truncated 24-round plan drowns Catalyst) — batch a
    few rounds per checkpoint, never all of them. dangling="uniform"
    forces cadence 1: each round's dangling share is a 1-row
    broadcast aggregate OVER the current ranks, so a lazy round would
    embed the whole prior lineage under every later broadcast and
    multiply recomputation instead of saving jobs.

    Scale shape: identical to :func:`pagerank` — state is one
    (id, rank) DataFrame, the edge relation is hash-partitioned once
    and cached, each round is one contribution join + one
    map-side-combinable sum, lineage truncated with an eager
    localCheckpoint every ``checkpoint_every`` rounds. No driver-side
    vectors at any node count.

    ``single_task``: for a graph its CALLER bounds, run the whole
    fixed budget as one numpy kernel in one ``mapInPandas`` task over
    the edge list (:func:`_fixedpoint_single_task`). The kernel
    replays the update above over int64 in the same division
    order, so its ranks equal the distributed loop's bit for bit in
    both dangling modes (tests/test_graph.py pins the parity). On a
    small graph the loop's cost is driver and job overhead, not data:
    graph_pagerank_exact's 6,580-node sf0.1 graph took 26 jobs and
    3.5-5.5 s per warm call on 4 vCPUs, 2.4-3.1 s of it plan
    construction, and takes 5 jobs and about 1 s in one task. That
    task holds the whole edge list, so a corpus-scale graph must keep
    the default loop (the sf100 graph gate runs it).
    ``checkpoint_every`` and ``plan_sink`` apply to the loop only.

    ``plan_sink``: optional list; the captured first-checkpoint
    executed plan (a string, or None if the private capture surface
    is unavailable) is appended to it. Capture is opt-in: rendering a
    fused multi-round plan costs 0.3-0.5 s of wall per call at sf0.1
    (r16), so only callers that audit the round shape (the sf100 graph
    gate, the plan-pin tests) pass a sink.
    """
    one_minus = alpha_den - alpha_num
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if single_task:
        return _fixedpoint_single_task(
            e, iters, scale, alpha_num, alpha_den, tol_fp, dangling
        )
    # Persist the deduped edge relation: nodes / out_deg / keepers /
    # links each re-derive it, and WITHOUT the persist each of those
    # materializations re-runs the caller's whole edge-construction
    # subtree (for graph_pagerank_exact: a lineitem self-join +
    # distinct, 4x) — measured at sf0.1 as ~5.4 s of the 10-11 s
    # call, i.e. setup cost HALF the wall before the loop even runs
    # (r14, VERDICT r13 #3). One pass builds it; everything else
    # reads the cache. links then holds the joined copy, so e is
    # released as soon as links is materialized by the first round.
    e = e.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    # ONE degree pass replaces the old nodes-distinct + left-anti
    # joins (r15, guide §2.4 — remove shuffles outright): per node,
    # out_deg = count of rows where it is a src, has_in = whether it
    # ever appears as a dst. The node set (every id), the keeper set
    # (has_in = 0), the dangling set (out_deg = 0) and the out-degree
    # join side all read this one persisted relation — identical sets
    # to the old formulation (re-gated bit-identical), one exchange
    # instead of four and ONE setup action instead of three
    # (n_nodes + n_dangling come from a single aggregate row).
    deg = (
        e.select(
            F.col("src").alias("id"),
            F.lit(1).alias("o"),
            F.lit(0).alias("i"),
        )
        .unionAll(
            e.select(
                F.col("dst").alias("id"),
                F.lit(0).alias("o"),
                F.lit(1).alias("i"),
            )
        )
        .groupBy("id")
        .agg(
            F.sum("o").cast("bigint").alias("out_deg"),
            F.max("i").alias("has_in"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = deg.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("out_deg") == 0).alias("d"),
    ).first()
    n_nodes, n_dangling = stats["n"], stats["d"]
    if n_nodes == 0:
        deg.unpersist()
        e.unpersist()
        return deg.select("id", F.lit(0).cast("bigint").alias("rank_fp"))
    base = scale // n_nodes
    # keeper self-rows (NULL deg): zero-INFLOW nodes survive the
    # per-round aggregation without a nodes join — the same flow
    # relation the DuckDB oracle builds (plans/graph.py), and values
    # are identical to the old left-join form (the keeper's NULL
    # contribution is ignored by SUM; r12 re-gate: bit-identical at
    # sf0.1, 116 -> 82 local-mode jobs, 14.8 -> ~5.1-5.9 s).
    # FOLDED (VERDICT r12 #5): only nodes that never appear as an
    # edge DESTINATION actually need a keeper — every other node's
    # group survives via its real inflow rows. Keepers are therefore
    # the has_in = 0 slice of the degree relation (empty for any
    # symmetric/union-of-both-directions edge list, e.g. the
    # co-purchase graph): a keeper for a node with inflow only ever
    # added a SUM-ignored NULL to a group that already existed.
    keepers = deg.where(F.col("has_in") == 0).select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        F.lit(None).cast("bigint").alias("out_deg"),
    )
    # a node with out_deg = 0 never appears as src in e, so the inner
    # join drops its degree row without an explicit filter
    links = (
        e.join(deg.select(F.col("id").alias("src"), "out_deg"), "src")
        .unionByName(keepers)
        .repartition(F.col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # dangling id set: the out_deg = 0 slice of the degree relation —
    # the per-round dangling mass is then a co-partitioned semi-join
    # of the current ranks against this static, persisted set instead
    # of a per-round left_anti whose out_deg lineage would re-derive
    # the caller's whole edge subtree every round (r14: the e-cache is
    # released after links materializes, so recomputation would be
    # corpus-priced, not cache-priced).
    if dangling == "none":
        # loud-failure check comes free from the stats row above
        if n_dangling > 0:
            links.unpersist()
            deg.unpersist()
            e.unpersist()
            raise ValueError(
                "dangling='none' but the graph has dangling nodes"
            )
        dang = None
    else:
        dang = (
            deg.where(F.col("out_deg") == 0)
            .select("id")
            .repartition(F.col("id"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        dang.count()
    # links materializes lazily at the first checkpoint action; e is
    # kept cached until the end of the call so that population stays
    # cache-priced (r16: the dedicated links.count() job — one more
    # dispatched local-mode job per call — bought nothing the first
    # round's action doesn't also do).
    ranks = deg.select(
        "id", F.lit(base).cast("bigint").alias("rank_fp")
    ).localCheckpoint(eager=True)
    deg.unpersist()

    every = 1 if dangling != "none" else max(1, checkpoint_every)
    captured = False
    prev = ranks
    for _i in range(iters):
        # Fused round build (r16): groupBy straight off the join, and
        # (dangling="none") the rank update folded into the aggregate's
        # result expression — 3 analyzed Dataset ops per round instead
        # of 6. The 24-round build was ~1.4 s of pure py4j+analyzer
        # wall at sf0.1 (60 ms/round), ~40% of the query; the fused
        # form measured 0.7 s with bit-identical top-20 at every
        # checkpoint cadence (guide §1.2 — the driver is part of the
        # job too). The aggregate tree is unchanged: partial/final
        # sum(rank_fp div out_deg) with the same SinglePartition or
        # hash clustering, so values are exact either way.
        if dangling == "none":
            new_ranks = (
                links.join(ranks, links["src"] == ranks["id"])
                .groupBy(links["dst"].alias("id"))
                .agg(
                    F.expr(
                        f"({one_minus} * {base}L + {alpha_num} * "
                        f"coalesce(sum(rank_fp div out_deg), 0L)) "
                        f"div {alpha_den} as rank_fp"
                    )
                )
            )
        else:
            contrib = (
                links.join(ranks, links["src"] == ranks["id"])
                .groupBy(links["dst"].alias("nid"))
                .agg(
                    F.sum(F.expr("rank_fp div out_deg")).alias("inflow")
                )
            )
            # semi-join against the static dangling set: ranks leaves
            # the groupBy(nid) hash-partitioned on id, dang is
            # persisted partitioned on id -> zero-exchange semi join
            # + a 1-row aggregate, broadcast into the update.
            dangling_nodes = ranks.join(dang, "id", "semi")
            dshare = (
                dangling_nodes.select(
                    F.expr(f"rank_fp div {n_nodes}L").alias("ds")
                )
                .agg(
                    F.coalesce(F.sum("ds"), F.lit(0))
                    .cast("bigint")
                    .alias("dshare")
                )
            )
            new_ranks = (
                contrib.crossJoin(F.broadcast(dshare))
                .select(
                    F.col("nid").alias("id"),
                    F.expr(
                        f"({one_minus} * {base}L + {alpha_num} * "
                        f"(coalesce(inflow, 0L) + dshare)) "
                        f"div {alpha_den}"
                    ).alias("rank_fp"),
                )
            )
        prev = ranks
        if (_i + 1) % every == 0 or _i == iters - 1:
            ranks = new_ranks.localCheckpoint(eager=True)
            if plan_sink is not None and not captured:
                captured = True
                plan_sink.append(_capture_plan(new_ranks))
        else:
            ranks = new_ranks
    residual = (
        ranks.join(
            prev.select(
                F.col("id").alias("pid"),
                F.col("rank_fp").alias("prank"),
            ),
            ranks["id"] == F.col("pid"),
        )
        .agg(F.sum(F.abs(F.col("rank_fp") - F.col("prank"))).alias("r"))
        .first()["r"]
    )
    links.unpersist()
    e.unpersist()
    if dang is not None:
        dang.unpersist()
    if residual > tol_fp:
        raise RuntimeError(
            f"pagerank_fixedpoint residual {residual} > tol_fp "
            f"{tol_fp} after {iters} fixed iterations; raise iters"
        )
    return ranks


def _fixedpoint_single_task(
    e: DataFrame,
    iters: int,
    scale: int,
    alpha_num: int,
    alpha_den: int,
    tol_fp: int,
    dangling: str,
) -> DataFrame:
    """:func:`pagerank_fixedpoint`'s fixed budget over the (src, dst)
    edge list ``e``, as one numpy kernel in one ``mapInPandas`` task:
    the kernel dedups the edges itself (a Spark ``distinct`` would be
    one more shuffle stage, one more job), and the integer update, the
    dangling share and the end-of-budget residual are the loop's, so
    the ranks are too.

    The task emits, beside each (id, rank_fp), the graph's dangling
    count and the residual between the last two rounds; the driver
    reads them with one ``first()`` on the eager checkpoint and raises
    the loop's errors. The kernel is a closure, so it pickles by value
    and the Python worker needs no import of this package."""
    one_minus = alpha_den - alpha_num

    def kernel(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        src, dst = np.unique(
            pdf[["src", "dst"]].to_numpy(np.int64), axis=0
        ).T
        ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
        n, m = len(ids), len(src)
        out_deg = np.bincount(idx[:m], minlength=n)
        # edges grouped by destination: each round's inflow is one
        # segmented int64 sum (exact, unlike bincount's float weights)
        order = np.argsort(idx[m:], kind="stable")
        si, di = idx[:m][order], idx[m:][order]
        starts = np.flatnonzero(np.r_[True, di[1:] != di[:-1]])
        dang = out_deg == 0
        base = scale // n
        ranks = prev = np.full(n, base, np.int64)
        for _ in range(iters):
            inflow = np.zeros(n, np.int64)
            inflow[di[starts]] = np.add.reduceat(
                ranks[si] // out_deg[si], starts
            )
            if dangling != "none":
                inflow += (ranks[dang] // n).sum()
            prev = ranks
            ranks = (one_minus * base + alpha_num * inflow) // alpha_den
        yield pd.DataFrame({
            "id": ids,
            "rank_fp": ranks,
            "n_dangling": int(dang.sum()),
            "residual": int(np.abs(ranks - prev).sum()),
        })

    ranks = (
        e.coalesce(1)
        .mapInPandas(
            kernel,
            "id bigint, rank_fp bigint, n_dangling bigint, residual bigint",
        )
        .localCheckpoint(eager=True)
    )
    head = ranks.select("n_dangling", "residual").first()
    if head is not None:
        if dangling == "none" and head["n_dangling"] > 0:
            raise ValueError(
                "dangling='none' but the graph has dangling nodes"
            )
        if head["residual"] > tol_fp:
            raise RuntimeError(
                f"pagerank_fixedpoint residual {head['residual']} > "
                f"tol_fp {tol_fp} after {iters} fixed iterations; "
                "raise iters"
            )
    return ranks.select(
        F.col("id").cast(e.schema["src"].dataType), "rank_fp"
    )
