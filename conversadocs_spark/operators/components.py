"""Connected components over near-duplicate pairs: the survivor-
selection step a dedup pipeline runs AFTER pair generation.

Pair output (dedup_minhash etc.) relates docs transitively: A~B and
B~C must collapse to ONE kept doc even when A~C was never emitted.
That is a connected-components problem; cluster_id = min doc_id in
the component and the survivor is the doc equal to its cluster_id.

Scale shape: min-label propagation with a pointer jump per round, so
rounds grow with log(diameter), not diameter (a 100-node chain takes
~10, real star/clique near-dup graphs ~2); each round is hash-
partitioned on id and its one driver action reads a label sum. A graph
whose measured edge count fits one partition (the near-dup rep-pair
graph at every fixture scale) runs the same rounds as one numpy kernel
in one task (:func:`_connected_components_single_task`). Exhausting
``max_iter`` RAISES on either path; labels are never partial.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversadocs_spark.session import child_session, rebind

# Rounds executed by the most recent connected_components() call in
# this process (1 = the fused first round alone; +1 per loop round
# until the early fixpoint). Observability only: the round count is
# data-dependent, so bench.py and perfbench stamp it per call.
LAST_RUN_ROUNDS: int | None = None


def connected_components(
    pairs: DataFrame,
    src_col: str = "id1",
    dst_col: str = "id2",
    max_iter: int = 25,
    edges_per_partition: int = 1_000_000,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``pairs``.

    cluster_id is the minimum id reachable in the node's component —
    deterministic, so the result is oracle-checkable against a
    transitive-closure SQL formulation.

    The loop runs at a width of its own (below), in a child session
    (``session.child_session``); the caller's session conf is never
    written, and the labels come back as its DataFrame. At width 1 the
    same rounds run as one numpy kernel in one task instead.

    Both paths read one persisted bidirectional edge list, built in
    ONE pass over ``pairs`` (each row inlines (src, dst) and (dst,
    src)). A union of the two directions gives the same rows and types
    but runs ``pairs``' plan once per branch, and that plan is usually
    a lazy pipeline: dedup_clusters' MinHash rep pairs ran twice.
    """
    spark = pairs.sparkSession
    edges_raw = pairs.selectExpr(
        f"inline(array(named_struct('src', `{src_col}`, 'dst', `{dst_col}`),"
        f" named_struct('src', `{dst_col}`, 'dst', `{src_col}`)))"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Scale-adaptive loop width (r15): the iterative joins/aggregates
    # below run at spark.sql.shuffle.partitions width EVERY round, and
    # the cached edge distribution is only reusable when the loop width
    # matches the edge table's width. Near-dup pair graphs are tiny
    # relative to the corpus (distinct-content reps, pairs only above
    # threshold), so a session width sized for corpus scans pays
    # mostly-empty tasks per round here. Derive the width from the
    # MEASURED edge count instead: one slim row is 16 bytes, so
    # 1M edges/partition ~ 16 MB blocks; clamped to the session width
    # so a genuinely large pair graph keeps full parallelism. The
    # count materializes the persisted edge table — work the first
    # probe action paid anyway — and every later read is a cache hit.
    n_edges = edges_raw.count()
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(
        1, min(sess_parts, -(-n_edges // max(1, edges_per_partition)))
    )
    try:
        # an empty graph keeps the loop: the kernel would emit no row
        # to carry its round count
        if loop_parts == 1 and n_edges:
            return _connected_components_single_task(edges_raw, max_iter)
        loop = child_session(
            spark, {"spark.sql.shuffle.partitions": str(loop_parts)}
        )
        labels = _connected_components_loop(
            rebind(edges_raw, loop), loop_parts, max_iter
        )
    finally:
        edges_raw.unpersist()
    return rebind(labels, spark)


def _connected_components_loop(
    edges_raw: DataFrame, loop_parts: int, max_iter: int
) -> DataFrame:
    """Min-label propagation at a fixed ``loop_parts`` width, which
    must be ``edges_raw``'s session's shuffle width; every round's
    localCheckpoint is materialized by its probe action in that
    session, so the returned labels are width-stable."""
    edges = (
        # hash-partition by the join key BEFORE persisting: the cached
        # distribution satisfies every round's join requirement (the
        # loop runs at the same width), so the (large, immutable) edge
        # table is shuffled once, not once per round — only the
        # (shrinking-churn) label table moves.
        edges_raw.repartition(loop_parts, F.col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Round 1, fused: the initial labeling is the identity, so the
    # first neighbor-min step collapses to ONE aggregation over the
    # edge list (min neighbor vs self) with no labels join, and the
    # pointer jump is a no-op (label-of-label under identity = label).
    # Every node appears as src (edges are bidirectional), so this
    # also covers label initialization.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("id"),
            F.least("src", "nmin").alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).first()["s"]
    global LAST_RUN_ROUNDS
    LAST_RUN_ROUNDS = 1
    converged = False
    for _ in range(max_iter - 1):
        LAST_RUN_ROUNDS += 1
        neighbor_min = edges.join(
            labels, edges["dst"] == labels["id"]
        ).groupBy("src").agg(F.min("label").alias("nmin"))
        stepped = (
            labels.join(
                neighbor_min,
                labels["id"] == neighbor_min["src"],
                "left",
            )
            .select(
                labels["id"],
                F.least(
                    F.col("label"), F.coalesce("nmin", "label")
                ).alias("label"),
            )
            # lazy checkpoint: the fixpoint probe below materializes
            # it, and the pointer jump (when still needed) reuses the
            # materialized table instead of recomputing the join.
            .localCheckpoint(eager=False)
        )
        # Early fixpoint (VERDICT r10 #5): if the neighbor-min step
        # changed nothing (same strictly-decreasing label sum), the
        # labels are FINAL — with bidirectional edges a neighbor-min
        # fixpoint means label(u) <= label(v) for every edge in both
        # directions, i.e. labels are constant per component, and the
        # component's min node pins that constant to the true min. So
        # the pointer-jump join of this round (and the full
        # confirmation round the old shape paid) can be skipped. Real
        # near-dup graphs are stars/cliques that hit this in round 2;
        # deep chains never trigger it early, so the O(log diameter)
        # convergence proof (and the non-convergence raise) is
        # untouched.
        stepped_sum = stepped.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        if stepped_sum == prev_sum:
            labels.unpersist()
            labels = stepped
            converged = True
            break
        # Pointer jump: every label IS a node id, so following one
        # more hop (label := label-of-label, which is <= label by the
        # invariant label <= id) contracts label chains geometrically.
        # Plain propagation moves the component min one hop per round
        # (rounds = diameter); with the jump the rounds drop to
        # O(log diameter) (chain-of-100 pinned in tests). The jump
        # reads the PREVIOUS round's table (cached/checkpointed), not
        # `stepped` — self-joining `stepped` would recompute its whole
        # neighbor-min subtree for the second side of the join; the
        # stale-by-one-round pointers still contract and the fixpoint
        # (detected below) is identical.
        new_labels = (
            stepped.alias("n")
            .join(
                labels.select(
                    F.col("id").alias("lid"),
                    F.col("label").alias("llabel"),
                ).alias("m"),
                F.col("n.label") == F.col("m.lid"),
                "left",
            )
            .select(
                F.col("n.id").alias("id"),
                F.least(
                    F.col("n.label"),
                    F.coalesce("m.llabel", "n.label"),
                ).alias("label"),
            )
            # localCheckpoint truncates the lineage so the plan does
            # not grow by two joins per round (it would otherwise
            # re-derive every prior round on each action). Lazy: the
            # convergence aggregate below is the ONE action per round
            # and materializes it.
            .localCheckpoint(eager=False)
        )
        # Track the label sum WITHOUT a join: every step only ever
        # lowers labels (min with neighbors, then jump to a
        # smaller-or-equal label), so the sum is strictly decreasing
        # until the fixpoint — one cheap aggregate per round instead
        # of a labels-vs-labels shuffle join; the NEXT round's stepped
        # probe compares against it. (A post-jump sum can never equal
        # prev_sum here: the early break above already caught
        # stepped_sum == prev_sum, and new_sum <= stepped_sum.)
        # decimal38 keeps the sum exact at any id range / corpus size.
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        # new_labels is materialized by the action above, so the
        # intermediate stepped table's blocks can go too.
        stepped.unpersist()
        labels.unpersist()
        labels = new_labels
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations; labels would be partially propagated — "
            "raise max_iter (rounds needed ~ log2(component diameter))"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def _connected_components_single_task(
    edges_raw: DataFrame, max_iter: int
) -> DataFrame:
    """:func:`_connected_components_loop`'s rounds as one numpy kernel
    in one ``mapInPandas`` task over the (bidirectional) edge list:
    the fused first round, the label-sum early fixpoint and the
    pointer jump through the PREVIOUS round's labels, so labels, round
    count and the non-convergence raise equal the loop's.

    Node ids are replaced by their rank among the sorted ids, which
    keeps every min; labels only ever fall, so the loop's equal-sum
    fixpoint test is an equal-array test here. The task emits the
    round count and convergence beside each label; the driver reads
    them with one ``first()`` on the eager checkpoint. The kernel is a
    closure, so it pickles by value and the Python worker needs no
    import of this package."""

    def kernel(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        # every node is a src (edges run both ways)
        ids, src = np.unique(
            pdf["src"].to_numpy(np.int64), return_inverse=True
        )
        dst = np.searchsorted(ids, pdf["dst"].to_numpy(np.int64))
        order = np.argsort(src, kind="stable")
        dst = dst[order]
        starts = np.flatnonzero(np.r_[True, np.diff(src[order]) != 0])
        labels = np.minimum(
            np.arange(len(ids)), np.minimum.reduceat(dst, starts)
        )
        rounds, converged = 1, False
        for _ in range(max_iter - 1):
            rounds += 1
            stepped = np.minimum(
                labels, np.minimum.reduceat(labels[dst], starts)
            )
            if np.array_equal(stepped, labels):
                converged = True
                break
            labels = np.minimum(stepped, labels[stepped])
        yield pd.DataFrame({
            "id": ids,
            "cluster_id": ids[labels],
            "rounds": rounds,
            "converged": converged,
        })

    labels = (
        edges_raw.coalesce(1)
        .mapInPandas(
            kernel,
            "id bigint, cluster_id bigint, rounds int, converged boolean",
        )
        .localCheckpoint(eager=True)
    )
    head = labels.select("rounds", "converged").first()
    global LAST_RUN_ROUNDS
    LAST_RUN_ROUNDS = head["rounds"]
    if not head["converged"]:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations; labels would be partially propagated — "
            "raise max_iter (rounds needed ~ log2(component diameter))"
        )
    id_type = edges_raw.schema["src"].dataType
    return labels.select(
        F.col("id").cast(id_type), F.col("cluster_id").cast(id_type)
    )
