"""Connected components over near-duplicate pairs: the survivor-
selection step a dedup pipeline runs AFTER pair generation.

Pair output (dedup_minhash etc.) relates docs transitively: A~B and
B~C must collapse to ONE kept doc even when A~C was never emitted.
That is a connected-components problem; cluster_id = min doc_id in
the component and the survivor is the doc equal to its cluster_id.

Scale shape: iterative min-label propagation with path-halving —
each round joins the current labels to the (bidirectional) edge list
taking the min label across self + neighbors, then pointer-jumps
(label := label-of-label), which halves remaining label-chain depth.
Rounds needed = O(log diameter) rather than diameter, so even a
pathological chain component of length 100 converges in ~10 rounds
(tests/test_pipeline.py::test_components_chain_converges), while
the star/clique shapes real near-dup graphs produce still finish in
~3; every round is hash-partitioned on id (no all-pairs anything).
The one driver-side action per round reads a single 0/1 convergence
flag — the same bounded O(log)-actions pattern as operators/reduce.py.
If the loop exhausts ``max_iter`` without converging the function
RAISES instead of returning partially-propagated (wrong) labels.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversadocs_spark.session import child_session, rebind

# Rounds executed by the most recent connected_components() call in
# this process (1 = the fused first round alone; +1 per loop round
# until the early fixpoint). Observability only — the early-fixpoint
# exit makes round count DATA-dependent (deeper near-dup graphs cost
# more rounds), and r12 showed a driver-regenerated fixture moving
# dedup_clusters 2.6 -> 4.1 s with zero code change; bench.py stamps
# this so "deeper graph -> more rounds" is measured, not inferred.
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
    written, and the labels come back as its DataFrame.
    """
    spark = pairs.sparkSession
    edges_raw = (
        pairs.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .union(
            pairs.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
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
    loop = child_session(
        spark, {"spark.sql.shuffle.partitions": str(loop_parts)}
    )
    try:
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
