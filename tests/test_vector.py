"""Vector operator tests: flagship kNN vs DuckDB oracle + ANN recall
floor (the promise at plans/vector.py ann_topk)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle import assert_query_matches_oracle


@pytest.mark.parametrize("name", ["knn_topk"])
def test_vector_query_matches_oracle(spark, sf_oracle_dir, name):
    assert_query_matches_oracle(spark, name, sf_oracle_dir)


def test_ann_recall_at_3(spark, sf_oracle_dir):
    """LSH-approximate top-3 must recover >= 0.8 of the exact top-3
    neighbour set over the 5 fixture queries."""
    from conversadocs_spark.plans import QUERIES

    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["knn_per_query"](spark, sf_oracle_dir).collect()
    }
    rows = QUERIES["ann_topk"](spark, sf_oracle_dir).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"ANN recall@3 = {recall:.2f} < 0.8"
    # in-plan audit: the recall column agrees with the measured value
    # and the floor gate kept the rows (healthy output is non-empty)
    assert rows, "recall audit emptied a healthy ANN result"
    per_query = {r.query_id: r.recall_at_k for r in rows}
    mean_in_plan = sum(per_query.values()) / len(per_query)
    assert abs(mean_in_plan - recall) < 1e-6


def test_ivf_recall_at_3(spark, sf_oracle_dir):
    """IVF-approximate top-3 must recover >= 0.8 of the exact top-3
    neighbour set (measured 0.867, deterministic: hash init + exact
    decimal centroid means make the index partition-order invariant)."""
    from conversadocs_spark.plans import QUERIES

    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["knn_per_query"](spark, sf_oracle_dir).collect()
    }
    rows = QUERIES["ann_ivf"](spark, sf_oracle_dir).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF recall@3 = {recall:.2f} < 0.8"
    assert rows, "recall audit emptied a healthy IVF result"
    per_query = {r.query_id: r.recall_at_k for r in rows}
    mean_in_plan = sum(per_query.values()) / len(per_query)
    assert abs(mean_in_plan - recall) < 1e-6


def test_ivf_assignment_partitions_corpus(spark, sf_oracle_dir):
    """ivf_build assigns every corpus vector to exactly one cell, and
    no cell is empty at 16 lists over 495 near-uniform vectors."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import ivf_build

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    assigned, centroids = ivf_build(emb, n_lists=16, refine_iters=2)
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert centroids.count() == 16


def test_ivf_build_checkpoints_each_lloyd_step(spark, sf_oracle_dir, tmp_path):
    """ivf_build checkpoints each step's K-row centroids, so writing the
    index (ivf_write_index: a count and two writes) reads them instead
    of re-running the Lloyd chain: fewer than the 26 jobs the lazy chain
    cost, and the same assignments and centroids as the lazy chain."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import (
        _assign,
        _cell_means,
        ivf_build,
        ivf_write_index,
    )

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assigned, centroids = ivf_build(emb, n_lists=16, refine_iters=2)
    ivf_write_index(assigned, centroids, str(tmp_path), dim=64, n_lists=16)
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert jobs < 26, f"build + index write ran {jobs} jobs"

    # the lazy chain, as ivf_build ran it before it checkpointed
    lazy = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(16)).cast("int").alias("list_id"),
    )
    means = _cell_means(lazy, "vec_id", "embedding")
    for _ in range(2):
        lazy = _assign(emb, means, "vec_id", "embedding")
        means = _cell_means(lazy, "vec_id", "embedding")

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    written = spark.read.parquet(str(tmp_path / "assignments" / "v=1"))
    assert rows(written, "vec_id", "list_id") == rows(
        lazy, "vec_id", "list_id"
    )
    assert rows(centroids, "list_id", "centroid") == rows(
        means, "list_id", "centroid"
    )


def test_similarity_join_non_vacuous(spark, sf_oracle_dir):
    """Regression guard: the threshold must keep the result non-empty
    on the fixtures (a 0-row pass proves nothing)."""
    from conversadocs_spark.plans import QUERIES

    n = QUERIES["similarity_join"](spark, sf_oracle_dir).count()
    assert n > 0


def test_ivf_index_partition_pruning(spark, sf_oracle_dir, tmp_path):
    """The 100 TB IVF story: persist assignments partitioned by
    list_id, probe a cell subset, and the scan must prune to the
    probed partitions (PartitionFilters in the plan + fewer files
    read), so a query touches nprobe/n_lists of the index."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import ivf_build

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    assigned, _ = ivf_build(emb, n_lists=16, refine_iters=1)
    path = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)

    probe = spark.read.parquet(path).where(F.col("list_id").isin(0, 1))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    # pruned scan must touch only the 2 probed cells
    assert (
        probe.select("list_id").distinct().count() == 2
    )
    import os

    all_parts = [
        d for d in os.listdir(path) if d.startswith("list_id=")
    ]
    assert len(all_parts) == 16


def test_ivf_assign_matches_window_argmax(spark, sf_oracle_dir):
    """The shuffle-free array_max argmax in _assign must pick exactly
    the assignments the n x K window form (r5 design) picked — max
    cosine, ties to the lowest list_id."""
    from pyspark.sql import Window

    from conversadocs_spark import io
    from conversadocs_spark.functions.vector import cosine_similarity
    from conversadocs_spark.operators.ivf import _assign, _cell_means

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    init = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(16))
        .cast("int")
        .alias("list_id"),
    )
    centroids = _cell_means(init, "vec_id", "embedding")
    got = {
        (r.vec_id, r.list_id)
        for r in _assign(emb, centroids, "vec_id", "embedding").collect()
    }
    sim = cosine_similarity(F.col("embedding"), F.col("centroid"))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("csim"), F.asc("list_id")
    )
    want = {
        (r.vec_id, r.list_id)
        for r in (
            emb.crossJoin(F.broadcast(centroids))
            .select(
                "vec_id", "list_id", F.round(sim, 9).alias("csim")
            )
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .collect()
        )
    }
    assert got == want


def test_ivf_assign_no_exchange(spark, sf_oracle_dir):
    """The executed plan between centroid scoring and argmax must hold
    NO Exchange: the old row_number form shuffled all n x K scored rows
    (r5 verdict #2). The packed-centroid form is a 1-row broadcast join
    plus a Project, so the only acceptable Exchange anywhere in the
    assignment plan is none at all."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import _assign, _cell_means

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    init = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(16))
        .cast("int")
        .alias("list_id"),
    )
    centroids = _cell_means(init, "vec_id", "embedding")
    assigned = _assign(emb, centroids, "vec_id", "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    # tree shape: Project <- BNLJ <- [corpus scan, BroadcastExchange <-
    # centroid-packing agg]. The K-row packing side legitimately
    # aggregates; the n-row corpus side (between the join node and its
    # broadcast child) must be exchange-free, and the window argmax
    # signature must be gone entirely.
    assert "BroadcastNestedLoopJoin" in plan, plan
    corpus_side = plan.split("BroadcastNestedLoopJoin", 1)[1].split(
        "BroadcastExchange", 1
    )[0]
    assert "Exchange" not in corpus_side, corpus_side
    assert "Window" not in plan and "row_number" not in plan


def test_ivf_build_is_partition_invariant(spark, sf_oracle_dir):
    """The index must not depend on how the input happened to be
    partitioned (hash init + exact-decimal centroid means are the
    mechanisms): building over 3 vs 13 input partitions yields
    identical assignments."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import ivf_build

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    a1, _ = ivf_build(emb.repartition(3), n_lists=16, refine_iters=2)
    a2, _ = ivf_build(emb.repartition(13), n_lists=16, refine_iters=2)
    m1 = {(r.vec_id, r.list_id) for r in a1.collect()}
    m2 = {(r.vec_id, r.list_id) for r in a2.collect()}
    assert m1 == m2


def test_pq_recall_at_3(spark, sf_oracle_dir):
    """PQ-approximate top-3 must recover >= 0.8 of the exact top-3
    neighbour set (measured 0.933 with m=8, ksub=16, pool=96 on the
    uniform-random fixtures — the PQ worst case); the in-plan audit
    column must agree with the measured recall."""
    from conversadocs_spark.plans import QUERIES

    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["knn_per_query"](spark, sf_oracle_dir).collect()
    }
    rows = QUERIES["ann_pq"](spark, sf_oracle_dir).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"PQ recall@3 = {recall:.2f} < 0.8"
    assert rows, "recall audit emptied a healthy PQ result"
    per_query = {r.query_id: r.recall_at_k for r in rows}
    mean_in_plan = sum(per_query.values()) / len(per_query)
    assert abs(mean_in_plan - recall) < 1e-6


def test_pq_codes_are_valid_and_compress(spark, sf_oracle_dir):
    """Every encoded vector carries exactly m codes in [0, ksub), the
    codebook holds at most m*ksub entries of dsub doubles, and the
    code columns actually discriminate (every subspace uses >1 code —
    a collapsed codebook would silently destroy recall)."""
    from conversadocs_spark import io
    from conversadocs_spark.functions.vector import l2_normalize
    from conversadocs_spark.operators.pq import pq_encode, pq_train

    m, ksub, dim = 8, 16, 64
    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    cb = pq_train(emb, m=m, ksub=ksub, refine_iters=1)
    cb_rows = cb.collect()
    assert len(cb_rows) <= m * ksub
    assert all(len(r["centroid"]) == dim // m for r in cb_rows)
    normed = emb.select(
        "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
    )
    enc = pq_encode(normed, cb, m, dim // m, "vec_id", "embedding")
    rows = enc.select("vec_id", "codes").collect()
    n = len(rows)
    assert n == emb.count()
    per_sub = [set() for _ in range(m)]
    for r in rows:
        assert len(r["codes"]) == m
        for j, c in enumerate(r["codes"]):
            assert 0 <= c < ksub
            per_sub[j].add(c)
    assert all(len(s) > 1 for s in per_sub)


def test_pq_encode_no_exchange(spark, sf_oracle_dir):
    """The encode stage (corpus scan -> codes) must hold NO Exchange
    on the corpus side: one packed-codebook broadcast + a Project,
    exactly the ivf._assign contract — at 100 TB the encoder is a
    narrow map over the corpus, never a shuffle."""
    from conversadocs_spark import io
    from conversadocs_spark.functions.vector import l2_normalize
    from conversadocs_spark.operators.pq import pq_encode, pq_train

    emb = io.table(spark, sf_oracle_dir, "embeddings").where(
        F.col("vec_id") >= 5
    )
    cb = pq_train(emb, m=8, ksub=16, refine_iters=0)
    normed = emb.select(
        "vec_id", l2_normalize(F.col("embedding")).alias("embedding")
    )
    enc = pq_encode(normed, cb, 8, 8, "vec_id", "embedding")
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    corpus_side = plan.split("BroadcastNestedLoopJoin", 1)[1].split(
        "BroadcastExchange", 1
    )[0]
    assert "Exchange" not in corpus_side, corpus_side
    assert "Window" not in plan and "row_number" not in plan


def test_pca_matches_numpy(spark, sf_oracle_dir):
    """pca_fit's mean/covariance eigensystem and pca_project's
    Catalyst projections must match a straight numpy PCA on the
    collected rows (same sign convention), and the model must satisfy
    the PCA invariants: descending explained variance, orthonormal
    components."""
    import numpy as np

    from conversadocs_spark import io
    from conversadocs_spark.operators.pca import pca_fit, pca_project

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    mean, comps, var = pca_fit(emb, n_components=8)

    rows = emb.select("vec_id", "embedding").collect()
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    np.testing.assert_allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    want = evecs[:, order].T
    for j in range(8):
        k = int(np.argmax(np.abs(want[j])))
        if want[j, k] < 0:
            want[j] = -want[j]
    np.testing.assert_allclose(comps, want, atol=1e-7)
    # invariants
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(7))
    np.testing.assert_allclose(comps @ comps.T, np.eye(8), atol=1e-9)
    # projections
    got = {
        r["vec_id"]: np.array(r["projected"])
        for r in pca_project(emb, mean, comps).collect()
    }
    want_proj = (x - x.mean(axis=0)) @ want.T
    ids = [r["vec_id"] for r in rows]
    for i, vid in enumerate(ids):
        np.testing.assert_allclose(got[vid], want_proj[i], atol=1e-6)


def test_ivfpq_recall_at_3(spark, sf_oracle_dir):
    """The composed IVF-PQ must recover >= 0.8 of the exact top-3
    (measured 0.867 at nprobe=8/16 cells, pool=96) with the in-plan
    audit agreeing — the coarse and fine quantizers compose without
    compounding below the floor."""
    from conversadocs_spark.plans import QUERIES

    exact = {
        (r.query_id, r.vec_id)
        for r in QUERIES["knn_per_query"](spark, sf_oracle_dir).collect()
    }
    rows = QUERIES["ann_ivfpq"](spark, sf_oracle_dir).collect()
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF-PQ recall@3 = {recall:.2f} < 0.8"
    assert rows, "recall audit emptied a healthy IVF-PQ result"
    per_query = {r.query_id: r.recall_at_k for r in rows}
    assert abs(sum(per_query.values()) / len(per_query) - recall) < 1e-6


def test_knn_filtered_matches_oracle(spark, sf_oracle_dir):
    assert_query_matches_oracle(spark, "knn_filtered", sf_oracle_dir)


def test_knn_filtered_respects_filter_and_fills_k(spark, sf_oracle_dir):
    """Pre-filter exactness: every returned id satisfies the
    predicate, and k fills whenever the filtered corpus has >= k rows
    — the property a post-filtered ANN silently violates."""
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark import io

    rows = QUERIES["knn_filtered"](spark, sf_oracle_dir).collect()
    assert len(rows) == 5
    assert all(r.lang == "en" and r.source != "src0" for r in rows)


def test_knn_filtered_selective_predicate_stays_exact(spark, sf_oracle_dir):
    """With a predicate keeping only 3 candidate ids, the operator
    returns exactly those 3 ranked by sim (never under-filled relative
    to the filtered corpus, never leaking out-of-filter ids)."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.knn import knn_filtered, knn_self

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    keep = [7, 11, 13]
    allowed = spark.createDataFrame(
        [(i,) for i in keep], "vec_id long"
    )
    got = knn_filtered(emb, allowed, query_id=0, k=5).collect()
    assert [set([r.vec_id for r in got]), len(got)] == [set(keep), 3]
    # sims agree with the unfiltered exact scorer restricted to keep
    full = {
        r.vec_id: r.sim
        for r in knn_self(emb, query_id=0, k=10**6).collect()
    }
    for r in got:
        assert r.sim == full[r.vec_id]
    assert [r.sim for r in got] == sorted(
        (r.sim for r in got), reverse=True
    )


def test_knn_filtered_plan_is_semi_join_no_shuffle(spark, sf_oracle_dir):
    """Plan pin: the allowed-id set enters as a broadcast LEFT SEMI
    hash join (corpus never shuffles) and the top-k is a
    TakeOrderedAndProject, not a global sort."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_filtered"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def _mmr_reference(ids, rels, vecs, k, lam):
    """Independent numpy re-derivation of greedy MMR (Carbonell &
    Goldstein 1998): pick argmax of lam*rel - (1-lam)*max-sim-to-
    selected, ties on ascending id, scores rounded to 9 decimals —
    the contract operators/mmr.py promises."""
    import numpy as np

    v = np.asarray(vecs, dtype="float64")
    v = v / np.where(
        np.linalg.norm(v, axis=1) == 0, 1.0, np.linalg.norm(v, axis=1)
    )[:, None]
    sim = v @ v.T
    rel = np.asarray(rels, dtype="float64")
    chosen, left, out = [], list(range(len(ids))), []
    while left and len(out) < k:
        scored = sorted(
            (
                -round(
                    lam * rel[i]
                    - (1 - lam)
                    * max((sim[i, j] for j in chosen), default=0.0),
                    9,
                ),
                ids[i],
                i,
            )
            for i in left
        )
        _, _, i = scored[0]
        chosen.append(i)
        left.remove(i)
        out.append((ids[i], float(rel[i]), len(out)))
    return out


def test_mmr_rerank_matches_python_reference(spark, sf_oracle_dir):
    """The Spark grouped-map MMR must reproduce an independent numpy
    greedy-MMR re-derivation exactly, per query."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.knn import knn_per_query
    from conversadocs_spark.plans import QUERIES

    got = QUERIES["mmr_rerank"](spark, sf_oracle_dir).collect()
    # rebuild the candidate lists the plan fed into MMR
    emb = io.table(spark, sf_oracle_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    wide = (
        knn_per_query(corpus, queries, k=12)
        .drop("rank")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .collect()
    )
    by_q: dict[int, list] = {}
    for r in wide:
        by_q.setdefault(r.query_id, []).append(r)
    expect = []
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.vec_id)
        picks = _mmr_reference(
            [r.vec_id for r in rows],
            [r.sim for r in rows],
            [r.embedding for r in rows],
            k=5,
            lam=0.7,
        )
        for vid, rel, rk in picks:
            expect.append((qid, vid, round(rel, 6), rk))
    got_t = sorted((r.query_id, r.vec_id, round(r.sim, 6), r.mmr_rank)
                   for r in got)
    assert got_t == sorted(expect)


def test_mmr_invariants(spark, sf_oracle_dir):
    """First pick per query is the relevance argmax; 5 rows per query;
    mmr_rank is 0..4; diversification actually reorders at least one
    query vs pure relevance order on the fixtures."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["mmr_rerank"](spark, sf_oracle_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5
    reordered = 0
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.mmr_rank)
        assert [r.mmr_rank for r in rs] == list(range(5))
        assert rs[0].sim == max(r.sim for r in rs)
        if [r.sim for r in rs] != sorted(
            (r.sim for r in rs), reverse=True
        ):
            reordered += 1
    assert reordered >= 1, "MMR never diverged from relevance order"


def test_mmr_exact_matches_oracle(spark, sf_oracle_dir):
    """The fixed-point MMR twin replays bit-for-bit in DuckDB's
    recursive CTE (VERDICT r10 #1 — the seq_pack_ffd technique)."""
    assert_query_matches_oracle(spark, "mmr_rerank_exact", sf_oracle_dir)


def test_mmr_exact_invariants_and_divergence(spark, sf_oracle_dir):
    """Fixed-point MMR keeps the greedy contract: 5 queries x 5 picks,
    rank 0..4, first pick = relevance argmax, and the integer
    objective still diversifies away from pure relevance order on at
    least one fixture query (non-vacuous lambda term)."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["mmr_rerank_exact"](spark, sf_oracle_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5
    reordered = 0
    for _, rs in by_q.items():
        rs.sort(key=lambda r: r.mmr_rank)
        assert [r.mmr_rank for r in rs] == list(range(5))
        assert rs[0].sim == max(r.sim for r in rs)
        if [r.sim for r in rs] != sorted(
            (r.sim for r in rs), reverse=True
        ):
            reordered += 1
    assert reordered >= 1, "fixed-point MMR never diverged"


def test_knn_int8_matches_oracle(spark, sf_oracle_dir):
    assert_query_matches_oracle(spark, "knn_int8", sf_oracle_dir)


def test_quantize_int8_storage_and_error_bound(spark, sf_oracle_dir):
    """Codes are true int8 (array<tinyint>); reconstruction error is
    within qscale/2 per component; a constant vector round-trips
    exactly through the qscale=0 path."""
    from pyspark.sql.types import ArrayType, ByteType

    from conversadocs_spark import io
    from conversadocs_spark.operators.quant import (
        dequantized,
        quantize_int8,
    )

    emb = io.table(spark, sf_oracle_dir, "embeddings").limit(50)
    q = quantize_int8(emb)
    field = dict(zip(q.schema.names, [f.dataType for f in q.schema]))
    assert field["q"] == ArrayType(ByteType())
    rows = q.select(
        "embedding", "qscale", dequantized().alias("xh")
    ).collect()
    assert rows
    for r in rows:
        half = r.qscale / 2 + 1e-12
        for x, xh in zip(r.embedding, r.xh):
            assert abs(x - xh) <= half
    const = spark.createDataFrame(
        [(1, [0.25] * 8)], "vec_id long, embedding array<float>"
    )
    got = (
        quantize_int8(const)
        .select(dequantized().alias("xh"), "qscale")
        .collect()[0]
    )
    assert got.qscale == 0.0
    assert got.xh == [0.25] * 8


def test_knn_int8_recall_vs_exact(spark, sf_oracle_dir):
    """SQ8's ~0.4% component error must not wreck retrieval: the
    quantized top-5 recovers >= 4 of the exact float top-5."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.knn import knn_self
    from conversadocs_spark.plans import QUERIES

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    exact = {r.vec_id for r in knn_self(emb, query_id=0, k=5).collect()}
    quant = {
        r.vec_id
        for r in QUERIES["knn_int8"](spark, sf_oracle_dir).collect()
    }
    assert len(exact & quant) >= 4, (exact, quant)


def test_knn_int8_plan_no_shuffle(spark, sf_oracle_dir):
    """SQ8 retrieval keeps knn_topk's scaling contract: codes computed
    inside the scan projection, global top-k via
    TakeOrderedAndProject, zero hash exchanges."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_int8"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_mmr_small_group_edges(spark):
    """k past the candidate count returns every candidate exactly
    once; a single-candidate group gets rank 0."""
    from conversadocs_spark.operators.mmr import mmr_rerank

    cands = spark.createDataFrame(
        [
            (1, 10, 0.9, [1.0, 0.0]),
            (1, 11, 0.8, [0.0, 1.0]),
            (2, 20, 0.5, [1.0, 1.0]),
        ],
        "query_id long, vec_id long, sim double, embedding array<double>",
    )
    rows = mmr_rerank(cands, k=5, lam=0.7).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.mmr_rank))
    assert sorted(by_q[1]) == [(10, 0), (11, 1)]
    assert by_q[2] == [(20, 0)]


def test_knn_filtered_no_hint_degrades_to_shuffled_semi_join(
    spark, sf_oracle_dir
):
    """Scale contract pin (ADVICE r7): the allowed-id semi-join
    carries NO broadcast hint, so when the planner cannot broadcast
    (threshold disabled here, a >8GB tenant set in production) the
    plan degrades to a shuffled semi-join instead of forcing a
    driver-OOM broadcast. The companion plan test proves the same
    join DOES auto-broadcast from statistics when the side is small.
    """
    from conversadocs_spark import io
    from conversadocs_spark.operators.knn import knn_filtered

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    allowed = emb.select("vec_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = knn_filtered(emb, allowed, query_id=0, k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" not in plan, (
        "semi-join still forces a broadcast with auto-broadcast off "
        "— the unconditional hint is back"
    )


def test_knn_int8_oracle_guards_constant_vectors(spark, tmp_path):
    """ADVICE r7: a constant embedding has qscale=0; the Spark path
    special-cases it (code -128 -> dequant == qmin) and the oracle
    SQL must mirror the guard instead of dividing by zero. Planted
    fixture: one constant vector among normal ones — Spark result
    and DuckDB oracle must still hash-match."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conversadocs_spark.plans import ORACLES, QUERIES
    from tests.oracle import _normalize

    vecs = [
        [float((7 * i + 3 * j) % 11) - 5.0 for j in range(8)]
        for i in range(6)
    ]
    vecs[3] = [2.5] * 8  # constant -> qscale 0
    tbl = pa.table(
        {
            "vec_id": pa.array(range(6), pa.int64()),
            "embedding": pa.array(
                vecs, pa.list_(pa.float32())
            ),
            "label": pa.array([0] * 6, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    sdf = QUERIES["knn_int8"](spark, str(tmp_path))
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )
    cur = con.execute(ORACLES["knn_int8"])
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    con.close()

    s_cols_n, s_norm = _normalize(s_cols, s_rows)
    o_cols_n, o_norm = _normalize(o_cols, o_rows)
    assert s_cols_n == o_cols_n
    assert s_norm == o_norm
    got = {r[0]: r[1] for r in s_rows}
    assert 3 in got, "constant vector must be scored, not NaN'd out"


def test_binarize_sign_packs_bits_like_numpy(spark):
    """Packed words == little-endian sign bits, 32 per BIGINT word,
    zero-padded last word — re-derived bit-by-bit in Python."""
    from conversadocs_spark.operators.quant import binarize_sign

    vecs = [
        [1.0, -2.0, 0.0, 3.5] * 10,          # dim 40 -> 2 words
        [-0.25] * 40,
        [5.0] * 40,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.bwords
        for r in binarize_sign(df).select("vec_id", "bwords").collect()
    }
    for i, v in enumerate(vecs):
        words = [0, 0]
        for j, x in enumerate(v):
            if x > 0:
                words[j // 32] |= 1 << (j % 32)
        assert got[i] == words, f"vec {i}: {got[i]} != {words}"


def test_hamming_matches_equals_bitwise_agreement(spark):
    """matches == number of agreeing sign bits, via planted codes."""
    from pyspark.sql import functions as F

    from conversadocs_spark.operators.quant import hamming_matches

    df = spark.createDataFrame(
        [([0b1010, 0b1], [0b1001, 0b1])],
        "a array<long>, b array<long>",
    )
    got = df.select(
        hamming_matches(F.col("a"), F.col("b"), F.lit(64)).alias("m")
    ).collect()[0].m
    # a XOR b = [0b0011, 0b0] -> 2 differing bits -> 62 agree
    assert got == 62


def test_hamming_matches_nulls_on_mixed_code_lengths(spark):
    """Mixed-dimension codes must NOT silently mis-score (ADVICE r8):
    unequal packed lengths yield NULL, never an inflated count."""
    from pyspark.sql import functions as F

    from conversadocs_spark.operators.quant import hamming_matches

    df = spark.createDataFrame(
        [([0b1010, 0b1], [0b1010])],
        "a array<long>, b array<long>",
    )
    got = df.select(
        hamming_matches(F.col("a"), F.col("b"), F.lit(64)).alias("m")
    ).collect()[0].m
    assert got is None


def test_knn_binary_rescore_is_exact_cosine(spark, sf_oracle_dir):
    """The 5 returned sims must equal the brute-force exact cosine of
    those ids (the shortlist only prunes; it never changes scores)."""
    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    got = QUERIES["knn_binary"](spark, sf_oracle_dir).collect()
    emb = {
        r.vec_id: r.embedding
        for r in io.table(spark, sf_oracle_dir, "embeddings").collect()
    }
    import math

    q = emb[0]
    for r in got:
        v = emb[r.vec_id]
        dot = sum(float(a) * float(b) for a, b in zip(v, q))
        na = math.sqrt(sum(float(a) ** 2 for a in v))
        nb = math.sqrt(sum(float(b) ** 2 for b in q))
        assert abs(r.sim - round(dot / (na * nb), 6)) < 2e-6
        assert 0 <= r.matches <= len(q)


def test_knn_binary_plan_no_corpus_shuffle(spark, sf_oracle_dir):
    """Packing + Hamming run in the scan stage: no hash-partition
    Exchange on the corpus; both stages end in TakeOrdered."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_binary"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_knn_matryoshka_refine_broadcasts_shortlist(
    spark, sf_oracle_dir
):
    """The refine join's broadcast side is the 50-row shortlist, and
    the coarse pass ends in TakeOrderedAndProject — the corpus is
    never shuffled or broadcast."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_matryoshka"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_multivec_maxsim_matches_numpy(spark, sf_oracle_dir):
    """MaxSim score for every returned doc == the numpy re-derivation
    sum_q max_t round(cos(q, t), 6), rounded to 6."""
    import numpy as np

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    got = QUERIES["multivec_maxsim"](spark, sf_oracle_dir).collect()
    assert len(got) == 5
    rows = io.table(spark, sf_oracle_dir, "embeddings").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.vec_id // 10, []).append(
            np.asarray(r.embedding, dtype="float64")
        )
    qs = by_doc[0]
    for r in got:
        docs = by_doc[r.doc_id]
        score = 0.0
        for q in qs:
            best = max(
                round(
                    float(q @ t)
                    / (np.linalg.norm(q) * np.linalg.norm(t)),
                    6,
                )
                for t in docs
            )
            score += best
        assert abs(r.maxsim - round(score, 6)) < 2e-6
    # descending, doc-id tie-broken
    sims = [r.maxsim for r in got]
    assert sims == sorted(sims, reverse=True)


def test_knn_binary_batch_corpus_never_shuffles(spark, sf_oracle_dir):
    """Batch-form scale pins: (a) the corpus-sized relation never
    hash-shuffles — every join touching the embedding column is a
    broadcast join (no SMJ/shuffled-hash anywhere); (b) the only hash
    exchanges partition the 3-integer candidate projection by
    query_id; (c) the per-query top-k is map-side pruned (partial
    WindowGroupLimit below the exchange), so the shuffle moves at
    most partitions x Q x 50 skinny rows, not corpus x Q."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_binary_batch"](spark, sf_oracle_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "hashpartitioning(query_id" in line, line
    assert "WindowGroupLimit" in final and "Partial" in final


def test_knn_binary_batch_recall_floor(spark, sf_oracle_dir):
    """Recall sanity on the fixture: the Hamming-shortlisted top-3
    must recover >= 2/3 of the exact brute-force cosine top-3 for
    EVERY query (binary sign codes are a coarse 1-bit rank — the
    50-deep shortlist can legitimately miss a near-tie neighbour, so
    exact equality is not the contract; oracle parity is checked
    separately by the hash gate)."""
    import math

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    got = {}
    for r in QUERIES["knn_binary_batch"](spark, sf_oracle_dir).collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in io.table(spark, sf_oracle_dir, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return round(
            dot / (math.sqrt(sum(x * x for x in a))
                   * math.sqrt(sum(y * y for y in b))), 6)

    for q in range(5):
        sims = sorted(
            ((cos(emb[v], emb[q]), -v) for v in emb if v >= 5),
            reverse=True,
        )
        want = {-s[1] for s in sims[:3]}
        hit = len(want & set(got[q]))
        assert hit >= 2, (q, got[q], sorted(want))


def test_semdedup_prune_paper_rule(spark, sf_oracle_dir):
    """SemDeDup invariants on the sf0.01 fixtures (the value-level
    check is the DuckDB oracle; this pins the paper's rule shape):
    every vec_id<500 point gets exactly one row; both seed clusters
    (0, 250) are populated; the per-cluster argmin of
    (centroid_sim, vec_id) is ALWAYS kept (nothing can dominate it);
    and pruning is non-trivial (the fixtures hold tau-duplicates)."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["semdedup_prune"](spark, sf_oracle_dir).collect()
    assert len(rows) == 500
    assert len({r.vec_id for r in rows}) == 500
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert set(by_cluster) == {0, 250}
    for members in by_cluster.values():
        lowest = min(members, key=lambda r: (r.centroid_sim, r.vec_id))
        assert lowest.is_kept
    assert any(not r.is_kept for r in rows)
    assert any(r.is_kept for r in rows)


def test_semdedup_pair_join_is_equi_keyed(spark, sf_oracle_dir):
    """The within-cluster pair join must reach Catalyst as an
    equi-join ON cluster_id (hash/merge join), never a nested-loop
    over all n^2 pairs — SemDeDup's entire scale claim is that
    cross-cluster pairs are NEVER materialized."""
    import re

    from conversadocs_spark.plans import QUERIES

    df = QUERIES["semdedup_prune"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
        r" \[cluster_id",
        plan,
    ), plan


def test_knn_int8_batch_corpus_never_shuffles(spark, sf_oracle_dir):
    """SQ8 batch-form scale pins, mirroring knn_binary_batch's: no
    SMJ/shuffled-hash join anywhere, every hash exchange partitions
    the skinny (query_id, vec_id, sim_q) projection by query_id, and
    the per-query top-5 is map-side pruned below the exchange."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_int8_batch"](spark, sf_oracle_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "hashpartitioning(query_id" in line, line
    assert "WindowGroupLimit" in final and "Partial" in final


def test_knn_filtered_int8_batch_filter_before_score(
    spark, sf_oracle_dir
):
    """Composed serving-matrix pins: (a) the metadata filter enters
    as a broadcast LEFT SEMI join BELOW the per-query window (filter
    reaches the corpus scan before the dequantize/score pass — in the
    top-down plan string the LeftSemi line sits deeper than the last
    Window line); (b) the knn_int8_batch scale contract holds through
    the composition — no SMJ/shuffled-hash, every hash exchange keyed
    on query_id over the skinny projection, window map-side pruned;
    (c) every returned id satisfies the predicate and each query
    fills k=5."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_filtered_int8_batch"](spark, sf_oracle_dir)
    rows = df.collect()
    assert len(rows) == 25  # 5 queries x top-5
    assert all(r.lang == "en" and r.source != "src0" for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "ShuffledHashJoin" not in final
    lines = final.splitlines()
    semi = [i for i, l in enumerate(lines) if "LeftSemi" in l]
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    assert semi and wins and min(semi) > max(wins), (
        "semi-join filter must sit below the scoring window"
    )
    for line in lines:
        if "Exchange hashpartitioning" in line:
            assert "hashpartitioning(query_id" in line, line
    assert "WindowGroupLimit" in final and "Partial" in final


def test_knn_mrl_batch_corpus_never_shuffles(spark, sf_oracle_dir):
    """Matryoshka batch-form scale pins (same contract as the binary
    and SQ8 batch cells): no SMJ/shuffled-hash join, every hash
    exchange keyed on query_id over the skinny coarse projection, and
    the per-query windows map-side pruned."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["knn_matryoshka_batch"](spark, sf_oracle_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "hashpartitioning(query_id" in line, line
    assert "WindowGroupLimit" in final and "Partial" in final


def test_multivec_batch_token_table_never_sort_merges(
    spark, sf_oracle_dir
):
    """MaxSim batch scale pins: the corpus token table reaches the
    query bags through a broadcast (no SMJ/shuffled-hash), the
    per-query top-3 is map-side pruned, and every query group gets
    exactly 3 docs agreeing with the single-query form's semantics
    (query 0's ranking must equal multivec_maxsim's top-3 restricted
    to docs >= 3)."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["multivec_maxsim_batch"](spark, sf_oracle_dir)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    assert "WindowGroupLimit" in final and "Partial" in final
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.maxsim))
    assert set(by_q) == {0, 1, 2}
    assert all(len(v) == 3 for v in by_q.values())
    single = [
        (r.doc_id, r.maxsim)
        for r in QUERIES["multivec_maxsim"](spark, sf_oracle_dir)
        .collect()
        if r.doc_id >= 3
    ][:3]
    assert by_q[0] == single


def test_embed_pca_power_fixed_matches_oracle(spark, sf_oracle_dir):
    """The 400 fixed-point power-iteration updates replay bit-for-bit
    in DuckDB's recursive CTE (the eigendecomposition promotion)."""
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(
        spark, "embed_pca_power_fixed", sf_oracle_dir
    )


def test_pca_power_fixed_converges_to_numpy_eigenvector(
    spark, sf_oracle_dir
):
    """The fixed-point iterate must actually BE the dominant
    eigenvector: |cos| >= 0.99 against numpy's top eigenvector of the
    SAME integer scatter matrix (near-isotropic fixture, eigengap
    ~1.015 — which is why iters=400; measured 0.99998 at sf0.01)."""
    import math

    import numpy as np

    from conversadocs_spark import io as cio
    from conversadocs_spark.operators.logreg import tdiv
    from conversadocs_spark.operators.pca import (
        pca_top_component_fixedpoint,
    )

    emb = cio.table(spark, sf_oracle_dir, "embeddings").where(
        "vec_id < 2000"
    )
    v = pca_top_component_fixedpoint(emb, dim=16, iters=400)
    rows = emb.select("embedding").collect()
    X = [
        [int(math.floor(float(e) * 1000 + 0.5)) for e in r[0][:16]]
        for r in rows
    ]
    n = len(X)
    sx = [sum(r[i] for r in X) for i in range(16)]
    m = [tdiv(s, n) for s in sx]
    C = np.array(
        [
            [
                sum(r[i] * r[j] for r in X)
                - m[i] * sx[j]
                - m[j] * sx[i]
                + n * m[i] * m[j]
                for j in range(16)
            ]
            for i in range(16)
        ],
        dtype=float,
    )
    pc = np.linalg.eigh(C)[1][:, -1]
    vv = np.array(v, dtype=float)
    cos = abs(vv @ pc) / (np.linalg.norm(vv) * np.linalg.norm(pc))
    assert cos >= 0.99, cos


def test_ann_ivf_exact_matches_oracle(spark, sf_oracle_dir):
    """The md5-twin IVF pipeline (VERDICT r14 #3): seeding, both
    Lloyd rounds, probe choice, and in-cell top-k all replay in the
    chained-CTE DuckDB oracle."""
    assert_query_matches_oracle(spark, "ann_ivf_exact", sf_oracle_dir)


def test_ann_ivf_exact_is_nondegenerate(spark, sf_oracle_dir):
    """The twin must actually exercise the IVF machinery: every query
    fills k=3 from its 2 probed cells, and the md5-seeded 8-cell
    index is non-trivial (the corpus spreads over >= 4 cells after
    refinement — a collapsed one-cell index would make the probe a
    no-op and the 'twin' a brute-force scan in disguise)."""
    from conversadocs_spark.operators.ivf import ivf_exact_md5
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["ann_ivf_exact"](spark, sf_oracle_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == 5
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import _assign, _cell_means

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    corpus = emb.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 2005))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = ivf_exact_md5(corpus, queries, n_lists=8, refine_iters=2)
    assert out.count() == 15
    # replay the build legs (same params) and check the refined index
    # spreads over >= 4 of the 8 cells
    init = corpus.select(
        "vec_id",
        "embedding",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("vec_id").cast("string").cast("binary")),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
            F.lit(8),
        ).cast("int").alias("list_id"),
    )
    cents = _cell_means(init, "vec_id", "embedding")
    for _ in range(2):
        assigned = _assign(corpus, cents, "vec_id", "embedding", digits=6)
        cents = _cell_means(assigned, "vec_id", "embedding")
    n_cells = assigned.select("list_id").distinct().count()
    assert n_cells >= 4, f"index collapsed to {n_cells} cells"


def test_ann_lsh_exact_matches_oracle(spark, sf_oracle_dir):
    """The md5-twin LSH pipeline (r15, completing the ANN ladder's
    value-checked coverage): plane derivation, integer sign-bit
    bucketing, candidate join, and exact re-rank all replay in the
    chained-CTE DuckDB oracle."""
    assert_query_matches_oracle(spark, "ann_lsh_exact", sf_oracle_dir)


def test_ann_lsh_exact_buckets_actually_prune(spark, sf_oracle_dir):
    """The twin must exercise real LSH machinery: the integer
    bucketing spreads the corpus over >= 4 distinct (seed, bucket)
    cells, every query fills k=3, and at least one query's candidate
    set is a strict subset of the corpus (a single-bucket collapse
    would make the 'twin' a brute-force scan in disguise)."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.lsh import (
        bucket_expr_int,
        lsh_exact_md5,
        planes_frame_md5,
    )
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["ann_lsh_exact"](spark, sf_oracle_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == 5
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    corpus = emb.where((F.col("vec_id") >= 5) & (F.col("vec_id") < 2005))
    n_corpus = corpus.count()
    pf = planes_frame_md5(spark, dim=64, n_planes=4, seeds=(0, 1))
    vint = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
    )
    vb = corpus.crossJoin(F.broadcast(pf)).select(
        "vec_id",
        "seed",
        bucket_expr_int(vint, F.col("planes")).alias("bucket"),
    )
    n_cells = vb.select("seed", "bucket").distinct().count()
    assert n_cells >= 4, f"bucketing collapsed to {n_cells} cells"
    # candidate volume per query << corpus: recompute one query's
    # candidate set through the same operator path and require strict
    # pruning (union over 2 seeds of same-bucket members)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    qint = F.transform(
        F.col("query_vec"),
        lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long"),
    )
    qb = queries.crossJoin(F.broadcast(pf)).select(
        "query_id",
        "seed",
        bucket_expr_int(qint, F.col("planes")).alias("bucket"),
    )
    cand_counts = {
        r.query_id: r.n
        for r in vb.join(qb, ["seed", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert any(n < n_corpus for n in cand_counts.values()), (
        f"no pruning: candidates == corpus for every query "
        f"({cand_counts} vs {n_corpus})"
    )
    # determinism of the driver-side plane derivation (the oracle
    # recomputes these ints from md5 strings — pin one value so a
    # formatting drift fails here, not in the driver compare)
    from conversadocs_spark.operators.lsh import _md5_plane_int

    assert _md5_plane_int(0, 0, 0) == _md5_plane_int(0, 0, 0)
    import hashlib

    want = (
        int(hashlib.md5(b"1:2:3").hexdigest()[:15], 16) % 2000001
        - 1000000
    )
    assert _md5_plane_int(1, 2, 3) == want


def test_ann_pq_exact_matches_oracle(spark, sf_oracle_dir):
    """The md5-twin PQ pipeline (r15, closing the ANN ladder): init
    hash, both codebooks, both assignments, ADC, pool, and refine all
    replay in the chained-CTE DuckDB oracle."""
    assert_query_matches_oracle(spark, "ann_pq_exact", sf_oracle_dir)


def test_ann_pq_exact_is_nondegenerate(spark, sf_oracle_dir):
    """The twin must exercise real PQ machinery: every query fills
    k=3, the refined codebook keeps >= 4 distinct codes in use across
    subspaces (a collapsed one-code-per-subspace book would make ADC
    a constant and the pool arbitrary), and the ADC pool actually
    prunes (pool=32 < corpus)."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.pq import (
        _means,
        pq_encode,
        pq_exact_md5,
    )
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["ann_pq_exact"](spark, sf_oracle_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert len(per_q) == 5
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())

    emb = io.table(spark, sf_oracle_dir, "embeddings")
    corpus = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 2005)
    ).select("vec_id", "embedding")
    m, dsub, ksub = 4, 16, 8
    subs = corpus.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding"), j * dsub + 1, dsub)
                    for j in range(m)
                ]
            )
        ).alias("sub", "subvec"),
    ).withColumn(
        "code",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("vec_id").cast("string"),
                            F.col("sub").cast("string"),
                        ).cast("binary")
                    ),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
            F.lit(ksub),
        ).cast("int"),
    )
    c0 = _means(subs)
    enc1 = pq_encode(corpus, c0, m, dsub, "vec_id", "embedding", digits=6)
    a1 = enc1.select(
        "vec_id", "embedding", F.posexplode("codes").alias("sub", "code")
    ).select(
        "sub",
        "code",
        F.slice(
            F.col("embedding"), F.col("sub") * dsub + 1, F.lit(dsub)
        ).alias("subvec"),
    )
    c1 = _means(a1)
    n_codes = c1.select("sub", "code").distinct().count()
    assert n_codes >= 4, f"codebook collapsed to {n_codes} cells"
    n_corpus = corpus.count()
    assert n_corpus > 32, (
        f"fixture corpus {n_corpus} <= pool 32 — the ADC pool would "
        "not prune and the 'twin' would be a brute scan in disguise"
    )
