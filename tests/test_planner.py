"""Cost-based retrieval planner (operators/planner.py): strategy
choice, logical-contract preservation, and the above-crossover IVF
path forced on the local fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.operators.planner import (
    BRUTE_THRESHOLD,
    choose_knn_strategy,
    knn_auto,
)
from tests.conftest import SF_ORACLE


def test_strategy_crossover():
    assert choose_knn_strategy(1_000) == "brute"
    assert choose_knn_strategy(BRUTE_THRESHOLD) == "brute"
    assert choose_knn_strategy(BRUTE_THRESHOLD + 1) == "ivf"
    assert choose_knn_strategy(10_000_000) == "ivf"
    # a top-k that wants ~the whole corpus back cannot be pruned
    assert choose_knn_strategy(200_000, k=50_000) == "brute"


def _query_batch(spark):
    emb = io.table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return corpus, queries


def test_auto_picks_brute_below_crossover_and_matches_exact(spark):
    """On the fixture (n << threshold) the planner must choose the
    exact scan, and its output must equal knn_per_query row-for-row —
    the physical choice never changes the logical result."""
    from conversadocs_spark.operators.knn import knn_per_query

    corpus, queries = _query_batch(spark)
    result, strategy = knn_auto(corpus, queries, k=3)
    assert strategy == "brute"
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, knn_per_query(corpus, queries, k=3).collect()))
    assert got == want


def test_brute_dispatch_excludes_self_like_ivf(spark):
    """All dispatches share one self-match contract (ADVICE r11):
    when query ids overlap corpus ids, the brute path must exclude
    vec_id == query_id exactly as ivf_search/ivfpq_topk do — the
    physical strategy can never change which ids are eligible. With
    overlapping ids the self row is a perfect cosine match (sim 1.0),
    so it MUST be absent from the result, and k still fills."""
    emb = io.table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb  # overlaps the query ids 0..2
    result, strategy = knn_auto(corpus, queries, k=3)
    assert strategy == "brute"
    rows = result.collect()
    assert all(r["vec_id"] != r["query_id"] for r in rows)
    per_query: dict[int, int] = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert per_query == {0: 3, 1: 3, 2: 3}


def test_auto_injected_stat_flips_to_ivf_with_healthy_recall(spark):
    """Injecting an above-crossover cardinality statistic plans IVF
    without needing a 100k-row fixture; the IVF result keeps the
    (query_id, vec_id, sim, rank) contract, returns k rows per query,
    and holds recall@3 >= 0.8 vs the exact answer."""
    from conversadocs_spark.operators.knn import knn_per_query

    corpus, queries = _query_batch(spark)
    result, strategy = knn_auto(
        corpus, queries, k=3, n_corpus=10**7, n_queries=100
    )
    assert strategy == "ivf"
    rows = result.collect()
    assert result.columns == ["query_id", "vec_id", "sim", "rank"]
    per_query: dict[int, set[int]] = {}
    for r in rows:
        per_query.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert len(per_query) == 5
    assert all(len(v) == 3 for v in per_query.values())
    exact: dict[int, set[int]] = {}
    for r in knn_per_query(corpus, queries, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(
        len(per_query[q] & exact[q]) for q in exact
    ) / sum(len(v) for v in exact.values())
    assert recall >= 0.8


def test_tiny_batch_never_pays_for_inline_build():
    """An above-crossover corpus still plans brute when the query
    batch is too small to amortize an inline index build — measured at
    100x: inline IVF 19.1 s vs brute ~2 s for a 5-query batch over
    200k vectors."""
    from conversadocs_spark.operators.planner import AMORTIZE_MIN_QUERIES

    assert choose_knn_strategy(10**7, n_queries=5) == "brute"
    assert (
        choose_knn_strategy(10**7, n_queries=AMORTIZE_MIN_QUERIES)
        == "ivf"
    )


def test_planner_memory_budget_picks_ivfpq():
    """Above the brute crossover, a memory budget smaller than the
    raw float32 index must flip the plan to the quantized index —
    and a budget that fits raw vectors must keep plain IVF."""
    from conversadocs_spark.operators.planner import choose_knn_strategy

    n, dim = 10_000_000, 1024
    raw_bytes = n * dim * 4  # ~40 GB
    assert (
        choose_knn_strategy(
            n, dim=dim, memory_budget_bytes=raw_bytes // 10
        )
        == "ivfpq"
    )
    assert (
        choose_knn_strategy(
            n, dim=dim, memory_budget_bytes=raw_bytes * 2
        )
        == "ivf"
    )
    # budget never overrides the exact-path guards
    assert (
        choose_knn_strategy(
            50, dim=dim, memory_budget_bytes=1
        )
        == "brute"
    )


def test_planner_forced_ivfpq_runs_with_stable_contract(spark):
    """force='ivfpq' must execute the composed index and return the
    same (query_id, vec_id, sim, rank) contract as every strategy."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.operators.planner import knn_auto

    emb = io.table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 3)
    df, strategy = knn_auto(
        corpus, queries, k=3, force="ivfpq", dim=64
    )
    assert strategy == "ivfpq"
    rows = df.collect()
    assert sorted(df.columns) == ["query_id", "rank", "sim", "vec_id"]
    assert len(rows) == 9 and all(1 <= r["rank"] <= 3 for r in rows)


def test_indexed_planning_runs_no_jobs_and_serves_exactly(
    spark, tmp_path
):
    """r7 (VERDICT r6 #4): serving against a PREBUILT index must plan
    from the manifest stamped at build time — a driver-side file read
    — and run ZERO Spark jobs before the caller consumes the result.
    The brute serving path must hash-match the exact scan."""
    from conversadocs_spark.operators.ivf import (
        ivf_build,
        ivf_read_index,
        ivf_write_index,
    )
    from conversadocs_spark.operators.knn import knn_per_query
    from conversadocs_spark.operators.planner import (
        knn_auto_indexed,
        plan_index_strategy,
    )

    emb = io.table(spark, SF_ORACLE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    assigned, centroids = ivf_build(corpus, n_lists=16)
    path = str(tmp_path / "ivf_index")
    ivf_write_index(assigned, centroids, path, dim=64, n_lists=16)

    # manifest round-trips the build-time statistics
    _a, _c, man = ivf_read_index(spark, path)
    n_corpus = corpus.count()
    assert man == {"n": n_corpus, "dim": 64, "n_lists": 16}

    # pure planning: correct decisions, no Spark involved at all
    assert plan_index_strategy(man) == "brute"  # fixture < crossover
    assert plan_index_strategy({"n": 10_000_000, "dim": 64}) == "ivf"
    assert (
        plan_index_strategy(
            {"n": 10_000_000, "dim": 64},
            memory_budget_bytes=64 * 1024 * 1024,
        )
        == "ivfpq"
    )

    # the planning phase itself (manifest read + strategy choice) is
    # pure driver-side file IO; the only Spark activity allowed in
    # knn_auto_indexed is the lazy parquet LISTING of the consumed
    # table — pinned by comparing the job delta against a plain lazy
    # read of the same table (a regression to per-call count() would
    # add an extra job on top of the baseline).
    from conversadocs_spark.sources.sink import read_versioned

    tracker = spark.sparkContext.statusTracker()

    def job_delta(fn):
        before = set(tracker.getJobIdsForGroup(None))
        out = fn()
        return out, len(set(tracker.getJobIdsForGroup(None)) - before)

    _, baseline = job_delta(
        lambda: read_versioned(spark, path + "/assignments")
    )
    (result, strategy), used = job_delta(
        lambda: knn_auto_indexed(spark, path, queries, k=3)
    )
    assert used <= baseline, (
        f"indexed planning ran {used} jobs vs the {baseline}-job "
        "lazy-read baseline — a statistics job leaked back in"
    )
    assert strategy == "brute"

    got = {tuple(r) for r in result.collect()}
    want = {
        tuple(r) for r in knn_per_query(corpus, queries, k=3).collect()
    }
    assert got == want and len(got) > 0


def _filtered_fixture(spark, tmp_path):
    """Build a manifest-stamped index over the sf0.01 corpus and the
    lang/tenant allowed-id set (the knn_filtered predicate)."""
    from conversadocs_spark.operators.ivf import (
        ivf_build,
        ivf_write_index,
    )

    emb = io.table(spark, SF_ORACLE, "embeddings")
    docs = io.table(spark, SF_ORACLE, "documents")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    allowed = docs.where(
        (F.col("lang") == "en") & (F.col("source") != "src0")
    ).select(F.col("doc_id").alias("vec_id"))
    path = str(tmp_path / "ivf_filtered")
    assigned, centroids = ivf_build(corpus, n_lists=16)
    ivf_write_index(assigned, centroids, path, dim=64, n_lists=16)
    return corpus, queries, allowed, path


def test_filtered_batch_plans_no_jobs_and_serves_filtered_exact(
    spark, tmp_path
):
    """The composed serving path (VERDICT r10 #3) keeps both parent
    contracts: planning is a driver-side manifest read (job delta <=
    the lazy-read baseline, knn_auto_indexed's pin) AND the brute
    plan equals the exact scan over the FILTERED corpus — never a
    post-filtered under-fill, never an out-of-filter id."""
    from conversadocs_spark.operators.knn import knn_per_query
    from conversadocs_spark.operators.planner import (
        knn_auto_filtered_batch,
    )
    from conversadocs_spark.sources.sink import read_versioned

    corpus, queries, allowed, path = _filtered_fixture(spark, tmp_path)
    tracker = spark.sparkContext.statusTracker()

    def job_delta(fn):
        before = set(tracker.getJobIdsForGroup(None))
        out = fn()
        return out, len(set(tracker.getJobIdsForGroup(None)) - before)

    _, baseline = job_delta(
        lambda: read_versioned(spark, path + "/assignments")
    )
    (result, strategy), used = job_delta(
        lambda: knn_auto_filtered_batch(spark, path, queries, allowed, k=3)
    )
    assert used <= baseline, (
        f"filtered-batch planning ran {used} jobs vs the {baseline}-job "
        "lazy-read baseline — a statistics job leaked back in"
    )
    assert strategy == "brute"

    kept = corpus.join(allowed, "vec_id", "left_semi")
    want = {tuple(r) for r in knn_per_query(kept, queries, k=3).collect()}
    got = {tuple(r) for r in result.collect()}
    assert got == want and len(got) == 15  # 5 queries x full k=3

    allowed_ids = {r.vec_id for r in allowed.collect()}
    assert all(r[1] in allowed_ids for r in got)


def test_filtered_batch_forced_index_paths_respect_filter(
    spark, tmp_path
):
    """force='ivf' (the above-crossover dispatch) must keep the
    (query_id, vec_id, sim, rank) contract, return only in-filter
    ids, and hold recall@3 >= 0.8 vs the filtered exact answer;
    force='ivfpq' must run the quantized fallback under the same
    filter contract."""
    from conversadocs_spark.operators.knn import knn_per_query
    from conversadocs_spark.operators.planner import (
        knn_auto_filtered_batch,
    )

    corpus, queries, allowed, path = _filtered_fixture(spark, tmp_path)
    allowed_ids = {r.vec_id for r in allowed.collect()}
    kept = corpus.join(allowed, "vec_id", "left_semi")
    exact: dict[int, set[int]] = {}
    for r in knn_per_query(kept, queries, k=3).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    # nprobe=12 (vs the unfiltered default 8): a selective pre-filter
    # thins every probed cell, so serving under filters buys recall
    # back with more probes — the standard filtered-ANN adjustment
    # (recall at nprobe=8 here: 0.73; at 12: above the 0.8 floor).
    result, strategy = knn_auto_filtered_batch(
        spark, path, queries, allowed, k=3, force="ivf", nprobe=12
    )
    assert strategy == "ivf"
    rows = result.collect()
    assert result.columns == ["query_id", "vec_id", "sim", "rank"]
    got: dict[int, set[int]] = {}
    for r in rows:
        assert r.vec_id in allowed_ids
        got.setdefault(r.query_id, set()).add(r.vec_id)
    assert len(got) == 5 and all(len(v) == 3 for v in got.values())
    recall = sum(len(got[q] & exact[q]) for q in exact) / sum(
        len(v) for v in exact.values()
    )
    assert recall >= 0.8

    pq_result, pq_strategy = knn_auto_filtered_batch(
        spark, path, queries, allowed, k=3, force="ivfpq"
    )
    assert pq_strategy == "ivfpq"
    pq_rows = pq_result.collect()
    assert sorted(pq_result.columns) == [
        "query_id", "rank", "sim", "vec_id",
    ]
    assert all(r.vec_id in allowed_ids for r in pq_rows)
    assert len({r.query_id for r in pq_rows}) == 5


def test_knn_auto_filtered_batch_matches_oracle(spark, sf_oracle_dir):
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(
        spark, "knn_auto_filtered_batch", sf_oracle_dir
    )


def test_filtered_batch_stage_builds_once_serves_many(spark):
    """VERDICT r11 #2 build/serve split: the staged IVF index builds
    once per (sf_dir, source fingerprint); a reuse hit runs ZERO Spark
    jobs (driver-side stamp read only), never rewrites the stage, and
    repeat executions of the registered query return identical rows —
    so its bench row measures SERVING, not index-build noise."""
    import os

    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.plans.vector import _staged_ivf_index

    emb = io.table(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    path = _staged_ivf_index(SF_ORACLE, corpus, "ivf_filtered")
    assert os.path.isfile(os.path.join(path, "_stage_stamp.json"))
    versions = sorted(os.listdir(os.path.join(path, "assignments")))

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    path2 = _staged_ivf_index(SF_ORACLE, corpus, "ivf_filtered")
    assert path2 == path
    assert set(tracker.getJobIdsForGroup(None)) == before, (
        "stage reuse must run ZERO Spark jobs"
    )
    assert sorted(os.listdir(os.path.join(path, "assignments"))) == versions

    fn = QUERIES["knn_auto_filtered_batch"]
    r1 = {tuple(r) for r in fn(spark, SF_ORACLE).collect()}
    r2 = {tuple(r) for r in fn(spark, SF_ORACLE).collect()}
    assert r1 == r2
    assert len(r1) == 15  # 5 queries x top-3


def test_stage_stamp_mismatch_triggers_rebuild(spark, tmp_path):
    """A corrupt/stale _stage_stamp.json (older code version, changed
    source fingerprint) must force a rebuild that republishes a valid
    stamp — a stale index can never serve silently."""
    import json
    import os

    from conversadocs_spark.plans.vector import _staged_ivf_index

    emb = io.table(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    path = _staged_ivf_index(SF_ORACLE, corpus, "ivf_filtered")
    stamp_file = os.path.join(path, "_stage_stamp.json")
    with open(stamp_file) as f:
        good = json.load(f)
    with open(stamp_file, "w") as f:
        json.dump({**good, "stage_ver": -1}, f)
    path2 = _staged_ivf_index(SF_ORACLE, corpus, "ivf_filtered")
    assert path2 == path
    with open(stamp_file) as f:
        assert json.load(f) == good  # rebuilt and restamped


def test_stage_sweep_spares_current_layout_stages(spark):
    """A production 'ivf' rebuild replaces only its own stage: a live
    stage under another name — e.g. this suite's 'ivf_filtered'
    stages — must survive (ADVICE r12)."""
    import os
    import shutil

    from conversadocs_spark.plans.vector import _staged_ivf_index

    emb = io.table(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    other = _staged_ivf_index(SF_ORACLE, corpus, "ivf_filtered")
    ivf_path = _staged_ivf_index(SF_ORACLE, corpus, "ivf")
    shutil.rmtree(ivf_path)  # force the build path
    _staged_ivf_index(SF_ORACLE, corpus, "ivf")
    assert os.path.isfile(os.path.join(other, "_stage_stamp.json")), (
        "current-layout stage of another name must not be swept"
    )


def test_concurrent_stagers_build_in_their_own_dirs(spark, monkeypatch):
    """Two threads of one session staging the same fresh index both
    get a stamp-valid stage that reads. Each build writes into a temp
    dir of its own: a pid-suffixed build dir is shared by every thread
    of the process, so one stager's cleanup and publish tore down the
    other's half-written build. The barrier holds both builds inside
    ivf_write_index at once."""
    import json
    import os
    import shutil
    import threading
    import uuid

    import conversadocs_spark.operators.ivf as ivf_mod
    from conversadocs_spark.plans.vector import _staged_ivf_index
    from conversadocs_spark.scratch import STAGE_ROOT

    emb = io.table(spark, SF_ORACLE, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    name = f"ivf_race_{uuid.uuid4().hex[:8]}"
    barrier = threading.Barrier(2, timeout=300)
    write_index = ivf_mod.ivf_write_index

    def gated_write(*args, **kwargs):
        barrier.wait()
        return write_index(*args, **kwargs)

    paths, errors = [], []

    def stage():
        try:
            paths.append(_staged_ivf_index(SF_ORACLE, corpus, name))
        except Exception as e:  # reported by the assertion below
            errors.append(repr(e))
            barrier.abort()

    monkeypatch.setattr(ivf_mod, "ivf_write_index", gated_write)
    threads = [threading.Thread(target=stage) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    monkeypatch.undo()
    try:
        assert not any(t.is_alive() for t in threads)
        assert errors == [] and len(paths) == 2 and paths[0] == paths[1]
        path = paths[0]
        with open(os.path.join(path, "_stage_stamp.json")) as f:
            assert json.load(f)["sf_dir"] == os.path.abspath(SF_ORACLE)
        # a reuse hit: the published stamp is valid for this source
        assert _staged_ivf_index(SF_ORACLE, corpus, name) == path
        assigned, _centroids, manifest = ivf_mod.ivf_read_index(spark, path)
        assert assigned.count() == corpus.count() == manifest["n"]
    finally:
        for d in os.listdir(STAGE_ROOT):
            if name in d:  # the stage and any leftover build dir
                shutil.rmtree(os.path.join(STAGE_ROOT, d))
