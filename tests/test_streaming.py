"""Structured Streaming verification: deterministic replay must equal
the batch twin (plans/eventtime.py), duplicates must be suppressed,
and stateful session chat must be invariant to micro-batch slicing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.scratch import STAGE_ROOT
from conversadocs_spark.streaming.ops import (
    stream_session_agg,
    stream_sliding_agg,
    stream_tumbling_agg,
)
from conversadocs_spark.streaming.source import (
    read_events_stream,
    stage_events_files,
)
from conversadocs_spark.streaming.state import chat_turn, session_chat



def _replay(stream_df, mode, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


@pytest.fixture(scope="module")
def staged(spark, sf_dir):
    out = os.path.join(STAGE_ROOT, "test_" + os.path.basename(sf_dir))
    return stage_events_files(spark, sf_dir, out, n_files=3)


def test_stream_tumbling_equals_batch(spark, sf_dir, staged):
    from conversadocs_spark.plans import QUERIES

    got = {
        tuple(r)
        for r in _replay(
            stream_tumbling_agg(read_events_stream(spark, staged)),
            "complete",
            "t_tumble",
        ).collect()
    }
    want = {
        tuple(r)
        for r in QUERIES["window_tumbling"](spark, sf_dir).collect()
    }
    assert got == want


def test_stream_sliding_equals_batch(spark, sf_dir, staged):
    from conversadocs_spark.plans import QUERIES

    got = {
        tuple(r)
        for r in _replay(
            stream_sliding_agg(read_events_stream(spark, staged)),
            "complete",
            "t_slide",
        ).collect()
    }
    want = {
        tuple(r)
        for r in QUERIES["window_sliding"](spark, sf_dir).collect()
    }
    assert got == want


def test_stream_sessions_finalized_subset_of_batch(spark, sf_dir, staged):
    """Append mode emits exactly the sessions closed by the final
    watermark — every emitted session must appear verbatim in the
    batch answer, and most sessions must have closed."""
    from conversadocs_spark.plans import QUERIES

    got = {
        tuple(r)
        for r in _replay(
            stream_session_agg(read_events_stream(spark, staged)),
            "append",
            "t_sess",
        ).collect()
    }
    want = {
        tuple(r)
        for r in QUERIES["window_session"](spark, sf_dir).collect()
    }
    assert got, "no sessions were finalized"
    assert got <= want
    assert len(got) >= len(want) * 0.5


def test_stream_dedup_suppresses_retries(spark, sf_dir):
    from conversadocs_spark.streaming.ops import stream_dedup

    out = os.path.join(STAGE_ROOT, "test_dup_" + os.path.basename(sf_dir))
    stage_events_files(spark, sf_dir, out, n_files=3, duplicate_rows=True)
    got = _replay(
        stream_dedup(read_events_stream(spark, out)), "append", "t_dedup"
    )
    ev = io.table(spark, sf_dir, "events")
    assert got.count() == ev.count()
    assert {r.event_id for r in got.select("event_id").collect()} == {
        r.event_id for r in ev.select("event_id").collect()
    }


def test_session_chat_invariant_to_slicing(spark, sf_dir, staged):
    """The stateful chat must produce identical (turn, answer) history
    whether the stream arrives as 1 or 3 micro-batches — state carries
    the conversation across batch boundaries."""
    one = {
        tuple(r)
        for r in _replay(
            session_chat(
                read_events_stream(spark, staged, max_files_per_trigger=3)
            ),
            "append",
            "t_chat1",
        ).collect()
    }
    three = {
        tuple(r)
        for r in _replay(
            session_chat(
                read_events_stream(spark, staged, max_files_per_trigger=1)
            ),
            "append",
            "t_chat3",
        ).collect()
    }
    assert one == three
    # turn counts per user == event counts per user
    ev = io.table(spark, sf_dir, "events")
    per_user = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    max_turns: dict[int, int] = {}
    for user_id, _eid, turn, _q, _a in one:
        max_turns[user_id] = max(max_turns.get(user_id, 0), turn)
    assert max_turns == per_user


def _batch_chat_reference(rows, reset_type=None):
    """Driver-side batch twin of the streaming chat: the same
    chat_turn transition applied over (ts, event_id)-ordered events
    per user — the value-level oracle for replay equality."""
    expected = set()
    per_user: dict[int, tuple[int, str]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        turn, hist = per_user.get(r.user_id, (0, ""))
        reset = reset_type is not None and r.event_type == reset_type
        turn, hist, answer = chat_turn(turn, hist, str(r.props), reset)
        per_user[r.user_id] = (turn, hist)
        expected.add((r.user_id, r.event_id, turn, str(r.props), answer))
    return expected


def test_session_chat_values_equal_batch_twin(spark, sf_dir, staged):
    """Replay-equals-batch at VALUE level: every (turn, question,
    answer) row of the streamed chat must match the driver-computed
    transition chain — pinning turn ordering and history threading
    (R12 semantics), not just row counts."""
    got = {
        tuple(r)
        for r in _replay(
            session_chat(
                read_events_stream(spark, staged, max_files_per_trigger=1)
            ),
            "append",
            "t_chat_vals",
        ).collect()
    }
    ev = io.table(spark, sf_dir, "events").collect()
    assert got == _batch_chat_reference(ev)


def test_session_chat_reset_clears_history(spark, sf_dir, staged):
    """History-clear semantics (bones.py:129-130, 275-277): an event of
    the reset type empties the history BEFORE it is answered — its
    answer must equal the no-history answer for the same question —
    while the turn counter keeps counting; later turns chain off the
    post-reset history."""
    reset_type = "purchase"  # present in the fixture event mix
    got = {
        tuple(r)
        for r in _replay(
            session_chat(
                read_events_stream(
                    spark, staged, max_files_per_trigger=1
                ),
                reset_type=reset_type,
            ),
            "append",
            "t_chat_reset",
        ).collect()
    }
    ev = io.table(spark, sf_dir, "events").collect()
    assert got == _batch_chat_reference(ev, reset_type=reset_type)
    # spot-pin the clear itself: every reset event's streamed answer is
    # the empty-history answer, independent of anything before it
    reset_events = {
        (r.user_id, r.event_id): str(r.props)
        for r in ev
        if r.event_type == reset_type
    }
    streamed = {(u, e): (t, q, a) for (u, e, t, q, a) in got}
    assert reset_events, "fixture has no reset-type events"
    for key, question in reset_events.items():
        turn, q, answer = streamed[key]
        _, _, fresh_answer = chat_turn(0, "", question, False)
        assert answer == fresh_answer
        assert turn >= 1


def test_foreachbatch_sink_idempotent(spark, sf_dir, tmp_path):
    """A redelivered micro-batch (same batch_id) must replace its own
    partition, not append duplicates — the failure-retry contract of
    foreachBatch."""
    from conversadocs_spark import io
    from conversadocs_spark.streaming.ops import foreach_batch_index_writer

    ev = io.table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    index_dir = str(tmp_path / "fb_index")
    writer = foreach_batch_index_writer(index_dir)
    first = ev.limit(40)
    second = ev.limit(100).subtract(first)
    writer(first, 0)
    writer(second, 1)
    n_before = spark.read.parquet(index_dir).count()
    writer(first, 0)  # redelivery of batch 0
    after = spark.read.parquet(index_dir)
    assert after.count() == n_before
    assert after.select("event_id").distinct().count() == n_before


def test_foreachbatch_replay_covers_input(spark, sf_dir):
    """The streamed index must contain exactly the staged events."""
    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    idx = QUERIES["streaming_foreachbatch_sink"](spark, sf_dir)
    n_events = io.table(spark, sf_dir, "events").count()
    assert idx.count() == n_events
    assert idx.select("event_id").distinct().count() == n_events
    assert idx.select("batch_id").distinct().count() >= 2


def test_ivf_append_stream_equals_batch_assign(spark, call_dirs):
    """Streamed assignments must equal the batch _assign of the same
    vectors against the same frozen centroids; every staged vector
    appears exactly once; a probe over the grown index retrieves a
    streamed vector as its own nearest neighbor."""
    from conversadocs_spark.operators.ivf import _assign, ivf_build, ivf_search
    from conversadocs_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    out = QUERIES["streaming_ivf_append"](spark, sf)
    got = {r["vec_id"]: r["list_id"] for r in out.collect()}

    emb = io.table(spark, sf, "embeddings")
    split_id = int(emb.agg(F.max("vec_id")).first()[0] * 3 // 4)
    corpus = emb.where(F.col("vec_id") < split_id)
    streamed = emb.where(F.col("vec_id") >= split_id)
    # rebuild is deterministic (hash init + fixed Lloyd steps), so
    # these centroids equal the ones the query froze
    _, centroids = ivf_build(corpus, n_lists=16, refine_iters=2)
    want = {
        r["vec_id"]: r["list_id"]
        for r in _assign(streamed, centroids).collect()
    }
    assert got == want
    assert len(got) == streamed.count()  # each vector exactly once

    # probe: a query equal to a streamed vector must come back rank 1
    index_dir = os.path.join(call_dirs["ivf"][0], "index")
    assignments = spark.read.parquet(index_dir).select(
        "vec_id", "embedding", "list_id"
    )
    probe_src = streamed.orderBy("vec_id").limit(1)
    target = probe_src.first()["vec_id"]
    # query under a synthetic id (ivf_search excludes vec_id ==
    # query_id, the knn-self convention) whose vector IS the streamed
    # vector: it must come back rank 1 at sim 1.0
    queries = probe_src.select(
        F.lit(-1).cast("long").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    hits = ivf_search(
        assignments, centroids, queries, k=1, nprobe=4
    ).collect()
    assert len(hits) == 1
    assert hits[0]["vec_id"] == target
    assert hits[0]["sim"] == 1.0


def test_ivf_append_redelivery_is_idempotent(spark, tmp_path):
    """Re-invoking the foreachBatch writer with the SAME batch_id must
    replace, not duplicate, that batch's partitions."""
    from conversadocs_spark.operators.ivf import ivf_build
    from conversadocs_spark.streaming.ivf_maintain import (
        foreach_batch_ivf_assign,
    )

    sf = "/root/testdata/sf0.01"
    emb = io.table(spark, sf, "embeddings")
    corpus = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300).select(
        "vec_id", "embedding", "label"
    )
    _, centroids = ivf_build(corpus, n_lists=8, refine_iters=1)
    idx = str(tmp_path / "ivf_idx")
    writer = foreach_batch_ivf_assign(centroids, idx)
    writer(batch, 7)
    n1 = spark.read.parquet(idx).count()
    writer(batch, 7)  # redelivery
    n2 = spark.read.parquet(idx).count()
    assert n1 == n2 == batch.count()


def test_interval_join_replay_equals_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must emit exactly
    the batch attribution pairs — two-sided join state, replayed over
    3 micro-batches, converges to the oracle-checked batch answer."""
    from conversadocs_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    streamed = sorted(
        map(
            tuple,
            QUERIES["streaming_interval_join_replay"](
                spark, sf
            ).collect(),
        )
    )
    batch = sorted(
        map(tuple, QUERIES["join_interval_attrib"](spark, sf).collect())
    )
    assert streamed == batch and len(streamed) > 0


def test_checkpoint_resume_does_not_reprocess(spark, sf_dir, tmp_path):
    """Exactly-once across RESTARTS: run the foreachBatch index build
    with only slice 1 visible, then reveal slices 2-3 and run again
    from the SAME checkpoint — the resumed query must process only
    the new files, and the final index must equal the staged input
    with no duplicates."""
    import shutil

    from conversadocs_spark.streaming.ops import (
        foreach_batch_index_writer,
    )

    full = os.path.join(STAGE_ROOT, "test_" + os.path.basename(sf_dir))
    stage_events_files(spark, sf_dir, full, n_files=3)
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    shutil.copytree(f"{full}/slice=001", f"{src}/slice=001")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            read_events_stream(spark, src)
            .writeStream.foreachBatch(foreach_batch_index_writer(idx))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    first = spark.read.parquet(idx)
    n_first = first.count()
    assert n_first > 0
    batches_first = {
        r["batch_id"]
        for r in first.select("batch_id").distinct().collect()
    }

    shutil.copytree(f"{full}/slice=002", f"{src}/slice=002")
    shutil.copytree(f"{full}/slice=003", f"{src}/slice=003")
    run()
    final = spark.read.parquet(idx)
    n_events = io.table(spark, sf_dir, "events").count()
    assert final.count() == n_events
    assert final.select("event_id").distinct().count() == n_events
    # resumed batches got NEW ids — batch 0's partition was not
    # rewritten or duplicated by the restart
    batches_final = {
        r["batch_id"]
        for r in final.select("batch_id").distinct().collect()
    }
    assert batches_first < batches_final


def test_incremental_empty_batch_is_empty(spark, tmp_path):
    """An empty increment yields an empty pair set, not an error —
    the no-new-data day must be a no-op."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.incremental import (
        minhash_incremental_pairs,
        minhash_index_build,
    )

    d = io.table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    minhash_index_build(d, idx)
    empty = d.where(F.col("doc_id") < 0)
    assert minhash_incremental_pairs(spark, empty, idx).count() == 0


def test_streaming_hll_equals_batch_and_redelivery_is_noop(
    spark, sf_oracle_dir, tmp_path
):
    """The maintained sketch table's estimates must equal the one-shot
    batch sketch EXACTLY (HLL union is register-max: batching cannot
    change the registers), stay within 5% of truth, and re-merging an
    already-merged batch must not change any estimate (at-least-once
    delivery safety by algebra)."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.sources.sink import read_versioned
    from conversadocs_spark.streaming.ops import (
        foreach_batch_hll_merger,
    )

    rows = QUERIES["streaming_hll_replay"](spark, sf_oracle_dir).collect()
    assert rows
    ev = io.table(spark, sf_oracle_dir, "events")
    one_shot = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12))
            .cast("bigint")
            .alias("est")
        )
        .collect()
    }
    for r in rows:
        assert r["est_users"] == one_shot[r["event_type"]]
        rel = abs(r["est_users"] - r["exact_users"]) / r["exact_users"]
        assert rel <= 0.05

    # redelivery: merge one batch twice into a fresh table
    table = str(tmp_path / "hll_redeliver")
    fn = foreach_batch_hll_merger(table)
    batch = ev.where(F.col("event_id") % 3 == 0)
    fn(batch, 0)
    est1 = {
        r["event_type"]: r["e"]
        for r in read_versioned(spark, table)
        .select(
            "event_type",
            F.hll_sketch_estimate("sketch").cast("bigint").alias("e"),
        )
        .collect()
    }
    fn(batch, 0)  # redelivered
    est2 = {
        r["event_type"]: r["e"]
        for r in read_versioned(spark, table)
        .select(
            "event_type",
            F.hll_sketch_estimate("sketch").cast("bigint").alias("e"),
        )
        .collect()
    }
    assert est1 == est2


def test_timeout_sessions_equal_batch_sessionize(spark, sf_oracle_dir):
    """EventTimeTimeout sessionization must emit EXACTLY the batch
    gaps-and-islands sessions (same >1800s split rule): every session
    closed either by a later event (in-kernel split) or by the
    watermark passing last+gap (timeout path) — including the final
    open session of the users with the latest events, which only fire
    because the sentinel rows keep the watermark advancing."""
    from pyspark.sql import functions as F

    from conversadocs_spark.plans import QUERIES

    got = {
        tuple(r)
        for r in QUERIES["streaming_session_timeout"](
            spark, sf_oracle_dir
        ).collect()
    }
    batch = (
        QUERIES["sessionize"](spark, sf_oracle_dir)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.col("ts").cast("timestamp").cast("long")).alias(
                "session_start"
            ),
            F.max(F.col("ts").cast("timestamp").cast("long")).alias(
                "session_end"
            ),
            F.count("*").cast("int").alias("n_events"),
        )
        .drop("session_seq")
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 1000


def test_timeout_sessions_tws_parity(spark, sf_oracle_dir):
    """Spark 4 transformWithState port (VERDICT r10 #6): the new-API
    sessionizer must emit EXACTLY the old API's rows — both fold
    through the shared advance_session kernel, so this pins the API
    wiring (ValueState + explicit timer registry vs GroupState +
    setTimeoutTimestamp). ENV-GATED: transformWithState's Python
    worker speaks protobuf to the JVM state server; skipped where
    google.protobuf is absent (this sandbox — documented boundary in
    streaming/state.py timeout_sessions_tws)."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import functions as F

    from conversadocs_spark import scratch
    from conversadocs_spark.plans.streamqueries import _replay
    from conversadocs_spark.streaming.source import (
        read_events_stream,
        stage_events_with_sentinels,
    )
    from conversadocs_spark.streaming.state import (
        timeout_sessions,
        timeout_sessions_tws,
    )

    stage = scratch.call_dir("sess_tws")
    stage_events_with_sentinels(spark, sf_oracle_dir, stage, n_files=3)
    ev = read_events_stream(spark, stage).where(F.col("user_id") < 20)
    new = {
        tuple(r)
        for r in _replay(timeout_sessions_tws(ev), "append")
        .where(F.col("user_id") >= 0)
        .collect()
    }
    old = {
        tuple(r)
        for r in _replay(timeout_sessions(ev), "append")
        .where(F.col("user_id") >= 0)
        .collect()
    }
    assert new == old and len(new) > 0


def test_stream_static_enrich_equals_batch_join(spark, sf_oracle_dir):
    """The stream-static enrichment replay must equal the identical
    batch join row-for-row (stateless join: no watermark, no state —
    micro-batching cannot change a deterministic enrichment)."""
    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    got = {
        tuple(r)
        for r in QUERIES["streaming_static_enrich"](
            spark, sf_oracle_dir
        ).collect()
    }
    dim = spark.createDataFrame(
        [
            ("view", "engagement", 1),
            ("click", "engagement", 2),
            ("purchase", "revenue", 3),
            ("signup", "identity", 4),
            ("error", "ops", 5),
        ],
        "event_type string, category string, priority int",
    )
    want = {
        tuple(r)
        for r in io.table(spark, sf_oracle_dir, "events")
        .join(dim, "event_type")
        .select(
            "event_id", "user_id", "event_type", "category", "priority"
        )
        .collect()
    }
    assert got == want and len(got) == 10000


def test_update_mode_changelog_compacts_to_batch(spark, sf_oracle_dir):
    """Compacting the update-mode changelog (latest row per window
    key) must reconstruct the batch aggregate exactly, and the
    changelog must be genuinely incremental: updates span multiple
    batch_ids."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["streaming_update_mode_replay"](
        spark, sf_oracle_dir
    ).collect()
    got = {
        (r["win_start"], r["event_type"]): (
            r["n_events"],
            round(float(r["total_value"]), 6),
        )
        for r in rows
    }
    ev = io.table(spark, sf_oracle_dir, "events")
    batch = (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "6 hours"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast(
                    "double"
                ),
                6,
            ).alias("tv"),
        )
        .select(
            F.col("window.start").alias("ws"), "event_type", "n", "tv"
        )
    )
    want = {
        (r["ws"], r["event_type"]): (r["n"], round(float(r["tv"]), 6))
        for r in batch.collect()
    }
    assert got == want
    assert len({r["batch_id"] for r in rows}) > 1


def test_streaming_cdc_apply_equals_sequential_and_is_idempotent(
    spark, sf_oracle_dir, tmp_path
):
    """The streamed CDC result must equal applying the same three
    batches sequentially in batch mode, and re-applying any batch to
    the final snapshot must change nothing (idempotent merge:
    absolute updates, keyed deletes, when-not-matched inserts)."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.streaming.cdc import apply_cdc_batch

    got = {
        tuple(r)
        for r in QUERIES["streaming_cdc_apply"](
            spark, sf_oracle_dir
        ).collect()
    }
    c = io.table(spark, sf_oracle_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    batches = [
        c.where(F.col("c_custkey") % 7 == 0).select(
            "c_custkey", F.lit("U").alias("op"), "c_name",
            "c_nationkey",
            F.round(F.col("c_acctbal") + 100.5, 2).alias("c_acctbal"),
            F.lit("UPDATED").alias("c_mktsegment"),
        ),
        c.where(F.col("c_custkey") % 13 == 0).select(
            "c_custkey", F.lit("D").alias("op"), "c_name",
            "c_nationkey", "c_acctbal", "c_mktsegment",
        ),
        c.where(F.col("c_custkey") % 17 == 0).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.lit("I").alias("op"),
            F.concat(F.lit("Customer#NEW"),
                     F.col("c_custkey").cast("string")).alias("c_name"),
            "c_nationkey",
            F.lit(0.0).alias("c_acctbal"),
            F.lit("NEWSEG").alias("c_mktsegment"),
        ),
    ]
    snap = c
    for b in batches:
        snap = apply_cdc_batch(snap, b).localCheckpoint()
    want = {tuple(r) for r in snap.collect()}
    assert got == want and len(got) > 1000
    # redelivery no-op: every batch re-applied to the final snapshot
    # updates are absolute, deletes already gone, inserts already
    # matched — every re-application is a fixed point
    for b in batches:
        again = {tuple(r) for r in apply_cdc_batch(snap, b).collect()}
        assert again == want


def test_cdc_multi_op_per_key_batch_collapses_to_sequential(
    spark, sf_oracle_dir
):
    """A micro-batch carrying SEVERAL ops for one key (routine in real
    CDC; availableNow can coalesce files into one batch) must apply as
    the exact seq-ordered fold — equal to applying each op as its own
    single-op batch — and re-applying the combined batch must be a
    fixed point. Covers I->U (insert with updated payload), U->D
    (delete wins), D->I (replacement), U->U (last update wins), I->D
    (net no-op), and U on an absent key (no-op)."""
    from conversadocs_spark.streaming.cdc import _PAYLOAD, apply_cdc_batch

    target = (
        io.table(spark, sf_oracle_dir, "customer")
        .select("c_custkey", *_PAYLOAD)
        .where(F.col("c_custkey") <= 100)
        .localCheckpoint()
    )
    present = [r.c_custkey for r in
               target.select("c_custkey").orderBy("c_custkey").collect()]
    k_ud, k_di, k_uu = present[0], present[1], present[2]
    k_iu, k_id, k_abs_u = 9000001, 9000002, 9000003

    def row(seq, key, op, name):
        return (key, op, name, 7, float(seq), "SEG", seq)

    ops = [
        row(1, k_iu, "I", "iu-inserted"), row(2, k_iu, "U", "iu-updated"),
        row(3, k_ud, "U", "ud-updated"), row(4, k_ud, "D", "ud-gone"),
        row(5, k_di, "D", "di-gone"), row(6, k_di, "I", "di-replaced"),
        row(7, k_uu, "U", "uu-first"), row(8, k_uu, "U", "uu-last"),
        row(9, k_id, "I", "id-inserted"), row(10, k_id, "D", "id-gone"),
        row(11, k_abs_u, "U", "absent-update-noop"),
    ]
    cols = ["c_custkey", "op", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment", "seq"]
    combined = spark.createDataFrame(ops, cols)
    got = {tuple(r) for r in apply_cdc_batch(target, combined).collect()}

    snap = target
    for op_row in ops:  # one op per batch = the trivially-correct path
        b = spark.createDataFrame([op_row], cols)
        snap = apply_cdc_batch(snap, b).localCheckpoint()
    want = {tuple(r) for r in snap.collect()}
    assert got == want

    by_key = {r[0]: r for r in got}
    assert by_key[k_iu][1] == "iu-updated"      # I->U keeps the update
    assert k_ud not in by_key                    # U->D deletes
    assert by_key[k_di][1] == "di-replaced"      # D->I replaces
    assert by_key[k_uu][1] == "uu-last"          # last U wins
    assert k_id not in by_key                    # I->D net no-op
    assert k_abs_u not in by_key                 # U on absent = no-op

    # redelivering the whole combined batch is still a fixed point
    redone = {
        tuple(r)
        for r in apply_cdc_batch(
            spark.createDataFrame(sorted(got), target.columns), combined
        ).collect()
    }
    assert redone == got


def test_streaming_decay_bounded_parity_and_redelivery_noop(
    spark, sf_dir, tmp_path
):
    """The maintained decay-state table must reproduce the exact
    per-user score within the documented bound (each batch-side term
    is unrounded while the batch query fixed-points per event:
    |stream - exact| <= n_events * 1e-6), with exact n_events — and
    re-applying an already-applied micro-batch must be a no-op (the
    manifest-stamped batch_id skip)."""
    import math

    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.sources.sink import read_versioned
    from conversadocs_spark.streaming.ops import (
        foreach_batch_decay_merger,
    )

    got = {
        r.user_id: r
        for r in QUERIES["streaming_decay_replay"](
            spark, sf_dir
        ).collect()
    }
    assert got
    events = io.table(spark, sf_dir, "events").collect()
    t_ref = max(
        int(e.ts.timestamp() * 1_000_000) for e in events
    )
    exact: dict[int, list] = {}
    for e in events:
        ts_us = int(e.ts.timestamp() * 1_000_000)
        exact.setdefault(e.user_id, []).append(
            e.value * math.exp(-(t_ref - ts_us) / 604800.0e6)
        )
    ranked = sorted(
        exact.items(),
        key=lambda kv: (-sum(kv[1]), kv[0]),
    )[: len(got)]
    for uid, terms in ranked:
        r = got[uid]
        assert r.n_events == len(terms)
        assert abs(r.decayed_score - sum(terms)) <= len(terms) * 1e-6

    # redelivery no-op: same batch_id applied twice leaves the state
    # (and the version count) unchanged
    table = str(tmp_path / "decay_state")
    merger = foreach_batch_decay_merger(table)
    batch = io.table(spark, sf_dir, "events").limit(200)
    merger(batch, 0)
    v1 = sorted(
        (r.user_id, r.anchor_us, r.n_events, round(r.wsum, 9))
        for r in read_versioned(spark, table).collect()
    )
    merger(batch, 0)  # redelivered
    v2 = sorted(
        (r.user_id, r.anchor_us, r.n_events, round(r.wsum, 9))
        for r in read_versioned(spark, table).collect()
    )
    assert v1 == v2
    # a genuinely NEW batch does change it
    merger(batch, 1)
    v3 = {r.user_id: r.n_events
          for r in read_versioned(spark, table).collect()}
    assert all(n == 2 * dict(
        (u, ne) for u, _, ne, _ in v1
    )[u] for u, n in v3.items())

