"""Driver-visible STREAMING queries (rows-only): each stages the
events fixture into time-ordered files, replays it through a real
``readStream`` pipeline with Trigger.AvailableNow into a memory sink,
and returns the materialized result.

Rows-only because a streaming runtime isn't SQL-expressible — but each
pipeline's *semantics* are hash-checked via its batch twin
(plans/eventtime.py), and tests/test_streaming.py asserts
stream-replay == batch on the same data. Together those give the
strongest available correctness story for the streaming surface.

Each call stages its files, tables and checkpoints under a directory
of its own from ``scratch.call_dir``, so a checkpoint is always fresh
(reusing one would resume the prior query instead of reprocessing) and
a returned lazy read is never rewritten by a later call; memory-sink
table names are unique per invocation so each query can be called
repeatedly.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from conversadocs_spark import scratch
from conversadocs_spark.plans.registry import register
from conversadocs_spark.session import child_session, rebind
from conversadocs_spark.streaming.ops import (
    stream_dedup,
    stream_tumbling_agg,
)
from conversadocs_spark.streaming.source import (
    read_events_stream,
    stage_events_files,
)
from conversadocs_spark.streaming.state import session_chat

_COUNTER = itertools.count()


def _stage(spark: SparkSession, sf_dir: str, duplicate_rows: bool) -> str:
    return stage_events_files(
        spark, sf_dir, scratch.call_dir("events"), n_files=3,
        duplicate_rows=duplicate_rows,
    )


#: shuffle width of the BOUNDED replay harness (r15): every stateful
#: operator materializes one state-store instance PER shuffle partition
#: PER micro-batch, so a 3-batch replay of a bounded fixture at the
#: session's 32-wide default paid ~hundreds of tiny state files of pure
#: I/O latency. Measured at sf0.01 (rows identical): interval-join
#: replay 18-26 s -> 4-6 s, session_chat 4.5-5.3 -> 2.7-3.0, tumbling
#: 4.3-5.8 -> 2.1-2.6 at width 8. State width does not change results
#: (replay == batch pins in tests/test_streaming.py).
REPLAY_PARTITIONS = 8


def _run_available_now(
    stream_df: DataFrame,
    configure: Callable[[DataStreamWriter], DataStreamWriter],
) -> SparkSession:
    """Run ``configure(stream_df.writeStream)`` to completion
    (AvailableNow) and return the session that started it: a child
    session at ``REPLAY_PARTITIONS`` width, since a stream fixes its
    state width from the starting session's conf. The caller's session
    conf is never written."""
    replay = child_session(
        stream_df.sparkSession,
        {"spark.sql.shuffle.partitions": str(REPLAY_PARTITIONS)},
    )
    writer = configure(rebind(stream_df, replay).writeStream)
    writer.trigger(availableNow=True).start().awaitTermination()
    return replay


def _replay(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming DF to completion (AvailableNow) into a memory
    sink; return the sink contents as a batch DataFrame of the caller's
    session (the sink's temp view is in the session that started it)."""
    name = f"replay_{os.getpid()}_{next(_COUNTER)}"
    replay = _run_available_now(
        stream_df,
        lambda w: w.format("memory").queryName(name).outputMode(mode),
    )
    return rebind(replay.table(name), stream_df.sparkSession)


@register("streaming_tumbling_replay", tags=("streaming", "rows-only"))
def streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over a 3-micro-batch file-stream
    replay of events (complete mode: every window's final value).
    Batch twin (hash-checked): window_tumbling."""
    path = _stage(spark, sf_dir, duplicate_rows=False)
    ev = read_events_stream(spark, path)
    return _replay(stream_tumbling_agg(ev), "complete")


@register("streaming_dedup_replay", tags=("streaming", "rows-only"))
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a replay where EVERY row
    arrives twice (ingest-retry duplicates): output must equal the
    distinct event set. Append mode — rows emit exactly once."""
    path = _stage(spark, sf_dir, duplicate_rows=True)
    ev = read_events_stream(spark, path)
    return _replay(stream_dedup(ev), "append")


@register("streaming_session_chat", tags=("streaming", "rows-only"))
def streaming_session_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState session chat (R10/R12): per-user turn
    counter + history digest carried across micro-batches; every event
    becomes a turn whose answer depends on the accumulated history."""
    path = _stage(spark, sf_dir, duplicate_rows=False)
    ev = read_events_stream(spark, path)
    return _replay(session_chat(ev), "append")


@register("streaming_foreachbatch_sink", tags=("streaming", "rows-only"))
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental index build (R19 analog + R7/R8
    lifecycle, incremental form): the 3-micro-batch events replay is
    written batch-by-batch into a parquet index partitioned by
    batch_id (idempotent overwrite-per-partition — a redelivered batch
    replaces itself instead of duplicating). Returns the re-read
    index; rows must equal the staged input
    (tests/test_streaming.py::test_foreachbatch_sink_idempotent also
    re-delivers a batch and asserts no duplication)."""
    from conversadocs_spark.streaming.ops import (
        foreach_batch_index_writer,
    )

    path = _stage(spark, sf_dir, duplicate_rows=False)
    d = scratch.call_dir("fb")
    index_dir, ckpt = f"{d}/index", f"{d}/ckpt"
    ev = read_events_stream(spark, path)
    _run_available_now(
        ev,
        lambda w: w.foreachBatch(foreach_batch_index_writer(index_dir))
        .option("checkpointLocation", ckpt),
    )
    return spark.read.parquet(index_dir)


@register("streaming_ivf_append", tags=("streaming", "vector", "rows-only"))
def streaming_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index maintenance
    (streaming/ivf_maintain.py): the first 75% of vectors by id are
    the built corpus — `ivf_build` clusters them and their
    assignments land partitioned by list_id — and the remaining 25%
    arrive as a 3-micro-batch file stream, each batch assigned to the
    FROZEN
    centroids via foreachBatch and appended as idempotent
    (batch_id, list_id) partitions. Returns the re-read STREAMED
    portion of the index as (vec_id, list_id, batch_id).

    Rows-only (a streaming runtime isn't SQL-expressible); the
    semantics pin is tests/test_streaming.py::
    test_ivf_append_stream_equals_batch_assign — streamed assignments
    must equal the batch `_assign` of the same vectors against the
    same centroids, a redelivered batch must not duplicate, and a
    probe over the grown index must retrieve a streamed vector."""
    from conversadocs_spark import io
    from conversadocs_spark.operators.ivf import ivf_build
    from conversadocs_spark.streaming.ivf_maintain import (
        foreach_batch_ivf_assign,
        read_vectors_stream,
        stage_vector_files,
    )
    from pyspark.sql import functions as F

    d = scratch.call_dir("ivf")
    arrivals, index_dir, ckpt = (
        f"{d}/arrivals", f"{d}/index", f"{d}/ckpt"
    )

    emb = io.table(spark, sf_dir, "embeddings")
    # sf-agnostic split: 75% built corpus / 25% streamed arrivals
    # (one max-aggregate statistic, the AQE-style runtime-stats move)
    split_id = int(
        emb.agg(F.max("vec_id")).first()[0] * 3 // 4
    )
    corpus = emb.where(F.col("vec_id") < split_id)
    assigned, centroids = ivf_build(corpus, n_lists=16, refine_iters=2)
    (
        assigned.select("vec_id", "embedding", "list_id")
        .withColumn("batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("batch_id", "list_id")
        .parquet(index_dir)
    )

    stage_vector_files(
        spark, sf_dir, arrivals, n_files=3, min_id=split_id
    )
    _run_available_now(
        read_vectors_stream(spark, arrivals),
        lambda w: w.foreachBatch(
            foreach_batch_ivf_assign(centroids, index_dir)
        )
        .option("checkpointLocation", ckpt),
    )
    return (
        spark.read.parquet(index_dir)
        .where(F.col("batch_id") >= 0)
        .select("vec_id", "list_id", "batch_id")
        .orderBy("vec_id")
    )


@register(
    "streaming_interval_join_replay", tags=("streaming", "rows-only")
)
def streaming_interval_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval join (click->purchase attribution,
    streaming/ops.py:stream_interval_join) over the 3-micro-batch
    events replay — the join-state class of streaming operator (the
    window/session queries cover aggregation state; this covers
    two-sided join state with watermark-bounded eviction). Rows-only;
    tests/test_streaming.py::test_interval_join_replay_equals_batch
    pins replay == the oracle-checked batch `join_interval_attrib`."""
    from conversadocs_spark.streaming.ops import stream_interval_join

    path = _stage(spark, sf_dir, duplicate_rows=False)
    ev = read_events_stream(spark, path)
    return _replay(stream_interval_join(ev), "append")


@register("streaming_hll_replay", tags=("streaming", "rows-only"))
def streaming_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user cardinality via a maintained HLL sketch
    table (streaming/ops.py:foreach_batch_hll_merger): the 3-batch
    events replay merges per-type sketches version-by-version; the
    result reads the LATEST sketch version and returns
    (event_type, est_users, exact_users). Stream == one-shot batch
    sketch EXACTLY (HLL union is register-max, order- and
    batching-independent) — pinned with the redelivery no-op in
    tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.sources.sink import read_versioned
    from conversadocs_spark.streaming.ops import (
        foreach_batch_hll_merger,
    )

    path = _stage(spark, sf_dir, duplicate_rows=False)
    d = scratch.call_dir("hll")
    table, ckpt = f"{d}/table", f"{d}/ckpt"
    ev = read_events_stream(spark, path)
    _run_available_now(
        ev,
        lambda w: w.foreachBatch(foreach_batch_hll_merger(table))
        .option("checkpointLocation", ckpt),
    )
    sk = read_versioned(spark, table).select(
        "event_type",
        F.hll_sketch_estimate("sketch").cast("bigint").alias("est_users"),
    )
    exact = (
        io.table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("exact_users")
        )
    )
    return sk.join(exact, on="event_type")


@register("streaming_session_timeout", tags=("streaming", "rows-only"))
def streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-TIMEOUT sessionization (streaming/state.py
    timeout_sessions, applyInPandasWithState + EventTimeTimeout): the
    only streaming mechanism that closes a session when the user goes
    quiet — no later event exists to trigger the emit, the watermark
    passing last+gap does. Replay over the 3-batch events stage plus
    two far-future sentinel batches (see stage_events_with_sentinels:
    the watermark only advances on rows reaching the watermark node,
    and fired timeouts need one more trigger to run — both pinned
    behaviors, both found the hard way). Output = one row per closed
    session for user_id < 20; tests/test_streaming.py asserts EXACT
    equality with the batch gaps-and-islands `sessionize` sessions."""
    from pyspark.sql import functions as F

    from conversadocs_spark.streaming.source import (
        stage_events_with_sentinels,
    )
    from conversadocs_spark.streaming.state import timeout_sessions

    stage = scratch.call_dir("sess_to")
    stage_events_with_sentinels(spark, sf_dir, stage, n_files=3)
    # keep the sentinel (user -1) flowing through the watermark node;
    # drop its own session rows from the output
    ev = read_events_stream(spark, stage).where(F.col("user_id") < 20)
    out = _replay(timeout_sessions(ev), "append")
    return out.where(F.col("user_id") >= 0)


@register("streaming_static_enrich", tags=("streaming", "rows-only"))
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join — the stateless join class (the
    other two being stream-stream `streaming_interval_join_replay`
    and the stateful aggregations): every micro-batch joins against a
    static dimension with NO state store involvement, the everyday
    enrichment every streaming pipeline starts with. The dim is
    broadcast, so each micro-batch pays a map-side hash join — at
    100 TB/day of events this is the difference between enrichment
    that scales with the stream and one that reshuffles it.

    Dim derived deterministically from event_type (category + a
    priority rank), so replay == the identical batch join
    (tests/test_streaming.py, exact row-set equality)."""
    from pyspark.sql import functions as F

    path = _stage(spark, sf_dir, duplicate_rows=False)
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
    ev = read_events_stream(spark, path)
    enriched = ev.join(F.broadcast(dim), "event_type").select(
        "event_id", "user_id", "event_type", "category", "priority"
    )
    return _replay(enriched, "append")


@register("streaming_update_mode_replay", tags=("streaming", "rows-only"))
def streaming_update_mode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the changelog semantics between complete
    (re-emit everything) and append (emit once, final): each trigger
    emits ONLY the aggregate rows that changed. Captured via
    foreachBatch into (batch_id)-stamped parquet, the changelog's
    latest row per (window, event_type) must equal the batch
    aggregate — i.e. compacting the update stream with
    `latest_per_key` semantics reconstructs the table, which is
    exactly how an upsert sink (Kafka compacted topic, key-value
    store) consumes update mode in production.

    Completes the output-mode matrix: complete
    (`streaming_tumbling_replay`), append (every other replay), and
    update (this). tests/test_streaming.py pins changelog-compaction
    == batch, and that update mode really emitted incrementally
    (more than one batch wrote rows, no batch re-emitted an
    unchanged window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from conversadocs_spark.streaming.ops import stream_tumbling_agg

    path = _stage(spark, sf_dir, duplicate_rows=False)
    d = scratch.call_dir("upd")
    out, ckpt = f"{d}/log", f"{d}/ckpt"
    ev = read_events_stream(spark, path)
    agg = stream_tumbling_agg(ev)

    def sink(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    _run_available_now(
        agg,
        lambda w: w.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt),
    )
    log = spark.read.parquet(out)
    w = Window.partitionBy("win_start", "event_type").orderBy(
        F.desc("batch_id")
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "win_start", "win_end", "event_type", "n_events",
            "total_value", "batch_id",
        )
    )


@register("streaming_cdc_apply", tags=("streaming", "lake", "rows-only"))
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/cdc.py): a 3-batch change
    stream — updates (custkey%7), deletes (custkey%13), inserts
    (re-keyed %17) — MERGEs into a versioned customer snapshot via
    foreachBatch; returns the final snapshot. The batch twin of the
    lowering is the oracle-checked `merge_upsert`;
    tests/test_streaming.py pins (a) the streamed result equals
    applying the same batches sequentially in batch mode and (b)
    redelivering a batch is a no-op (idempotent merge + versioned
    commits = exactly-once without a transaction log)."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.sources.sink import (
        read_versioned,
        write_versioned,
    )
    from conversadocs_spark.streaming.cdc import (
        CHANGES_SCHEMA,
        foreach_batch_cdc_applier,
    )

    d = scratch.call_dir("cdc")
    changes_dir, table, ckpt = f"{d}/chg", f"{d}/table", f"{d}/ckpt"
    c = io.table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    write_versioned(c, table)  # v1 = the base snapshot
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
    for i, b in enumerate(batches, 1):
        b.coalesce(1).write.mode("overwrite").parquet(
            f"{changes_dir}/batch={i:03d}"
        )
    stream = (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(changes_dir)
    )
    _run_available_now(
        stream,
        lambda w: w.foreachBatch(foreach_batch_cdc_applier(table))
        .option("checkpointLocation", ckpt),
    )
    return read_versioned(spark, table)


@register("streaming_decay_replay", tags=("streaming", "rows-only"))
def streaming_decay_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming feature-store maintenance of the time-decayed
    engagement score (the incremental form `decayed_engagement`'s
    docstring promises): the 3-batch events replay folds each
    micro-batch into a per-user (anchor, wsum, n_events) state table
    via the ASSOCIATIVE decay merge
    (streaming/ops.py:foreach_batch_decay_merger — advance the
    anchor, rescale by exp(-delta/tau), add the batch partial;
    redelivery skipped by the batch_id stamped in the version
    manifest). Serving reads the LATEST state version, rescales every
    user to the global max anchor, and returns the top 25.

    Parity contract vs the batch query: the batch side fixed-points
    each event's weight at the FINAL reference instant before
    summing, which no online form can replicate exactly (the final
    reference is unknown mid-stream) — so the pinned property is a
    BOUNDED gap: per-user |stream - exact| <= n_events * 1e-6
    (each term's rounding is half a micro-unit) plus exact n_events,
    asserted against an independent python re-derivation in
    tests/test_streaming.py, with the redelivery no-op pinned
    separately. State is one row per user; each micro-batch costs
    one user-keyed merge join — no history rescan at any scale."""
    from pyspark.sql import functions as F

    from conversadocs_spark.sources.sink import read_versioned
    from conversadocs_spark.streaming.ops import (
        foreach_batch_decay_merger,
    )

    tau_us = 604800.0 * 1e6
    path = _stage(spark, sf_dir, duplicate_rows=False)
    d = scratch.call_dir("decay")
    table, ckpt = f"{d}/table", f"{d}/ckpt"
    ev = read_events_stream(spark, path)
    _run_available_now(
        ev,
        lambda w: w.foreachBatch(
            foreach_batch_decay_merger(table)
        )
        .option("checkpointLocation", ckpt),
    )
    state = read_versioned(spark, table)
    g = state.agg(F.max("anchor_us").alias("t_ref_us"))
    return (
        state.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            "n_events",
            F.round(
                F.col("wsum")
                * F.exp(
                    -(
                        F.col("t_ref_us") - F.col("anchor_us")
                    ).cast("double")
                    / F.lit(tau_us)
                ),
                6,
            ).alias("decayed_score"),
        )
        .orderBy(F.desc("decayed_score"), F.asc("user_id"))
        .limit(25)
    )
