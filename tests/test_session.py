"""Engine session defaults that a measurement set, and the child
sessions that keep one query's conf out of every other query's."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pytest

from conversadocs_spark.plans import QUERIES
from perfbench.run import SERVE
from tests.conftest import SF_SMOKE


def test_serve_mix_steady_pass_compiles_nothing(spark):
    """session.CODEGEN_CACHE_ENTRIES holds a serve pass's generated
    classes (about 200, against Spark's default cache of 100, which
    evicts every class before its query comes round again), so after a
    warm pass the mix runs without a Janino compile.

    One pass after the warm one may still compile a few classes:
    adaptive re-planning of bm25_topk and hybrid_rrf yields an
    intermediate plan that depends on which shuffle stage finishes
    first, and each variant compiles once. So the pin is that one of the
    next two passes compiles nothing; with the default cache each of
    them recompiles about 200 classes."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in SERVE:
            QUERIES[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
        return compiles.getCount() - before

    one_pass()
    counts = []
    for _ in range(2):
        counts.append(one_pass())
        if counts[-1] == 0:
            return
    pytest.fail(f"every steady pass compiled classes: {counts}")


def test_warm_knn_topk_build_is_cheap_in_py4j(spark):
    """DataFrame debugging is off by default (``get_spark``): PySpark
    then skips recording each Column call's Python call site, about 8
    py4j round trips per call. A warm knn_topk build sends about 260
    commands with the default and about 700 without it.

    py4j's memory-delete commands go through the same ``send_command``:
    Python sends one for each JavaObject its garbage collector frees,
    whenever the collector runs. They are not the builder's, so they
    are not counted."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    QUERIES["knn_topk"](spark, SF_SMOKE)
    client = spark.sparkContext._gateway._gateway_client
    sent, send = 0, client.send_command

    def counting_send(command, *args, **kwargs):
        nonlocal sent
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent += 1
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        QUERIES["knn_topk"](spark, SF_SMOKE)
    finally:
        del client.send_command
    assert sent < 400, f"warm knn_topk build sent {sent} py4j commands"


#: conf a query could tune for itself: the shuffle width the components
#: loop and the replays narrow, and the planner keys a loop could turn
_TUNED_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.codegen.wholeStage",
)


def _conf(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in _TUNED_KEYS}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _polled(spark, work) -> list[dict]:
    """Run ``work()`` while another thread reads ``spark``'s tuned conf
    keys; return every distinct reading."""
    seen: list[dict] = []
    done = threading.Event()

    def poll() -> None:
        while not done.is_set():
            c = _conf(spark)
            if c not in seen:
                seen.append(c)
            time.sleep(0.002)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        work()
    finally:
        done.set()
        poller.join(timeout=30)
    assert not poller.is_alive()
    return seen


def test_tuned_queries_keep_their_conf_to_themselves(spark):
    """graph_pagerank_exact and dedup_clusters (both bounded loops, run
    as single-task kernels) and a components loop forced wide (it runs
    at a shuffle width of its own, in a child session) run in three
    threads on one session while a fourth reads the session's conf:
    every output equals its serial run, the reader only ever sees the
    session's own values, and the conf is unchanged afterwards."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id1", "id2"]
    )
    jobs = {
        "graph_pagerank_exact": lambda: QUERIES["graph_pagerank_exact"](
            spark, SF_SMOKE
        ),
        "dedup_clusters": lambda: QUERIES["dedup_clusters"](spark, SF_SMOKE),
        # 80 directed edges at 20 per partition: a width of 4, not the
        # session's 8, so a leak would show
        "components_wide": lambda: connected_components(
            chain, edges_per_partition=20
        ),
    }
    serial = {n: _rows(job()) for n, job in jobs.items()}
    before = _conf(spark)
    out: dict = {}
    errors: list = []

    def run(name: str) -> None:
        try:
            out[name] = _rows(jobs[name]())
        except Exception as e:  # reported by the assertion below
            errors.append((name, e))

    def all_jobs() -> None:
        threads = [threading.Thread(target=run, args=(n,)) for n in jobs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)

    seen = _polled(spark, all_jobs)
    assert not errors, errors
    assert out == serial
    assert seen == [before], f"the shared session saw tuning: {seen}"
    assert _conf(spark) == before


def test_replay_keeps_the_session_width(spark):
    """A streaming replay runs at REPLAY_PARTITIONS in a child session;
    the session it was called on keeps its own shuffle width
    throughout."""
    from conversadocs_spark.plans.streamqueries import REPLAY_PARTITIONS

    shared = spark.newSession()
    shared.conf.set(
        "spark.sql.shuffle.partitions", str(REPLAY_PARTITIONS + 3)
    )
    before = _conf(shared)
    out: list = []
    seen = _polled(
        shared,
        lambda: out.append(
            QUERIES["streaming_tumbling_replay"](shared, SF_SMOKE).count()
        ),
    )
    assert out and out[0] > 0
    assert seen == [before], f"the calling session saw tuning: {seen}"
    assert _conf(shared) == before


def test_shuffle_width_is_read_when_the_session_is_built(tmp_path):
    """get_spark reads SPARK_GRAFT_CPUS when it builds the session, not
    when the package is imported: a caller that imports the registry
    first and sets the variable afterwards (perfbench/run.py does) gets
    its width. It runs in a child process because this process's JVM
    already holds a session."""
    code = (
        "import os\n"
        "import conversadocs_spark.plans\n"
        "from conversadocs_spark.session import get_spark\n"
        "os.environ['SPARK_GRAFT_CPUS'] = '3'\n"
        "spark = get_spark()\n"
        "print('width', spark.conf.get('spark.sql.shuffle.partitions'))\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS")
    }
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "width 3" in out.stdout.splitlines(), out.stdout
