"""Engine session defaults that a measurement set, and the child
sessions that keep one query's conf out of every other query's."""

from __future__ import annotations

import threading
import time

import pytest

from conversadocs_spark.plans import QUERIES
from conversadocs_spark.plans.graph import BOUNDED_LOOP_CONF
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
    commands with the default and about 700 without it."""
    QUERIES["knn_topk"](spark, SF_SMOKE)
    client = spark.sparkContext._gateway._gateway_client
    sent, send = 0, client.send_command

    def counting_send(*args, **kwargs):
        nonlocal sent
        sent += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        QUERIES["knn_topk"](spark, SF_SMOKE)
    finally:
        del client.send_command
    assert sent < 400, f"warm knn_topk build sent {sent} py4j commands"


#: conf that the engine's tuned queries set for themselves: the bounded
#: loop's keys, and the shuffle width components and the replays narrow
_TUNED_KEYS = (*BOUNDED_LOOP_CONF, "spark.sql.shuffle.partitions")


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
    """graph_pagerank_exact (the bounded-loop conf) and dedup_clusters
    (the components loop width) run in two threads on one session while
    a third reads the session's conf: both outputs equal their serial
    runs, the reader only ever sees the session's own values, and the
    conf is unchanged afterwards. Each loop runs in a child session, so
    its tuning never reaches the shared one."""
    names = ("graph_pagerank_exact", "dedup_clusters")
    serial = {n: _rows(QUERIES[n](spark, SF_SMOKE)) for n in names}
    before = _conf(spark)
    out: dict = {}
    errors: list = []

    def run(name: str) -> None:
        try:
            out[name] = _rows(QUERIES[name](spark, SF_SMOKE))
        except Exception as e:  # reported by the assertion below
            errors.append((name, e))

    def both() -> None:
        threads = [threading.Thread(target=run, args=(n,)) for n in names]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)

    seen = _polled(spark, both)
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
