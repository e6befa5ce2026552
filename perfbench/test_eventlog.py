"""Unit tests of the event-log reader on a small saved Spark 4.1 log.

``testdata/eventlog_small.jsonl`` is a real uncompressed event log, cut
down to the five event kinds the reader uses (SQL execution starts keep
only their ids, time, job group and plan node names). It holds 13 jobs:

- jobs 0-1: set-up, before every op;
- jobs 2-6: op 0; an eager ``count()`` in the build call (group
  ``perfbench-op-0.b``, 2 jobs), then a noop write of an aggregate joined
  to a broadcast table (``perfbench-op-0.x``, 3 jobs, one shuffle and one
  broadcast exchange in its plan);
- jobs 7-9: op 1 under a foreign group, as a streaming query's
  micro-batches run, submitted during the build call;
- job 10: op 1's noop write with no group;
- jobs 11-12: the output check, after every op.

Run: ``python -m pytest perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import (  # noqa: E402
    OpWindow, attribute, count_exchanges, read_events, union_ms,
)

LOG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl"
)
#: (start, end of build call, end) of the two ops, epoch ms
WINDOWS = [
    OpWindow(1792194756012.9436, 1792194756894.5771, 1792194758365.3982),
    OpWindow(1792194758416.1091, 1792194758990.657, 1792194759114.16),
]


def _ops():
    return attribute(read_events(LOG), WINDOWS, "perfbench-op-")


def test_union_merges_overlaps_and_clips():
    spans = [(0, 10), (5, 15), (20, 30), (29, 31)]
    assert union_ms(spans) == 26
    assert union_ms(spans, 8, 25) == 12
    assert union_ms([]) == 0


def test_jobs_split_by_group_and_phase():
    op0, op1 = _ops()
    assert (op0.jobs, op0.eager_jobs) == (5, 2)
    assert (op0.stages, op0.tasks) == (5, 8)


def test_foreign_group_falls_back_to_submit_time():
    _, op1 = _ops()
    # three foreign-group jobs in the build call, one ungrouped write job
    assert (op1.jobs, op1.eager_jobs) == (4, 3)
    assert (op1.stages, op1.tasks) == (4, 8)


def test_jobs_outside_every_op_are_dropped():
    total = sum(1 for e in read_events(LOG) if e["Event"] == "SparkListenerJobStart")
    assert total == 13
    assert sum(op.jobs for op in _ops()) == 9


def test_task_metrics_are_summed():
    op0, op1 = _ops()
    # Spark 4.1 writes Executor CPU Time (ns) into task-end events
    assert op0.sums["cpu_ns"] == 363751690
    assert op0.sums["run_ms"] == 994
    assert op0.sums["shuffle_write_bytes"] == op0.sums["shuffle_read_bytes"] == 484
    assert op0.sums["input_rows"] == 21007
    assert op1.sums["input_rows"] == 5100


def test_busy_time_is_the_union_of_task_spans():
    op0, _ = _ops()
    assert union_ms(op0.task_spans) == 716
    # job time inside op 0's build call: the eager count's two jobs
    w = WINDOWS[0]
    assert union_ms(op0.job_spans, w.start_ms, w.build_end_ms) == 116


def test_write_plan_comes_from_its_sql_execution():
    op0, op1 = _ops()
    # the write's plan: one shuffle and one broadcast exchange; the eager
    # count's execution (group .b) is not counted
    assert op0.exchanges == 2
    # the write is planned between the build call's end and its first job,
    # and re-planned between its three jobs
    assert op0.write_job_spans == [
        (1792194757225, 1792194757314),
        (1792194757533, 1792194758016),
        (1792194758182, 1792194758349),
    ]
    # op 1's write ran without a group: its job is found by time
    assert op1.exchanges == 0
    assert op1.write_job_spans == [(1792194759037, 1792194759109)]


def test_count_exchanges_skips_reuses():
    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "Exchange", "children": [
            {"nodeName": "BroadcastExchange"}, {"nodeName": "ReusedExchange"},
        ]},
    ]}
    assert count_exchanges(plan) == 2
