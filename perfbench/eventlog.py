"""Spark event-log reader: job, stage and task data per benchmark op.

The benchmark launches the JVM with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and rolling off, so the log is one
uncompressed JSON-lines file. Each op runs its build call under the job
group ``<prefix><op>.b`` and its noop write under ``<prefix><op>.x``.
A job or stage whose group is not one of those (a streaming query's
micro-batches run under the query's own group) is attributed by its
submission time to the op whose interval holds it. The client is one
closed-loop thread, so op intervals never overlap.

The noop write plans its own query: Spark posts the write's SQL
execution start (tagged with the write's job group, carrying the physical
plan) before planning and submits the first job after it, so the time
from the write call to its first job is the write's Catalyst time. With
adaptive execution, the write's jobs run one query stage each, and the
Spark driver re-plans the rest of the query between them.

Times in the log are epoch milliseconds from the JVM clock; op intervals
are passed in the same unit (``time.time() * 1000``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: per-op sums read from task-end "Task Metrics"
TASK_SUMS = (
    "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "fetch_wait_ms", "input_bytes", "input_rows",
    "output_bytes", "output_rows",
)


@dataclass
class OpWindow:
    """One timed op: ``[start_ms, end_ms]``, build call ends at ``build_end_ms``."""

    start_ms: float
    build_end_ms: float
    end_ms: float


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class OpEvents:
    jobs: int = 0
    eager_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    #: Exchange nodes (not reuses) in the noop write's physical plan
    exchanges: int = 0
    #: [submit, end] of every job, and [launch, finish] of every task
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    eager_job_spans: list[tuple[float, float]] = field(default_factory=list)
    #: the jobs after the build call: the noop write's
    write_job_spans: list[tuple[float, float]] = field(default_factory=list)
    task_spans: list[tuple[float, float]] = field(default_factory=list)
    sums: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(TASK_SUMS, 0)
    )


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def union_ms(spans, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def count_exchanges(plan_info: dict) -> int:
    """Shuffle and broadcast exchanges in a ``sparkPlanInfo`` tree.

    With adaptive execution on, the tree of the execution start is the
    initial plan, the one ``executedPlan()`` returns before execution.
    """
    name = plan_info.get("nodeName", "")
    own = name.endswith("Exchange") and not name.startswith("Reused")
    return own + sum(count_exchanges(c) for c in plan_info.get("children", ()))


def _task_sums(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
        "output_bytes": out.get("Bytes Written", 0),
        "output_rows": out.get("Records Written", 0),
    }


def attribute(events, ops: list[OpWindow], group_prefix: str) -> list[OpEvents]:
    """Split the jobs, stages and tasks of ``events`` over ``ops``.

    Events outside every op interval (set-up, the output check) are
    dropped.
    """
    out = [OpEvents() for _ in ops]

    def locate(group: str | None, t_ms: float) -> tuple[int, bool] | None:
        """(op index, is-build-phase) for a group id or a submit time."""
        if group and group.startswith(group_prefix):
            idx, phase = group[len(group_prefix):].split(".")
            return int(idx), phase == "b"
        for i, w in enumerate(ops):
            if w.start_ms <= t_ms <= w.end_ms:
                return i, t_ms < w.build_end_ms
        return None

    job_at: dict[int, tuple[int, bool, float]] = {}
    stage_op: dict[tuple[int, int], int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            hit = locate(
                e.get("Properties", {}).get("spark.jobGroup.id"),
                e["Submission Time"],
            )
            if hit is not None:
                job_at[e["Job ID"]] = (*hit, e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            hit = job_at.pop(e["Job ID"], None)
            if hit is not None:
                i, eager, t0 = hit
                span = (t0, e["Completion Time"])
                out[i].jobs += 1
                out[i].job_spans.append(span)
                if eager:
                    out[i].eager_jobs += 1
                    out[i].eager_job_spans.append(span)
                else:
                    out[i].write_job_spans.append(span)
        elif kind == SQL_START:
            group = e.get("jobGroupId") or ""
            if (
                group.startswith(group_prefix) and group.endswith(".x")
                and e.get("rootExecutionId", e["executionId"]) == e["executionId"]
            ):
                i = int(group[len(group_prefix):-2])
                out[i].exchanges += count_exchanges(e["sparkPlanInfo"])
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            hit = locate(
                e.get("Properties", {}).get("spark.jobGroup.id"),
                info.get("Submission Time", 0),
            )
            if hit is not None:
                stage_op[(info["Stage ID"], info["Stage Attempt ID"])] = hit[0]
                out[hit[0]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            i = stage_op.get((e["Stage ID"], e["Stage Attempt ID"]))
            if i is None:
                continue
            info = e["Task Info"]
            out[i].tasks += 1
            out[i].task_spans.append((info["Launch Time"], info["Finish Time"]))
            for k, v in _task_sums(e.get("Task Metrics", {})).items():
                out[i].sums[k] += v
    return out
