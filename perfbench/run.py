#!/usr/bin/env python3
"""Repository benchmark: closed-loop workloads on one local ``SparkSession``.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one client thread: each op
builds ``QUERIES[name](spark, dir)`` and materializes every column with a
noop write before the next op starts. The seed fixes the request order;
the inputs are the repository's sf0.1 fixtures (sf0.001 for the warm-up),
kept byte for byte under ``perfbench/data/`` so that a run reads nothing
outside its checkout. Their DuckDB oracle answers are computed on the first
run and cached under ``.perfbench/``, except the two all-pairs dedup
answers, which ship in ``perfbench/data/oracles/``.

Workloads:

- ``serve``: retrieval requests; Python construction and planning are a
  large share of each op;
- ``batch``: corpus-wide analytics, dedup, graph and compaction jobs;
  executor compute, shuffle and bounded loops dominate;
- ``maintain``: ingest, index and lake writes interleaved with serving
  reads. It runs here on request but is not one of the workloads in
  ``BENCHMARK.json``: a run of it lasts about twice as long as a run of
  the other two.

Phases of a run:

1. program scratch state (``.stream_stage/``, ``.ingest_stage/``, the
   layout copy, Spark dirs) is wiped, so no run inherits another's;
2. set-up, timed as ``setup_s``: session start, ``bench.bench_layout``'s
   multi-row-group rewrite, IVF index staging and one warm-up pass over
   the mix at sf0.001;
3. the timed window: seed-shuffled passes over the workload's mix until
   ``--seconds`` have elapsed, always finishing the pass in progress so
   every run times whole passes of the same mix;
4. the output check: the last execution of each distinct query is
   collected and compared with its oracle by ``tests/oracle.py``'s
   comparator; a rows-only query is checked for its columns and for
   non-empty rows. A wrong output fails its op and the run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
loop with the Spark event log on and timers around the ``QUERIES`` call,
and reports per-layer metrics; Catalyst, job, stage and task figures come
from the event log. A traced run also fails when the directly measured
layer parts do not sum to op wall time within ``LAYER_SUM_TOLERANCE``.
The last stdout line is the result JSON; the line before it carries
per-query medians, the 90th percentile latency, peak RSS, the error rate,
box state and phase times. Exit status is 0 only when every output was
correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")
#: the timed and the warm-up fixtures; ``--seed`` orders requests only
FIXTURES = os.path.join(HERE, "data", "sf0.1")
WARM_FIXTURES = os.path.join(HERE, "data", "sf0.001")
JOB_GROUP = "perfbench-op-"
#: how far the measured layer parts may sum from op wall time, as a share
LAYER_SUM_TOLERANCE = 0.1

SERVE = (
    "knn_topk", "knn_filtered", "knn_binary", "knn_binary_batch",
    "knn_filtered_int8_batch", "knn_auto_filtered_batch", "mmr_rerank_exact",
    "bm25_topk", "hybrid_rrf", "rag_answer_pipeline",
)
BATCH = (
    "agg_grouped", "join_star", "window_rank", "join_asof",
    "agg_collect_stuff", "set_ops", "dedup_minhash", "contamination_ngram",
    "dedup_clusters", "token_budget_select", "graph_pagerank_exact",
    "summarize_mapreduce", "lake_compact_files",
)
MAINTAIN_WRITES = (
    "ingest_scan_text", "index_build_overwrite", "merge_upsert",
    "lake_compact_files", "streaming_ivf_append", "streaming_cdc_apply",
)
MAINTAIN = MAINTAIN_WRITES + ("knn_auto_filtered_batch", "knn_filtered")
WORKLOADS = {"serve": SERVE, "batch": BATCH, "maintain": MAINTAIN}

#: columns of the queries that have no oracle (rows-only)
ROWS_ONLY = {
    "ingest_scan_text": ["doc_id", "n_chars", "ext", "page"],
    "index_build_overwrite": ["chunk_id", "doc_id", "seq", "dim", "chunk_len"],
    "streaming_ivf_append": ["vec_id", "list_id", "batch_id"],
    "streaming_cdc_apply": [
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    ],
}

#: the end-to-end metrics of the result line. ``latency_p90_s``,
#: ``peak_rss_mb`` and ``error_rate`` go to the detail line: a window has
#: 10-13 ops, too few for a steady 90th percentile; with the program's
#: 8 GiB maximum heap, G1 grows the heap to 2.7-4.0 GB from run to run; and
#: the error rate of a correct run is 0
END_TO_END_UNITS = {
    "setup_s": "s", "latency_p50_s": "s",
    "throughput_ops_s": "1/s", "cpu_s_per_op": "s",
}

_CLK = os.sysconf("SC_CLK_TCK")


class SetupError(Exception):
    """The checkout cannot run the benchmark."""


# ---------------------------------------------------------------------------
# /proc: tree membership, RSS and Python-worker CPU (bench.py has tree/box CPU)
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks, cmdline)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                data = f.read()
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        rest = data[data.rindex(")") + 2:].split()
        out[int(p)] = (int(rest[1]), sum(int(x) for x in rest[11:15]), cmd)
    return out


def _descendants(table: dict[int, tuple[int, int, str]]) -> list[int]:
    me, tree = os.getpid(), []
    for pid in table:
        seen, cur = set(), pid
        while cur in table and cur not in seen and cur != me:
            seen.add(cur)
            cur = table[cur][0]
        if cur == me and pid != me:
            tree.append(pid)
    return tree


def python_worker_cpu_s() -> float:
    """CPU seconds of the ``pyspark.daemon`` / ``pyspark.worker`` processes."""
    table = _proc_table()
    return sum(
        table[p][1] for p in _descendants(table)
        if "pyspark.daemon" in table[p][2] or "pyspark.worker" in table[p][2]
    ) / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(_proc_table())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


# ---------------------------------------------------------------------------
# inputs: oracle answers, computed once per checkout
# ---------------------------------------------------------------------------


def _check_checkout() -> None:
    for rel in ("conversadocs_spark/plans", "bench.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise SetupError(f"{rel} not found under {ROOT}")
    for d in (FIXTURES, WARM_FIXTURES):
        if not os.path.isdir(d):
            raise SetupError(f"fixtures {d} not found")


def _tuples(v):
    """JSON lists back to the tuples ``tests/oracle.py``'s normal form uses."""
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


def oracle_key(name: str) -> str:
    """Identity of an oracle answer: the oracle text and the fixtures."""
    from conversadocs_spark.plans import ORACLES

    with open(os.path.join(HERE, "data", "SHA256SUMS"), "rb") as f:
        fixtures_sum = f.read()
    return hashlib.sha256(ORACLES[name].encode() + fixtures_sum).hexdigest()[:16]


def save_answer(path: str, name: str, cols, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        json.dump({"key": oracle_key(name), "columns": cols, "rows": rows}, f)
    os.rename(f"{path}.tmp", path)


def ensure_oracles(names) -> dict[str, tuple]:
    """Normalized oracle answers on ``FIXTURES``, computed with
    ``tests/oracle.py`` and kept per query, oracle text and fixture
    checksums. The answers of the all-pairs dedup oracles, which take
    DuckDB many minutes, ship in ``data/oracles/`` (``ship_oracles.py``);
    any other answer, or one whose oracle text changed, is computed on
    first use and cached under ``.perfbench/``."""
    from conversadocs_spark.plans import ORACLES
    from tests.oracle import _normalize, run_duckdb

    answers = {}
    for name in names:
        key = oracle_key(name)
        shipped = os.path.join(HERE, "data", "oracles", f"{name}.json")
        cached = os.path.join(WORK, "oracles", f"{name}-{key}.json")
        for path in (shipped, cached):
            if os.path.exists(path):
                with open(path) as f:
                    saved = json.load(f)
                if saved["key"] == key:
                    answers[name] = (saved["columns"], [_tuples(r) for r in saved["rows"]])
                    break
        else:
            answers[name] = _normalize(*run_duckdb(ORACLES[name], FIXTURES))
            save_answer(cached, name, *answers[name])
    return answers


def fresh_scratch() -> None:
    """Remove every piece of program and run state a previous run left."""
    for d in (
        os.path.join(ROOT, ".stream_stage"),
        os.path.join(ROOT, ".ingest_stage"),
        os.path.join(ROOT, "spark-warehouse"),
        RUN_DIR,
    ):
        shutil.rmtree(d, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog", "layout"):
        os.makedirs(os.path.join(RUN_DIR, sub))


def configure_env(trace: bool) -> None:
    """Session env, read when ``get_spark()`` launches the JVM."""
    tmp = os.path.join(RUN_DIR, "tmp")
    cpus = str(len(os.sched_getaffinity(0)))
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{RUN_DIR}/eventlog",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(RUN_DIR, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join([*conf, "pyspark-shell"]),
    })


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


class _LayoutOs:
    """``os`` as ``bench.bench_layout`` sees it, with its fixed ``/tmp``
    output root moved under the run dir, so a run writes only inside its
    checkout."""

    def __init__(self, root: str):
        self.path = _LayoutPath(root)

    def __getattr__(self, name):
        return getattr(os, name)


class _LayoutPath:
    def __init__(self, root: str):
        self._root = root

    def join(self, first, *rest):
        return os.path.join(self._root if first == "/tmp" else first, *rest)

    def __getattr__(self, name):
        return getattr(os.path, name)


def layout_copy(data_dir: str) -> str:
    """``bench.bench_layout(data_dir)``, writing under ``RUN_DIR/layout``."""
    import bench

    bench.os = _LayoutOs(os.path.join(RUN_DIR, "layout"))
    try:
        out = bench.bench_layout(data_dir)
    finally:
        bench.os = os
    if out == data_dir:
        raise SetupError("bench_layout fell back to the raw layout")
    return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def set_up(workload: str, fixture_dir: str, warm_dir: str):
    """Session start, layout rewrite, index staging and warm-up."""
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.session import get_spark

    parts, t = {}, time.perf_counter()

    def lap(name):
        nonlocal t
        now = time.perf_counter()
        parts[name], t = now - t, now

    spark = get_spark(app_name=f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    lap("session_s")
    data_dir = layout_copy(fixture_dir)
    lap("layout_s")
    mix = WORKLOADS[workload]
    if "knn_auto_filtered_batch" in mix:
        # index staging: the first call builds the IVF index the
        # serving calls reuse
        noop(QUERIES["knn_auto_filtered_batch"](spark, data_dir))
    lap("staging_s")
    # one pass compiles the mix's generated code, so the timed passes do
    # not depend on which query happens to run first; at sf0.001 it costs
    # 8-10 s less than at sf0.1 in a cold JVM
    for name in mix:
        if name != "knn_auto_filtered_batch":  # warmed by the staging
            noop(QUERIES[name](spark, warm_dir))
    lap("warmup_s")
    return spark, data_dir, parts


# ---------------------------------------------------------------------------
# the timed window
# ---------------------------------------------------------------------------


def op_order(workload: str, seed: int):
    """Endless seed-shuffled passes over the workload's mix."""
    rng = random.Random(f"{workload}:{seed}")
    mix = list(WORKLOADS[workload])
    while True:
        rng.shuffle(mix)
        yield list(mix)


class Tracer:
    """Timers and counters around each layer's entry point for one op."""

    def __init__(self, spark):
        from conversadocs_spark.operators import components

        self.spark = spark
        self.components = components
        self.client = spark.sparkContext._gateway._gateway_client

    def run(self, index: int, name: str, fn, data_dir: str) -> dict:
        sc = self.spark.sparkContext
        self.components.LAST_RUN_ROUNDS = None
        py0 = python_worker_cpu_s()
        py4j_calls, send = 0, self.client.send_command

        def counting_send(*args, **kwargs):
            nonlocal py4j_calls
            py4j_calls += 1
            return send(*args, **kwargs)

        sc.setJobGroup(f"{JOB_GROUP}{index}.b", name)
        w0, t0 = time.time(), time.perf_counter()
        self.client.send_command = counting_send
        try:
            df = fn(self.spark, data_dir)
        finally:
            del self.client.send_command
        t1 = time.perf_counter()
        # the write plans the query itself: its Catalyst time and plan are
        # read from the event log, not from a second planning here
        sc.setJobGroup(f"{JOB_GROUP}{index}.x", name)
        noop(df)
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            "df": df,
            "wall_s": t2 - t0,
            "window_ms": tuple((w0 + t - t0) * 1e3 for t in (t0, t1, t2)),
            "build_s": t1 - t0,
            "py4j_calls": py4j_calls,
            "python_cpu_s": max(0.0, python_worker_cpu_s() - py0),
            "components_rounds": self.components.LAST_RUN_ROUNDS or 0,
        }


def run_window(spark, workload: str, seed: int, seconds: float, data_dir: str, tracer):
    """Whole seed-ordered passes until ``seconds`` have elapsed."""
    from bench import _box_cpu_seconds, _tree_cpu_seconds
    from conversadocs_spark.plans import QUERIES

    ops, last_df = [], {}
    tree0, box0 = _tree_cpu_seconds(), _box_cpu_seconds()
    start = time.perf_counter()
    for one_pass in op_order(workload, seed):
        for name in one_pass:
            rec = {"name": name, "ok": True}
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = QUERIES[name](spark, data_dir)
                    noop(df)
                    rec["wall_s"] = time.perf_counter() - t0
                else:
                    rec.update(tracer.run(len(ops), name, QUERIES[name], data_dir))
                    df = rec.pop("df")
                last_df[name] = df
            except Exception as exc:  # an op that raises counts as failed
                rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300],
                           wall_s=time.perf_counter() - t0)
            ops.append(rec)
        if time.perf_counter() - start >= seconds:
            break
    window_s = time.perf_counter() - start
    cpu = {
        "tree_cpu_s": _tree_cpu_seconds() - tree0,
        "box_cpu_s": _box_cpu_seconds() - box0,
    }
    return ops, last_df, window_s, cpu


# ---------------------------------------------------------------------------
# output check
# ---------------------------------------------------------------------------


def check_outputs(last_df: dict, oracles: dict) -> dict[str, str]:
    """Query name -> mismatch description, for every wrong output."""
    from tests.oracle import _normalize

    bad = {}
    for name, df in last_df.items():
        try:
            if name in ROWS_ONLY:
                expected = ROWS_ONLY[name]
                if df.columns != expected:
                    bad[name] = f"columns {df.columns} != {expected}"
                elif not df.take(1):
                    bad[name] = "no rows"
                continue
            got = _normalize(df.columns, [tuple(r) for r in df.collect()])
            want = oracles[name]
            if got[0] != want[0]:
                bad[name] = f"columns {got[0]} != {want[0]}"
            elif got[1] != want[1]:
                diff = sum(a != b for a, b in zip(got[1], want[1]))
                bad[name] = (
                    f"{len(got[1])} rows vs {len(want[1])} oracle rows, "
                    f"{diff} differ"
                )
        except Exception as exc:
            bad[name] = f"{type(exc).__name__}: {exc}"[:300]
    return bad


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def hd_quantile(values: list[float], p: float, cells: int = 4000) -> float:
    """Harrell-Davis estimate of the ``p`` quantile.

    A Beta((n+1)p, (n+1)(1-p))-weighted mean of every order statistic
    instead of the one or two samples next to rank ``p*n``: in a window of
    one pass over a mix of dissimilar queries, the plain percentile jumps
    between queries as their times jitter, this one moves smoothly. The
    Beta CDF is integrated with the midpoint rule on ``cells`` cells.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= 1:
        return xs[0] if xs else 0.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    weights = [0.0] * n
    for c in range(cells):
        x = (c + 0.5) / cells
        weights[min(int(x * n), n - 1)] += math.exp(
            (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
        )
    total = sum(weights)
    return sum(w * v for w, v in zip(weights, xs)) / total


def end_to_end(setup_s, ops, window_s, cpu) -> dict:
    walls = [op["wall_s"] for op in ops if op["ok"]]
    done = max(len(walls), 1)
    return {
        "setup_s": setup_s,
        "latency_p50_s": hd_quantile(walls, 0.5),
        "throughput_ops_s": len(walls) / window_s,
        "cpu_s_per_op": cpu["tree_cpu_s"] / done,
    }


#: per-layer metric -> unit; every value is a per-op mean over the window
LAYER_UNITS = {
    "plans.build_s": "s", "plans.construct_s": "s", "plans.eager_jobs": "count",
    "plans.py4j_calls": "count", "catalyst.plan_s": "s", "catalyst.replan_s": "s",
    "catalyst.exchanges": "count", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.gap_s": "s", "scheduler.dispatch_s": "s",
    "executor.busy_s": "s", "executor.run_s": "s", "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "io.input_bytes": "bytes", "io.input_rows": "count",
    "sink.output_bytes": "bytes", "sink.output_rows": "count",
    "functions.python_cpu_s": "s", "operators.components_rounds": "count",
    "trace.throughput_ops_s": "1/s", "trace.layer_sum_share": "ratio",
}


def per_layer(ops, window_s: float, events_path: str) -> tuple[dict, list[dict]]:
    """Per-op layer split from the traced ops and the event log."""
    from eventlog import OpWindow, attribute, read_events, union_ms

    windows = [
        OpWindow(*op["window_ms"]) if op["ok"] else OpWindow(0, 0, -1)
        for op in ops
    ]
    per_op = []
    for op, w, ev in zip(ops, windows, attribute(
        read_events(events_path), windows, JOB_GROUP
    )):
        if not op["ok"]:
            continue
        s = ev.sums
        construct = max(0.0, op["build_s"] - union_ms(
            ev.job_spans, w.start_ms, w.build_end_ms) / 1e3)
        busy = union_ms(ev.task_spans, w.start_ms, w.end_ms) / 1e3
        # the write's analysis, optimization and physical planning: from
        # the write call to its first job; then the time between its jobs,
        # when the Spark driver re-plans the next adaptive query stage
        ws = ev.write_job_spans
        first = min((a for a, _ in ws), default=w.end_ms)
        plan = max(0.0, first - w.build_end_ms) / 1e3
        replan = (max(b for _, b in ws) - first - union_ms(ws)) / 1e3 if ws else 0.0
        # the time one of the op's jobs was in flight with no task running
        dispatch = max(
            0.0, union_ms(ev.job_spans, w.start_ms, w.end_ms) / 1e3 - busy
        )
        per_op.append({
            "name": op["name"], "wall_s": op["wall_s"],
            "plans.build_s": op["build_s"], "plans.construct_s": construct,
            "plans.eager_jobs": ev.eager_jobs, "plans.py4j_calls": op["py4j_calls"],
            "catalyst.plan_s": plan, "catalyst.replan_s": replan,
            "catalyst.exchanges": ev.exchanges,
            "scheduler.jobs": ev.jobs, "scheduler.stages": ev.stages,
            "scheduler.tasks": ev.tasks,
            "scheduler.gap_s": op["wall_s"] - busy - construct - plan,
            "scheduler.dispatch_s": dispatch,
            "executor.busy_s": busy, "executor.run_s": s["run_ms"] / 1e3,
            "executor.cpu_s": s["cpu_ns"] / 1e9, "executor.gc_s": s["gc_ms"] / 1e3,
            "shuffle.write_bytes": s["shuffle_write_bytes"],
            "shuffle.read_bytes": s["shuffle_read_bytes"],
            "shuffle.spill_bytes": s["spill_bytes"],
            "shuffle.fetch_wait_s": s["fetch_wait_ms"] / 1e3,
            "io.input_bytes": s["input_bytes"], "io.input_rows": s["input_rows"],
            "sink.output_bytes": s["output_bytes"], "sink.output_rows": s["output_rows"],
            "functions.python_cpu_s": op["python_cpu_s"],
            "operators.components_rounds": op["components_rounds"],
        })
    n = max(len(per_op), 1)
    layers = {
        k: sum(o[k] for o in per_op) / n
        for k in LAYER_UNITS if not k.startswith("trace.")
    }
    # construct + plan + busy + gap is the wall time by the definition of
    # gap_s, so the share counts the parts that are measured directly, each
    # from its own timer or event; what it leaves out is the time after the
    # write's last job, and time that no event or timer accounts for
    parts = (
        "plans.construct_s", "catalyst.plan_s", "catalyst.replan_s",
        "executor.busy_s", "scheduler.dispatch_s",
    )
    wall = sum(o["wall_s"] for o in per_op) or 1.0
    layers["trace.throughput_ops_s"] = len(per_op) / window_s
    layers["trace.layer_sum_share"] = sum(o[p] for o in per_op for p in parts) / wall
    return layers, per_op


# ---------------------------------------------------------------------------
# teardown
# ---------------------------------------------------------------------------


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown() -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    tree = _descendants(_proc_table())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 20
        while any(_alive(p) for p in tree) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree:
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        _check_checkout()
    except SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from bench import _box_snapshot

    t0 = time.perf_counter()
    from conversadocs_spark.plans import ORACLES

    oracles = ensure_oracles(sorted(set(WORKLOADS[args.workload]) & set(ORACLES)))
    fresh_scratch()
    configure_env(bool(args.trace))
    phases = {"inputs_s": time.perf_counter() - t0}

    try:
        t0 = time.perf_counter()
        spark, data_dir, setup_parts = set_up(args.workload, FIXTURES, WARM_FIXTURES)
        setup_s = time.perf_counter() - t0
        phases.update(setup_parts)
        box = {"start": _box_snapshot()}
        tracer = Tracer(spark) if args.trace else None
        ops, last_df, window_s, cpu = run_window(
            spark, args.workload, args.seed, args.seconds, data_dir, tracer
        )
        peak_rss_mb = tree_peak_rss_mb()
        box["end"] = _box_snapshot()
        t0 = time.perf_counter()
        bad = check_outputs(last_df, oracles)
        phases["check_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        shutdown()
        phases["teardown_s"] = time.perf_counter() - t0

    failed = sum(not op["ok"] for op in ops) + len(bad)
    box.update(cpu, foreign_cpu_s=cpu["box_cpu_s"] - cpu["tree_cpu_s"])
    by_name: dict[str, list[float]] = {}
    for op in ops:
        if op["ok"]:
            by_name.setdefault(op["name"], []).append(op["wall_s"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(ops), "window_s": window_s, "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "latency_p90_s": hd_quantile(
            [w for walls in by_name.values() for w in walls], 0.9
        ),
        "error_rate": failed / max(len(ops), 1),
        "errors": {op["name"]: op["error"] for op in ops if not op["ok"]} | bad,
        "query_p50_s": {n: statistics.median(v) for n, v in sorted(by_name.items())},
        "box": box,
        "phases_s": phases,
    }
    if args.trace:
        events = os.path.join(RUN_DIR, "eventlog", os.listdir(
            os.path.join(RUN_DIR, "eventlog"))[0])
        values, per_op = per_layer(ops, window_s, events)
        units = LAYER_UNITS
        with open(os.path.join(RUN_DIR, "trace.json"), "w") as f:
            json.dump(per_op, f)
        share = values["trace.layer_sum_share"]
        if abs(share - 1) > LAYER_SUM_TOLERANCE:
            detail["errors"]["layer_sum"] = (
                f"layer parts sum to {share:.3f} of op wall time, "
                f"not within {LAYER_SUM_TOLERANCE} of it"
            )
    else:
        values = end_to_end(setup_s, ops, window_s, cpu)
        units = END_TO_END_UNITS
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if failed == 0 and not detail["errors"] else 1


if __name__ == "__main__":
    sys.exit(main())
