#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Usage: python bench.py [--only name [name ...]]
    --only times just the named registered queries (the per-change A/B
    instrument) with the same warm-up, min-of-3 loop and CPU stamps.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + noop-format write, which
materializes every output column) after a warmup pass of the session.
`value` is the sum of per-query seconds —
the number the driver records in BENCH_r{N}.json and tracks within 2x
per BASELINE.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# ---------------------------------------------------------------------------
# box-state instrumentation (VERDICT r13 #1): three straight rounds of
# headline-ledger ambiguity were resolved only by manual forensics
# (r10 bisect, r12 fixture diff, r13 judge replication) because the
# JSON recorded wall times but nothing about the machine they ran on.
# Stamp (a) loadavg + /proc/pressure/cpu at start AND end, and (b) per
# query, for the SAME run the min wall came from: CPU seconds consumed
# by THIS session's process tree (python driver + the local-mode JVM +
# its pyspark.daemon workers) and by the BOX as a whole. tree_cpu/wall
# is the parallelism the query actually got; box_cpu - tree_cpu is
# other tenants' load during the run — the direct contention signal.
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _psi_cpu_avg10() -> float | None:
    """avg10 from /proc/pressure/cpu ("some" line) — fraction of the
    last 10 s in which runnable tasks stalled waiting for CPU."""
    try:
        with open("/proc/pressure/cpu") as f:
            line = f.readline()
        return float(line.split("avg10=")[1].split()[0])
    except (OSError, IndexError, ValueError):
        return None


def _box_cpu_seconds() -> float | None:
    """Total non-idle CPU seconds across all cores (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (sum(vals) - vals[3] - vals[4]) / _CLK  # - idle - iowait
    except (OSError, ValueError, IndexError):
        return None


def _tree_cpu_seconds() -> float | None:
    """CPU seconds summed over this process's subtree: the bench
    driver, the py4j-launched JVM, and any pyspark.daemon / Arrow
    worker descendants. One /proc walk; parent-chain membership.

    Counts utime+stime of live members PLUS cutime+cstime (CPU of
    already-reaped children, credited to the parent at wait()) so
    workers that exit between the start and end samples aren't
    dropped (ADVICE r14). The delta between two samples stays exact
    for the reap-in-window case: at the start the child's own
    utime is counted, at the end its full lifetime lands in the
    parent's cutime, and the difference is precisely the CPU burned
    in the window. Only orphans reparented outside the tree (their
    waiter is init, not us) still escape — noted here rather than
    worked around."""
    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    try:
        entries = os.listdir("/proc")
    except OSError:
        return None
    for p in entries:
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                data = f.read()
            rest = data[data.rindex(")") + 2:].split()
            procs[int(p)] = (
                int(rest[1]),                    # ppid
                int(rest[11]) + int(rest[12])    # utime + stime
                + int(rest[13]) + int(rest[14]),  # + cutime + cstime
            )
        except (OSError, ValueError, IndexError):
            continue

    def in_tree(pid: int) -> bool:
        seen: set[int] = set()
        while pid in procs and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = procs[pid][0]
        return pid == me

    return (
        sum(cpu for pid, (_, cpu) in procs.items() if in_tree(pid))
        / _CLK
    )


def _box_snapshot() -> dict:
    try:
        l1, l5, _ = os.getloadavg()
        load = [round(l1, 2), round(l5, 2)]
    except OSError:
        load = None
    return {"loadavg_1m_5m": load, "psi_cpu_avg10": _psi_cpu_avg10()}

# Headline queries: one per major operator family, each a plan whose
# shape survives 100 TB (see docstrings in conversadocs_spark/plans/).
HEADLINE = (
    "agg_grouped",      # TPC-H Q1 hash aggregate over the fact table
    "join_star",        # 5-way star join + grouped revenue
    "window_rank",      # per-group top-k window
    "join_asof",        # union+window as-of join on events
    "knn_topk",         # flagship vector retrieval
    "agg_collect_stuff",  # collect/concat ("stuff") aggregation
    "set_ops",          # distinct cohorts + intersect/except
    "rag_answer_pipeline",  # composed condense->retrieve->stuff->answer
    "dedup_minhash",    # signature 100 TB op: shingle->minhash->band join
    # added r6 (BASELINE.md records the set change; round-over-round
    # totals compare on the stable 9-query subtotal):
    "contamination_ngram",  # eval-decontamination broadcast asymmetry
    "dedup_clusters",   # pair gen + iterative connected components
    # added r7 (BASELINE.md records the set change; round-over-round
    # totals compare on the stable prior-set subtotals):
    "knn_filtered",     # metadata-filtered retrieval, semi-join pre-filter
    # added r8:
    "knn_binary",       # 1-bit quantized tier: packed Hamming + rescore
    "token_budget_select",  # quality-ordered budget fill, bucket plan
    # added r9:
    "knn_binary_batch",  # batch retrieval: map-side-pruned per-query topk
    # added r10:
    "knn_filtered_int8_batch",  # filter x SQ8 x batch composed serving
    # added r11:
    "mmr_rerank_exact",   # fixed-point MMR: the second retrieval mode
    # added r12 (VERDICT r11 #2): eligible now that the IVF index is
    # STAGED once per (sf_dir, source fingerprint). The sf0.001
    # warmup pass stages only sf0.001's index, so an sf_dir-level
    # warmup pass of THIS query below explicitly pays the sf_dir
    # build before timing — the timed runs then measure pure serving
    # (stage reuse runs zero jobs, pinned in tests/test_planner.py):
    "knn_auto_filtered_batch",  # manifest-planned x filter x batch
    # added r12 (VERDICT r11 #4): eligible after the keeper-self-row
    # round rewrite (operators/pagerank.py) cut local-mode AQE
    # stage-jobs 116 -> 82 and wall ~14.8 -> ~5.1-5.9 s across
    # sessions at sf0.1 (bit-identical ranks) — the heaviest headline
    # row, and honestly so: 24 fixed power-iteration rounds = 48
    # inherent shuffle stages; the remaining cost is local-mode
    # scheduling latency that a real cluster pipelines:
    "graph_pagerank_exact",  # fixed-point power iteration, 24 rounds
)


# ---------------------------------------------------------------------------
# fixture layout rewrite (VERDICT r15 #2 — "regenerate (or rewrite at
# bench setup) the sf0.1 fixtures as multi-row-group parquet"): every
# driver-generated fixture table is ONE parquet row group, so every
# scan — and the first kernel above it — runs as ONE task regardless
# of core count. That is not the 100 TB shape (real inputs arrive
# multi-file/multi-row-group), it makes the 8-vs-32-core scaling
# block unfalsifiable (r15 measured 8 cores *winning* on dispatch
# overhead), and it puts a serial floor under every headline query.
#
# Fix, per the verdict's own prescription: at bench SETUP (untimed),
# copy each table into a multi-row-group parquet with IDENTICAL rows,
# row order and schema (pyarrow round-trip, verified below), and time
# the queries against that copy. Nothing persists across invocations
# (the copy is wiped and rebuilt every run — no caching of anything
# derived), no query function changes, and the raw single-row-group
# numbers remain available via SPARK_GRAFT_BENCH_RAW=1 (the r15 and
# earlier BENCH_r*.json rows are all raw-layout; OPTIMIZATION_r16.md
# records both regimes side by side).
# ---------------------------------------------------------------------------

#: row groups per table: a fixed cap of 32, not tied to the core count
#: (tying it needs its own batch A/B); small tables keep >=256 rows per
#: group so groups stay non-degenerate.
_LAYOUT_MAX_GROUPS = 32


def bench_layout(sf_dir: str) -> str:
    """Rewrite ``sf_dir``'s tables into a multi-row-group copy and
    return the copy's path (or ``sf_dir`` unchanged when disabled via
    SPARK_GRAFT_BENCH_RAW=1, or on any rewrite/verification failure).

    Row content, order and schema are preserved exactly — only the
    parquet row-group layout changes; each written file is verified
    against its source (arrow schema equality + row count) and falls
    back to a straight copy of the original on mismatch.
    """
    if os.environ.get("SPARK_GRAFT_BENCH_RAW") == "1":
        return sf_dir
    try:
        import shutil

        import pyarrow.parquet as pq

        abs_dir = os.path.abspath(sf_dir)
        import hashlib

        tag = "{}-{}".format(
            os.path.basename(abs_dir.rstrip("/")),
            hashlib.md5(abs_dir.encode()).hexdigest()[:8],
        )
        dst_dir = os.path.join("/tmp", "spark-graft-bench-layout", tag)
        # wiped + rebuilt EVERY invocation: the copy is never reused
        # across runs, so it cannot carry state between them.
        shutil.rmtree(dst_dir, ignore_errors=True)
        os.makedirs(dst_dir, exist_ok=True)
        # Only tables big enough to span several scan splits are
        # re-grouped: a file below the split size gains nothing from
        # extra row groups (still one task) but pays per-row-group
        # reader overhead on every scan — measured as a broad ~5-10%
        # tax across the headline set when everything was re-grouped.
        min_bytes = 4 << 20
        for fname in sorted(os.listdir(abs_dir)):
            if not fname.endswith(".parquet"):
                continue
            src = os.path.join(abs_dir, fname)
            dst = os.path.join(dst_dir, fname)
            ok = False
            if os.path.getsize(src) >= min_bytes:
                try:
                    tbl = pq.read_table(src)
                    rows = tbl.num_rows
                    groups = max(
                        1, min(_LAYOUT_MAX_GROUPS, rows // 256)
                    )
                    pq.write_table(
                        tbl,
                        dst,
                        row_group_size=-(-rows // groups),
                        version="2.6",
                    )
                    ok = (
                        pq.ParquetFile(dst).schema_arrow.equals(
                            pq.ParquetFile(src).schema_arrow
                        )
                        and pq.ParquetFile(dst).metadata.num_rows == rows
                    )
                except Exception:
                    ok = False
            if not ok:
                shutil.copyfile(src, dst)
        return dst_dir
    except Exception:
        return sf_dir


def main() -> None:
    ap = argparse.ArgumentParser(description="Time the headline queries.")
    ap.add_argument(
        "--only", nargs="+", metavar="NAME",
        help="time these registered queries instead of the headline set",
    )
    names = tuple(ap.parse_args().only or HEADLINE)
    raw_sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sf_dir = bench_layout(raw_sf_dir)
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.session import get_spark

    spark = get_spark(app_name="conversadocs-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Split sizing is deliberately NOT touched: shrinking
    # spark.sql.files.openCostInBytes to chase more scan splits was
    # measured (r16) and REJECTED — 16 KB-256 KB floors put every
    # query into a many-tiny-tasks regime that inflated the suite
    # 16.2 -> 20-30 s (details in OPTIMIZATION_r16.md).

    # Warm-up, two layers:
    # 1. footer/page-cache touch of every table a headline query scans;
    # 2. one pass of each headline query at sf0.001 (~50 ms each), which
    #    JIT-compiles the generated code for the exact operator plans.
    # The timed runs below then measure steady-state query cost — the
    # quantity that scales to 100 TB — not one-time JVM codegen (~1.4 s
    # for the decimal aggregate path, measured), which is amortized to
    # zero on any real workload.
    from conversadocs_spark.io import table

    for t in (
        "region", "nation", "customer", "orders", "lineitem",
        "events", "documents", "embeddings",
    ):
        table(spark, sf_dir, t).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in names:
            QUERIES[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
    # 3. one sf_dir-level pass of the staged-index query: the sf0.001
    #    warmup staged only sf0.001's index, so on a cold
    #    .stream_stage the first sf_dir run would pay the one-time
    #    ivf_build — index-build noise, not serving. Pay it here,
    #    outside the timers, so even a single timed pass (or a future
    #    min->mean change) measures serving only.
    if "knn_auto_filtered_batch" in names:
        QUERIES["knn_auto_filtered_batch"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()

    box_start = _box_snapshot()
    timings: dict[str, float] = {}
    query_cpu: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        # min of 3 runs at the target sf: run-to-run noise on a busy
        # box is ~±0.5 s across the suite (and background load spikes
        # can inflate a single pass by 40%); the min is the stable
        # steady-state figure the regression budget should track.
        best = None
        best_cpu = None
        for _ in range(3):
            tree0, box0 = _tree_cpu_seconds(), _box_cpu_seconds()
            t0 = time.perf_counter()
            # noop-format write materializes EVERY output column
            # end-to-end (count() would let Catalyst prune unreferenced
            # aggregate and project expressions, undermeasuring).
            fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
                tree1, box1 = _tree_cpu_seconds(), _box_cpu_seconds()
                best_cpu = {
                    "tree_cpu": (
                        round(tree1 - tree0, 2)
                        if tree0 is not None and tree1 is not None
                        else None
                    ),
                    "box_cpu": (
                        round(box1 - box0, 2)
                        if box0 is not None and box1 is not None
                        else None
                    ),
                }
        timings[name] = round(best, 3)
        query_cpu[name] = best_cpu

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(raw_sf_dir.rstrip("/")).replace("sf", "")
    # fixture fingerprint: the driver REGENERATES testdata each round,
    # and data-dependent queries (minhash banding, early-fixpoint
    # component rounds) legitimately move with it — r12 measured
    # dedup_clusters 2.61 -> 3.51 s across a regeneration with zero
    # code changes. Stamping the inputs makes that diagnosis a
    # recorded fact instead of an inference next time.
    fixture = {}
    # stamp the RAW driver-generated inputs (regeneration tracking),
    # not the per-invocation layout copy timed above.
    for t in ("documents", "embeddings", "lineitem"):
        try:
            st = os.stat(os.path.join(raw_sf_dir, f"{t}.parquet"))
            fixture[t] = f"{st.st_mtime_ns}:{st.st_size}"
        except OSError:
            fixture[t] = None
    # components round count for the LAST dedup_clusters pass at
    # sf_dir: the early-fixpoint exit makes rounds (and therefore
    # dedup_clusters wall time) depend on the near-dup graph's shape,
    # so record it beside the fixture stamp (VERDICT r12 #4 — turns
    # "regenerated fixture -> deeper graph -> more rounds" into a
    # measured statement).
    from conversadocs_spark.operators import components as _components
    print(
        json.dumps(
            {
                "metric": (
                    "headline_queries_total" if names == HEADLINE
                    else "only_queries_total"
                ),
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_cpu": query_cpu,
                "box": {"start": box_start, "end": _box_snapshot()},
                "fixture": fixture,
                # additive stamp: which physical layout the timed
                # queries scanned (raw = the driver's single-row-group
                # files; multi_row_group = the setup-time rewrite
                # above). Same rows/schema either way.
                "layout": (
                    "raw" if sf_dir is raw_sf_dir else "multi_row_group"
                ),
                "components_rounds": _components.LAST_RUN_ROUNDS,
                "sf": float(sf) if sf else None,
            }
        )
    )


if __name__ == "__main__":
    main()
