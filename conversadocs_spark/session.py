"""SparkSession factory tuned for the engine.

Defaults assume local[N] testing but are written for cluster scale:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow enabled for the pandas_udf hot paths, and shuffle partitions
sized by env so the same code runs at sf0.001 and at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: ``spark.sql.codegen.cache.maxEntries``, the size of the JVM-wide LRU
#: cache of Janino-compiled classes (a static conf: it takes effect only
#: when the session's JVM starts). Spark's default of 100 is below the
#: working set: one pass of perfbench's ``serve`` mix generates about
#: 200 distinct classes and one ``batch`` pass about 370, so the LRU
#: evicted every class before its query came round again and every
#: steady-state pass recompiled them all (BASELINE.md, perfbench A/B
#: ledger), inside each query, between its adaptive stages. The whole
#: 225-query registry run in one session generates 3,073 (sf0.001, first
#: pass; a second pass adds 62, from queries whose generated code embeds
#: per-run ids, and a pass at sf0.01 adds 232 whose plans differ by
#: scale). 4096 holds it all.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "conversadocs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE: runtime coalescing + skew-join handling; at 100 TB this is
      what turns a bad static shuffle count into a workable one.
    - Arrow: all pandas_udf / mapInPandas traffic is Arrow-batched.
    - Generated code: the compiled-class cache holds
      ``CODEGEN_CACHE_ENTRIES`` classes, the registry's whole working
      set, so a repeated query finds its classes compiled.
    - Broadcast threshold left at default (10 MB): dimension tables
      (region/nation/supplier) broadcast automatically; we additionally
      hint with F.broadcast where the stats may not be known.
    - maxPartitionBytes: scan-split size. Spark's 128m default makes a
      sf0.1 fixture file a 3-way split, so 3 of local[32] cores do the
      partial aggregate; 8m splits it ~16 ways (measured 2x on the Q1
      shape). The 8m override is applied ONLY when running local[N]
      (master is None): a cluster deployment through
      get_spark(master=...) keeps Spark's 128m default — 8m at 100 TB
      would explode into ~12M tasks. SPARK_GRAFT_MAX_PARTITION_BYTES
      overrides in either mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Local-test split tuning must not leak to cluster deployments: the
    # env var wins if set, local mode gets 8m, a real master keeps
    # Spark's own default.
    max_part = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES") or (
        "8m" if master is None else None
    )
    # Shuffle writer choice (r16, measured): with <=200 reduce
    # partitions Spark picks BypassMergeSortShuffleWriter, which
    # writes one FILE PER REDUCE PARTITION per map task and then
    # concatenates them (FileChannel.map/transferTo). On a many-core
    # local VM that is ~32 tiny file creates + an mmap/munmap pair per
    # map task — measured as a CPU storm that scales with concurrent
    # map tasks (set_ops: 2.03 s wall / 28.6 CPU-s -> 0.82 / 7.7 with
    # the sort-based writer, which writes ONE spill file + index per
    # map task). Local mode therefore forces the sort writer; a
    # cluster deployment keeps Spark's default (its wide shuffles
    # exceed the threshold anyway, and its executors munmap across
    # far fewer cores). SPARK_GRAFT_BYPASS_MERGE_THRESHOLD overrides.
    bypass_thr = os.environ.get(
        "SPARK_GRAFT_BYPASS_MERGE_THRESHOLD"
    ) or ("1" if master is None else None)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    if max_part is not None:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", max_part
        )
    if bypass_thr is not None:
        builder = builder.config(
            "spark.shuffle.sort.bypassMergeThreshold", bypass_thr
        )
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # env-var override HOOK only: the default below IS Spark's
        # own 1g default, so plain get_spark() callers see no change.
        # Verification harnesses that collect FULL query outputs to
        # hash-compare against DuckDB (scale_gate sets 8g) export
        # SPARK_GRAFT_MAX_RESULT_SIZE before building the session.
        # Operators themselves never collect (lint-pinned).
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "1g"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
