"""Table-maintenance ("lakehouse") operators: CDC MERGE/upsert and
SCD type-2 history construction.

The reference rebuilds its whole index per upload (replace-only,
/root/reference/conversadocs/bones.py:62-79); a corpus that accretes
daily needs the standard maintenance surface instead: apply a
change-data-capture batch to a keyed table (MERGE), and derive
validity-interval history for changing attributes (SCD2). Both are
expressed as joins/windows so Catalyst plans them; neither needs a
table format — the same plans write through sink_overwrite (or any
ACID table format) unchanged.

Determinism: the CDC batch is derived in-plan from the target by pure
key arithmetic (no rand()), so the merge result is hash-checkable
against the DuckDB oracle.

Scale shape (100 TB): a real CDC batch is tiny vs the target —
`merge_upsert` keeps the target on one side of ONE equi-join
(broadcast when the batch is small; shuffle-on-key against a bucketed
target otherwise) plus a union of inserts; rewrite cost is then
bounded by affected partitions, not table size. `scd2_history` is one
window pass per entity — a single shuffle on the entity key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conversadocs_spark import io, scratch
from conversadocs_spark.plans.registry import register

# --------------------------------------------------------------------------
# MERGE / upsert: apply a CDC batch (insert + update + delete) to a table
# --------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH changes AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
           round(c_acctbal + 100.5, 2)  AS new_acctbal,
           'UPDATED'                    AS new_mktsegment
    FROM customer
    WHERE c_custkey % 13 = 0 OR c_custkey % 7 = 0
),
inserts AS (
    SELECT s.c_custkey + 1000000        AS c_custkey,
           concat('Customer#NEW', CAST(s.c_custkey AS VARCHAR)) AS c_name,
           s.c_nationkey,
           0.0                          AS c_acctbal,
           'NEWSEG'                     AS c_mktsegment
    FROM customer s WHERE s.c_custkey % 17 = 0
),
merged AS (
    SELECT t.c_custkey, t.c_name, t.c_nationkey,
           CASE WHEN ch.op = 'U' THEN ch.new_acctbal
                ELSE t.c_acctbal END     AS c_acctbal,
           CASE WHEN ch.op = 'U' THEN ch.new_mktsegment
                ELSE t.c_mktsegment END  AS c_mktsegment,
           CASE WHEN ch.op = 'U' THEN 'updated'
                ELSE 'kept' END          AS merge_action
    FROM customer t
    LEFT JOIN changes ch ON ch.c_custkey = t.c_custkey
    WHERE ch.op IS NULL OR ch.op <> 'D'
)
SELECT * FROM merged
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       'inserted' AS merge_action
FROM inserts
"""


@register("merge_upsert", oracle=_MERGE_ORACLE, tags=("lake",))
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: one CDC batch with
    updates (custkey % 7), deletes (custkey % 13, delete wins on
    overlap), and inserts (custkey % 17, re-keyed +1M), applied in a
    single left join + filter + union. `merge_action` audits what
    happened to every surviving row.

    The target is scanned once; the batch side is the small relation
    (broadcast in practice). Delete = filter on the joined op; update
    = CASE over joined new values; insert = unioned batch remainder —
    exactly how Delta/Iceberg MERGE lowers into a join under AQE.
    """
    t = io.table(spark, sf_dir, "customer")
    changes = (
        t.where((F.col("c_custkey") % 13 == 0) | (F.col("c_custkey") % 7 == 0))
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 13 == 0, "D")
            .otherwise("U")
            .alias("op"),
            F.round(F.col("c_acctbal") + 100.5, 2).alias("new_acctbal"),
            F.lit("UPDATED").alias("new_mktsegment"),
        )
    )
    inserts = (
        t.where(F.col("c_custkey") % 17 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(
                F.lit("Customer#NEW"), F.col("c_custkey").cast("string")
            ).alias("c_name"),
            "c_nationkey",
            F.lit(0.0).alias("c_acctbal"),
            F.lit("NEWSEG").alias("c_mktsegment"),
            F.lit("inserted").alias("merge_action"),
        )
    )
    is_upd = F.col("op") == "U"
    merged = (
        t.join(F.broadcast(changes), "c_custkey", "left")
        .where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.when(is_upd, F.col("new_acctbal"))
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            F.when(is_upd, F.col("new_mktsegment"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            F.when(is_upd, "updated").otherwise("kept").alias(
                "merge_action"
            ),
        )
    )
    return merged.unionByName(inserts)


# --------------------------------------------------------------------------
# SCD type-2: validity intervals for a changing attribute
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
SELECT o_custkey                       AS custkey,
       o_orderkey                      AS orderkey,
       o_orderstatus                   AS status,
       round(o_totalprice, 2)          AS totalprice,
       o_orderdate                     AS valid_from,
       lead(o_orderdate) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
       )                               AS valid_to,
       lead(o_orderdate) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
       ) IS NULL                       AS is_current
FROM orders
WHERE o_custkey < 200
"""


@register("scd2_history", oracle=_SCD2_ORACLE, tags=("lake",))
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: each order is a new version
    of its customer's state; versions carry [valid_from, valid_to)
    with an open interval (NULL valid_to, is_current=true) for the
    latest. One lead() window per entity — the standard
    history-table build, a single shuffle on the entity key at any
    scale. Ties on the date are ordered by orderkey so intervals are
    deterministic."""
    o = io.table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    valid_to = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# latest-per-key compaction (CDC log -> current snapshot)
# --------------------------------------------------------------------------

_LATEST_ORACLE = """
SELECT o_custkey                  AS custkey,
       o_orderkey                 AS latest_orderkey,
       o_orderdate                AS latest_orderdate,
       round(o_totalprice, 2)     AS latest_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC,
                                    o_orderkey DESC) = 1
"""


@register("latest_per_key", oracle=_LATEST_ORACLE, tags=("lake",))
def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state snapshot from an append log: the latest order per
    customer (ties on the date broken by orderkey) — the compaction
    read every CDC/log-structured table needs.

    max_by over a struct = ONE partial-aggregated shuffle; the
    window-rank formulation of the same query shuffles every log row
    to sort full partitions. At 100 TB of log the difference is the
    whole game, which is why this registers as its own operator
    rather than a window_rank variant."""
    o = io.table(spark, sf_dir, "orders")
    latest = F.max_by(
        F.struct("o_orderkey", "o_totalprice"),
        F.struct("o_orderdate", "o_orderkey"),
    )
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        latest.getField("o_orderkey").alias("latest_orderkey"),
        F.max("o_orderdate").alias("latest_orderdate"),
        F.round(latest.getField("o_totalprice"), 2).alias(
            "latest_totalprice"
        ),
    )


# --------------------------------------------------------------------------
# snapshot diff / reconciliation: what changed between two versions
# --------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 != 0
),
v2 AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 5 = 0
                THEN round(o_totalprice + 10.0, 2)
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 3 != 0 AND o_orderkey % 7 != 0
    UNION ALL
    SELECT o_orderkey + 2000000, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 11 = 0
)
SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
       CASE WHEN v1.o_orderkey IS NULL THEN 'added'
            WHEN v2.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END                AS change,
       v1.o_totalprice                        AS old_totalprice,
       v2.o_totalprice                        AS new_totalprice
FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
   OR v1.o_totalprice != v2.o_totalprice
   OR v1.o_orderstatus != v2.o_orderstatus
"""


@register("table_diff", oracle=_DIFF_ORACLE, tags=("lake",))
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: given two versions of a keyed table,
    emit exactly the added / removed / changed keys (the complement
    of `merge_upsert`: MERGE applies known changes, diff DETECTS them
    — migration validation, replica drift checks, CDC backfill
    audits). Versions are derived in-plan by pure key arithmetic so
    the row set is hash-checkable.

    Scale shape: ONE full-outer equi-join on the key — shuffle both
    sides on o_orderkey (or zero shuffle when both snapshots are
    bucketed on the key, the table_diff deployment pattern), then a
    row-local filter keeps only differing rows; unchanged rows (the
    overwhelming majority of a real diff) never leave the join."""
    o = io.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.where(F.col("o_orderkey") % 3 != 0)
    v2 = (
        v1.where(F.col("o_orderkey") % 7 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.round(F.col("o_totalprice") + 10.0, 2),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 2000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    j = v1.alias("a").join(
        v2.alias("b"), on="o_orderkey", how="full_outer"
    )
    return (
        j.select(
            "o_orderkey",
            F.when(F.col("a.o_orderstatus").isNull(), "added")
            .when(F.col("b.o_orderstatus").isNull(), "removed")
            .otherwise("changed")
            .alias("change"),
            F.col("a.o_totalprice").alias("old_totalprice"),
            F.col("b.o_totalprice").alias("new_totalprice"),
        )
        .where(
            F.col("change").isin("added", "removed")
            | (F.col("old_totalprice") != F.col("new_totalprice"))
            # null-safe status inequality: the oracle's OR-branch on
            # o_orderstatus must exist plan-side too (today's derived
            # v2 never alters status, but the predicates must encode
            # the SAME diff so a fixture change can't diverge them)
            | ~F.col("a.o_orderstatus").eqNullSafe(
                F.col("b.o_orderstatus")
            )
        )
    )


# --------------------------------------------------------------------------
# OPTIMIZE ZORDER: multi-dimensional clustering for scan pruning
# --------------------------------------------------------------------------

_ZORDER_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey BETWEEN 100 AND 300
  AND o_totalprice BETWEEN 20000 AND 80000
"""


@register("lake_zorder_scan", oracle=_ZORDER_ORACLE, tags=("lake",))
def lake_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER lifecycle: rewrite orders clustered along the
    Morton curve of (o_custkey, o_totalprice)
    (functions/zorder.py:write_zordered — pure bitwise Catalyst
    expressions, one range shuffle, bounds from a broadcast aggregate)
    and serve a 2-D rectangle predicate from the rewritten layout. The
    hash-check against the un-rewritten table proves the rewrite is
    content-preserving; tests/test_zorder.py proves the layout claim
    (z-clustered files carry tight min/max boxes on BOTH columns, so
    the rectangle touches ~2-3x fewer files than a single-column
    sort — the skipping mechanism parquet readers actually use).

    Scale shape: at 100 TB this is the Delta/Iceberg OPTIMIZE ZORDER
    maintenance job — one range shuffle on the interleaved key, file
    count/size set by the writer, and every later 2-D predicate scan
    prunes at the file level before a row is read."""
    from conversadocs_spark.functions.zorder import write_zordered

    path = scratch.call_dir("zorder")
    orders = io.table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_zordered(
        orders, "o_custkey", "o_totalprice", path, n_files=16, bits=10
    )
    return (
        spark.read.parquet(path)
        .where(
            F.col("o_custkey").between(100, 300)
            & F.col("o_totalprice").between(20000, 80000)
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# OPTIMIZE (bin-packing): small-file compaction
# --------------------------------------------------------------------------

_COMPACT_ORACLE = """
SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
       l_extendedprice
FROM lineitem
WHERE l_orderkey % 13 = 0
"""


@register("lake_compact_files", oracle=_COMPACT_ORACLE, tags=("lake",))
def lake_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE bin-packing lifecycle (the compaction half of table
    maintenance; `lake_zorder_scan` is the clustering half): a
    streaming ingest / micro-batch CDC target accretes thousands of
    small files whose per-file open/footer cost comes to dominate
    scans. Stage a deliberately fragmented table (64 shards of a
    lineitem slice), compact it to size-targeted files — ONE
    repartition by a stable key + maxRecordsPerFile so no file
    exceeds the target and writers can't recreate the fragmentation —
    and serve from the compacted layout. The hash-check against the
    never-fragmented source proves compaction is content-preserving.

    Scale shape: at 100 TB compaction is a per-partition rewrite job —
    cost bounded by the fragmented partitions being rewritten (here
    the whole staged table), one shuffle, output file count =
    ceil(rows / maxRecordsPerFile) per task. The file-count collapse
    (64 -> handful) is asserted in tests/test_lake.py, not here, so
    the driver row stays a pure content check."""
    d = scratch.call_dir("compact")
    frag, compacted = f"{d}/frag", f"{d}/compacted"
    cols = [
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice",
    ]
    src = (
        io.table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 13 == 0)
        .select(*cols)
    )
    # stage the pathological layout: 64 round-robin shards
    src.repartition(64).write.mode("overwrite").parquet(frag)
    (
        spark.read.parquet(frag)
        .repartition(4, "l_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500_000)
        .parquet(compacted)
    )
    return spark.read.parquet(compacted)


# --------------------------------------------------------------------------
# composed OPTIMIZE lifecycle: write -> compact -> zorder -> vacuum
# --------------------------------------------------------------------------


@register("lake_optimize_lifecycle", tags=("lake", "rows-only"))
def lake_optimize_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real table-maintenance cadence as ONE composed query (r8
    verdict #8): the three legs — versioned write, bin-packing
    compaction, Z-order clustering — plus VACUUM exist as separate
    registry entries; this query runs them against a SINGLE versioned
    table so their interaction is pinned, not just each leg.

    Lifecycle (sources/sink.py write_versioned gives each stage an
    immutable snapshot + atomic marker flip):

      v1  fragmented ingest  — the micro-batch landing layout
          (64 round-robin shards of a lineitem slice);
      v2  OPTIMIZE bin-pack  — one keyed repartition of v1, file
          count collapses 64 -> 4;
      v3  OPTIMIZE ZORDER    — v2 rewritten along the Morton curve of
          (l_partkey, l_extendedprice) (functions/zorder.py: bounds
          from a broadcast 1-row aggregate, one range shuffle), so
          2-D predicates prune at the file level;
      VACUUM keep_last=2     — v1's files physically removed; v2/v3
          (and the marker's target) retained.

    Output: one row per stage (stage, version, n_rows, content_sig,
    n_files) where content_sig is an order-insensitive row signature
    (sum of bounded xxhash64 over all columns). Every stage must
    carry the SAME n_rows/content_sig — OPTIMIZE must never change
    table contents — and the test additionally asserts exact row-set
    equality source vs final, the 64->4 file collapse, and that v1's
    directory is gone while time travel to v2 still works. v1's
    signature row is eagerly localCheckpoint'ed BEFORE the vacuum
    (reading it later would fail — that ordering is the point).

    Rows-only: the lifecycle is imperative multi-version I/O; DuckDB
    has no analog. Scale: every data-plane step is one shuffle over
    the affected partitions; VACUUM is driver-side metadata work
    proportional to version count, never rows.
    """
    import os as _os

    from conversadocs_spark.functions.zorder import (
        _scale_to_bits,
        z_value,
    )
    from conversadocs_spark.sources.sink import (
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    table = scratch.call_dir("lifecycle")

    cols = [
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice",
    ]
    src = (
        io.table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 13 == 0)
        .select(*cols)
    )

    def sig(df: DataFrame, stage: str, version: int) -> DataFrame:
        h = F.xxhash64(*cols) % F.lit(1_000_000_007)
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(h).cast("bigint").alias("content_sig"),
        ).select(
            F.lit(stage).alias("stage"),
            F.lit(version).cast("int").alias("version"),
            "n_rows",
            "content_sig",
        )

    def n_files(version: int) -> int:
        vdir = _os.path.join(table, f"v={version}")
        total = 0
        for root, _dirs, files in _os.walk(vdir):
            total += sum(f.endswith(".parquet") for f in files)
        return total

    # v1: fragmented micro-batch landing layout
    write_versioned(src.repartition(64), table)
    # v2: OPTIMIZE bin-pack (content-preserving keyed repartition)
    write_versioned(
        read_versioned(spark, table, 1).repartition(4, "l_orderkey"),
        table,
    )
    # v3: OPTIMIZE ZORDER on (l_partkey, l_extendedprice)
    v2df = read_versioned(spark, table, 2)
    bounds = v2df.agg(
        F.min("l_partkey").alias("_xlo"),
        F.max("l_partkey").alias("_xhi"),
        F.min("l_extendedprice").alias("_ylo"),
        F.max("l_extendedprice").alias("_yhi"),
    )
    zdf = (
        v2df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "_z",
            z_value(
                _scale_to_bits(
                    F.col("l_partkey"), F.col("_xlo"), F.col("_xhi"),
                    10,
                ),
                _scale_to_bits(
                    F.col("l_extendedprice"), F.col("_ylo"),
                    F.col("_yhi"), 10,
                ),
                10,
            ),
        )
        .repartitionByRange(4, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_xlo", "_xhi", "_ylo", "_yhi")
    )
    write_versioned(zdf, table)

    files_per_v = {v: n_files(v) for v in (1, 2, 3)}
    # v1's signature must be captured BEFORE vacuum removes its files
    staged = (
        sig(src, "source", 0)
        .unionByName(sig(read_versioned(spark, table, 1),
                         "v1_fragmented", 1))
        .unionByName(sig(read_versioned(spark, table, 2),
                         "v2_compacted", 2))
        .unionByName(sig(read_versioned(spark, table, 3),
                         "v3_zordered", 3))
        .localCheckpoint(eager=True)
    )
    vacuum_versions(table, keep_last=2)
    after = sig(
        read_versioned(spark, table, None), "after_vacuum_latest", 3
    )
    out = staged.unionByName(after)
    nf = F.create_map(
        *[x for v, c in files_per_v.items()
          for x in (F.lit(v), F.lit(c))]
    )
    return out.select(
        "stage", "version", "n_rows", "content_sig",
        F.coalesce(
            F.element_at(nf, F.col("version")),
            F.lit(None).cast("int"),
        ).alias("n_files"),
    )
