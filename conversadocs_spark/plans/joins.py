"""Relational substrate, part 2: the join surface (SURVEY.md §2B
"Joins"). The reference has no relational joins; its one "join" is the
retrieval crossJoin in R9 (generalized in plans/vector.py). This module
provides the equi/outer/semi/anti/cross/range/as-of family the engine
needs as substrate.

Scale notes: dimension sides (region/nation/supplier, filtered orders)
are broadcast — either by Catalyst's size estimate or an explicit
F.broadcast hint — so fact tables never shuffle for star joins. The
as-of join is implemented with the union+window trick (one shuffle by
key, no range-join explosion), which is the shape that survives 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conversadocs_spark import io, scratch
from conversadocs_spark.plans.registry import register

# --------------------------------------------------------------------------
# inner equi-join
# --------------------------------------------------------------------------

_JOIN_INNER_ORACLE = """
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 100000
"""


@register("join_inner", oracle=_JOIN_INNER_ORACLE, tags=("join",))
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join orders ⋈ customer with filters pushed below the
    join on both sides (Catalyst does this; .explain shows the filters
    inside both scans)."""
    o = io.table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 100000
    )
    c = io.table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# left outer join (customers with zero orders kept)
# --------------------------------------------------------------------------

_JOIN_LEFT_ORACLE = """
SELECT c.c_custkey, c.c_name,
       count(o.o_orderkey)        AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                                  AS total_spent
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
"""


@register("join_left", oracle=_JOIN_LEFT_ORACLE, tags=("join",))
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + group: customers with no orders appear with
    n_orders=0 and NULL total_spent. DECIMAL cast keeps the sum exact
    and engine-order-independent."""
    c = io.table(spark, sf_dir, "customer")
    o = io.table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            # exact decimal sum internally; rounded-double FINAL column
            # (engine decimal representations hash differently).
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_spent"),
        )
    )


# --------------------------------------------------------------------------
# right / full outer joins
# --------------------------------------------------------------------------

_JOIN_RIGHT_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderstatus
FROM orders o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'O'
WHERE c.c_custkey < 300
"""


@register("join_right", oracle=_JOIN_RIGHT_ORACLE, tags=("join",))
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join with a join-side predicate (kept in the ON
    clause, not the WHERE — the outer-join semantics trap): customers
    with no open orders still appear, with null order columns."""
    o = io.table(spark, sf_dir, "orders")
    c = io.table(spark, sf_dir, "customer").where(F.col("c_custkey") < 300)
    return o.join(
        c,
        (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "O"),
        "right",
    ).select("c_custkey", "c_name", "o_orderkey", "o_orderstatus")


_JOIN_FULL_ORACLE = """
WITH hi_cust AS (
    SELECT c_nationkey AS nationkey, count(*) AS n_rich_customers
    FROM customer WHERE c_acctbal > 9000
    GROUP BY c_nationkey
),
lo_supp AS (
    SELECT s_nationkey AS nationkey, count(*) AS n_poor_suppliers
    FROM supplier WHERE s_acctbal < 1000
    GROUP BY s_nationkey
)
SELECT coalesce(h.nationkey, l.nationkey) AS nationkey,
       h.n_rich_customers, l.n_poor_suppliers
FROM hi_cust h
FULL JOIN lo_supp l ON h.nationkey = l.nationkey
"""


@register("join_full", oracle=_JOIN_FULL_ORACLE, tags=("join",))
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two asymmetric aggregates (nations having
    only rich customers OR only poor suppliers survive on one side
    with nulls on the other)."""
    c = io.table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    s = io.table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 1000)
    hi = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_rich_customers")
    )
    lo = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_poor_suppliers")
    )
    return (
        hi.join(lo, "nationkey", "full")
        .select("nationkey", "n_rich_customers", "n_poor_suppliers")
    )


# --------------------------------------------------------------------------
# left semi / left anti (EXISTS / NOT EXISTS)
# --------------------------------------------------------------------------

_JOIN_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderstatus = 'F')
"""


@register("join_semi", oracle=_JOIN_SEMI_ORACLE, tags=("join",))
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one finished order."""
    c = io.table(spark, sf_dir, "customer")
    o = io.table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


_JOIN_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


@register("join_anti", oracle=_JOIN_ANTI_ORACLE, tags=("join",))
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders."""
    c = io.table(spark, sf_dir, "customer")
    o = io.table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# multi-way star join (TPC-H Q5 shape)
# --------------------------------------------------------------------------

from conversadocs_spark.functions.money import (
    SQL_DISC_PRICE,
    disc_price_e4,
    sum_scaled,
)

_JOIN_STAR_ORACLE = f"""
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       round(CAST(sum({SQL_DISC_PRICE}) AS DOUBLE), 2) AS revenue,
       count(*)                             AS n_lineitems
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY r.r_name, n.n_name, CAST(year(o.o_orderdate) AS INTEGER)
"""


@register("join_star", oracle=_JOIN_STAR_ORACLE, tags=("join", "bench"))
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: revenue by region/nation/year.

    Scale shape: nation+region broadcast (25/5 rows, hinted); customer
    broadcasts under AQE at test sf and shuffles at 100 TB — either way
    lineitem⋈orders is the only big exchange, and the o_orderdate
    filter prunes orders before the join.
    """
    li = io.table(spark, sf_dir, "lineitem")
    o = io.table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = io.table(spark, sf_dir, "customer")
    n = io.table(spark, sf_dir, "nation")
    r = io.table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            # scaled-integer revenue sum (functions/money.py): long
            # product per row, DECIMAL(28,0) accumulation — exact-equal
            # to the oracle's decimal formulation, ~2x cheaper per row.
            # Emitted at cents: see the sum-rounding note in
            # plans/aggregates.py agg_grouped.
            F.round(sum_scaled(disc_price_e4(), 10000), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# cross join + theta (non-equi range) join
# --------------------------------------------------------------------------

_JOIN_RANGE_ORACLE = """
SELECT s.s_suppkey, c.c_custkey,
       round(c.c_acctbal - s.s_acctbal, 2) AS bal_gap
FROM supplier s
JOIN customer c
  ON c.c_acctbal BETWEEN s.s_acctbal - 5 AND s.s_acctbal + 5
"""


@register("join_range", oracle=_JOIN_RANGE_ORACLE, tags=("join",))
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join on a range predicate (no equi key): supplier-customer
    account balances within ±5. Physical plan is a broadcast
    nested-loop join with supplier (small side) broadcast — the correct
    strategy when no hash key exists."""
    s = io.table(spark, sf_dir, "supplier")
    c = io.table(spark, sf_dir, "customer")
    return (
        c.join(
            F.broadcast(s),
            (F.col("c_acctbal") >= F.col("s_acctbal") - 5)
            & (F.col("c_acctbal") <= F.col("s_acctbal") + 5),
        )
        .select(
            "s_suppkey",
            "c_custkey",
            F.round(F.col("c_acctbal") - F.col("s_acctbal"), 2).alias(
                "bal_gap"
            ),
        )
    )


# --------------------------------------------------------------------------
# as-of join (latest click at or before each purchase, per user)
# --------------------------------------------------------------------------

_JOIN_ASOF_ORACLE = """
SELECT p.event_id, p.user_id, p.ts,
       (SELECT max(c.ts) FROM events c
        WHERE c.user_id = p.user_id
          AND c.event_type = 'click'
          AND c.ts <= p.ts)                AS last_click_ts
FROM events p
WHERE p.event_type = 'purchase'
"""


@register("join_asof", oracle=_JOIN_ASOF_ORACLE, tags=("join",))
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union + running last() — the scalable form.

    Instead of a per-row range join (quadratic blowup), tag clicks and
    purchases, union them, and take the running max click-ts per user
    ordered by (ts, tag) — one shuffle on user_id, linear work. The
    tag orders clicks before purchases at equal ts so the `<=`
    (inclusive) as-of semantics hold. DuckDB oracle uses a correlated
    max subquery (ASOF JOIN drops unmatched rows; we keep them, like
    the reference keeps unanswered queries with null sources).
    """
    ev = io.table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # clicks sort before purchases at identical ts => inclusive <=
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias(
            "click_ts"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_click_ts", F.max("click_ts").over(w)
        )
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


# --------------------------------------------------------------------------
# fuzzy string join (edit-distance <= 1, provable prefix/suffix blocking)
# --------------------------------------------------------------------------

_JOIN_FUZZY_ORACLE = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS edit_dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 1
"""


def fuzzy_pairs_dist1(names: DataFrame, col: str = "name") -> DataFrame:
    """All pairs of distinct strings at Levenshtein distance exactly 1,
    via PROVABLE blocking instead of a cross join.

    Blocking lemma: a single edit (substitution / insertion / deletion)
    touches one position p of the longer string. For strings of length
    >= 4, either p >= 3 (the 2-char prefix is untouched) or
    p <= len-2 (the 2-char suffix — as a string — is untouched, since
    any shift from an indel happens at or after p). So every distance-1
    pair shares its first 2 chars OR its last 2 chars, and the union of
    two equi-joins on those keys has perfect recall. The exact
    re-check uses the threshold form of levenshtein (early-exits after
    the banded DP row exceeds 1 — O(len) not O(len^2) per candidate).

    Scale shape: two shuffles on 2-char keys over the DISTINCT name
    relation (vocabulary-sized, not corpus-sized). Key skew is bounded
    by vocabulary shape; for larger thresholds switch to deletion-
    neighborhood signatures (each string emits len+1 delete-1 variants)
    — same join pattern, still linear in vocabulary.
    """
    n = names.select(
        F.col(col).alias("name"),
        F.substring(col, 1, 2).alias("pre"),
        F.substring(col, -2, 2).alias("suf"),
    )
    a = n.select(
        F.col("name").alias("name_a"),
        F.col("pre").alias("pre_a"),
        F.col("suf").alias("suf_a"),
    )
    b = n.select(
        F.col("name").alias("name_b"),
        F.col("pre").alias("pre_b"),
        F.col("suf").alias("suf_b"),
    )
    by_pre = a.join(b, F.col("pre_a") == F.col("pre_b")).select(
        "name_a", "name_b"
    )
    by_suf = a.join(b, F.col("suf_a") == F.col("suf_b")).select(
        "name_a", "name_b"
    )
    cands = (
        by_pre.union(by_suf)
        .where(F.col("name_a") < F.col("name_b"))
        .distinct()
    )
    return cands.where(
        F.levenshtein("name_a", "name_b", 1) != -1
    ).select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("edit_dist"),
    )


@register("join_fuzzy", oracle=_JOIN_FUZZY_ORACLE, tags=("join", "text"))
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join of part names at edit distance <= 1 (entity
    resolution / catalog-dedup shape: 'cold bolt' ~ 'old bolt').

    Distinct names are extracted first (vocabulary << table), then
    blocked as in fuzzy_pairs_dist1 — never a name x name cross join.
    The DuckDB oracle IS the quadratic definition, which is the point:
    blocking must reproduce brute force exactly
    (tests/test_joins.py pins the same equivalence on a constructed
    vocabulary with edits at every position).
    """
    names = (
        io.table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    return fuzzy_pairs_dist1(names)


# --------------------------------------------------------------------------
# null-safe equi-join (IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------

_NULL_SAFE_ORACLE = """
WITH a AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE o_orderkey % 7 END AS k,
           o_totalprice
    FROM orders WHERE o_orderkey % 3 = 0
),
b AS (
    SELECT CASE WHEN n_nationkey >= 20 THEN NULL
                ELSE n_nationkey % 7 END AS k,
           n_name
    FROM nation
)
SELECT a.o_orderkey, a.k, b.n_name,
       round(a.o_totalprice, 2) AS price
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@register("join_null_safe", oracle=_NULL_SAFE_ORACLE, tags=("join",))
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics
    entity-resolution and CDC keys with optional components need
    (plain ``=`` makes every NULL-keyed row vanish from an inner
    join, the classic silent-loss bug). Both sides get NULLs injected
    deterministically so the NULL-NULL match rows are part of the
    hash check.

    Scale shape: eqNullSafe stays a HASH join key (Spark hashes the
    null bucket like any value) — same single exchange as a plain
    equi-join, NOT a cartesian fallback; the plan keeps
    BroadcastHashJoin on the nation side."""
    o = io.table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 3 == 0
    )
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderkey") % 7)
        .alias("k"),
        "o_totalprice",
    )
    n = io.table(spark, sf_dir, "nation")
    b = n.select(
        F.when(F.col("n_nationkey") >= 20, None)
        .otherwise(F.col("n_nationkey") % 7)
        .alias("k"),
        "n_name",
    )
    return (
        a.join(F.broadcast(b), a["k"].eqNullSafe(b["k"]))
        .select(
            "o_orderkey",
            a["k"].alias("k"),
            "n_name",
            F.round("o_totalprice", 2).alias("price"),
        )
    )


# --------------------------------------------------------------------------
# correlated subqueries (EXISTS + scalar) — the SQL-surface forms
# --------------------------------------------------------------------------

_SUBQUERY_SQL = """
SELECT c.c_custkey, c.c_acctbal,
       (SELECT CAST(count(*) AS BIGINT) FROM {orders} o
        WHERE o.o_custkey = c.c_custkey)               AS n_orders
FROM {customer} c
WHERE EXISTS (SELECT 1 FROM {orders} o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 100000)
  AND NOT EXISTS (SELECT 1 FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F'
                    AND o.o_totalprice < 1000)
"""


@register(
    "sql_correlated_subqueries",
    oracle=_SUBQUERY_SQL.format(customer="customer", orders="orders"),
    tags=("join",),
)
def sql_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS / scalar subqueries — the SQL
    forms users actually write, executed VERBATIM on both engines
    (the oracle string IS the Spark SQL string with its table names
    filled in): Catalyst de-correlates
    them into left-semi, left-anti, and aggregate-then-left-join plans
    — i.e., exactly the `join_semi`/`join_anti`/grouped-agg operators
    this engine already pins, reached through the SQL front door. The
    point of the query is that the REWRITE is correct and stays
    join-shaped: no per-row re-execution of the subquery exists
    anywhere in the plan (subqueries that survive to execution as
    loops are the classic correctness-preserving, scale-destroying
    fallback)."""
    return spark.sql(
        _SUBQUERY_SQL,
        **{t: io.table(spark, sf_dir, t) for t in ("customer", "orders")},
    )


# --------------------------------------------------------------------------
# LATERAL correlated top-k (ANSI lateral subquery, Spark 4 front door)
# --------------------------------------------------------------------------

_LATERAL_TOPK_SQL = """
SELECT o.o_orderkey, t.l_partkey, t.l_extendedprice
FROM {orders} o,
LATERAL (
    SELECT l_partkey, l_extendedprice
    FROM {lineitem}
    WHERE l_orderkey = o.o_orderkey
    ORDER BY l_extendedprice DESC, l_partkey ASC
    LIMIT 2
) t
WHERE o.o_orderkey < 100
"""


@register(
    "sql_lateral_topk",
    oracle=_LATERAL_TOPK_SQL.format(orders="orders", lineitem="lineitem"),
    tags=("join",),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LATERAL subquery with correlated ORDER BY + LIMIT — the
    "top 2 line items per order" form users write directly — executed
    VERBATIM on both engines (the oracle string IS the Spark SQL
    string with its table names filled in, like
    sql_correlated_subqueries / sql_recursive_cte).

    The point is the REWRITE: a lateral correlated LIMIT is the
    classic per-row-re-execution trap, and Catalyst instead
    de-correlates it into WindowGroupLimit (map-side PARTIAL top-k
    BEFORE the shuffle, final after) + row_number + a hash join back
    to the outer side, with the outer predicate transitively pushed
    into the inner scan (the executed plan shows
    `Filter (l_orderkey < 100)` on the lineitem side, derived from
    the join key). Per-group state is k rows at every stage — the
    same plan you'd hand-write with window_rank, reached through the
    SQL front door; tests pin WindowGroupLimit presence so a Spark
    upgrade can't silently regress this into a loop."""
    return spark.sql(
        _LATERAL_TOPK_SQL,
        **{t: io.table(spark, sf_dir, t) for t in ("orders", "lineitem")},
    )


# --------------------------------------------------------------------------
# bucketed co-located join (the shuffle-free big-big join)
# --------------------------------------------------------------------------

_BUCKETED_ORACLE = f"""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT)           AS n_items,
       round(CAST(sum({SQL_DISC_PRICE}) AS DOUBLE), 2) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "join_bucketed_colocated", oracle=_BUCKETED_ORACLE, tags=("join",)
)
def join_bucketed_colocated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The shuffle-free BIG-x-BIG join: both fact tables are written
    ONCE as bucketed tables (`bucketBy(8, key)` + sortBy, Spark's
    persisted hash-clustering — the co-location move the star join
    can't use because neither side is dimension-sized), then joined
    on the bucket key WITHOUT any Exchange: each task zips bucket i
    of orders with bucket i of lineitem, at any scale. This is the
    standard warehouse layout for a fact table that is repeatedly
    joined on the same key — the shuffle is paid once at WRITE time
    and amortized over every subsequent join; revenue per order
    priority is the probe query on top (exact decimal money path).

    The no-Exchange-above-either-scan contract is pinned in
    tests/test_joins.py with broadcast disabled (at tiny SF Catalyst
    would otherwise broadcast the small side and hide the bucketed
    plan); result values are bucketing-invariant, which is exactly
    what the oracle checks.

    Scale notes: 8 buckets suits the fixtures — a real deployment
    sizes buckets toward HDFS-block-sized files (hundreds to
    thousands); bucket counts must MATCH (or divide) across tables
    for the zip. Each call writes its two tables under a directory of
    its own (``scratch.call_dir``) as external catalog tables with
    names of its own, so a DataFrame returned by one call keeps
    reading that call's tables whatever later calls write."""
    base = scratch.call_dir("bucketed")
    tag = f"{os.getpid()}_{os.path.basename(base).split('-', 1)[1]}"
    t_orders, t_items = f"b_orders_{tag}", f"b_lineitem_{tag}"
    for name, src, key in (
        (t_orders, "orders", "o_orderkey"),
        (t_items, "lineitem", "l_orderkey"),
    ):
        (
            io.table(spark, sf_dir, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .option("path", os.path.join(base, name))
            .saveAsTable(name)
        )
    o = spark.table(t_orders).select("o_orderkey", "o_orderpriority")
    li = spark.table(t_items).select(
        "l_orderkey", disc_price_e4().alias("disc_e4")
    )
    # the analyzed plans hold the tables' files and bucket spec, so the
    # catalog entries can go; the files are external and stay
    for name in (t_orders, t_items):
        spark.sql(f"DROP TABLE {name}")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.round(sum_scaled("disc_e4", 10_000), 2).alias(
                "revenue"
            ),
        )
    )
