"""Relational substrate, part 1: scans, filters, scalar functions
(SURVEY.md §2B "Projection / filter / scalar functions").

The reference never does relational work (SURVEY.md §2A, "categories the
reference does NOT implement"), but the engine needs this substrate both
for the DuckDB-checked correctness surface and as the base the
document/vector operators stand on.

Oracle-stability rules used throughout plans/:
- every computed column carries the same alias in Spark and SQL;
- money/double aggregates go through DECIMAL casts so sums are exact
  and order-independent (double summation order differs between
  engines);
- scalar double outputs are rounded to 6 (FIXTURES.md);
- Spark F.log is natural log == DuckDB ln() (DuckDB log() is base-10);
- Spark ceil/floor return BIGINT — DuckDB side casts to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.plans.registry import register

# --------------------------------------------------------------------------
# scan + projection with predicate pushdown
# --------------------------------------------------------------------------

from conversadocs_spark.functions.money import SQL_DISC_PRICE, disc_price_e4

_SCAN_PROJECT_ORACLE = f"""
SELECT l_orderkey, l_partkey, l_quantity,
       round(CAST({SQL_DISC_PRICE} AS DOUBLE), 4) AS revenue
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  AND l_quantity > 45
"""


@register("scan_project", oracle=_SCAN_PROJECT_ORACLE, tags=("relational",))
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + filter over the fact table.

    Both the shipdate range and the quantity filter must reach the
    parquet scan (PushedFilters), and ReadSchema must carry only the 5
    referenced columns — this is the pushdown/pruning contract that
    makes a 100 TB scan affordable.
    """
    li = io.table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        # exact scaled-integer product (functions/money.py), descaled
        # in double; the FINAL column is a rounded double because
        # decimal runtime representation (Spark decimal(18,4) vs DuckDB
        # DECIMAL(38,4)) breaks the driver's value hash even when every
        # value is identical.
        F.round((disc_price_e4() / 10000).cast("double"), 4).alias(
            "revenue"
        ),
    )


# --------------------------------------------------------------------------
# compound predicates (reference R2's filter, generalized)
# --------------------------------------------------------------------------

_FILTER_PRED_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment, c_acctbal
FROM customer
WHERE (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
       AND c_acctbal BETWEEN 100 AND 9000
       AND c_name LIKE '%5%')
   OR (NOT c_mktsegment = 'MACHINERY' AND c_acctbal < 0)
   AND c_name IS NOT NULL
"""


@register("filter_pred", oracle=_FILTER_PRED_ORACLE, tags=("relational",))
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """=, IN, LIKE, BETWEEN, IS NULL, AND/OR/NOT — the reference's only
    filter is an extension whitelist (bones.py:57-58); this is the full
    predicate surface. NB: AND binds tighter than OR on both engines.
    """
    c = io.table(spark, sf_dir, "customer")
    return c.where(
        (
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            & F.col("c_acctbal").between(100, 9000)
            & F.col("c_name").like("%5%")
        )
        | (
            (~(F.col("c_mktsegment") == "MACHINERY"))
            & (F.col("c_acctbal") < 0)
            & F.col("c_name").isNotNull()
        )
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


# --------------------------------------------------------------------------
# string functions (reference R4/R5/R17 building blocks)
# --------------------------------------------------------------------------

_STRING_FUNCS_ORACLE = """
SELECT p_partkey,
       length(p_name)                                   AS name_len,
       lower(p_brand)                                   AS brand_lower,
       upper(p_type)                                    AS type_upper,
       trim(p_name)                                     AS name_trim,
       substring(p_name, 1, 5)                          AS name_head,
       len(string_split(p_name, ' '))                   AS n_words,
       regexp_extract(p_name, '([a-z]+)', 1)            AS first_word,
       regexp_replace(p_name, ' ', '_', 'g')            AS snake_name,
       concat_ws('|', p_brand, p_type)                  AS brand_type,
       instr(p_name, 'a')                               AS a_pos
FROM part
WHERE p_partkey < 300
"""


@register("string_funcs", oracle=_STRING_FUNCS_ORACLE, tags=("relational",))
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface. NB Spark regexp_replace replaces all
    occurrences by default; DuckDB needs the 'g' flag to match."""
    p = io.table(spark, sf_dir, "part")
    return p.where(F.col("p_partkey") < 300).select(
        "p_partkey",
        F.length("p_name").alias("name_len"),
        F.lower("p_brand").alias("brand_lower"),
        F.upper("p_type").alias("type_upper"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.instr("p_name", "a").alias("a_pos"),
    )


# --------------------------------------------------------------------------
# date functions
# --------------------------------------------------------------------------

_DATE_FUNCS_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER)                 AS o_year,
       CAST(month(o_orderdate) AS INTEGER)                AS o_month,
       CAST(day(o_orderdate) AS INTEGER)                  AS o_day,
       CAST(date_trunc('month', o_orderdate) AS DATE)     AS month_start,
       CAST(o_orderdate AS DATE)                          AS o_date,
       CAST(o_orderdate AS DATE) + 30                     AS due_date,
       date_diff('day', DATE '1995-01-01',
                 CAST(o_orderdate AS DATE))               AS days_since_epoch95
FROM orders
WHERE o_orderkey < 500
"""


@register("date_funcs", oracle=_DATE_FUNCS_ORACLE, tags=("relational",))
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar surface on o_orderdate (ms-precision timestamp).

    Arg-order trap: Spark datediff(end, start), DuckDB
    date_diff('day', start, end).
    """
    o = io.table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "month_start"
        ),
        F.to_date("o_orderdate").alias("o_date"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1995-01-01"))
        ).alias("days_since_epoch95"),
    )


# --------------------------------------------------------------------------
# math functions
# --------------------------------------------------------------------------

_MATH_FUNCS_ORACLE = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1)                           AS price_r1,
       abs(l_discount - 0.05)                              AS disc_dev,
       CAST(ceil(l_extendedprice) AS BIGINT)               AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT)              AS price_floor,
       round(sqrt(l_quantity), 6)                          AS qty_sqrt,
       round(pow(1 + l_tax, 2), 6)                         AS tax_sq,
       round(ln(l_extendedprice), 6)                       AS price_ln,
       round(exp(l_discount), 6)                           AS disc_exp
FROM lineitem
WHERE l_orderkey < 200
"""


@register("math_funcs", oracle=_MATH_FUNCS_ORACLE, tags=("relational",))
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface. Spark F.log == DuckDB ln (natural); Spark
    ceil/floor return BIGINT so the oracle casts to match."""
    li = io.table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_orderkey") < 200).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
    )


# --------------------------------------------------------------------------
# array functions (substrate under reference R6/R9 vector ops)
# --------------------------------------------------------------------------

_ARRAY_FUNCS_ORACLE = """
SELECT vec_id,
       len(embedding)                                       AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6)               AS first_elem,
       round(CAST(list_max(embedding) AS DOUBLE), 6)        AS max_elem,
       round(CAST(list_min(list_slice(embedding, 1, 8)) AS DOUBLE), 6)
                                                            AS head_min,
       round(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE))), 6)          AS elem_sum,
       len(list_filter(embedding, x -> x > 0))              AS n_pos
FROM embeddings
WHERE vec_id < 100
"""


@register("array_funcs", oracle=_ARRAY_FUNCS_ORACLE, tags=("relational",))
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over array<float> embeddings: size, index,
    slice, min/max, lambda transform/filter/aggregate — the building
    blocks of the cosine kernel (functions/vector.py)."""
    e = io.table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.where(F.col("vec_id") < 100).select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(emb[0].cast("double"), 6).alias("first_elem"),
        F.round(F.array_max(emb).cast("double"), 6).alias("max_elem"),
        F.round(
            F.array_min(F.slice(emb, 1, 8)).cast("double"), 6
        ).alias("head_min"),
        F.round(
            F.aggregate(
                emb, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("elem_sum"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
    )


# --------------------------------------------------------------------------
# JSON functions (events.props)
# --------------------------------------------------------------------------

_JSON_FUNCS_ORACLE = """
SELECT event_id,
       json_extract_string(props, '$.k')                    AS k_str,
       CAST(json_extract_string(props, '$.k') AS INTEGER)   AS k_int,
       json_extract_string(props, '$.missing')              AS missing_key
FROM events
WHERE event_id < 500
"""


@register("json_funcs", oracle=_JSON_FUNCS_ORACLE, tags=("relational",))
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access on events.props (JSON string) — the Spark
    mapping of the reference's open dict metadata (SURVEY.md §1.2):
    dynamic keys probed null-tolerantly, as app.py:105-108 does with
    its KeyError probe for `page`."""
    ev = io.table(spark, sf_dir, "events")
    return ev.where(F.col("event_id") < 500).select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing_key"),
    )


# --------------------------------------------------------------------------
# map functions: from_json -> map/struct access (SURVEY §2B map/json row)
# --------------------------------------------------------------------------

_MAP_FUNCS_ORACLE = """
SELECT event_id,
       CAST(len(json_keys(props)) AS INTEGER)               AS n_keys,
       array_to_string(list_sort(json_keys(props)), ',')    AS keys_sorted,
       CAST(json_extract_string(props, '$.k') AS INTEGER)   AS k_via_map,
       CAST(json_extract_string(props, '$.k') AS INTEGER)   AS k_via_struct,
       CASE WHEN list_contains(json_keys(props), 'missing') THEN 1 ELSE 0
            END                                             AS has_missing
FROM events
WHERE event_id < 500
"""


@register("map_funcs", oracle=_MAP_FUNCS_ORACLE, tags=("relational",))
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into MapType AND StructType, then map_keys /
    element_at / map_contains_key — the full parsed-JSON access
    surface (the reference's open metadata dict, SURVEY.md §1.2, as
    typed columns instead of runtime KeyError probes)."""
    ev = io.table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    as_map = F.from_json("props", "map<string,int>")
    as_struct = F.from_json("props", "k int")
    return ev.select(
        "event_id",
        F.size(F.map_keys(as_map)).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(as_map)), ",").alias(
            "keys_sorted"
        ),
        F.element_at(as_map, "k").alias("k_via_map"),
        as_struct.getField("k").alias("k_via_struct"),
        F.when(F.map_contains_key(as_map, "missing"), 1)
        .otherwise(0)
        .alias("has_missing"),
    )


# --------------------------------------------------------------------------
# conditional expressions (reference R3 fallback / R13 retry shapes)
# --------------------------------------------------------------------------

_CONDITIONAL_ORACLE = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debtor'
            WHEN c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END                              AS tier,
       coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_alias,
       CASE WHEN c_acctbal > 0 THEN round(c_acctbal, 2)
            ELSE 0 END                                      AS positive_bal
FROM customer
"""


@register(
    "conditional_funcs", oracle=_CONDITIONAL_ORACLE, tags=("relational",)
)
def conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise, coalesce, nullif — the declarative form of the
    reference's imperative fallbacks (bones.py:61-64, bones.py:132-138).
    """
    c = io.table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "debtor")
        .when(bal < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")),
            F.lit("OTHER"),
        ).alias("segment_alias"),
        F.when(bal > 0, F.round(bal, 2)).otherwise(F.lit(0)).alias(
            "positive_bal"
        ),
    )


_VARIANT_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER)  AS k,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(json_extract_string(props, '$.k') AS INTEGER)
       END                                                 AS k_tolerant
FROM events
"""


@register("variant_funcs", oracle=_VARIANT_ORACLE, tags=("relational",))
def variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: semi-structured JSON parsed ONCE into
    the binary VARIANT encoding (`parse_json`) with typed path
    extraction (`variant_get`) — the engine-native successor to
    stringly get_json_object re-parsing (at 100 TB, parsing each JSON
    blob once into variant and pushing typed extractions beats
    per-expression string re-parsing by construction). The
    `try_parse_json` branch proves the dirty-data posture: a
    deterministically corrupted copy (every 7th event) yields NULL
    instead of failing the job — quarantine semantics at expression
    level, mirroring `scan_json_corrupt_tolerant` at source level."""
    ev = io.table(spark, sf_dir, "events").select("event_id", "props")
    corrupted = F.when(
        F.col("event_id") % 7 == 0,
        F.concat(F.lit("{oops"), F.col("props")),
    ).otherwise(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
        F.variant_get(
            F.try_parse_json(corrupted), "$.k", "int"
        ).alias("k_tolerant"),
    )


_TRY_FUNCS_ORACLE = """
SELECT l_orderkey, l_linenumber,
       TRY_CAST(CASE WHEN l_orderkey % 3 = 0
                     THEN 'x' || CAST(l_quantity AS VARCHAR)
                     ELSE CAST(CAST(l_quantity AS INTEGER) AS VARCHAR)
                END AS INTEGER)                          AS qty_parsed,
       CASE WHEN l_quantity = 10.0 THEN NULL
            ELSE CAST(floor(
                 (CAST(round(l_extendedprice * 100) AS BIGINT) * 100000)
                 / (CAST(l_quantity AS BIGINT) - 10)) AS BIGINT)
       END                                              AS safe_ratio_e7,
       CASE WHEN l_partkey = 0 THEN 9223372036854775807
            ELSE NULL END                               AS safe_sum
FROM lineitem
WHERE l_orderkey % 11 = 0
"""


@register("ansi_try_funcs", oracle=_TRY_FUNCS_ORACLE, tags=("relational",))
def ansi_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety surface: Spark 4 runs ANSI ON by default, so a
    single malformed cast, /0, or bigint overflow KILLS the job unless
    the pipeline opts into the ``try_*`` family — NULL-on-failure
    semantics per expression, the row-level quarantine discipline
    (scan_json_corrupt_tolerant at source level, try_parse_json at
    VARIANT level, this at arithmetic level). All three failure modes
    are injected deterministically, so which rows survive is itself
    hash-checked: try_to_number on corrupted digit strings (the
    format-checked cousin of Column.try_cast), try_divide
    hitting an exact zero denominator, try_add at the bigint ceiling.
    The oracle encodes the same semantics as explicit CASE guards —
    proving try_* equals guard-then-compute, the rewrite it exists to
    replace.

    The ratio is emitted as an exact integer (floor of cents*1e5 /
    integer denominator) instead of round(double, 6): cent-exact
    prices divided by power-of-two denominators land EXACTLY on
    6-decimal rounding midpoints, where Spark's HALF_UP BigDecimal
    and DuckDB's double rounding disagree — the same boundary class
    the sf1 gate caught in window_ntile (SCALEGATE_r06 run 3), caught
    here by the sf1 spot-check before it shipped. floor is safe: the
    double quotient of exact <2^53 integers errs well under the 1/40
    minimum fractional step."""
    li = io.table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 11 == 0
    )
    qty_str = F.when(
        F.col("l_orderkey") % 3 == 0,
        F.concat(F.lit("x"), F.col("l_quantity").cast("string")),
    ).otherwise(F.col("l_quantity").cast("int").cast("string"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_to_number(qty_str, F.lit("999999")).cast("int").alias(
            "qty_parsed"
        ),
        F.floor(
            F.try_divide(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * 100000,
                F.col("l_quantity").cast("long") - 10,
            )
        )
        .cast("long")
        .alias("safe_ratio_e7"),
        F.try_add(
            F.lit(9223372036854775807), F.col("l_partkey")
        ).alias("safe_sum"),
    )


# --------------------------------------------------------------------------
# recursive CTE (ANSI WITH RECURSIVE, Spark 4 front door)
# --------------------------------------------------------------------------

_RECURSIVE_CTE_SQL = """
WITH RECURSIVE walk(custkey, node, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM {customer}
    WHERE c_custkey < 100000
    UNION ALL
    SELECT custkey, CAST(floor(node / 10.0) AS BIGINT), depth + 1
    FROM walk WHERE node >= 10
)
SELECT custkey,
       CAST(min(node) AS BIGINT) AS root_key,
       CAST(max(depth) AS BIGINT) AS depth
FROM walk
GROUP BY custkey
"""


@register(
    "sql_recursive_cte",
    oracle=_RECURSIVE_CTE_SQL.format(customer="customer"),
    tags=("relational",),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``WITH RECURSIVE`` executed VERBATIM on both engines (the
    oracle string IS the Spark SQL string with its table name filled
    in, the
    sql_correlated_subqueries pattern): walk every customer's ancestor
    chain in the synthetic decimal-shift hierarchy parent(k) =
    floor(k/10) down to its root, then aggregate (root id, depth) per
    customer AFTER the recursion — the org-chart / BOM / category-tree
    query shape, newly expressible since Spark 4's recursive CTE
    support (SPARK-24497).

    Scale shape: each recursion level is one linear pass over the
    frontier (rows still holding node >= 10), and the depth bound is
    log10(max key) — 5 levels at sf0.01, 8 at a trillion keys — so
    total work is O(n log key), never O(n^2); the terminal aggregation
    is an ordinary map-side-combinable min/max on the walk output.
    Divergence guard: the iterative-operator twin of this shape is
    operators/components.py (which raises on non-convergence); here
    the frontier predicate strictly shrinks node by 10x per level, and
    Spark's cteRecursionLevelLimit (default 100) backstops runaway
    recursion at the engine level.

    Engine limit, found by the sf1 scale gate: Spark also caps TOTAL
    rows emitted across the recursion (spark.sql.cteRecursionRowLimit,
    default 1M) and an unbounded walk over 150k+ customers (n x depth
    rows) trips it. The base is bounded to c_custkey < 100000 (<= 600k
    walk rows at any sf — constant gate cost, same reasoning as
    semdedup_prune's vec_id bound); a production hierarchy walk raises
    the conf explicitly rather than having this engine silently weaken
    the backstop session-wide."""
    return spark.sql(
        _RECURSIVE_CTE_SQL, customer=io.table(spark, sf_dir, "customer")
    )
