"""Python UDF surface (SURVEY.md §2B "UDF / UDAF / UDTF"): scalar
pandas_udf, grouped-agg pandas_udf (UDAF), and grouped-map
applyInPandas — each wired into an oracle-checked or rows-only query.

Rationale: the reference's Python-side computations (R6 embed, R17
token count, R18 generate) are per-row maps; the engine additionally
needs the grouped forms for per-document reduce steps (R14). All
kernels here are deterministic pure functions, so the queries stay
hash-checkable where SQL can express the same value.

Scale: every UDF below is Arrow-batched. Scalar UDFs are narrow maps
(no shuffle); the grouped forms shuffle once on the group key — same
exchange a built-in groupBy would do. The cost delta vs built-ins is
serialization only, which is why plans/ prefers pure-Catalyst
expressions everywhere a built-in exists (this module exists to prove
the UDF path, not to replace codegen'd expressions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.operators.embed import (
    DEFAULT_EMBED_DIM,
    embed_texts,
    mock_embed_udf,
    token_count_udf,
)
from conversadocs_spark.plans.registry import register
from conversadocs_spark.serde import pickle_module_by_value

# --------------------------------------------------------------------------
# scalar pandas_udf: token count (R17) — oracle-checked
# --------------------------------------------------------------------------

_TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           AS n_tokens
FROM documents
"""


@register("udf_token_count", oracle=_TOKEN_COUNT_ORACLE, tags=("udf",))
def udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar pandas_udf token counter (the llama
    tokenizer stand-in, llamacppmodels.py:307-309), oracle-checked
    against DuckDB's regexp_extract_all — proving the Python-UDF path
    end to end, not just built-ins."""
    d = io.table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count_udf()(F.col("text")).alias("n_tokens")
    )


@register("embed_corpus", tags=("udf", "rows-only"))
def embed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 embed through the pluggable encoder front door: mock by
    default (deterministic oracle surface), the real
    sentence-transformer mapInPandas path when SPARK_GRAFT_REAL_EMBED
    is set (operators/embed.py:embed_texts). Output shape is encoder-
    independent, which is the point: downstream vector plans don't
    change when the real model is swapped in."""
    d = io.table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    emb = embed_texts(d, text_col="text")
    return emb.select(
        "doc_id",
        "lang",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            4,
        ).alias("sq_norm"),
    )


# --------------------------------------------------------------------------
# scalar pandas_udf: mock embed (R6) — rows-only (RNG not in SQL)
# --------------------------------------------------------------------------


@register("udf_embed_mock", tags=("udf", "rows-only"))
def udf_embed_mock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mock embedding of every document (R6,
    bones.py:71): hash-seeded unit vectors, Arrow-batched. Rows-only
    check (the hash-RNG isn't SQL-expressible); tests/test_embed.py
    enforces dim, unit norm, and determinism across partitionings."""
    d = io.table(spark, sf_dir, "documents")
    emb = mock_embed_udf(DEFAULT_EMBED_DIM)
    out = d.select(
        "doc_id",
        emb(F.col("text")).alias("embedding"),
    )
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            4,
        ).alias("sq_norm"),
    )


# --------------------------------------------------------------------------
# UDAF: grouped-agg pandas_udf — price range per order status
# --------------------------------------------------------------------------

_UDAF_ORACLE = """
SELECT o_orderstatus,
       round(max(o_totalprice) - min(o_totalprice), 2) AS price_range
FROM orders
GROUP BY o_orderstatus
"""


@register("udaf_price_range", oracle=_UDAF_ORACLE, tags=("udf",))
def udaf_price_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation as a GROUPED_AGG pandas_udf: per-status price
    range. max/min are summation-order-independent, so the Arrow path
    hash-matches the SQL oracle exactly. Plan: one shuffle on the
    3-value group key — identical exchange to a built-in agg."""

    @F.pandas_udf("double")
    def price_range(prices: pd.Series) -> float:
        return round(float(prices.max() - prices.min()), 2)

    o = io.table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        price_range(F.col("o_totalprice")).alias("price_range")
    )


# --------------------------------------------------------------------------
# grouped-map applyInPandas — per-customer order sequencing
# --------------------------------------------------------------------------

_GROUPED_MAP_ORACLE_BOUNDED = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INTEGER)                  AS seq,
       date_diff('day',
                 CAST(lag(o_orderdate) OVER w AS DATE),
                 CAST(o_orderdate AS DATE))                  AS days_since_prev
FROM orders
WHERE o_custkey < 150
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def _seq_orders_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-customer order sequencing: sort, rank, day gaps. Shared by
    the per-group and partition-wise grouped-map queries below."""
    pdf = pdf.sort_values(["o_orderdate", "o_orderkey"]).reset_index(
        drop=True
    )
    days = pdf["o_orderdate"].dt.normalize().diff().dt.days
    return pd.DataFrame(
        {
            "o_custkey": pdf["o_custkey"],
            "o_orderkey": pdf["o_orderkey"],
            "seq": (pdf.index + 1).astype("int32"),
            "days_since_prev": days.astype("Int64"),
        }
    )


@register(
    "grouped_map_order_seq",
    oracle=_GROUPED_MAP_ORACLE_BOUNDED,
    tags=("udf",),
)
def grouped_map_order_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (the per-document reduce-step shape,
    R14): each customer's orders arrive as one pandas frame; the kernel
    sorts and emits a sequence number + integer day gaps. Integer
    outputs make the Arrow path bit-identical to the window-function
    oracle.

    BOUNDED to a customer subset on purpose: applyInPandas pays ~ms of
    Python/Arrow overhead PER GROUP, so per-group dispatch over a
    high-cardinality key (15k one-digit-row groups at sf0.1 — measured
    30s) is an anti-pattern at any scale. Use it when groups are few
    and heavy (per-document reduce, per-session state); for
    high-cardinality tiny groups use `grouped_map_partitionwise` below
    (same result, one Python call per partition) or a window function.
    """

    o = (
        io.table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 150)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )
    return o.groupBy("o_custkey").applyInPandas(
        _seq_orders_kernel,
        schema=(
            "o_custkey long, o_orderkey long, seq int, "
            "days_since_prev long"
        ),
    )


_GROUPED_MAP_ORACLE_FULL = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INTEGER)                  AS seq,
       date_diff('day',
                 CAST(lag(o_orderdate) OVER w AS DATE),
                 CAST(o_orderdate AS DATE))                  AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


@register(
    "grouped_map_partitionwise",
    oracle=_GROUPED_MAP_ORACLE_FULL,
    tags=("udf",),
)
def grouped_map_partitionwise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The scale form of grouped-map over a HIGH-cardinality key:
    repartition by the key (co-locates every group), then ONE
    mapInPandas call per partition whose kernel concatenates the
    partition's Arrow batches and runs a vectorized pandas groupby —
    32 Python calls instead of 15k at sf0.1 (measured 30s -> ~1s for
    the same full-table result, hash-checked against the same window
    oracle).

    Memory note: the kernel materializes one shuffle partition
    (bounded by spark.sql.shuffle.partitions sizing, the same bound a
    sort would need) — not the whole table.
    """

    def per_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf = pdf.sort_values(
            ["o_custkey", "o_orderdate", "o_orderkey"]
        ).reset_index(drop=True)
        # vectorized across ALL groups at once: global diff with the
        # group-boundary rows masked out (sorted by key, so a group
        # change == a boundary) — no per-group lambda anywhere
        days = pdf["o_orderdate"].dt.normalize().diff().dt.days
        boundary = pdf["o_custkey"].ne(pdf["o_custkey"].shift())
        days[boundary] = None
        seq = (
            pdf.groupby("o_custkey", sort=False).cumcount() + 1
        ).astype("int32")
        yield pd.DataFrame(
            {
                "o_custkey": pdf["o_custkey"],
                "o_orderkey": pdf["o_orderkey"],
                "seq": seq,
                "days_since_prev": days.astype("Int64"),
            }
        )

    o = io.table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return o.repartition("o_custkey").mapInPandas(
        per_partition,
        schema=(
            "o_custkey long, o_orderkey long, seq int, "
            "days_since_prev long"
        ),
    )


# --------------------------------------------------------------------------
# mapInArrow: zero-copy Arrow-native batch map — oracle-checked
# --------------------------------------------------------------------------

_ARROW_STATS_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER)
           AS n_tokens,
       CAST(length(text) AS INTEGER)               AS n_chars,
       CAST(length(text) - length(replace(text, chr(10), ''))
            AS INTEGER)                            AS n_newlines
FROM documents
"""


@register("arrow_text_stats", oracle=_ARROW_STATS_ORACLE, tags=("udf",))
def arrow_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` text statistics: the FASTEST Python interop path
    Spark has — RecordBatches flow Arrow->Arrow with no pandas
    conversion (no object-dtype string boxing, the hidden cost of
    mapInPandas on text), and every kernel below is a vectorized C++
    pyarrow.compute call, so the Python layer only orchestrates.

    Completes the Python-surface matrix (scalar pandas_udf / UDAF /
    applyInPandas / mapInPandas / UDTF / mapInArrow) and is the
    template for the 100 TB hot path when a corpus pass genuinely
    needs Python: narrow map, no shuffle, O(batch) Python overhead
    independent of row width. Oracle-checked cell-for-cell against
    DuckDB regexes, proving the Arrow kernels' token/char/newline
    semantics match ANSI-SQL string functions exactly."""
    import pyarrow as pa

    def stats(batches):
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(
                        pc.count_substring_regex(text, r"\S+"), pa.int32()
                    ),
                    pc.cast(pc.utf8_length(text), pa.int32()),
                    pc.cast(pc.count_substring(text, "\n"), pa.int32()),
                ],
                names=["doc_id", "n_tokens", "n_chars", "n_newlines"],
            )

    d = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        stats,
        schema=(
            "doc_id long, n_tokens int, n_chars int, n_newlines int"
        ),
    )


pickle_module_by_value(__name__)


# --------------------------------------------------------------------------
# Python UDTF (Spark 4 table function): generator form of the chunker
# --------------------------------------------------------------------------

_UDTF_CHUNK_ORACLE = """
SELECT d.doc_id, CAST(g.i AS INTEGER) AS seq,
       substring(d.text, CAST(g.i * 80 + 1 AS INTEGER), 100) AS chunk
FROM documents d
JOIN (SELECT unnest(range(0, 100)) AS i) g
  ON g.i * 80 < length(d.text)
"""


@register("udtf_chunk_fixed", oracle=_UDTF_CHUNK_ORACLE, tags=("udf",))
def udtf_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF (table function) — the native generator form
    of SURVEY §2B row 51, complementing the pandas_udf+posexplode path
    (`chunk_split`): one input row yields N (seq, chunk) rows from
    eval(), consumed via LATERAL join. Output is identical to
    `chunk_fixed`'s pure-Catalyst grid, so the exact same DuckDB oracle
    hash-checks the UDTF path end to end.

    Scale: the UDTF runs per-partition like any Arrow-batched Python
    worker (narrow map, no shuffle); prefer the pure-Catalyst
    `split_fixed` when the kernel is expressible — this query exists
    to prove the UDTF surface, not to replace codegen.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq int, chunk string")
    class FixedChunker:
        def eval(self, text: str):
            if text is None:
                return
            size, step = 100, 80
            for seq, start in enumerate(range(0, len(text), step)):
                yield seq, text[start : start + size]

    spark.udtf.register("fixed_chunker", FixedChunker)
    return spark.sql(
        """
        SELECT d.doc_id, c.seq, c.chunk
        FROM {src} d, LATERAL fixed_chunker(d.text) c
        """,
        src=io.table(spark, sf_dir, "documents"),
    )


@register("embed_doc_pool", tags=("udf", "vector", "rows-only"))
def embed_doc_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk -> document embedding pooling (operators/embed.py:
    pool_doc_embeddings): fixed-grid chunk the corpus, mock-embed
    each chunk, and pool per document with a length-weighted
    elementwise mean + L2 norm — the glue between chunk-level
    retrieval (R9) and doc-level ANN/dedup. Rows-only (the mock
    encoder's hash-RNG isn't SQL-expressible);
    tests/test_embed.py::test_doc_pool_* pin the pooled vector
    against a driver-computed weighted mean and the unit-norm /
    one-row-per-doc invariants."""
    from conversadocs_spark.operators.chunker import split_fixed
    from conversadocs_spark.operators.embed import (
        mock_embed_udf,
        pool_doc_embeddings,
    )

    d = io.table(spark, sf_dir, "documents")
    chunks = split_fixed(d, chunk_size=100, overlap=20).select(
        "doc_id",
        F.length("chunk").alias("n_chars"),
        mock_embed_udf()(F.col("chunk")).alias("embedding"),
    )
    pooled = pool_doc_embeddings(chunks, weight_col="n_chars")
    return pooled.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            4,
        ).alias("sq_norm"),
    )


# --------------------------------------------------------------------------
# grouped-map applyInArrow: per-group Arrow-native kernel — oracle-checked
# --------------------------------------------------------------------------

_ARROW_GROUPED_ORACLE = """
SELECT event_id, event_type,
       CAST(row_number() OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) - 1 AS INTEGER)
           AS seq,
       round(value - lag(value) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id), 6)
           AS delta_value
FROM events
WHERE event_id % 7 = 0
"""


@register(
    "arrow_grouped_seq", oracle=_ARROW_GROUPED_ORACLE, tags=("udf",)
)
def arrow_grouped_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` grouped map: per-event-type time ordering with
    sequence numbers and value deltas, computed entirely with
    pyarrow.compute kernels on the group's Arrow table — no pandas
    conversion (the applyInPandas path boxes every string/timestamp
    into Python objects; Arrow tables keep group bytes columnar end
    to end). With `arrow_text_stats` (mapInArrow) this completes the
    Arrow-native surface next to the pandas forms.

    Same shuffle contract as applyInPandas: ONE exchange on the group
    key, group must fit a task (event types are few/heavy here — the
    bounded-group regime, exactly where grouped dispatch is the right
    tool; the high-cardinality regime belongs to
    `grouped_map_partitionwise`). Oracle-checked cell-for-cell against
    the equivalent SQL window functions."""
    import pyarrow as pa

    def seq(table: "pa.Table") -> "pa.Table":
        import pyarrow as pa
        import pyarrow.compute as pc

        import numpy as np

        idx = pc.sort_indices(
            table,
            sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
        )
        t = table.take(idx)
        n = t.num_rows
        val = t.column("value").to_numpy(zero_copy_only=False)
        delta = np.full(n, np.nan)
        if n > 1:
            delta[1:] = np.round(np.diff(val), 6)
        return pa.table(
            {
                "event_id": t.column("event_id"),
                "event_type": t.column("event_type"),
                "seq": pa.array(np.arange(n, dtype=np.int32)),
                "delta_value": pa.array(delta, type=pa.float64(),
                                        from_pandas=True),
            }
        )

    ev = (
        io.table(spark, sf_dir, "events")
        .where(F.col("event_id") % 7 == 0)
        .select("event_id", "event_type", "ts", "value")
    )
    return ev.groupBy("event_type").applyInArrow(
        seq,
        schema=(
            "event_id long, event_type string, seq int, "
            "delta_value double"
        ),
    )


# --------------------------------------------------------------------------
# polymorphic Python UDTF: analyze() derives the schema from arguments
# --------------------------------------------------------------------------

_UDTF_DYNAMIC_ORACLE = """
SELECT doc_id,
       string_split(text, ' ')[1] AS tok0,
       string_split(text, ' ')[2] AS tok1,
       string_split(text, ' ')[3] AS tok2,
       string_split(text, ' ')[4] AS tok3
FROM documents
"""


@register(
    "udtf_dynamic_schema", oracle=_UDTF_DYNAMIC_ORACLE, tags=("udf",)
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()``): the output
    schema is computed at PLAN TIME from the call's literal argument —
    ``first_tokens(text, 4)`` plans 4 string columns, ``..., 8`` would
    plan 8 — the table-function form a fixed returnType cannot
    express (wide feature extraction where the width is a parameter).
    Completes the UDTF surface next to the fixed-schema
    `udtf_chunk_fixed`. The kernel itself stays an Arrow-batched
    narrow map; analyze() runs once on the driver during resolution,
    so the polymorphism costs nothing per row."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class FirstTokens:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            st = StructType()
            for i in range(int(n.value)):
                st = st.add(f"tok{i}", "string")
            return AnalyzeResult(schema=st)

        def eval(self, text: str, n: int):
            toks = (text or "").split(" ")
            yield tuple((toks + [None] * n)[:n])

    spark.udtf.register("first_tokens", FirstTokens)
    return spark.sql(
        """
        SELECT d.doc_id, t.tok0, t.tok1, t.tok2, t.tok3
        FROM {src} d, LATERAL first_tokens(d.text, 4) t
        """,
        src=io.table(spark, sf_dir, "documents"),
    )
