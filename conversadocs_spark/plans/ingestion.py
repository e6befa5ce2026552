"""Driver-visible ingestion queries: the reference's entry point
(R1/R2/R3 multi-format scan), its index lifecycle (R7/R8 overwrite
build), and structured text-format sources (CSV / JSON lines). Each
call writes under a directory of its own from ``scratch.call_dir``,
so a returned lazy read of those files is never rewritten by a later
call.

The directory-scan and index-lifecycle queries are rows-only (file
scanning and parquet writes aren't SQL-expressible over the fixture
views; tests/test_ingest.py carries the behavioral assertions). The
CSV/JSON round-trips ARE oracle-checked: the staged files derive from
a parquet table, so the DuckDB oracle reads the parquet view directly
and the value-hash proves the text-format write+read preserved every
cell (doubles, microsecond timestamps, quoted strings) — the actual
failure mode of text sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversadocs_spark import io, scratch
from conversadocs_spark.plans.registry import register
from conversadocs_spark.sources.ingest import (
    scan_documents,
    stage_text_corpus,
)
from conversadocs_spark.sources.sink import (
    build_vector_index,
    read_index,
)

@register("ingest_scan_text", tags=("ingest", "rows-only"))
def ingest_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format directory scan: 50 fixture docs staged as loose
    .txt/.md/.html files plus an unsupported-extension decoy; the scan
    must parse exactly the 50 supported files (R1 dispatch + R2
    unknown-ext filter) with provenance columns."""
    corpus_dir = scratch.call_dir("corpus")
    stage_text_corpus(spark, sf_dir, corpus_dir, n_docs=50)
    docs = scan_documents(spark, corpus_dir)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.regexp_extract("source", r"(\.[a-z]+)$", 1).alias("ext"),
        "page",
    )


# Spark's default timestampNTZFormat keeps only milliseconds; the
# fixture timestamps carry real microseconds, so both the writer and
# the reader pin a 6-digit fractional format (truncation here is the
# classic silent CSV fidelity bug this query exists to catch).
_NTZ_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

_CSV_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
WHERE o_orderkey % 97 = 0
"""


@register("scan_csv_roundtrip", oracle=_CSV_ORACLE, tags=("ingest",))
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source: stage an orders slice as headered CSV, read it back
    with an EXPLICIT schema (never schema inference — at 100 TB
    inference is a full extra pass over the data), and hash-check the
    parsed rows against the parquet ground truth. Exercises doubles,
    timestamp_ntz with microseconds, and quoted strings."""
    path = scratch.call_dir("csv")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    (
        io.table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 0)
        .select(*cols)
        .write.mode("overwrite")
        .option("header", True)
        .option("timestampNTZFormat", _NTZ_FMT)
        .csv(path)
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string"
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampNTZFormat", _NTZ_FMT)
        .csv(path)
    )


_JSON_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props
FROM events
WHERE event_id % 101 = 0
"""


@register("scan_json_roundtrip", oracle=_JSON_ORACLE, tags=("ingest",))
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source: stage an events slice, read back with an
    explicit schema (no inference pass), hash-check against parquet.
    The props column is itself a JSON string, so the round-trip
    exercises nested quoting/escaping; value is a raw double (Jackson
    shortest-round-trip repr must parse back bit-identical)."""
    path = scratch.call_dir("json")
    (
        io.table(spark, sf_dir, "events")
        .where(F.col("event_id") % 101 == 0)
        .write.mode("overwrite")
        .option("timestampNTZFormat", _NTZ_FMT)
        .json(path)
    )
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    return (
        spark.read.schema(schema)
        .option("timestampNTZFormat", _NTZ_FMT)
        .json(path)
    )


_ORC_ORACLE = """
SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
       l_extendedprice, l_returnflag, l_shipdate
FROM lineitem
WHERE l_orderkey % 199 = 0
"""


@register("scan_orc_roundtrip", oracle=_ORC_ORACLE, tags=("ingest",))
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source: stage a lineitem slice as ORC and read it back —
    the third columnar format a lakehouse ingests alongside parquet
    (Hive-era warehouses hand over ORC far more often than CSV). The
    oracle reads the parquet ground truth, so the value-hash proves
    the ORC write+read preserved doubles, TIMESTAMP_NTZ, and strings
    cell-for-cell through ORC's own encoders (RLE v2, dictionary,
    timestamp epoch-join) — the parts that differ from parquet.

    Scale shape: identical to scan_parquet — columnar, splittable,
    predicate-pushdown-capable; the slice filter is applied before the
    write so the staged file is the slice, and the read-back plan is a
    plain pruned columnar scan."""
    path = scratch.call_dir("orc")
    cols = [
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    ]
    (
        io.table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 199 == 0)
        .select(*cols)
        .write.mode("overwrite")
        .orc(path)
    )
    return spark.read.orc(path).select(*cols)


@register("index_build_overwrite", tags=("ingest", "rows-only"))
def index_build_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R8 lifecycle: build the chunk+embedding index from a small
    corpus, then REBUILD it from a larger one at the same path — the
    read-back must reflect only the second build (the reference's
    'previous DB discarded' semantics, bones.py:112-114)."""
    index_path = scratch.call_dir("index")
    docs = io.table(spark, sf_dir, "documents")
    build_vector_index(
        docs.where(F.col("doc_id") < 20), index_path, chunk_size=120,
        overlap=30,
    )
    build_vector_index(
        docs.where(F.col("doc_id") < 60), index_path, chunk_size=120,
        overlap=30,
    )
    idx = read_index(spark, index_path)
    return idx.select(
        "chunk_id",
        "doc_id",
        "seq",
        F.size("embedding").alias("dim"),
        F.length("chunk").alias("chunk_len"),
    )


_JSON_CORRUPT_ORACLE = """
SELECT CASE WHEN event_id % 5 = 0 THEN '_corrupt'
            ELSE event_type END        AS bucket,
       CAST(count(*) AS BIGINT)        AS n
FROM events
WHERE event_id % 101 = 0
GROUP BY 1
"""


@register(
    "scan_json_corrupt_tolerant",
    oracle=_JSON_CORRUPT_ORACLE,
    tags=("ingest",),
)
def scan_json_corrupt_tolerant(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dirty-data ingestion contract: a JSONL source where a known
    subset of lines is malformed (every 5th event of the staged slice
    gets a leading-garbage prefix) must (a) parse every clean line
    normally and (b) land every corrupt line in ``_corrupt_record``
    under PERMISSIVE mode — never silently drop it. The output buckets
    rows by parsed event_type with corrupt lines under '_corrupt';
    because the corruption is injected deterministically by event_id,
    the oracle recomputes the same histogram from the parquet ground
    truth — so "corrupt rows are all accounted for" is hash-checked,
    not just asserted.

    At 100 TB this is the difference between a crawl ingest that
    quantifies its reject rate and one that silently loses data:
    PERMISSIVE + explicit corrupt-record column is the Spark-native
    quarantine pattern (FAILFAST would kill a day-long job on one bad
    line; DROPMALFORMED lies about coverage)."""
    path = scratch.call_dir("json_corrupt")
    line = F.to_json(
        F.struct("event_id", "event_type", "value")
    )
    (
        io.table(spark, sf_dir, "events")
        .where(F.col("event_id") % 101 == 0)
        .select(
            F.when(
                F.col("event_id") % 5 == 0,
                F.concat(F.lit("{oops"), line),
            )
            .otherwise(line)
            .alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    parsed = (
        spark.read.schema(
            "event_id bigint, event_type string, value double, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return (
        parsed.select(
            F.when(
                F.col("_corrupt_record").isNotNull(), "_corrupt"
            )
            .otherwise(F.col("event_type"))
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


_EVOLVE_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
           AS o_priority_v2
FROM orders
WHERE o_orderkey % 89 = 0
"""


@register(
    "scan_schema_evolution", oracle=_EVOLVE_ORACLE, tags=("ingest",)
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a table directory whose early files
    lack a column added later (every long-lived ingest directory ends
    up here) must read as ONE relation with NULLs for the missing
    column — ``mergeSchema`` — never by dropping old files or failing
    the scan. Batch 1 (even keys) is written without
    ``o_priority_v2``; batch 2 (odd keys) carries it; the oracle
    recomputes the expected NULL pattern from the parquet ground
    truth, so the merged read is hash-checked cell-for-cell.

    Scale note: mergeSchema=true on the READ does a footer pass over
    files — fine for a one-off audit; steady-state 100 TB tables
    should register the superset schema in the catalog and read with
    an explicit schema instead (documented here as the deployment
    guidance; the operator proves the engine handles the layout)."""
    path = scratch.call_dir("evolve")
    base = (
        io.table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 89 == 0)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    (
        base.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    (
        base.where(F.col("o_orderkey") % 2 == 1)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderpriority").alias("o_priority_v2"),
        )
        .write.mode("append")
        .parquet(path)
    )
    return (
        spark.read.option("mergeSchema", True)
        .parquet(path)
        .select("o_orderkey", "o_totalprice", "o_priority_v2")
    )


@register("index_time_travel", tags=("ingest", "rows-only"))
def index_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation lifecycle (sources/sink.py versioned
    writes): build index v1 from 20 docs, v2 from 60 — then read BOTH
    the pinned old version and the latest through the marker. Output
    is one row per (version, n_rows, is_latest): proves old versions
    stay readable after new commits (time travel) and the marker
    names the newest complete version. tests/test_ingest.py pins the
    lifecycle (immutability, marker flip, pinned-read stability)."""
    from conversadocs_spark.sources.sink import (
        read_versioned,
        write_versioned,
    )

    path = scratch.call_dir("tt")
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = write_versioned(docs.where(F.col("doc_id") < 20), path)
    v2 = write_versioned(docs.where(F.col("doc_id") < 60), path)
    rows = [
        (v1, read_versioned(spark, path, v1).count(), False),
        (v2, read_versioned(spark, path).count(), True),
    ]
    return spark.createDataFrame(
        rows, schema="version int, n_rows bigint, is_latest boolean"
    )


@register("ingest_datasource_scan", tags=("ingest", "rows-only"))
def ingest_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-format loader as a registered Spark DATA SOURCE
    (sources/datasource.py, Spark 4 Python DataSource API):
    ``spark.read.format("docscan").load(dir)`` — the idiomatic way a
    Spark user consumes the reference's R1/R2 directory ingest.
    Partitions are planned from the driver-side file listing
    (round-robin splits; unknown extensions dropped before any bytes
    are read) and each partition parses only its own files with the
    SAME kernels as the mapInPandas path.
    tests/test_ingest.py::test_datasource_scan_equals_mapinpandas pins
    row-for-row (and doc_id-for-doc_id) parity between the two."""
    corpus_dir = scratch.call_dir("corpus")
    stage_text_corpus(spark, sf_dir, corpus_dir, n_docs=50)
    from conversadocs_spark.sources.datasource import scan_documents_ds

    docs = scan_documents_ds(spark, corpus_dir)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.regexp_extract("source", r"(\.[a-z]+)$", 1).alias("ext"),
        "page",
    )


@register("index_vacuum", tags=("ingest", "rows-only"))
def index_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention lifecycle (sources/sink.py vacuum_versions — the
    VACUUM / expire_snapshots third of the versioned-table story
    next to write_versioned and read_versioned's time travel): build
    four index versions, vacuum with keep_last=2, then prove the
    retained versions still serve (row counts) and the expired ones
    are physically gone (directory absent, pinned read fails fast).

    Output: one row per version (version, retained, n_rows — -1 for
    vacuumed versions). Scale note: vacuum is driver-side metadata
    work proportional to the number of VERSIONS, never a data scan;
    the current-marker version is always retained even when
    keep_last would drop it (rollback safety — pinned by
    tests/test_ingest.py)."""
    from conversadocs_spark.sources.sink import (
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    path = scratch.call_dir("vac")
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    for cut in (10, 20, 40, 60):
        write_versioned(docs.where(F.col("doc_id") < cut), path)
    result = vacuum_versions(path, keep_last=2)
    rows = []
    for v in result["removed"]:
        rows.append((v, False, -1))
    for v in result["retained"]:
        rows.append((v, True, read_versioned(spark, path, v).count()))
    return spark.createDataFrame(
        rows, schema="version int, retained boolean, n_rows bigint"
    )
