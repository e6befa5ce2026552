"""Ingestion tests (R1/R2/R3 + R7/R8): format dispatch, unknown-ext
drop, tag stripping, empty-scan fallback, overwrite index lifecycle."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.sources.ingest import (
    DEFAULT_CORPUS,
    scan_documents,
    stage_text_corpus,
)
from conversadocs_spark.sources.sink import (
    build_vector_index,
    read_index,
    write_index_overwrite,
)

SCRATCH = "/root/repo/.ingest_stage"


def test_scan_parses_known_drops_unknown(spark, sf_dir):
    corpus = stage_text_corpus(
        spark, sf_dir, os.path.join(SCRATCH, "t_scan"), n_docs=30
    )
    docs = scan_documents(spark, corpus)
    rows = docs.collect()
    assert len(rows) == 30  # decoy .xyz dropped (R2)
    assert {tuple(docs.columns)} == {("doc_id", "text", "source", "page")}
    # html was wrapped in tags at staging; the parse must strip them
    html_rows = [r for r in rows if r.source.endswith(".html")]
    assert html_rows
    assert all("<" not in r.text for r in html_rows)
    # doc ids deterministic: re-scan yields identical ids
    again = {r.doc_id for r in scan_documents(spark, corpus).collect()}
    assert again == {r.doc_id for r in rows}


def test_scan_falls_back_to_default_corpus(spark, tmp_path):
    empty = tmp_path / "empty_corpus"
    empty.mkdir()
    (empty / "nope.xyz").write_text("unsupported")
    docs = scan_documents(spark, str(empty))
    rows = docs.collect()
    assert [r.text for r in rows] == list(DEFAULT_CORPUS)
    assert all(r.source == "demo://fallback" for r in rows)


def test_overwrite_replaces_previous_index(spark, sf_dir):
    path = os.path.join(SCRATCH, "t_index")
    docs = io.table(spark, sf_dir, "documents")
    build_vector_index(
        docs.where(F.col("doc_id") < 40), path, chunk_size=120, overlap=30
    )
    first = read_index(spark, path)
    n_first = first.count()
    first_docs = first.select("doc_id").distinct().count()
    assert first_docs == 40
    build_vector_index(
        docs.where(F.col("doc_id") < 10), path, chunk_size=120, overlap=30
    )
    second = read_index(spark, path)
    assert second.select("doc_id").distinct().count() == 10
    assert second.count() < n_first  # old rows gone, not appended
    # embedding plumbing: fixed dim, populated vectors
    assert (
        second.where(F.size("embedding") != 64).count() == 0
    )


def test_dynamic_partition_overwrite_keeps_other_partitions(
    spark, sf_dir
):
    path = os.path.join(SCRATCH, "t_part_index")
    docs = io.table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    write_index_overwrite(
        docs.where(F.col("doc_id") < 100), path, partition_by="lang"
    )
    before = read_index(spark, path)
    langs_before = {r.lang for r in before.select("lang").distinct().collect()}
    one_lang = sorted(langs_before)[0]
    replacement = docs.where(
        (F.col("doc_id") >= 100) & (F.col("lang") == one_lang)
    ).limit(5)
    write_index_overwrite(replacement, path, partition_by="lang")
    after = read_index(spark, path)
    # the replaced partition shrank to the new batch; others untouched
    assert after.where(F.col("lang") == one_lang).count() == 5
    assert (
        after.where(F.col("lang") != one_lang).count()
        == before.where(F.col("lang") != one_lang).count()
    )


def test_csv_json_roundtrips_match_oracle(spark):
    """Structured text sources: the staged CSV/JSON slices must parse
    back cell-identical to the parquet ground truth (doubles,
    microsecond NTZ timestamps, quoted/nested strings)."""
    from tests.conftest import SF_ORACLE
    from tests.oracle import assert_query_matches_oracle

    for name in ("scan_csv_roundtrip", "scan_json_roundtrip"):
        assert_query_matches_oracle(spark, name, SF_ORACLE)


def test_json_roundtrip_preserves_microseconds(spark):
    """The pinned timestampNTZFormat keeps sub-millisecond precision —
    the default format silently truncates to millis. The staged events
    slice carries real microseconds, so the query itself proves it."""
    from conversadocs_spark.plans import QUERIES
    from tests.conftest import SF_ORACLE

    df = QUERIES["scan_json_roundtrip"](spark, SF_ORACLE)
    micros = df.select(
        (F.unix_micros(F.col("ts").cast("timestamp")) % 1000).alias("us")
    )
    assert micros.where(F.col("us") != 0).count() > 0


def test_csv_roundtrip_preserves_microseconds(spark, tmp_path):
    """Same claim for the CSV path (the r5 version of this test named
    CSV but exercised JSON — ADVICE r5 item 3). The fixture orders
    slice the query stages is date-level, so drive the CSV
    writer/reader with the SAME pinned format over synthetic
    microsecond-precision NTZ timestamps and require a lossless
    round-trip."""
    import datetime as dt

    from conversadocs_spark.plans.ingestion import _NTZ_FMT

    rows = [
        (1, dt.datetime(2026, 8, 13, 1, 2, 3, 123456)),
        (2, dt.datetime(2026, 8, 13, 1, 2, 3, 999001)),
    ]
    src = spark.createDataFrame(rows, "id bigint, ts timestamp_ntz")
    path = str(tmp_path / "csv_micros")
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("timestampNTZFormat", _NTZ_FMT)
        .csv(path)
    )
    back = (
        spark.read.schema("id bigint, ts timestamp_ntz")
        .option("header", True)
        .option("timestampNTZFormat", _NTZ_FMT)
        .csv(path)
    )
    assert {tuple(r) for r in back.collect()} == set(rows)


def test_compact_table_collapses_small_files(spark, tmp_path):
    """A fragmented table (64 tiny files) compacts to the byte-derived
    file count with identical rows, and compaction is idempotent."""
    from conversadocs_spark.sources.sink import compact_table

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    df.repartition(64).write.parquet(path)
    import os

    def count_files(p):
        n = 0
        for root, _d, files in os.walk(p):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    assert count_files(path) == 64
    before = sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    )
    written = compact_table(spark, path, target_file_bytes=10**9)
    assert written == 1  # tiny table: everything fits one target file
    assert count_files(path) == 1
    after = sorted(
        r["doc_id"] for r in spark.read.parquet(path).collect()
    )
    assert after == before
    # idempotent: a second run is a no-op shape-wise
    assert compact_table(spark, path, target_file_bytes=10**9) == 1


def test_corrupt_json_lines_are_quarantined_verbatim(spark, call_dirs):
    """The PERMISSIVE read must keep every malformed line's raw text
    in _corrupt_record (so a quarantine replay is possible) and parse
    no fields from it."""
    from conversadocs_spark.plans import QUERIES  # noqa: F401 (registers)
    from tests.conftest import SF_ORACLE

    # the registered query stages the file as a side effect
    QUERIES["scan_json_corrupt_tolerant"](spark, SF_ORACLE).collect()
    (path,) = call_dirs["json_corrupt"]
    parsed = (
        spark.read.schema(
            "event_id bigint, event_type string, value double, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    from pyspark.sql import functions as F

    bad = parsed.where(F.col("_corrupt_record").isNotNull())
    rows = bad.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["_corrupt_record"].startswith("{oops")
        assert r["event_type"] is None and r["value"] is None


def test_orc_roundtrip_matches_oracle_and_writes_orc(spark, call_dirs):
    """The staged ORC slice must parse back cell-identical to the
    parquet ground truth, and the staged files must really be ORC
    (not a silently-defaulted format)."""
    import glob
    import os

    from tests.conftest import SF_ORACLE
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(spark, "scan_orc_roundtrip", SF_ORACLE)
    (orc_dir,) = call_dirs["orc"]
    files = glob.glob(os.path.join(orc_dir, "part-*"))
    assert files and all(f.endswith(".orc") for f in files)


def test_schema_evolution_read_fills_missing_column(spark):
    """Batch-1 rows (even keys, written without the column) must read
    back with o_priority_v2 NULL; batch-2 rows carry real values; the
    merged relation holds both file generations."""
    from conversadocs_spark.plans import QUERIES
    from tests.conftest import SF_ORACLE

    rows = QUERIES["scan_schema_evolution"](spark, SF_ORACLE).collect()
    assert rows
    evens = [r for r in rows if r["o_orderkey"] % 2 == 0]
    odds = [r for r in rows if r["o_orderkey"] % 2 == 1]
    assert evens and odds
    assert all(r["o_priority_v2"] is None for r in evens)
    assert all(r["o_priority_v2"] is not None for r in odds)


def test_versioned_writes_time_travel(spark, tmp_path):
    """Versioned-write lifecycle: v1 stays byte-stable after v2
    commits (time travel), the marker always names the newest
    complete version, and versions are immutable (re-reading v1
    yields identical rows before and after the v2 commit)."""
    from conversadocs_spark import io
    from conversadocs_spark.sources.sink import (
        read_versioned,
        write_versioned,
    )
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "tt")
    docs = io.table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    v1 = write_versioned(docs.where("doc_id < 5"), path)
    before = sorted(
        r["doc_id"] for r in read_versioned(spark, path, v1).collect()
    )
    v2 = write_versioned(docs.where("doc_id < 9"), path)
    assert (v1, v2) == (1, 2)
    after = sorted(
        r["doc_id"] for r in read_versioned(spark, path, v1).collect()
    )
    assert before == after == [0, 1, 2, 3, 4]
    latest = read_versioned(spark, path)
    assert latest.count() == 9


def test_datasource_scan_equals_mapinpandas(spark, tmp_path):
    """The docscan DataSource must yield row-for-row (incl. doc_id)
    exactly what the binaryFile+mapInPandas path yields on the same
    directory, and must plan multiple partitions for multiple files
    (partition-parallel parsing, not a single-task reader)."""
    from conversadocs_spark.sources.datasource import (
        DocScanReader,
        scan_documents_ds,
    )
    from conversadocs_spark.sources.ingest import (
        scan_documents,
        stage_text_corpus,
    )
    from tests.conftest import SF_ORACLE

    corpus = str(tmp_path / "corpus")
    stage_text_corpus(spark, SF_ORACLE, corpus, n_docs=30)
    a = {tuple(r) for r in scan_documents(spark, corpus).collect()}
    b = {tuple(r) for r in scan_documents_ds(spark, corpus).collect()}
    assert a == b and len(a) == 30
    parts = DocScanReader({"path": corpus, "numPartitions": "8"}).partitions()
    assert len(parts) == 8
    assert sum(len(p.files) for p in parts) == 30


def test_vacuum_versions_retention_and_rollback_guard(spark, tmp_path):
    """vacuum keeps the newest keep_last versions AND whatever the
    marker names (rollback safety), removes the rest physically, and
    pinned reads of an expired version fail fast."""
    import os

    import pytest

    from conversadocs_spark.sources.sink import (
        read_versioned,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    df1 = spark.range(5).withColumnRenamed("id", "doc_id")
    for _ in range(4):
        write_versioned(df1, path)

    out = vacuum_versions(path, keep_last=2)
    assert out == {"removed": [1, 2], "retained": [3, 4]}
    assert not os.path.exists(os.path.join(path, "v=1"))
    assert read_versioned(spark, path, 4).count() == 5
    with pytest.raises(Exception):
        read_versioned(spark, path, 1).count()

    # rollback guard: pin the marker back to v=3, then vacuum with
    # keep_last=1 — v=3 must survive alongside the newest v=4
    with open(os.path.join(path, "_LATEST"), "w") as fh:
        fh.write("3")
    out2 = vacuum_versions(path, keep_last=1)
    assert 3 in out2["retained"] and 4 in out2["retained"]
    assert read_versioned(spark, path).count() == 5


def test_index_vacuum_query_shape(spark, sf_dir):
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["index_vacuum"](spark, sf_dir).collect()
    by_v = {r.version: r for r in rows}
    assert len(by_v) == 4
    assert not by_v[1].retained and by_v[1].n_rows == -1
    assert not by_v[2].retained
    assert by_v[3].retained and by_v[3].n_rows >= 0
    assert by_v[4].retained and by_v[4].n_rows >= by_v[3].n_rows
