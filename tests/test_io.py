"""The per-session relation cache behind ``io.table`` and
``sink.read_versioned`` (``io.read_parquet``): a repeat read runs no
Spark job, every read has attribute ids of its own, a changed file or
version dir is resolved again, and a cache never crosses sessions."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType, TimestampType

from conversadocs_spark import io
from conversadocs_spark.sources.sink import read_versioned, write_versioned
from tests.conftest import SF_SMOKE


def job_delta(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def attribute_ids(df) -> set[int]:
    plan = df._jdf.queryExecution().analyzed()
    return {int(i) for i in re.findall(r"#(\d+)", plan.output().mkString(","))}


def relation_session(df):
    return df._jdf.queryExecution().analyzed().relation().sparkSession()


def copy_fixture(tmp_path, name: str) -> str:
    """A private copy of one sf0.001 table, so no other test has read it."""
    sf = tmp_path / "sf"
    sf.mkdir(exist_ok=True)
    shutil.copy(f"{SF_SMOKE}/{name}.parquet", sf / f"{name}.parquet")
    return str(sf)


def test_repeat_table_read_runs_no_job(spark, tmp_path):
    sf = copy_fixture(tmp_path, "lineitem")
    _, first = job_delta(spark, lambda: io.table(spark, sf, "lineitem"))
    assert first >= 1, "an unseen path resolves with a schema-inference job"
    df, again = job_delta(spark, lambda: io.table(spark, sf, "lineitem"))
    assert again == 0, f"a repeat io.table read ran {again} Spark jobs"
    assert df.count() == pq.ParquetFile(f"{sf}/lineitem.parquet").metadata.num_rows


def test_reads_have_disjoint_ids_and_self_join_like_uncached(spark):
    a = io.table(spark, SF_SMOKE, "nation")
    b = io.table(spark, SF_SMOKE, "nation")
    assert attribute_ids(a).isdisjoint(attribute_ids(b))

    def pairs(x, y):
        return sorted(
            tuple(r) for r in x.join(y, x.n_regionkey == y.n_regionkey)
            .select(x.n_name, y.n_name).collect()
        )

    path = f"{SF_SMOKE}/nation.parquet"
    uncached = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert pairs(a, b) == uncached and len(uncached) == 125


def test_rewritten_file_is_resolved_again(spark, tmp_path):
    sf = copy_fixture(tmp_path, "nation")
    path = f"{sf}/nation.parquet"
    assert io.table(spark, sf, "nation").count() == 25
    # rewrite the file in place: fewer rows and one more column
    rewritten = pq.read_table(path).slice(0, 10)
    pq.write_table(rewritten.append_column("n_extra", pa.array(range(10))), path)
    df = io.table(spark, sf, "nation")
    assert "n_extra" in df.columns and df.count() == 10


def test_version_dir_replaced_by_rename_is_resolved_again(spark, tmp_path):
    table = str(tmp_path / "versioned")
    v = write_versioned(spark.range(30), table)
    assert read_versioned(spark, table).count() == 30
    _, again = job_delta(spark, lambda: read_versioned(spark, table, v))
    assert again == 0, "a repeat read of one version ran a Spark job"
    # publish a different v=1 the way a re-built stage is published:
    # write beside it, then swap the directory in with one rename
    staged = str(tmp_path / "staged")
    spark.range(7).write.parquet(staged)
    vdir = os.path.join(table, f"v={v}")
    shutil.rmtree(vdir)
    os.rename(staged, vdir)
    assert read_versioned(spark, table, v).count() == 7


def test_new_session_resolves_its_own_relation(spark):
    io.table(spark, SF_SMOKE, "region")
    other = spark.newSession()
    df, jobs = job_delta(other, lambda: io.table(other, SF_SMOKE, "region"))
    assert jobs >= 1, "the new session reused the first session's relation"
    assert relation_session(df).equals(other._jsparkSession)
    assert relation_session(io.table(spark, SF_SMOKE, "region")).equals(
        spark._jsparkSession
    )


def _first_ts(df) -> list:
    return [r.ts for r in df.orderBy("event_id").select("ts").take(3)]


def test_events_ts_is_timestamp_on_every_read(spark):
    """The fixtures store ``events.ts`` as TIMESTAMP(MICROS), which Spark
    reads as TIMESTAMP_NTZ; a repeat (cached) read keeps that type."""
    path = f"{SF_SMOKE}/events.parquet"
    want = spark.read.parquet(path).schema["ts"].dataType
    assert want == TimestampNTZType()
    first = io.table(spark, SF_SMOKE, "events")
    again = io.table(spark, SF_SMOKE, "events")
    assert first.schema["ts"].dataType == again.schema["ts"].dataType == want
    assert _first_ts(first) == _first_ts(again)


def test_nanos_events_resolve_per_session(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` needs nanosAsLong in the reading
    session's conf; a new session has it from ``get_spark``'s defaults,
    and the ns -> us projection applies to every read, cached or not."""
    table = pq.read_table(f"{SF_SMOKE}/events.parquet")
    i = table.schema.get_field_index("ts")
    micros = table["ts"].cast(pa.int64()).to_numpy()
    sf = tmp_path / "ns"
    sf.mkdir()
    pq.write_table(
        table.set_column(i, "ts", pa.array(micros * 1000 + 999, pa.timestamp("ns"))),
        sf / "events.parquet",
    )
    other = spark.newSession()
    first = io.table(other, str(sf), "events")
    again, jobs = job_delta(other, lambda: io.table(other, str(sf), "events"))
    assert jobs == 0
    for df in (first, again):
        assert df.schema["ts"].dataType == TimestampType()
        assert _first_ts(df) == _first_ts(io.table(spark, SF_SMOKE, "events"))


def test_threads_sharing_a_session_share_the_cache(spark, tmp_path):
    """More threads than cores read, re-resolve and drop paths of one
    session's cache at once: no call raises, and every DataFrame has
    its table's columns under attribute ids of its own."""
    import sys
    import threading

    sf = copy_fixture(tmp_path, "nation")
    copy_fixture(tmp_path, "region")
    results, errors = [], []

    def worker(k: int) -> None:
        try:
            for i in range(12):
                if i % 4 == 0:  # a new fingerprint: the next read misses
                    os.utime(f"{sf}/region.parquet", ns=(k * 100 + i,) * 2)
                if i % 6 == 0:  # a path that is read once, then deleted
                    root = tmp_path / f"w{k}-{i}"
                    root.mkdir()
                    gone = copy_fixture(root, "region")
                    results.append(("region", io.table(spark, gone, "region")))
                    shutil.rmtree(gone)
                name = ("nation", "region")[(k + i) % 2]
                results.append((name, io.table(spark, sf, name)))
        except Exception as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a reader hung"
    assert not errors, errors
    assert len(results) == 8 * 14
    columns = {
        name: spark.read.parquet(f"{sf}/{name}.parquet").columns
        for name in ("nation", "region")
    }
    assert all(df.columns == columns[name] for name, df in results)
    ids = [attribute_ids(df) for _, df in results]
    assert sum(map(len, ids)) == len(set().union(*ids))
