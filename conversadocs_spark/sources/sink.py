"""Index build + overwrite lifecycle (reference R7/R8).

The reference materializes (chunk, vector) pairs in RAM and REBUILDS
the store from scratch on every upload, discarding the previous one
(/root/reference/conversadocs/bones.py:74,107-119; README.md:7 "the
vector database is replaced"). The Spark mapping: the index IS a
parquet table; "rebuild replaces previous" is overwrite-mode write.

At 100 TB the full-overwrite is the reference-faithful default, and
``partition_by`` enables the incremental posture (dynamic partition
overwrite rewrites only the partitions present in the new batch —
re-ingesting one source leaves the rest of the index untouched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from conversadocs_spark.operators.chunker import split_documents
from conversadocs_spark.operators.embed import (
    DEFAULT_EMBED_DIM,
    mock_embed_udf,
)


def write_index_overwrite(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
) -> None:
    """Replace the index at ``path`` with ``df`` (R8 semantics).

    With ``partition_by``, dynamic partition overwrite only replaces
    partitions that appear in ``df`` — the scale-friendly rebuild.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_by)
    writer.parquet(path)


def build_vector_index(
    docs: DataFrame,
    out_path: str,
    chunk_size: int = 1000,
    overlap: int = 150,
    dim: int = DEFAULT_EMBED_DIM,
) -> None:
    """The reference's full ingest job (SURVEY §3.1): documents ->
    recursive chunk split (R4) -> embed (R6) -> overwrite-mode index
    write (R7/R8). One linear pipeline, no shuffle until the write."""
    from pyspark.sql import functions as F

    chunks = split_documents(
        docs, chunk_size=chunk_size, overlap=overlap
    ).withColumn(
        "chunk_id", F.xxhash64("doc_id", "seq")
    )
    embedded = chunks.select(
        "chunk_id",
        "doc_id",
        "seq",
        "chunk",
        "source",
        mock_embed_udf(dim)(F.col("chunk")).alias("embedding"),
    )
    write_index_overwrite(embedded, out_path)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: str | None = None,
) -> int:
    """Rewrite the parquet table at ``path`` into files of
    ``target_file_bytes`` — the small-files compaction every
    long-running ingest needs (streaming foreachBatch appends and
    per-upload rebuilds both accrete tiny files; at 100 TB, listing
    and opening millions of kilobyte files dominates scan time long
    before row throughput does).

    File count is derived from the table's actual on-disk bytes (sum
    of data-file sizes via the filesystem listing — no data pass), so
    the rewrite is one shuffle-free coalesce when shrinking or a
    round-robin repartition when growing parallelism. Write goes to a
    temp dir then swaps in via overwrite-read of the compacted frame,
    keeping the operation idempotent on retry (the standard
    compact-then-swap; a real lakehouse would do this under a table
    format's transaction log — Delta/Iceberg — which this container
    does not ship, so the swap is the parquet-native equivalent).
    Returns the number of files written.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    current = df.rdd.getNumPartitions()
    compacted = (
        df.coalesce(n_files) if n_files <= current
        else df.repartition(n_files)
    )
    tmp = path.rstrip("/") + "._compact_tmp"
    writer = compacted.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)

    # swap: re-read the compacted copy and overwrite the original —
    # the read is lazy but the overwrite materializes from tmp, so
    # the source is never read-while-overwritten
    swapped = spark.read.parquet(tmp)
    w2 = swapped.write.mode("overwrite")
    if partition_by:
        w2 = w2.partitionBy(partition_by)
    w2.parquet(path)

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    written = 0
    for root, _dirs, files in os.walk(path):
        written += sum(f.endswith(".parquet") for f in files)
    return written


# --------------------------------------------------------------------------
# versioned writes + time-travel reads (poor-man's transaction log)
# --------------------------------------------------------------------------

_LATEST_MARKER = "_LATEST"


def write_versioned(
    df: DataFrame,
    table_path: str,
    manifest: dict | None = None,
    partition_by: str | list[str] | None = None,
) -> int:
    """Write ``df`` as a NEW immutable version under
    ``table_path/v=<n>`` and flip the ``_LATEST`` marker to it last —
    the minimal snapshot-isolation discipline a real table format
    (Delta/Iceberg, not shipped in this container) implements with a
    transaction log: data files are never mutated, readers pinned to
    an old version keep a consistent view, and the marker flip is the
    single commit point (a reader never sees a half-written version
    because the version dir is complete before the marker names it).

    Version ALLOCATION is made atomic with an exclusive ``os.mkdir``
    (retried on ``FileExistsError``), so two concurrent writers can
    never pick the same version number and overwrite each other's
    ``v=`` dir. The marker flip itself still assumes one LOGICAL
    writer stream (last flip wins — the same last-committer-wins
    semantics Delta gives concurrent blind appends); coordinate
    externally if two pipelines must not interleave commits to the
    same table.

    ``manifest`` (optional): a small JSON-serializable dict written
    as ``_manifest.json`` INSIDE the version dir before the marker
    flip — build-time statistics (row count, dims, index parameters)
    that serving-time planners read via :func:`read_manifest` instead
    of running count() jobs, the same move a table format makes with
    stats in its transaction log. ``partition_by`` partitions the
    version's data files (e.g. list_id for a pruned-probe IVF
    index). Returns the new version number."""
    import os

    os.makedirs(table_path, exist_ok=True)
    # Exclusive-create claims the version number atomically on any
    # local/NFS/FUSE filesystem with POSIX mkdir semantics; on a real
    # object store this is where a transaction-log conditional-put
    # (Delta's N.json create-if-absent) would go.
    while True:
        versions = [
            int(d.split("=", 1)[1])
            for d in os.listdir(table_path)
            if d.startswith("v=")
        ]
        new_v = max(versions, default=0) + 1
        try:
            os.mkdir(os.path.join(table_path, f"v={new_v}"))
            break
        except FileExistsError:  # concurrent writer claimed it first
            continue
    vdir = os.path.join(table_path, f"v={new_v}")
    writer = df.write.mode("overwrite")
    if partition_by:
        cols = (
            [partition_by]
            if isinstance(partition_by, str)
            else list(partition_by)
        )
        writer = writer.partitionBy(*cols)
    writer.parquet(vdir)
    if manifest is not None:
        import json

        with open(os.path.join(vdir, "_manifest.json"), "w") as fh:
            json.dump(manifest, fh)
    marker_tmp = os.path.join(table_path, _LATEST_MARKER + ".tmp")
    with open(marker_tmp, "w") as fh:
        fh.write(str(new_v))
    os.replace(marker_tmp, os.path.join(table_path, _LATEST_MARKER))
    return new_v


def _resolve_version(table_path: str, version: int | None) -> int:
    import os

    if version is None:
        with open(os.path.join(table_path, _LATEST_MARKER)) as fh:
            version = int(fh.read().strip())
    return version


def read_versioned(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a specific version (time travel) or the latest committed
    one (the marker, atomically swapped by write_versioned).

    The version dir is read through ``io.read_parquet``: resolved once
    per session while its files' fingerprint holds, each call with
    attribute ids of its own. A new version is a new path, and a
    version dir replaced by rename has a new fingerprint, so neither
    is served from a stale listing."""
    import os

    from conversadocs_spark.io import read_parquet

    version = _resolve_version(table_path, version)
    return read_parquet(spark, os.path.join(table_path, f"v={version}"))


def read_manifest(
    table_path: str, version: int | None = None
) -> dict | None:
    """Build-time statistics stamped by ``write_versioned(...,
    manifest=...)`` — a pure driver-side file read (NO Spark job), so
    a serving-time planner can make its brute-vs-index decision from
    the stamped n/dim/n_lists instead of count()ing the corpus per
    call. Returns None when the version carries no manifest."""
    import json
    import os

    version = _resolve_version(table_path, version)
    p = os.path.join(table_path, f"v={version}", "_manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def vacuum_versions(table_path: str, keep_last: int = 2) -> dict:
    """Retention for versioned tables — the third leg of the
    write_versioned / read_versioned lifecycle (Delta VACUUM /
    Iceberg expire_snapshots analog): delete version directories
    older than the newest ``keep_last``, ALWAYS retaining the version
    the ``_LATEST`` marker names (a marker pinned backwards by a
    manual rollback must never have its data vacuumed from under it).

    Returns ``{"removed": [...], "retained": [...]}`` (version
    numbers, ascending). Driver-side filesystem metadata work only —
    no Spark job: at any corpus size the cost is proportional to the
    number of VERSIONS, not rows (a real table format does the same
    from its transaction log; on an object store each rmtree becomes
    a batched delete of that snapshot's unreferenced files).

    Readers pinned to a vacuumed version fail fast on the missing
    path — the same contract Delta documents for time travel past the
    retention window.
    """
    import os
    import shutil

    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_path)
        if d.startswith("v=")
    )
    current = _resolve_version(table_path, None)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    keep.add(current)
    removed = [v for v in versions if v not in keep]
    for v in removed:
        shutil.rmtree(os.path.join(table_path, f"v={v}"))
    return {
        "removed": removed,
        "retained": [v for v in versions if v in keep],
    }
