"""Streaming IVF index maintenance: new vectors arrive as a stream
and are assigned to FROZEN centroids via foreachBatch, appended into
the partitioned assignments table — the index stays queryable and
partition-pruned throughout.

This completes the index lifecycle (SURVEY §3.1 R7/R8 at scale):
`ivf_build` is the periodic full build, `ivf_search` the probe path,
and this module the between-builds increment — the posture every
vector store takes at 100 TB, where re-clustering per upload is
impossible. Freezing centroids between refreshes is the standard
trade (FAISS IVF add-after-train does the same): assignment quality
degrades only as the corpus distribution drifts, which the periodic
rebuild resets.

Idempotency: each micro-batch writes partition (batch_id, list_id)
with dynamic partition overwrite, so a redelivered batch replaces
itself (same contract as streaming/ops.py:foreach_batch_index_writer)
while probes still prune on list_id — batch_id adds a partition level,
not a scan cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

VECTORS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def stage_vector_files(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 3,
    min_id: int = 0,
) -> str:
    """Split embeddings with vec_id >= ``min_id`` into ``n_files``
    id-ordered parquet files under ``out_dir`` — the append-only
    arrival directory the stream replays."""
    from conversadocs_spark import io

    vec = (
        io.table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") >= min_id)
        .select("vec_id", "embedding", "label")
    )
    # TEST STAGING ONLY — never call from an operator: bounded by the
    # fixture's vector count, this collect just splits ids into the
    # n_files arrival batches the stream under test replays.
    ids = sorted(r["vec_id"] for r in vec.select("vec_id").collect())
    os.makedirs(out_dir, exist_ok=True)
    per = max(1, (len(ids) + n_files - 1) // n_files)
    for i in range(n_files):
        lo = ids[i * per] if i * per < len(ids) else None
        if lo is None:
            break
        hi = (
            ids[(i + 1) * per - 1]
            if (i + 1) * per - 1 < len(ids)
            else ids[-1]
        )
        (
            vec.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") <= hi)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"slice={i}"))
        )
    return out_dir


def read_vectors_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(VECTORS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def foreach_batch_ivf_assign(centroids: DataFrame, index_dir: str):
    """foreachBatch sink: assign the micro-batch to the frozen
    ``centroids`` (the zero-shuffle packed-centroid argmax from
    operators/ivf.py:_assign) and land it as idempotent
    (batch_id, list_id) partitions under ``index_dir``."""
    from conversadocs_spark.operators.ivf import _assign

    def write(batch_df: DataFrame, batch_id: int) -> None:
        assigned = _assign(batch_df, centroids)
        (
            assigned.select("vec_id", "embedding", "list_id")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "list_id")
            .parquet(index_dir)
        )

    return write
