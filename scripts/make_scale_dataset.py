#!/usr/bin/env python
"""Synthesize an N-times-larger copy of a testdata dir by unioning it
N times with per-copy KEY OFFSETS, so join fan-out matches a genuinely
larger dataset (naive row duplication would multiply join outputs
quadratically). nation/region stay fixed — they are dimension tables
at every scale.

Usage:
    python scripts/make_scale_dataset.py [SRC] [DST] [COPIES]
    # defaults: /root/testdata/sf0.1 /tmp/sf1 10

Build every scale set from the unstrided sf0.1 fixture (sf1 = x10,
sf10 = x100). Chaining sf0.1 -> sf1 -> sf10 collides ids across
copies, so `build` refuses a source whose keys already reach a stride.
Used for the 10x scaling + correctness gate recorded in BASELINE.md
("Scaling check"); pair with scripts/scale_gate.py.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: per-table key columns and a per-copy stride safely above the
#: source key range at sf<=1
OFFSETS: dict[str, dict[str, int]] = {
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 100_000,
    },
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 1_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    # doc_id/vec_id stride must clear the +1_000_000 offset the dedup /
    # corpus_clean queries use to inject synthetic near-dup copies —
    # with a 1M stride the injected ids collide with real rows of the
    # next copy and the "injected duplicate" construction silently
    # stops meaning what it claims at scale.
    "documents": {"doc_id": 100_000_000},
    "embeddings": {"vec_id": 100_000_000},
}


def build(
    spark,
    src: str,
    dst: str,
    offsets: dict[str, dict[str, int]] = OFFSETS,
    copies: int = 10,
) -> None:
    """Write ``copies`` key-offset copies of each table in ``offsets``
    from ``src`` to ``dst``. Raises ValueError, before writing
    anything, when a source key's maximum already reaches its per-copy
    stride: copy i's ids would then overlap copy i+1's."""
    from pyspark.sql import functions as F

    from conversadocs_spark.io import table

    for t, offs in offsets.items():
        top = table(spark, src, t).agg(
            *[F.max(c).alias(c) for c in offs]
        ).first()
        over = {
            c: top[c] for c, step in offs.items()
            if top[c] is not None and top[c] >= step
        }
        if over:
            raise ValueError(
                f"{src}/{t}: key max {over} >= per-copy stride {offs}; "
                "build from an unstrided source (sf0.1), not from a "
                "scaled copy"
            )
    for t, offs in offsets.items():
        df = table(spark, src, t)
        out = None
        for i in range(copies):
            p = df
            for col, step in offs.items():
                p = p.withColumn(col, F.col(col) + F.lit(i * step))
            out = p if out is None else out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(t, spark.read.parquet(f"{dst}/{t}.parquet").count())


def main() -> None:
    from conversadocs_spark.io import table
    from conversadocs_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    spark = get_spark(app_name="make-scale-dataset")
    spark.sparkContext.setLogLevel("ERROR")

    build(spark, src, dst, OFFSETS, copies)
    for t in ("region", "nation"):
        table(spark, src, t).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )


if __name__ == "__main__":
    main()
