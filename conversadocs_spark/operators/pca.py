"""Distributed PCA over an embedding column — dimensionality
reduction ahead of ANN indexing / visualization (the classic
companion to product quantization: FAISS composes OPQ/PCA rotation
before IVF-PQ; reference retrieval is R9,
/root/reference/conversadocs/bones.py:78).

Scale shape (the standard two-phase distributed PCA):

1. **Sufficient statistics, one corpus pass**: each Arrow batch
   computes its own (count, sum vector, X^T X Gram matrix) with
   numpy — per-batch work is BLAS, Python overhead is O(1) per batch
   — and emits ONE row carrying the flattened d x d matrix. The
   merge is an element-wise sum of (1 + d + d^2) doubles per batch:
   for d=64 that's a 33 KB row, and the shuffle carries batch-count
   rows, not corpus rows. (A pure-Catalyst posexplode(i) x
   posexplode(j) form is corpus x d^2 rows of compute — correct but
   needlessly burns d^2 expression evals per row; the batch-Gram form
   is how every distributed PCA actually ships.)
2. **Driver eigendecomposition of the d x d covariance** — a model
   statistic (d=64 -> 32 KB), NOT data; numpy.linalg.eigh on a
   symmetric matrix, components sign-fixed (largest-|coefficient|
   entry made positive) so the model is deterministic — eigenvectors
   are otherwise defined only up to sign and numpy's choice is
   platform-dependent.
3. **Projection as a Catalyst expression**: components are packed
   into one broadcast row; projected[j] = <x - mean, comp_j> runs
   JVM-side (interpreted HOFs) — the corpus-sized stage has
   zero Python and zero shuffle, same contract as pq_encode /
   ivf._assign.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversadocs_spark.serde import pickle_module_by_value


def _batch_stats(vec_col: str):
    def stats(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [int(x.shape[0])],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    return stats


def pca_fit(
    vectors: DataFrame,
    n_components: int = 8,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One corpus pass -> (mean[d], components[q, d], explained_var[q]).

    The reduce is a single-row aggregate of the per-batch sufficient
    statistics (element-wise array sums via zip_with under
    ``F.aggregate``'s merge — exact up to float addition; batch count
    is tiny so order effects are far below model tolerance)."""
    stats = vectors.select(vec_col).mapInPandas(
        _batch_stats(vec_col),
        schema="n long, s array<double>, g array<double>",
    )
    merged = stats.agg(
        F.sum("n").alias("n"),
        F.aggregate(
            F.collect_list("s"),
            F.lit(None).cast("array<double>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.zip_with(acc, x, lambda a, b: a + b)
            ),
        ).alias("s"),
        F.aggregate(
            F.collect_list("g"),
            F.lit(None).cast("array<double>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.zip_with(acc, x, lambda a, b: a + b)
            ),
        ).alias("g"),
    ).first()
    n = merged["n"]
    s = np.asarray(merged["s"])
    d = s.shape[0]
    g = np.asarray(merged["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (q, d)
    var = evals[order]
    # deterministic sign: largest-|coefficient| entry positive
    for j in range(comps.shape[0]):
        k = int(np.argmax(np.abs(comps[j])))
        if comps[j, k] < 0:
            comps[j] = -comps[j]
    return mean, comps, var


def pca_project(
    vectors: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """projected[j] = <x - mean, comp_j> as pure Catalyst expressions
    over literal arrays — no Python, no shuffle on the corpus."""
    mean_arr = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(
        F.col(vec_col), mean_arr, lambda x, m_: x.cast("double") - m_
    )
    projs = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(v)) for v in comp]),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in components
    ]
    return vectors.select(id_col, F.array(*projs).alias(out_col))


pickle_module_by_value(__name__)


def pca_top_component_fixedpoint(
    vectors: DataFrame,
    dim: int = 16,
    scale_x: int = 1000,
    scale_v: int = 10_000,
    iters: int = 400,
    vec_col: str = "embedding",
) -> list[int]:
    """Dominant principal component by FIXED-POINT power iteration —
    the oracle-replayable sibling of :func:`pca_fit` (the promotion
    path PageRank/LR took: eigh() floats cannot be cross-engine
    replayed, but a fixed-T power iteration in BIGINT can).

    ONE map-side-combinable aggregate job computes the integer
    sufficient statistics over the ``dim``-prefix of the embeddings
    (the matryoshka precedent), quantized at ``scale_x`` milli-units:
    n, the 16 coordinate sums, and the 136 upper-triangle second
    moments. The driver then forms the EXACT integer scatter matrix
    via the expansion C_ij = Sxx_ij - m_i*Sx_j - m_j*Sx_i + n*m_i*m_j
    (exact BECAUSE m is the truncated integer mean — a constant — so
    the identity holds in integers, no float covariance anywhere),
    and runs ``iters`` power-iteration rounds with max-|w| fixed-point
    normalization, every division truncating toward zero
    (logreg.tdiv == DuckDB // == Spark div).

    iters=400 because the fixture covariance is near-isotropic
    (top eigengap ~1.015 at sf0.01): convergence is (l2/l1)^T, and
    400 rounds measure cos >= 0.99998 against numpy's top
    eigenvector of the SAME integer scatter matrix at sf0.01/sf0.1
    (pinned in tests/test_vector.py). The iteration is driver-side
    integer arithmetic on a dim x dim matrix — model state, zero
    Spark jobs after the one aggregate.

    Returns the loading vector in ``scale_v`` fixed-point units.
    Scale shape: the single corpus pass is the only data-sized work;
    the statistics row is (1 + dim + dim(dim+1)/2) BIGINTs.
    """
    from conversadocs_spark.operators.logreg import tdiv

    x = F.transform(
        F.slice(F.col(vec_col), 1, dim),
        lambda e: F.floor(
            e.cast("double") * scale_x + F.lit(0.5)
        ).cast("long"),
    )
    staged = vectors.select(x.alias("x"))
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [
        F.sum(F.element_at("x", i + 1)).alias(f"s{i}")
        for i in range(dim)
    ]
    aggs += [
        F.sum(
            F.element_at("x", i + 1) * F.element_at("x", j + 1)
        ).alias(f"g{i}_{j}")
        for i in range(dim)
        for j in range(i, dim)
    ]
    row = staged.agg(*aggs).first()
    n = int(row["n"])
    sx = [int(row[f"s{i}"]) for i in range(dim)]
    m = [tdiv(s, n) for s in sx]
    C = [[0] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            c = (
                int(row[f"g{i}_{j}"])
                - m[i] * sx[j]
                - m[j] * sx[i]
                + n * m[i] * m[j]
            )
            C[i][j] = C[j][i] = c
    v = [scale_v] * dim
    for _ in range(iters):
        w = [
            sum(C[i][j] * v[j] for j in range(dim))
            for i in range(dim)
        ]
        mx = max(max(abs(val) for val in w), 1)
        v = [tdiv(val * scale_v, mx) for val in w]
    return v
