"""Vector math as Catalyst expressions over array<float|double> columns.

Reference semantics: the reference embeds chunks with a 384-dim
L2-normalized sentence-transformer and ranks by exact cosine similarity
(/root/reference/conversadocs/bones.py:71, bones.py:74, bones.py:78).
Here the same math is expressed with ``zip_with`` + ``aggregate`` higher
order functions so it runs JVM-side, interpreted (Spark 4.1 implements
them as CodegenFallback) — no Python in the hot path, dimension-agnostic
(FIXTURES.md: test dim is 64, the reference's model is 384).

All lambdas cast to double before multiplying so Spark (float32 arrays)
and the DuckDB oracle agree to well past the round(6) tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Sum_i a[i]*b[i] via zip_with + aggregate (interpreted, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm ||a||_2."""
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Exact cosine similarity — the reference's ranking function."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    """a / ||a||_2 as array<double>; keeps downstream dot == cosine.

    NOTE: the norm expression is referenced inside the transform
    lambda, and Catalyst re-evaluates non-attribute expressions once
    per element (no CSE across lambda bodies — see shingle_docs in
    operators/dedup.py for the measured 10x case). For hot paths,
    bind the norm as a column first and divide by the attribute."""
    n = l2_norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)
