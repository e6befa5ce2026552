"""Scalar int8 quantization (SQ8) for embedding storage.

The reference stores float32 vectors RAM-resident
(/root/reference/conversadocs/bones.py:74 — DocArrayInMemorySearch);
at 100 TB the vector column's footprint is the serving bottleneck, and
the standard first lever (before PQ's 32x, operators/pq.py) is SQ8:
per-vector min/max affine quantization to one byte per dimension — 4x
smaller than float32, ~1-2% cosine error on unit-scale embeddings.

Design for determinism (so the quantized kNN is ORACLE-BACKED, unlike
the trained/approximate ANN families):
- per-VECTOR min/max bounds (no trained statistics, no data-dependent
  codebook) — quantization is a pure row-local expression;
- code = floor((x - qmin)/qscale + 0.5) - 128, stored as TINYINT
  (floor(z + 0.5) instead of round(z) because SQL round() semantics
  differ across engines at midpoints; floor is unambiguous);
- dequant xh = qmin + (code + 128) * qscale — double arithmetic,
  bit-identical in any IEEE engine evaluating the same expression.

Everything is pure Catalyst (transform/aggregate/zip_with, interpreted
JVM-side as CodegenFallback): no Python, no shuffle, storage-sized output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
) -> DataFrame:
    """Add SQ8 columns: ``out_col`` array<tinyint>, ``qmin`` double,
    ``qscale`` double. A constant vector (max == min) gets qscale 0
    and all-(-128) codes; dequantization returns the constant
    exactly."""
    v = F.col(vec_col)
    qmin = F.array_min(v).cast("double")
    qscale = (
        (F.array_max(v).cast("double") - qmin) / F.lit(255.0)
    )
    code = F.transform(
        v,
        lambda x: F.when(
            F.col("qscale") > 0,
            F.floor((x.cast("double") - F.col("qmin"))
                    / F.col("qscale") + F.lit(0.5)) - 128,
        ).otherwise(F.lit(-128)).cast("tinyint"),
    )
    return (
        df.withColumn("qmin", qmin)
        .withColumn("qscale", qscale)
        .withColumn(out_col, code)
    )


def dequantized(
    q_col: str = "q",
    qmin_col: str = "qmin",
    qscale_col: str = "qscale",
) -> Column:
    """array<double> reconstruction: qmin + (code + 128) * qscale."""
    return F.transform(
        F.col(q_col),
        lambda c: F.col(qmin_col)
        + (c.cast("double") + F.lit(128.0)) * F.col(qscale_col),
    )


# --------------------------------------------------------------------------
# 1-bit binary (sign) quantization — the tier below PQ
# --------------------------------------------------------------------------
#
# bit_i = 1 iff x_i > 0, packed 32 bits per BIGINT word. Sign
# binarization (vs a computed threshold like the per-vector mean) is
# deliberate: the bit is a pure comparison against the constant 0, so
# there is NO float accumulation anywhere in the code path and the
# packed words are bit-identical in any engine — which is what lets
# the binary kNN query be fully ORACLE-BACKED, unlike the trained ANN
# families. 32 bits per word (not 64) keeps every packed value far
# from the BIGINT sign bit, so the same packing is expressible in
# portable SQL without two's-complement edge cases.
#
# Storage: dim/32 BIGINTs = dim*8/32 bytes logical — 4 bytes per 32
# dims vs 128 for float32, the classic 32x shrink; the Hamming scan
# is integer XOR+POPCNT in interpreted zip_with/aggregate, JVM-side.

_WORD_BITS = 32


def binarize_sign(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "bwords",
) -> DataFrame:
    """Add ``out_col`` array<bigint>: sign bits of ``vec_col`` packed
    little-endian, 32 per word (last word zero-padded). Works for any
    dimension; no Python, no shuffle — one transform/aggregate
    expression per row."""
    v = F.col(vec_col)
    d = F.size(v)
    n_words = ((d - F.lit(1)) / F.lit(_WORD_BITS)).cast("int")
    # word = sum over its 32 bit positions, high-to-low Horner form:
    # acc*2 + bit  (pure integer arithmetic, no shifts needed)
    words = F.transform(
        F.sequence(F.lit(0), n_words),
        lambda w: F.aggregate(
            F.sequence(F.lit(_WORD_BITS - 1), F.lit(0), F.lit(-1)),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc * F.lit(2)
            + F.when(
                (w * _WORD_BITS + b < d)
                & (
                    F.element_at(
                        v, (w * _WORD_BITS + b + 1).cast("int")
                    ).cast("double")
                    > 0.0
                ),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("bigint"),
        ),
    )
    return df.withColumn(out_col, words)


def hamming_matches(a: Column, b: Column, dim: Column) -> Column:
    """Number of agreeing sign bits between two packed codes =
    dim - popcount(a XOR b), summed over words (int column). XOR and
    bit_count run word-at-a-time in interpreted zip_with/aggregate
    (CodegenFallback) — the binary scan reads 1/32nd of the float bytes
    and does no float math at all.

    PRECONDITION: ``a`` and ``b`` pack vectors of the SAME dimension
    and ``dim`` is that shared dimension (knn_binary passes the
    per-candidate ``F.size(embedding)``, which only equals the query
    dim on a uniform-dimension corpus). Mixed word counts would
    otherwise mis-score silently (ADVICE r8), so the expression
    guards itself: unequal code lengths yield NULL, which a top-k
    consumer surfaces as a missing score instead of an inflated
    match count."""
    diff = F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.when(
        F.size(a) == F.size(b), (dim - diff).cast("int")
    ).otherwise(F.lit(None).cast("int"))
