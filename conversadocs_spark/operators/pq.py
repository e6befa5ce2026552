"""Product quantization (PQ) — the memory-scale path for the
reference's exact top-k retrieval (R9, /root/reference/conversadocs/
bones.py:78), third ANN strategy alongside LSH (operators/lsh.py) and
IVF (operators/ivf.py).

LSH and IVF cut how many vectors a query *scores*; PQ cuts how many
bytes each vector *occupies*. A vector is split into ``m`` subvectors,
each quantized to one of ``ksub`` per-subspace centroids (Jégou,
Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011): the corpus is stored as ``m`` small ints per vector
— dim=64 float32 (256 B) becomes 8 codes (8 B), 32x — and a query is
scored against a code row with ``m`` table lookups instead of ``dim``
multiplies (asymmetric distance computation, ADC). At 100 TB this is
the difference between an index that fits executor memory and one
that doesn't; real deployments compose it with IVF cell pruning
(IVF-PQ) — here the coarse and fine quantizers are kept orthogonal so
either composes with the other's table.

Everything is DataFrame-native and deterministic, mirroring
operators/ivf.py:

- train: per-subspace Lloyd k-means with hash init
  (``xxhash64(id, sub) % ksub``) and exact-decimal means, so the
  codebook is independent of partitioning and retry-reproducible;
  each round's codebook is eagerly checkpointed.
- encode: ONE broadcast of the packed codebook (m*ksub*dsub doubles
  in a single row) against the corpus; all ``m`` argmin codes are
  computed inside a single Catalyst expression — the executed plan
  between corpus scan and codes is BroadcastNestedLoopJoin(1 row) +
  Project, zero Exchange (same contract as ivf._assign).
- search: per-query ADC lookup tables are built query-side (a
  broadcastable (m x ksub) grid per query), the corpus scan emits
  slim (query_id, vec_id, adc) rows, a top-``pool`` window prunes,
  and exact cosine re-ranks only the pooled candidates — the standard
  ADC + refine scheme, so recall is governed by ``pool`` exactly as
  nprobe governs IVF.

Vectors are L2-normalized before train/encode so the ADC inner
product approximates cosine — the reference's ranking function —
rather than favoring long vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conversadocs_spark.functions.vector import (
    cosine_similarity,
    l2_normalize,
)
from conversadocs_spark.operators.ivf import (
    _cell_means,
    _md5_60bit,
    _probe,
    ivf_build,
)
from conversadocs_spark.operators.knn import topk


def _fold(a: Column, b: Column, term) -> Column:
    """sum(term(a_i, b_i)) over two arrays, as doubles."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: term(x.cast("double"), y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pack(codebook: DataFrame) -> DataFrame:
    """Fold the (sub, code, centroid) codebook into ONE row for
    broadcast: m*ksub*dsub doubles (8*16*8 = 1 KiB here; even
    m=64, ksub=256, dsub=16 is 2 MB — always broadcastable)."""
    return codebook.agg(
        F.collect_list(F.struct("sub", "code", "centroid")).alias("cb")
    )


def _codes_expr(
    vec: Column, m: int, dsub: int, digits: int = 9
) -> Column:
    """All m nearest-code assignments in one expression over the
    broadcast ``cb`` row — no explode, no shuffle. Tie-break on the
    lowest code via the negated field in the struct ordering.
    ``digits`` rounds the argmin distances (9 production; the md5
    twin uses 6 so cross-engine summation-order noise sits far
    inside one rounding step — the ivf_exact_md5 rule)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: -(
            F.array_max(
                F.transform(
                    F.filter(F.col("cb"), lambda e: e["sub"] == j),
                    lambda e: F.struct(
                        F.round(
                            -_fold(
                                F.slice(vec, j * dsub + 1, F.lit(dsub)),
                                e["centroid"],
                                lambda x, y: (x - y) * (x - y),
                            ),
                            digits,
                        ).alias("nd"),
                        (-e["code"]).alias("negcode"),
                    ),
                )
            )["negcode"]
        ).cast("int"),
    )


def pq_encode(
    normed: DataFrame,
    codebook: DataFrame,
    m: int,
    dsub: int,
    digits: int = 9,
) -> DataFrame:
    """``normed``'s columns + codes array<int> — the PQ-compressed
    corpus of (vec_id, embedding[, list_id]) rows. At 100 TB you
    persist (vec_id, codes) and drop the raw vectors from the hot
    index; here the vector rides along for training."""
    return normed.crossJoin(F.broadcast(_pack(codebook))).select(
        *normed.columns,
        _codes_expr(F.col("embedding"), m, dsub, digits).alias("codes"),
    )


def _normed(vectors: DataFrame, *keep: str) -> DataFrame:
    """(vec_id, *keep, embedding) with the embedding L2-normalized."""
    return vectors.select(
        "vec_id", *keep, l2_normalize(F.col("embedding")).alias("embedding")
    )


def _train(
    vectors: DataFrame,
    dim: int,
    m: int,
    code0: Column,
    refine_iters: int,
    digits: int,
) -> DataFrame:
    """Per-subspace Lloyd k-means over (vec_id, embedding) rows ->
    codebook (sub, code, centroid): initial codes ``code0`` (an
    expression over vec_id and sub), then ``refine_iters`` rounds of
    :func:`pq_encode` (argmin distances rounded to ``digits``) and the
    per-(sub, code) exact-decimal means (ivf._cell_means).

    Each codebook (<= m*ksub rows) is eagerly localCheckpointed, the
    ivf._lloyd lineage rule: without it a round's plan embeds every
    earlier round's means + argmin chain per action."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    subs = vectors.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding"), j * dsub + 1, dsub)
                    for j in range(m)
                ]
            )
        ).alias("sub", "subvec"),
    ).withColumn("code", code0.cast("int"))
    cell = ("sub", "code")
    codebook = _cell_means(subs, cell, "subvec").localCheckpoint(eager=True)
    for _ in range(refine_iters):
        assigned = pq_encode(vectors, codebook, m, dsub, digits).select(
            "embedding", F.posexplode("codes").alias("sub", "code")
        ).select(
            "sub",
            "code",
            F.slice(
                F.col("embedding"), F.col("sub") * dsub + 1, F.lit(dsub)
            ).alias("subvec"),
        )
        codebook = _cell_means(assigned, cell, "subvec").localCheckpoint(
            eager=True
        )
    return codebook


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    refine_iters: int = 2,
) -> DataFrame:
    """Train the per-subspace codebooks: (sub, code, centroid).

    Each refine pass is one broadcast-encode over the corpus plus one
    dim-exploded aggregation — nothing shuffles wider than
    (sub, code, pos). Real systems train on a bounded sample of the
    corpus (the codebook is a statistic, not an index); the full-pass
    form here keeps the query deterministic end to end. Hash init:
    deterministic, seedless, no sampling action.
    """
    code0 = F.pmod(
        F.xxhash64(F.col("vec_id"), F.col("sub")), F.lit(ksub)
    )
    return _train(_normed(vectors), dim, m, code0, refine_iters, 9)


def _adc_topk(
    encoded: DataFrame,
    probes: DataFrame,
    codebook: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    *,
    dim: int,
    m: int,
    ksub: int,
    k: int,
    pool: int,
    digits: int = 9,
    table_digits: int | None = 9,
    on: str | None = None,
) -> DataFrame:
    """The PQ search: ADC scan, top-``pool`` per query, exact refine
    -> (query_id, vec_id, sim, rank<=k).

    ``probes`` holds (query_id, query_vec, qv) rows, ``qv`` being the
    vector the query's ADC table is built from: tab[j][c] = <qv_j,
    centroid[j][c]>, each entry rounded to ``table_digits`` (None:
    unrounded); missing codes (cells emptied during Lloyd) fill with
    -1e9, so an indexed lookup can never silently misalign. Each
    ``encoded`` row is scored against the tables of every probe row
    (or, with ``on``, of the probe rows sharing its ``on`` key: an IVF
    cell) as the sum of its m code lookups, rounded to ``digits``.

    Scale shape: the corpus-sized stage reads ONLY (id, codes) and
    emits slim (query_id, vec_id, adc) rows — m lookups per pair, no
    raw vectors move until the pool prunes to pool*|queries| rows;
    the exact re-rank joins ``vectors`` for just those."""
    dsub = dim // m

    def entry(j, e):
        dot = _fold(
            F.slice(F.col("qv"), j * dsub + 1, F.lit(dsub)),
            e["centroid"],
            lambda x, y: x * y,
        )
        return dot if table_digits is None else F.round(dot, table_digits)

    tab = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda c: F.coalesce(
                # F.get (0-indexed) returns NULL on the empty array a
                # Lloyd-emptied cell produces — element_at would raise
                # under ANSI mode
                F.get(
                    F.transform(
                        F.filter(
                            F.col("cb"),
                            lambda e: (e["sub"] == j) & (e["code"] == c),
                        ),
                        lambda e: entry(j, e),
                    ),
                    0,
                ),
                F.lit(-1e9),
            ),
        ),
    )
    qtab = F.broadcast(
        probes.crossJoin(F.broadcast(_pack(codebook))).select(
            *probes.columns, tab.alias("tab")
        )
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("tab"),
            lambda c, t: F.element_at(t, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scanned = encoded.join(qtab, on) if on else encoded.crossJoin(qtab)
    cand = scanned.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.round(adc, digits).alias("adc")
    )
    pooled = topk(
        cand, pool, [F.desc("adc"), F.asc("vec_id")],
        by="query_id", rank="rn",
    ).select("query_id", "vec_id")
    refined = pooled.join(
        vectors.select("vec_id", "embedding"), on="vec_id"
    ).join(
        F.broadcast(queries.select("query_id", "query_vec")),
        on="query_id",
    )
    sim = cosine_similarity(F.col("embedding"), F.col("query_vec"))
    return topk(
        refined.select("query_id", "vec_id", F.round(sim, 6).alias("sim")),
        k, [F.desc("sim"), F.asc("vec_id")], by="query_id",
    )


def _with_qv(queries: DataFrame) -> DataFrame:
    """(query_id, query_vec, qv): the L2-normalized query beside the
    raw one."""
    return queries.select(
        "query_id",
        "query_vec",
        l2_normalize(F.col("query_vec")).alias("qv"),
    )


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    m: int = 8,
    ksub: int = 16,
    pool: int = 48,
    refine_iters: int = 2,
) -> DataFrame:
    """ADC scan + exact refine: (query_id, vec_id, sim, rank<=k).

    Train (:func:`pq_train`), encode the normalized corpus, then the
    PQ search (:func:`_adc_topk`) against normalized queries.
    recall/pool is the PQ knob exactly as recall/nprobe is IVF's
    (tests/test_vector.py pins the floor on the uniform-random
    worst-case fixtures).
    """
    codebook = pq_train(vectors, dim, m, ksub, refine_iters)
    encoded = pq_encode(_normed(vectors), codebook, m, dim // m)
    return _adc_topk(
        encoded, _with_qv(queries), codebook, vectors, queries,
        dim=dim, m=m, ksub=ksub, k=k, pool=pool,
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_lists: int = 16,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    pool: int = 48,
    refine_iters: int = 2,
) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN pairing (FAISS's
    default index family): IVF's coarse quantizer prunes WHICH vectors
    are scored (nprobe/n_lists of the corpus), PQ's fine quantizer
    shrinks WHAT is scored (m bytes instead of dim floats), and the
    two multiply — at nprobe/n_lists = 1/2 and 32x code compression
    the scored bytes drop ~64x versus a brute scan before the exact
    refine touches a single raw vector.

    Composition, not new machinery: ivf_build assigns cells
    (operators/ivf.py), pq_train/pq_encode compress members (this
    module), the IVF probe (ivf._probe, on the normalized query)
    picks each query's cells, and the PQ search (:func:`_adc_topk`)
    scores only the members of those cells. At 100 TB the persisted
    index is (list_id-partitioned codes) — probes read nprobe
    partitions of m-byte rows.
    """
    assigned, centroids = ivf_build(
        vectors, n_lists=n_lists, refine_iters=refine_iters
    )
    codebook = pq_train(vectors, dim, m, ksub, refine_iters)
    encoded = pq_encode(
        _normed(assigned, "list_id"), codebook, m, dim // m
    )
    probes = _probe(_with_qv(queries), centroids, nprobe, qvec="qv")
    return _adc_topk(
        encoded, probes, codebook, vectors, queries,
        dim=dim, m=m, ksub=ksub, k=k, pool=pool, on="list_id",
    )


def pq_exact_md5(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    k: int = 3,
    pool: int = 32,
) -> DataFrame:
    """Oracle-REPLAYABLE PQ twin (the md5-twin recipe's fourth
    application — simhash r13, MinHash r14, IVF + LSH r15 — closing
    the ANN ladder): it runs the production training loop
    (:func:`_train`, as :func:`pq_train` does), :func:`pq_encode` and
    the PQ search (:func:`_adc_topk`, as :func:`pq_topk` does), with
    every non-replayable ingredient swapped for one DuckDB recomputes
    bit for bit:

    - init: ``code0 = md5_60bit("id:sub") % ksub`` instead of
      xxhash64 (both engines evaluate the identical hex arithmetic);
    - ONE fixed Lloyd refinement round (static chained-CTE plan);
    - RAW vectors and queries, no L2 normalize: the twin's checkable
      contract is the quantization machinery (subspace split, cell
      means, argmin codes, ADC lookups, pool, refine), and dividing
      by a float-summed norm ahead of the decimal-exact mean stage
      would inject the one cross-engine noise source the recipe
      exists to avoid; the exact re-rank stays cosine, so the emitted
      ranking contract matches the ladder's other twins;
    - argmin distances rounded to 6, ADC table entries unrounded and
      their sum rounded to 6 BEFORE any rank (noise ~1e-15 sits 9
      orders inside the step), ties on lowest code / vec_id.

    Per-(sub, code, pos) means go through the production exact
    DECIMAL(28,10) sums unchanged. Production stays :func:`pq_topk`
    with its recall audits; this twin is for bounded value-checked
    fixtures."""
    raw = vectors.select("vec_id", "embedding")
    code0 = F.pmod(
        _md5_60bit(
            F.concat_ws(
                ":",
                F.col("vec_id").cast("string"),
                F.col("sub").cast("string"),
            )
        ),
        F.lit(ksub),
    )
    codebook = _train(raw, dim, m, code0, refine_iters=1, digits=6)
    encoded = pq_encode(raw, codebook, m, dim // m, digits=6)
    probes = queries.select(
        "query_id", "query_vec", F.col("query_vec").alias("qv")
    )
    return _adc_topk(
        encoded, probes, codebook, vectors, queries,
        dim=dim, m=m, ksub=ksub, k=k, pool=pool,
        digits=6, table_digits=None,
    )
