"""Top-k retrieval core — the reference's one retrieval loop.

Reference: ``db.as_retriever(search_type="similarity", search_kwargs=
{"k": k})`` over an in-memory exact store (reference bones.py:74,
bones.py:78) — embed the query, exact cosine against ALL vectors, keep
the k best (k in [1,5], default 3; reference app.py:116), optionally
rescoring a shortlist first.

The exact-retrieval plans (the knn_* and multivec_maxsim* builders
in plans/vector.py, knn_per_query and its callers, hybrid_rrf's dense
list) and the ANN ladder (operators/ivf.py's cell probe and re-rank,
operators/pq.py's ADC pool and refine, operators/lsh.py's bucket
re-rank) keep their k best rows through :func:`topk`, and every
shortlist -> rescore -> top-k through :func:`two_stage_topk`
(:func:`rescore` is its middle stage; knn_filtered_int8_batch keeps
its tie-aware band shortlist and uses the other two), so the
single-query / batch plan choice is made in one place:

- One query (``by=None``): ``orderBy(*order).limit(k)``, which
  Catalyst plans as TakeOrderedAndProject — the scan streams once and
  only k rows per partition reach the driver stage: no full sort, no
  shuffle of the data. This is the plan that survives 100 TB: a full
  scan with a constant-memory reducer.
- A query batch (``by="query_id"``): a ``row_number()`` window per
  query plus a ``<= k`` filter. The window partitions by the query key
  (Q groups), so only the caller's skinny scored projection shuffles,
  never the corpus; the single-query TakeOrdered has no multi-query
  analog.

Scoring stays with the caller: the core never builds a similarity
expression, it ranks the one it is given. :func:`row_cosine` and
:func:`knn_per_query` are the exact-cosine scorers of the single-query
and batch forms; :func:`cosine_topk` is the batch form's scorer over
candidate pairs, shared with the IVF and LSH re-ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from conversadocs_spark.functions.vector import dot_product, l2_norm


def topk(
    df: DataFrame,
    k: int,
    order: list[Column],
    by: str | None = None,
    rank: str = "rank",
) -> DataFrame:
    """The k best rows of ``df`` under ``order`` (best first, the last
    key a unique tie-break), over the whole relation or per ``by``
    group. The grouped form numbers each group's rows 1.. in column
    ``rank``; callers that do not return the number drop it (a no-op
    on the single-query form, which adds no column)."""
    if by is None:
        return df.orderBy(*order).limit(k)
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).where(
        F.col(rank) <= k
    )


def rescore(
    shortlist: DataFrame,
    coarse: str,
    sim: Column,
    by: str | None = None,
    vectors: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """([by,] vec_id, coarse, sim): a shortlist's rows rescored with the
    exact ``sim`` expression.

    The relation ``sim`` reads is the caller's choice: a shortlist
    that carries the float vector along is rescored in place;
    otherwise the shortlist is broadcast back into ``vectors`` on
    ``vec_id`` (the corpus side is never hashed or shuffled), and
    ``queries`` — one row per ``by`` key — is broadcast onto it on
    ``by``. Both broadcast sides are bounded by the query batch: the
    shortlist's rows per query and one query row per query."""
    keys = ["vec_id"] if by is None else [by, "vec_id"]
    if vectors is not None:
        shortlist = F.broadcast(shortlist).join(vectors, "vec_id")
    if queries is not None:
        shortlist = shortlist.join(F.broadcast(queries), by)
    return shortlist.select(*keys, coarse, sim.alias("sim"))


def two_stage_topk(
    scored: DataFrame,
    n: int,
    k: int,
    coarse: str,
    sim: Column,
    by: str | None = None,
    vectors: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Shortlist -> rescore -> top-k: the ``n`` best rows of ``scored`` by
    its coarse score column ``coarse``, rescored (:func:`rescore`, same
    arguments), and the ``k`` best of those by ``sim``; ties go to the
    lower ``vec_id`` at both stages. Returns ([by,] vec_id, coarse,
    sim)."""
    shortlist = topk(
        scored, n, [F.desc(coarse), F.asc("vec_id")], by, rank="rn"
    ).drop("rn")
    rescored = rescore(shortlist, coarse, sim, by, vectors, queries)
    return topk(
        rescored, k, [F.desc("sim"), F.asc("vec_id")], by, rank="rk"
    ).drop("rk")


def row_cosine(
    corpus: DataFrame, vectors: DataFrame, query_id: int
) -> DataFrame:
    """(vec_id, sim): every ``corpus`` row except ``query_id`` scored by
    cosine against the stored vector ``query_id`` of ``vectors``, sim
    rounded to 6 decimals (the oracle float rule). The query row is
    looked up in ``vectors``, so a query outside a filtered corpus
    still works.

    The 1-row query side is cross-joined via broadcast — Catalyst
    plans a BroadcastNestedLoopJoin with a single broadcast row, so the
    corpus streams exactly once — and carries the query norm, computed
    ONCE there: an inline cosine would re-fold it per corpus row (same
    expression tree, bit-identical values)."""
    q = vectors.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("_qvec"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    sim = dot_product(F.col("embedding"), F.col("_qvec")) / (
        l2_norm(F.col("embedding")) * F.col("_qn")
    )
    return (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_id)
        .select("vec_id", F.round(sim, 6).alias("sim"))
    )


def knn_per_query(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query for a BATCH of query vectors
    ((query_id, query_vec) rows): (query_id, vec_id, sim, rank).

    ``exclude_self=True`` drops corpus rows whose id equals the
    query's id BEFORE the top-k (so k still fills) — the same contract
    ivf_search / ivfpq_topk apply unconditionally. The planner
    dispatches (operators/planner.py) set it so the physical strategy
    choice can never change results for callers whose query ids
    overlap corpus ids; the default stays False for the plain
    disjoint-id retrieval queries whose oracles do not exclude.

    Plan shape: broadcast(queries) × vectors → sim → :func:`topk` per
    query. The corpus never shuffles; only Q×N sim rows flow into the
    rank filter. At scale, swap the crossJoin for an LSH bucket join
    (operators/lsh.py) when Q×N is too large — same downstream shape.

    Norms are hoisted ABOVE the Q×N fan-out (the MaxSim r11 lesson:
    Catalyst has no CSE across projected expressions, so an inlined
    cosine recomputes each corpus row's norm once per query and each
    query's norm once per corpus row — Q- and N-fold redundant
    64-element aggregates). dot/( _n * _qn ) is the identical
    expression tree cosine_similarity builds, evaluated on identical
    doubles, so results — and every downstream oracle hash — are
    unchanged.
    """
    q = F.broadcast(queries.withColumn("_qn", l2_norm(F.col("query_vec"))))
    pairs = vectors.withColumn(
        "_n", l2_norm(F.col("embedding"))
    ).crossJoin(q)
    if exclude_self:
        pairs = pairs.where(F.col("vec_id") != F.col("query_id"))
    return cosine_topk(pairs, k)


def cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, sim, rank<=k): each query's k best candidate
    ``pairs`` by exact cosine of ``embedding`` and ``query_vec``, sim
    rounded to 6 decimals, ties to the lower vec_id.

    The pairs carry both norms, ``_n`` (per corpus row) and ``_qn``
    (per query), computed once on their own sides before the fan-out
    (the r11 CSE rule in :func:`knn_per_query`'s docstring)."""
    sim = dot_product(F.col("embedding"), F.col("query_vec")) / (
        F.col("_n") * F.col("_qn")
    )
    scored = pairs.select(
        "query_id", "vec_id", F.round(sim, 6).alias("sim")
    )
    return topk(
        scored, k, [F.desc("sim"), F.asc("vec_id")], by="query_id"
    )
