"""Top-k cosine similarity search — the reference's core query.

Reference: ``db.as_retriever(search_type="similarity", search_kwargs=
{"k": k})`` over an in-memory exact store
(/root/reference/conversadocs/bones.py:74, bones.py:78) — embed the
query, exact cosine against ALL vectors, keep the k best (k in [1,5],
default 3; /root/reference/app.py:116).

Spark-first design:
- Single query vector: the vector becomes a literal/broadcast scalar —
  the scan streams once, computes sim per row JVM-side, and a
  TakeOrderedAndProject keeps the global top-k (no full sort, no
  shuffle of the data — only k rows per partition reach the driver
  stage). This is exactly the plan that survives 100 TB: a full scan
  with a constant-memory reducer.
- Batch of queries: broadcast the (small) query side, per-query window
  top-k. See ``knn_per_query``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from conversadocs_spark.functions.vector import dot_product, l2_norm


def knn_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Returns (id_col, sim) with sim rounded to 6 decimals
    (oracle float rule) and deterministic tie-break on id.

    The query's norm is folded DRIVER-side: higher-order functions
    over literal arrays are not constant-folded by Catalyst, so the
    inline form re-evaluates the 64-element fold once per corpus row.
    The Python replacement is the same IEEE-double left fold in the
    same element order (Python floats ARE doubles), so the division
    sees bit-identical values and oracle hashes are unchanged.
    """
    import math

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    acc = 0.0
    for x in query_vec:
        acc = acc + float(x) * float(x)
    qn = math.sqrt(acc)
    sim = dot_product(F.col(vec_col), q) / (
        l2_norm(F.col(vec_col)) * F.lit(qn)
    )
    return (
        vectors.select(F.col(id_col), F.round(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def knn_self(
    vectors: DataFrame,
    query_id: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbours of one row of the table itself (query-by-id).

    The 1-row query side is cross-joined via broadcast — Catalyst folds
    it into a BroadcastNestedLoopJoin with a single broadcast row, so
    the big side still streams exactly once.
    """
    q = vectors.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"),
        # query norm computed ONCE on the 1-row broadcast side — the
        # inline cosine would re-fold it per corpus row (same hoisted
        # expression tree, bit-identical values)
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    sim = dot_product(F.col(vec_col), F.col("_qvec")) / (
        l2_norm(F.col(vec_col)) * F.col("_qn")
    )
    return (
        vectors.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(F.col(id_col), F.round(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def knn_per_query(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k per query for a BATCH of query vectors.

    ``exclude_self=True`` drops corpus rows whose id equals the
    query's id BEFORE the rank window (so k still fills) — the same
    contract ivf_search / ivfpq_topk apply unconditionally. The
    planner dispatches (operators/planner.py) set it so the physical
    strategy choice can never change results for callers whose query
    ids overlap corpus ids; the default stays False for the plain
    disjoint-id retrieval queries whose oracles do not exclude.

    Plan shape: broadcast(queries) × vectors → sim → per-query window
    top-k. The corpus never shuffles; only Q×N sim rows flow into the
    rank filter, and the window partitions by query_id (Q groups).
    At scale, swap the crossJoin for an LSH bucket join
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
    q = F.broadcast(
        queries.withColumn("_qn", l2_norm(F.col(query_vec_col)))
    )
    sim = dot_product(F.col(vec_col), F.col(query_vec_col)) / (
        F.col("_n") * F.col("_qn")
    )
    w = (
        Window.partitionBy(query_id_col)
        .orderBy(F.desc("sim"), F.asc(id_col))
    )
    pairs = vectors.withColumn("_n", l2_norm(F.col(vec_col))).crossJoin(q)
    if exclude_self:
        pairs = pairs.where(F.col(id_col) != F.col(query_id_col))
    return (
        pairs.select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(sim, 6).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_filtered(
    vectors: DataFrame,
    allowed_ids: DataFrame,
    query_id: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Metadata-FILTERED top-k: neighbours of ``query_id`` restricted
    to ids present in ``allowed_ids`` (single column named ``id_col``).

    This is the "filtered vector search" production shape (the
    reference's retriever has no filter arg — bones.py:74 retrieves
    over the whole store — but any multi-tenant / language-scoped
    deployment of it needs one). Two classic strategies:

    - PRE-filter (this implementation): semi-join the corpus against
      the allowed-id set BEFORE computing similarities, then run the
      same scan + TakeOrderedAndProject as the unfiltered path.
      Correct for any selectivity — top-k is exact over the filtered
      corpus, never under-filled.
    - POST-filter (ANN then discard): only sound when the index
      over-fetches enough to survive the discard; with a selective
      predicate it silently returns < k rows. We deliberately do NOT
      ship that shape as the default.

    Scale: the semi-join carries NO broadcast hint — Catalyst picks a
    LEFT SEMI BroadcastHashJoin when the allowed-id side's estimated
    size clears autoBroadcastJoinThreshold (the common case: a pushed
    filter over a dimension scan), and falls back to a shuffled
    semi-join when the predicate set is itself huge. An unconditional
    hint would force a >8 GB broadcast / driver OOM on a large tenant
    set instead of degrading to the corpus-linear shuffle. The query
    row is looked up from the UNfiltered table so a query outside its
    own filter still works.
    """
    q = vectors.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),  # once, not per row
    )
    kept = vectors.join(
        allowed_ids.select(id_col), id_col, "left_semi"
    )
    sim = dot_product(F.col(vec_col), F.col("_qvec")) / (
        l2_norm(F.col(vec_col)) * F.col("_qn")
    )
    return (
        kept.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(F.col(id_col), F.round(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )
