"""Vector query surface (reference R6-R9, R15): similarity search over
the precomputed ``embeddings`` table (determinism rule, SURVEY.md §5.2),
with provenance joins back to ``documents``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.functions.vector import cosine_similarity
from conversadocs_spark.operators.ivf import ivf_topk
from conversadocs_spark.operators.knn import knn_per_query, knn_self
from conversadocs_spark.operators.lsh import ann_topk_lsh
from conversadocs_spark.plans.registry import register

# Shared DuckDB fragment: exact cosine between two unnested embedding
# rowsets joined on ordinality (FIXTURES.md: explicit unnest + SUM).
_SQL_COSINE_PAIRS = """
    SELECT a.vec_id AS {id1}, b.vec_id AS {id2},
           SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE))
           / (SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE)))
              * SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE)))) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings {filter_a}) a
    JOIN (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings {filter_b}) b USING (i)
    {pair_pred}
    GROUP BY a.vec_id, b.vec_id
"""

# DuckDB-side exact cosine vs one stored vector, via explicit unnest +
# SUM(x*y) (FIXTURES.md: avoid version-dependent list_cosine_similarity).
_KNN_TOPK_ORACLE = """
WITH sims AS (
    SELECT e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) e
    JOIN (SELECT unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0) q USING (i)
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id
)
SELECT s.vec_id, s.sim, d.source
FROM (SELECT vec_id, sim FROM sims
      ORDER BY sim DESC, vec_id ASC LIMIT 3) s
LEFT JOIN documents d ON d.doc_id = s.vec_id
"""


@register("knn_topk", oracle=_KNN_TOPK_ORACLE, tags=("vector", "flagship"))
def knn_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY.md §7 minimum slice): the reference's core
    retrieval query (R9 top-k cosine + R15 provenance projection).

    Query vector = embeddings row vec_id=0; exact cosine against all
    other rows (zip_with+aggregate, codegen'd); global top-3 with
    deterministic tie-break; left join to documents for `source`.

    Plan: broadcast 1-row query side -> single scan of embeddings ->
    TakeOrderedAndProject(k=3) -> broadcast join to documents.
    No full sort, no wide shuffle: survives a 100 TB corpus.
    """
    emb = io.table(spark, sf_dir, "embeddings")
    docs = io.table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    top = knn_self(emb, query_id=0, k=3)
    return top.join(F.broadcast(docs), "vec_id", "left").select(
        "vec_id", "sim", "source"
    )


# --------------------------------------------------------------------------
# batched per-query top-k (R9, batch form)
# --------------------------------------------------------------------------

_KNN_PER_QUERY_ORACLE = (
    """
WITH sims AS (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="query_id",
        id2="vec_id",
        filter_a="WHERE vec_id < 5",
        filter_b="WHERE vec_id >= 5",
        pair_pred="",
    )
    + """
),
ranked AS (
    SELECT query_id, vec_id, round(sim, 6) AS sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(sim, 6) DESC, vec_id ASC) AS INTEGER) AS rank
    FROM sims
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 3
"""
)


@register("knn_per_query", oracle=_KNN_PER_QUERY_ORACLE, tags=("vector",))
def knn_per_query_query(spark, sf_dir):
    """Batch retrieval (R9 for a set of queries): vectors vec_id<5 act
    as the query batch, the rest as the corpus; exact cosine top-3 per
    query via broadcast crossJoin + window rank. The LSH variant of the
    same shape is `ann_topk` below."""
    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    return knn_per_query(corpus, queries, k=3)


# --------------------------------------------------------------------------
# threshold similarity join (north star: embedding-cosine near-dup)
# --------------------------------------------------------------------------

_SIM_JOIN_ORACLE = (
    """
WITH sims AS (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="id1",
        id2="id2",
        filter_a="WHERE vec_id < 200",
        filter_b="WHERE vec_id < 200",
        pair_pred="",
    )
    + """
)
SELECT id1, id2, round(sim, 6) AS sim
FROM sims WHERE id1 < id2 AND round(sim, 6) >= 0.3
"""
)


@register("similarity_join", oracle=_SIM_JOIN_ORACLE, tags=("vector",))
def similarity_join(spark, sf_dir):
    """All-pairs cosine >= 0.3 over a bounded id range — embedding-based
    near-duplicate detection (north star). Exact quadratic form for the
    oracle; `ann_topk` is the LSH-pruned shape for full-corpus scale."""
    from conversadocs_spark.functions.vector import dot_product, l2_norm

    emb = io.table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    # norms hoisted into the SIDES of the pairwise join (the r11 CSE
    # rule): inlined cosine re-folds each row's norm once per PAIR it
    # participates in — ~n redundant aggregates per row on an n-row
    # all-pairs block. Identical expression tree, identical values.
    a = emb.select(
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("emb1"),
        l2_norm(F.col("embedding")).alias("_n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("emb2"),
        l2_norm(F.col("embedding")).alias("_n2"),
    )
    sim = dot_product(F.col("emb1"), F.col("emb2")) / (
        F.col("_n1") * F.col("_n2")
    )
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(sim, 6).alias("sim"))
        .where(F.col("sim") >= 0.3)
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup over documents (north star dedup variant)
# --------------------------------------------------------------------------

_DEDUP_EMBEDDING_ORACLE = (
    """
WITH sims AS (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="id1",
        id2="id2",
        filter_a="WHERE vec_id < 200",
        filter_b="WHERE vec_id < 200",
        pair_pred="",
    )
    + """
)
SELECT s.id1, s.id2, round(s.sim, 6) AS sim,
       d1.source AS source1, d2.source AS source2
FROM sims s
JOIN documents d1 ON d1.doc_id = s.id1
JOIN documents d2 ON d2.doc_id = s.id2
WHERE s.id1 < s.id2 AND round(s.sim, 6) >= 0.3
"""
)


@register("dedup_embedding", oracle=_DEDUP_EMBEDDING_ORACLE, tags=("vector", "dedup"))
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate DOCUMENT pairs: the fifth dedup
    modality (exact / MinHash / SimHash / n-gram Jaccard live in
    plans/text.py), anchored on the documents table with provenance —
    doc ids pair via their embedding vectors (doc_id = vec_id per
    FIXTURES.md), cosine >= 0.3, sources projected for review.

    Exact quadratic form bounded to vec_id < 200 for the oracle;
    `ann_topk`/`ann_ivf` are the pruned shapes that replace the
    crossJoin at 100 TB (LSH bucket join / IVF cell probe), and
    `similarity_join` is the same predicate without the provenance
    join. Reference analog: the reference re-embeds and re-indexes the
    corpus wholesale on upload (bones.py:107-119) and never dedups —
    this is the pipeline-hygiene operator it lacks."""
    from conversadocs_spark.functions.vector import dot_product, l2_norm

    emb = io.table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    docs = io.table(spark, sf_dir, "documents").select("doc_id", "source")
    # per-side hoisted norms — see similarity_join's note
    a = emb.select(
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("emb1"),
        l2_norm(F.col("embedding")).alias("_n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("emb2"),
        l2_norm(F.col("embedding")).alias("_n2"),
    )
    sim = dot_product(F.col("emb1"), F.col("emb2")) / (
        F.col("_n1") * F.col("_n2")
    )
    pairs = (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(sim, 6).alias("sim"))
        .where(F.col("sim") >= 0.3)
    )
    return (
        pairs.join(
            F.broadcast(docs), pairs.id1 == docs.doc_id, "inner"
        )
        .select("id1", "id2", "sim", F.col("source").alias("source1"))
        .join(
            F.broadcast(docs), F.col("id2") == docs.doc_id, "inner"
        )
        .select(
            "id1", "id2", "sim", "source1",
            F.col("source").alias("source2"),
        )
    )


# --------------------------------------------------------------------------
# label centroids (grouped vector aggregation)
# --------------------------------------------------------------------------

_CENTROID_ORACLE = """
SELECT label, CAST(i - 1 AS INTEGER) AS pos,
       round(CAST(sum(CAST(x AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6)
           AS centroid_val
FROM (SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings)
GROUP BY label, i
"""


@register("vector_centroid", oracle=_CENTROID_ORACLE, tags=("vector",))
def vector_centroid(spark, sf_dir):
    """Per-label element-wise centroid in long format (label, pos,
    value). posexplode + grouped exact-decimal mean: the aggregation
    shape behind IVF coarse quantizers and k-means steps. Long format
    sidesteps array-reassembly order issues in the oracle compare."""
    emb = io.table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,8)")).cast("double")
            / F.count("*"),
            6,
        ).alias("centroid_val")
    )


# --------------------------------------------------------------------------
# LSH-approximate top-k (rows-only; recall enforced in tests AND in-plan)
# --------------------------------------------------------------------------


def _with_recall_audit(
    ann: DataFrame, exact: DataFrame, k: int, floor: float
) -> DataFrame:
    """Annotate an ANN result with per-query ``recall_at_k`` vs the
    exact top-k, computed IN-PLAN, and keep rows only while the mean
    recall over the query batch clears ``floor``.

    This makes retrieval-quality drift visible to the driver's
    rows-only check: healthy output keeps its k x |Q| row count; if a
    regression drops mean recall below the floor the query returns 0
    rows — a loud, count-level signal. The exact reference runs over
    the (small) query batch only — the same sampled-recall audit you
    would run beside an ANN index at 100 TB, not a full-corpus scan.
    The window operates on the already-top-k rows (k x |Q|), so its
    cost is negligible at any corpus size."""
    from pyspark.sql import Window

    hits = ann.join(
        exact.select("query_id", "vec_id", F.lit(1).alias("_hit")),
        ["query_id", "vec_id"],
        "left",
    )
    per_query = Window.partitionBy("query_id")
    whole_batch = Window.partitionBy()
    out = hits.withColumn(
        "recall_at_k",
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).over(per_query)
            / F.lit(k),
            6,
        ),
    )
    return (
        out.withColumn(
            "_mean_recall", F.avg("recall_at_k").over(whole_batch)
        )
        .where(F.col("_mean_recall") >= floor)
        .drop("_hit", "_mean_recall")
    )


@register("ann_topk", tags=("vector", "rows-only"))
def ann_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN, the 100 TB path for R9: bucket-join
    prunes candidates, exact cosine re-ranks. Approximate by design ->
    no SQL oracle; tests/test_vector.py::test_ann_recall_at_3 enforces
    recall@3 >= 0.8 against the exact `knn_per_query` (measured 0.93
    with the 3-plane/8-seed defaults on the uniform-random fixtures —
    the worst case for LSH; see operators/lsh.py tuning notes).

    The output additionally carries an in-plan ``recall_at_k`` audit
    column vs the exact top-k on the query batch, and empties itself
    (0 rows) if mean recall drops below 0.8 — so the driver's
    rows-only count also observes retrieval-quality drift."""
    emb = io.table(spark, sf_dir, "embeddings")
    dim = 64  # fixture dim (FIXTURES.md); operators stay dim-agnostic
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    ann = ann_topk_lsh(corpus, queries, dim=dim, k=3)
    exact = knn_per_query(corpus, queries, k=3)
    return _with_recall_audit(ann, exact, k=3, floor=0.8)


@register("ann_ivf", tags=("vector", "rows-only"))
def ann_ivf(spark, sf_dir):
    """IVF (inverted-file) ANN, the clustered-corpus scale path for R9
    (operators/ivf.py): coarse-quantize the corpus into 16 centroid
    cells (deterministic hash init + 2 Lloyd refinements), probe the 8
    cells nearest each query, exact-cosine re-rank the members.

    Approximate by design -> no SQL oracle;
    tests/test_vector.py::test_ivf_recall_at_3 enforces recall@3 >= 0.8
    vs exact `knn_per_query` (measured 0.867 on the fixtures).
    nprobe/n_lists = 1/2 here because the fixture embeddings are
    near-uniform random — the worst case for clustering, where recall
    ~= probe fraction; real embedding corpora cluster, letting
    nprobe/n_lists drop to ~1/16 at the same recall. At 100 TB the
    assignments table is persisted bucketed by list_id (see
    operators/ivf.py docstring) so each probe is a pruned scan, unlike
    LSH's full-corpus bucket shuffle per seed.

    Carries the same in-plan ``recall_at_k`` audit as `ann_topk`
    (floor 0.8, empty output on drift) so the driver's rows-only count
    observes quality, not just execution."""
    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    ann = ivf_topk(
        corpus, queries, k=3, n_lists=16, nprobe=8, refine_iters=2
    )
    exact = knn_per_query(corpus, queries, k=3)
    return _with_recall_audit(ann, exact, k=3, floor=0.8)


# --------------------------------------------------------------------------
# IVF promoted to ORACLE-CHECKED (r15 — the dedup_minhash_exact md5-twin
# recipe applied to the ANN ladder, VERDICT r14 #3). The production
# xxhash64 IVF stays rows-only-with-recall-audits (`ann_ivf` above);
# this twin swaps the seeding for md5 and fixes the Lloyd budget so a
# chained-CTE DuckDB query replays the WHOLE pipeline value-for-value:
# md5 seed assignment -> exact-decimal cell means -> two argmax
# re-assignment rounds -> probe-cell selection -> in-cell exact top-k.
# vec_id < 2005 bounds the oracle's K x n scoring joins to <=2000
# corpus vectors at every sf (the bpe/simhash/minhash fixture rule).
# --------------------------------------------------------------------------

_ANN_IVF_EXACT_ORACLE = """
WITH corpus AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE vec_id >= 5 AND vec_id < 2005
),
e AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM corpus
),
a0 AS (
    SELECT vec_id,
           CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 8 AS INTEGER) AS list_id
    FROM corpus
),
c0 AS (
    SELECT a.list_id, e.i,
           CAST(SUM(CAST(e.x AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m
    FROM e JOIN a0 a USING (vec_id)
    GROUP BY a.list_id, e.i
),
s1 AS (
    SELECT e.vec_id, c.list_id,
           ROUND(SUM(CAST(e.x AS DOUBLE) * c.m)
                 / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                    * SQRT(SUM(c.m * c.m))), 6) AS csim
    FROM e JOIN c0 c USING (i)
    GROUP BY e.vec_id, c.list_id
),
a1 AS (
    SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY csim DESC, list_id ASC) AS rn
        FROM s1) WHERE rn = 1
),
c1 AS (
    SELECT a.list_id, e.i,
           CAST(SUM(CAST(e.x AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m
    FROM e JOIN a1 a USING (vec_id)
    GROUP BY a.list_id, e.i
),
s2 AS (
    SELECT e.vec_id, c.list_id,
           ROUND(SUM(CAST(e.x AS DOUBLE) * c.m)
                 / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                    * SQRT(SUM(c.m * c.m))), 6) AS csim
    FROM e JOIN c1 c USING (i)
    GROUP BY e.vec_id, c.list_id
),
a2 AS (
    SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY csim DESC, list_id ASC) AS rn
        FROM s2) WHERE rn = 1
),
c2 AS (
    SELECT a.list_id, e.i,
           CAST(SUM(CAST(e.x AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m
    FROM e JOIN a2 a USING (vec_id)
    GROUP BY a.list_id, e.i
),
q AS (
    SELECT vec_id AS query_id, unnest(embedding) AS y,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings WHERE vec_id < 5
),
ps AS (
    SELECT q.query_id, c.list_id,
           ROUND(SUM(CAST(q.y AS DOUBLE) * c.m)
                 / (SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))
                    * SQRT(SUM(c.m * c.m))), 6) AS qsim
    FROM q JOIN c2 c USING (i)
    GROUP BY q.query_id, c.list_id
),
pr AS (
    SELECT query_id, list_id FROM (
        SELECT query_id, list_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY qsim DESC, list_id ASC) AS rn
        FROM ps) WHERE rn <= 2
),
sims AS (
    SELECT pr.query_id, a2.vec_id,
           ROUND(SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
                 / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                    * SQRT(SUM(CAST(q.y AS DOUBLE)
                               * CAST(q.y AS DOUBLE)))),
                 6) AS sim
    FROM pr
    JOIN a2 USING (list_id)
    JOIN e ON e.vec_id = a2.vec_id
    JOIN q ON q.query_id = pr.query_id AND q.i = e.i
    GROUP BY pr.query_id, a2.vec_id
)
SELECT query_id, vec_id, sim, CAST(rk AS INTEGER) AS rank FROM (
    SELECT query_id, vec_id, sim,
           row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id ASC) AS rk
    FROM sims) WHERE rk <= 3
"""


@register("ann_ivf_exact", oracle=_ANN_IVF_EXACT_ORACLE, tags=("vector",))
def ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build + probe, value-hash-checked end to end (VERDICT r14
    #3 — the last rows-only-BY-DESIGN ANN family gets its
    value-checked member, via the md5-twin recipe that promoted
    simhash in r13 and MinHash in r14). Pipeline over <=2000 bounded
    corpus vectors: md5-seeded 8-cell assignment, two exact-decimal
    Lloyd refinement rounds (cosine argmax rounded to 6, lowest
    list_id tie-break), then per query (vec_id < 5) the 2 nearest
    cells by centroid cosine are probed and their members
    exact-cosine top-3 re-ranked. The DuckDB oracle replays every
    stage as a chained CTE — seeding, both refinement rounds, the
    final means, the probe choice, and the in-cell top-k — so a
    MATCH certifies the distributed Lloyd/probe machinery, not just
    the final ranking. The unbounded xxhash64 production path stays
    `ann_ivf` with its recall audit; scale posture is identical (the
    twin reuses the production _cell_means/_assign/ivf_search
    operators, which never shuffle anything wider than
    (list_id, pos))."""
    from conversadocs_spark.operators.ivf import ivf_exact_md5

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 2005)
    )
    return ivf_exact_md5(
        corpus, queries, n_lists=8, refine_iters=2, k=3, nprobe=2
    )


# --------------------------------------------------------------------------
# hyperplane LSH promoted to ORACLE-CHECKED (r15 — the md5-twin recipe's
# third application: simhash r13, MinHash + IVF r14/r15, now the LSH leg,
# completing value-checked coverage of every ANN-ladder family). The
# production numpy-Gaussian path stays `ann_topk` (rows-only + recall
# audit); the twin swaps the planes for md5-derived integers and the
# sign-bit dot for exact BIGINT fixed-point so no near-zero float
# projection can flip a bucket bit across engines.
# --------------------------------------------------------------------------

_ANN_LSH_EXACT_ORACLE = """
WITH corpus AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE vec_id >= 5 AND vec_id < 2005
),
e AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM corpus
),
q AS (
    SELECT vec_id AS query_id, unnest(embedding) AS y,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings WHERE vec_id < 5
),
planes AS (
    SELECT s.seed, j.j, i.i,
           CAST(('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' ||
                                     CAST(j.j AS VARCHAR) || ':' ||
                                     CAST(i.i AS VARCHAR)), 1, 15))
                AS BIGINT) % 2000001 - 1000000 AS p
    FROM (SELECT unnest([0, 1]) AS seed) s
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j
    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
),
vdot AS (
    SELECT e.vec_id, p.seed, p.j,
           SUM(CAST(ROUND(CAST(e.x AS DOUBLE) * 1000000.0) AS BIGINT)
               * p.p) AS dot
    FROM e JOIN planes p ON p.i = e.i - 1
    GROUP BY e.vec_id, p.seed, p.j
),
vb AS (
    SELECT vec_id, seed,
           SUM(CASE WHEN dot > 0
                    THEN CAST(ROUND(POW(2, j)) AS BIGINT)
                    ELSE 0 END) AS bucket
    FROM vdot GROUP BY vec_id, seed
),
qdot AS (
    SELECT q.query_id, p.seed, p.j,
           SUM(CAST(ROUND(CAST(q.y AS DOUBLE) * 1000000.0) AS BIGINT)
               * p.p) AS dot
    FROM q JOIN planes p ON p.i = q.i - 1
    GROUP BY q.query_id, p.seed, p.j
),
qb AS (
    SELECT query_id, seed,
           SUM(CASE WHEN dot > 0
                    THEN CAST(ROUND(POW(2, j)) AS BIGINT)
                    ELSE 0 END) AS bucket
    FROM qdot GROUP BY query_id, seed
),
cand AS (
    SELECT DISTINCT qb.query_id, vb.vec_id
    FROM vb JOIN qb USING (seed, bucket)
),
sims AS (
    SELECT c.query_id, c.vec_id,
           ROUND(SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
                 / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                    * SQRT(SUM(CAST(q.y AS DOUBLE)
                               * CAST(q.y AS DOUBLE)))),
                 6) AS sim
    FROM cand c
    JOIN e ON e.vec_id = c.vec_id
    JOIN q ON q.query_id = c.query_id AND q.i = e.i
    GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, sim, CAST(rk AS INTEGER) AS rank FROM (
    SELECT query_id, vec_id, sim,
           row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id ASC) AS rk
    FROM sims) WHERE rk <= 3
"""


@register("ann_lsh_exact", oracle=_ANN_LSH_EXACT_ORACLE, tags=("vector",))
def ann_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket retrieval, value-hash-checked end to end
    — the md5-twin recipe's third ANN application, completing the
    ladder (IVF got ann_ivf_exact this round; PQ's ADC arithmetic is
    already exact-decimal in its tests). Pipeline over the bounded
    <=2000-vector corpus: 2 seeds x 4 md5-derived integer hyperplanes
    (operators/lsh.py:_md5_plane_int), sign-bit buckets via exact
    BIGINT fixed-point dots (round(v*1e6) components — a near-zero
    float projection can never flip a bit across engines), bucket
    join, dedup, exact-cosine top-3 (round 6, vec_id tie-break). The
    DuckDB oracle replays every stage — plane derivation, both
    bucketings, the candidate join, the re-rank — as a chained CTE,
    so a MATCH certifies the banded retrieval machinery itself.
    Scale posture == production `ann_topk` (operators/lsh.py
    ann_topk_lsh): corpus bucketed in one narrow map pass per seed,
    shuffle keyed on (seed, bucket), candidates << corpus, planes
    ride a broadcast."""
    from conversadocs_spark.operators.lsh import lsh_exact_md5

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 2005)
    )
    return lsh_exact_md5(
        corpus, queries, dim=64, k=3, n_planes=4, seeds=(0, 1)
    )


# --------------------------------------------------------------------------
# product quantization promoted to ORACLE-CHECKED (r15 — the md5-twin
# recipe's fourth application, CLOSING the ANN ladder: LSH, IVF, and PQ
# now all carry value-hash-checked members; production paths keep their
# recall audits). md5 init, one fixed Lloyd round, exact-decimal means,
# ADC + pool + exact refine — every stage replayed by the chained CTE.
# --------------------------------------------------------------------------

_ANN_PQ_EXACT_ORACLE = """
WITH corpus AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE vec_id >= 5 AND vec_id < 2005
),
e AS (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM corpus
),
s AS (
    SELECT vec_id, CAST((i - 1) // 16 AS INTEGER) AS sub,
           CAST((i - 1) % 16 AS INTEGER) AS pos,
           CAST(x AS DOUBLE) AS x
    FROM e
),
a0 AS (
    SELECT DISTINCT vec_id, sub,
           CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':'
                          || CAST(sub AS VARCHAR)), 1, 15))
                     AS BIGINT) % 8 AS INTEGER) AS code
    FROM s
),
c0 AS (
    SELECT a.sub, a.code, s.pos,
           CAST(SUM(CAST(s.x AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m
    FROM s JOIN a0 a ON a.vec_id = s.vec_id AND a.sub = s.sub
    GROUP BY a.sub, a.code, s.pos
),
d1 AS (
    SELECT s.vec_id, s.sub, c.code,
           ROUND(SUM((s.x - c.m) * (s.x - c.m)), 6) AS dist
    FROM s JOIN c0 c ON c.sub = s.sub AND c.pos = s.pos
    GROUP BY s.vec_id, s.sub, c.code
),
a1 AS (
    SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist ASC, code ASC) AS rn
        FROM d1) WHERE rn = 1
),
c1 AS (
    SELECT a.sub, a.code, s.pos,
           CAST(SUM(CAST(s.x AS DECIMAL(28,10))) AS DOUBLE)
               / COUNT(*) AS m
    FROM s JOIN a1 a ON a.vec_id = s.vec_id AND a.sub = s.sub
    GROUP BY a.sub, a.code, s.pos
),
d2 AS (
    SELECT s.vec_id, s.sub, c.code,
           ROUND(SUM((s.x - c.m) * (s.x - c.m)), 6) AS dist
    FROM s JOIN c1 c ON c.sub = s.sub AND c.pos = s.pos
    GROUP BY s.vec_id, s.sub, c.code
),
codes AS (
    SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist ASC, code ASC) AS rn
        FROM d2) WHERE rn = 1
),
qfull AS (
    SELECT vec_id AS query_id, unnest(embedding) AS y,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings WHERE vec_id < 5
),
qs AS (
    SELECT query_id, CAST((i - 1) // 16 AS INTEGER) AS sub,
           CAST((i - 1) % 16 AS INTEGER) AS pos,
           CAST(y AS DOUBLE) AS y
    FROM qfull
),
adcx AS (
    SELECT q.query_id, cd.vec_id,
           ROUND(SUM(q.y * c.m), 6) AS adc
    FROM codes cd
    JOIN c1 c ON c.sub = cd.sub AND c.code = cd.code
    JOIN qs q ON q.sub = cd.sub AND q.pos = c.pos
    GROUP BY q.query_id, cd.vec_id
),
pooled AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc DESC, vec_id ASC) AS rn
        FROM adcx) WHERE rn <= 32
),
sims AS (
    SELECT p.query_id, p.vec_id,
           ROUND(SUM(CAST(e.x AS DOUBLE) * CAST(qf.y AS DOUBLE))
                 / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                    * SQRT(SUM(CAST(qf.y AS DOUBLE)
                               * CAST(qf.y AS DOUBLE)))),
                 6) AS sim
    FROM pooled p
    JOIN e ON e.vec_id = p.vec_id
    JOIN qfull qf ON qf.query_id = p.query_id AND qf.i = e.i
    GROUP BY p.query_id, p.vec_id
)
SELECT query_id, vec_id, sim, CAST(rk AS INTEGER) AS rank FROM (
    SELECT query_id, vec_id, sim,
           row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id ASC) AS rk
    FROM sims) WHERE rk <= 3
"""


@register("ann_pq_exact", oracle=_ANN_PQ_EXACT_ORACLE, tags=("vector",))
def ann_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval, value-hash-checked end to end
    — the md5-twin recipe's fourth application, CLOSING the ANN
    ladder (LSH + IVF twins landed earlier this round; production
    `ann_pq`/`ann_ivfpq` keep their recall audits). Pipeline over the
    bounded <=2000-vector corpus: 4 subspaces x 8 codes, md5-seeded
    init, ONE exact-decimal Lloyd refinement, argmin codes (squared
    distances rounded to 6, lowest-code tie-break), per-query ADC
    over the code table (summed dot rounded to 6), top-32 pool,
    exact-cosine top-3 re-rank. The DuckDB oracle replays every stage
    — init hash, both codebooks, both assignments, the ADC lookups,
    the pool, and the refine — as a chained CTE
    (operators/pq.py:pq_exact_md5 reuses the production
    _means/_codes_expr/_pack machinery). Scale posture == production
    pq_topk: codebook rides a broadcast, the corpus-sized stage emits
    slim (query_id, vec_id, adc) rows, nothing shuffles wider than
    (sub, code, pos)."""
    from conversadocs_spark.operators.pq import pq_exact_md5

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 2005)
    )
    return pq_exact_md5(
        corpus, queries, dim=64, m=4, ksub=8, k=3, pool=32
    )


# --------------------------------------------------------------------------
# cost-based retrieval planning (SURVEY.md §4.2.3 rewrite, realized)
# --------------------------------------------------------------------------


@register("knn_auto", oracle=_KNN_PER_QUERY_ORACLE, tags=("vector",))
def knn_auto_query(spark, sf_dir):
    """Planner-chosen retrieval (operators/planner.py): the same
    logical top-k-per-query as `knn_per_query`, but the PHYSICAL
    strategy — exact broadcast scan vs IVF probe — is picked from a
    runtime corpus-cardinality statistic, the §4.2.3 `cosine ORDER BY
    LIMIT k` rewrite made explicit and testable.

    At oracle scale the statistic is below the crossover, the planner
    picks the exact scan, and the output hash-matches the exact
    oracle — proving the planner preserves the logical contract.
    Above the crossover it plans IVF (forced + contract-tested in
    tests/test_planner.py, since no local fixture spans 100k+ rows);
    quality there is governed by the same recall machinery as
    `ann_ivf`."""
    from conversadocs_spark.operators.planner import knn_auto

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    result, _strategy = knn_auto(corpus, queries, k=3)
    return result


#: Staged-index layout/build version: bump when ivf_build,
#: ivf_write_index, or the staged corpus definition changes semantics —
#: a stage stamped with an older version (or different source-file
#: fingerprint) is rebuilt, so a stale index can never serve.
_IVF_STAGE_VER = 1


def _staged_ivf_index(
    sf_dir: str, corpus, name: str, n_lists: int = 16,
    dim: int = 64,
) -> str:
    """Build an IVF index ONCE per (sf_dir, source fingerprint, build
    code, stage version) and return its path — the build/serve split
    (VERDICT r11 #2): registered serving queries must measure SERVING,
    not re-pay an inline ivf_build on every call the way a real
    deployment never would (ivf_build once per corpus version,
    ivf_search many).

    The stage lives under ``.stream_stage/{name}_{tag}_{dirhash}`` —
    pid-FREE (ADVICE r11: pid-suffixed dirs from prior runs
    accumulated unboundedly) but keyed by a hash of the ABSOLUTE
    sf_dir too, so two fixture dirs sharing a basename (e.g.
    /tmp/a/sf1 vs /tmp/b/sf1) can never alternate rebuild+delete of
    each other's live stage. Freshness contract: ``_stage_stamp.json``
    records the stage version, the source parquet's (mtime_ns, size),
    AND the build module's (mtime_ns, size) — so editing
    operators/ivf.py invalidates stale indexes even if nobody
    remembers to bump _IVF_STAGE_VER. The build lands in a
    pid-suffixed temp dir and is published with one os.rename; if a
    concurrent process won the publish race (rename fails because the
    path reappeared), its stage is validated against the same stamp
    and used — the loser's work is discarded, never a torn index.

    Reuse runs ZERO Spark jobs (pinned in tests/test_planner.py):
    the stamp check is a driver-side file read, exactly like the
    manifest planning it feeds."""
    import hashlib
    import json
    import os
    import shutil

    import conversadocs_spark.operators.ivf as ivf_mod
    from conversadocs_spark.operators.ivf import (
        ivf_build,
        ivf_write_index,
    )

    abs_dir = os.path.abspath(sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/"))
    dirhash = hashlib.md5(abs_dir.encode()).hexdigest()[:8]
    stage_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        ".stream_stage",
    )
    path = os.path.join(stage_root, f"{name}_{tag}_{dirhash}")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    code = os.stat(ivf_mod.__file__)
    stamp = {
        "stage_ver": _IVF_STAGE_VER,
        "sf_dir": abs_dir,
        "src_mtime_ns": st.st_mtime_ns,
        "src_size": st.st_size,
        "build_mtime_ns": code.st_mtime_ns,
        "build_size": code.st_size,
        "n_lists": n_lists,
        "dim": dim,
    }

    def _stamp_valid() -> bool:
        try:
            with open(os.path.join(path, "_stage_stamp.json")) as f:
                return json.load(f) == stamp
        except (OSError, ValueError):
            return False

    if _stamp_valid():
        return path
    # one-time sweep of superseded layouts before a fresh build:
    # the pre-r12 pid-suffixed dirs (ADVICE r11), the hashless
    # pid-free dirs, and the pre-unification ivf_manifest_/
    # ivf_filtered_ stages (the two callers now share one index).
    # ONLY names without the current `_{8-hex dirhash}` suffix are
    # superseded (ADVICE r12): tests actively stage under other
    # names in the CURRENT layout (e.g. ivf_filtered_{tag}_{hash}),
    # and a production rebuild must never delete a live
    # current-layout stage it doesn't own.
    import re as _re

    current_layout = _re.compile(r"_[0-9a-f]{8}$")
    if os.path.isdir(stage_root):
        for d in os.listdir(stage_root):
            if d != os.path.basename(path) and (
                d == f"{name}_{tag}"  # pre-hash pid-free layout
                or (
                    d.startswith(("ivf_manifest_", "ivf_filtered_"))
                    and not current_layout.search(d)
                )
            ):
                shutil.rmtree(
                    os.path.join(stage_root, d), ignore_errors=True
                )
    tmp = f"{path}.build.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    assigned, centroids = ivf_build(corpus, n_lists=n_lists)
    ivf_write_index(assigned, centroids, tmp, dim=dim, n_lists=n_lists)
    with open(os.path.join(tmp, "_stage_stamp.json"), "w") as f:
        json.dump(stamp, f)
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # publish race: another process recreated `path` between the
        # rmtree and the rename. If what it published matches this
        # stamp, use it and discard our build; anything else is a
        # genuine failure.
        shutil.rmtree(tmp, ignore_errors=True)
        if not _stamp_valid():
            raise
    return path


@register(
    "knn_auto_indexed", oracle=_KNN_PER_QUERY_ORACLE, tags=("vector",)
)
def knn_auto_indexed_query(spark, sf_dir):
    """Serving against a PREBUILT, manifest-stamped IVF index (r7,
    VERDICT r6 #4): ivf_build -> ivf_write_index persists the
    assignments partitioned by list_id with (n, dim, n_lists) stamped
    in the version's _manifest.json; knn_auto_indexed then plans from
    that manifest — a driver-side file read, NO per-call count() job
    (job-delta pinned in tests/test_planner.py) — and serves the
    query batch. Below the crossover the plan is the exact scan, so
    the output hash-matches the `knn_per_query` oracle: the planner
    preserves the logical contract end-to-end through the persisted
    index lifecycle.

    The index is STAGED once per (sf_dir, source fingerprint) via
    _staged_ivf_index (VERDICT r11 #2 build/serve split) — repeat
    executions of this query measure serving, exactly like the
    deployment the manifest pattern models."""
    from conversadocs_spark.operators.planner import knn_auto_indexed

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    path = _staged_ivf_index(sf_dir, corpus, "ivf")
    result, _strategy = knn_auto_indexed(spark, path, queries, k=3)
    return result


_KNN_AUTO_FILTERED_BATCH_ORACLE = (
    """
WITH sims AS (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="query_id",
        id2="vec_id",
        filter_a="WHERE vec_id < 5",
        filter_b=(
            "WHERE vec_id >= 5 AND vec_id IN "
            "(SELECT doc_id FROM documents "
            "WHERE lang = 'en' AND source <> 'src0')"
        ),
        pair_pred="",
    )
    + """
),
ranked AS (
    SELECT query_id, vec_id, round(sim, 6) AS sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY round(sim, 6) DESC, vec_id ASC) AS INTEGER)
           AS rank
    FROM sims
)
SELECT r.query_id, r.vec_id, r.sim, r.rank, d.lang, d.source
FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
WHERE r.rank <= 3
"""
)


@register(
    "knn_auto_filtered_batch",
    oracle=_KNN_AUTO_FILTERED_BATCH_ORACLE,
    tags=("vector",),
)
def knn_auto_filtered_batch_query(spark, sf_dir):
    """The COMPOSED production serving path (VERDICT r10 #3):
    manifest-planned x metadata-filtered x query-batch retrieval from
    a PERSISTED index, in one call
    (operators/planner.py knn_auto_filtered_batch).

    ivf_build -> ivf_write_index stamps (n, dim, n_lists) into the
    version manifest; serving then (1) plans brute-vs-IVF-vs-IVFPQ
    from that manifest — driver-side file read, zero Spark jobs,
    job-delta pinned — honoring the memory-budget rule, (2) applies
    the tenant/lang pre-filter as an UNhinted LEFT SEMI on the
    assignments scan BEFORE any scoring (the knn_filtered contract:
    post-filtering under-fills k), and (3) serves the whole 5-query
    batch over the filtered corpus. Below the crossover the plan is
    the exact scan, so the output hash-matches the filtered
    per-query-top-3 oracle — the planner preserves the logical
    contract through the persisted-index lifecycle AND the filter
    composition. The k-row result (never the unbounded documents
    side) broadcasts into the provenance annotation join.

    Above the crossover the same call dispatches the prebuilt IVF
    probe (filter composes with the partition-pruned list_id
    equi-join) or the quantized fallback under a memory budget —
    forced-path contract + recall floor pinned in
    tests/test_planner.py.

    brute_threshold is raised to 250k HERE (not in the planner) so
    every VALUE-hash fixture scale (sf0.01 20k ... sf10 200k) stays
    on the exact plan — an ANN dispatch is correct-but-approximate,
    so it belongs under recall audits, not hash equality (the ann_*
    family split). The dispatch itself is exercised where it should
    be: the forced-path tests, and the sf100 spot-gate (2M vectors >
    250k), where this query planned IVF and measured recall 1.00
    (SCALEGATE_r11.md).

    The index is STAGED once per (sf_dir, source fingerprint) via
    _staged_ivf_index (VERDICT r11 #2 build/serve split): the first
    call pays the build, every later call — including the bench
    headline row this made honest — runs zero build jobs (pinned in
    tests/test_planner.py) and measures pure serving. The sf100
    number this query used to post (~98 s) was build-dominated;
    serving there is seconds (SCALEGATE_r11.md)."""
    from conversadocs_spark.operators.planner import (
        knn_auto_filtered_batch,
    )

    emb = io.table(spark, sf_dir, "embeddings")
    docs = io.table(spark, sf_dir, "documents")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    allowed = docs.where(
        (F.col("lang") == "en") & (F.col("source") != "src0")
    ).select(F.col("doc_id").alias("vec_id"))
    path = _staged_ivf_index(sf_dir, corpus, "ivf")
    result, _strategy = knn_auto_filtered_batch(
        spark, path, queries, allowed, k=3, brute_threshold=250_000
    )
    prov = docs.select(
        F.col("doc_id").alias("vec_id"), "lang", "source"
    )
    return F.broadcast(result).join(prov, "vec_id").select(
        "query_id", "vec_id", "sim", "rank", "lang", "source"
    )


# --------------------------------------------------------------------------
# labeled-kNN classification eval (embedding-quality harness)
# --------------------------------------------------------------------------

_KNN_EVAL_ORACLE = (
    """
WITH sims AS (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="query_id",
        id2="vec_id",
        filter_a="WHERE vec_id < 50",
        filter_b="",
        pair_pred="",
    )
    + """
),
ranked AS (
    SELECT query_id, vec_id, round(sim, 6) AS sim,
           row_number() OVER (PARTITION BY query_id
                ORDER BY round(sim, 6) DESC, vec_id ASC) AS rn
    FROM sims WHERE query_id <> vec_id
),
votes AS (
    SELECT r.query_id, e.label, count(*) AS c
    FROM ranked r JOIN embeddings e USING (vec_id)
    WHERE r.rn <= 5
    GROUP BY r.query_id, e.label
),
pred AS (
    SELECT query_id, label AS predicted,
           row_number() OVER (PARTITION BY query_id
                ORDER BY c DESC, label ASC) AS pr
    FROM votes
)
SELECT q.vec_id       AS query_id,
       q.label        AS true_label,
       p.predicted,
       q.label = p.predicted AS correct
FROM embeddings q
JOIN pred p ON p.query_id = q.vec_id AND p.pr = 1
WHERE q.vec_id < 50
"""
)


@register("knn_label_eval", oracle=_KNN_EVAL_ORACLE, tags=("vector",))
def knn_label_eval(spark, sf_dir):
    """Embedding-quality evaluation harness: leave-one-out kNN
    classification on the labeled embeddings — for each of the first
    50 vectors, the majority label of its 5 nearest neighbors
    (cosine, self excluded; ties broken by count desc then smallest
    label) is compared to its own label. The per-query verdict rows
    are what a retrieval-quality dashboard aggregates into accuracy;
    emitting them row-level keeps the whole harness hash-checkable.

    Plan shape: the 50-query batch broadcasts against one corpus
    scan (same as `knn_per_query`), the vote count and argmax are two
    stacked aggregations over the k x |Q| survivors — nothing after
    the top-k touches more than 250 rows. On random fixtures accuracy
    ~ chance; the harness measures, it does not assume."""
    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    from conversadocs_spark.operators.knn import knn_per_query

    corpus = emb.select("vec_id", "embedding")
    top = knn_per_query(corpus, queries, k=6)  # k=5 + possible self
    top = top.where(F.col("vec_id") != F.col("query_id"))
    from pyspark.sql import Window

    rew = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    top5 = (
        top.withColumn("rn", F.row_number().over(rew))
        .where(F.col("rn") <= 5)
        .join(emb.select("vec_id", "label"), "vec_id")
    )
    votes = top5.groupBy("query_id", "label").agg(
        F.count("*").alias("c")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("label")
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(wv))
        .where(F.col("pr") == 1)
        .select("query_id", F.col("label").alias("predicted"))
    )
    truth = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return truth.join(pred, "query_id").select(
        "query_id",
        "true_label",
        "predicted",
        (F.col("true_label") == F.col("predicted")).alias("correct"),
    )


@register("ann_pq", tags=("vector", "rows-only"))
def ann_pq(spark, sf_dir):
    """Product-quantization ANN (operators/pq.py), the MEMORY scale
    path for R9: the corpus is stored as m=8 one-byte codes per
    vector (32x smaller than dim=64 float32), queries scan codes via
    ADC lookup tables and exact cosine re-ranks only the top-96 pool.

    Approximate by design -> no SQL oracle;
    tests/test_vector.py::test_pq_recall_at_3 enforces recall@3 >= 0.8
    vs exact `knn_per_query` on the uniform-random fixtures (the PQ
    worst case: quantization error is maximal when subspace mass is
    uniform). Carries the same in-plan ``recall_at_k`` audit as
    `ann_topk`/`ann_ivf` (floor 0.8, 0 rows on drift) so the driver's
    rows-only count observes retrieval quality."""
    from conversadocs_spark.operators.pq import pq_topk

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    ann = pq_topk(
        corpus, queries, k=3, m=8, ksub=16, pool=96, refine_iters=2, dim=64
    )
    exact = knn_per_query(corpus, queries, k=3)
    return _with_recall_audit(ann, exact, k=3, floor=0.8)


@register("embed_pca", tags=("vector", "rows-only"))
def embed_pca(spark, sf_dir):
    """Distributed PCA to 8 components over the embeddings corpus
    (operators/pca.py): per-Arrow-batch Gram matrices -> one d x d
    covariance on the driver (a 32 KB model statistic, not data) ->
    eigh -> projection as pure Catalyst dot products. Rows-only
    (eigendecomposition has no ANSI-SQL form);
    tests/test_vector.py::test_pca_matches_numpy pins mean/components/
    projections value-for-value against numpy PCA on the same rows,
    and the variance-ordering/orthonormality invariants. The
    dominant-eigenvector MACHINERY is value-hash-checked by the
    fixed-point sibling `embed_pca_power_fixed` (below), which
    replays a 400-round power iteration in a DuckDB recursive CTE."""
    from conversadocs_spark.operators.pca import pca_fit, pca_project

    emb = io.table(spark, sf_dir, "embeddings")
    mean, comps, _var = pca_fit(emb, n_components=8)
    proj = pca_project(emb, mean, comps)
    return proj.select(
        "vec_id",
        F.transform("projected", lambda x: F.round(x, 6)).alias(
            "projected"
        ),
    )


# The embed_pca_power_fixed oracle replays the dominant-eigenvector
# power iteration in one recursive CTE — the eigendecomposition
# promotion (the pagerank pattern on the covariance "graph"): integer
# sufficient statistics over the 16-dim embedding prefix, the EXACT
# integer scatter matrix via the truncated-mean expansion (see
# operators/pca.py:pca_top_component_fixedpoint), then 400 rounds of
# w = C v with max-|w| fixed-point renormalization, every division
# truncating toward zero. vec_id < 2000 bounds the statistics pass at
# every gate scale; the recursion itself is 400 x 16 rows.
_PCA_POWER_FIXED_ORACLE = """\
WITH RECURSIVE x AS (
    SELECT [CAST(floor(CAST(e AS DOUBLE) * 1000 + 0.5) AS BIGINT)
            FOR e IN embedding[1:16]] AS v
    FROM embeddings WHERE vec_id < 2000
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
sx AS (
    SELECT i, CAST(sum(v[i]) AS BIGINT) AS s
    FROM x, range(1, 17) r(i) GROUP BY i
),
m AS (
    SELECT i,
           CASE WHEN s >= 0 THEN s // (SELECT n FROM nn)
                ELSE -((-s) // (SELECT n FROM nn)) END AS m
    FROM sx
),
sxx AS (
    SELECT i, j, CAST(sum(v[i] * v[j]) AS BIGINT) AS s2
    FROM x, range(1, 17) r1(i), range(1, 17) r2(j)
    GROUP BY i, j
),
cov AS (
    SELECT g.i, g.j,
           g.s2 - mi.m * sj.s - mj.m * si.s
               + (SELECT n FROM nn) * mi.m * mj.m AS c
    FROM sxx g
    JOIN m mi ON mi.i = g.i
    JOIN m mj ON mj.i = g.j
    JOIN sx si ON si.i = g.i
    JOIN sx sj ON sj.i = g.j
),
steps(t, i, v) AS (
    SELECT 0, i, CAST(10000 AS BIGINT) FROM range(1, 17) r(i)
    UNION ALL
    SELECT q.t + 1, q.i,
           CASE WHEN q.w >= 0
                THEN (q.w * 10000) // greatest(q.mx, 1)
                ELSE -(((-q.w) * 10000) // greatest(q.mx, 1)) END
    FROM (
        SELECT a.t, a.i, a.w,
               max(abs(a.w)) OVER (PARTITION BY a.t) AS mx
        FROM (
            SELECT s.t, c.i, CAST(sum(c.c * s.v) AS BIGINT) AS w
            FROM steps s JOIN cov c ON c.j = s.i
            WHERE s.t < 400
            GROUP BY s.t, c.i
        ) a
    ) q
)
SELECT CAST(i AS INTEGER) AS dim_idx, v AS loading_fp,
       CAST(v AS DOUBLE) / 10000 AS loading
FROM steps WHERE t = 400 ORDER BY dim_idx\n"""


@register(
    "embed_pca_power_fixed", oracle=_PCA_POWER_FIXED_ORACLE,
    tags=("vector",),
)
def embed_pca_power_fixed(spark, sf_dir):
    """Dominant principal component of the embedding corpus,
    ORACLE-CHECKED: fixed-point power iteration whose 400 updates a
    DuckDB recursive CTE replays bit for bit (the PageRank/LR
    promotion technique applied to the eigendecomposition — the last
    NumPy-only model kernel). One map-side-combinable aggregate
    computes the integer sufficient statistics; the scatter matrix
    and the iteration are exact integer driver math
    (operators/pca.py:pca_top_component_fixedpoint has the design:
    the truncated-mean expansion keeps the scatter matrix EXACT, and
    iters=400 reaches cos >= 0.9999 vs numpy's eigenvector on this
    near-isotropic fixture, pinned in tests/test_vector.py).

    The full float PCA `embed_pca` (eigh, 8 components, projections)
    stays rows-only with its NumPy pin — it is the production
    operator; this query is the eigen-machinery's value-hash row.

    Scale shape: one corpus pass emitting a model-sized statistics
    row; vec_id < 2000 bounds the ORACLE's statistics pass (the
    pagerank bound pattern) — the engine side has no such need."""
    from conversadocs_spark.operators.pca import (
        pca_top_component_fixedpoint,
    )

    emb = io.table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 2000
    )
    v = pca_top_component_fixedpoint(emb, dim=16, iters=400)
    return spark.createDataFrame(
        [(i + 1, int(x), float(x) / 10_000) for i, x in enumerate(v)],
        "dim_idx int, loading_fp long, loading double",
    ).orderBy("dim_idx")


_SEMANTIC_CLUSTERS_ORACLE = (
    """
WITH RECURSIVE pairs AS (
    SELECT id1, id2 FROM (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="id1",
        id2="id2",
        filter_a="WHERE vec_id < 200",
        filter_b="WHERE vec_id < 200",
        pair_pred="WHERE a.vec_id < b.vec_id",
    )
    + """
    ) s WHERE round(s.sim, 6) >= 0.3
),
nodes AS (
    SELECT DISTINCT id
    FROM (SELECT id1 AS id FROM pairs UNION SELECT id2 FROM pairs)
),
edges AS (
    SELECT id1 AS src, id2 AS dst FROM pairs
    UNION ALL
    SELECT id2, id1 FROM pairs
),
reach(src, dst) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src                  AS vec_id,
       min(dst)             AS cluster_id,
       src = min(dst)       AS is_survivor
FROM reach
GROUP BY src
"""
)


@register(
    "dedup_semantic_clusters",
    oracle=_SEMANTIC_CLUSTERS_ORACLE,
    tags=("vector", "dedup"),
)
def dedup_semantic_clusters(spark, sf_dir):
    """SEMANTIC duplicate clusters: cosine-threshold pairs resolved to
    components with a min-id survivor per cluster — `dedup_clusters`'
    transitive-collapse semantics applied to the embedding modality
    instead of MinHash pairs (paraphrase groups chain exactly like
    near-dup groups: A~B and B~C must collapse even when cos(A,C)
    falls under threshold). Reuses operators/components.py unchanged —
    the operator is pair-source-agnostic by design, and this query is
    the proof.

    Scale shape: the quadratic pair join here is the ORACLE-bounded
    form (vec_id < 200); at 100 TB the pair source swaps to the LSH
    bucket join / IVF probes (`ann_topk`/`ann_ivf`) with the component
    resolution unchanged. Components converge in O(log diameter)
    path-halving rounds over a pair-sized label table."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )

    from conversadocs_spark.functions.vector import dot_product, l2_norm

    emb = io.table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 200
    )
    # per-side hoisted norms — see similarity_join's note
    a = emb.select(
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("emb1"),
        l2_norm(F.col("embedding")).alias("_n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("emb2"),
        l2_norm(F.col("embedding")).alias("_n2"),
    )
    sim = dot_product(F.col("emb1"), F.col("emb2")) / (
        F.col("_n1") * F.col("_n2")
    )
    pairs = (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.round(sim, 6).alias("sim"))
        .where(F.col("sim") >= 0.3)
    )
    comp = connected_components(pairs, "id1", "id2")
    return comp.select(
        F.col("id").alias("vec_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_survivor"),
    )


_SEMDEDUP_ORACLE = (
    """
WITH csims AS (
    SELECT v.vec_id, s.cid,
           ROUND(
               SUM(CAST(v.x AS DOUBLE) * CAST(s.y AS DOUBLE))
               / (SQRT(SUM(CAST(v.x AS DOUBLE) * CAST(v.x AS DOUBLE)))
                  * SQRT(SUM(CAST(s.y AS DOUBLE) * CAST(s.y AS DOUBLE)))),
               6) AS csim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id < 500) v
    JOIN (SELECT vec_id AS cid, unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id < 500 AND vec_id % 250 = 0) s USING (i)
    GROUP BY v.vec_id, s.cid
),
assigned AS (
    SELECT vec_id, cid AS cluster_id, csim AS centroid_sim
    FROM (SELECT vec_id, cid, csim,
                 row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid ASC) AS rn
          FROM csims) r
    WHERE rn = 1
),
pairs AS (
    SELECT p.id1, p.id2
    FROM (
"""
    + _SQL_COSINE_PAIRS.format(
        id1="id1",
        id2="id2",
        filter_a="WHERE vec_id < 500",
        filter_b="WHERE vec_id < 500",
        pair_pred="WHERE a.vec_id < b.vec_id",
    )
    + """
    ) p
    JOIN assigned a1 ON a1.vec_id = p.id1
    JOIN assigned a2 ON a2.vec_id = p.id2
    WHERE a1.cluster_id = a2.cluster_id AND round(p.sim, 6) >= 0.3
),
edges AS (
    SELECT id1 AS pid, id2 AS qid FROM pairs
    UNION ALL
    SELECT id2, id1 FROM pairs
),
pruned AS (
    SELECT DISTINCT e.pid
    FROM edges e
    JOIN assigned p ON p.vec_id = e.pid
    JOIN assigned q ON q.vec_id = e.qid
    WHERE q.centroid_sim < p.centroid_sim
       OR (q.centroid_sim = p.centroid_sim AND q.vec_id < p.vec_id)
)
SELECT a.vec_id, a.cluster_id, a.centroid_sim,
       pr.pid IS NULL AS is_kept
FROM assigned a
LEFT JOIN pruned pr ON pr.pid = a.vec_id
"""
)


@register(
    "semdedup_prune",
    oracle=_SEMDEDUP_ORACLE,
    tags=("vector", "dedup"),
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    cluster-partitioned semantic pruning — the SCALE-correct
    complement to `dedup_semantic_clusters`' transitive collapse.
    Assign every vector to its nearest centroid, compare pairs ONLY
    within a cluster, and inside each duplicate neighborhood keep the
    point LEAST similar to its centroid (the paper's rule: the most
    prototypical copies are redundant with the centroid itself).

    Semantics pinned here: centroids are the deterministic seed rows
    (vec_id % 250 == 0 — fixed seeds rather than k-means iterations so
    DuckDB can replay the assignment exactly); a point is pruned iff
    some same-cluster neighbor with pair-cosine >= 0.3 has a strictly
    lower (centroid_sim, vec_id) key. Non-recursive by design — each
    point consults only its direct tau-neighbors, so the decision is
    one join, not an iterative closure (that form is
    `dedup_semantic_clusters`).

    Scale shape (the reason SemDeDup exists at 100 TB): assignment is
    the zero-shuffle packed-broadcast argmax from operators/ivf.py
    (K x dim doubles in ONE broadcast row, no Exchange between scan
    and argmax); the quadratic pair join is equi-keyed on cluster_id,
    so candidate count drops from n^2 to sum_k(n_k^2) — with K sized
    ~sqrt(n/avg_cluster), orders of magnitude below all-pairs — and
    the survivor rule is one more equi-join plus a left anti lookup.
    The vec_id < 500 bound keeps the DuckDB oracle's all-pairs
    verification constant-cost at every gate scale; the Spark plan
    never materializes cross-cluster pairs at any scale.
    """
    emb = io.table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < 500
    )
    seeds = emb.where(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("centroid"),
    )
    packed = seeds.agg(
        F.collect_list(F.struct("cid", "centroid")).alias("cents")
    )
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(
                    cosine_similarity(F.col("embedding"), c["centroid"]),
                    6,
                ).alias("csim"),
                (-c["cid"]).alias("neg_cid"),
            ),
        )
    )
    # The assignment relation feeds FIVE branches (both pair sides,
    # both edge directions via pairs, and the final output); without
    # materialization Catalyst re-derives the broadcast-argmax cosine
    # from the parquet scan per branch (measured: 15 embeddings scans
    # in the executed plan). Materialize it once via eager
    # localCheckpoint (not persist: the returned DataFrame keeps
    # reading the blocks, so an in-function unpersist is impossible —
    # the ContextCleaner frees checkpoint blocks when the result goes
    # out of scope instead of pinning cache across a long driver
    # sweep, the token_budget ADVICE-r8 rule); at 100 TB this is the
    # assignment table you'd write bucketed by cluster_id between
    # stages anyway (the IVF index shape, operators/ivf.py).
    assigned = emb.crossJoin(F.broadcast(packed)).select(
        "vec_id",
        "embedding",
        (-best["neg_cid"]).alias("cluster_id"),
        best["csim"].alias("centroid_sim"),
    ).localCheckpoint(eager=True)
    a = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("emb1"),
        F.col("centroid_sim").alias("sim1"),
    )
    b = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("emb2"),
        F.col("centroid_sim").alias("sim2"),
    )
    pairs = (
        a.join(b, "cluster_id")
        .where(F.col("id1") < F.col("id2"))
        .where(
            F.round(
                cosine_similarity(F.col("emb1"), F.col("emb2")), 6
            )
            >= 0.3
        )
        .select("id1", "id2", "sim1", "sim2")
    )
    edges = pairs.select(
        F.col("id1").alias("pid"),
        F.col("sim1").alias("psim"),
        F.col("id2").alias("qid"),
        F.col("sim2").alias("qsim"),
    ).unionAll(
        pairs.select(
            F.col("id2").alias("pid"),
            F.col("sim2").alias("psim"),
            F.col("id1").alias("qid"),
            F.col("sim1").alias("qsim"),
        )
    )
    pruned = (
        edges.where(
            (F.col("qsim") < F.col("psim"))
            | (
                (F.col("qsim") == F.col("psim"))
                & (F.col("qid") < F.col("pid"))
            )
        )
        .select("pid")
        .distinct()
    )
    return assigned.join(
        pruned, assigned["vec_id"] == pruned["pid"], "left"
    ).select(
        "vec_id",
        "cluster_id",
        "centroid_sim",
        F.col("pid").isNull().alias("is_kept"),
    )


@register("ann_ivfpq", tags=("vector", "rows-only"))
def ann_ivfpq(spark, sf_dir):
    """IVF-PQ — the canonical billion-scale pairing (coarse cell
    pruning x 32x quantized codes; operators/pq.py:ivfpq_topk): probe
    the 8 nearest of 16 cells, ADC-score ONLY their members from
    m=8-byte codes, exact-refine the top-96 pool. The scored bytes
    drop ~64x vs brute force before any raw vector is touched — the
    shape that makes a 100 TB ANN index serveable.

    Approximate by design -> no SQL oracle;
    tests/test_vector.py::test_ivfpq_recall_at_3 pins recall@3 >= 0.8
    vs exact (measured 0.867 on the uniform-random worst-case
    fixtures) and the same in-plan recall_at_k audit as the other ANN
    queries (0 rows on drift)."""
    from conversadocs_spark.operators.pq import ivfpq_topk

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    ann = ivfpq_topk(
        corpus, queries, k=3, n_lists=16, nprobe=8, m=8, ksub=16,
        pool=96, refine_iters=2, dim=64,
    )
    exact = knn_per_query(corpus, queries, k=3)
    return _with_recall_audit(ann, exact, k=3, floor=0.8)


# --------------------------------------------------------------------------
# metadata-filtered retrieval (pre-filter strategy)
# --------------------------------------------------------------------------

_KNN_FILTERED_ORACLE = """
WITH allowed AS (
    SELECT doc_id FROM documents
    WHERE lang = 'en' AND source <> 'src0'
),
sims AS (
    SELECT e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id IN (SELECT doc_id FROM allowed)) e
    JOIN (SELECT unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0) q USING (i)
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id
)
SELECT s.vec_id, s.sim, d.lang, d.source
FROM (SELECT vec_id, sim FROM sims
      ORDER BY sim DESC, vec_id ASC LIMIT 5) s
LEFT JOIN documents d ON d.doc_id = s.vec_id
"""


@register("knn_filtered", oracle=_KNN_FILTERED_ORACLE, tags=("vector",))
def knn_filtered_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered retrieval: top-5 neighbours of vec 0 among
    documents with lang='en' AND source<>'src0' — the multi-tenant /
    language-scoped variant of the reference's retriever (bones.py:74
    retrieves unfiltered; any scoped deployment needs this).

    PRE-filter strategy (operators/knn.py:knn_filtered): the predicate
    runs on the documents scan (PushedFilters on lang/source), the
    surviving doc-id set semi-joins into the embeddings scan as a
    LEFT SEMI join — unhinted, so Catalyst broadcasts it from size
    statistics when small (the plan test pins BroadcastHashJoin here)
    and degrades to a shuffled semi-join when the tenant set is
    itself huge (its own test pins that fallback). Then the same
    scan -> codegen cosine -> TakeOrderedAndProject(5) pipeline as
    knn_topk runs over the filtered corpus. Exact over the filter at
    any selectivity — a post-filtered ANN would under-fill k whenever
    the predicate is selective. The corpus never shuffles; the k-row
    result (not the unbounded documents side) is the broadcast side
    of the provenance annotation join.
    """
    from conversadocs_spark.operators.knn import knn_filtered

    emb = io.table(spark, sf_dir, "embeddings")
    docs = io.table(spark, sf_dir, "documents")
    allowed = docs.where(
        (F.col("lang") == "en") & (F.col("source") != "src0")
    ).select(F.col("doc_id").alias("vec_id"))
    top = knn_filtered(emb, allowed, query_id=0, k=5)
    prov = docs.select(
        F.col("doc_id").alias("vec_id"), "lang", "source"
    )
    # provenance annotation: the k-row result is the broadcast side
    # (documents is the unbounded one at scale). Inner join is exact
    # here — every surviving id came from the documents scan itself,
    # so the lookup can never drop a row.
    return F.broadcast(top).join(prov, "vec_id").select(
        "vec_id", "sim", "lang", "source"
    )


@register("mmr_rerank", tags=("vector", "rows-only"))
def mmr_rerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (the retriever's "mmr" search mode —
    the mode switch next to the "similarity" the reference uses at
    bones.py:74): per query, retrieve wide (exact top-12), then
    greedily re-rank to 5 results trading relevance against redundancy
    (lambda=0.7, operators/mmr.py).

    Greedy-iterative -> no SQL oracle; the selection is pinned
    value-for-value against a pure-python/numpy reference in
    tests/test_vector.py, plus invariants (first pick = argmax rel,
    output ids subset of candidate ids, rank is a permutation).

    Scale shape: the corpus-scale stage is knn_per_query (broadcast
    queries, no corpus shuffle); MMR touches only Q x 12 candidate
    rows, grouped by query — parallel across queries, bounded per
    group."""
    from conversadocs_spark.operators.mmr import mmr_rerank

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    wide = knn_per_query(corpus, queries, k=12).drop("rank")
    # broadcast the Q x 12 candidate list into the embeddings scan
    # (the provenance-join idiom — see mmr_rerank_exact's note)
    cands = F.broadcast(wide).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return mmr_rerank(cands, k=5, lam=0.7).orderBy(
        "query_id", "mmr_rank"
    )


# The MMR oracle replays the greedy selection EXACTLY with a recursive
# CTE (the seq_pack_ffd technique): every score is fixed-point BIGINT
# micro-units via floor(x*1e6 + 0.5) — the engine-agnostic HALF-UP —
# so the per-step argmax is an integer comparison both engines resolve
# identically. State per query = the bounded candidate lists (ids /
# rel_fp / the 12x12 sim_fp matrix, all built once) plus the selected
# index list; each recursion step appends the arg-max index (first
# index = smallest id on ties, because the lists are id-ascending).
# Depth = k = 5; working set never exceeds the candidate bound.
_MMR_EXACT_ORACLE = """
WITH RECURSIVE sims AS (
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE))
           / (SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE)))
              * SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))))
           AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id < 5) a
    JOIN (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id >= 5) b USING (i)
    GROUP BY a.vec_id, b.vec_id
),
cand AS (
    SELECT query_id, vec_id, round(sim, 6) AS sim,
           CAST(floor(round(sim, 6) * 1e6 + 0.5) AS BIGINT) AS rel_fp
    FROM (SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY round(sim, 6) DESC, vec_id ASC) AS rk
          FROM sims)
    WHERE rk <= 12
),
-- pair sims via a strict sequential LEFT FOLD (list_reduce), the
-- same operation order as the engine kernel's fold_dot — bit-
-- identical float64s on both engines, so the fp quantization
-- boundary can never flip (ADVICE r11: an unordered SUM vs the
-- kernel's BLAS summation was a latent last-ulp hash flake)
pvecs AS (
    SELECT vec_id, v,
           sqrt(list_reduce([v[i] * v[i]
                             FOR i IN range(1, len(v) + 1)],
                            (a, b) -> a + b)) AS nrm
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE vec_id IN (SELECT vec_id FROM cand))
),
pairsim AS (
    SELECT c1.query_id, c1.vec_id AS i_id, c2.vec_id AS j_id,
           CAST(floor(
               list_reduce([x.v[i] * y.v[i]
                            FOR i IN range(1, len(x.v) + 1)],
                           (a, b) -> a + b)
               / (x.nrm * y.nrm)
               * 1e6 + 0.5) AS BIGINT) AS sim_fp
    FROM cand c1
    JOIN cand c2 ON c1.query_id = c2.query_id
    JOIN pvecs x ON x.vec_id = c1.vec_id
    JOIN pvecs y ON y.vec_id = c2.vec_id
),
state0 AS (
    SELECT b.query_id, b.ids, b.rels, b.sims_d, m.m
    FROM (SELECT query_id,
                 list(vec_id ORDER BY vec_id) AS ids,
                 list(rel_fp ORDER BY vec_id) AS rels,
                 list(sim ORDER BY vec_id) AS sims_d
          FROM cand GROUP BY query_id) b
    JOIN (SELECT query_id, list(simrow ORDER BY i_id) AS m
          FROM (SELECT query_id, i_id,
                       list(sim_fp ORDER BY j_id) AS simrow
                FROM pairsim GROUP BY query_id, i_id)
          GROUP BY query_id) m USING (query_id)
),
steps(query_id, t, sel, pick_id, pick_sim) AS (
    SELECT query_id, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM state0
    UNION ALL
    SELECT s.query_id, s.t + 1,
           list_append(s.sel, pk.p),
           st.ids[pk.p],
           st.sims_d[pk.p]
    FROM steps s
    JOIN state0 st USING (query_id)
    CROSS JOIN LATERAL (
        SELECT ([i FOR i IN range(1, len(st.ids) + 1)
                 IF (coalesce(list_position(s.sel, i), 0) = 0)
                    AND (7 * st.rels[i]
                         - 3 * CASE WHEN len(s.sel) = 0 THEN 0
                               ELSE list_max(
                                   [st.m[i][x] FOR x IN s.sel])
                               END)
                        = list_max(
                            [CASE WHEN coalesce(
                                      list_position(s.sel, j), 0) <> 0
                                  THEN NULL
                                  ELSE 7 * st.rels[j]
                                       - 3 * CASE
                                           WHEN len(s.sel) = 0 THEN 0
                                           ELSE list_max(
                                             [st.m[j][x]
                                              FOR x IN s.sel])
                                           END
                             END
                             FOR j IN range(1, len(st.ids) + 1)])
                ])[1] AS p
    ) pk
    WHERE s.t < 5
)
SELECT query_id, pick_id AS vec_id, pick_sim AS sim,
       CAST(t - 1 AS INTEGER) AS mmr_rank
FROM steps WHERE pick_id IS NOT NULL
"""


@register("mmr_rerank_exact", oracle=_MMR_EXACT_ORACLE, tags=("vector",))
def mmr_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval, ORACLE-CHECKED (VERDICT r10 #1): the
    reference retriever's "mmr" search mode (the mode switch next to
    the "similarity" used at bones.py:74), with the greedy objective
    lowered to fixed-point integers so a DuckDB recursive CTE replays
    the selection bit for bit — the technique seq_pack_ffd proved out
    for bounded sequential processes.

    Per query (vec_id < 5): exact top-12 wide retrieval over the
    corpus (knn_per_query — broadcast queries, zero corpus shuffle,
    6-dp-rounded sims), then greedy MMR to 5 picks with integer scores
    7*rel_fp - 3*max_sim_fp (lambda = 0.7 in tenths; micro-unit
    fixed point via floor(x*1e6 + 0.5) on BOTH engines). Ties break
    on ascending vec_id.

    Scale shape: identical to mmr_rerank — the corpus-scale stage is
    the wide retrieval; the greedy touches only Q x 12 candidate rows
    grouped by query (parallel across queries, bounded per group).
    The sibling rows-only `mmr_rerank` keeps the float-lambda form."""
    from conversadocs_spark.operators.mmr import mmr_rerank_fixedpoint

    emb = io.table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    wide = knn_per_query(corpus, queries, k=12).drop("rank")
    # fetch the candidates' vectors by broadcasting the Q x 12 result
    # into the embeddings scan — the provenance-join idiom: unhinted,
    # Catalyst builds on the CORPUS side (small at fixture scale),
    # which at 100 TB would degrade to an SMJ shuffling the corpus.
    # The candidate side is the provably bounded one.
    cands = F.broadcast(wide).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return mmr_rerank_fixedpoint(cands, k=5, lam_num=7, lam_den=10)


# --------------------------------------------------------------------------
# int8 scalar-quantized storage + retrieval (SQ8)
# --------------------------------------------------------------------------

_KNN_INT8_ORACLE = """
WITH deq AS (
    SELECT e.vec_id,
           e.i,
           -- constant-vector guard mirrors quantize_int8: qscale=0
           -- stores code -128, which dequantizes to exactly qmin
           CASE WHEN b.qscale = 0 THEN b.qmin
                ELSE b.qmin + (floor((CAST(e.x AS DOUBLE) - b.qmin)
                                     / b.qscale + 0.5) - 128 + 128.0)
                              * b.qscale
           END AS xh
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) e
    JOIN (SELECT vec_id,
                 CAST(list_min(embedding) AS DOUBLE) AS qmin,
                 (CAST(list_max(embedding) AS DOUBLE)
                  - CAST(list_min(embedding) AS DOUBLE)) / 255.0
                     AS qscale
          FROM embeddings) b USING (vec_id)
),
sims AS (
    SELECT d.vec_id,
           ROUND(
               SUM(d.xh * q.yh)
               / (SQRT(SUM(d.xh * d.xh)) * SQRT(SUM(q.yh * q.yh))),
               6) AS sim_q
    FROM deq d
    JOIN (SELECT i, xh AS yh FROM deq WHERE vec_id = 0) q USING (i)
    WHERE d.vec_id <> 0
    GROUP BY d.vec_id
)
SELECT vec_id, sim_q FROM sims
ORDER BY sim_q DESC, vec_id ASC LIMIT 5
"""


@register("knn_int8", oracle=_KNN_INT8_ORACLE, tags=("vector",))
def knn_int8_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-quantized retrieval: top-5 neighbours of vec 0 scored over
    int8-dequantized vectors (operators/quant.py) — the 4x-smaller
    storage tier below float32 and above PQ's 32x. The reference
    serves float32 RAM-resident (bones.py:74); SQ8 is the first lever
    when the vector column stops fitting.

    Unlike the trained ANN families (rows-only by design), SQ8 is a
    pure row-local affine expression — floor-based, engine-portable —
    so this query is fully ORACLE-BACKED: DuckDB replicates
    quantize -> dequantize -> cosine bit-for-bit.

    Plan shape: one scan computing codes JVM-side (no shuffle,
    no Python), broadcast 1-row dequantized query,
    TakeOrderedAndProject(5) — identical scaling to knn_topk with a
    quarter of the bytes read in a real quantized-storage deployment.
    """
    from conversadocs_spark.operators.quant import (
        dequantized,
        quantize_int8,
    )

    emb = io.table(spark, sf_dir, "embeddings")
    quant = quantize_int8(emb).select(
        "vec_id", "qmin", "qscale", "q"
    )
    deq = quant.select(
        "vec_id", dequantized().alias("xh")
    )
    qv = deq.where(F.col("vec_id") == 0).select(
        F.col("xh").alias("_qvec")
    )
    sim = cosine_similarity(F.col("xh"), F.col("_qvec"))
    return (
        deq.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != 0)
        .select("vec_id", F.round(sim, 6).alias("sim_q"))
        .orderBy(F.desc("sim_q"), F.asc("vec_id"))
        .limit(5)
    )


# --------------------------------------------------------------------------
# binary (1-bit sign) quantized retrieval: Hamming shortlist + rescore
# --------------------------------------------------------------------------

_KNN_BINARY_ORACLE = """
WITH dims AS (SELECT max(len(embedding)) AS d FROM embeddings),
bits AS (
    SELECT u.vec_id,
           CAST((u.i - 1) // 32 AS INT) AS w,
           SUM(CASE WHEN CAST(u.x AS DOUBLE) > 0
                    THEN 1::BIGINT << CAST((u.i - 1) % 32 AS INT)
                    ELSE 0 END) AS word
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) u
    GROUP BY u.vec_id, w
),
ham AS (
    SELECT b.vec_id,
           CAST(d.d - SUM(bit_count(xor(b.word, q.word))) AS INT)
               AS matches
    FROM bits b
    JOIN (SELECT w, word FROM bits WHERE vec_id = 0) q USING (w)
    CROSS JOIN dims d
    WHERE b.vec_id <> 0
    GROUP BY b.vec_id, d.d
),
shortlist AS (
    SELECT vec_id, matches FROM ham
    ORDER BY matches DESC, vec_id ASC LIMIT 50
),
exact AS (
    SELECT e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id IN (SELECT vec_id FROM shortlist)) e
    JOIN (SELECT unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0) q USING (i)
    GROUP BY e.vec_id
)
SELECT s.vec_id, s.matches, x.sim
FROM shortlist s JOIN exact x USING (vec_id)
ORDER BY x.sim DESC, s.vec_id ASC LIMIT 5
"""


@register("knn_binary", oracle=_KNN_BINARY_ORACLE, tags=("vector",))
def knn_binary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval: sign bits packed 32-per-BIGINT
    (operators/quant.py:binarize_sign), Hamming-similarity shortlist
    of 50 (XOR + POPCNT, integer-only and JVM-side), exact float rescore of
    the shortlist, top-5. Completes the storage ladder below SQ8
    (knn_int8, 4x) and PQ (ann_pq, 32x trained): sign binarization is
    32x untrained — and unlike PQ it is a pure comparison against the
    constant 0, so the codes are bit-identical in any engine and the
    whole query is ORACLE-BACKED (the trained families are rows-only
    with recall audits by design).

    Scale: the Hamming pass scans ONLY the packed-code column — at
    384-dim float32 that is 48 bytes/vector instead of 1536, and the
    scan is XOR+POPCNT with no float math; shortlist is
    TakeOrderedAndProject(50) (integer key, vec_id tie-break — no
    rounding ambiguity); the float rescore touches 50 rows. In a real
    deployment the rescore is an id-join back into the float table;
    the fixture carries both columns through one scan. The corpus
    never shuffles.
    """
    from conversadocs_spark.operators.quant import (
        binarize_sign,
        hamming_matches,
    )

    emb = io.table(spark, sf_dir, "embeddings")
    packed = binarize_sign(emb).select("vec_id", "embedding", "bwords")
    qrow = packed.where(F.col("vec_id") == 0).select(
        F.col("bwords").alias("_qw"), F.col("embedding").alias("_qv")
    )
    cand = (
        packed.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            "embedding",
            "_qv",
            hamming_matches(
                F.col("bwords"), F.col("_qw"), F.size("embedding")
            ).alias("matches"),
        )
    )
    shortlist = cand.orderBy(
        F.desc("matches"), F.asc("vec_id")
    ).limit(50)
    rescored = shortlist.select(
        "vec_id",
        "matches",
        F.round(
            cosine_similarity(F.col("embedding"), F.col("_qv")), 6
        ).alias("sim"),
    )
    return rescored.orderBy(F.desc("sim"), F.asc("vec_id")).limit(5)


_KNN_BINARY_BATCH_ORACLE = """
WITH dims AS (SELECT max(len(embedding)) AS d FROM embeddings),
bits AS (
    SELECT u.vec_id,
           CAST((u.i - 1) // 32 AS INT) AS w,
           SUM(CASE WHEN CAST(u.x AS DOUBLE) > 0
                    THEN 1::BIGINT << CAST((u.i - 1) % 32 AS INT)
                    ELSE 0 END) AS word
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) u
    GROUP BY u.vec_id, w
),
ham AS (
    SELECT q.vec_id AS query_id, b.vec_id,
           CAST(d.d - SUM(bit_count(xor(b.word, q.word))) AS INT)
               AS matches
    FROM bits b
    JOIN (SELECT vec_id, w, word FROM bits WHERE vec_id < 5) q
         USING (w)
    CROSS JOIN dims d
    WHERE b.vec_id >= 5
    GROUP BY q.vec_id, b.vec_id, d.d
),
sl AS (
    SELECT query_id, vec_id, matches FROM (
        SELECT query_id, vec_id, matches,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY matches DESC, vec_id ASC) AS rn
        FROM ham) WHERE rn <= 50
),
exact AS (
    SELECT q.query_id, e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id IN (SELECT DISTINCT vec_id FROM sl)) e
    JOIN (SELECT vec_id AS query_id, unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id < 5) q USING (i)
    GROUP BY q.query_id, e.vec_id
)
SELECT query_id, vec_id, matches, sim FROM (
    SELECT s.query_id, s.vec_id, s.matches, x.sim,
           row_number() OVER (PARTITION BY s.query_id
               ORDER BY x.sim DESC, s.vec_id ASC) AS rk
    FROM sl s
    JOIN exact x ON s.query_id = x.query_id AND s.vec_id = x.vec_id)
WHERE rk <= 3
"""


@register(
    "knn_binary_batch", oracle=_KNN_BINARY_BATCH_ORACLE,
    tags=("vector",),
)
def knn_binary_batch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-of-queries form of `knn_binary` (r8 verdict #6):
    production retrieval amortizes the corpus scan over a QUERY BATCH
    rather than re-scanning per query. Vectors vec_id<5 act as the
    query batch, the rest as the corpus; per query: Hamming top-50
    shortlist on the packed sign bits, exact float rescore, top-3.

    Scale shape, in order:
    1. ONE corpus scan computes the packed codes and XOR+POPCNT
       Hamming matches against all Q broadcast query codes (corpus ×
       Q candidate rows, but only the 3-integer projection
       (query_id, vec_id, matches) leaves the scan stage);
    2. the per-query top-50 window shuffles ONLY that integer
       projection — ~20 bytes × N × Q, never the packed or float
       columns (the "window top-k on the integer key" the batch form
       needs; the single-query form's TakeOrdered has no multi-query
       analog);
    3. the Q×50-row shortlist is BROADCAST back onto the embeddings
       table for the exact rescore — the corpus-side relation never
       hash-shuffles (plan-pinned in tests/test_vector.py), exactly
       like knn_matryoshka's refine stage;
    4. the final per-query top-3 window runs over ≤ Q×50 rows.

    Q bound: the Hamming pass is O(N×Q) integer ops with Q codes in
    executor memory (48 bytes/query at 384 dims) — fine into the
    thousands of queries per pass; a larger serving batch splits into
    Q-sized chunks over the SAME corpus scan cadence rather than
    growing the broadcast.
    """
    from pyspark.sql import Window

    from conversadocs_spark.operators.quant import (
        binarize_sign,
        hamming_matches,
    )

    emb = io.table(spark, sf_dir, "embeddings")
    packed = binarize_sign(emb).select("vec_id", "embedding", "bwords")
    queries = packed.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("bwords").alias("_qw"),
    )
    cand = (
        packed.where(F.col("vec_id") >= 5)
        .crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "vec_id",
            hamming_matches(
                F.col("bwords"), F.col("_qw"), F.size("embedding")
            ).alias("matches"),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("matches"), F.asc("vec_id")
    )
    shortlist = (
        cand.withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= 50)
        .select("query_id", "vec_id", "matches")
    )
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    rescored = (
        F.broadcast(shortlist)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            "matches",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6
            ).alias("sim"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w_final))
        .where(F.col("rk") <= 3)
        .select("query_id", "vec_id", "matches", "sim")
    )


# --------------------------------------------------------------------------
# matryoshka (prefix-dimension) retrieval: coarse rank + full refine
# --------------------------------------------------------------------------

_MRL_DIMS = 16

_KNN_MATRYOSHKA_ORACLE = """
WITH coarse AS (
    SELECT e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim_coarse
    FROM (SELECT vec_id, unnest(embedding[1:16]) AS x,
                 generate_subscripts(embedding[1:16], 1) AS i
          FROM embeddings WHERE vec_id <> 0) e
    JOIN (SELECT unnest(embedding[1:16]) AS y,
                 generate_subscripts(embedding[1:16], 1) AS i
          FROM embeddings WHERE vec_id = 0) q USING (i)
    GROUP BY e.vec_id
),
shortlist AS (
    SELECT vec_id, sim_coarse FROM coarse
    ORDER BY sim_coarse DESC, vec_id ASC LIMIT 50
),
exact AS (
    SELECT e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id IN (SELECT vec_id FROM shortlist)) e
    JOIN (SELECT unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id = 0) q USING (i)
    GROUP BY e.vec_id
)
SELECT s.vec_id, s.sim_coarse, x.sim
FROM shortlist s JOIN exact x USING (vec_id)
ORDER BY x.sim DESC, s.vec_id ASC LIMIT 5
"""


@register(
    "knn_matryoshka", oracle=_KNN_MATRYOSHKA_ORACLE, tags=("vector",)
)
def knn_matryoshka_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (prefix-dimension) retrieval, Kusupati et al. 2022:
    rank the corpus on the FIRST 16 of 64 dimensions (MRL-trained
    embeddings front-load information, so a prefix is itself a valid
    embedding), keep the top 50 by rounded coarse similarity
    (vec_id tie-break), rescore those 50 with full-dimension cosine,
    return the top 5 with both scores.

    Scale: the coarse pass reads a quarter of the vector bytes — in a
    real deployment the prefix lives in its own (sub)column so the
    scan is dim-proportional, the same lever as knn_binary's packed
    column; the refine is a 50-row broadcast id-join back into the
    full-width table (broadcast side = the k-row shortlist, never the
    corpus). The corpus never shuffles; both stages end in
    TakeOrderedAndProject.
    """
    emb = io.table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.slice("embedding", 1, _MRL_DIMS).alias("_qc"),
        F.col("embedding").alias("_qv"),
    )
    coarse = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                cosine_similarity(
                    F.slice("embedding", 1, _MRL_DIMS), F.col("_qc")
                ),
                6,
            ).alias("sim_coarse"),
            "_qv",
        )
    )
    shortlist = coarse.orderBy(
        F.desc("sim_coarse"), F.asc("vec_id")
    ).limit(50)
    refined = F.broadcast(shortlist).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return (
        refined.select(
            "vec_id",
            "sim_coarse",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(5)
    )


# --------------------------------------------------------------------------
# multi-vector late-interaction retrieval (ColBERT MaxSim)
# --------------------------------------------------------------------------

_MULTIVEC_MAXSIM_ORACLE = """
WITH pairs AS (
    SELECT e.vec_id, q.q_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS s
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id // 10 <> 0) e
    JOIN (SELECT vec_id AS q_id, unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id // 10 = 0) q USING (i)
    GROUP BY e.vec_id, q.q_id
),
per_q AS (
    SELECT CAST(vec_id // 10 AS BIGINT) AS doc_id, q_id, MAX(s) AS m
    FROM pairs GROUP BY 1, 2
)
SELECT doc_id, ROUND(SUM(m), 6) AS maxsim
FROM per_q GROUP BY doc_id
ORDER BY maxsim DESC, doc_id ASC LIMIT 5
"""


@register(
    "multivec_maxsim", oracle=_MULTIVEC_MAXSIM_ORACLE, tags=("vector",)
)
def multivec_maxsim_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction (Khattab & Zaharia 2020): each
    document is a BAG of token vectors; score(Q, D) = sum over query
    vectors of the max cosine against any of D's vectors. Fixture
    multi-vector layout: doc = vec_id DIV 10 (10 token vectors per
    pseudo-doc); the query is doc 0's bag. Top-5 docs by MaxSim.

    Fully oracle-backed: per-token cosines are rounded to 6 before the
    MAX (so both engines pick the same argmax regardless of float
    summation order) and the 10-term sum is rounded again.

    Scale: the query bag (tens of vectors) broadcasts; one pass over
    the corpus token vectors computes |Q| cosines per token inside
    codegen; then two MAP-SIDE-COMBINABLE aggregations — max per
    (doc, query-token), sum per doc — shuffle only doc-count-sized
    relations on the doc key. The token table never shuffles; this is
    the standard late-interaction serving shape (candidate generation
    via ann_* families composes in front at 100 TB).
    """
    from conversadocs_spark.functions.vector import dot_product, l2_norm

    emb = io.table(spark, sf_dir, "embeddings").withColumn(
        "doc_id", F.expr("CAST(vec_id DIV 10 AS BIGINT)")
    )
    qv = emb.where(F.col("doc_id") == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("_qv"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    # hoist the corpus token's norm ABOVE the |Q|-way fan-out: inlined
    # cosine would recompute sqrt(sum(x^2)) once per (token, q_id)
    # pair — |Q| identical 64-element aggregates per token (Catalyst
    # has no CSE across projected expressions). dot/( _n * _qn ) is
    # the same expression tree cosine_similarity builds, evaluated on
    # the identical doubles, so oracle hashes are unchanged.
    pairs = (
        emb.where(F.col("doc_id") != 0)
        .withColumn("_n", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "vec_id",
            "q_id",
            F.round(
                dot_product(F.col("embedding"), F.col("_qv"))
                / (F.col("_n") * F.col("_qn")),
                6,
            ).alias("s"),
        )
    )
    per_q = pairs.groupBy("doc_id", "q_id").agg(F.max("s").alias("m"))
    return (
        per_q.groupBy("doc_id")
        .agg(F.round(F.sum("m"), 6).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("doc_id"))
        .limit(5)
    )


_KNN_INT8_BATCH_ORACLE = """
WITH deq AS (
    SELECT e.vec_id,
           e.i,
           CASE WHEN b.qscale = 0 THEN b.qmin
                ELSE b.qmin + (floor((CAST(e.x AS DOUBLE) - b.qmin)
                                     / b.qscale + 0.5) - 128 + 128.0)
                              * b.qscale
           END AS xh
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) e
    JOIN (SELECT vec_id,
                 CAST(list_min(embedding) AS DOUBLE) AS qmin,
                 (CAST(list_max(embedding) AS DOUBLE)
                  - CAST(list_min(embedding) AS DOUBLE)) / 255.0
                     AS qscale
          FROM embeddings) b USING (vec_id)
),
sims AS (
    SELECT q.vec_id AS query_id, d.vec_id,
           ROUND(
               SUM(d.xh * q.xh)
               / (SQRT(SUM(d.xh * d.xh)) * SQRT(SUM(q.xh * q.xh))),
               6) AS sim_q
    FROM deq d
    JOIN (SELECT vec_id, i, xh FROM deq WHERE vec_id < 5) q USING (i)
    WHERE d.vec_id >= 5
    GROUP BY q.vec_id, d.vec_id
)
SELECT query_id, vec_id, sim_q,
       CAST(rk AS INTEGER) AS rank
FROM (
    SELECT query_id, vec_id, sim_q,
           row_number() OVER (PARTITION BY query_id
               ORDER BY sim_q DESC, vec_id ASC) AS rk
    FROM sims)
WHERE rk <= 5
"""


@register(
    "knn_int8_batch", oracle=_KNN_INT8_BATCH_ORACLE, tags=("vector",)
)
def knn_int8_batch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-of-queries form of `knn_int8` — completing the quantized
    serving matrix (knn_binary_batch covers the 32x tier; this is the
    4x SQ8 tier). Vectors vec_id<5 are the query batch, the rest the
    corpus; per query, top-5 by cosine over the int8-dequantized
    representation. No rescore stage: SQ8 IS the scoring tier (its
    error is the quantization's, not a shortlist's), which keeps the
    batch form to exactly two stages.

    Scale shape: one corpus scan computes the dequantized codes in
    codegen and scores all Q broadcast queries; only the 3-column
    integer/double projection (query_id, vec_id, sim_q) reaches the
    per-query top-5 window — the corpus floats never shuffle, same
    contract as knn_binary_batch's stage 2 (plan-pinned). Q bound:
    Q x dim dequantized doubles in the broadcast — thousands of
    queries per pass at 384 dims; bigger batches chunk over the same
    scan cadence."""
    from pyspark.sql import Window

    from conversadocs_spark.operators.quant import (
        dequantized,
        quantize_int8,
    )

    emb = io.table(spark, sf_dir, "embeddings")
    deq = quantize_int8(emb).select(
        "vec_id", dequantized().alias("xh")
    )
    queries = deq.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("xh").alias("_qh")
    )
    sims = (
        deq.where(F.col("vec_id") >= 5)
        .crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("xh"), F.col("_qh")), 6
            ).alias("sim_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_q"), F.asc("vec_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id", "sim_q", "rank")
    )


_KNN_FILTERED_INT8_BATCH_ORACLE = """
WITH allowed AS (
    SELECT doc_id FROM documents
    WHERE lang = 'en' AND source <> 'src0'
),
deq AS (
    SELECT e.vec_id,
           e.i,
           CASE WHEN b.qscale = 0 THEN b.qmin
                ELSE b.qmin + (floor((CAST(e.x AS DOUBLE) - b.qmin)
                                     / b.qscale + 0.5) - 128 + 128.0)
                              * b.qscale
           END AS xh
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) e
    JOIN (SELECT vec_id,
                 CAST(list_min(embedding) AS DOUBLE) AS qmin,
                 (CAST(list_max(embedding) AS DOUBLE)
                  - CAST(list_min(embedding) AS DOUBLE)) / 255.0
                     AS qscale
          FROM embeddings) b USING (vec_id)
),
sims AS (
    SELECT q.vec_id AS query_id, d.vec_id,
           ROUND(
               SUM(d.xh * q.xh)
               / (SQRT(SUM(d.xh * d.xh)) * SQRT(SUM(q.xh * q.xh))),
               6) AS sim_q
    FROM deq d
    JOIN (SELECT vec_id, i, xh FROM deq WHERE vec_id < 5) q USING (i)
    WHERE d.vec_id >= 5
      AND d.vec_id IN (SELECT doc_id FROM allowed)
    GROUP BY q.vec_id, d.vec_id
),
sl AS (
    SELECT query_id, vec_id, sim_q FROM (
        SELECT query_id, vec_id, sim_q,
               dense_rank() OVER (PARTITION BY query_id
                   ORDER BY sim_q DESC) AS rk_band,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY sim_q DESC, vec_id ASC) AS rn
        FROM sims) WHERE rk_band <= 20 AND rn <= 4096
),
exact AS (
    SELECT q.q_id AS query_id, e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id IN (SELECT DISTINCT vec_id FROM sl)) e
    JOIN (SELECT vec_id AS q_id, unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id < 5) q USING (i)
    GROUP BY q.q_id, e.vec_id
)
SELECT t.query_id, t.vec_id, t.sim_q, t.sim,
       CAST(t.rk AS INTEGER) AS rank, dd.lang, dd.source
FROM (
    SELECT s.query_id, s.vec_id, s.sim_q, x.sim,
           row_number() OVER (PARTITION BY s.query_id
               ORDER BY x.sim DESC, s.vec_id ASC) AS rk
    FROM sl s
    JOIN exact x ON s.query_id = x.query_id
                AND s.vec_id = x.vec_id) t
JOIN documents dd ON dd.doc_id = t.vec_id
WHERE t.rk <= 5
"""


@register(
    "knn_filtered_int8_batch",
    oracle=_KNN_FILTERED_INT8_BATCH_ORACLE,
    tags=("vector",),
)
def knn_filtered_int8_batch_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production serving composition: tenant/language metadata
    filter x SQ8 quantized tier x query batch — knn_filtered's
    PRE-filter strategy fused with knn_int8_batch's one-scan batch
    scoring (the reference's retriever, bones.py:74, is the
    unfiltered single-query corner of this matrix). Vectors vec_id<5
    are the query batch; the corpus is restricted to documents with
    lang='en' AND source<>'src0'; per query, a TIE-AWARE
    SQ8-dequantized shortlist (dense_rank() <= 20: the top-20
    DISTINCT quantized sims, each plateau kept whole; row_number()
    <= 4096 worst-case bound), then an EXACT fp32 re-rank of that
    query-bounded candidate set emits the top-5, annotated with
    provenance.

    The re-rank stage is the r15 recall-margin fix (VERDICT r14 #1):
    at 5M near-dup-heavy vectors the filtered corpus halves the pool
    and promotes float near-ties inside one 8-bit quantization step
    into the top-5 cut — measured recall sat EXACTLY at the 0.80
    gate floor, and the sf100 diagnosis showed WHY a plain top-(k*C)
    superset can never fix it: the true winners sit at dense_rank 2
    BEHIND a ~1000-deep plateau of int8 rounding noise, so every
    row-count-based cut (row_number OR rank(), which counts rows
    above) puts them at 1001+ (see the shortlist comment below).
    The value-band shortlist + fp32 rescore (the matryoshka
    coarse->refine cadence applied to the SQ8 tier) recovers every
    true top-5 member whose band reaches the top-20 distinct values;
    sf100 gate floor raised 0.75 -> 0.95.

    Order of operations is the scale contract: the documents
    predicate is pushed to the documents scan (PushedFilters), the
    surviving id set semi-joins into the embeddings scan as an
    UNhinted LEFT SEMI (Catalyst broadcasts it from size stats, and
    it degrades to a shuffled semi-join only when the tenant set is
    itself huge) — so out-of-filter vectors are dropped BEFORE any
    dequantize/score work, and exactness over the filter holds at any
    selectivity (a post-filtered ANN under-fills k under selective
    predicates). Then the knn_int8_batch cadence: one scan of the
    filtered corpus scores all Q broadcast dequantized queries, only
    the skinny (query_id, vec_id, sim_q) projection reaches the
    per-query shortlist windows — the corpus floats never shuffle
    (plan-pinned: semi-join below the windows, every hash exchange
    keyed on query_id). The refine stage broadcasts the
    Q x (<=4096) shortlist into a SECOND embeddings scan (a
    broadcast hash join prunes the scan to the candidate rows — no
    corpus exchange) and the Q-row fp32 query batch into that, so
    exact cosine runs over the query-bounded candidate rows only.
    The Q x 5 result — never the unbounded documents side — is the
    broadcast side of the provenance join."""
    from pyspark.sql import Window

    from conversadocs_spark.operators.quant import (
        dequantized,
        quantize_int8,
    )

    emb = io.table(spark, sf_dir, "embeddings")
    docs = io.table(spark, sf_dir, "documents")
    allowed = docs.where(
        (F.col("lang") == "en") & (F.col("source") != "src0")
    ).select(F.col("doc_id").alias("vec_id"))
    queries = (
        quantize_int8(emb.where(F.col("vec_id") < 5))
        .select(
            F.col("vec_id").alias("query_id"),
            dequantized().alias("_qh"),
        )
    )
    # Filter FIRST (unhinted semi-join on the raw scan), quantize the
    # survivors only — the filter reaches the corpus before the
    # dequantize/score pass.
    corpus = quantize_int8(
        emb.where(F.col("vec_id") >= 5).join(
            allowed, "vec_id", "left_semi"
        )
    ).select("vec_id", dequantized().alias("xh"))
    sims = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(
            cosine_similarity(F.col("xh"), F.col("_qh")), 6
        ).alias("sim_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_q"), F.asc("vec_id")
    )
    w_tie = Window.partitionBy("query_id").orderBy(F.desc("sim_q"))
    # TIE-AWARE shortlist: dense_rank() (not row_number, not rank) so
    # the shortlist is "the top-20 DISTINCT sim_q values, each
    # plateau kept WHOLE". Per-vector SQ8 resolves ~1e-3 of cosine,
    # so at 5M near-dup-heavy vectors >=1000 corpus rows can share
    # one rounded sim_q — sf100 measured the true fp32 top-5 at
    # dense_rank 2 BEHIND a 1000-deep higher plateau of quantization
    # noise (int8 rounds junk UP past the winners), i.e. row_number
    # and rank() both put them at 1001+: no fixed row_number cut-off
    # survives, and rank()<=20 fails too (rank counts ROWS above, so
    # one deep plateau pushes everything below it past any row-count
    # threshold). dense_rank()<=20 admits every member of the top-20
    # value bands; the row_number()<=4096 companion is the documented
    # worst-case bound that keeps the candidate set query-bounded
    # (recall within bands cut by it is then best-effort by lowest
    # vec_id — the honest limit of an 8-bit first stage).
    shortlist = (
        sims.withColumn("rn", F.row_number().over(w))
        .withColumn("rk_band", F.dense_rank().over(w_tie))
        .where((F.col("rk_band") <= 20) & (F.col("rn") <= 4096))
        .select("query_id", "vec_id", "sim_q")
    )
    # fp32 refine over the query-bounded Q x 20 shortlist: broadcast
    # it into a second embeddings scan (BHJ prunes the scan — the
    # corpus never exchanges) and score exactly against the Q-row
    # raw query batch.
    qraw = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_q"),
    )
    refined = (
        F.broadcast(shortlist)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qraw), "query_id")
        .select(
            "query_id",
            "vec_id",
            "sim_q",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_q")), 6
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    top = (
        refined.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id", "sim_q", "sim", "rank")
    )
    prov = docs.select(
        F.col("doc_id").alias("vec_id"), "lang", "source"
    )
    return F.broadcast(top).join(prov, "vec_id").select(
        "query_id", "vec_id", "sim_q", "sim", "rank", "lang", "source"
    )


_KNN_MRL_BATCH_ORACLE = """
WITH coarse AS (
    SELECT q.q_id AS query_id, e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim_coarse
    FROM (SELECT vec_id, unnest(embedding[1:16]) AS x,
                 generate_subscripts(embedding[1:16], 1) AS i
          FROM embeddings WHERE vec_id >= 5) e
    JOIN (SELECT vec_id AS q_id, unnest(embedding[1:16]) AS y,
                 generate_subscripts(embedding[1:16], 1) AS i
          FROM embeddings WHERE vec_id < 5) q USING (i)
    GROUP BY q.q_id, e.vec_id
),
sl AS (
    SELECT query_id, vec_id, sim_coarse FROM (
        SELECT query_id, vec_id, sim_coarse,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY sim_coarse DESC, vec_id ASC) AS rn
        FROM coarse) WHERE rn <= 50
),
exact AS (
    SELECT q.q_id AS query_id, e.vec_id,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS sim
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
          WHERE vec_id IN (SELECT DISTINCT vec_id FROM sl)) e
    JOIN (SELECT vec_id AS q_id, unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id < 5) q USING (i)
    GROUP BY q.q_id, e.vec_id
)
SELECT query_id, vec_id, sim_coarse, sim FROM (
    SELECT s.query_id, s.vec_id, s.sim_coarse, x.sim,
           row_number() OVER (PARTITION BY s.query_id
               ORDER BY x.sim DESC, s.vec_id ASC) AS rk
    FROM sl s
    JOIN exact x ON s.query_id = x.query_id AND s.vec_id = x.vec_id)
WHERE rk <= 3
"""


@register(
    "knn_matryoshka_batch", oracle=_KNN_MRL_BATCH_ORACLE,
    tags=("vector",),
)
def knn_matryoshka_batch_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch-of-queries Matryoshka retrieval — third cell of the
    quantized/reduced serving matrix (binary and SQ8 batch forms
    above): per query, coarse top-50 on the 16-dim prefix, exact
    full-dimension rescore, top-3 with both scores.

    Scale shape mirrors knn_binary_batch stage for stage: one corpus
    scan computes the prefix cosine against all Q broadcast prefix
    queries and emits only the skinny (query_id, vec_id, sim_coarse)
    projection; the per-query top-50 window is map-side pruned; the
    Q x 50 shortlist is broadcast back into the full-width table for
    the rescore (the corpus never shuffles — plan-pinned); the final
    top-3 window runs over <= Q x 50 rows. The coarse pass reads a
    quarter of the vector bytes, and in a real deployment the prefix
    lives in its own subcolumn so the batch scan cost is
    dim-proportional."""
    from pyspark.sql import Window

    emb = io.table(spark, sf_dir, "embeddings")
    qc = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.slice("embedding", 1, _MRL_DIMS).alias("_qc"),
    )
    coarse = (
        emb.where(F.col("vec_id") >= 5)
        .crossJoin(F.broadcast(qc))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(
                    F.slice("embedding", 1, _MRL_DIMS), F.col("_qc")
                ),
                6,
            ).alias("sim_coarse"),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("sim_coarse"), F.asc("vec_id")
    )
    shortlist = (
        coarse.withColumn("rn", F.row_number().over(w_short))
        .where(F.col("rn") <= 50)
        .select("query_id", "vec_id", "sim_coarse")
    )
    qv = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    rescored = (
        F.broadcast(shortlist)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            "sim_coarse",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6
            ).alias("sim"),
        )
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    return (
        rescored.withColumn("rk", F.row_number().over(w_final))
        .where(F.col("rk") <= 3)
        .select("query_id", "vec_id", "sim_coarse", "sim")
    )


_MULTIVEC_BATCH_ORACLE = """
WITH pairs AS (
    SELECT CAST(e.vec_id // 10 AS BIGINT) AS doc_id,
           CAST(q.vec_id // 10 AS BIGINT) AS query_id,
           e.vec_id, q.vec_id AS q_tok,
           ROUND(
               SUM(CAST(e.x AS DOUBLE) * CAST(q.y AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(q.y AS DOUBLE) * CAST(q.y AS DOUBLE)))),
               6) AS s
    FROM (SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id // 10 >= 3) e
    JOIN (SELECT vec_id, unnest(embedding) AS y,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings WHERE vec_id // 10 < 3) q USING (i)
    GROUP BY 1, 2, 3, 4
),
per_q AS (
    SELECT query_id, doc_id, q_tok, MAX(s) AS m
    FROM pairs GROUP BY 1, 2, 3
),
scores AS (
    SELECT query_id, doc_id, ROUND(SUM(m), 6) AS maxsim
    FROM per_q GROUP BY 1, 2
)
SELECT query_id, doc_id, maxsim FROM (
    SELECT query_id, doc_id, maxsim,
           row_number() OVER (PARTITION BY query_id
               ORDER BY maxsim DESC, doc_id ASC) AS rk
    FROM scores)
WHERE rk <= 3
"""


@register(
    "multivec_maxsim_batch", oracle=_MULTIVEC_BATCH_ORACLE,
    tags=("vector",),
)
def multivec_maxsim_batch_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch-of-queries ColBERT MaxSim — the fourth and last cell of
    the serving matrix (binary, SQ8, Matryoshka batch forms above):
    THREE multi-vector queries (doc bags 0-2, 10 token vectors each)
    scored against the rest of the corpus bags, top-3 docs per query.

    Scale shape: all Q query bags broadcast together (Q x 10 x dim
    doubles); ONE pass over the corpus token table computes every
    (corpus token x query token) cosine JVM-side; then the same
    two MAP-SIDE-COMBINABLE aggregations as the single-query form —
    max per (query, doc, query-token), sum per (query, doc) — so the
    only shuffled relations are doc-count-sized per query, never the
    token table. Per-token cosines round to 6 BEFORE the max (both
    engines pick the same argmax) and the sum rounds again before
    the per-query rank."""
    from pyspark.sql import Window

    from conversadocs_spark.functions.vector import dot_product, l2_norm

    emb = io.table(spark, sf_dir, "embeddings").withColumn(
        "doc_id", F.expr("CAST(vec_id DIV 10 AS BIGINT)")
    )
    qv = emb.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.col("vec_id").alias("q_tok"),
        F.col("embedding").alias("_qv"),
        l2_norm(F.col("embedding")).alias("_qn"),
    )
    # corpus-token norm hoisted above the Q*10-way fan-out (see
    # multivec_maxsim): inlined cosine recomputes the token's norm
    # once per broadcast query token — 30 identical 64-element
    # aggregates per corpus row at the fixture batch. Values are
    # bit-identical (same expression tree, hoisted), oracle unchanged;
    # measured at the sf100 spot-gate scale (2M corpus tokens x 30
    # query tokens): 47.0 s before, 19.9 s after — the heaviest
    # serving query cut 2.4x.
    pairs = (
        emb.where(F.col("doc_id") >= 3)
        .withColumn("_n", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(qv))
        .select(
            "query_id",
            "doc_id",
            "q_tok",
            F.round(
                dot_product(F.col("embedding"), F.col("_qv"))
                / (F.col("_n") * F.col("_qn")),
                6,
            ).alias("s"),
        )
    )
    per_q = pairs.groupBy("query_id", "doc_id", "q_tok").agg(
        F.max("s").alias("m")
    )
    scores = per_q.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("m"), 6).alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("maxsim"), F.asc("doc_id")
    )
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("query_id", "doc_id", "maxsim")
    )
