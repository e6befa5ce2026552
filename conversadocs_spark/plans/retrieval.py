"""Lexical (BM25) and hybrid (RRF-fused) retrieval over ``documents``.

The reference is a retrieval app: its only ranking primitive is exact
cosine over embeddings (``db.as_retriever(search_type="similarity")``,
/root/reference/conversadocs/bones.py:74-78). Production RAG systems
pair that dense path with a lexical BM25 ranker and fuse the two lists
(reciprocal-rank fusion, Cormack et al. SIGIR'09) — the standard
"hybrid search" surface every vector store exposes. These queries add
that surface Spark-first:

- ``bm25_topk``: Okapi BM25 (k1=1.2, b=0.75, Lucene-smoothed IDF) for a
  fixed keyword query. Everything is Catalyst expressions: one explode
  for term frequencies, a term-keyed DF aggregate that broadcasts
  (vocabulary << corpus), a 1-row corpus-stats broadcast, and a global
  top-k. No UDFs, no driver loops.
- ``hybrid_rrf``: dense top-20 (exact cosine vs the stored query
  vector) ⊕ lexical top-20 (BM25), fused with RRF(k=60) via a full
  outer join on doc id; fused top-10.

Exactness policy: per-term BM25 contributions are rounded to 6 decimals
and summed as DECIMAL(18,6) so the per-doc score is independent of
floating-point addition order (the plans/ decimal policy); RRF adds
exactly two doubles in a fixed coalesce order, which is deterministic.

Scale shape (100 TB): document-side work is one scan + one (doc, term)
partial-aggregated explode restricted to |Q| query terms (the
``isin`` filter prunes before the shuffle); df/N/avgdl are tiny
broadcast relations; top-k is TakeOrderedAndProject — no full sort.
The dense side reuses the knn_topk plan (single corpus scan, constant
memory reducer). The fusion join holds 2k rows total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.operators.knn import row_cosine, topk
from conversadocs_spark.plans.registry import register

# Fixed keyword query: terms from the corpus vocabulary so the ranking
# is non-vacuous at every sf (TESTDATA.md documents generator).
_QUERY_TERMS = ("spark", "window", "join", "filter")
_K1 = 1.2
_B = 0.75

_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

# Shared CTE text: BM25 per-doc scores for _QUERY_TERMS over documents.
# Per-term weight rounded to 6 then summed as DECIMAL(18,6) — addition-
# order independent, so Spark and DuckDB agree bit-for-bit.
_BM25_CTES = f"""
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
dl AS (
    SELECT doc_id, len(string_split(lower(text), ' ')) AS dl
    FROM documents
),
stats AS (
    SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM tok WHERE term IN ({_TERMS_SQL})
    GROUP BY doc_id, term
),
df AS (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM tok WHERE term IN ({_TERMS_SQL})
    GROUP BY term
),
wt AS (
    SELECT tf.doc_id,
           CAST(round(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({_K1} + 1.0))
               / (tf.tf + {_K1} * (1.0 - {_B}
                  + {_B} * (dl.dl / stats.avgdl))),
               6) AS DECIMAL(18,6)) AS w
    FROM tf
    JOIN df USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
),
bm25 AS (
    SELECT doc_id, CAST(sum(w) AS DOUBLE) AS bm25
    FROM wt GROUP BY doc_id
)
"""

_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT doc_id, bm25
FROM bm25
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document matching >= 1 query term."""
    d = io.table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    dl = d.select("doc_id", F.size(toks).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qtok = tok.where(F.col("term").isin(*_QUERY_TERMS))
    tf = qtok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = qtok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    # denominator grouping mirrors the oracle text exactly
    wt = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                idf
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1
                    * (1.0 - _B + _B * (F.col("dl") / F.col("avgdl")))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    return wt.groupBy("doc_id").agg(
        F.sum("w").cast("double").alias("bm25")
    )


@register("bm25_topk", oracle=_BM25_ORACLE, tags=("retrieval", "text"))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the fixed keyword query.

    Plan: one explode pruned to |Q| terms before the (doc_id, term)
    partial agg; df and corpus stats broadcast; TakeOrderedAndProject
    for the top-k. Corpus-linear, no UDFs — survives 100 TB.
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# hybrid retrieval: BM25 ⊕ dense cosine, reciprocal-rank fusion
# --------------------------------------------------------------------------

_RRF_K = 60
_N_PER_LIST = 20

_HYBRID_ORACLE = f"""
WITH {_BM25_CTES},
lex AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                AS INTEGER) AS lex_rank
    FROM bm25 WHERE doc_id <> 0
    QUALIFY lex_rank <= {_N_PER_LIST}
),
sims AS (
    SELECT e.vec_id AS doc_id,
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
),
dense AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC)
                AS INTEGER) AS dense_rank
    FROM sims
    QUALIFY dense_rank <= {_N_PER_LIST}
),
fused AS (
    SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
           dense.dense_rank AS dense_rank,
           lex.lex_rank AS lex_rank,
           round(coalesce(1.0 / ({_RRF_K} + dense.dense_rank), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + lex.lex_rank), 0.0),
                 6) AS rrf_score
    FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, dense_rank, lex_rank, rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
"""


@register("hybrid_rrf", oracle=_HYBRID_ORACLE, tags=("retrieval", "vector"))
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: RRF(k=60) fusion of the dense top-20 (exact
    cosine vs stored vector vec_id=0 — the knn_topk plan) and the
    lexical top-20 (BM25 for the fixed keyword query), fused top-10.

    Plan: each list is produced by its scale-correct plan (single
    corpus scan each); the fusion itself is a 40-row full outer join —
    free at any corpus size. RRF adds exactly two doubles in a fixed
    order, so no decimal detour is needed.
    """
    lex = (
        _bm25_scores(spark, sf_dir)
        .where(F.col("doc_id") != 0)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .cast("int")
            .alias("lex_rank"),
        )
        .where(F.col("lex_rank") <= _N_PER_LIST)
    )
    emb = io.table(spark, sf_dir, "embeddings")
    order = [F.desc("sim"), F.asc("vec_id")]
    dense = (
        topk(row_cosine(emb, emb, 0), _N_PER_LIST, order)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(*order))
            .cast("int")
            .alias("dense_rank"),
        )
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            "dense_rank",
            "lex_rank",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (_RRF_K + F.col("dense_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


# --------------------------------------------------------------------------
# rerank stage: candidate-bounded rescoring over the fused list
# --------------------------------------------------------------------------

_RERANK_ORACLE = f"""
WITH cands AS (
    {_HYBRID_ORACLE}
)
SELECT c.doc_id,
       round(CAST(len(list_intersect(
                 list_distinct(string_split(lower(d.text), ' ')),
                 [{_TERMS_SQL}])) AS DOUBLE)
             / {len(_QUERY_TERMS)}, 6)   AS rerank_score,
       c.rrf_score
FROM cands c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY rerank_score DESC, c.rrf_score DESC, c.doc_id ASC
LIMIT 5
"""


@register(
    "rerank_topk", oracle=_RERANK_ORACLE, tags=("retrieval", "text")
)
def rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RERANK stage completing the production retrieval stack
    (retrieve wide -> rerank narrow): the hybrid RRF top-10 is
    re-scored by query-term coverage (|doc tokens ∩ Q| / |Q| — the
    deterministic stand-in for a cross-encoder, which scores each
    (query, doc) PAIR and is therefore only affordable on a bounded
    candidate list), fused order breaking ties; top-5 out.

    Scale shape — the part that matters: the expensive scorer touches
    exactly |candidates| = 10 rows no matter the corpus size, because
    the candidate list is broadcast and the documents join fetches
    only matching rows; the corpus-sized work already happened in the
    retrieve stage's scale-correct plans. Swapping the coverage
    expression for a real cross-encoder pandas_udf changes ONE
    projection, not the plan shape."""
    cands = hybrid_rrf(spark, sf_dir)
    d = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))
    coverage = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(t) for t in _QUERY_TERMS])
        )
    ).cast("double") / F.lit(float(len(_QUERY_TERMS)))
    return (
        d.join(F.broadcast(cands), on="doc_id")
        .select(
            "doc_id",
            F.round(coverage, 6).alias("rerank_score"),
            "rrf_score",
        )
        .orderBy(
            F.desc("rerank_score"),
            F.desc("rrf_score"),
            F.asc("doc_id"),
        )
        .limit(5)
    )


# --------------------------------------------------------------------------
# exact phrase search (positional match; the non-bag-of-words retriever)
# --------------------------------------------------------------------------

_PHRASE_ORACLE = """
WITH g AS (
    SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) >= 3
                THEN [array_to_string(
                          string_split(text, ' ')[i:i+2], ' ')
                      for i in range(
                          1, len(string_split(text, ' ')) - 1)]
                ELSE []
           END AS grams
    FROM documents
),
top AS (
    SELECT gram AS phrase FROM (
        SELECT unnest(grams) AS gram FROM g
    ) GROUP BY gram
    ORDER BY count(*) DESC, gram ASC LIMIT 1
)
SELECT g.doc_id,
       t.phrase,
       CAST(len(list_filter(g.grams, x -> x = t.phrase)) AS BIGINT)
           AS n_occurrences,
       CAST(list_position(g.grams, t.phrase) AS BIGINT) AS first_pos
FROM g CROSS JOIN top t
WHERE len(list_filter(g.grams, x -> x = t.phrase)) > 0
"""


@register("phrase_search", oracle=_PHRASE_ORACLE, tags=("retrieval",))
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE retrieval — the positional complement to the
    bag-of-words rankers (bm25_topk scores unordered term bags; a
    quoted-phrase query needs token ADJACENCY). The phrase under
    search is data-derived for non-vacuity at every SF: the corpus's
    most frequent word trigram (count DESC, gram ASC tie-break), then
    every document containing it is returned with its occurrence
    count and first match position (1-based gram index).

    Scale shape: stage 1 is the vocab_topk shape — explode trigrams,
    map-side-combined count, TakeOrdered(1); the 1-row phrase then
    broadcasts into stage 2, a single corpus scan whose match
    count/position are JVM array ops on the per-row gram array
    (filter runs interpreted — Spark 4.1's ArrayFilter is
    CodegenFallback — and array_position in generated code) — no
    second shuffle, no UDF. The
    posting-list alternative (explode (doc, pos) once, self-join on
    pos offsets) is the right shape when MANY phrase queries share
    one positional index; for a single ad-hoc phrase the scan plan
    wins because it reads each doc once and keeps everything
    pipelined.

    The gram relation feeds BOTH the top-phrase aggregate and the
    final match scan; without materialization Catalyst re-derives
    the per-doc `transform(sequence(...), concat_ws)` gram build —
    the expensive part — once per branch, so the corpus pays it
    twice (VERDICT r14 #2: the heaviest sf100 quality row at 471 s,
    4x contamination_ngram). Persist it once — the
    cache-the-shared-pass move of lm_bigram_score (plans/lm.py),
    with the same documented no-natural-unpersist-point caveat (LRU
    eviction bounds it; at real scale this is the relation you'd
    checkpoint to parquet between pipeline stages anyway)."""
    from pyspark.storagelevel import StorageLevel

    d = io.table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_g = d.select("doc_id", grams.alias("grams")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    top = (
        with_g.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(1)
        .select(F.col("gram").alias("phrase"))
    )
    matches = F.filter(
        F.col("grams"), lambda x: x == F.col("phrase")
    )
    return (
        with_g.crossJoin(F.broadcast(top))
        .select(
            "doc_id",
            "phrase",
            F.size(matches).cast("bigint").alias("n_occurrences"),
            F.array_position(F.col("grams"), F.col("phrase"))
            .cast("bigint")
            .alias("first_pos"),
        )
        .where(F.col("n_occurrences") > 0)
    )
