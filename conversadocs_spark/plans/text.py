"""Text-analytics query surface over ``documents`` (reference R4/R5
chunking, R15 provenance, R17 token counting, plus the north-star
training-data operators: language-ID, quality scoring, fingerprinting,
dedup).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conversadocs_spark import io
from conversadocs_spark.functions.text import STOPWORDS, TOKEN_PATTERN
from conversadocs_spark.operators.chunker import split_documents, split_fixed
from conversadocs_spark.operators.dedup import (
    dedup_exact,
    dedup_ngram_pairs,
    minhash_near_dups,
    normalize_text,
    ppjoin_prefix_pairs,
    simhash_near_dups,
)
from conversadocs_spark.plans.registry import register

# --------------------------------------------------------------------------
# chunking (R4/R5)
# --------------------------------------------------------------------------

_CHUNK_FIXED_ORACLE = """
SELECT d.doc_id, CAST(g.i AS INTEGER) AS seq,
       substring(d.text, CAST(g.i * 80 + 1 AS INTEGER), 100) AS chunk
FROM documents d
JOIN (SELECT unnest(range(0, 100)) AS i) g
  ON g.i * 80 < length(d.text)
"""


@register("chunk_fixed", oracle=_CHUNK_FIXED_ORACLE, tags=("text",))
def chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width chunk grid, size=100 overlap=20 (SQL-expressible
    simplification of reference R4; the recursive splitter is
    `chunk_split` below). Pure Catalyst — no Python."""
    docs = io.table(spark, sf_dir, "documents")
    return split_fixed(docs, chunk_size=100, overlap=20).select(
        "doc_id", F.col("seq").cast("int").alias("seq"), "chunk"
    )


@register("chunk_split", tags=("text", "rows-only"))
def chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive separator-cascade splitter (reference R4 semantics:
    RecursiveCharacterTextSplitter(1000,150), bones.py:67-68 — here
    size=120/overlap=30 to suit the ~300-char fixture docs).

    Non-SQL-expressible (recursive algorithm) -> rows-only driver
    check; determinism + bounds are frozen by golden/property tests in
    tests/test_text.py.
    """
    docs = io.table(spark, sf_dir, "documents")
    return split_documents(docs, chunk_size=120, overlap=30)


# The chunk_split oracle replays BOTH phases of the recursive splitter
# (functions/text.py:chunk_text — reference R4 semantics,
# RecursiveCharacterTextSplitter, bones.py:67-68) in DuckDB:
#
# Phase 1, the separator cascade, unrolled level-wise — provably the
# same fragments as the recursive form: "if only 1 part, try the next
# separator" is identical to "split anyway; the single oversized part
# falls through to the next level". Each level splits KEEPING the
# separator attached to the preceding fragment (only a trailing empty
# piece is dropped), so re-joining fragments reproduces the text;
# parts <= chunk_size pass through untouched ([p] arms), oversized
# parts split again. Level 4 ("") lowers to single characters.
#
# Phase 2, the greedy pack, as a recursive CTE in lockstep with the
# kernel's single linear pass: state = (grp, step, cur); closing a
# chunk emits cur and reseeds with its last `overlap` chars, shrunk by
# the closed form right(tail, chunk_size - len(frag)) — exactly the
# kernel's drop-from-front loop, which stops at len(cur) =
# chunk_size - len(frag) (fragments never exceed chunk_size, so the
# bound is non-negative). The final buffer is emitted iff it has any
# non-whitespace (Python str.strip() on the fixture's ASCII
# whitespace = trim over " \t\n\r\f\v").
#
# The fixture docs are single-line and < chunk_size, so the query
# COMPOSES multi-paragraph sections in-plan to exercise every level:
# doc pairs joined by \n, four pairs joined by \n\n, plus one
# 430-char unbroken token that forces the character-level fallback.
# Geometry 400/80 (the reference's 1000/150 shape scaled to the
# composed ~2.8k-char sections). Bounded base (doc_id < 400 -> 50
# sections at EVERY gate scale) keeps the recursion constant-size.
_CHUNK_SPLIT_EXACT_ORACLE = """
WITH RECURSIVE duos AS (
    SELECT doc_id // 2 AS pair,
           string_agg(text, chr(10) ORDER BY doc_id) AS duo
    FROM documents WHERE doc_id < 400 GROUP BY doc_id // 2
),
sections AS (
    SELECT pair // 4 AS grp,
           string_agg(duo, chr(10) || chr(10) ORDER BY pair)
             || chr(10) || chr(10) || repeat('z', 430) AS txt
    FROM duos GROUP BY pair // 4
),
l1 AS (
    SELECT grp, generate_subscripts(parts, 1) AS i1, unnest(parts) AS p
    FROM (SELECT grp,
            [CASE WHEN i < len(sp) THEN sp[i] || chr(10) || chr(10)
                  ELSE sp[i] END
             FOR i IN range(1, len(sp) + 1)
             IF i < len(sp) OR sp[i] <> ''] AS parts
          FROM (SELECT grp, string_split(txt, chr(10) || chr(10)) AS sp
                FROM sections))
),
l2 AS (
    SELECT grp, i1, generate_subscripts(parts, 1) AS i2,
           unnest(parts) AS p
    FROM (SELECT grp, i1,
            CASE WHEN length(p) <= 400 THEN [p]
                 ELSE [CASE WHEN i < len(sp) THEN sp[i] || chr(10)
                            ELSE sp[i] END
                       FOR i IN range(1, len(sp) + 1)
                       IF i < len(sp) OR sp[i] <> '']
            END AS parts
          FROM (SELECT grp, i1, p, string_split(p, chr(10)) AS sp
                FROM l1))
),
l3 AS (
    SELECT grp, i1, i2, generate_subscripts(parts, 1) AS i3,
           unnest(parts) AS p
    FROM (SELECT grp, i1, i2,
            CASE WHEN length(p) <= 400 THEN [p]
                 ELSE [CASE WHEN i < len(sp) THEN sp[i] || ' '
                            ELSE sp[i] END
                       FOR i IN range(1, len(sp) + 1)
                       IF i < len(sp) OR sp[i] <> '']
            END AS parts
          FROM (SELECT grp, i1, i2, p, string_split(p, ' ') AS sp
                FROM l2))
),
l4 AS (
    SELECT grp, i1, i2, i3, generate_subscripts(parts, 1) AS i4,
           unnest(parts) AS p
    FROM (SELECT grp, i1, i2, i3,
            CASE WHEN length(p) <= 400 THEN [p]
                 ELSE [p[i] FOR i IN range(1, length(p) + 1)]
            END AS parts
          FROM l3)
),
fl AS (
    SELECT grp, list(p ORDER BY i1, i2, i3, i4) AS flist
    FROM l4 GROUP BY grp
),
packed(grp, t, cur, outc) AS (
    SELECT grp, CAST(0 AS BIGINT), '', CAST(NULL AS VARCHAR) FROM fl
    UNION ALL
    SELECT s.grp, s.t + 1,
        CASE WHEN s.cur <> ''
                  AND length(s.cur) + length(fl.flist[s.t + 1]) > 400
             THEN right(right(s.cur, 80),
                        greatest(0, 400 - length(fl.flist[s.t + 1])))
                  || fl.flist[s.t + 1]
             ELSE s.cur || fl.flist[s.t + 1] END,
        CASE WHEN s.cur <> ''
                  AND length(s.cur) + length(fl.flist[s.t + 1]) > 400
             THEN s.cur ELSE NULL END
    FROM packed s JOIN fl USING (grp)
    WHERE s.t < len(fl.flist)
),
emitted AS (
    SELECT grp, t, outc AS chunk FROM packed WHERE outc IS NOT NULL
    UNION ALL
    SELECT p.grp, p.t + 1, p.cur
    FROM packed p JOIN fl USING (grp)
    WHERE p.t = len(fl.flist)
      AND trim(p.cur, ' ' || chr(9) || chr(10) || chr(13)
                      || chr(12) || chr(11)) <> ''
)
SELECT grp AS doc_id,
       CAST(row_number() OVER (PARTITION BY grp ORDER BY t) - 1
            AS INTEGER) AS seq,
       chunk
FROM emitted
"""


@register(
    "chunk_split_exact", oracle=_CHUNK_SPLIT_EXACT_ORACLE, tags=("text",)
)
def chunk_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive separator-cascade splitter, ORACLE-CHECKED (VERDICT
    r11 #1): the reference's IDENTITY operator
    (RecursiveCharacterTextSplitter 1000/150,
    /root/reference/conversadocs/bones.py:67-68) value-hash-checked
    against a DuckDB replay of the split/merge/overlap algorithm
    step-for-step — the recursive-CTE bounded-replay technique proven
    by seq_pack_ffd / mmr / pagerank / bpe, applied to the last
    CORE-semantics operator that rested on golden files alone.

    The Spark side runs the REAL operator (split_documents ->
    chunk_text pandas_udf + posexplode — the exact kernel chunk_split
    and the golden tests exercise), over sections COMPOSED in-plan
    from the fixture docs (pairs joined by \\n, four pairs by \\n\\n,
    plus one 430-char unbroken token) so all four cascade levels and
    the overlap-reseed path actually fire; geometry 400/80. Both the
    composition and the split are deterministic, so the driver's
    value hash pins every emitted chunk byte-for-byte.

    Scale shape: the composition is two bounded groupBys; the split
    itself is the embarrassingly-parallel Arrow flatMap of
    chunk_split (one pass, no shuffle beyond the bounded compose).
    The doc_id < 400 base keeps the ORACLE's recursion constant-size
    at any corpus scale — the engine side has no such need. The
    rows-only siblings (`chunk_split`, `chunk_sentences`) keep the
    reference geometry over raw docs and the sentence-aware cascade."""
    docs = io.table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 400
    )
    duo = docs.groupBy(F.expr("doc_id div 2").alias("pair")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "text"))
                ),
                lambda s: s.text,
            ),
            "\n",
        ).alias("duo")
    )
    sect = duo.groupBy(F.expr("pair div 4").alias("doc_id")).agg(
        F.concat(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pair", "duo"))
                    ),
                    lambda s: s.duo,
                ),
                "\n\n",
            ),
            F.lit("\n\n" + "z" * 430),
        ).alias("text")
    )
    return split_documents(
        sect, chunk_size=400, overlap=80, keep_cols=("doc_id",)
    )


@register("chunk_sentences", tags=("text", "rows-only"))
def chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The summarize-variant chunker (reference R5, bones.py:160-165):
    same recursive splitter with the sentence-aware separator cascade
    ["\\n\\n", "\\n", "(?<=\\. )", " ", ""] — the regex-lookbehind
    sentence boundary the reference passes for map-reduce
    summarization — and the R5 wide/low-overlap geometry (scaled to
    the ~300-char fixture docs as 200/10; the reference uses 2000/100
    on full pages). Rows-only like `chunk_split`; the kernel is the
    same golden-tested pure function (functions/text.py:chunk_text).
    """
    docs = io.table(spark, sf_dir, "documents")
    return split_documents(
        docs,
        chunk_size=200,
        overlap=10,
        separators=("\n\n", "\n", r"(?<=\. )", " ", ""),
    )


# --------------------------------------------------------------------------
# text stats (R17 generalized)
# --------------------------------------------------------------------------

_TEXT_STATS_ORACLE = """
SELECT doc_id, lang, source,
       length(text)                                    AS n_chars_computed,
       len(string_split(text, ' '))                    AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                                                       AS n_tokens_bpe,
       round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')), 6)        AS avg_word_len
FROM documents
"""


@register("text_stats", oracle=_TEXT_STATS_ORACLE, tags=("text",))
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: char/word/BPE-ish token counts (the engine's
    stand-in for the reference's llama tokenizer count, R17
    llamacppmodels.py:307-309) and mean word length."""
    d = io.table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars_computed"),
        F.size(words).alias("n_words"),
        # regexp_count is equivalent to size(regexp_extract_all(...,
        # 0)): Spark 4.1 rewrites it to exactly that (identical plan,
        # no speed difference); the count is all this query keeps.
        F.regexp_count("text", F.lit(TOKEN_PATTERN)).alias(
            "n_tokens_bpe"
        ),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.size(words),
            6,
        ).alias("avg_word_len"),
    )


# total_chars is CAST to BIGINT because DuckDB's sum(BIGINT) returns
# HUGEINT (int128): a pandas/arrow fetch of the oracle result renders it
# as float64/decimal128 ("366052.0") while Spark emits int64 ("366052"),
# which breaks any value-hash comparison even when the numbers agree.
# (This, not float-avg accumulation order, was the persistent r02/r04
# driver hash mismatch: a fetchall()-based compare sees Python ints on
# both sides and passes, which is why the flake never reproduced locally.)
_TEXT_STATS_LANG_ORACLE = """
SELECT lang,
       count(*)                                        AS n_docs,
       CAST(sum(length(text)) AS BIGINT)               AS total_chars,
       round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
             / count(*), 6)                            AS avg_words,
       count(DISTINCT source)                          AS n_sources
FROM documents
GROUP BY lang
"""


@register(
    "text_stats_by_lang", oracle=_TEXT_STATS_LANG_ORACLE, tags=("text",)
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level grouped stats per language label."""
    d = io.table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        # Exact-integer sum then a single division: avg(double) merges
        # partial sums in shuffle-fetch order, which can flip the 6th
        # decimal run-to-run (the one hash-flaky row in CORRECTNESS_r02).
        # An integer sum is exact regardless of merge order, so the
        # rounded quotient is deterministic.
        F.round(
            F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("avg_words"),
        F.count_distinct(F.col("source")).alias("n_sources"),
    )


# --------------------------------------------------------------------------
# language ID (north star; n-gram/stopword heuristic)
# --------------------------------------------------------------------------


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
        f"[{words}]))"
    )


_LANG_ID_ORACLE = f"""
SELECT doc_id, lang,
       CASE
         WHEN {_lang_score_sql('en')} >= greatest({_lang_score_sql('de')},
              {_lang_score_sql('fr')}, {_lang_score_sql('es')},
              {_lang_score_sql('zh')}, 1) THEN 'en'
         WHEN {_lang_score_sql('de')} >= greatest({_lang_score_sql('fr')},
              {_lang_score_sql('es')}, {_lang_score_sql('zh')}, 1) THEN 'de'
         WHEN {_lang_score_sql('fr')} >= greatest({_lang_score_sql('es')},
              {_lang_score_sql('zh')}, 1) THEN 'fr'
         WHEN {_lang_score_sql('es')} >= greatest({_lang_score_sql('zh')}, 1)
              THEN 'es'
         WHEN {_lang_score_sql('zh')} >= 1 THEN 'zh'
         ELSE 'unknown'
       END AS predicted_lang
FROM documents
"""


@register("lang_id", oracle=_LANG_ID_ORACLE, tags=("text",))
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: score each language by distinct
    function-word matches, pick the best with a fixed priority order
    for ties, 'unknown' when nothing matches. Deterministic and fully
    Catalyst-side (array_intersect over split tokens)."""
    d = io.table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))

    def score(lang: str) -> F.Column:
        return F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))
        )

    order = ("en", "de", "fr", "es", "zh")
    pred = F.lit("unknown")
    # build CASE from the last branch backwards so earlier langs win ties
    for i in range(len(order) - 1, -1, -1):
        lang = order[i]
        rest = [score(o) for o in order[i + 1 :]] + [F.lit(1)]
        pred = F.when(score(lang) >= F.greatest(*rest) if len(rest) > 1 else score(lang) >= rest[0], lang).otherwise(pred)
    return d.select("doc_id", "lang", pred.alias("predicted_lang"))


# --------------------------------------------------------------------------
# quality scoring (north star)
# --------------------------------------------------------------------------

_QUALITY_ORACLE = """
WITH scored AS (
    SELECT doc_id,
           length(text)                           AS n_chars_q,
           len(string_split(text, ' '))           AS n_words,
           len(list_distinct(string_split(text, ' ')))
                                                  AS n_uniq_words,
           len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                                                  AS n_punct
    FROM documents
)
SELECT doc_id, n_chars_q, n_words,
       round(CAST(n_uniq_words AS DOUBLE) / n_words, 6)  AS uniq_ratio,
       round(CAST(n_punct AS DOUBLE) / n_chars_q, 6)     AS punct_ratio,
       round(least(CAST(n_words AS DOUBLE) / 50, 1.0) * 0.4
             + (CAST(n_uniq_words AS DOUBLE) / n_words) * 0.4
             + (1 - least(CAST(n_punct AS DOUBLE) / n_chars_q, 1.0)) * 0.2,
             6)                                          AS quality_score
FROM scored
"""


@register("text_quality", oracle=_QUALITY_ORACLE, tags=("text",))
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + lexical diversity +
    punctuation penalty — the standard cheap pre-filter in training-data
    pipelines. All ratios deterministic; weights fixed."""
    d = io.table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("double")
    n_uniq = F.size(F.array_distinct(words)).cast("double")
    n_chars = F.length("text").cast("double")
    # regexp_count is equivalent to size(regexp_extract_all(..., 0)):
    # Spark 4.1 rewrites it to exactly that, so the plan is identical
    # and neither form is faster — it is just the shorter spelling.
    n_punct = F.regexp_count(
        "text", F.lit(r"[^A-Za-z0-9\s]")
    ).cast("double")
    quality = (
        F.least(n_words / 50, F.lit(1.0)) * 0.4
        + (n_uniq / n_words) * 0.4
        + (F.lit(1) - F.least(n_punct / n_chars, F.lit(1.0))) * 0.2
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_q"),
        F.size(words).alias("n_words"),
        F.round(n_uniq / n_words, 6).alias("uniq_ratio"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# fingerprinting (north star) — bag-of-words sha256
# --------------------------------------------------------------------------

_FINGERPRINT_ORACLE = """
SELECT doc_id,
       sha256(array_to_string(list_sort(list_distinct(
              string_split(lower(text), ' '))), ' '))   AS bow_fingerprint,
       substring(sha256(lower(text)), 1, 8)             AS text_bucket
FROM documents
"""


@register("doc_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("text",))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprints: sha256 over the sorted
    bag-of-words (order-insensitive content identity) plus an 8-hex
    prefix bucket of the raw-text hash (shard key shape)."""
    d = io.table(spark, sf_dir, "documents")
    bow = F.concat_ws(
        " ",
        F.sort_array(F.array_distinct(F.split(F.lower(F.col("text")), " "))),
    )
    return d.select(
        "doc_id",
        F.sha2(bow, 256).alias("bow_fingerprint"),
        F.substring(F.sha2(F.lower(F.col("text")), 256), 1, 8).alias(
            "text_bucket"
        ),
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style local document fingerprinting)
# --------------------------------------------------------------------------

_WINNOW_K, _WINNOW_W = 4, 5

_WINNOW_ORACLE = f"""
WITH g AS (
    SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) >= {_WINNOW_K}
                THEN [array_to_string(
                          string_split(text, ' ')[i:i+{_WINNOW_K - 1}],
                          ' ')
                      for i in range(
                          1, len(string_split(text, ' '))
                             - {_WINNOW_K - 2})]
                ELSE [text]
           END AS grams
    FROM documents
),
h AS (
    SELECT doc_id, grams,
           [CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)
            for x in grams] AS hs
    FROM g
),
w AS (
    SELECT doc_id, grams,
           CASE WHEN len(hs) >= {_WINNOW_W}
                THEN [list_min(hs[j:j+{_WINNOW_W - 1}])
                      for j in range(1, len(hs) - {_WINNOW_W - 2})]
                ELSE [list_min(hs)]
           END AS wins
    FROM h
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT)                    AS n_grams,
       CAST(len(list_distinct(wins)) AS BIGINT)      AS n_fingerprints,
       CAST(list_min(wins) AS BIGINT)                AS fp_min,
       CAST(list_sum(list_distinct(wins)) AS BIGINT) AS fp_sum
FROM w
"""


@register(
    "fingerprint_winnow", oracle=_WINNOW_ORACLE, tags=("text",)
)
def fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): hash every k=4 word-gram, slide a w=5
    window over the hash sequence, keep each window's minimum — the
    guarantee is at least one fingerprint per w consecutive grams
    (detection of any match longer than k+w-1 tokens) while storing
    ~2/(w+1) of the hashes. The per-doc selected-set summary here
    (count / min / exact sum of the DISTINCT fingerprints) is the
    collision-ready profile; a pair-matching stage would explode
    (doc_id, fingerprint) and equi-join, exactly the dedup_minhash
    band-bucket shape. Hashes are the cms_term_freq md5-prefix
    arithmetic, so the fingerprint VALUES are engine-portable and
    the whole selection is oracle-checked, not just counted.

    Scale shape: one scan, everything inside whole-stage codegen
    (split -> gram transform -> hash transform -> window-min
    transform -> distinct/aggregate over per-row arrays) — ZERO
    shuffles, no UDF, no state; docs shorter than k collapse to one
    whole-text gram and docs with fewer than w grams take the global
    min, both sides of the oracle agreeing on the edge by the same
    CASE."""
    d = io.table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = F.size(toks)
    grams = F.when(
        m >= _WINNOW_K,
        F.transform(
            F.sequence(F.lit(0), m - _WINNOW_K),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, _WINNOW_K)
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    with_g = d.select("doc_id", grams.alias("grams"))
    hashes = F.transform(
        F.col("grams"),
        lambda g: F.conv(
            F.substring(F.md5(g.cast("binary")), 1, 8), 16, 10
        ).cast("long"),
    )
    with_h = with_g.select("doc_id", "grams", hashes.alias("hs"))
    nh = F.size("hs")
    wins = F.when(
        nh >= _WINNOW_W,
        F.transform(
            F.sequence(F.lit(0), nh - _WINNOW_W),
            lambda j: F.array_min(
                F.slice(F.col("hs"), j + 1, _WINNOW_W)
            ),
        ),
    ).otherwise(F.array(F.array_min("hs")))
    with_w = with_h.select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.array_distinct(wins).alias("fps"),
    )
    return with_w.select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.array_min("fps").cast("bigint").alias("fp_min"),
        F.aggregate(
            "fps",
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("fp_sum"),
    )


# --------------------------------------------------------------------------
# dedup (north star): exact + n-gram Jaccard
# --------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
WITH doubled AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
ranked AS (
    SELECT doc_id,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS text_hash,
           row_number() OVER (
               PARTITION BY sha256(trim(regexp_replace(lower(text),
                                                       '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
    FROM doubled
)
SELECT doc_id, text_hash FROM ranked WHERE rn = 1
"""


@register("dedup_exact", oracle=_DEDUP_EXACT_ORACLE, tags=("text", "dedup"))
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic survivor (lowest doc_id per
    normalized-text hash). The corpus is doubled with shifted ids so
    the operator provably removes the copies (the fixtures have no
    natural exact dups)."""
    d = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return dedup_exact(doubled).select("doc_id", "text_hash")


_DEDUP_NGRAM_ORACLE = """
WITH sh AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                        for i in range(1, len(string_split(text, ' ')) - 1)]
                  ELSE [text]
             END) AS shingles
    FROM documents
    WHERE doc_id < 150
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
           AS jaccard_sim
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.05
"""


# --------------------------------------------------------------------------
# tokenize + TF-IDF (north star; SURVEY §2B "tfidf / tokenize")
# --------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tokens AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents WHERE doc_id < 100
),
terms AS (
    SELECT doc_id, term FROM tokens
    WHERE length(term) >= 4 AND regexp_matches(term, '^[a-z]+$')
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
),
df AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM terms),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln((CAST(n.n_docs AS DOUBLE) + 1)
                            / (CAST(df.df AS DOUBLE) + 1)) , 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored) t
WHERE rn <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("text",))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize -> TF -> DF -> smoothed TF-IDF -> top-3 terms per doc.

    Pure DataFrame ops (explode + two grouped aggs + broadcast join +
    window top-k) rather than MLlib HashingTF/IDF, because (a) exact
    terms beat hashed buckets for an oracle-checkable surface and (b)
    the plan is transparent: the DF side is a term-keyed aggregate that
    broadcasts (vocabulary << corpus at any scale), so the only big
    shuffle is the (doc_id, term) TF aggregation."""
    d = io.table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    terms = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .where(
            (F.length("term") >= 4) & F.col("term").rlike("^[a-z]+$")
        )
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    # corpus size as a 1-row broadcast (no driver-side collect)
    n = terms.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs").cast("double") + 1)
                    / (F.col("df").cast("double") + 1)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


@register(
    "dedup_ngram_jaccard", oracle=_DEDUP_NGRAM_ORACLE, tags=("text", "dedup")
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity join over a bounded
    candidate set (doc_id < 150): all pairs with sim >= 0.05. The
    unbounded/scaled variant is `dedup_minhash` (LSH, rows-only)."""
    d = io.table(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    return dedup_ngram_pairs(d, threshold=0.05, n=3).select(
        "id1", "id2", "jaccard_sim"
    )


_DEDUP_MINHASH_ORACLE = """
WITH sh AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                        for i in range(1, len(string_split(text, ' ')) - 1)]
                  ELSE [text]
             END) AS shingles
    FROM documents
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
           AS jaccard_sim
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
"""


@register(
    "dedup_minhash", oracle=_DEDUP_MINHASH_ORACLE, tags=("text", "dedup")
)
def dedup_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs over the FULL document table — the
    100 TB dedup path (shingle -> 64 minhashes -> 16-band bucket join
    -> exact Jaccard re-check on candidates only; no all-pairs join
    anywhere). The oracle is the brute-force exact-Jaccard join: at
    threshold 0.5 every fixture near-dup pair has jaccard >= 0.9, where
    the 16x4 banding miss probability is < 1e-7 — so LSH output equals
    brute force and the query is hash-checkable, not just rows-only.
    tests/test_dedup.py additionally pins recall=1 vs the exact join at
    sf0.001."""
    d = io.table(spark, sf_dir, "documents")
    return minhash_near_dups(
        d, threshold=0.5, n=3, num_hashes=64, bands=16
    ).select("id1", "id2", "jaccard_sim")


@register("dedup_simhash", tags=("text", "dedup", "rows-only"))
def dedup_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the documents table, banded bucket
    join (operators/dedup.py:simhash_near_dups). The corpus is doubled
    with a one-token-appended copy (ids +1000000) so the operator
    provably catches injected near-dups: appending one token flips only
    the few signature bits whose vote margin was ~0, landing the pair
    well inside the hamming radius.

    rows-only: the signature depends on Spark's xxhash64, which has no
    DuckDB equivalent; instead tests/test_dedup.py pins the banded join
    output equal to the brute-force all-pairs hamming join (the banding
    is exact for hamming <= bands-1 by pigeonhole, not approximate).
    Reference analog: near-dup detection over the uploaded corpus the
    reference re-indexes wholesale (bones.py:107-119) and never dedups.
    """
    d = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    # 4x16-bit bands (radius 3): the fixture corpus shares a small
    # vocabulary, so 8-bit bands collide on ~everything (measured 13s
    # at sf0.1 from candidate blowup); 16-bit bands keep the bucket
    # join selective while the pigeonhole exactness guarantee holds.
    return simhash_near_dups(
        d.unionByName(mutated), max_hamming=3, bands=4
    ).select("id1", "id2", "hamming")


# SimHash, ORACLE-CHECKED: md5-derived signature bits (DuckDB has md5
# but not xxhash64), replayed token for token — per doc, distinct
# whitespace tokens hash to two 32-bit md5 hex-prefix words; per bit,
# +1/-1 votes sum and the sign bit sets the signature bit. The oracle
# is the BRUTE-FORCE all-pairs hamming join (sum of per-word
# bit_count(xor)), so a driver MATCH re-proves the banded join's
# pigeonhole exactness (radius <= bands-1) against an independent
# formulation at every gate scale — not just at the sf0.001 pytest
# pin. doc_id < 500 bounds the oracle's quadratic pair scan to a
# constant 1000 docs at every sf (the bpe_train_exact pattern); the
# UNBOUNDED engine path stays `dedup_simhash` above. Intermediate
# sums cast to BIGINT (the r5/r12 HUGEINT rule, scripts/
# oracle_typelint.py).
_SIMHASH_EXACT_ORACLE = """\
WITH doubled AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 500
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' zq' AS text
    FROM documents WHERE doc_id < 500
),
toks AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(text, '\\s+'))) AS t
    FROM doubled
),
th AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS hhi,
           CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS hlo
    FROM toks
),
votes AS (
    SELECT doc_id, b.b,
           sum(CASE WHEN (hhi >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vhi,
           sum(CASE WHEN (hlo >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vlo
    FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
    GROUP BY doc_id, b.b
),
sigs AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN vhi > 0
                         THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                AS BIGINT) AS hi,
           CAST(sum(CASE WHEN vlo > 0
                         THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                AS BIGINT) AS lo
    FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id1, c.doc_id AS id2,
       CAST(bit_count(xor(a.hi, c.hi))
            + bit_count(xor(a.lo, c.lo)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs c ON a.doc_id < c.doc_id
WHERE bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo)) <= 3
ORDER BY id1, id2\n"""


@register(
    "dedup_simhash_exact",
    oracle=_SIMHASH_EXACT_ORACLE,
    tags=("text", "dedup"),
)
def dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, ORACLE-CHECKED — the promotion of the
    simhash family from rows-only to value-hash-checked. The engine
    runs the REAL banded operator
    (operators/dedup.py:simhash_near_dups — distinct-signature
    collapse, 4x16-bit band self-join, per-signature-pair hamming,
    output-bounded id expansion) with the md5-derived signature
    (simhash64_md5) whose bits DuckDB replays exactly; the oracle is
    the brute-force all-pairs hamming join over the same signatures.
    A MATCH therefore re-proves the banding's pigeonhole-exactness
    contract (any pair within hamming bands-1 shares an untouched
    band) against an independent formulation — the cross-engine
    version of tests/test_dedup.py::
    test_simhash_banded_equals_bruteforce.

    Fixture: the bounded doc_id < 500 slice doubled with a
    one-token-appended copy (ids +1e6) so near-dup pairs exist by
    construction at every sf — appending one token flips only
    signature bits whose vote margin was ~0.

    Reference analog: near-dup screening over the uploaded corpus
    the reference re-indexes wholesale (conversadocs/bones.py:107-119)
    and never dedups."""
    from conversadocs_spark.operators.dedup import (
        simhash64_md5,
        simhash_near_dups,
    )

    d = (
        io.table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 500)
        .select("doc_id", "text")
    )
    mutated = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return simhash_near_dups(
        d.unionByName(mutated),
        max_hamming=3,
        bands=4,
        sig_expr=simhash64_md5,
    ).select("id1", "id2", "hamming")


# --------------------------------------------------------------------------
# composed corpus-cleaning pipeline (the 100 TB training-data shape)
# --------------------------------------------------------------------------

_CORPUS_CLEAN_ORACLE = f"""
WITH doubled AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
survivors AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                   PARTITION BY sha256(trim(regexp_replace(lower(text),
                                                           '\\s+', ' ', 'g')))
                   ORDER BY doc_id) AS rn
        FROM doubled) WHERE rn = 1
),
scored AS (
    SELECT doc_id, text,
           round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50,
                       1.0) * 0.4
                 + (CAST(len(list_distinct(string_split(text, ' ')))
                         AS DOUBLE) / len(string_split(text, ' '))) * 0.4
                 + (1 - least(CAST(len(regexp_extract_all(text,
                       '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text), 1.0))
                   * 0.2,
                 6) AS quality_score
    FROM survivors
)
SELECT doc_id, quality_score,
       CASE
         WHEN {_lang_score_sql('en')} >= greatest({_lang_score_sql('de')},
              {_lang_score_sql('fr')}, {_lang_score_sql('es')},
              {_lang_score_sql('zh')}, 1) THEN 'en'
         WHEN {_lang_score_sql('de')} >= greatest({_lang_score_sql('fr')},
              {_lang_score_sql('es')}, {_lang_score_sql('zh')}, 1) THEN 'de'
         WHEN {_lang_score_sql('fr')} >= greatest({_lang_score_sql('es')},
              {_lang_score_sql('zh')}, 1) THEN 'fr'
         WHEN {_lang_score_sql('es')} >= greatest({_lang_score_sql('zh')}, 1)
              THEN 'es'
         WHEN {_lang_score_sql('zh')} >= 1 THEN 'zh'
         ELSE 'unknown'
       END AS predicted_lang
FROM scored
WHERE quality_score >= 0.72
  AND CASE
         WHEN {_lang_score_sql('en')} >= greatest({_lang_score_sql('de')},
              {_lang_score_sql('fr')}, {_lang_score_sql('es')},
              {_lang_score_sql('zh')}, 1) THEN 'en'
         ELSE 'other'
      END = 'en'
"""


@register("corpus_clean", oracle=_CORPUS_CLEAN_ORACLE, tags=("text", "dedup"))
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline — dedup -> quality
    filter -> language filter in ONE declarative plan, the end-to-end
    shape this engine exists for at 100 TB (each stage alone is a
    registered query; this proves they compose without materialization
    barriers).

    Stages: (1) exact dedup with deterministic survivor over a corpus
    doubled with exact copies (operators/dedup.py:dedup_exact — one
    hash shuffle); (2) heuristic quality score, keep >= 0.72 (drops
    ~40% of fixture docs — a discriminating threshold, not vacuous);
    (3) stopword language ID, keep 'en' (drops the 'unknown' tail).
    All pure Catalyst: the whole pipeline is one scan + one
    dedup-window shuffle; the quality/lang stages are narrow maps that
    fuse into the same stage, and Catalyst pushes nothing through the
    window (correct: the dedup must see every row).

    Reference analog: none — the reference re-indexes raw uploads
    wholesale (bones.py:107-119); this is the hygiene layer the north
    star adds on top.
    """
    d = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    survivors = dedup_exact(doubled).select("doc_id", "text")

    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("double")
    n_uniq = F.size(F.array_distinct(words)).cast("double")
    n_chars = F.length("text").cast("double")
    # regexp_count is equivalent to size(regexp_extract_all(..., 0)):
    # Spark 4.1 rewrites it to exactly that, so the plan is identical
    # and neither form is faster — it is just the shorter spelling.
    n_punct = F.regexp_count(
        "text", F.lit(r"[^A-Za-z0-9\s]")
    ).cast("double")
    quality = F.round(
        F.least(n_words / 50, F.lit(1.0)) * 0.4
        + (n_uniq / n_words) * 0.4
        + (F.lit(1) - F.least(n_punct / n_chars, F.lit(1.0))) * 0.2,
        6,
    )

    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))

    def score(lang: str) -> F.Column:
        return F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            )
        )

    order = ("en", "de", "fr", "es", "zh")
    pred = F.lit("unknown")
    for i in range(len(order) - 1, -1, -1):
        lang = order[i]
        rest = [score(o) for o in order[i + 1 :]] + [F.lit(1)]
        cond = (
            score(lang) >= F.greatest(*rest)
            if len(rest) > 1
            else score(lang) >= rest[0]
        )
        pred = F.when(cond, lang).otherwise(pred)

    return (
        survivors.select(
            "doc_id",
            quality.alias("quality_score"),
            pred.alias("predicted_lang"),
        )
        .where(
            (F.col("quality_score") >= 0.72)
            & (F.col("predicted_lang") == "en")
        )
    )


# --------------------------------------------------------------------------
# vocabulary building + Gopher-style repetition signals
# --------------------------------------------------------------------------

_VOCAB_ORACLE = """
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
GROUP BY token
ORDER BY n DESC, token
LIMIT 100
"""


@register("vocab_topk", oracle=_VOCAB_ORACLE, tags=("text",))
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency top-100 — the substrate every tokenizer
    training / vocab-trimming pipeline starts from. Deterministic
    tie-break (count desc, token asc) keeps the LIMIT hash-stable.

    Scale shape: explode + partial/final hash aggregate (map-side
    combine collapses repeated tokens before the shuffle), then the
    global top-k is a TakeOrderedAndProject — per-partition heaps, no
    global sort of the vocabulary."""
    d = io.table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
    )


_GOPHER_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS gram
    FROM toks
),
gc AS (
    SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT)                    AS n_grams,
       CAST(count(*) AS BIGINT)                  AS n_distinct,
       round(max(c) * 1.0 / sum(c), 6)           AS top_gram_frac,
       round(1.0 - count(*) * 1.0 / sum(c), 6)   AS dup_gram_frac
FROM gc
GROUP BY doc_id
"""


@register("gopher_repetition", oracle=_GOPHER_ORACLE, tags=("text",))
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style in-document repetition signals (Rae et
    al. 2021, Table A1): per document, the fraction of word 2-grams
    occupied by the single most frequent 2-gram (`top_gram_frac`) and
    the fraction that are repeat occurrences (`dup_gram_frac`) — the
    filters that catch keyword-stuffed and template-generated text.
    Documents with fewer than two tokens have no 2-grams and drop out
    (both engines agree by construction).

    Scale shape: per-doc 2-grams explode once, then two stacked hash
    aggregates — (doc, gram) counts with map-side combine, then per-doc
    max/sum/count — all corpus-linear, no window, no self-join."""
    from conversadocs_spark.functions.text import bigram_array

    d = io.table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id", F.explode(bigram_array(F.col("t"))).alias("gram")
    )
    return gopher_signals(grams)


def gopher_signals(grams: DataFrame) -> DataFrame:
    """The two stacked aggregates over an exploded (doc_id, gram)
    relation — exposed separately so composed pipelines
    (plans/lm.py:quality_filter_stack) can reuse ONE persisted gram
    explode across the repetition and LM branches."""
    gc = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return gc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_gram_frac"),
        F.round(
            F.lit(1.0) - F.count("*") / F.sum("c"), 6
        ).alias("dup_gram_frac"),
    )


# --------------------------------------------------------------------------
# heavy hitters: Misra-Gries frequent terms (the 100 TB vocab path)
# --------------------------------------------------------------------------


@register("heavy_hitters_terms", tags=("text", "sketch"))
def heavy_hitters_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequent terms by Misra-Gries sketch (k=200 counters per
    partition; operators/sketch.py). Unlike vocab_topk's exact
    (term, count) shuffle, the sketch shuffles at most k rows per
    partition no matter how heavy-tailed the vocabulary is — the
    scale path when the term dictionary itself stops fitting.

    Rows-only by design (estimates depend on partition layout);
    tests/test_graph.py pins the MG guarantee value-wise: every term
    with true frequency > n/(k+1) survives, and estimates sit in
    [true - n/(k+1), true].
    """
    from conversadocs_spark.operators.sketch import heavy_hitters

    d = io.table(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).where(F.length("term") >= 4)
    return (
        heavy_hitters(terms, "term", k=200)
        .orderBy(F.desc("est"), F.asc("term"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Unicode normalization (NFC) — the first step of every crawl cleaner
# --------------------------------------------------------------------------

# The fixture corpus is ASCII, so the query injects deterministic
# non-NFC suffixes in-plan (same trick as pii_redact's injection):
# decomposed e+combining-acute, precomposed é, the fi ligature (NFC
# leaves it — the classic "normalize did nothing" trap NFKC would
# change), and A+combining-ring. Both engines inject the identical
# bytes, so the hash check proves the NORMALIZATION, not the fixture.
_NFC_CASES = [
    (0, " café"),        # e + U+0301 -> é (shrinks)
    (1, " éclair"),       # already NFC (must be unchanged)
    (2, " ﬁle"),          # fi ligature (NFC-invariant)
    (3, " Åberg"),       # A + U+030A -> Å (shrinks)
]

_NORMALIZE_ORACLE = (
    "SELECT doc_id,\n"
    "       CAST(length(injected) AS INTEGER)  AS n_before,\n"
    "       CAST(length(normed) AS INTEGER)    AS n_after,\n"
    "       right(normed, 6)                   AS tail\n"
    "FROM (\n"
    "  SELECT doc_id, injected, nfc_normalize(injected) AS normed\n"
    "  FROM (\n"
    "    SELECT doc_id, text || CASE CAST(doc_id % 4 AS INTEGER)\n"
    + "".join(
        f"      WHEN {i} THEN '{s}'\n" for i, s in _NFC_CASES
    )
    + "    END AS injected\n"
    "    FROM documents\n"
    "  )\n"
    ")\n"
)


@register("text_normalize", oracle=_NORMALIZE_ORACLE, tags=("text",))
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the step every multilingual crawl
    pipeline runs before tokenization/dedup (bytes that render
    identically must hash identically, or exact-dedup silently splits
    duplicates). Spark has no NFC built-in, so this is an Arrow-batched
    pandas_udf over ``unicodedata.normalize`` — a narrow map, no
    shuffle; at 100 TB it costs one Python pass over the text column
    and nothing else.

    Oracle-checked against DuckDB's ``nfc_normalize`` on byte-identical
    injected inputs: two INDEPENDENT Unicode implementations (CPython's
    unicodedata vs DuckDB's utf8proc) must agree cell-for-cell on
    composition, invariance, and character counts.
    """
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None
            if t is None
            else unicodedata.normalize("NFC", t)
        )

    inj = F.col("text")
    case = F.when(F.lit(False), F.lit(""))
    for i, suffix in _NFC_CASES:
        case = case.when(
            (F.col("doc_id") % 4).cast("int") == i, F.lit(suffix)
        )
    d = io.table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", F.concat(inj, case).alias("injected")
        )
        .select("doc_id", nfc(F.col("injected")).alias("normed"),
                F.length("injected").alias("n_before"))
        .select(
            "doc_id",
            F.col("n_before").cast("int").alias("n_before"),
            F.length("normed").cast("int").alias("n_after"),
            F.substring("normed", -6, 6).alias("tail"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge training (tokenizer training over the corpus)
# --------------------------------------------------------------------------


@register("bpe_train", tags=("text", "rows-only"))
def bpe_train_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 40 BPE merge rules from the corpus
    (operators/bpe.py, Sennrich et al. ACL 2016): the tokenizer-
    training step downstream of `vocab_topk`. Iterative driver loop
    (a few-row ranked collect per JOB, with non-interacting merges
    batched so jobs ≪ merges — see _accept_merge_prefix) -> rows-only
    over the UNBOUNDED corpus (its oracle would recurse over an
    unbounded vocab; the bounded-slice sibling `bpe_train_exact`
    below value-hash-checks the same training loop cross-engine);
    tests/test_text.py::test_bpe_train_matches_python_reference pins
    the merge sequence value-for-value against a pure-Python Sennrich
    implementation on the same word counts, and
    test_bpe_train_batched_merges_equal_sequential pins batched ==
    one-merge-per-job with measurably fewer jobs.

    Scale: mode="auto" (r8 verdict fix) — ONE corpus-sized job
    aggregates the (word, freq) table; since distinct words ≪ corpus
    (Heaps' law) the table virtually always fits the documented
    driver budget and the entire merge loop runs driver-side with
    incremental pair counts + a heap (merges/job unbounded — a
    32k-merge run is 1 job, vs ~30k for the batched distributed
    loop). Over budget it falls back to the on-cluster batched loop;
    the merge sequence is bit-identical either way (pinned in
    tests/test_text.py)."""
    from conversadocs_spark.operators.bpe import bpe_train

    d = io.table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=40, min_pair_count=2, mode="auto")
    return spark.createDataFrame(
        merges, schema="step int, left string, right string, pair_count bigint"
    )


# The bpe_train_exact oracle replays the ENTIRE Sennrich training
# loop in one recursive CTE — the last training-leg kernel that
# rested on local pins alone (VERDICT r11 "what's missing" #4). The
# per-word symbol arrays ride the recursion; each step makes ONE pass
# over that state (the single recursive-table reference DuckDB
# allows): explode symbol positions, lead() to adjacent pairs,
# freq-weighted pair counts as a window SUM, the argmax as a window
# MIN over a (-count, left, right) struct (the engine's pinned
# tie-break, operators/bpe.py module docstring), then the greedy
# non-overlapping left-to-right replacement lowered to its
# gaps-and-islands closed form: a marked position is merged iff its
# offset within its RUN of consecutive marks is even (the scan keeps
# the first mark of a run, consumes the next symbol, and re-examines
# two positions later — provable by induction on the run; merging at
# i never changes symbols at i+2). The <2-count early stop is
# replayed by the best-pair struct going NULL, which empties the
# recursion. All counts are exact integers, so both engines agree
# bit for bit. doc_id < 500 bounds the oracle's recursion at every
# gate scale (the pagerank bound pattern).
_BPE_TRAIN_EXACT_ORACLE = """\
WITH RECURSIVE wf AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents WHERE doc_id < 500
    ) GROUP BY word
),
steps(t, word, freq, syms) AS (
    SELECT 0, word, freq,
           list_append(string_split(word, ''), '</w>')
    FROM wf
    UNION ALL
    SELECT z.t + 1, z.word, any_value(z.freq),
           list(CASE WHEN z.keep THEN z.best.l || z.best.r
                     ELSE z.sym END
                ORDER BY z.idx)
               FILTER (WHERE NOT coalesce(z.dropped, FALSE))
    FROM (
        SELECT y.*,
               coalesce(lag(y.keep) OVER (
                   PARTITION BY y.t, y.word ORDER BY y.idx
               ), FALSE) AS dropped
        FROM (
            SELECT x.*,
                   x.mark AND (
                       (x.idx - min(CASE WHEN x.mark THEN x.idx END)
                           OVER (PARTITION BY x.t, x.word, x.island))
                       % 2 = 0
                   ) AS keep
            FROM (
                SELECT p.*,
                       p.sym = p.best.l AND p.nxt = p.best.r AS mark,
                       CASE WHEN p.sym = p.best.l AND p.nxt = p.best.r
                            THEN p.idx - sum(
                                CASE WHEN p.sym = p.best.l
                                      AND p.nxt = p.best.r
                                     THEN 1 ELSE 0 END
                            ) OVER (PARTITION BY p.t, p.word
                                    ORDER BY p.idx)
                       END AS island
                FROM (
                    SELECT w.*,
                           min(CASE WHEN w.nxt IS NOT NULL
                                     AND w.paircnt >= 2
                                    THEN {'nc': -w.paircnt,
                                          'l': w.sym, 'r': w.nxt}
                               END) OVER () AS best
                    FROM (
                        SELECT e.t, e.word, e.freq, e.idx,
                               e.syms[e.idx] AS sym,
                               e.syms[e.idx + 1] AS nxt,
                               sum(e.freq) OVER (
                                   PARTITION BY e.syms[e.idx],
                                                e.syms[e.idx + 1]
                               ) AS paircnt
                        FROM (
                            SELECT s.t, s.word, s.freq, s.syms,
                                   unnest(range(1, len(s.syms) + 1))
                                       AS idx
                            FROM steps s WHERE s.t < 25
                        ) e
                    ) w
                ) p
            ) x
        ) y
        WHERE y.best IS NOT NULL
    ) z
    GROUP BY z.t, z.word
),
merges AS (
    SELECT t AS step, best.l AS left_sym, best.r AS right_sym,
           -best.nc AS pair_count
    FROM (
        SELECT w.t,
               min(CASE WHEN w.nxt IS NOT NULL AND w.paircnt >= 2
                        THEN {'nc': -w.paircnt, 'l': w.sym,
                              'r': w.nxt} END) AS best
        FROM (
            SELECT e.t, e.freq,
                   e.syms[e.idx] AS sym, e.syms[e.idx + 1] AS nxt,
                   sum(e.freq) OVER (
                       PARTITION BY e.t, e.syms[e.idx],
                                    e.syms[e.idx + 1]
                   ) AS paircnt
            FROM (
                SELECT s.t, s.freq, s.syms,
                       unnest(range(1, len(s.syms) + 1)) AS idx
                FROM steps s WHERE s.t < 25
            ) e
        ) w
        GROUP BY w.t
    )
    WHERE best IS NOT NULL
)
SELECT CAST(step AS INTEGER) AS step, left_sym, right_sym,
       CAST(pair_count AS BIGINT) AS pair_count
FROM merges ORDER BY step\n"""


@register(
    "bpe_train_exact", oracle=_BPE_TRAIN_EXACT_ORACLE,
    tags=("text",),
)
def bpe_train_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING, ORACLE-CHECKED: the full Sennrich loop
    (pair count -> argmax -> greedy merge, 25 rounds, min count 2)
    over the bounded doc_id < 500 corpus slice, value-hash-matched
    against a DuckDB recursive CTE that replays every round (see
    _BPE_TRAIN_EXACT_ORACLE above). This closes the tokenizer
    lifecycle: `bpe_apply_fixed` already oracle-checks inference, and
    with this row the TRAINING leg's merge sequence is cross-engine
    verified too, not only pinned against the local pure-Python
    reference (that pin stays, tests/test_text.py).

    The engine side is the REAL operator (operators/bpe.py bpe_train,
    mode="auto": one corpus-sized (word, freq) aggregate, then the
    merge loop over the Heaps'-law-bounded vocab — the mode a 100 TB
    run uses; batched/local produce bit-identical sequences, pinned).
    The returned merge table IS the model — model-sized output at any
    corpus scale. The unbounded-corpus sibling `bpe_train` stays
    rows-only (its oracle would recurse over an unbounded vocab)."""
    from conversadocs_spark.operators.bpe import bpe_train

    d = io.table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 500
    )
    merges = bpe_train(d, n_merges=25, min_pair_count=2, mode="auto")
    return spark.createDataFrame(
        [(int(s), l, r, int(c)) for s, l, r, c in merges],
        schema="step int, left_sym string, right_sym string, "
               "pair_count bigint",
    ).orderBy("step")


@register("bpe_apply", tags=("text", "rows-only"))
def bpe_apply_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges back to the corpus — the inference
    half of the tokenizer lifecycle (`bpe_train` learns the rules;
    this tokenizes with them): per-doc word/subword counts plus a
    sample, via one Arrow-batched narrow map with the merge list as
    the broadcast model and per-batch word memoization (cost scales
    with distinct words, not tokens). Rows-only (the model is
    iterative-trained); tests/test_text.py pins the subword output
    against the pure-Python Sennrich application word-for-word."""
    from conversadocs_spark.operators.bpe import bpe_apply, bpe_train

    d = io.table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=40, min_pair_count=2, mode="auto")
    return bpe_apply(d, merges)


#: The FIXED merge table for the oracle-checked apply leg: a
#: production tokenizer is trained once and applied to ANY corpus, so
#: a literal rule list is the realistic serving shape (and what makes
#: the apply leg hash-checkable — `bpe_apply` trains inline, so its
#: rules depend on the corpus). Rules chosen to actually FIRE on the
#: fixture vocabulary, including </w>-merges and a chained sequence
#: (j+o -> jo+i -> joi+n) so rule ORDER is load-bearing.
_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("a", "n"), ("an", "</w>"), ("j", "o"), ("jo", "i"),
    ("joi", "n"), ("h", "a"), ("ha", "s"), ("s", "c"),
    ("sc", "an</w>"), ("r", "o"), ("ro", "w"), ("c", "o"),
    ("t", "e"), ("te", "r"), ("o", "w"),
]

# The oracle replays classic BPE application EXACTLY with a recursive
# CTE (the fourth bounded-replay pattern after seq_pack_ffd /
# mmr_rerank_exact / graph_pagerank_exact): greedy NON-OVERLAPPING
# left-to-right replacement of each rule in training order is a
# sequential scan, so the recursion walks (rule t, position i) per
# DISTINCT word, carrying (acc, cur) symbol lists — on a merge i
# jumps 2 and acc gains the merged symbol; at scan end cur := acc and
# t advances. Bounded by vocabulary x rules x word length (Heaps'
# law: 31 distinct [a-z]+ words on the fixtures at every scale), not
# the corpus. Doc-level aggregation then joins words back by ordinal
# so repeated words count repeatedly and the 5-subword sample
# preserves document word order.
_BPE_APPLY_FIXED_ORACLE = (
    """
WITH RECURSIVE words AS (
    SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+'))
           AS w
    FROM documents
),
rules(t, l, r) AS (VALUES """
    + ", ".join(
        f"({t + 1}, '{l}', '{r}')"
        for t, (l, r) in enumerate(_BPE_FIXED_MERGES)
    )
    + f"""),
steps(w, t, i, acc, cur) AS (
    SELECT w, 1, 1, CAST([] AS VARCHAR[]),
           list_append([w[j] FOR j IN range(1, len(w) + 1)], '</w>')
    FROM words
    UNION ALL
    SELECT s.w,
           CASE WHEN s.i > len(s.cur) THEN s.t + 1 ELSE s.t END,
           CASE WHEN s.i > len(s.cur) THEN 1
                WHEN s.i + 1 <= len(s.cur)
                     AND s.cur[s.i] = ru.l AND s.cur[s.i + 1] = ru.r
                THEN s.i + 2
                ELSE s.i + 1 END,
           CASE WHEN s.i > len(s.cur) THEN CAST([] AS VARCHAR[])
                WHEN s.i + 1 <= len(s.cur)
                     AND s.cur[s.i] = ru.l AND s.cur[s.i + 1] = ru.r
                THEN list_append(s.acc, ru.l || ru.r)
                ELSE list_append(s.acc, s.cur[s.i]) END,
           CASE WHEN s.i > len(s.cur) THEN s.acc ELSE s.cur END
    FROM steps s JOIN rules ru ON ru.t = s.t
    WHERE NOT (s.t = {len(_BPE_FIXED_MERGES)} AND s.i > len(s.cur))
),
perword AS (
    SELECT w, acc AS syms, CAST(len(acc) AS BIGINT) AS n_sub
    FROM steps
    WHERE t = {len(_BPE_FIXED_MERGES)} AND i > len(cur)
),
docwords AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
    FROM documents
),
exploded AS (
    SELECT doc_id, unnest(ws) AS w,
           generate_subscripts(ws, 1) AS ord
    FROM docwords
),
agg AS (
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(p.n_sub) AS BIGINT) AS n_subwords,
           flatten(list(p.syms ORDER BY e.ord)) AS all_syms
    FROM exploded e JOIN perword p USING (w)
    GROUP BY e.doc_id
)
SELECT d.doc_id,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_subwords, 0) AS n_subwords,
       coalesce(array_to_string(a.all_syms[1:5], ' '), '')
           AS subword_sample
FROM documents d LEFT JOIN agg a USING (doc_id)
"""
)


@register(
    "bpe_apply_fixed", oracle=_BPE_APPLY_FIXED_ORACLE, tags=("text",)
)
def bpe_apply_fixed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer INFERENCE with a fixed merge table, ORACLE-CHECKED
    — the production serving shape (train once, tokenize any corpus):
    where `bpe_apply` trains its rules inline (corpus-dependent ->
    rows-only), this applies the literal `_BPE_FIXED_MERGES` table,
    which makes the greedy merge application itself a finite
    deterministic process a DuckDB recursive CTE replays scan step by
    scan step (rule order is load-bearing: the fixture rules include
    a 3-deep chain and </w> merges). Same kernel as bpe_apply — one
    Arrow-batched narrow map, merge list broadcast in the closure,
    per-batch word memoization, zero shuffles.

    Scale shape: the engine cost is one corpus pass; the ORACLE's
    recursion is vocabulary x rules x word-length bounded (Heaps'
    law), never corpus-sized."""
    from conversadocs_spark.operators.bpe import bpe_apply

    d = io.table(spark, sf_dir, "documents")
    merges = [
        (i, l, r, 0) for i, (l, r) in enumerate(_BPE_FIXED_MERGES)
    ]
    return bpe_apply(d, merges)


# --------------------------------------------------------------------------
# Count-Min sketch term frequencies (bounded-state, mergeable)
# --------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 2048

_CMS_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS term
    FROM documents
),
toks2 AS (SELECT term FROM toks WHERE term <> ''),
hashed AS (
    SELECT t.term, r.r,
           CAST(('0x' || substr(
               md5(CAST(r.r AS VARCHAR) || ':' || t.term), 1, 8))
               AS BIGINT) % {_CMS_W} AS c
    FROM toks2 t
    CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r) r
),
sketch AS (
    SELECT r, c, count(*) AS n FROM hashed GROUP BY r, c
),
truth AS (
    SELECT term, count(*) AS true_n FROM toks2 GROUP BY term
),
probes AS (
    SELECT DISTINCT t.term, h.r, h.c
    FROM truth t
    JOIN hashed h ON h.term = t.term
),
est AS (
    SELECT p.term, min(s.n) AS est_n
    FROM probes p JOIN sketch s ON s.r = p.r AND s.c = p.c
    GROUP BY p.term
)
SELECT t.term, t.true_n, e.est_n
FROM truth t JOIN est e ON e.term = t.term
ORDER BY t.true_n DESC, t.term ASC
LIMIT 20
"""


def _cms_bucket(term, r: int):
    """Shared-arithmetic CMS hash: first 8 hex chars of
    md5('<r>:<term>') as an int, mod the sketch width — byte-for-byte
    reproducible in DuckDB (md5 + hex cast), which is what makes the
    sketch itself oracle-checkable."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{r}:"), term).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


@register("cms_term_freq", oracle=_CMS_ORACLE, tags=("text", "sketch"))
def cms_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over corpus
    term frequencies — the third sketch in the family (HLL =
    distincts, Misra-Gries = heavy hitters, CMS = point frequency
    estimates under a FIXED d x w memory budget, mergeable by
    element-wise sum). Returns the top-20 true terms with their true
    and estimated counts; the CMS guarantee est >= true always holds
    and the overshoot is bounded by colliding mass.

    Scale shape: the sketch is ONE hash aggregate whose key space is
    capped at d*w = 8192 rows regardless of corpus size — partial
    aggregation reduces map-side, the shuffle carries at most d*w rows
    per input partition, and sketches from different corpora/days
    merge by summing counters (same mergeability contract as
    `agg_hll_mergeable`). Estimation joins probe terms against the
    8192-row sketch — broadcast-sized at any corpus scale. Unusually
    for a sketch, the whole thing is oracle-backed: the hash is
    md5-prefix arithmetic both engines evaluate identically."""
    d = io.table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    hashed = toks.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col("term"), r).alias("c"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rc"),
    ).select("term", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    sketch = hashed.groupBy("r", "c").agg(F.count("*").alias("n"))
    truth = toks.groupBy("term").agg(F.count("*").alias("true_n"))
    probes = hashed.select("term", "r", "c").distinct()
    est = (
        probes.join(sketch, ["r", "c"])
        .groupBy("term")
        .agg(F.min("n").alias("est_n"))
    )
    return (
        truth.join(est, "term")
        .orderBy(F.desc("true_n"), F.asc("term"))
        .limit(20)
        .select("term", "true_n", "est_n")
    )


# --------------------------------------------------------------------------
# PPJoin prefix-filtered exact similarity join
# --------------------------------------------------------------------------

_DEDUP_PPJOIN_ORACLE = """
WITH sh AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                        for i in range(1, len(string_split(text, ' ')) - 1)]
                  ELSE [text]
             END) AS shingles
    FROM documents
    WHERE doc_id < 1000
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
           AS jaccard_sim
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
"""


@register(
    "dedup_ppjoin", oracle=_DEDUP_PPJOIN_ORACLE, tags=("text", "dedup")
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin prefix-filtered EXACT similarity join (operators/
    dedup.py:ppjoin_prefix_pairs) — the third point in the dedup
    design space: dedup_ngram_jaccard is brute-force-exact (O(n^2)),
    dedup_minhash is scalable-probabilistic (LSH banding), this one
    is scalable-EXACT — the prefix-filter theorem bounds candidates
    without losing a single qualifying pair, so the ORACLE here is
    the plain brute-force join and equality is guaranteed by
    construction, not by a recall argument.

    The doc_id < 1000 bound keeps the DuckDB all-pairs oracle
    constant-cost at every gate scale (the Spark plan itself never
    builds all pairs at any scale) while staying wide enough that the
    sf0.1-derived gate datasets contribute real qualifying pairs (a
    300-doc bound was a vacuous 0-row MATCH at sf1); tests
    additionally pin candidate count << all-pairs and plan shape
    (token-key equi-join, no cross)."""
    d = io.table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 1000
    )
    return ppjoin_prefix_pairs(d, threshold=0.5, n=3)


# --------------------------------------------------------------------------
# character-entropy quality signal (gibberish / encoding-junk screen)
# --------------------------------------------------------------------------

_CHAR_ENTROPY_ORACLE = """
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch
    FROM documents
),
cnt AS (
    SELECT doc_id, ch, count(*) AS n_c
    FROM chars GROUP BY doc_id, ch
),
agg AS (
    SELECT doc_id,
           CAST(sum(n_c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           CAST(sum(n_c * CAST(round(ln(n_c) * 1000000, 0) AS BIGINT))
                AS BIGINT) AS s_fixed
    FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_chars, distinct_chars,
       round(CAST(CAST(round(ln(n_chars) * 1000000, 0) AS BIGINT)
                  * n_chars - s_fixed AS DOUBLE)
             / (n_chars * 1000000.0), 6) AS char_entropy
FROM agg
"""


@register(
    "quality_char_entropy",
    oracle=_CHAR_ENTROPY_ORACLE,
    tags=("text", "quality"),
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution —
    the cheap gibberish/encoding-junk screen (base64 blobs and
    mojibake sit far above natural-language entropy, repeated-char
    spam far below; natural prose clusters tightly). Complements the
    word-level stack: text_quality is token-shaped, gopher_repetition
    is n-gram-shaped, this is byte-shaped.

    Entirely FIXED-POINT so both engines agree bit-for-bit (the
    lm_bigram_score discipline, taken one step further): with
    L(x) = round(ln(x)*1e6) as BIGINT,
    H = (L(N)*N - sum_c n_c*L(n_c)) / (N*1e6) — the numerator is
    exact integer arithmetic, the single final division is a double
    op on identical ints, and no raw float ever enters a sum or a
    comparison. A 1-ulp ln() disagreement between engines moves one
    L by at most 1, shifting H by 1e-6/N — rounded away at any N>2.

    Scale shape: one character explode (the only corpus-sized pass),
    a (doc, char)-keyed count with map-side combine (alphabet-bounded
    fan-in per doc), then a doc-keyed re-aggregate; nothing is
    shuffled wider than doc ids and no state exceeds
    |alphabet| x docs-per-partition."""
    d = io.table(spark, sf_dir, "documents")
    ln_fixed = lambda c: (  # noqa: E731 — L(x): exact BIGINT log
        F.round(F.log(c) * F.lit(1000000.0), 0).cast("bigint")
    )
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("n_c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("n_c").cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("distinct_chars"),
        F.sum(F.col("n_c") * ln_fixed(F.col("n_c")))
        .cast("bigint")
        .alias("s_fixed"),
    )
    return agg.select(
        "doc_id",
        "n_chars",
        "distinct_chars",
        F.round(
            (
                ln_fixed(F.col("n_chars")) * F.col("n_chars")
                - F.col("s_fixed")
            ).cast("double")
            / (F.col("n_chars") * F.lit(1000000.0)),
            6,
        ).alias("char_entropy"),
    )


# --------------------------------------------------------------------------
# content-defined chunking (CDC — rolling-hash boundaries)
# --------------------------------------------------------------------------

_CDC_D = 16  # boundary divisor -> expected chunk ~16 tokens

_CDC_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents
),
b AS (
    SELECT doc_id, len(toks) AS n_tokens,
           [i for i in range(1, len(toks))
            if CAST(('0x' || substr(
                   md5(toks[i] || ' ' || toks[i+1]), 1, 8))
                 AS BIGINT) % {_CDC_D} = 0] AS bounds
    FROM t
),
e AS (
    SELECT doc_id, n_tokens, bounds,
           list_concat(list_concat([0], bounds),
                       [n_tokens]) AS ext
    FROM b
),
lens AS (
    SELECT doc_id, n_tokens, bounds,
           [ext[i+1] - ext[i]
            for i in range(1, len(ext))] AS chunk_lens
    FROM e
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT)              AS n_tokens,
       CAST(len(chunk_lens) AS BIGINT)       AS n_chunks,
       CAST(list_min(chunk_lens) AS BIGINT)  AS min_chunk,
       CAST(list_max(chunk_lens) AS BIGINT)  AS max_chunk,
       CAST(coalesce(list_sum(bounds), 0) AS BIGINT) AS boundary_sum
FROM lens
"""


@register("chunk_cdc", oracle=_CDC_ORACLE, tags=("text", "chunk"))
def chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS rolling-hash rule;
    Muthitacharoen et al. 2001) — the dedup-stable sibling of
    chunk_fixed: a boundary falls AFTER token i exactly when the
    hash of the local 2-token window (md5-prefix arithmetic, the
    cms_term_freq idiom) is 0 mod 16, so expected chunks are ~16
    tokens and an insertion only moves boundaries NEAR the edit —
    fixed-offset chunking re-chunks everything downstream, breaking
    chunk-level dedup. Per doc: token/chunk counts, min/max chunk
    length, and the exact boundary-position sum (all integers, so
    the BOUNDARY SET itself is oracle-checked).

    Scale shape: one scan, the boundary selection and chunk-length
    diffs are codegen array ops (filter over a position sequence,
    zip_with over the extended boundary list) — ZERO shuffles, no
    UDF; the chunk-explode stage a downstream pipeline would add is
    the chunk_fixed shape."""
    d = io.table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    with_t = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("m")
    )
    h = lambda s: (  # noqa: E731 — local hash shorthand
        F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10)
        .cast("long")
    )
    bounds = F.filter(
        F.sequence(F.lit(1), F.col("m") - 1),
        lambda i: h(
            F.concat(
                F.element_at("toks", i),
                F.lit(" "),
                F.element_at("toks", i + 1),
            )
        )
        % _CDC_D
        == 0,
    )
    with_b = with_t.select(
        "doc_id",
        F.col("m"),
        F.when(F.col("m") > 1, bounds)
        .otherwise(F.array().cast("array<bigint>"))
        .alias("bounds"),
    )
    ext = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.col("bounds"),
        F.array(F.col("m").cast("bigint")),
    )
    with_e = with_b.withColumn("ext", ext)
    lens = F.zip_with(
        F.slice(F.col("ext"), 2, F.size("ext") - 1),
        F.slice(F.col("ext"), 1, F.size("ext") - 1),
        lambda a, b: a - b,
    )
    return with_e.select(
        "doc_id",
        F.col("m").cast("bigint").alias("n_tokens"),
        (F.size("bounds") + 1).cast("bigint").alias("n_chunks"),
        F.array_min(lens).cast("bigint").alias("min_chunk"),
        F.array_max(lens).cast("bigint").alias("max_chunk"),
        F.coalesce(
            F.aggregate(
                "bounds",
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
            F.lit(0).cast("bigint"),
        ).alias("boundary_sum"),
    )


# --------------------------------------------------------------------------
# Zipf law fit per source (corpus health analytics)
# --------------------------------------------------------------------------

_ZIPF_FIT_ORACLE = """\
WITH tf AS (
    SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT source, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ) WHERE term <> '' GROUP BY source, term
),
ranked AS (
    SELECT source, cnt,
           row_number() OVER (
               PARTITION BY source ORDER BY cnt DESC, term ASC
           ) AS rnk
    FROM tf
),
pts AS (
    SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
           ln(CAST(cnt AS DOUBLE)) AS y
    FROM ranked WHERE rnk <= 500
),
m AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
           sum(x * x) AS sxx, sum(y * y) AS syy
    FROM pts GROUP BY source
)
SELECT source, n AS n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
             6) AS intercept,
       round(
           (n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m ORDER BY source\n"""


@register("corpus_zipf_fit", oracle=_ZIPF_FIT_ORACLE, tags=("text",))
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf law fit per source: OLS slope/intercept/R^2 of
    ln(frequency) vs ln(rank) over each source's top-500 term ranks —
    the classic corpus-health diagnostic (natural text sits near
    slope -1; template/boilerplate-heavy or synthetic sources flatten
    or steepen it), used to screen whole SOURCES the way per-doc
    quality signals screen documents.

    Closed-form OLS: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) from
    one aggregate over the ranked points — no iterative fitting, no
    UDFs. The rank tie-break (count desc, term asc) is total, so both
    engines rank identically; ln/round(6) are cross-engine stable at
    these magnitudes (the mixture_temperature pow precedent).

    Scale shape: explode -> map-side-combined (source, term) counts
    (vocab-sized, not corpus-sized, after the combine), then the
    top-500 rank runs as a SALTED TWO-PHASE exact top-k (the
    sample_group_topk pattern, plans/pipeline.py): a plain
    `Window.partitionBy("source")` would put each source's ENTIRE
    vocabulary through one reducer — with a handful of sources over
    100 TB that is maximal skew. Phase 1 ranks within
    (source, pmod(hash(term), 64)) and keeps 500 per salt group,
    shrinking each source to <= 64*500 = 32k survivor rows; phase 2
    re-ranks only those survivors per source. Any term in the true
    per-source top-500 is also in its salt group's top-500
    (pigeonhole), so the result is EXACTLY the single-window answer
    (the oracle) while the heavy pass fans out over 64x more
    reducers. The final window and the per-source OLS aggregate touch
    O(sources * 32k) rows, never the corpus or the full vocabulary."""
    d = io.table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    from pyspark.sql import Window

    order = (F.desc("cnt"), F.asc("term"))
    salted = Window.partitionBy(
        "source", F.pmod(F.hash("term"), F.lit(64))
    ).orderBy(*order)
    survivors = (
        tf.withColumn("r1", F.row_number().over(salted))
        .where(F.col("r1") <= 500)
        .drop("r1")
    )
    w = Window.partitionBy("source").orderBy(*order)
    pts = (
        survivors.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 500)
        .select(
            "source",
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )
    m = pts.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "source",
        n.alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# MinHash LSH near-dup pairs, ORACLE-CHECKED (r14 — the simhash r13
# promotion applied to the signature 100 TB operator). MinHash banding
# is probabilistic (no pigeonhole guarantee), so the checkable
# contract is the PIPELINE itself: output pairs are exactly
# {share >= 1 of 16 band values} AND {exact Jaccard >= 0.5}, both
# recomputed independently by DuckDB from the same md5-derived
# hashes. A MATCH value-checks every stage cross-engine: shingling
# (incl. the <n-token fallback), the 64 per-seed signature mins, the
# band grouping, the in-bucket candidate expansion, and the exact
# Jaccard re-check. doc_id < 300 bounds the oracle's 64x per-shingle
# rehash and its banded join to a constant 600 docs at every sf (the
# bpe/simhash fixture rule); the UNBOUNDED two-level-xxhash64
# production path stays `dedup_minhash` (bench-tracked every round).
# --------------------------------------------------------------------------

_MINHASH_EXACT_ORACLE = """\
WITH doubled AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 300
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' zq' AS text
    FROM documents WHERE doc_id < 300
),
toks AS (
    SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM doubled
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN [array_to_string(t[i:i+2], ' ')
                     for i in range(1, len(t) - 1)]
               ELSE [array_to_string(t, ' ')] END) AS shingles
    FROM toks
),
hsx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
mins AS (
    SELECT doc_id, seeds.i,
           min(CAST(('0x' || substr(
                   md5(CAST(seeds.i AS VARCHAR) || ':' || s), 1, 15))
               AS BIGINT)) AS m
    FROM hsx CROSS JOIN (SELECT unnest(range(0, 64)) AS i) seeds
    GROUP BY doc_id, seeds.i
),
bands AS (
    SELECT doc_id, i // 4 AS band,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bval
    FROM mins GROUP BY doc_id, i // 4
),
cand AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
),
hsets AS (
    SELECT doc_id,
           list_distinct([CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)
                          for x in shingles]) AS hset
    FROM sh
)
SELECT c.id1, c.id2,
       round(CAST(len(list_intersect(h1.hset, h2.hset)) AS DOUBLE)
             / len(list_distinct(h1.hset || h2.hset)), 6) AS jaccard_sim
FROM cand c
JOIN hsets h1 ON h1.doc_id = c.id1
JOIN hsets h2 ON h2.doc_id = c.id2
WHERE CAST(len(list_intersect(h1.hset, h2.hset)) AS DOUBLE)
      / len(list_distinct(h1.hset || h2.hset)) >= 0.5
ORDER BY id1, id2\n"""


@register(
    "dedup_minhash_exact",
    oracle=_MINHASH_EXACT_ORACLE,
    tags=("text", "dedup"),
)
def dedup_minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs, ORACLE-CHECKED — the promotion of
    the minhash family's VALUE path from rows-only to
    value-hash-checked (the dedup_simhash_exact move, r13). The
    engine runs the banded pipeline with md5-derived hashes
    (operators/dedup.py:minhash_near_dups_md5 — same shingle /
    band / in-bucket-pair-explode / exact-re-check shape as the
    production operator); the oracle recomputes every signature,
    bucket, and surviving pair independently in DuckDB. Banding is
    probabilistic, so the contract checked is pipeline identity
    ({>=1 shared band} AND {Jaccard >= 0.5}), not equality with the
    brute-force join — the production operator's recall is audited
    separately (sf100 banded-candidate gates).

    Fixture: the bounded doc_id < 300 slice doubled with a
    one-token-appended copy (ids +1e6): appending one token adds ~3
    shingles and removes none, so each (d, d+1e6) pair sits at
    Jaccard k/(k+3) — near-dup by construction at every sf.

    Reference analog: near-dup screening over the corpus the
    reference re-indexes wholesale (conversadocs/bones.py:107-119)
    and never dedups."""
    from conversadocs_spark.operators.dedup import minhash_near_dups_md5

    d = (
        io.table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    mutated = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return minhash_near_dups_md5(
        d.unionByName(mutated), threshold=0.5, n=3,
        num_hashes=64, bands=16,
    )
