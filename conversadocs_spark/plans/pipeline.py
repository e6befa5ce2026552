"""Training-data pipeline operators: deterministic split/shuffle,
stratified sampling, PII redaction, benchmark-contamination screening,
and sequence packing.

These are the corpus-preparation steps a 100 TB training pipeline runs
AFTER cleaning/dedup (plans/text.py) and BEFORE tokenized examples are
written. The reference app stops at retrieval (it re-indexes uploads,
/root/reference/conversadocs/bones.py:107-119); these generalize its
corpus model to the training-prep surface the brief names first-class.

Determinism rule: anything sampled or shuffled derives from md5 of a
seeded key string — md5 produces identical lowercase hex in Spark and
DuckDB, so every query here is oracle-checkable (no rand(), which
breaks retries on both engines). A hex-prefix threshold (first 2 chars
< 'cd' ~ 205/256 = 80.1%) gives per-row Bernoulli behavior that is
reproducible, partition-invariant, and embarrassingly parallel — the
100 TB shape for split/sample (no global coordination at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversadocs_spark import io, scratch
from conversadocs_spark.operators.dedup import (
    hashed_shingles,
    minhash_near_dups,
    normalize_text,
    shingle_docs,
)
from conversadocs_spark.operators.packing import pack_documents
from conversadocs_spark.plans.registry import register


def _seeded_md5(seed: str, col: F.Column) -> F.Column:
    return F.md5(F.concat(F.lit(seed), col.cast("string")))


# --------------------------------------------------------------------------
# train/test split + deterministic shuffle key
# --------------------------------------------------------------------------

_SPLIT_ORACLE = """
SELECT doc_id,
       CASE WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 2)
                 < 'cd'
            THEN 'train' ELSE 'test' END          AS split,
       md5('s42:' || CAST(doc_id AS VARCHAR))     AS shuffle_key
FROM documents
"""


@register("corpus_split_shuffle", oracle=_SPLIT_ORACLE, tags=("pipeline",))
def corpus_split_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~80/20 train/test split plus a deterministic shuffle key.

    The shuffle key IS the operator output (not a materialized global
    rank): training order is realized at write time with
    ``repartitionByRange(N, "shuffle_key").sortWithinPartitions(...)``,
    which scales as a range-partitioned sort instead of the single-task
    global row_number a rank column would force. Per-row md5 keeps both
    the split and the order stable under retries and repartitioning.
    """
    d = io.table(spark, sf_dir, "documents")
    h = _seeded_md5("s42:", F.col("doc_id"))
    return d.select(
        "doc_id",
        F.when(F.substring(h, 1, 2) < "cd", "train")
        .otherwise("test")
        .alias("split"),
        h.alias("shuffle_key"),
    )


# --------------------------------------------------------------------------
# stratified sampling per language
# --------------------------------------------------------------------------

_SAMPLE_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5('samp42:' || CAST(doc_id AS VARCHAR)), 1, 2)
      < CASE WHEN lang = 'en' THEN '40' ELSE '80' END
"""


@register("stratified_sample", oracle=_SAMPLE_ORACLE, tags=("pipeline",))
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: downsample the
    majority language (en: 25%) while keeping half of everything else
    — the standard language-rebalancing step. Hex thresholds: '40' =
    64/256, '80' = 128/256. Unlike df.sample(), the decision is a pure
    function of (seed, doc_id), so resamples, retries, and speculative
    re-execution all agree — at 100 TB a rand()-based sample is not
    reproducible across task re-runs."""
    d = io.table(spark, sf_dir, "documents")
    h2 = F.substring(_seeded_md5("samp42:", F.col("doc_id")), 1, 2)
    rate = F.when(F.col("lang") == "en", "40").otherwise("80")
    return d.where(h2 < rate).select("doc_id", "lang", "source")


# --------------------------------------------------------------------------
# exact per-stratum top-k sampling (fixed budget per group)
# --------------------------------------------------------------------------

_GROUP_TOPK_ORACLE = """
SELECT doc_id, lang, CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('topk42:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS sample_rank
    FROM documents
)
WHERE sample_rank <= 20
"""


@register("sample_group_topk", oracle=_GROUP_TOPK_ORACLE, tags=("pipeline",))
def sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-per-stratum sample (k=20 per language): the fixed-budget
    counterpart to `stratified_sample`'s rate-based Bernoulli — what a
    human-eval set or per-source holdout needs. Order within a stratum
    is the seeded md5 of the doc id, so the selected set is a pure
    function of (seed, doc_id) and survives retries and repartitioning.

    Scale shape: the naive plan is one window partitioned by lang —
    with a handful of languages over 100 TB that is a handful of
    reducers (maximal skew). Instead the top-k runs in two phases:
    phase 1 ranks within (lang, salt) where salt = doc_id mod 64 and
    keeps k per salted group, shrinking each stratum to at most
    64*k rows; phase 2 re-ranks only those survivors per lang. Any row
    in the true per-lang top-k is also in its salt-group's top-k, so
    the result is EXACTLY the single-window answer (the oracle) while
    the heavy pass fans out over 64x more reducers and the final
    window touches O(strata * 64k) rows, not the corpus."""
    d = io.table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    h = _seeded_md5("topk42:", F.col("doc_id"))
    salted = Window.partitionBy(
        "lang", F.pmod(F.col("doc_id"), F.lit(64))
    ).orderBy(h.asc(), F.col("doc_id").asc())
    survivors = (
        d.select("doc_id", "lang")
        .withColumn("r1", F.row_number().over(salted))
        .where(F.col("r1") <= 20)
    )
    final = Window.partitionBy("lang").orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("sample_rank", F.row_number().over(final))
        .where(F.col("sample_rank") <= 20)
        .select("doc_id", "lang", F.col("sample_rank").cast("int"))
    )


# --------------------------------------------------------------------------
# token-length histogram (packing/budget planning substrate)
# --------------------------------------------------------------------------

_LENGTH_HIST_ORACLE = """
SELECT CAST(least(len(string_split(text, ' ')) // 32, 15) * 32 AS BIGINT)
           AS bucket_lo,
       CAST(count(*) AS BIGINT)                        AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(min(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY 1
"""


@register("length_histogram", oracle=_LENGTH_HIST_ORACLE, tags=("pipeline",))
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in 32-token buckets (top bucket open at
    480+): the planning input for `seq_pack` — choosing a packing
    budget without the length distribution wastes context window on
    padding or truncation. Purely a map-side-combined hash aggregate
    over ~16 groups; at 100 TB the shuffle carries one row per
    (partition, bucket), i.e. nothing."""
    d = io.table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    return (
        d.select(
            (F.least(F.floor(n / 32), F.lit(15)) * 32)
            .cast("bigint")
            .alias("bucket_lo"),
            n.alias("n"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.min("n").cast("bigint").alias("min_tokens"),
            F.max("n").cast("bigint").alias("max_tokens"),
        )
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_SSN_RE = r"\d{3}-\d{2}-\d{4}"

_PII_ORACLE = rf"""
WITH p AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com now'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' ssn 123-45-6789 on file' ELSE '' END AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(t, '{_SSN_RE}')) AS BIGINT)
           AS n_ssns,
       regexp_replace(
           regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_SSN_RE}', '<SSN>', 'g')                AS redacted
FROM p
"""


@register("pii_redact", oracle=_PII_ORACLE, tags=("pipeline",))
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and mask email/SSN patterns per document.

    The synthetic corpus contains no PII (verified: zero digits or
    '@'), so the query deterministically injects one email per
    doc_id%5==0 and one SSN per doc_id%7==0 in-plan — the same
    injected-positives idiom dedup_simhash uses — and the oracle
    performs the identical injection, making the redaction itself
    (not just the plumbing) hash-checked. Pure regexp_replace /
    regexp_extract_all: JVM-side, row-parallel, scale-clean. Both
    patterns are in the common Java-regex/RE2 subset (no lookaround,
    no backreferences) so the engines agree exactly."""
    d = io.table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(did % 7 == 0, F.lit(" ssn 123-45-6789 on file")).otherwise(
            ""
        ),
    )
    # regexp_count is equivalent to size(regexp_extract_all(..., 0)):
    # Spark 4.1 rewrites it to exactly that, so the plan is identical
    # and neither form is faster; the count is all the query keeps.
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(_SSN_RE)).cast("long").alias("n_ssns"),
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"),
            _SSN_RE,
            "<SSN>",
        ).alias("redacted"),
    )


# --------------------------------------------------------------------------
# benchmark-contamination screen (eval n-gram overlap)
# --------------------------------------------------------------------------

_CONTAM_N = 5

_CONTAM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(t) >= {_CONTAM_N}
                  THEN [array_to_string(t[i:i+{_CONTAM_N - 1}], ' ')
                        for i in range(1, len(t) - {_CONTAM_N - 2})]
                  ELSE [array_to_string(t, ' ')]
             END) AS grams
    FROM toks
),
ev AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 20
),
tr AS (
    SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
    FROM g WHERE doc_id >= 20
)
SELECT t.doc_id,
       CAST(t.n_grams AS BIGINT)                        AS n_grams,
       CAST(count(e.gram) AS BIGINT)                    AS n_shared,
       round(CAST(count(e.gram) AS DOUBLE) / t.n_grams, 6)
                                                        AS contamination
FROM tr t LEFT JOIN ev e USING (gram)
GROUP BY t.doc_id, t.n_grams
"""


@register("contamination_ngram", oracle=_CONTAM_ORACLE, tags=("pipeline",))
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc overlap with a held-out eval set's word
    5-grams — the decontamination screen run before training so eval
    answers aren't memorized from leaked copies. Eval set here: the
    first 20 docs (whose near-duplicates the fixture corpus contains
    by construction, so the screen provably fires).

    Scale shape: the eval side collapses to DISTINCT grams and is
    broadcast (eval suites are small — thousands of docs — while the
    training side is the 100 TB one); the training side explodes to
    (doc, gram) rows and aggregates back per doc. One broadcast join +
    one partial-aggregated groupBy; no shuffle carries gram strings of
    the big side twice."""
    d = io.table(spark, sf_dir, "documents")
    # Grams travel as xxhash64 longs, not strings (r16 — the same
    # slice-hash family the dedup pipeline adopted in r15): the string
    # path concat_ws'd every 5-token slice into a ~30-60 B gram only
    # to compare it for set membership, materializing tokens x ~40 B
    # per training doc and broadcasting eval-gram STRINGS. hashed
    # grams skip the per-slice string build, the distinct and the
    # broadcast-join key are fixed-width longs, and the contamination
    # COUNTS are unchanged unless two distinct grams collide in 64
    # bits (~grams^2/2^64 per doc — the repo-standard hash budget;
    # the oracle replays counts from strings and stays bit-equal at
    # every checked SF). explode_outer (not explode) for the same
    # reason as before the rewrite: Generate(explode) lets Catalyst
    # infer a size()>0 filter below the projection, re-evaluating the
    # gram expression once more per row; the arrays are never empty
    # (1-element fallback), so the outer form is value-identical.
    g = hashed_shingles(d, "text", "doc_id", _CONTAM_N)
    ev = (
        g.where(F.col("id") < 20)
        .select(F.explode_outer("hs").alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = g.where(F.col("id") >= 20).select(
        F.col("id").alias("doc_id"),
        F.size("hs").cast("long").alias("n_grams"),
        F.explode_outer("hs").alias("gram"),
    )
    return (
        tr.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("_hit").alias("n_shared"))
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_grams"), 6
            ).alias("contamination"),
        )
    )


# --------------------------------------------------------------------------
# sequence packing (rows-only: greedy state is not ANSI-expressible)
# --------------------------------------------------------------------------


# The seq_pack oracle replays the arrival-order greedy packer in a
# recursive CTE (promoted r12, the seq_pack_ffd pattern with SIMPLER
# state): one state row per (source, shard) carries (used, pack_local,
# pack_pos); each step consumes the group's next doc in doc_id order
# and either extends the open pack or opens a new one exactly when
# used > 0 AND used + n > budget — the kernel's branch, token for
# token (operators/packing.py _pack_group). pack_id reconstructs the
# shard-stride embedding (shard * 2^32 + local). The greedy bin
# boundary has no ANSI WINDOW form (a cumsum with data-dependent
# resets), but as a bounded-group sequential process it replays the
# same way FFD/chunk/BPE do. Recursion rows = one per doc.
_SEQ_PACK_ORACLE = """\
WITH RECURSIVE ordered AS (
    SELECT doc_id, source,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
               AS n_tokens,
           CAST(doc_id // 65536 AS BIGINT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY source, doc_id // 65536
               ORDER BY doc_id ASC
           ) AS BIGINT) AS t
    FROM documents
),
steps(source, shard, t, used, pack_local, doc_id, n_tokens,
      pack_pos) AS (
    SELECT source, shard, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(-1 AS BIGINT)
    FROM (SELECT DISTINCT source, shard FROM ordered)
    UNION ALL
    SELECT o.source, o.shard, o.t,
           CASE WHEN s.used > 0 AND s.used + o.n_tokens > 256
                THEN o.n_tokens ELSE s.used + o.n_tokens END,
           CASE WHEN s.used > 0 AND s.used + o.n_tokens > 256
                THEN s.pack_local + 1 ELSE s.pack_local END,
           o.doc_id, o.n_tokens,
           CASE WHEN s.used > 0 AND s.used + o.n_tokens > 256
                THEN CAST(0 AS BIGINT) ELSE s.pack_pos + 1 END
    FROM steps s
    JOIN ordered o ON o.source = s.source AND o.shard = s.shard
                  AND o.t = s.t + 1
)
SELECT doc_id, source, n_tokens,
       shard * 4294967296 + pack_local AS pack_id, pack_pos
FROM steps WHERE doc_id IS NOT NULL\n"""


@register("seq_pack", oracle=_SEQ_PACK_ORACLE, tags=("pipeline",))
def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy arrival-order sequence packing of documents into
    256-token context windows per (source, doc_id-range shard)
    (operators/packing.py pack_documents) — ORACLE-CHECKED since r12:
    the recursive CTE above replays the cumsum-with-resets state
    machine step for step, so the full assignment (pack_id embedding
    included) is value-hash-verified, completing the packing family
    next to seq_pack_ffd. The invariant tests (every doc packed once,
    no pack over budget except oversized singletons, dense pack_pos)
    stay in tests/test_pipeline.py.

    Scale shape: applyInPandas buffers one bounded (source, shard)
    group; shards pack independently in parallel; the one shuffle is
    the groupBy hash exchange. The oracle's recursion advances every
    group in lockstep — one row per doc total."""
    d = io.table(spark, sf_dir, "documents")
    return pack_documents(d, budget=256)


# The FFD oracle replays first-fit-decreasing EXACTLY with a
# recursive CTE: standard working-table semantics advance every shard
# in lockstep (iteration t holds one state row per shard: the list of
# pack remainders), the next doc in the shard's length-descending
# order probes its first fitting pack with list_position, and the
# remainder list is rebuilt with that one slot decremented (or
# appended when nothing fits). Bounded because shards are bounded
# (<= 400 docs), whatever the corpus size.
_SEQ_PACK_FFD_ORACLE = """
WITH RECURSIVE ordered AS (
    SELECT doc_id,
           CAST(doc_id // 400 AS BIGINT) AS shard_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(row_number() OVER (
               PARTITION BY doc_id // 400
               ORDER BY len(string_split(text, ' ')) DESC, doc_id ASC
           ) AS BIGINT) AS t
    FROM documents
),
steps(shard_id, t, rem, doc_id, n_tokens, pack_id) AS (
    SELECT shard_id, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM (SELECT DISTINCT shard_id FROM ordered)
    UNION ALL
    SELECT o.shard_id, o.t,
           -- DuckDB list_position returns 0 (not NULL) when no pack
           -- fits: 0 = open a new pack
           CASE WHEN coalesce(list_position(
                    [r >= o.n_tokens for r in s.rem], true), 0) = 0
                THEN list_append(s.rem, 256 - o.n_tokens)
                ELSE [CASE WHEN i = list_position(
                               [r >= o.n_tokens for r in s.rem], true)
                           THEN s.rem[i] - o.n_tokens
                           ELSE s.rem[i] END
                      for i in range(1, len(s.rem) + 1)]
           END,
           o.doc_id, o.n_tokens,
           CAST(CASE WHEN coalesce(list_position(
                        [r >= o.n_tokens for r in s.rem], true), 0)
                        = 0
                     THEN len(s.rem) + 1
                     ELSE list_position(
                        [r >= o.n_tokens for r in s.rem], true)
                END AS BIGINT)
    FROM steps s
    JOIN ordered o ON o.shard_id = s.shard_id AND o.t = s.t + 1
)
SELECT doc_id, shard_id, n_tokens, pack_id
FROM steps WHERE doc_id IS NOT NULL
"""


@register(
    "seq_pack_ffd", oracle=_SEQ_PACK_FFD_ORACLE, tags=("pipeline",)
)
def seq_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing sequence packing into 256-token windows
    within bounded 400-doc shards (operators/packing.py
    pack_documents_ffd) — the oracle-checkable packing rule VERDICT
    r9 #7 asked for. Where `seq_pack`'s arrival-order greedy is
    rows-only (its bin boundary is a cumsum with data-dependent
    resets), FFD over a BOUNDED shard is a finite deterministic
    process a DuckDB recursive CTE replays step for step — so the
    assignment itself is value-hash-checked, not just
    invariant-tested.

    Scale shape: the shard (doc_id // 400) is the boundedness AND
    determinism unit — every applyInPandas group is <= 400 rows at
    ANY corpus size, shards pack independently in parallel, pack ids
    are shard-local (no cross-shard coordination), and the one
    shuffle is the groupBy(shard_id) hash exchange. The oracle's
    recursion depth is the max shard size (400), never the corpus."""
    from conversadocs_spark.operators.packing import (
        pack_documents_ffd,
    )

    d = io.table(spark, sf_dir, "documents")
    return pack_documents_ffd(d, budget=256, shard_docs=400)


# --------------------------------------------------------------------------
# dedup cluster resolution (connected components + survivor pick)
# --------------------------------------------------------------------------

_CLUSTERS_ORACLE = """
WITH RECURSIVE sh AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(string_split(text, ' ')) >= 3
                  THEN [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                        for i in range(1, len(string_split(text, ' ')) - 1)]
                  ELSE [text]
             END) AS shingles
    FROM documents
),
pairs AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
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
SELECT src                  AS doc_id,
       min(dst)             AS cluster_id,
       src = min(dst)       AS is_survivor
FROM reach
GROUP BY src
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE, tags=("pipeline",))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over near-dup PAIRS: A~B and B~C must
    collapse to one kept doc even when A~C was never emitted, so the
    pair output of dedup_minhash feeds connected components
    (operators/components.py, iterative min-label propagation —
    near-dup components are star/clique shaped, diameter ~2, so the
    loop converges in a few hash-partitioned joins at any scale).
    cluster_id = min doc_id in the component; the survivor is the doc
    equal to its cluster_id. The oracle recomputes the same pairs
    brute-force and resolves components with a recursive-CTE
    transitive closure — quadratic oracle, linear engine, identical
    output."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )
    from conversadocs_spark.operators.dedup import minhash_rep_near_dups

    d = io.table(spark, sf_dir, "documents")
    # Cluster over content REPRESENTATIVES, not expanded id pairs: on
    # duplicate-heavy corpora the id pair set is quadratic in the copy
    # count by definition (a k-copy group alone yields k(k-1)/2
    # pairs), but the component structure only needs rep connectivity
    # plus the member mapping — output-linear at any duplication. A
    # group's rep is its min id, so the min rep id in a component IS
    # the min doc id: cluster_id semantics are unchanged.
    caches: list[DataFrame] = []
    rep_pairs, mem = minhash_rep_near_dups(
        d, threshold=0.5, n=3, num_hashes=64, bands=16,
        cache_holder=caches,
    )
    cc = connected_components(rep_pairs.select("rid1", "rid2"),
                              src_col="rid1", dst_col="rid2")
    # Members join their rep's cluster. Groups with >= 2 members whose
    # rep never cross-paired are still clusters (their intra pairs
    # connect them in the expanded-pair formulation the oracle uses).
    gsz = mem.groupBy("rid").agg(F.count("*").alias("m"))
    labeled = (
        mem.join(gsz, "rid")
        .join(
            cc.withColumnRenamed("id", "rid"), "rid", "left"
        )
        .where(F.col("cluster_id").isNotNull() | (F.col("m") >= 2))
        .select(
            "id",
            F.coalesce("cluster_id", F.col("rid")).alias("cluster_id"),
        )
        # the where/coalesce must evaluate BEFORE the caches die:
        # localCheckpoint-free lazy return would re-read them after
        # unpersist, so materialize via localCheckpoint here
        .localCheckpoint(eager=True)
    )
    for cached in caches:
        cached.unpersist()
    return labeled.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_survivor"),
    )


# --------------------------------------------------------------------------
# span-level corpus dedup — the C4-style keep-one-occurrence cleaning step
# --------------------------------------------------------------------------

_SPAN_DEDUP_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
    SELECT doc_id,
           unnest(range(1, CAST(ceil(len(t)/8.0) AS BIGINT) + 1))
               AS pos,
           unnest(list_transform(
               range(1, CAST(ceil(len(t)/8.0) AS BIGINT) + 1),
               i -> array_to_string(
                   list_slice(t, (i-1)*8+1, i*8), ' ')))
               AS span
    FROM toks
),
ranked AS (
    SELECT doc_id, span, pos,
           row_number() OVER (
               PARTITION BY span ORDER BY doc_id, pos
           ) AS rn
    FROM spans
)
SELECT doc_id,
       string_agg(span, ' ' ORDER BY pos) AS clean_text,
       CAST(count(*) AS BIGINT)           AS n_kept
FROM ranked
WHERE rn = 1
GROUP BY doc_id
"""


@register("span_dedup", oracle=_SPAN_DEDUP_ORACLE, tags=("pipeline",))
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide span-level dedup, the C4-style keep-one-occurrence
    cleaning step (Raffel et al. 2020 §2.2, applied at fixed 8-token
    span granularity instead of three-sentence windows — the fixture
    texts have no sentence delimiters): every 8-token span occurring
    more than once ANYWHERE in the corpus survives only at its first
    occurrence (lowest doc_id, then position). Documents reassemble
    from their surviving spans in original order; a document whose
    every span was seen earlier disappears entirely. Non-vacuous on
    the fixtures: ~175 duplicate spans across 3.6k at sf0.01.

    Scale shape: explode to slim (span, doc, pos) rows; the
    first-occurrence pick is a groupBy(span).min(struct(doc_id, pos))
    — NOT a window: ``row_number() over (partition by span)`` drags
    every occurrence of a hot span into ONE task's sort (a boilerplate
    span with 10^9 occurrences at 100 TB breaks it), while the
    min-struct aggregate reduces map-side so the shuffle carries one
    row per span per input partition. Survivors come back via a
    left-semi join on (span, doc_id, pos) against the
    distinct-span-sized firsts table; then one groupBy(doc_id)
    reassembles with an order-pinned array_sort (no collect_list
    ordering dependence). Everything is corpus-linear.
    """
    d = io.table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    n_spans = F.ceil(F.size("t") / F.lit(8.0)).cast("int")
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_spans),
                lambda i: F.array_join(
                    F.slice("t", (i - 1) * 8 + 1, 8), " "
                ),
            )
        ).alias("pos0", "span"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "span")
    firsts = spans.groupBy("span").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = spans.join(
        firsts.select(
            "span",
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.pos").alias("pos"),
        ),
        ["span", "doc_id", "pos"],
        "left_semi",
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("span")))
                ),
                lambda s: s.getField("span"),
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_kept"),
    )


# --------------------------------------------------------------------------
# exact-substring duplication profile — stride-1 window dedup telemetry
# --------------------------------------------------------------------------

_SUBSTR_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
w AS (
    SELECT doc_id, len(t) AS n_tok,
           unnest(range(1, len(t) - 6)) AS pos,
           unnest(list_transform(
               range(1, len(t) - 6),
               i -> array_to_string(list_slice(t, i, i + 7), ' ')))
               AS span
    FROM toks
    WHERE len(t) >= 8
),
dup AS (
    SELECT span FROM w GROUP BY span HAVING count(*) >= 2
),
dw AS (
    SELECT doc_id, n_tok, pos,
           lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM w WHERE span IN (SELECT span FROM dup)
)
SELECT doc_id, n_dup_windows, dup_tokens,
       ROUND(dup_tokens * 1.0 / n_tok, 6) AS dup_ratio,
       ROUND(dup_tokens * 1.0 / n_tok, 6) < 0.5 AS keep
FROM (
    SELECT doc_id, max(n_tok) AS n_tok,
           CAST(count(*) AS BIGINT) AS n_dup_windows,
           CAST(sum(least(8, coalesce(nxt - pos, 8))) AS BIGINT)
               AS dup_tokens
    FROM dw GROUP BY doc_id
)
"""


@register("dedup_substring", oracle=_SUBSTR_ORACLE,
          tags=("pipeline", "dedup"))
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    STRIDE-1 8-token window is checked against the corpus-wide window
    multiset; a window occurring >= 2 times anywhere (including
    self-repetition inside one document) is a duplicated span. Per
    document the query reports the duplicated-window count, the number
    of token positions covered by at least one duplicated window
    (union of the overlapping [p, p+7] intervals), the covered
    fraction, and the ExactSubstr-style curation verdict
    (``keep`` = rounded covered fraction < 0.5). This closes the dedup
    family's last gap: exact / MinHash / SimHash / n-gram / embedding /
    span-block (C4) existed, the suffix-array-equivalent *substring*
    profile did not. The reference corpus loader (bones.py:34-60)
    ingests documents verbatim with no dedup — this is engine-added
    curation surface.

    Scale shape (linear, not suffix-array): the stride-1 explode is
    O(total tokens) slim rows; duplicate detection is a
    groupBy(span).count() HAVING >= 2 — partial counts combine
    map-side, so a boilerplate span with 10^9 occurrences contributes
    one row per input partition to the shuffle, and the survivors come
    back via a left-semi join (AQE skew-splits a hot span's join
    bucket; no sort touches the full occurrence list). Interval-union
    coverage runs under a PER-DOCUMENT window (lead over pos), bounded
    by document length — never corpus-wide. At 100 TB the span strings
    themselves dominate the shuffle; swap the join/group key for
    xxhash64(span) to shrink it 10x (same plan, 64-bit keys) — kept as
    raw text here so the oracle semantics are hash-free.
    """
    from pyspark.sql import Window

    d = io.table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 8
    )
    spans = toks.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 7),
                lambda i: F.array_join(F.slice("t", i, 8), " "),
            )
        ).alias("pos0", "span"),
    ).select("doc_id", "n_tok", (F.col("pos0") + 1).alias("pos"), "span")
    dups = (
        spans.groupBy("span")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("span")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    cov = spans.join(dups, "span", "left_semi").withColumn(
        "nxt", F.lead("pos").over(w_doc)
    )
    ratio = F.round(F.col("dup_tokens") / F.col("_n_tok"), 6)
    return (
        cov.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_dup_windows"),
            F.sum(
                F.least(
                    F.lit(8),
                    F.coalesce(F.col("nxt") - F.col("pos"), F.lit(8)),
                )
            )
            .cast("bigint")
            .alias("dup_tokens"),
            F.max("n_tok").alias("_n_tok"),
        )
        .select(
            "doc_id",
            "n_dup_windows",
            "dup_tokens",
            ratio.alias("dup_ratio"),
            (ratio < 0.5).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# incremental dedup (daily-increment lifecycle, operators/incremental.py)
# --------------------------------------------------------------------------

_INCR_ORACLE = """
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
  AND b.doc_id >= 400
"""


@register("dedup_incremental", oracle=_INCR_ORACLE, tags=("pipeline", "dedup"))
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup lifecycle (operators/incremental.py):
    docs with doc_id < 400 play the existing corpus — their MinHash
    state (hashed shingles + banded signatures) is materialized as an
    on-disk index — and docs with doc_id >= 400 arrive as the new
    batch, deduped against the index WITHOUT touching corpus text.
    Output = near-dup pairs touching the batch (canonical id1 < id2,
    so "touching" means id2 >= 400 given the id split), exact-Jaccard
    re-checked; the oracle is the brute-force pair join restricted the
    same way. Per-increment cost is O(|batch| + matches): the corpus
    side of the candidate join reads 3-long rows from the index, and
    the reference's rebuild-everything-per-upload
    (/root/reference/conversadocs/bones.py:107-119) becomes an
    append-mode index absorb."""
    from conversadocs_spark.operators.incremental import (
        minhash_incremental_pairs,
        minhash_index_build,
    )

    d = io.table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") < 400)
    batch = d.where(F.col("doc_id") >= 400)
    # built fresh per call; a real deployment builds once and absorbs
    # appends
    idx = scratch.call_dir("minhash_idx")
    minhash_index_build(corpus, idx)
    return minhash_incremental_pairs(spark, batch, idx).select(
        "id1", "id2", "jaccard_sim"
    )


# --------------------------------------------------------------------------
# source mixture reweighting (data-mixing step before training)
# --------------------------------------------------------------------------

_MIXTURE_ORACLE = """
WITH per_src AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM per_src)
SELECT p.source, p.n_docs, p.n_tokens,
       round(CAST(p.n_tokens AS DOUBLE) / tot.t, 6)       AS actual_share,
       round(least(CAST(tot.t AS DOUBLE) / (tot.k * p.n_tokens), 4.0), 6)
                                                          AS epochs
FROM per_src p, tot
"""


@register("source_mixture_weights", oracle=_MIXTURE_ORACLE, tags=("pipeline",))
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights per source (The Pile / DoReMi-style
    rebalancing): compute each source's token mass, its share of the
    corpus, and the repetition factor (`epochs`) that equalizes token
    contribution across sources under a uniform target — capped at
    4 epochs (repeating scarce data beyond a few epochs degrades
    models faster than it rebalances them). Downstream, `epochs`
    multiplies the per-source sampling rate in `stratified_sample`'s
    seeded-Bernoulli form.

    Plan: one map-side-combined aggregate to K source rows, then a
    broadcast 1-row total — nothing here scales with the corpus
    except the first aggregate's single pass."""
    d = io.table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("k")
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
            "actual_share"
        ),
        F.round(
            F.least(
                F.col("t").cast("double")
                / (F.col("k") * F.col("n_tokens")),
                F.lit(4.0),
            ),
            6,
        ).alias("epochs"),
    )


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis, seeded)
# --------------------------------------------------------------------------

_WEIGHTED_SAMPLE_ORACLE = """
WITH keyed AS (
    SELECT doc_id, n_chars,
           round(
               ln((CAST(concat('0x',
                        substr(md5('ws42:' || CAST(doc_id AS VARCHAR)),
                               1, 8)) AS UBIGINT) + 0.5)
                  / 4294967296.0)
               / n_chars,
               6) AS es_key
    FROM documents
)
SELECT doc_id, n_chars, es_key
FROM keyed
ORDER BY es_key DESC, doc_id ASC
LIMIT 100
"""


@register(
    "weighted_sample", oracle=_WEIGHTED_SAMPLE_ORACLE, tags=("pipeline",)
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sample of 100 docs WITHOUT replacement
    (weight = n_chars): Efraimidis–Spirakis A-ES — per-row key
    u^(1/w), global top-k, here ranked by the monotone-equivalent
    ln(u)/w (descending) to stay in well-defined cross-engine math.
    u is derived from a seeded md5, not rand(): the sample is a pure
    function of (seed, doc_id) — identical under retries, partition
    changes, and speculative execution, which df.sample(weights=...)
    cannot promise.

    Scale shape: one scan computing a codegen'd key + a global top-k
    (TakeOrderedAndProject, k rows per partition) — no shuffle of the
    data, no per-group state. This is THE distributed weighted-
    sampling algorithm: take the k largest keys and the inclusion
    probabilities match sequential weighted draws exactly.
    """
    d = io.table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(_seeded_md5("ws42:", F.col("doc_id")), 1, 8), 16, 10
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    key = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        d.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# k-fold cross-validation assignment
# --------------------------------------------------------------------------

_KFOLD_ORACLE = """
SELECT doc_id,
       CAST(('0x' || substr(md5('cv42:' || CAST(doc_id AS VARCHAR)),
                            1, 6))::BIGINT % 5 AS INTEGER) AS fold
FROM documents
"""


@register("kfold_split", oracle=_KFOLD_ORACLE, tags=("pipeline",))
def kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    seeded-md5(doc_id) interpreted as a hex int, mod k. Same
    partition-invariance/retry-reproducibility argument as
    `corpus_split_shuffle`; the mod-k form (vs hex-band thresholds)
    gives EXACTLY uniform expected fold mass for any k, which band
    boundaries on 2 hex digits cannot. Fold i's training set is a
    cheap ``fold != i`` filter — no data movement to realize a fold,
    which is the property that matters when the corpus is 100 TB and
    you need 5 train/eval passes over it."""
    d = io.table(spark, sf_dir, "documents")
    h6 = F.substring(_seeded_md5("cv42:", F.col("doc_id")), 1, 6)
    return d.select(
        "doc_id",
        (F.conv(h6, 16, 10).cast("bigint") % 5)
        .cast("int")
        .alias("fold"),
    )


# --------------------------------------------------------------------------
# scalable contiguous row ids (global ordering without a global window)
# --------------------------------------------------------------------------

_ROWID_ORACLE = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id
FROM documents
"""


@register("stable_row_ids", oracle=_ROWID_ORACLE, tags=("pipeline",))
def stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0..n-1 row ids in doc_id order WITHOUT the global
    window (``row_number() OVER (ORDER BY ...)`` lowers to Exchange
    SinglePartition — one reducer sorts the entire corpus, the classic
    100 TB deadend; ``monotonically_increasing_id`` is sparse and
    layout-dependent, ``zipWithIndex`` leaves the DataFrame API).

    The scalable lowering: range-repartition on the order key, number
    rows WITHIN each range partition (a per-partition window), count
    rows per partition (a partition-count-sized aggregate), turn the
    counts into cumulative offsets (a window over the tiny count
    table), and add offset + local rank. Deterministic wherever the
    order key is a total order — range boundary placement only moves
    rows between adjacent partitions, never changes the global
    numbering. The driver-facing use: training-sample indices /
    shard-stable example ids.

    tests/test_pipeline.py pins the plan contract: the data-sized
    window partitions by pid, and the only SinglePartition exchange
    in the executed plan sits above the partition-count HashAggregate
    (16 rows), never above a scan."""
    from pyspark.sql import Window

    d = io.table(spark, sf_dir, "documents").select("doc_id")
    parts = d.repartitionByRange(16, F.col("doc_id")).select(
        "doc_id", F.spark_partition_id().alias("pid")
    )
    w_local = Window.partitionBy("pid").orderBy("doc_id")
    local = parts.select(
        "doc_id", "pid",
        (F.row_number().over(w_local) - 1).alias("local_rank"),
    )
    w_off = (
        Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        parts.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .select(
            "pid",
            (F.sum("cnt").over(w_off) - F.col("cnt")).alias("offset"),
        )
    )
    return local.join(F.broadcast(offsets), on="pid").select(
        "doc_id",
        (F.col("offset") + F.col("local_rank"))
        .cast("bigint")
        .alias("row_id"),
    )


# --------------------------------------------------------------------------
# mixture realization: epoch-expand the corpus per source weights
# --------------------------------------------------------------------------

_MIXTURE_REALIZE_ORACLE = """
WITH per_src AS (
    SELECT source, sum(len(string_split(text, ' '))) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS t, count(*) AS k FROM per_src),
ep AS (
    SELECT p.source,
           round(least(CAST(tot.t AS DOUBLE) / (tot.k * p.n_tokens),
                       4.0), 6) AS epochs
    FROM per_src p, tot
),
expanded AS (
    SELECT d.doc_id, d.source,
           CAST(floor(ep.epochs) +
                CASE WHEN (CAST(concat('0x',
                          substr(md5('mx42:' || CAST(d.doc_id AS VARCHAR)),
                                 1, 8)) AS UBIGINT) / 4294967296.0)
                         < ep.epochs - floor(ep.epochs)
                     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
    FROM documents d JOIN ep USING (source)
)
SELECT doc_id, source, n_copies, CAST(g.c AS INTEGER) AS copy,
       md5('mx42:' || CAST(doc_id AS VARCHAR) || ':'
           || CAST(g.c AS VARCHAR))                  AS shuffle_key
FROM expanded, LATERAL (SELECT unnest(range(n_copies)) AS c) g
"""


@register(
    "mixture_realize", oracle=_MIXTURE_REALIZE_ORACLE, tags=("pipeline",)
)
def mixture_realize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize `source_mixture_weights` into the actual training
    stream: each doc is repeated floor(epochs) times plus one seeded
    Bernoulli copy with probability frac(epochs) — so a source with
    epochs=2.3 contributes each doc 2 times and a deterministic 30%
    of docs a 3rd time, realizing the target token shares EXACTLY in
    expectation with zero coordination. Every copy gets its own
    shuffle key (per-copy md5) so repeated docs spread across the
    training order instead of clumping — repeats that arrive adjacent
    are the classic mixing failure.

    Plan: K-row epochs table broadcast onto the corpus, explode by
    sequence(n_copies) — output-sized, no shuffle until the write
    orders by shuffle_key (`repartitionByRange`, as in
    corpus_split_shuffle). Deterministic end to end: retries and
    partition layout cannot change which copies exist."""
    d = io.table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("k")
    )
    ep = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.round(
            F.least(
                F.col("t").cast("double")
                / (F.col("k") * F.col("n_tokens")),
                F.lit(4.0),
            ),
            6,
        ).alias("epochs"),
    )
    u = F.conv(
        F.substring(_seeded_md5("mx42:", F.col("doc_id")), 1, 8), 16, 10
    ).cast("double") / F.lit(4294967296.0)
    n_copies = (
        F.floor("epochs")
        + F.when(u < F.col("epochs") - F.floor("epochs"), 1).otherwise(0)
    ).cast("bigint")
    expanded = (
        d.select("doc_id", "source")
        .join(F.broadcast(ep), on="source")
        .select("doc_id", "source", n_copies.alias("n_copies"))
    )
    return expanded.select(
        "doc_id",
        "source",
        "n_copies",
        # sequence(0, -1) is DESCENDING in Spark (the pinned edge from
        # gopher_repetition/_pairs): 0-copy docs must explode to NOTHING
        F.explode(
            F.when(
                F.col("n_copies") > 0,
                F.sequence(F.lit(0), F.col("n_copies") - 1),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("copy"),
    ).select(
        "doc_id",
        "source",
        "n_copies",
        F.col("copy").cast("int").alias("copy"),
        F.md5(
            F.concat(
                F.lit("mx42:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("copy").cast("string"),
            )
        ).alias("shuffle_key"),
    )


# --------------------------------------------------------------------------
# composed end-to-end pretraining-corpus build (the flagship pipeline)
# --------------------------------------------------------------------------

_PRETRAIN_ORACLE = f"""
WITH doubled AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents
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
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM survivors
),
g AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(t) >= {_CONTAM_N}
                  THEN [array_to_string(t[i:i+{_CONTAM_N - 1}], ' ')
                        for i in range(1, len(t) - {_CONTAM_N - 2})]
                  ELSE [array_to_string(t, ' ')]
             END) AS grams
    FROM toks
),
ev AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 20
),
tr AS (
    SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
    FROM g WHERE doc_id >= 20
),
keep AS (
    SELECT t.doc_id
    FROM tr t LEFT JOIN ev e USING (gram)
    GROUP BY t.doc_id, t.n_grams
    HAVING CAST(count(e.gram) AS DOUBLE) / t.n_grams <= 0.5
)
SELECT s.doc_id,
       CASE WHEN substr(md5('s42:' || CAST(s.doc_id AS VARCHAR)), 1, 2)
                 < 'cd'
            THEN 'train' ELSE 'test' END              AS split,
       CAST(('0x' || substr(md5('cv42:' || CAST(s.doc_id AS VARCHAR)),
                            1, 6))::BIGINT % 5 AS INTEGER) AS fold,
       CAST(len(string_split(s.text, ' ')) AS BIGINT) AS n_tokens,
       md5('s42:' || CAST(s.doc_id AS VARCHAR))       AS shuffle_key
FROM survivors s JOIN keep k USING (doc_id)
"""


@register("pretrain_corpus", oracle=_PRETRAIN_ORACLE, tags=("pipeline",))
def pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end pretraining-data build, ONE declarative
    plan: exact dedup (doubled corpus, min-id survivor) -> eval
    decontamination (drop training docs sharing > 50% of their
    distinct 5-grams with the doc_id < 20 eval set) -> split / fold /
    shuffle-key / token-count assignment. Every stage is individually
    oracle-checked elsewhere (`dedup_exact`, `contamination_ngram`,
    `corpus_split_shuffle`, `kfold_split`); this query proves they
    COMPOSE — Catalyst sees the whole pipeline and orders
    filters/joins itself, which is the argument for building pipelines
    as one plan instead of materialized hops.

    Scale shape: one hash-partitioned window for dedup, one broadcast
    of eval grams, one gram explode + partial agg on the training
    side, then pure per-row expressions — the same shapes the stage
    queries pinned, fused."""
    from pyspark.sql import Window

    d = io.table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    w = Window.partitionBy(
        F.sha2(normalize_text(F.col("text")), 256)
    ).orderBy("doc_id")
    surv = (
        doubled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    g = shingle_docs(surv, "text", "doc_id", _CONTAM_N)
    ev = (
        g.where(F.col("id") < 20)
        .select(F.explode_outer("shingles").alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = g.where(F.col("id") >= 20).select(
        F.col("id").alias("doc_id"),
        F.size("shingles").cast("long").alias("n_grams"),
        F.explode_outer("shingles").alias("gram"),
    )
    keep = (
        tr.join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("_hit").alias("n_shared"))
        .where(
            F.col("n_shared").cast("double") / F.col("n_grams") <= 0.5
        )
        .select("doc_id")
    )
    h = _seeded_md5("s42:", F.col("doc_id"))
    return surv.join(keep, on="doc_id").select(
        "doc_id",
        F.when(F.substring(h, 1, 2) < "cd", "train")
        .otherwise("test")
        .alias("split"),
        (
            F.conv(
                F.substring(_seeded_md5("cv42:", F.col("doc_id")), 1, 6),
                16,
                10,
            ).cast("bigint")
            % 5
        )
        .cast("int")
        .alias("fold"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        h.alias("shuffle_key"),
    )


# --------------------------------------------------------------------------
# in-flight pipeline metrics: df.observe (CollectMetrics)
# --------------------------------------------------------------------------


@register("observed_clean", tags=("pipeline", "rows-only"))
def observed_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``df.observe`` (CollectMetrics): the
    quality-filter pass reports its input-side metrics — row count,
    short-doc count, approx language cardinality — AS A BY-PRODUCT of
    the main job, no second scan. At 100 TB this is the difference
    between monitored and blind pipelines: a separate metrics query
    doubles the IO bill, and sampled metrics miss exactly the rare
    rows you alert on. (``observe`` forbids shuffle-dependent
    aggregates — count_distinct raises; the sketch form
    approx_count_distinct is the scale-correct choice anyway.)

    Output: one row with the observed input metrics and the surviving
    row count; tests/test_pipeline.py re-derives every metric
    independently."""
    from pyspark.sql import Observation

    obs = Observation("clean_metrics")
    d = io.table(spark, sf_dir, "documents")
    observed = d.observe(
        obs,
        F.count("*").alias("rows_in"),
        F.sum((F.length("text") < 50).cast("long")).alias("too_short"),
        F.approx_count_distinct("lang").alias("langs_approx"),
    )
    survivors = observed.where(
        (F.length("text") >= 50) & (F.col("lang") == "en")
    )
    n_out = survivors.count()  # the action that flushes the metrics
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["rows_in"]),
                int(m["too_short"]),
                int(m["langs_approx"]),
                int(n_out),
            )
        ],
        schema=(
            "rows_in bigint, too_short bigint, langs_approx bigint, "
            "rows_out bigint"
        ),
    )


# --------------------------------------------------------------------------
# training-order realization: the shuffle_key write path, proven
# --------------------------------------------------------------------------


@register("training_order_write", tags=("pipeline", "rows-only"))
def training_order_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZE the training order `corpus_split_shuffle` only claims:
    the train split is written ``repartitionByRange(8, shuffle_key)``
    + ``sortWithinPartitions(shuffle_key)`` — globally shuffled
    example order materialized as 8 range-disjoint, internally-sorted
    files, with NO single-reducer global sort (the scale path a rank
    column forbids). Output: one row per file with its key range and
    row count; tests/test_pipeline.py proves the three ordering
    invariants (per-file sortedness, cross-file range disjointness,
    exhaustiveness) from the files themselves."""
    out = scratch.call_dir("train_order")
    split = corpus_split_shuffle(spark, sf_dir)
    train = split.where(F.col("split") == "train").select(
        "doc_id", "shuffle_key"
    )
    (
        train.repartitionByRange(8, "shuffle_key")
        .sortWithinPartitions("shuffle_key")
        .write.mode("overwrite")
        .parquet(out)
    )
    files = spark.read.parquet(out).select(
        F.input_file_name().alias("file"), "shuffle_key"
    )
    return (
        files.groupBy("file")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("shuffle_key").alias("key_lo"),
            F.max("shuffle_key").alias("key_hi"),
        )
        .select("n_rows", "key_lo", "key_hi")
    )


# --------------------------------------------------------------------------
# token-budget corpus selection (quality-ordered greedy fill)
# --------------------------------------------------------------------------

_BUDGET_SELECT_ORACLE = """
WITH scored AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(least(len(string_split(text,' '))/50.0, 1.0)*0.4
                 + len(list_distinct(string_split(text,' ')))*1.0
                   / len(string_split(text,' '))*0.4
                 + (1 - least(len(regexp_extract_all(
                        text,'[^A-Za-z0-9\\s]'))*1.0/length(text),
                        1.0))*0.2,
                 6) AS quality_score
    FROM documents
),
tot AS (
    SELECT CAST(floor(0.25 * SUM(n_tokens)) AS BIGINT) AS budget
    FROM scored
),
cum AS (
    SELECT doc_id, n_tokens, quality_score,
           SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id ASC
                               ROWS UNBOUNDED PRECEDING) AS c
    FROM scored
)
SELECT doc_id, quality_score, n_tokens
FROM cum CROSS JOIN tot WHERE c <= budget
"""


@register(
    "token_budget_select", oracle=_BUDGET_SELECT_ORACLE,
    tags=("pipeline",),
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget curation: order documents by quality
    (desc, doc_id tie-break) and keep them while the running token
    count stays within 25% of the corpus total — "take the best N
    tokens", the selection step behind quality-pruned pretraining
    mixes (e.g. the DSIR / phi-style "textbook" subsets).

    The ORACLE expresses the semantics directly as a global-order
    running sum. The Spark plan must NOT: a corpus-wide
    empty-partitionBy window is the classic single-reducer sort
    (stable_row_ids' docstring shows the same refusal). Instead the
    scale-correct two-level decomposition, exactly equivalent because
    the global order (quality desc, doc_id) groups by quality first:

    1. aggregate token sums per DISTINCT quality value (round-6 ->
       at most ~10^6 buckets at any corpus size; map-side combine
       collapses the corpus before the one small shuffle);
    2. running-sum the bucket table (the only SinglePartition window
       sits above a value-domain-bounded relation, like
       stable_row_ids' 16-row count table);
    3. broadcast the threshold row back: buckets whose cumulative
       total fits take ALL their docs (broadcast hash join, corpus
       never shuffles); the single straddling bucket resolves its
       docs with a PARTITION-LOCAL (quality-keyed) window over the
       budget remainder.

    Output is (doc_id, quality_score, n_tokens) for the kept docs —
    identical row set to the oracle's global cumulative sum.
    """
    from pyspark.sql import Window

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
    # one corpus scan: the 3-column scored projection is materialized
    # ONCE via localCheckpoint (tiny relative to text) and feeds the
    # bucket aggregate and both kept branches; the budget derives
    # from the BUCKET table (sum of bucket sums == corpus sum), so no
    # second pass over text. localCheckpoint (not persist): the
    # returned DataFrame keeps reading these blocks, so an in-function
    # unpersist is impossible — checkpoint blocks are instead freed by
    # the ContextCleaner when the result goes out of scope, so a long
    # gate/driver sweep can't accumulate pinned cache (ADVICE r8).
    # Trade-off: lineage is truncated, so a lost block re-runs the
    # checkpoint job rather than the minimal subtree — fine for a
    # deterministic scan projection.
    scored = d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        F.round(quality, 6).alias("quality_score"),
    ).localCheckpoint(eager=True)

    buckets = scored.groupBy("quality_score").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    budget = buckets.agg(
        F.floor(F.lit(0.25) * F.sum("bucket_tokens"))
        .cast("long")
        .alias("budget")
    )
    w_bucket = Window.orderBy(F.desc("quality_score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bcum = (
        buckets.select(
            "quality_score",
            "bucket_tokens",
            F.sum("bucket_tokens").over(w_bucket).alias("cum"),
        )
        .crossJoin(F.broadcast(budget))
    )

    full_in = bcum.where(F.col("cum") <= F.col("budget")).select(
        "quality_score"
    )
    kept_full = scored.join(F.broadcast(full_in), "quality_score")

    boundary = bcum.where(
        (F.col("cum") > F.col("budget"))
        & (F.col("cum") - F.col("bucket_tokens") < F.col("budget"))
    ).select(
        "quality_score",
        (F.col("budget") - (F.col("cum") - F.col("bucket_tokens")))
        .alias("remaining"),
    )
    w_doc = (
        Window.partitionBy("quality_score")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept_boundary = (
        scored.join(F.broadcast(boundary), "quality_score")
        .withColumn("c_in", F.sum("n_tokens").over(w_doc))
        .where(F.col("c_in") <= F.col("remaining"))
    )

    return kept_full.select(
        "doc_id", "quality_score", "n_tokens"
    ).unionByName(
        kept_boundary.select("doc_id", "quality_score", "n_tokens")
    )


# --------------------------------------------------------------------------
# DSIR importance resampling (hashed n-gram domain selection)
# --------------------------------------------------------------------------

_DSIR_B = 64

_DSIR_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source,
           unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
toks2 AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS b
    FROM toks WHERE term <> ''
),
p AS (
    SELECT b, count(*) AS p_cnt FROM toks2
    WHERE source = 'src0' GROUP BY b
),
qt AS (
    SELECT b, count(*) AS q_cnt FROM toks2
    WHERE source <> 'src0' GROUP BY b
),
tot AS (
    SELECT (SELECT count(*) FROM toks2 WHERE source = 'src0')
               AS t_total,
           (SELECT count(*) FROM toks2 WHERE source <> 'src0')
               AS q_total
),
w AS (
    SELECT qt.b,
           CAST(round(
               (ln((COALESCE(p.p_cnt, 0) + 1.0)
                   / (tot.t_total + {_DSIR_B}.0))
                - ln((qt.q_cnt + 1.0) / (tot.q_total + {_DSIR_B}.0)))
               * 1000000, 0) AS BIGINT) AS lwf
    FROM qt LEFT JOIN p USING (b), tot
),
scored AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(w.lwf) AS DOUBLE) / 1000000.0, 6)
               AS log_weight
    FROM toks2 t JOIN w USING (b)
    WHERE t.source <> 'src0'
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, log_weight
FROM scored
ORDER BY log_weight DESC, doc_id ASC
LIMIT 50
"""


@register("dsir_select", oracle=_DSIR_ORACLE, tags=("pipeline",))
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): pick the raw-pool documents whose hashed
    n-gram distribution looks most like a target domain. Features are
    unigrams hashed into B=64 buckets (the md5-prefix arithmetic both
    engines evaluate identically — the cms_term_freq idiom); the
    target LM p is add-one-smoothed bucket frequencies over the
    'src0' documents, the raw LM q the same over everything else; a
    pool document's importance is sum_tokens(log p[b] - log q[b]).
    The paper resamples with Gumbel noise; this query pins the
    deterministic top-k variant (highest importance first, doc_id
    tie-break) so the whole selection is oracle-checkable.

    Fixed-point BIGINT log-ratios (round(ln*1e6) BEFORE summation, the
    lm_bigram_score trick) make the per-document sum exact and
    partition-order independent — cross-engine float drift cannot
    flip the top-50 cut.

    Scale shape: the bucket tables are B rows however big the corpus
    (two map-side-combined aggregates over one token explode); the
    totals are 1-row aggregates; the weight table broadcast back is
    B rows. Scoring is ONE groupBy(doc_id) over the token stream with
    the B-row weight table broadcast-joined in — no shuffle keyed on
    anything wider than doc_id — and the final cut is a
    TakeOrderedAndProject, never a global sort. At 100 TB the paper's
    B=10k bucket table is still bytes; the only corpus-sized work is
    the token explode, shared via one persisted relation (the
    lm_bigram_score cache-the-shared-pass move, same documented
    LRU-eviction caveat)."""
    scored = _dsir_scored_pool(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("w_fixed").cast("double") / F.lit(1000000.0), 6
        ).alias("log_weight"),
    )
    return scored.orderBy(
        F.desc("log_weight"), F.asc("doc_id")
    ).limit(50)


def _dsir_scored_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR scoring: (doc_id, n_tokens, w_fixed) for every
    pool document, where w_fixed is the EXACT BIGINT fixed-point
    importance sum — both the deterministic top-k (dsir_select) and
    the Gumbel resample (dsir_resample) derive from it."""
    d = io.table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .select(
            "doc_id",
            "source",
            (
                F.conv(
                    F.substring(F.md5(F.col("term").cast("binary")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % _DSIR_B
            ).alias("b"),
        )
        # localCheckpoint (not persist): the returned selection keeps
        # reading these blocks, so an in-function unpersist is
        # impossible — checkpoint blocks are freed by the
        # ContextCleaner when the result goes out of scope instead of
        # pinning cache across a long driver sweep (the token_budget
        # ADVICE-r8 rule, applied here per ADVICE r9).
        .localCheckpoint(eager=True)
    )
    tgt = toks.where(F.col("source") == "src0")
    pool = toks.where(F.col("source") != "src0")
    p_tab = tgt.groupBy("b").agg(F.count("*").alias("p_cnt"))
    q_tab = pool.groupBy("b").agg(F.count("*").alias("q_cnt"))
    totals = tgt.agg(F.count("*").alias("t_total")).crossJoin(
        F.broadcast(pool.agg(F.count("*").alias("q_total")))
    )
    weights = (
        q_tab.join(p_tab, "b", "left")
        .na.fill({"p_cnt": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.col("p_cnt") + F.lit(1.0))
                        / (F.col("t_total") + F.lit(float(_DSIR_B)))
                    )
                    - F.log(
                        (F.col("q_cnt") + F.lit(1.0))
                        / (F.col("q_total") + F.lit(float(_DSIR_B)))
                    )
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("bigint")
            .alias("lwf"),
        )
    )
    return (
        pool.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("lwf").cast("bigint").alias("w_fixed"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter contamination screen (bounded-state membership)
# --------------------------------------------------------------------------

_BLOOM_M = 65536
_BLOOM_K = 3

_CONTAM_BLOOM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(t) >= {_CONTAM_N}
                  THEN [array_to_string(t[i:i+{_CONTAM_N - 1}], ' ')
                        for i in range(1, len(t) - {_CONTAM_N - 2})]
                  ELSE [array_to_string(t, ' ')]
             END) AS grams
    FROM toks
),
ev AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 20
),
ks AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS r),
bloom AS (
    SELECT DISTINCT ks.r,
           CAST(('0x' || substr(
               md5(CAST(ks.r AS VARCHAR) || ':' || e.gram), 1, 8))
               AS BIGINT) % {_BLOOM_M} AS pos
    FROM ev e CROSS JOIN ks
),
tr AS (
    SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
    FROM g WHERE doc_id >= 20
),
probe AS (
    SELECT t.doc_id, t.n_grams, t.gram, ks.r,
           CAST(('0x' || substr(
               md5(CAST(ks.r AS VARCHAR) || ':' || t.gram), 1, 8))
               AS BIGINT) % {_BLOOM_M} AS pos
    FROM tr t CROSS JOIN ks
),
hits AS (
    SELECT p.doc_id, p.n_grams, p.gram, count(b.r) AS k_hits
    FROM probe p
    LEFT JOIN bloom b ON b.r = p.r AND b.pos = p.pos
    GROUP BY p.doc_id, p.n_grams, p.gram
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(count(CASE WHEN k_hits = {_BLOOM_K} THEN 1 END) AS BIGINT)
           AS n_flagged,
       round(CAST(count(CASE WHEN k_hits = {_BLOOM_K} THEN 1 END)
                  AS DOUBLE) / n_grams, 6) AS flagged_frac
FROM hits
GROUP BY doc_id, n_grams
"""


@register(
    "contamination_bloom",
    oracle=_CONTAM_BLOOM_ORACLE,
    tags=("pipeline", "sketch"),
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen — contamination_ngram's
    bounded-state sibling. The exact screen broadcasts the eval set's
    DISTINCT 5-grams, which is O(eval corpus bytes); this one
    broadcasts an m=65536-slot, k=3-hash Bloom filter — O(m)
    CONSTANT state however large the eval suite grows — and
    flags a training gram when all k probed bits are set. Bloom
    guarantee (pinned by test against the exact screen): NO false
    negatives (n_flagged >= n_shared per doc), false positives
    bounded by (1 - e^(-kn/m))^k.

    The filter itself is oracle-checkable — the same md5-prefix
    arithmetic trick as cms_term_freq: bit positions are
    md5('<r>:<gram>') hex-prefix integers mod m, evaluated
    byte-identically by both engines, and the "bitset" is the
    DISTINCT (r, pos) table (<= k*m rows — 24 KB packed — the thing
    you'd ship as a literal bit array in a production deployment).

    Scale shape: eval side collapses to <= k*m broadcast rows no
    matter how many benchmark suites feed it; the training side
    explodes each gram to k probe rows that hash-join the broadcast
    bloom and immediately re-aggregate — two map-side-combinable
    groupBys keyed on (doc, gram) then doc, nothing shuffled wider
    than the training doc ids. The k-times row explosion is the
    classic Bloom probe trade: k x rows through a tiny broadcast
    join beats 1 x rows through a giant one.
    """
    d = io.table(spark, sf_dir, "documents")
    g = shingle_docs(d, "text", "doc_id", _CONTAM_N)
    ks = F.array(*[F.lit(r) for r in range(_BLOOM_K)])

    def pos(gram_col: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("r").cast("string"),
                            F.lit(":"),
                            gram_col,
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    ev = (
        g.where(F.col("id") < 20)
        .select(F.explode_outer("shingles").alias("gram"))
        .distinct()
        .select("gram", F.explode(ks).alias("r"))
        .select("r", pos(F.col("gram")).alias("pos"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    probe = (
        g.where(F.col("id") >= 20)
        .select(
            F.col("id").alias("doc_id"),
            F.size("shingles").cast("long").alias("n_grams"),
            F.explode_outer("shingles").alias("gram"),
        )
        .select(
            "doc_id", "n_grams", "gram", F.explode(ks).alias("r")
        )
        .withColumn("pos", pos(F.col("gram")))
    )
    hits = (
        probe.join(F.broadcast(ev), ["r", "pos"], "left")
        .groupBy("doc_id", "n_grams", "gram")
        .agg(F.count("_hit").alias("k_hits"))
    )
    flagged = F.sum(
        F.when(F.col("k_hits") == _BLOOM_K, 1).otherwise(0)
    ).cast("long")
    return hits.groupBy("doc_id", "n_grams").agg(
        flagged.alias("n_flagged"),
        F.round(
            flagged.cast("double") / F.col("n_grams"), 6
        ).alias("flagged_frac"),
    )


_DSIR_RESAMPLE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source,
           unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
toks2 AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
               % {_DSIR_B} AS b
    FROM toks WHERE term <> ''
),
p AS (
    SELECT b, count(*) AS p_cnt FROM toks2
    WHERE source = 'src0' GROUP BY b
),
qt AS (
    SELECT b, count(*) AS q_cnt FROM toks2
    WHERE source <> 'src0' GROUP BY b
),
tot AS (
    SELECT (SELECT count(*) FROM toks2 WHERE source = 'src0')
               AS t_total,
           (SELECT count(*) FROM toks2 WHERE source <> 'src0')
               AS q_total
),
w AS (
    SELECT qt.b,
           CAST(round(
               (ln((COALESCE(p.p_cnt, 0) + 1.0)
                   / (tot.t_total + {_DSIR_B}.0))
                - ln((qt.q_cnt + 1.0) / (tot.q_total + {_DSIR_B}.0)))
               * 1000000, 0) AS BIGINT) AS lwf
    FROM qt LEFT JOIN p USING (b), tot
),
scored AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(w.lwf) AS BIGINT) AS w_fixed
    FROM toks2 t JOIN w USING (b)
    WHERE t.source <> 'src0'
    GROUP BY t.doc_id
),
keyed AS (
    SELECT doc_id, n_tokens,
           round(CAST(w_fixed AS DOUBLE) / 1000000.0
                 + (-ln(-ln(
                     (CAST(('0x' || substr(
                          md5('g:' || CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) + 0.5) / 4294967296.0))),
                 6) AS gumbel_key
    FROM scored
)
SELECT doc_id, n_tokens, gumbel_key
FROM keyed
ORDER BY gumbel_key DESC, doc_id ASC
LIMIT 50
"""


@register(
    "dsir_resample", oracle=_DSIR_RESAMPLE_ORACLE, tags=("pipeline",)
)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual selection rule — importance RESAMPLING, not
    top-k: the paper samples without replacement proportionally to
    exp(importance), which the Gumbel-top-k identity (Vieira 2014)
    turns into a deterministic sort: add an independent Gumbel(0,1)
    perturbation to each log-weight and take the k largest. The
    "randomness" here is a SEEDED md5-uniform per doc_id
    (u = (hexprefix + 0.5) / 2^32, strictly inside (0,1)), so the
    draw is reproducible, retry-safe, and replayable in DuckDB —
    the same determinism rule as every sampled query in this module
    (no rand(), ever).

    dsir_select answers "the k most target-like docs"; this answers
    "k docs DISTRIBUTED like the importance weights" — the form that
    preserves corpus diversity instead of concentrating on one mode.
    Shares _dsir_scored_pool (exact BIGINT fixed-point importance
    sums), so the only float entering the sort key is one Gumbel
    transform of an exact rational — rounded to 6 with a doc_id
    tie-break before the TakeOrderedAndProject cut (no global
    sort)."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("g:"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = _dsir_scored_pool(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("w_fixed").cast("double") / F.lit(1000000.0)
            + (-F.log(-F.log(u))),
            6,
        ).alias("gumbel_key"),
    )
    return keyed.orderBy(
        F.desc("gumbel_key"), F.asc("doc_id")
    ).limit(50)


_MIXTURE_TEMP_ORACLE = """
WITH per_src AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY source
),
fx AS (
    SELECT source, n_tokens,
           CAST(round(pow(n_tokens, 0.3) * 1000000, 0) AS BIGINT)
               AS t_fixed
    FROM per_src
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS t,
           CAST(sum(t_fixed) AS BIGINT) AS st
    FROM fx
)
SELECT f.source, f.n_tokens,
       round(CAST(f.n_tokens AS DOUBLE) / tot.t, 6) AS actual_share,
       round(CAST(f.t_fixed AS DOUBLE) / tot.st, 6) AS temp_share,
       round((CAST(f.t_fixed AS DOUBLE) / tot.st)
             / (CAST(f.n_tokens AS DOUBLE) / tot.t), 6) AS boost
FROM fx f, tot
"""


@register(
    "mixture_temperature", oracle=_MIXTURE_TEMP_ORACLE, tags=("pipeline",)
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the XLM-R / UniMax recipe):
    sampling share w_s proportional to (token mass)^tau with tau=0.3 —
    between natural sampling (tau=1, head domains dominate) and
    uniform (tau=0, tail domains overfit via repetition). `boost` is
    the up/down-sampling multiplier vs the natural share — the number
    that multiplies each source's rate in stratified_sample, exactly
    as source_mixture_weights' `epochs` does for the uniform target.

    Fixed-point discipline: pow(n, 0.3) is rounded to BIGINT
    micro-units BEFORE the normalizing sum, so the denominator is an
    exact integer in both engines and every share is one double
    division of identical ints (a 1-ulp cross-engine pow()
    disagreement moves one t_fixed by at most 1 micro-unit —
    invisible after round 6).

    Plan: one map-side-combined aggregate to K source rows, a
    broadcast 1-row total, done — constant cost past the single
    corpus pass, like every mixture query here."""
    d = io.table(spark, sf_dir, "documents")
    fx = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("n_tokens"),
    ).select(
        "source",
        "n_tokens",
        F.round(F.pow("n_tokens", F.lit(0.3)) * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("t_fixed"),
    )
    tot = fx.agg(
        F.sum("n_tokens").cast("bigint").alias("t"),
        F.sum("t_fixed").cast("bigint").alias("st"),
    )
    actual = F.col("n_tokens").cast("double") / F.col("t")
    temp = F.col("t_fixed").cast("double") / F.col("st")
    return fx.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round(temp, 6).alias("temp_share"),
        F.round(temp / actual, 6).alias("boost"),
    )
