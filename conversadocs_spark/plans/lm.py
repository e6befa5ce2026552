"""Corpus language-model quality scoring (CCNet-style LM filter).

Real pretraining pipelines (CCNet, Wenzek et al. 2020; RefinedWeb)
bucket documents by the perplexity of a small LM trained on a trusted
corpus and drop the worst bucket. The reference app has no analog (it
stops at retrieval), but the brief names quality scoring first-class;
`text_quality` (plans/text.py) covers the heuristic signals and this
module covers the statistical one: a bigram language model with
add-one smoothing, trained on the corpus itself in the same plan that
scores it, entirely in Catalyst expressions.

Determinism rule for the oracle hash: cross-row SUMs of doubles are
order-dependent (Spark and DuckDB reduce in different orders), so the
per-bigram log-probability is quantized to fixed-point BIGINT
(round(ln(p) * 1e6)) BEFORE summation — integer sums are exact and
associative on both engines, so the per-document average is
bit-stable no matter the partitioning. The only remaining float step
is the final division, rounded to 6 decimals per the repo convention
(FIXTURES.md).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversadocs_spark import io, scratch
from conversadocs_spark.plans.registry import register

_LM_BIGRAM_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])) AS gram
    FROM toks
),
model AS (
    SELECT string_split(gram, ' ')[1] AS w1, gram, count(*) AS c
    FROM grams GROUP BY 1, 2
),
ctx AS (
    SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM model GROUP BY w1
),
v AS (
    SELECT count(DISTINCT tok) AS v
    FROM (SELECT unnest(t) AS tok FROM toks)
),
lp AS (
    SELECT m.gram,
           CAST(round(ln((m.c + 1.0) / (x.c1 + v.v)) * 1000000, 0)
                AS BIGINT) AS lpf
    FROM model m JOIN ctx x USING (w1), v
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(lp.lpf) AS DOUBLE)
             / (count(*) * 1000000.0), 6) AS avg_logprob
FROM grams g JOIN lp ON g.gram = lp.gram
GROUP BY g.doc_id
"""


@register("lm_bigram_score", oracle=_LM_BIGRAM_ORACLE, tags=("pipeline",))
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under an add-one-
    smoothed bigram LM trained on the corpus: p(w2|w1) =
    (c(w1,w2)+1) / (c(w1,·)+V). Low scores flag keyword-stuffed /
    unnatural text — the CCNet perplexity-bucket signal without the
    external KenLM dependency. Documents with fewer than two tokens
    have no bigrams and drop out (both engines agree).

    Scale shape: the model is two stacked hash aggregates over one
    gram explode (map-side combine collapses repeats before the
    shuffle); model size is observed-bigram-bounded, vastly smaller
    than the corpus gram stream it scores. Scoring is one shuffle
    join on the gram key — hot grams (stopword pairs) are exactly the
    AQE skew-join case, and the model side can be broadcast outright
    when the trusted training corpus is fixed and small (the CCNet
    deployment shape: train once on Wikipedia, broadcast, score
    100 TB). Fixed-point BIGINT log-probs make the aggregation
    order-insensitive, so the result is identical under any
    partitioning — the property that makes the filter retry-safe on
    preemptible executors.
    """
    d = io.table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    # The gram relation feeds BOTH the model build (two stacked aggs)
    # and the scoring join; without materialization Catalyst
    # re-derives the explode from the parquet scan for every branch
    # (measured 17 documents scans for the composed filter stack).
    # Persist it once — the same cache-the-shared-pass move as
    # dedup_minhash's hashed-shingle table (operators/dedup.py), with
    # the same documented no-natural-unpersist-point caveat (LRU
    # eviction bounds it; at real scale this is the relation you'd
    # checkpoint to parquet between pipeline stages anyway).
    grams = doc_bigrams(toks).persist()
    return lm_scores(toks, grams)


def doc_bigrams(toks: DataFrame) -> DataFrame:
    """(doc_id, gram) exploded 2-gram relation from (doc_id, t)."""
    from conversadocs_spark.functions.text import bigram_array

    return toks.select(
        "doc_id", F.explode(bigram_array(F.col("t"))).alias("gram")
    )


def lm_scores(toks: DataFrame, grams: DataFrame) -> DataFrame:
    """Model-train-and-score over a (persisted) gram relation —
    exposed separately so quality_filter_stack shares ONE gram explode
    between the LM and repetition branches."""
    model = grams.groupBy(
        F.split("gram", " ").getItem(0).alias("w1"), "gram"
    ).agg(F.count("*").alias("c"))
    ctx = model.groupBy("w1").agg(F.sum("c").cast("bigint").alias("c1"))
    vocab = (
        toks.select(F.explode("t").alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    lp = (
        model.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.round(
                F.log((F.col("c") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
                * F.lit(1000000.0),
                0,
            )
            .cast("bigint")
            .alias("lpf"),
        )
    )
    return (
        grams.join(lp, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum("lpf").cast("double")
                / (F.count("*") * F.lit(1000000.0)),
                6,
            ).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# composed quality-filter stack (FineWeb-style keep/drop decision)
# --------------------------------------------------------------------------

def _quality_stack_oracle() -> str:
    from conversadocs_spark.plans.text import (
        _GOPHER_ORACLE,
        _QUALITY_ORACLE,
    )

    return f"""
WITH q AS ({_QUALITY_ORACLE}),
g AS ({_GOPHER_ORACLE}),
l AS ({_LM_BIGRAM_ORACLE}),
cut AS (
    SELECT round(quantile_cont(avg_logprob, 0.1), 6) AS lm_cut FROM l
)
SELECT q.doc_id,
       q.quality_score,
       g.dup_gram_frac,
       l.avg_logprob,
       (q.quality_score >= 0.7
        AND g.dup_gram_frac <= 0.1
        AND l.avg_logprob >= cut.lm_cut) AS keep
FROM q
JOIN g ON g.doc_id = q.doc_id
JOIN l ON l.doc_id = q.doc_id, cut
"""


@register(
    "quality_filter_stack",
    oracle=_quality_stack_oracle(),
    tags=("pipeline",),
)
def quality_filter_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style composed filter stack: heuristic quality
    (`text_quality` >= 0.7), Gopher repetition (`gopher_repetition`
    dup_gram_frac <= 0.1), and the statistical LM signal
    (`lm_bigram_score` above the corpus 10th percentile — a
    corpus-RELATIVE cutoff, the CCNet bucketing move, computed with
    the same quantile_cont-identical interpolation as
    `agg_percentile`; like that query, the exact percentile buffers
    the group's values, so at true corpus scale the one-line swap is
    `percentile_approx` — kept exact here because the cutoff is what
    makes the whole stack hash-checkable). The keep decision is the
    conjunction; the
    three signal columns ride along so downstream can re-threshold
    without recompute.

    Built BY COMPOSITION: the Spark side joins the three registered
    operators on doc_id, and the oracle nests their oracle SQL as
    CTEs — so this query re-verifies that the pieces compose exactly,
    not just individually. Plan shape: three corpus-linear branches
    over one documents scan, two doc_id hash joins (co-partitioned —
    one exchange each at worst), and a broadcast 1-row percentile
    cutoff; docs with <2 tokens carry no signals and drop via the
    inner joins on both engines."""
    from conversadocs_spark.plans.text import (
        gopher_signals,
        text_quality,
    )

    # ONE gram explode feeds both the repetition and LM branches (the
    # two heaviest signals); quality rides its own single scan.
    d = io.table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = doc_bigrams(toks).persist()
    q = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    g = gopher_signals(grams).select("doc_id", "dup_gram_frac")
    # The LM score feeds both the output and the percentile cutoff;
    # persist so the model-train-and-score pipeline runs once, not
    # twice (same caveat as the gram cache in lm_bigram_score).
    lm = (
        lm_scores(toks, grams)
        .select("doc_id", "avg_logprob")
        .persist()
    )
    cut = lm.agg(
        F.round(F.percentile("avg_logprob", F.lit(0.1)), 6).alias(
            "lm_cut"
        )
    )
    return (
        q.join(g, "doc_id")
        .join(lm, "doc_id")
        .crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "quality_score",
            "dup_gram_frac",
            "avg_logprob",
            (
                (F.col("quality_score") >= 0.7)
                & (F.col("dup_gram_frac") <= 0.1)
                & (F.col("avg_logprob") >= F.col("lm_cut"))
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# learned quality classifier: distributed logistic regression
# --------------------------------------------------------------------------


@register("quality_lr_train", tags=("lm", "pipeline", "rows-only"))
def quality_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the learned tier of the quality stack ON-cluster: a
    logistic-regression document classifier (the GPT-3/CCNet "quality
    classifier" step) fit by Newton/IRLS where every iteration is ONE
    map-side-combinable aggregate job over a cached feature relation
    computing the gradient AND the d x d Hessian sums together
    (operators/logreg.py); the weight vector is d driver doubles
    entering each pass as literals, so executors run pure codegen
    arithmetic, no Python.

    Fixture task: features are the heuristic quality signals
    (length saturation, lexical diversity, punctuation rate — the
    same expressions text_quality scores) and the label is
    "quality_score above the corpus median", computed in-plan via an
    exact percentile + 1-row cross join. The target is a linear
    threshold of the features (separable up to median ties), so a
    correctly-implemented trainer must separate it almost perfectly —
    train accuracy is part of the output and the test pins it >= 0.95
    along with a NumPy IRLS re-derivation of the converged weights
    (the L2 ridge makes them a unique engine-independent fixed
    point).

    Rows-only: the float exp()/linear-solve arithmetic is not
    cross-engine replayable (last-ulp drift under any quantization);
    K=15 is fixed — Newton converges quadratically — so unlike a
    vocab-sized merge loop the driver iteration count is independent
    of data size. The LOOP MACHINERY is value-hash-checked by the
    fixed-point sibling `quality_lr_train_fixed` below (VERDICT r11
    #6), which replays the same per-iteration-aggregate shape in a
    DuckDB recursive CTE.

    Output: one row per feature (feature, weight, train_accuracy) —
    model-sized at any corpus scale.
    """
    from conversadocs_spark.operators.logreg import (
        lr_predict,
        lr_train,
    )

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
    scored = d.select(
        F.lit(1.0).alias("f_bias"),
        F.least(n_words / 50, F.lit(1.0)).alias("f_lensat"),
        (n_uniq / n_words).alias("f_uniq"),
        F.least(n_punct / n_chars, F.lit(1.0)).alias("f_punct"),
        quality.alias("q"),
    )
    med = scored.agg(
        F.percentile("q", 0.5).alias("q_med")
    )
    feats = (
        scored.crossJoin(F.broadcast(med))
        .select(
            "f_bias",
            "f_lensat",
            "f_uniq",
            "f_punct",
            (F.col("q") > F.col("q_med")).cast("double").alias("y"),
        )
        .persist()
    )
    cols = ["f_bias", "f_lensat", "f_uniq", "f_punct"]
    try:
        w = lr_train(feats, cols, label_col="y", lam=1e-6, n_iter=15)
        acc = feats.agg(
            F.avg(
                (
                    (lr_predict(w, cols) > 0.5).cast("double")
                    == F.col("y")
                ).cast("double")
            ).alias("train_accuracy")
        )
        weights = spark.createDataFrame(
            [(c, round(float(wj), 6)) for c, wj in zip(cols, w)],
            "feature string, weight double",
        )
        out = weights.crossJoin(acc).select(
            "feature", "weight",
            F.round("train_accuracy", 6).alias("train_accuracy"),
        )
        # materialization happens driver-side later; the persist is
        # only needed during the K aggregate passes above
        return out
    finally:
        feats.unpersist()


@register("quality_lr_serve", tags=("lm", "pipeline", "rows-only"))
def quality_lr_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full model lifecycle around quality_lr_train: fit the IRLS
    classifier, stamp the weights into a VERSIONED model directory's
    manifest (sources/sink.py write_versioned — the same
    snapshot-isolation discipline the IVF index uses), then SERVE:
    read the weights back with read_manifest (a pure driver-side file
    read, no Spark job — the knn_auto_indexed move) and score every
    document with one codegen sigmoid expression.

    This is the deployment shape of a learned quality gate at 100 TB:
    training happens once (K bounded aggregate jobs), the model is d
    doubles in a manifest, and serving is a stateless scan-side
    expression any executor evaluates without Python, shuffles, or a
    model server. Output: (doc_id, lr_score, keep) for every doc.

    Rows-only (the scores depend on iteratively-trained weights);
    tests pin serve == direct sigmoid of the trained weights and the
    manifest round-trip exactness (JSON doubles are repr-exact).
    """
    from conversadocs_spark.operators.logreg import lr_predict, lr_train
    from conversadocs_spark.sources.sink import (
        read_manifest,
        write_versioned,
    )

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
    featured = d.select(
        "doc_id",
        F.lit(1.0).alias("f_bias"),
        F.least(n_words / 50, F.lit(1.0)).alias("f_lensat"),
        (n_uniq / n_words).alias("f_uniq"),
        F.least(n_punct / n_chars, F.lit(1.0)).alias("f_punct"),
        quality.alias("q"),
    )
    med = featured.agg(F.percentile("q", 0.5).alias("q_med"))
    cols = ["f_bias", "f_lensat", "f_uniq", "f_punct"]
    train = (
        featured.crossJoin(F.broadcast(med))
        .select(
            *cols,
            (F.col("q") > F.col("q_med")).cast("double").alias("y"),
        )
        .persist()
    )
    try:
        w = lr_train(train, cols, label_col="y", lam=1e-6, n_iter=15)
    finally:
        train.unpersist()

    # ---- versioned model publish (train-time) -------------------
    model_path = scratch.call_dir("lrmodel")
    weights_df = spark.createDataFrame(
        list(zip(cols, w)), "feature string, weight double"
    )
    write_versioned(
        weights_df,
        model_path,
        manifest={"features": cols, "weights": w, "kind": "lr_quality"},
    )

    # ---- serve (no Spark job to load the model) -----------------
    m = read_manifest(model_path)
    score = lr_predict(m["weights"], m["features"])
    return featured.select(
        "doc_id",
        F.round(score, 6).alias("lr_score"),
        (score >= 0.5).alias("keep"),
    )


# --------------------------------------------------------------------------
# fixed-weight LR scoring (the serving expression, oracle-backed)
# --------------------------------------------------------------------------

_LR_SCORE_FIXED_ORACLE = """
WITH f AS (
    SELECT doc_id,
           least(len(string_split(text,' '))/50.0, 1.0) AS f_lensat,
           len(list_distinct(string_split(text,' ')))*1.0
               / len(string_split(text,' ')) AS f_uniq,
           least(len(regexp_extract_all(text,'[^A-Za-z0-9\\s]'))
                 *1.0/length(text), 1.0) AS f_punct
    FROM documents
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(-6.0 + 2.5*f_lensat + 5.0*f_uniq
                                - 1.5*f_punct))), 6) AS lr_score,
       round(1.0 / (1.0 + exp(-(-6.0 + 2.5*f_lensat + 5.0*f_uniq
                                - 1.5*f_punct))), 6) >= 0.5 AS keep
FROM f
"""


@register(
    "quality_lr_score_fixed", oracle=_LR_SCORE_FIXED_ORACLE,
    tags=("lm", "pipeline"),
)
def quality_lr_score_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LR quality gate's SERVING expression with PINNED literal
    weights, hash-checked against DuckDB (r8 verdict #5):
    `quality_lr_serve` is rows-only because its weights come from the
    iterative trainer, but scoring itself is deterministic arithmetic
    — one codegen sigmoid over scan-side features — so this query
    gives the serving codegen path an oracle row like every other
    scan-side expression. Weights (-6.0, 2.5, 5.0, -1.5) are
    representative of a fit on these features (bias, length
    saturation, lexical diversity, punctuation density).

    keep compares the ROUNDED score against 0.5 in both engines (the
    outlier_mad boundary lesson): Math.exp and std::exp can differ in
    the last ulp, and the rounded value is what the output carries.

    Scale: a pure narrow map — no shuffle, no Python, whole-stage
    codegen end to end; at 100 TB this is a streaming scan at storage
    bandwidth, the exact deployment shape of a learned quality gate.
    """
    from conversadocs_spark.operators.logreg import lr_predict

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
    featured = d.select(
        "doc_id",
        F.lit(1.0).alias("f_bias"),
        F.least(n_words / 50, F.lit(1.0)).alias("f_lensat"),
        (n_uniq / n_words).alias("f_uniq"),
        F.least(n_punct / n_chars, F.lit(1.0)).alias("f_punct"),
    )
    score = F.round(
        lr_predict(
            [-6.0, 2.5, 5.0, -1.5],
            ["f_bias", "f_lensat", "f_uniq", "f_punct"],
        ),
        6,
    )
    return featured.select(
        "doc_id",
        score.alias("lr_score"),
        (score >= 0.5).alias("keep"),
    )


# --------------------------------------------------------------------------
# classifier calibration (decile gains table, bucket-decomposed)
# --------------------------------------------------------------------------

_LR_CALIBRATION_ORACLE = """
WITH f AS (
    SELECT doc_id,
           least(len(string_split(text,' '))/50.0, 1.0) AS f_lensat,
           len(list_distinct(string_split(text,' ')))*1.0
               / len(string_split(text,' ')) AS f_uniq,
           least(len(regexp_extract_all(text,'[^A-Za-z0-9\\s]'))
                 *1.0/length(text), 1.0) AS f_punct,
           len(string_split(text,' ')) AS n_words,
           len(list_distinct(string_split(text,' ')))*1.0
               / len(string_split(text,' ')) AS uniq_ratio
    FROM documents
),
scored AS (
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(-6.0 + 2.5*f_lensat + 5.0*f_uniq
                                    - 1.5*f_punct))), 6) AS lr_score,
           (n_words >= 20 AND uniq_ratio >= 0.6) AS label
    FROM f
),
pos AS (
    SELECT doc_id, lr_score, label,
           row_number() OVER (ORDER BY lr_score DESC, doc_id ASC)
               AS p,
           count(*) OVER () AS n
    FROM scored
)
SELECT CAST(floor((p - 1) * 10.0 / n) + 1 AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(lr_score * 1000000, 0) AS BIGINT))
                  AS DOUBLE) / (count(*) * 1000000.0), 6)
           AS mean_score,
       round(CAST(count(CASE WHEN label THEN 1 END) AS DOUBLE)
             / count(*), 6) AS pos_rate
FROM pos
GROUP BY 1
ORDER BY decile
"""


@register(
    "lr_calibration_deciles", oracle=_LR_CALIBRATION_ORACLE,
    tags=("lm", "pipeline"),
)
def lr_calibration_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The classifier lifecycle's third leg — train
    (quality_lr_train) -> serve (quality_lr_score_fixed) -> EVALUATE:
    the decile gains/calibration table (per score decile: volume,
    mean score, positive rate against an independent structural
    label). A monotone pos_rate across deciles is the standard
    "does the ranking actually rank" check run before a quality gate
    ships.

    The ORACLE deciles with a global row_number; the Spark plan
    serves the same global-order semantics WITHOUT a global sort —
    the token_budget_select bucket decomposition: scores round to 6,
    so the bucket table is bounded (<= 1e6 + 1 values); cumulative
    counts run in ONE window over that bucket table only; each doc's
    global position is bucket-prefix + a within-bucket rank
    (partitioned by score value, ordered by doc_id); decile =
    floor((pos-1)*10/n)+1 — pure integer arithmetic in both engines.
    Mean scores sum as fixed-point BIGINTs (order-independent), and
    the label is integer/exact-ratio comparisons only.

    Plan pin (tests): no RangePartitioning anywhere — the corpus
    never globally sorts; the only SinglePartition window runs over
    the bounded score-bucket table."""
    from pyspark.sql import Window

    from conversadocs_spark.plans.registry import QUERIES

    scored_src = QUERIES["quality_lr_score_fixed"](spark, sf_dir)
    d = io.table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    labels = d.select(
        "doc_id",
        (
            (F.size(words) >= 20)
            & (
                F.size(F.array_distinct(words)).cast("double")
                / F.size(words).cast("double")
                >= 0.6
            )
        ).alias("label"),
    )
    scored = scored_src.select("doc_id", "lr_score").join(
        labels, "doc_id"
    )
    buckets = scored.groupBy("lr_score").agg(
        F.count("*").alias("bn")
    )
    w_bucket = Window.orderBy(F.desc("lr_score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = buckets.withColumn(
        "prefix", F.sum("bn").over(w_bucket) - F.col("bn")
    )
    total = scored.agg(F.count("*").alias("n"))
    w_in = Window.partitionBy("lr_score").orderBy(F.asc("doc_id"))
    positioned = (
        scored.join(F.broadcast(pref.select("lr_score", "prefix")),
                    "lr_score")
        .withColumn("win", F.row_number().over(w_in))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "decile",
            (
                F.floor(
                    (F.col("prefix") + F.col("win") - 1)
                    * 10
                    / F.col("n")
                )
                + 1
            ).cast("bigint"),
        )
    )
    score_f = F.round(F.col("lr_score") * 1000000.0, 0).cast("bigint")
    return (
        positioned.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(score_f).cast("double")
                / (F.count("*") * F.lit(1000000.0)),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(F.when(F.col("label"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("pos_rate"),
        )
    )


# --------------------------------------------------------------------------
# classifier ROC-AUC (rank statistic, bucket-level — no per-row ranks)
# --------------------------------------------------------------------------

_LR_AUC_ORACLE = """
WITH f AS (
    SELECT doc_id,
           least(len(string_split(text,' '))/50.0, 1.0) AS f_lensat,
           len(list_distinct(string_split(text,' ')))*1.0
               / len(string_split(text,' ')) AS f_uniq,
           least(len(regexp_extract_all(text,'[^A-Za-z0-9\\s]'))
                 *1.0/length(text), 1.0) AS f_punct,
           len(string_split(text,' ')) AS n_words,
           len(list_distinct(string_split(text,' ')))*1.0
               / len(string_split(text,' ')) AS uniq_ratio
    FROM documents
),
scored AS (
    SELECT round(1.0 / (1.0 + exp(-(-6.0 + 2.5*f_lensat + 5.0*f_uniq
                                    - 1.5*f_punct))), 6) AS lr_score,
           (n_words >= 20 AND uniq_ratio >= 0.6) AS label
    FROM f
),
buckets AS (
    SELECT lr_score,
           CAST(count(*) AS BIGINT) AS bn,
           CAST(count(CASE WHEN label THEN 1 END) AS BIGINT) AS bpos
    FROM scored GROUP BY lr_score
),
pref AS (
    SELECT lr_score, bn, bpos,
           CAST(coalesce(sum(bn) OVER (ORDER BY lr_score ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prefix
    FROM buckets
),
tot AS (
    SELECT CAST(sum(bpos) AS BIGINT) AS n_pos,
           CAST(sum(bn) - sum(bpos) AS BIGINT) AS n_neg
    FROM buckets
),
ranksum2 AS (
    -- 2x the midrank-sum of positives, kept integral: midrank of a
    -- tie group = prefix + (bn+1)/2
    SELECT CAST(sum(bpos * (2*prefix + bn + 1)) AS BIGINT) AS rs2
    FROM pref
)
SELECT t.n_pos, t.n_neg,
       round((CAST(r.rs2 AS DOUBLE) / 2.0
              - CAST(t.n_pos AS DOUBLE) * (t.n_pos + 1) / 2.0)
             / (CAST(t.n_pos AS DOUBLE) * t.n_neg), 6) AS auc
FROM ranksum2 r CROSS JOIN tot t
"""


@register("lr_auc", oracle=_LR_AUC_ORACLE, tags=("lm", "pipeline"))
def lr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier lifecycle's fourth leg: exact ROC-AUC of the
    fixed-weight quality scorer against the independent structural
    label — via the Mann-Whitney rank identity
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), with MIDRANKS
    for score ties (the standard tie correction).

    The scale insight: AUC never needs per-row ranks. Scores round to
    6 so the BUCKET table is bounded (<= 1e6 + 1 rows); a tie group's
    midrank is prefix + (bn+1)/2, so the positives' rank sum is one
    bucket-level aggregate — kept integral as 2x rank-sum (bn+1 may
    be even or odd) until a single final double division. One
    map-side-combined groupBy(score), one window over the bounded
    bucket table, a 1-row output: strictly cheaper than
    lr_calibration_deciles, which must position every row.

    Cross-engine exactness: counts and the 2x rank-sum are exact
    BIGINTs in both engines; the final expression is the identically
    parenthesized IEEE tree."""
    from pyspark.sql import Window

    from conversadocs_spark.plans.registry import QUERIES

    scored_src = QUERIES["quality_lr_score_fixed"](spark, sf_dir)
    d = io.table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    labels = d.select(
        "doc_id",
        (
            (F.size(words) >= 20)
            & (
                F.size(F.array_distinct(words)).cast("double")
                / F.size(words).cast("double")
                >= 0.6
            )
        ).alias("label"),
    )
    scored = scored_src.select("doc_id", "lr_score").join(
        labels, "doc_id"
    )
    buckets = scored.groupBy("lr_score").agg(
        F.count("*").cast("long").alias("bn"),
        F.sum(F.when(F.col("label"), 1).otherwise(0))
        .cast("long")
        .alias("bpos"),
    )
    w = Window.orderBy(F.asc("lr_score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = buckets.withColumn(
        "prefix", F.sum("bn").over(w) - F.col("bn")
    )
    agg = pref.agg(
        F.sum("bpos").cast("long").alias("n_pos"),
        (F.sum("bn") - F.sum("bpos")).cast("long").alias("n_neg"),
        F.sum(
            F.col("bpos")
            * (2 * F.col("prefix") + F.col("bn") + 1)
        )
        .cast("long")
        .alias("rs2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (
                F.col("rs2").cast("double") / 2.0
                - F.col("n_pos").cast("double")
                * (F.col("n_pos") + 1)
                / 2.0
            )
            / (F.col("n_pos").cast("double") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# fixed-point distributed trainer (oracle-replayed GD — VERDICT r11 #6)
# --------------------------------------------------------------------------

# The quality_lr_train_fixed oracle replays the DISTRIBUTED trainer
# loop exactly, the recursive-CTE bounded-replay technique proven on
# seq_pack_ffd / mmr / pagerank / bpe / chunk_split: the weight vector
# AND its momentum velocity ride the recursion as one state row per
# iteration (DuckDB allows aggregation in the recursive term — the
# pagerank precedent), each step cross-joins that row with the bounded
# integer feature relation, aggregates the per-feature gradient sums
# SUM((p - y*1e6) * x_j), and applies the preconditioned heavy-ball
# update with every division truncating toward zero (DuckDB // ==
# Spark div == operators/logreg.py tdiv). p is the ALGEBRAIC fast
# sigmoid (exact integers, no exp — the ADVICE r11 cross-engine-ulp
# lesson), its numerator arranged non-negative so trunc == floor.
# Constants mirror operators/logreg.py (FP_SP/FP_SX/FP_Z/FP_CLAMP,
# scales 1/6/38/256, eta 2, beta 9/10, T=48). doc_id < 2000 bounds the
# ORACLE's recursion work at every gate scale (the pagerank bound
# pattern); n is 500 at sf0.01 and 2000 from sf0.1 up.
_LR_TRAIN_FIXED_ORACLE = """WITH RECURSIVE f AS (
    SELECT 1000 AS x0,
           least(len(string_split(text,' '))*20, 1000) - 500 AS c1,
           ((len(list_distinct(string_split(text,' ')))*1000)
             // len(string_split(text,' '))) - 500 AS c2,
           least((length(text)*100)
                 // len(string_split(text,' ')), 1000) - 500 AS c3,
           CASE WHEN 400*least(len(string_split(text,' '))*20, 1000)
                   + 400*((len(list_distinct(string_split(text,' ')))*1000)
                          // len(string_split(text,' ')))
                   + 200*least((length(text)*100)
                               // len(string_split(text,' ')), 1000)
                   > 646000
                THEN 1 ELSE 0 END AS y
    FROM documents WHERE doc_id < 2000
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
steps(t, w0, w1, w2, w3, v0, v1, v2, v3) AS (
    SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL
    SELECT u.t + 1,
           u.w0 + u.nv0, u.w1 + u.nv1, u.w2 + u.nv2, u.w3 + u.nv3,
           u.nv0, u.nv1, u.nv2, u.nv3
    FROM (
        SELECT a.t, a.w0, a.w1, a.w2, a.w3,
               (9*a.v0)//10 - (2*1*a.g0)//((SELECT n FROM nn)*1000) AS nv0,
               (9*a.v1)//10 - (2*6*a.g1)//((SELECT n FROM nn)*1000) AS nv1,
               (9*a.v2)//10 - (2*38*a.g2)//((SELECT n FROM nn)*1000) AS nv2,
               (9*a.v3)//10 - (2*256*a.g3)//((SELECT n FROM nn)*1000) AS nv3
        FROM (
            SELECT r.t, r.w0, r.w1, r.w2, r.w3,
                   r.v0, r.v1, r.v2, r.v3,
                   CAST(sum(r.err * r.x0) AS BIGINT) AS g0,
                   CAST(sum(r.err * r.c1) AS BIGINT) AS g1,
                   CAST(sum(r.err * r.c2) AS BIGINT) AS g2,
                   CAST(sum(r.err * r.c3) AS BIGINT) AS g3
            FROM (
                SELECT q.*,
                       ((1000000000 + abs(q.zc) + q.zc) * 1000000)
                         // (2 * (1000000000 + abs(q.zc)))
                         - q.y * 1000000 AS err
                FROM (
                    SELECT s.t, s.w0, s.w1, s.w2, s.w3,
                           s.v0, s.v1, s.v2, s.v3,
                           f.x0, f.c1, f.c2, f.c3, f.y,
                           greatest(least(
                               s.w0*f.x0 + s.w1*f.c1
                               + s.w2*f.c2 + s.w3*f.c3,
                               1000000000000), -1000000000000) AS zc
                    FROM steps s, f
                    WHERE s.t < 48
                ) q
            ) r
            GROUP BY r.t, r.w0, r.w1, r.w2, r.w3,
                     r.v0, r.v1, r.v2, r.v3
        ) a
    ) u
),
fin AS (SELECT * FROM steps WHERE t = 48),
accrow AS (
    SELECT CAST(sum(CASE WHEN (CASE WHEN fin.w0*f.x0 + fin.w1*f.c1
                                     + fin.w2*f.c2 + fin.w3*f.c3 >= 0
                                THEN 1 ELSE 0 END) = f.y
                         THEN 1 ELSE 0 END) AS BIGINT) AS matches,
           CAST(count(*) AS BIGINT) AS n
    FROM fin, f
)
SELECT u.feature, u.weight_fp,
       CAST(u.weight_fp AS DOUBLE) / 1000000 AS weight,
       (a.matches * 1000000) // a.n AS acc_fp,
       CAST((a.matches * 1000000) // a.n AS DOUBLE) / 1000000
           AS train_accuracy
FROM (
    SELECT unnest(['f_bias','f_lensat','f_uniq','f_cpw']) AS feature,
           unnest([w0, w1, w2, w3]) AS weight_fp
    FROM fin
) u, accrow a
ORDER BY u.feature
"""


@register(
    "quality_lr_train_fixed", oracle=_LR_TRAIN_FIXED_ORACLE,
    tags=("lm", "pipeline"),
)
def quality_lr_train_fixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The distributed LR trainer loop, ORACLE-CHECKED (VERDICT r11
    #6): per-iteration map-side-combinable gradient aggregates over a
    cached integer feature relation, driver-held weight + momentum
    state entering each pass as literals — the lr_train shape — with
    the arithmetic lowered to fixed-point BIGINT so the DuckDB
    recursive CTE above replays all 48 updates bit for bit
    (operators/logreg.py:lr_train_gd_fixedpoint has the full design
    rationale: preconditioned heavy-ball GD instead of Newton because
    fixed-point Newton determinants overflow; algebraic fast sigmoid
    instead of exp(); truncating division everywhere).

    Fixture task: integer milli-unit quality features (length
    saturation, lexical diversity, chars-per-word — the punctuation
    signal is constant-zero on this corpus, so cpw replaces it),
    centered at 500 for conditioning, labeled by a FIXED linear
    threshold of the same features (646000 ~ the corpus median
    composite). The target is linearly separable by construction, and
    the trained model must actually separate it: train accuracy is in
    the output and pinned >= 0.9 in tests/test_logreg.py (measured
    0.998 / 0.96 / 0.9655 at sf0.001/0.01/0.1).

    The float IRLS sibling `quality_lr_train` stays rows-only with its
    NumPy re-derivation pin — it is the production trainer; this query
    is the machinery's value-hash row.

    Scale: iteration count and driver state are data-size-independent;
    each pass is one scan + 1-row aggregate (at 100 TB you would train
    on a sampled feature relation, but the loop shape is unchanged).
    doc_id < 2000 keeps the ORACLE replay bounded, like pagerank."""
    from conversadocs_spark.operators.logreg import (
        lr_train_gd_fixedpoint,
        tdiv,
    )

    d = io.table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 2000
    )
    words = F.split(F.col("text"), " ")
    staged = d.select(
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_uniq"),
        F.length("text").cast("long").alias("n_chars"),
    ).selectExpr(
        "least(n_words*20, 1000) AS x1",
        "(n_uniq*1000) div n_words AS x2",
        "least((n_chars*100) div n_words, 1000) AS x3",
    )
    feats = staged.select(
        F.lit(1000).cast("long").alias("x0"),
        (F.col("x1") - 500).alias("c1"),
        (F.col("x2") - 500).alias("c2"),
        (F.col("x3") - 500).alias("c3"),
        (
            400 * F.col("x1") + 400 * F.col("x2") + 200 * F.col("x3")
            > 646000
        ).cast("long").alias("y"),
    ).persist()
    try:
        cols = ["x0", "c1", "c2", "c3"]
        w, matches, n = lr_train_gd_fixedpoint(
            feats, cols, label_col="y",
            scales=(1, 6, 38, 256), eta_num=2,
            beta_num=9, beta_den=10, n_iter=48,
        )
        acc_fp = tdiv(matches * 1_000_000, n)
        names = ["f_bias", "f_lensat", "f_uniq", "f_cpw"]
        out = spark.createDataFrame(
            [
                (nm, int(wj), float(wj) / 1_000_000,
                 acc_fp, float(acc_fp) / 1_000_000)
                for nm, wj in zip(names, w)
            ],
            "feature string, weight_fp long, weight double, "
            "acc_fp long, train_accuracy double",
        )
        return out.orderBy("feature")
    finally:
        feats.unpersist()


# --------------------------------------------------------------------------
# generation-eval metrics: ROUGE-1/2 + BLEU-2 (clipped n-gram overlap)
# --------------------------------------------------------------------------

_ROUGE_BLEU_ORACLE = """\
WITH d AS (
    SELECT doc_id, string_split(lower(text), ' ') AS toks
    FROM documents
),
pairs AS (
    SELECT c.doc_id AS pair_id, c.toks AS ct, r.toks AS rt
    FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
),
u AS (
    SELECT pair_id, side, gram, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT pair_id, 'c' AS side, unnest(ct) AS gram FROM pairs
        UNION ALL
        SELECT pair_id, 'r' AS side, unnest(rt) AS gram FROM pairs
    ) GROUP BY pair_id, side, gram
),
u_ov AS (
    SELECT pair_id,
           CAST(sum(least(cc, rc)) AS BIGINT) AS ov1
    FROM (
        SELECT pair_id, gram,
               sum(CASE WHEN side = 'c' THEN cnt ELSE 0 END) AS cc,
               sum(CASE WHEN side = 'r' THEN cnt ELSE 0 END) AS rc
        FROM u GROUP BY pair_id, gram
    ) GROUP BY pair_id
),
b AS (
    SELECT pair_id, side, gram, CAST(count(*) AS BIGINT) AS cnt
    FROM (
        SELECT pair_id, 'c' AS side,
               unnest([ct[i] || ' ' || ct[i+1]
                       for i in range(1, len(ct))]) AS gram
        FROM pairs
        UNION ALL
        SELECT pair_id, 'r' AS side,
               unnest([rt[i] || ' ' || rt[i+1]
                       for i in range(1, len(rt))]) AS gram
        FROM pairs
    ) GROUP BY pair_id, side, gram
),
b_ov AS (
    SELECT pair_id,
           CAST(sum(least(cc, rc)) AS BIGINT) AS ov2
    FROM (
        SELECT pair_id, gram,
               sum(CASE WHEN side = 'c' THEN cnt ELSE 0 END) AS cc,
               sum(CASE WHEN side = 'r' THEN cnt ELSE 0 END) AS rc
        FROM b GROUP BY pair_id, gram
    ) GROUP BY pair_id
),
lens AS (
    SELECT pair_id,
           CAST(len(ct) AS BIGINT) AS n1c,
           CAST(len(rt) AS BIGINT) AS n1r,
           CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS n2c,
           CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS n2r
    FROM pairs
),
m AS (
    SELECT l.pair_id, l.n1c, l.n1r, l.n2c, l.n2r,
           coalesce(u.ov1, 0) AS ov1, coalesce(b.ov2, 0) AS ov2
    FROM lens l
    LEFT JOIN u_ov u ON u.pair_id = l.pair_id
    LEFT JOIN b_ov b ON b.pair_id = l.pair_id
),
s AS (
    SELECT pair_id, ov1, ov2, n1c, n1r, n2c, n2r,
           CASE WHEN n1c > 0
                THEN CAST(ov1 AS DOUBLE) / n1c ELSE 0 END AS p1,
           CASE WHEN n1r > 0
                THEN CAST(ov1 AS DOUBLE) / n1r ELSE 0 END AS r1,
           CASE WHEN n2c > 0
                THEN CAST(ov2 AS DOUBLE) / n2c ELSE 0 END AS p2
    FROM m
)
SELECT pair_id, ov1, ov2,
       round(p1, 6) AS rouge1_p,
       round(r1, 6) AS rouge1_r,
       round(CASE WHEN p1 + r1 > 0
                  THEN 2 * p1 * r1 / (p1 + r1) ELSE 0 END, 6)
           AS rouge1_f,
       round(CASE WHEN n2r > 0
                  THEN CAST(ov2 AS DOUBLE) / n2r ELSE 0 END, 6)
           AS rouge2_r,
       round(CASE WHEN n1c >= n1r THEN 1.0
                  ELSE exp(1.0 - CAST(n1r AS DOUBLE) / n1c) END
             * sqrt(p1 * p2), 6) AS bleu2
FROM s ORDER BY pair_id
"""


@register(
    "eval_rouge_bleu", oracle=_ROUGE_BLEU_ORACLE, tags=("lm", "pipeline")
)
def eval_rouge_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-eval metrics: ROUGE-1 P/R/F, ROUGE-2 recall, and
    BLEU-2 (clipped n-gram precision with brevity penalty) per
    candidate/reference pair — the eval leg every training pipeline
    runs on its generated outputs (Lin 2004; Papineni et al. 2002).
    The clipped-overlap kernel is MULTISET intersection: per n-gram,
    min(candidate count, reference count), summed — exactly the
    definition both papers share, computed relationally.

    Pairing: each doc is the candidate against the next doc_id as
    reference — a deterministic, UNBOUNDED corpus-linear pairing
    (the metric kernel is the point; a real eval run joins
    generations to references on example_id exactly like this
    doc_id+1 equi-join). Scale shape: one co-partitioned self-join,
    then explode n-grams -> map-side-combinable (pair, gram) counts
    -> one sum per pair — no all-pairs anything, no UDFs, everything
    whole-stage codegen. BLEU's exp/sqrt are the only floats and are
    round(6)-stable cross-engine (the mixture_temperature pow
    precedent).

    Reference analog: the reference never evaluates its generations
    (conversadocs/bones.py returns them raw); this is the missing
    eval harness a curation pipeline needs."""
    d = (
        io.table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.split(F.lower(F.col("text")), " ").alias("toks"),
        )
    )
    pairs = (
        d.alias("c")
        .join(
            d.select(
                (F.col("doc_id") - 1).alias("doc_id"),
                F.col("toks").alias("rtoks"),
            ).alias("r"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("pair_id"),
            F.col("toks").alias("ct"),
            F.col("rtoks").alias("rt"),
        )
        .persist()
    )

    def bigrams(col: str) -> F.Column:
        c = F.col(col)
        return F.when(
            F.size(c) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(c) - 1),
                lambda i: F.concat(
                    F.element_at(c, i), F.lit(" "), F.element_at(c, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def clipped_overlap(gram_c: F.Column, gram_r: F.Column, out: str):
        """sum over grams of min(cand count, ref count), per pair —
        explode both sides tagged, one (pair, gram) count, one sum."""
        exploded = pairs.select(
            "pair_id", F.lit("c").alias("side"),
            F.explode_outer(gram_c).alias("gram"),
        ).unionByName(
            pairs.select(
                "pair_id", F.lit("r").alias("side"),
                F.explode_outer(gram_r).alias("gram"),
            )
        ).where(F.col("gram").isNotNull())
        per_gram = exploded.groupBy("pair_id", "gram").agg(
            F.sum(F.when(F.col("side") == "c", 1).otherwise(0)).alias("cc"),
            F.sum(F.when(F.col("side") == "r", 1).otherwise(0)).alias("rc"),
        )
        return per_gram.groupBy("pair_id").agg(
            F.sum(F.least("cc", "rc")).cast("long").alias(out)
        )

    ov1 = clipped_overlap(F.col("ct"), F.col("rt"), "ov1")
    ov2 = clipped_overlap(bigrams("ct"), bigrams("rt"), "ov2")
    lens = pairs.select(
        "pair_id",
        F.size("ct").cast("long").alias("n1c"),
        F.size("rt").cast("long").alias("n1r"),
        F.greatest(F.size("ct") - 1, F.lit(0)).cast("long").alias("n2c"),
        F.greatest(F.size("rt") - 1, F.lit(0)).cast("long").alias("n2r"),
    )
    m = (
        lens.join(ov1, "pair_id", "left")
        .join(ov2, "pair_id", "left")
        .na.fill({"ov1": 0, "ov2": 0})
    )
    p1 = F.when(
        F.col("n1c") > 0, F.col("ov1").cast("double") / F.col("n1c")
    ).otherwise(0.0)
    r1 = F.when(
        F.col("n1r") > 0, F.col("ov1").cast("double") / F.col("n1r")
    ).otherwise(0.0)
    p2 = F.when(
        F.col("n2c") > 0, F.col("ov2").cast("double") / F.col("n2c")
    ).otherwise(0.0)
    bp = F.when(F.col("n1c") >= F.col("n1r"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("n1r").cast("double") / F.col("n1c"))
    )
    out = m.select(
        "pair_id", "ov1", "ov2",
        F.round(p1, 6).alias("rouge1_p"),
        F.round(r1, 6).alias("rouge1_r"),
        F.round(
            F.when(p1 + r1 > 0, 2 * p1 * r1 / (p1 + r1)).otherwise(0.0),
            6,
        ).alias("rouge1_f"),
        F.round(
            F.when(
                F.col("n2r") > 0,
                F.col("ov2").cast("double") / F.col("n2r"),
            ).otherwise(0.0),
            6,
        ).alias("rouge2_r"),
        F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )
    # the five pairs-consumers must evaluate BEFORE the cache dies (a
    # lazy return would recompute the pairing self-join per consumer
    # after unpersist), so eagerly materialize the pair-level metric
    # rows — one narrow row per pair, corpus-width smaller than the
    # twice-tokenized `pairs` — then release the cache (ADVICE r13:
    # each invocation leaked a corpus-sized MEMORY_AND_DISK entry;
    # same localCheckpoint trade as dedup_clusters' label table).
    # TWO caveats bought by this trade (ADVICE r14): (1) this builder
    # EXECUTES at call time — plan-only callers (explain/plan-shape
    # tooling) pay the full metric computation and see lineage
    # truncated to Scan ExistingRDD; (2) localCheckpoint is
    # non-reliable storage, so on a real cluster losing an executor
    # loses pair rows with no lineage to rebuild them and fails the
    # job — a cluster deployment would checkpoint to reliable storage
    # (or write the pair metrics to parquet between stages) instead.
    out = out.localCheckpoint(eager=True)
    pairs.unpersist()
    return out


# --------------------------------------------------------------------------
# eval metrics: ROUGE-L (LCS F-measure) — oracle-checked (VERDICT r13 #5)
# --------------------------------------------------------------------------

# LCS via recursive CTE: the DP row update has an intra-row dependency
# (new[j] = max(old[j], new[j-1]) in the mismatch branch) that blocks a
# plain list comprehension — removed with the PREFIX-MAX identity: since
# adjacent LCS DP cells differ by at most 1 (new[j-1] <= old[j-1]+1),
#     new[j] = max over j' <= j of A_{j'},
#     A_j    = old[j-1] + 1   if c_i = r_j   else old[j]
# which is comprehension-expressible (property-tested against the
# classic two-row DP on randomized token lists, tests/test_lm.py).
# Each recursion step consumes one candidate token and carries the full
# DP row as a BIGINT list; rows = one per (pair, candidate token).
# doc_id < 400 and the [1:48] token slice bound the recursion to a
# CONSTANT size at every sf (the bpe/simhash/chunk fixture rule).
_ROUGE_L_ORACLE = """\
WITH RECURSIVE d AS (
    SELECT doc_id, (string_split(lower(text), ' '))[1:48] AS toks
    FROM documents WHERE doc_id < 400
),
pairs AS (
    SELECT c.doc_id AS pair_id, c.toks AS ct, r.toks AS rt
    FROM d c JOIN d r ON r.doc_id = c.doc_id + 1
),
dp AS (
    SELECT pair_id, 0 AS i,
           [CAST(0 AS BIGINT) for j in range(0, len(rt) + 1)] AS row,
           ct, rt
    FROM pairs
  UNION ALL
    SELECT pair_id, i + 1,
           [CAST(0 AS BIGINT)] || [
               list_max([CASE WHEN ct[i + 1] = rt[jj]
                              THEN row[jj] + 1 ELSE row[jj + 1] END
                         for jj in range(1, j + 1)])
               for j in range(1, len(rt) + 1)],
           ct, rt
    FROM dp WHERE i < len(ct)
),
m AS (
    SELECT pair_id, row[len(rt) + 1] AS lcs,
           CAST(len(ct) AS BIGINT) AS n_c,
           CAST(len(rt) AS BIGINT) AS n_r
    FROM dp WHERE i = len(ct)
)
SELECT pair_id, lcs, n_c, n_r,
       round(CAST(lcs AS DOUBLE) / n_c, 6) AS rouge_l_p,
       round(CAST(lcs AS DOUBLE) / n_r, 6) AS rouge_l_r,
       round(CASE WHEN lcs > 0 THEN
                 2 * (CAST(lcs AS DOUBLE) / n_c)
                   * (CAST(lcs AS DOUBLE) / n_r)
                 / (CAST(lcs AS DOUBLE) / n_c + CAST(lcs AS DOUBLE) / n_r)
             ELSE 0.0 END, 6) AS rouge_l_f
FROM m
"""


@register("eval_rouge_l", oracle=_ROUGE_L_ORACLE, tags=("lm", "pipeline"))
def eval_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L: LCS-based precision/recall/F per candidate/reference
    pair (Lin 2004 section 3.1) — the order-sensitive eval metric the
    clipped-n-gram `eval_rouge_bleu` cannot see (it scores bag
    overlap; LCS rewards in-sequence matches only). Same doc_id+1
    pairing as eval_rouge_bleu, on the bounded doc_id < 400 slice
    with tokens cut to the first 48 — constants chosen so the
    ORACLE's recursive-CTE DP replay stays constant-size at every sf
    (the bpe/simhash/chunk fixture rule).

    Spark side: the LCS DP runs in an Arrow-batched pandas_udf — the
    textbook case for the Python path (a data-dependent O(n*m)
    recurrence with no relational form; the seq_pack bounded-kernel
    precedent). Scale shape: one co-partitioned doc_id+1 self-join,
    then the UDF is per-row embarrassing parallelism over
    48x48-bounded cells — corpus-linear, no shuffle after the join,
    no driver-side anything. The oracle replays the SAME values via
    the prefix-max recursive CTE (see _ROUGE_L_ORACLE).

    Reference analog: none (the reference never evaluates its
    generations) — this completes the eval leg VERDICT r13 #5 named.
    """
    d = (
        io.table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 400)
        .select(
            "doc_id",
            F.slice(
                F.split(F.lower(F.col("text")), " "), 1, 48
            ).alias("toks"),
        )
    )
    pairs = d.alias("c").join(
        d.select(
            (F.col("doc_id") - 1).alias("doc_id"),
            F.col("toks").alias("rtoks"),
        ),
        "doc_id",
    ).select(F.col("doc_id").alias("pair_id"), "toks", "rtoks")

    @F.pandas_udf("long")
    def lcs_len(ct: pd.Series, rt: pd.Series) -> pd.Series:
        def lcs(a, b) -> int:
            prev = [0] * (len(b) + 1)
            for x in a:
                cur = [0] * (len(b) + 1)
                for j, y in enumerate(b, 1):
                    cur[j] = (
                        prev[j - 1] + 1
                        if x == y
                        else max(prev[j], cur[j - 1])
                    )
                prev = cur
            return prev[-1]

        return pd.Series(
            [lcs(list(a), list(b)) for a, b in zip(ct, rt)],
            dtype="int64",
        )

    m = pairs.select(
        "pair_id",
        lcs_len("toks", "rtoks").alias("lcs"),
        F.size("toks").cast("long").alias("n_c"),
        F.size("rtoks").cast("long").alias("n_r"),
    )
    p = F.col("lcs").cast("double") / F.col("n_c")
    r = F.col("lcs").cast("double") / F.col("n_r")
    return m.select(
        "pair_id", "lcs", "n_c", "n_r",
        F.round(p, 6).alias("rouge_l_p"),
        F.round(r, 6).alias("rouge_l_r"),
        F.round(
            F.when(
                F.col("lcs") > 0, 2 * p * r / (p + r)
            ).otherwise(0.0),
            6,
        ).alias("rouge_l_f"),
    )
