"""Training-data pipeline operators (plans/pipeline.py).

Oracle parity for the four SQL-expressible queries, invariants for
seq_pack (greedy packing has no ANSI form), and non-vacuity checks so
a regression can't pass by producing empty output.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conversadocs_spark.operators.packing import pack_documents
from conversadocs_spark.plans import QUERIES
from tests.oracle import assert_query_matches_oracle

from tests.conftest import SF_ORACLE, SF_SMOKE

ORACLE_CHECKED = [
    "corpus_split_shuffle",
    "stratified_sample",
    "pii_redact",
    "contamination_ngram",
    "sample_group_topk",
    "length_histogram",
    "lm_bigram_score",
    "quality_filter_stack",
    "dsir_select",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_pipeline_query_matches_oracle(spark, name):
    assert_query_matches_oracle(spark, name, SF_ORACLE)


def test_split_is_deterministic_and_near_80_20(spark):
    df = QUERIES["corpus_split_shuffle"](spark, SF_ORACLE)
    counts = dict(
        (r["split"], r["count"])
        for r in df.groupBy("split").count().collect()
    )
    total = sum(counts.values())
    assert counts["train"] / total == pytest.approx(0.8, abs=0.05)
    # pure function of doc_id: a repartitioned rerun agrees row-for-row
    again = (
        QUERIES["corpus_split_shuffle"](spark, SF_ORACLE)
        .repartition(7)
        .collect()
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, again))


def test_stratified_sample_downsamples_majority(spark):
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base = dict(
        (r["lang"], r["count"])
        for r in d.groupBy("lang").count().collect()
    )
    samp = dict(
        (r["lang"], r["count"])
        for r in QUERIES["stratified_sample"](spark, SF_ORACLE)
        .groupBy("lang")
        .count()
        .collect()
    )
    # en kept at ~25%, others at ~50% (64/256 and 128/256 hex gates)
    assert samp["en"] / base["en"] == pytest.approx(0.25, abs=0.1)
    for lang in base:
        if lang != "en":
            assert samp[lang] / base[lang] == pytest.approx(0.5, abs=0.15)


def test_pii_redact_masks_everything_it_counts(spark):
    df = QUERIES["pii_redact"](spark, SF_ORACLE)
    hit = df.where((F.col("n_emails") > 0) | (F.col("n_ssns") > 0))
    assert hit.count() > 0  # injection fired
    # nothing matching either pattern survives in the redacted text
    from conversadocs_spark.plans.pipeline import _EMAIL_RE, _SSN_RE

    leftover = df.where(
        F.col("redacted").rlike(_EMAIL_RE)
        | F.col("redacted").rlike(_SSN_RE)
    )
    assert leftover.count() == 0
    # every counted hit produced a placeholder
    bad = hit.where(
        ((F.col("n_emails") > 0) & ~F.col("redacted").contains("<EMAIL>"))
        | ((F.col("n_ssns") > 0) & ~F.col("redacted").contains("<SSN>"))
    )
    assert bad.count() == 0


def test_contamination_screen_fires_on_near_dups(spark):
    df = QUERIES["contamination_ngram"](spark, SF_ORACLE)
    flagged = df.where(F.col("n_shared") > 0)
    # fixture corpus contains near-duplicates of the eval docs by
    # construction (the dedup family's 25-pair groups), so the screen
    # must flag at least one training doc — and never all of them.
    n_flagged, n_total = flagged.count(), df.count()
    assert 0 < n_flagged < n_total
    assert (
        df.where(
            (F.col("contamination") < 0) | (F.col("contamination") > 1)
        ).count()
        == 0
    )


def test_seq_pack_invariants(spark):
    budget = 256
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    packed = pack_documents(d, budget=budget).collect()
    assert len(packed) == d.count()  # every doc packed exactly once
    by_pack: dict[tuple, list] = {}
    for r in packed:
        by_pack.setdefault((r["source"], r["pack_id"]), []).append(r)
    for (_, _), rows in by_pack.items():
        total = sum(r["n_tokens"] for r in rows)
        # over-budget only when a single oversized doc forced it
        assert total <= budget or len(rows) == 1
        # pack positions dense from 0 in doc_id order
        rows.sort(key=lambda r: r["doc_id"])
        assert [r["pack_pos"] for r in rows] == list(range(len(rows)))
    # pack ids dense per source
    for source in {r["source"] for r in packed}:
        ids = sorted(
            {r["pack_id"] for r in packed if r["source"] == source}
        )
        assert ids == list(range(len(ids)))


def test_seq_pack_greedy_boundary(spark):
    """A doc that would overflow the running pack opens a new pack —
    pinned on a hand-built group where the boundary is unambiguous."""
    rows = [(i, "s", "w " * n) for i, n in enumerate([100, 100, 100])]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    # token counts are 101 each (trailing split token), budget 210:
    # docs 0+1 fit (202), doc 2 overflows -> pack 1
    out = {
        r["doc_id"]: r["pack_id"]
        for r in pack_documents(df, budget=210).collect()
    }
    assert out == {0: 0, 1: 0, 2: 1}


def test_seq_pack_sharding_bounds_groups(spark):
    """Sharded packing: groups are bounded by shard_docs (the
    applyInPandas OOM guard), pack ids stay unique per source across
    shards, and packing within each shard is unchanged."""
    rows = [(i, "s", "w " * 50) for i in range(8)]  # 51 tokens each
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = pack_documents(df, budget=120, shard_docs=4).collect()
    assert len(out) == 8
    # docs 0-3 in shard 0, 4-7 in shard 1; 2 docs fit per 120-token pack
    by_doc = {r["doc_id"]: r for r in out}
    shard0_ids = {by_doc[i]["pack_id"] for i in range(4)}
    shard1_ids = {by_doc[i]["pack_id"] for i in range(4, 8)}
    assert shard0_ids.isdisjoint(shard1_ids)  # unique across shards
    assert len(shard0_ids) == 2 and len(shard1_ids) == 2
    # greedy boundary intact inside each shard
    assert by_doc[0]["pack_id"] == by_doc[1]["pack_id"]
    assert by_doc[2]["pack_id"] == by_doc[3]["pack_id"]
    assert by_doc[0]["pack_id"] != by_doc[2]["pack_id"]


def test_seq_pack_ffd_matches_python_replay(spark):
    """FFD on a crafted shard where first-fit-decreasing and greedy
    DIVERGE, replayed in pure Python: lengths [150, 120, 100, 80, 50]
    with budget 256 pack as 150+100 (first fit after the decreasing
    sort), 120+80+50, i.e. 2 packs — arrival-order greedy (150+100? no:
    150, then 120 overflows? 150+120 > 256 -> opens) gives a different
    shape, pinning that the DECREASING order is actually applied."""
    from conversadocs_spark.operators.packing import pack_documents_ffd

    lens = [150, 120, 100, 80, 50]
    rows = [(i, "w " * (n - 1)) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["pack_id"], r["n_tokens"])
        for r in pack_documents_ffd(df, budget=256).collect()
    }
    # decreasing order: 150->p1, 120->p1? rem=106 no -> p2? 106<120 ->
    # new pack p2; 100 -> p1 (rem 106); 80 -> p2 (rem 136); 50 -> p2
    # (rem 56)
    assert got == {
        0: (1, 150), 1: (2, 120), 2: (1, 100), 3: (2, 80), 4: (2, 50)
    }
    # independent python replay on the real smoke table
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = pack_documents_ffd(d, budget=256, shard_docs=400).collect()
    docs = {
        r["doc_id"]: len(r["text"].split(" "))
        for r in d.select("doc_id", "text").collect()
    }
    assert len(out) == len(docs)
    by_shard: dict[int, list] = {}
    for r in out:
        assert r["shard_id"] == r["doc_id"] // 400
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, rows_ in by_shard.items():
        order = sorted(
            (r["doc_id"] for r in rows_),
            key=lambda i: (-docs[i], i),
        )
        rem: list[int] = []
        expect = {}
        for i in order:
            n = docs[i]
            idx = next(
                (j for j, v in enumerate(rem) if v >= n), None
            )
            if idx is None:
                rem.append(256 - n)
                idx = len(rem) - 1
            else:
                rem[idx] -= n
            expect[i] = idx + 1
        got_shard = {r["doc_id"]: r["pack_id"] for r in rows_}
        assert got_shard == expect


def test_seq_pack_ffd_matches_oracle(spark):
    assert_query_matches_oracle(spark, "seq_pack_ffd", SF_ORACLE)


def test_dedup_clusters_matches_oracle(spark):
    assert_query_matches_oracle(spark, "dedup_clusters", SF_ORACLE)


def test_span_dedup_matches_oracle(spark):
    assert_query_matches_oracle(spark, "span_dedup", SF_ORACLE)


def test_dedup_substring_matches_oracle(spark):
    assert_query_matches_oracle(spark, "dedup_substring", SF_ORACLE)


def test_dedup_substring_interval_union_merges(spark):
    """The covered-token count must be the UNION of overlapping
    [p, p+7] intervals, not 8 x window count: on the near-dup-heavy
    fixture the flagged docs carry runs of consecutive duplicated
    windows, so dup_tokens < 8 * n_dup_windows for at least one doc
    while never dropping below the per-window floor
    (dup_tokens >= n_dup_windows when windows overlap at stride 1,
    and dup_tokens <= n_dup_windows + 7 for one contiguous run)."""
    from pyspark.sql import functions as F

    from conversadocs_spark.plans import QUERIES

    out = QUERIES["dedup_substring"](spark, SF_ORACLE)
    rows = out.collect()
    assert len(rows) > 0
    assert any(r["dup_tokens"] < 8 * r["n_dup_windows"] for r in rows)
    for r in rows:
        assert 1 <= r["dup_tokens"] <= 8 * r["n_dup_windows"]
        assert 0.0 < r["dup_ratio"] <= 1.0
        assert r["keep"] == (r["dup_ratio"] < 0.5)
    # flagged docs are a strict subset of the corpus
    from conversadocs_spark import io

    assert len(rows) < io.table(spark, SF_ORACLE, "documents").count()


def test_rep_level_clusters_equal_pair_level(spark):
    """The representative-level shortcut in dedup_clusters must yield
    exactly the clusters of connected components over the fully
    EXPANDED pair set — including identical-content groups that never
    cross-pair (connected only by their intra pairs). Checked on a
    doubled corpus so such groups exist."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.operators.components import (
        connected_components,
    )
    from conversadocs_spark.operators.dedup import (
        minhash_near_dups,
        minhash_rep_near_dups,
    )

    docs = io.table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text"
    )
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    pair_level = {
        (r.id, r.cluster_id)
        for r in connected_components(
            minhash_near_dups(doubled).select("id1", "id2")
        ).collect()
    }
    rep_pairs, mem = minhash_rep_near_dups(doubled)
    cc = connected_components(
        rep_pairs.select("rid1", "rid2"), src_col="rid1", dst_col="rid2"
    )
    gsz = mem.groupBy("rid").agg(F.count("*").alias("m"))
    rep_level = {
        (r.id, r.cluster_id)
        for r in mem.join(gsz, "rid")
        .join(cc.withColumnRenamed("id", "rid"), "rid", "left")
        .where(F.col("cluster_id").isNotNull() | (F.col("m") >= 2))
        .select(
            "id",
            F.coalesce("cluster_id", F.col("rid")).alias("cluster_id"),
        )
        .collect()
    }
    assert rep_level == pair_level and len(rep_level) > 0


def test_span_dedup_is_discriminating(spark):
    """The C4-style keep-one-occurrence rule must actually remove
    spans on the near-dup-heavy fixture (vacuous pass = useless
    oracle row) and must be idempotent-ish in the aggregate: total
    kept spans equals distinct spans plus sub-8-token remainder
    collisions handled by first-occurrence."""
    from pyspark.sql import functions as F

    from conversadocs_spark.plans import QUERIES

    from conversadocs_spark import io

    d = io.table(spark, SF_ORACLE, "documents")
    n_docs = d.count()
    total_spans = d.select(
        F.ceil(F.size(F.split("text", " ")) / F.lit(8.0)).alias("n")
    ).agg(F.sum("n")).first()[0]
    out = QUERIES["span_dedup"](spark, SF_ORACLE)
    assert out.count() < n_docs  # some documents disappeared entirely
    kept = out.agg(F.sum("n_kept")).first()[0]
    assert kept < total_spans  # duplicate spans were dropped


def test_connected_components_transitive_chain(spark):
    """A-B and B-C (A-C never emitted) must land in ONE cluster with
    min-id survivor — the transitivity case pair-based dedup misses;
    includes a chain longer than one propagation round."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 20)],
        ["id1", "id2"],
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
                   20: 20, 21: 20}


def test_components_chain_converges(spark):
    """Pathological diameter-100 chain (r5 verdict item 7): plain
    min-propagation needs ~100 rounds (> max_iter=25) and previously
    returned silently WRONG labels; path-halving must converge in
    O(log d) rounds, and all 101 nodes collapse to cluster 0."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id1", "id2"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iter=25).collect()
    }
    assert got == {i: 0 for i in range(101)}


def test_components_nonconvergence_raises(spark):
    """If max_iter is exhausted before the fixpoint, the operator must
    RAISE — never return partially-propagated labels (ADVICE r5)."""
    import pytest

    from conversadocs_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id1", "id2"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_components_adaptive_width_restores_conf_and_labels(spark):
    """r15: the loop runs at a width derived from the MEASURED edge
    count (clamped to the session width) and must (a) restore the
    session shuffle width afterward — even when it raises — and
    (b) produce identical labels at every width: force the 1-wide
    path (default edges_per_partition on a tiny graph) and a
    multi-partition path (edges_per_partition=1) and compare."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 5)], ["id1", "id2"]
    )
    want = {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 8: 5, 9: 5}
    narrow = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    wide = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, edges_per_partition=1
        ).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    assert narrow == want and wide == want
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            spark.createDataFrame(
                [(i, i + 1) for i in range(100)], ["id1", "id2"]
            ),
            max_iter=2,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


def test_components_kernel_matches_loop(spark):
    """A graph that fits one partition runs its rounds as one numpy
    kernel in one task (the default here); the same graph at
    edges_per_partition=1 runs the distributed loop. On seeded random
    graphs, a chain of 100 and a star, both give the same labels and
    the same LAST_RUN_ROUNDS, and the chain raises at max_iter=2 on
    both paths after the same round count."""
    import random

    import pytest

    from conversadocs_spark.operators import components

    def run(pairs, **kw):
        got = sorted(
            tuple(r)
            for r in components.connected_components(pairs, **kw).collect()
        )
        return got, components.LAST_RUN_ROUNDS

    graphs = []
    for seed in range(3):
        rng = random.Random(seed)
        n = rng.randint(4, 120)
        graphs.append([
            (rng.randrange(n) * 3, rng.randrange(n) * 3)
            for _ in range(rng.randint(1, n))
        ])
    chain = [(i, i + 1) for i in range(100)]
    graphs += [chain, [(0, i) for i in range(1, 40)]]
    for edges in graphs:
        pairs = spark.createDataFrame(edges, ["id1", "id2"])
        kernel, loop = run(pairs), run(pairs, edges_per_partition=1)
        assert kernel[0] and kernel == loop, edges[:5]
    pairs = spark.createDataFrame(chain, ["id1", "id2"])
    for kw in ({}, {"edges_per_partition": 1}):
        with pytest.raises(RuntimeError, match="did not converge"):
            components.connected_components(pairs, max_iter=2, **kw)
        assert components.LAST_RUN_ROUNDS == 2


@pytest.mark.parametrize("edges_per_partition", [1_000_000, 1])
def test_components_read_pairs_once(spark, tmp_path, edges_per_partition):
    """The bidirectional edge list comes from ONE pass over ``pairs``,
    on the kernel path (default width) and on the distributed loop
    (edges_per_partition=1): every row of a parquet pairs file goes
    through the source plan once per call. A union of the two
    directions runs the plan once per branch, so it counts each row
    twice."""
    from conversadocs_spark.operators.components import (
        connected_components,
    )

    rows = [(i, i + 1) for i in range(0, 60, 2)]
    rows += [(i, i + 3) for i in range(0, 60, 6)]
    path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(rows, "id1 bigint, id2 bigint").write.parquet(
        path
    )
    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    pairs = spark.read.parquet(path).mapInPandas(
        counted, "id1 bigint, id2 bigint"
    )
    labels = connected_components(
        pairs, edges_per_partition=edges_per_partition
    ).collect()
    assert len(labels) == len({n for r in rows for n in r})
    assert seen.value == len(rows)


def test_group_topk_exact_budget_per_stratum(spark):
    """k=20 rows per language, ranks 1..k dense, and the salted
    two-phase plan is a pure function of (seed, doc_id): a
    repartitioned rerun agrees row-for-row."""
    df = QUERIES["sample_group_topk"](spark, SF_ORACLE)
    rows = df.collect()
    per_lang: dict[str, list[int]] = {}
    for r in rows:
        per_lang.setdefault(r["lang"], []).append(r["sample_rank"])
    assert len(per_lang) == 5
    for ranks in per_lang.values():
        assert sorted(ranks) == list(range(1, 21))
    again = (
        QUERIES["sample_group_topk"](spark, SF_ORACLE)
        .repartition(7)
        .collect()
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_length_histogram_partitions_the_corpus(spark):
    """Buckets tile the corpus: doc counts sum to |documents| and each
    bucket's min/max stay inside [bucket_lo, bucket_lo+32) (top bucket
    open-ended)."""
    df = QUERIES["length_histogram"](spark, SF_ORACLE)
    rows = df.collect()
    n_docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet").count()
    )
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["bucket_lo"] <= r["min_tokens"] <= r["max_tokens"]
        if r["bucket_lo"] < 15 * 32:
            assert r["max_tokens"] < r["bucket_lo"] + 32


def test_lm_score_prefers_high_probability_bigrams(spark):
    """Semantics, not just parity: every smoothed log-prob is negative,
    bigram counts agree with token counts (n_words - 1), and the score
    actually discriminates documents (non-constant output)."""
    df = QUERIES["lm_bigram_score"](spark, SF_ORACLE)
    rows = df.collect()
    assert all(r["avg_logprob"] < 0 for r in rows)
    docs = {
        r["doc_id"]: r["n_words"]
        for r in QUERIES["text_stats"](spark, SF_ORACLE)
        .select("doc_id", "n_words")
        .collect()
    }
    for r in rows:
        assert r["n_bigrams"] == docs[r["doc_id"]] - 1
    scores = {r["avg_logprob"] for r in rows}
    assert len(scores) > 100


def test_quality_stack_is_conjunction_and_discriminates(spark):
    """keep must equal the AND of the three per-signal thresholds
    (re-derived from the signal columns the query carries), and the
    filter must neither keep nor drop everything."""
    rows = QUERIES["quality_filter_stack"](spark, SF_ORACLE).collect()
    lm_scores = sorted(r["avg_logprob"] for r in rows)
    # corpus-relative p10 cutoff, same interpolation as the query
    import math

    pos = 0.1 * (len(lm_scores) - 1)
    lo = math.floor(pos)
    cut = round(
        lm_scores[lo]
        + (lm_scores[lo + 1] - lm_scores[lo]) * (pos - lo),
        6,
    )
    n_keep = 0
    for r in rows:
        want = (
            r["quality_score"] >= 0.7
            and r["dup_gram_frac"] <= 0.1
            and r["avg_logprob"] >= cut
        )
        assert r["keep"] == want
        n_keep += want
    assert 0 < n_keep < len(rows)


def test_lm_score_matches_pure_python_reference(spark, tmp_path):
    """Triangulate the LM semantics (oracle parity only proves
    Spark == DuckDB — both could share a wrong formula): an
    independent pure-Python add-one-smoothed bigram LM over a tiny
    hand-built corpus must reproduce the engine's fixed-point scores
    exactly."""
    import math
    from collections import Counter

    from conversadocs_spark.plans.lm import doc_bigrams, lm_scores

    texts = {
        0: "a b a b c",
        1: "a b",
        2: "c c c c",
        3: "solo",          # 1 token: no bigrams, must drop out
        4: "b a b a",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    toks = df.select("doc_id", F.split("text", " ").alias("t"))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in lm_scores(toks, doc_bigrams(toks)).collect()
    }

    # independent reference
    grams: dict[int, list[tuple[str, str]]] = {}
    for i, t in texts.items():
        ws = t.split(" ")
        grams[i] = list(zip(ws, ws[1:]))
    model = Counter(g for gs in grams.values() for g in gs)
    ctx = Counter(g[0] for gs in grams.values() for g in gs)
    vocab = {w for t in texts.values() for w in t.split(" ")}
    lpf = {
        g: round(
            math.log((c + 1.0) / (ctx[g[0]] + len(vocab))) * 1e6
        )
        for g, c in model.items()
    }
    want = {}
    for i, gs in grams.items():
        if not gs:
            continue
        s = sum(lpf[g] for g in gs)
        want[i] = (len(gs), round(s / (len(gs) * 1e6), 6))
    assert got == want
    assert 3 not in got  # the one-token doc dropped out


def test_mixture_weights_equalize_token_mass(spark):
    """Semantics: epochs * n_tokens is (approximately) constant across
    sources below the cap — the equalization property — and shares sum
    to 1."""
    rows = QUERIES["source_mixture_weights"](spark, SF_ORACLE).collect()
    assert len(rows) == 20
    total_share = sum(r["actual_share"] for r in rows)
    assert abs(total_share - 1.0) < 1e-4
    target = sum(r["n_tokens"] for r in rows) / len(rows)
    for r in rows:
        if r["epochs"] < 4.0:  # uncapped: equalized exactly
            assert r["epochs"] * r["n_tokens"] == pytest.approx(
                target, rel=1e-4
            )
        assert 0 < r["epochs"] <= 4.0


def test_group_topk_survives_adversarial_salting(spark, tmp_path):
    """Edge pin for the salted two-phase top-k: a stratum whose ids
    all share ONE salt residue (the worst case for phase 1) must
    still produce exactly the single-window answer, as must strata
    with exactly k and fewer-than-k members."""
    import hashlib

    rows = (
        # 30 docs, all doc_id % 64 == 0 -> one salt bucket holds the
        # whole stratum
        [(64 * i, "x", "src", "t") for i in range(30)]
        # exactly k members
        + [(1000 + i, "y", "src", "t") for i in range(20)]
        # fewer than k members
        + [(2000 + i, "z", "src", "t") for i in range(3)]
    )
    df = spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    )
    df.write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["doc_id"], r["lang"], r["sample_rank"])
        for r in QUERIES["sample_group_topk"](
            spark, str(tmp_path)
        ).collect()
    }
    # single-window reference in plain Python (same seeded md5)
    want = set()
    for lang in ("x", "y", "z"):
        members = [(i, l) for (i, l, _s, _t) in rows if l == lang]
        ordered = sorted(
            members,
            key=lambda m: (
                hashlib.md5(f"topk42:{m[0]}".encode()).hexdigest(),
                m[0],
            ),
        )
        for rank, (i, l) in enumerate(ordered[:20], start=1):
            want.add((i, l, rank))
    assert got == want
    assert sum(1 for _, l, _r in got if l == "x") == 20
    assert sum(1 for _, l, _r in got if l == "z") == 3


def test_kfold_split_is_exhaustive_disjoint_balanced(spark, sf_oracle_dir):
    """Every doc lands in exactly one of 5 folds, and the fold masses
    are within 2x of each other (hash uniformity at n=500)."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["kfold_split"](spark, sf_oracle_dir).collect()
    assert len(rows) == 500
    assert len({r["doc_id"] for r in rows}) == 500
    from collections import Counter

    sizes = Counter(r["fold"] for r in rows)
    assert set(sizes) == {0, 1, 2, 3, 4}
    assert max(sizes.values()) < 2 * min(sizes.values())


def test_stable_row_ids_plan_has_no_global_data_window(
    spark, sf_oracle_dir
):
    """The 100 TB contract for global numbering: the corpus-sized
    window must partition by pid (range partitions), and every
    SinglePartition exchange in the plan must feed directly off a
    HashAggregate (the 16-row partition-count table) — a
    SinglePartition above a scan would mean the one-reducer global
    sort this operator exists to avoid."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["stable_row_ids"](spark, sf_oracle_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(pid" in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        first_child = frag.split("+-", 1)[1].lstrip()
        assert first_child.startswith(
            ("HashAggregate", "*(")
        ) and "HashAggregate" in first_child.split("\n", 1)[0], frag[:300]


def test_mixture_realize_matches_weights(spark, sf_oracle_dir):
    """Realized copy counts must decompose as floor(epochs) +
    Bernoulli(frac): per source, every doc appears either floor or
    floor+1 times, and the total realized token mass moves each
    source toward the uniform target (no source with epochs > 1
    shrinks; no source with epochs < 1 grows)."""
    import math
    from collections import Counter

    from conversadocs_spark.plans import QUERIES

    weights = {
        r["source"]: r["epochs"]
        for r in QUERIES["source_mixture_weights"](
            spark, sf_oracle_dir
        ).collect()
    }
    rows = QUERIES["mixture_realize"](spark, sf_oracle_dir).collect()
    per_doc = Counter((r["source"], r["doc_id"]) for r in rows)
    n_copies = {
        (r["source"], r["doc_id"]): r["n_copies"] for r in rows
    }
    for (src, doc), cnt in per_doc.items():
        ep = weights[src]
        assert cnt in (math.floor(ep), math.floor(ep) + 1), (src, doc)
        assert cnt == n_copies[(src, doc)]
    # copies are uniquely keyed and shuffle keys are distinct
    assert len({r["shuffle_key"] for r in rows}) == len(rows)
    # 0-copy docs (epochs < 1, Bernoulli miss) are genuinely dropped
    docs_in = 500
    assert len({(r["source"], r["doc_id"]) for r in rows}) < docs_in


def test_pretrain_corpus_composes_its_stages(spark, sf_oracle_dir):
    """The composed plan must agree stage-for-stage with the
    individually-verified queries: survivors only (no +1M duplicate
    ids), no eval docs, exactly the docs contamination_ngram scores
    > 0.5 dropped, and split/fold columns identical to
    corpus_split_shuffle / kfold_split for every surviving doc."""
    from conversadocs_spark.plans import QUERIES

    out = {
        r["doc_id"]: r
        for r in QUERIES["pretrain_corpus"](spark, sf_oracle_dir).collect()
    }
    assert out and all(k < 1000000 for k in out)
    assert all(k >= 20 for k in out)
    contam = {
        r["doc_id"]: r["contamination"]
        for r in QUERIES["contamination_ngram"](
            spark, sf_oracle_dir
        ).collect()
    }
    dropped = {k for k, c in contam.items() if c > 0.5}
    assert set(contam) - dropped == set(out)
    splits = {
        r["doc_id"]: r["split"]
        for r in QUERIES["corpus_split_shuffle"](
            spark, sf_oracle_dir
        ).collect()
    }
    folds = {
        r["doc_id"]: r["fold"]
        for r in QUERIES["kfold_split"](spark, sf_oracle_dir).collect()
    }
    for k, r in out.items():
        assert r["split"] == splits[k] and r["fold"] == folds[k]


def test_observed_clean_metrics_match_recompute(spark, sf_oracle_dir):
    """Every observed metric must equal an independent recompute, and
    rows_out must equal the survivor filter's own count — the
    one-pass metrics are real measurements, not estimates (except the
    explicitly-approx language cardinality, checked exact here
    because 5 distinct langs is far below HLL error range)."""
    from pyspark.sql import functions as F

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    row = QUERIES["observed_clean"](spark, sf_oracle_dir).collect()[0]
    d = io.table(spark, sf_oracle_dir, "documents")
    assert row["rows_in"] == d.count()
    assert row["too_short"] == d.where(F.length("text") < 50).count()
    assert row["langs_approx"] == d.select("lang").distinct().count()
    assert row["rows_out"] == d.where(
        (F.length("text") >= 50) & (F.col("lang") == "en")
    ).count()


def test_training_order_write_realizes_global_order(
    spark, sf_oracle_dir, call_dirs
):
    """The written training set must hold the global shuffle order
    WITHOUT a global sort: per-file key ranges are pairwise disjoint
    (so file order = global order), every file is internally sorted,
    and the union of files is exactly the train split."""
    from pyspark.sql import functions as F

    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.plans.pipeline import corpus_split_shuffle

    stats = QUERIES["training_order_write"](spark, sf_oracle_dir).collect()
    assert len(stats) == 8
    ranges = sorted((r["key_lo"], r["key_hi"]) for r in stats)
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert lo1 <= hi1 < lo2
    (base,) = call_dirs["train_order"]
    written = spark.read.parquet(base)
    # per-file sortedness
    per_file = written.select(
        F.input_file_name().alias("f"), "shuffle_key"
    ).collect()
    by_file: dict = {}
    for r in per_file:
        by_file.setdefault(r["f"], []).append(r["shuffle_key"])
    assert all(keys == sorted(keys) for keys in by_file.values())
    # exhaustiveness vs the split definition
    want = {
        r["doc_id"]
        for r in corpus_split_shuffle(spark, sf_oracle_dir)
        .where("split = 'train'")
        .collect()
    }
    got = {r["doc_id"] for r in written.collect()}
    assert got == want


def test_token_budget_select_boundary_bucket_prefix(spark, tmp_path):
    """Planted fixture where the budget cuts INSIDE the first quality
    bucket: three identical-quality 60-token docs (ids 0,1,2) and two
    lower-quality 100-token docs; budget = 25% of 380 = 95 tokens, so
    exactly doc 0 fits (60 <= 95, 120 > 95) — the boundary bucket
    must resolve by doc_id prefix, not drop or take the whole
    bucket."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [" ".join(["a"] * 60)] * 3 + [" ".join(["b"] * 100)] * 2
    tbl = pa.table(
        {
            "doc_id": pa.array(range(5), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * 5),
            "source": pa.array(["s"] * 5),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    from conversadocs_spark.plans import QUERIES

    got = QUERIES["token_budget_select"](spark, str(tmp_path)).collect()
    assert {r.doc_id for r in got} == {0}, got
    assert got[0].n_tokens == 60


def test_token_budget_select_no_global_sort_of_corpus(
    spark, sf_oracle_dir
):
    """Scale pin: the oracle's semantics are a GLOBAL-order running
    sum, but the plan must not contain one — no range-partitioned
    (global sort) exchange anywhere; the bucket set joins back onto
    the corpus scan as a broadcast hash join."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["token_budget_select"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan, (
        "corpus-wide sort crept in — the bucket decomposition is gone"
    )
    assert "BroadcastHashJoin" in plan


def test_dsir_select_selects_target_like_pool_docs(
    spark, sf_oracle_dir
):
    """DSIR invariants beyond the oracle hash: exactly 50 rows, every
    selected doc comes from the raw POOL (never the 'src0' target
    itself), weights arrive sorted descending with doc_id tie-break,
    and the scores are non-degenerate (the fixtures' sources differ
    enough that not every weight is identical)."""
    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["dsir_select"](spark, sf_oracle_dir).collect()
    assert len(rows) == 50
    target_ids = {
        r.doc_id
        for r in io.table(spark, sf_oracle_dir, "documents")
        .where(F.col("source") == "src0")
        .select("doc_id")
        .collect()
    }
    assert not ({r.doc_id for r in rows} & target_ids)
    keys = [(-r.log_weight, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    assert len({r.log_weight for r in rows}) > 1
    assert all(r.n_tokens > 0 for r in rows)


def test_dsir_select_scale_plan_shape(spark, sf_oracle_dir):
    """Scale pins: the B=64 weight table must come back to the token
    stream as a BROADCAST hash join (never a shuffled join keyed on
    the bucket), and the top-50 cut must be TakeOrderedAndProject —
    no global range-partitioned sort of the scored corpus."""
    from conversadocs_spark.plans import QUERIES

    df = QUERIES["dsir_select"](spark, sf_oracle_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, (
        "global sort crept in — the top-k cut must stay TakeOrdered"
    )
    assert "BroadcastHashJoin [b" in plan, plan


def test_contamination_bloom_no_false_negatives(spark, sf_oracle_dir):
    """The Bloom screen must dominate the exact screen per document
    (a set bit can only over-report, never under-report), and the
    false-positive mass must stay under the (1 - e^(-kn/m))^k
    envelope's practical budget on the fixtures (<5% of clean
    grams)."""
    from conversadocs_spark.plans import QUERIES

    exact = {
        r.doc_id: r.n_shared
        for r in QUERIES["contamination_ngram"](
            spark, sf_oracle_dir
        ).collect()
    }
    bloom_rows = QUERIES["contamination_bloom"](
        spark, sf_oracle_dir
    ).collect()
    assert set(exact) == {r.doc_id for r in bloom_rows}
    fp = clean = 0
    for r in bloom_rows:
        assert r.n_flagged >= exact[r.doc_id], r.doc_id
        fp += r.n_flagged - exact[r.doc_id]
        clean += r.n_grams - exact[r.doc_id]
    assert fp / clean < 0.05, (fp, clean)
    # the screen provably fires on the planted near-dups
    assert any(r.n_flagged > 0 for r in bloom_rows)


def test_dsir_resample_diversifies_selection(spark, sf_oracle_dir):
    """Gumbel resampling invariants: 50 rows, pool-only docs, keys
    sorted descending with doc_id tie-break, and the draw must NOT
    equal the deterministic top-k (the perturbation is the point) —
    while still overlapping it (high-importance docs stay likely)."""
    from conversadocs_spark.plans import QUERIES

    sel = [
        r.doc_id
        for r in QUERIES["dsir_select"](spark, sf_oracle_dir).collect()
    ]
    res_rows = QUERIES["dsir_resample"](spark, sf_oracle_dir).collect()
    res = [r.doc_id for r in res_rows]
    assert len(res) == 50 and len(set(res)) == 50
    assert min(res) >= 0
    keys = [(-r.gumbel_key, r.doc_id) for r in res_rows]
    assert keys == sorted(keys)
    assert set(res) != set(sel)
    assert len(set(res) & set(sel)) >= 5


def test_mixture_temperature_flattens_toward_uniform(
    spark, sf_oracle_dir
):
    """Temperature tau=0.3 must sit BETWEEN natural and uniform:
    shares sum to 1, every head source (above-average token mass) is
    down-boosted (<1) and every tail source up-boosted (>1), and the
    temp_share ordering preserves the n_tokens ordering (pow is
    monotonic)."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["mixture_temperature"](
        spark, sf_oracle_dir
    ).collect()
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.actual_share for r in rows) - 1.0) < 1e-4
    mean_tokens = sum(r.n_tokens for r in rows) / len(rows)
    for r in rows:
        if r.n_tokens > mean_tokens * 1.05:
            assert r.boost < 1.0, r
        if r.n_tokens < mean_tokens * 0.95:
            assert r.boost > 1.0, r
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    shares = [r.temp_share for r in by_tokens]
    assert shares == sorted(shares)


def test_seq_pack_matches_oracle(spark, sf_oracle_dir):
    """The arrival-order greedy packer replays in DuckDB's recursive
    CTE — full assignment (shard-stride pack_id embedding included)
    value-hashed (promoted r12; the seq_pack_ffd technique with
    simpler state)."""
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(spark, "seq_pack", sf_oracle_dir)
