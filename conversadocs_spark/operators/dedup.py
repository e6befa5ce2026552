"""Deduplication operators for large-scale text corpora (north-star
surface: exact, n-gram Jaccard, MinHash LSH, SimHash).

The reference rebuilds its corpus index from scratch per upload and
never dedups (R7/R8); at 100 TB training-data scale dedup is the
first-class operator these build on the reference's chunk/text model.

Scale shapes:
- exact: one hash-shuffle on a 64-hex digest, min-id winner per group.
- n-gram Jaccard: exact pairwise — bounded candidate set only (it is
  O(n^2)); the scaled path is MinHash LSH below.
- MinHash LSH: per-row signatures (linear), banding -> bucket join
  (near-linear when bands are selective), exact Jaccard re-check on
  candidates only.
- SimHash: per-row 64-bit signature; hamming-ball probing via band
  rotation is left to the caller (bucket on signature prefixes).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col: F.Column) -> F.Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per normalized-text group.

    dropDuplicates() picks an arbitrary survivor; a window min makes
    the result deterministic (and therefore oracle-checkable).
    """
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    w = Window.partitionBy("text_hash").orderBy(F.asc(id_col))
    return (
        df.withColumn("text_hash", h)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_ngrams(col: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as array<string> (pure Catalyst:
    split -> sequence -> transform -> array_distinct).

    NOTE: ``col`` should be an already-materialized token ARRAY or a
    plain column reference, not a nested expression — this function
    references its input once per array element inside ``transform``
    lambdas, and Catalyst re-evaluates a nested expression (e.g. a
    regex split) at every reference: measured 10x on the shingle
    stage. ``shingle_docs`` below is the fused two-step form the
    dedup operators use."""
    toks = F.split(col, r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(toks, i + 1, n)
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def shingles_from_tokens(t: F.Column, n: int) -> F.Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column. ``t`` must be a plain column reference to a computed
    array attribute (see the lambda-recompute note on word_ngrams)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))
    )
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(
            F.array(F.concat_ws(" ", t))
        )
    )


def shingle_docs(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingles) with the token array materialized FIRST, so the
    n-gram lambdas slice a computed array attribute instead of
    re-running the regex split once per element (the naive inlined
    form cost 10x on the shingle stage at sf0.1)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), r"\s+").alias("toks"),
    )
    return toks.select(
        "id", shingles_from_tokens(F.col("toks"), n).alias("shingles")
    )


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def hashed_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, hs): each shingle hashed to a long exactly once — the
    two-level-hashing first stage shared by the batch
    (minhash_rep_near_dups) and incremental (operators/incremental.py)
    MinHash paths. ``hs`` is non-empty for EVERY input row — the CASE
    below always yields >= 1 element (sequence(0, greatest(..)) is
    never empty; the ELSE arm is a 1-element array; xxhash64 returns
    the seed, not null, even for a null token array), so no guard
    filter is needed. An explicit ``where(size(hs) > 0)`` used to sit
    here "defensively"; Catalyst pushed it below the projection and
    re-evaluated the ENTIRE shingle-hash expression once more per
    input row in every consumer (r16, measured: the pushed filter
    doubled the tokenize+hash work of the minhash cache build and of
    contamination_ngram). Proven value-identical with and without the
    filter on null/empty/short-text rows (tests/test_dedup.py pins
    the never-empty property).

    The shingle long is xxhash64 of the n-token ARRAY SLICE directly
    (r15): the old form concat_ws'd every slice into a string only to
    hash it once, materializing ~tokens x ~30 B of join output per doc
    (guide §1.2 per-row allocation). Equality is preserved exactly:
    tokens come from a whitespace split so they contain no spaces,
    making the " "-join injective — two slices collide as strings iff
    they are equal as arrays — and distinct shingles collide in 64
    bits at the same 2^-64 budget under either family. Downstream
    (signatures, banding, jaccard re-check) consumes only hs longs,
    and no oracle replays xxhash64 values (that is what the md5 twin
    is for), so pair output is unchanged; LSH == brute-force recall
    is re-pinned per SF by the test suite under this family. Measured
    on the isolated keyed-build stage at sf0.1: 2.64-3.01 s ->
    2.43-2.46 s wall, tree_cpu 2.94-3.44 -> 2.70-2.81, identical
    group structure (4992 groups)."""
    # Built as TWO fused selectExpr ops (r16): the bench re-builds
    # every query per timed run, and composing this expression through
    # per-Column py4j calls measured ~2x the construction cost of
    # parsing one SQL string JVM-side (identical analyzed expressions
    # either way — see OPTIMIZATION_r16.md, driver-chatter section).
    toks_rel = df.selectExpr(
        f"{id_col} as id", rf"split({text_col}, '\\s+') as toks"
    )
    return toks_rel.selectExpr(
        "id",
        f"""array_distinct(
          CASE WHEN size(toks) >= {n}
            THEN transform(
              sequence(0, greatest(size(toks) - {n}, 0)),
              i -> xxhash64(slice(toks, i + 1, {n})))
            ELSE array(xxhash64(toks))
          END) as hs""",
    )


def minhash_signatures(
    hs_df: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """(id, sig) from (id, hs): signature[i] = min over hashed
    shingles of xxhash64(h, i), built in ONE aggregate fold carrying a
    num_hashes-wide running-min array (see minhash_rep_near_dups for
    the measured rejections of the per-seed, explode+groupBy, and
    Kirsch-Mitzenmacher forms).

    REJECTED (r16, measured — do not resurrect without re-measuring):
    a mapInArrow NumPy kernel replicating XXH64 hashLong/hashInt
    bit-exactly (signatures byte-identical on all 3 SFs). Its pure
    compute IS ~2.4x cheaper (isolated 1-partition stage: 1.3 s wall /
    1.5 CPU-s -> 0.5 s / 0.6 CPU-s at sf0.1), but per-stage
    Python-boundary latency (~0.3-0.4 s per query even with warm,
    reused workers; 32-task worker fan-out pays ~5 CPU-s per cold
    session) swamps it: full-bench A/B regressed dedup_minhash
    1.40 -> 1.64 s and dedup_clusters 2.67 -> 3.47 s (tree_cpu 22 ->
    38). Profiling showed the fold is only ~1.4 of dedup_minhash's
    ~4.4 executor-CPU-seconds at sf0.1 — the bench row's remaining
    cost is driver-side plan build + dispatch, not this expression.
    At 100 TB per-task volume the boundary would amortize; revisit
    only with a measured at-scale win (OPTIMIZATION_r16.md)."""
    # one parsed SQL string instead of per-Column py4j composition
    # (r16 construction-chatter cut; identical analyzed expression)
    return hs_df.selectExpr(
        "id",
        f"""aggregate(
          hs,
          transform(sequence(0, {num_hashes - 1}),
                    b -> {(1 << 63) - 1}L),
          (acc, h) -> zip_with(
            acc, sequence(0, {num_hashes - 1}),
            (m, i) -> least(m, xxhash64(h, i)))
        ) as sig""",
    )


def minhash_banded(
    sig_df: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, band_hash) from (id, sig): one SLIM row per band —
    shingle arrays deliberately do NOT enter the bucket-join shuffle
    (they are re-joined by id only for surviving candidates).

    band_hash hashes the BIGINT slice directly (Spark's hash
    expressions recurse into arrays) instead of the old
    cast-to-string + concat_ws form (r15, guide §4.2 spirit: no
    per-element string materialization) — per rep this removes
    num_hashes string casts and bands string builds. Bucket keys
    change value but not semantics: equal slices still collide
    exactly, unequal slices collide with the same 2^-64 budget, so
    candidate recall is unchanged (LSH == brute-force pinned by
    tests/test_dedup.py either way)."""
    band_exprs = ", ".join(
        f"xxhash64(slice(sig, {b * rows_per_band + 1}, "
        f"{rows_per_band}))"
        for b in range(bands)
    )
    return sig_df.selectExpr(
        "id",
        f"posexplode(array({band_exprs})) as (band, band_hash)",
    )


def _expand_member_pairs(buckets: DataFrame) -> DataFrame:
    """Explode a (ms = sorted member array) relation into its (i < j)
    in-bucket combinations — one row per pair, p1/p2 payload structs.

    ``inline`` (one fused selectExpr) replaces the old
    explode + project pair of ops: same generated rows, one analyzed
    op and one parsed string instead of two py4j-composed ops (r16
    construction-chatter cut). Callers filter to size(ms) >= 2, so
    sequence(1, size(ms) - 1) is always ascending."""
    return buckets.selectExpr(
        """inline(flatten(transform(
             sequence(1, size(ms) - 1),
             i -> transform(
               slice(ms, i + 1, size(ms)),
               y -> named_struct('p1', element_at(ms, i), 'p2', y)))))"""
    )


def bucket_pairs(
    bucketed: DataFrame,
    key_cols: list[str],
    payload: F.Column,
    hot_cap: int | None = 4096,
) -> DataFrame:
    """(id-sorted) candidate pairs per bucket WITHOUT a self-join:
    groupBy the bucket key, collect the members, explode the (i < j)
    combinations in-bucket. One pass over the input and ONE shuffle
    (the groupBy) versus the self-join's two upstream recomputations +
    two exchanges — measured 1.5x on dedup_minhash at sf0.1, and the
    same shape survives 100 TB (bucket members were always going to
    pair up; the join materialized the identical pair set).

    ``payload`` is a struct column whose FIRST field must be the id —
    array_sort orders structs field-by-field, so sorting gives id
    order and the (i < j) expansion yields id1 < id2.

    **Hot-bucket cap** (``hot_cap``): a bucket whose population scales
    with corpus size (ubiquitous boilerplate pushing thousands of
    DISTINCT docs into one band bucket — identical-content collapse
    upstream can't help, the docs differ) would make the in-bucket
    expansion quadratic in both candidate count and single-row memory.
    Buckets with more than ``hot_cap`` members are therefore SALTED:
    members split into ceil(n/hot_cap) deterministic sub-buckets
    (xxhash64 of the payload) and pairs form only within a sub-bucket,
    bounding that bucket's candidates at ~n*hot_cap/2 — linear in n
    for fixed cap — and its per-row memory at ~hot_cap^2 structs.
    Recall: losing cross-sub-bucket pairs only weakens HOT bands, and
    banding already tolerates per-band misses by design (a true pair
    collides in ~bands*J^r independent bands, and a thousands-member
    bucket is boilerplate collision, not discriminative similarity —
    the standard LSH posture). The planted-boilerplate test in
    tests/test_dedup.py pins both the candidate bound and the recall
    invariant; the exact-equals-brute-force oracle fixture has no hot
    buckets, so its pair set is untouched. Pass ``hot_cap=None`` to
    disable (the uncapped pre-r7 behavior).

    Mechanically ONE branch for both cases: a window count over the
    bucket key sizes every bucket, the salt is
    pmod(hash, ceil(size/hot_cap)) — which is CONSTANT 0 for every
    cold bucket (ceil(n/cap) = 1), so cold buckets aggregate exactly
    as before — and a single groupBy on (key, salt) collects members.
    No union, no recomputed subtree; the only extra work over the
    uncapped form is the window count plus a slim reshuffle onto the
    salted key.

    Returns one row per in-bucket pair with columns p1/p2 (the payload
    structs); callers dedupe across buckets on the pair ids."""
    members = F.array_sort(F.collect_set("pv"))
    rows = bucketed.select(
        *[F.col(k) for k in key_cols], payload.alias("pv")
    )
    if hot_cap is None:
        buckets = (
            rows.groupBy(*key_cols)
            .agg(members.alias("ms"))
            .where(F.size("ms") >= 2)
        )
        return _expand_member_pairs(buckets)
    # one fused selectExpr (window count inlined into the salt
    # expression) instead of two py4j-composed withColumns; the _bn
    # intermediate column never outlives the salt computation, so it
    # is not materialized at all (r16 construction-chatter cut).
    salted = rows.selectExpr(
        "*",
        f"""pmod(
          xxhash64(pv),
          cast(ceil((count(*) over (partition by
            {", ".join(key_cols)})) / {hot_cap}) as bigint)
        ) as _salt""",
    )
    buckets = (
        salted.groupBy(*key_cols, "_salt")
        .agg(members.alias("ms"))
        .where(F.size("ms") >= 2)
    )
    return _expand_member_pairs(buckets)


def dedup_ngram_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all (id1 < id2) pairs with
    similarity >= threshold. O(n^2) — use on bounded candidate sets;
    the LSH variant is the at-scale path."""
    sh = shingle_docs(df, text_col, id_col, n)
    a = sh.alias("a")
    b = sh.alias("b")
    sim = jaccard(F.col("a.shingles"), F.col("b.shingles"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(sim, 6).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def _persist_owned(df: DataFrame, cache_holder: list | None) -> DataFrame:
    """``df`` persisted MEMORY_AND_DISK; appended to ``cache_holder``
    only when this call created the cache entry, i.e. when no identical
    plan was cached before (see minhash_rep_near_dups)."""
    level = df.storageLevel
    owned = not (level.useMemory or level.useDisk or level.useOffHeap)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if owned and cache_holder is not None:
        cache_holder.append(df)
    return df


def minhash_rep_near_dups(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_holder: list | None = None,
    hot_cap: int | None = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Representative-level MinHash LSH: returns
    ``(rep_pairs, membership)`` where rep_pairs is
    (rid1, rid2, jaccard_sim >= threshold) over one representative per
    identical-content group (same hashed-shingle SET) and membership
    is (id, rid) mapping every doc to its group representative.

    This is the layer consumers should prefer when they don't need
    the fully-expanded pair set: on duplicate-heavy corpora the id
    pair set is quadratic in the copy count BY DEFINITION, while the
    representative pair set stays distinct-content-sized —
    dedup_clusters builds connected components here and maps members
    afterward, staying output-linear.

    The hashed-shingle relations are persisted (see comment below)
    and lazily-returned results give no natural unpersist point, so
    long-lived sessions otherwise accumulate cache entries until LRU
    eviction (r5 ADVICE). Callers that fully materialize results can
    pass ``cache_holder=[]`` and ``unpersist()`` its entries once
    done (dedup_clusters does, after components converge).

    ``cache_holder`` gets only the entries this call created: cached
    plans match across queries, and an entry that was already cached
    (say by an earlier dedup_minhash whose lazy result still reads it)
    belongs to that query, so it is reused but never listed.
    """
    rows_per_band = num_hashes // bands
    # signature[i] = min over shingles of xxhash64(h(shingle), i),
    # built in ONE aggregate pass carrying a num_hashes-wide
    # running-min array (zip_with folds every seed per shingle). The
    # per-seed form (num_hashes separate transform+array_min
    # expressions) computes identical values but its expression tree
    # is num_hashes x larger, which bloats codegen and measured 1.5x
    # slower on the signature stage at sf0.1 (same pathology as the
    # simhash64 rewrite above).
    #
    # Two-level hashing: each shingle STRING is hashed to a long
    # exactly once (the materialized `hs` transform below — per
    # element, not per seed), and the per-seed family re-hashes that
    # fixed-width long. Cost per shingle drops from
    # O(len * num_hashes) to O(len + num_hashes) while the family
    # stays independent (seed rides as the second xxhash64 column;
    # cross-shingle long collisions are 2^-64 — unlike the REJECTED
    # correlated double-hashing family below). Identical 256-pair
    # output and ~5% at sf1; the term it removes grows with shingle
    # width, not corpus size.
    #
    # REJECTED (r5, measured at sf0.1): explode(hs) + groupBy(id) with
    # 64 min(xxhash64(h, i)) columns — same hash count, no per-shingle
    # array allocation, map-side partial mins — ran 2.1x SLOWER than
    # this fold (3.0s vs 1.4s signature stage): the 64-wide hash-agg
    # buffer update per exploded row costs more than the fold's array
    # churn, and it adds an exchange. The per-seed transform form
    # (64 array_min(transform(hs, ...)) expressions) is 12x slower.
    #
    # REJECTED: Kirsch-Mitzenmacher double hashing (h_i = h1 + i*h2,
    # 2 string hashes per shingle instead of num_hashes) measured no
    # faster even with (h1, h2) pre-materialized as structs — 3-word
    # shingles hash cheaply, the 64-wide fold dominates — and the
    # correlated family MISSED 2 of 256 fixture pairs at jaccard
    # 0.92/0.96 (independence predicts ~1e-13 misses), breaking
    # LSH-equals-brute-force and with it the oracle check.
    # The keyed hashed-shingle table is consumed several times (group
    # reps, membership, the rep signature pass, both exact-re-check
    # join branches), and Catalyst recomputes an unpersisted subtree
    # per reference — so without the persist the corpus would be
    # tokenized+shingled+hashed once per consumer. MEMORY_AND_DISK
    # holds one slim (id, array<long>, key) row per doc (~8B/shingle;
    # spills, never OOMs), turning the operator into ONE parse pass +
    # cache reads (released through cache_holder; see the docstring).
    # Identical-content collapse (same pattern as simhash stage 1,
    # r6): group docs by their order-insensitive hashed-shingle SET
    # and run signature/banding/re-check on ONE representative per
    # group. Duplicate-heavy corpora otherwise pay a copies^2 factor
    # in candidates AND exact re-checks that no banding parameter can
    # remove (identical sets collide in every band). Group key =
    # xxhash64 of the sorted hashed-shingle array; a key collision
    # would merge two genuinely different docs (P ~ n^2/2^64 — the
    # same collision budget as the hashed re-check below, pinned vs
    # the string-exact oracle by the test suite). Empty-shingle docs
    # are dropped up front: they can never reach the output (their
    # jaccard is 0/0 = null against anything), and their degenerate
    # all-identical signatures otherwise bucket together wastefully.
    # ck hashes the sorted BIGINT array directly (r15): the old form
    # cast every hashed shingle to a string and concat_ws'd ~KBs per
    # doc just to feed xxhash64 — the array overload hashes the same
    # information with zero string materialization. Group membership
    # is unchanged: equal shingle sets still collide exactly, and the
    # accidental-collision budget stays ~n^2/2^64 (pinned vs the
    # string-exact oracle by the test suite).
    keyed = _persist_owned(
        hashed_shingles(df, text_col, id_col, n)
        .selectExpr("id", "hs", "xxhash64(array_sort(hs)) as ck"),
        cache_holder,
    )
    # ONE groupBy yields both the representative id and its shingle
    # array (min_by rides the same partial aggregation), so no extra
    # join is needed to recover the representative's content. reps is
    # persisted as well: it feeds membership, the signature pass, and
    # both re-check branches — distinct-content-sized, slim.
    reps = _persist_owned(
        keyed.groupBy("ck").agg(
            F.min("id").alias("rid"),
            F.min_by("hs", "id").alias("hs"),
        ),
        cache_holder,
    )
    mem = keyed.join(reps.select("ck", "rid"), "ck").select("id", "rid")
    rep_hs = reps.selectExpr("rid as id", "hs")
    sig = minhash_signatures(rep_hs, num_hashes)
    banded = minhash_banded(sig, bands, rows_per_band)
    # candidate pairs via in-bucket combination explode (bucket_pairs):
    # ONE pass over banded rows and one groupBy shuffle — the previous
    # self-join recomputed the whole shingle->sig->band pipeline for
    # both sides (measured 1.5x slower at sf0.1).
    cand = (
        bucket_pairs(
            banded,
            ["band", "band_hash"],
            F.struct(F.col("id")),
            hot_cap=hot_cap,
        )
        .selectExpr("p1.id as id1", "p2.id as id2")
        .dropDuplicates(["id1", "id2"])
    )
    # exact re-check on candidates only: two id-keyed joins fetch the
    # hashed shingles of the surviving pairs from the persisted `hs`
    # relation — each branch is a cache read, not a corpus re-parse.
    #
    # REJECTED alternative (measured, do not resurrect blindly):
    # joining cand against the raw (id, text) columns and shingling
    # AFTER the join makes the re-check O(candidate PAIRS) instead of
    # O(corpus). That wins when pairs are rare (~1.15x at sf0.1, 256
    # pairs over 5k docs) but each doc's shingles are then recomputed
    # once per pair it appears in — and near-dup corpora have high
    # pair multiplicity by construction (a k-copy duplicate group
    # yields k(k-1)/2 pairs). The 10x gate's 10-copy groups made it
    # 3x SLOWER (12.3s -> 33.9s at sf1, 250k pairs over 50k docs).
    # Corpus-linear is the shape that survives 100 TB.
    # The re-check compares HASHED shingle sets (the persisted `hs`
    # longs), not the strings: |A∩B|/|A∪B| is preserved exactly unless
    # two distinct shingles of a candidate pair collide in 64 bits
    # (P ~ s^2/2^64 per pair — vanishing, and pinned against the
    # brute-force STRING oracle by the test suite). Longs compare
    # cheaper than strings in array_intersect/array_union, and the
    # cached read replaces a full re-shingling of the corpus per
    # branch.
    cand = (
        cand.join(rep_hs.selectExpr("id as id1", "hs as sh1"), "id1")
        .join(rep_hs.selectExpr("id as id2", "hs as sh2"), "id2")
    )
    rep_pairs = cand.selectExpr(
        "id1 as rid1",
        "id2 as rid2",
        "round(cast(size(array_intersect(sh1, sh2)) as double)"
        " / cast(size(array_union(sh1, sh2)) as double), 6)"
        " as jaccard_sim",
    ).where(F.col("jaccard_sim") >= threshold)
    return rep_pairs, mem


def minhash_near_dups(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_holder: list | None = None,
    hot_cap: int | None = 4096,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified by exact
    Jaccard — the standard shingle->minhash->band->bucket-join pipeline
    in pure DataFrame ops (xxhash64 with per-function seeds; no UDF).

    rows/bands chosen so the S-curve threshold (1/bands)^(1/rows)
    ~ matches ``threshold``. Returns (id1, id2, jaccard_sim) with
    jaccard_sim >= threshold, exactly re-checked — so the output is
    identical to the brute-force join whenever LSH recall is 1 for the
    surviving pairs.

    r6: delegates to ``minhash_rep_near_dups`` (identical-content
    collapse — signature, banding, candidates, re-check all run per
    DISTINCT content) and expands the representative pairs back to id
    pairs with output-sized joins: cross pairs inherit the
    representative pair's similarity (identical shingle sets by
    construction); intra pairs within an identical-content group are
    jaccard 1.0 exactly. Pinned by
    tests/test_dedup.py::test_minhash_collapse_on_duplicated_corpus.
    See minhash_rep_near_dups for the cache_holder contract: it lists
    only the cache entries this call created, never a shared one.
    """
    rep_pairs, mem = minhash_rep_near_dups(
        df,
        threshold=threshold,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        text_col=text_col,
        id_col=id_col,
        cache_holder=cache_holder,
        hot_cap=hot_cap,
    )
    cross = (
        rep_pairs.join(
            mem.selectExpr("rid as rid1", "id as ida"), "rid1"
        )
        .join(mem.selectExpr("rid as rid2", "id as idb"), "rid2")
        .selectExpr(
            "least(ida, idb) as id1",
            "greatest(ida, idb) as id2",
            "jaccard_sim",
        )
    )
    m1 = mem.alias("m1")
    m2 = mem.alias("m2")
    intra = m1.join(
        m2,
        F.expr("m1.rid = m2.rid AND m1.id < m2.id"),
    ).selectExpr(
        "m1.id as id1",
        "m2.id as id2",
        "cast(1.0 as double) as jaccard_sim",
    )
    # cross (different groups) and intra (same group) are disjoint,
    # and candidate pairs were deduped before expansion.
    return cross.unionByName(intra)


def minhash_near_dups_md5(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Oracle-REPLAYABLE MinHash LSH twin (the simhash64_md5 move
    applied to the minhash family): the same banded pipeline shape as
    :func:`minhash_near_dups` — distinct word n-gram shingles ->
    per-seed signature mins -> band values -> in-bucket pair explode
    (the shared ``_expand_member_pairs`` machinery) -> exact-Jaccard
    re-check — but every hash is md5-DERIVED (per-seed hash of a
    shingle = the first 15 hex chars of md5("{seed}:{shingle}") as a
    60-bit BIGINT; band value = the comma-joined min string, not an
    xxhash64), so a DuckDB oracle replays every signature, every
    bucket, and every surviving pair bit for bit. Unlike the simhash
    pigeonhole (banding there is EXACT for radius <= bands-1), MinHash
    banding is probabilistic — so the checkable contract is the
    PIPELINE itself: output pairs are exactly {share >= 1 band} AND
    {exact Jaccard >= threshold}, which the oracle recomputes
    independently. The xxhash64 production path (two-level hashing,
    identical-content collapse, hot-bucket caps) stays
    :func:`minhash_near_dups`; this twin is for bounded value-checked
    fixtures (dedup_minhash_exact)."""
    rows = num_hashes // bands
    sh = shingle_docs(df, text_col, id_col, n)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = sh.select(
        "id",
        F.aggregate(
            "shingles",
            F.transform(seeds, lambda _i: F.lit(1 << 62).cast("long")),
            lambda acc, sng: F.zip_with(
                acc,
                seeds,
                lambda m, i: F.least(
                    m,
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    i.cast("string"), F.lit(":"), sng
                                ).cast("binary")
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                ),
            ),
        ).alias("sig"),
    )
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bval"),
    )
    buckets = (
        banded.groupBy("band", "bval")
        .agg(F.sort_array(F.collect_set("id")).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    cand = (
        _expand_member_pairs(buckets)
        .select(F.col("p1").alias("id1"), F.col("p2").alias("id2"))
        .distinct()
    )
    hs = sh.select(
        "id",
        F.array_distinct(
            F.transform(
                "shingles",
                lambda sng: F.conv(
                    F.substring(F.md5(sng.cast("binary")), 1, 15),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("hs"),
    )
    j = jaccard(F.col("h1"), F.col("h2"))
    return (
        cand.join(
            hs.select(F.col("id").alias("id1"), F.col("hs").alias("h1")),
            "id1",
        )
        .join(
            hs.select(F.col("id").alias("id2"), F.col("hs").alias("h2")),
            "id2",
        )
        .where(j >= threshold)
        .select("id1", "id2", F.round(j, 6).alias("jaccard_sim"))
    )


def simhash64(col: F.Column) -> F.Column:
    """64-bit SimHash of whitespace tokens, as a signed long column.

    For each bit position, sum +1/-1 votes from each token's xxhash64
    bit, then take the sign — all in Catalyst expressions. ONE
    ``aggregate`` pass over the token hashes carries a 64-wide vote
    array (``zip_with`` updates all counters per token); the sign bits
    are then folded into a long as two 32-bit halves (an ``acc*2+bit``
    horner fold per half never exceeds 2^32, so it cannot overflow
    under ANSI mode). An earlier version ran 64 separate aggregate
    passes — same O(64·|tokens|) work but a 64x larger expression tree,
    which blew up codegen size and compile time.
    """
    toks = F.array_distinct(F.split(col, r"\s+"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bits = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        hashes,
        F.transform(bits, lambda b: F.lit(0)),
        lambda acc, h: F.zip_with(
            acc,
            bits,
            lambda a, b: a
            + F.when(F.bit_get(h, b) == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )

    def _fold(sl: F.Column) -> F.Column:
        # [v_hi..v_lo] -> unsigned 32-bit word of sign bits
        return F.aggregate(
            sl,
            F.lit(0).cast("long"),
            lambda acc, v: acc * 2
            + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        )

    hi = _fold(F.reverse(F.slice(votes, 33, 32)))  # bits 63..32
    lo = _fold(F.reverse(F.slice(votes, 1, 32)))  # bits 31..0
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash64_md5(col: F.Column) -> F.Column:
    """64-bit SimHash whose per-token hash is md5-DERIVED — two
    32-bit hex-prefix words per token (the cms_term_freq /
    contamination_bloom md5-prefix trick) instead of xxhash64, so a
    DuckDB oracle can replay every bit (DuckDB has md5 but no
    xxhash64; the xxhash64 production form stays :func:`simhash64`).
    Same vote/sign/fold shape: per 32-bit word, one ``aggregate``
    pass carries a 32-wide vote array, the sign bits fold to an
    unsigned word via Horner, and the words pack into one signed
    long (hi<<32 | lo) — identical layout to :func:`simhash64`, so
    the banded join machinery applies unchanged."""
    toks = F.array_distinct(F.split(col, r"\s+"))
    bits = F.sequence(F.lit(0), F.lit(31))

    def word(hex_start: int) -> F.Column:
        hashes = F.transform(
            toks,
            lambda t: F.conv(
                F.substring(F.md5(t.cast("binary")), hex_start, 8),
                16,
                10,
            ).cast("long"),
        )
        votes = F.aggregate(
            hashes,
            F.transform(bits, lambda b: F.lit(0)),
            lambda acc, h: F.zip_with(
                acc,
                bits,
                lambda a, b: a
                + F.when(F.bit_get(h, b) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            ),
        )
        return F.aggregate(
            F.reverse(votes),
            F.lit(0).cast("long"),
            lambda acc, v: acc * 2
            + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        )

    return F.shiftleft(word(1), 32).bitwiseOR(word(9))


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two 64-bit signatures (bit_count XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_candidate_count(
    df: DataFrame,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct_sigs: bool = True,
) -> int:
    """Number of candidate signature pairs the banded simhash join
    examines (sum over (band, band_val) buckets of C(members, 2)) —
    the scale audit for ``simhash_near_dups``. Computed from bucket
    populations with one groupBy, never by materializing the pairs,
    so the audit itself is safe to run even on a pathological
    parameterization. ``distinct_sigs=True`` mirrors the operator
    (stage 2 bands DISTINCT signatures); False measures the
    pre-collapse behavior for comparison. Used by
    scripts/scale_gate.py to assert candidates stay
    O(corpus + true output) at the 10x scale."""
    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    sigs = df.select(simhash64(F.col(text_col)).alias("sig"))
    if distinct_sigs:
        sigs = sigs.distinct()
    buckets = sigs.select(
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_val")
    ).groupBy("band", "band_val").count()
    row = buckets.agg(
        F.sum(
            (F.col("count") * (F.col("count") - 1) / 2).cast("long")
        ).alias("pairs")
    ).first()
    return int(row["pairs"] or 0)


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_holder: list | None = None,
    sig_expr=simhash64,
) -> DataFrame:
    """SimHash near-dup pairs via banded bucket join over DISTINCT
    signatures — EXACT for the reported radius: with 64/bands-bit
    bands, any pair within hamming distance ``bands - 1`` leaves at
    least one band untouched (pigeonhole), so the band join finds it
    and the output equals the brute-force all-pairs join filtered to
    ``hamming <= max_hamming`` whenever ``max_hamming <= bands - 1``
    (pinned by tests/test_dedup.py::test_simhash_banded_equals_
    bruteforce).

    Scale shape, in three output- or corpus-bounded stages:

    1. signatures (linear), then COLLAPSE to distinct signature
       values. Duplicate-heavy corpora concentrate catastrophically
       otherwise: the r6 10x gate measured 152M banded candidates over
       50k docs (10 text copies each) vs 446k over the 5.5k distinct
       signatures — identical signatures collide in EVERY band, so
       grouping first removes a multiplicative copies^2 factor that no
       band width can fix.
    2. band the distinct signatures (4 bands x 16-bit values by
       default — radius 3, the Manku/Jain/Sarma WWW'07 production
       choice; the old 8x8-bit default had 256-state band values whose
       buckets held E[n'/256] members each). Candidate signature pairs
       stream through a sort-merge self-join (spill-safe; an in-bucket
       collect_set pair explode OOM'd here at the 10x gate because
       low-cardinality band values make bucket population grow with
       corpus size — unlike minhash's 64-bit-hash buckets), then the
       hamming filter runs per signature PAIR, not per doc pair.
    3. expand surviving signature pairs back to id pairs (equi-joins
       on sig) and emit identical-signature groups' intra pairs
       directly (hamming 0) — both expansions are sized by the TRUE
       output, so total work is O(corpus + distinct-sig candidates +
       output). The 10x gate audits exactly that bound.

    Radius 7 is still available explicitly via ``bands=8`` — the
    exactness guarantee is parameter-driven.

    ``cache_holder``: same contract as ``minhash_near_dups`` — the
    signature table is persisted (consumed by stages 1-3); callers
    that materialize the result can unpersist via the holder.

    ``sig_expr``: the 64-bit signature expression (column -> long) —
    :func:`simhash64` (xxhash64, production default) or
    :func:`simhash64_md5` (md5-derived, DuckDB-replayable — used by
    the oracle-checked ``dedup_simhash_exact`` query). The banding /
    hamming machinery is layout-identical for both.
    """
    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if max_hamming > bands - 1:
        raise ValueError(
            "banded join is only exact for max_hamming <= bands-1"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sigs = df.select(
        F.col(id_col).alias("id"),
        sig_expr(F.col(text_col)).alias("sig"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_holder is not None:
        cache_holder.append(sigs)
    dsigs = sigs.select("sig").distinct()
    banded = dsigs.select(
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    sig_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.sig") < F.col("b.sig")),
        )
        .select(
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sig1", "sig2"])
    )
    cross = (
        sig_pairs.join(
            sigs.select(
                F.col("sig").alias("sig1"), F.col("id").alias("ida")
            ),
            "sig1",
        )
        .join(
            sigs.select(
                F.col("sig").alias("sig2"), F.col("id").alias("idb")
            ),
            "sig2",
        )
        .select(
            F.least("ida", "idb").alias("id1"),
            F.greatest("ida", "idb").alias("id2"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    s1 = sigs.alias("s1")
    s2 = sigs.alias("s2")
    intra = s1.join(
        s2,
        (F.col("s1.sig") == F.col("s2.sig"))
        & (F.col("s1.id") < F.col("s2.id")),
    ).select(
        F.col("s1.id").alias("id1"),
        F.col("s2.id").alias("id2"),
        F.lit(0).cast("int").alias("hamming"),
    )
    # cross (sig1 != sig2) and intra (sig equal) are disjoint, and
    # sig-pair dedup happened BEFORE expansion, so no final
    # output-sized dropDuplicates shuffle is needed.
    return cross.unionByName(intra)


def ppjoin_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PPJoin-style prefix-filtered EXACT set-similarity join (Xiao et
    al. 2008, "Efficient Similarity Joins for Near Duplicate
    Detection"): all (id1 < id2) shingle-set pairs with Jaccard >=
    threshold, WITHOUT the all-pairs join and WITHOUT LSH's
    probabilistic recall.

    Prefix-filter theorem: order every document's shingles by one
    global total order (ascending document frequency, ties by token —
    rarest first) and keep only the first |x| - ceil(t*|x|) + 1 as its
    prefix; any pair with J(x,y) >= t MUST share a prefix token. So
    candidates = pairs sharing >= 1 prefix token (an equi self-join on
    the token key), then each candidate is verified with the exact
    intersection/union — recall is 1 by theorem, precision 1 by
    verification.

    Scale shape vs the alternatives: dedup_ngram_pairs is O(n^2)
    always; dedup_minhash trades exactness for banding. This join's
    candidate volume is driven by the RAREST tokens (the prefix is
    taken from the ascending-frequency end), so the token-key self
    join's buckets are small by construction — stopword-sized hot
    buckets never enter the prefix at t >= 0.5. Cost centers: one
    groupBy(token) for frequencies, one shuffle to re-sort each doc's
    shingles under the global order, the prefix-token equi-join, and
    a verify join that touches only candidates."""
    # The shingle relation feeds the token stream AND both verify-join
    # sides; unmaterialized, Catalyst re-runs the shingle projection
    # from the source scan per branch (9 document scans in the
    # executed plan). Materialize it once via eager localCheckpoint
    # (not persist: the returned DataFrame keeps reading the blocks,
    # so an in-function unpersist is impossible — checkpoint blocks
    # are freed by the ContextCleaner when the result goes out of
    # scope instead of pinning cache across a long driver sweep, the
    # token_budget ADVICE-r8 rule); at 100 TB this is the relation
    # you'd checkpoint between the candidate and verify stages.
    sh = shingle_docs(df, text_col, id_col, n).localCheckpoint(
        eager=True
    )
    tok = sh.select("id", F.explode("shingles").alias("s"))
    freq = tok.groupBy("s").agg(F.count("*").alias("df_s"))
    ordered = (
        tok.join(freq, "s")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_s", "s"))),
                lambda x: x.getField("s"),
            ).alias("ordered")
        )
    )
    prefix_len = (
        F.size("ordered")
        - F.ceil(F.lit(threshold) * F.size("ordered"))
        + 1
    ).cast("int")
    ptok = ordered.select(
        "id", F.explode(F.slice("ordered", 1, prefix_len)).alias("s")
    )
    cands = (
        ptok.alias("a")
        .join(
            ptok.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"), F.col("b.id").alias("id2")
        )
        .distinct()
    )
    sim = jaccard(F.col("sh1"), F.col("sh2"))
    return (
        cands.join(
            sh.select(
                F.col("id").alias("id1"), F.col("shingles").alias("sh1")
            ),
            "id1",
        )
        .join(
            sh.select(
                F.col("id").alias("id2"), F.col("shingles").alias("sh2")
            ),
            "id2",
        )
        .where(sim >= threshold)
        .select(
            "id1", "id2", F.round(sim, 6).alias("jaccard_sim")
        )
    )
