"""Per-file pin of every `F.broadcast(` site in the package.

An unconditional broadcast hint on an UNBOUNDED side is a driver-OOM
at scale (the r7 knn_filtered lesson, ADVICE r7): Spark will build the
hash relation on the driver no matter how big the side turns out to
be. Every hint in the package must therefore broadcast a side whose
size is bounded by construction — a dimension table, a top-k
shortlist, a 1-row aggregate, trained model state — never raw data.

This module pins (file -> site count). Adding a broadcast anywhere
changes a count and fails scripts/preflight.py and the twin test in
tests/test_plans.py until the new site is reviewed and recorded here
WITH its bound. Removals must be recorded too (counts are exact, not
upper bounds) so the pin never drifts stale.

Bounds, per file (reviewed r9):
- plans/aggregates.py 6: nation/region dims (25/5 rows at any SF);
  r10 histogram_equi_depth adds the value-domain-bounded dollar
  prefix table and the 1-row total.
- plans/analytics.py 11: cohort sizes, per-type totals/median/MAD
  stats (5-row key), part-name dims, 1-row total; r10
  decayed_engagement adds a 1-row max-ts reference aggregate; r10
  rfm_scores adds its own 1-row reference, the 1-row user-count, and
  the distinct-metric-value prefix table (bounded by quantization:
  integer days / counts / whole currency units).
- plans/eventtime.py 1: 24-row hour grid.
- plans/joins.py 4: nation/region dims, supplier dim (star), 5-row
  null-key fixture.
- plans/lake.py 2: CDC change batch (micro-batch sized); 1-row
  Z-order bounds aggregate in the composed OPTIMIZE lifecycle.
- plans/lm.py 6: 1-row vocab-cut / median / total aggregates, k-row
  vocab; r9 lr_calibration_deciles adds the bounded score-bucket
  prefix table and the 1-row total.
- plans/pipeline.py 12: 1-row totals/budget, per-source k-row tables,
  32-row partition-offset table, eval n-gram set (contamination: the
  held-out eval set is small by definition); r9 dsir_select adds two
  1-row token totals and the B=64-row bucket weight table (B is a
  constant however big the corpus); r9 contamination_bloom adds the
  <= k*m-row (r, pos) Bloom table — O(m) constant state whatever the
  eval suite size; r9 mixture_temperature adds one more 1-row totals
  broadcast (K-source aggregate).
- plans/rag.py 1: k-row retrieved-context shortlist.
- plans/retrieval.py 4: 1-row corpus stats, k-row RRF shortlists;
  r10 phrase_search adds the 1-row top-trigram phrase.
- plans/streamqueries.py 2: event_type dim; r10
  streaming_decay_replay adds the 1-row global-anchor aggregate.
- plans/text.py 2: vocab df table (bounded by vocab), 1-row N.
- plans/vector.py 13: 1-row query vectors, 50-row shortlists,
  provenance top-k (flipped small side per ADVICE r8); r9 batch
  retrieval adds a Q-row packed-query batch, a Q×50 shortlist, and a
  Q-row float query table (all bounded by the query batch); r9
  semdedup_prune adds the 1-row packed seed-centroid side (K x dim
  doubles folded into one row, the operators/ivf.py assignment
  idiom); r9 knn_int8_batch adds the Q-row dequantized query batch;
  r9 knn_matryoshka_batch adds the Q-row prefix batch, the Q x 50
  shortlist, and the Q-row full-width query table; r9
  multivec_maxsim_batch adds the Q x 10-row query token-bag
  broadcast; r10 knn_filtered_int8_batch adds the Q-row dequantized
  query batch and the Q x 5 provenance shortlist (the allowed-id
  semi-join side stays deliberately UNhinted, as in knn_filtered);
  r11 knn_auto_filtered_batch adds its Q x 3 provenance shortlist
  (allowed-id semi-join likewise UNhinted, inside the planner); r11
  MMR pair adds the Q x 12 candidate-vector fetch broadcasts (the
  plan audit caught Catalyst building on the corpus side at fixture
  scale — SMJ-shuffling the corpus at 100 TB); r15
  knn_filtered_int8_batch's fp32 refine stage adds the
  Q x (<=4096) tie-aware shortlist (row_number()<=4096 bounds it by
  construction) and the Q-row raw fp32 query batch — both
  query-bounded, and hinting them is what keeps the second
  embeddings scan a BHJ prune instead of a corpus exchange.
  Top-k core fold: 25 -> 17. The rescore stage's shortlist and Q-row
  full-width query-table hints of knn_binary_batch,
  knn_matryoshka(_batch) and knn_filtered_int8_batch moved into
  operators/knn.py:rescore (7 sites -> 2 there), and the two
  multivec_maxsim forms share one query-bag hint (_maxsim_scores).
- streaming/cdc.py 1: per-micro-batch CDC delta.
- functions/zorder.py 1: 1-row min/max bounds aggregate.
- operators/incremental.py 1: O(batch) new-doc signatures.
- operators/ivf.py 3: the centroids, K rows (K ≪ corpus), packed
  into one row for the assignment argmax and as the probe's K-row
  table; the probe's Q x nprobe-row query-cell batch. The md5 twin
  calls the same three.
- operators/knn.py 4: row_cosine's 1-row query vector,
  knn_per_query's Q-row query batch, and rescore's two sides — the
  shortlist (at most n rows per query: 50, or the <= 4096-row
  tie-aware band) and the Q-row rescore query table, all bounded by
  the query batch. The filtered-kNN semi-join side is deliberately
  UNhinted (plans/vector.py knn_filtered, knn_filtered_int8_batch).
- operators/lsh.py 2: the planes frame (one row per seed, seeds x
  n_planes x dim numbers; one site shared by both bucketing sides)
  and the Q x seeds bucketed query batch. ann_topk_lsh and the md5
  twin run the one candidate pipeline (_lsh_topk); the fold took
  6 -> 2.
- operators/pagerank.py 2: 1-row dangling-mass aggregates (float
  pagerank + the fixed-point twin's integer dangling share).
- operators/pq.py 4: the codebook packed into one row (m*ksub
  centroids, model state) for the encoder and for the ADC tables;
  the ADC table batch (Q rows, or Q x nprobe under IVF-PQ) and the
  Q-row refine query batch. pq_topk, ivfpq_topk and the md5 twin run
  the one PQ search (_adc_topk); the fold took 11 -> 4 (IVF-PQ's
  centroid broadcast is now ivf.py's probe).
"""

BROADCAST_ALLOWED: dict[str, int] = {
    "functions/zorder.py": 1,
    "operators/incremental.py": 1,
    "operators/ivf.py": 3,
    "operators/knn.py": 4,
    "operators/lsh.py": 2,
    "operators/pagerank.py": 2,
    "operators/pq.py": 4,
    "plans/aggregates.py": 6,
    "plans/analytics.py": 11,
    "plans/eventtime.py": 1,
    "plans/joins.py": 4,
    "plans/lake.py": 2,
    "plans/lm.py": 6,
    "plans/pipeline.py": 14,
    "plans/rag.py": 1,
    "plans/retrieval.py": 4,
    "plans/streamqueries.py": 2,
    "plans/text.py": 2,
    "plans/vector.py": 17,
    "streaming/cdc.py": 1,
}
