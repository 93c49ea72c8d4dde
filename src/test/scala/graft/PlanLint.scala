package graft

/** The registry-wide plan lints, run by [[QueriesSmokeSpec]] on the
  * live formatted plan of every query its per-query pass constructs.
  *
  * Scale-killer join shapes: a CartesianProduct or
  * BroadcastNestedLoopJoin is the plan Spark falls back to when a join
  * has no usable equality key. On two corpus-scale sides that is
  * O(n·m) — the one guaranteed non-survivor at 100× — so every
  * occurrence must be on the explicit whitelist below, where each
  * entry records why its non-equi join is bounded: a broadcast side of
  * CONSTANT size (a 1-row scalar, a 16-row plane table, a 10-row
  * query set) costs one linear pass, not a quadratic pair explosion.
  * A new query that picks up a nested-loop join fails the lint until
  * its bound is argued and listed; an entry whose query no longer
  * plans a nested-loop join must be dropped, so it cannot silently
  * cover a later regression in that query.
  *
  * Quadratic window frames: a frame whose upper bound is UNBOUNDED
  * FOLLOWING but whose lower bound is anything other than UNBOUNDED
  * PRECEDING (UnboundedFollowingWindowFunctionFrame) re-scans the
  * partition tail for every row — the forward as-of's first
  * implementation used it and measured 132 s vs 1.4 s for the
  * running-frame mirror at sf0.1. Running frames and whole-partition
  * (both-unbounded) frames are O(n) and allowed. FormattedMode spells
  * frames as `specifiedwindowframe(<type>, <lower>, <upper>)`.
  */
object PlanLint {

  /** query -> why its nested-loop join is bounded (broadcast side size
    * is a CONSTANT, independent of corpus scale). */
  val BoundedNonEquiJoins: Map[String, String] = Map(
    "orders_above_avg" -> "1-row global-average scalar, broadcast",
    "customer_deciles" ->
      ("1-row max(ntile_rn)+1 row count, broadcast: a keyless aggregate " +
        "is exactly one row at any scale (distributed ntile)"),
    "tfidf_top_terms" -> "1-row corpus-size scalar, broadcast",
    "ann_topk_brute" -> "10-row query set, broadcast (brute-force EVAL BASELINE)",
    "ann_hard_negatives" ->
      "10-row query set (with labels), broadcast — label-mismatch mining",
    "distinct_users_hll" ->
      "64-row register-id table, broadcast (group × bucket expansion)",
    "hll_union_days" ->
      "64-row register table + 1-row day/sum scalars, broadcast",
    "users_kmv_overlap" ->
      "1-row aggregate cross joins over ≤32-row sketch samples",
    "streaming_hll_users" ->
      "64-row register-id table, broadcast (same assembly as the batch twin)",
    "ann_recall_rrf" ->
      "contains ann_topk_brute (eval baseline) + the whitelisted rrf fusion",
    "ann_topk_rrf" ->
      "fuses IVF with the whitelisted LSH and PQ retrievers; all fusion inputs ≤ queries×k rows",
    "doc_ann_topk" -> "5-row query set, broadcast (brute-force over hashed-BOW vectors)",
    "ann_topk_lsh" -> "10-row query set, broadcast",
    "ann_topk_quantized" -> "10-row query set, broadcast",
    "ann_recall_ivf" -> "contains ann_topk_brute (eval baseline)",
    "ann_nprobe_curve" -> "contains ann_topk_brute (eval baseline)",
    "ann_topk_pq" -> "10-row per-query ADC lookup table, broadcast",
    "ann_topk_pq_rerank" ->
      "10-row per-query ADC lookup table + 10-row query set, broadcast",
    "ann_recall_pq" -> "contains ann_topk_brute (eval baseline) + ADC LUT broadcast",
    "ann_recall_ivf2" -> "contains ann_topk_brute (eval baseline)",
    "ann_recall_graph" -> "contains ann_topk_brute (eval baseline)",
    "ann_graph_steps_curve" ->
      "contains ann_topk_brute (eval baseline) + a 4-row steps-arm table, broadcast",
    "ann_recall_lsh" -> "contains ann_topk_brute (eval baseline)",
    "classifier_duel" ->
      "5-row NB class-stats table + 1-row eval-count scalars, broadcast",
    "key_skew_profile" ->
      "1-row totals scalar cross joined onto a 10-row top-k, broadcast",
    "streaming_funnel" -> "1-row step-1 count scalar, broadcast",
    "fuzzy_block_recall" -> ("distinct-name vocabulary all-pairs EVAL " +
      "BASELINE (bounded by generator vocabulary, not corpus rows) + " +
      "1-row count scalars"),
    "doc_logprob" -> "1-row corpus-token-count scalar, broadcast",
    "ann_index_hot_cells" -> "1-row hot-threshold scalar, broadcast",
    "ann_index_post_split" ->
      "1-row hot-threshold scalar, broadcast (hot-cell selection)",
    "ann_topk_hybrid_rerank" ->
      "10-row query set, broadcast (exact rerank over the ≤3k-row candidate union)",
    "ann_recall_hybrid_rerank" ->
      "contains ann_topk_brute (eval baseline) + the whitelisted hybrid rerank",
    "embedding_pca_project" ->
      "1-row broadcast (means, basis) row — the projection model",
    "ann_topk_pca" ->
      "1-row model/means rows + 10-row projected query set, broadcast",
    "ann_recall_pca" ->
      "contains ann_topk_brute (eval baseline) + the whitelisted pca probe",
    "ann_topk_jl" ->
      "10-row projected query set, broadcast (JL-space candidate probe)",
    "ann_recall_jl" ->
      "contains ann_topk_brute (eval baseline) + the whitelisted jl probe",
    "bm25_index_stats" -> "1-row (n_docs, avgdl) stats scalar, broadcast",
    "bm25_topk" ->
      "1-row stats scalar + |queries|·|terms|-row term set, broadcast",
    "snippet_bm25_topk" ->
      "1-row stats scalar + |queries|·|snippet-terms|-row term set, broadcast",
    "snippet_dense_topk" ->
      "30-row snippet query-embedding set, broadcast (brute-force dense arm)",
    "snippet_topk_hybrid" ->
      "fuses two whitelisted snippet retrievers; inputs ≤ queries×k rows",
    "snippet_retrieval_eval" ->
      "contains all three whitelisted snippet retrievers + 30-row query list",
    "nb_model_stats" -> "1-row n_train + 1-row vocab-size scalars, broadcast",
    "prf_expansion_terms" ->
      "1-row BM25 (n_docs, avgdl) stats scalar, broadcast (feedback probe)",
    "bm25_prf_topk" ->
      "1-row BM25 stats scalar, broadcast (base + expanded probes)",
    "prf_retrieval_eval" ->
      "contains both whitelisted BM25 probes; eval inputs ≤ queries×k rows",
    "bm25_index_append" -> "1-row base/batch doc-count scalars, broadcast",
    "streaming_bm25_append" ->
      "1-row base/batch doc-count scalars, broadcast (delta-log merge)",
    "nb_classify" ->
      "|classes|-row model-stats table, broadcast (score fan-out)",
    "nb_confusion" -> "|classes|-row model-stats table, broadcast",
    "corpus_filter_nb" -> "|classes|-row model-stats table, broadcast",
    "nb_filter_threshold_curve" ->
      "|classes|-row model-stats table + 1-row per-arm count scalars, broadcast",
    "bm25_typo_topk" ->
      "1-row stats scalar + corrected term set, broadcast",
    "contrastive_triples" ->
      "10-row labeled query set, broadcast (one scored corpus pass)",
    "snippet_topk_dedup" ->
      "fuses two whitelisted snippet retrievers; inputs ≤ queries×k rows",
    "typo_retrieval_eval" ->
      "contains the whitelisted raw/corrected/colbert arms + stats scalars",
    "bm25_capped_eval_zipf" ->
      "zipf twin of bm25_capped_eval: same 1-row doc/posting-count scalars, broadcast",
    "prf_retrieval_eval_zipf" ->
      "zipf twin of prf_retrieval_eval: same 1-row eval-count scalars, broadcast",
    "classifier_duel_zipf" ->
      "zipf twin of classifier_duel: 5-row NB class-stats + 1-row eval scalars, broadcast",
    "nb_filter_threshold_curve_zipf" ->
      "zipf twin of nb_filter_threshold_curve: 5-row NB class-stats, broadcast",
    "bm25_capped_eval" ->
      "1-row doc-count/posting-count scalars, broadcast (knob eval)",
    "q22_dormant_customers" ->
      "1-row cohort-average scalar, broadcast (uncorrelated subquery)",
    "q11_important_parts" ->
      "1-row global revenue-threshold scalar, broadcast (HAVING subquery)",
    "doc_ppl_bigram" ->
      "1-row (n_train, v_train) scalar, broadcast (backoff denominator)",
    "corpus_ppl_buckets" ->
      "1-row (n_train, v_train) scalar, broadcast (backoff denominator)",
    "corpus_split_leakproof" ->
      "two 1-row audit aggregates cross-joined per scheme, broadcast")

  def hasNestedLoopJoin(plan: String): Boolean =
    plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")

  /** Every unbounded-following frame; group 1 is its lower bound. */
  val UnboundedFollowingFrame =
    """specifiedwindowframe\(\w+, ([^,()]+(?:\(\))?), unboundedfollowing\$\(\)\)""".r

  /** The unbounded-following frames in `plan` that are not
    * whole-partition, i.e. the quadratic ones. */
  def quadraticFrames(plan: String): List[String] =
    UnboundedFollowingFrame.findAllMatchIn(plan)
      .filter(_.group(1) != "unboundedpreceding$()")
      .map(_.matched).toList
}
