package graft

/** Inventory-wide physical-plan regression lock (sf0.001 plans).
  *
  * Patterns that kill a plan at cluster scale — nested-loop joins against a
  * non-tiny side, cartesian products, single-partition exchanges, global
  * range sorts — must never appear in any inventory query. The only
  * tolerated nested loops are the documented broadcast-of-a-scalar (or
  * tiny-dimension non-equi) attaches, where the broadcast side is O(1) rows
  * by construction; those are pinned in an explicit allowlist so any NEW
  * nested loop fails this suite.
  */
class PlanSweep extends SparkTestBase {
  import PlanSweepSupport._

  test("no query plans a cartesian, single-partition exchange, global sort, or unlisted nested loop (sf0.001)") {
    val bad = sweep(spark, s"$testData/sf0.001", Queries.all)
    assert(bad.isEmpty, s"risky plan patterns at sf0.001:\n${bad.mkString("\n")}")
  }

  test("no query plans a cartesian, single-partition exchange, global sort, or unlisted nested loop (sf0.1)") {
    val bad = sweep(spark, s"$testData/sf0.1", Queries.all)
    assert(bad.isEmpty, s"risky plan patterns at sf0.1:\n${bad.mkString("\n")}")
  }
}

/** Shared allowlists + sweep used by [[PlanSweep]] (full inventory at the
  * verify scales) and [[PlanSweepSf1]] (heavy family past the
  * broadcast→shuffle flip). */
object PlanSweepSupport {

  /** Queries whose single BroadcastNestedLoopJoin is a broadcast-scalar /
    * tiny-dim attach (side sizes are O(1) by construction):
    *  - q38/q49: query-vector set (nQueries rows) against scored corpus
    *  - q51: 1-row vertex-count scalar for degree normalization
    *  - q113: 1-row min-class-size scalar
    *  - q123: 1-row merged-HLL register set
    *  - q128: 1-row corpus-total scalar for mixture shares
    *  - q129: 1-row total-token-mass scalar for the coverage cut
    *  - q136: 1-row pooled-moments scalar for the z-test
    *  - q146: 6-row category table on a size-range (non-equi) predicate
    *  - q322: ≤4-row category table on the ordinal `c < k` predicate
    *    (`bins()` caps categories at 4, so the δ table has ≤ 16 rows)
    */
  private val allowedBnlj = Set(
    "q38_ann_cosine_topk", "q49_ann_ivf", "q51_degree_centrality",
    "q113_balanced_sample", "q123_hll_merge", "q128_mixture_weights",
    "q129_vocab_coverage", "q136_ab_significance", "q146_component_listings",
    "q163_source_cap", // 1-row mean-cap scalar attach
    "q165_quality_audit", // 1-row total-count scalar attach per RI rule
    "q166_unigram_logprob", // 1-row corpus-token-total scalar attach
    "q168_pmi_pairs", // 1-row N / pair-total scalar attaches
    // q120: kmeans assign — one native dot per (vector, centroid) against
    // the broadcast CODEBOOK, a model artifact whose k rows are a PINNED
    // hyperparameter (the IVF contract; this BNLJ replaced the relational
    // coords⋈centroids equi-join that streamed n·k·dim rows). The
    // corpus-scaled ANN consumers (q150/q176/q181/q185/q186) deliberately
    // do NOT take this shape — their auto cell count grows with n, so
    // round 7 moved them to per-row hyperplane signatures whose only BNLJ
    // is the 1-ROW mean-vector scalar attach below
    "q120_kmeans_codebook",
    "q194_cluster_silhouette", // same pinned-k codebook broadcast as q120
    "q195_ann_recall", // composes q38's broadcast query-set scoring pass
    "q281_rrf_fusion", // composes q38's broadcast query-set scoring pass
    "q282_ndcg_audit", // composes q38's + q98's broadcast query-set passes
    "q289_rag_context", // q281's composition + bounded-fused token attach
    // 1-row fit/q̂ scalar attaches (residual + coverage passes)
    "q283_conformal_interval",
    "q284_forget_docs", // 1-row group-rollup scalar attach
    "q285_canary_audit", // 1-row before/after/escape scalar attaches
    "q288_curriculum_order", // q166's 1-row corpus-token-total scalar
    "q291_curriculum_packing", // same chain, token-offset column added
    "q295_epoch_curriculum", // same chain + the q214 tier explode
    "q300_attention_spans", // same chain, per-bin segment explode added
    "q290_index_staleness", // 1-row audit rollup
    // hyperplaneCells: 1-row dim-length mean-vector scalar attach
    "q150_semantic_dedup", "q176_knn_classify", "q181_mutual_knn",
    "q185_density_clusters", "q186_embedding_outliers",
    "q207_semantic_cap", "q208_hard_negatives", // same mean-vector attach
    "q216_cell_drift", // same mean-vector attach + 1-row totals attach
    "q219_contrastive_triplets", // same mean-vector attach
    "q220_dataset_card", // four 1-row corpus-scalar attaches
    "q187_hits", // 1-row L2-norm scalar attach
    "q190_densest_subgraph", // 1-row (nv, ne) scalar attach per peel round
    "q175_bigram_logprob", // 1-row vocabulary-size scalar attach
    "q183_pca_component", // 1-row norm scalar per power-iteration round
    "q184_psi_drift", // 1-row ref-range / totals scalar attaches
    // calibrate→commit loop: 1-row corpus-total and chosen-cut scalar
    // attaches (the pair relation itself stays candidate-bounded)
    "q201_threshold_choice", "q202_calibrated_dedup",
    "q197_pretrain_pipeline", // five 1-row funnel-count scalar attaches
    "q203_mixture_sample", // 1-row W = Σ w_s scalar attach
    // q211: per-round 1-row best-pair and corpus-symbol-count scalar
    // attaches onto the VOCABULARY relation (the corpus is touched once,
    // in the word-frequency pass)
    "q211_bpe_merges",
    "q222_index_balance", // cells-mean scalar + 1-row occupancy-totals attach
    "q225_domain_shift", // 1-row (N, V) LM-mass scalar attach
    "q228_weak_label_set", // 1-row minority-class-count scalar attach
    "q230_perplexity_prune", // q166's 1-row corpus-token-total scalar attach
    "q231_score_calibration", // 1-row doc-total scalar attach for ECE terms
    "q233_moore_lewis", // 1-row (N_gen, N_in, V) LM-mass scalar attach
    "q236_naive_bayes_score", // 1-row class-prior scalar attach
    "q237_t_closeness", // 1-row sensitive-total scalar attach
    "q238_label_noise", // q236's prior attach + a 1-row confusion-total
    "q240_label_purity", // hyperplaneCells' 1-row mean-vector attach
    "q241_lang_confusion", // 1-row confusion-total scalar attach
    "q242_epoch_plan", // 1-row source-count scalar attach
    "q245_mixture_advisor", // 1-row weight-normalizer scalar attach
    "q246_classifier_pipeline", // q236's prior + three 1-row funnel counts
    "q247_water_fill", // 1-row source-count + funded-mass scalar attaches
    "q248_vocab_spectrum", // 1-row vocabulary-totals scalar attach
    "q250_cohens_kappa", // ≤4-row confusion-total + 1-row p_e scalar attaches
    "q252_hll_intersect", // three 1-row HLL-estimate scalar attaches
    "q253_benford_audit", // 1-row digit-total scalar attach
    // q255: |sources|-row group fan-out onto the breakpoint grid + the
    // 1-row corpus-total scalar attach
    "q255_ks_drift",
    // q256: 1-row anchor/total/quintile-cut scalar attaches
    "q256_rfm_segments",
    "q257_fuzzy_pretrain_pipeline", // q197's funnel attaches + one more
    "q258_rfm_transitions", // q256's scalar attaches, once per half
    "q259_basket_lift", // 1-row basket-total scalar attach
    // q265: the release record IS crossed 1-row attaches — five funnel
    // scalars, the 1-row card, 1-row manifest totals, 1-row audit totals
    "q265_dataset_release",
    // q274: the incremental release record is the same shape — 1-row
    // pair/dropped/old-record/enter/leave-mass attaches crossed together
    // (the corpus-sized stages all reduced upstream of checkpoints)
    "q274_incremental_release",
    // q293: the changelog variant of the same record — identical 1-row
    // attach chain (old record, removed/added pair counts, drop deltas,
    // enter/leave mass), everything delta-bounded upstream
    "q293_changelog_release",
    "q297_rag_serve_twin", // composes q281's broadcast query-set passes
    // q298: 1-row status-count rollup × 1-row drift rollup cross-attach
    "q298_ivfpq_staleness",
    "q273_normalized_dedup", // 1-row dup-group-totals scalar attach
    // round-12 batch 3
    "q302_dsir_select", // 1-row (N_raw, N_tgt) model-totals scalar attach
    // q303: unit-count × disagreement-mass × marginal-totals 1-row attaches
    "q303_krippendorff_alpha",
    "q305_multiprobe_lsh", // composes q38's broadcast query-set scoring pass
    "q306_impact_index", // 1-row index-size (full/kept postings) attach
    // batch 4: 1-row audit/model-totals cross attaches
    "q309_impact_staleness", // term rollup × doc-membership rollup
    "q311_dsir_kl", // model totals + KL numerator 1-row attaches
    "q313_selection_bias", // 1-row (N, K) share-normalizer attach
    // batch 5: 1-row token-total / weight-total / frozen-model-totals
    "q314_temperature_sampling", "q315_dsir_gate",
    // batch 6: q316 composes q38's broadcast query-set scoring; q317's
    // 5-row literal threshold spine is a tiny-dim attach (q146 class)
    "q316_multiprobe_ndcg", "q317_gate_calibration",
    // round-13: q319 composes q38's broadcast query-set ground truth and
    // crosses 1-row cell rollups (n_cand / n_hit+dcg / query-set totals)
    "q319_multiprobe_frontier",
    // q320: per drift step, 1-row n_exact × n_hit × drift-gauge attaches
    // (the q298 audit-rollup shape, once per step)
    "q320_ivfpq_drift_recall",
    // q321: the 1-row broadcast (λ map, default) gate-state attach — the
    // RagStream broadcast-index convention
    "q321_ingest_admission",
    // q322: q303's 1-row audit attaches + the ordinal δ table, a broadcast
    // join on c < k over ≤4 categories (≤16 rows, never corpus-sized)
    "q322_krippendorff_ordinal",
    // q323: per edit step, 1-row n_exact × n_hit × idf-gauge × edit-count
    // attaches (the q309 audit-rollup shape, once per step)
    "q323_impact_drift_recall",
    // q324: per step, 1-row decision/gauge/edit-count attaches + the
    // 1-row λ-default scalar attach on each scoring pass
    "q324_dsir_gate_drift",
    // q325: rank-bounded cache/new-top comparison joins + 1-row scalar
    // attaches; the delta-term semi-join is |delta|-bounded broadcast
    "q325_cache_invalidation")

  /** Queries whose single-partition exchange carries only a BOUNDED
    * relation, never corpus-sized rows:
    *  - global-scalar final aggregations (partials merge to ≤ a few rows:
    *    q22, q51, q90, q95, q113, q123, q128, q133, q134)
    *  - bounded spine generation from a 1-row min/max scalar (q71, q139)
    *  - a global window over the vocabulary / a dropdown-sized artifact,
    *    documented at the call site (q129, q48)
    */
  private val allowedSinglePartition = Set(
    "q22_degree_stats", "q48_iast_sortkey", "q51_degree_centrality",
    "q71_month_series", "q90_triangle_count", "q95_profile_columns",
    "q113_balanced_sample", "q123_hll_merge", "q128_mixture_weights",
    "q129_vocab_coverage", "q133_modularity", "q134_assortativity",
    "q139_fixed_width_histogram",
    // q161: ordinal edge ids for the GEXF EXPORT relation — a bounded
    // artifact (the reference's full graph is ~17k nodes and the sink
    // renders driver-side XML regardless), same class as q48's dropdown
    "q161_gexf_relation",
    "q163_source_cap", // 1-row cap scalar
    "q165_quality_audit", // per-rule scalar aggregates merge to ≤7 rows
    "q166_unigram_logprob", // 1-row corpus-token-total scalar
    "q168_pmi_pairs", // 1-row N / pair-total scalars
    "q175_bigram_logprob", // 1-row vocabulary-size scalar
    // q183: every post-scatter stage runs on the dim×dim (O(1)) matrix —
    // global aggregates there are norm scalars, not corpus reductions
    "q183_pca_component",
    "q184_psi_drift", // bins-sized totals
    // q283: 1-row fit/q̂ scalars; the cum window runs on the token-count-
    // bounded residual HISTOGRAM (the Quantiles.lowQuantiles contract),
    // never the corpus
    "q283_conformal_interval",
    "q284_forget_docs", // two 1-row global rollups (doc + group scalars)
    "q285_canary_audit", // three 1-row global rollups
    // q288/q291 (+ the q295 epoch and q300 span manifests on the same
    // chain): stage-boundary window on the ≤~100-row quarter-nat
    // difficulty histogram + the (stages·256)-row offset window — never
    // the corpus
    "q288_curriculum_order", "q291_curriculum_packing",
    "q295_epoch_curriculum", "q300_attention_spans",
    "q290_index_staleness", // 1-row global audit rollup
    "q293_changelog_release", // q274's 1-row record-assembly rollups
    // q296: per-emit 1-row class-count/epsilon rollups over the release
    // series (the series is emits-sized; each emit's classes reduce to
    // one scalar row before the union)
    "q296_epsilon_ledger",
    "q298_ivfpq_staleness", // 1-row audit + drift rollups
    // round-12 batch 3: 1-row global scalars only — q302's (N_raw, N_tgt)
    // model totals merge ≤ buckets-row partials (plus the k-bounded
    // TakeOrdered reduction); q303's three audit rollups merge partials of
    // relations already reduced doc-/category-keyed upstream; q306's
    // full/kept posting counts are two scalar aggregations
    "q302_dsir_select", "q303_krippendorff_alpha", "q306_impact_index",
    // batch 4: same 1-row-scalar classes — q309's two audit rollups,
    // q311's model-totals/KL-numerator scalars (models are ≤ buckets
    // rows), q313's (N, K) normalizer
    "q309_impact_staleness", "q311_dsir_kl", "q313_selection_bias",
    // batch 5: |sources|-row relation scalars (q314); frozen-model totals
    // and the pool-anchor rollup (q315)
    "q314_temperature_sampling", "q315_dsir_gate",
    // batch 6: q317's spine-keyed rollup merges ≤ |spine| rows
    "q317_gate_calibration",
    // round-13: q319's per-cell 1-row scalars (candidate count, hit/dcg
    // rollup, query-set totals) merge rank-bounded partials; q320's
    // per-step n_exact/n_hit/drift rollups merge rank- or cell-bounded
    // partials (the q298 class)
    "q319_multiprobe_frontier", "q320_ivfpq_drift_recall",
    // q321: the λ-map/model-totals collapse to 1 row; the per-source
    // funnel rollup merges ≤|sources|-row partials
    "q321_ingest_admission",
    // q322: q303's 1-row rollups + the ≤|categories|-row cumulative-
    // marginal window
    "q322_krippendorff_ordinal",
    // q323: per-step 1-row recall/gauge/edit-count rollups merge
    // rank- or vocabulary-bounded partials (the q309 class)
    "q323_impact_drift_recall",
    // q324: model-totals/decision/gauge rollups merge ≤buckets-row or
    // doc-keyed-reduced partials (the q315 class)
    "q324_dsir_gate_drift",
    // q325: rank-bounded comparison rollups (cache side is
    // |queries|·topK rows)
    "q325_cache_invalidation",
    // q326: the MM rounds and final rank run on the ≤|sources|²-row
    // outcome matrix / |sources|-row strength vector; q327's rollup
    // merges ≤|sources|+1-row partials
    "q326_bradley_terry", "q327_position_bias",
    // hyperplaneCells consumers: the dim-row per-dimension mean relation
    // collapses to ONE dim-length array row (the centering scalar) — a
    // bounded global aggregate, not a corpus reduction
    "q150_semantic_dedup", "q176_knn_classify", "q181_mutual_knn",
    "q185_density_clusters", "q186_embedding_outliers",
    "q207_semantic_cap", "q208_hard_negatives", // same mean-centering scalar
    "q216_cell_drift", // cells-mean + 1-row (tr, tc) totals scalar
    "q219_contrastive_triplets", // cells-mean scalar
    "q220_dataset_card", // global corpus scalars merge to 1 row each
    "q187_hits", // 1-row norm scalar
    // q190: per-round 1-row (nv, ne) scalars; the final window runs on the
    // rounds+1-row stats artifact, not corpus data
    "q190_densest_subgraph",
    // q201/q202: corpus-total + chosen-cut 1-row scalar aggregations; the
    // 11-row cut spine is a literal range
    "q201_threshold_choice", "q202_calibrated_dedup",
    "q197_pretrain_pipeline", // five 1-row funnel-count scalar aggregations
    "q203_mixture_sample", // 1-row weight-total scalar aggregation
    // q204: the bin cumulation window runs on the ≤ bins-row aggregate and
    // the boundary shard-offset window on the ≤ 256-row shard totals —
    // never corpus rows (the per-doc prefix sums are shard-partitioned)
    "q204_budget_select",
    // q211: max-weight / best-pair / symbol-count global scalars merge
    // vocabulary-sized partials to 1 row each
    "q211_bpe_merges",
    // q221: the 1-row (n_classes, n_rows, spine) aggregate merges
    // class-relation partials — the corpus itself reduced in the first agg
    "q221_k_anonymity",
    "q222_index_balance", // cells-mean + 1-row occupancy-totals scalar
    "q225_domain_shift", // 1-row (N, V) vocabulary-mass scalar
    // q228: 1-row minority-count scalar + the ≤ 512-row (label, shard)
    // offset window — both bounded artifacts, never corpus rows
    "q228_weak_label_set",
    // q229: q221's shape — the 1-row (n_classes, n_rows, spine) aggregate
    // merges class-relation partials, the corpus reduced in the first agg
    "q229_l_diversity",
    "q230_perplexity_prune", // q166's 1-row corpus-token-total scalar
    "q231_score_calibration", // 1-row doc-total scalar for the ECE terms
    "q233_moore_lewis", // 1-row (N_gen, N_in, V) vocabulary-mass scalar
    // q236: the prior scalar and the |features|-row pivoted model both
    // merge ≤ 6-row partials — bounded model artifacts, never corpus rows
    "q236_naive_bayes_score",
    // q237: the |values|-row global-share relation and the 1-row spine
    // rollup both merge class-relation partials, never corpus rows
    "q237_t_closeness",
    "q238_label_noise", // ≤ 4-row confusion cells + 1-row total scalar
    "q240_label_purity", // the cells-mean scalar, as the other consumers
    "q241_lang_confusion", // ≤ |langs|² cells + 1-row total scalar
    "q242_epoch_plan", // |sources|-row relation + 1-row count scalar
    // q244: the 1-row preview rollup merges bucket-relation partials —
    // the corpus reduced in the band-key groupBy
    "q244_dup_rate_estimate",
    // q245: |sources|-row component relations + the 1-row normalizer
    "q245_mixture_advisor",
    "q246_classifier_pipeline", // 1-row funnel-count scalar aggregations
    // q247: the ascending window + both scalar rollups run on the
    // |sources|-row aggregate, never corpus rows
    "q247_water_fill",
    "q248_vocab_spectrum", // ≤64-bin relation + 1-row vocabulary totals
    "q250_cohens_kappa", // ≤4-row confusion cells + 1-row totals scalars
    "q252_hll_intersect", // 512-register rollups merge to 1-row Z scalars
    "q253_benford_audit", // 1-row digit-total scalar
    "q255_ks_drift", // 1-row corpus-total scalar
    // q256: quintile-cut windows run on bounded value-domain histograms
    // (recency days / per-user counts / coarse monetary bins), never
    // per-user rows; plus 1-row anchor/total scalars
    "q256_rfm_segments",
    "q257_fuzzy_pretrain_pipeline", // q197's 1-row funnel scalars + one more
    "q258_rfm_transitions", // q256's bounded-domain windows, once per half
    "q259_basket_lift", // 1-row basket-total scalar
    // q265: 1-row component aggregates (funnel/card/manifest/audit totals)
    "q265_dataset_release",
    // q274: 1-row component aggregates (pair/dropped counts, enter/leave
    // token-and-digest masses) merge delta-bounded partials to 1 row each
    "q274_incremental_release",
    // q266: cumulative windows run on the DENSE BUCKET GRID (id-range /
    // bucketDocs — a caller-sized report, the cusum grid discipline),
    // never corpus rows; plus the 1-row grid min/max scalar
    "q266_vocab_growth",
    // q267: the running type count runs on the frequency-of-frequencies
    // relation — bounded at O(√corpus-tokens) distinct counts
    "q267_zipf_classes",
    // q273: both component aggregates merge to 1 row (corpus scalars and
    // dup-group totals)
    "q273_normalized_dedup")

  /** Compile every inventory query against `sfDir` and collect plans that
    * contain a scale-killing physical pattern. Run at more than one scale:
    * size-based planner decisions (broadcast thresholds, CBO stats from
    * file sizes) flip between sf0.001 and sf0.1, so a plan that is clean at
    * the small scale can pick a different — and riskier — physical operator
    * at the scale the bench actually runs.
    */
  def sweep(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      queries: Seq[Queries.Q]): Seq[String] =
    queries.flatMap { q =>
      val p = Queries.queries(q.name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val tags = Seq(
        "CartesianProduct" -> p.contains("CartesianProduct"),
        "SinglePartition" ->
          (p.contains("SinglePartition") && !allowedSinglePartition(q.name)),
        "rangepartitioning" -> p.contains("rangepartitioning"),
        "BroadcastNestedLoopJoin" ->
          (p.contains("BroadcastNestedLoopJoin") && !allowedBnlj(q.name))
      ).collect { case (t, true) => t }
      if (tags.nonEmpty) Some(s"${q.name}: ${tags.mkString(",")}") else None
    }
}
