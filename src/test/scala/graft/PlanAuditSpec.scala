package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 plan audit helper: prints formatted plans of the newest
  * queries so shuffle/broadcast shapes are reviewable in test output.
  * Assertions live in PlanSpec; this is the audit trail.
  */
class PlanAuditSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  test("audit: newest round-5/6 queries have no scan-all/nested-loop surprises") {
    val names = Seq("llm_incremental_dedup", "llm_export_shards",
      "join_nullsafe", "win_nth_value", "fn_edit_distance", "ann_topk_auto",
      "dedup_index_incremental", "ann_ivf_autok", "win_ntile_buckets",
      "llm_decontaminate_bloom", "ts_retention_cohorts", "dedup_time_window",
      "text_fingerprint", "export_zorder_layout", "stat_gini",
      "llm_bigram_stats", "llm_perplexity_proxy", "ann_pq_adc",
      "stat_corr_matrix", "win_mad", "fn_geo_suite", "scan_schema_evolution",
      "stat_entropy", "llm_hard_negatives", "join_scd2_merge",
      "scan_json_corrupt", "ts_anomaly_zscore", "win_streak",
      "llm_corpus_funnel", "ann_ivfpq_adc", "llm_line_dedup",
      "text_normalize_suite", "dedup_exact_substring", "ts_ewma",
      "llm_semdedup", "llm_chunk_documents", "llm_dedup_keep_best",
      "ts_interpolate_linear", "ts_resample_ohlc", "stat_linreg",
      "stat_ks_test", "llm_quality_classifier", "llm_ngram_novelty",
      "ts_rolling_median", "stat_mannwhitney", "stat_chi2",
      "llm_curriculum_buckets", "llm_dataset_card", "mm_frame_sample",
      "ts_seasonal_baseline", "graph_pagerank", "graph_triangles",
      // round 8
      "llm_bpe_train", "llm_bpe_tokenize", "graph_components",
      "llm_dataset_sample", "llm_tokenizer_fertility", "stat_bootstrap_ci",
      "graph_assortativity", "ts_changepoint_scan", "text_readability",
      "ts_autocorrelation", "stat_ab_test", "graph_hop_distance", "graph_kcore",
      "ts_backtest_snaive", "llm_topic_balance", "agg_count_min",
      "agg_hll_union", "llm_shard_manifest", "llm_winnowing", "llm_domain_cap", "scan_corrupt_recovery",
      "ds_typed_joinwith", "agg_percentile_weighted", "stat_outlier_tukey",
      "join_asof_nearest",
      "dedup_fuzzy_symspell", "ts_burstiness", "stat_skew_kurtosis",
      "scan_dynamic_overwrite", "mm_frame_dedup",
      // round 9 continuation
      "stat_spearman", "llm_rouge2_pairs", "graph_harmonic",
      "join_spatial_grid", "stat_kendall", "agg_dp_noisy", "ts_theil_sen",
      "mm_clip_filter", "stat_anova_f", "graph_jaccard_links",
      "dedup_normalized", "text_langid_confusion", "ts_periodogram")
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-9 third-session queries have no scan-all/nested-loop surprises") {
    val names = Seq("win_slope_rolling", "stat_welch_ttest",
      "stat_trend_armitage", "stat_capture_recapture",
      "win_islands_activity", "ts_decompose_ma", "ts_concurrency_sweep",
      "ds_typed_cogroup", "fn_collate_compare", "mm_tile_grid",
      "dq_observe_gate", "fn_aes_roundtrip", "stat_runs_test",
      "scan_file_metadata", "agg_cms_portable", "stat_cohens_kappa",
      "fn_xpath_extract", "ts_dtw_distance", "ts_hmm_viterbi",
      "llm_budget_select", "ts_kaplan_meier", "stat_logrank_test",
      "llm_bradley_terry", "stat_mcnemar", "stat_power_twoprop",
      "ds_typed_flatmap", "graph_mst_boruvka", "graph_hits",
      "ts_peak_detection", "stat_anderson_darling",
      "stat_hodges_lehmann", "stat_logrank_test", "llm_bradley_terry",
      "fn_geohash_encode", "fn_luhn_check", "graph_rich_club",
      "graph_centralization", "graph_bipartite_project",
      "ts_cross_correlation", "ts_growth_accounting", "stat_odds_ratio",
      "fn_ulid_sortable", "fn_ipv4_cidr", "stat_lorenz_curve",
      "llm_quality_auc", "llm_budget_select", "ts_kaplan_meier",
      "ts_dtw_distance", "ts_hmm_viterbi", "stat_wilson_ci",
      "llm_submodular_coverage", "stat_partial_corr", "ts_diff_in_diff",
      "llm_hhi_concentration", "ts_sprt_trace", "ts_pareto_days",
      "stat_srm_check", "fn_phone_normalize").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-10 queries have no scan-all/nested-loop surprises") {
    val names = Seq("scan_jdbc_roundtrip", "catalog_hive_stats",
      "llm_semdedup_probe2", "stat_cochran_q", "stat_fleiss_kappa",
      "stat_cmh_test", "stat_theil_u", "stat_grubbs", "stat_cohens_d",
      "ts_rfm_segmentation", "ts_cohort_ltv", "ts_trailing_features",
      "ts_holt_winters", "ts_intervention_its", "llm_rrf_fusion",
      "llm_mmr_rerank", "fn_semver_compare", "fn_jwt_claims",
      "dedup_url_canonical", "text_code_detect", "sql_pivot",
      "sql_unpivot", "agg_grouping_id", "llm_winnowing").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-10 second-session queries have no scan-all/nested-loop surprises") {
    val names = Seq("graph_sp_count", "graph_stress", "graph_ktruss",
      "graph_eccentricity", "stat_ordinal_assoc", "stat_jonckheere",
      "stat_friedman", "stat_cronbach", "ts_drawdown", "ts_bollinger",
      "ts_granger", "dq_orphan_check", "catalog_fk_infer",
      "catalog_key_candidates", "llm_rake_keywords", "llm_pmi_cooccur",
      "text_vocab_growth", "fn_regexp_suite", "llm_snapshot_diff",
      "ts_entropy_rate").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-10 third-session queries have no scan-all/nested-loop surprises") {
    val names = Seq("stat_mahalanobis", "stat_hill_tail",
      "stat_youden_threshold", "stat_vif", "stat_brown_forsythe",
      "stat_hotelling_t2", "ts_adf_test", "ts_yule_walker_ar2",
      "ts_newey_west", "ts_turning_points", "ts_haar_energy",
      "graph_closeness", "graph_cycle4", "join_spatial_knn",
      "mm_pixel_histogram", "llm_prefix_cache", "stat_kde_density",
      "agg_kmv_distinct", "ts_kalman_level", "text_textrank",
      "ts_seasonal_mann_kendall", "llm_lsh_bucket_stats",
      "ts_retention_halflife", "ann_nndescent_round",
      "mm_shot_detect").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-10 fourth-session queries have no scan-all/nested-loop surprises") {
    val names = Seq("ann_range_search", "catalog_view_chain",
      "dq_partition_checksum", "dq_volume_anomaly",
      "export_txn_log_snapshot", "export_txn_time_travel",
      "export_vacuum_orphans", "graph_degree_powerlaw",
      "graph_reciprocity", "llm_best_of_n", "llm_chunk_dedup_rate",
      "llm_embedding_drift", "llm_gopher_quality", "llm_grpo_advantage",
      "mm_aspect_bucket", "mm_audio_rms", "stat_breusch_pagan",
      "stat_cooks_distance", "stat_deming", "stat_durbin_watson",
      "stat_eb_shrinkage", "stat_g_test", "stat_icc",
      "stat_moods_median", "stat_tost_equivalence", "stat_tukey_hsd",
      "text_html_strip", "text_mattr", "ts_circular_hour", "ts_croston",
      "ts_hurst_rs", "ts_rolling_wau", "ts_sax_symbols",
      "ts_spc_rules", "stat_effect_sizes", "agg_kanonymity",
      "llm_ndcg_retrieval", "ts_event_study", "stat_stratified_ate",
      "llm_speculative_accept", "stat_cuped", "stat_meta_analysis",
      "ts_piecewise_trend", "stat_krippendorff_alpha",
      "ds_typed_mapgroups").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  /** Builds and collects `name` at sf0.001 and returns the executed
    * plan of every SQL action it ran: eager jobs inside the query
    * function, checkpoints and the final collect.
    */
  private def executedPlans(name: String): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, TestSpark.sf0001).collect()
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("stat_spearman: one 150-row quantity window, bucketed price ranks") {
    // The price midranks run over the row-sized (flag, price) cells, so
    // every window over them must involve the __pid bucket id (local
    // sums partitioned by (flag, __pid), offsets ordered by __pid). The
    // one other window is the per-flag quantity prefix sum, whose input
    // is the (flag, quantity) frequency table: 3 flags × 50 quantities
    // = 150 rows at any scale. The fact is read through plain
    // column-pruned scans, so no more than one RoundRobin exchange may
    // balance it.
    val plans = executedPlans("stat_spearman")
    val windows = plans.flatMap(p => collect(p) { case w: WindowExec => w })
    def bucketed(w: WindowExec): Boolean =
      (w.partitionSpec ++ w.orderSpec).exists(_.references.exists(_.name == "__pid"))
    val other = windows.filterNot(bucketed)
    assert(windows.exists(bucketed), s"expected bucket-scoped windows:\n${plans.mkString("\n")}")
    assert(other.size == 1 &&
        other.head.orderSpec.exists(_.references.exists(_.name == "l_quantity")),
      s"expected exactly one non-bucketed window, ordered by l_quantity:\n${other.mkString("\n")}")
    assert(PlanRows.into(other.head.child) == 150L,
      s"quantity window input ${PlanRows.into(other.head.child)} rows, expected 150")
    val roundRobin = plans.flatMap(p => collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    })
    assert(roundRobin.size <= 1, s"${roundRobin.size} RoundRobin exchanges:\n${roundRobin.mkString("\n")}")
  }

  test("lorenz/wilcoxon/anderson-darling: corpus-proportional ranks ride the bucketed device") {
    // r12 (VERDICT next #2/#3): the three stats that ranked a
    // corpus-proportional set through a partition-less window now use
    // the Ranking devices. Gate: every windowspec that orders by the
    // ranked value must be __pid-bucket-scoped. Windows over
    // CELL-BOUNDED sets (lorenz's 10-row decile cumsum, the devices'
    // own O(buckets) offset prefix sum) are sanctioned and recognised
    // by their ordering keys (decile / __pid).
    def specs(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    // Sanctioned window shapes: __pid-scoped (the device's per-bucket
    // local ranks / __pid-ordered offset prefix sum), __cnt (the
    // device's total-row-count window over the O(buckets) count
    // table), and lorenz's 10-row decile cumsum.
    def bounded(l: String, extra: String = ""): Boolean =
      l.contains("__pid") || l.contains("__cnt") ||
        (extra.nonEmpty && l.contains(extra))
    specs("stat_lorenz_curve").foreach { l =>
      assert(bounded(l, "decile"),
        s"lorenz window neither bucket-scoped nor decile-bounded:\n$l")
    }
    // anderson-darling localCheckpoints the ranked table AFTER the
    // device (it is consumed twice by the pairing self-join), so its
    // final plan may contain no window at all — that is the strongest
    // possible form of the property. Any spec that IS present must be
    // bucket-scoped.
    Seq("stat_wilcoxon", "stat_anderson_darling").foreach { n =>
      specs(n).foreach { l =>
        assert(bounded(l),
          s"$n window not bucket-scoped (single-partition sort):\n$l")
      }
    }
  }

  test("agg_cms_portable: the probe joins the sketch via broadcast") {
    val p = SparkEntry.queries("agg_cms_portable")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"sketch probe should broadcast the <=1024-cell sketch:\n$p")
  }

  test("join_dpp_prune: the fact scan carries a dynamic-pruning partition filter") {
    val qe = SparkEntry.queries("join_dpp_prune")(spark, TestSpark.sf0001)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$plan")
  }

  test("join_bloom_prefilter: the fact side is filtered BEFORE the join") {
    val plan = SparkEntry.queries("join_bloom_prefilter")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // the UDF bloom filter must sit under the join, not above it
    // (prints as `UDF(knownnotnull(l_orderkey#...))` inside the Filter
    // directly over the lineitem FileScan)
    val joinIdx = plan.indexOf("Join")
    val filterIdx = plan.indexOf("UDF(knownnotnull(l_orderkey")
    assert(filterIdx > joinIdx && joinIdx >= 0,
      s"bloom pre-filter must be below the join in:\n$plan")
  }

  test("audit: round-11 session-2 queries have no scan-all/nested-loop surprises") {
    val names = Seq("llm_mrr_recall", "llm_brier_decomposition",
      "stat_pca_2d", "stat_weibull_fit", "stat_ancova",
      "llm_ppl_ratio_select", "stat_nelson_aalen", "stat_breslow_day",
      "graph_katz", "ts_rolling_corr", "dq_ks_drift",
      "llm_instruction_filter", "mm_keyframe_select",
      "stat_samplesize_cont", "stat_quantile_ci", "stat_cvm_test",
      "ts_cpd_binseg2", "ts_ewma_volatility",
      "ts_permutation_entropy", "ts_spectral_entropy",
      "ts_sample_entropy", "ts_higuchi_fd").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
      // BroadcastNestedLoopJoin is sanctioned ONLY as the single-row
      // broadcast cross join (the scalar-model join-back device);
      // anything else would be a real nested loop
    }
  }

  test("audit: round-12 queries have no scan-all/nested-loop surprises") {
    val names = Seq("ann_index_append", "graph_scc", "graph_condensation",
      "stat_kuiper_test", "stat_cliffs_delta", "ts_lomb_scargle",
      "ts_cointegration", "export_txn_branch", "dq_schema_drift",
      "llm_boilerplate_lines", "stat_mcc", "graph_bowtie",
      "stat_gamma_fit", "stat_beta_fit", "stat_negbinom_fit",
      "sql_named_window", "llm_tokenizer_drift", "ts_var1",
      "ann_recall_audit", "dq_composition_drift", "llm_length_bias",
      "ts_page_hinkley").distinct
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("llm_decontaminate_sweep: ONE corpus tokenize feeds all three settings") {
    // r12 verdict Next #2: the union-of-settings form re-ran
    // tokenize+explode+distinct per setting (3 CORPUS passes). The
    // single tagged-gram-stream form splits bench/corpus via PUSHED
    // doc_id range filters — the corpus side (doc_id >= 20, the
    // 100-TB-scaling side) is scanned and tokenized exactly once; the
    // bench side is a separate constant-size (20-doc) scan. Assert on
    // the FINAL adaptive plan section only (the AQE string appends the
    // initial plan after it).
    val df = SparkEntry.queries("llm_decontaminate_sweep")(spark,
      TestSpark.sf0001)
    df.collect() // materialize so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    val finalPart = p.split("== Initial Plan ==").head
    def scans(pred: String => Boolean) = finalPart.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents") && pred(l))
    val corpusScans = scans(_.contains("GreaterThanOrEqual(doc_id,20)"))
    val allDocScans = scans(_ => true)
    assert(corpusScans == 1 && allDocScans <= 2,
      s"expected exactly 1 corpus-side documents scan (one corpus " +
        s"tokenize pass) and at most 1 bench-side, got corpus=" +
        s"$corpusScans total=$allDocScans:\n$p")
  }

  test("graph_scc: peeled SCC labels are internally consistent at sf0.001") {
    // every member's scc_id is the component's min id, scc_ids are
    // members of their own component, and the directed edge derivation
    // is deterministic across two runs
    val r1 = SparkEntry.queries("graph_scc")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val r2 = SparkEntry.queries("graph_scc")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(r1.nonEmpty && r1.sameElements(r2), "SCC labels must be run-stable")
    val byComp = r1.groupBy(_._2)
    byComp.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid,
        s"scc_id $cid is not the min member of its component")
    }
  }

  test("llm_ppl_ratio_select: both unigram LMs broadcast to the doc scan") {
    val p = SparkEntry.queries("llm_ppl_ratio_select")(spark,
      TestSpark.sf0001).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-bounded LM must broadcast:\n$p")
  }

  test("stat_ancova: model row joins back via broadcast, not shuffle") {
    val p = SparkEntry.queries("stat_ancova")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"),
      s"ANCOVA model row should broadcast back to group rows:\n$p")
  }

  test("audit: round-13 queries have no scan-all/nested-loop surprises") {
    val names = Seq("ann_index_drift", "ann_index_compact",
      "stream_ann_append", "llm_pmi_cooccur", "llm_source_ngram_overlap")
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("ann_index_drift: the codebook side joins via broadcast") {
    // the k-row centroid frame must broadcast onto the model-sized
    // (cell, dim) aggregate — a shuffle there would be a plan bug
    val p = SparkEntry.queries("ann_index_drift")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"codebook centroids should broadcast:\n$p")
  }

  test("audit: round-14 queries have no scan-all/nested-loop surprises") {
    val names = Seq("ann_index_retrain", "ann_retrain_recall",
      "dedup_index_compact", "dedup_index_drift", "stream_compact_catchup")
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-16 queries have no scan-all/nested-loop surprises") {
    val names = Seq("ann_ivfpq_rerank", "ann_ivfpq_tuning",
      "stream_ivfpq_append", "ann_ivfpq_retrain")
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("audit: round-15 queries have no scan-all/nested-loop surprises") {
    val names = Seq("ann_ivfpq_persisted", "ann_ivfpq_recall",
      "ann_ivfpq_append", "ann_ivfpq_compact", "ann_ivfpq_drift",
      "dedup_index_retrain")
    names.foreach { n =>
      val p = SparkEntry.queries(n)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      info(s"=== $n ===")
      p.linesIterator.filter(l =>
        l.contains("Exchange") || l.contains("Join") || l.contains("Scan")
      ).take(12).foreach(l => info(l.trim.take(150)))
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("dedup_index_drift: both artifact probes read the BUCKETED scan") {
    // the census and the batch semi-join must both read the bucketed
    // corpus_bands scan (Bucketed: true) — at fixture scale the join
    // side broadcasts the small corpus (size-driven and correct); at
    // corpus scale the same bucketed scan feeds the join exchange-free
    val p = SparkEntry.queries("dedup_index_drift")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    val bucketedScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("corpus_bands") &&
        l.contains("Bucketed: true"))
    assert(bucketedScans == 2,
      s"expected 2 bucketed corpus_bands scans, got $bucketedScans:\n$p")
  }

  test("llm_pmi_cooccur: pair extraction is one window pass, not self-joins") {
    // r13: lead()-window form — the token table must appear in exactly
    // one document-keyed Exchange feeding a Window, with no
    // token-table equi-join anywhere in the pair path
    val p = SparkEntry.queries("llm_pmi_cooccur")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // the lead()-window pair pass runs during the np checkpoint
    // materialization; the FINAL plan must read only the checkpointed
    // model-sized aggregates (zero corpus re-scans) and join them via
    // broadcast — a SortMergeJoin on the vocab keys would mean a
    // fact-sized side leaked through
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents"))
    assert(docScans == 0,
      s"final plan should read checkpointed aggregates, not re-scan " +
        s"the corpus ($docScans scans):\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"vocab-side counts should broadcast:\n$p")
  }
}
