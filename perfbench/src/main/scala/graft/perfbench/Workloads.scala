package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Workloads: a query mix plus the prewarm builders its setup runs on an
  * empty artifact store. A query whose artifact no listed builder covers
  * builds it lazily in the untimed warm-up pass, which is part of setup.
  *
  * The three [[families]] partition `SparkEntry.queries`: every query
  * belongs to exactly one (`WorkloadsSpec` checks this and runs each
  * family once through the output check). The [[timed]] mixes are what
  * `run.py` times: fixed subsets of a family, sized so that one run fits
  * the benchmark's per-run budget (see README.md).
  */
object Workloads {

  final case class Workload(name: String, queries: Seq[String],
                            builders: Seq[String])

  /** The reference's own pipeline: every query of `Relational`,
    * `TimeSeriesQ`, `BacktestQ`, `CoverageQ` and `ReplayQ`. Short scans,
    * shuffles and stateful folds; no sinks and little driver-side work. */
  val backtestFamily: Workload = Workload("backtest", Seq(
    "s1_dim_scan", "p1_positional_slice", "p4_single_column",
    "p2_drop_columns", "p3_row_drop", "p6_year_slice", "p7_threshold",
    "p8_positive_filter", "p10_contains", "a1_dim_join", "j1_star_join",
    "j2_semi_join", "j3_anti_join", "g5_agg", "g6_product", "w2_topn",
    "w4_last_snapshot", "w5_sort", "u1_union", "u2_intersect", "u3_except",
    "g10_rollup", "g11_percentiles", "g12_sketches", "w6_ranking",
    "a5_range_agg", "t1_ffill", "t2_lead", "f1_minmax_norm", "f2_rebase",
    "f5_delta", "f6_pct_change", "f7_log_return", "f8_clean_inf",
    "f9_sign_abs", "f10_exp_pow", "f11_datediff", "f12_time_extract",
    "f13_epoch_roundtrip", "f14_format_json", "f15_rolling",
    "f16_rolling_range", "p5_between_time", "g1_group_by_date",
    "g2_weekly_blocks", "g7_rowwise_sum", "a2_pivot_align", "a3_asof_join",
    "a3_asof_hot", "t3_pair_trades", "t4_intraday_trades",
    "t4_balance_history", "r1_trade_report", "s5_literal_calendar",
    "p9_null_prune", "f3_fx_convert", "w3_last_n", "w1_balance_panel",
    "w7_melt", "r2_brk_trades", "r3_intraday_trades", "r4_replay_report"),
    Seq("intradayFold", "replayFold"))

  /** Read-only corpus curation and retrieval: the `TextQ`/`VectorQ`/`ExtQ`
    * queries that read no streaming sink, release or takedown state and
    * apply no new batch to a built index. Execution-heavy. */
  val corpusFamily: Workload = Workload("corpus", Seq(
    "x1_dedup_exact", "x2_token_stats", "x3_quality", "x4_lang_id",
    "x5_fingerprint", "x6_jaccard_pairs", "x7_minhash_pairs",
    "x33_neardup_keep_one", "x8_simhash", "x9_idf_quality",
    "x10_lang_trigram", "x11_dup_clusters", "x12_repetition",
    "x14_hashed_tfidf", "x15_decontam", "x16_stratified_sample",
    "x17_decontam_minhash", "x23_simhash_pairs", "x22_curation_pipeline",
    "x21_quality_filter", "x20_decontam_filter", "x19_fuzzy_pairs",
    "x18_pack_sequences", "x24_pii_scrub", "x25_ngram_counts",
    "x26_contam_ngram", "x54_dup_ngram_score", "x27_temperature_mix",
    "x28_segment_dedup", "x62_corpus_fingerprint", "x67_dedup_keep_best",
    "x68_corpus_compare", "x69_leakage_split_neardup", "x66_leakage_split",
    "x65_curriculum", "x64_shard_fingerprint", "x63_drift_psi",
    "x61_containment", "x29_bloom_decontam", "x30_weighted_sample",
    "x31_token_budget", "x32_curation_funnel", "x34_corpus_stats",
    "x35_training_batches", "x13_dedup_keep_one", "x47_bigram_perplexity",
    "x48_bm25_topk", "x50_bm25_pruned", "x51_bm25_segmented",
    "x52_bm25_seg2stage", "x46_assign_ids", "x37_training_shards",
    "x38_epoch_upsample", "x39_lm_perplexity", "x40_chunk_sliding",
    "x41_boilerplate", "x42_source_cap", "x44_training_mix",
    "x43_intradoc_dedup", "v1_cosine_scores", "v2_cosine_topk",
    "v3_neardup_cosine", "v4_ann_lsh", "v5_ivf_topk", "v6_ivf_probe",
    "v7_ann_recall", "v8_quantize", "v9_ivf_sla", "v11_pq_recall",
    "v12_ivfpq_recall", "v10_semdedup", "v13_cluster_sample",
    "v14_semdedup_ivf", "v15_hier_assign", "v16_binary_recall",
    "v17_filtered_topk", "v19_rag_retrieval", "v18_filtered_ivf",
    "v20_rag_recall", "v21_knn_graph", "v25_retrieval_eval",
    "v24_mmr_rerank", "v23_hybrid_rrf", "v26_hybrid_ivf",
    "v27_hybrid_bounded", "v33_ivf_drift", "v34_ivf_retrain_decision",
    "v22_knn_graph_ivf", "v29_semantic_decontam", "m1_media_meta",
    "m2_media_embed", "m3_media_resize", "m4_frame_sample",
    "m5_media_phash_dup", "st1_tumbling_window", "st2_sessionize",
    "st3_dedup_keep_first", "st4_curate", "st5_neardup_stream"),
    Seq("realPairClusters", "chainClusters", "docSignals", "containmentIndex",
      "benchSegBloom", "prebuiltSegmented", "vecCorpus", "prebuiltRag",
      "prebuiltIvf", "prebuiltPq", "prebuiltHybrid", "prebuiltFilteredIvf",
      "prebuiltHier", "prebuiltEvalExact", "prebuiltDriftedIvf",
      "prebuiltExactL2"))

  /** The write path and its readers: queries over manifest-committed
    * streaming sinks (st6-st22), incremental maintenance of a built index,
    * takedown/attestation and release audit/delta/compare. Setup ingests,
    * compacts, takes down and publishes the sinks. */
  val lifecycleFamily: Workload = Workload("lifecycle", Seq(
    "st6_bm25_stream", "st7_bm25_compacted", "st8_ivf_stream",
    "st9_curate_stream", "st10_cluster_stream", "st11_ngramdf_stream",
    "st12_cluster_takedown", "st13_ngramdf_takedown", "st14_corpus_diff",
    "st15_fingerprint_stream", "st16_containment_takedown",
    "st17_bm25_fingerprint", "st18_ivf_fingerprint",
    "st19_maintenance_report", "st20_retention_plan", "st21_retention_bytes",
    "st22_release_retention", "x36_incremental_dedup",
    "x45_incremental_neardup", "x49_bm25_incremental",
    "x53_incremental_curation", "x55_incremental_dup_score",
    "x56_incremental_clusters", "x70_containment_incr",
    "v28_ivf_incremental", "v30_semdedup_incremental",
    "v31_semdedup_incr_ivf", "m6_media_phash_increment", "x57_bm25_takedown",
    "x58_curate_takedown", "x59_sig_takedown", "x60_bm25_blocklist",
    "m7_phash_takedown", "v32_ivf_takedown", "x71_admission_gate",
    "x72_containment_coverage", "x73_forget_attest", "x74_blast_radius",
    "x75_attest_by_content", "x76_release_audit", "x77_release_registry",
    "x78_release_delta", "x79_release_gc", "x80_delta_folded",
    "x81_delta_state", "x82_delta_preflight", "x83_release_compare",
    "x84_release_compare_xlayout", "x85_release_linked"),
    Seq("takedownContainment", "cascadeRoot", "containmentIndex",
      "streamedCuration", "foldReleaseRoot", "fpCuration", "takedownCuration",
      "admissionDecisions", "streamedClusters", "takedownClusters",
      "prebuiltMerged", "maintainedRoot", "gcReport", "streamedNgramDf",
      "takedownNgramDf", "deltaReleaseRoot", "releaseRoot", "corpusSigIndex",
      "corpusClusterTable", "ngramDfIndex", "vecCorpus", "streamedIvf",
      "takedownIvf", "fpIvfDir", "semanticIvfIndex", "semanticIndex",
      "streamedBm25", "bm25TwoBatchBase", "compactedBm25", "takedownBm25",
      "blocklistBm25", "fpBm25Dir", "mediaFingerprintIndex"))

  val families: Seq[Workload] = Seq(backtestFamily, corpusFamily, lifecycleFamily)

  /** The paper's pipeline on the engine's own operators: the golden BRK
    * share-class replay (whose 124-trade, 446.937758 % headline the
    * warm-up pass asserts), the pair backtest on the sf tables, a star
    * join, an as-of join, windows, percentiles, a pivot and a set
    * operation. It runs no builder: the two backtest folds (20-25 s each
    * on a cold JVM) and their consumers stay out of the mix. */
  val backtest: Workload = Workload("backtest", Seq(
    "r2_brk_trades", "t3_pair_trades", "j1_star_join", "a3_asof_join",
    "g11_percentiles", "a2_pivot_align", "w6_ranking", "u2_intersect",
    "f15_rolling", "t1_ffill"),
    Nil)

  /** The write path and its readers: the streamed n-gram df sink,
    * ingested in three manifest commits and then taken down in setup, read
    * back by its serve and takedown queries; incremental near-dup and
    * dup-score against built indexes; two builder-free incremental
    * queries. The release, cascade and BM25 sink builders (15-50 s each on
    * a cold JVM) stay out of the mix. */
  val lifecycle: Workload = Workload("lifecycle", Seq(
    "st11_ngramdf_stream", "st13_ngramdf_takedown",
    "x45_incremental_neardup", "x55_incremental_dup_score",
    "x36_incremental_dedup", "x74_blast_radius"),
    Seq("streamedNgramDf", "takedownNgramDf", "corpusSigIndex",
      "ngramDfIndex"))

  val timed: Seq[Workload] = Seq(backtest, lifecycle)

  def byName(name: String): Workload = timed.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (have ${timed.map(_.name).mkString(", ")})"))

  /** Every prewarm task the program declares, in its topological order. */
  def allTasks(s: SparkSession, d: String)
      : Seq[(String, Seq[String], () => Unit)] =
    Seq(("intradayFold", Seq.empty[String],
          () => graft.queries.BacktestQ.prewarm(s, d)),
        ("replayFold", Seq.empty[String],
          () => graft.queries.ReplayQ.prewarm(s))) ++
      graft.queries.TextQ.prewarmTasks(s, d) ++
      graft.queries.VectorQ.prewarmTasks(s, d) ++
      graft.queries.ExtQ.prewarmTasks(s, d)

  /** The workload's builders as `Graft.warmAll` tasks. A listed builder
    * the program no longer declares, or a dependency left out of the list,
    * is an error: either would move a build into the warm-up pass. */
  def tasks(w: Workload, s: SparkSession, d: String)
      : Seq[(String, Seq[String], () => Unit)] = {
    val declared = allTasks(s, d)
    val unknown = w.builders.filterNot(declared.map(_._1).toSet)
    require(unknown.isEmpty, s"${w.name}: unknown builders $unknown")
    val keep = w.builders.toSet
    declared.filter(t => keep(t._1)).map { case t @ (n, deps, _) =>
      val missing = deps.filterNot(keep)
      require(missing.isEmpty, s"${w.name}: builder $n needs $missing")
      t
    }
  }
}
