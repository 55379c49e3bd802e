package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for a representative query per operator
  * family into PLANS.md — the reviewable record that filters push down,
  * dims broadcast, aggregations combine partially, and nothing goes
  * cartesian. Regenerate: `sbt "runMain graft.Plans"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(Sessions.cpus, appName = "graft-plans")
    val picks = Seq(
      "agg_pricing_summary", "rel_star_join_revenue", "rel_anti_join_resume",
      "rel_theta_contains_join", "win_topk_per_customer", "dd_minhash_lsh_pairs",
      "sim_ivf_topk", "agg_salted_sum", "agg_rollup", "win_sessionize",
      "ta_clean_corpus", "ta_langid_ngram", "ig_report_synth",
      "ig_report_synth_core", "dd_jaccard_adjacent", "agg_approx_distinct",
      "sim_ann_topk", "rel_asof_join", "rel_asof_join_native", "dd_dedup_pipeline", "sim_lsh_neardup_auto",
      "dd_simhash_hamming", "dd_simhash_hamming_k2", "sim_lsh_neardup6",
      "agg_topk_typed", "agg_cube", "win_rolling_frames",
      "rel_semi_join", "agg_corr_value_time", "rel_range_join_banded",
      "dd_dedup_groups", "sim_ivf_multiquery", "mm_neardup_pairs", "ta_pii_scrub",
      "ta_corpus_pipeline", "dd_incremental", "sim_dedup_groups",
      "dd_paragraph_dedup", "sim_ivf_persisted", "ta_decontaminate",
      "ta_repetition_stats", "ta_domain_mix", "ta_pack_sequences",
      "sim_sq8_multiquery", "sim_ivf_sq8", "ta_inverted_index",
      "ta_bm25_topk", "ta_bm25_persisted",
      // round-7 families
      "agg_countmin", "rel_zorder_layout", "rel_orc_roundtrip",
      "dd_span_dedup", "dd_span_dedup_persisted", "ta_dsir_weights",
      "rel_upsert_merge", "rel_scd2_history", "ta_sample_per_key",
      "ta_stratified_sample", "ta_hybrid_rrf", "ta_quality_classifier",
      "agg_heavy_hitters",
      // round-7 second-session families
      "rel_pagerank", "rel_fuzzy_blocking_join", "win_ewma",
      "win_ohlc_downsample", "agg_hll_sketch_merge", "ta_tokenize_ids",
      "ta_chunk_documents", "sim_semantic_dedup", "dd_containment",
      "rel_jsonl_roundtrip",
      // round-7 third-session families
      "rel_copurchase_topk", "rel_triangle_count", "rel_cdc_snapshot_diff",
      "rel_temporal_join_scd2", "rel_purge_cascade", "rel_csv_roundtrip",
      "rel_fk_discovery", "win_event_transitions", "win_last_touch",
      "win_time_weighted_avg", "win_period_over_period", "win_rank_changes",
      "ta_bigram_lm_score", "ta_tfidf_keywords", "ta_k_anonymity",
      "ta_vocab_coverage", "sim_centroid_labels", "sim_knn_classify",
      "agg_minmax_scale", "agg_equiwidth_hist", "agg_benford_prices",
      "rel_skyline_pareto", "sim_pq_topk",
      // round-8 families
      "ta_html_extract", "ta_url_filter", "rel_pagerank_converged",
      "rel_khop_reach", "rel_connected_components", "ta_ppl_buckets",
      "rel_compaction_plan", "win_anomaly_spikes", "rel_join_card_est",
      "rel_zone_map_prune", "rel_vacuum_plan", "ta_novelty_curve", "sim_ivfpq_topk",
      "win_cusum_changepoint", "ta_bpe_merges", "dd_setsim_join",
      "rel_time_travel", "rel_ivm_ripple", "rel_assoc_rules",
      "rel_editdist_join", "ta_bpe_encode",
      "agg_equidepth_hist", "agg_chi2_cells", "agg_gini_segment",
      "sim_range_search", "dd_split_leakage", "rel_skew_audit",
      "ta_langid_confusion", "win_interpolate_linear",
      "agg_mad_outliers", "rel_merkle_diff", "win_max_concurrency",
      "win_cohort_ltv", "ta_blocklist_filter", "agg_ab_significance",
      // round-8 fourth-session families
      "agg_auc_rank", "agg_ks_test", "ta_cohens_kappa", "sim_recall_curve",
      "sim_triplet_mining", "sim_kmeans_inertia", "sim_ood_rate",
      "sim_cluster_topics", "mm_pair_curation", "ta_epoch_shuffle",
      "ta_memorization_rate", "ta_pmi_cooccur", "win_max_drawdown",
      "win_seasonal_baseline", "win_autocorr", "win_time_to_convert",
      "win_survival_curve", "win_path_topk", "win_peak_detection",
      "agg_audience_overlap", "agg_target_encode", "agg_winsorize",
      "agg_alloc_budget",
      // round-8 fifth-session families
      "dd_threshold_sweep", "rel_quota_admission", "rel_link_predict",
      "rel_label_propagation", "win_rolling_median", "win_bollinger",
      "win_rsi", "ta_fertility", "dd_cross_source_matrix",
      "rel_mutual_best_match", "dd_lsh_recall_eval", "mm_frame_dedup",
      // round-9 families (ADVICE r9: the serve-side graph-ANN path gets
      // a pinned plan like its build counterpart)
      "sim_nndescent_topk", "sim_nndescent_recall", "ta_query_expansion",
      "sim_graph_search",
      // round-10 families
      "sim_nnd_incremental", "sim_nnd_incremental_recall",
      "ta_repetition_filter", "mm_wav_meta",
      // round-11 families
      "mm_pixel_dhash", "mm_pixel_neardup", "mm_pixel_persisted",
      "mm_media_router", "rel_pagerank_served",
      // round-12 families (the pixel-real resize/feature stages)
      "mm_pixel_resized", "mm_pixel_features",
      // round-13 family (the real-container composed media pipeline)
      "mm_decode_frames_real")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.Plans)\n\n")
    sb.append(s"Scale dir: `$dir`. One representative query per operator family;\n")
    sb.append("the full plan contract is asserted in `PlanSpec`.\n")
    // .distinct: list maintenance across rounds has introduced dupes
    // (ADVICE r7: win_rank_changes / ta_vocab_coverage listed twice),
    // which doubled their PLANS.md sections and inflated the count
    picks.distinct.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val plan = try {
          val qe = fn(spark, dir).queryExecution
          qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        } catch { case e: Throwable => s"(failed: ${e.getMessage})" }
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      }
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${picks.distinct.length} plans)")
    spark.stop()
  }
}
