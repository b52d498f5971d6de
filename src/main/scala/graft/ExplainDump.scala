package graft

import java.nio.file.{Files, Paths}

/** Writes EXPLAIN.md: formatted physical plans for the headline
  * queries — the artifact for reviewing scan pushdown, broadcast
  * choices, and codegen spans without re-running anything.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // show full static plan
    val headline = Seq("q_star_revenue", "q_enrich_orders", "q_user_velocity",
      "q_velocity_multi", "q_interval_join", "q_dedup_jaccard", "q_ann_topk",
      "q_event_features", "q_model_score", "q_emb_neardup", "q_graph_cooccur",
      "q_local_supplier", "q_order_priority", "q_unordered_parts",
      "q_feature_stats", "q_topn_native", "q_merge_upsert",
      "q_ensemble_multi", "q_model_explain", "q_tfidf_terms",
      "q_top_supplier", "q_seq_score", "q_ann_ivf",
      "q_feature_normalize", "q_feature_select", "q_ewma",
      "q_quantile_bins", "q_sample_stratified", "q_feature_hash",
      "q_dedup_incremental", "q_text_repetition", "q_text_surprisal",
      "q_emb_quantize", "q_pack_sequences",
      "q_decontaminate", "q_semdedup", "q_dsir_weights",
      "q_substring_dedup", "q_product_profit", "q_important_parts",
      "q_part_supplier_counts",
      "q_negative_samples", "q_knn_label", "q_calibration", "q_eval_pr",
      "q_zorder_key", "q_global_index", "q_shard_plan", "q_kanon_risk",
      "q_curriculum", "q_tokenize_ids", "q_length_buckets",
      "q_bm25", "q_inverted_index", "q_budget_select", "q_feature_store",
      "q_vocab_coverage", "q_funnel", "q_mad_outliers",
      "q_cohort_retention", "q_event_transitions", "q_attribution",
      "q_triangles", "q_seasonal_anomaly", "q_rebalance",
      "q_bigram_surprisal", "q_session_paths", "q_snapshot_diff",
      "q_preference_pairs", "q_burst_detect", "q_asof_native",
      "q_kfold", "q_histogram",
      // top-cost bench family (r5 verdict: plans for the most
      // expensive queries must be committed)
      "q_dedup_clusters", "q_dedup_containment", "q_split_leakage",
      "q_cluster_split", "q_source_overlap",
      // round 8: shared label view + the two new doc filters
      "q_cluster_family_shared", "q_pii_scan", "q_quality_classifier",
      // round 8b: compressed ANN + the executable wire loop
      "q_ann_ivfpq", "q_log_roundtrip",
      // round 8c: trained clustering
      "q_kmeans",
      // round 9: trained-codebook ANN + compacted-log changelog read,
      // phrase intersection, SCD2, blocked record linkage
      "q_ann_ivf_trained", "q_log_compact",
      "q_phrase_search", "q_scd2", "q_record_linkage",
      // rounds 10–11: exact-rerank refine, fully-trained-book rerank,
      // Avro-payload wire loop
      "q_ann_ivfpq_rerank", "q_ann_trained_rerank", "q_log_avro",
      // round 11b: residual IVFADC (+ rerank), hybrid RRF retrieval,
      // MMR diversification
      "q_ann_ivfpq_residual", "q_ann_residual_rerank", "q_hybrid_rrf",
      "q_mmr_rerank",
      // round 11c: native bounded-Levenshtein linkage, hard-negative
      // mining, JL random-projection prefilter, soft-dedup weights
      "q_fuzzy_match", "q_hard_negatives", "q_ann_rp_rerank",
      "q_soft_dedup", "q_quality_prune",
      // round 12: quality-aware best-rep canonicals (the 168th query,
      // missed by the 11c block)
      "q_dedup_best_rep",
      // round 12b: Bloom-prefiltered decontamination, mutual-kNN
      // graph, greedy k-center coreset, temperature source mixing
      "q_decontaminate_bloom", "q_knn_graph", "q_kcenter_coreset",
      "q_temperature_mix",
      // round 12c: duplicated-span removal, n-gram novelty, k-center
      // coverage assignment, per-source length quantiles
      "q_substring_scrub", "q_ngram_novelty", "q_coreset_assign",
      "q_source_length_profile",
      // round 13: contamination-span scrub, MOSS winnowing,
      // per-source n-gram heavy hitters, deterministic MLM masking
      "q_decontaminate_scrub", "q_winnow_fingerprints", "q_top_ngrams",
      "q_mask_tokens",
      // round 13b: winnowing overlap pairs, per-source sketch-algebra
      // similarity, per-dimension embedding health
      "q_winnow_overlap", "q_source_minhash_sim", "q_emb_dim_profile",
      // round 13c: BPE tokenizer training + encoding
      "q_bpe_merges", "q_bpe_encode",
      // round 14: ANN recall evals (IVF and LSH vs brute-force truth)
      // + DSIR floor-then-fill selection + eval-split contamination
      "q_ann_recall", "q_lsh_recall", "q_dsir_select",
      "q_eval_contamination", "q_ann_recall_curve",
      // round 15: full-ladder ANN recall eval + image perceptual dedup
      // through the real codec path
      "q_ann_recall_ladder", "q_image_neardup",
      // round 16: audio/video near-dup promoted to the gate, the
      // clustered-regime recall panel, and the web curation family
      "q_audio_neardup", "q_video_neardup", "q_ann_recall_clustered",
      "q_html_extract", "q_url_filter", "q_link_graph")
    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans (auto-generated by " +
      "graft.ExplainDump; do not edit)\n\n")
    sb.append(s"Source: `$sfDir`, AQE disabled to show the full static " +
      "plan. Regenerate: `sbt \"runMain graft.ExplainDump\"`.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"wrote EXPLAIN.md (${headline.size} plans)")
    spark.stop()
  }
}
