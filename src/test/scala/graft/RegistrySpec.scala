package graft

/** Guards the driver contract: the SURVEY §2 operator inventory must
  * stay fully registered, and every oracle key must have a query.
  */
class RegistrySpec extends SparkSuite {

  /** The §2 contract inventory (+ training-data extras). */
  private val surveyKeys = Seq(
    // §2.1 scans
    "q_scan_full", "q_scan_pruned", "q_scan_count", "q_scan_pushdown",
    "q_part_layout", "q_schema_evolution",
    "q_join_bucketed", "q_merge_upsert", "q_compact_files",
    // §2.2 project/filter
    "q_project_arith", "q_filter_pred", "q_filter_null3vl", "q_filter_subquery",
    "q_sql_text", "q_sql_recursive",
    // §2.3 joins
    "q_join_inner", "q_join_broadcast", "q_join_merge_large", "q_join_left",
    "q_join_right", "q_join_full", "q_join_semi", "q_join_anti",
    "q_join_cross", "q_join_theta", "q_join_range", "q_join_asof",
    "q_join_multiway", "q_join_lateral", "q_join_salted",
    // §2.4 aggregates
    "q_agg_global", "q_agg_groupby", "q_agg_distinct", "q_agg_multidistinct",
    "q_agg_having", "q_agg_rollup", "q_agg_cube", "q_agg_groupingsets",
    "q_agg_stats", "q_agg_collect", "q_agg_approx_hll", "q_agg_approx_quantile",
    "q_agg_approx_topk",
    "q_agg_percentile", "q_agg_bool", "q_agg_histogram", "q_agg_try_arith",
    "q_agg_argmax", "q_agg_bitmap_distinct", "q_agg_outliers", "q_agg_mode",
    "q_agg_listagg", "q_profile_table", "q_embed_quantize",
    "q_agg_entropy", "q_agg_gini", "q_agg_decay", "q_agg_regr_slope",
    "q_agg_corr", "q_agg_moments", "q_agg_heavyhitters",
    // §2.5 windows
    "q_win_rownumber", "q_win_rank", "q_win_ntile", "q_win_lag_lead",
    "q_win_runsum", "q_win_moving", "q_win_rangeframe", "q_win_firstlast",
    "q_win_distribution", "q_win_topk_group", "q_win_sessionize",
    "q_win_gap_fill", "q_win_streak", "q_scd2_intervals",
    // §2.6 sort/limit
    "q_sort_multi", "q_topk_global", "q_limit_offset",
    // §2.7 set ops
    "q_set_union_all", "q_set_union_dist", "q_set_intersect", "q_set_except",
    "q_set_by_name",
    // §2.8 scalars
    "q_str_basic", "q_str_split", "q_str_regexp", "q_str_like",
    "q_date_parts", "q_date_arith", "q_ts_funcs", "q_ts_retention",
    "q_ts_ohlc", "q_ts_anomaly", "q_ts_interp", "q_zorder_layout",
    "q_math_funcs",
    "q_cond_funcs", "q_cast_funcs", "q_array_funcs", "q_array_hof",
    "q_explode", "q_explode_outer", "q_map_funcs", "q_json_extract",
    "q_struct_funcs", "q_json_variant", "q_str_encode", "q_date_seq", "q_math_bitwise",
    "q_pivot", "q_unpivot",
    // §2.9 streaming (batch-checkable forms)
    "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
    "q_stream_dedup", "q_stream_join_interval", "q_stream_topk",
    "q_events_funnel", "q_events_transitions",
    // §2.10 LLM ops
    "q_text_wordcount", "q_text_tfidf", "q_text_ngram", "q_text_stats",
    "q_dedup_exact", "q_dedup_minhash", "q_sim_cosine_topk",
    "q_sim_knn_label", "q_multimodal_join", "q_agg_vector_centroid",
    // training-data extras
    "q_text_langid", "q_text_quality", "q_text_fingerprint", "q_text_tokens",
    "q_dedup_simhash", "q_dedup_ngram", "q_dedup_components",
    "q_dedup_embed", "q_sim_ann_lsh", "q_sim_ann_ivf",
    "q_sample_hash", "q_split_train_val", "q_multimodal_binary",
    "q_multimodal_decode",
    "q_dedup_embed_lsh", "q_dedup_embed_lsh_t9", "q_pipeline_e2e",
    "q_text_repetition", "q_dedup_chunk", "q_text_lang_keywords",
    "q_text_contamination", "q_sample_stratified", "q_text_perplexity",
    "q_text_bpe", "q_text_bpe_apply", "q_drift_kl", "q_dedup_incremental",
    "q_graph_pagerank", "q_graph_degree", "q_ml_kmeans", "q_ml_cluster_prune",
    "q_pack_sequences", "q_mix_weights", "q_embed_pq", "q_dedup_semantic",
    "q_dedup_semantic_t9",
    "q_rag_chunk", "q_graph_cooccur", "q_sim_ann_pq",
    "q_sample_fixed", "q_graph_khop")

  /** Approximate / engine-specific-hash ops — deliberately no oracle. */
  private val noOracle = Set("q_agg_approx_hll", "q_agg_approx_quantile",
    "q_agg_approx_topk", "q_dedup_minhash", "q_dedup_simhash")

  test("every SURVEY §2 key is registered in SparkEntry.queries") {
    val missing = surveyKeys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"missing keys: ${missing.mkString(", ")}")
  }

  test("every oracle key has a query; only declared exceptions lack oracles") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle without query: ${(o -- q).mkString(", ")}")
    val lacking = q -- o
    assert(lacking == noOracle,
      s"unexpected oracle-less keys: ${(lacking -- noOracle).mkString(", ")}; " +
        s"expected-missing that have one: ${(noOracle -- lacking).mkString(", ")}")
  }

  test("every registered key has a row in SURVEY.md §2 (no contract drift)") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val text = try survey.mkString finally survey.close()
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(k => text.contains(s"| `$k` |"))
    assert(missing.isEmpty,
      s"keys registered but absent from SURVEY §2 tables: ${missing.mkString(", ")}")
    val staleRows = surveyKeys.filterNot(SparkEntry.queries.contains)
    assert(staleRows.isEmpty,
      s"surveyKeys list out of date: ${staleRows.mkString(", ")}")
  }

  test("no duplicate keys across category registries") {
    // each family's `keys`, not its derived maps: a Map keeps the last
    // of two equal names and would hide a key entered twice
    val names = SparkEntry.families.flatMap(_.keys.map(_.name))
    val dups = names.diff(names.distinct).distinct.sorted
    assert(dups.isEmpty, s"keys registered more than once: ${dups.mkString(", ")}")
  }
}
