package graft

/** Plan-review diagnostic: prints `explain("formatted")` for the named
  * queries (or a default set of plan-shape-critical ones) against sf0.001.
  *
  * Usage: sbt "runMain graft.Explain [queryName ...]"
  *
  * What to look for (SURVEY §4): `PushedFilters`/`ReadSchema` on scans,
  * `BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for top-k,
  * `WindowGroupLimit` under e08, two-phase `HashAggregate` pairs, and wide
  * `WholeStageCodegen` spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("a02_scan_project", "a03_scan_filter_pushdown", "c02_join_broadcast",
               "c10_join_multiway", "c11_join_asof", "c19_join_range_binned",
               "d02_agg_group_q1", "e08_win_topk_group", "f03_topk_global",
               "h21_arr_scan_funcs", "k03_sim_topk_cosine", "k16_ivf_assign",
               "k19_simhash_neardup", "k20_tfidf_topterms",
               // round-8 representatives: map-agg chain, bitmap distinct +
               // broadcast, grid sparkline, LTTB partial sort-agg, HOF folds
               "d25_summap_agg", "d30_group_bitmap", "h28_sparkbar",
               "e19_lttb_downsample", "e20_exp_moving_avg", "d31_group_array_sample",
               // round-9 representatives: power-sum closed forms, KMV rank
               // window, grid rank stats, gram-count joins
               "d32_skew_kurt", "d34_kmv_distinct", "d35_mann_whitney_u",
               "k37_repetition_quality",
               // round-10 representatives: single-row power-sum tests, the
               // grid AUC sweep, quantized-distance pair join, geo broadcast
               "d41_anova_f", "d42_roc_auc", "k38_quantized_distances",
               "h34_great_circle",
               // round-11 representatives: running-max sequence window,
               // map-only string search, additive integer decay agg,
               // 2-sketch set ops, 10-statistic matrix agg, Tukey
               // broadcast-fence join, chained array prefix folds
               "j12_sequence_match_time", "h35_multi_search",
               "e21_time_decayed_sum", "d45_kmv_set_ops", "d46_corr_matrix",
               "d47_tukey_outliers", "h36_arr_cumsum_nonneg",
               "d49_quantile_types", "h39_gcd_lcm",
               // round-12 representatives: compiled sequence patterns
               // (one shared key exchange), cross-corpus chunk dedup
               // (digest-keyed join), running distinct, LIMIT BY
               // (WindowGroupLimit), array compact/zip HOFs
               "j14_sequence_match_mixed", "j15_sequence_match_context",
               "k39_chunk_dup_fraction", "e25_running_distinct",
               "f05_limit_by", "h41_arr_compact_zip",
               // round-13 representatives: the foldMatch sorted-fold
               // (collect+aggregate HOF, one key exchange), the two-mode
               // skip-dialect window pair, schema'd JSON parse + explode,
               // real-MapType filter/apply HOFs, DESC WindowGroupLimit
               "j16_sequence_match_two_bounds", "j17_sequence_match_ch_skip",
               "h46_json_extract_schema", "h47_map_filter_apply",
               "d54_group_array_last", "j18_sequence_count_bounded",
               "k40_unigram_logprob", "h48_map_arithmetic",
               // round-13 close: distributed Gopher gate (explode + two
               // stacked aggs + doc_id join), bounded topKWeighted collect,
               // map-only all-occurrences regexp
               "k41_gopher_quality_gate", "d55_topk_weighted",
               "h49_extract_all", "k42_embedding_diversity",
               // round-20 representatives: correlated-agg decorrelations
               // (threshold broadcast / regroup / min-with-ties),
               // disjunctive-predicate hash join, dimension-sized max
               // window, Bloom-pruned semi join
               "c21_join_q17_small_qty", "c23_join_q21_waiting",
               "c24_join_q2_mincost", "c25_join_q19_disjunct",
               "c26_join_q15_top_supplier", "d62_agg_q11_share",
               "k70_bloom_decontam",
               // round-22 representatives: IPF raking — grid agg + 1-row
               // marginal broadcast + four window sweeps (k73/k74 faces are
               // checkpoint roots; their per-round shapes are pinned in
               // PlanShapeSpec via PageRank.round / GreedyCover.gains) —
               // and the bilinear join-delta composition (3 broadcast-delta
               // joins + the Mv state merge)
               "k75_ipf_mixture_balance", "i13_mv_join_delta")
    // GraftSession, not a bare builder: the declared queries may reference
    // the registered native functions (graft_canon, graft_gcd, ...) via
    // expr(), which resolve only with GraftExtensions installed (r21 fix —
    // h53 was the first Explain target to hit UNRESOLVED_ROUTINE here)
    val spark = GraftSession.builder("graft-explain", Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val byName = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      byName.get(n) match {
        case Some(fn) => fn(spark, "/root/testdata/sf0.001").explain("formatted")
        case None     => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
