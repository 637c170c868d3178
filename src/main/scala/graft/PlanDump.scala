package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** `explain("formatted")` dumps behind `graft.Diag plans`: PLANS.md for
  * the headline queries — the plan-quality evidence trail (pushed
  * filters, pruned read schemas, broadcast joins, partial aggregation,
  * AQE nodes) — and per-query plan files for the optimization rounds.
  * Regenerate PLANS.md with `sbt "runMain graft.Diag plans"`.
  */
object PlanDump {
  private val headline = Seq(
    "a2_group_agg", "j2_broadcast_join", "j6_multiway", "j9_asof_join",
    "j9b_asof_native", "sql1_tpch_q3", "w5_topk_per_group", "o2_limit_topk",
    "p4_filter_range", "l1_exact_dedup", "l2_minhash_dedup",
    "l3_cosine_topk", "l6_tfidf_topterms", "s6_partitioned_parquet",
    "s6b_partition_pruned_read", "j7_range_join",
    "l3c_ann_ivf", "l4_cosine_threshold", "k1_bloom_prefilter",
    "m1_sessionize", "m4_token_budget", "l11_decontaminate",
    "m10_mixture_sample", "m11_global_shuffle", "s11_bucketed_join",
    "l2d_containment", "l2e_jaccard_dedup", "l14_dup_passage",
    "m13_split", "s12_corrupt_ndjson", "l15_bigram_logprob",
    "m14_zorder_layout", "w7_session_window", "j10_asof_tolerance",
    "m15_snapshot_diff", "a12_stats_agg",
    "j11_overlap_join", "m16_temperature_mix", "m17_peak_concurrency",
    "m18_scd2_history", "s13_dynamic_pruning", "a14_mode",
    "sql5_q21_multi_exists", "l16_line_dedup", "m19_expectations",
    "sql7_native_fn", "j12b_fuzzy_join2", "w4_range_frame",
    "sql8_recursive_cte", "m20_curation_pipeline",
    "s14_stats_skipping", "l17_url_dedup", "l18_domain_filter",
    "sql9_lateral_topk", "w8_funnel", "j13_nearest_event",
    "m21_decontaminated_split",
    "a15_weighted_median", "w10_event_transitions", "m24_gapfill",
    "k5_theta_set_ops", "j14_temporal_join", "m25_partition_overwrite",
    "w11_staged_funnel", "m26_time_weighted_avg", "l21_host_triangles",
    "m27_quarantine_route", "l22_hashed_features", "f15_higher_order",
    "sql12_q2_correlated_min", "w12_period_over_period",
    "k6_freq_heavy_hitters", "f14_variant", "l3e_incremental_index",
    "m28_vacuum", "o7_multiset_ops",
    // r12 additions
    "f17_decimal_math", "f18_map_hof", "l23_repetition_stats",
    "l24_cross_source_overlap", "l3f_filtered_topk",
    "s15_schema_evolution", "sql13_merge_into",
    "j15_nullsafe_join", "l25_span_corruption", "w13_rolling_distinct",
    "k7_rolling_distinct_hll", "m30_curriculum_pack",
    // r13 additions
    "sql14_update", "sql15_delete", "l3g_pq_codes", "f19_udtf_chunks",
    "l3h_sq_codes", "l26_html_extract", "m31_release_manifest",
    "w14_rolling_percentile", "w15_ewma",
    // r14 additions
    "sql16_merge_evolution", "sql17_update_nested", "f21_interval_arith",
    "w16_cumulative_distinct", "m32_time_travel",
    "m33_table_changes", "m34_incremental_agg", "m35_write_audit_publish",
    "m36_pagerank", "l3i_ivfpq", "m37_snapshot_expire",
    "j16_runtime_filter", "l28b_bpe_pairs", "w17_interpolate",
    "f22_listagg", "a18_topk_heap", "m38_snapshot_rollback",
    "j17_cbo_reorder", "a19_mad_outliers", "s16_xml",
    "m39_multi_table_commit", "sql18_scripting", "o9_transpose",
    // r15 additions (m36b/l28c are iterative-driver entries — the loop
    // kernels' plan story lives in the m36 dump + JobLinearitySpec)
    "sql19_parameterized",
    // r16/r17 DML additions (sql20 is the race driver — seam-scripted,
    // not a plan story; the policy twins follow l2g/l2h's precedent and
    // stay out, their plan IS the original entry's)
    "sql21_merge_partitioned", "sql22_delete_subquery",
    "sql23_update_partition_move", "sql24_update_map_key",
    "m40_compact_commit", "m40b_compact_zorder", "f23_zorder",
    "m41_commit_log_checkpoint", "sql25_maintenance_sql", "f23b_zorder_n")

  /** A query's physical plan, explain("formatted"). */
  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** PLANS.md in the working directory: every headline query at `sfDir`. */
  def dump(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries\n\n")
    sb.append(s"Generated by `graft.Diag plans` at `$sfDir`. The properties\n")
    sb.append("asserted mechanically in `PlanSpec` are visible here: pushed\n")
    sb.append("filters and pruned `ReadSchema` on scans, broadcast joins for\n")
    sb.append("dimensions, partial+final HashAggregate pairs, and\n")
    sb.append("TakeOrderedAndProject for top-k.\n")
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n${formatted(SparkEntry.queries(name)(spark, sfDir))}```\n")
    }
    // The l4 registry entry routes through the corpus-size gate, so at
    // fixture scale the dump above shows the broadcast kernel; the plan
    // that runs at 100 TB is the cell-pruned join — show it too.
    val cell = operators.Similarity
      .cellThresholdJoin(Tables.embeddings(spark, sfDir), 0.45)
    sb.append(s"\n## l4_cosine_threshold (forced cell path — the at-scale plan)\n\n```\n${formatted(cell)}```\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
  }

  /** `<outDir>/<name>_<suffix>.txt` per query at [[Diag.benchSfDir]] —
    * the before/after plan trail for `plans/r{N}/`, generated at the
    * bench scale factor and core count (claims are checked against
    * these files, not against PLANS.md's local[4] snapshot). */
  def snap(spark: SparkSession, outDir: String, suffix: String, names: Seq[String]): Unit = {
    val sfDir = Diag.benchSfDir
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        formatted(SparkEntry.queries(name)(spark, sfDir)))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
  }
}
