package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-evidence dump, two forms, both on the one session shape
  * (Harness.session at $SPARK_GRAFT_CPUS), so a dumped plan is the one
  * the bench times.
  *
  * Headline form: writes PLANS.md with the formatted physical plan of
  * each headline query, so pushdown/broadcast/partial-agg properties are
  * reviewable without running Spark:
  *   sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"
  *
  * Per-query form, for before/after evidence in optimization rounds:
  * writes `<outDir>/<id>_<suffix>.txt` for each id (see [[dump]]):
  *   sbt "runMain graft.Plans /root/testdata/sf0.1 plans/r15 before l02_pair_spine,j17"
  */
object Plans {
  val headline: Seq[String] = Seq(
    "q00_flagship", "s03_scan_filter_pushdown", "s07_sink_partitioned",
    "j01_join_broadcast", "j03_join_multiway", "j10_join_asof",
    "a01_agg_hash", "o03_topk_per_group", "w05_win_latest_wins",
    "t03_session", "l02_dedup_near", "l03b_sim_ann", "l02e_dedup_embed",
    "l10_seeded_shuffle", "c01_odm_commands",
    "l14_decontaminate", "l15_pack_sequences", "l19_curation_e2e",
    "s11_sink_bucketed", "j14_join_range_binned", "a13_agg_sketch_merge",
    "l02d_dedup_ngram_jaccard",
    "s12_sink_zorder", "a14_percentiles", "l25_dedup_incremental",
    "l26_kmeans_update", "t07_funnel",
    "l27_semdedup", "l28_chunk_cdc", "l29_perplexity", "t09_session_paths",
    "g01_pagerank_step", "l31_dataset_card",
    "t10_resample_ffill", "j16_interval_overlap",
    "a16_robust_outliers", "g02_pagerank_iter3", "m01_multimodal_decode",
    "l21_dedup_clusters",
    "h04_merge_apply", "h06_view_maintain", "l30_reduce_dim",
    "q03_shipping_priority", "q05_local_supplier", "q06_forecast_revenue",
    "t12_sliding_distinct", "p08_null_semantics",
    "q07_volume_shipping", "q13_order_distribution", "q15_top_supplier",
    "l34_seg_dedup", "l36_leakage_split", "l37_ngram_lm",
    "l38_span_dedup", "l40_pq_encode", "l42_bpe_stats",
    "g03_common_neighbors", "m06_audio_fingerprint", "l41_quality_resample",
    "l44_ivfpq", "a18_countmin", "t14_session_dynamic_gap", "h08_pit_join",
    "j20_dynamic_partition_pruning", "j21_fuzzy_name_join", "h10_bitemporal",
    "t16_interval_union", "t17_ohlc_bars", "t18_rolling_zscore",
    "a19_argmax", "a20_bitmap_distinct", "a21_weighted_median",
    "g06_jaccard_neighbors", "g07_bfs_layers", "g08_kcore",
    "l46_dsir", "l47_export_manifest", "p10_lateral", "s17_sink_lineage",
    "t19_gap_report", "t20_ewma", "t21_peak_concurrency", "t22_holt_trend",
    "t23_mad_outliers", "g09_cc_rounds", "h11_snapshot_diff",
    "l51_mix_temperature", "l52_hard_negatives", "l50_sft_format",
    "o08_weighted_sample", "l48_tokenizer_fertility",
    "l53_dedup_keep_best", "g10_hits", "w07_win_fill", "l54_minhash_index",
    "l55_ann_recall", "m08_video_near_dup", "t24_seasonal_profile",
    "a22_equidepth_hist", "t25_cusum_changepoint", "g11_sssp_rounds",
    "t26_attribution", "s18_source_evolved", "l56_dedup_eval",
    "g12_closeness", "t27_pattern_match", "t28_seasonal_anomaly",
    "l57_mix_budget", "s19_sink_manifest",
    "l58_ngram_novelty", "s20_manifest_upsert", "w08_mom_growth",
    "a23_mode", "h12_late_dim", "l59_source_overlap",
    "j22_join_asof_tolerance", "l60_quality_calibrate",
    "w09_cumulative_distinct", "h13_twap", "l61_curation_provenance",
    "t29_psi_drift", "l62_source_centroid_sim", "l63_cc_incremental",
    "s21_time_travel", "c04_broker_decode")

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode).trim

  /** Plans the registered queries hide, dumpable by id: the memo-free
    * twins of the l02 and co-occurrence pair spines (the registered
    * queries return memoized/checkpointed frames whose plans are opaque
    * RDD scans), and j17, which materializes inside its conf scope (its
    * registered result's plan is just a scan), via its scoped helper. */
  private val hidden: Map[String, (SparkSession, String) => String] = Map(
    "l02_pair_spine" -> ((s, d) => formatted(llm.Llm.pairSpineForPlan(Tables.documents(s, d)))),
    "cooc_pair_spine" -> ((s, d) => formatted(operators.Graph.coocSpineForPlan(s, d))),
    "j17" -> ((s, d) => operators.Joins.j17Plan(s, d).trim))

  /** Per-query form: writes `<outDir>/<id>_<suffix>.txt` with the plan of
    * each id — a SparkEntry query's formatted physical plan, or one of the
    * hidden plans above — and returns the paths written. Rejects the
    * whole call, before any planning, if an id is neither. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, ids: Seq[String]): Seq[Path] = {
    val unknown = ids.filterNot(i =>
      SparkEntry.queries.contains(i) || hidden.contains(i))
    require(unknown.isEmpty, s"unknown plan ids: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(outDir))
    ids.map { id =>
      val txt = SparkEntry.queries.get(id)
        .fold(hidden(id)(spark, sfDir))(fn => formatted(fn(spark, sfDir)))
      Files.writeString(Paths.get(outDir, s"${id}_$suffix.txt"), txt + "\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(Harness.cpus)
    if (args.length >= 4)
      dump(spark, sfDir, args(1), args(2),
        args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .foreach(p => println(s"wrote $p"))
    else writeHeadline(spark, sfDir, args.lift(1).getOrElse("PLANS.md"))
    spark.stop()
  }

  private def writeHeadline(spark: SparkSession, sfDir: String, out: String): Unit = {
    def section(title: String, plan: String) = s"\n## $title\n\n```\n$plan\n```\n"
    Files.writeString(Paths.get(out),
      s"""# PLANS — formatted physical plans of headline queries
         |
         |Generated by `graft.Plans` on `$sfDir`. The properties the
         |engine is designed around are visible inline: `PushedFilters`/
         |`ReadSchema` (scan pruning), `PartitionFilters` (directory
         |pruning), `BroadcastHashJoin` (pinned dim broadcasts),
         |`partial_…` aggregate pairs (map-side combine), `LeftSemi`
         |gating joins, and `WindowGroupLimit` (map-side top-k).
         |""".stripMargin +
        headline.map(n => section(n, formatted(SparkEntry.queries(n)(spark, sfDir)))).mkString +
        section("j17_bloom_filter_join (inside its conf scope)", hidden("j17")(spark, sfDir)))
    println(s"wrote $out")
  }
}
