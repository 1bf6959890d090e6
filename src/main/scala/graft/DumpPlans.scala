package graft

/** Dev main: dumps `.explain("formatted")` of the headline queries to
  * PLANS.md — the explain-and-iterate evidence trail for plan quality
  * (pushdown reaching scans, broadcasts, TakeOrderedAndProject, partial
  * aggregation, single-shuffle as-of).
  *
  * Usage: `runMain graft.DumpPlans [dir] [out] [q ...]`; trailing query
  * names replace the headline list in the same markdown. Each plan is
  * built in [[Harness]]'s per-query loop, so what building it
  * materialized is released before the next, and a query that fails to
  * plan is reported and left out.
  */
object DumpPlans {
  val Headline: Seq[String] = Seq(
    "q_limit_pushdown", "q_limit_filter_combo",
    "q_filter_pushdown", "q_agg_hash", "q_join_broadcast", "q_join_inner",
    "q_topk", "q_join_asof", "q_cosine_topk", "q_dedup_near",
    "q_window_running", "q_tumbling_window", "q_tpch_q5", "q_agg_salted",
    "q_scan_v2", "q_interval_join", "q_window_rank_hk", "q_time_travel",
    "q_tpch_q1", "q_tpch_q9", "q_tpch_q18", "q_dv_delete", "q_cdf",
    "q_decontaminate", "q_chunk_docs", "q_sample_stratified",
    "q_decontaminate_xl", "q_repetition",
    "q_tpch_q10", "q_subquery_exists", "q_window_ntile",
    "q_heavy_hitters", "q_ann_sq", "q_semdedup",
    "q_postings_search", "q_wordpiece_encode", "q_decontaminate_spans",
    "q_topterms_exact",
    "q_hidden_partitioning", "q_join_range_binned",
    "q_unigram_encode", "q_tpch_q6", "q_tpch_q13", "q_tpch_q17",
    "q_tpch_q19", "q_tpch_q21",
    // round 16: the analytics wave's representative plans — the
    // all-hash PMI rollups, the split-aggregate profiler, the
    // min_by OHLC bar, exact quantile rank selection, session paths
    "q_term_pmi", "q_profile_table", "q_ohlc_bars",
    "q_quantiles_exact", "q_session_paths",
    // round 17: the three heaviest round-16 joins (VERDICT r16
    // item 6) — SymSpell variant blocking, PPJoin prefix-filter
    // candidates, TextRank's vocabulary graph; the audit looks for
    // hash joins everywhere, no nested-loop/cartesian stage.
    // q_fuzzy_parts stands in for q_fuzzy_join: same blocking-join
    // chain at depth 2, and its plan is not truncated by
    // q_fuzzy_join's determinism checkpoint
    "q_fuzzy_parts", "q_jaccard_join", "q_textrank",
    // round 17: the heaviest new operators — LTTB's windowed fold
    // chain, the two-phase-rank equi-depth boundaries, the ×7
    // window-vote rolling distinct
    "q_lttb", "q_hist_eqdepth", "q_rolling_distinct",
    // round 18 graph wave (VERDICT r18 item 9): the unrolled
    // iteration plans — one edge⋈rank join + rollup per PageRank
    // step, one aggregate + two semi-joins per k-core round, three
    // chained two-phase ranks for RFM, capped-LSH + CC closure for
    // cluster quality
    "q_pagerank", "q_kcore", "q_rfm", "q_cluster_quality",
    // round 19: the LPA family (edge⋈label round joins + the
    // modularity rollups), funnel TTC's fold + rank selection, the
    // Pareto broadcast-cutoff join, MAD's chained medians
    "q_label_prop", "q_modularity", "q_funnel_ttc",
    "q_power_users", "q_mad",
    // round 19, closing waves: bridge-cut's LPA + star-forest
    // closure, the Heaps explode + double rollup, cluster token
    // inflation on the CC closure, the quality×decon composition
    // (decon probe + Flesch + two-phase ranks in ONE plan), and
    // the streaks gaps-and-islands window
    "q_bridge_cut", "q_vocab_growth", "q_dup_inflation",
    "q_quality_vs_decon", "q_streaks")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val names = Harness.select(args.drop(2).toSeq, Headline)
    val spark = Harness.session()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.DumpPlans` on `$dir`. Things to see:\n")
    sb.append("`PushedFilters`/`ReadSchema` on every parquet scan, ")
    sb.append("`GraftRelation ... limit=N` on pushed-limit scans,\n")
    sb.append("`BroadcastHashJoin` for dims, `TakeOrderedAndProject` for ")
    sb.append("top-k, partial+final `HashAggregate`,\nand a single ")
    sb.append("`Exchange hashpartitioning` feeding the as-of window.\n")
    Harness.eachQuery(spark, "plans", names) { (name, build) =>
      val plan = build(dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      sb.toString)
    spark.stop()
    println(s"wrote $out")
  }
}
