package graft

/** Benchmark main: times every SparkEntry query on `SPARK_GRAFT_SF_DIR`
  * through [[Harness]]'s per-query loop and its min-of-N noop-sink timer
  * (`SPARK_GRAFT_BENCH_RUNS`, default 3), evicting a fit query's model
  * before each run. `SPARK_GRAFT_BENCH_QUERIES=headline` (or a comma
  * list of names) runs the pinned regression subset in a fresh JVM — the
  * low-noise diff target recorded in BASELINE.md.
  *
  * Prints one JSON line per query with a running total (a truncated log
  * keeps the ledger), writes the full ledger to `SPARK_GRAFT_BENCH_OUT`
  * (default `BENCH_LOCAL.json`), then prints a compact summary and, last,
  * the full `{"metric":"total",…,"queries":{…}}` line.
  */
object Bench {

  /** The pinned fresh-JVM regression subset: TPC-H ×7, the scan
    * family, the dedup family, the scale-correct window twin, and the
    * five heaviest lifecycle queries (each stands up a table +
    * stream/DML cycle inside the query — their serial-pass timings
    * are the noisiest, so regressions there NEED the fresh-JVM
    * adjudication). q2/q21 joined in round 15 after unconfirmed +49%/
    * +86% serial-pass deltas (cleared as JVM-state phantoms);
    * q_union/q_unpivot/q_wordpiece_encode joined in round 16 after
    * the same pattern (4-5x serial deltas with no code change on
    * their paths). Diffs against BASELINE.md's subset row sit above
    * the noise floor that the full serial pass can no longer
    * guarantee. */
  val HeadlineSubset: Seq[String] = Seq(
    "q_tpch_q1", "q_tpch_q2", "q_tpch_q3", "q_tpch_q5", "q_tpch_q9",
    "q_tpch_q18", "q_tpch_q21",
    "q_scan_project", "q_scan_v2", "q_filter_pushdown",
    "q_partitioned_scan",
    "q_dedup_exact", "q_dedup_near", "q_dedup_substr", "q_line_dedup",
    "q_semdedup", "q_window_rank_hk",
    "q_trending_exact", "q_postings_tail", "q_mv_refresh", "q_cdf",
    "q_pipeline_e2e",
    "q_union", "q_unpivot", "q_wordpiece_encode",
    // round 16: NEXT item 2 — q_resample_gapfill's 6.2 s 1x probe
    // reading was suspected first-touch noise; pin the fresh-JVM
    // number so future rounds diff against a real floor
    "q_resample_gapfill",
    // round 17: the two round-16 serial movers (3.2x/2.1x with no
    // code change on either path) join for fresh-JVM adjudication;
    // q_dedup_cluster additionally pins the GraphX -> DataFrame
    // large-star/small-star CC rewrite
    "q_dedup_cluster", "q_agg_hash",
    // round 18: the three round-17 driver-ledger movers (4.8x/2.7x/
    // 2.4x driver-vs-builder with no code change on their paths —
    // the JVM-state-phantom signature) join for the prescribed
    // fresh-JVM min-of-3 adjudication
    "q_tpch_q8", "q_unigram_encode", "q_tumbling_window")

  /** Queries that stand up a full table/DML/stream LIFECYCLE inside
    * the gated query (create + write + mutate + read back), as opposed
    * to pure-plan queries that only read the shared parquet inputs.
    * Lifecycle cycles are the right thing to gate for the lakehouse
    * surface, but their cost is dominated by commit/stream machinery,
    * not plan quality — so the bench reports the two populations'
    * rates separately (the serial-rate drift rounds 15-17 was entirely
    * accumulated lifecycle queries, not plan regressions). */
  val LifecycleQueries: Set[String] = Set(
    "q_wap_publish", "q_postings_tail", "q_trending_exact",
    "q_multimodal_decode", "q_delete_from", "q_dv_delete",
    "q_time_travel", "q_cdf", "q_bloom_lookup",
    "q_hidden_partitioning", "q_data_skipping", "q_data_skipping_ts",
    "q_mv_refresh", "q_interval_join", "q_update", "q_merge_upsert",
    "q_snapshot_diff", "q_forget_user", "q_profile_stats")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // min of `runs` executions per query: a single serial pass bills
    // whichever queries run last for the accumulated JIT/GC state (the
    // sandbox is ±30% noisy, and one stall smeared a 4-6x phantom
    // regression across the window family in earlier rounds). The min
    // is the steady-state plan cost — what a warm cluster pays.
    // Default 3 since round 7: the round-6 q_scan_v2 "regression"
    // (1.35 s vs 0.43 s in the same round's SCALE_PROBE) was a stall
    // that hit BOTH of min-of-2's runs — isolated runs then measured
    // the same query at 0.34-0.45 s over six executions. Three
    // runs make a double-stall phantom an order rarer.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map {
      case "headline" => HeadlineSubset
      case csv        => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val names = Harness.select(subset.getOrElse(Nil)).distinct.sorted
    val spark = Harness.session()
    Harness.setUp(spark, sfDir)
    var running = 0.0
    val results = Harness.eachQuery(spark, "bench", names) { (name, build) =>
      // a fit-family query must time a REAL fit, not a memo lookup —
      // evict its model before every run. Apply-side queries are
      // untouched (the memo repopulates during the timed fit, so later
      // encode/score queries still ride train-once/apply-many).
      val best = Harness.minOfN(runs, "bench", name) {
        SparkEntry.evictTrainedModel(name, sfDir)
        build(sfDir)
      }
      running += best
      println(f"""{"metric":"query","name":"$name","sec":$best%.3f,"running_total":$running%.3f}""")
      best
    }.map(o => o.name -> o.result.getOrElse(-1.0))
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sub = subset.map(_ => ",\"subset\":true").getOrElse("")
    // three-tier rates, a partition of the queries: real model fits
    // (their memo is evicted above), full lifecycle cycles, and the
    // pure-plan operators that remain
    val (fitQ, rest) = results.partition(r => SparkEntry.FitQueries(r._1))
    val (lifeQ, opQ) = rest.partition(r => LifecycleQueries(r._1))
    def rate(rs: Seq[(String, Double)]): String = {
      val n = rs.size
      val s = rs.map(_._2).sum
      val r = if (n == 0) 0.0 else s / n
      f""""n":$n,"sec":$s%.3f,"rate":$r%.3f"""
    }
    val tiers =
      s""","operator_tier":{${rate(opQ)}},"lifecycle_tier":{${rate(lifeQ)}},"fit_tier":{${rate(fitQ)}}"""
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs$sub$tiers}"""
    // the ledger file and the compact line (with the ledger's absolute
    // path) keep the per-query map reachable from a truncated stdout
    // tail; the full line ends stdout for a reader of stdout alone
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_LOCAL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (full + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] ledger write to $outPath failed: " +
          e.getMessage)
    }
    val ledgerAbs = java.nio.file.Paths.get(outPath).toAbsolutePath
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failed":${results.count(_._2 < 0)},"sf":"$sfDir","runs":$runs,"ledger":"$ledgerAbs"$sub$tiers}""")
    println(full)
    spark.stop()
  }
}
