package graft

/** Benchmark harness: runs every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the noop
  * sink (a bare `count()` would let Catalyst prune projections, windows
  * and sorts, under-measuring the plan actually shipped). Prints one JSON
  * line: total + per-query seconds.
  *
  * Hygiene (the 104-query serial JVM was proven to smear multi-x
  * phantom regressions onto alphabetically-late queries):
  *  - after each query, the SQL cache and any persistent RDDs the
  *    query left behind are cleared (the memoized MODELS — IVF, BPE,
  *    quality — are plain driver-side Scala data and survive);
  *  - every per-query timing is printed incrementally with a running
  *    total, so a truncated log never loses the ledger;
  *  - `SPARK_GRAFT_BENCH_QUERIES=headline` (or a comma list of names)
  *    runs the pinned regression subset in a fresh JVM — the
  *    low-noise diff target recorded in BASELINE.md.
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
    val spark = LocalSession()
    // one warm-up action so JVM/codegen startup isn't billed to the
    // first query
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // pre-fit the shared models: the operators' contract is train-once
    // / apply-many, so steady-state query cost — what the bench
    // measures everywhere else — excludes the one-time fits
    if (!sys.env.contains("SPARK_GRAFT_SKIP_PREFIT"))
      SparkEntry.prefitModels(spark, sfDir)
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
      case "headline" => HeadlineSubset.toSet
      case csv        => csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown bench queries: $unknown")
    }
    val baselinePersistent = spark.sparkContext.getPersistentRDDs.keySet
    var running = 0.0
    val results = selected.map { case (name, fn) =>
      // min over SUCCESSFUL runs only — a fast-failing run's latency
      // is not a timing, and folding it into min would report a
      // phantom speedup while the failure scrolls past on stderr. A
      // query failing every run reports -1 (unmissable in the JSON).
      val times = (1 to runs).flatMap { _ =>
        // honest train timings (round-19 verdict item 7): a fit-family
        // query must time a REAL fit, not a memo lookup — evict its
        // model before every run. Apply-side queries are untouched
        // (the memo repopulates during the timed fit, so later encode/
        // score queries still ride train-once/apply-many).
        SparkEntry.evictTrainedModel(name, sfDir)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      }
      // query-scoped storage hygiene: drop the SQL cache and any
      // persistent RDDs this query left behind (checkpoints, stray
      // caches) so later queries don't inherit pinned blocks — the
      // mechanism behind round 12's phantom 3-4x TPC-H tail
      spark.catalog.clearCache()
      // release the barrier registry first (the operators' own
      // lifecycle), then sweep anything else to the baseline set
      Materialize.release(spark)
      val leftover =
        spark.sparkContext.getPersistentRDDs -- baselinePersistent
      leftover.values.foreach(_.unpersist(blocking = false))
      val best = if (times.isEmpty) -1.0 else times.min
      running += best
      // incremental ledger: a truncated log keeps every finished
      // query and the running total
      println(f"""{"metric":"query","name":"$name","sec":$best%.3f,"running_total":$running%.3f}""")
      name -> best
    }
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
    // FILE ledger: the driver captures only the last ~2 KB of stdout,
    // which a 250-entry queries map outruns — printing the full line
    // to stdout is what POISONED the round 18/19 tail captures (the
    // 6 KB line landed mid-tail, unparseable, and PERF's per_query
    // came up empty two rounds running). The full line goes ONLY to
    // the ledger file; stdout ends with a compact summary line that
    // always fits the captured tail whole and carries the ledger's
    // ABSOLUTE path so the driver can read the per-query map from it.
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
    spark.stop()
  }
}
