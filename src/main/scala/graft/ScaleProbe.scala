package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Super-linearity probe: inflates the fact/corpus tables ~Nx into a
  * temp dir, times the heaviest queries at 1x and Nx, and flags any
  * whose runtime grows faster than ~2.5x the data factor. This is the
  * 100 TB rehearsal the unit tests can't give: a quadratic candidate
  * path or a re-scan-per-partition bug shows up here as a ratio far
  * above the factor even at laptop scale.
  *
  * Documents are MUTATED per copy (consonant rotation) so the inflated
  * corpus is ~Nx unique content, not Nx clones — otherwise near-dup
  * OUTPUT legitimately grows quadratically in the clone count and
  * runtime says nothing about the candidate-generation guards.
  *
  * Usage: `runMain graft.ScaleProbe [factor] [q ...]` (factor default
  * 10; trailing query names replace [[ProbeQueries]]); base dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1). The queries run through
  * [[Harness]]'s per-query loop, min-of-2 at each scale; one JSON line
  * per query, `-1` for a side whose runs all failed. Structural probes
  * (bucketed join, stats-aligned DELETE, DV, ...) follow.
  */
object ScaleProbe {

  val ProbeQueries: Seq[String] = Seq(
    "q_scan_project", "q_scan_v2", "q_filter_pushdown",
    "q_partitioned_scan", "q_agg_hash", "q_window_rank",
    "q_window_rank_hk",
    "q_token_count", "q_quality_score", "q_dedup_exact",
    "q_dedup_near", "q_dedup_simhash", "q_fingerprint",
    "q_decontaminate", "q_chunk_docs", "q_sample_stratified",
    "q_pii_redact", "q_decontaminate_xl", "q_repetition",
    "q_common_ngrams", "q_crossdoc_repeat", "q_bm25_search",
    "q_tfidf_keywords", "q_quality_model", "q_corpus_mix",
    // embedding family — the embeddings table now inflates too (each
    // copy's vectors rolled by i positions: norm-preserving, distinct
    // content). q_semdedup's ratio covers the corpus-scaled nlist
    // (~sqrt n) + capped within-cell probe; q_dedup_embedding the LSH
    // bucket guard; q_ann_lsh/q_ann_ivf the bucketed retrievers
    // (per-dir model training amortizes out under min-of-2).
    "q_semdedup", "q_dedup_embedding", "q_ann_lsh", "q_ann_ivf",
    // round-12 third wave: tokenizer encode (map-only replaces), LM
    // scoring (count-table joins), shard shuffle (one hash shuffle +
    // per-shard sort). q_bpe_train is NOT probed: its post-word-count
    // cost is a function of distinct words and merge count, not
    // corpus bytes, so a corpus-inflation ratio would measure the
    // word-count job alone.
    "q_bpe_encode", "q_lm_score", "q_shuffle_shards",
    // round-12 fourth wave: line dedup (FNV-keyed line frequency +
    // id rollup) and DSIR scoring (map-side DECIMAL fold; the model
    // is retrained per dir — two dim-sized aggregates — so the ratio
    // covers train + score)
    "q_line_dedup", "q_dsir_weights",
    // fifth wave: exact substring dedup (hash-keyed window
    // frequency+owner rollup, hash probe join, id rollup) and the
    // Gopher rule filter (pure map-side HOFs — the flat-ratio
    // reference shape)
    "q_dedup_substr", "q_gopher_rules",
    // round 13: CMS heavy hitters (d·w-cell rollup + vocab-distinct
    // probe), MG exact top-k (summary + candidate-sized recount),
    // WordPiece encode (map-only expression), span decontamination
    // (hash probe + merged-interval reassembly), postings lifecycle
    // (build 2/3 + extend 1/3 + bucket-pruned search per run — the
    // ratio measures index BUILD linearity, the dominant cost)
    "q_heavy_hitters", "q_topterms_exact", "q_wordpiece_encode",
    "q_decontaminate_spans", "q_postings_search",
    // round 13, second half: unigram-LM tokenizer (train = word-count
    // shuffle + piece-keyed EM aggregates over DISTINCT words, so the
    // ratio measures the word-count job + the ~flat EM; encode =
    // map-only literal-map Viterbi), the streamed-postings tail
    // lifecycle, and hidden partitioning (value-clustered write +
    // token-pruned two-language scan)
    "q_unigram_train", "q_unigram_encode", "q_postings_tail",
    "q_hidden_partitioning",
    // round 13, closing: the composed curation pipeline (dedup
    // semi-join + broadcast gram probe + map-side rules + explode)
    // and manifest data skipping (3 range-disjoint appends, the
    // range scan prunes the file list from fstat lines)
    "q_pipeline_e2e", "q_data_skipping",
    // round 15: soft-EM unigram training — the forward-backward
    // E-step is piece-keyed work over DISTINCT words, and the
    // consonant-rotated inflation grows the distinct-word table with
    // the corpus, so the ratio covers the E-step's true scaling
    "q_unigram_train_soft",
    // round 15: event analytics over user-offset-inflated events
    // (factor× users, same span) — funnel's one-key-shuffle fold,
    // resample's per-key grid + fill window, retention's two
    // key-hash aggregates should all track the row count
    "q_funnel", "q_resample_gapfill", "q_retention",
    // round 16: distributed-prefix-sum riders (PPS sampling over the
    // inflated corpus; the ±1 concurrency sweep over inflated events)
    // and the rolling z-score window (key-partitioned, user count
    // grows with the factor)
    "q_sample_pps", "q_concurrency", "q_anomaly_events",
    "q_quantiles_exact", "q_p95_by_type",
    // round 16, second wave: OHLC bars (one map-side-combinable agg),
    // CUSUM closed form + interval union + session paths + Markov
    // transitions (key-partitioned windows over user-offset-inflated
    // events), PMI collocations (capped per-doc pair rollups),
    // winsorized mean (two-phase rank clamp), one-pass profiler
    // (Expand multi-distinct over the inflated orders table)
    "q_ohlc_bars", "q_cusum_drift", "q_interval_union",
    "q_session_paths", "q_event_transitions", "q_winsorized_mean",
    "q_term_pmi", "q_profile_table", "q_histogram", "q_ri_check",
    "q_distinct_rollup", "q_jaccard_join", "q_quantile_buckets",
    // q_scd2_apply is NOT probed: its dimension derives from the
    // customer table, which inflate() copies verbatim — the ratio
    // would be trivially flat and say nothing
    "q_count_trend", "q_mode_by_key", "q_attribution", "q_textrank",
    "q_rolling_median",
    // q_scd2_lookup's facts (orders) inflate; its dim derives from
    // the verbatim-copied customer table, so the ratio measures the
    // fact-side scan + broadcast probe — the shape that matters
    "q_scd2_lookup", "q_dq_checks",
    // round 17: event-analytics riders over user-offset-inflated
    // events (EWMA's per-key fold, the gap lag window, variant
    // rollups, Bollinger's frame sums, linear attribution's history
    // window, the two-phase-rank IQR fences), lineitem-statistics
    // riders (VWAP / Benford / chi cells are single hash rollups),
    // and the pair-graph analytics over the mutated-copy corpus
    // (candidate graph grows with real content, wedge joins must
    // track it). q_rouge_pairs is NOT probed: its pair set is
    // id-bounded by contract, so the ratio would only measure the
    // bounded grid. q_snapshot_diff / q_forget_user are in-query DML
    // lifecycles — the structural DML probes below own that shape.
    "q_ewma", "q_event_gaps", "q_ab_lift", "q_bollinger",
    "q_attribution_linear", "q_iqr_outliers", "q_vwap", "q_benford",
    "q_chi_cells", "q_triangles", "q_degree_dist",
    // round 17, second wave: daily-count pair correlation (day-joined
    // rollups), co-occurrence self-join, rolling exact distinct
    // (×7 explode + distinct), equi-depth histogram (two-phase-rank
    // boundaries), LTTB (per-key bucket fold). q_mom_revenue's lag
    // runs over period-cardinality rows — probed for the rollup side
    "q_daily_corr", "q_cooccur", "q_rolling_distinct",
    "q_hist_eqdepth", "q_lttb", "q_mom_revenue",
    // round 17: the GraphX -> DataFrame CC rewrite at 10× — the
    // near-dup pair graph grows with real content and the
    // large-star/small-star rounds must track edges, not pay
    // per-round floors that scale with anything else
    "q_dedup_cluster", "q_fuzzy_canon",
    // round 17, third wave: the clamp-at-zero balance (two windows
    // over user-offset-inflated events); clustering coefficient and
    // component sizes ride the already-probed triangle/CC machinery
    "q_capped_balance", "q_clustering_coeff", "q_component_sizes",
    // round 18: pagerank rides the pair graph (per-iteration joins
    // must track edges); the event riders ride user-offset-inflated
    // events (drawdown/changepoint per-key folds, gini/rfm two-phase
    // ranks, LTV/stickiness/hazard week rollups); readability is the
    // map-only reference shape over the mutated-copy corpus
    "q_pagerank", "q_drawdown", "q_cohort_ltv", "q_stickiness",
    "q_hazard", "q_gini", "q_rfm", "q_changepoint", "q_readability",
    // round 18, second wave: signature calibration (per-pair array
    // zip over the capped candidate join) and cluster quality
    // (pairs⋈labels + rollups on the CC closure)
    "q_minhash_est", "q_cluster_quality",
    // round 18, third wave: unrolled k-core peel (per-round degree
    // aggregate + semi-joins over the pair graph) and TWAP (one lead
    // window + rollup)
    "q_kcore", "q_twap",
    // round 18, fourth wave: fertility rides the map-only encode;
    // radius retrieval rides the inflated (rolled-vector) embeddings;
    // norm health is a map-only scan + rollup
    "q_tok_fertility", "q_ann_radius", "q_embed_norms",
    // round 19: funnel TTC (funnel fold + two-phase quantile ranks),
    // unrolled LPA + its modularity rollups (both ride the pair
    // graph), Pareto ranks, type-pair audience self-join, the two
    // hash-aggregate profiles, and the IVF radius face
    "q_funnel_ttc", "q_label_prop", "q_modularity", "q_power_users",
    "q_audience_overlap", "q_hourly_heatmap", "q_new_returning",
    "q_ann_radius_ivf",
    // round 19, second wave: lag-join Pearson, per-key gap rollup,
    // double two-phase-rank medians, map-only TTR; third wave:
    // LPA join-back bridges, session-split quantiles
    "q_autocorr", "q_iet_cv", "q_mad", "q_ttr",
    "q_bridge_pairs", "q_session_quantiles", "q_survival",
    "q_ann_radius_pq", "q_readability_pct",
    // round 19, fourth wave: bridge-cut re-clustering rides the pair
    // graph (LPA + star-forest closure on the kept edges); the
    // analytics wave (daily rollups + per-entity type counts + the
    // top-k term OLS)
    "q_bridge_cut", "q_streaks", "q_seasonal_error", "q_peak_days",
    "q_type_entropy", "q_zipf_slope",
    // round 19, fifth wave: Heaps curve (term explode + two
    // rollups), cluster token inflation (rides the CC closure),
    // quality-decile × decon composition
    "q_vocab_growth", "q_dup_inflation", "q_quality_vs_decon",
    "q_bounce_rate", "q_weekend_lift", "q_type_drift",
    "q_session_depths", "q_curriculum")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val names = Harness.select(args.drop(1).toSeq, ProbeQueries)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // events.ts is TIMESTAMP(NANOS): read as long for the verbatim
    // copy (Tables.t converts to micros downstream either way)
    val spark =
      Harness.session("spark.sql.legacy.parquet.nanosAsLong" -> "true")

    val scaled = Files.createTempDirectory("graft-scale").toString
    inflate(spark, base, scaled, factor)
    Harness.setUp(spark, base, scaled)

    var worst = 0.0
    Harness.eachQuery(spark, "scale", names) { (q, build) =>
      val t1 = Harness.minOfN(2, "scale", q)(build(base))
      val tN = Harness.minOfN(2, "scale", q)(build(scaled))
      val ratio = if (t1 < 0 || tN < 0) -1.0 else tN / math.max(t1, 0.001)
      val flag =
        if (ratio < 0) "failed" else if (ratio > factor * 2.5) "SUPRALINEAR"
        else "ok"
      worst = math.max(worst, ratio)
      println(f"""{"q":"$q","t1":$t1%.2f,"t$factor":$tN%.2f,""" +
        f""""ratio":$ratio%.2f,"verdict":"$flag"}""")
    }
    // bucketed-join probe: storage-partitioned join at 1x and Nx (the
    // layout write is excluded from the timing); `shuffle_free` records
    // whether the plan held its no-exchange shape at BOTH scales — the
    // property that matters at 100 TB, where the shuffle IS the cost
    import org.apache.spark.sql.SaveMode
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def bucketedProbe(dir: String, label: String): (Double, Boolean) = {
      val wh = Files.createTempDirectory("graft-scale-bk").toString
      spark.conf.set(s"spark.sql.catalog.bk$label",
        "graft.sources.v2.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.bk$label.warehouse", wh)
      val li = Tables.t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val o = Tables.t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sources.GraftSink.saveBucketedFiles(li, s"$wh/li", 32,
        Seq("l_orderkey"), mode = SaveMode.Overwrite)
      graft.sources.GraftSink.saveBucketedFiles(o, s"$wh/o", 32,
        Seq("o_orderkey"), mode = SaveMode.Overwrite)
      def join() = spark.table(s"bk$label.li")
        .join(spark.table(s"bk$label.o"),
          col("l_orderkey") === col("o_orderkey"))
      def once(): Double = {
        val t0 = System.nanoTime()
        join().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t = math.min(once(), once())
      (t, !join().queryExecution.executedPlan.toString.contains("Exchange"))
    }
    val (b1, free1) = bucketedProbe(base, "a")
    val (bN, freeN) = bucketedProbe(scaled, "b")
    println(f"""{"q":"bucketed_spj_join","t1":$b1%.2f,"t$factor":$bN%.2f,""" +
      f""""ratio":${bN / math.max(b1, 0.001)}%.2f,""" +
      f""""shuffle_free":${free1 && freeN}}""")

    // stats-aligned DELETE probe: range-clustered appends make the
    // predicate decidable from footer stats alone, so the delete is
    // metadata-only (file renames) — its cost tracks the FILE count,
    // not the row count. Ratio ~1 across the Nx data inflation is the
    // 100 TB claim: retention deletes don't read the table.
    def deleteProbe(dir: String, label: String): (Double, Long) = {
      val wh = Files.createTempDirectory("graft-scale-del").toString
      spark.conf.set(s"spark.sql.catalog.del$label",
        "graft.sources.v2.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.del$label.warehouse", wh)
      val li = Tables.t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val span = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1
      (0 until 8).foreach { i =>
        li.filter(col("l_orderkey") >= i * span / 8 &&
            col("l_orderkey") < (i + 1) * span / 8)
          .coalesce(4).write.format("graft-v2")
          .option("path", s"$wh/li").mode("append").save()
      }
      val t0 = System.nanoTime()
      spark.sql(s"DELETE FROM del$label.li WHERE l_orderkey >= ${span / 2}")
      ((System.nanoTime() - t0) / 1e9,
        spark.table(s"del$label.li").count())
    }
    val (d1, rows1) = deleteProbe(base, "a")
    val (dN, rowsN) = deleteProbe(scaled, "b")
    println(f"""{"q":"stats_aligned_delete","t1":$d1%.2f,""" +
      f""""t$factor":$dN%.2f,"ratio":${dN / math.max(d1, 0.001)}%.2f,""" +
      f""""survivors_1x":$rows1,"survivors_${factor}x":$rowsN}""")
    // merged-run probe: overlapping sorted runs at the INFLATED scale,
    // SMJ with mergeSortedRuns (sort-free, COLUMNAR k-way merge) vs
    // the plain declined path (sorts back in plan). The merge now
    // decodes through the vectorized reader emitting batch slices, so
    // it should at worst match the sort path, not trade throughput.
    locally {
      import graft.sources.GraftSink
      import org.apache.spark.sql.SaveMode
      val wh = Files.createTempDirectory("graft-scale-mr").toString
      spark.conf.set("spark.sql.catalog.mrcat",
        "graft.sources.v2.GraftCatalog")
      spark.conf.set("spark.sql.catalog.mrcat.warehouse", wh)
      val li = Tables.t(spark, scaled, "lineitem")
        .select(col("l_orderkey").as("k"),
          col("l_quantity").as("v"))
      GraftSink.saveBucketedFiles(li, s"$wh/t", 8, Seq("k"),
        sortCols = Seq("k"), mode = SaveMode.Overwrite)
      GraftSink.saveBucketedFiles(li.limit(200000), s"$wh/t", 8,
        Seq("k"), sortCols = Seq("k"), mode = SaveMode.Append) // overlap
      GraftSink.saveBucketedFiles(li, s"$wh/u", 8, Seq("k"),
        sortCols = Seq("k"), mode = SaveMode.Overwrite)
      val restore = scala.util.Try(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")).toOption
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def once(merge: Boolean): Double = {
        val rd =
          if (merge) spark.read.option("mergeSortedRuns", "true")
          else spark.read
        val j = rd.table("mrcat.t").join(rd.table("mrcat.u"), "k")
        val t0 = System.nanoTime()
        j.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val tPlain = math.min(once(false), once(false))
      val tMerge = math.min(once(true), once(true))
      restore.foreach(v =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
      println(f"""{"q":"merge_read_smj","t_sorted":$tPlain%.2f,""" +
        f""""t_merged":$tMerge%.2f,""" +
        f""""ratio":${tMerge / math.max(tPlain, 0.001)}%.2f}""")
    }

    // deletion-vector probe: a POINT delete (32 keys spread across
    // every file) with vectors on vs forced copy-on-write
    // (maxFraction=0), both at the INFLATED scale. The vector path
    // writes bytes ∝ deleted rows (32 tiny sidecars); copy-on-write
    // rewrites every touched file — write amplification ∝ file bytes.
    // t_dv/t_cow well below 1 at Nx is the claim: point mutation cost
    // tracks deleted rows, not touched-file bytes.
    def dvProbe(dir: String, label: String, maxFrac: String)
        : (Double, Long, Long, String) = {
      val wh = Files.createTempDirectory("graft-scale-dv").toString
      spark.conf.set(s"spark.sql.catalog.dv$label",
        "graft.sources.v2.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.dv$label.warehouse", wh)
      val li = Tables.t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val span = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1
      (0 until 8).foreach { i =>
        li.filter(col("l_orderkey") >= i * span / 8 &&
            col("l_orderkey") < (i + 1) * span / 8)
          .coalesce(4).write.format("graft-v2")
          .option("path", s"$wh/li").mode("append").save()
      }
      val keys = (0 until 32).map(i => i * span / 32 + 1)
      spark.conf.set("spark.graft.dv.maxFraction", maxFrac)
      val t0 = System.nanoTime()
      spark.sql(s"DELETE FROM dv$label.li WHERE l_orderkey IN " +
        keys.mkString("(", ", ", ")"))
      val t = (System.nanoTime() - t0) / 1e9
      spark.conf.set("spark.graft.dv.maxFraction", "0.2")
      val tdir = new org.apache.hadoop.fs.Path(s"$wh/li")
      val fs = tdir.getFileSystem(spark.sessionState.newHadoopConf())
      val dvBytes = {
        val d = new org.apache.hadoop.fs.Path(tdir, ".graft-dv")
        if (!fs.exists(d)) 0L
        else fs.listStatus(d).map(_.getLen).sum
      }
      (t, spark.table(s"dv$label.li").count(), dvBytes, s"$wh/li")
    }
    val (tDv, survDv, dvBytes, dvPath) = dvProbe(scaled, "a", "0.2")
    val (tCow, survCow, _, cowPath) = dvProbe(scaled, "b", "0.0")
    require(survDv == survCow,
      s"dv vs cow point-delete disagree: $survDv vs $survCow")
    println(f"""{"q":"dv_point_delete","t_dv":$tDv%.2f,""" +
      f""""t_cow":$tCow%.2f,"ratio":${tDv / math.max(tCow, 0.001)}%.2f,""" +
      f""""dv_bytes":$dvBytes,"survivors":$survDv}""")
    // change-feed probe on the SAME two tables: reconstructing the
    // point DELETE's change set at the inflated scale. The vector
    // path's feed is a bitmap-diff file scan (cost ∝ the commit's
    // deleted rows + the touched files); the copy-on-write path pays
    // the honest multiset-difference replay over every rewritten
    // file. Both must return exactly the 32 deleted keys.
    locally {
      def feedOnce(path: String): (Double, Long) = {
        val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
          spark.sessionState.newHadoopConf())
        val v = graft.sources.v2.GraftManifest.current(fs,
          new org.apache.hadoop.fs.Path(path)).get.version
        val t0 = System.nanoTime()
        val n = graft.sources.v2.GraftCdf
          .tableChanges(spark, path, v, v).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (tDvFeed, nDv) = feedOnce(dvPath)
      val (tCowFeed, nCow) = feedOnce(cowPath)
      // 32 keys match multiple lineitem rows each; both paths must
      // reconstruct the SAME (non-empty) deleted-row multiset
      require(nDv > 0 && nDv == nCow,
        s"feed reconstructions disagree: dv=$nDv cow=$nCow")
      println(f"""{"q":"cdf_point_delete_feed","t_dv":$tDvFeed%.2f,""" +
        f""""t_cow_replay":$tCowFeed%.2f,""" +
        f""""ratio":${tDvFeed / math.max(tCowFeed, 0.001)}%.2f,""" +
        f""""rows":$nDv}""")
    }
    // delta-scan probe: the row-id scan a bulk UPDATE/MERGE runs
    // (data cols + `_file` + `_pos`), vectorized vs forced row mode,
    // at the inflated scale — the raw-ordinal batch channel is what
    // lets SupportsDelta scans keep batch-decode speed. Plus the
    // end-to-end bulk UPDATE itself (vector + insert commit).
    locally {
      val wh = Files.createTempDirectory("graft-scale-du").toString
      spark.conf.set("spark.sql.catalog.dup",
        "graft.sources.v2.GraftCatalog")
      spark.conf.set("spark.sql.catalog.dup.warehouse", wh)
      val li = Tables.t(spark, scaled, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      li.repartition(8).write.format("graft-v2")
        .option("path", s"$wh/li").mode("append").save()
      val span = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1
      def scanOnce(vectorized: Boolean): Double = {
        val t0 = System.nanoTime()
        spark.read.format("graft-v2").option("path", s"$wh/li")
          .option("vectorized", vectorized.toString).load()
          .select(col("l_orderkey"), col("l_quantity"),
            col("_file"), col("_pos"))
          .filter(col("l_orderkey") % 1000 === 1)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val tRow = math.min(scanOnce(false), scanOnce(false))
      val tVec = math.min(scanOnce(true), scanOnce(true))
      val t0 = System.nanoTime()
      spark.sql("UPDATE dup.li SET l_quantity = l_quantity + 1 " +
        s"WHERE l_orderkey % 1000 = 1")
      val tUpd = (System.nanoTime() - t0) / 1e9
      println(f"""{"q":"delta_pos_scan","t_row":$tRow%.2f,""" +
        f""""t_vec":$tVec%.2f,""" +
        f""""ratio":${tVec / math.max(tRow, 0.001)}%.2f,""" +
        f""""t_bulk_update":$tUpd%.2f}""")
    }
    // z-order probe: after ONE clustering compact on (l_orderkey,
    // l_partkey), row-group pruning works on BOTH keys — the
    // second-key file skipping a single sort column cannot give
    locally {
      val dir = Files.createTempDirectory("graft-scale-z")
        .resolve("t").toString
      Tables.t(spark, scaled, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .repartition(24).write.parquet(dir)
      def groups(f: Option[org.apache.spark.sql.Column]): Int = {
        val t = spark.read.format("graft-v2").option("path", dir).load()
        f.map(t.filter).getOrElse(t).rdd.getNumPartitions
      }
      val okSpan = Tables.t(spark, scaled, "lineitem")
        .agg(max(col("l_orderkey"))).head.getLong(0)
      val pkSpan = Tables.t(spark, scaled, "lineitem")
        .agg(max(col("l_partkey"))).head.getLong(0)
      val xPred = col("l_orderkey") < okSpan / 20
      val yPred = col("l_partkey") < pkSpan / 20
      val (tot0, x0, y0) =
        (groups(None), groups(Some(xPred)), groups(Some(yPred)))
      // target ~24 output files so the per-file z-ranges (and the
      // pruning they enable) are visible at this scale
      val zBytes = {
        val d = new org.apache.hadoop.fs.Path(dir)
        val zfs = d.getFileSystem(spark.sessionState.newHadoopConf())
        zfs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
      }
      graft.sources.GraftSink.compactClustered(spark, dir,
        Seq("l_orderkey", "l_partkey"),
        targetBytes = math.max(1L, zBytes / 24))
      val (tot1, x1, y1) =
        (groups(None), groups(Some(xPred)), groups(Some(yPred)))
      println(f"""{"q":"zorder_two_key_pruning","groups_before":$tot0,""" +
        f""""x_before":$x0,"y_before":$y0,"groups_after":$tot1,""" +
        f""""x_after":$x1,"y_after":$y1}""")
    }

    // bloom-index probe: a POINT LOOKUP on hash-distributed keys at
    // the inflated scale — every file spans the whole key range, so
    // footer min/max prunes nothing and the bloom sidecars are the
    // only thing standing between the lookup and a full-table scan
    locally {
      val dir = Files.createTempDirectory("graft-scale-bloom")
        .resolve("t").toString
      Tables.t(spark, scaled, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(24).write.format("graft-v2")
        .mode("append").save(dir)
      val keys = Seq(1L, 4242L, 99991L)
      def lookupOnce(): Double = {
        val t0 = System.nanoTime()
        spark.read.format("graft-v2").load(dir)
          .filter(col("l_orderkey").isin(keys: _*))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      def plannedParts(): Int =
        spark.read.format("graft-v2").load(dir)
          .filter(col("l_orderkey").isin(keys: _*))
          .rdd.getNumPartitions
      val tCold = math.min(lookupOnce(), lookupOnce())
      val pBefore = plannedParts()
      val tb0 = System.nanoTime()
      graft.sources.v2.BloomIndex.build(spark, dir, Seq("l_orderkey"),
        fpp = 0.001)
      val tBuild = (System.nanoTime() - tb0) / 1e9
      val tIdx = math.min(lookupOnce(), lookupOnce())
      val pAfter = plannedParts()
      println(f"""{"q":"bloom_point_lookup","t_full":$tCold%.2f,""" +
        f""""t_indexed":$tIdx%.2f,""" +
        f""""ratio":${tIdx / math.max(tCold, 0.001)}%.2f,""" +
        f""""t_build":$tBuild%.2f,""" +
        f""""parts_before":$pBefore,"parts_after":$pAfter}""")
    }

    // manifest-delta probe: pure metadata — a single-file append to a
    // wide table must write O(changed) manifest bytes (the delta log),
    // not O(table files). At 100 TB (millions of files) this is the
    // difference between KB and ~100 MB of metadata per commit.
    locally {
      import graft.sources.v2.GraftManifest
      val t = new org.apache.hadoop.fs.Path(Files
        .createTempDirectory("graft-scale-manifest").toString, "t")
      val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(t)
      val wide = (1 to 50000).map(i => f"part-$i%06d.parquet")
      GraftManifest.tryCommit(fs, t, 0L, wide) // v1 checkpoint
      GraftManifest.commitAppend(fs, t, Seq("part-new.parquet")) // v2 delta
      val mdir = new org.apache.hadoop.fs.Path(t, GraftManifest.Dir)
      def len(v: Long) = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(mdir, f"v$v%010d.txt")).getLen
      println(s"""{"q":"manifest_delta_append","table_files":50000,""" +
        s""""full_bytes":${len(1L)},"delta_bytes":${len(2L)},""" +
        f""""ratio":${len(2L).toDouble / len(1L)}%.6f}""")
    }

    // planted-hub graph probe: triangle machinery on an ADVERSARIAL
    // degree distribution — one node of degree ~10³ over a sparse
    // background ring. The (degree, id) orientation charges every
    // hub edge to its leaf end, so the hub pivots zero wedges; a
    // plain id orientation would pivot ~half the hub's neighbor
    // pairs (~125k wedges from one node). Both wedge volumes are
    // computed structurally (Σ C(out-degree, 2) under each
    // orientation) — the printed ratio IS the curse-of-the-last-
    // reducer guard, independent of timer noise.
    locally {
      val n = 20000L
      val hubDeg = 1000L
      val ring = spark.range(n).select(col("id").as("id_a"),
        ((col("id") + 1L) % n).as("id_b"))
        .unionAll(spark.range(n).select(col("id").as("id_a"),
          ((col("id") + 2L) % n).as("id_b")))
      // the hub is node 0 — the id-order WORST case (every hub edge
      // orients hub→leaf, so the hub pivots all its neighbor pairs)
      val hub = spark.range(1L, hubDeg + 1L).select(lit(0L).as("id_a"),
        (col("id") * 7L % n).as("id_b"))
      val pairs = ring.unionAll(hub)
      def wedgeVolume(orientByDegree: Boolean): Long = {
        val e = pairs.select(least(col("id_a"), col("id_b")).as("a"),
            greatest(col("id_a"), col("id_b")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
        val oriented = if (!orientByDegree) e.select(col("a").as("lo"))
        else {
          val deg = e.select(col("a").as("n"))
            .unionAll(e.select(col("b").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("d"))
          e.join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
            .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
            .select(when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
              col("a")).otherwise(col("b")).as("lo"))
        }
        oriented.groupBy(col("lo")).agg(count(lit(1)).as("o"))
          .agg(sum(col("o") * (col("o") - 1L))).head.getLong(0) / 2
      }
      val wDeg = wedgeVolume(orientByDegree = true)
      val wId = wedgeVolume(orientByDegree = false)
      val t0 = System.nanoTime()
      val nTri = operators.GraphOps.triangles(pairs).count()
      val tTri = (System.nanoTime() - t0) / 1e9
      println(f"""{"q":"graph_planted_hub","nodes":$n,""" +
        f""""hub_degree":$hubDeg,"wedges_degree_ordered":$wDeg,""" +
        f""""wedges_id_ordered":$wId,""" +
        f""""hub_suppression":${wId.toDouble / math.max(wDeg, 1L)}%.2f,""" +
        f""""triangles":$nTri,"t_triangles":$tTri%.2f}""")
    }

    // EWMA hot-entity probe: one bot user holding 10% vs 50% of a
    // 2M-row event table, smoothed under the disclosed cap. The claim
    // is BOUNDED task memory and near-flat cost as the hot key's
    // history grows — the capped rank-window cut spills the oversized
    // key in the sort instead of materializing it in the aggregation
    // buffer, and the emitted hot-key rows are exactly the cap.
    locally {
      // sized so the whole rider stays ~15 s per probe run: the
      // full-size finding (2M rows, cap 2¹⁶ — flat 0.96 ratio, ~50 s
      // worst task, quadratic fold-copy bound) is recorded in
      // SCALE_PROBE.md round 18; this keeps the regression guard
      val n = 500000L
      val cap = 16384
      def mk(hotPct: Int) = spark.range(n).select(
        when(col("id") % 100 < hotPct, lit(0L))
          .otherwise(col("id") % 5000L + 1L).as("user_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000L)
          .as("ts"),
        col("id").as("event_id"),
        (col("id") % 997L).cast("double").as("value"))
      def once(hotPct: Int): Double = {
        val t0 = System.nanoTime()
        operators.EventOps.ewma(mk(hotPct), "user_id", "ts",
          "event_id", "value", maxEventsPerKey = cap)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t10 = math.min(once(10), once(10))
      val t50 = math.min(once(50), once(50))
      val hotRows = operators.EventOps.ewma(mk(50), "user_id", "ts",
        "event_id", "value", maxEventsPerKey = cap)
        .filter(col("user_id") === 0L).count()
      println(f"""{"q":"ewma_hot_key","rows":$n,"cap":$cap,""" +
        f""""t_hot10pct":$t10%.2f,"t_hot50pct":$t50%.2f,""" +
        f""""ratio":${t50 / math.max(t10, 0.001)}%.2f,""" +
        f""""hot_rows_emitted":$hotRows}""")
    }

    // Persisted decon index probe: a repeated sweep against the
    // persisted index must SKIP the benchmark build entirely (gram
    // tokenize+distinct shuffle, count job, bloom aggregate) — the
    // claim is probe-only cost per sweep. Both paths forced onto the
    // XL (bloom + shuffled join) shape so the skipped bloom build is
    // part of the measured difference.
    locally {
      val docsT = Tables.t(spark, base, "documents")
      val bench = docsT.filter(col("doc_id") % 5 === 0)
      val idx = Files.createTempDirectory("graft-decon-idx").toString
      def adhocOnce(): Double = {
        val t0 = System.nanoTime()
        operators.CorpusOps.decontaminate(docsT, bench, n = 3,
          maxBroadcastGrams = 0L)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val tAdhoc = math.min(adhocOnce(), adhocOnce())
      val tb0 = System.nanoTime()
      operators.CorpusOps.buildDeconIndex(bench, idx, n = 3)
      val tBuild = (System.nanoTime() - tb0) / 1e9
      def probeOnce(): Double = {
        val t0 = System.nanoTime()
        operators.CorpusOps.decontaminateWithIndex(docsT, idx,
          maxBroadcastGrams = 0L)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val tProbe = math.min(probeOnce(), probeOnce())
      println(f"""{"q":"decon_index_reuse","t_adhoc":$tAdhoc%.2f,""" +
        f""""t_build_once":$tBuild%.2f,"t_probe":$tProbe%.2f,""" +
        f""""probe_vs_adhoc":${tProbe / math.max(tAdhoc, 0.001)}%.2f}""")
    }

    println(f"""{"metric":"scale_probe_worst_ratio","factor":$factor,""" +
      f""""value":$worst%.2f}""")
    spark.stop()
  }

  /** Write an ~Nx copy of the probe tables; remaining tables copied 1x
    * so every query still resolves its inputs. */
  private def inflate(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    def copies(df: DataFrame, expand: (DataFrame, Int) => DataFrame) =
      (0 until factor).map(i => expand(df, i)).reduce(_ unionByName _)

    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val liSpan = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1
    copies(li, (d, i) => d.withColumn("l_orderkey",
        col("l_orderkey") + lit(i * liSpan)))
      .write.parquet(s"$out/lineitem.parquet")

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val abc = "bcdfghjklmnpqrstvwz"
    copies(docs, (d, i) => {
      val rot = abc.drop(i % abc.length) + abc.take(i % abc.length)
      d.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), abc, rot))
    }).write.parquet(s"$out/documents.parquet")

    // embeddings inflate by ROLLING each copy's vectors i positions:
    // norm-preserving and distinct (a clone corpus would make
    // SemDeDup/LSH output grow quadratically in the clone count and
    // say nothing about the capacity guards)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val embSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    copies(emb, (d, i) => {
      val r = i % 64
      val rolled =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      d.withColumn("vec_id", col("vec_id") + lit(i * embSpan))
        .withColumn("embedding", rolled)
    }).write.parquet(s"$out/embeddings.parquet")

    // events inflate by USER-ID offset: factor× users over the same
    // time span — the funnel/retention/resample family's per-user
    // work then scales with the row count, which is what the ratio
    // should measure (cloned event_ids would collapse in count-
    // distinct-free queries anyway; none key on event_id)
    val ev = spark.read.parquet(s"$base/events.parquet")
    val evSpan = ev.agg(max(col("user_id"))).head.getLong(0) + 1
    copies(ev, (d, i) => d.withColumn("user_id",
        col("user_id") + lit(i * evSpan)))
      .write.parquet(s"$out/events.parquet")

    // orders inflates by orderkey/custkey offset so the profiler's
    // distinct-count work scales with the rows (no probed query joins
    // orders to the uninflated dims)
    val ord = spark.read.parquet(s"$base/orders.parquet")
    val ordSpan = ord.agg(max(col("o_orderkey"))).head.getLong(0) + 1
    val custSpan = ord.agg(max(col("o_custkey"))).head.getLong(0) + 1
    copies(ord, (d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * ordSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custSpan)))
      .write.parquet(s"$out/orders.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.parquet(s"$out/$t.parquet")
      }
  }
}
