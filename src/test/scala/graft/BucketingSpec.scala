package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Salting}

/** Co-location + skew + IVF: the 100 TB levers that need a catalog or a
  * model (SURVEY.md §4 / north star).
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    val li = Tables.t(spark, sf001, "lineitem")
    val o = Tables.t(spark, sf001, "orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .saveAsTable("o_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("graft sink writes a bucketed layout that joins shuffle-free") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    val base = tempDir("graft-bucketed")
    val li = Tables.t(spark, sf001, "lineitem")
    val o = Tables.t(spark, sf001, "orders")
    GraftSink.saveBucketedTable(li, "li_graft_b", s"$base/li", 8,
      Seq("l_orderkey"), Seq("l_orderkey"), SaveMode.Overwrite)
    GraftSink.saveBucketedTable(o, "o_graft_b", s"$base/o", 8,
      Seq("o_orderkey"), Seq("o_orderkey"), SaveMode.Overwrite)
    // the physical layout carries Spark's bucket-id file suffix, and
    // every row is in the bucket Spark's own hash assigns it to
    val files = new java.io.File(s"$base/li").listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(files.forall(_.matches(""".*_\d{5}\.c000\.snappy\.parquet""")),
      s"bucket-id naming missing: ${files.toSeq}")
    files.foreach { f =>
      val bucket = """_(\d{5})\.""".r.findFirstMatchIn(f).get.group(1).toInt
      val wrong = spark.read.parquet(s"$base/li/$f")
        .filter(pmod(hash(col("l_orderkey")), lit(8)) =!= bucket).count()
      assert(wrong == 0, s"file $f holds rows of another bucket")
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_graft_b").join(spark.table("o_graft_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"graft-bucketed join should not shuffle:\n$plan")
      assert(joined.count() ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
      // cross-writer co-location: our layout against a stock
      // bucketBy.saveAsTable table with the same spec — still no shuffle
      o.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("o_spark_b")
      val mixed = spark.table("li_graft_b").join(spark.table("o_spark_b"),
        col("l_orderkey") === col("o_orderkey"))
      assert(!mixed.queryExecution.executedPlan.toString.contains("Exchange"),
        "graft-written and Spark-written buckets must co-locate")
      assert(mixed.count() == joined.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("li_graft_b", "o_graft_b", "o_spark_b")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("skewed bucket rolls into multiple files, still one bucket") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    val base = tempDir("graft-bucketed-r")
    val li = Tables.t(spark, sf001, "lineitem")
    // force rollover: ~6000 rows over 4 buckets, max 500 rows per file
    GraftSink.saveBucketedTable(li, "li_graft_roll", s"$base/li", 4,
      Seq("l_orderkey"), Nil, SaveMode.Overwrite, maxRowsPerFile = 500)
    try {
      val files = new java.io.File(s"$base/li").listFiles()
        .map(_.getName).filter(_.startsWith("part-"))
      assert(files.length > 4,
        s"expected rolled files beyond one per bucket: ${files.toSeq}")
      // all files of one bucket share the _NNNNN suffix; Spark groups
      // them back into a single bucket partition
      val byBucket = files.groupBy(f =>
        """_(\d{5})\.""".r.findFirstMatchIn(f).get.group(1).toInt)
      assert(byBucket.keySet == Set(0, 1, 2, 3))
      assert(byBucket.values.exists(_.length > 1))
      byBucket.foreach { case (bucket, fs) =>
        fs.foreach { f =>
          val wrong = spark.read.parquet(s"$base/li/$f")
            .filter(pmod(hash(col("l_orderkey")), lit(4)) =!= bucket)
            .count()
          assert(wrong == 0, s"file $f holds rows of another bucket")
        }
      }
      assert(spark.table("li_graft_roll").count() == li.count())
      // rolled layout still joins shuffle-free on the bucket key
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val o = Tables.t(spark, sf001, "orders")
        GraftSink.saveBucketedTable(o, "o_graft_roll", s"$base/o", 4,
          Seq("o_orderkey"), Nil, SaveMode.Overwrite)
        val joined = spark.table("li_graft_roll")
          .join(spark.table("o_graft_roll"),
            col("l_orderkey") === col("o_orderkey"))
        assert(!joined.queryExecution.executedPlan.toString
          .contains("Exchange"))
        assert(joined.count() ==
          li.join(o, li("l_orderkey") === o("o_orderkey")).count())
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally Seq("li_graft_roll", "o_graft_roll")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("catalog reads of bucketed layouts plan storage-partitioned joins") {
    import graft.sources.{BucketLayout, GraftSink}
    import org.apache.spark.sql.SaveMode
    val wh = tempDir("graft-spj").toString
    spark.conf.set("spark.sql.catalog.spjcat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjcat.warehouse", wh)
    val li = Tables.t(spark, sf001, "lineitem")
    val o = Tables.t(spark, sf001, "orders")
    GraftSink.saveBucketedFiles(li, s"$wh/spj/li", 8, Seq("l_orderkey"),
      mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(o, s"$wh/spj/o", 8, Seq("o_orderkey"),
      mode = SaveMode.Overwrite)
    // the layout marker travels with the data
    assert(new java.io.File(s"$wh/spj/li/${BucketLayout.MarkerName}").exists())
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("spjcat.spj.li")
        .join(spark.table("spjcat.spj.o"),
          col("l_orderkey") === col("o_orderkey"))
      val n = joined.collect().length
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"catalog bucketed join should be storage-partitioned:\n$plan")
      assert(n ==
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
      // single-table reads through the catalog stay correct
      assert(spark.table("spjcat.spj.li").count() == li.count())
      // without the opt-in conf the scan falls back to per-row-group
      // parallelism (no key grouping, shuffles come back)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val unbucketed = spark.table("spjcat.spj.li")
        .join(spark.table("spjcat.spj.o"),
          col("l_orderkey") === col("o_orderkey"))
      assert(unbucketed.queryExecution.executedPlan.toString
        .contains("Exchange"))
      assert(unbucketed.count() == n)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed layout is protected from layout-breaking writes") {
    import graft.sources.{BucketLayout, GraftSink}
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val wh = tempDir("graft-spjw").toString
    spark.conf.set("spark.sql.catalog.spjwcat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjwcat.warehouse", wh)
    val n = Tables.t(spark, sf001, "nation")
    GraftSink.saveBucketedFiles(n, s"$wh/t", 4, Seq("n_nationkey"),
      mode = SaveMode.Overwrite)
    // catalog V2 INSERT routes through the bucket-splitting writer:
    // appended rows land in correctly-suffixed files
    val before = new java.io.File(s"$wh/t").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    spark.sql("INSERT INTO spjwcat.t SELECT * FROM spjwcat.t LIMIT 1")
    assert(spark.table("spjwcat.t").count() == n.count() + 1)
    val appended = new java.io.File(s"$wh/t").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet -- before
    assert(appended.nonEmpty &&
      appended.forall(f => BucketLayout.bucketIdOf(f).exists(_ < 4)),
      s"appended files must carry bucket ids: $appended")
    // PATH-based writes can't resolve the bucket transform -> refused
    val e = intercept[Exception] {
      n.write.format("graft-v2").mode("append").save(s"$wh/t")
    }
    assert(e.getMessage.contains("saveBucketedFiles") ||
      Option(e.getCause).exists(_.getMessage.contains("saveBucketedFiles")),
      s"unexpected: $e")
    // replaceWhere rewrites would strip bucket ids -> refused
    val e2 = intercept[UnsupportedOperationException] {
      GraftSink.replaceWhere(n, s"$wh/t", "n_nationkey >= 0")
    }
    assert(e2.getMessage.contains("bucketed layout"), e2.getMessage)
    // appending under a different spec is refused from the marker alone
    val e3 = intercept[IllegalArgumentException] {
      GraftSink.saveBucketedFiles(n, s"$wh/t", 8, Seq("n_nationkey"),
        mode = SaveMode.Append)
    }
    assert(e3.getMessage.contains("laid out as"), e3.getMessage)
    // V1 sinks refuse too — they would write unsuffixed files
    val e4 = intercept[UnsupportedOperationException] {
      GraftSink.saveAtomic(n, s"$wh/t", SaveMode.Append)
    }
    assert(e4.getMessage.contains("bucketed layout"), e4.getMessage)
    val e5 = intercept[UnsupportedOperationException] {
      GraftSink.saveCompensating(n, s"$wh/t", SaveMode.Append)
    }
    assert(e5.getMessage.contains("bucketed layout"), e5.getMessage)
    // a bucketed APPEND onto unsuffixed files would stamp a marker the
    // files cannot honor — refused
    val plainDir = tempDir("graft-spjw-plain").resolve("p").toString
    n.write.parquet(plainDir)
    val e6 = intercept[IllegalArgumentException] {
      GraftSink.saveBucketedFiles(n, plainDir, 4, Seq("n_nationkey"),
        mode = SaveMode.Append)
    }
    assert(e6.getMessage.contains("without a valid bucket id"),
      e6.getMessage)
    // marker round-trip survives odd column names
    val odd = BucketLayout(3, Seq("a\"b", "c\\d"), Seq("e f"))
    assert(BucketLayout.parse(odd.json).contains(odd))
  }

  test("bucket pruning: point lookups scan only their buckets") {
    import graft.sources.{BucketLayout, GraftSink}
    import graft.sources.v2.{GraftInputPartition, GraftScanBuilderV2}
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.sources._
    val base = tempDir("graft-bprune")
    val o = Tables.t(spark, sf001, "orders")
    GraftSink.saveBucketedFiles(o, s"$base/o", 8, Seq("o_orderkey"),
      mode = SaveMode.Overwrite)
    val schema = spark.read.parquet(s"$base/o").schema
    val layout = BucketLayout(8, Seq("o_orderkey"), Nil)
    def partsFor(fs: Filter*): Array[GraftInputPartition] = {
      val bld = new GraftScanBuilderV2(s"$base/o", schema,
        vectorizedRequested = true, bucketSpec = Some(layout))
      bld.pushFilters(fs.toArray)
      // flatten either shape: grouped (v2 bucketing on) or bare
      bld.build().asInstanceOf[graft.sources.v2.GraftScanV2]
        .planInputPartitions().flatMap {
          case b: graft.sources.v2.GraftBucketedPartition => b.parts
          case p: GraftInputPartition => Array(p)
        }
    }
    val all = partsFor()
    assert(all.length >= 8, s"expected >= 8 row groups, got ${all.length}")
    val k = o.select(col("o_orderkey")).head.getLong(0)
    val kb = BucketLayout.valueBucket(k, 8).get
    val point = partsFor(EqualTo("o_orderkey", k))
    assert(point.nonEmpty && point.length < all.length)
    assert(point.forall(p => BucketLayout.bucketIdOf(
      new java.io.File(p.file).getName).contains(kb)),
      s"point lookup leaked outside bucket $kb")
    // IN over two keys covers at most two buckets
    val k2 = o.select(col("o_orderkey")).distinct()
      .orderBy(col("o_orderkey").desc).head.getLong(0)
    val inParts = partsFor(In("o_orderkey", Array(k, k2)))
    val inBuckets = inParts.map(p => BucketLayout.bucketIdOf(
      new java.io.File(p.file).getName).get).toSet
    assert(inBuckets.subsetOf(Set(kb, BucketLayout.valueBucket(k2, 8).get)))
    // the allowed-set algebra
    assert(BucketLayout.allowedBuckets(layout,
      Seq(IsNull("o_orderkey"))) == Some(Set(42 % 8)))
    assert(BucketLayout.allowedBuckets(layout, Seq(
      Or(EqualTo("o_orderkey", k), EqualTo("o_orderkey", k2)))) ==
      Some(Set(kb, BucketLayout.valueBucket(k2, 8).get)))
    assert(BucketLayout.allowedBuckets(layout, Seq(
      And(EqualTo("o_orderkey", k), GreaterThan("o_totalprice", 0.0)))) ==
      Some(Set(kb)))
    assert(BucketLayout.allowedBuckets(layout,
      Seq(GreaterThan("o_orderkey", 0L))).isEmpty)
    // a filter on a non-bucket column never constrains
    assert(BucketLayout.allowedBuckets(layout,
      Seq(EqualTo("o_totalprice", 1.0))).isEmpty)
    // end-to-end through the catalog: pruned scans return exact rows,
    // with and without key-grouped planning
    spark.conf.set("spark.sql.catalog.bpcat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.bpcat.warehouse", base.toString)
    val expect = o.filter(col("o_orderkey") === k).count()
    assert(expect > 0)
    // path-based reads honor the marker for pruning (never grouping)
    assert(spark.read.format("graft-v2").load(s"$base/o")
      .filter(col("o_orderkey") === k).count() == expect)
    val prev = scala.util.Try(
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled")).toOption
    try {
      Seq("true", "false").foreach { flag =>
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", flag)
        assert(spark.table("bpcat.o")
          .filter(col("o_orderkey") === k).count() == expect)
      }
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("sorted single-file buckets: SMJ with no exchange AND no sort") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val wh = tempDir("graft-spjs").toString
    spark.conf.set("spark.sql.catalog.spjscat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjscat.warehouse", wh)
    val li = Tables.t(spark, sf001, "lineitem")
    val o = Tables.t(spark, sf001, "orders")
    GraftSink.saveBucketedFiles(li, s"$wh/li", 8, Seq("l_orderkey"),
      sortCols = Seq("l_orderkey"), mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(o, s"$wh/o", 8, Seq("o_orderkey"),
      sortCols = Seq("o_orderkey"), mode = SaveMode.Overwrite)
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.join.preferSortMergeJoin")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      val joined = spark.table("spjscat.li")
        .join(spark.table("spjscat.o"),
          col("l_orderkey") === col("o_orderkey"))
      val n = joined.collect().length
      assert(n == li.join(o, li("l_orderkey") === o("o_orderkey")).count())
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(!finalPlan.toString.contains("Exchange"),
        s"expected storage-partitioned join:\n$finalPlan")
      val sorts = finalPlan.collect { case s: SortExec => s }
      assert(sorts.isEmpty,
        s"reported ordering should erase SMJ sorts:\n$finalPlan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sorted multi-file buckets: disjoint appended runs keep the " +
      "sort-free SMJ; overlapping runs decline") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val wh = tempDir("graft-spjm").toString
    spark.conf.set("spark.sql.catalog.spjmcat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjmcat.warehouse", wh)
    // two appends with DISJOINT key ranges: per bucket, two files whose
    // [min,max] runs are provably non-overlapping from footer stats —
    // the time-ordered-append shape
    def batch(lo: Long, hi: Long, m: Long, name: String) =
      spark.range(lo, hi).select($"id".as("k"), ($"id" * m).as(name))
    GraftSink.saveBucketedFiles(batch(0, 5000, 3, "v"), s"$wh/t", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(batch(5000, 10000, 3, "v"), s"$wh/t", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Append)
    GraftSink.saveBucketedFiles(batch(0, 5000, 7, "w"), s"$wh/u", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(batch(5000, 10000, 7, "w"), s"$wh/u", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Append)
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.join.preferSortMergeJoin")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      def finalPlan(df: org.apache.spark.sql.DataFrame) = {
        df.collect()
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      }
      val joined = spark.table("spjmcat.t")
        .join(spark.table("spjmcat.u"), "k")
      // SMJ over elided sorts silently corrupts if the concatenation
      // were not really sorted — the row-level check is the real proof
      assert(joined.count() == 10000)
      assert(joined.filter($"v" === $"k" * 3 && $"w" === $"k" * 7)
        .count() == 10000, "merge-ordered SMJ must pair every key")
      val fp = finalPlan(joined)
      assert(!fp.toString.contains("Exchange"), s"expected SPJ:\n$fp")
      // "Sort [" matches SortExec's render, not "SortMergeJoin ["
      assert(!fp.toString.contains("Sort ["),
        s"disjoint runs must erase the SMJ sorts:\n$fp")
      // OVERLAPPING third append -> the prover declines, sorts return,
      // results stay correct
      GraftSink.saveBucketedFiles(batch(2500, 7500, 3, "v"), s"$wh/t", 4,
        Seq("k"), sortCols = Seq("k"), mode = SaveMode.Append)
      val joined2 = spark.table("spjmcat.t")
        .join(spark.table("spjmcat.u"), "k")
      assert(joined2.count() == 15000)
      val fp2 = finalPlan(joined2)
      assert(fp2.toString.contains("Sort ["),
        s"overlapping runs must NOT report ordering:\n$fp2")
      // ... unless the reader is asked to MERGE the overlapping runs:
      // the k-way merge emits each bucket in the reported order, so
      // the sorts disappear again — and the row-level join check is
      // the proof the merged order is real (an unsorted concat under
      // an elided SMJ sort silently drops matches)
      val tm = spark.read.option("mergeSortedRuns", "true")
        .table("spjmcat.t")
      val um = spark.read.option("mergeSortedRuns", "true")
        .table("spjmcat.u")
      val joined3 = tm.join(um, "k")
      assert(joined3.count() == 15000)
      // k in [2500,7500) appears twice in t -> those pair twice with u
      assert(joined3.filter($"w" === $"k" * 7).count() == 15000,
        "merged-run SMJ must pair every key occurrence")
      val fp3 = finalPlan(joined3)
      assert(!fp3.toString.contains("Exchange"), s"expected SPJ:\n$fp3")
      assert(!fp3.toString.contains("Sort ["),
        s"mergeSortedRuns must erase the SMJ sorts:\n$fp3")
      // ... and the merge is COLUMNAR: the batch k-way merge keeps the
      // vectorized decode (ColumnarToRow in-plan), so sort elimination
      // no longer costs batch throughput
      assert(fp3.toString.contains("ColumnarToRow"),
        s"merged-run scan must stay columnar:\n$fp3")
      // sliced batches must cover every row exactly once — the
      // aggregate face of the same proof (t = 0..9999 plus the
      // overlapping 2500..7499 append, v = k*3)
      assert(tm.agg(sum($"v")).head.getLong(0) ==
        3L * ((0L until 10000L).sum + (2500L until 7500L).sum))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("compact restores the sorted-run contract after overlapping appends") {
    import graft.sources.{BucketLayout, GraftSink}
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val wh = tempDir("graft-spjc").toString
    spark.conf.set("spark.sql.catalog.spjccat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjccat.warehouse", wh)
    def batch(lo: Long, hi: Long, step: Long, name: String) =
      spark.range(lo, hi, step).select($"id".as("k"),
        ($"id" * 3).as(name))
    // interleaved ranges: runs overlap, the prover must decline
    GraftSink.saveBucketedFiles(batch(0, 4000, 2, "v"), s"$wh/t", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(batch(1, 4000, 2, "v"), s"$wh/t", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Append)
    GraftSink.saveBucketedFiles(batch(0, 4000, 1, "w"), s"$wh/u", 4,
      Seq("k"), sortCols = Seq("k"), mode = SaveMode.Overwrite)
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.join.preferSortMergeJoin")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      def planOf() = {
        val j = spark.table("spjccat.t")
          .join(spark.table("spjccat.u"), "k")
        assert(j.count() == 4000)
        j.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
      }
      assert(planOf().contains("Sort ["),
        "overlapping appends must pay the SMJ sort")
      // compaction merges per bucket AND sortWithinPartitions — the
      // single sorted file per bucket is trivially a disjoint run
      val (smallBefore, after) =
        GraftSink.compact(spark, s"$wh/t")
      assert(after < smallBefore, s"$smallBefore -> $after")
      val p2 = planOf()
      assert(!p2.contains("Sort ["),
        s"compaction must restore the sort-free SMJ:\n$p2")
      assert(!p2.contains("Exchange"), s"SPJ must hold:\n$p2")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SPJ composes with partially-clustered distribution under skew") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val wh = tempDir("graft-spjp").toString
    spark.conf.set("spark.sql.catalog.spjpcat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.spjpcat.warehouse", wh)
    // hot key 0 carries most of the fact side's mass
    val fact = spark.range(0, 20000).select(
      when($"id" < 15000, 0L).otherwise($"id" % 64).as("k"),
      ($"id" * 7).as("payload"))
    val dim = spark.range(0, 64).select($"id".as("k"),
      ($"id" * 11).as("info"))
    GraftSink.saveBucketedFiles(fact, s"$wh/fact", 8, Seq("k"),
      mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(dim, s"$wh/dim", 8, Seq("k"),
      mode = SaveMode.Overwrite)
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing" +
        ".partiallyClusteredDistribution.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("spjpcat.fact")
        .join(spark.table("spjpcat.dim"), "k")
      // correctness is the contract here: Spark may replicate the
      // dim side's groups against the skewed fact partitions, but
      // every row must join exactly once either way
      assert(joined.count() == 20000)
      assert(joined.agg(sum($"payload")).head.getLong(0) ==
        (0L until 20000L).map(_ * 7).sum)
      assert(!joined.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "partially-clustered SPJ must stay shuffle-free")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("composite bucket keys: tuple fold matches Spark, full pin prunes") {
    import graft.sources.BucketLayout
    import org.apache.spark.sql.sources._
    import spark.implicits._
    val layout = BucketLayout(16, Seq("a", "b"), Nil)
    // the tuple fold must equal Spark's own hash(a, b) bucket id
    val sample = Seq((1L, "x"), (42L, "y"), (7L, ""), (0L, "0"))
    val fromSpark = sample.toDF("a", "b")
      .select(pmod(hash($"a", $"b"), lit(16)).cast("int")).as[Int].collect()
    sample.zip(fromSpark).foreach { case ((a, b), expect) =>
      assert(BucketLayout.tupleBucket(Seq(a, b), 16).contains(expect),
        s"tuple ($a, $b)")
    }
    // full conjunction pins one bucket; partial binding never prunes
    val both = BucketLayout.allowedBuckets(layout,
      Seq(EqualTo("a", 42L), EqualTo("b", "y")))
    assert(both == Some(Set(BucketLayout.tupleBucket(Seq(42L, "y"), 16).get)))
    assert(BucketLayout.allowedBuckets(layout,
      Seq(EqualTo("a", 42L))).isEmpty)
    // null pins participate (null skips the fold step, like the writer)
    val withNull = BucketLayout.allowedBuckets(layout,
      Seq(EqualTo("a", 42L), IsNull("b")))
    assert(withNull ==
      Some(Set(BucketLayout.tupleBucket(Seq(42L, null), 16).get)))
  }

  test("bucketed compact merges per bucket and keeps co-location") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    val base = tempDir("graft-spjc")
    val li = Tables.t(spark, sf001, "lineitem")
    // rollover forces several small files per bucket
    GraftSink.saveBucketedFiles(li, s"$base/li", 4, Seq("l_orderkey"),
      sortCols = Seq("l_orderkey"), mode = SaveMode.Overwrite,
      maxRowsPerFile = 500)
    val before = new java.io.File(s"$base/li").listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(before.length > 4, s"rollover expected: ${before.toSeq}")
    val (was, now) = GraftSink.compact(spark, s"$base/li")
    assert(was == before.length && now == 4, s"($was, $now)")
    val after = new java.io.File(s"$base/li").listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(after.length == 4, after.toSeq.toString)
    // every merged file carries a bucket suffix and only its own rows
    after.foreach { f =>
      val bucket = """_(\d{5})\.""".r.findFirstMatchIn(f).get.group(1).toInt
      assert(bucket < 4, f)
      val wrong = spark.read.parquet(s"$base/li/$f")
        .filter(pmod(hash(col("l_orderkey")), lit(4)) =!= bucket).count()
      assert(wrong == 0, s"file $f holds rows of another bucket")
    }
    assert(spark.read.parquet(s"$base/li").count() == li.count())
    // a second compact is a no-op (one file per bucket already)
    assert(GraftSink.compact(spark, s"$base/li") == ((4, 4)))
  }

  test("bucket advisor sizes buckets to rows and flags hot keys") {
    import graft.sources.GraftSink
    import spark.implicits._
    val li = Tables.t(spark, sf001, "lineitem")
    val n = li.count()
    // target 1000 rows/bucket over ~6000 rows -> ~6 buckets
    val (b, share) = GraftSink.adviseBuckets(li, Seq("l_orderkey"), 1000L)
    assert(b == ((n + 999) / 1000).toInt, s"buckets=$b for $n rows")
    assert(share > 0.0 && share < 0.05,
      s"high-cardinality key should have tiny hot share, got $share")
    // a constant key concentrates all mass in one bucket-key
    val skewed = spark.range(0, 1000).select(lit(7L).as("k"))
    val (_, hotShare) = GraftSink.adviseBuckets(skewed, Seq("k"), 100L)
    assert(hotShare == 1.0, s"constant key must report share 1.0: $hotShare")
    // empty input degrades to a single bucket
    assert(GraftSink.adviseBuckets(li.limit(0), Seq("l_orderkey")) ==
      ((1, 0.0)))
  }

  test("bucketed save modes: ErrorIfExists throws, Ignore no-ops") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    val base = tempDir("graft-bucketed-m")
    val n = Tables.t(spark, sf001, "nation")
    try {
      GraftSink.saveBucketedTable(n, "n_graft_b", s"$base/n1", 4,
        Seq("n_nationkey"))
      intercept[Exception] {
        GraftSink.saveBucketedTable(n, "n_graft_b", s"$base/n2", 4,
          Seq("n_nationkey"))
      }
      GraftSink.saveBucketedTable(n.limit(1), "n_graft_b", s"$base/n3", 4,
        Seq("n_nationkey"), mode = SaveMode.Ignore)
      assert(spark.table("n_graft_b").count() == n.count(),
        "Ignore must leave the existing table untouched")
    } finally spark.sql("DROP TABLE IF EXISTS n_graft_b")
  }

  test("bucketed append validates the existing spec, never re-registers") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    val base = tempDir("graft-bucketed-a")
    val n = Tables.t(spark, sf001, "nation")
    try {
      GraftSink.saveBucketedTable(n, "n_graft_app", s"$base/n", 4,
        Seq("n_nationkey"))
      // a mismatched spec must fail loudly — silently re-registering a
      // different numBuckets would corrupt shuffle-free join results
      val e = intercept[IllegalArgumentException] {
        GraftSink.saveBucketedTable(n, "n_graft_app", s"$base/n", 8,
          Seq("n_nationkey"), mode = SaveMode.Append)
      }
      assert(e.getMessage.contains("spec mismatch"), e.getMessage)
      // a mismatched location must fail too
      val e2 = intercept[IllegalArgumentException] {
        GraftSink.saveBucketedTable(n, "n_graft_app", s"$base/elsewhere", 4,
          Seq("n_nationkey"), mode = SaveMode.Append)
      }
      assert(e2.getMessage.contains("lives at"), e2.getMessage)
      // a matching append lands in the same buckets
      GraftSink.saveBucketedTable(n, "n_graft_app", s"$base/n", 4,
        Seq("n_nationkey"), mode = SaveMode.Append)
      assert(spark.table("n_graft_app").count() == n.count() * 2)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = spark.table("n_graft_app").as("x")
          .join(spark.table("n_graft_app").as("y"),
            col("x.n_nationkey") === col("y.n_nationkey"))
        assert(!joined.queryExecution.executedPlan.toString
          .contains("Exchange"),
          "appended bucketed table must still co-locate")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS n_graft_app")
  }

  test("AQE splits the skewed join partition (skew=true in final plan)") {
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      // thresholds lowered so toy data exhibits the 100 TB hot-key case
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // hot key 0 carries ~100x the mass of any other key
      val fact = spark.range(0, 200000).select(
        when($"id" < 150000, 0L).otherwise($"id" % 512).as("k"),
        ($"id" * 7).as("payload"))
      val dim = spark.range(0, 512).select($"id".as("k"),
        concat(lit("d"), $"id").as("name"))
      val joined = fact.join(dim, "k")
      // execute THIS dataframe so its AdaptiveSparkPlan reaches the
      // final (re-optimized) state before inspection
      val n = joined.collect().length
      assert(n == 200000, s"join lost rows under skew handling: $n")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$finalPlan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted aggregation equals plain aggregation exactly") {
    val li = Tables.t(spark, sf001, "lineitem")
    val salted = Salting.saltedSumCount(li, Seq("l_returnflag"),
        Seq(col("l_quantity").cast("decimal(18,2)")), buckets = 8)
      .select(col("l_returnflag"), col("sum_0"), col("cnt"))
    val plain = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_0"),
        count(lit(1)).as("cnt"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("two-phase ranks equal single-window ranks exactly (with ties)") {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.t(spark, sf001, "lineitem")
    // l_quantity desc over 3 returnflags: heavy ties, the exact shape
    // the two-phase rewrite must preserve across bucket boundaries
    // rank/dense_rank over a TIE-heavy ordering (qty desc only):
    // ties must not straddle bucket boundaries
    val twoPhaseTies = Salting.twoPhaseRanks(li, Seq("l_returnflag"),
        Seq(col("l_quantity").desc), rankCol = Some("rnk"),
        denseRankCol = Some("drnk"), buckets = 7)
      .select(col("l_orderkey"), col("l_linenumber"), col("rnk"),
        col("drnk"))
    val wTies = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity").desc)
    val singleTies = li.select(col("l_orderkey"), col("l_linenumber"),
      rank().over(wTies).as("rnk"), dense_rank().over(wTies).as("drnk"))
    assert(twoPhaseTies.exceptAll(singleTies).isEmpty &&
      singleTies.exceptAll(twoPhaseTies).isEmpty)
    // row_number demands a UNIQUE ordering to be deterministic at all
    val unique = Seq(col("l_quantity").desc, col("l_orderkey"),
      col("l_linenumber"))
    val twoPhaseRn = Salting.twoPhaseRanks(li, Seq("l_returnflag"),
        unique, rowNumCol = Some("rn"), buckets = 7)
      .select(col("l_orderkey"), col("l_linenumber"), col("rn"))
    val wU = Window.partitionBy(col("l_returnflag")).orderBy(unique: _*)
    val singleRn = li.select(col("l_orderkey"), col("l_linenumber"),
      row_number().over(wU).as("rn"))
    assert(twoPhaseRn.exceptAll(singleRn).isEmpty &&
      singleRn.exceptAll(twoPhaseRn).isEmpty)
  }

  test("tie-group ranks equal single-window rank/dense_rank exactly") {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.t(spark, sf001, "lineitem")
    val tg = Salting.tieGroupRanks(li, Seq("l_returnflag"),
        Seq(col("l_quantity").desc), rankCol = Some("rnk"),
        denseRankCol = Some("drnk"))
      .select(col("l_orderkey"), col("l_linenumber"), col("rnk"),
        col("drnk"))
    val wT = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity").desc)
    val single = li.select(col("l_orderkey"), col("l_linenumber"),
      rank().over(wT).as("rnk"), dense_rank().over(wT).as("drnk"))
    assert(tg.exceptAll(single).isEmpty && single.exceptAll(tg).isEmpty)
    // the plan's only window runs over the AGGREGATED group table and
    // the join back is a broadcast
    val plan = Salting.tieGroupRanks(li, Seq("l_returnflag"),
        Seq(col("l_quantity").desc), rankCol = Some("rnk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("scalableRanks self-tunes: tie-group path under the group " +
      "bound, two-phase past it or when row_number is requested") {
    val li = Tables.t(spark, sf001, "lineitem")
    // ~150 (flag, qty) groups <= bound: tie-group (no data window)
    val tg = Salting.scalableRanks(li, Seq("l_returnflag"),
      Seq(col("l_quantity").desc), rankCol = Some("rnk"))
    val tgPlan = tg.queryExecution.optimizedPlan.toString
    assert(!tgPlan.contains("__tpr_bucket"), tgPlan)
    // groups over the bound: two-phase buckets
    val tp = Salting.scalableRanks(li, Seq("l_returnflag"),
      Seq(col("l_quantity").desc), rankCol = Some("rnk"),
      maxGroups = 10L)
    assert(tp.queryExecution.optimizedPlan.toString
      .contains("__tpr_bucket"))
    // row_number forces two-phase regardless of tie density
    val rn = Salting.scalableRanks(li, Seq("l_returnflag"),
      Seq(col("l_quantity").desc, col("l_orderkey"),
        col("l_linenumber")), rowNumCol = Some("rn"))
    assert(rn.queryExecution.optimizedPlan.toString
      .contains("__tpr_bucket"))
    // all three produce the single-window answers
    import org.apache.spark.sql.expressions.Window
    val wT = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity").desc)
    val single = li.select(col("l_orderkey"), col("l_linenumber"),
      rank().over(wT).as("rnk"))
    Seq(tg, tp).foreach { d =>
      val got = d.select(col("l_orderkey"), col("l_linenumber"),
        col("rnk"))
      assert(got.exceptAll(single).isEmpty &&
        single.exceptAll(got).isEmpty)
    }
  }

  test("two-phase rank window partitions on (key, bucket), not the bare key") {
    val li = Tables.t(spark, sf001, "lineitem")
    val plan = Salting.twoPhaseRanks(li, Seq("l_returnflag"),
        Seq(col("l_quantity").desc), rankCol = Some("rnk"))
      .queryExecution.optimizedPlan.toString
    // every Window node in the two-phase plan must carry the bucket
    // column in its partition spec — the property that spreads an O(1)
    // key over `buckets` sort tasks
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty)
    val dataWindows = windowLines.filterNot(_.contains("__tpr_rowOff"))
    assert(dataWindows.forall(_.contains("__tpr_bucket")),
      s"a data window partitions on the bare key:\n$plan")
  }

  test("rank rewrites keep rows whose PARTITION BY key is NULL") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = Seq(
      (Option("a"), 3.0, 1L), (Option("a"), 3.0, 2L),
      (Option("a"), 1.0, 3L), (Option.empty[String], 5.0, 4L),
      (Option.empty[String], 5.0, 5L),
      (Option.empty[String], 2.0, 6L), (Option("b"), 7.0, 7L)
    ).toDF("k", "v", "id")
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc)
    val single = df.select(col("id"), rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"))
    val tg = Salting.tieGroupRanks(df, Seq("k"), Seq(col("v").desc),
        rankCol = Some("rnk"), denseRankCol = Some("drnk"))
      .select(col("id"), col("rnk"), col("drnk"))
    assert(tg.count() == df.count(),
      "tie-group join-back dropped NULL-keyed rows")
    assert(tg.exceptAll(single).isEmpty && single.exceptAll(tg).isEmpty)
    val tp = Salting.twoPhaseRanks(df, Seq("k"), Seq(col("v").desc),
        rankCol = Some("rnk"), denseRankCol = Some("drnk"), buckets = 3)
      .select(col("id"), col("rnk"), col("drnk"))
    assert(tp.count() == df.count(),
      "two-phase join-back dropped NULL-keyed rows")
    assert(tp.exceptAll(single).isEmpty && single.exceptAll(tp).isEmpty)
  }

  test("non-numeric split sampler bounds its driver collect to a " +
      "fixed partition sample and stays exact") {
    // the helper contract: the sampled-partition set is capped, so the
    // driver reservoir is O(maxParts * 32) no matter how many tasks
    // the table has (10^5-10^6 at 100 TB)
    val cap = Salting.maxSamplePartitions(8)
    val ids = Salting.samplePartitionIds(100000, cap)
    assert(ids.size == cap)
    assert(ids.forall(i => i >= 0 && i < 100000))
    assert(Salting.samplePartitionIds(10, cap) == (0 until 10).toSet)
    // exactness is split-independent: a STRING (general-path) leading
    // sort key over far more partitions than the cap still produces
    // bit-identical ranks — the sample shapes load balance only
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = (0 until 4000).map(i =>
        (s"k${i % 3}", f"s${(i * 37) % 251}%03d", i.toLong))
      .toDF("k", "s", "id").repartition(257)
    val w = Window.partitionBy(col("k")).orderBy(col("s").asc)
    val single = df.select(col("id"), rank().over(w).as("rnk"))
    val tp = Salting.twoPhaseRanks(df, Seq("k"), Seq(col("s").asc),
        rankCol = Some("rnk"), buckets = 8)
      .select(col("id"), col("rnk"))
    assert(tp.exceptAll(single).isEmpty && single.exceptAll(tp).isEmpty)
  }

  test("IVF top-k recall vs brute force is reasonable") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = Ann.trainIvf(emb, nlist = 16)
    val ivf = Ann.ivfTopK(emb, queries, 10, model, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, f"IVF recall too low: $recall%.2f")
  }

  test("IVF model is reusable: same model, multiple query batches") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val model = Ann.trainIvf(emb, nlist = 16)
    val a = Ann.ivfTopK(emb, emb.filter(col("vec_id") < 3), 5, model)
    val b = Ann.ivfTopK(emb, emb.filter(col("vec_id").between(3, 5)), 5, model)
    assert(a.count() > 0 && b.count() > 0)
    // determinism: retraining with the same seed gives the same centers
    val model2 = Ann.trainIvf(emb, nlist = 16)
    assert(model.centers.flatten.toSeq == model2.centers.flatten.toSeq)
    // persistence: save/load round-trips the quantizer exactly
    val dir = tempDir("graft-ivf").resolve("m").toString
    Ann.saveIvf(spark, model, dir)
    val loaded = Ann.loadIvf(spark, dir)
    assert(loaded.centers.map(_.toSeq).toSeq ==
      model.centers.map(_.toSeq).toSeq)
    assert(Ann.ivfTopK(emb, emb.filter(col("vec_id") < 2), 5, loaded)
      .count() > 0)
  }
}
