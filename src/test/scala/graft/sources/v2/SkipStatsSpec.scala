package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Manifest-level data skipping ([[SkipStats]]): declared columns'
  * per-file ranges ride the commit log, range predicates prune the
  * file LIST with zero footer I/O, stats fold along delta chains and
  * survive re-materialization — strictly conservative throughout. */
class SkipStatsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-skip-$tag").resolve("t").toString

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def plannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.head
    scan.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics].estimateStatistics()
      .numRows().getAsLong
  }

  test("declared long column: range-disjoint appends prune at the " +
      "LISTING level for <, >, BETWEEN, =, IN; results exact; " +
      "pre-declaration files always survive") {
    val p = tmp("long")
    def rows(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, i * 2.0, s"r$i"))
        .toDF("id", "score", "s")
    // first append BEFORE the declaration: never skippable
    rows(0, 100).repartition(1).write.format("graft-v2")
      .option("path", p).option("changelog", "true")
      .mode("append").save()
    // declare, then two range-disjoint appends gain stats
    rows(100, 200).repartition(1).write.format("graft-v2")
      .option("path", p).option("statsColumns", "id,score")
      .mode("append").save()
    rows(200, 300).repartition(1).write.format("graft-v2")
      .option("path", p).mode("append").save()
    val fs = fsOf(p)
    assert(SkipStats.read(fs, new Path(p)) === Seq("id", "score"))
    val snap = GraftManifest.current(fs, new Path(p)).get
    // stats recorded for the two post-declaration files only
    assert(snap.fstats.size === 2, snap.fstats.keys)
    assert(snap.fstats.values.forall(_.keySet == Set("id", "score")))

    val t = spark.read.format("graft-v2").load(p)
    val full = plannedRows(t)
    // id >= 250: only the third file's stats admit it; the
    // un-statted first file survives (conservative)
    val hi = t.filter($"id" >= 250L)
    assert(plannedRows(hi) === 200L,
      s"expected file-level skip to 200 planned rows, " +
        s"got ${plannedRows(hi)} of $full")
    assert(hi.count() === 50L)
    // equality and IN prune the same way; doubles too
    assert(plannedRows(t.filter($"id" === 150L)) === 200L)
    assert(t.filter($"id" === 150L).count() === 1L)
    assert(plannedRows(t.filter($"score" < 250.0)) === 200L)
    assert(t.filter($"score" < 250.0).count() === 125L)
    assert(t.filter($"id".isin(120L, 130L)).count() === 2L)
    // a predicate admitting every range plans everything
    assert(plannedRows(t.filter($"id" >= 0L)) === full)
  }

  test("stats fold along delta chains, survive checkpoints, DV " +
      "commits, and vacuum re-materialization") {
    val p = tmp("chain")
    // 20 single-file appends -> delta versions + a checkpoint at v16
    (0 until 20).foreach { i =>
      Seq((i.toLong * 100, s"v$i")).toDF("id", "s")
        .repartition(1).write.format("graft-v2").option("path", p)
        .option("statsColumns", "id")
        .option("changelog", "true").mode("append").save()
    }
    val fs = fsOf(p)
    val cur = GraftManifest.current(fs, new Path(p)).get
    assert(cur.fstats.size === 20,
      s"expected 20 files with stats, got ${cur.fstats.size}")
    // every file's range is its single value
    cur.fstats.values.foreach { st =>
      assert(st("id").lo === st("id").hi)
    }
    val t = spark.read.format("graft-v2").load(p)
    assert(plannedRows(t.filter($"id" === 700L)) === 1L)
    assert(t.filter($"id" === 700L).count() === 1L)
    // a DV delete keeps every file's stats (names unchanged)
    val cat = "graft_skip"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new Path(p).getParent.toString)
    spark.sql(s"DELETE FROM $cat.t WHERE id = 300")
    val afterDv = GraftManifest.current(fs, new Path(p)).get
    // the stats-aligned DELETE dropped that single-value file WHOLE
    // (metadata-only) — the 19 surviving files keep their stats
    assert(afterDv.names.size === 19, "expected a whole-file drop")
    assert(afterDv.fstats.size === 19, "a survivor lost its stats")
    // vacuum collapses the chain: kept versions re-materialize with
    // their full fstat lines
    GraftManifest.vacuum(fs, new Path(p), keepVersions = 2)
    val afterVac = GraftManifest.current(fs, new Path(p)).get
    assert(afterVac.fstats.size === 19, "vacuum lost stats")
    assert(plannedRows(spark.read.format("graft-v2").load(p)
      .filter($"id" === 700L)) === 1L)
  }

  test("conservative semantics: all-null files, IsNull/IsNotNull, " +
      "unsupported declarations refuse") {
    val p = tmp("nulls")
    // stats ride the MANIFEST: changelog=true starts the log (a
    // never-mutated, never-logged table has nowhere to record them)
    Seq((Some(1L), "a"), (Some(2L), "b")).toDF("id", "s")
      .repartition(1).write.format("graft-v2").option("path", p)
      .option("statsColumns", "id").option("changelog", "true")
      .mode("append").save()
    Seq((Option.empty[Long], "c"), (Option.empty[Long], "d"))
      .toDF("id", "s")
      .repartition(1).write.format("graft-v2").option("path", p)
      .mode("append").save()
    val t = spark.read.format("graft-v2").load(p)
    // equality skips the all-null file; IS NULL skips the null-free one
    assert(plannedRows(t.filter($"id" === 1L)) === 2L)
    assert(t.filter($"id" === 1L).count() === 1L)
    assert(plannedRows(t.filter($"id".isNull)) === 2L)
    assert(t.filter($"id".isNull).count() === 2L)
    assert(t.filter($"id".isNotNull).count() === 2L)

    val e1 = intercept[Exception] {
      Seq((1L, Array[Byte](1, 2))).toDF("id", "b")
        .write.format("graft-v2")
        .option("path", tmp("bin")).option("statsColumns", "b")
        .mode("append").save()
    }
    assert(e1.getMessage.contains("manifest-stat"), e1.getMessage)
    val e2 = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "s").write.format("graft-v2")
        .option("path", tmp("miss")).option("statsColumns", "nope")
        .mode("append").save()
    }
    assert(e2.getMessage.contains("absent"), e2.getMessage)
  }

  test("signed-zero doubles: a file holding only -0.0 survives " +
      "an = 0.0 scan (SQL equality, not IEEE total order)") {
    val p = tmp("szero")
    Seq((1L, -0.0)).toDF("id", "v").repartition(1)
      .write.format("graft-v2").option("path", p)
      .option("statsColumns", "v").option("changelog", "true")
      .mode("append").save()
    Seq((2L, 5.0)).toDF("id", "v").repartition(1)
      .write.format("graft-v2").option("path", p)
      .mode("append").save()
    val t = spark.read.format("graft-v2").load(p)
    assert(t.filter($"v" === 0.0).count() === 1L,
      "the -0.0 file was pruned for = 0.0")
    assert(t.filter($"v" === 5.0).count() === 1L)
  }

  test("t.files surfaces the recorded skip ranges") {
    val wh = tempDir("graft-skip-meta").toString
    val cat = "graft_skipmeta"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (1 to 5).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(1).write.format("graft-v2")
      .option("path", s"$wh/t").option("statsColumns", "id")
      .option("changelog", "true").mode("append").save()
    val rows = spark.sql(s"SELECT file, skip_stats FROM $cat.t.files")
      .collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "id=[1,5] nulls=0",
      rows.head.getString(1))
  }

  test("timestamp column: the graft table prunes time ranges at the " +
      "listing level; collection normalizes foreign MILLIS files " +
      "into the same micros domain") {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val p = tmp("ts")
    def rows(days: Range) = days.map { d =>
      (d.toLong, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(86400L * d)))
    }.toDF("id", "ts")
    rows(1 to 10).repartition(1).write.format("graft-v2")
      .option("path", p).option("statsColumns", "ts")
      .option("changelog", "true").mode("append").save()
    rows(20 to 30).repartition(1).write.format("graft-v2")
      .option("path", p).mode("append").save()
    val fs = fsOf(p)
    val snap = GraftManifest.current(fs, new Path(p)).get
    assert(snap.fstats.size === 2)
    assert(snap.fstats.values.forall(_("ts").kind == 't'))
    val los = snap.fstats.values.map(_("ts").lo.get.toLong).toSeq.sorted
    assert(los === Seq(86400L * 1 * 1000000L, 86400L * 20 * 1000000L))

    val t = spark.read.format("graft-v2").load(p)
    val cut = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(86400L * 15))
    assert(plannedRows(t.filter($"ts" > cut)) === 11L)
    assert(t.filter($"ts" > cut).count() === 11L)
    assert(plannedRows(t.filter($"ts" < cut)) === 10L)
    assert(t.filter($"ts" < cut).count() === 10L)
    // equality inside a gap prunes everything at planning time
    assert(plannedRows(t.filter($"ts" === cut)) === 0L)
    assert(t.filter($"ts" === cut).count() === 0L)

    // MIXED UNITS: the graft writer pins MICROS (INT96-proofing), so
    // a MILLIS file is necessarily FOREIGN parquet — collection must
    // still normalize its footer stats into the same micros domain
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.get(key)
    val fdir = tempDir("graft-skip-mixed").toString
    try {
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      rows(1 to 10).repartition(1).write.parquet(s"$fdir/ms")
      spark.conf.set(key, "TIMESTAMP_MICROS")
      rows(1 to 10).repartition(1).write.parquet(s"$fdir/us")
    } finally spark.conf.set(key, saved)
    def one(sub: String): String = {
      val d = new Path(s"$fdir/$sub")
      d.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(d).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head.toString
    }
    val (msF, usF) = (one("ms"), one("us"))
    assert(FooterCache.tsUnit(msF, "ts") === Some(TimeUnit.MILLIS))
    assert(FooterCache.tsUnit(usF, "ts") === Some(TimeUnit.MICROS))
    val stats = SkipStats.collect(Seq(msF, usF), Seq("ts"))
    assert(stats.size === 2)
    val bounds = stats.values.map(s =>
      (s("ts").kind, s("ts").lo.get.toLong, s("ts").hi.get.toLong)).toSet
    // identical data, different file units, ONE rendered domain
    assert(bounds === Set(('t', 86400L * 1000000L,
      86400L * 10 * 1000000L)))
  }

  test("string column: prefix-truncated bounds prune conservatively " +
      "for ranges, equality and startsWith") {
    val p = tmp("str")
    val longA = "a" * 40 // truncates: lo=floor prefix, hi=ceil prefix
    val longZ = "z" * 40
    def rows(prefix: String, n: Int) =
      (0 until n).map(i => (i.toLong, s"$prefix$i")).toDF("id", "s")
    rows(longA, 50).repartition(1).write.format("graft-v2")
      .option("path", p).option("statsColumns", "s")
      .option("changelog", "true").mode("append").save()
    rows(longZ, 50).repartition(1).write.format("graft-v2")
      .option("path", p).mode("append").save()
    val fs = fsOf(p)
    val snap = GraftManifest.current(fs, new Path(p)).get
    assert(snap.fstats.size === 2)
    assert(snap.fstats.values.forall(_("s").kind == 's'))
    // bounds are truncated to MaxStringBoundBytes (+1 for the ceil
    // carry drop)
    val dec = java.util.Base64.getUrlDecoder
    assert(snap.fstats.values.forall { st =>
      dec.decode(st("s").lo.get).length <=
        SkipStats.MaxStringBoundBytes &&
      dec.decode(st("s").hi.get).length <=
        SkipStats.MaxStringBoundBytes
    })
    val t = spark.read.format("graft-v2").load(p)
    // equality: the z-file's floor-lo ("zzz...z" 32 bytes) excludes
    // the a-strings and vice versa
    assert(plannedRows(t.filter($"s" === s"${longZ}0")) === 50L)
    assert(t.filter($"s" === s"${longZ}0").count() === 1L)
    // range: everything below "b" is the a-file only
    assert(plannedRows(t.filter($"s" < "b")) === 50L)
    assert(t.filter($"s" < "b").count() === 50L)
    // startsWith prunes through the prefix band [v, succ(v))
    assert(plannedRows(t.filter($"s".startsWith("zz"))) === 50L)
    assert(t.filter($"s".startsWith("zz")).count() === 50L)
    // a literal equal to the truncated lo prefix itself must keep
    // the file (floor bound admits it)
    assert(plannedRows(t.filter($"s" === "a" * 32)) === 50L)
    assert(t.filter($"s" === "a" * 32).count() === 0L)
  }

  test("multibyte string bounds: truncation may split a codepoint, " +
      "byte-order pruning stays exact") {
    val p = tmp("mb")
    // 3-byte CJK chars: 12 chars = 36 bytes > the 32-byte bound, so
    // the floor prefix ends mid-codepoint — sound, because bounds
    // compare as BYTES (never decoded)
    val cjk = "日本語テキスト検" +
      "索対象文"
    val lat = "a" * 40
    def rows(prefix: String, n: Int) =
      (0 until n).map(i => (i.toLong, s"$prefix$i")).toDF("id", "s")
    rows(cjk, 30).repartition(1).write.format("graft-v2")
      .option("path", p).option("statsColumns", "s")
      .option("changelog", "true").mode("append").save()
    rows(lat, 30).repartition(1).write.format("graft-v2")
      .option("path", p).mode("append").save()
    val t = spark.read.format("graft-v2").load(p)
    // ASCII probes prune the CJK file (0x61 < 0xE6...) and vice versa
    assert(plannedRows(t.filter($"s" === s"${lat}5")) === 30L)
    assert(t.filter($"s" === s"${lat}5").count() === 1L)
    assert(plannedRows(t.filter($"s" > "日")) === 30L)
    assert(t.filter($"s" > "日").count() === 30L)
    assert(plannedRows(t.filter($"s".startsWith(cjk.take(3)))) === 30L)
    assert(t.filter($"s".startsWith(cjk.take(3))).count() === 30L)
    // equality on a full CJK value keeps exactly the CJK file
    assert(plannedRows(t.filter($"s" === s"${cjk}7")) === 30L)
    assert(t.filter($"s" === s"${cjk}7").count() === 1L)
  }

  test("unit-normalization and prefix-bound primitives hold at the " +
      "edges") {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    // NANOS: floor for lo, ceil for hi
    assert(SkipStats.toMicrosFloor(1001L, TimeUnit.NANOS) === 1L)
    assert(SkipStats.toMicrosCeil(1001L, TimeUnit.NANOS) === 2L)
    assert(SkipStats.toMicrosFloor(-1001L, TimeUnit.NANOS) === -2L)
    assert(SkipStats.toMicrosCeil(-1001L, TimeUnit.NANOS) === -1L)
    assert(SkipStats.toMicrosCeil(Long.MinValue, TimeUnit.NANOS) ===
      Math.floorDiv(Long.MinValue, 1000L))
    // MILLIS overflow saturates to the WIDER bound
    assert(SkipStats.toMicrosFloor(Long.MaxValue, TimeUnit.MILLIS) ===
      Long.MinValue)
    assert(SkipStats.toMicrosCeil(Long.MaxValue, TimeUnit.MILLIS) ===
      Long.MaxValue)
    assert(SkipStats.toMicrosFloor(5L, TimeUnit.MILLIS) === 5000L)
    // prefix successor: carry over trailing 0xFF, None when all-0xFF
    assert(SkipStats.prefixSuccessor(Array[Byte](1, 2, 3)).get.toSeq
      === Seq[Byte](1, 2, 4))
    assert(SkipStats.prefixSuccessor(
      Array[Byte](1, 2, -1)).get.toSeq === Seq[Byte](1, 3))
    assert(SkipStats.prefixSuccessor(Array[Byte](-1, -1)).isEmpty)
  }
}
