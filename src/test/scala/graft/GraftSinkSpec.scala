package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.{GraftSink, Retry}

/** Write path: SaveMode matrix + all-or-nothing commit protocols
  * (reference ExtJdbcRelationProvider.scala:25-53, ExtJdbcUtils.scala:70-109).
  */
class GraftSinkSpec extends SparkTestBase {

  private def tmp(): String =
    tempDir("graft-sink").resolve("out").toString

  private def nation = spark.read.parquet(s"$sf001/nation.parquet")

  test("saveAtomic writes parquet readable back; Overwrite replaces") {
    val dir = tmp()
    GraftSink.saveAtomic(nation, dir, SaveMode.ErrorIfExists)
    assert(spark.read.parquet(dir).count() == 25)
    GraftSink.saveAtomic(nation.limit(5), dir, SaveMode.Overwrite)
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("SaveMode.ErrorIfExists throws; Ignore is a no-op") {
    val dir = tmp()
    GraftSink.saveAtomic(nation, dir, SaveMode.ErrorIfExists)
    intercept[AnalysisException] {
      GraftSink.saveAtomic(nation, dir, SaveMode.ErrorIfExists)
    }
    GraftSink.saveAtomic(nation.limit(1), dir, SaveMode.Ignore)
    assert(spark.read.parquet(dir).count() == 25, "Ignore must not write")
  }

  test("write.format(\"graft\") applies the SaveMode matrix") {
    val dir = tmp()
    nation.write.format("graft").option("path", dir).save()
    assert(spark.read.parquet(dir).count() == 25)
    // the default mode is ErrorIfExists: a second plain save refuses
    intercept[AnalysisException] {
      nation.write.format("graft").option("path", dir).save()
    }
    assert(spark.read.parquet(dir).count() == 25)
    nation.limit(3).write.format("graft").option("path", dir)
      .mode(SaveMode.Overwrite).save()
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("saveCompensating commits all partitions on success") {
    val dir = tmp()
    val df = nation.repartition(4)
    GraftSink.saveCompensating(df, dir)
    // parquet part files are self-describing: no schema hint on read-back
    val back = GraftSink.readCompensating(spark, dir)
    assert(back.count() == 25)
    assert(back.schema == nation.schema)
    assert(back.agg(sum(col("n_nationkey"))).head.getLong(0) ==
      nation.agg(sum(col("n_nationkey"))).head.getLong(0))
  }

  test("saveCompensating rolls back committed partitions on any failure") {
    val dir = tmp()
    val df = nation.repartition(4)
    val e = intercept[RuntimeException] {
      GraftSink.saveCompensating(df, dir, failPartition = 2)
    }
    assert(e.getMessage.contains("rolled back"))
    // compensating delete removed every committed task's file
    val remaining = new java.io.File(dir).listFiles()
    assert(remaining == null || remaining.forall(!_.getName.startsWith("part-")),
      s"files left behind: ${Option(remaining).map(_.toSeq)}")
  }

  test("saveAtomic Overwrite keeps old contents when the staged write fails") {
    val dir = tmp()
    GraftSink.saveAtomic(nation, dir, SaveMode.ErrorIfExists)
    val boom = org.apache.spark.sql.functions.udf { (i: Int) =>
      if (i >= 0) throw new RuntimeException("boom"); i
    }
    val bad = nation.withColumn("x", boom(col("n_nationkey")))
    intercept[Exception] { GraftSink.saveAtomic(bad, dir, SaveMode.Overwrite) }
    // staging-first: the failed write never touched the target
    assert(spark.read.parquet(dir).count() == 25)
  }

  test("saveAtomic Overwrite+truncate preserves the directory object") {
    val dir = tmp()
    GraftSink.saveAtomic(nation, dir, SaveMode.ErrorIfExists)
    // a non-part metadata file stands in for ACLs/ownership/markers
    Files.write(Paths.get(dir, "_graft_marker"), "keep".getBytes)
    GraftSink.saveAtomic(nation.limit(5), dir, SaveMode.Overwrite,
      truncate = true)
    assert(spark.read.parquet(dir).count() == 5)
    assert(Files.exists(Paths.get(dir, "_graft_marker")),
      "truncate-and-load must keep non-data directory contents")
    // whereas drop-and-recreate replaces the directory wholesale
    GraftSink.saveAtomic(nation.limit(7), dir, SaveMode.Overwrite)
    assert(spark.read.parquet(dir).count() == 7)
    assert(!Files.exists(Paths.get(dir, "_graft_marker")))
  }

  test("INSERT INTO / INSERT OVERWRITE through InsertableRelation") {
    val dir = tmp()
    GraftSink.saveAtomic(nation, dir, SaveMode.ErrorIfExists)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_ins " +
      s"USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO graft_ins SELECT * FROM graft_ins LIMIT 5")
      assert(spark.read.parquet(dir).count() == 30) // append semantics
      spark.sql(
        "INSERT OVERWRITE TABLE graft_ins SELECT * FROM graft_ins LIMIT 3")
      assert(spark.read.parquet(dir).count() == 3) // replace semantics
    } finally spark.catalog.dropTempView("graft_ins")
  }

  test("replaceWhere: stats-aligned predicate never rewrites a file") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    import spark.implicits._
    val dir = tempDir("graft-rw").resolve("t").toString
    // four files with exact disjoint id ranges
    (0 until 4).foreach { i =>
      spark.range(i * 1000L, (i + 1) * 1000L).toDF("id")
        .withColumn("v", col("id") * 3)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val before = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    // replace ids >= 3000 (exactly one whole file) with 10 new rows
    val repl = spark.range(3000L, 3010L).toDF("id")
      .withColumn("v", lit(-1L))
    GraftSink.replaceWhere(repl, dir, GreaterThanOrEqual("id", 3000L))
    val after = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    // the three untouched files survive with IDENTICAL names — they
    // were classified keep from footer stats and never opened
    assert((before & after).size == 3,
      s"untouched files must keep their names: $before vs $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == 3000 + 10)
    assert(back.filter(col("id") >= 3000).count() == 10)
    assert(back.filter(col("v") === -1L).count() == 10)
    // no residue: staging and backup cleaned up
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".graft-replace")))
  }

  test("replaceWhere: boundary file is rewritten, not dropped") {
    import org.apache.spark.sql.sources.GreaterThan
    import spark.implicits._
    val dir = tempDir("graft-rwb").resolve("t").toString
    (0 until 2).foreach { i =>
      spark.range(i * 1000L, (i + 1) * 1000L).toDF("id")
        .withColumn("v", col("id")).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    // id > 1500 cuts through the second file: it must be rewritten to
    // its 1000..1500 residue, while the first file stays untouched
    val repl = spark.range(9000L, 9005L).toDF("id").withColumn("v", col("id"))
    GraftSink.replaceWhere(repl, dir, GreaterThan("id", 1500L))
    val back = spark.read.parquet(dir)
    assert(back.count() == 1501 + 5)
    assert(back.filter(col("id").between(1000, 1500)).count() == 501)
    assert(back.filter(col("id") > 1500 && col("id") < 9000).count() == 0)
    assert(back.filter(col("id") >= 9000).count() == 5)
  }

  test("replaceWhere: NULL predicate rows are kept (SQL DELETE semantics)") {
    import org.apache.spark.sql.sources.GreaterThan
    import spark.implicits._
    val dir = tempDir("graft-rwn").resolve("t").toString
    Seq[(java.lang.Long, java.lang.Long)]((1L, 10L), (2L, null), (3L, 99L))
      .toDF("id", "v").coalesce(1).write.parquet(dir)
    val repl = Seq((100L, 50L)).toDF("id", "v")
    GraftSink.replaceWhere(repl, dir, GreaterThan("v", 50L))
    val back = spark.read.parquet(dir).orderBy("id")
    // v=99 deleted; v=null KEPT (cond evaluates NULL, not TRUE)
    assert(back.select("id").as[Long].collect().toSeq == Seq(1L, 2L, 100L))
  }

  test("replaceWhere: unsupported predicate fails before any mutation") {
    import spark.implicits._
    val dir = tempDir("graft-rwu").resolve("t").toString
    spark.range(0, 100).toDF("id").withColumn("v", col("id"))
      .coalesce(1).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().map(_.getName).toSet
    val repl = spark.range(0, 1).toDF("id").withColumn("v", col("id"))
    val e = intercept[IllegalArgumentException] {
      GraftSink.replaceWhere(repl, dir,
        org.apache.spark.sql.sources.EqualNullSafe("id", 5L))
    }
    assert(e.getMessage.contains("unsupported predicate"), e.getMessage)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == before,
      "failed gate must leave the target untouched")
    // schema mismatch gate
    val bad = Seq((1, "x")).toDF("a", "b")
    val e2 = intercept[IllegalArgumentException] {
      GraftSink.replaceWhere(bad, dir,
        org.apache.spark.sql.sources.GreaterThan("id", 5L))
    }
    assert(e2.getMessage.contains("schema mismatch"), e2.getMessage)
  }

  test("replaceWhere accepts a SQL predicate string") {
    import spark.implicits._
    val dir = tempDir("graft-rws").resolve("t").toString
    spark.range(0, 100).toDF("id").withColumn("v", col("id") % 10)
      .coalesce(1).write.parquet(dir)
    val repl = Seq((200L, 99L)).toDF("id", "v")
    // flipped-operand comparison and a conjunction, parsed from SQL
    GraftSink.replaceWhere(repl, dir, "50 <= id AND v IN (0, 1)")
    val back = spark.read.parquet(dir)
    // deleted: id in [50,100) with v%10 in {0,1} -> 10 rows; +1 new
    assert(back.count() == 100 - 10 + 1)
    assert(back.filter(col("id") === 200).count() == 1)
    assert(back.filter(col("id") >= 50 && col("id") < 100 &&
      col("v").isin(0, 1)).count() == 0)
    // untranslatable predicate names the fragment and mutates nothing
    val e = intercept[IllegalArgumentException] {
      GraftSink.replaceWhere(repl, dir, "id + 1 > 5")
    }
    assert(e.getMessage.contains("cannot translate"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 91)
    // LIKE translates via its anchored shapes
    val sdir = tempDir("graft-rwl").resolve("t").toString
    Seq((1L, "alpha"), (2L, "beta"), (3L, "alps"))
      .toDF("id", "s").coalesce(1).write.parquet(sdir)
    GraftSink.replaceWhere(Seq((9L, "x")).toDF("id", "s"), sdir,
      "s LIKE 'alp%'")
    assert(spark.read.parquet(sdir).select("id").as[Long].collect().sorted
      .toSeq == Seq(2L, 9L))
    // inner-wildcard patterns are rejected untranslated
    intercept[IllegalArgumentException] {
      GraftSink.replaceWhere(Seq((9L, "x")).toDF("id", "s"), sdir,
        "s LIKE 'a%b'")
    }
  }

  test("replaceWhere through the writer option") {
    import spark.implicits._
    val dir = tempDir("graft-rwo").resolve("t").toString
    spark.range(0, 100).toDF("id").withColumn("v", col("id") % 10)
      .coalesce(1).write.parquet(dir)
    Seq((500L, 7L)).toDF("id", "v").write.format("graft")
      .mode("overwrite").option("replaceWhere", "id >= 90").save(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 91)
    assert(back.filter(col("id") === 500).count() == 1)
    assert(back.filter(col("id") >= 90 && col("id") < 500).count() == 0)
    // the option scopes an overwrite; any other mode is a user error
    val e = intercept[IllegalArgumentException] {
      Seq((1L, 1L)).toDF("id", "v").write.format("graft")
        .mode("append").option("replaceWhere", "id >= 90").save(dir)
    }
    assert(e.getMessage.contains("requires SaveMode.Overwrite"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 91)
  }

  test("replaceWhere retention shape: timestamp predicate from SQL") {
    import spark.implicits._
    val dir = tempDir("graft-rwt").resolve("t").toString
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"))
    val cut = "1998-01-01 00:00:00"
    // the column is timestamp_ntz (parquet isAdjustedToUTC=false) —
    // predicate literal and replacement rows must match that type
    val dt = orders.schema("o_orderdate").dataType
    val cutCol = lit(cut).cast(dt)
    // time-clustered layout (the retention shape): one file strictly
    // before the cut, one at/after
    orders.filter(col("o_orderdate") < cutCol)
      .coalesce(1).write.parquet(dir)
    orders.filter(col("o_orderdate") >= cutCol)
      .coalesce(1).write.mode("append").parquet(dir)
    val expectKeep = orders.filter(col("o_orderdate") < cutCol).count()
    assert(expectKeep > 0 && expectKeep < orders.count(),
      "cut date must split the data for a meaningful test")
    val before = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    // re-ingest everything after the cut with a sentinel key
    val repl = Seq((-1L, cut)).toDF("o_orderkey", "d")
      .select(col("o_orderkey"), col("d").cast(dt).as("o_orderdate"))
    GraftSink.replaceWhere(repl, dir,
      s"o_orderdate >= TIMESTAMP_NTZ '$cut'")
    val after = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    // stats-aligned: the before-cut file was classified keep from its
    // footer timestamp stats and never touched
    assert((before & after).size == 1,
      s"time-clustered retention must keep the old file: $before / $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == expectKeep + 1)
    assert(back.filter(col("o_orderkey") === -1L).count() == 1)
    assert(back.filter(col("o_orderdate") >= cutCol &&
      col("o_orderkey") =!= -1L).count() == 0,
      "all rows at/after the cut must be gone")
  }

  test("compact merges small files, leaves big ones untouched") {
    import spark.implicits._
    val dir = tempDir("graft-cmp").resolve("t").toString
    // 8 tiny files + 1 larger file
    (0 until 8).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    spark.range(1000L, 6000L).toDF("id")
      .coalesce(1).write.mode("append").parquet(dir)
    def parts() = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-"))
    val big = parts().maxBy(_.length).getName
    val sum = spark.read.parquet(dir).agg(sum_distinct(col("id")))
      .head.getLong(0)
    val smallThreshold = parts().map(_.length).max // big file excluded below
    val (before, after) = GraftSink.compact(spark, dir,
      smallBytes = smallThreshold, targetBytes = Long.MaxValue)
    assert(before == 8 && after == 1, s"($before, $after)")
    val names = parts().map(_.getName)
    assert(names.length == 2, s"expected merged + big: ${names.toSeq}")
    assert(names.contains(big), "file at/above threshold must survive")
    assert(spark.read.parquet(dir).agg(sum_distinct(col("id")))
      .head.getLong(0) == sum, "compaction must preserve the data")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".graft-compact")))
    // idempotent: nothing left to merge
    assert(GraftSink.compact(spark, dir,
      smallBytes = smallThreshold, targetBytes = Long.MaxValue) == ((1, 1)))
  }

  test("retry helper: succeeds after transient failures") {
    var attempts = 0
    val v = Retry.withDeadline(sleepMs = 1, deadlineMs = 5000) {
      attempts += 1
      if (attempts < 3) throw new RuntimeException("transient")
      42
    }
    assert(v == 42 && attempts == 3)
  }

  test("retry helper: gives up after the deadline") {
    intercept[RuntimeException] {
      Retry.withDeadline(sleepMs = 5, deadlineMs = 30) {
        throw new RuntimeException("always fails")
      }
    }
  }

  test("compact WHERE: only stats-overlapping files merge; the cold " +
      "tail is untouched") {
    import spark.implicits._
    val dir = tempDir("graft-compact-where").resolve("t").toString
    // 8 range-clustered small files: ids [i*1000, (i+1)*1000)
    (0 until 8).foreach { i =>
      spark.range(i * 1000, (i + 1) * 1000).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(before.size == 8)
    // scope to the hot upper half: ids >= 4000 live in 4 files
    val (merged, written) = GraftSink.compact(spark, dir,
      where = Some("id >= 4000"))
    assert(merged == 4 && written == 1, s"($merged, $written)")
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // the 4 cold files survived BY NAME; the 4 hot ones are gone
    assert((before & after).size == 4, s"cold tail touched: $after")
    val t = spark.read.parquet(dir)
    assert(t.count() == 8000)
    assert(t.agg(sum($"id")).head.getLong(0) == (0L until 8000L).sum)
    // a predicate matching nothing is a no-op
    assert(GraftSink.compact(spark, dir,
      where = Some("id >= 999999")) == (0, 0))
  }

  test("compactClustered: z-order rewrite prunes on BOTH keys") {
    import spark.implicits._
    val dir = tempDir("graft-zorder").resolve("t").toString
    // two independent pseudo-uniform keys; 16 hash-shuffled files so
    // every file initially spans the FULL range of both — stats
    // pruning can skip nothing
    val df = spark.range(0, 200000).select(
      $"id",
      (abs(hash($"id")) % 1000).as("x"),
      (abs(hash($"id" + 999983L)) % 1000).as("y"))
    df.repartition(16).write.parquet(dir)
    def groupsFor(filter: Option[org.apache.spark.sql.Column]): Int = {
      val t = spark.read.format("graft-v2").option("path", dir).load()
      filter.map(t.filter).getOrElse(t).rdd.getNumPartitions
    }
    val totalBefore = groupsFor(None)
    // unclustered: a selective predicate on either key prunes nothing
    assert(groupsFor(Some($"x" < 50)) == totalBefore)
    assert(groupsFor(Some($"y" < 50)) == totalBefore)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (before, after) = GraftSink.compactClustered(spark, dir,
      Seq("x", "y"), targetBytes = math.max(1L, bytes / 24))
    assert(before == 16 && after >= 16, s"($before, $after)")
    // contents preserved exactly
    val t = spark.read.format("graft-v2").option("path", dir).load()
    assert(t.count() == 200000)
    assert(t.agg(sum($"id")).head.getLong(0) == (0L until 200000L).sum)
    // clustered: every file covers one z-range, so footer stats are
    // narrow on BOTH keys — selective predicates on either skip most
    // row groups
    val totalAfter = groupsFor(None)
    val px = groupsFor(Some($"x" < 50))
    val py = groupsFor(Some($"y" < 50))
    assert(px <= totalAfter / 2,
      s"x-pruning too weak: $px of $totalAfter groups")
    assert(py <= totalAfter / 2,
      s"y-pruning too weak: $py of $totalAfter groups")
    // and the pruned scans still return exactly the right rows
    assert(t.filter($"x" < 50).count() ==
      df.filter($"x" < 50).count())
    assert(t.filter($"y" < 50).count() ==
      df.filter($"y" < 50).count())
  }

  test("compactClustered(curve=hilbert): prunes on BOTH keys and " +
      "files cover tighter regions than unclustered") {
    import spark.implicits._
    val dir = tempDir("graft-hilbert").resolve("t").toString
    val df = spark.range(0, 200000).select(
      $"id",
      (abs(hash($"id")) % 1000).as("x"),
      (abs(hash($"id" + 999983L)) % 1000).as("y"))
    df.repartition(16).write.parquet(dir)
    def groupsFor(filter: Option[org.apache.spark.sql.Column]): Int = {
      val t = spark.read.format("graft-v2").option("path", dir).load()
      filter.map(t.filter).getOrElse(t).rdd.getNumPartitions
    }
    assert(groupsFor(Some($"x" < 50)) == groupsFor(None))
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (before, after) = GraftSink.compactClustered(spark, dir,
      Seq("x", "y"), targetBytes = math.max(1L, bytes / 24),
      curve = "hilbert")
    assert(before == 16 && after >= 16, s"($before, $after)")
    val t = spark.read.format("graft-v2").option("path", dir).load()
    assert(t.count() == 200000)
    assert(t.agg(sum($"id")).head.getLong(0) == (0L until 200000L).sum)
    val totalAfter = groupsFor(None)
    val px = groupsFor(Some($"x" < 50))
    val py = groupsFor(Some($"y" < 50))
    assert(px <= totalAfter / 2,
      s"x-pruning too weak: $px of $totalAfter groups")
    assert(py <= totalAfter / 2,
      s"y-pruning too weak: $py of $totalAfter groups")
    assert(t.filter($"x" < 50).count() == df.filter($"x" < 50).count())
    assert(t.filter($"y" < 50).count() == df.filter($"y" < 50).count())
    intercept[IllegalArgumentException] {
      GraftSink.compactClustered(spark, dir, Seq("x"), curve = "peano")
    }
  }

  test("compactClustered: a STRING cluster key rides the byte-prefix " +
      "lane and prunes alongside a numeric one") {
    import spark.implicits._
    val dir = tempDir("graft-zorder-str").resolve("t").toString
    // string key: pseudo-uniform 3-letter codes; numeric key
    // independent — hash-shuffled files span both ranges fully
    val df = spark.range(0, 200000).select(
      $"id",
      concat(
        lpad(conv((abs(hash($"id")) % 17576).cast("string"), 10, 26),
          3, "0"),
        lit("-suffix")).as("code"),
      (abs(hash($"id" + 999983L)) % 1000).as("y"))
    df.repartition(16).write.parquet(dir)
    def groupsFor(filter: Option[org.apache.spark.sql.Column]): Int = {
      val t = spark.read.format("graft-v2").option("path", dir).load()
      filter.map(t.filter).getOrElse(t).rdd.getNumPartitions
    }
    assert(groupsFor(Some($"code" < "1")) == groupsFor(None))
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (before, after) = GraftSink.compactClustered(spark, dir,
      Seq("code", "y"), targetBytes = math.max(1L, bytes / 24))
    assert(before == 16 && after >= 16, s"($before, $after)")
    val t = spark.read.format("graft-v2").option("path", dir).load()
    assert(t.count() == 200000)
    val totalAfter = groupsFor(None)
    val pc = groupsFor(Some($"code" < "1"))
    val py = groupsFor(Some($"y" < 50))
    assert(pc <= totalAfter / 2,
      s"string-pruning too weak: $pc of $totalAfter groups")
    assert(py <= totalAfter / 2,
      s"y-pruning too weak: $py of $totalAfter groups")
    assert(t.filter($"code" < "1").count() ==
      df.filter($"code" < "1").count())
    assert(t.filter($"y" < 50).count() == df.filter($"y" < 50).count())
  }
}
