package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.PartitionLayout

/** Hidden partitioning ([[graft.sources.PartitionLayout]]):
  * value-clustered flat files with name-embedded digests, pruned at
  * the LISTING level for equality/IN/IS NULL predicates — graft's
  * Hive-layout answer over its name-keyed table invariants. */
class PartitioningSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-hp-$tag").resolve("t").toString

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def parts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("partitioned write: every data file holds one partition value, " +
      "names carry its digests, equality scans prune to the value's " +
      "files with no footer dependence") {
    val p = tmp("basic")
    val df = (1 to 400).map(i =>
      (i.toLong, s"g${i % 5}", java.sql.Date.valueOf(
        s"2026-01-0${i % 3 + 1}"), s"payload $i"))
      .toDF("id", "grp", "dt", "payload")
    df.write.format("graft-v2").option("path", p)
      .option("partitionedBy", "grp,dt").mode("append").save()

    // the marker landed and appends inherit it WITHOUT the option
    val fs = fsOf(p)
    assert(PartitionLayout.read(fs, new Path(p))
      === Some(PartitionLayout(Seq("grp", "dt"))))
    df.withColumn("id", $"id" + 1000)
      .write.format("graft-v2").option("path", p).mode("append").save()

    // every data file is token-named, and its rows hold EXACTLY the
    // value combination the tokens digest
    val dataFiles = fs.listStatus(new Path(p)).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(dataFiles.nonEmpty)
    val lay = PartitionLayout(Seq("grp", "dt"))
    assert(dataFiles.forall(PartitionLayout.fileTokens(_, lay).isDefined),
      s"un-tokenized data file among ${dataFiles.take(3).mkString(",")}")
    val byFile = spark.read.format("graft-v2").option("path", p).load()
      .select(col("grp"), col("dt"), col("_file"))
      .distinct().collect()
      .groupBy(r => new Path(r.getString(2)).getName)
    byFile.foreach { case (name, rows) =>
      assert(rows.length === 1, s"$name mixes partition values")
      val toks = PartitionLayout.fileTokens(name, lay).get
      assert(toks(0) === PartitionLayout.token(rows.head.getString(0)))
      assert(toks(1) === PartitionLayout.token(
        rows.head.getDate(1).toLocalDate.toEpochDay.toInt.toString))
    }

    // pruning: a (grp, dt) equality scan plans only that value's
    // files; results are exact
    val t = spark.read.format("graft-v2").option("path", p).load()
    val one = t.filter($"grp" === "g2" && $"dt" ===
      java.sql.Date.valueOf("2026-01-03"))
    assert(parts(one) < parts(t),
      s"not pruned: ${parts(one)} of ${parts(t)}")
    val expect = df.union(df.withColumn("id", $"id" + 1000))
      .filter($"grp" === "g2" && $"dt" ===
        java.sql.Date.valueOf("2026-01-03"))
      .select($"id").as[Long].collect().sorted.toSeq
    assert(one.select($"id").as[Long].collect().sorted.toSeq === expect)

    // IN-list prunes to the union of the named values' files
    val in2 = t.filter($"grp".isin("g1", "g3"))
    assert(parts(in2) < parts(t) && parts(in2) > parts(one))
    assert(in2.count() ===
      2 * df.filter($"grp".isin("g1", "g3")).count())
  }

  test("conservative by construction: un-tokenized files survive " +
      "every prune, conflicting redeclaration and unsupported types " +
      "refuse, bucketed+partitioned refuses") {
    val p = tmp("legacy")
    val df = (1 to 100).map(i => (i.toLong, s"g${i % 4}"))
      .toDF("id", "grp")
    // legacy: files land BEFORE the layout exists
    df.write.format("graft-v2").option("path", p).mode("append").save()
    // declaring the layout over them is allowed; new files tokenize
    df.withColumn("id", $"id" + 100)
      .write.format("graft-v2").option("path", p)
      .option("partitionedBy", "grp").mode("append").save()
    val t = spark.read.format("graft-v2").option("path", p).load()
    // both halves fully readable under a partition filter (legacy
    // files can't be pruned, so every g1 row from both writes appears)
    assert(t.filter($"grp" === "g1").count() ===
      2 * df.filter($"grp" === "g1").count())

    // conflicting redeclaration refuses
    val e1 = intercept[Exception] {
      df.write.format("graft-v2").option("path", p)
        .option("partitionedBy", "id").mode("append").save()
    }
    assert(e1.getMessage.contains("laid out as"), e1.getMessage)

    // unsupported partition column type refuses up front
    val e2 = intercept[Exception] {
      Seq((1.5, "x")).toDF("score", "v")
        .write.format("graft-v2").option("path", tmp("dbl"))
        .option("partitionedBy", "score").mode("append").save()
    }
    assert(e2.getMessage.contains("canonical"), e2.getMessage)

    // a bucketed table refuses a partitionedBy declaration
    val pb = tmp("bkt")
    graft.sources.GraftSink.saveBucketedFiles(
      df, pb, numBuckets = 4, bucketCols = Seq("id"))
    val e3 = intercept[Exception] {
      df.write.format("graft-v2").option("path", pb)
        .option("partitionedBy", "grp").mode("append").save()
    }
    assert(e3.getMessage.contains("bucketed"), e3.getMessage)
  }

  test("null partition values tokenize as the null token: IS NULL " +
      "prunes to them, equality prunes them away") {
    val p = tmp("nulls")
    val rows = (1 to 60).map(i =>
      (i.toLong, if (i % 3 == 0) null else s"g${i % 2}"))
    rows.toDF("id", "grp")
      .write.format("graft-v2").option("path", p)
      .option("partitionedBy", "grp").mode("append").save()
    val t = spark.read.format("graft-v2").option("path", p).load()
    val nullScan = t.filter($"grp".isNull)
    assert(parts(nullScan) < parts(t))
    assert(nullScan.count() === rows.count(_._2 == null))
    val eqScan = t.filter($"grp" === "g1")
    assert(eqScan.count() === rows.count(_._2 == "g1"))
    assert(parts(eqScan) < parts(t))
  }

  test("SQL PARTITIONED BY creates the layout through the catalog; " +
      "INSERT tokenizes; DELETE and time travel work on partitioned " +
      "tables; partition-column RENAME/DROP refuse") {
    val wh = tempDir("graft-hp-cat").toString
    val cat = "graft_hp"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp STRING, v BIGINT) " +
      "PARTITIONED BY (grp)")
    val fs = fsOf(s"$wh/t")
    assert(PartitionLayout.read(fs, new Path(s"$wh/t"))
      === Some(PartitionLayout(Seq("grp"))))
    spark.sql(s"INSERT INTO $cat.t " +
      "SELECT id, concat('g', cast(id % 3 AS STRING)), id * 10 " +
      "FROM range(90)")
    val names = fs.listStatus(new Path(s"$wh/t"))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(names.nonEmpty && names.forall(
      PartitionLayout.fileTokens(_,
        PartitionLayout(Seq("grp"))).isDefined))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE grp = 'g1'")
      .head().getLong(0) === 30L)

    // DML on the partitioned table stays exact (DV/delta or COW path)
    spark.sql(s"DELETE FROM $cat.t WHERE id < 9 AND grp = 'g0'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE grp = 'g0'")
      .head().getLong(0) === 27L)
    // time travel still serves the pre-delete rows
    val v1 = spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .head().getLong(0)
    assert(v1 === 90L)

    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN grp TO grp2")
    }
    assert(e1.getMessage.contains("hidden-partitioning"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN grp")
    }
    assert(e2.getMessage.contains("hidden-partitioning"), e2.getMessage)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("runtime (DPP-style) IN sets prune partition files after " +
      "planning; token round-trip covers every supported type") {
    // token/canonical agreement between internal and external
    // renderings, per supported type
    import org.apache.spark.sql.types._
    val d = java.sql.Date.valueOf("2026-02-03")
    val days = d.toLocalDate.toEpochDay.toInt
    assert(PartitionLayout.canonicalExternal(d, DateType)
      === Some(days.toString))
    assert(PartitionLayout.canonicalInternal(days, DateType)
      === days.toString)
    val ts = java.sql.Timestamp.valueOf("2026-02-03 04:05:06.789")
    val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(ts)
    assert(PartitionLayout.canonicalExternal(ts, TimestampType)
      === Some(micros.toString))
    assert(PartitionLayout.canonicalExternal(7L, LongType) === Some("7"))
    assert(PartitionLayout.canonicalExternal(
      java.lang.Boolean.TRUE, BooleanType) === Some("true"))
    assert(PartitionLayout.canonicalExternal(1.5, StringType) === None)

    // filters → allowed token sets: conjuncts intersect per column
    import org.apache.spark.sql.sources.{EqualTo, In, IsNull}
    val pl = PartitionLayout(Seq("a", "b"))
    val types = Map("a" -> StringType.asInstanceOf[DataType],
      "b" -> LongType.asInstanceOf[DataType])
    val allowed = PartitionLayout.allowedTokens(pl, types, Seq(
      In("a", Array("x", "y")), EqualTo("a", "x"), IsNull("b")))
    assert(allowed(0) === Set(PartitionLayout.token("x")))
    assert(allowed(1) === Set(PartitionLayout.NullToken))
    // matching: tokenized names honor constraints, others never prune
    val okName = s"part-00000-ab12cd34-0-1." +
      PartitionLayout.nameFragment(pl, Seq(PartitionLayout.token("x"),
        PartitionLayout.NullToken)) + ".c000.snappy.parquet"
    val otherName = s"part-00000-ab12cd34-0-1." +
      PartitionLayout.nameFragment(pl, Seq(PartitionLayout.token("y"),
        PartitionLayout.NullToken)) + ".c000.snappy.parquet"
    assert(PartitionLayout.mayMatch(okName, pl, allowed))
    assert(!PartitionLayout.mayMatch(otherName, pl, allowed))
    assert(PartitionLayout.mayMatch(
      "part-00000-ab12cd34-0-1.c000.snappy.parquet", pl, allowed))
    // tokens written under a DIFFERENT layout never prune (the
    // leading layout digest gates the parse)
    val other = PartitionLayout(Seq("a"))
    val oldName = s"part-00000-ab12cd34-0-1." +
      PartitionLayout.nameFragment(other,
        Seq(PartitionLayout.token("y"))) + ".c000.snappy.parquet"
    assert(PartitionLayout.fileTokens(oldName, pl).isEmpty)
    assert(PartitionLayout.mayMatch(oldName, pl, allowed))
  }

  test("partition-layout evolution: repartitionLayout=true rewrites " +
      "the marker; superseded-layout files stop pruning but stay " +
      "correct; new files prune under the new layout") {
    val p = tmp("evolve")
    val df = (1 to 200).map(i => (i.toLong, s"g${i % 4}"))
      .toDF("id", "grp")
    df.write.format("graft-v2").option("path", p)
      .option("partitionedBy", "grp").mode("append").save()
    // evolve grp -> id (a silly layout, but exercises the mechanics)
    df.withColumn("id", $"id" + 200)
      .write.format("graft-v2").option("path", p)
      .option("partitionedBy", "id")
      .option("repartitionLayout", "true").mode("append").save()
    val fs = fsOf(p)
    assert(PartitionLayout.read(fs, new Path(p))
      === Some(PartitionLayout(Seq("id"))))
    val t = spark.read.format("graft-v2").option("path", p).load()
    // correctness across both layout generations
    assert(t.filter($"grp" === "g1").count() ===
      2 * df.filter($"grp" === "g1").count())
    assert(t.filter($"id" === 250L).count() === 1)
    // new-layout point scan prunes below the full partition count
    assert(parts(t.filter($"id" === 250L)) < parts(t))
    // appends WITHOUT the flag now inherit the NEW layout
    df.withColumn("id", $"id" + 400)
      .write.format("graft-v2").option("path", p).mode("append").save()
    assert(PartitionLayout.read(fs, new Path(p))
      === Some(PartitionLayout(Seq("id"))))
    assert(t.count() === 3L * df.count())
  }
}
