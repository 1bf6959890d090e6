package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Materialized views: create / incremental & partial refresh /
  * full-recompute escalation / subscription bookkeeping. */
class GraftMvSpec extends SparkTestBase {

  private def fresh(tag: String): String =
    tempDir(s"graft-mv-$tag").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def writeSource(dir: String, lo: Int, hi: Int): Unit = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"g${i % 5}", i.toLong * 10))
      .toDF("id", "grp", "amt").repartition(1)
      .write.format("graft-v2").option("changelog", "true")
      .mode("append").save(dir)
  }

  test("projection MV: append-only refresh is incremental; " +
      "delete falls back to full; contents always match recompute") {
    val src = fresh("psrc"); val mv = fresh("pmv") + "/mv"
    writeSource(src, 0, 100)
    GraftMv.createProjection(spark, src, mv,
      select = Seq("id" -> "id", "amt2" -> "amt * 2"),
      where = Some("amt >= 100"))
    def expected: DataFrame = spark.read.format("graft-v2").load(src)
      .filter(col("amt") >= 100)
      .select(col("id"), (col("amt") * 2).as("amt2"))
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    // append-only source history -> incremental refresh
    writeSource(src, 100, 150)
    val r1 = GraftMv.refresh(spark, mv)
    assert(r1.mode == "incremental", r1.toString)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    // nothing new -> noop
    assert(GraftMv.refresh(spark, mv).mode == "noop")
    // a DELETE in the range forces a full recompute (stateless MV)
    val cat = "gmvp"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new Path(src).getParent.toString)
    spark.sql(s"DELETE FROM $cat.`${new Path(src).getName}` " +
      "WHERE id % 7 = 0")
    val r2 = GraftMv.refresh(spark, mv)
    assert(r2.mode == "full", r2.toString)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
  }

  test("aggregate MV: partial recompute touches only affected " +
      "groups, handles deletes/updates, vanishing groups, and any " +
      "aggregate (min/avg included)") {
    val src = fresh("asrc"); val mv = fresh("amv") + "/mv"
    writeSource(src, 0, 100)
    GraftMv.createAggregate(spark, src, mv,
      keys = Seq("grp"),
      aggs = Seq("cnt" -> "count(*)", "total" -> "sum(amt)",
        "avg_amt" -> "avg(amt)", "min_id" -> "min(id)"))
    def expected: DataFrame = spark.read.format("graft-v2").load(src)
      .groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
        sum(col("amt")).as("total"), avg(col("amt")).as("avg_amt"),
        min(col("id")).as("min_id"))
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    val cat = "gmva"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new Path(src).getParent.toString)
    val tbl = s"$cat.`${new Path(src).getName}`"
    // deletes + updates touch groups g1 and g2 only
    spark.sql(s"DELETE FROM $tbl WHERE grp = 'g1' AND id < 50")
    spark.sql(s"UPDATE $tbl SET amt = amt + 5 WHERE grp = 'g2'")
    val r1 = GraftMv.refresh(spark, mv)
    assert(r1.mode == "partial", r1.toString)
    assert(r1.affectedGroups == 2L, r1.toString)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    // min under delete is exact (partial recompute, not delta math)
    val minAfter = GraftMv.read(spark, mv)
      .filter(col("grp") === "g1").select(col("min_id")).head.getLong(0)
    assert(minAfter >= 50L, s"min_id should reflect the delete: $minAfter")
    // a group vanishing entirely disappears from the MV
    spark.sql(s"DELETE FROM $tbl WHERE grp = 'g3'")
    val r2 = GraftMv.refresh(spark, mv)
    assert(r2.mode == "partial", r2.toString)
    assert(GraftMv.read(spark, mv)
      .filter(col("grp") === "g3").count() == 0L)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    // appends maintain incrementally too (a NEW group appears)
    import spark.implicits._
    Seq((9999L, "g9", 7L)).toDF("id", "grp", "amt").repartition(1)
      .write.format("graft-v2").mode("append").save(src)
    val r3 = GraftMv.refresh(spark, mv)
    assert(r3.mode == "partial", r3.toString)
    assert(GraftMv.read(spark, mv)
      .filter(col("grp") === "g9").head.getLong(1) == 1L)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
  }

  test("aggregate MV: sum/count MVs refresh by pure additive delta " +
      "(no source scan), exactly matching recompute") {
    val src = fresh("dsrc"); val mv = fresh("dmv") + "/mv"
    writeSource(src, 0, 100)
    GraftMv.createAggregate(spark, src, mv,
      keys = Seq("grp"),
      aggs = Seq("cnt" -> "count(*)", "total" -> "sum(amt)",
        "n_amt" -> "count(amt)"))
    def expected: DataFrame = spark.read.format("graft-v2").load(src)
      .groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
        sum(col("amt")).as("total"), count(col("amt")).as("n_amt"))
    val cat = "gmvd"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new Path(src).getParent.toString)
    val tbl = s"$cat.`${new Path(src).getName}`"
    spark.sql(s"DELETE FROM $tbl WHERE grp = 'g1' AND id < 30")
    spark.sql(s"UPDATE $tbl SET amt = amt + 100 WHERE grp = 'g2'")
    val r1 = GraftMv.refresh(spark, mv)
    assert(r1.mode == "delta", r1.toString)
    assert(r1.affectedGroups == 2L, r1.toString)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    // appends ride the delta path too, including a NEW group
    import spark.implicits._
    Seq((5000L, "gX", 3L), (5001L, "gX", 4L), (5002L, "g0", 5L))
      .toDF("id", "grp", "amt").repartition(1)
      .write.format("graft-v2").mode("append").save(src)
    val r2 = GraftMv.refresh(spark, mv)
    assert(r2.mode == "delta", r2.toString)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    assert(GraftMv.read(spark, mv).filter(col("grp") === "gX")
      .select(col("total")).head.getLong(0) == 7L)
    // a group deleted to zero rows vanishes through the delta too
    spark.sql(s"DELETE FROM $tbl WHERE grp = 'gX'")
    val r3 = GraftMv.refresh(spark, mv)
    assert(r3.mode == "delta", r3.toString)
    assert(GraftMv.read(spark, mv)
      .filter(col("grp") === "gX").count() == 0L)
    assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    // a non-decomposable aggregate (min) keeps the recompute path
    val mv2 = fresh("dmv2") + "/mv"
    GraftMv.createAggregate(spark, src, mv2, Seq("grp"),
      Seq("cnt" -> "count(*)", "m" -> "min(amt)"))
    spark.sql(s"DELETE FROM $tbl WHERE grp = 'g4' AND id < 50")
    assert(GraftMv.refresh(spark, mv2).mode == "partial")
  }

  test("aggregate MV: affected-group overflow escalates to full " +
      "refresh and stays correct") {
    val src = fresh("osrc"); val mv = fresh("omv") + "/mv"
    import spark.implicits._
    (0 until 500).map(i => (i.toLong, s"k$i", i.toLong))
      .toDF("id", "grp", "amt").repartition(1)
      .write.format("graft-v2").option("changelog", "true")
      .mode("append").save(src)
    GraftMv.createAggregate(spark, src, mv, Seq("grp"),
      Seq("total" -> "sum(amt)"))
    spark.conf.set("spark.graft.mv.maxPartialGroups", "10")
    try {
      // every group is touched: 500 affected >> 10
      (500 until 1000).map(i => (i.toLong, s"k${i - 500}", 1L))
        .toDF("id", "grp", "amt").repartition(1)
        .write.format("graft-v2").mode("append").save(src)
      // append-only but aggregate path still counts groups
      val r = GraftMv.refresh(spark, mv)
      assert(r.mode == "full", r.toString)
      val expected = spark.read.format("graft-v2").load(src)
        .groupBy(col("grp")).agg(sum(col("amt")).as("total"))
      assert(sortedRows(GraftMv.read(spark, mv)) == sortedRows(expected))
    } finally spark.conf.unset("spark.graft.mv.maxPartialGroups")
  }

  test("subscription bookkeeping: the MV holds a consumer mark on " +
      "the source and drop releases it") {
    val src = fresh("csrc"); val mv = fresh("cmv") + "/mv"
    writeSource(src, 0, 50)
    GraftMv.createProjection(spark, src, mv, Seq("id" -> "id"))
    val p = new Path(src)
    val fs = p.getFileSystem(GraftHadoopConf.sessionConf())
    val marks = GraftCdf.consumerMarks(fs, p)
    assert(marks.size == 1 && marks.head._1.startsWith("mv-"),
      marks.toString)
    writeSource(src, 50, 60)
    GraftMv.refresh(spark, mv)
    val after = GraftCdf.consumerMarks(fs, p)
    assert(after.head._2 > marks.head._2,
      s"refresh should advance the mark: $marks -> $after")
    GraftMv.drop(spark, mv)
    assert(GraftCdf.consumerMarks(fs, p).isEmpty)
    assert(!fs.exists(new Path(mv)))
  }
}
