package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming sink through the CATALOG surface: `.toTable` routing and
  * CHECK-constraint enforcement on the streaming write path (the
  * analyzer's `ResolveTableConstraints` never sees `WriteToStream`,
  * so the sink carries its own guard — [[graft.sources.v2
  * .GraftCheckGuard]]).
  */
class StreamCatalogSpec extends SparkTestBase {
  import spark.implicits._

  private def withCatalog[A](f: String => A): A = {
    val wh = tempDir("graft-streamcat-wh").toString
    spark.conf.set("spark.sql.catalog.gsc", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsc.s")
    try f(wh) finally spark.sql("DROP NAMESPACE IF EXISTS gsc.s CASCADE")
  }

  test("writeStream.toTable appends through the catalog; a CHECK " +
      "violation fails the epoch before anything commits") {
    implicit val sqlCtx = spark.sqlContext
    withCatalog { _ =>
      spark.sql("CREATE TABLE gsc.s.t (id BIGINT) USING `graft-v2`")
      spark.sql(
        "ALTER TABLE gsc.s.t ADD CONSTRAINT id_pos CHECK (id > 0)")
      val cp = tempDir("graft-streamcat-cp").toString
      val input = MemoryStream[Long]
      val q = input.toDF().toDF("id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .toTable("gsc.s.t")
      try {
        input.addData(1L, 2L, 3L)
        q.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM gsc.s.t")
          .head.getLong(0) === 3)
        // a violating row fails its epoch...
        input.addData(4L, -5L)
        val e = intercept[Exception] { q.processAllAvailable() }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(m => m.contains("id_pos")),
          s"expected CHECK name in: ${msgs(e)}")
      } finally q.stop()
      // ...and NOTHING from the failed epoch landed (not even row 4)
      val got = spark.sql("SELECT id FROM gsc.s.t ORDER BY id")
        .as[Long].collect().toSeq
      assert(got === Seq(1L, 2L, 3L))
    }
  }

  test("auto-compact: small batch appends collapse once the file " +
      "count crosses the threshold; rows and history survive") {
    val dir = tempDir("graft-autocompact").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      graft.sources.v2.GraftHadoopConf.sessionConf())
    def dataFiles: Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(dir)).count(st =>
      st.isFile && graft.sources.GraftSink.isDataPart(st.getPath.getName))
    try {
      spark.conf.set("spark.graft.autoCompact.minFiles", "4")
      (1 to 5).foreach { i =>
        Seq((i.toLong, s"v$i")).toDF("id", "v")
          .write.format("graft-v2").mode("append").save(dir)
      }
      assert(dataFiles < 5, s"expected compaction, got $dataFiles files")
      val got = spark.read.format("graft-v2").option("path", dir).load()
      assert(got.count() === 5)
      assert(got.agg(sum($"id")).head.getLong(0) === 15L)
    } finally spark.conf.set("spark.graft.autoCompact.minFiles", "0")
    // default off: more tiny appends accumulate files again
    val before = dataFiles
    (6 to 8).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .write.format("graft-v2").mode("append").save(dir)
    }
    assert(dataFiles === before + 3)
  }

  test("auto-compact keeps a streaming table's file count bounded") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-autocompact-stream").toString
    val cp = tempDir("graft-autocompact-stream-cp").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      graft.sources.v2.GraftHadoopConf.sessionConf())
    try {
      spark.conf.set("spark.graft.autoCompact.minFiles", "3")
      val input = MemoryStream[Long]
      val q = input.toDF().toDF("id")
        .writeStream.option("checkpointLocation", cp)
        .format("graft-v2").option("path", dir).start()
      try {
        (1 to 5).foreach { i =>
          input.addData(i.toLong)
          q.processAllAvailable()
        }
      } finally q.stop()
      val files = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir)).count(st =>
        st.isFile &&
          graft.sources.GraftSink.isDataPart(st.getPath.getName))
      assert(files < 5, s"expected bounded file count, got $files")
      val got = spark.read.format("graft-v2").option("path", dir).load()
      assert(got.agg(sum($"id")).head.getLong(0) === 15L)
    } finally spark.conf.set("spark.graft.autoCompact.minFiles", "0")
  }

  test("streaming sink computes generated columns per epoch") {
    implicit val sqlCtx = spark.sqlContext
    withCatalog { _ =>
      spark.sql("CREATE TABLE gsc.s.g (a BIGINT, b BIGINT, " +
        "c BIGINT GENERATED ALWAYS AS (a * 2 + b)) USING `graft-v2`")
      val cp = tempDir("graft-streamcat-gen").toString
      val input = MemoryStream[(Long, Long)]
      // the stream ships the NULL placeholder; the sink's gen guard
      // fills it per row before the epoch commits
      val q = input.toDS().toDF("a", "b")
        .withColumn("c", lit(null).cast("bigint"))
        .writeStream.option("checkpointLocation", cp).toTable("gsc.s.g")
      try {
        input.addData((1L, 2L), (3L, 4L))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.sql("SELECT c FROM gsc.s.g ORDER BY a")
        .collect().map(_.getLong(0)).toSeq == Seq(4L, 10L))
    }
  }

  test("streaming sink without constraints: toTable appends and " +
      "restarts resume exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    withCatalog { _ =>
      spark.sql("CREATE TABLE gsc.s.u (id BIGINT) USING `graft-v2`")
      val cp = tempDir("graft-streamcat-cp2").toString
      val input = MemoryStream[Long]
      val q1 = input.toDF().toDF("id")
        .writeStream.option("checkpointLocation", cp).toTable("gsc.s.u")
      try {
        input.addData(1L to 5L: _*)
        q1.processAllAvailable()
      } finally q1.stop()
      // restart from the same checkpoint: already-committed epochs
      // are not re-appended, new data flows
      val q2 = input.toDF().toDF("id")
        .writeStream.option("checkpointLocation", cp).toTable("gsc.s.u")
      try {
        input.addData(6L, 7L)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(spark.sql("SELECT sum(id) FROM gsc.s.u").head.getLong(0)
        === (1L to 7L).sum)
    }
  }
}
