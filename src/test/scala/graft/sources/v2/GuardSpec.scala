package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.roaringbitmap.RoaringBitmap

import graft.SparkTestBase

/** Dedicated coverage for the round-9 hardening guards — the subtle
  * commit-protocol invariants that would otherwise regress silently:
  * corrupt-footer mask refusal, the whole-file-DELETE vs delta-UPDATE
  * race, the widened-append reserved-name gate, `_pos` correctness
  * under `mergeSortedRuns`, and the deletion-vector sweep grace
  * window (positive case, on the injected clock). */
class GuardSpec extends SparkTestBase {

  private def tmpTable(prefix: String): String =
    tempDir(prefix).resolve("t").toString

  private def hconf = spark.sessionState.newHadoopConf()

  private def bitmap(positions: Int*): Array[Byte] = {
    val bm = new RoaringBitmap()
    positions.foreach(bm.add)
    DeleteVectors.serialize(bm)
  }

  /** One staged single-part parquet file holding `df`'s rows, outside
    * the table dir — a hand-rolled delta-commit insert message. */
  private def stageParquet(df: org.apache.spark.sql.DataFrame): String = {
    val d = tempDir("graft-staged").resolve("p").toString
    df.coalesce(1).write.parquet(d)
    new java.io.File(d).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .get.getAbsolutePath
  }

  test("delta commit refuses a mask on a file whose footer reads 0 rows") {
    import spark.implicits._
    val dir = tmpTable("graft-corrupt")
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val target = new Path(dir)
    val fs = target.getFileSystem(hconf)
    val dataFile = fs.listStatus(target).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).head
    val op = GraftDeltaOperation(dir, spark.read.parquet(dir).schema,
      RowLevelOperation.Command.UPDATE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty()) // pins readState
    // the file is replaced by a VALID-but-EMPTY parquet file under the
    // staged mask (same name — a corrupt/truncated rewrite in place);
    // the footer now reports 0 rows while the mask carries positions
    val emptyPart = stageParquet(spark.range(0).toDF("id"))
    fs.delete(new Path(target, dataFile), false)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(emptyPart), fs, new Path(target, dataFile),
      false, hconf)
    val e = intercept[IllegalStateException] {
      new GraftDeltaBatchWrite(op).commit(Array(
        GraftDeltaCommit(Nil, Map(dataFile -> bitmap(0, 1)))))
    }
    assert(e.getMessage.contains("0 rows") &&
      e.getMessage.contains("refusing"), e.getMessage)
    // nothing committed: no new manifest version beyond the pin, no
    // sidecar referenced
    val snap = GraftManifest.current(fs, target).get
    assert(snap.version == op.readState.version && snap.dvs.isEmpty,
      s"refused mask must not commit: $snap")
  }

  test("whole-file DELETE vs delta UPDATE race: clean conflict, no " +
      "row resurrection") {
    import spark.implicits._
    val dir = tmpTable("graft-dwrace")
    // two files: A = ids 0..99, B = ids 100..199
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    spark.range(100, 200).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    val target = new Path(dir)
    val fs = target.getFileSystem(hconf)
    val schema = spark.read.parquet(dir).schema
    // the delta UPDATE pins its snapshot FIRST (both files live)
    val op = GraftDeltaOperation(dir, schema,
      RowLevelOperation.Command.UPDATE)
    op.newScanBuilder(CaseInsensitiveStringMap.empty())
    // a racing DELETE removes file B WHOLE (footer stats classify it
    // fully dead — the name drops from the manifest, no vector)
    GraftDeleteV2.deleteWhere(dir, schema,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100L))
    val afterDelete = GraftManifest.current(fs, target).get
    val fileB = op.readState.names
      .filterNot(afterDelete.names.contains).head
    assert(!afterDelete.dvs.contains(fileB))
    // the UPDATE now tries to commit a vector on B plus an updated
    // copy of one of B's rows. Without the dv-target-liveness guard
    // the retry would land the insert file while the name filter
    // silently dropped B's vector — resurrecting a deleted row.
    val insert = stageParquet(Seq(150L).toDF("id"))
    intercept[java.util.ConcurrentModificationException] {
      new GraftDeltaBatchWrite(op).commit(Array(
        GraftDeltaCommit(Seq(insert), Map(fileB -> bitmap(50)))))
    }
    // B stays dead: no resurrected rows, racer's state intact
    val t = spark.read.format("graft-v2").option("path", dir).load()
    assert(t.count() == 100, "the loser's insert file must not land")
    assert(t.where($"id" >= 100).count() == 0,
      "whole-file-deleted rows must stay dead")
  }

  test("widened APPEND refuses a dropped column's reserved name") {
    import spark.implicits._
    val wh = tempDir("graft-wapp").toString
    spark.conf.set("spark.sql.catalog.gwapp",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwapp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gwapp.ns")
    spark.sql("CREATE TABLE gwapp.ns.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gwapp.ns.t SELECT id, id FROM range(0, 100)")
    spark.sql("ALTER TABLE gwapp.ns.t DROP COLUMN v")
    // a PATH-BASED widened append re-introducing the dropped name must
    // refuse exactly like ALTER ADD COLUMN does — old files still
    // physically carry `v`, and name-mapped readers could not tell the
    // new column from the dead data
    val e = intercept[UnsupportedOperationException] {
      Seq((1000L, 7L)).toDF("id", "v").write.format("graft-v2")
        .option("path", s"$wh/ns/t").mode("append").save()
    }
    assert(e.getMessage.contains("widened append") &&
      e.getMessage.contains("v"), e.getMessage)
    // the refused append left nothing behind: same rows, same schema
    assert(spark.table("gwapp.ns.t").columns.toSeq == Seq("id"))
    assert(spark.table("gwapp.ns.t").count() == 100)
    // a widened append under a FRESH name still works
    Seq((1000L, 7L)).toDF("id", "w").write.format("graft-v2")
      .option("path", s"$wh/ns/t").mode("append").save()
    assert(spark.table("gwapp.ns.t").columns.toSeq == Seq("id", "w"))
    assert(spark.table("gwapp.ns.t").count() == 101)
  }

  test("_pos ordinals stay exact under a mergeSortedRuns read") {
    import graft.sources.GraftSink
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    val wh = tempDir("graft-posmerge").toString
    spark.conf.set("spark.sql.catalog.gpos",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpos.warehouse", wh)
    // two OVERLAPPING sorted runs per bucket: the stat prover cannot
    // order them, so mergeSortedRuns is what buys the ordering back —
    // and the merge path is exactly where a lost per-file ordinal
    // channel would corrupt `_pos`
    GraftSink.saveBucketedFiles(
      spark.range(0, 1000).toDF("id").withColumn("k", $"id" % 97),
      s"$wh/t", 4, Seq("id"), sortCols = Seq("id"),
      mode = SaveMode.Overwrite)
    GraftSink.saveBucketedFiles(
      spark.range(500, 1500).toDF("id").withColumn("k", $"id" % 97),
      s"$wh/t", 4, Seq("id"), sortCols = Seq("id"),
      mode = SaveMode.Append)
    val restore = "spark.sql.sources.v2.bucketing.enabled" ->
      scala.util.Try(
        spark.conf.get("spark.sql.sources.v2.bucketing.enabled")).toOption
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val df = spark.read.option("mergeSortedRuns", "true")
        .table("gpos.t")
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("_file"),
          org.apache.spark.sql.functions.col("_pos"))
      val rows = df.collect()
      assert(rows.length == 2000)
      // per file: ordinals are exactly 0..n-1, and walking them in
      // order reproduces the file's physical row order (files are
      // written sorted by id, so ordinal order == id order)
      rows.groupBy(_.getString(1)).foreach { case (file, rs) =>
        val byPos = rs.sortBy(_.getLong(2))
        assert(byPos.map(_.getLong(2)).toSeq ==
          (0L until rs.length.toLong),
          s"$file: ordinals must be dense")
        val ids = byPos.map(_.getLong(0)).toSeq
        // ... and they match the raw file exactly
        val raw = spark.read.parquet(file).select("id")
          .collect().map(_.getLong(0)).toSeq
        assert(ids == raw, s"$file: _pos must address raw rows")
      }
    } finally restore match {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("_pos scans stay COLUMNAR: batch decode with exact ordinals, " +
      "composed under deletion vectors") {
    import spark.implicits._
    val dir = tmpTable("graft-vpos")
    spark.range(0, 5000).toDF("id").coalesce(1).write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    GraftDeleteV2.deleteWhere(dir, schema,
      org.apache.spark.sql.sources.In("id", Array(0L, 2500L)))
    val df = spark.read.format("graft-v2").option("path", dir).load()
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("_pos"))
    // the ordinal channel must NOT cost the vectorized read path: the
    // plan keeps batch decode (ColumnarToRow above the scan) — this is
    // what gives delta UPDATE/MERGE scans batch-speed candidate reads
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"_pos must ride the vectorized path:\n$plan")
    val rows = df.collect()
    assert(rows.length == 4998)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)),
      "survivors must keep exact physical ordinals under the mask")
    assert(!rows.exists(r => r.getLong(1) == 0 || r.getLong(1) == 2500))
    // nested schemas can now project _pos too (vectorized-only path)
    val ndir = tmpTable("graft-vposn")
    spark.range(0, 100).toDF("id")
      .withColumn("s", org.apache.spark.sql.functions.struct(
        $"id".as("a"), ($"id" * 2).as("b")))
      .coalesce(1).write.parquet(ndir)
    val nested = spark.read.format("graft-v2").option("path", ndir).load()
      .select($"id", $"s.b".as("b"),
        org.apache.spark.sql.functions.col("_pos"))
      .collect()
    assert(nested.length == 100)
    assert(nested.forall(r =>
      r.getLong(0) == r.getLong(2) && r.getLong(1) == 2 * r.getLong(0)),
      "nested projection with _pos must serve exact ordinals")
  }

  test("vacuum grace: a young unreferenced sidecar survives the " +
      "default window, on the injected clock") {
    import spark.implicits._
    val dir = tmpTable("graft-dvgrace")
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val target = new Path(dir)
    val fs = target.getFileSystem(hconf)
    val schema = spark.read.parquet(dir).schema
    GraftDeleteV2.deleteWhere(dir, schema,
      org.apache.spark.sql.sources.EqualTo("id", 5L)) // v1, v2 + dv
    // an UNREFERENCED young sidecar — exactly what an in-flight
    // commit's publish-before-CAS window produces
    val dvd = DeleteVectors.dvDir(target)
    val orphan = new Path(dvd, "inflight-orphan.dv")
    val bm = new RoaringBitmap(); bm.add(3)
    DeleteVectors.write(fs, orphan, bm)
    val now = System.currentTimeMillis()
    // default grace, real clock: the young orphan must SURVIVE
    GraftManifest.vacuum(fs, target, keepVersions = 1, nowMillis = now)
    assert(fs.exists(orphan),
      "a young unreferenced sidecar must survive a default-grace vacuum")
    // referenced sidecar of the kept version also survives, and reads
    // still apply it
    assert(spark.read.format("graft-v2").option("path", dir).load()
      .count() == 99)
    // the DV horizon follows the INJECTED clock (not the wall clock):
    // faking now beyond the grace sweeps the orphan with no real wait
    GraftManifest.vacuum(fs, target, keepVersions = 1,
      nowMillis = now + GraftManifest.DvSweepGraceMillis + 60000L)
    assert(!fs.exists(orphan),
      "past the grace window the unreferenced sidecar must sweep")
    val kept = GraftManifest.current(fs, target).get.dvs.values.toSet
    assert(kept.nonEmpty)
    kept.foreach(n => assert(fs.exists(new Path(dvd, n))))
    assert(spark.read.format("graft-v2").option("path", dir).load()
      .count() == 99)
  }
}
