package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** Change data feed reconstruction from the manifest log: inserts
  * from appends, exact DV-diff deletes from the delta path,
  * update pre/post images, copy-on-write replay netting, maintenance
  * transparency, and the schema-evolution alignment contract. */
class CdfSpec extends SparkTestBase {

  import org.apache.spark.sql.SparkSession

  private def setup(tag: String): (String, String) = {
    val wh = tempDir(s"graft-cdf-$tag").toString
    val cat = s"graft_cdf_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (wh, cat)
  }

  private def feed(path: String, from: Long,
      to: Long = -1L): DataFrame =
    GraftCdf.tableChanges(spark, path, from, to)

  private def types(df: DataFrame): Map[String, Long] =
    df.groupBy(GraftCdf.ChangeType).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("append-only feed: initial population then incremental rows") {
    val (wh, cat) = setup("app")
    val p = s"$wh/t"
    import spark.implicits._
    (1 to 40).map(i => (i.toLong, i * 10L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p).mode("append").save()
    // opt the table into the version log: v1 = its current contents
    GraftCdf.enableChangeFeed(spark, p)
    (41 to 50).map(i => (i.toLong, i * 10L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p).mode("append").save()
    val all = feed(p, 1)
    assert(types(all) == Map("insert" -> 50L))
    val incr = feed(p, 2)
    assert(types(incr) == Map("insert" -> 10L))
    assert(incr.agg(min("id"), max("id")).as[(Long, Long)].head ==
      ((41L, 50L)))
    assert(incr.select(GraftCdf.CommitVersion).distinct()
      .as[Long].head == 2L)
    assert(spark.table(s"$cat.t").count() == 50L) // catalog sees same table
  }

  test("point DELETE through deletion vectors: exact rows, no " +
      "carried-over noise") {
    val (wh, cat) = setup("dvdel")
    val p = s"$wh/t"
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "name")
      .write.format("graft-v2").option("path", p).mode("append").save()
    spark.sql(s"DELETE FROM $cat.t WHERE id IN (7, 13, 42)")
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val snap = GraftManifest.current(fs, new Path(p)).get
    assert(snap.dvs.nonEmpty, "precondition: the DELETE used vectors")
    val ch = feed(p, snap.version, snap.version)
    assert(types(ch) == Map("delete" -> 3L))
    assert(ch.select("id").as[Long].collect().sorted.toSeq ==
      Seq(7L, 13L, 42L))
    assert(GraftManifest.opOf(fs, new Path(p), snap.version)
      .contains("delete"))
  }

  test("UPDATE emits paired pre/post images") {
    val (wh, cat) = setup("upd")
    val p = s"$wh/t"
    import spark.implicits._
    (1 to 60).map(i => (i.toLong, i * 1L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p).mode("append").save()
    spark.sql(s"UPDATE $cat.t SET v = v * 100 WHERE id <= 5")
    val ch = feed(p, 2, 2)
    assert(types(ch) ==
      Map("update_preimage" -> 5L, "update_postimage" -> 5L))
    val pre = ch.filter(col(GraftCdf.ChangeType) === "update_preimage")
    val post = ch.filter(col(GraftCdf.ChangeType) === "update_postimage")
    assert(pre.agg(sum("v")).as[Long].head == 15L)      // 1+2+3+4+5
    assert(post.agg(sum("v")).as[Long].head == 1500L)
    assert(pre.select("id").as[Long].collect().sorted.toSeq ==
      post.select("id").as[Long].collect().sorted.toSeq)
  }

  test("copy-on-write replay nets out carried rows; maintenance is " +
      "invisible; truncate-overwrite is delete+insert") {
    val (wh, cat) = setup("cow")
    val p = s"$wh/t"
    import spark.implicits._
    // struct column → nested schema → group-based COW path for DML
    (1 to 50).map(i => (i.toLong, (i * 2L, s"s$i")))
      .toDF("id", "payload")
      .write.format("graft-v2").option("path", p).mode("append").save()
    spark.sql(s"DELETE FROM $cat.t WHERE id BETWEEN 10 AND 19")
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val v2op = GraftManifest.opOf(fs, new Path(p), 2L)
    val ch2 = feed(p, 2, 2)
    // whether the delete rewrote files (COW residue) or removed them
    // whole, the feed reports exactly the 10 deleted rows
    assert(types(ch2) == Map("delete" -> 10L), s"op was $v2op")
    assert(ch2.select("id").as[Long].collect().sorted.toSeq ==
      (10L to 19L).toSeq)
    // maintenance: compaction rewrites files but changes no rows
    graft.sources.GraftSink.compact(spark, p)
    val vAfter = GraftManifest.current(fs, new Path(p)).get.version
    if (vAfter > 2L) {
      assert(GraftManifest.opOf(fs, new Path(p), vAfter)
        .contains("maintenance"))
      assert(feed(p, vAfter, vAfter).isEmpty,
        "compaction must contribute nothing to the feed")
    }
    // truncate-overwrite: all old rows out, new rows in
    Seq((1000L, (1L, "x"))).toDF("id", "payload")
      .write.format("graft-v2").option("path", p)
      .mode("overwrite").save()
    val vOw = GraftManifest.current(fs, new Path(p)).get.version
    val chOw = feed(p, vOw, vOw)
    assert(types(chOw) == Map("delete" -> 40L, "insert" -> 1L))
  }

  test("feed across schema evolution reads missing columns as NULL") {
    val (wh, cat) = setup("evo")
    val p = s"$wh/t"
    import spark.implicits._
    (1 to 10).map(i => i.toLong).toDF("id")
      .write.format("graft-v2").option("path", p).mode("append").save()
    GraftCdf.enableChangeFeed(spark, p)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (extra BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (11, 111)")
    val all = feed(p, 1)
    assert(types(all) == Map("insert" -> 11L))
    val v1rows = all.filter(col(GraftCdf.CommitVersion) === 1)
    assert(v1rows.schema.fieldNames.contains("extra"))
    assert(v1rows.filter(col("extra").isNotNull).count() == 0L,
      "pre-evolution inserts read the added column as NULL")
    assert(all.filter(col("extra") === 111L).count() == 1L)
  }

  test("CDC apply: a replica rebuilt from the change feed equals the " +
      "source, and a replayed apply converges") {
    val (wh, cat) = setup("rep")
    val p = s"$wh/src"
    import spark.implicits._
    (1 to 80).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p).mode("append").save()
    spark.sql(s"DELETE FROM $cat.src WHERE id % 9 = 0")
    spark.sql(s"UPDATE $cat.src SET v = -1 WHERE id % 11 = 0")
    spark.sql(s"INSERT INTO $cat.src VALUES (1000, 1000)")
    // replica starts empty; the feed from version 1 carries the
    // initial population + every later change
    Seq.empty[(Long, Long)].toDF("id", "v")
      .write.format("graft-v2").option("path", s"$wh/dst")
      .mode("append").save()
    val feed = GraftCdf.tableChanges(spark, p, 1)
    graft.streaming.StreamOps.applyChanges(feed, s"$cat.dst", Seq("id"))
    def state(t: String): Seq[(Long, Long)] =
      spark.table(t).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(state(s"$cat.dst") == state(s"$cat.src"),
      "the replica must equal the source after applying its feed")
    // replay the same feed: the keyed MERGE is idempotent
    graft.streaming.StreamOps.applyChanges(feed, s"$cat.dst", Seq("id"))
    assert(state(s"$cat.dst") == state(s"$cat.src"))
  }

  test("streaming CDC apply: change batches MERGE into the target " +
      "exactly-once in effect") {
    val (wh, cat) = setup("strm")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    (1 to 5).map(i => (i.toLong, 0L)).toDF("id", "v")
      .write.format("graft-v2").option("path", s"$wh/tgt")
      .mode("append").save()
    val mem = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(String, Long, Long, Long)]
    val changes = mem.toDF()
      .toDF(GraftCdf.ChangeType, GraftCdf.CommitVersion, "id", "v")
    val q = graft.streaming.StreamOps.writeChangeApplyBatches(
      changes, s"$cat.tgt", Seq("id"))
    try {
      mem.addData(
        ("insert", 2L, 6L, 60L),          // new key
        ("update_preimage", 2L, 2L, 0L),  // dropped by the apply
        ("update_postimage", 2L, 2L, 22L),
        ("delete", 2L, 4L, 0L))
      q.processAllAvailable()
      val got = spark.table(s"$cat.tgt").as[(Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 0L), (2L, 22L), (3L, 0L), (5L, 0L),
        (6L, 60L)))
    } finally q.stop()
  }

  test("streaming change feed: inserts, DV-diff deletes and pre/post " +
      "images arrive as change-row batches; maintenance is silent") {
    val (wh, cat) = setup("sfeed")
    val p = s"$wh/t"
    import spark.implicits._
    // large enough that the point DML masks stay under the
    // dv.maxFraction escalation threshold (escalation = a rewrite,
    // which the stream deliberately refuses)
    (1 to 500).map(i => (i.toLong, i * 1L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    val sink = s"cdf_sink_${System.nanoTime()}"
    val q = spark.readStream.format("graft-v2").option("path", p)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def byType: Map[String, Long] =
        spark.table(sink).groupBy(GraftCdf.ChangeType).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("insert" -> 500L), "initial population")
      // delta DELETE → DV-diff partitions emit exactly the deleted rows
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (3, 14, 15)")
      q.processAllAvailable()
      assert(byType == Map("insert" -> 500L, "delete" -> 3L))
      assert(spark.table(sink)
        .filter(col(GraftCdf.ChangeType) === "delete")
        .select("id").as[Long].collect().sorted.toSeq ==
        Seq(3L, 14L, 15L))
      // delta UPDATE → preimage via DV diff, postimage via insert file
      spark.sql(s"UPDATE $cat.t SET v = v * 10 WHERE id IN (1, 2)")
      q.processAllAvailable()
      val afterUpdate = byType
      assert(afterUpdate("update_preimage") == 2L &&
        afterUpdate("update_postimage") == 2L)
      assert(spark.table(sink)
        .filter(col(GraftCdf.ChangeType) === "update_postimage")
        .agg(sum("v")).as[Long].head == 30L)
      // a second DELETE on an ALREADY-MASKED file must emit only the
      // NEW positions (bitmap difference, not the whole mask)
      spark.sql(s"DELETE FROM $cat.t WHERE id = 16")
      q.processAllAvailable()
      assert(byType("delete") == 4L)
      // maintenance (DV materialization + compaction) rewrites files
      // but changes no rows: the stream stays silent
      val before = spark.table(sink).count()
      GraftDeleteV2.materializeDeleteVectors(p)
      graft.sources.GraftSink.compact(spark, p)
      q.processAllAvailable()
      assert(spark.table(sink).count() == before,
        "maintenance commits must contribute nothing to the feed")
    } finally q.stop()
  }

  test("streaming change feed: a copy-on-write rewrite fail-stops " +
      "with batch-reconstruction guidance; startingVersion skips " +
      "history") {
    val (wh, cat) = setup("sfail")
    val p = s"$wh/t"
    import spark.implicits._
    // nested payload → DML takes the COW path (file rewrites)
    (1 to 30).map(i => (i.toLong, (i * 2L, s"s$i"))).toDF("id", "payload")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    spark.sql(s"DELETE FROM $cat.t WHERE id BETWEEN 5 AND 9")
    val sink = s"cdf_fail_${System.nanoTime()}"
    val q = spark.readStream.format("graft-v2").option("path", p)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert(err.toString.contains("not scan-expressible") ||
      rootMsg(err).contains("not scan-expressible"))
    // startingVersion past the rewrite: the stream tails cleanly
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val cur = GraftManifest.current(fs,
      new org.apache.hadoop.fs.Path(p)).get.version
    val sink2 = s"cdf_skip_${System.nanoTime()}"
    val q2 = spark.readStream.format("graft-v2").option("path", p)
      .option("readChangeFeed", "true")
      .option("startingVersion", (cur + 1).toString).load()
      .writeStream.format("memory").queryName(sink2)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(sink2).isEmpty)
      // append with the table's own resolved schema (nullability and
      // all) so the gate compares identical shapes
      val tSchema = spark.table(s"$cat.t").schema
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(100L,
          org.apache.spark.sql.Row(1L, "x"))), tSchema)
        .write.format("graft-v2").option("path", p)
        .mode("append").save()
      q2.processAllAvailable()
      assert(spark.table(sink2).count() == 1L)
      assert(spark.table(sink2).select(GraftCdf.ChangeType)
        .head.getString(0) == "insert")
    } finally q2.stop()
  }

  test("version range selection and the retention error surface") {
    val (wh, _) = setup("rng")
    val p = s"$wh/t"
    import spark.implicits._
    // `changelog=true` on the FIRST append starts the log there:
    // v1 = the (empty) pre-append state, v2 = this append's rows
    (1 to 5).map(_.toLong).toDF("id")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    (6 to 9).map(_.toLong).toDF("id")
      .write.format("graft-v2").option("path", p).mode("append").save()
    assert(feed(p, 1, 1).isEmpty) // the empty pre-append state
    assert(types(feed(p, 2, 2)) == Map("insert" -> 5L))
    assert(feed(p, 3).count() == 4L)
    assert(feed(p, 4).isEmpty) // beyond the log: empty, not an error
    // vacuum outrunning the consumer: a range below the oldest
    // retained version (or a step whose predecessor is gone) fails
    // loudly instead of silently re-emitting a version as inserts
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (10 to 12).map(_.toLong).toDF("id")
      .write.format("graft-v2").option("path", p).mode("append").save()
    GraftManifest.vacuum(fs, new org.apache.hadoop.fs.Path(p),
      keepVersions = 2)
    val retained = GraftManifest.versions(fs,
      new org.apache.hadoop.fs.Path(p))
    assert(retained.size == 2)
    val e1 = intercept[IllegalStateException] { feed(p, 1) }
    assert(e1.getMessage.contains("vacuum"))
    // the restart point the error names must actually WORK: the
    // oldest retained version itself has no retained predecessor, so
    // the feed begins one past it
    val feedStart = retained.min + 1
    assert(e1.getMessage.contains(s"begins at version $feedStart"))
    val eMin = intercept[IllegalStateException] {
      feed(p, retained.min, retained.min)
    }
    assert(eMin.getMessage.contains(s"begins at version $feedStart"),
      "the oldest retained version has no diff base — same diagnosis")
    // the newest retained version still reconstructs (its
    // predecessor is the other retained version)
    assert(types(feed(p, retained.max, retained.max)) ==
      Map("insert" -> 3L))
    val bare = s"$wh/never-mutated"
    (1 to 3).map(_.toLong).toDF("id").write.parquet(bare)
    val err = intercept[IllegalArgumentException] {
      feed(bare, 1)
    }
    assert(err.getMessage.contains("no manifests"))
  }

  test("streaming change feed with cowFallback=batch drains a " +
      "copy-on-write rewrite and matches the batch feed") {
    val (wh, cat) = setup("sdrain")
    val p = s"$wh/t"
    import spark.implicits._
    // nested payload → DML takes the COW path (file rewrites)
    (1 to 30).map(i => (i.toLong, (i * 2L, s"s$i"))).toDF("id", "payload")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    spark.sql(s"DELETE FROM $cat.t WHERE id BETWEEN 5 AND 9")   // COW
    // append with the table's own resolved schema (nullability and
    // all) so the gate compares identical shapes
    val tSchema = spark.table(s"$cat.t").schema
    spark.createDataFrame(
      java.util.List.copyOf((31 to 35).map(i =>
        org.apache.spark.sql.Row(i.toLong,
          org.apache.spark.sql.Row(i * 2L, s"s$i"))).asJava),
      tSchema)
      .write.format("graft-v2").option("path", p)
      .mode("append").save()                                     // append
    val sink = s"cdf_drain_${System.nanoTime()}"
    val q = spark.readStream.format("graft-v2").option("path", p)
      .option("readChangeFeed", "true")
      .option("cowFallback", "batch").load()
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def byType: Map[String, Long] =
        spark.table(sink).groupBy(GraftCdf.ChangeType).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the stream's total feed equals the batch reconstruction's
      val batchTypes = types(feed(p, 1))
      assert(byType == batchTypes,
        s"stream $byType must equal batch $batchTypes")
      assert(byType == Map("insert" -> 35L, "delete" -> 5L))
      assert(spark.table(sink)
        .filter(col(GraftCdf.ChangeType) === "delete")
        .select("id").as[Long].collect().sorted.toSeq ==
        (5L to 9L).toSeq)
      // per-row equality on the drained version: same ids, versions
      val sv = spark.table(sink)
        .select("id", GraftCdf.ChangeType, GraftCdf.CommitVersion)
        .as[(Long, String, Long)].collect().sorted.toSeq
      val bv = feed(p, 1)
        .select("id", GraftCdf.ChangeType, GraftCdf.CommitVersion)
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(sv == bv)
      // a LATER rewrite drains too — the stream keeps going across
      // repeated COW versions (nested payload → every DELETE rewrites)
      spark.sql(s"DELETE FROM $cat.t WHERE id = 20")
      q.processAllAvailable()
      assert(byType("delete") == 6L)
      // the later batch's planning sweeps spills of already-committed
      // batches (the first rewrite's spill is gone; only the newest
      // batch's spill may still await its commit callback)
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val drain = new org.apache.hadoop.fs.Path(p, ".graft-cdf-drain")
      val spills =
        if (!fs.exists(drain)) Seq.empty
        else fs.listStatus(drain).toSeq.map(_.getPath.getName)
      assert(!spills.contains("v0000000003"),
        s"committed drain spills must be swept, got $spills")
    } finally q.stop()
  }

  test("feed plan shape: 64 append versions coalesce into O(1) scans " +
      "and non-groupable steps union as a balanced tree") {
    val (wh, cat) = setup("shape")
    val p = s"$wh/t"
    import spark.implicits._
    def planDepth(df: DataFrame): Int = {
      def d(n: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
        1 + (if (n.children.isEmpty) 0
             else n.children.map(c =>
               d(c.asInstanceOf[org.apache.spark.sql.catalyst.trees
                 .TreeNode[_]])).max)
      d(df.queryExecution.logical)
    }
    // 64 consecutive appends (v1 = empty pre-state, v2..v65)
    (1 to 1).map(_.toLong).toDF("id")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    (2 to 64).foreach { k =>
      Seq(k.toLong).toDF("id")
        .write.format("graft-v2").option("path", p)
        .mode("append").save()
    }
    val all = feed(p, 1)
    // one grouped scan serves the whole append run: depth stays far
    // below one-node-per-version (a linear fold built 64+ levels)
    val dAll = planDepth(all)
    assert(dAll < 20, s"expected a coalesced plan, got depth $dAll")
    assert(types(all) == Map("insert" -> 64L))
    // per-version stamps survive the grouping
    assert(all.select(GraftCdf.CommitVersion).distinct().count() == 64L)
    assert(all.filter(col(GraftCdf.CommitVersion) === 30)
      .select("id").as[Long].head == 29L)
    assert(all.filter(col(GraftCdf.CommitTimestamp).isNull).count()
      == 0L)
    // non-groupable steps (DV deletes) interleaved with appends:
    // pieces union as a balanced tree — depth grows ~log, not ~n
    (1 to 8).foreach { k =>
      spark.sql(s"DELETE FROM $cat.t WHERE id = ${k * 3}")
      Seq((1000 + k).toLong).toDF("id")
        .write.format("graft-v2").option("path", p)
        .mode("append").save()
    }
    val mixed = feed(p, 1)
    val dMixed = planDepth(mixed)
    assert(dMixed < 40,
      s"expected a balanced union over mixed steps, got depth $dMixed")
    assert(types(mixed) ==
      Map("insert" -> 72L, "delete" -> 8L))
    assert(mixed.filter(col(GraftCdf.ChangeType) === "delete")
      .select("id").as[Long].collect().sorted.toSeq ==
      (1 to 8).map(_ * 3L))
  }

  test("retention coupling: vacuum refuses to cut below a registered " +
      "consumer's mark; the override re-opens the fail-loud hole") {
    val (wh, _) = setup("retc")
    val p = s"$wh/t"
    val tp = new org.apache.hadoop.fs.Path(p)
    import spark.implicits._
    // 6 versions: v1 pre-state, v2..v6 appends of 10 rows each
    (1 to 10).map(_.toLong).toDF("id")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    (1 to 4).foreach { k =>
      (k * 10 + 1 to k * 10 + 10).map(_.toLong).toDF("id")
        .write.format("graft-v2").option("path", p)
        .mode("append").save()
    }
    val fs = tp.getFileSystem(spark.sessionState.newHadoopConf())
    assert(GraftManifest.versions(fs, tp) == (1L to 6L))
    // a consumer applied through version 3: its next read (from 4)
    // needs version 3 as the diff base — vacuum must keep 3..6
    GraftCdf.registerConsumer(spark, p, "replica-a", 3L)
    GraftManifest.vacuum(fs, tp, keepVersions = 2)
    assert(GraftManifest.versions(fs, tp) == (3L to 6L),
      "vacuum must not cut below the registered consumer's mark")
    assert(types(feed(p, 4)) == Map("insert" -> 30L),
      "the held window serves the consumer's next read exactly")
    // marks only advance: a replayed older mark cannot regress
    GraftCdf.advanceConsumer(fs, tp, "replica-a", 2L)
    assert(GraftCdf.consumerMarks(fs, tp) == Map("replica-a" -> 3L))
    // min_feed_versions floors the count independently of consumers
    GraftCdf.advanceConsumer(fs, tp, "replica-a", 5L)
    GraftManifest.vacuum(fs, tp, keepVersions = 1, minFeedVersions = 3)
    assert(GraftManifest.versions(fs, tp) == (4L to 6L),
      "the feed-count floor holds versions the keep count would drop")
    // operator override: the floor is ignored, and the outrun
    // consumer's next read hits the fail-loud retention error
    GraftCdf.advanceConsumer(fs, tp, "replica-a", 4L)
    GraftManifest.vacuum(fs, tp, keepVersions = 1,
      respectFeedConsumers = false)
    val kept = GraftManifest.versions(fs, tp)
    assert(kept == Seq(6L))
    val e = intercept[IllegalStateException] { feed(p, 5) }
    assert(e.getMessage.contains("begins at version 7"))
    // unregistering releases the floor
    GraftCdf.registerConsumer(spark, p, "replica-b", 1L)
    GraftCdf.unregisterConsumer(spark, p, "replica-b")
    assert(!GraftCdf.consumerMarks(fs, tp).contains("replica-b"))
  }

  test("streaming CDC apply with a named subscription advances the " +
      "source's consumer mark") {
    val (wh, cat) = setup("mark")
    val src = s"$wh/src"
    val sp = new org.apache.hadoop.fs.Path(src)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    // the source table whose feed window the mark protects
    (1 to 20).map(i => (i.toLong, 0L)).toDF("id", "v")
      .write.format("graft-v2").option("path", src)
      .option("changelog", "true").mode("append").save()
    (1 to 3).map(i => (i.toLong, 0L)).toDF("id", "v")
      .write.format("graft-v2").option("path", s"$wh/tgt")
      .mode("append").save()
    val fs = sp.getFileSystem(spark.sessionState.newHadoopConf())
    val mem = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(String, Long, Long, Long)]
    val changes = mem.toDF()
      .toDF(GraftCdf.ChangeType, GraftCdf.CommitVersion, "id", "v")
    val q = graft.streaming.StreamOps.writeChangeApplyBatches(
      changes, s"$cat.tgt", Seq("id"),
      sourcePath = Some(src), consumerId = Some("tgt-sync"))
    try {
      // subscribing alone registers the mark (floor from version 0)
      assert(GraftCdf.consumerMarks(fs, sp).get("tgt-sync")
        .contains(0L))
      mem.addData(("insert", 2L, 100L, 1L), ("delete", 2L, 1L, 0L))
      q.processAllAvailable()
      assert(GraftCdf.consumerMarks(fs, sp).get("tgt-sync")
        .contains(2L),
        "an applied batch advances the mark to its max version")
    } finally q.stop()
  }

  test("maxVersionsPerTrigger caps a feed catch-up to one version " +
      "per micro-batch") {
    val (wh, _) = setup("adm")
    val p = s"$wh/t"
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, i * 1L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    (1 to 3).foreach { k =>
      (1 to 20).map(i => ((k * 1000 + i).toLong, i * 1L))
        .toDF("id", "v").write.format("graft-v2").option("path", p)
        .mode("append").save()
    }
    // 4 versions of backlog before the stream starts
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ckpt = tempDir("graft-cdf-adm-ck").toString
    val q = spark.readStream.format("graft-v2").option("path", p)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => { batches.add((id, df.count())); () }
      }.start()
    try q.processAllAvailable() finally q.stop()
    val sizes = batches.asScala.toSeq.sortBy(_._1).map(_._2)
      .filter(_ > 0)
    assert(sizes.sum == 160, s"feed rows lost: $sizes")
    assert(sizes.toSeq == Seq(100L, 20L, 20L, 20L),
      s"each version must arrive as its own batch: $sizes")
  }

  test("Trigger.AvailableNow drains the feed backlog and stops; the " +
      "next run delivers only newer versions") {
    val (wh, _) = setup("anow")
    val p = s"$wh/t"
    import spark.implicits._
    (1 to 50).map(i => (i.toLong, i * 1L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p)
      .option("changelog", "true").mode("append").save()
    (1 to 2).foreach { k =>
      (1 to 10).map(i => ((k * 1000 + i).toLong, i * 1L))
        .toDF("id", "v").write.format("graft-v2").option("path", p)
        .mode("append").save()
    }
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ckpt = tempDir("graft-cdf-anow-ck").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-v2").option("path", p)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) => { batches.add((id, df.count())); () }
        }.start()
      assert(q.awaitTermination(120000),
        "AvailableNow feed query did not self-terminate")
    }
    runOnce()
    val first = batches.asScala.toSeq.sortBy(_._1).map(_._2)
      .filter(_ > 0)
    assert(first.toSeq == Seq(50L, 10L, 10L),
      s"backlog must drain version-by-version then stop: $first")

    // a commit after the first run is exactly the second run's feed
    batches.clear()
    (1 to 5).map(i => ((9000 + i).toLong, i * 1L)).toDF("id", "v")
      .write.format("graft-v2").option("path", p).mode("append").save()
    runOnce()
    val second = batches.asScala.toSeq.map(_._2).filter(_ > 0)
    assert(second.toSeq == Seq(5L),
      s"second run should deliver only the new version: $second")
  }
}
