package graft

import org.apache.spark.sql.functions._

/** The SQL face of the V2 source through the directory-backed
  * `GraftCatalog`: CREATE / INSERT / SELECT / REPLACE WHERE / RENAME /
  * DROP, with REPLACE WHERE exercising the footer-stats predicate
  * overwrite end-to-end (Spark can only route `OverwriteByExpression`
  * to a catalog table). */
class CatalogSpec extends SparkTestBase {

  private lazy val warehouse = {
    val dir = tempDir("graft-catalog").toString
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", dir)
    dir
  }

  test("CREATE / INSERT / SELECT round-trips through the catalog") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    spark.sql("CREATE TABLE graft.ns.t (id BIGINT, v BIGINT)")
    // empty table keeps its schema from the marker
    assert(spark.table("graft.ns.t").schema.fieldNames.toSeq ==
      Seq("id", "v"))
    assert(spark.table("graft.ns.t").count() == 0)
    spark.sql(
      "INSERT INTO graft.ns.t SELECT id, id * 3 AS v FROM range(0, 1000)")
    assert(spark.table("graft.ns.t").count() == 1000)
    assert(spark.sql("SELECT sum(v) FROM graft.ns.t").head.getLong(0) ==
      (0L until 1000L).map(_ * 3).sum)
    // the scan is the graft-v2 source, not a fallback
    assert(spark.table("graft.ns.t").queryExecution.executedPlan.toString
      .contains("GraftScanV2"))
    assert(spark.sql("SHOW TABLES IN graft.ns").collect()
      .map(_.getString(1)).contains("t"))
  }

  test("CREATE TABLE CLUSTERED BY: SQL-first bucketed tables") {
    import graft.sources.BucketLayout
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bk")
    spark.sql("CREATE TABLE graft.bk.t (id BIGINT, v BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    spark.sql("CREATE TABLE graft.bk.u (id BIGINT, w BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    // the marker exists from CREATE, before any data
    val tdir = new java.io.File(s"$warehouse/bk/t")
    assert(new java.io.File(tdir, BucketLayout.MarkerName).exists())
    spark.sql("INSERT INTO graft.bk.t SELECT id, id * 3 FROM range(0, 5000)")
    spark.sql("INSERT INTO graft.bk.u SELECT id, id * 7 FROM range(0, 5000)")
    // every data file carries a valid bucket suffix and only its rows
    val files = tdir.listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val b = BucketLayout.bucketIdOf(f)
      assert(b.exists(_ < 4), s"bad bucket suffix on $f")
      val wrong = spark.read.parquet(s"$tdir/$f")
        .filter(pmod(hash(col("id")), lit(4)) =!= b.get).count()
      assert(wrong == 0, s"file $f holds rows of another bucket")
    }
    assert(spark.table("graft.bk.t").count() == 5000)
    // a second INSERT appends, layout intact
    spark.sql("INSERT INTO graft.bk.t SELECT id, id FROM range(5000, 6000)")
    assert(spark.table("graft.bk.t").count() == 6000)
    // SQL-created bucketed tables join storage-partitioned
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        "SELECT t.id, t.v, u.w FROM graft.bk.t t JOIN graft.bk.u u " +
        "ON t.id = u.id")
      assert(joined.collect().length == 5000)
      assert(!joined.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "SQL bucketed tables must join storage-partitioned")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // INSERT OVERWRITE truncates but keeps the layout
    spark.sql("INSERT OVERWRITE graft.bk.t SELECT id, id FROM range(0, 100)")
    assert(spark.table("graft.bk.t").count() == 100)
    assert(new java.io.File(tdir, BucketLayout.MarkerName).exists())
    assert(tdir.listFiles().map(_.getName).filter(_.startsWith("part-"))
      .forall(f => BucketLayout.bucketIdOf(f).exists(_ < 4)))
    // REPLACE WHERE on a bucketed table is refused (unsuffixed residue)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft.bk.t REPLACE WHERE id >= 50 " +
        "SELECT id, -1 FROM range(50, 60)")
    }
    assert(e.getMessage.contains("REPLACE WHERE is not supported") ||
      Option(e.getCause).exists(
        _.getMessage.contains("REPLACE WHERE is not supported")),
      s"unexpected: $e")
    // unsupported partition transforms are rejected at CREATE
    intercept[UnsupportedOperationException] {
      spark.sql("CREATE TABLE graft.bk.bad (id BIGINT, d DATE) " +
        "PARTITIONED BY (days(d))")
    }
  }

  test("INSERT REPLACE WHERE routes the predicate overwrite") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rw")
    spark.sql("CREATE TABLE graft.rw.t (id BIGINT, v BIGINT)")
    // four separate inserts -> four part files with disjoint id ranges
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.rw.t SELECT id, id AS v " +
        s"FROM range(${i * 1000}, ${(i + 1) * 1000})")
    }
    val dir = new java.io.File(s"$warehouse/rw/t")
    val before = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    assert(before.size >= 4)
    // replace the top range: stats-aligned -> whole-file delete, the
    // other files keep their identical names (never opened)
    spark.sql("INSERT INTO graft.rw.t REPLACE WHERE id >= 3000 " +
      "SELECT id, -1 AS v FROM range(3000, 3010)")
    val after = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    assert((before & after).size >= 3,
      s"stats-aligned replace must not touch other files: $before vs $after")
    val t = spark.table("graft.rw.t")
    assert(t.count() == 3000 + 10)
    assert(t.filter(col("id") >= 3000).count() == 10)
    assert(t.filter(col("v") === -1L).count() == 10)
    // boundary replace: cuts through a file -> residue rewrite
    spark.sql("INSERT INTO graft.rw.t REPLACE WHERE id > 1500 AND id < 3000 " +
      "SELECT id, -2 AS v FROM range(2000, 2005)")
    val t2 = spark.table("graft.rw.t")
    assert(t2.filter(col("id").between(1000, 1500)).count() == 501)
    assert(t2.filter(col("v") === -2L).count() == 5)
    assert(t2.filter(col("id") > 1500 && col("id") < 3000).count() == 5)
    assert(t2.count() == 1501 + 5 + 10)
    // no staging/backup residue in the table directory
    assert(!dir.listFiles().exists(_.getName.startsWith(".graft-v2-")))
  }

  test("streaming read tails a catalog table across INSERTs") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.st")
    spark.sql("CREATE TABLE graft.st.t (id BIGINT)")
    spark.sql("INSERT INTO graft.st.t SELECT id FROM range(0, 40)")
    val ckpt = tempDir("graft-cat-stream").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.table("graft.st.t")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => df.collect().foreach(r => got.add(r.getLong(0)))
      }.start()
    try {
      q.processAllAvailable()
      assert(got.size == 40)
      spark.sql("INSERT INTO graft.st.t SELECT id FROM range(40, 70)")
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.size == 70, "stream must pick up the inserted files")
      assert(got.asScala.toSet == (0L until 70L).toSet)
    } finally q.stop()
  }

  test("RENAME and DROP manage the directory layout") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.adm")
    spark.sql("CREATE TABLE graft.adm.a (id BIGINT)")
    spark.sql("INSERT INTO graft.adm.a SELECT id FROM range(0, 5)")
    spark.sql("ALTER TABLE graft.adm.a RENAME TO adm.b")
    assert(spark.table("graft.adm.b").count() == 5)
    intercept[Exception] { spark.table("graft.adm.a").count() }
    spark.sql("DROP TABLE graft.adm.b")
    assert(!new java.io.File(s"$warehouse/adm/b").exists())
  }

  test("DELETE FROM: whole-file metadata deletes + boundary rewrite") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.t (id BIGINT, v BIGINT)")
    // four inserts -> four part files with disjoint id ranges
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.del.t SELECT id, id AS v " +
        s"FROM range(${i * 1000}, ${(i + 1) * 1000})")
    }
    val dir = new java.io.File(s"$warehouse/del/t")
    def parts() = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    val before = parts()
    assert(before.size >= 4)
    // stats-aligned: file [3000,4000) provably all-matching -> dropped
    // whole; the boundary file [1000,2000) is rewritten; files fully
    // outside the range keep their identical names (never opened)
    spark.sql("DELETE FROM graft.del.t WHERE id >= 1500")
    val after = parts()
    // at least the [0,1000) insert's files provably precede the range
    // and must keep their identical names (file count per insert
    // depends on the core count, so assert existence, not a number)
    assert((before & after).nonEmpty,
      s"kept files must not be touched: $before vs $after")
    assert(spark.table("graft.del.t").count() == 1500)
    assert(spark.sql("SELECT max(id) FROM graft.del.t").head.getLong(0)
      == 1499L)
    // no staging/backup residue in the table directory
    assert(!dir.listFiles().exists(_.getName.startsWith(".graft-v2-")))
    // DELETE matching nothing is a no-op that touches no file
    val stable = parts()
    spark.sql("DELETE FROM graft.del.t WHERE id >= 100000")
    assert(parts() == stable)
  }

  test("DELETE keeps NULL-valued rows (three-valued semantics)") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.nulls (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.del.nulls " +
      "SELECT id, IF(id % 3 = 0, NULL, id) AS v FROM range(0, 90)")
    // v < 30 is UNKNOWN for the 30 null rows -> they must survive
    spark.sql("DELETE FROM graft.del.nulls WHERE v < 30")
    val t = spark.table("graft.del.nulls")
    assert(t.filter(col("v").isNull).count() == 30,
      "NULL rows must survive a DELETE whose predicate is UNKNOWN")
    assert(t.count() == 30 + 40) // nulls + v in [30, 89] non-null
  }

  test("DELETE on a bucketed table preserves the layout") {
    import graft.sources.BucketLayout
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.bt (id BIGINT, v BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    spark.sql("INSERT INTO graft.del.bt SELECT id, id FROM range(0, 4000)")
    val dir = new java.io.File(s"$warehouse/del/bt")
    // the hash scatters every id range across all buckets, so this is
    // a boundary rewrite of every file — each must keep its suffix
    spark.sql("DELETE FROM graft.del.bt WHERE id >= 1000")
    assert(spark.table("graft.del.bt").count() == 1000)
    val files = dir.listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val b = BucketLayout.bucketIdOf(f)
      assert(b.exists(_ < 4), s"rewritten file $f lost its bucket suffix")
      val wrong = spark.read.parquet(s"$dir/$f")
        .filter(pmod(hash(col("id")), lit(4)) =!= b.get).count()
      assert(wrong == 0, s"rewritten file $f holds rows of another bucket")
    }
    // the layout marker survives, so reads still plan bucketed
    assert(new java.io.File(dir, BucketLayout.MarkerName).exists())
  }

  test("TRUNCATE TABLE empties but keeps schema and layout") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.tr (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.del.tr SELECT id, id FROM range(0, 100)")
    spark.sql("TRUNCATE TABLE graft.del.tr")
    assert(spark.table("graft.del.tr").count() == 0)
    assert(spark.table("graft.del.tr").schema.fieldNames.toSeq ==
      Seq("id", "v"))
    // the emptied table accepts new inserts
    spark.sql("INSERT INTO graft.del.tr SELECT id, id FROM range(0, 7)")
    assert(spark.table("graft.del.tr").count() == 7)
  }

  test("DELETE emptying the table keeps it loadable") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.all (id BIGINT)")
    spark.sql("INSERT INTO graft.del.all SELECT id FROM range(0, 50)")
    spark.sql("DELETE FROM graft.del.all WHERE id >= 0")
    assert(spark.table("graft.del.all").count() == 0)
    assert(spark.table("graft.del.all").schema.fieldNames.toSeq ==
      Seq("id"))
  }

  test("DELETE with untranslatable predicate routes to the delta path " +
      "(position deletes)") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.rej (id BIGINT, s STRING)")
    // ~1% scattered matches: every touched file keeps most of its rows
    spark.sql("INSERT INTO graft.del.rej " +
      "SELECT id, IF(id % 97 = 0, 'xx', 'y') FROM range(0, 1000)")
    val dir = s"$warehouse/del/rej"
    val before = dataParts(dir)
    // length(s) is not translatable to a source filter — the metadata
    // path declines; for a flat unbucketed table the rewrite is a
    // DELTA operation: the matching rows' positions land in vectors,
    // no data file is rewritten
    spark.sql("DELETE FROM graft.del.rej WHERE length(s) > 1")
    assert(spark.table("graft.del.rej").count() == 989)
    assert(spark.table("graft.del.rej")
      .filter(col("s") === "xx").count() == 0)
    assert(dataParts(dir) == before,
      "the delta DELETE must not rewrite data files")
    assert(graft.sources.v2.GraftManifest.current(manifestFs,
      new org.apache.hadoop.fs.Path(dir)).get.dvs.nonEmpty,
      "expected the deleted positions in vectors")
  }

  test("UPDATE rewrites only the affected files") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.up")
    spark.sql("CREATE TABLE graft.up.t (id BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.up.t SELECT id, id AS v " +
        s"FROM range(${i * 1000}, ${(i + 1) * 1000})")
    }
    val dir = new java.io.File(s"$warehouse/up/t")
    def parts() = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    val before = parts()
    assert(before.size >= 4)
    // condition touches only the [0,1000) file: the other three files
    // must keep their identical names (copy-on-write at file
    // granularity, footer-stats group pruning)
    spark.sql("UPDATE graft.up.t SET v = v + 1000000 WHERE id < 500")
    val after = parts()
    assert((before & after).size >= 3,
      s"unaffected files must not be rewritten: $before vs $after")
    val t = spark.table("graft.up.t")
    assert(t.count() == 4000, "UPDATE must not change the row count")
    assert(t.filter(col("v") >= 1000000).count() == 500)
    // the copy half survives: rows of the rewritten file that did not
    // match keep their values
    assert(t.filter(col("id").between(500, 999) &&
      col("v") === col("id")).count() == 500)
    assert(!dir.listFiles().exists(_.getName.startsWith(".graft-v2-")))
  }

  test("UPDATE on a bucketed table preserves the layout") {
    import graft.sources.BucketLayout
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.up")
    spark.sql("CREATE TABLE graft.up.bt (id BIGINT, v BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    spark.sql("INSERT INTO graft.up.bt SELECT id, id FROM range(0, 4000)")
    spark.sql("UPDATE graft.up.bt SET v = -1 WHERE id < 2000")
    val t = spark.table("graft.up.bt")
    assert(t.count() == 4000)
    assert(t.filter(col("v") === -1L).count() == 2000)
    val dir = new java.io.File(s"$warehouse/up/bt")
    val files = dir.listFiles().map(_.getName).filter(_.startsWith("part-"))
    files.foreach { f =>
      val b = BucketLayout.bucketIdOf(f)
      assert(b.exists(_ < 4), s"rewritten file $f lost its bucket suffix")
      val wrong = spark.read.parquet(s"$dir/$f")
        .filter(pmod(hash(col("id")), lit(4)) =!= b.get).count()
      assert(wrong == 0, s"rewritten file $f holds rows of another bucket")
    }
    assert(new java.io.File(dir, BucketLayout.MarkerName).exists())
  }

  test("point UPDATE on a bucketed table is DELTA: vector + suffixed " +
      "insert file, zero rewrites, SPJ intact") {
    import graft.sources.BucketLayout
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.up")
    spark.sql("CREATE TABLE graft.up.bd (id BIGINT, v BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    spark.sql("CREATE TABLE graft.up.be (id BIGINT, w BIGINT) " +
      "CLUSTERED BY (id) INTO 4 BUCKETS")
    spark.sql("INSERT INTO graft.up.bd SELECT id, id FROM range(0, 4000)")
    spark.sql("INSERT INTO graft.up.be SELECT id, id * 7 FROM range(0, 4000)")
    val dir = s"$warehouse/up/bd"
    val before = dataParts(dir)
    spark.sql("UPDATE graft.up.bd SET v = -5 WHERE id = 17")
    val after = dataParts(dir)
    // every pre-existing file untouched; the insert file(s) carry the
    // row's bucket suffix
    assert(before.subsetOf(after),
      s"bucketed point UPDATE must not rewrite files:\n$before\nvs\n$after")
    val fresh = after -- before
    assert(fresh.nonEmpty, "expected a delta insert file")
    val expectBucket = BucketLayout.valueBucket(17L, 4).get
    fresh.foreach { f =>
      assert(BucketLayout.bucketIdOf(f).contains(expectBucket),
        s"delta insert file $f must carry bucket $expectBucket")
    }
    // the old position is masked, not rewritten
    val snap = GraftManifest.current(manifestFs,
      new org.apache.hadoop.fs.Path(dir)).get
    assert(snap.dvs.nonEmpty,
      "bucketed delta UPDATE must mask the old row's position")
    val t = spark.table("graft.up.bd")
    assert(t.count() == 4000)
    assert(t.where(col("id") === 17).head.getLong(1) == -5L)
    // the storage-partitioned join survives the delta commit: both
    // sides still co-located, no exchange
    val restore = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql(
        "SELECT t.id, t.v, u.w FROM graft.up.bd t JOIN graft.up.be u " +
        "ON t.id = u.id")
      assert(joined.count() == 4000)
      assert(joined.where(col("id") === 17).head.getLong(1) == -5L)
      assert(!joined.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "SPJ must stay exchange-free after a bucketed delta UPDATE")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("MERGE INTO: matched update + not-matched insert") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mg")
    spark.sql("CREATE TABLE graft.mg.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.mg.t SELECT id, id FROM range(0, 100)")
    spark.sql(
      """MERGE INTO graft.mg.t t
        |USING (SELECT id, id * 10 AS nv FROM range(90, 120)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
        |""".stripMargin)
    val t = spark.table("graft.mg.t")
    assert(t.count() == 120)
    // matched rows [90,100) updated to id*10
    assert(t.filter(col("id").between(90, 99) &&
      col("v") === col("id") * 10).count() == 10)
    // unmatched target rows untouched
    assert(t.filter(col("id") < 90 && col("v") === col("id"))
      .count() == 90)
    // source-only rows inserted
    assert(t.filter(col("id").between(100, 119) &&
      col("v") === col("id") * 10).count() == 20)
    // MERGE deleting matched rows works too
    spark.sql(
      """MERGE INTO graft.mg.t t
        |USING (SELECT id FROM range(0, 10)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN DELETE
        |""".stripMargin)
    assert(spark.table("graft.mg.t").count() == 110)
  }

  test("DELETE on a bucketed nested-column table routes to copy-on-write") {
    import graft.sources.BucketLayout
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.bn (id BIGINT, tags ARRAY<BIGINT>) " +
      "CLUSTERED BY (id) INTO 2 BUCKETS")
    spark.sql("INSERT INTO graft.del.bn " +
      "SELECT id, array(id, id * 2) FROM range(0, 1000)")
    // the metadata path must DECLINE (flat rewriter can't copy nested,
    // DataFrame fallback would break the layout) and the group-based
    // copy-on-write path must run instead, preserving both
    spark.sql("DELETE FROM graft.del.bn WHERE id >= 600")
    val t = spark.table("graft.del.bn")
    assert(t.count() == 600)
    assert(t.selectExpr("sum(tags[1])").head.getLong(0) ==
      (0L until 600L).map(_ * 2).sum)
    val dir = new java.io.File(s"$warehouse/del/bn")
    dir.listFiles().map(_.getName).filter(_.startsWith("part-"))
      .foreach { f =>
        assert(BucketLayout.bucketIdOf(f).exists(_ < 2),
          s"copy-on-write delete lost the bucket suffix on $f")
      }
    assert(new java.io.File(dir, BucketLayout.MarkerName).exists())
  }

  test("row-level ops reject a table whose data shadows _file") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.sf (id BIGINT, _file STRING)")
    spark.sql("INSERT INTO graft.del.sf SELECT id, 'x' FROM range(0, 5)")
    // reads resolve _file to the DATA column (metadata col shadowed)
    assert(spark.sql("SELECT _file FROM graft.del.sf").head.getString(0)
      == "x")
    val e = intercept[Exception] {
      spark.sql("UPDATE graft.del.sf SET _file = 'y' WHERE id = 0")
    }
    assert(e.getMessage.contains("shadow"), e.getMessage)
    assert(spark.table("graft.del.sf").count() == 5)
  }

  test("_file metadata column serves provenance in both read modes") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mc")
    spark.sql("CREATE TABLE graft.mc.t (id BIGINT)")
    spark.sql("INSERT INTO graft.mc.t SELECT id FROM range(0, 10)")
    spark.sql("INSERT INTO graft.mc.t SELECT id FROM range(10, 20)")
    val dir = new java.io.File(s"$warehouse/mc/t")
    val onDisk = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    // vectorized (default) path through the catalog
    val served = spark.sql("SELECT DISTINCT _file FROM graft.mc.t")
      .collect().map(r => new java.io.File(r.getString(0)).getName).toSet
    assert(served == onDisk, s"_file must name the real files: " +
      s"$served vs $onDisk")
    // every row carries its own file; per-file counts cover all rows
    val perFile = spark.sql(
      "SELECT count(*) FROM graft.mc.t GROUP BY _file")
      .collect().map(_.getLong(0))
    assert(perFile.length == onDisk.size && perFile.sum == 20)
    // row-mode path (path-based read, vectorized off)
    val row = spark.read.format("graft-v2")
      .option("path", dir.toString).option("vectorized", "false").load()
      .select(col("_file"), col("id"))
    assert(row.count() == 20)
    assert(row.select("_file").distinct().collect().length == onDisk.size)
    // _file never appears in SELECT *
    assert(!spark.table("graft.mc.t").schema.fieldNames.contains("_file"))
  }

  test("schema merge: a marker-declared nullable column resolves " +
      "nullable even when the sampled footer spells it required") {
    // the footer sample is ONE file — after ALTER ADD + an INSERT of
    // non-null literals, the insert file's footer declares the added
    // column REQUIRED; if that file sorts first, a footer-wins merge
    // would resolve the column non-nullable, breaking scans of
    // pre-evolution files (missing required column) and letting the
    // optimizer constant-fold IsNotNull on rows that are in fact NULL
    import org.apache.spark.sql.types._
    val footer = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("extra", LongType, nullable = false)))
    val marker = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("extra", LongType, nullable = true)))
    val merged = graft.sources.v2.GraftCatalog
      .mergeFooterAndMarker(Some(footer), Some(marker)).get
    assert(merged("extra").nullable,
      "marker nullability must win when more permissive")
    assert(!merged("id").nullable,
      "agreeing non-nullable fields stay non-nullable")
  }

  test("ANALYZE: one-pass column stats persist and surface through " +
      "the scan's reported statistics") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stats")
    spark.sql("CREATE TABLE graft.stats.t (id BIGINT, v BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.stats.t SELECT id, id % 10, " +
      "CASE WHEN id < 30 THEN NULL ELSE CAST(id AS STRING) END " +
      "FROM range(0, 100)")
    val res = spark.sql(
      "CALL graft.system.analyze(table => 'stats.t')").collect()
    assert(res.length == 1 && res(0).getLong(0) == 100L &&
      res(0).getInt(1) == 3)
    val scan = spark.table("graft.stats.t").queryExecution.optimizedPlan
      .collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.head
    val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics].estimateStatistics()
    assert(stats.numRows().getAsLong == 100L)
    val byName = {
      import scala.jdk.CollectionConverters._
      stats.columnStats().asScala.map { case (k, v) =>
        k.fieldNames().mkString(".") -> v }.toMap
    }
    // 10 distinct small values: the HLL estimate is exact here
    assert(byName("v").distinctCount().getAsLong == 10L,
      s"v ndv = ${byName("v").distinctCount()}")
    assert(byName("s").nullCount().getAsLong == 30L)
    assert(byName("id").nullCount().getAsLong == 0L)
    // string lengths for CBO row-size estimation ('30'..'99' → 2)
    assert(byName("s").avgLen().getAsLong == 2L)
    assert(byName("s").maxLen().getAsLong == 2L)
    assert(!byName("id").avgLen().isPresent,
      "numeric widths are implied by the type, not measured")
    // stats are advisory and survive later commits; numRows stays
    // footer-exact while the column stats age until the next analyze
    spark.sql("INSERT INTO graft.stats.t VALUES (1000, 1000, 'x')")
    val scan2 = spark.table("graft.stats.t").queryExecution.optimizedPlan
      .collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.head
    val stats2 = scan2.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics].estimateStatistics()
    assert(stats2.numRows().getAsLong == 101L)
    assert(!stats2.columnStats().isEmpty)
  }

  test("CHECK constraints: enforced on INSERT/UPDATE, validated on " +
      "ADD, dropped on DROP; column DDL refuses while referenced") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ck")
    spark.sql("CREATE TABLE graft.ck.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.ck.t VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT v_pos CHECK (v > 0)")
    // violating INSERT refused before any row lands
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO graft.ck.t VALUES (3, -5)")
    }
    assert(e1.getMessage.toLowerCase.contains("check") ||
      e1.getMessage.contains("v_pos"), e1.getMessage)
    assert(spark.table("graft.ck.t").count() == 2L)
    // conforming INSERT lands; NULL passes (CHECK semantics)
    spark.sql("INSERT INTO graft.ck.t VALUES (3, 30), (4, NULL)")
    assert(spark.table("graft.ck.t").count() == 4L)
    // violating UPDATE refused through the row-level path too
    val e2 = intercept[Exception] {
      spark.sql("UPDATE graft.ck.t SET v = -1 WHERE id = 1")
    }
    assert(e2.getMessage.toLowerCase.contains("check") ||
      e2.getMessage.contains("v_pos"), e2.getMessage)
    assert(spark.sql("SELECT v FROM graft.ck.t WHERE id = 1")
      .head.getLong(0) == 10L)
    // ADD CONSTRAINT validates standing data and refuses
    spark.sql("INSERT INTO graft.ck.t VALUES (5, 500)")
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT v_small " +
        "CHECK (v < 100)")
    }
    // the engine validates standing data itself (the catalog keeps
    // its own limit(1) probe for programmatic alterTable callers)
    assert(e3.getMessage.contains("violated by existing rows") ||
      e3.getMessage.contains("NEW_CHECK_CONSTRAINT_VIOLATION"),
      e3.getMessage)
    // DDL on a referenced column refuses with the constraint named
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ck.t DROP COLUMN v")
    }
    assert(e4.getMessage.contains("v_pos"), e4.getMessage)
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ck.t RENAME COLUMN v TO amount")
    }
    assert(e5.getMessage.contains("v_pos"), e5.getMessage)
    // DROP CONSTRAINT lifts enforcement
    spark.sql("ALTER TABLE graft.ck.t DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO graft.ck.t VALUES (6, -6)")
    assert(spark.table("graft.ck.t").count() == 6L)
    val e6 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ck.t DROP CONSTRAINT nope")
    }
    assert(e6.getMessage.contains("no constraint") ||
      e6.getMessage.toLowerCase.contains("nope"), e6.getMessage)
  }

  test("ANALYZE histograms: equi-height bins persist, reach the " +
      "scan's reported stats, and feed catalyst ColumnStat") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hg")
    spark.sql("CREATE TABLE graft.hg.t (id BIGINT, v BIGINT, s STRING)")
    // skew: v concentrates near 0 so equi-height bins are NOT
    // equi-width — the thing histograms exist to capture
    spark.sql("INSERT INTO graft.hg.t SELECT id, " +
      "CAST(pow(id, 2) / 100 AS BIGINT), CAST(id AS STRING) " +
      "FROM range(0, 1000)")
    val res = spark.sql("CALL graft.system.analyze(table => 'hg.t', " +
      "histogram_bins => 8)").collect()
    assert(res(0).getLong(0) == 1000L && res(0).getBoolean(3))
    // sidecar round-trip
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/hg/t")
    val ts = graft.sources.v2.GraftStats.read(
      dir.getFileSystem(
        graft.sources.v2.GraftHadoopConf.sessionConf()), dir).get
    val vh = ts.cols("v").hist.get
    assert(vh.bins.length == 8)
    assert(math.abs(vh.height - 125.0) < 1.0, vh.toString)
    // equi-height over x^2/100: the first bins must be much narrower
    // than the last
    val first = vh.bins.head.hi - vh.bins.head.lo
    val last = vh.bins.last.hi - vh.bins.last.lo
    assert(last > first * 3, s"expected skewed widths: $vh")
    assert(vh.bins.forall(b => b.lo <= b.hi && b.ndv >= 0))
    // strings carry no histogram
    assert(ts.cols("s").hist.isEmpty)
    // the scan reports it through V2 ColumnStatistics...
    val scan = spark.table("graft.hg.t").queryExecution.optimizedPlan
      .collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.head
    val cstats = scan.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics].estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val vStat = cstats.asScala.collectFirst {
      case (k, v) if k.fieldNames().sameElements(Array("v")) => v
    }.get
    assert(vStat.histogram().isPresent)
    assert(vStat.histogram().get().bins().length == 8)
    // ...and transformV2Stats lands it in catalyst ColumnStat
    val attrStats = spark.table("graft.hg.t").queryExecution
      .optimizedPlan.stats.attributeStats
    val vAttr = attrStats.toSeq.collectFirst {
      case (a, st) if a.name == "v" => st
    }.get
    assert(vAttr.histogram.isDefined)
    assert(vAttr.histogram.get.bins.length == 8)
  }

  test("ANALYZE histograms: CBO range-selectivity estimates track " +
      "the real distribution instead of uniform [min,max]") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cbo")
    spark.sql("CREATE TABLE graft.cbo.t (id BIGINT, v BIGINT)")
    // v = id^2/1000 over 10k rows: v <= 100 selects 317 rows (~3.2%),
    // but v spans [0, ~99856] so the uniform assumption estimates
    // ~0.1% (about 10 rows) — a 30x underestimate the histogram fixes
    spark.sql("INSERT INTO graft.cbo.t SELECT id, " +
      "CAST(id * id / 1000 AS BIGINT) FROM range(0, 10000)")
    val trueCount = spark.sql(
      "SELECT count(*) FROM graft.cbo.t WHERE v <= 100").head.getLong(0)
    assert(trueCount > 300L, s"setup: $trueCount")
    def estimate(): BigInt = {
      val df = spark.table("graft.cbo.t").filter(col("v") <= 100)
      df.queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      spark.sql("CALL graft.system.analyze(table => 'cbo.t')")
      val uniform = estimate()
      spark.sql("CALL graft.system.analyze(table => 'cbo.t', " +
        "histogram_bins => 64)")
      val withHist = estimate()
      assert(uniform >= 0 && withHist >= 0, s"($uniform, $withHist)")
      // uniform badly underestimates the skewed head; the histogram
      // estimate must be much closer to the true 3163
      assert(uniform < trueCount / 5,
        s"setup check: uniform $uniform should underestimate $trueCount")
      assert(withHist > uniform * 5,
        s"histogram estimate $withHist should beat uniform $uniform")
      assert(withHist > trueCount / 3 && withHist < trueCount * 3,
        s"histogram estimate $withHist vs true $trueCount")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("ANALYZE histograms flip a physical join decision: the " +
      "corrected cardinality cancels a bad broadcast") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cbo")
    spark.sql("CREATE TABLE graft.cbo.f (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.cbo.f SELECT id, " +
      "CAST(id * id / 1000 AS BIGINT) FROM range(0, 10000)")
    spark.sql("CREATE TABLE graft.cbo.d (id BIGINT, w BIGINT)")
    spark.sql("INSERT INTO graft.cbo.d SELECT id, id FROM range(0, 2000)")
    def plan(): String = {
      val df = spark.table("graft.cbo.f").filter(col("v") <= 100)
        .join(spark.table("graft.cbo.d"), "id")
      df.queryExecution.executedPlan.toString
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // threshold between the uniform estimate (~10 rows) and the
    // histogram estimate (~3k rows) of the filtered fact side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    try {
      spark.sql("CALL graft.system.analyze(table => 'cbo.f')")
      spark.sql("CALL graft.system.analyze(table => 'cbo.d')")
      val uniformPlan = plan()
      assert(uniformPlan.contains("BroadcastHashJoin"),
        s"setup: the 30x underestimate should broadcast the filtered " +
        s"side\n$uniformPlan")
      spark.sql("CALL graft.system.analyze(table => 'cbo.f', " +
        "histogram_bins => 64)")
      val histPlan = plan()
      assert(!histPlan.contains("BroadcastHashJoin"),
        s"histogram cardinality should exceed the broadcast " +
        s"threshold and flip to a shuffle join\n$histPlan")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("ANALYZE staleness: if_stale_fraction skips quiet tables; " +
      "maxDrift withholds aged column stats from the scan") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.stale")
    spark.sql("CREATE TABLE graft.stale.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.stale.t SELECT id, id FROM range(0, 100)")
    spark.sql("CALL graft.system.analyze(table => 'stale.t')")
    // quiet table: scheduled re-analyze is a metadata no-op
    val r1 = spark.sql("CALL graft.system.analyze(table => 'stale.t', " +
      "if_stale_fraction => 0.2)").collect()(0)
    assert(!r1.getBoolean(3), r1.toString)
    // churn past the fraction: re-analyze actually runs
    spark.sql("INSERT INTO graft.stale.t SELECT id, id FROM range(100, 200)")
    val r2 = spark.sql("CALL graft.system.analyze(table => 'stale.t', " +
      "if_stale_fraction => 0.2)").collect()(0)
    assert(r2.getBoolean(3), r2.toString)
    assert(r2.getLong(0) == 200L)
    // drift gate: grow the table far past maxDrift without re-analyze
    spark.sql("INSERT INTO graft.stale.t SELECT id, id FROM range(200, 600)")
    def scanColStats() = {
      val scan = spark.table("graft.stale.t").queryExecution.optimizedPlan
        .collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.scan
        }.head
      scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
    }
    spark.conf.set("spark.graft.staleats.maxDrift", "0.5")
    try {
      val withheld = scanColStats()
      assert(withheld.columnStats().isEmpty,
        "aged stats should be withheld past maxDrift")
      // numRows stays footer-exact regardless
      assert(withheld.numRows().getAsLong == 600L)
      // re-analyze restores them
      spark.sql("CALL graft.system.analyze(table => 'stale.t')")
      assert(!scanColStats().columnStats().isEmpty)
    } finally spark.conf.unset("spark.graft.staleats.maxDrift")
  }

  test("ANALYZE: special-character column names (dots) resolve as " +
      "top-level columns, and the sidecar round-trips them") {
    val _ = warehouse
    import spark.implicits._
    val dir = tempDir("graft-stats-dots").toString
    Seq((1L, "aa"), (2L, "bb"), (2L, null))
      .toDF("a.b", "s:x").write.format("graft-v2")
      .mode("overwrite").save(dir)
    val stats = graft.sources.v2.GraftStats.analyze(spark, dir)
    assert(stats.rows == 3L)
    assert(stats.cols("a.b").distinct == 2L)
    assert(stats.cols("s:x").nulls == 1L)
    assert(stats.cols("s:x").avgLen == 2L)
    // the sidecar parse recovers the colon-bearing name
    val p = new org.apache.hadoop.fs.Path(dir)
    val rt = graft.sources.v2.GraftStats.read(
      p.getFileSystem(graft.sources.v2.GraftHadoopConf.sessionConf()), p)
    assert(rt.exists(_.cols.keySet == Set("a.b", "s:x")), rt.toString)
    assert(rt.get.cols("s:x").maxLen == 2L)
  }

  test("CALL history: one row per retained version, newest first, " +
      "with operation and file/DV deltas") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hist")
    spark.sql("CREATE TABLE graft.hist.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.hist.t SELECT id, id FROM range(0, 100)")
    // the manifest log bootstraps at the first versioned commit (the
    // DELETE); the pre-manifest insert shows as the bootstrap version
    spark.sql("DELETE FROM graft.hist.t WHERE id = 5")
    spark.sql("INSERT INTO graft.hist.t SELECT id, id FROM range(100, 200)")
    val h = spark.sql("CALL graft.system.history(table => 'hist.t')")
      .collect()
    assert(h.length >= 3, h.mkString("\n"))
    // newest first, versions strictly descending
    val versions = h.map(_.getLong(0))
    assert(versions.toSeq == versions.sorted.reverse.toSeq)
    // the manifest-era append added files, removed none, has a time
    val app = h.head
    assert(app.getString(2) == "append", app.toString)
    assert(app.getInt(4) > 0, s"append added no files? $app")
    assert(app.getInt(5) == 0, s"append removed files? $app")
    assert(!app.isNullAt(1), s"append missing timestamp: $app")
    // the delete commit grew a DV, removed no files
    val del = h(1)
    assert(del.getString(2) == "delete", del.toString)
    assert(del.getInt(7) == 1, s"expected one changed DV: $del")
    assert(del.getInt(5) == 0, s"delete should remove no files: $del")
    // the bootstrap version reports its full file set as added
    val boot = h.last
    assert(boot.getInt(3) == boot.getInt(4), boot.toString)
    // maintenance shows as its own operation and reshuffles files
    spark.sql("CALL graft.system.compact(table => 'hist.t')")
    val h2 = spark.sql("CALL graft.system.history(table => 'hist.t')")
      .collect()
    assert(h2.head.getString(2) == "maintenance", h2.head.toString)
    assert(h2.head.getInt(5) > 0, s"compact removed no files? ${h2.head}")
    // compact may land as two maintenance versions (DV
    // materialization, then the merge)
    assert(h2.length > h.length)
  }

  test("CHECK constraints: path-based V2 and V1 writes enforce the " +
      "marker constraints too (no catalog bypass)") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ckp")
    spark.sql("CREATE TABLE graft.ckp.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.ckp.t VALUES (1, 10)")
    spark.sql("ALTER TABLE graft.ckp.t ADD CONSTRAINT v_pos CHECK (v > 0)")
    val dir = s"$warehouse/ckp/t"
    import spark.implicits._
    // V2 path write: violating append refused before any row lands
    val e1 = intercept[Exception] {
      Seq((2L, -5L)).toDF("id", "v").write.format("graft-v2")
        .mode("append").save(dir)
    }
    assert(e1.getMessage.toLowerCase.contains("check") ||
      e1.getMessage.contains("v_pos"), e1.getMessage)
    assert(spark.table("graft.ckp.t").count() == 1L)
    // V1 path write: same refusal
    val e2 = intercept[Exception] {
      Seq((3L, -7L)).toDF("id", "v").write.format("graft")
        .mode("append").save(dir)
    }
    assert(e2.getMessage.toLowerCase.contains("check") ||
      e2.getMessage.contains("v_pos"), e2.getMessage)
    assert(spark.table("graft.ckp.t").count() == 1L)
    // conforming rows land through both; NULL passes (CHECK semantics)
    Seq((2L, 20L)).toDF("id", "v").write.format("graft-v2")
      .mode("append").save(dir)
    Seq((3L, Option.empty[Long])).toDF("id", "v").write.format("graft")
      .mode("append").save(dir)
    assert(spark.table("graft.ckp.t").count() == 3L)
  }

  test("ALTER TABLE ADD COLUMNS: metadata-only schema evolution") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.t (id BIGINT)")
    spark.sql("INSERT INTO graft.ev.t SELECT id FROM range(0, 100)")
    val dir = new java.io.File(s"$warehouse/ev/t")
    val filesBefore = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    spark.sql("ALTER TABLE graft.ev.t ADD COLUMNS (score DOUBLE)")
    // metadata-only: no data file was touched
    assert(dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet == filesBefore)
    // old rows read NULL for the new column (both read modes)
    assert(spark.table("graft.ev.t").schema.fieldNames.toSeq ==
      Seq("id", "score"))
    assert(spark.sql(
      "SELECT count(*) FROM graft.ev.t WHERE score IS NULL")
      .head.getLong(0) == 100)
    val rowMode = spark.read.format("graft-v2")
      .option("path", dir.toString).option("vectorized", "false")
      .schema("id BIGINT, score DOUBLE").load()
    assert(rowMode.filter(col("score").isNull).count() == 100)
    // new inserts carry the column; mixed files read consistently
    spark.sql("INSERT INTO graft.ev.t " +
      "SELECT id, id / 10.0 FROM range(100, 150)")
    val t = spark.table("graft.ev.t")
    assert(t.count() == 150)
    assert(t.filter(col("score").isNotNull).count() == 50)
    // filter on the evolved column across mixed files
    assert(t.filter(col("score") > 12.0).count() ==
      (121 to 149).length)
    // DELETE with a predicate on the evolved column: NULL (old) rows
    // are UNKNOWN and must survive
    spark.sql("DELETE FROM graft.ev.t WHERE score <= 12.0")
    val t2 = spark.table("graft.ev.t")
    assert(t2.count() == 100 + 29, s"got ${t2.count()}")
    assert(t2.filter(col("score").isNull).count() == 100)
    // rejected evolutions stay rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ev.t ADD COLUMNS (id STRING)")
    }
  }

  test("RENAME COLUMN is metadata-only; old files read through the " +
      "mapping") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.rn (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.ev.rn SELECT id, id * 2 FROM range(0, 500)")
    val dir = new java.io.File(s"$warehouse/ev/rn")
    val before = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    spark.sql("ALTER TABLE graft.ev.rn RENAME COLUMN v TO amount")
    // metadata-only: no data file touched
    assert(dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet == before)
    assert(spark.table("graft.ev.rn").schema.fieldNames.toSeq ==
      Seq("id", "amount"))
    // old (physical 'v') files serve the new logical name — values,
    // filters, aggregates, in BOTH read modes
    val t = spark.table("graft.ev.rn")
    assert(t.agg(sum(col("amount"))).head.getLong(0) ==
      (0L until 500L).map(_ * 2).sum)
    assert(t.filter(col("amount") === 40L).head.getLong(0) == 20L)
    val rowMode = spark.read.format("graft-v2")
      .option("path", dir.toString).option("vectorized", "false")
      .schema("id BIGINT, amount BIGINT").load()
    assert(rowMode.filter(col("amount") === 40L).count() == 1)
    // new INSERTs carry the logical name; mixed files read uniformly
    spark.sql("INSERT INTO graft.ev.rn SELECT id, id * 2 " +
      "FROM range(500, 600)")
    val mixed = spark.table("graft.ev.rn")
    assert(mixed.count() == 600)
    assert(mixed.agg(sum(col("amount"))).head.getLong(0) ==
      (0L until 600L).map(_ * 2).sum)
    // a second rename chains (original physical key kept)
    spark.sql("ALTER TABLE graft.ev.rn RENAME COLUMN amount TO total")
    assert(spark.table("graft.ev.rn")
      .agg(sum(col("total"))).head.getLong(0) ==
      (0L until 600L).map(_ * 2).sum)
    // the retired names are reserved: re-adding either is refused
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ev.rn ADD COLUMNS (v DOUBLE)")
    }
    // UPDATE through the mapping: old files rewrite under logical names
    spark.sql("UPDATE graft.ev.rn SET total = 0 WHERE id < 10")
    val t2 = spark.table("graft.ev.rn")
    assert(t2.filter(col("total") === 0).count() == 10)
    assert(t2.agg(sum(col("total"))).head.getLong(0) ==
      (10L until 600L).map(_ * 2).sum)
  }

  test("DELETE on a RENAMED column deletes old files' rows") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.rd (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.ev.rd SELECT id, id * 2 FROM range(0, 1000)")
    spark.sql("ALTER TABLE graft.ev.rd RENAME COLUMN v TO amount")
    // the old files spell 'amount' physically as 'v': the point DELETE
    // (vector path) must still find and mask the row — a padded-NULL
    // evaluation would silently keep it
    spark.sql("DELETE FROM graft.ev.rd WHERE amount = 500")
    val t = spark.table("graft.ev.rd")
    assert(t.count() == 999, "renamed-column point DELETE lost its row")
    assert(t.filter(col("id") === 250).count() == 0)
    // and the rewrite path (large fraction): residue files must carry
    // the LOGICAL name and the right survivors
    spark.sql("DELETE FROM graft.ev.rd WHERE amount >= 1600")
    val t2 = spark.table("graft.ev.rd")
    assert(t2.count() == 799, s"got ${t2.count()}")
    assert(t2.agg(max(col("amount"))).head.getLong(0) == 1598L)
    assert(t2.filter(col("id") === 100).head.getLong(1) == 200L)
  }

  test("DROP COLUMN is metadata-only; time travel keeps each " +
      "version's shape") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.dr (id BIGINT, v BIGINT, w STRING)")
    spark.sql("INSERT INTO graft.ev.dr " +
      "SELECT id, id * 3, concat('w', id) FROM range(0, 400)")
    // manifests on (a mutation), so time travel has a version to pin
    spark.sql("DELETE FROM graft.ev.dr WHERE id = 1")
    val dir = new java.io.File(s"$warehouse/ev/dr")
    val before = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    spark.sql("ALTER TABLE graft.ev.dr DROP COLUMN v")
    assert(dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet == before,
      "DROP COLUMN must not touch data files")
    val t = spark.table("graft.ev.dr")
    assert(t.schema.fieldNames.toSeq == Seq("id", "w"))
    assert(t.count() == 399)
    assert(t.filter(col("w") === "w5").count() == 1)
    // re-adding the dropped name is refused (the physical data would
    // resurrect under name mapping)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ev.dr ADD COLUMNS (v BIGINT)")
    }
    assert(e.getMessage.contains("DROPPED or RENAMED"), e.getMessage)
    // a DIFFERENT name is fine
    spark.sql("ALTER TABLE graft.ev.dr ADD COLUMNS (v2 BIGINT)")
    assert(spark.table("graft.ev.dr").schema.fieldNames.toSeq ==
      Seq("id", "w", "v2"))
    // time travel: the pre-DROP version still carries v with its data
    val pinned = spark.sql("SELECT * FROM graft.ev.dr VERSION AS OF 2")
    assert(pinned.schema.fieldNames.contains("v"),
      s"pre-DROP version lost its shape: ${pinned.schema}")
    assert(pinned.where(col("id") === 5).head
      .getLong(pinned.schema.fieldIndex("v")) == 15L)
  }

  test("predicate overwrite rejects unsupported predicates up front") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bad")
    spark.sql("CREATE TABLE graft.bad.t (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.bad.t SELECT id, 'x' AS s FROM range(0, 10)")
    val before = spark.table("graft.bad.t").count()
    val e = intercept[Exception] {
      // length(s) is not translatable to a supported source filter
      spark.sql("INSERT INTO graft.bad.t REPLACE WHERE length(s) > 1 " +
        "SELECT id, 'y' AS s FROM range(0, 1)")
    }
    assert(spark.table("graft.bad.t").count() == before,
      s"failed replace must not mutate (error was: ${e.getMessage})")
  }

  // ===== snapshot isolation / time travel (GraftManifest) =====

  private def manifestFs = new org.apache.hadoop.fs.Path(warehouse)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("manifests version mutations; VERSION AS OF time-travels") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.tt.t SELECT id, id * 2 FROM range(0, 1000)")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/t")
    val fs = manifestFs
    // never-mutated table: no manifest, plain listing semantics
    assert(GraftManifest.versions(fs, dir).isEmpty)
    // first mutation bootstraps v1 = the PRE-mutation state, commits v2
    spark.sql("DELETE FROM graft.tt.t WHERE id >= 500")
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 2L))
    assert(spark.table("graft.tt.t").count() == 500)
    val v1 = spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 1")
    assert(v1.count() == 1000)
    assert(v1.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 1000L).map(_ * 2).sum)
    assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 2")
      .head.getLong(0) == 500)
    // an append AFTER the first mutation advances the manifest
    spark.sql("INSERT INTO graft.tt.t SELECT id, id * 2 " +
      "FROM range(2000, 2100)")
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 2L, 3L))
    assert(spark.table("graft.tt.t").count() == 600)
    // pinned versions unaffected by the append
    assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 1")
      .head.getLong(0) == 1000)
    // unknown version: clear error naming the committed ones
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 9").collect()
    }
    assert(e.getMessage.contains("no version 9"), e.getMessage)
  }

  test("tags: named versions read through VERSION AS OF and pin " +
      "their version against vacuum until dropped") {
    import graft.sources.v2.{GraftManifest, GraftTags}
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tg")
    spark.sql("CREATE TABLE graft.tg.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.tg.t SELECT id, id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.tg.t WHERE id >= 90") // boots v1, v2
    spark.sql("INSERT INTO graft.tg.t SELECT id, id FROM range(100, 150)")
    spark.sql("INSERT INTO graft.tg.t SELECT id, id FROM range(150, 160)")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tg/t")
    val fs = manifestFs
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 2L, 3L, 4L))
    val r = spark.sql("CALL graft.system.tag(table => 'tg.t', " +
      "name => 'audit-v2', version => 2)").collect()
    assert(r.head.getString(2) == "created" && r.head.getLong(1) == 2L)
    // the tag reads exactly like its version, via SQL and the path API
    assert(spark.sql(
      "SELECT count(*) FROM graft.tg.t VERSION AS OF 'audit-v2'")
      .head.getLong(0) == 90)
    assert(spark.read.format("graft-v2").option("path", dir.toString)
      .option("versionAsOf", "audit-v2").load().count() == 90)
    // duplicate refused; replace re-points; invalid name refused
    val dup = intercept[Exception] {
      spark.sql("CALL graft.system.tag(table => 'tg.t', " +
        "name => 'audit-v2', version => 3)").collect()
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    spark.sql("CALL graft.system.tag(table => 'tg.t', " +
      "name => 'audit-v2', version => 3, replace => true)").collect()
    assert(spark.sql(
      "SELECT count(*) FROM graft.tg.t VERSION AS OF 'audit-v2'")
      .head.getLong(0) == 140)
    spark.sql("CALL graft.system.tag(table => 'tg.t', " +
      "name => 'audit-v2', version => 2, replace => true)").collect()
    intercept[Exception] { GraftTags.create(fs, dir, "1bad", 2L) }
    // default version = latest; listing shows both, name-sorted
    spark.sql("CALL graft.system.tag(table => 'tg.t', " +
      "name => 'head')").collect()
    assert(spark.sql("CALL graft.system.tags(table => 'tg.t')")
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("audit-v2", 2L), ("head", 4L)))
    spark.sql("CALL graft.system.tag(table => 'tg.t', " +
      "name => 'head', drop => true)").collect()
    // an unknown tag errors naming the real ones
    val unk = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tg.t VERSION AS OF 'nope'")
        .collect()
    }
    assert(unk.getMessage.contains("audit-v2"), unk.getMessage)
    // vacuum keep-1 drops untagged history but the tag pins v2 AND
    // the files it references
    spark.sql("CALL graft.system.vacuum(table => 'tg.t', " +
      "keep_versions => 1)").collect()
    assert(GraftManifest.versions(fs, dir) == Seq(2L, 4L))
    assert(spark.sql(
      "SELECT count(*) FROM graft.tg.t VERSION AS OF 'audit-v2'")
      .head.getLong(0) == 90)
    // dropping the tag releases the pin: the next sweep removes v2
    spark.sql("CALL graft.system.tag(table => 'tg.t', " +
      "name => 'audit-v2', drop => true)").collect()
    spark.sql("CALL graft.system.vacuum(table => 'tg.t', " +
      "keep_versions => 1)").collect()
    assert(GraftManifest.versions(fs, dir) == Seq(4L))
  }

  test("generated columns: omitted values computed, explicit values " +
      "validated, referenced columns DDL-guarded") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gc")
    spark.sql("CREATE TABLE graft.gc.t (a BIGINT, b BIGINT, " +
      "c BIGINT GENERATED ALWAYS AS (a + b))")
    // the expression is marker-persisted, not inferred
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$warehouse/gc/t/.graft-schema.json")))
      .contains("#genexpr=c:a + b"))
    spark.sql("INSERT INTO graft.gc.t (a, b) VALUES (1, 2), (10, 20)")
    assert(spark.sql("SELECT c FROM graft.gc.t ORDER BY a")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 30L))
    // an explicit matching value passes; a mismatch fails the write
    spark.sql("INSERT INTO graft.gc.t VALUES (5, 6, 11)")
    val bad = intercept[Exception] {
      spark.sql("INSERT INTO graft.gc.t VALUES (1, 1, 99)")
    }
    assert(exceptionChain(bad).exists(
      _.getMessage.contains("generation expression")), bad.getMessage)
    assert(spark.table("graft.gc.t").count() == 3)
    // the marker round-trips the expression; DESCRIBE-visible schema
    // still reads through the V2 scan
    assert(spark.sql("SELECT sum(c) FROM graft.gc.t")
      .head.getLong(0) == 44L)
    // DDL hygiene: the expression pins its inputs
    val rn = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gc.t RENAME COLUMN a TO a2")
    }
    assert(rn.getMessage.contains("generated column"), rn.getMessage)
    val dr = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gc.t DROP COLUMN b")
    }
    assert(dr.getMessage.contains("generated column"), dr.getMessage)
    val wd = intercept[Exception] {
      spark.sql("ALTER TABLE graft.gc.t ALTER COLUMN b TYPE DECIMAL(30, 0)")
    }
    assert(wd.getMessage.contains("generated column"), wd.getMessage)
    // dropping the generated column releases the pins
    spark.sql("ALTER TABLE graft.gc.t DROP COLUMN c")
    spark.sql("ALTER TABLE graft.gc.t RENAME COLUMN a TO a2")
    assert(spark.sql("SELECT sum(a2) FROM graft.gc.t")
      .head.getLong(0) == 16L)
  }

  private def exceptionChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  test("pinned snapshots serve archived files after later DML") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.arch (id BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.tt.arch SELECT id, id AS v " +
        s"FROM range(${i * 1000}, ${(i + 1) * 1000})")
    }
    spark.sql("DELETE FROM graft.tt.arch WHERE id >= 3500") // v1 pre, v2
    assert(spark.table("graft.tt.arch").count() == 3500)
    // a second, much bigger DELETE archives most of v2's files
    spark.sql("DELETE FROM graft.tt.arch WHERE id >= 100") // v3
    assert(spark.table("graft.tt.arch").count() == 100)
    // v2 still reads its full 3500 rows — the files a later commit
    // removed resolve into .graft-archive/
    val v2 = spark.sql("SELECT * FROM graft.tt.arch VERSION AS OF 2")
    assert(v2.count() == 3500)
    assert(v2.agg(max(col("id"))).head.getLong(0) == 3499L)
    assert(spark.sql("SELECT count(*) FROM graft.tt.arch VERSION AS OF 1")
      .head.getLong(0) == 4000)
  }

  test("manifest CAS: a writer pinned on a stale version loses cleanly") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.race (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.race SELECT id FROM range(0, 2000)")
    spark.sql("DELETE FROM graft.tt.race WHERE id >= 1500") // v1, v2
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/race")
    val fs = manifestFs
    // writer A pins the current version ...
    val pinnedA = GraftManifest.pinForMutation(fs, dir)
    assert(pinnedA.version == 2L)
    // ... writer B commits first (a real DELETE -> v3) ...
    spark.sql("DELETE FROM graft.tt.race WHERE id >= 1000")
    // ... so A's CAS against its pinned version MUST fail, and the
    // committed state is untouched by the attempt
    assert(!GraftManifest.tryCommit(fs, dir, pinnedA.version,
      pinnedA.names))
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 2L, 3L))
    assert(spark.table("graft.tt.race").count() == 1000)
  }

  test("two concurrent DELETEs: serial win-win or one clean loser") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.race2 (id BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.tt.race2 SELECT id " +
        s"FROM range(${i * 1000}, ${(i + 1) * 1000})")
    }
    def isCme(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[java.util.ConcurrentModificationException])
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    try {
      val fs = Seq("id < 1000", "id >= 3000").map { pred =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          override def call(): Option[Throwable] = {
            start.await(10, TimeUnit.SECONDS)
            try { spark.sql(s"DELETE FROM graft.tt.race2 WHERE $pred"); None }
            catch { case t: Throwable => Some(t) }
          }
        })
      }
      start.countDown()
      val outcomes = fs.map(_.get(120, TimeUnit.SECONDS))
      val failures = outcomes.flatten
      failures.foreach(t => assert(isCme(t),
        s"only a clean CAS loss is acceptable, got: $t"))
      val expect = failures.length match {
        case 0 => 2000L // both committed (serialized)
        case 1 => 3000L // one lost cleanly, its rows untouched
        case n => fail(s"$n failures: ${failures.map(_.getMessage)}")
      }
      assert(spark.table("graft.tt.race2").count() == expect,
        s"final state must reflect exactly the committed DELETEs " +
        s"(${failures.length} loser(s))")
    } finally pool.shutdownNow()
  }

  test("interleaved appends and DELETEs: appends always land, DELETEs " +
      "retry past provably-unrelated appends") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.mix (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.tt.mix SELECT id, 0 FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.tt.mix WHERE id >= 900") // bootstrap
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    def task[T](f: => T) = pool.submit(
      new Callable[Either[Throwable, T]] {
        override def call(): Either[Throwable, T] = {
          start.await(10, TimeUnit.SECONDS)
          try Right(f) catch { case t: Throwable => Left(t) }
        }
      })
    try {
      // two appenders, id >= 100000 (stats-disjoint from every DELETE
      // predicate below), three commits each
      val appenders = Seq(1L, 2L).map { a =>
        task {
          (0 until 3).foreach { i =>
            val lo = a * 100000 + i * 1000
            spark.sql(s"INSERT INTO graft.tt.mix " +
              s"SELECT id, $a FROM range($lo, ${lo + 500})")
          }
        }
      }
      // two deleters over disjoint parts of the seed range
      val deleters = Seq("id < 300", "id >= 600 AND id < 900").map {
        pred => task {
          spark.sql(s"DELETE FROM graft.tt.mix WHERE $pred")
        }
      }
      start.countDown()
      val appendResults = appenders.map(_.get(180, TimeUnit.SECONDS))
      val deleteResults = deleters.map(_.get(180, TimeUnit.SECONDS))
      // appends commute: they must NEVER fail
      appendResults.foreach(r =>
        assert(r.isRight, s"append must not fail: $r"))
      // a deleter may only fail as a clean CAS loss (its victim files
      // were touched by the OTHER deleter — possible when both ranges
      // share a seed file)
      def isCme(t: Throwable): Boolean =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
          .exists(_.isInstanceOf[
            java.util.ConcurrentModificationException])
      deleteResults.collect { case Left(t) => t }.foreach(t =>
        assert(isCme(t), s"only a clean CAS loss is acceptable: $t"))
      val t = spark.table("graft.tt.mix")
      // every appended row present exactly once — no DELETE retry or
      // loss may drop or duplicate a committed append
      assert(t.filter(col("id") >= 100000).count() == 2 * 3 * 500)
      // seed rows reflect exactly the committed DELETEs
      val expectSeed = 900L - deleteResults.zip(Seq(300L, 300L))
        .collect { case (Right(_), n) => n }.sum
      assert(t.filter(col("id") < 1000).count() == expectSeed)
      // the manifest IS the table: resolving the latest version reads
      // the same rows the catalog serves
      val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/mix")
      val fs = manifestFs
      val snap = GraftManifest.current(fs, dir).get
      val resolved = GraftManifest.resolve(fs, dir, snap.names)
        .map(_.toString)
      // raw parquet sees position-deleted rows too: the manifest's
      // names + vectors together are the table
      val masked = graft.sources.v2.DeleteVectors.cardinality(dir,
        snap.dvs.values, spark.sessionState.newHadoopConf())
      assert(spark.read.parquet(resolved: _*).count() ==
        t.count() + masked)
    } finally pool.shutdownNow()
  }

  test("_file pruning works on a manifest-bearing (post-DML) table") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.fp (id BIGINT, v BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.tt.fp SELECT id, id FROM " +
        s"range(${i * 1000}, ${(i + 1) * 1000})")
    }
    spark.sql("DELETE FROM graft.tt.fp WHERE id >= 2500") // manifests on
    // captured `_file` values are FS-QUALIFIED; the manifest snapshot
    // paths are built from the catalog's unqualified table dir — the
    // pruning must still match (by name), not silently plan zero
    // row groups
    val f0 = spark.table("graft.tt.fp").where(col("id") === 0)
      .select(col("_file")).head.getString(0)
    val one = spark.table("graft.tt.fp")
      .filter(col("_file") === f0).select(col("id"))
    assert(one.count() > 0, "pruned scan lost the named file's rows")
    assert(one.rdd.getNumPartitions == 1,
      s"expected only the named file's row group:\n" +
        one.queryExecution.executedPlan)
    assert(one.agg(min(col("id"))).head.getLong(0) == 0L)
  }

  test("TIMESTAMP AS OF maps commit wall-clock to versions") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.ts (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.ts SELECT id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.tt.ts WHERE id >= 800") // v1, v2
    Thread.sleep(50)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(50)
    spark.sql("DELETE FROM graft.tt.ts WHERE id >= 500") // v3
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/ts")
    val fs = manifestFs
    // every version carries a commit time, and the mapping picks the
    // latest version at-or-before the instant
    assert(GraftManifest.versions(fs, dir).forall(v =>
      GraftManifest.commitTimeMillis(fs, dir, v).isDefined))
    assert(GraftManifest.versionAt(fs, dir, betweenMs) == 2L)
    // SQL face: an instant between v2 and v3 reads v2's 800 rows
    val iso = java.time.Instant.ofEpochMilli(betweenMs).toString
    assert(spark.sql("SELECT count(*) FROM graft.tt.ts " +
      s"TIMESTAMP AS OF '$iso'").head.getLong(0) == 800L)
    // an instant before the first commit errors clearly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt.ts " +
        "TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    assert(e.getMessage.contains("no version at or before"),
      e.getMessage)
  }

  test("VERSION AS OF keeps the version's schema across later ALTERs") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.sch (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.tt.sch SELECT id, id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.tt.sch WHERE id >= 90") // v1, v2
    spark.sql("ALTER TABLE graft.tt.sch ADD COLUMNS (w STRING)")
    // current reads see the evolved column ...
    assert(spark.table("graft.tt.sch").schema.fieldNames.contains("w"))
    // ... but the pinned version keeps its committed shape (the
    // manifest records the schema at commit)
    val v2 = spark.sql("SELECT * FROM graft.tt.sch VERSION AS OF 2")
    assert(!v2.schema.fieldNames.contains("w"),
      s"v2 must not grow columns ALTERed in later: ${v2.schema}")
    assert(v2.count() == 90)
  }

  test("a widened append records the WIDENED schema in its version") {
    import graft.sources.v2.GraftManifest
    import spark.implicits._
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.wid (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.wid SELECT id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.tt.wid WHERE id >= 90") // v1, v2
    // widened path-based append (the marker refresh runs AFTER the
    // manifest commit — the version must still record the wide shape)
    Seq((1000L, "x")).toDF("id", "w").write.format("graft-v2")
      .option("path", s"$warehouse/tt/wid").mode("append").save()
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/wid")
    val vmax = GraftManifest.versions(manifestFs, dir).last
    val pinned = spark.sql(
      s"SELECT * FROM graft.tt.wid VERSION AS OF $vmax")
    assert(pinned.schema.fieldNames.contains("w"),
      s"version $vmax must carry the widened column: ${pinned.schema}")
    assert(pinned.where(col("id") === 1000).head.getString(1) == "x")
  }

  test("ALTER COLUMN TYPE widening is metadata-only: old files " +
      "upcast per file in both read modes") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.wt (id BIGINT, v INT, f FLOAT, " +
      "d DECIMAL(10,2))")
    spark.sql("INSERT INTO graft.ev.wt SELECT id, CAST(id AS INT), " +
      "CAST(id AS FLOAT), CAST(id AS DECIMAL(10,2)) FROM range(0, 1000)")
    // a mutation first, so time travel has a pre-widen version to pin
    spark.sql("DELETE FROM graft.ev.wt WHERE id = 999")
    val dir = s"$warehouse/ev/wt"
    val filesBefore = dataParts(dir)
    spark.sql("ALTER TABLE graft.ev.wt ALTER COLUMN v TYPE BIGINT")
    spark.sql("ALTER TABLE graft.ev.wt ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE graft.ev.wt ALTER COLUMN d TYPE DECIMAL(20,2)")
    // metadata-only: zero data files touched
    assert(dataParts(dir) == filesBefore,
      "ALTER COLUMN TYPE must not rewrite data files")
    val t = spark.table("graft.ev.wt")
    assert(t.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(t.schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 2))
    // old-file read-through, vectorized (catalog default)
    assert(t.count() == 999)
    assert(t.agg(sum(col("v"))).head.getLong(0) == (0L until 999L).sum)
    assert(t.where(col("id") === 5).head.getDouble(2) == 5.0d)
    // ... and row mode (path-based, forced)
    val rowMode = spark.read.format("graft-v2")
      .option("path", dir).option("vectorized", "false")
      .schema("id BIGINT, v BIGINT, f DOUBLE").load()
    assert(rowMode.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 999L).sum)
    assert(rowMode.where(col("id") === 7).head.getDouble(2) == 7.0d)
    // widened appends land at the wide type; mixed files read uniform
    spark.sql("INSERT INTO graft.ev.wt VALUES " +
      "(100000, 3000000000, 2.5, CAST(123456789012345678.99 AS " +
      "DECIMAL(20,2)))")
    val t2 = spark.table("graft.ev.wt")
    assert(t2.count() == 1000)
    assert(t2.where(col("id") === 100000).head.getLong(1) == 3000000000L)
    assert(t2.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 999L).sum + 3000000000L)
    // footer-only aggregates stay correct across narrow+wide stat mix
    val agg = spark.read.format("graft-v2").option("path", dir).load()
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx")).head
    assert(agg.getLong(0) == 0L && agg.getLong(1) == 3000000000L)
    // time travel keeps the PRE-widen shape (schema= line wins)
    val vs = GraftManifest.versions(manifestFs,
      new org.apache.hadoop.fs.Path(dir))
    val pinned = spark.sql(
      s"SELECT * FROM graft.ev.wt VERSION AS OF ${vs.head}")
    assert(pinned.schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType,
      s"pre-widen version must keep INT: ${pinned.schema}")
    assert(pinned.count() == 1000)
    // narrowing is refused by Spark's own analyzer (upcast-only gate)
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ev.wt ALTER COLUMN v TYPE INT")
    }
    assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ev.wt ALTER COLUMN d TYPE " +
        "DECIMAL(20,1)")
    }
    assert(e2.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      e2.getMessage)
    // ... and a promotion Spark WOULD cast (bigint→double) but is not
    // losslessly metadata-only on immutable files is refused by the
    // catalog's own widening gate
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ev.wt ALTER COLUMN v TYPE DOUBLE")
    }
    assert(e3.getMessage.contains("widen"), e3.getMessage)
    // the refusals left the schema intact
    assert(spark.table("graft.ev.wt").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("vacuum drops old versions and their archived files") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.vac (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.vac SELECT id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.tt.vac WHERE id >= 800") // v1, v2
    spark.sql("DELETE FROM graft.tt.vac WHERE id >= 500") // v3
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/vac")
    val fs = manifestFs
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 2L, 3L))
    GraftManifest.vacuum(fs, dir, keepVersions = 1)
    assert(GraftManifest.versions(fs, dir) == Seq(3L))
    // current reads unaffected; pre-horizon time travel now errors
    assert(spark.table("graft.tt.vac").count() == 500)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.tt.vac VERSION AS OF 1").collect()
    }
  }

  test("age-based vacuum keeps young versions and always the latest") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.vac2 (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.vac2 SELECT id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.tt.vac2 WHERE id >= 800") // v1, v2
    Thread.sleep(60)
    val cut = System.currentTimeMillis() // v1, v2 older than this
    Thread.sleep(60)
    spark.sql("DELETE FROM graft.tt.vac2 WHERE id >= 500") // v3 (young)
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/vac2")
    val fs = manifestFs
    // horizon at `cut`: v1 and v2 age out, v3 survives
    GraftManifest.vacuumOlderThan(fs, dir, maxAgeMillis = 0L,
      nowMillis = cut)
    assert(GraftManifest.versions(fs, dir) == Seq(3L))
    assert(spark.table("graft.tt.vac2").count() == 500)
    // a horizon older than everything still keeps the LATEST version
    GraftManifest.vacuumOlderThan(fs, dir, maxAgeMillis = 0L,
      nowMillis = System.currentTimeMillis() + 3600000L)
    assert(GraftManifest.versions(fs, dir) == Seq(3L))
    assert(spark.table("graft.tt.vac2").count() == 500)
  }

  // ===== deletion vectors (position deletes) =====

  private def dataParts(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet

  private def dvSidecars(dir: String): Set[String] = {
    val d = new java.io.File(dir, ".graft-dv")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName)
      .filterNot(n => n.endsWith(".crc") && n.startsWith(".")).toSet
  }

  test("point DELETE writes a deletion vector, not a rewrite") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.t (id BIGINT, v BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.dv.t SELECT id, id FROM " +
        s"range(${i * 1000}, ${(i + 1) * 1000})")
    }
    val dir = s"$warehouse/dv/t"
    val before = dataParts(dir)
    spark.sql("DELETE FROM graft.dv.t WHERE id IN (5, 1500)")
    // the point DELETE left every data file IN PLACE — it wrote a mask
    assert(dataParts(dir) == before,
      "a point DELETE must not rewrite data files")
    assert(dvSidecars(dir).nonEmpty, "expected a .graft-dv sidecar")
    val fs = manifestFs
    val snap = GraftManifest.current(fs,
      new org.apache.hadoop.fs.Path(dir)).get
    assert(snap.dvs.nonEmpty, "manifest must map the deletion vectors")
    // both read modes apply the vector
    val t = spark.table("graft.dv.t")
    assert(t.count() == 2998)
    assert(t.where(col("id").isin(5, 1500)).count() == 0)
    assert(t.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 3000L).sum - 5L - 1500L)
    val rowMode = spark.read.format("graft-v2")
      .option("path", dir).option("vectorized", "false")
      .schema("id BIGINT, v BIGINT").load()
    assert(rowMode.count() == 2998)
    assert(rowMode.where(col("id") === 5 || col("id") === 1500)
      .count() == 0)
    // footer-only aggregate pushdown is declined under vectors: the
    // plain count above being right is the proof (footers say 3000)
  }

  test("repeated point DELETEs union vectors; time travel sees each " +
      "version's mask") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.u (id BIGINT)")
    spark.sql("INSERT INTO graft.dv.u SELECT id FROM range(0, 1000)")
    val dir = s"$warehouse/dv/u"
    spark.sql("DELETE FROM graft.dv.u WHERE id = 10") // v1 pre, v2 dv
    spark.sql("DELETE FROM graft.dv.u WHERE id = 20") // v3: unioned dv
    assert(spark.table("graft.dv.u").count() == 998)
    // versioned masks: v1 = whole file, v2 = minus id 10, v3 = minus both
    assert(spark.sql(
      "SELECT count(*) FROM graft.dv.u VERSION AS OF 1")
      .head.getLong(0) == 1000)
    assert(spark.sql(
      "SELECT count(*) FROM graft.dv.u VERSION AS OF 2")
      .head.getLong(0) == 999)
    assert(spark.sql(
      "SELECT id FROM graft.dv.u VERSION AS OF 2 WHERE id IN (10, 20)")
      .collect().map(_.getLong(0)).toSeq == Seq(20L))
    // sidecars are immutable: the second DELETE wrote a NEW one
    assert(dvSidecars(dir).size >= 2)
    // vacuum to the newest version: the superseded sidecar is swept
    val fs = manifestFs
    // grace 0: the default window keeps just-published sidecars to
    // protect in-flight commits; this test's are seconds old
    GraftManifest.vacuum(fs, new org.apache.hadoop.fs.Path(dir),
      keepVersions = 1, dvGraceMillis = 0L)
    val kept = GraftManifest.current(fs,
      new org.apache.hadoop.fs.Path(dir)).get.dvs.values.toSet
    assert(dvSidecars(dir) == kept,
      s"vacuum must keep exactly the referenced sidecars: " +
        s"${dvSidecars(dir)} vs $kept")
    assert(spark.table("graft.dv.u").count() == 998)
  }

  test("DELETE past the vector threshold escalates to a rewrite") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.big (id BIGINT)")
    spark.sql("INSERT INTO graft.dv.big SELECT id FROM range(0, 1000)")
    val dir = s"$warehouse/dv/big"
    // half the table: far above maxFraction — every touched file is
    // dropped whole or rewritten, no mask kept
    spark.sql("DELETE FROM graft.dv.big WHERE id < 500")
    assert(spark.table("graft.dv.big").count() == 500)
    val snap = graft.sources.v2.GraftManifest.current(manifestFs,
      new org.apache.hadoop.fs.Path(dir)).get
    assert(snap.dvs.isEmpty,
      s"a half-table DELETE must not keep vectors: ${snap.dvs}")
  }

  test("UPDATE on a vector-masked file keeps deleted rows dead") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.up (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.dv.up SELECT id, id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.dv.up WHERE id = 7") // vector
    // the copy-on-write UPDATE reads the file THROUGH its vector: row 7
    // must not resurrect in the rewritten file
    spark.sql("UPDATE graft.dv.up SET v = v + 1000000 WHERE id < 100")
    val t = spark.table("graft.dv.up")
    assert(t.count() == 999)
    assert(t.where(col("id") === 7).count() == 0)
    assert(t.where(col("id") === 8).head.getLong(1) == 1000008L)
    assert(t.where(col("id") === 500).head.getLong(1) == 500L)
  }

  test("point UPDATE is DELTA: vector + small insert file, no rewrite") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.du (id BIGINT, v BIGINT)")
    (0 until 2).foreach { i =>
      spark.sql(s"INSERT INTO graft.dv.du SELECT id, id FROM " +
        s"range(${i * 1000}, ${(i + 1) * 1000})")
    }
    val dir = s"$warehouse/dv/du"
    val before = dataParts(dir)
    spark.sql("UPDATE graft.dv.du SET v = -7 WHERE id = 5")
    val after = dataParts(dir)
    // every pre-existing file untouched; ONE small insert file landed
    assert(before.subsetOf(after),
      s"delta UPDATE must not rewrite files:\n$before\nvs\n$after")
    assert((after -- before).size == 1,
      s"expected one insert file, got ${after -- before}")
    val fs = manifestFs
    val snap = GraftManifest.current(fs,
      new org.apache.hadoop.fs.Path(dir)).get
    assert(snap.dvs.nonEmpty, "UPDATE must mask the old row's position")
    val t = spark.table("graft.dv.du")
    assert(t.count() == 2000)
    assert(t.where(col("id") === 5).head.getLong(1) == -7L)
    assert(t.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 2000L).sum - 5L - 7L)
    // snapshot isolation: the pre-UPDATE version still reads v=5
    val vmax = GraftManifest.versions(fs,
      new org.apache.hadoop.fs.Path(dir)).max
    assert(spark.sql(s"SELECT v FROM graft.dv.du VERSION AS OF " +
      s"${vmax - 1} WHERE id = 5").head.getLong(0) == 5L)
    // MERGE rides the same path: matched update + not-matched insert
    spark.sql("""MERGE INTO graft.dv.du t
      USING (SELECT 8L AS id UNION ALL SELECT 5000L AS id) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = -8
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 1)""")
    val t2 = spark.table("graft.dv.du")
    assert(t2.count() == 2001)
    assert(t2.where(col("id") === 8).head.getLong(1) == -8L)
    assert(t2.where(col("id") === 5000).head.getLong(1) == 1L)
    assert(dataParts(dir).intersect(before) == before,
      "MERGE must leave the original files in place")
    // compact materializes everything back to plain files
    graft.sources.GraftSink.compact(spark, dir,
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    assert(GraftManifest.current(fs,
      new org.apache.hadoop.fs.Path(dir)).get.dvs.isEmpty)
    assert(spark.table("graft.dv.du").count() == 2001)
    assert(spark.table("graft.dv.du")
      .where(col("id") === 8).head.getLong(1) == -8L)
  }

  test("delta UPDATE past the vector threshold materializes the file") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.esc (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.dv.esc SELECT id, id FROM range(0, 1000)")
    val dir = s"$warehouse/dv/esc"
    // 80% of every touched file updates: the commit must rewrite those
    // files (survivors only) instead of leaving an 80% mask behind
    spark.sql("UPDATE graft.dv.esc SET v = v + 1000000 WHERE id < 800")
    val tdir = new org.apache.hadoop.fs.Path(dir)
    val snap = GraftManifest.current(manifestFs, tdir).get
    // files whose mask crossed maxFraction were rewritten; any
    // remaining mask (a lightly-touched boundary file) stays SMALL
    import graft.sources.v2.DeleteVectors
    val conf = spark.sessionState.newHadoopConf()
    snap.dvs.foreach { case (name, dv) =>
      val masked = DeleteVectors.load(new org.apache.hadoop.fs.Path(
        DeleteVectors.dvDir(tdir), dv).toString, conf).getLongCardinality
      val rows = graft.sources.v2.FooterCache.rowGroupsFor(
        Seq(new org.apache.hadoop.fs.Path(tdir, name).toString))
        .map(_.rowCount).sum
      assert(masked <= 0.2 * rows + 1,
        s"$name keeps an over-threshold mask: $masked of $rows rows")
    }
    assert(snap.dvs.size <= 2,
      s"most touched files must have been materialized: ${snap.dvs}")
    val t = spark.table("graft.dv.esc")
    assert(t.count() == 1000)
    assert(t.where(col("id") === 5).head.getLong(1) == 1000005L)
    assert(t.where(col("id") === 900).head.getLong(1) == 900L)
    assert(t.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 1000L).sum + 800L * 1000000L)
  }

  test("compact materializes deletion vectors") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.c (id BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.dv.c SELECT id FROM " +
        s"range(${i * 1000}, ${(i + 1) * 1000})")
    }
    spark.sql("DELETE FROM graft.dv.c WHERE id IN (1, 2001)")
    val dir = s"$warehouse/dv/c"
    assert(GraftManifest.current(manifestFs,
      new org.apache.hadoop.fs.Path(dir)).get.dvs.nonEmpty)
    graft.sources.GraftSink.compact(spark, dir)
    // masks became physical: no vectors left, contents unchanged
    assert(GraftManifest.current(manifestFs,
      new org.apache.hadoop.fs.Path(dir)).get.dvs.isEmpty)
    val t = spark.table("graft.dv.c")
    assert(t.count() == 2998)
    assert(t.where(col("id").isin(1, 2001)).count() == 0)
  }

  test("V1 scan refuses a vector-masked table with a clear error") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.v1 (id BIGINT)")
    spark.sql("INSERT INTO graft.dv.v1 SELECT id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.dv.v1 WHERE id = 3")
    val dir = s"$warehouse/dv/v1"
    val e = intercept[Exception] {
      spark.read.format("graft").option("path", dir).load().count()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages(e).exists(_.contains("deletion vectors")),
      messages(e).toString)
  }

  test("CALL procedures: materialize_dvs / vacuum / zorder / compact") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.t (id BIGINT, v BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.proc.t SELECT id, id FROM " +
        s"range(${i * 1000}, ${(i + 1) * 1000})")
    }
    spark.sql("DELETE FROM graft.proc.t WHERE id IN (5, 2100)") // dv
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/proc/t")
    val fs = manifestFs
    assert(GraftManifest.current(fs, dir).get.dvs.nonEmpty)
    // materialize_dvs reports the files it rewrote; masks are gone
    val mat = spark.sql(
      "CALL graft.system.materialize_dvs(table => 'proc.t')").collect()
    assert(mat.head.getInt(0) >= 1, mat.toSeq.toString)
    assert(GraftManifest.current(fs, dir).get.dvs.isEmpty)
    assert(spark.table("graft.proc.t").count() == 2998)
    // vacuum to one retained version
    val vac = spark.sql(
      "CALL graft.system.vacuum(table => 'proc.t', keep_versions => 1)")
      .collect()
    assert(vac.head.getInt(0) == 1, vac.toSeq.toString)
    assert(GraftManifest.versions(fs, dir).length == 1)
    // zorder clustering rewrite preserves contents
    val z = spark.sql(
      "CALL graft.system.zorder(table => 'proc.t', columns => 'id,v')")
      .collect()
    assert(z.head.getInt(1) >= 1, z.toSeq.toString)
    assert(spark.table("graft.proc.t").count() == 2998)
    assert(spark.table("graft.proc.t").agg(sum(col("v"))).head
      .getLong(0) == (0L until 3000L).sum - 5L - 2100L)
    // the Hilbert curve rides the same procedure; a bad curve refuses
    val zh = spark.sql("CALL graft.system.zorder(table => 'proc.t', " +
      "columns => 'id,v', curve => 'hilbert')").collect()
    assert(zh.head.getInt(1) >= 1, zh.toSeq.toString)
    assert(spark.table("graft.proc.t").count() == 2998)
    val ec = intercept[Exception] {
      spark.sql("CALL graft.system.zorder(table => 'proc.t', " +
        "columns => 'id', curve => 'peano')").collect()
    }
    assert(ec.getMessage.contains("peano"), ec.getMessage)
    // compact runs through the same surface, with and without a scope
    spark.sql("CALL graft.system.compact(table => 'proc.t', " +
      "where => 'id >= 1000')").collect()
    spark.sql("CALL graft.system.compact(table => 'proc.t')").collect()
    assert(spark.table("graft.proc.t").count() == 2998)
    // unknown procedures fail with the available list
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.nope(table => 'proc.t')").collect()
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("CALL fsck: reports manifest references to missing files and " +
      "repair drops them as a new commit") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.fsck")
    spark.sql("CREATE TABLE graft.fsck.t (id BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.fsck.t SELECT id FROM " +
        s"range(${i * 100}, ${(i + 1) * 100})")
    }
    // DML starts the manifest log so fsck has references to check
    spark.sql("DELETE FROM graft.fsck.t WHERE id = -1")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/fsck/t")
    val fs = manifestFs
    assert(spark.table("graft.fsck.t").count() == 300)
    // a clean table reports zero and never commits
    val clean = spark.sql(
      "CALL graft.system.fsck(table => 'fsck.t')").collect()
    assert(clean.head.getInt(0) == 0 && !clean.head.getBoolean(1))
    // externally delete one data file (also its archive twin, if any)
    val victim = GraftManifest.current(fs, dir).get.names.head
    val victimRows = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, victim).toString).count()
    fs.delete(new org.apache.hadoop.fs.Path(dir, victim), false)
    GraftManifest.archiveTwin(
      new org.apache.hadoop.fs.Path(dir, victim))
      .foreach(p => if (fs.exists(p)) fs.delete(p, false))
    val before = GraftManifest.current(fs, dir).get.version
    val report = spark.sql(
      "CALL graft.system.fsck(table => 'fsck.t')").collect()
    assert(report.head.getInt(0) == 1 && !report.head.getBoolean(1))
    assert(GraftManifest.current(fs, dir).get.version == before,
      "report-only must not commit")
    val fix = spark.sql(
      "CALL graft.system.fsck(table => 'fsck.t', repair => true)")
      .collect()
    assert(fix.head.getInt(0) == 1 && fix.head.getBoolean(1))
    assert(GraftManifest.current(fs, dir).get.version == before + 1)
    assert(GraftManifest.opOf(fs, dir, before + 1).contains("fsck"))
    // the table scans again; exactly the missing file's rows are gone
    assert(spark.table("graft.fsck.t").count() == 300 - victimRows)
  }

  test("vacuum min-retention keeps young versions readable by " +
      "pinned scans") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.vac4 (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.vac4 SELECT id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.tt.vac4 WHERE id >= 800") // v1, v2
    spark.sql("DELETE FROM graft.tt.vac4 WHERE id >= 500") // v3
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/tt/vac4")
    val fs = manifestFs
    // retention window: versions committed within the hour are KEPT
    // even beyond the keep-last-N floor, so an in-flight pinned scan
    // (the retention contract) still finds its files
    GraftManifest.vacuum(fs, dir, keepVersions = 1,
      minRetainMillis = 3600000L)
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT count(*) FROM graft.tt.vac4 " +
      "VERSION AS OF 1").head.getLong(0) == 1000)
    // aged out of the window: count floor applies again
    GraftManifest.vacuum(fs, dir, keepVersions = 1,
      minRetainMillis = 10L,
      nowMillis = System.currentTimeMillis() + 3600000L)
    assert(GraftManifest.versions(fs, dir) == Seq(3L))
    assert(spark.table("graft.tt.vac4").count() == 500)
  }

  test("_file provenance is snapshot-deterministic across archiving") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.fprov (id BIGINT, v BIGINT)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft.tt.fprov SELECT id, id FROM " +
        s"range(${i * 1000}, ${(i + 1) * 1000})")
    }
    spark.sql("DELETE FROM graft.tt.fprov WHERE id >= 2500") // v1, v2
    def filesAtV2: Set[String] = spark.sql(
      "SELECT DISTINCT _file FROM graft.tt.fprov VERSION AS OF 2")
      .collect().map(_.getString(0)).toSet
    val before = filesAtV2
    // a later commit archives most of v2's files
    spark.sql("DELETE FROM graft.tt.fprov WHERE id >= 100") // v3
    val after = filesAtV2
    // same pinned version → same _file values, before and after the
    // archiving commit; never the physical .graft-archive spelling
    assert(after == before,
      s"snapshot provenance changed:\n$before\nvs\n$after")
    assert(after.forall(!_.contains(".graft-archive")), after)
    // the advertised use: a targeted re-read with a CAPTURED _file
    // value against the pinned version returns that file's rows even
    // though the file is now physically served from the archive
    val f = before.toSeq.sorted.head
    val hits = spark.sql("SELECT id FROM graft.tt.fprov " +
      s"VERSION AS OF 2 WHERE _file = '$f'")
    assert(hits.count() > 0,
      s"captured-_file re-read lost rows for $f")
  }

  test("append rejects a type clash with a marker-only evolved column") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.tc (id BIGINT)")
    spark.sql("INSERT INTO graft.ev.tc SELECT id FROM range(0, 100)")
    spark.sql("ALTER TABLE graft.ev.tc ADD COLUMNS (score DOUBLE)")
    // score exists only in the schema marker (no file carries it yet);
    // an append whose score is a different TYPE must be rejected, not
    // silently landed as a physically-conflicting data file
    val dir = s"$warehouse/ev/tc"
    val bad = spark.range(100, 150).toDF("id")
      .withColumn("score", concat(lit("s"), col("id")))
    val e = intercept[IllegalArgumentException] {
      bad.write.format("graft-v2").option("path", dir)
        .mode("append").save()
    }
    assert(e.getMessage.contains("schema mismatch") &&
      e.getMessage.contains("score"), e.getMessage)
    // the matching type still appends fine
    spark.range(100, 150).toDF("id")
      .withColumn("score", col("id") / 10.0)
      .write.format("graft-v2").option("path", dir)
      .mode("append").save()
    assert(spark.table("graft.ev.tc").count() == 150)
  }

  test("age-based vacuum keeps a version whose commit time is " +
      "unreadable") {
    import graft.sources.v2.GraftManifest
    import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path}
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.vac3 (id BIGINT)")
    spark.sql("INSERT INTO graft.tt.vac3 SELECT id FROM range(0, 1000)")
    spark.sql("DELETE FROM graft.tt.vac3 WHERE id >= 800") // v1, v2
    spark.sql("DELETE FROM graft.tt.vac3 WHERE id >= 500") // v3
    val dir = new Path(s"$warehouse/tt/vac3")
    val fs = manifestFs
    // strip v1's ts= meta line so its commit time falls back to the
    // file mtime, then serve that mtime through a failing FS — the
    // transient-error shape of ADVICE r7: commitTimeMillis → None
    val v1p = new Path(new Path(dir, GraftManifest.Dir),
      "v0000000001.txt")
    val content = {
      val in = fs.open(v1p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val stripped = content.split("\n").filterNot(_.startsWith("ts="))
      .mkString("\n")
    val out = fs.create(v1p, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    val flaky = new FilterFileSystem(fs) {
      override def getFileStatus(p: Path): FileStatus = {
        val st = super.getFileStatus(p)
        if (p.getName == v1p.getName) {
          new FileStatus(st) {
            override def getModificationTime: Long =
              throw new RuntimeException("simulated transient FS error")
          }
        } else st
      }
    }
    assert(GraftManifest.commitTimeMillis(flaky, dir, 1L).isEmpty)
    // horizon beyond everything: v2 ages out, v3 is latest, and v1 —
    // whose commit time is unreadable — must be conservatively KEPT
    GraftManifest.vacuumOlderThan(flaky, dir, maxAgeMillis = 0L,
      nowMillis = System.currentTimeMillis() + 3600000L)
    assert(GraftManifest.versions(fs, dir) == Seq(1L, 3L),
      "a version with unreadable commit time was dropped")
  }

  test("CALL restore rolls back as a new commit: contents, DVs, " +
      "history, and the old versions all stay readable") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rst")
    spark.sql("CREATE TABLE graft.rst.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.rst.t SELECT id, id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.rst.t WHERE id < 10")       // v1, v2
    spark.sql("INSERT INTO graft.rst.t SELECT id, id FROM " +
      "range(100, 150)")                                      // v3
    spark.sql("DELETE FROM graft.rst.t WHERE id >= 140")      // v4
    assert(spark.table("graft.rst.t").count() == 130)

    val r = spark.sql(
      "CALL graft.system.restore(table => 'rst.t', version => 2)")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L, r.toString)

    // live contents = version 2's exactly (DVs included: ids 0..9 gone)
    val ids = spark.table("graft.rst.t").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (10L until 100L).toSeq, s"got ${ids.length} rows")
    // the rollback is a commit, not an erasure: v4 still time-travels
    assert(spark.sql("SELECT * FROM graft.rst.t VERSION AS OF 4")
      .count() == 130)
    // and history labels it
    val h = spark.sql("CALL graft.system.history(table => 'rst.t')")
      .collect()
    assert(h.head.getLong(0) == 5L && h.head.getString(2) == "restore",
      h.head.toString)
    // the table stays writable after the rollback
    spark.sql("INSERT INTO graft.rst.t VALUES (999, 999)")
    assert(spark.table("graft.rst.t").count() == 91)
  }

  test("restore un-archives files a later overwrite displaced and " +
      "re-archives the overwrite's own files") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rst")
    spark.sql("CREATE TABLE graft.rst.ow (id BIGINT, part BIGINT)")
    spark.sql("INSERT INTO graft.rst.ow SELECT id, id % 2 FROM " +
      "range(0, 100)")
    spark.sql("DELETE FROM graft.rst.ow WHERE id = 0") // bootstrap log
    val preVersion = {
      val dir = new org.apache.hadoop.fs.Path(
        s"$warehouse/rst/ow")
      val fs = dir.getFileSystem(
        spark.sessionState.newHadoopConf())
      GraftManifest.versions(fs, dir).max
    }
    // whole-table overwrite: every original file is archived
    spark.sql("INSERT OVERWRITE graft.rst.ow SELECT id, id % 2 FROM " +
      "range(500, 520)")
    assert(spark.table("graft.rst.ow").count() == 20)

    spark.sql(s"CALL graft.system.restore(table => 'rst.ow', " +
      s"version => $preVersion)")
    assert(spark.table("graft.rst.ow").count() == 99)
    // the listing invariant holds: a V1-style refresh derives the SAME
    // state (root listing == live set), so follow-on DML is safe
    spark.sql("DELETE FROM graft.rst.ow WHERE id >= 90")
    assert(spark.table("graft.rst.ow").count() == 89)
    // the overwrite's 20-row state is itself still time-travelable
    assert(spark.sql(s"SELECT * FROM graft.rst.ow VERSION AS OF " +
      s"${preVersion + 1}").count() == 20)
  }

  test("CALL clone: zero-copy fork with DVs, schema and independence") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cl")
    spark.sql("CREATE TABLE graft.cl.src (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.cl.src SELECT id, id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.cl.src WHERE id < 10") // DV + manifest
    val r = spark.sql("CALL graft.system.clone(table => 'cl.src', " +
      "target => 'cl.fork')").collect().head
    assert(r.getInt(1) > 0, s"nothing hard-linked: $r")

    // same contents (deletion vectors included)
    assert(spark.table("graft.cl.fork").count() == 90)
    assert(spark.table("graft.cl.fork").agg(sum(col("id")))
      .head.getLong(0) == (10L until 100L).sum)
    // physical sharing: a linked data file has nlink >= 2
    val forkDir = java.nio.file.Paths.get(s"$warehouse/cl/fork")
    val shared = java.nio.file.Files.list(forkDir).iterator()
    val dataFiles = new scala.collection.mutable.ArrayBuffer[
      java.nio.file.Path]()
    while (shared.hasNext) {
      val p = shared.next()
      if (p.getFileName.toString.endsWith(".parquet")) dataFiles += p
    }
    assert(dataFiles.nonEmpty)
    assert(dataFiles.forall(p =>
      java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Integer] >= 2), "expected hard links, got copies")

    // independence both ways: DML in the fork, DML in the source
    spark.sql("DELETE FROM graft.cl.fork WHERE id >= 50")
    spark.sql("INSERT INTO graft.cl.src SELECT id, id FROM " +
      "range(1000, 1010)")
    assert(spark.table("graft.cl.fork").count() == 40)
    assert(spark.table("graft.cl.src").count() == 100)
    // vacuuming the source never tears the fork
    spark.sql("CALL graft.system.vacuum(table => 'cl.src', " +
      "keep_versions => 1)")
    assert(spark.table("graft.cl.fork").count() == 40)
  }

  test("clone VERSION AS OF forks a past state; occupied target " +
      "refused") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cl")
    spark.sql("CREATE TABLE graft.cl.tt (id BIGINT)")
    spark.sql("INSERT INTO graft.cl.tt SELECT id FROM range(0, 50)")
    spark.sql("DELETE FROM graft.cl.tt WHERE id = 0") // bootstrap log
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/cl/tt")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val preV = GraftManifest.versions(fs, dir).max
    spark.sql("INSERT INTO graft.cl.tt SELECT id FROM range(100, 150)")
    assert(spark.table("graft.cl.tt").count() == 99)
    spark.sql(s"CALL graft.system.clone(table => 'cl.tt', " +
      s"target => 'cl.tt_old', version => $preV)")
    assert(spark.table("graft.cl.tt_old").count() == 49)
    // the clone's own history starts fresh at version 1 (op=clone)
    val h = spark.sql("CALL graft.system.history(table => 'cl.tt_old')")
      .collect()
    assert(h.length == 1 && h.head.getString(2) == "clone",
      h.mkString("\n"))
    // cloning onto an occupied target refuses
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.clone(table => 'cl.tt', " +
        "target => 'cl.tt_old')")
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
  }

  test("vacuum dry_run reports the blast radius and deletes nothing; " +
      "the real run then matches it") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.vdr")
    spark.sql("CREATE TABLE graft.vdr.t (id BIGINT)")
    spark.sql("INSERT INTO graft.vdr.t SELECT id FROM range(0, 100)")
    spark.sql("DELETE FROM graft.vdr.t WHERE id = 0")
    spark.sql("INSERT OVERWRITE graft.vdr.t SELECT id FROM " +
      "range(0, 20)") // archives the originals
    spark.sql("INSERT INTO graft.vdr.t SELECT id FROM range(20, 30)")
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/vdr/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val before = GraftManifest.versions(fs, dir)

    val r = spark.sql("CALL graft.system.vacuum(table => 'vdr.t', " +
      "keep_versions => 1, dry_run => true)").collect().head
    assert(r.getInt(0) == before.length - 1, r.toString)
    assert(r.getInt(1) > 0 && r.getLong(2) > 0L, r.toString)
    // nothing was deleted
    assert(GraftManifest.versions(fs, dir) == before)
    assert(spark.sql("SELECT count(*) FROM graft.vdr.t " +
      s"VERSION AS OF ${before.head}").head.getLong(0) > 0)

    // the real run removes exactly what the preview promised
    val real = spark.sql("CALL graft.system.vacuum(" +
      "table => 'vdr.t', keep_versions => 1)").collect().head
    assert(real.getInt(0) == 1, real.toString)
    assert(GraftManifest.versions(fs, dir) == Seq(before.last))
    // and a fresh preview is now empty
    val r2 = spark.sql("CALL graft.system.vacuum(table => 'vdr.t', " +
      "keep_versions => 1, dry_run => true)").collect().head
    assert(r2.getInt(0) == 0 && r2.getInt(1) == 0, r2.toString)
  }

  test("restore no-ops at the current state and rejects unknown " +
      "versions") {
    import graft.sources.v2.GraftManifest
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rst")
    spark.sql("CREATE TABLE graft.rst.np (id BIGINT)")
    spark.sql("INSERT INTO graft.rst.np SELECT id FROM range(0, 10)")
    spark.sql("DELETE FROM graft.rst.np WHERE id = 0") // manifests on
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/rst/np")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = GraftManifest.versions(fs, dir).max
    // restoring to the live version commits nothing
    val r = spark.sql(
      s"CALL graft.system.restore(table => 'rst.np', version => $cur)")
      .collect().head
    assert(r.getLong(1) == cur, r.toString)
    assert(GraftManifest.versions(fs, dir).max == cur)
    // unknown version fails loudly with the retained range
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.restore(table => 'rst.np', " +
        "version => 99)")
    }
    assert(e.getMessage.contains("retained versions"), e.getMessage)
  }

  test("CTAS is atomic through the staging catalog: success commits, " +
      "failure leaves no table") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    spark.sql("CREATE TABLE graft.ctas.t AS " +
      "SELECT id, id * 2 AS v FROM range(0, 100)")
    assert(spark.table("graft.ctas.t").count() == 100)
    assert(spark.sql("SELECT sum(v) FROM graft.ctas.t").head.getLong(0)
      == (0L until 100L).map(_ * 2).sum)
    // the scan is the graft-v2 source
    assert(spark.table("graft.ctas.t").queryExecution.executedPlan
      .toString.contains("GraftScanV2"))
    // re-create refuses, IF NOT EXISTS tolerates
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.ctas.t AS SELECT 1 AS x")
    }
    spark.sql("CREATE TABLE IF NOT EXISTS graft.ctas.t AS " +
      "SELECT 1 AS x")
    assert(spark.table("graft.ctas.t").count() == 100)

    // a failing CTAS query must leave NO table and NO staging residue
    val udfFail = org.apache.spark.sql.functions.udf { (i: Long) =>
      if (i >= 0) throw new RuntimeException("ctas boom"); i
    }
    spark.udf.register("ctas_boom", udfFail)
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.ctas.broken AS " +
        "SELECT ctas_boom(id) AS x FROM range(0, 10)")
    }
    intercept[Exception] { spark.table("graft.ctas.broken").count() }
    val wh = new java.io.File(s"$warehouse/ctas")
    val residue = Option(wh.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(".graft-staging"))
    assert(residue.isEmpty, s"staging residue: $residue")
  }

  test("REPLACE TABLE AS SELECT swaps atomically and keeps the old " +
      "table until commit") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rtas")
    spark.sql("CREATE TABLE graft.rtas.t AS " +
      "SELECT id, id AS v FROM range(0, 50)")
    assert(spark.table("graft.rtas.t").count() == 50)
    spark.udf.register("ctas_boom",
      org.apache.spark.sql.functions.udf { (i: Long) =>
        if (i >= 0) throw new RuntimeException("ctas boom"); i
      })
    // REPLACE swaps in the new contents and schema
    spark.sql("REPLACE TABLE graft.rtas.t AS " +
      "SELECT id, concat('s', id) AS s FROM range(0, 7)")
    val t = spark.table("graft.rtas.t")
    assert(t.count() == 7)
    assert(t.schema.fieldNames.toSeq == Seq("id", "s"))
    // a failing REPLACE leaves the old table intact
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.rtas.t AS " +
        "SELECT ctas_boom(id) AS x FROM range(0, 10)")
    }
    assert(spark.table("graft.rtas.t").count() == 7,
      "failed REPLACE must not touch the standing table")
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.rtas.nope AS SELECT 1 AS x")
    }
    spark.sql("CREATE OR REPLACE TABLE graft.rtas.fresh AS " +
      "SELECT 1 AS x")
    assert(spark.table("graft.rtas.fresh").count() == 1)
    // no staging or trash residue after the swaps
    val wh = new java.io.File(s"$warehouse/rtas")
    val residue = Option(wh.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith(".graft-staging") ||
        n.startsWith(".graft-trash"))
    assert(residue.isEmpty, s"residue: $residue")
  }

  test("CTAS CLUSTERED BY stages a bucketed table whose layout " +
      "survives the promote") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cbk")
    spark.sql("CREATE TABLE graft.cbk.t CLUSTERED BY (id) " +
      "INTO 4 BUCKETS AS SELECT id, id * 3 AS v FROM range(0, 400)")
    assert(spark.table("graft.cbk.t").count() == 400)
    val dir = new org.apache.hadoop.fs.Path(s"$warehouse/cbk/t")
    val layout = graft.sources.BucketLayout.read(
      dir.getFileSystem(graft.sources.v2.GraftHadoopConf.sessionConf()),
      dir)
    assert(layout.exists(l => l.numBuckets == 4 &&
      l.bucketCols == Seq("id")), layout.toString)
    // bucketed self-join on the promoted table is shuffle-free (SPJ)
    val j = spark.table("graft.cbk.t").as("a")
      .join(spark.table("graft.cbk.t").as("b"), "id")
    assert(j.count() == 400)
    assert(!j.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      j.queryExecution.executedPlan.toString.take(2000))
  }

  test("column DEFAULT values: CREATE, fill, SET/DROP DEFAULT") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dflt")
    spark.sql("CREATE TABLE graft.dflt.t (id BIGINT, " +
      "v BIGINT DEFAULT 7, s STRING DEFAULT 'x')")
    // omitted columns fill their CREATE-time defaults
    spark.sql("INSERT INTO graft.dflt.t (id) VALUES (1)")
    // the DEFAULT keyword resolves too
    spark.sql("INSERT INTO graft.dflt.t VALUES (2, DEFAULT, DEFAULT)")
    // explicit values still win
    spark.sql("INSERT INTO graft.dflt.t VALUES (3, 30, 'y')")
    val rows = spark.table("graft.dflt.t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq === Seq((1L, 7L, "x"), (2L, 7L, "x"),
      (3L, 30L, "y")))

    // SET DEFAULT affects future inserts only
    spark.sql("ALTER TABLE graft.dflt.t ALTER COLUMN v SET DEFAULT 9")
    spark.sql("INSERT INTO graft.dflt.t (id) VALUES (4)")
    assert(spark.sql(
      "SELECT v FROM graft.dflt.t WHERE id = 4").head.getLong(0) === 9L)
    assert(spark.sql(
      "SELECT v FROM graft.dflt.t WHERE id = 1").head.getLong(0) === 7L)

    // DROP DEFAULT: gaps write NULL again
    spark.sql("ALTER TABLE graft.dflt.t ALTER COLUMN v DROP DEFAULT")
    spark.sql("INSERT INTO graft.dflt.t (id) VALUES (5)")
    assert(spark.sql(
      "SELECT v FROM graft.dflt.t WHERE id = 5").head.isNullAt(0))
    // s kept its own default throughout
    assert(spark.sql(
      "SELECT s FROM graft.dflt.t WHERE id = 5").head.getString(0)
      === "x")

    // defaults survive a fresh table load (every statement re-loads
    // the table from the marker — GraftCatalog caches nothing)
    spark.sql("INSERT INTO graft.dflt.t (id) VALUES (6)")
    assert(spark.sql(
      "SELECT s FROM graft.dflt.t WHERE id = 6").head.getString(0)
      === "x")

    // ADD COLUMN with a DEFAULT stays rejected (old rows read NULL)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.dflt.t ADD COLUMN w INT DEFAULT 5")
    }
    assert(e.getMessage.contains("DEFAULT is not supported") ||
      Option(e.getCause).exists(
        _.getMessage.contains("DEFAULT is not supported")),
      s"unexpected: $e")
  }

  test("TBLPROPERTIES: CREATE, SET, UNSET, marker round-trip") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.props")
    spark.sql("CREATE TABLE graft.props.t (id BIGINT) " +
      "TBLPROPERTIES ('team'='data', 'pii'='false')")
    def show(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES graft.props.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show().get("team") === Some("data"))
    assert(show().get("pii") === Some("false"))

    spark.sql("ALTER TABLE graft.props.t SET TBLPROPERTIES " +
      "('pii'='true', 'retention'='30d')")
    assert(show().get("pii") === Some("true"))
    assert(show().get("retention") === Some("30d"))

    spark.sql("ALTER TABLE graft.props.t UNSET TBLPROPERTIES ('team')")
    assert(show().get("team") === None)

    // properties survive unrelated schema evolution (marker rewrite)
    spark.sql("ALTER TABLE graft.props.t ADD COLUMN v BIGINT")
    assert(show().get("retention") === Some("30d"))
  }

  test("DEFAULT rides RENAME and disappears with DROP COLUMN") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dflt2")
    spark.sql("CREATE TABLE graft.dflt2.t (id BIGINT, " +
      "v BIGINT DEFAULT 3, u BIGINT DEFAULT 4)")
    spark.sql("INSERT INTO graft.dflt2.t (id) VALUES (1)")
    spark.sql("ALTER TABLE graft.dflt2.t RENAME COLUMN v TO v2")
    spark.sql("INSERT INTO graft.dflt2.t (id) VALUES (2)")
    assert(spark.sql(
      "SELECT v2 FROM graft.dflt2.t WHERE id = 2").head.getLong(0)
      === 3L)
    spark.sql("ALTER TABLE graft.dflt2.t DROP COLUMN u")
    // re-adding a different-named column has no stale default
    spark.sql("ALTER TABLE graft.dflt2.t ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO graft.dflt2.t (id) VALUES (3)")
    assert(spark.sql(
      "SELECT w FROM graft.dflt2.t WHERE id = 3").head.isNullAt(0))
  }

  test("metadata tables: t.files / t.history / t.tags read through " +
      "SQL; dv sidecars and ops surface; a real table named files " +
      "shadows the fallback") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.meta.t SELECT id, id FROM range(100)")
    spark.sql("INSERT INTO graft.meta.t " +
      "SELECT id, id FROM range(100, 200)")
    // DV point delete: one file gains a sidecar
    spark.sql("DELETE FROM graft.meta.t WHERE id = 7")
    spark.sql("CALL graft.system.tag(table => 'meta.t', " +
      "name => 'v2pin', version => 2)")

    val files = spark.sql("SELECT * FROM graft.meta.t.files")
      .collect()
    assert(files.length >= 2, files.mkString(","))
    assert(files.forall(r => r.getString(0).endsWith(".parquet") &&
      r.getLong(1) > 0L))
    // footer row counts sum to the PHYSICAL rows (the deleted row is
    // masked, not rewritten)
    assert(files.map(_.getLong(2)).sum === 200L)
    assert(files.count(!_.isNullAt(3)) === 1,
      "exactly one file should carry a deletion vector")

    val hist = spark.sql(
      "SELECT version, operation FROM graft.meta.t.history " +
      "ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._1) === (1L to hist.length))
    assert(hist.exists(_._2 == "delete"), hist.mkString(","))

    val tags = spark.sql("SELECT * FROM graft.meta.t.tags").collect()
    assert(tags.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("v2pin", 2L)))

    // bloom sidecar coverage: before any index, bloom_cols is NULL;
    // after a build, every data file reports the indexed column
    assert(files.forall(_.isNullAt(6)), "bloom_cols before any index")
    graft.sources.v2.BloomIndex.build(spark, s"$warehouse/meta/t",
      Seq("id"), fpp = 0.02)
    val bloomed = spark.sql(
      "SELECT file, bloom_cols FROM graft.meta.t.files").collect()
    assert(bloomed.forall(r => !r.isNullAt(1) &&
      r.getString(1) == "id(fpp=0.02)"),
      bloomed.map(r => s"${r.getString(0)}:${r.getString(1)}")
        .mkString(","))

    // files time-travels: the log bootstraps at the DELETE, so v1 is
    // the pre-mutation state — both appends, no deletion vector — and
    // the tagged v2 is the post-delete state carrying the DV
    val v1Files = spark.sql(
      "SELECT * FROM graft.meta.t.files VERSION AS OF 1").collect()
    assert(v1Files.map(_.getLong(2)).sum === 200L, "v1 physical rows")
    assert(v1Files.forall(_.isNullAt(3)), "v1 predates the DV")
    val tagFiles = spark.sql(
      "SELECT * FROM graft.meta.t.files VERSION AS OF 'v2pin'")
      .collect()
    assert(tagFiles.count(!_.isNullAt(3)) === 1,
      "tagged v2 must carry the deletion vector")
    // history/tags describe the whole log: time travel refuses
    val eTT = intercept[Exception] {
      spark.sql("SELECT * FROM graft.meta.t.history VERSION AS OF 1")
        .collect()
    }
    assert(eTT.getMessage.contains("whole log"), eTT.getMessage)

    // a REAL table named `files` under the same namespace chain wins
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta.t2")
    spark.sql("CREATE TABLE graft.meta.t2.files (x BIGINT)")
    spark.sql("INSERT INTO graft.meta.t2.files VALUES (42)")
    assert(spark.sql("SELECT x FROM graft.meta.t2.files")
      .head.getLong(0) === 42L)
    spark.sql("DROP TABLE graft.meta.t2.files")
    spark.sql("DROP TABLE graft.meta.t")
  }

  test("CALL dq_check: per-rule violation rows over one scan; bad " +
      "rule strings refuse") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dq")
    spark.sql("CREATE TABLE graft.dq.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.dq.t VALUES " +
      "(1, 0.5), (2, 2.5), (3, NULL)")
    val got = spark.sql("CALL graft.system.dq_check(" +
      "table => 'dq.t', " +
      "rules => 'id_pos: id > 0; v_small: v <= 1.0')")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === Map(
      "id_pos" -> ((3L, 0L, true)),
      // 2.5 violates, NULL v counts as a violation
      "v_small" -> ((3L, 2L, false))))
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.dq_check(table => 'dq.t', " +
        "rules => 'no-colon-here')").collect()
    }
    assert(e.getMessage.contains("name:predicate"), e.getMessage)
    spark.sql("DROP TABLE graft.dq.t")
  }

  test("CALL decon_index + decontaminate: the persisted index sweeps " +
      "a corpus table from SQL alone") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dcx")
    spark.sql("CREATE TABLE graft.dcx.bench (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO graft.dcx.bench VALUES " +
      "(100, 'the quick brown fox jumps over fences')")
    spark.sql("CREATE TABLE graft.dcx.corpus (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO graft.dcx.corpus VALUES " +
      "(1, 'lazy dogs sleep all day long'), " +
      "(2, 'said the quick brown fox yesterday evening'), " +
      "(3, 'quick brown fox')")
    val idx = tempDir("graft-call-decon").toString
    val built = spark.sql("CALL graft.system.decon_index(" +
      s"table => 'dcx.bench', path => '$idx')").head()
    // 'the quick brown fox jumps over fences' = 5 distinct 3-grams
    assert(built.getLong(0) === 5L, built.toString)
    assert(built.getInt(1) === 3)
    val swept = spark.sql("CALL graft.system.decontaminate(" +
      s"table => 'dcx.corpus', index => '$idx')").head()
    // docs 2 and 3 share grams with the benchmark; doc 3 is 100%
    assert(swept.getLong(0) === 3L, swept.toString)
    assert(swept.getLong(1) === 2L, swept.toString)
    assert(swept.getDouble(2) === 1.0, swept.toString)
    // the XL (bloom + shuffled) probe path through the same CALL
    val sweptXl = spark.sql("CALL graft.system.decontaminate(" +
      s"table => 'dcx.corpus', index => '$idx', " +
      "max_broadcast_grams => 0)").head()
    assert(sweptXl === swept, s"$sweptXl vs $swept")
    spark.sql("DROP TABLE graft.dcx.bench")
    spark.sql("DROP TABLE graft.dcx.corpus")
  }

  test("CALL dq_check: foreign_key rules count orphans (riCheck " +
      "anti-join semantics) alongside row rules") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dq")
    spark.sql("CREATE TABLE graft.dq.child (id BIGINT, pid BIGINT)")
    spark.sql("CREATE TABLE graft.dq.parent (pk BIGINT)")
    spark.sql("INSERT INTO graft.dq.child VALUES " +
      "(1, 10), (2, 11), (3, 99), (4, NULL)") // 99 + NULL = 2 orphans
    spark.sql("INSERT INTO graft.dq.parent VALUES (10), (11), (12)")
    val got = spark.sql("CALL graft.system.dq_check(" +
      "table => 'dq.child', " +
      "rules => 'id_pos: id > 0; " +
      "pid_fk: foreign_key(pid, graft.dq.parent, pk)')")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === Map(
      "id_pos" -> ((4L, 0L, true)),
      "pid_fk" -> ((4L, 2L, false))))
    // malformed foreign_key form refuses with guidance
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.dq_check(table => 'dq.child', " +
        "rules => 'bad: foreign_key(pid only)')").collect()
    }
    assert(e.getMessage.contains("foreign_key(child_col"),
      e.getMessage)
    spark.sql("DROP TABLE graft.dq.child")
    spark.sql("DROP TABLE graft.dq.parent")
  }

  test("metadata table t.profile: zero-scan per-column stats; empty " +
      "under deletion vectors") {
    val _ = warehouse
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.tp (id BIGINT, name STRING)")
    // stats-covered appends land directly in the table dir (same
    // path-op precedent as the bloom build above)
    Seq((1L, "apple"), (7L, "pear"))
      .toDF("id", "name").repartition(1)
      .write.format("graft-v2").option("statsColumns", "id,name")
      .option("changelog", "true").mode("append")
      .save(s"$warehouse/meta/tp")
    Seq((12L, "zebra"), (3L, "fig"))
      .toDF("id", "name").repartition(1)
      .write.format("graft-v2").option("statsColumns", "id,name")
      .mode("append").save(s"$warehouse/meta/tp")
    val prof = spark.sql("SELECT * FROM graft.meta.tp.profile")
      .collect().map(r => (r.getString(0), (r.getLong(1),
        r.getLong(2), r.getString(3), r.getString(4),
        r.getBoolean(5)))).toMap
    assert(prof("id") === ((4L, 0L, "1", "12", true)))
    assert(prof("name")._1 === 4L && !prof("name")._5)
    assert(prof("name")._3 <= "apple" && prof("name")._4 >= "zebra")
    // a DV-masked snapshot reports EMPTY (counts would overcount)
    spark.sql(s"DELETE FROM graft.meta.tp WHERE id = 7")
    val snap = graft.sources.v2.GraftManifest.current(
      new org.apache.hadoop.fs.Path(s"$warehouse/meta/tp")
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$warehouse/meta/tp")).get
    if (snap.dvs.nonEmpty) {
      assert(spark.sql("SELECT * FROM graft.meta.tp.profile")
        .collect().isEmpty)
    }
    spark.sql("DROP TABLE graft.meta.tp")
  }
}
