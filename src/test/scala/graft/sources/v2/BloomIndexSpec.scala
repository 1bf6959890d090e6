package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** File-level bloom index: build, incremental extend, planning-time
  * prune, soundness (no lost rows), and DDL hygiene. */
class BloomIndexSpec extends SparkTestBase {

  private def freshDir(tag: String): String =
    tempDir(s"graft-bloom-$tag").toString

  /** Three appends = three data files; the indexed key `k` INTERLEAVES
    * lexicographically across files (every file spans ~the whole key
    * range), so footer min/max pruning is useless for a point lookup
    * and any file-count reduction is the bloom index's doing. */
  private def threeFileTable(dir: String): Unit = {
    import spark.implicits._
    (0 until 3).foreach { f =>
      (0 until 200).map(i => (f"key_${i}%03d_$f", f.toLong * 1000 + i))
        .toDF("k", "v").repartition(1)
        .write.format("graft-v2").mode("append").save(dir)
    }
  }

  private def dataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(GraftHadoopConf.sessionConf())
    fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
  }

  private def scanRows(df: DataFrame): Long = {
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.head
    scan.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsReportStatistics].estimateStatistics().numRows().getAsLong
  }

  test("point lookup prunes to the one file that might hold the key") {
    val dir = freshDir("prune")
    threeFileTable(dir)
    assert(dataFiles(dir).size == 3)
    val (n, already) = BloomIndex.build(spark, dir, Seq("k"))
    assert(n == 3 && already == 0)
    val df = spark.read.format("graft-v2").load(dir)
    // un-filtered scan covers everything
    assert(scanRows(df) == 600L)
    // the key lives in exactly one file, but every file's [min, max]
    // admits it — only the bloom can prune here
    val hit = df.filter(col("k") === "key_042_1")
    assert(scanRows(hit) <= 200L, "bloom should prune to ~1 file")
    assert(hit.count() == 1L)
    assert(hit.head.getLong(1) == 1042L)
    // absent key: every bloom says no -> zero files, zero rows
    val miss = df.filter(col("k") === "key_042_9")
    assert(scanRows(miss) == 0L, "absent key should prune all files")
    assert(miss.count() == 0L)
    // IN over two files keeps both (and only those, modulo fp)
    val in2 = df.filter(col("k").isin("key_001_0", "key_001_2"))
    assert(scanRows(in2) <= 400L)
    assert(in2.count() == 2L)
  }

  test("build is incremental: appended files get indexed on re-run, " +
      "un-indexed files always survive the prune") {
    import spark.implicits._
    val dir = freshDir("incr")
    threeFileTable(dir)
    assert(BloomIndex.build(spark, dir, Seq("k")) == ((3, 0)))
    // a fourth file lands AFTER the index was built
    Seq(("key_042_new", 9999L)).toDF("k", "v").repartition(1)
      .write.format("graft-v2").mode("append").save(dir)
    val df = spark.read.format("graft-v2").load(dir)
    // its key is findable even though no sidecar exists for it
    assert(df.filter(col("k") === "key_042_new").count() == 1L)
    // re-run indexes ONLY the new file
    assert(BloomIndex.build(spark, dir, Seq("k")) == ((1, 3)))
    // and an absent key now prunes the whole 4-file table
    assert(scanRows(df.filter(col("k") === "nope")) == 0L)
  }

  test("soundness: an indexed scan returns exactly the unpruned rows") {
    val dir = freshDir("sound")
    threeFileTable(dir)
    val df = spark.read.format("graft-v2").load(dir)
    val keys = Seq("key_000_0", "key_100_1", "key_199_2", "ghost")
    val before = keys.map(k =>
      df.filter(col("k") === k).collect().toSeq)
    BloomIndex.build(spark, dir, Seq("k"))
    val after = keys.map(k =>
      df.filter(col("k") === k).collect().toSeq)
    assert(before == after)
    // conjunction with an unindexed predicate still prunes on k
    val conj = df.filter(col("k") === "key_050_1" && col("v") > 0)
    assert(conj.count() == 1L)
  }

  test("long/typed columns index too (hash normalization)") {
    val dir = freshDir("typed")
    threeFileTable(dir)
    BloomIndex.build(spark, dir, Seq("v"))
    val df = spark.read.format("graft-v2").load(dir)
    assert(df.filter(col("v") === 2042L).count() == 1L)
    // v=2042 only exists in file 2; min/max CAN also prune longs, so
    // just assert correctness + that an absent value yields nothing
    assert(df.filter(col("v") === 777777L).count() == 0L)
  }

  test("runtime (DPP-style) IN filters bloom-prune files at " +
      "planInputPartitions time") {
    val dir = freshDir("rt")
    threeFileTable(dir)
    BloomIndex.build(spark, dir, Seq("k"), fpp = 0.0001)
    val df = spark.read.format("graft-v2").load(dir)
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
    }.head
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read
      .Batch]
    val all = batch.planInputPartitions().length
    assert(all >= 3)
    // a runtime IN over keys of ONE file (as a joined build side
    // would deliver) prunes the other files' partitions
    scan.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k",
          Array("key_010_1", "key_020_1"))))
    val pruned = batch.planInputPartitions().length
    assert(pruned < all, s"runtime bloom prune: $pruned vs $all")
  }

  test("vacuum sweeps bloom sidecars orphaned by compaction, keeps " +
      "live ones") {
    val dir = freshDir("vac")
    threeFileTable(dir)
    // a manifest must exist for vacuum to act on
    GraftCdf.enableChangeFeed(spark, dir)
    BloomIndex.build(spark, dir, Seq("k"))
    val p = new Path(dir)
    val fs = p.getFileSystem(GraftHadoopConf.sessionConf())
    val bloomDir = new Path(new Path(p, BloomIndex.Dir),
      java.net.URLEncoder.encode("k", "UTF-8"))
    def blooms(): Set[String] = fs.listStatus(bloomDir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".bloom")).toSet
    val before = blooms()
    assert(before.size == 3)
    // compaction replaces the files -> the old sidecars are orphans
    graft.sources.GraftSink.compact(spark, dir)
    GraftManifest.vacuum(fs, p, keepVersions = 1, dvGraceMillis = 0L)
    val after = blooms()
    assert(after.intersect(before).isEmpty,
      s"orphaned sidecars should be swept: kept ${after.intersect(before)}")
    // the compacted file is un-indexed until the next build; rebuild
    // indexes exactly the new files and lookups stay correct
    val (n, already) = BloomIndex.build(spark, dir, Seq("k"))
    assert(n >= 1 && already == 0, s"($n, $already)")
    val df = spark.read.format("graft-v2").load(dir)
    assert(df.filter(col("k") === "key_042_1").count() == 1L)
  }

  test("auto-maintenance: an auto index covers files from later " +
      "writes and compactions without a manual rebuild") {
    val dir = freshDir("auto")
    threeFileTable(dir)
    BloomIndex.build(spark, dir, Seq("k"), fpp = 0.0001, auto = true)
    val p = new Path(dir)
    val fs = p.getFileSystem(GraftHadoopConf.sessionConf())
    assert(BloomIndex.indexMeta(fs, p).exists(ci =>
      ci.col == "k" && ci.auto))
    // a V2 append auto-extends: the absent-key prune covers the NEW
    // file too (an un-indexed file would have survived and kept the
    // planned rows > 0)
    import spark.implicits._
    Seq(("key_fresh", 1L)).toDF("k", "v").repartition(1)
      .write.format("graft-v2").mode("append").save(dir)
    val df = spark.read.format("graft-v2").load(dir)
    assert(scanRows(df.filter(col("k") === "nope")) == 0L,
      "append should have auto-extended the index")
    assert(df.filter(col("k") === "key_fresh").count() == 1L)
    // compaction re-covers the merged output
    graft.sources.GraftSink.compact(spark, dir, smallBytes = Long.MaxValue)
    assert(scanRows(spark.read.format("graft-v2").load(dir)
      .filter(col("k") === "nope")) == 0L,
      "compact should have auto-extended the index")
    // a manual incremental re-run keeps the sticky auto flag
    BloomIndex.build(spark, dir, Seq("k"))
    assert(BloomIndex.indexMeta(fs, p).exists(ci =>
      ci.col == "k" && ci.auto))
    // a V1 append auto-extends too
    Seq(("key_v1", 2L)).toDF("k", "v").repartition(1)
      .write.format("graft").mode("append").save(dir)
    assert(scanRows(spark.read.format("graft-v2").load(dir)
      .filter(col("k") === "nope")) == 0L,
      "V1 append should have auto-extended the index")
  }

  test("CALL bloom_index + DDL hygiene: rename/drop column removes " +
      "the stale index") {
    val wh = freshDir("cat")
    spark.conf.set("spark.sql.catalog.gbloom",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbloom.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbloom.ns")
    spark.sql("CREATE TABLE gbloom.ns.t (k STRING, v BIGINT)")
    spark.sql("INSERT INTO gbloom.ns.t " +
      "SELECT concat('k', id), id FROM range(0, 500)")
    val res = spark.sql("CALL gbloom.system.bloom_index(" +
      "table => 'ns.t', columns => 'k')").collect()(0)
    assert(res.getInt(0) >= 1 && res.getString(2) == "k")
    val tdir = new Path(s"$wh/ns/t")
    val fs = tdir.getFileSystem(GraftHadoopConf.sessionConf())
    assert(BloomIndex.indexedColumns(fs, tdir) == Seq("k"))
    assert(spark.sql(
      "SELECT v FROM gbloom.ns.t WHERE k = 'k42'").head.getLong(0) == 42L)
    // rename drops the index: a future column named k must not
    // inherit these sidecars
    spark.sql("ALTER TABLE gbloom.ns.t RENAME COLUMN k TO key")
    assert(BloomIndex.indexedColumns(fs, tdir).isEmpty)
    // rebuild on the new name, then CALL ... drop => true removes it
    spark.sql("CALL gbloom.system.bloom_index(" +
      "table => 'ns.t', columns => 'key')")
    assert(BloomIndex.indexedColumns(fs, tdir) == Seq("key"))
    spark.sql("CALL gbloom.system.bloom_index(" +
      "table => 'ns.t', columns => 'key', drop => true)")
    assert(BloomIndex.indexedColumns(fs, tdir).isEmpty)
  }
}
