package graft
object VerifyDrive {
  def main(args: Array[String]): Unit = {
    val spark =
      LocalSession("spark.sql.extensions" -> "graft.GraftExtensions")
    // user flow: read through the graft source, limit, show
    val df = spark.read.format("graft")
      .option("path", "/root/testdata/sf0.001/lineitem.parquet").load()
      .limit(5)
    println("== optimizedPlan ==")
    println(df.queryExecution.optimizedPlan)
    df.select("l_orderkey", "l_linenumber", "l_quantity").show()
    // user flow: SQL function registered by extensions
    println("SQL cosine_sim -> " + spark.sql(
      "SELECT cosine_sim(array(1.0d,2.0d), array(1.0d,2.0d))").head.getDouble(0))
    println("SQL lang_guess -> " + spark.sql(
      "SELECT lang_guess('the cat and the dog went into the house')")
      .head.getString(0))
    println("SQL ngram_jaccard -> " + spark.sql(
      "SELECT ngram_jaccard('abcdef', 'abcdef', 3)").head.getDouble(0))
    // probe 1: missing path option
    try { spark.read.format("graft").load() }
    catch { case e: Exception => println("PROBE missing-path -> " + e.getMessage) }
    // probe 2: nonexistent file
    try { spark.read.format("graft").option("path", "/tmp/nope.parquet").load() }
    catch { case e: Exception =>
      println("PROBE bad-path -> " + e.getClass.getSimpleName + ": " +
        e.getMessage.linesIterator.next()) }
    // probe 3: write then ErrorIfExists double-write
    val out = java.nio.file.Files.createTempDirectory("drive").resolve("t").toString
    df.write.format("graft").option("path", out).save()
    println("wrote " + spark.read.parquet(out).count() + " rows via graft sink")
    try { df.write.format("graft").option("path", out).save() }
    catch { case e: Exception =>
      println("PROBE double-write -> " + e.getMessage.linesIterator.next()) }
    // user flow: SQL catalog — CREATE / INSERT / REPLACE WHERE / SELECT
    val wh = java.nio.file.Files.createTempDirectory("drive-cat").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft.d")
    spark.sql("CREATE TABLE graft.d.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.d.t SELECT id, id * 2 FROM range(0, 100)")
    spark.sql("INSERT INTO graft.d.t REPLACE WHERE id >= 90 " +
      "SELECT id, -1L FROM range(90, 95)")
    println("CATALOG rows after REPLACE WHERE -> " +
      spark.table("graft.d.t").count() + " (expect 95)")
    // user flow: maintenance — replaceWhere + compact on a path table
    import org.apache.spark.sql.functions.col
    val mnt = java.nio.file.Files.createTempDirectory("drive-mnt")
      .resolve("t").toString
    (0 until 4).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .coalesce(1).write.mode("append").parquet(mnt)
    }
    sources.GraftSink.replaceWhere(
      spark.range(300L, 305L).toDF("id"), mnt,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 300L))
    val (cb, ca) = sources.GraftSink.compact(spark, mnt,
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue)
    println(s"MAINTENANCE replaceWhere+compact -> " +
      spark.read.parquet(mnt).count() + " rows (expect 305), " +
      s"compacted $cb files to $ca")
    // user flow: SQL-first bucketed tables — CLUSTERED BY create,
    // bucket-preserving INSERT, storage-partitioned join, bucket prune
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("CREATE TABLE graft.d.f (id BIGINT, v BIGINT) " +
      "CLUSTERED BY (id) INTO 8 BUCKETS")
    spark.sql("CREATE TABLE graft.d.g (id BIGINT, w BIGINT) " +
      "CLUSTERED BY (id) INTO 8 BUCKETS")
    spark.sql("INSERT INTO graft.d.f SELECT id, id * 2 FROM range(0, 10000)")
    spark.sql("INSERT INTO graft.d.g SELECT id, id * 5 FROM range(0, 10000)")
    val spj = spark.sql("SELECT f.id, f.v, g.w FROM graft.d.f f " +
      "JOIN graft.d.g g ON f.id = g.id")
    val spjRows = spj.count()
    val spjPlan = spj.queryExecution.executedPlan.toString
    println(s"BUCKETED spj-join -> $spjRows rows (expect 10000), " +
      s"shuffle-free=${!spjPlan.contains("Exchange")} (expect true)")
    println("BUCKETED point-prune -> " + spark.sql(
      "SELECT count(*) FROM graft.d.f WHERE id = 4242").head.getLong(0) +
      " row(s) (expect 1)")
    // user flow: the SQL DML surface end-to-end on the catalog table
    spark.sql("DELETE FROM graft.d.t WHERE id < 10")
    spark.sql("UPDATE graft.d.t SET v = 0 WHERE id >= 80")
    spark.sql(
      """MERGE INTO graft.d.t t
        |USING (SELECT id, id * 7 AS nv FROM range(50, 110)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
        |""".stripMargin)
    spark.sql("ALTER TABLE graft.d.t ADD COLUMNS (score DOUBLE)")
    val dml = spark.table("graft.d.t")
    println("DML delete+update+merge+evolve -> " + dml.count() +
      " rows (expect 100), merged v=7id rows: " +
      dml.filter(col("v") === col("id") * 7).count() +
      " (expect 60), score all NULL: " +
      dml.filter(col("score").isNull).count() + " (expect 100)")
    // user flow: MATERIALIZED VIEW DDL through the injected parser
    spark.sql("CREATE TABLE graft.d.sales " +
      "(id BIGINT, grp STRING, amt BIGINT NOT NULL)")
    spark.sql("INSERT INTO graft.d.sales " +
      "SELECT id, concat('g', id % 3), id FROM range(0, 300)")
    spark.sql("CREATE MATERIALIZED VIEW graft.d.sales_by_grp AS " +
      "SELECT grp, count(*) AS cnt, sum(amt) AS total " +
      "FROM graft.d.sales GROUP BY grp")
    spark.sql("DELETE FROM graft.d.sales WHERE grp = 'g2'")
    val mvr = spark.sql(
      "REFRESH MATERIALIZED VIEW graft.d.sales_by_grp").collect()(0)
    println("MV create+refresh -> mode=" + mvr.getString(0) +
      " (expect delta), groups now: " + spark.sql(
      "SELECT count(*) FROM graft.d.sales_by_grp").head.getLong(0) +
      " (expect 2)")
    spark.sql("DROP MATERIALIZED VIEW graft.d.sales_by_grp")
    // user flow: hidden partitioning through SQL DDL, pruned scan,
    // metadata tables
    spark.sql("CREATE TABLE graft.d.events " +
      "(id BIGINT, grp STRING, v BIGINT) PARTITIONED BY (grp)")
    spark.sql("INSERT INTO graft.d.events " +
      "SELECT id, concat('g', id % 4), id FROM range(0, 400)")
    val hp = spark.sql(
      "SELECT count(*) FROM graft.d.events WHERE grp = 'g1'")
      .head.getLong(0)
    val hpParts = spark.sql(
      "SELECT * FROM graft.d.events WHERE grp = 'g1'")
      .rdd.getNumPartitions
    val hpAll = spark.table("graft.d.events").rdd.getNumPartitions
    println(s"HIDDEN-PARTITIONED scan -> $hp rows (expect 100), " +
      s"planned $hpParts of $hpAll partitions (expect pruned)")
    val metaFiles = spark.sql(
      "SELECT count(*) FROM graft.d.events.files").head.getLong(0)
    val metaHist = spark.sql(
      "SELECT count(*) FROM graft.d.events.history").head.getLong(0)
    println(s"METADATA tables -> files=$metaFiles (expect > 0), " +
      s"history=$metaHist versions")
    // bloom sidecar coverage surfaces per file in t.files
    graft.sources.v2.BloomIndex.build(spark, s"$wh/d/events",
      Seq("id"), fpp = 0.01)
    val bloomCovered = spark.sql(
      "SELECT count(*) FROM graft.d.events.files " +
      "WHERE bloom_cols LIKE 'id(fpp=0.01)%'").head.getLong(0)
    println(s"METADATA t.files bloom_cols -> $bloomCovered of " +
      s"$metaFiles files covered (expect all)")
    spark.stop()
  }
}
