package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.v2.{GraftManifest, Wap}

/** Write–audit–publish lifecycle: staged batches are invisible, the
  * audit view is exact, publish is one atomic manifest version (and
  * idempotent across a crashed retry), abort leaves no trace. */
class WapSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(name: String): String = {
    val dir = tempDir(s"graft-wap-$name").toString
    s"$dir/t"
  }

  private def writeBase(path: String, n: Int): Unit =
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .write.format("graft-v2").mode("append").save(path)

  test("staged rows are invisible until publish; audit sees them") {
    val path = freshTable("vis")
    writeBase(path, 10)
    val staged = (11 to 25).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    Wap.stage(spark, path, staged, "b1")
    assert(spark.read.format("graft-v2").load(path).count() === 10L,
      "staged rows leaked")
    assert(Wap.audit(spark, path, "b1").count() === 25L)
    val names = Wap.publish(spark, path, "b1")
    assert(names.nonEmpty && names.forall(_.startsWith("wap-b1-")))
    val after = spark.read.format("graft-v2").load(path)
    assert(after.count() === 25L)
    assert(after.agg(sum($"id")).head().getLong(0) === (1 to 25).sum)
  }

  test("publish is ONE manifest version and is idempotent when " +
      "retried after a simulated crash mid-publish") {
    val path = freshTable("idem")
    writeBase(path, 5)
    val t = new Path(path)
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    // a plain batch write needs no manifest yet; the publish commit
    // bootstraps one — liveState reports version 0 + root listing
    val v0 = GraftManifest.liveState(fs, t).version
    Wap.stage(spark, path, Seq((6L, "v6"), (7L, "v7")).toDF("id", "s"),
      "b2")
    // simulate the crash window: files renamed to the root under the
    // deterministic prefix but the manifest CAS never ran
    val dir = Wap.branchDir(t, "b2")
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (st, i) =>
        assert(fs.rename(st.getPath,
          new Path(t, f"wap-b2-$i%05d.parquet")))
      }
    // re-running publish adopts the orphans and commits exactly once
    val names = Wap.publish(spark, path, "b2")
    assert(names.size === fs.listStatus(t).count(st => st.isFile &&
      st.getPath.getName.startsWith("wap-b2-")))
    val v1 = GraftManifest.current(fs, t).get.version
    assert(v1 === v0 + 1, s"expected one commit, got $v0 -> $v1")
    assert(spark.read.format("graft-v2").load(path).count() === 7L)
    // a second publish of the now-empty branch commits nothing
    assert(Wap.publish(spark, path, "b2").isEmpty)
    assert(GraftManifest.current(fs, t).get.version === v1)
  }

  test("abort drops the stage; re-staging a branch replaces it") {
    val path = freshTable("abort")
    writeBase(path, 3)
    Wap.stage(spark, path, Seq((4L, "x")).toDF("id", "s"), "b3")
    Wap.abort(spark, path, "b3")
    val t = new Path(path)
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(Wap.branchDir(t, "b3")))
    // abort never writes a version
    Wap.stage(spark, path, Seq((5L, "y")).toDF("id", "s"), "b3")
    Wap.stage(spark, path, Seq((6L, "z")).toDF("id", "s"), "b3")
    Wap.publish(spark, path, "b3")
    val ids = spark.read.format("graft-v2").load(path)
      .select($"id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L, 6L), "re-stage did not replace")
  }

  test("CALL graft.system.wap_publish / wap_abort drive the same " +
      "lifecycle from SQL") {
    val wh = tempDir("graft-wap-sql").toString
    spark.conf.set("spark.sql.catalog.graftwap",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftwap.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftwap.ns")
    spark.sql("CREATE TABLE graftwap.ns.t (id BIGINT, s STRING)")
    spark.sql("INSERT INTO graftwap.ns.t SELECT id, 'a' FROM range(0, 8)")
    val path = s"$wh/ns/t"
    Wap.stage(spark, path,
      Seq((100L, "b"), (101L, "b")).toDF("id", "s"), "sqlb")
    assert(spark.table("graftwap.ns.t").count() === 8L)
    val pub = spark.sql("CALL graftwap.system.wap_publish(" +
      "table => 'ns.t', branch => 'sqlb')").collect()
    assert(pub.head.getString(0) === "sqlb" && pub.head.getInt(1) >= 1)
    assert(spark.table("graftwap.ns.t").count() === 10L)
    Wap.stage(spark, path, Seq((200L, "c")).toDF("id", "s"), "sqlb")
    val ab = spark.sql("CALL graftwap.system.wap_abort(" +
      "table => 'ns.t', branch => 'sqlb')").collect()
    assert(ab.head.getString(1) === "aborted")
    assert(spark.table("graftwap.ns.t").count() === 10L)
    val t = new Path(path)
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(Wap.branchDir(t, "sqlb")))
  }

  test("invalid branch names are rejected") {
    val path = freshTable("names")
    writeBase(path, 1)
    val df = Seq((2L, "a")).toDF("id", "s")
    intercept[IllegalArgumentException](Wap.stage(spark, path, df, ""))
    intercept[IllegalArgumentException](
      Wap.stage(spark, path, df, "1bad"))
    intercept[IllegalArgumentException](
      Wap.stage(spark, path, df, "a/b"))
  }
}
