package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._

/** The barrier/release lifecycle (round-20 gate item): every
  * `Materialize.barrier` site pins storage only until the harness's
  * per-query `Materialize.release` — nothing survives the release, and
  * the barrier is a streaming no-op. A release frees only the calling
  * thread's barriers, never a cache's buffers, and deletes a lifecycle
  * query's temp directory. The last cases drive [[Harness]]'s
  * per-query loop, the one every main runs queries through. */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  test("barrier registers pinned storage and release reclaims it") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 100).toDF("x")
      .groupBy(($"x" % 7).as("k")).agg(sum($"x").as("s"))
      .transform(Materialize.barrier)
    // lazy checkpoint registers its RDD at call time
    val created = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(created.nonEmpty, "barrier registered no persistent RDD")
    // two consumers both see the data (and the checkpoint computes)
    assert(df.count() === 7)
    assert(df.agg(sum($"s")).as[Long].head() === 5050L)
    assert(Materialize.release(spark) >= created.size)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"release left rdd ids $leaked pinned")
  }

  test("an operator's barriers are fully reclaimed by release " +
      "(exactQuantiles: the 4-consumer materialization)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = Tables.t(spark, sf001, "events")
    val out = operators.Quantiles.exactQuantiles(d, col("value"),
      Seq(col("event_id")), Seq(0.5, 0.95))
    out.write.format("noop").mode("overwrite").save()
    Materialize.release(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"quantiles leaked rdd ids $leaked")
  }

  test("connected-components generations release inside the query; " +
      "release reclaims the rest") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L))
      .toDF("id_a", "id_b")
    val cl = operators.Dedup.clusters(pairs)
    assert(cl.count() === 6)
    Materialize.release(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"clusters leaked rdd ids $leaked")
  }

  test("barrier is a no-op on streaming frames") {
    val s = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
    val out = Materialize.barrier(s)
    assert(out.isStreaming)
    assert(out eq s, "streaming frame must pass through unchanged")
  }

  test("a release on one thread leaves another thread's barriers live") {
    val built, released = new CountDownLatch(1)
    @volatile var sums: Try[(Long, Long)] = null
    val other = new Thread(() => {
      sums = Try {
        val df = (1 to 100).toDF("x")
          .groupBy(($"x" % 7).as("k")).agg(sum($"x").as("s"))
          .transform(Materialize.barrier)
        try {
          val first = df.agg(sum($"s")).as[Long].head()
          built.countDown()
          released.await()
          (first, df.agg(sum($"s")).as[Long].head())
        } finally {
          built.countDown()
          Materialize.release(spark)
        }
      }
    })
    other.start()
    assert(built.await(2, TimeUnit.MINUTES))
    Materialize.release(spark)
    released.countDown()
    other.join(TimeUnit.MINUTES.toMillis(2))
    assert(sums.get === ((5050L, 5050L)))
  }

  test("release frees the barrier's own RDD, not a cache buffer its " +
      "checkpoint built") {
    val cached = (1 to 100).toDF("x").withColumn("y", $"x" * 2).cache()
    try {
      val cm = spark.asInstanceOf[classic.SparkSession].sharedState
        .cacheManager
      // the cache's buffers are first built by the checkpoint call
      val df = cached.select(($"y" + 1).as("z"))
        .transform(Materialize.barrier)
      assert(df.count() === 100)
      Materialize.release(spark)
      assert(!cm.isEmpty, "CacheManager lost the cached frame")
      val buffers = cm.lookupCachedData(
        cached.asInstanceOf[classic.Dataset[_]]).get.cachedRepresentation
        .cacheBuilder.cachedColumnBuffers
      assert(spark.sparkContext.getPersistentRDDs.contains(buffers.id),
        "release unpersisted the cache's buffer RDD")
    } finally cached.unpersist()
  }

  test("a lifecycle query's scratch directory goes with its release") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def trendDirs(): Set[String] = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("graft-trendx"))
    val before = trendDirs()
    val rows = SparkEntry.queries("q_trending_exact")(spark, sf001).count()
    assert(rows > 0L)
    Materialize.release(spark)
    val left = trendDirs() -- before
    assert(left.isEmpty, s"release left $left")
  }

  private def tmpDirs(prefix: String): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSet.flatten.filter(_.startsWith(prefix))

  test("the harness loop refuses an unknown query before running any") {
    var ran = 0
    val e = intercept[IllegalArgumentException] {
      Harness.eachQuery(spark, "spec", Seq("q_scan_project", "q_no_such")) {
        (_, _) => ran += 1
      }
    }
    assert(e.getMessage.contains("q_no_such"), e.getMessage)
    assert(ran === 0)
  }

  test("the harness loop reports a throwing query and runs the next") {
    val err = new java.io.ByteArrayOutputStream
    val out = Console.withErr(new java.io.PrintStream(err, true)) {
      Harness.eachQuery(spark, "spec", Seq("q_scan_project", "q_tpch_q1")) {
        (name, _) => if (name == "q_scan_project") sys.error("boom") else 7
      }
    }
    assert(out.map(o => o.name -> o.result) ===
      Seq("q_scan_project" -> None, "q_tpch_q1" -> Some(7)))
    val lines = err.toString.linesIterator.toSeq
    assert(lines === Seq("[spec] q_scan_project",
      "[spec] q_scan_project failed: boom", "[spec] q_tpch_q1"))
  }

  test("the harness loop frees what a lifecycle query built: its temp " +
      "dir and every persistent RDD") {
    val dirsBefore = tmpDirs("graft-postings")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val Seq(o) = Harness.eachQuery(spark, "spec", Seq("q_postings_search")) {
      (_, build) => build(sf001).count()
    }
    assert(o.result.exists(_ > 0L), o.toString)
    assert(tmpDirs("graft-postings") -- dirsBefore === Set.empty[String])
    val left = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(left.isEmpty, s"the loop left rdd ids $left")
  }

  test("the harness timer keeps the fastest successful run; -1 when " +
      "every run fails") {
    val silent = new java.io.PrintStream(new java.io.ByteArrayOutputStream)
    var n = 0
    val t = Console.withErr(silent)(Harness.minOfN(3, "spec", "range") {
      n += 1
      if (n == 2) sys.error("flaky") else spark.range(10).toDF()
    })
    assert(n === 3 && t >= 0.0)
    assert(Console.withErr(silent)(Harness.minOfN(2, "spec", "bad")(
      sys.error("down"))) === -1.0)
  }
}
