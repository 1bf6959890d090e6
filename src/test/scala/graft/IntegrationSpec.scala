package graft

import org.apache.spark.sql.functions._

/** End-to-end integration: the driver's entry smoke, and a real
  * file-source streaming run over the events table proving the batch
  * window formulations are stream-identical (SURVEY.md §2i).
  */
class IntegrationSpec extends SparkTestBase {

  test("driver entry smoke: flagship query returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq ==
      Seq("l_returnflag", "l_linestatus", "sum_qty", "count_order"))
  }

  test("every registered query has either oracle SQL or a unit test home") {
    val qs = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    assert(oracled.subsetOf(qs), s"orphan oracle: ${oracled -- qs}")
    // EVERY query carries an oracle since round 7 (the last holdout,
    // q_multimodal_decode, gained a real PPM codec whose bytes a
    // DuckDB oracle rebuilds exactly).
    // Model-rendered oracles are DATA-DEPENDENT (rendered from the
    // trained quantizers/classifiers after queries run, as in
    // graft.Verify), so they may be absent here where no query has
    // executed. The set comes from SparkEntry itself — the same list
    // that builds those oracles — so it cannot go stale.
    val dataDependent = SparkEntry.dataDependentOracles
    assert(dataDependent.subsetOf(qs),
      s"dataDependent names not in queries: ${dataDependent -- qs}")
    val got = qs -- oracled -- dataDependent
    assert(got.isEmpty, s"queries without oracle: $got")
    // the harnesses' name-keyed lists may only name real queries
    Seq("Bench.HeadlineSubset" -> Bench.HeadlineSubset.toSet,
      "Bench.LifecycleQueries" -> Bench.LifecycleQueries,
      "SparkEntry.FitQueries" -> SparkEntry.FitQueries,
      "DumpPlans.Headline" -> DumpPlans.Headline.toSet,
      "ScaleProbe.ProbeQueries" -> ScaleProbe.ProbeQueries.toSet).foreach {
      case (list, names) =>
        assert(names.subsetOf(qs), s"$list names unknown queries: " +
          s"${names -- qs}")
    }
  }

  test("approx_count_distinct estimates within 5% of exact (HLL sanity)") {
    val li = Tables.t(spark, sf001, "lineitem")
    val rows = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect()
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"flag=${r.getString(0)} approx=$approx exact=$exact")
    }
  }

  test("percentile_approx tracks the exact median") {
    val li = Tables.t(spark, sf001, "lineitem")
    val r = li.agg(
      percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("ap"),
      median(col("l_quantity")).as("ex")).head
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 1.0,
      s"approx=${r.getDouble(0)} exact=${r.getDouble(1)}")
  }

  test("file-source stream over events matches the batch tumbling agg") {
    // copy the events parquet into a stream-source dir
    val dir = tempDir("graft-stream")
    val src = java.nio.file.Paths.get(s"$sf001/events.parquet")
    java.nio.file.Files.copy(src, dir.resolve("events.parquet"))

    val batchEvents = Tables.t(spark, sf001, "events")
    val schema = spark.read.parquet(dir.toString).schema
    val streamEvents = Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = graft.streaming.StreamOps.tumbling(streamEvents)
      .writeStream.outputMode("complete").format("memory")
      .queryName("events_stream").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("events_stream")
    val batch = graft.streaming.StreamOps.tumbling(batchEvents)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "stream and batch window results differ")
  }
}
