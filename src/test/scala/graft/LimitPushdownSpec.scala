package graft

import org.apache.spark.sql.functions._

import graft.sources.GraftRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Plan-level tests for the limit-pushdown rule — mirrors the reference's
  * README plan inspections (reference README.md:42-96; rule
  * PropagateJDBCLimit.scala:14-27).
  */
class LimitPushdownSpec extends SparkTestBase {

  private def relationsOf(df: org.apache.spark.sql.DataFrame): Seq[GraftRelation] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation] =>
        lr.relation.asInstanceOf[GraftRelation]
    }

  test("limit propagates into the relation and LocalLimit is retained") {
    val df = Tables.graftScan(spark, sf001, "lineitem").limit(7)
    val rels = relationsOf(df)
    assert(rels.nonEmpty, "graft relation not found in optimized plan")
    assert(rels.head.limit == 7, s"expected limit=7, got ${rels.head.limit}")
    // LocalLimit must remain above for global enforcement
    // (reference PropagateJDBCLimit.scala:26)
    val hasLimit = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => l
    }
    assert(hasLimit.nonEmpty, "Spark-side limit not retained")
    assert(df.count() == 7)
  }

  test("limit propagates through a pruning Project") {
    val df = Tables.graftScan(spark, sf001, "lineitem")
      .select(col("l_orderkey"), col("l_quantity")).limit(5)
    val rels = relationsOf(df)
    assert(rels.nonEmpty && rels.head.limit == 5)
    assert(df.count() == 5)
  }

  test("limit pushes through a fully-pushable filter (WHERE+LIMIT combo)") {
    val df = Tables.graftScan(spark, sf001, "lineitem")
      .filter(col("l_returnflag") === "A").limit(6)
    val rels = relationsOf(df)
    assert(rels.nonEmpty && rels.head.limit == 6)
    assert(df.count() == 6)
    assert(df.collect().forall(_.getAs[String]("l_returnflag") == "A"))
  }

  test("limit does NOT push through a filter with residual conjuncts") {
    val df = Tables.graftScan(spark, sf001, "lineitem")
      .filter(col("l_quantity") + 1 > 5).limit(6)
    val rels = relationsOf(df)
    assert(rels.nonEmpty && rels.head.limit == -1,
      "pushing a limit below a Spark-side residual filter is unsound")
    assert(df.count() == 6)
  }

  test("no limit -> relation keeps limit=-1") {
    val df = Tables.graftScan(spark, sf001, "lineitem")
      .filter(col("l_quantity") > 0)
    val rels = relationsOf(df)
    assert(rels.nonEmpty && rels.head.limit == -1)
  }

  test("aliases above the limit still resolve (expr-id preservation)") {
    val df = Tables.graftScan(spark, sf001, "lineitem").limit(10)
      .select(col("l_orderkey").as("ok"), col("l_quantity").as("q"))
      .filter(col("q") >= 0)
    assert(df.count() == 10)
    assert(df.columns.toSeq == Seq("ok", "q"))
  }

  test("limited scan emits at most limit rows per partition") {
    val rel = GraftRelation(spark, s"$sf001/lineitem.parquet", limit = 3)
    val rdd = rel.buildScan(Array("l_orderkey"), Array.empty)
    val counts = rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(counts.forall(_ <= 3), s"per-partition counts: ${counts.toSeq}")
  }

  test("rows-read gate: pushed limit caps what the source emits") {
    val full = Tables.graftScan(spark, sf001, "lineitem")
    full.write.format("noop").mode("overwrite").save()
    val fullEmitted = graft.sources.GraftRelation.lastRowsEmitted.get.value
    assert(fullEmitted == 6005L || fullEmitted > 5000L,
      s"full scan emitted $fullEmitted")

    val limited = Tables.graftScan(spark, sf001, "lineitem").limit(5)
    limited.write.format("noop").mode("overwrite").save()
    val limEmitted = graft.sources.GraftRelation.lastRowsEmitted.get.value
    assert(limEmitted <= 5L,
      s"limit 5 should cap source emission, emitted $limEmitted")
  }

  test("planning a pushed V1 limit starts no Spark job") {
    val sc = spark.sparkContext
    val group = "graft-zero-jobs-guard"
    val planned = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    // listener events arrive in order: once the fence job's start is
    // seen, every job planning started has been counted
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "fence")
            fenced.countDown()
          else planned.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "plan")
    try {
      val df = spark.read.format("graft").load(s"$sf001/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity")).limit(4)
      df.queryExecution.optimizedPlan
      val physical = df.queryExecution.executedPlan
      sc.setJobDescription("fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(planned.get == 0, s"planning started ${planned.get} job(s)")

      assert(relationsOf(df).map(_.limit) == Seq(4))
      assert(df.queryExecution.optimizedPlan.toString.contains("[limit=4]"))
      sc.setJobDescription(null)
      assert(df.collect().length == 4)
      val parts = (physical match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }).collect {
        case s: org.apache.spark.sql.execution.RowDataSourceScanExec =>
          s.rdd.getNumPartitions
      }.sum
      val emitted = GraftRelation.lastRowsEmitted.get.value
      assert(emitted <= 4L * parts, s"emitted $emitted over $parts partitions")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("limit 0 yields empty result") {
    val df = Tables.graftScan(spark, sf001, "lineitem").limit(0)
    assert(df.count() == 0)
  }
}
