package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{Materialize, SparkEntry}

/** `pipeline`: a cycle over `SparkEntry.queries` that run
  * the repo's own operators with many jobs per query. Each op builds
  * the frame, executes it in full (every row hashed) and releases the
  * materialization barriers; its row count and order-insensitive
  * content hash must match the values committed with the benchmark,
  * and after the release no cached data or persisted RDD of the query
  * may be left. */
final class Pipeline(ctx: Ctx, expectedFile: Path) extends Workload {
  import ctx.{spark, tracer}

  val name = "pipeline"
  private val dir = ctx.data.toString
  private var expected = Map.empty[String, (Long, Long)]
  private val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private var baselinePersistent = Set.empty[Int]

  override def prepare(): Unit = {
    val missing = Pipeline.Queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    expected = Files.readAllLines(expectedFile).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split('\t')
      q -> (n.toLong -> h.toLong)
    }.toMap
    val absent = Pipeline.Queries.filterNot(expected.contains)
    require(absent.isEmpty, s"no expected values for $absent")
    baselinePersistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Warm-up: every set-up runs the plain-Spark control query, checked
    * like any op, to warm Spark's SQL engine. */
  override def setup(rep: Int): Unit = {
    val warm = QueryOp(Pipeline.Queries.head).run()
    require(warm.ok, s"warm-up query failed: ${warm.detail}")
  }

  def roundSeconds: Double = 18.0

  /** The cycle runs in a fixed order, whatever the seed: each query's
    * first execution in a JVM pays its own code generation and JIT
    * warm-up, and a shuffled order moved that cost between queries from
    * run to run, which doubled the spread of the median. */
  def round(r: Int): Seq[Op] = Pipeline.Queries.map(QueryOp)

  /** What the query left cached after `Materialize.release`: a leak
    * the benchmark reports instead of cleaning up, so that it also
    * stays visible in `heap_retained_mb`. */
  private def leaked(): Option[String] = {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- baselinePersistent
    val datasets = !spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
    if (rdds.isEmpty && !datasets) None
    else Some(s"left ${rdds.size} persisted RDDs and ${if (datasets) "some" else "no"} " +
      "cached datasets after Materialize.release")
  }

  private case class QueryOp(q: String) extends Op {
    def describe = s"query $q"
    override def kind: String = q
    def run(): Outcome = {
      val df = tracer.span("SparkEntry", "construct")(SparkEntry.queries(q)(spark, dir))
      if (tracer.on) {
        tracer.span("plans", "optimize")(df.queryExecution.optimizedPlan)
        tracer.span("plans", "physical")(df.queryExecution.executedPlan)
      }
      val got = tracer.span("operators", "execute")(Pipeline.fingerprint(df))
      val released = tracer.span("Materialize", "release")(Materialize.release(spark))
      tracer.count("Materialize.released", released.toDouble)
      val error = Checks.fingerprint(got, expected.get(q), seen.get(q)).orElse(leaked())
      seen(q) = got
      Outcome(ok = error.isEmpty, error.getOrElse(""))
    }
  }
}

object Pipeline {
  /** A graph fixpoint, two dedup operators, a window, a streaming
    * lifecycle and a plain-Spark TPC-H control. */
  val Queries: Seq[String] = Seq(
    "q_tpch_q5", "q_window_rank_hk", "q_dedup_near", "q_fuzzy_join",
    "q_label_prop", "q_trending_exact")

  /** Execute the frame's full plan — every row produced, as the noop
    * sink would — and return its row count and an order-insensitive
    * hash: the sum of per-row hashes over the columns in name order. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    df.select(xxhash64(cols: _*).bitwiseAND(0xFFFFFFFFL)).queryExecution.toRdd
      .mapPartitions { rows =>
        var n, h = 0L
        rows.foreach { r => n += 1; h += r.getLong(0) }
        Iterator.single((n, h))
      }
      .collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }
}
