package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.functions._

import graft.sources.GraftRelation
import graft.sources.v2.BloomIndex

/** `peek`: interactive reads over multi-file graft-v2 copies of
  * lineitem, orders and documents — LIMIT through V1 `format("graft")`
  * and V2 `format("graft-v2")`, WHERE+LIMIT with a pushable and with an
  * untranslatable filter, V2 top-N, bloom point lookups and
  * stats-skipped range lookups. Every round holds the same twelve ops;
  * the seed shuffles them and picks their parameters. */
final class Peek(ctx: Ctx) extends Workload {
  import Peek._
  import ctx.{spark, tracer}

  val name = "peek"
  private val src = ctx.data
  private def srcDf(t: String): DataFrame = spark.read.parquet(src.resolve(s"$t.parquet").toString)
  private var dir: Path = _
  private def table(t: String): String = dir.resolve(t).toString

  private var ans: Answers = _
  private var liPrefix, ordPrefix: Prefix = _
  private def rows(t: String): Long = t match {
    case "lineitem" => ans.lineitemRows
    case "orders" => ans.nOrders.toLong
    case _ => ans.docs.size.toLong
  }
  private def matching(k: String): Long = ans.counts.getOrElse(k, 0L)

  /** Load the generator's expected answers; range lookups read them
    * as prefix sums over order keys. */
  override def prepare(): Unit = {
    ans = new Answers(ctx.data)
    liPrefix = Prefix(ans.lines.map(_.toLong), ans.h0)
    ordPrefix = Prefix(Array.fill(ans.nOrders)(1L), ans.orderHash)
  }

  /** Multi-file graft-v2 copies: lineitem and orders range-partitioned
    * on their key with skip stats declared, documents hash-partitioned
    * with a bloom index on doc_id. */
  override def setup(rep: Int): Unit = {
    val previous = Option(dir)
    dir = ctx.work.resolve(s"peek-$rep")
    def write(df: DataFrame, t: String, stats: String): Unit = {
      val w = df.write.format("graft-v2").option("path", table(t)).mode("append")
      (if (stats.isEmpty) w else w.option("statsColumns", stats)).save()
    }
    write(srcDf("lineitem").repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber"), "lineitem", "l_orderkey,l_extendedprice")
    write(srcDf("orders").repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), "orders", "o_orderkey,o_totalprice")
    write(srcDf("documents").repartition(4, col("doc_id")), "documents", "")
    BloomIndex.build(spark, table("documents"), Seq("doc_id"), fpp = 0.01)
    previous.foreach(Files0.deleteTree)
    val bad = round(-1).map(op => op.describe -> op.run()).filterNot(_._2.ok)
    require(bad.isEmpty, s"warm-up op failed: ${bad.head}")
  }

  /** Three rounds at the default six seconds. A round is 7 V2 ops
    * (100–200 ms here) and 5 V1 or top-N ops (300–500 ms); with two
    * rounds the tail percentile fell on the boundary between the groups
    * and swung between them from run to run. */
  def roundSeconds: Double = 2.0

  def round(r: Int): Seq[Op] = {
    val rng = ctx.rng(r)
    def lim(): Int = Limits(rng.nextInt(Limits.size))
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    val nOrd = ans.nOrders
    val nDocs = ans.docs.size
    def range(): (Long, Long) = {
      val w = pick(Seq(50, 200, 800))
      val a = rng.nextInt(nOrd - w).toLong
      (a, a + w)
    }
    val ops = Seq[Op](
      LimitV1("lineitem", lim()),
      LimitV1("orders", lim()),
      LimitV2("lineitem", lim()),
      LimitV2("documents", lim()),
      WhereLimitV1(pick(Flags), pick(Quantities), lim()),
      WhereLimitUntranslatable(rng.nextInt(7), lim()),
      WhereLimitV2(pick(Prices), lim()),
      TopNV2(lim()),
      BloomLookup(rng.nextInt((2 * nDocs).toInt).toLong),
      BloomLookup(rng.nextInt((2 * nDocs).toInt).toLong),
      RangeLookup("lineitem", range()),
      RangeLookup("orders", range()))
    rng.shuffle(ops)
  }

  // ---- helpers shared by the ops ----

  private def loadV1(t: String): DataFrame =
    tracer.span("sources", "load")(spark.read.format("graft").option("path", table(t)).load())

  private def loadV2(t: String): DataFrame =
    tracer.span("sources.v2", "load")(spark.read.format("graft-v2").load(table(t)))

  /** In traced rounds, force Catalyst's phases one at a time so each
    * gets its own span; the action then reuses them. */
  private def plan(df: DataFrame): Unit =
    if (tracer.on) {
      tracer.span("plans", "optimize")(df.queryExecution.optimizedPlan)
      tracer.span("plans", "physical")(df.queryExecution.executedPlan)
    }

  private def collect(df: DataFrame): Array[Row] = {
    plan(df)
    tracer.span("exec", "collect")(df.collect())
  }

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def pushed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("[limit=")

  /** V1 checks: the limit-pushdown gate when the rule fired. */
  private def v1Gate(df: DataFrame, n: Int, got: Int, eligible: Boolean): Outcome = {
    val isPushed = pushed(df)
    val emitted = Option(GraftRelation.lastRowsEmitted.get()).map(_.value.longValue).getOrElse(0L)
    val parts = finalPlan(df).collect { case s: RowDataSourceScanExec => s.rdd.getNumPartitions }.sum
    tracer.count("sources.rows_emitted", emitted.toDouble)
    tracer.count("sources.rows_returned", got.toDouble)
    if (eligible) {
      tracer.count("plans.limit_eligible")
      if (isPushed) tracer.count("plans.limit_pushed")
    }
    if (!eligible && isPushed) Outcome(ok = false, "limit pushed below an untranslatable filter")
    else if (isPushed && emitted > n.toLong * math.max(parts, 1))
      Outcome(ok = false, s"pushed limit $n over $parts partitions emitted $emitted rows")
    else Outcome(ok = true)
  }

  /** V2 estimated rows after pushdown, against the full table. */
  private def planned(df: DataFrame, t: String): Unit = if (tracer.on) {
    finalPlan(df).collect { case b: BatchScanExec => b.scan }.foreach {
      case s: SupportsReportStatistics =>
        val est = s.estimateStatistics().numRows()
        if (est.isPresent) {
          tracer.count("sources.v2.rows_planned", est.getAsLong.toDouble)
          tracer.count("sources.v2.rows_full", rows(t).toDouble)
        }
      case _ => ()
    }
  }

  private def keyCols(t: String): Seq[String] = t match {
    case "lineitem" => Answers.LineitemHashCols
    case "orders" => Seq("o_orderkey", "o_totalprice")
    case _ => Seq("doc_id", "lang")
  }

  // ---- the ops ----

  private case class LimitV1(t: String, n: Int) extends Op {
    def describe = s"limit_v1 $t $n"
    def run(): Outcome = {
      val df = loadV1(t).select(keyCols(t).map(col): _*).limit(n)
      val got = collect(df).length
      val gate = v1Gate(df, n, got, eligible = true)
      if (!gate.ok) gate else Checks.outcome(Checks.rowCount(got, math.min(n, rows(t))))
    }
  }

  private case class LimitV2(t: String, n: Int) extends Op {
    def describe = s"limit_v2 $t $n"
    def run(): Outcome = {
      val got = collect(loadV2(t).select(keyCols(t).map(col): _*).limit(n)).length
      Checks.outcome(Checks.rowCount(got, math.min(n, rows(t))))
    }
  }

  private case class WhereLimitV1(flag: String, q: Int, n: Int) extends Op {
    def describe = s"where_limit_v1 l_returnflag=$flag l_quantity<$q $n"
    def run(): Outcome = {
      val df = loadV1("lineitem")
        .filter(col("l_returnflag") === flag && col("l_quantity") < q)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")).limit(n)
      val got = collect(df)
      val gate = v1Gate(df, n, got.length, eligible = true)
      if (!gate.ok) gate
      else Checks.outcome(
        Checks.rowCount(got.length, math.min(n, matching(s"li:$flag:$q"))),
        got.find(r => r.getString(1) != flag || r.getDouble(2) >= q).map(r => s"row $r fails the filter"))
    }
  }

  /** `l_orderkey % 7 = m` has no data-source filter form, so the rule
    * must leave the limit above the filter. */
  private case class WhereLimitUntranslatable(m: Int, n: Int) extends Op {
    def describe = s"where_limit_v1_untranslatable l_orderkey%7=$m $n"
    def run(): Outcome = {
      val df = loadV1("lineitem").filter(col("l_orderkey") % 7 === m)
        .select(col("l_orderkey"), col("l_linenumber")).limit(n)
      val got = collect(df)
      val gate = v1Gate(df, n, got.length, eligible = false)
      if (!gate.ok) gate
      else Checks.outcome(
        Checks.rowCount(got.length, math.min(n, matching(s"mod7:$m"))),
        got.find(r => r.getLong(0) % 7 != m).map(r => s"row $r fails the filter"))
    }
  }

  private case class WhereLimitV2(p: Int, n: Int) extends Op {
    def describe = s"where_limit_v2 o_totalprice>$p $n"
    def run(): Outcome = {
      val got = collect(loadV2("orders").filter(col("o_totalprice") > p)
        .select(col("o_orderkey"), col("o_totalprice")).limit(n))
      Checks.outcome(
        Checks.rowCount(got.length, math.min(n, matching(s"ord:$p"))),
        got.find(_.getDouble(1) <= p).map(r => s"row $r fails the filter"))
    }
  }

  private case class TopNV2(n: Int) extends Op {
    def describe = s"topn_v2 lineitem $n"
    def run(): Outcome = {
      val got = collect(loadV2("lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")).limit(n))
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      Checks.outcome(if (got == ans.topN.take(n)) None else Some(s"top-$n differs from the expected top-$n"))
    }
  }

  private case class BloomLookup(k: Long) extends Op {
    def describe = s"bloom_lookup documents doc_id=$k"
    def run(): Outcome = {
      val df = loadV2("documents").filter(col("doc_id") === k)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val got = collect(df).map(r => r.getLong(0) -> (r.getString(1) -> r.getLong(2))).toSeq
      planned(df, "documents")
      Checks.outcome(if (got == ans.docs.get(k).map(k -> _).toSeq) None
        else Some(s"lookup returned $got, expected ${ans.docs.get(k)}"))
    }
  }

  private case class RangeLookup(t: String, range: (Long, Long)) extends Op {
    def describe = s"range_lookup $t [${range._1}, ${range._2})"
    def run(): Outcome = {
      val key = if (t == "lineitem") "l_orderkey" else "o_orderkey"
      val df = loadV2(t).filter(col(key) >= range._1 && col(key) < range._2)
        .select(keyCols(t).map(col): _*)
      val got = collect(df)
      planned(df, t)
      val (n, h) = if (t == "lineitem") liPrefix.range(range) else ordPrefix.range(range)
      val gotHash = got.iterator.map(r =>
        if (t == "lineitem") Answers.lineitemHash(r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7))
        else Answers.orderHash(r.getLong(0), r.getDouble(1))).sum
      Checks.outcome(Checks.rowCount(got.length, n),
        if (gotHash == h) None else Some(s"range checksum $gotHash, expected $h"))
    }
  }
}

object Peek {
  val Limits: IndexedSeq[Int] = IndexedSeq(1, 10, 100, 1000)
  val Quantities: Seq[Int] = Seq(5, 10, 25)
  val Flags: Seq[String] = Seq("A", "N", "R")
  val Prices: Seq[Int] = Seq(100000, 250000, 400000)

  /** Per-key row counts and checksum sums as prefix sums, so any key
    * range's expected answer is two lookups. */
  final class Prefix(counts: Array[Long], sums: Array[Long]) {
    def range(r: (Long, Long)): (Long, Long) = {
      val (a, b) = (r._1.toInt, math.min(r._2, counts.length - 1L).toInt)
      (counts(b) - counts(a), sums(b) - sums(a))
    }
  }
  object Prefix {
    def apply(perKeyCount: Array[Long], perKeySum: Array[Long]): Prefix =
      new Prefix(perKeyCount.scanLeft(0L)(_ + _), perKeySum.scanLeft(0L)(_ + _))
  }
}
