package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.GraftSink
import graft.sources.v2.GraftManifest

/** `ingest`: one benchmark-owned graft-v2 catalog table that grows
  * over the run. A round is seven appends of seeded size — three
  * graft-v2, two V1 `format("graft")` (saveAtomic), two saveCompensating
  * — plus one saveCompensating with an injected task failure, then a
  * DELETE, a MERGE, and compact + vacuum. Every op ends with a
  * read-back whose row count and checksum must match the ledger the
  * benchmark keeps of what the table should hold. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  import ctx.{spark, tracer}

  val name = "ingest"
  private val srcPath = ctx.data.resolve("lineitem.parquet")
  private lazy val src = spark.read.parquet(srcPath.toString)
  private lazy val cols: Seq[String] = src.columns.toSeq
  private def rowHash: Column = Answers.lineitemHash(col("l_quantity"))

  private var nKeys = 0
  private var bytesPerRow = 0.0
  private var ledger: Ledger = _

  private var table = ""
  private var dir: Path = _
  private def fs = new HPath(dir.toString).getFileSystem(spark.sessionState.newHadoopConf())
  private var userBytes = 0.0
  private var tracedUserBytes, tracedWrittenBytes = 0.0

  /** The ledger starts from the generator's per-order row counts and
    * row-hash sums (gen.py, `answers/`). */
  override def prepare(): Unit = {
    val ans = new Answers(ctx.data)
    nKeys = ans.nOrders
    bytesPerRow = Files.size(srcPath).toDouble / ans.lineitemRows
    ledger = new Ledger(ans.lines, ans.h0, ans.h1)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
  }

  /** A fresh table, written and read back. */
  override def setup(rep: Int): Unit = {
    if (table.nonEmpty) {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      Files0.deleteTree(dir)
    }
    table = s"graft.bench.li_$rep"
    dir = ctx.work.resolve("catalog").resolve("bench").resolve(s"li_$rep")
    spark.sql(s"CREATE TABLE $table (${src.schema.toDDL})")
    ledger.reset()
    // warm every op kind
    val warm = Seq(AppendV2(0, 250), AppendV1(250, 10), AppendCompensating(260, 10),
      FailedAppend(270, 10), Delete(0, 10), Merge(5, 10), Maintain)
    val bad = warm.map(op => op.describe -> op.run()).filterNot(_._2.ok)
    require(bad.isEmpty, s"warm-up op failed: ${bad.head}")
    userBytes = 0.0
  }

  /** Two rounds at the default six seconds: with one, eleven samples
    * left the tail percentile to a single op. */
  def roundSeconds: Double = 3.0

  def round(r: Int): Seq[Op] = {
    val rng = ctx.rng(r)
    def slice(rows: Int): (Int, Int) = {
      val k = math.max(1, rows / 4)
      (rng.nextInt(nKeys - k), k)
    }
    // seven appends, sizes drawn log-uniformly from fixed strata so
    // every round writes a similar volume
    val sizes = rng.shuffle(Seq(0, 0, 1, 1, 2, 2, 3).map { s =>
      val (lo, hi) = Strata(s)
      math.exp(math.log(lo) + rng.nextDouble() * (math.log(hi) - math.log(lo))).toInt
    })
    val kinds = rng.shuffle(Seq("v2", "v2", "v2", "v1", "v1", "comp", "comp"))
    val appends = kinds.zip(sizes).map { case (kind, n) =>
      val (a, k) = slice(n)
      kind match {
        case "v2" => AppendV2(a, k)
        case "v1" => AppendV1(a, k)
        case _ => AppendCompensating(a, k)
      }
    }
    val writes = rng.shuffle(appends :+ { val (a, k) = slice(5000); FailedAppend(a, k) })
    val (dx, dw) = slice(6000)
    val (mx, mw) = slice(2000)
    writes ++ Seq(Delete(dx, dw), Merge(mx, mw), Maintain)
  }

  // ---- helpers ----

  private def slice(a: Int, k: Int): DataFrame =
    src.filter(col("l_orderkey") >= a && col("l_orderkey") < a + k)

  private def path: String = dir.toString

  /** Read the table back and compare it with the ledger. */
  private def readBack(what: String): Outcome = {
    val df = tracer.span("sources.v2", "load")(spark.table(table))
      .agg(count(lit(1)), coalesce(sum(rowHash), lit(0L)))
    if (tracer.on) {
      tracer.span("plans", "optimize")(df.queryExecution.optimizedPlan)
      tracer.span("plans", "physical")(df.queryExecution.executedPlan)
    }
    val row = tracer.span("exec", "readback")(df.head())
    if (tracer.on)
      tracer.span("sources.v2", "manifest_read")(GraftManifest.current(fs, new HPath(path)))
    val (n, h) = (row.getLong(0), row.getLong(1))
    if (n != ledger.count || h != ledger.sum)
      Outcome(ok = false, s"after $what: table has $n rows / checksum $h, " +
        s"ledger expects ${ledger.count} / ${ledger.sum}")
    else Outcome(ok = true)
  }

  /** Run a write and book its user bytes; in traced rounds, also the
    * bytes that appeared under the table directory. */
  private def write(a: Int, k: Int)(body: => Unit): Unit = {
    val before = if (tracer.on) Files0.sizes(dir) else Map.empty[String, Long]
    body
    val bytes = ledger.rows(a, k) * bytesPerRow
    if (tracer.on) {
      val after = Files0.sizes(dir)
      tracedWrittenBytes += after.collect {
        case (f, s) if before.get(f).forall(_ != s) => s.toDouble
      }.sum
      tracedUserBytes += bytes
    } else userBytes += bytes
  }

  // ---- the ops ----

  private case class AppendV2(a: Int, k: Int) extends Op {
    def describe = s"append_v2 [$a, ${a + k})"
    def run(): Outcome = {
      write(a, k)(tracer.span("sources.v2", "commit")(slice(a, k).writeTo(table).append()))
      ledger.append(a, k)
      readBack(describe)
    }
  }

  private case class AppendV1(a: Int, k: Int) extends Op {
    def describe = s"append_v1 [$a, ${a + k})"
    def run(): Outcome = {
      write(a, k)(tracer.span("sources", "save_atomic")(
        slice(a, k).write.format("graft").mode("append").save(path)))
      ledger.append(a, k)
      readBack(describe)
    }
  }

  private case class AppendCompensating(a: Int, k: Int) extends Op {
    def describe = s"append_compensating [$a, ${a + k})"
    def run(): Outcome = {
      write(a, k)(tracer.span("sources", "save_compensating")(
        GraftSink.saveCompensating(slice(a, k).repartition(4), path, SaveMode.Append)))
      ledger.append(a, k)
      readBack(describe)
    }
  }

  /** One task of four fails; the save must throw and leave the table
    * exactly as it was, with no part file behind. */
  private case class FailedAppend(a: Int, k: Int) extends Op {
    def describe = s"append_compensating_failing [$a, ${a + k})"
    def run(): Outcome = {
      val before = Files0.dataFiles(dir)
      val threw = tracer.span("sources", "rollback") {
        try {
          GraftSink.saveCompensating(slice(a, k).repartition(4), path, SaveMode.Append,
            failPartition = 1)
          false
        } catch { case _: RuntimeException => true }
      }
      Checks.rollback(threw, before, Files0.dataFiles(dir), readBack(describe))
    }
  }

  private case class Delete(a: Int, k: Int) extends Op {
    def describe = s"delete [$a, ${a + k})"
    def run(): Outcome = {
      tracer.span("sources.v2", "dml")(spark.sql(
        s"DELETE FROM $table WHERE l_orderkey >= $a AND l_orderkey < ${a + k}"))
      ledger.delete(a, k)
      readBack(describe)
    }
  }

  /** Upsert a key range with l_quantity raised by 1000: matched rows
    * are updated, missing orders inserted. */
  private case class Merge(a: Int, k: Int) extends Op {
    def describe = s"merge [$a, ${a + k})"
    def run(): Outcome = {
      slice(a, k).withColumn("l_quantity", Updated).createOrReplaceTempView("perfbench_merge_src")
      val list = cols.mkString(", ")
      tracer.span("sources.v2", "dml")(spark.sql(
        s"""MERGE INTO $table t USING perfbench_merge_src s
           |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
           |WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity
           |WHEN NOT MATCHED THEN INSERT ($list) VALUES (${cols.map("s." + _).mkString(", ")})
           |""".stripMargin))
      ledger.merge(a, k)
      readBack(describe)
    }
  }

  private case object Maintain extends Op {
    def describe = "compact+vacuum"
    def run(): Outcome = {
      tracer.span("sources", "compact")(GraftSink.compact(spark, path))
      tracer.span("sources.v2", "vacuum")(GraftManifest.vacuum(fs, new HPath(path), keepVersions = 2))
      readBack(describe)
    }
  }

  // ---- metrics ----

  /** Bytes under the table directory over bytes of the live snapshot. */
  private def spaceAmp: Double = {
    val live = GraftManifest.snapshotFiles(fs, new HPath(path), None).getOrElse(Nil)
      .map(p => fs.getFileStatus(p).getLen).sum
    Files0.sizes(dir).values.sum.toDouble / live
  }

  override def extraMetrics(measuredSec: Double): Seq[Metric] = Seq(
    Metric("write_mb_s", userBytes / 1e6 / measuredSec, "MB/s"),
    Metric("space_amp", spaceAmp, "ratio"))

  override def layerMetrics(t: Tracer, ops: Int): Seq[Metric] = Seq(
    Metric("sources.v2.versions",
      GraftManifest.versions(fs, new HPath(path)).lastOption.getOrElse(0L).toDouble, "count"),
    Metric("sources.v2.bytes_written_per_user_byte",
      if (tracedUserBytes > 0) tracedWrittenBytes / tracedUserBytes else 0.0, "ratio"))
}

object Ingest {
  val Strata: IndexedSeq[(Int, Int)] =
    IndexedSeq((1000, 2500), (2500, 6000), (6000, 15000), (15000, 40000))
  def Updated: Column = col("l_quantity") + 1000.0

  /** What the table should hold: per order key, how many copies of its
    * original rows and of its MERGE-updated rows. Ops act on whole
    * orders, so the row count and checksum follow from per-key sums. */
  final class Ledger(lines: Array[Int], h0: Array[Long], h1: Array[Long]) {
    private val c0, c1 = new Array[Int](lines.length)
    var count = 0L
    var sum = 0L

    def reset(): Unit = {
      java.util.Arrays.fill(c0, 0); java.util.Arrays.fill(c1, 0); count = 0L; sum = 0L
    }

    def rows(a: Int, k: Int): Long = (a until a + k).map(lines(_).toLong).sum

    private def add(i: Int, d0: Int, d1: Int): Unit = {
      c0(i) += d0; c1(i) += d1
      count += (d0 + d1).toLong * lines(i)
      sum += d0 * h0(i) + d1 * h1(i)
    }

    def append(a: Int, k: Int): Unit = (a until a + k).foreach(add(_, 1, 0))
    def delete(a: Int, k: Int): Unit = (a until a + k).foreach(i => add(i, -c0(i), -c1(i)))
    def merge(a: Int, k: Int): Unit = (a until a + k).foreach { i =>
      if (c0(i) + c1(i) > 0) add(i, -c0(i), c0(i)) else add(i, 0, 1)
    }
  }
}
