package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import graft.sources.GraftSink

/** The output checks every workload applies. */
object Checks {
  def rowCount(got: Long, want: Long): Option[String] =
    if (got != want) Some(s"returned $got rows, expected $want") else None

  /** A result's (rows, hash) against the committed value and against
    * what the same query gave earlier in the run. */
  def fingerprint(got: (Long, Long), expected: Option[(Long, Long)],
      earlier: Option[(Long, Long)]): Option[String] =
    earlier.filter(_ != got).map(e => s"rows/hash $got differ from its earlier run $e")
      .orElse(expected.filter(_ != got).map(e => s"rows/hash $got, expected $e"))

  /** An injected write failure counts as success only when the save
    * threw, the data files are the ones from before, and the read-back
    * matches the ledger. */
  def rollback(threw: Boolean, before: Set[String], after: Set[String],
      readBack: => Outcome): Outcome =
    if (!threw) Outcome(ok = false, "injected failure did not fail the save")
    else if (after != before)
      Outcome(ok = false, s"rollback left files behind: ${(after -- before).mkString(", ")}")
    else readBack

  def outcome(errors: Option[String]*): Outcome =
    errors.flatten.headOption.map(e => Outcome(ok = false, e)).getOrElse(Outcome(ok = true))
}

/** Feeds each checker a wrong answer — a wrong row count, a hash
  * mismatch, a rollback that leaves a part file behind — beside one
  * right answer, and requires exactly the three wrong ones to fail. */
object SelfTest {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("selftest")
    val table = dir.resolve("t").toString
    spark.range(0, 1000, 1, 4).toDF("id")
      .write.format("graft-v2").option("path", table).mode("append").save()
    val df = spark.read.format("graft-v2").load(table)
    val right = Pipeline.fingerprint(df)
    val ops: Seq[(String, Boolean, () => Outcome)] = Seq(
      ("right answer", true, () => Checks.outcome(
        Checks.rowCount(df.limit(5).collect().length, 5),
        Checks.fingerprint(Pipeline.fingerprint(df), Some(right), None))),
      ("wrong row count", false, () => Checks.outcome(
        Checks.rowCount(df.limit(5).collect().length, 6))),
      ("hash mismatch", false, () => Checks.outcome(
        Checks.fingerprint(Pipeline.fingerprint(df), Some(right._1 -> (right._2 + 1)), None))),
      ("rollback leaves a part file", false, () => {
        val before = Files0.dataFiles(dir.resolve("t"))
        val threw =
          try {
            GraftSink.saveCompensating(df.repartition(4), table, SaveMode.Append, failPartition = 1)
            false
          } catch { case _: RuntimeException => true }
        Files.write(dir.resolve("t").resolve("part-stray-0.parquet"), Array[Byte](1, 2, 3))
        Checks.rollback(threw, before, Files0.dataFiles(dir.resolve("t")),
          Checks.outcome(Checks.rowCount(spark.read.format("graft-v2").load(table)
            .filter(col("id") >= 0).count(), 1000)))
      }))
    val outs = ops.map { case (what, _, op) =>
      val out = op()
      println(s"[perfbench] selftest: $what -> ${if (out.ok) "ok" else "failed: " + out.detail}")
      out
    }
    val errorRatio = outs.count(!_.ok).toDouble / ops.size
    println(s"[perfbench] selftest: error_ratio $errorRatio from ${ops.size} ops (expected 0.75)")
    Files0.deleteTree(dir)
    if (ops.zip(outs).forall { case ((_, shouldPass, _), out) => out.ok == shouldPass })
      println("[perfbench] selftest: every checker caught its fault")
    else { println("[perfbench] selftest: a checker missed its fault"); sys.exit(1) }
  }
}
