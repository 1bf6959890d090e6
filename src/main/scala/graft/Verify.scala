package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // local spot-checks: SPARK_GRAFT_ONLY=q_a,q_b runs a subset (the
    // driver never sets it, so its runs stay exhaustive)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    val baselinePersistent = spark.sparkContext.getPersistentRDDs.keySet
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query storage hygiene, same as Bench: release the
      // operators' materialization barriers, then sweep any other
      // leftover persistent RDDs — a 250-query pass must not
      // accumulate pinned checkpoint blocks
      spark.catalog.clearCache()
      Materialize.release(spark)
      val leftover =
        spark.sparkContext.getPersistentRDDs -- baselinePersistent
      leftover.values.foreach(_.unpersist(blocking = false))
    }
    // no-leak rider: after a full pass nothing may remain persisted
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet -- baselinePersistent
    println(s"[verify] persistent_rdds_after_pass=${leaked.size}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
