package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry query's result → parquet under
  * `out`, plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/selfcheck.py` runs it).
  *
  * Usage: `runMain graft.Verify <sf> <out> [q ...]`; with no names the
  * pass is exhaustive (no environment variable can shrink it). Runs
  * through [[Harness]]'s per-query loop and reports, per query, the
  * persistent RDDs its sweep had to free, then their sum.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val names = Harness.select(only)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val leaks = Harness.eachQuery(spark, "verify", names) { (name, build) =>
      build(sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }.filter(_.swept > 0)
    leaks.foreach(o =>
      println(s"[verify] ${o.name} left ${o.swept} persistent RDDs"))
    println(s"[verify] persistent_rdds_after_pass=${leaks.map(_.swept).sum}")
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
