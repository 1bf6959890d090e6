package graft

import org.apache.spark.sql.SparkSession

/** The local session every harness main builds: `SPARK_GRAFT_CPUS`
  * cores (default `min(nproc, 32)`), as many shuffle partitions, UTC,
  * AQE on, no UI, log level WARN. `conf` adds a main's own settings.
  */
object LocalSession {
  def apply(conf: (String, String)*): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 32))
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
