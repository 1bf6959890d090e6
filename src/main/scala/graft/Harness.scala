package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dev harness the mains (`Bench`, `Verify`, `ScaleProbe`,
  * `DumpPlans`) share: the session, query selection, set-up, one
  * per-query loop with storage hygiene, and a min-of-N timer. The engine
  * itself is a library; none of this runs inside a user's session.
  */
object Harness {

  /** The local session: `SPARK_GRAFT_CPUS` cores (default
    * `min(nproc, 32)`), as many shuffle partitions, UTC, AQE on, no UI,
    * log level WARN. `conf` adds a main's own settings. */
  def session(conf: (String, String)*): SparkSession = {
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

  /** `names`, or `default` when none are given. Every name must be a
    * `SparkEntry` query: an unknown one fails here, before any runs. */
  def select(names: Seq[String],
      default: => Seq[String] = SparkEntry.queries.keys.toSeq): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) default else names
  }

  /** One warm-up action, so JVM and codegen start-up is not billed to
    * the first query, then the one-time model fits for each dir (the
    * operators' train-once / apply-many contract) unless
    * `SPARK_GRAFT_SKIP_PREFIT` is set. */
  def setUp(spark: SparkSession, dirs: String*): Unit = {
    spark.read.parquet(s"${dirs.head}/nation.parquet").count()
    if (!sys.env.contains("SPARK_GRAFT_SKIP_PREFIT"))
      dirs.foreach(SparkEntry.prefitModels(spark, _))
  }

  /** What one query's iteration gave: the action's result (`None` if
    * it threw) and how many persistent RDDs the sweep had to free. */
  final case class Outcome[T](name: String, result: Option[T], swept: Int)

  /** Runs `action(name, build)` for each query in turn, `build(dir)`
    * being the query's DataFrame over `dir`. Before each query one
    * `[main] name` line goes to stderr, so Spark's warnings fall under
    * it; a throwing query is reported and the loop goes on. After each,
    * the SQL cache is cleared, the query's barriers and temp dirs are
    * released, and any persistent RDD beyond the start-of-run baseline
    * is swept, so no query inherits another's pinned blocks. */
  def eachQuery[T](spark: SparkSession, main: String, names: Seq[String])(
      action: (String, String => DataFrame) => T): Seq[Outcome[T]] = {
    select(names)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    names.map { name =>
      Console.err.println(s"[$main] $name")
      val result =
        try Some(action(name, dir => SparkEntry.queries(name)(spark, dir)))
        catch { case e: Throwable => failed(main, name, e); None }
      spark.catalog.clearCache()
      Materialize.release(spark)
      val leftover = spark.sparkContext.getPersistentRDDs -- baseline
      leftover.values.foreach(_.unpersist(blocking = false))
      Outcome(name, result, leftover.size)
    }
  }

  /** Seconds of the fastest of `runs` full executions of `build`
    * through the noop sink (a bare `count()` would let Catalyst prune
    * projections, windows and sorts). Only successful runs count: a
    * fast failure is not a timing. `-1` when every run fails. */
  def minOfN(runs: Int, main: String, name: String)(
      build: => DataFrame): Double = {
    val times = (1 to runs).flatMap { _ =>
      val t0 = System.nanoTime()
      try {
        build.write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => failed(main, name, e); None }
    }
    if (times.isEmpty) -1.0 else times.min
  }

  private def failed(main: String, name: String, e: Throwable): Unit =
    Console.err.println(s"[$main] $name failed: ${e.getMessage}")
}
