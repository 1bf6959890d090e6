package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What an op reports: whether its output passed the checks. */
final case class Outcome(ok: Boolean, detail: String = "")

trait Op {
  /** Kind and parameters: what the op digest is made of. */
  def describe: String
  /** What the per-kind latency summary groups by. */
  def kind: String = describe.takeWhile(_ != ' ')
  def run(): Outcome
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    data: Path, work: Path) {
  def rng(stream: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream * 7919L + 17L)
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** A closed-loop workload with one client: its ops come in rounds of a
  * fixed composition, shuffled and parameterised by the seed. */
trait Workload {
  def name: String
  /** One-time work before the set-ups, such as loading the expected
    * answers. Counted into `setup_s` once. */
  def prepare(): Unit = ()
  /** Build fresh state (tables, models) and warm up with one op of
    * every kind. Run several times, each time with the same work; the
    * last one's state is what the ops measure. */
  def setup(rep: Int): Unit
  def round(r: Int): Seq[Op]
  /** How many seconds of `--seconds` one round stands for: a run is
    * ceil(seconds / roundSeconds) rounds. */
  def roundSeconds: Double
  /** Workload-specific metrics printed beside the JSON line. */
  def extraMetrics(measuredSec: Double): Seq[Metric] = Nil
  /** Workload-specific per-layer metrics of the traced rounds. */
  def layerMetrics(tracer: Tracer, tracedOps: Int): Seq[Metric] = Nil
}

final case class Metric(name: String, value: Double, unit: String)

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = Paths.get(opt("data"))
    val work = Paths.get(opt("work"))
    val expected = Paths.get(opt("expected"))

    val spark = Session.build(work)
    val tracer = new Tracer(spark)
    if (trace) tracer.install()
    val ctx = Ctx(spark, tracer, seed, data, work)
    val wl: Workload = workloadName match {
      case "peek" => new Peek(ctx)
      case "ingest" => new Ingest(ctx)
      case "pipeline" => new Pipeline(ctx, expected)
      case "selftest" => SelfTest.run(ctx); sys.exit(0)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val result =
      try measure(ctx, wl, seconds, trace)
      finally spark.stop()
    println(result)
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def measure(ctx: Ctx, wl: Workload, seconds: Double,
      trace: Boolean): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    wl.prepare()
    val readySec = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupSecs = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    // every set-up does the same work (fresh tables, one op of every
    // kind), so the median stands for a whole set-up, warm-up included
    val setupS = readySec + Stats.median(setupSecs)
    log(f"setup: jvm+session+prepare $readySec%.3f s, set-ups ${setupSecs.map(s => f"$s%.3f").mkString(" ")} s, " +
      f"jvm start to first timed op ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s")
    println(s"[perfbench] ops_digest ${digest(wl)} (first 64 rounds of seed ${ctx.seed})")

    // closed loop, one client. A run is a fixed number of rounds, so
    // sample counts, and so percentiles, stay the same between commits.
    // A traced run first runs one warm round it does not time (so the
    // first timed round is not colder than the rest), then twice as many
    // rounds; odd ones are traced and even ones are not, which gives the
    // tracing overhead.
    val lat = Seq.newBuilder[Double]
    val byKind = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    var plainNs, tracedNs = 0L
    var plainOps, tracedOps, attempted, failed = 0
    var tracedGcMs = 0L
    val rounds = math.max(1, math.ceil(seconds / wl.roundSeconds).toInt) * (if (trace) 2 else 1)
    def run(op: Op, id: Long): Long = {
      attempted += 1
      val t0 = System.nanoTime()
      val out =
        try ctx.tracer.op(id)(op.run())
        catch { case NonFatal(e) => Outcome(ok = false, detail = e.toString) }
      if (!out.ok) {
        failed += 1
        log(s"FAILED op ${op.describe}: ${out.detail}")
      }
      System.nanoTime() - t0
    }
    if (trace) wl.round(rounds).foreach(run(_, -1L))
    (0 until rounds).foreach { r =>
      val traced = trace && r % 2 == 1
      ctx.tracer.on = traced
      val gc0 = gcMs()
      wl.round(r).zipWithIndex.foreach { case (op, i) =>
        val ns = run(op, r * 1000L + i)
        if (traced) { tracedNs += ns; tracedOps += 1 }
        else { plainNs += ns; plainOps += 1; lat += ns / 1e6; byKind(op.kind) :+= ns / 1e6 }
      }
      if (traced) tracedGcMs += gcMs() - gc0
    }
    ctx.tracer.on = false
    val measuredSec = plainNs / 1e9
    val latencies = lat.result()
    val heapMb = retainedHeapMb()
    log(s"executed $attempted ops in $rounds rounds, failed $failed")

    byKind.toSeq.sortBy(_._1).foreach { case (k, v) =>
      log(f"  $k%-36s n ${v.size}%4d  p50 ${Stats.median(v)}%10.1f ms  max ${v.max}%10.1f ms")
    }
    val opsPerS = plainOps / measuredSec
    val (tailPct, tailMs) = Stats.tail(latencies)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ops_per_s", opsPerS, "1/s"),
      Metric("latency_p50_ms", Stats.median(latencies), "ms"),
      Metric("latency_tail_ms", tailMs, "ms"),
      Metric("heap_retained_mb", heapMb, "MB"))
    val extras = Metric("error_ratio", failed.toDouble / attempted, "ratio") +:
      wl.extraMetrics(measuredSec)
    println(f"[perfbench] latency_tail_ms is p$tailPct%.1f of ${latencies.size} samples")
    extras.foreach(m => println(s"[perfbench] ${m.name} ${m.value} ${m.unit}"))

    val metrics =
      if (!trace) e2e
      else {
        org.apache.spark.PerfbenchBridge.drainListenerBus(ctx.spark.sparkContext)
        val tracedOpsPerS = tracedOps / (tracedNs / 1e9)
        val overheadPct = (opsPerS - tracedOpsPerS) / opsPerS * 100.0
        val layer = Layers.all(ctx, wl, tracedOps, tracedNs, tracedGcMs, overheadPct)
        Layers.print(ctx, wl.name, tracedOps, layer)
        println(f"[perfbench] tracing overhead: untraced $opsPerS%.3f ops/s ($plainOps ops), traced $tracedOpsPerS%.3f ops/s ($tracedOps ops), $overheadPct%.2f%%")
        Layers.writeSpans(ctx, wl.name)
        layer.take(Layers.Reported.size)
      }
    val body = metrics.map(m =>
      s""""${m.name}": {"value": ${Stats.num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** Digest of the generated op sequence (its first 64 rounds), so two
    * runs with one seed provably plan the same ops. */
  private def digest(wl: Workload): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (0 until 64).foreach(r => wl.round(r).foreach(op =>
      md.update(op.describe.getBytes(StandardCharsets.UTF_8))))
    hex(md.digest()).take(16)
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Session {
  def build(work: Path): SparkSession = {
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("catalog").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it — the
    * 11th-largest sample, at percentile 100 * (n - 10) / n — when that
    * lies above the median (n > 20). With 20 samples or fewer no such
    * percentile exists; then p90 by nearest rank. Returns (percentile,
    * value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n > 20) (100.0 * (n - 10) / n, s(n - 11))
    else (90.0, s(math.max(0, math.ceil(0.9 * n).toInt - 1)))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
