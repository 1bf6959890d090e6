package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The per-layer numbers of a traced run. */
object Layers {

  /** Per-layer metrics that go into the result JSON (BENCHMARK.json's
    * `per_layer`). Each is defined on every workload; a count or ratio
    * of a layer the workload bypasses reads 0. Times of layers only
    * some workloads call are printed in the layer table instead. */
  val Reported: Seq[(String, String)] = Seq(
    "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms",
    "plans.limit_pushed_ratio" -> "ratio",
    "sources.rows_emitted_per_row_returned" -> "ratio",
    "sources.v2.rows_planned_ratio" -> "ratio",
    "sources.v2.versions" -> "count",
    "sources.v2.bytes_written_per_user_byte" -> "ratio",
    "SparkEntry.construct_jobs" -> "count",
    "Materialize.released" -> "count",
    "streaming.triggers" -> "count",
    "exec.jobs_per_op" -> "count",
    "exec.stages_per_op" -> "count",
    "exec.tasks_per_op" -> "count",
    "exec.task_ms" -> "ms",
    "exec.core_util" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.gc_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Mean ms per call of every span key, as `<layer>.<name>_ms`. */
  def spanMetrics(t: Tracer): Seq[Metric] =
    t.spanTotals.toSeq.sortBy(_._1).map { case (k, (calls, ms)) =>
      Metric(s"${k}_ms", ms / calls, "ms")
    }

  /** Every per-layer metric of the traced rounds: span means, listener
    * counts per op, and the workload's own. Workload values win. */
  def all(ctx: Ctx, wl: Workload, ops: Int, wallNs: Long, gcMs: Long,
      overheadPct: Double): Seq[Metric] = {
    val t = ctx.tracer
    val ex = t.exec.total
    val perOp = (v: Double) => ratio(v, ops)
    val construct = t.exec.phases.get("SparkEntry.construct").map(_.jobs).getOrElse(0L)
    val derived = Seq(
      Metric("plans.limit_pushed_ratio",
        ratio(t.counted("plans.limit_pushed"), t.counted("plans.limit_eligible")), "ratio"),
      Metric("sources.rows_emitted_per_row_returned",
        ratio(t.counted("sources.rows_emitted"), t.counted("sources.rows_returned")), "ratio"),
      Metric("sources.v2.rows_planned_ratio",
        ratio(t.counted("sources.v2.rows_planned"), t.counted("sources.v2.rows_full")), "ratio"),
      Metric("SparkEntry.construct_jobs", perOp(construct.toDouble), "count"),
      Metric("Materialize.released", perOp(t.counted("Materialize.released")), "count"),
      Metric("streaming.triggers", perOp(t.counted("streaming.triggers")), "count"),
      Metric("streaming.trigger_ms",
        ratio(t.counted("streaming.trigger_ms"), t.counted("streaming.triggers")), "ms"),
      Metric("exec.jobs_per_op", perOp(ex.jobs.toDouble), "count"),
      Metric("exec.stages_per_op", perOp(ex.stages.toDouble), "count"),
      Metric("exec.tasks_per_op", perOp(ex.tasks.toDouble), "count"),
      Metric("exec.task_ms", perOp(ex.taskMs.toDouble), "ms"),
      Metric("exec.core_util", ratio(ex.taskMs.toDouble, wallNs / 1e6 * ctx.cores), "ratio"),
      Metric("exec.shuffle_write_bytes", perOp(ex.shuffleWriteBytes.toDouble), "bytes"),
      Metric("exec.spill_bytes", perOp(ex.spillBytes.toDouble), "bytes"),
      Metric("exec.gc_ms", perOp(gcMs.toDouble), "ms"),
      Metric("trace.overhead_pct", overheadPct, "%"))
    val own = wl.layerMetrics(t, ops)
    val byName = (spanMetrics(t) ++ derived ++ own).map(m => m.name -> m).toMap
    val defaults = Reported.map { case (n, u) => Metric(n, 0.0, u) }
    (defaults.map(d => byName.getOrElse(d.name, d)) ++
      byName.values.filterNot(m => Reported.exists(_._1 == m.name)).toSeq.sortBy(_.name))
  }

  /** The per-layer table: every metric, the self time of each layer per
    * op, and the jobs each phase started per op. */
  def print(ctx: Ctx, workload: String, ops: Int, ms: Seq[Metric]): Unit = {
    val t = ctx.tracer
    println(s"[perfbench] per-layer metrics, workload $workload, $ops traced ops:")
    ms.foreach(m => println(f"[perfbench]   ${m.name}%-42s ${m.value}%14.4f ${m.unit}"))
    println(s"[perfbench] self time per layer (ms per op):")
    t.selfMsByLayer.toSeq.sortBy(-_._2).foreach { case (layer, v) =>
      println(f"[perfbench]   $layer%-42s ${ratio(v, ops)}%14.4f ms")
    }
    println(s"[perfbench] Spark work per op, by the span that started it:")
    t.exec.phases.toSeq.sortBy(_._1).foreach { case (phase, c) =>
      println(f"[perfbench]   $phase%-42s jobs ${ratio(c.jobs.toDouble, ops)}%8.3f stages ${ratio(c.stages.toDouble, ops)}%8.3f tasks ${ratio(c.tasks.toDouble, ops)}%8.3f task_ms ${ratio(c.taskMs.toDouble, ops)}%10.3f")
    }
  }

  def writeSpans(ctx: Ctx, workload: String): Unit = {
    val dir = ctx.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"$workload-seed${ctx.seed}.jsonl")
    Files.write(f, ctx.tracer.recorded.map(_.json).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] spans: ${ctx.tracer.recorded.size} written to $f")
  }
}
