package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Spans of one op share `op`;
  * `parent` is the enclosing span's id, or -1 for the op's root. */
final case class Span(op: Long, id: Int, parent: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def key: String = s"$layer.$name"
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"op":$op,"id":$id,"parent":$parent,"layer":"$layer",""" +
      s""""name":"$name","start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans and counts around the benchmark's calls into each engine
  * module. Off, `span` only runs its body. On, it records the interval
  * and tags every Spark job submitted inside it with the op id and the
  * span, so the listeners can attribute jobs, stages, tasks and stream
  * triggers to the op and phase that caused them. Spans stay in memory
  * until the run writes them out. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var on = false
  @volatile private var op = -1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val counts = new ConcurrentHashMap[String, Double]()
  val exec = new ExecListener
  val streams = new StreamListener(this)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(streams)
  }

  def recorded: Seq[Span] = spans.toSeq

  /** The traced op running now, or -1. */
  def runningOp: Long = op

  /** Run one op as a root span named `op`. */
  def op[T](id: Long)(body: => T): T =
    if (!on) body
    else {
      op = id
      spark.sparkContext.setLocalProperty(OpKey, id.toString)
      try span("bench", "op")(body)
      finally {
        spark.sparkContext.setLocalProperty(OpKey, null)
        op = -1L
      }
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on || op < 0) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(PhaseKey)
      sc.setLocalProperty(PhaseKey, s"$layer.$name")
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(op, id, parent, layer, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(PhaseKey, outer)
      }
    }

  /** Add `v` to a named count of the running op (no-op when off). */
  def count(key: String, v: Double = 1.0): Unit =
    if (on && op >= 0) counts.merge(key, v, (a: Double, b: Double) => a + b)

  private[perfbench] def countFromListener(key: String, v: Double): Unit =
    counts.merge(key, v, (a: Double, b: Double) => a + b)

  def counted(key: String): Double = counts.getOrDefault(key, 0.0)

  /** Per span key: (calls, total ms). */
  def spanTotals: Map[String, (Int, Double)] =
    spans.groupBy(_.key).map { case (k, ss) => k -> (ss.size -> ss.map(_.ms).sum) }

  /** Self time per layer: each span's duration minus the part its
    * child spans cover, summed per layer. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = mutable.Map.empty[(Long, Int), Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs((s.op, s.parent)) += s.ms)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs((s.op, s.id))).sum
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

/** Job, stage and task counts of traced ops, keyed by the span (phase)
  * that submitted the job — so jobs run while a frame is constructed
  * stay apart from jobs run while it executes. */
final class ExecListener extends SparkListener {
  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val byPhase = new ConcurrentHashMap[String, Counters]()

  private def counters(phase: String): Counters =
    byPhase.computeIfAbsent(phase, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).filter(_.getProperty(Tracer.OpKey) != null)
      .foreach { p =>
        val phase = Option(p.getProperty(Tracer.PhaseKey)).getOrElse("bench.op")
        val c = counters(phase)
        c.synchronized(c.jobs += 1)
        e.stageIds.foreach(stagePhase.put(_, phase))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stagePhase.get(e.stageInfo.stageId)).foreach { phase =>
      val c = counters(phase)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stagePhase.get(e.stageId)).foreach { phase =>
      val c = counters(phase)
      val m = Option(e.taskMetrics)
      c.synchronized {
        c.tasks += 1
        m.foreach { tm =>
          c.taskMs += tm.executorRunTime
          c.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          c.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }

  def phases: Map[String, Counters] = byPhase.asScala.toMap

  def total: Counters = {
    val t = new Counters
    byPhase.values.asScala.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskMs += c.taskMs; t.shuffleWriteBytes += c.shuffleWriteBytes
      t.spillBytes += c.spillBytes
    }
    t
  }
}

/** Stream trigger counts and durations, attributed to the traced op
  * that started the stream. Spark delivers a query's start event to the
  * session's listeners on the thread that starts it, so the running op
  * is known then; progress events arrive later, on the listener bus,
  * and are matched to it by run id. */
final class StreamListener(tracer: Tracer) extends StreamingQueryListener {
  private val startedBy = new ConcurrentHashMap[UUID, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    val op = tracer.runningOp
    if (op >= 0) startedBy.put(e.runId, op)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (startedBy.containsKey(e.progress.runId)) {
      tracer.countFromListener("streaming.triggers", 1.0)
      tracer.countFromListener("streaming.trigger_ms", e.progress.batchDuration.toDouble)
    }
}
