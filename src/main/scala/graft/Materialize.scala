package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialization barriers with a RELEASE lifecycle, and the one owner
  * of the storage they pin. A barrier is a `localCheckpoint`: it cuts
  * the plan so every consumer re-reads the checkpointed blocks instead
  * of re-executing the lineage (round 19: q_mad planned 30 parquet
  * scans without them), and it pins that storage until unpersisted.
  *
  * Contract:
  *  - A barrier's RDD is read from the checkpointed Dataset's own plan
  *    (its `LogicalRDD`), never from a registry diff, so a `.cache()`
  *    buffer first built by the checkpoint is never taken for it.
  *  - It is recorded, weakly, in a scope owned by the building thread.
  *    [[release]] frees the calling thread's scope only, so a release
  *    never touches a barrier a live stream still reads.
  *  - Each engine `foreachBatch` body runs in [[scoped]], so every
  *    micro-batch frees its own barriers; iterative fits scope their
  *    training and [[drop]] each superseded generation.
  *  - [[release]] also deletes the scope's [[tempDir]]s, which the
  *    lifecycle queries' frames read lazily.
  *
  * `Bench`, `Verify` and perfbench call [[release]] after each query's
  * action; a library user should too, on the thread that built the
  * query. It is NOT safe while a query reading the blocks still runs:
  * a localCheckpoint truncates lineage, so lost blocks cannot be
  * recomputed. Streaming frames pass through [[barrier]] unchanged.
  */
object Materialize {

  /** What one scope built and must free. */
  private final class Scope {
    val rdds = ArrayBuffer.empty[WeakReference[RDD[_]]]
    val dirs = ArrayBuffer.empty[Path]
  }

  private val current = ThreadLocal.withInitial[Scope](() => new Scope)

  /** Make `next` the calling thread's scope; returns the one it replaces. */
  private def swap(next: Scope): Scope = {
    val prev = current.get
    current.set(next)
    prev
  }

  /** Lazy materialization barrier: cut the plan here so every
    * downstream consumer re-reads the checkpointed blocks instead of
    * re-executing the lineage. No-op on streaming frames. */
  def barrier(df: DataFrame): DataFrame = checkpoint(df, eager = false)

  /** Eager variant for iterative fixpoints (BPE merge generations):
    * materializes now, so the caller may [[drop]] the previous
    * generation immediately. */
  def barrierEager(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    if (df.isStreaming) df
    else {
      val out = df.localCheckpoint(eager)
      current.get.rdds ++= rddOf(out).map(new WeakReference[RDD[_]](_))
      out
    }

  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }

  /** Unpersist one frame [[barrier]] or [[barrierEager]] returned, now:
    * a generation loop's superseded state. */
  def drop(df: DataFrame): Unit = rddOf(df).foreach(unpersist)

  /** Run `body` in a fresh scope and release what it built on exit. */
  def scoped[T](body: => T): T = {
    val outer = swap(new Scope)
    try body finally close(swap(outer))
  }

  /** A fresh temp directory, deleted by the current scope's release. */
  private[graft] def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    current.get.dirs += d
    d
  }

  /** Unpersist the barriers the calling thread's scope recorded, delete
    * its temp directories and start a fresh scope. Returns how many
    * barriers were still persisted. Non-blocking: the blocks are dead
    * weight, not correctness state. Each barrier is freed in the
    * context that built it, whatever `spark` is. */
  def release(spark: SparkSession): Int = close(swap(new Scope))

  private def close(scope: Scope): Int = {
    val n = scope.rdds.count(ref => Option(ref.get).exists(unpersist))
    scope.dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    n
  }

  /** Unpersist `rdd` if it is still persisted in a live context. */
  private def unpersist(rdd: RDD[_]): Boolean =
    !rdd.sparkContext.isStopped && rdd.getStorageLevel != StorageLevel.NONE && {
      rdd.unpersist(blocking = false)
      true
    }
}
