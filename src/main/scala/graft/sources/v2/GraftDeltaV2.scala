package graft.sources.v2

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.RoaringBitmap

import graft.sources.InternalRowParquetBuilder

/** DELTA (deletion-vector based) row-level operations — `SupportsDelta`:
  * the mutation-efficiency half of the reference's row-granular
  * semantics (`DELETE ... WHERE xmin IN`, ExtJdbcUtils.scala:324-337).
  *
  * Where the group-based path ([[GraftRowLevelOperation]]) rewrites
  * every AFFECTED FILE whole (copy-on-write: cost ∝ touched-file
  * bytes), the delta path addresses individual rows by the engine-
  * maintained `(_file, _pos)` row id:
  *
  *  - the operation's SCAN reads only the rows the command touches
  *    (the condition filters normally — no whole-file carry);
  *  - `UPDATE` → delete(rowId) + insert(new row); `MERGE` matched
  *    clauses likewise, not-matched inserts write plain rows;
  *    untranslatable `DELETE` → delete(rowId) only;
  *  - the COMMIT folds the deleted positions into per-file DELETION
  *    VECTORS ([[DeleteVectors]]) — unioned with any existing vector,
  *    a fully-dead file dropped whole — and lands the inserted-row
  *    files, all as ONE manifest version.
  *
  * A point UPDATE thus writes bytes ∝ changed rows (sidecar + one
  * small insert file) instead of rewriting every touched file — the
  * copy-on-write floor this path removes. Compaction later
  * materializes the masks ([[GraftDeleteV2.materializeDeleteVectors]]).
  *
  * The operation's scan is VECTORIZED: `_pos` is served by a computed
  * raw-ordinal vector appended per batch ([[OrdinalColumnVector]]),
  * so candidate files are scanned at batch-decode speed — the ~10×
  * read-path win copy-on-write scans already had.
  *
  * Scope: flat tables, bucketed or not (nested schemas route to the
  * group path — the flat per-file escalation rewriter cannot copy
  * nested values). A BUCKETED table's delta insert writers split rows
  * into per-bucket files carrying the layout's `_<bucket>` suffix
  * (same contract as [[GraftBucketedDataWriterV2]]) and the write
  * requires the layout's clustered distribution + sort ordering, so a
  * point UPDATE on the engine's own recommended layout costs a
  * sidecar + one small suffixed insert file instead of whole-file
  * copy-on-write — and storage-partitioned joins stay exchange-free
  * across it. [[GraftTableV2.newRowLevelOperationBuilder]] picks the
  * path per table.
  *
  * Concurrency: the snapshot is pinned when the operation's scan is
  * BUILT (bootstrapping the manifest log if needed) and the scan reads
  * exactly that version (`versionAsOf`); the commit CASes against it,
  * so any interleaved commit — even a pure append, whose rows this
  * operation never saw — makes it lose cleanly rather than write
  * position deletes computed against a stale file set.
  */
case class GraftDeltaOperation(path: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command,
    bucketSpec: Option[graft.sources.BucketLayout] = None)
    extends RowLevelOperation
    with SupportsDelta {

  /** The manifest snapshot the scan pinned — the commit's CAS
    * expectation. */
  @volatile private[v2] var readState: GraftManifest.Snapshot = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-delta-${cmd.toString.toLowerCase}"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftFileColumn.Name),
      Expressions.column(GraftPosColumn.Name))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val tdir = new Path(path)
    val fs = tdir.getFileSystem(GraftHadoopConf.sessionConf())
    val pinned = GraftManifest.pinForMutation(fs, tdir)
    readState = pinned
    // VECTORIZED scan: `_pos` rides the batch path as a computed
    // raw-ordinal vector ([[OrdinalColumnVector]]), so a bulk
    // UPDATE/MERGE scans its candidate files at batch-decode speed.
    // Pushed filters stay residual (Spark re-evaluates the command's
    // condition above the scan) and still drive row-group stats
    // pruning; NANOS-timestamp tables auto-fall back to the row
    // readers, whose raw-read counting serves the same ordinals.
    new GraftScanBuilderV2(path, tableSchema,
      vectorizedRequested = true,
      versionAsOf = Some(pinned.version))
  }

  override def newWriteBuilder(info: LogicalWriteInfo)
      : DeltaWriteBuilder = {
    val op = this
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = GraftDeltaWrite(op)
    }
  }
}

case class GraftDeltaWrite(op: GraftDeltaOperation) extends DeltaWrite
    with RequiresDistributionAndOrdering {
  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(op)

  // bucketed layout: cluster incoming rows by the bucket transform and
  // sort by the layout's sort columns — each task then opens few
  // per-bucket writers and every suffixed insert file is internally
  // sorted (same contract as the INSERT and copy-on-write paths;
  // correctness never depends on it, any distribution only changes
  // the file count)
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    BucketWriteContract.distribution(op.bucketSpec)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    BucketWriteContract.ordering(op.bucketSpec)
}

class GraftDeltaBatchWrite(op: GraftDeltaOperation)
    extends DeltaBatchWrite {

  private val jobId = UUID.randomUUID().toString.take(8)
  private val stagingName = s".graft-v2-delta-$jobId"

  private def hconf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val bucketing = op.bucketSpec.map { b =>
      val ords = b.bucketCols.map(op.tableSchema.fieldIndex).toArray
      (b.numBuckets, ords, ords.map(op.tableSchema.fields(_).dataType))
    }
    GraftDeltaWriterFactory(
      GraftHadoopConf.broadcast(
        GraftHadoopConf.pinParquetWrite(hconf(), op.tableSchema)),
      s"${op.path}/$stagingName", jobId, bucketing)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf()
    val target = new Path(op.path)
    val fs = target.getFileSystem(conf)
    val staging = new Path(target, stagingName)
    try {
      val readState = Option(op.readState)
        .getOrElse(GraftManifest.pinForMutation(fs, target))
      // fold every task's position deletes per file
      val perFile = mutable.HashMap.empty[String, RoaringBitmap]
      val inserts = mutable.ArrayBuffer.empty[Path]
      messages.foreach {
        case GraftDeltaCommit(files, deletes) =>
          files.foreach(f => inserts += new Path(f))
          deletes.foreach { case (name, bytes) =>
            val bm = DeleteVectors.deserialize(bytes)
            perFile.get(name) match {
              case Some(acc) => acc.or(bm)
              case None => perFile(name) = bm
            }
          }
        case other => throw new IllegalStateException(
          s"graft-delta: unexpected commit message $other")
      }
      if (perFile.isEmpty && inserts.isEmpty) return // no-op command
      // union with existing vectors; classify per file: fully dead →
      // drop whole; over maxFraction → MATERIALIZE (rewrite survivors
      // — the changed rows' replacements are in the insert files), so
      // update-heavy tables don't accrete ever-larger masks; else a
      // new sidecar
      val dvd = DeleteVectors.dvDir(target)
      val maxFrac = DeleteVectors.maxFraction
      val renames = GraftCatalog.readMapping(fs, target).renames
      val victims = mutable.ArrayBuffer.empty[Path]
      val escalate =
        mutable.ArrayBuffer.empty[(String, String, Array[Byte])]
      val dvUpdates = mutable.HashMap.empty[String, String]
      var seq = 0
      perFile.foreach { case (name, bm) =>
        readState.dvs.get(name).foreach { old =>
          bm.or(DeleteVectors.load(new Path(dvd, old).toString, conf))
        }
        val resolved = GraftManifest.resolve(fs, target, Seq(name)).head
        val fileRows = FooterCache.rowGroupsFor(Seq(resolved.toString))
          .map(_.rowCount).sum
        val dead = bm.getLongCardinality
        if (fileRows == 0 && dead > 0) {
          // a masked file whose footer reads empty is a broken
          // invariant, not a sidecar candidate: falling through would
          // carry a fully-dead file as a 100% mask (correct reads,
          // silently degraded fully-dead/escalation classification),
          // and hides a real footer-read failure
          throw new IllegalStateException(
            s"graft-delta: $name carries ${dead} masked positions but " +
            "its parquet footer reports 0 rows — footer read failed " +
            "or the file is corrupt; refusing to commit the mask")
        }
        if (dead >= fileRows && fileRows > 0) {
          victims += new Path(target, name)
        } else if (fileRows > 0 && dead > maxFrac * fileRows) {
          // escalation: the mask crossed the threshold — this file is
          // rewritten minus the mask (the changed rows' replacements
          // are in the insert files) instead of accreting a vector.
          // A bucketed victim's rewrite keeps its bucket suffix — the
          // survivors are exactly that bucket's rows.
          val suffix = op.bucketSpec
            .flatMap(_ => graft.sources.BucketLayout.bucketIdOf(name))
            .map(b => f"_$b%05d.c000.snappy").getOrElse("")
          val out = s"$staging/part-delta-mat-$jobId-$seq$suffix.parquet"
          seq += 1
          escalate += ((resolved.toString, out,
            DeleteVectors.serialize(bm)))
          victims += new Path(target, name)
        } else {
          val dvName = s"$name.$jobId-$seq.dv"
          seq += 1
          fs.mkdirs(dvd)
          DeleteVectors.write(fs, new Path(dvd, dvName), bm)
          dvUpdates(name) = dvName
        }
      }
      // materialize escalated files as ONE distributed no-shuffle job
      // (one task per file) — a bulk UPDATE that escalates everything
      // runs at cluster width, same as the copy-on-write it replaces
      val extraIncoming: Seq[Path] =
        if (escalate.isEmpty) Seq.empty
        else {
          val shipped = GraftHadoopConf.broadcast(conf)
          SparkSession.active.sparkContext
            .parallelize(escalate.toSeq, escalate.size)
            .map { case (in, out, dvBytes) =>
              GraftDeleteV2.materializeOne(shipped.value.value, in, out,
                DeleteVectors.deserialize(dvBytes), renames)
            }
            .collect().toSeq.flatten.map(new Path(_))
        }
      GraftSwapV2.parkAndSwapVersioned(fs, target, readState,
        victims.toSeq, inserts.toSeq ++ extraIncoming,
        dvUpdates = dvUpdates.toMap,
        op = op.command().toString.toLowerCase)
    } finally {
      try fs.delete(staging, true) catch { case _: Throwable => () }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf()
    val target = new Path(op.path)
    val fs = target.getFileSystem(conf)
    fs.delete(new Path(target, stagingName), true)
  }
}

/** The task's staged parquet files (lazily opened on the first
  * inserted/updated row; one per touched bucket on a bucketed
  * layout) + per-file position-delete bitmaps, shipped to the driver
  * in the commit message. */
private[v2] case class GraftDeltaCommit(files: Seq[String],
    deletes: Map[String, Array[Byte]]) extends WriterCommitMessage

/** `conf` carries the table schema, pinned for the parquet writers
  * ([[GraftHadoopConf.pinParquetWrite]]). */
case class GraftDeltaWriterFactory(
    conf: Broadcast[SerializableConfiguration], stagingDir: String,
    jobId: String,
    bucketing: Option[(Int, Array[Int],
      Array[org.apache.spark.sql.types.DataType])] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(conf.value.value, stagingDir, jobId, partitionId,
      taskId, bucketing)
}

class GraftDeltaWriter(conf: Configuration, stagingDir: String,
    jobId: String, partitionId: Int, taskId: Long,
    bucketing: Option[(Int, Array[Int],
      Array[org.apache.spark.sql.types.DataType])] = None)
    extends DeltaWriter[InternalRow] {

  import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.hadoop.util.HadoopOutputFile

  private val deletes = mutable.HashMap.empty[String, RoaringBitmap]
  // key: bucket id, or -1 for the single unbucketed writer. Bucketed
  // inserts split into per-bucket files carrying the layout's
  // `_<bucket>` suffix (same contract as GraftBucketedDataWriterV2);
  // with the write's clustered distribution each task sees few
  // distinct buckets, so the map stays small.
  private val writers =
    mutable.HashMap.empty[Int, (String, ParquetWriter[InternalRow])]

  // taskId is attempt-unique, so speculative twins never collide; only
  // the attempt whose message Spark collects is committed, and the
  // staging sweep drops zombies
  private def outFileFor(bucket: Int): String =
    if (bucket < 0) {
      f"$stagingDir/part-delta-$jobId-$partitionId%05d-$taskId.parquet"
    } else {
      f"$stagingDir/part-delta-$jobId-$partitionId%05d-$taskId" +
        f"_$bucket%05d.c000.snappy.parquet"
    }

  /** `id` fields follow [[GraftDeltaOperation.rowId]] order:
    * (_file, _pos). */
  private def recordDelete(id: InternalRow): Unit = {
    val name = new Path(id.getUTF8String(0).toString).getName
    val pos = id.getLong(1)
    if (pos > Int.MaxValue.toLong) {
      throw new UnsupportedOperationException(
        s"graft-delta: row ordinal $pos of $name exceeds the deletion-" +
        "vector range — rewrite the file (compact) before row-level ops")
    }
    deletes.getOrElseUpdate(name, new RoaringBitmap()).add(pos.toInt)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    recordDelete(id)

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    recordDelete(id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    val bucket = bucketing match {
      case Some((n, ords, dts)) =>
        graft.sources.BucketLayout.rowBucket(row, ords, dts, n)
      case None => -1
    }
    writers.getOrElseUpdate(bucket, {
      val out = outFileFor(bucket)
      (out, new InternalRowParquetBuilder(
          HadoopOutputFile.fromPath(new Path(out), conf))
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build())
    })._2.write(row)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_._2.close())
    GraftDeltaCommit(
      writers.values.map(_._1).toSeq,
      deletes.map { case (n, bm) =>
        n -> DeleteVectors.serialize(bm)
      }.toMap)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (out, w) =>
      try w.close() catch { case _: Throwable => () }
      try {
        val p = new Path(out)
        p.getFileSystem(conf).delete(p, false)
      } catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = ()
}
