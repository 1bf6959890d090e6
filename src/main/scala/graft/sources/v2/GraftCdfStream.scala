package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** STREAMING change data feed: `readStream.format("graft-v2")
  * .option("readChangeFeed", "true")` tails a table's manifest log
  * and emits CHANGE ROWS (`_change_type` / `_commit_version` /
  * `_commit_timestamp`) instead of appended rows — the scan-level
  * face of [[GraftCdf]], riding the same manifest-versioned offsets
  * as the plain micro-batch tail (a batch = a version range; offsets
  * need no side state, the log is the state).
  *
  * What each version contributes, all partition-expressible (no
  * joins, no shuffles — every change set is a file scan):
  *
  *  - `op=maintenance`: nothing (files reshuffled, no logical change).
  *  - pure appends: the added files, read raw, tagged `insert`.
  *  - deletion-vector growth on files live in both versions (the
  *    delta path's UPDATE/DELETE/MERGE): the file read RAW with an
  *    emit-ONLY-the-bitmap-difference filter — exactly the rows this
  *    commit deleted, at file-scan cost.
  *  - whole-file removals with NO replacement files (a pure DELETE):
  *    the removed files read under the PREVIOUS version's masks,
  *    tagged `delete`.
  *  - `op=update` labels deletes `update_preimage` and inserts
  *    `update_postimage`.
  *
  * A copy-on-write REWRITE (removed files replaced by residue — COW
  * DELETE/UPDATE boundaries, truncate-overwrites) is NOT
  * scan-expressible: netting carried-over rows needs the batch
  * reconstruction's multiset difference. By default the stream
  * fail-stops with guidance (consume that range via
  * [[GraftCdf.tableChanges]] + `StreamOps.applyChanges`, or keep DML
  * on the delta path, whose commits stream exactly). With
  * `.option("cowFallback", "batch")` the stream DRAINS such a
  * version itself: the batch reconstruction runs as a distributed
  * job at planning time, its result lands in a
  * `.graft-cdf-drain/v<N>` spill (never on the driver), and the
  * micro-batch reads the spill — mixed delta+COW histories then
  * stream end-to-end with exactly the batch feed's rows, at the cost
  * of the rewrite-sized reconstruction job. Spills are swept when
  * their version's batch commits. Same honesty contract as the plain
  * tail's append-only guard: the default stays fail-stop.
  *
  * Retention: a version range whose manifests or archive files were
  * vacuumed before the batch executed fails with the retention
  * diagnosis — the feed's window is the vacuum window. */
object GraftCdfStream {
  val ChangeTypeField = StructField(GraftCdf.ChangeType, StringType,
    nullable = false)
  val CommitVersionField = StructField(GraftCdf.CommitVersion, LongType,
    nullable = false)
  val CommitTimestampField = StructField(GraftCdf.CommitTimestamp,
    TimestampType, nullable = true)

  def feedSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.toSeq ++
      Seq(ChangeTypeField, CommitVersionField, CommitTimestampField))
}

/** The table face of the change-feed stream: read-only, micro-batch
  * only; the data schema is the table's resolved schema, change
  * metadata appended. */
case class GraftCdfTableV2(path: String, dataSchema: StructType,
    startingVersion: Long, cowFallback: String = "fail")
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdf:${path.split('/').last}"
  override def schema(): StructType = GraftCdfStream.feedSchema(dataSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = GraftCdfScan(path, dataSchema,
      startingVersion, cowFallback,
      maxVersionsPerTrigger =
        Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
          .getOrElse(-1))
  }
}

case class GraftCdfScan(path: String, dataSchema: StructType,
    startingVersion: Long, cowFallback: String = "fail",
    maxVersionsPerTrigger: Int = -1) extends Scan {
  override def readSchema(): StructType =
    GraftCdfStream.feedSchema(dataSchema)
  override def description(): String = s"graft-cdf:$path"
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new GraftCdfMicroBatchStream(path, dataSchema, startingVersion,
      cowFallback, maxVersionsPerTrigger)
}

/** One change-feed partition: a raw row-group read plus the change
  * tag. `emitOnlyDv`/`emitOnlyPrevDv` select the DV-diff mode (emit
  * ONLY the positions this commit deleted); `inner.dvFile` selects
  * the whole-file-delete mode (emit the rows still live at the
  * previous version). */
case class GraftCdfPartition(inner: GraftInputPartition,
    changeType: String, commitVersion: Long, commitTsMillis: Long,
    emitOnlyDv: String = null, emitOnlyPrevDv: String = null,
    emitRowStart: Long = 0L,
    forceRow: Boolean = false,
    drained: Boolean = false) extends InputPartition

class GraftCdfMicroBatchStream(path: String, dataSchema: StructType,
    startingVersion: Long, cowFallback: String = "fail",
    maxVersionsPerTrigger: Int = -1)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: pin the feed head when the run starts and
  // drain (startingVersion, pin] in admission-controlled batches,
  // then stop; versions committed mid-run wait for the next run.
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(
      latestOffset().asInstanceOf[GraftStreamOffset].logOffset)

  private val hconf: Configuration = GraftHadoopConf.sessionConf()
  private val tdir = new Path(path)
  private val tfs = tdir.getFileSystem(hconf)

  private val DrainDirName = ".graft-cdf-drain"
  private def drainRoot = new Path(tdir, DrainDirName)
  private def drainDir(v: Long) = new Path(drainRoot, f"v$v%010d")

  /** Materialize version `v`'s batch-reconstructed changes into its
    * drain spill (idempotent: a complete spill is reused; a torn one —
    * crash between rename and marker — is rebuilt). The reconstruction
    * is a DISTRIBUTED job whose output lands in parquet under the
    * table; nothing rides the driver. Returns the spill's files. */
  private def ensureDrained(v: Long): Seq[String] = {
    val d = drainDir(v)
    val marker = new Path(d, "_GRAFT_DRAINED")
    if (!tfs.exists(marker)) {
      val spark = SparkSession.active
      val changes = GraftCdf.tableChanges(spark, path, v, v)
      // align to THIS stream's pinned data schema (the feed schema is
      // fixed at stream start; a column evolved mid-history reads
      // NULL/cast exactly as the batch feed aligns it)
      val have = changes.columns.toSet
      import org.apache.spark.sql.functions.{col, lit}
      val aligned = changes.select(
        (dataSchema.fields.toSeq.map { f =>
          if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } ++ Seq(col(GraftCdf.ChangeType), col(GraftCdf.CommitVersion),
          col(GraftCdf.CommitTimestamp))): _*)
      val tmp = new Path(drainRoot,
        s".tmp-v$v-${java.util.UUID.randomUUID().toString.take(8)}")
      aligned.write.mode("overwrite").parquet(tmp.toString)
      if (tfs.exists(d)) tfs.delete(d, true) // torn previous attempt
      if (!tfs.rename(tmp, d)) {
        // a concurrent planner drained it first: reuse theirs
        tfs.delete(tmp, true)
      }
      if (!tfs.exists(marker)) tfs.create(marker, true).close()
    }
    tfs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
  }

  override def initialOffset(): Offset =
    // batches are version ranges (startV, endV]: beginning at version
    // N means an initial offset of N-1; the default (1) replays the
    // full feed — version 1 is the initial population
    GraftStreamOffset(math.max(0L, startingVersion - 1L))

  override def latestOffset(): Offset = {
    val cur = GraftManifest.current(tfs, tdir).map(_.version).getOrElse {
      throw new IllegalStateException(
        s"graft-cdf stream: $path has no manifest log — the change " +
        "feed begins at the table's first graft-v2 commit (write the " +
        "first append with option(\"changelog\", \"true\") or call " +
        "GraftCdf.enableChangeFeed)")
    }
    GraftStreamOffset(cur)
  }

  // ===== admission control (maxVersionsPerTrigger) =====
  // Feed offsets ARE manifest versions, so capping a catch-up batch is
  // pure offset arithmetic: at most n versions reconstruct per
  // trigger. Without it, a consumer restarting after a long gap plans
  // one batch covering the whole missed range — every version's
  // DV-diff/COW-replay pieces in a single job.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit
      .allAvailable()

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val rawHead =
      latestOffset().asInstanceOf[GraftStreamOffset].logOffset
    val head = availableNowCap.fold(rawHead)(math.min(rawHead, _))
    val s = start.asInstanceOf[GraftStreamOffset].logOffset
    if (maxVersionsPerTrigger <= 0) {
      return GraftStreamOffset(math.max(head, s))
    }
    GraftStreamOffset(math.max(s,
      math.min(head, s + maxVersionsPerTrigger)))
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = {
    val m = "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-cdf stream: unparseable offset '${json.take(200)}'"))
    GraftStreamOffset(m.group(1).toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val startV = start.asInstanceOf[GraftStreamOffset].logOffset
    val endV = end.asInstanceOf[GraftStreamOffset].logOffset
    // spills at or below the committed start offset are done for good
    // (Spark only advances start past durably committed batches) —
    // sweep here too, because the engine's commit() callback for the
    // LAST batch may not fire until the next trigger
    sweepDrained(startV)
    if (endV <= startV) return Array.empty
    val retained = GraftManifest.versions(tfs, tdir).toSet
    val needed = (math.max(startV, 1L) to endV).filterNot(retained)
    if (needed.nonEmpty) {
      throw new IllegalStateException(
        s"graft-cdf stream: manifest version(s) ${needed.mkString(", ")} " +
        s"of $path were vacuumed before the batch ($startV, $endV] " +
        "executed — the retention window must outlast the stream's " +
        "longest restart gap")
    }
    val renames = GraftCatalog.readMapping(tfs, tdir).renames
    val requested = dataSchema.fieldNames.toSeq
    val dvDir = DeleteVectors.dvDir(tdir)

    def groupsOf(names: Seq[String]): Seq[FooterCache.RowGroupMeta] =
      FooterCache.rowGroupsFor(
        GraftManifest.resolve(tfs, tdir, names).map(_.toString))

    val out = Array.newBuilder[InputPartition]
    // the batch is the half-open range (startV, endV]
    ((math.max(startV + 1L, 1L)) to endV).foreach { v =>
      val op = GraftManifest.opOf(tfs, tdir, v).getOrElse("write")
      if (op != "maintenance") {
        val cur = GraftManifest.read(tfs, tdir, v)
        val prev =
          if (retained.contains(v - 1)) GraftManifest.read(tfs, tdir, v - 1)
          else GraftManifest.Snapshot(v - 1, Seq.empty)
        val ts = GraftManifest.commitTimeMillis(tfs, tdir, v)
          .getOrElse(-1L)
        val curNames = cur.names.toSet
        val prevNames = prev.names.toSet
        val added = cur.names.filterNot(prevNames)
        val removed = prev.names.filterNot(curNames)
        val (delType, insType) =
          if (op == "update") ("update_preimage", "update_postimage")
          else ("delete", "insert")

        if (removed.nonEmpty && added.nonEmpty) {
          // a copy-on-write rewrite: carried-over rows can only be
          // netted out by the batch reconstruction's multiset diff
          if (cowFallback != "batch") {
            throw new IllegalStateException(
              s"graft-cdf stream: version $v of $path rewrote files " +
              s"(op=$op, ${removed.size} removed, ${added.size} added) — " +
              "a rewrite's changes are not scan-expressible. Consume " +
              "this range with GraftCdf.tableChanges (batch " +
              "reconstruction nets the carried-over rows) and restart " +
              "the stream past it, set option(\"cowFallback\", " +
              "\"batch\") to have the stream drain rewrites itself, " +
              "or keep DML on the delta path (deletion vectors), " +
              "whose commits stream exactly")
          }
          // drain: the batch reconstruction of exactly this version,
          // spilled to parquet and served as this batch's partitions —
          // the change rows ARE the spill's columns (stamps included)
          val ts = GraftManifest.commitTimeMillis(tfs, tdir, v)
            .getOrElse(-1L)
          FooterCache.rowGroupsFor(ensureDrained(v)).foreach { rg =>
            out += GraftCdfPartition(
              GraftInputPartition(rg.file, rg.index, rg.startingPos,
                rg.compressedBytes),
              "drained", v, ts, drained = true)
          }
        } else {

        // pure appends / delta insert files: added rows verbatim
        groupsOf(added).foreach { rg =>
          out += GraftCdfPartition(
            GraftInputPartition(rg.file, rg.index, rg.startingPos,
              rg.compressedBytes,
              nameMap = PhysicalNames.mapFor(rg.file, requested, renames)),
            insType, v, ts)
        }

        // whole-file deletes (no replacements): previous version's
        // live rows of the removed files
        if (removed.nonEmpty) {
          val groups = groupsOf(removed)
          val starts = DeleteVectors.rowStarts(groups.filter(rg =>
            prev.dvs.contains(new Path(rg.file).getName)))
          groups.foreach { rg =>
            val dv = prev.dvs.get(new Path(rg.file).getName)
            out += GraftCdfPartition(
              GraftInputPartition(rg.file, rg.index, rg.startingPos,
                rg.compressedBytes,
                dvFile = dv.map(d => new Path(dvDir, d).toString).orNull,
                rowStart = starts.getOrElse((rg.file, rg.index), 0L),
                nameMap = PhysicalNames.mapFor(rg.file, requested, renames)),
              delType, v, ts)
          }
        }

        // deletion-vector growth on files live in BOTH versions: emit
        // exactly the bitmap difference
        val dvGrown = cur.dvs.toSeq.collect {
          case (name, dvName)
              if prevNames.contains(name) && curNames.contains(name) &&
                !prev.dvs.get(name).contains(dvName) =>
            (name, dvName, prev.dvs.get(name))
        }
        if (dvGrown.nonEmpty) {
          val groups = groupsOf(dvGrown.map(_._1))
          val starts = DeleteVectors.rowStarts(groups)
          val byName = dvGrown.map(t => t._1 -> t).toMap
          groups.foreach { rg =>
            val (_, curDv, prevDv) = byName(new Path(rg.file).getName)
            out += GraftCdfPartition(
              GraftInputPartition(rg.file, rg.index, rg.startingPos,
                rg.compressedBytes,
                nameMap = PhysicalNames.mapFor(rg.file, requested, renames)),
              delType, v, ts,
              emitOnlyDv = new Path(dvDir, curDv).toString,
              emitOnlyPrevDv =
                prevDv.map(d => new Path(dvDir, d).toString).orNull,
              emitRowStart = starts.getOrElse((rg.file, rg.index), 0L))
          }
        }
        }
      }
    }
    val parts = out.result()
    // Spark refuses a batch that mixes row-based and columnar
    // partitions: when any DV-diff piece (row-only) is present, plan
    // the whole batch row-based. Diffs only exist on the delta
    // path's FLAT tables, where the row reader handles every piece;
    // nested tables never get diffs and keep batch decode.
    // (drained pieces stay columnar-capable: their spill carries the
    // change metadata as real columns, and DV-diff pieces — the only
    // row-forcers — exist only on flat tables, where the row reader
    // can read a drained spill too)
    if (parts.exists {
        case p: GraftCdfPartition => p.emitOnlyDv != null
        case _ => false
      }) {
      parts.map {
        case p: GraftCdfPartition => p.copy(forceRow = true)
        case p => p
      }
    } else parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // vectorized-reader conf snapshot, same recipe as the batch scan
    def vconfFor(schema: StructType): Configuration = {
      val vconf = spark.sessionState.newHadoopConf()
      vconf.set("org.apache.spark.sql.parquet.row.requested_schema",
        schema.json)
      vconf.set("parquet.read.support.class",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
      vconf.setIfUnset("spark.sql.parquet.binaryAsString", "false")
      vconf.setIfUnset("spark.sql.parquet.int96AsTimestamp", "true")
      vconf.setIfUnset("spark.sql.caseSensitive", "false")
      vconf.setIfUnset("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      vconf.setIfUnset("spark.sql.legacy.parquet.nanosAsLong", "false")
      vconf
    }
    val feedSchema = GraftCdfStream.feedSchema(dataSchema)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    GraftCdfReaderFactory(dataSchema,
      GraftHadoopConf.broadcast(spark.sessionState.newHadoopConf()),
      GraftVectorReaderFactory(
        GraftHadoopConf.broadcast(vconfFor(dataSchema)),
        dataSchema, -1, tz),
      // drained spills (COW fallback) carry the change metadata as
      // REAL columns — their columnar reads use the full feed schema
      // and need no constant wrapping
      GraftVectorReaderFactory(
        GraftHadoopConf.broadcast(vconfFor(feedSchema)),
        feedSchema, -1, tz))
  }

  private def sweepDrained(upToV: Long): Unit = {
    if (tfs.exists(drainRoot)) {
      tfs.listStatus(drainRoot).foreach { st =>
        val n = st.getPath.getName
        val done = n.startsWith("v") &&
          scala.util.Try(n.drop(1).toLong).toOption.exists(_ <= upToV)
        if (done) {
          try tfs.delete(st.getPath, true) catch { case _: Throwable => () }
        }
      }
    }
  }

  // the log is the state; a committed batch's drain spills (COW
  // fallback) are no longer needed — sweep them
  override def commit(end: Offset): Unit =
    sweepDrained(end.asInstanceOf[GraftStreamOffset].logOffset)
  override def stop(): Unit = ()
}

/** Columnar for whole-file pieces (insert / whole-file delete — the
  * vectorized reader already applies a partition's `dvFile` mask and
  * nested columns only read through it), row mode for DV-diff
  * pieces (exact-ordinal filtering; diffs only exist on the delta
  * path's FLAT tables, so the row reader always can). Spark plans a
  * mixed batch wholly row-based — which only happens on flat
  * tables — and an all-columnar batch columnar, so nested tables
  * keep batch decode. */
case class GraftCdfReaderFactory(dataSchema: StructType,
    conf: Broadcast[SerializableConfiguration],
    vectorFactory: GraftVectorReaderFactory,
    drainVectorFactory: GraftVectorReaderFactory)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val p = partition.asInstanceOf[GraftCdfPartition]
    p.emitOnlyDv == null && !p.forceRow
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdfPartition]
    new GraftCdfReader(p, dataSchema, conf.value.value)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftCdfPartition]
    if (p.drained) return drainVectorFactory.createColumnarReader(p.inner)
    val base = vectorFactory.createColumnarReader(p.inner)
    new PartitionReader[ColumnarBatch] {
      private var consts: Array[ConstantColumnVector] = _
      private var lastInner: ColumnarBatch = _
      private var wrapped: ColumnarBatch = _
      override def next(): Boolean = base.next()
      override def get(): ColumnarBatch = {
        val b = base.get()
        if ((b ne lastInner) || wrapped == null) {
          if (consts == null) {
            val n = math.max(b.numRows, 1)
            val ct = new ConstantColumnVector(n, StringType)
            ct.setUtf8String(UTF8String.fromString(p.changeType))
            val cv = new ConstantColumnVector(n, LongType)
            cv.setLong(p.commitVersion)
            val ts = new ConstantColumnVector(n, TimestampType)
            if (p.commitTsMillis < 0) ts.setNull()
            else ts.setLong(p.commitTsMillis * 1000L)
            consts = Array(ct, cv, ts)
          }
          val cols = Array.tabulate[ColumnVector](b.numCols + 3)(i =>
            if (i < b.numCols) b.column(i) else consts(i - b.numCols))
          wrapped = new ColumnarBatch(cols, b.numRows)
          lastInner = b
        }
        wrapped.setNumRows(b.numRows)
        wrapped
      }
      override def close(): Unit = base.close()
    }
  }
}

/** Raw row-group read + change tagging. Row mode: change volumes are
  * commit-sized, and the raw sequential read keeps file ordinals
  * exact for the DV-diff filter (same invariant `_pos` relies on). */
class GraftCdfReader(p: GraftCdfPartition, dataSchema: StructType,
    conf: Configuration) extends PartitionReader[InternalRow] {

  // no filters, no limit: ordinals must count RAW rows (the inner
  // partition's own dvFile — the whole-file-delete mode — skips
  // before rows surface here, which is correct: those positions were
  // already deleted at the previous version and are not this
  // commit's changes). A DRAINED partition (COW fallback spill)
  // carries the change metadata as real columns — read the full feed
  // schema and emit rows as-is.
  private val inner = new GraftRowGroupReader(p.inner,
    if (p.drained) GraftCdfStream.feedSchema(dataSchema) else dataSchema,
    Array.empty, -1, conf = conf)

  private val diff: org.roaringbitmap.RoaringBitmap =
    if (p.emitOnlyDv == null) null
    else {
      val bm = DeleteVectors.load(p.emitOnlyDv, conf)
      if (p.emitOnlyPrevDv != null) {
        bm.andNot(DeleteVectors.load(p.emitOnlyPrevDv, conf))
      }
      bm
    }

  private val const = new GenericInternalRow(Array[Any](
    UTF8String.fromString(p.changeType),
    p.commitVersion,
    if (p.commitTsMillis < 0) null else p.commitTsMillis * 1000L))
  private val joined = new JoinedRow

  private var ord: Long = p.emitRowStart - 1L

  override def next(): Boolean = {
    if (diff == null) return inner.next()
    while (inner.next()) {
      ord += 1L
      if (ord <= Int.MaxValue && diff.contains(ord.toInt)) return true
    }
    false
  }

  override def get(): InternalRow =
    if (p.drained) inner.get()
    else joined.withRight(const).withLeft(inner.get())

  override def close(): Unit = inner.close()
}
