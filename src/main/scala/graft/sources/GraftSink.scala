package graft.sources

import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

import graft.sources.v2.GraftHadoopConf

/** Write path: SaveMode matrix + two all-or-nothing commit protocols.
  *
  * Port of the reference's transactional `extjdbc` save
  * (reference: src/main/scala/org/apache/spark/sql/ExtJdbcUtils.scala:70-109
  * and ExtJdbcRelationProvider.scala:25-53) onto files:
  *
  *  1. [[saveAtomic]] — staging-directory protocol: write the whole job to
  *     `<dir>/.graft-staging-<uuid>` with Spark's parquet writer FIRST,
  *     and only then touch the target. Overwrite swaps via a backup
  *     rename (old -> backup, staging -> target, drop backup; on swap
  *     failure the backup is restored), so any failure leaves either the
  *     complete old contents or the complete new contents — never a mix,
  *     and never data loss from a failed staging write.
  *
  *     `truncate = true` with Overwrite is the analog of the reference's
  *     truncate-and-load path (ExtJdbcRelationProvider.scala:28-34:
  *     `TRUNCATE TABLE` keeps the table object/grants vs DROP+CREATE):
  *     the directory object — its permissions, ACLs, and any non-data
  *     metadata files — is preserved and only the data part files are
  *     replaced (old parts are parked in an in-directory backup until the
  *     new parts are all in place, then dropped).
  *
  *  2. [[saveCompensating]] — the literal port of the reference's commit
  *     protocol: each task writes (and "commits") its own parquet part
  *     file directly into the target, returns a txn token (the file name —
  *     the analog of Postgres `txid_current()`, ExtJdbcUtils.scala:301-321)
  *     or the failure sentinel (analog of `Some(Long.MinValue)`,
  *     ExtJdbcUtils.scala:276); the driver collects the tokens — only
  *     token-sized metadata crosses the executor→driver boundary, never
  *     rows — and on any failure deletes every committed task's file
  *     (the compensating `DELETE ... WHERE xmin IN (...)`,
  *     ExtJdbcUtils.scala:324-337) and rethrows. Best-effort, as the
  *     reference documents (log-and-rethrow, ExtJdbcUtils.scala:97-101).
  *
  * SaveMode matrix mirrors ExtJdbcRelationProvider.scala:25-53:
  * Overwrite → replace (drop-recreate or truncate-load); Append → keep;
  * ErrorIfExists → throw; Ignore → no-op when target exists.
  */
object GraftSink {

  /** SaveMode gate — pure check, no destructive action here. Returns true
    * when the write should proceed. */
  private def checkMode(fs: FileSystem, dir: Path, mode: SaveMode): Boolean = {
    val exists = fs.exists(dir)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new AnalysisException(
          errorClass = "PATH_ALREADY_EXISTS",
          messageParameters = Map("outputPath" -> dir.toString))
      case SaveMode.Ignore if exists => false
      case _ => true
    }
  }

  /** Data-part names this engine publishes: batch writers emit
    * `part-*`, the exactly-once streaming sinks publish deterministic
    * `stream-<app>-<epoch>-*` names ([[graft.streaming.StreamOps
    * .writeExactlyOnceBatches]], [[graft.sources.v2
    * .GraftStreamingWriteV2]]). Compaction and truncate victims must
    * see BOTH — a stream-fed table is the main small-file source. */
  private[graft] def isDataPart(name: String): Boolean =
    (name.startsWith("part-") || name.startsWith("stream-")) &&
      name.endsWith(".parquet")

  /** Every write path that emits unsuffixed part files must refuse a
    * bucket-laid-out target — the new files would carry no bucket id
    * and silently strip the directory's co-location/pruning guarantee
    * (the same hazard the V2 writer and replaceWhere guard against). */
  private def checkNotBucketed(fs: FileSystem, target: Path,
      op: String): Unit = {
    if (fs.exists(target)) {
      BucketLayout.read(fs, target).foreach { b =>
        throw new UnsupportedOperationException(
          s"graft $op: $target has a bucketed layout ($b); write " +
          "through saveBucketedFiles/saveBucketedTable so files keep " +
          "their bucket ids")
      }
    }
  }

  /** Park `victims` into `backup`, run `swap`, then drop the backup.
    * ANY failure — including one mid-parking — first restores every
    * already-parked file into `target`, so the old contents stay
    * complete; a parking loop without this rollback would strand the
    * files parked before the failing rename in the hidden backup dir
    * (silent row loss). */
  private def parkSwapRestore(fs: FileSystem, target: Path, backup: Path,
      victims: Seq[Path])(swap: => Unit): Unit = {
    fs.mkdirs(backup)
    try {
      victims.foreach { p =>
        if (!fs.rename(p, new Path(backup, p.getName))) {
          throw new java.io.IOException(s"backup of $p failed")
        }
      }
      swap
    } catch {
      case NonFatal(e) =>
        fs.listStatus(backup).foreach { st =>
          try fs.rename(st.getPath, new Path(target, st.getPath.getName))
          catch { case NonFatal(_) => () }
        }
        try fs.delete(backup, true) catch { case NonFatal(_) => () }
        throw e
    }
    fs.delete(backup, true)
  }

  /** Move data parts staging→target; on any failure delete the parts
    * already moved (their job-unique names can't collide with pre-existing
    * files) so the target reverts to its prior contents, then rethrow. */
  private def movePartsOrRollback(
      fs: FileSystem, staging: Path, target: Path): Unit = {
    val moved = ArrayBuffer[Path]()
    try {
      fs.listStatus(staging).filter(st => isDataPart(st.getPath.getName))
        .foreach { st =>
          val dst = new Path(target, st.getPath.getName)
          if (!fs.rename(st.getPath, dst)) {
            throw new java.io.IOException(s"rename ${st.getPath} -> $dst failed")
          }
          moved += dst
        }
      val succ = new Path(staging, "_SUCCESS")
      if (fs.exists(succ)) { // commit marker moves last
        val d = new Path(target, "_SUCCESS")
        if (fs.exists(d)) fs.delete(d, false)
        fs.rename(succ, d)
      }
    } catch {
      case NonFatal(e) =>
        moved.foreach { p =>
          try fs.delete(p, false) catch { case NonFatal(_) => () }
        }
        throw e
    }
  }

  /** Staging-dir + swap all-or-nothing parquet save. Failure at any point
    * leaves the target with either its complete old contents or the
    * complete new contents. */
  def saveAtomic(df: DataFrame, dir: String, mode: SaveMode,
      truncate: Boolean = false): Unit = {
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    val target = new Path(dir)
    val fs = target.getFileSystem(hadoopConf)
    if (!checkMode(fs, target, mode)) return
    checkNotBucketed(fs, target, "saveAtomic")
    val exists = fs.exists(target)
    val token = UUID.randomUUID().toString.take(8)
    val staging = new Path(target.getParent,
      s".graft-staging-$token-${target.getName}")
    var stagingConsumed = false
    try {
      // 1. Stage the full job output BEFORE touching the target — a
      // failed write leaves the old data untouched.
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      mode match {
        case SaveMode.Overwrite if exists && truncate =>
          // Truncate-and-load: keep the directory object, replace parts.
          val backup = new Path(target, s".graft-trunc-backup-$token")
          val oldParts = fs.listStatus(target)
            .filter(st => isDataPart(st.getPath.getName))
          parkSwapRestore(fs, target, backup, oldParts.map(_.getPath).toSeq) {
            movePartsOrRollback(fs, staging, target)
          }
        case SaveMode.Overwrite if exists =>
          // Drop-and-recreate via backup swap (old-or-new, never neither).
          val backup = new Path(target.getParent,
            s".graft-backup-$token-${target.getName}")
          if (!fs.rename(target, backup)) {
            throw new java.io.IOException(s"backup rename of $target failed")
          }
          if (!fs.rename(staging, target)) {
            fs.rename(backup, target) // restore old contents
            throw new java.io.IOException(s"swap rename to $target failed")
          }
          stagingConsumed = true
          fs.delete(backup, true)
        case _ if !exists =>
          // Fresh target: promote the whole staging directory in one rename.
          if (!fs.rename(staging, target)) {
            throw new java.io.IOException(s"rename $staging -> $target failed")
          }
          stagingConsumed = true
        case _ => // Append into an existing directory: job-unique part names.
          movePartsOrRollback(fs, staging, target)
      }
      // a post-DML table reads through its manifest — every committed
      // write must produce a version ([[graft.sources.v2.GraftManifest]];
      // no-op for never-mutated tables)
      graft.sources.v2.GraftManifest.refreshIfPresent(fs, target)
      // auto-maintained bloom indexes cover the new files immediately
      graft.sources.v2.BloomIndex.autoExtend(df.sparkSession, dir)
    } finally {
      if (!stagingConsumed) fs.delete(staging, true)
    }
  }

  /** Failure sentinel — analog of the reference's `Some(Long.MinValue)`
    * (ExtJdbcUtils.scala:89,276). The NUL prefix cannot occur in a
    * filesystem path, so it can never collide with a real token. */
  val FailedToken: String = "\u0000FAILED"

  /** Per-task eager commit + driver-side compensating delete. Each task
    * writes a self-describing parquet part file (schema travels in the
    * footer — read back with plain `spark.read.parquet`), with pages
    * flushed every `batchSize` rows like the reference's
    * `addBatch`/`executeBatch` cadence (ExtJdbcUtils.scala:230-257).
    *
    * Overwrite clears the target up front — inherent to the eager-commit
    * protocol, exactly as the reference DROPs/TRUNCATEs the table before
    * the save begins (ExtJdbcRelationProvider.scala:28-38).
    *
    * `failPartition` injects a deterministic task failure for tests
    * (the reference was validated manually; we test the rollback).
    */
  def saveCompensating(
      df: DataFrame,
      dir: String,
      mode: SaveMode = SaveMode.ErrorIfExists,
      batchSize: Int = 1000,
      failPartition: Int = -1,
      partName: (String, Int, Int) => String =
        (jobId, pid, seq) =>
          if (seq == 0) s"part-$jobId-$pid.parquet"
          else s"part-$jobId-$pid-$seq.parquet",
      maxRowsPerFile: Long = Long.MaxValue): Unit = {
    val target0 = new Path(dir)
    checkNotBucketed(target0.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf()), target0,
      "saveCompensating")
    writeCompensating(df, dir, mode, batchSize, failPartition, partName,
      maxRowsPerFile)
  }

  /** [[saveCompensating]] without the bucketed-layout guard — for
    * [[saveBucketedFiles]], whose `partName` preserves bucket ids and
    * which runs its own layout validation. */
  private def writeCompensating(
      df: DataFrame,
      dir: String,
      mode: SaveMode,
      batchSize: Int,
      failPartition: Int,
      partName: (String, Int, Int) => String,
      maxRowsPerFile: Long): Unit = {
    val spark = df.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val target = new Path(dir)
    val fs = target.getFileSystem(hadoopConf)
    if (!checkMode(fs, target, mode)) return
    if (mode == SaveMode.Overwrite && fs.exists(target)) fs.delete(target, true)
    fs.mkdirs(target)
    val shipped = GraftHadoopConf.broadcast(
      GraftHadoopConf.pinParquetWrite(hadoopConf, df.schema))
    val jobId = UUID.randomUUID().toString.take(8)
    val dirStr = target.toString
    val pageRows = math.max(batchSize, 1)
    // Executor side: one parquet file per task, committed eagerly; token
    // or sentinel back to the driver (ExtJdbcUtils.scala:84-87 collects
    // txids). Rows never leave the executor.
    val tokens: Array[String] = df.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val conf: Configuration = shipped.value.value
      // Files this task has opened, newest last; rolled at
      // `maxRowsPerFile` so one skewed partition (e.g. a hot bucket in
      // a bucketed write) yields several bounded parquet files instead
      // of one giant one. Every file is its own commit token.
      val written = ArrayBuffer.empty[Path]
      val pfs = new Path(dirStr).getFileSystem(conf)
      try {
        if (pid == failPartition) {
          throw new RuntimeException(s"injected failure in partition $pid")
        }
        // Resource acquisition through the retry-with-deadline helper —
        // generalization of the reference's connection factory
        // (ExtJdbcUtils.scala:19-52).
        def open(seq: Int): ParquetWriter[InternalRow] = {
          val out = new Path(s"$dirStr/${partName(jobId, pid, seq)}")
          written += out
          Retry.withDeadline(
            retryOn = _.isInstanceOf[java.io.IOException]) {
            new InternalRowParquetBuilder(HadoopOutputFile.fromPath(out, conf))
              .withConf(conf)
              .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
              .withCompressionCodec(CompressionCodecName.SNAPPY)
              .withPageRowCountLimit(pageRows)
              .build()
          }
        }
        var writer: ParquetWriter[InternalRow] = open(0)
        // Idempotent close on ANY task exit (kill included) — the analog
        // of the reference's task-completion listener + idempotent close
        // (JDBCRDDWithLimit.scala:83-117,140-141).
        val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
        def closeOnce(): Unit =
          if (closed.compareAndSet(false, true)) writer.close()
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => closeOnce()))
        try {
          var inFile = 0L
          var seq = 0
          rows.foreach { row =>
            if (inFile >= maxRowsPerFile) {
              writer.close()
              seq += 1
              writer = open(seq)
              inFile = 0L
            }
            writer.write(row)
            inFile += 1
          }
        } finally closeOnce()
        written.iterator.map(_.toString) // the "committed txn ids"
      } catch {
        case NonFatal(e) =>
          // Roll back our own work (ExtJdbcUtils.scala:285-287), report
          // the sentinel instead of throwing (ExtJdbcUtils.scala:266-279)
          // so the driver sees every task's outcome.
          written.foreach { p =>
            try pfs.delete(p, false) catch { case _: Throwable => () }
          }
          val at = e.getStackTrace.take(6).mkString(" @ ", " <- ", "")
          Iterator.single(FailedToken + ":" + e + at)
      }
    }.collect()
    // Driver side: any sentinel ⇒ compensating delete of committed files
    // (ExtJdbcUtils.scala:88-105, 324-337).
    val failures = tokens.filter(_.startsWith(FailedToken))
    if (failures.nonEmpty) {
      tokens.filterNot(_.startsWith(FailedToken)).foreach { committed =>
        try fs.delete(new Path(committed), false)
        catch { case NonFatal(_) => () } // best-effort
      }
      throw new RuntimeException(
        s"graft atomic save failed (${failures.length}/${tokens.length} " +
        s"tasks); committed partitions rolled back. First: " +
        failures.head.stripPrefix(FailedToken + ":"))
    }
    // keep a post-DML table's manifest current (no-op otherwise)
    graft.sources.v2.GraftManifest.refreshIfPresent(fs, target)
  }

  /** Read back a [[saveCompensating]] output — parquet is self-describing,
    * no schema hint needed. */
  def readCompensating(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Predicate overwrite (Delta-style `replaceWhere`): atomically
    * replaces exactly the rows matching `cond` with `df` — the
    * retention / re-ingest primitive of a training-data pipeline
    * ("re-load day X", "drop everything before T").
    *
    * File-level classification from cached footer stats keeps the
    * rewrite proportional to the BOUNDARY, not the table: a part file
    * whose row groups provably contain no match is left untouched (not
    * even opened); a file whose row groups all provably match is
    * deleted whole; only undecided boundary files are rewritten — by a
    * distributed Spark job filtering `NOT cond` (null-safe: rows where
    * `cond` is NULL are kept, matching SQL DELETE semantics), never on
    * the driver. With stats-aligned predicates (time ranges over
    * time-clustered files — the common retention shape) zero files are
    * rewritten at any scale.
    *
    * Commit is the same backup-park protocol as the other sinks:
    * replacement + residue rows are fully staged first, victims are
    * parked, staged parts rename in, and any failure restores the
    * complete old contents.
    */
  /** [[replaceWhere]] with the predicate as a SQL string —
    * `replaceWhere(newDay, dir, "ts >= DATE '2024-06-01' AND ts < DATE
    * '2024-06-02'")`. Untranslatable predicates throw before any
    * mutation. */
  def replaceWhere(df: DataFrame, dir: String, condSql: String): Unit =
    replaceWhere(df, dir,
      PredicateFiles.parsePredicate(df.sparkSession, condSql))

  def replaceWhere(df: DataFrame, dir: String,
      cond: org.apache.spark.sql.sources.Filter): Unit = {
    import graft.sources.v2.ParquetMeta
    import scala.util.Try
    val spark = df.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val target = new Path(dir)
    val fs = target.getFileSystem(hadoopConf)
    if (!fs.exists(target)) {
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> dir))
    }
    val existing = Try(ParquetMeta.sparkSchema(dir, hadoopConf))
      .getOrElse(throw new IllegalArgumentException(
        s"graft replaceWhere: no parquet data under $dir"))
    val same = existing.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (!same) {
      throw new IllegalArgumentException(
        s"graft replaceWhere schema mismatch: table has " +
        s"${existing.catalogString}, write has ${df.schema.catalogString}")
    }
    BucketLayout.read(fs, target).foreach { b =>
      // boundary rewrites would emit files without the _<bucketId>
      // suffix, silently degrading later co-located joins
      throw new UnsupportedOperationException(
        s"graft replaceWhere: $dir has a bucketed layout ($b); rewrite " +
        "it with saveBucketedFiles instead")
    }
    if (!PredicateFiles.supportsOverwrite(cond, existing)) {
      throw new IllegalArgumentException(
        s"graft replaceWhere: unsupported predicate $cond — supported: " +
        "comparisons (incl. date/timestamp)/In/IsNull/StartsWith/" +
        "EndsWith/Contains over flat columns, combined with And/Or/Not")
    }
    val token = UUID.randomUUID().toString.take(8)
    val staging = new Path(target, s".graft-replace-$token")
    try {
      // 1. stage the replacement rows BEFORE touching anything
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      // 2. classify every data part from its footer statistics
      val parts = fs.listStatus(target).map(_.getPath)
        .filter(p => isDataPart(p.getName)).toSeq
      val (keep, deleteWhole, rewrite) = PredicateFiles.classify(cond, parts)
      // 3. boundary files: distributed residue rewrite into staging
      if (rewrite.nonEmpty) {
        spark.read.parquet(rewrite.map(_.toString): _*)
          .filter(PredicateFiles.residueCondition(cond))
          .write.mode(SaveMode.Append).parquet(staging.toString)
      }
      // 4. backup-park commit: old-or-new, never a mix
      val victims = deleteWhole ++ rewrite
      val backup = new Path(target, s".graft-replace-backup-$token")
      parkSwapRestore(fs, target, backup, victims) {
        movePartsOrRollback(fs, staging, target)
      }
      require(keep.forall(p => fs.exists(p)),
        "untouched files must survive the commit")
      // keep a post-DML table's manifest current (no-op otherwise)
      graft.sources.v2.GraftManifest.refreshIfPresent(fs, target,
        op = "overwrite")
    } finally fs.delete(staging, true)
  }

  /** Small-file compaction — the maintenance twin of [[replaceWhere]]:
    * streaming appends, REPLACE WHERE residues, and per-task commits
    * accumulate small part files whose per-file overhead (footer
    * reads, task scheduling, row-group fragmentation) eventually
    * dominates scans. `compact` rewrites every data part smaller than
    * `smallBytes` into ~`targetBytes`-sized files via a shuffle-free
    * `coalesce` job, committed under the backup-park protocol —
    * readers see complete-old or complete-new, and files at or above
    * the threshold are never touched.
    *
    * A directory with a [[BucketLayout]] marker compacts PER BUCKET —
    * the merged files keep their `_<bucketId>` suffix so later
    * co-located joins stay correct. That path shuffles the small-file
    * subset (rows must regroup under the bucket hash), never the full
    * table.
    *
    * `where` scopes the maintenance to files whose FOOTER STATS may
    * hold predicate-matching rows (Delta's `OPTIMIZE WHERE` shape):
    * rows are never filtered — the predicate selects FILES, so a
    * retention job can compact the hot ingest range (`ts >=
    * yesterday`) without touching the cold tail's exabytes. A file
    * whose stats provably exclude the predicate is skipped even when
    * small; incomparable stats conservatively INCLUDE the file.
    *
    * Returns (filesBefore, filesAfter) for the compacted subset; a
    * no-op (0 or 1 mergeable small file) returns without running a job.
    */
  def compact(spark: SparkSession, dir: String,
      smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024,
      where: Option[String] = None): (Int, Int) = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val target = new Path(dir)
    val fs = target.getFileSystem(hadoopConf)
    if (!fs.exists(target)) {
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> dir))
    }
    // position-deleted tables: MATERIALIZE the deletion vectors first
    // ([[graft.sources.v2.DeleteVectors]]) — the merge below reads raw
    // parquet and must not resurrect position-deleted rows; compaction
    // is exactly the maintenance moment the mask should become physical
    if (graft.sources.v2.GraftManifest.current(fs, target)
        .exists(_.dvs.nonEmpty)) {
      graft.sources.v2.GraftDeleteV2.materializeDeleteVectors(dir)
    }
    // DROP/RENAME-mapped tables: the raw-parquet merge would union
    // physical and logical spellings as DISTINCT columns — refuse and
    // point at the rewrite that materializes the mapping
    if (!graft.sources.v2.GraftCatalog.readMapping(fs, target).isEmpty) {
      throw new UnsupportedOperationException(
        s"graft compact: $dir carries a DROP/RENAME column mapping; " +
        "use compactClustered (rewrites under logical names and " +
        "clears the mapping)")
    }
    val allSmall = fs.listStatus(target)
      .filter(st => isDataPart(st.getPath.getName) && st.getLen < smallBytes)
    val small = where match {
      case None => allSmall
      case Some(sql) =>
        val cond = PredicateFiles.parsePredicate(spark, sql)
        // scope = files whose stats MAY hold matching rows (whole
        // files move; rows are never filtered) — keep-classified
        // files are provably disjoint from the predicate
        val (keepOut, _, _) = PredicateFiles.classify(cond,
          allSmall.map(_.getPath).toSeq)
        val skip = keepOut.toSet
        allSmall.filterNot(st => skip.contains(st.getPath))
    }
    if (small.length <= 1) return (small.length, small.length)
    val layout = BucketLayout.read(fs, target)
    if (layout.isDefined) {
      // merging is only useful where a single bucket has >1 small file
      val perBucket = small.groupBy(st =>
        BucketLayout.bucketIdOf(st.getPath.getName))
      if (!perBucket.exists(_._2.length > 1)) {
        return (small.length, small.length)
      }
    }
    val totalBytes = small.map(_.getLen).sum
    val outFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    val token = UUID.randomUUID().toString.take(8)
    val staging = new Path(target, s".graft-compact-$token")
    try {
      layout match {
        case None =>
          // coalesce, not repartition: compaction is a merge, no
          // shuffle. Staged through graft's OWN writer — a session's
          // INT96 timestamp default would otherwise produce merged
          // files the graft-v2 reader itself refuses
          writeCompensating(
            spark.read.parquet(small.map(_.getPath.toString).toSeq: _*)
              .coalesce(outFiles),
            staging.toString, SaveMode.Overwrite, batchSize = 4096,
            failPartition = -1,
            partName = (jobId, pid, seq) =>
              if (seq == 0) s"part-$jobId-$pid.parquet"
              else s"part-$jobId-$pid-$seq.parquet",
            maxRowsPerFile = Long.MaxValue)
        case Some(b) =>
          import org.apache.spark.sql.functions.{col => c}
          // re-hash the small rows: partition id == bucket id, exactly
          // the saveBucketedFiles write shape; `maxRecordsPerFile`
          // (rows-per-target-bytes from the subset's own compression
          // ratio; the count is footer-answered) keeps a hot bucket's
          // merge bounded at ~targetBytes instead of one giant file
          val smallDf = spark.read
            .parquet(small.map(_.getPath.toString).toSeq: _*)
          val totalRows = smallDf.count()
          val targetRows = math.max(1L,
            totalRows * targetBytes / math.max(totalBytes, 1L))
          val parted = smallDf
            .repartition(b.numBuckets, b.bucketCols.map(c): _*)
          val rows =
            if (b.sortCols.isEmpty) parted
            else parted.sortWithinPartitions(b.sortCols.map(c): _*)
          // graft's own writer (INT96-proof, see the None branch)
          // emits the _<bucketId> names directly — the partition id
          // IS the bucket id under the repartition above, and `seq`
          // is the maxRowsPerFile rollover
          writeCompensating(rows, staging.toString, SaveMode.Overwrite,
            batchSize = 4096, failPartition = -1,
            partName = (_, pid, seq) =>
              f"part-00000-$token%s_$pid%05d.c$seq%03d.snappy.parquet",
            maxRowsPerFile = targetRows)
      }
      val written = fs.listStatus(staging)
        .count(st => isDataPart(st.getPath.getName))
      val backup = new Path(target, s".graft-compact-backup-$token")
      parkSwapRestore(fs, target, backup, small.map(_.getPath).toSeq) {
        movePartsOrRollback(fs, staging, target)
      }
      // keep a post-DML table's manifest current (no-op otherwise);
      // compaction reshuffles files without changing any logical row
      graft.sources.v2.GraftManifest.refreshIfPresent(fs, target,
        op = "maintenance")
      // compaction replaced files: auto-maintained bloom indexes
      // re-cover the merged output (old sidecars become vacuum food)
      graft.sources.v2.BloomIndex.autoExtend(spark, dir)
      (small.length, written)
    } finally fs.delete(staging, true)
  }

  /** OPTIMIZE-style CLUSTERING rewrite (space-filling curve): rewrites
    * the WHOLE table ordered by the curve VALUE of `clusterCols` —
    * each column normalized to a 16-bit lane, lanes combined by the
    * chosen `curve` — and range-partitions the output so every file
    * covers one contiguous curve range. Footer [min,max] statistics
    * on EVERY cluster column are then locally narrow per file, so
    * stats pruning skips files for predicates on ANY of the keys (the
    * second-key pruning a single sort column cannot give): with k=2,
    * a point predicate on either key keeps ~√(files) instead of all
    * of them.
    *
    * `curve`: `"zorder"` (bit interleave — one codegen'd expression
    * chain, the default) or `"hilbert"`
    * ([[graft.functions.SpaceCurves]]): consecutive Hilbert indices
    * always differ by ONE step in ONE axis, so a file's contiguous
    * index range maps to a tighter axis-aligned region than the
    * Z-curve's diagonal jumps — narrower per-file stats on every key
    * from the same rewrite (the published reason OPTIMIZE
    * implementations moved z→Hilbert).
    *
    * Cost: one full rewrite (one range shuffle + per-partition sort) —
    * the standard OPTIMIZE ZORDER trade, paid once to make every
    * later selective scan cheap. Deletion vectors are materialized
    * first (this IS a physical rewrite). Bucketed tables refuse: their
    * layout is the hash-clustering contract and a z-rewrite would
    * destroy it. Cluster columns must be numeric, string, date or
    * timestamp (linear normalization needs an order-preserving number
    * line; strings ride a fixed 6-byte big-endian prefix projection).
    *
    * Returns (filesBefore, filesAfter). */
  def compactClustered(spark: SparkSession, dir: String,
      clusterCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      curve: String = "zorder"): (Int, Int) = {
    import org.apache.spark.sql.functions.{array, col => c, conv, greatest, hex, least, lit, max, min, rpad, shiftleft, shiftright, substring}
    import org.apache.spark.sql.types._
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    require(curve == "zorder" || curve == "hilbert",
      s"graft compactClustered: unknown curve '$curve' " +
      "(want zorder | hilbert)")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val target = new Path(dir)
    val fs = target.getFileSystem(hadoopConf)
    if (!fs.exists(target)) {
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> dir))
    }
    if (BucketLayout.read(fs, target).isDefined) {
      throw new UnsupportedOperationException(
        s"graft compactClustered: $dir is bucketed — the hash layout " +
        "is its clustering contract; z-ordering would destroy the " +
        "co-located-join guarantee")
    }
    if (graft.sources.v2.GraftManifest.current(fs, target)
        .exists(_.dvs.nonEmpty)) {
      graft.sources.v2.GraftDeleteV2.materializeDeleteVectors(dir)
    }
    val all = fs.listStatus(target)
      .filter(st => isDataPart(st.getPath.getName))
    if (all.isEmpty) return (0, 0)
    val df = spark.read.format("graft-v2").option("path", dir).load()
    val schema = df.schema
    def asDouble(name: String): org.apache.spark.sql.Column = {
      val i = schema.fieldNames.indexOf(name)
      require(i >= 0, s"graft compactClustered: no column '$name' in " +
        schema.catalogString)
      schema(i).dataType match {
        case _: NumericType => c(name).cast(DoubleType)
        case TimestampType | TimestampNTZType => c(name).cast(DoubleType)
        case DateType =>
          c(name).cast(TimestampType).cast(DoubleType)
        case StringType =>
          // fixed-prefix byte projection: the first 6 UTF-8 bytes as a
          // big-endian number, zero-padded on the right so shorter
          // strings order before their extensions — numeric order on
          // the lane == lexicographic byte order on the prefix. 48
          // bits stays exact through the DoubleType normalization
          // (< 2^53); strings sharing a 6-byte prefix collapse to one
          // lane value, which is the right clustering granularity.
          conv(rpad(hex(substring(c(name).cast(BinaryType), 1, 6)),
            12, "0"), 16, 10).cast(DoubleType)
        case other => throw new UnsupportedOperationException(
          s"graft compactClustered: column '$name' is $other — " +
          "cluster columns must be numeric, string, date or timestamp")
      }
    }
    val doubles = clusterCols.map(asDouble)
    // one aggregation pins each column's [min,max] for normalization
    val aggCols = doubles.flatMap(d => Seq(min(d), max(d)))
    val stats = df.agg(aggCols.head, aggCols.tail: _*).head()
    val k = clusterCols.length
    val bits = math.min(16, 62 / k)
    val cap = (1L << bits) - 1
    val scaled = doubles.zipWithIndex.map { case (d, i) =>
      val mn = if (stats.isNullAt(2 * i)) 0.0 else stats.getDouble(2 * i)
      val mx =
        if (stats.isNullAt(2 * i + 1)) 1.0 else stats.getDouble(2 * i + 1)
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(cap), greatest(lit(0L),
        ((d - lit(mn)) / lit(span) * lit(cap.toDouble)).cast(LongType)))
    }
    // z = bit interleave (bit b of column i lands at position b*k + i)
    // or the Hilbert index over the same 16-bit lanes
    val z: org.apache.spark.sql.Column =
      if (curve == "hilbert") {
        graft.functions.GraftFunctions.hilbert_index(
          array(scaled: _*), bits)
      } else {
        var acc: org.apache.spark.sql.Column = lit(0L)
        var b = 0
        while (b < bits) {
          var i = 0
          while (i < k) {
            acc = acc.bitwiseOR(shiftleft(
              shiftright(scaled(i), b).bitwiseAND(lit(1L)), b * k + i))
            i += 1
          }
          b += 1
        }
        acc
      }
    val totalBytes = all.map(_.getLen).sum
    val outFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    val token = UUID.randomUUID().toString.take(8)
    val staging = new Path(target, s".graft-compact-$token")
    try {
      df.withColumn("__graft_z", z)
        .repartitionByRange(outFiles, c("__graft_z"))
        .sortWithinPartitions(c("__graft_z"))
        .drop("__graft_z")
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val written = fs.listStatus(staging)
        .count(st => isDataPart(st.getPath.getName))
      val backup = new Path(target, s".graft-compact-backup-$token")
      parkSwapRestore(fs, target, backup, all.map(_.getPath).toSeq) {
        movePartsOrRollback(fs, staging, target)
      }
      graft.sources.v2.GraftManifest.refreshIfPresent(fs, target,
        op = "maintenance")
      // EVERY file was rewritten under logical names: a DROP/RENAME
      // mapping is now materialized — clear it (keep the schema)
      graft.sources.v2.GraftCatalog.readMarker(fs, target).foreach { sch =>
        if (!graft.sources.v2.GraftCatalog.readMapping(fs, target).isEmpty) {
          graft.sources.v2.GraftCatalog.writeMarker(fs, target, sch,
            graft.sources.v2.GraftCatalog.ColumnMapping.empty)
        }
      }
      // clustering rewrote every file: auto-maintained bloom indexes
      // re-cover the output immediately
      graft.sources.v2.BloomIndex.autoExtend(spark, dir)
      (all.length, written)
    } finally fs.delete(staging, true)
  }

  /** Bucket-count advisor for [[saveBucketedTable]] — the analog of
    * `Dedup.autoPlanes` for LSH: one cheap aggregation sizes the
    * bucket count to the data instead of a guessed constant that
    * under-buckets at 100x the volume.
    *
    * Returns `(numBuckets, maxKeyShare)`: buckets = rows/target
    * (clamped to [1, maxBuckets]), and the hot-key mass fraction of
    * the most frequent bucket-key combination. A `maxKeyShare` near
    * 1/numBuckets means uniform keys; a large value warns that one
    * key dominates — bucketing cannot split a single key's rows
    * across buckets, so pair it with `maxRowsPerFile` (bounded files
    * within the hot bucket) or choose a higher-cardinality key. */
  def adviseBuckets(df: DataFrame, bucketCols: Seq[String],
      targetRowsPerBucket: Long = 1000000L,
      maxBuckets: Int = 4096): (Int, Double) = {
    import org.apache.spark.sql.functions.{col => c, count, lit, max}
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val agg = df.groupBy(bucketCols.map(c): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(org.apache.spark.sql.functions.sum(c("__n")).as("__total"),
        max(c("__n")).as("__hot"))
      .head()
    if (agg.isNullAt(0)) return (1, 0.0)
    val total = agg.getLong(0)
    val hot = agg.getLong(1)
    val buckets = math.min(maxBuckets.toLong, math.max(1L,
      (total + targetRowsPerBucket - 1) / targetRowsPerBucket)).toInt
    (buckets, if (total == 0) 0.0 else hot.toDouble / total)
  }

  /** Bucketed-table write through the graft sink: produces a layout
    * Spark's bucketed scan consumes natively, so equi-joins /
    * aggregations on the bucket keys run WITHOUT a shuffle exchange —
    * the co-located-join contract that makes a 100 TB fact-fact join
    * tractable (each of the N bucket pairs joins independently).
    *
    * Spark only honors bucketing through the catalog, so this is a
    * table write (`dir` holds the files, `table` the metadata). The
    * sink keeps its own commit protocol rather than delegating to
    * `saveAsTable`:
    *
    *  - `repartition(numBuckets, bucketCols)` hash-partitions with
    *    Spark's own `HashPartitioning` — partition id IS the bucket id
    *    (`pmod(murmur3(keys), n)`, the identical expression bucketed
    *    reads assume), so no second shuffle and no bucket-id column;
    *  - each task writes one parquet file named with the
    *    `_<bucketId>` suffix `BucketingUtils` parses on the read side,
    *    committed eagerly with the [[saveCompensating]] token/rollback
    *    protocol;
    *  - the table is registered as an EXTERNAL parquet table with a
    *    `BucketSpec`, interoperable both ways: `spark.table` sees our
    *    files bucketed, and a `df.write.bucketBy(...).saveAsTable`
    *    table with the same spec co-locates against ours.
    */
  def saveBucketedTable(
      df: DataFrame,
      table: String,
      dir: String,
      numBuckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.ErrorIfExists,
      batchSize: Int = 1000,
      maxRowsPerFile: Long = Long.MaxValue): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val spark = df.sparkSession
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    // Append keeps the existing catalog entry and VALIDATES against its
    // bucket spec — silently re-registering a different spec would make
    // bucketed reads interpret the old files' bucket ids under the new
    // hash, producing wrong shuffle-free join results with no error.
    var appendToExisting = false
    if (catalog.tableExists(ident)) {
      mode match {
        case SaveMode.ErrorIfExists =>
          throw new AnalysisException(
            errorClass = "TABLE_OR_VIEW_ALREADY_EXISTS",
            messageParameters = Map("relationName" -> table))
        case SaveMode.Ignore => return
        case SaveMode.Append =>
          val meta = catalog.getTableMetadata(ident)
          val spec = meta.bucketSpec.getOrElse(
            throw new IllegalArgumentException(
              s"graft bucketed append: existing table $table is not " +
              "bucketed"))
          if (spec.numBuckets != numBuckets ||
              spec.bucketColumnNames != bucketCols ||
              spec.sortColumnNames != sortCols) {
            throw new IllegalArgumentException(
              s"graft bucketed append: spec mismatch — table $table has " +
              s"$spec, write has numBuckets=$numBuckets, " +
              s"bucketCols=$bucketCols, sortCols=$sortCols")
          }
          val loc = new Path(meta.location).toUri.getPath
          if (new Path(dir).toUri.getPath != loc) {
            throw new IllegalArgumentException(
              s"graft bucketed append: table $table lives at $loc, " +
              s"append targeted $dir")
          }
          appendToExisting = true
        case _ => catalog.dropTable(ident, ignoreIfNotExists = true,
          purge = false)
      }
    }
    saveBucketedFiles(df, dir, numBuckets, bucketCols, sortCols, mode,
      batchSize, maxRowsPerFile)
    if (!appendToExisting) {
      import org.apache.spark.sql.catalyst.catalog.{BucketSpec,
        CatalogStorageFormat, CatalogTable, CatalogTableType}
      catalog.createTable(CatalogTable(
        identifier = ident,
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(
          locationUri = Some(new Path(dir).toUri)),
        schema = df.schema,
        provider = Some("parquet"),
        bucketSpec = Some(BucketSpec(numBuckets, bucketCols, sortCols))),
        ignoreIfExists = false)
    }
    // drop any cached file listing/relation for the (re)written table
    spark.sql(s"REFRESH TABLE $table")
  }

  /** [[saveBucketedTable]]'s write half without the session-catalog
    * registration: bucket-hash the rows (`repartition(n, keys)` — the
    * partition id IS the Spark bucket id), write `_<bucketId>`-suffixed
    * files, and record the layout in a `.graft-buckets.json` marker
    * (see [[BucketLayout]]).
    *
    * This is how a table under a [[v2.GraftCatalog]] warehouse gets a
    * bucketed layout: the catalog rediscovers the marker at load and
    * reports the clustering to Catalyst, so joins between two such
    * tables on the bucket keys plan WITHOUT a shuffle exchange
    * (storage-partitioned join, on whenever Spark 4's default
    * `spark.sql.sources.v2.bucketing.enabled` holds), and point
    * predicates on the bucket key prune to their buckets. */
  def saveBucketedFiles(
      df: DataFrame,
      dir: String,
      numBuckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.ErrorIfExists,
      batchSize: Int = 1000,
      maxRowsPerFile: Long = Long.MaxValue): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val want = BucketLayout(numBuckets, bucketCols, sortCols)
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    val target = new Path(dir)
    val fs = target.getFileSystem(hadoopConf)
    if (mode == SaveMode.Append && fs.exists(target)) {
      BucketLayout.read(fs, target) match {
        // appending under a DIFFERENT spec would mix hash layouts in
        // one directory — reads would interpret old bucket ids under
        // the new spec and co-located joins would silently drop matches
        case Some(have) if have != want =>
          throw new IllegalArgumentException(
            s"graft bucketed append: $dir is laid out as $have, " +
            s"write has $want")
        case Some(_) => ()
        case None =>
          // no marker: stamping one over pre-existing UNSUFFIXED files
          // would wedge the directory (marker guards fire, but the old
          // files can never honor the layout)
          val rogue = fs.listStatus(target).map(_.getPath.getName)
            .filter(n => isDataPart(n) &&
              !BucketLayout.bucketIdOf(n).exists(_ < numBuckets))
          if (rogue.nonEmpty) {
            throw new IllegalArgumentException(
              s"graft bucketed append: $dir holds ${rogue.length} " +
              s"file(s) without a valid bucket id (e.g. ${rogue.head})" +
              " — use mode=Overwrite to rewrite the directory bucketed")
          }
      }
    }
    // mirrors checkMode: Ignore on an existing dir writes nothing
    val skippedByIgnore = mode == SaveMode.Ignore && fs.exists(target)
    import org.apache.spark.sql.functions.{col => c}
    // partition id == Spark bucket id: identical HashPartitioning
    val parted = df.repartition(numBuckets, bucketCols.map(c): _*)
    val rows =
      if (sortCols.isEmpty) parted
      else parted.sortWithinPartitions(sortCols.map(c): _*)
    // `seq` rolls a skewed bucket into several bounded files (Spark's
    // bucketed read groups all files carrying the same _<bucketId>
    // suffix back into one bucket partition)
    writeCompensating(rows, dir, mode, batchSize, failPartition = -1,
      partName = (jobId, pid, seq) => f"part-00000-$jobId%s_$pid%05d" +
        f".c$seq%03d.snappy.parquet",
      maxRowsPerFile = maxRowsPerFile)
    if (!skippedByIgnore) BucketLayout.write(fs, target, want)
  }
}

/** ParquetWriter builder bound to Spark's own `ParquetWriteSupport`, so
  * compensating part files are byte-compatible with the primary
  * `df.write.parquet` path (same converters, logical types, rebase
  * behavior). */
private[sources] class InternalRowParquetBuilder(
    out: org.apache.parquet.io.OutputFile)
  extends ParquetWriter.Builder[InternalRow, InternalRowParquetBuilder](out) {
  override def self(): InternalRowParquetBuilder = this
  override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
    new ParquetWriteSupport
}

/** Retry-with-deadline resource acquisition — generalization of the
  * reference's connection factory that retries Postgres "too many clients"
  * with a 100 ms sleep under a 60 s deadline
  * (reference: ExtJdbcUtils.scala:14-17,19-52).
  */
object Retry {
  def withDeadline[T](
      sleepMs: Long = 100L,
      deadlineMs: Long = 60000L,
      retryOn: Throwable => Boolean = _ => true)(acquire: => T): T = {
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    @annotation.tailrec
    def loop(): T = {
      val r: Either[Throwable, T] =
        try Right(acquire)
        catch {
          case scala.util.control.NonFatal(e)
              if retryOn(e) && System.nanoTime() < deadline => Left(e)
        }
      r match {
        case Right(v) => v
        case Left(_) => Thread.sleep(sleepMs); loop()
      }
    }
    loop()
  }
}
