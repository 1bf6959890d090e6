package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.spark.TaskContext
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.sources.{BucketLayout, InternalRowParquetBuilder, PredicateFiles}

/** SQL `DELETE FROM` / `TRUNCATE TABLE` for graft tables — the
  * mutation a training-data pipeline runs constantly at corpus scale
  * (opt-out removal, contamination purges, retention) and the
  * file-level heir of the reference's compensating delete
  * (ExtJdbcUtils.scala:323-337, `DELETE FROM t WHERE xmin IN (...)`:
  * identify exactly the rows a predicate names, remove them, leave
  * everything else untouched).
  *
  * The cost model is the same as REPLACE WHERE
  * ([[graft.sources.PredicateFiles]]): footer statistics classify the
  * table's files into keep / delete-whole / boundary, so a
  * stats-aligned predicate (a time range over time-clustered files, a
  * banned-source purge over source-partitioned files) deletes metadata-
  * only — zero data bytes read regardless of table size. Only the
  * boundary is rewritten, by a one-task-per-file executor job with NO
  * shuffle: each task streams its file's row groups, keeps the rows
  * where the predicate is not definitely true (SQL DELETE keeps
  * NULL-valued rows), and writes one replacement file that preserves
  * the original's bucket suffix — so a bucketed layout (and its
  * storage-partitioned-join contract) survives a DELETE, as does the
  * within-file sort order a sorted-bucket read reports.
  *
  * Commit is the shared backup-park swap ([[GraftSwapV2]]): victims
  * are parked, residues rename in, and any failure restores the
  * original contents — readers see complete-old or complete-new,
  * never a mix.
  */
object GraftDeleteV2 {

  /** `TRUNCATE TABLE`: atomically removes every data file. The schema
    * marker is (re)written FIRST, so the emptied table keeps its
    * schema even if the swap fails midway. */
  def truncate(path: String, schema: StructType): Boolean = {
    val conf = GraftHadoopConf.sessionConf()
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target)) return true
    ensureSchemaMarker(fs, target, schema)
    val readState = GraftManifest.pinForMutation(fs, target)
    if (readState.names.nonEmpty) {
      // truncate absorbs racing appends: a retry re-victims the
      // then-current live set
      GraftSwapV2.parkAndSwapVersioned(fs, target, readState,
        readState.names.map(new Path(target, _)), Seq.empty,
        expandVictims = true, op = "delete")
    }
    true
  }

  /** `DELETE FROM ... WHERE cond` over the directory at `path`.
    *
    * Boundary files (stats say SOME rows match) take one of two
    * shapes, decided PER FILE by the measured deleted fraction:
    *
    *  - **deletion vector** (the default for point predicates): the
    *    matching FILE ORDINALS — unioned with any existing vector —
    *    land in an immutable `.graft-dv/` sidecar and the commit
    *    re-maps the file ([[DeleteVectors]]). Write cost ∝ deleted
    *    rows; the data file is untouched.
    *  - **rewrite** (when the unioned fraction exceeds
    *    `spark.graft.dv.maxFraction`, or the schema is nested): the
    *    classic residue rewrite, which also MATERIALIZES any existing
    *    vector (survivors only, sidecar mapping dropped).
    *
    * A file whose union covers every row is dropped whole. All
    * outcomes commit as ONE manifest version. */
  def deleteWhere(path: String, schema: StructType, cond: Filter): Unit = {
    val spark = SparkSession.active
    val conf = GraftHadoopConf.sessionConf()
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target)) return
    // pin the snapshot this DELETE mutates: classification, rewrite
    // and commit all run against ONE version; a concurrent commit
    // in between makes the CAS lose cleanly
    val readState = GraftManifest.pinForMutation(fs, target)
    // RENAME-mapped tables: per-file jobs must evaluate the predicate
    // over LOGICAL names (old files spell renamed columns physically)
    val renames = GraftCatalog.readMapping(fs, target).renames
    val parts = readState.names.map(new Path(target, _))
    val (keep, deleteWhole0, rewrite0) =
      PredicateFiles.classify(cond, parts)
    // a "delete whole" file with an existing vector is already
    // partially deleted — its stats said all rows match, which holds
    // for the surviving rows too, so dropping it whole stays right
    if (deleteWhole0.isEmpty && rewrite0.isEmpty) return // nothing matches
    val jobId = UUID.randomUUID().toString.take(8)
    val staging = new Path(target, s".graft-v2-delete-$jobId")
    try {
      val flat = schema.fields.forall(_.dataType match {
        case _: StructType | _: ArrayType | _: MapType => false
        case _ => true
      })
      val dvEligible = flat && DeleteVectors.maxFraction > 0 &&
        rewrite0.nonEmpty &&
        RowFilterEval.supports(
          PredicateFiles.internalizeTemporal(cond, schema), schema)
      val (residue: Seq[Path], dvUpdates: Map[String, String],
          extraWhole: Seq[Path]) =
        if (rewrite0.isEmpty) (Seq.empty, Map.empty, Seq.empty)
        else if (dvEligible) {
          fs.mkdirs(staging)
          val outcomes = dvOrRewriteJob(spark, cond, schema, rewrite0,
            readState.dvs, target, staging, jobId, renames)
          // publish staged sidecars before the CAS — invisible until a
          // manifest version references them; CAS losers leave only
          // unreferenced sidecars, which vacuum sweeps
          val dvd = DeleteVectors.dvDir(target)
          val dvOuts = outcomes.collect { case d: DvOut => d }
          if (dvOuts.nonEmpty) fs.mkdirs(dvd)
          dvOuts.foreach { d =>
            if (!fs.rename(new Path(d.stagedDv), new Path(dvd, d.dvName))) {
              throw new java.io.IOException(
                s"graft-v2 DELETE: publishing sidecar ${d.dvName} failed")
            }
          }
          (outcomes.collect { case ResidueOut(_, Some(r)) => new Path(r) },
            dvOuts.map(d => d.orig -> d.dvName).toMap,
            outcomes.collect {
              case AllDead(orig) => new Path(target, orig)
              case ResidueOut(orig, _) => new Path(target, orig)
            })
        } else {
          fs.mkdirs(staging)
          val r =
            if (flat) {
              rewritePerFile(spark, cond, schema, rewrite0, staging, jobId,
                readState.dvs, target, renames)
            } else if (BucketLayout.read(fs, target).isEmpty) {
              if (readState.dvs.nonEmpty) {
                throw new UnsupportedOperationException(
                  s"graft-v2 DELETE: $path has nested columns AND " +
                  "deletion vectors; run " +
                  "GraftDeleteV2.materializeDeleteVectors first")
              }
              mixedPhysicalType(rewrite0).foreach { col =>
                throw new UnsupportedOperationException(
                  s"graft-v2 DELETE: the boundary files of $path mix " +
                  s"physical encodings for widened column '$col'; run " +
                  "GraftSink.compactClustered (which rewrites at the " +
                  "resolved type) first")
              }
              // nested-schema fallback (unbucketed only): the same
              // distributed DataFrame residue job REPLACE WHERE runs
              PredicateFiles.residueJob(spark, fs, cond, rewrite0, staging)
            } else {
              throw new UnsupportedOperationException(
                s"graft-v2 DELETE: the bucketed table at $path has " +
                "nested columns; the bucket-preserving per-file rewrite " +
                "covers flat schemas only — rewrite with " +
                "GraftSink.saveBucketedFiles instead")
            }
          (r, Map.empty[String, String], rewrite0)
        }
      val victims = deleteWhole0 ++ extraWhole
      if (keep.isEmpty && residue.isEmpty && dvUpdates.isEmpty) {
        // the delete empties the table: pin its schema first
        ensureSchemaMarker(fs, target, schema)
      }
      GraftSwapV2.parkAndSwapVersioned(fs, target, readState,
        victims, residue,
        // a racing append conflicts only if its files MIGHT hold rows
        // this DELETE's predicate matches (footer-stats proof); a
        // racer that touched our victims always makes us lose cleanly
        addedSafe = GraftSwapV2.appendSafeUnder(target, cond),
        dvUpdates = dvUpdates, op = "delete")
    } finally {
      // sweeps zombie/speculative attempts too
      try fs.delete(staging, true) catch { case _: Throwable => () }
    }
  }

  /** Driver-side single-file materialization for the delta commit's
    * fraction escalation: rewrite `in` minus the `skip` positions
    * (no predicate — the deleted/updated rows' replacements live in
    * the delta's insert files). Returns the written path, None when
    * nothing survives. */
  private[v2] def materializeOne(conf: Configuration, in: String,
      out: String, skip: org.roaringbitmap.RoaringBitmap,
      renames: Map[String, String]): Option[String] =
    rewriteOne(conf, in, out, null, skip = skip, renames = renames)

  /** OPTIMIZE-style maintenance: rewrite every DV'd file of the
    * current version without its deleted positions, clearing all
    * vectors in one commit. Returns the number of files materialized.
    * Compaction and REPLACE WHERE call this first — their raw-parquet
    * rewrite jobs must never resurrect position-deleted rows. */
  def materializeDeleteVectors(path: String): Int = {
    val spark = SparkSession.active
    val conf = GraftHadoopConf.sessionConf()
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target)) return 0
    val readState = GraftManifest.pinForMutation(fs, target)
    if (readState.dvs.isEmpty) return 0
    val files = readState.dvs.keys.toSeq.sorted.map(new Path(target, _))
    val jobId = UUID.randomUUID().toString.take(8)
    val staging = new Path(target, s".graft-v2-delete-$jobId")
    try {
      fs.mkdirs(staging)
      // cond = null: nothing newly matches, only the vectors apply
      val residue = rewritePerFile(spark, null, null, files, staging,
        jobId, readState.dvs, target,
        GraftCatalog.readMapping(fs, target).renames)
      GraftSwapV2.parkAndSwapVersioned(fs, target, readState,
        files, residue,
        // appends never hold positions of pre-existing files
        addedSafe = _ => true,
        // a pure file reshuffle: no logical row changes for the feed
        op = "maintenance")
      files.size
    } finally {
      try fs.delete(staging, true) catch { case _: Throwable => () }
    }
  }

  /** First column whose PHYSICAL parquet encoding differs across
    * `files` — a widened table's old-narrow/new-wide mix. The
    * per-file rewriters upcast per file and don't care; a DataFrame
    * job reading the whole set at once (residueJob) would bind one
    * schema to conflicting encodings, so its callers refuse on
    * Some(col). */
  private[v2] def mixedPhysicalType(files: Seq[Path]): Option[String] = {
    val seen = scala.collection.mutable.HashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    files.foreach { f =>
      FooterCache.schemaOption(f.toString).map(ParquetMeta.toStruct)
        .foreach { st =>
          st.fields.foreach { fld =>
            seen.get(fld.name) match {
              case Some(dt) if dt != fld.dataType => return Some(fld.name)
              case None => seen(fld.name) = fld.dataType
              case _ => ()
            }
          }
        }
    }
    None
  }

  /** (Re)writes the schema marker with the table's CURRENT schema —
    * unconditionally, so a table whose schema evolved past its CREATE
    * marker (footers won while data existed) keeps the evolved schema
    * when a DELETE/TRUNCATE empties it. */
  private[v2] def ensureSchemaMarker(fs: FileSystem, target: Path,
      schema: StructType, preserveMapping: Boolean = false,
      preserveChecks: Boolean = true): Unit =
    // an emptied/redefined table has no old files left, so any
    // DROP/RENAME column mapping is cleared with the refresh; a
    // widened APPEND (preserveMapping=true) keeps it — the mapped old
    // files are still live. CHECK constraints survive an EMPTYING
    // delete (vacuously satisfied) but a schema-REDEFINING overwrite
    // clears them (they may reference replaced columns).
    GraftCatalog.writeMarker(fs, target, schema,
      if (preserveMapping) GraftCatalog.readMapping(fs, target)
      else GraftCatalog.ColumnMapping.empty,
      if (preserveChecks) None else Some(Nil))

  /** Per-boundary-file outcome of the deletion-vector decision job. */
  private sealed trait BoundaryOutcome extends Serializable
  private case class DvOut(orig: String, stagedDv: String,
      dvName: String) extends BoundaryOutcome
  private case class ResidueOut(orig: String,
      residue: Option[String]) extends BoundaryOutcome
  private case class AllDead(orig: String) extends BoundaryOutcome

  /** One executor task per boundary file, no shuffle: measure the
    * file's matching positions (pass 1), then — by the unioned
    * deleted fraction — either stage a deletion-vector sidecar
    * (cost ∝ deleted rows, data file untouched) or fall back to the
    * residue rewrite (pass 2). */
  private def dvOrRewriteJob(spark: SparkSession, cond: Filter,
      schema: StructType, files: Seq[Path], oldDvs: Map[String, String],
      target: Path, staging: Path, jobId: String,
      renames: Map[String, String]): Seq[BoundaryOutcome] = {
    val internal = PredicateFiles.internalizeTemporal(cond, schema)
    val maxFrac = DeleteVectors.maxFraction
    val dvDirStr = DeleteVectors.dvDir(target).toString
    val shipped = GraftHadoopConf.broadcast(GraftHadoopConf.sessionConf())
    val stagingStr = staging.toString
    val jobs = files.zipWithIndex.map { case (p, i) =>
      val suffix = BucketLayout.bucketIdOf(p.getName)
        .map(b => f"_$b%05d").getOrElse("")
      (p.toString, p.getName,
        oldDvs.get(p.getName).map(d => s"$dvDirStr/$d").orNull,
        s"part-del-$jobId-$i$suffix.c000.snappy.parquet",
        s"${p.getName}.$jobId-$i.dv")
    }
    spark.sparkContext.parallelize(jobs, jobs.size)
      .map { case (in, name, oldDvPath, outName, dvName) =>
        val conf = shipped.value.value
        val attempt = Option(TaskContext.get())
          .map(_.attemptNumber()).getOrElse(0)
        val outNamed =
          if (attempt == 0) outName
          else outName.replaceFirst("^part-del-", s"part-del-a$attempt-")
        val dvNamed = if (attempt == 0) dvName else s"a$attempt-$dvName"
        val old =
          if (oldDvPath == null) null
          else DeleteVectors.load(oldDvPath, conf)
        matchPositions(conf, in, internal, renames, maxFrac) match {
          case (None, _) =>
            // over-threshold (measuring pass bailed early): rewrite
            // survivors, dropping both old-vector positions and
            // newly-matching rows; a no-survivor file returns no
            // residue, which the commit drops whole
            ResidueOut(name,
              rewriteOne(conf, in, s"$stagingStr/$outNamed", internal,
                skip = old, renames = renames)): BoundaryOutcome
          case (Some(hit), total) =>
            val union =
              if (old == null) hit
              else org.roaringbitmap.RoaringBitmap.or(hit, old)
            val dead = union.getLongCardinality
            if (dead >= total && total > 0) {
              AllDead(name): BoundaryOutcome
            } else if (total <= Int.MaxValue.toLong &&
                dead <= maxFrac * total) {
              val staged = new Path(s"$stagingStr/$dvNamed")
              DeleteVectors.write(staged.getFileSystem(conf), staged,
                union)
              DvOut(name, staged.toString, dvNamed): BoundaryOutcome
            } else {
              // the union with the OLD vector crossed the threshold
              ResidueOut(name,
                rewriteOne(conf, in, s"$stagingStr/$outNamed", internal,
                  skip = old, renames = renames)): BoundaryOutcome
            }
        }
      }
      .collect().toSeq
  }

  /** Pass 1: stream one file, return (bitmap of definitely-matching
    * FILE ordinals, total row count). Same three-valued evaluation and
    * schema-evolution padding as the rewrite. */
  /** Returns (None, fileRows) when the match count provably exceeds
    * `maxFrac` of the file — the caller goes straight to the rewrite,
    * and the measuring pass stops at the threshold instead of
    * streaming a mostly-deleted file to the end (the common big-DELETE
    * shape pays ~maxFrac of one read extra, not a full read). */
  private def matchPositions(conf: Configuration, inFile: String,
      internalCond: Filter, renames: Map[String, String],
      maxFrac: Double)
      : (Option[org.roaringbitmap.RoaringBitmap], Long) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(inFile), conf))
    try {
      val fileRows = reader.getRecordCount
      // union with an existing vector only grows the count, so a hit
      // count alone above the threshold already decides "rewrite"
      val bailAt = (maxFrac * fileRows).toLong
      val fileSchema = reader.getFileMetaData.getSchema
      val struct = logicalStruct(ParquetMeta.toStruct(fileSchema), renames)
      val matches = compileWithPadding(internalCond, fileSchema, struct)
      val converters = struct.fields.zipWithIndex.map { case (f, i) =>
        ParquetMeta.converter(fileSchema.getType(i), f.dataType)
      }
      val hit = new org.roaringbitmap.RoaringBitmap()
      var hits = 0L
      var ord = 0L
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rr = new ColumnIOFactory().getColumnIO(fileSchema)
          .getRecordReader(pages, new GroupRecordConverter(fileSchema))
        val total = pages.getRowCount
        var n = 0L
        while (n < total) {
          val g = rr.read()
          n += 1
          if (g != null) {
            val row = new GenericInternalRow(struct.length)
            var i = 0
            while (i < struct.length) {
              row.update(i,
                if (g.getFieldRepetitionCount(i) == 0) null
                else converters(i)(g, i))
              i += 1
            }
            if (matches(row) && ord <= Int.MaxValue.toLong) {
              hit.add(ord.toInt)
              hits += 1
              if (hits > bailAt) return (None, fileRows)
            }
          }
          ord += 1
        }
        pages = reader.readNextRowGroup()
      }
      (Some(hit), ord)
    } finally reader.close()
  }

  /** RENAME-mapping translation for the per-file jobs: relabel the
    * file's PHYSICAL field names to their logical ones (positional —
    * dropped columns keep their slot so converters stay aligned), so
    * a predicate on a renamed column evaluates against the right data
    * instead of reading padded NULL (which would silently keep every
    * row of a pre-rename file). */
  private def logicalStruct(struct: StructType,
      renames: Map[String, String]): StructType =
    if (renames.isEmpty) struct
    else StructType(struct.fields.map(f =>
      renames.get(f.name).map(l => f.copy(name = l)).getOrElse(f)))

  /** The predicate compiled over the file's schema, padded with NULL
    * for columns the (older) file lacks — UNKNOWN rows survive, same
    * as a live query. `null` cond = matches nothing. */
  private def compileWithPadding(internalCond: Filter,
      fileSchema: MessageType, struct: StructType)
      : InternalRow => Boolean = {
    if (internalCond == null) return _ => false
    val missing = internalCond.references.distinct
      .filterNot(struct.fieldNames.contains)
    val evalSchema = org.apache.spark.sql.types.StructType(
      struct.fields ++ missing.map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType)))
    val compiled = RowFilterEval.compile(Array(internalCond), evalSchema)
    if (missing.isEmpty) compiled
    else {
      val nulls = new GenericInternalRow(missing.length)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      r => compiled(joined(r, nulls))
    }
  }

  /** One executor task per boundary file, no shuffle: stream row
    * groups, keep rows where `cond` is not definitely TRUE (and not
    * position-deleted by the file's existing vector), emit one
    * replacement file carrying the original's bucket suffix. Names are
    * attempt-unique; only the attempt whose result Spark collected is
    * renamed in, and the staging sweep drops zombies — the same
    * speculative-duplicate discipline as the batch writers.
    * `cond = null` (vector materialization) drops vector positions
    * only. */
  private def rewritePerFile(spark: SparkSession, cond: Filter,
      schema: StructType, files: Seq[Path], staging: Path,
      jobId: String,
      oldDvs: Map[String, String] = Map.empty,
      target: Path = null,
      renames: Map[String, String] = Map.empty): Seq[Path] = {
    val internal =
      if (cond == null) null
      else PredicateFiles.internalizeTemporal(cond, schema)
    if (cond != null && !RowFilterEval.supports(internal, schema)) {
      throw new UnsupportedOperationException(
        s"graft-v2 DELETE: cannot evaluate predicate $cond row-side — " +
        "supported: comparisons (incl. date/timestamp)/In/IsNull/" +
        "StartsWith/EndsWith/Contains over flat columns, with And/Or/Not")
    }
    val dvDirStr =
      if (target == null) null else DeleteVectors.dvDir(target).toString
    val shipped = GraftHadoopConf.broadcast(GraftHadoopConf.sessionConf())
    val stagingStr = staging.toString
    val jobs: Seq[(String, String, String)] = files.zipWithIndex.map {
      case (p, i) =>
        // the `_<bucket%05d>` suffix must stay the LAST `_digits`
        // group, so the attempt marker is hyphen-joined
        val suffix = BucketLayout.bucketIdOf(p.getName)
          .map(b => f"_$b%05d").getOrElse("")
        (p.toString, s"part-del-$jobId-$i$suffix.c000.snappy.parquet",
          oldDvs.get(p.getName).filter(_ => dvDirStr != null)
            .map(d => s"$dvDirStr/$d").orNull)
    }
    spark.sparkContext.parallelize(jobs, jobs.size)
      .map { case (in, outName, oldDvPath) =>
        val attempt = Option(TaskContext.get())
          .map(_.attemptNumber()).getOrElse(0)
        val named =
          if (attempt == 0) outName
          else outName.replaceFirst("^part-del-", s"part-del-a$attempt-")
        val conf = shipped.value.value
        val skip =
          if (oldDvPath == null) null
          else DeleteVectors.load(oldDvPath, conf)
        rewriteOne(conf, in, s"$stagingStr/$named", internal,
          skip = skip, renames = renames)
      }
      .collect().toSeq.flatten.map(new Path(_))
  }

  /** Task body: rewrite `inFile` minus the definitely-matching rows
    * into `outFile`. Returns None (and writes nothing) when no row
    * survives. Evaluation is [[RowFilterEval]]'s three-valued compile:
    * a row is DELETED only when the predicate is definitely TRUE —
    * UNKNOWN (null operand) rows survive, matching SQL DELETE.
    *
    * Rewritten files are emitted in the engine's canonical
    * TIMESTAMP_MICROS (like every other graft write path): a NANOS
    * source file's survivors normalize to micros — the same value
    * every graft read already produced for them. */
  private def rewriteOne(conf: Configuration, inFile: String,
      outFile: String, internalCond: Filter,
      skip: org.roaringbitmap.RoaringBitmap = null,
      renames: Map[String, String] = Map.empty): Option[String] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(inFile), conf))
    var writer: ParquetWriter[InternalRow] = null
    try {
      val fileSchema = reader.getFileMetaData.getSchema
      // logical labels: the predicate sees renamed columns' data, and
      // the residue file is WRITTEN under logical names (the rewrite
      // materializes the rename, like copy-on-write)
      val struct = logicalStruct(ParquetMeta.toStruct(fileSchema), renames)
      // schema evolution: the predicate may reference columns this
      // (older) file lacks — evaluate over a padded row, so they read
      // NULL -> UNKNOWN -> the row survives, same as a live query
      val matches = compileWithPadding(internalCond, fileSchema, struct)
      val converters = struct.fields.zipWithIndex.map { case (f, i) =>
        ParquetMeta.converter(fileSchema.getType(i), f.dataType)
      }
      var ord = 0L // FILE ordinal: `skip` holds position deletes
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val rr = new ColumnIOFactory().getColumnIO(fileSchema)
          .getRecordReader(pages, new GroupRecordConverter(fileSchema))
        val total = pages.getRowCount
        var n = 0L
        while (n < total) {
          val g = rr.read()
          val deleted = skip != null && ord <= Int.MaxValue.toLong &&
            skip.contains(ord.toInt)
          ord += 1
          n += 1
          if (g != null && !deleted) {
            val row = new GenericInternalRow(struct.length)
            var i = 0
            while (i < struct.length) {
              row.update(i,
                if (g.getFieldRepetitionCount(i) == 0) null
                else converters(i)(g, i))
              i += 1
            }
            if (!matches(row)) {
              if (writer == null) writer = openWriter(conf, struct, outFile)
              writer.write(row)
            }
          }
        }
        pages = reader.readNextRowGroup()
      }
      if (writer != null) Some(outFile) else None
    } finally {
      try reader.close() finally {
        if (writer != null) writer.close()
      }
    }
  }

  /** `shared` may be the broadcast value every task reads, and each
    * file has its own schema, so the writer pins a copy. */
  private def openWriter(shared: Configuration, struct: StructType,
      outFile: String): ParquetWriter[InternalRow] = {
    val conf =
      GraftHadoopConf.pinParquetWrite(new Configuration(shared), struct)
    new InternalRowParquetBuilder(
        HadoopOutputFile.fromPath(new Path(outFile), conf))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

}
