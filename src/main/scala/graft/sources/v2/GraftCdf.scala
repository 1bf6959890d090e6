package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CHANGE DATA FEED: the row-level changes each committed version
  * introduced, reconstructed from the version log — what an
  * incremental consumer (a downstream materialization, an audit, a
  * sync into another store) reads instead of re-diffing whole
  * snapshots. The engine-maintained row-address analog of the
  * reference's `xmin` bookkeeping (ExtJdbcUtils.scala:301-329): there
  * the database's transaction ids identified a save's rows after the
  * fact; here the manifest log identifies every commit's rows, with
  * their change direction, at any later time.
  *
  * Output = the table's columns plus
  * `_change_type` (`insert` / `delete` / `update_preimage` /
  * `update_postimage`), `_commit_version`, `_commit_timestamp`.
  *
  * How each version step v-1 → v is reconstructed, cheapest source
  * first (all pure DataFrame composition over the versioned scans —
  * shuffles only where reconstruction genuinely needs them):
  *
  *  - `op=maintenance` commits (compaction, Z-order, DV
  *    materialization) reshuffle files without touching a logical row
  *    → contribute NOTHING, however many bytes they rewrote.
  *  - Deletion-vector growth on files live in both versions: the
  *    bitmap difference IS the exact deleted-row set — expanded on
  *    executors (one task per touched file) and joined back against
  *    the v-1 scan on the engine's own (_file, _pos) row address. The
  *    delta write path's point UPDATE/DELETE/MERGE land here: no
  *    row-equality shuffle at all.
  *  - Files removed/added by the step: an `append` is its added rows,
  *    verbatim. Any other op replays copy-on-write honestly —
  *    `removed EXCEPT ALL added` are the step's deletes, `added
  *    EXCEPT ALL removed` its inserts — netting out the rows a
  *    rewrite merely carried over. That multiset difference is one
  *    hash shuffle over the REWRITTEN files only (never the table),
  *    the irreducible cost of row-level reconstruction from
  *    file-level commits; tables mutated through the delta path skip
  *    it entirely.
  *  - `op=update` labels its deletes `update_preimage` and its
  *    inserts `update_postimage` (a pure UPDATE pairs them by
  *    definition); `merge` emits net `insert`/`delete` (a merge mixes
  *    unpairable inserts with updates).
  *
  * Columns are aligned to the CURRENT resolved schema of the range's
  * end: a column a later commit added reads as NULL in earlier
  * changes (the standard feed behavior across schema evolution).
  * Retention: a step whose v-1 files were vacuumed cannot be
  * reconstructed — same contract as time travel itself. */
object GraftCdf {

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"
  val CommitTimestamp = "_commit_timestamp"

  /** Consumer low-water marks: `.graft-cdf-consumers/<id>` holds the
    * last version consumer `id` has APPLIED. [[GraftManifest.vacuum]]
    * respects registered marks by default — it keeps every version a
    * registered consumer still needs as a diff base — which turns the
    * feed's fail-loud retention contract into something an operator
    * can size by subscription instead of by guess. Written by
    * [[graft.streaming.StreamOps.writeChangeApplyBatches]] when the
    * caller names its consumer, or directly via
    * [[advanceConsumer]]/[[registerConsumer]]. */
  val ConsumersDir = ".graft-cdf-consumers"

  private def consumerFile(table: Path, id: String): Path = {
    require(id.nonEmpty && id.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"graft-cdf: consumer id '$id' must be [A-Za-z0-9._-]+")
    new Path(new Path(table, ConsumersDir), id)
  }

  /** All registered consumers' last-applied versions. */
  def consumerMarks(fs: org.apache.hadoop.fs.FileSystem,
      table: Path): Map[String, Long] = {
    val d = new Path(table, ConsumersDir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq.filter(_.isFile).flatMap { st =>
      scala.util.Try {
        val in = fs.open(st.getPath)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(st.getPath)
            .getLen.toInt)
          in.readFully(0, bytes)
          st.getPath.getName -> new String(bytes, "UTF-8").trim.toLong
        } finally in.close()
      }.toOption
    }.toMap
  }

  /** Advance consumer `id`'s low-water mark to `version` (monotonic:
    * a replayed batch's older mark never regresses the floor). */
  def advanceConsumer(fs: org.apache.hadoop.fs.FileSystem, table: Path,
      id: String, version: Long): Unit = {
    val f = consumerFile(table, id)
    val cur = consumerMarks(fs, table).getOrElse(id, -1L)
    if (version > cur) {
      fs.mkdirs(f.getParent)
      val out = fs.create(f, true)
      try out.write(version.toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Register consumer `id` from `version` onward (default 0: the
    * whole feed) so vacuum keeps its window open BEFORE the first
    * batch ever applies. */
  def registerConsumer(spark: SparkSession, path: String, id: String,
      version: Long = 0L): Unit = {
    val table = new Path(path)
    advanceConsumer(table.getFileSystem(GraftHadoopConf.sessionConf()),
      table, id, version)
  }

  /** Drop consumer `id`'s mark — its subscription ends; vacuum stops
    * holding versions for it. */
  def unregisterConsumer(spark: SparkSession, path: String,
      id: String): Unit = {
    val table = new Path(path)
    val fs = table.getFileSystem(GraftHadoopConf.sessionConf())
    try fs.delete(consumerFile(table, id), false)
    catch { case _: Throwable => () }
  }

  /** Start the version log on a table that has none yet (version 1 =
    * its current contents, the feed's initial population). Appends to
    * a manifest-free table keep plain listing semantics and produce
    * no versions — a table meant to be CONSUMED incrementally opts in
    * here (or writes its first append with `.option("changelog",
    * "true")`); any DML bootstraps the log implicitly. */
  def enableChangeFeed(spark: SparkSession, path: String): Unit = {
    val table = new Path(path)
    val fs = table.getFileSystem(GraftHadoopConf.sessionConf())
    GraftManifest.pinForMutation(fs, table)
  }

  /** Changes committed by versions in `[fromVersion, toVersion]`
    * (inclusive; `toVersion = -1` = up to the latest). Version 1 — a
    * table's first manifest — records its pre-existing contents:
    * included as `insert`s when the range starts at 1 (the initial
    * population), the same way every feed bootstraps a consumer. */
  def tableChanges(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    val conf = GraftHadoopConf.sessionConf()
    val table = new Path(path)
    val fs = table.getFileSystem(conf)
    val all = GraftManifest.versions(fs, table)
    require(all.nonEmpty,
      s"graft-cdf: $path has no manifests — the change feed begins at " +
      "the table's first graft-v2 commit")
    val hi = if (toVersion < 0) all.last else toVersion
    val lo = math.max(fromVersion, 1L)
    // retention is a HARD boundary, not a silent truncation: a range
    // reaching below the oldest RECONSTRUCTIBLE version cannot be
    // served (its diffs and archive files are gone) — same contract
    // as time travel. Reconstructing version v needs v-1 as the diff
    // base, so when vacuum dropped versions below all.min (all.min >
    // 1), the feed really begins at all.min + 1, not all.min itself.
    // `lo > hi` (asking past the log) is legitimately empty: nothing
    // happened yet. Registering a consumer mark
    // ([[registerConsumer]]) makes vacuum keep the window open.
    val feedStart = if (all.min == 1L) 1L else all.min + 1L
    if (lo <= hi && lo < feedStart) {
      throw new IllegalStateException(
        s"graft-cdf: versions $lo..${math.min(hi, feedStart - 1)} of " +
        s"$path cannot be reconstructed (vacuum dropped their diff " +
        s"bases) — the feed begins at version $feedStart; size the " +
        "retention window to outlast the consumer's longest gap, or " +
        "register a consumer mark so vacuum holds it open")
    }
    val range = all.filter(v => v >= lo && v <= hi)

    // column frame: the range end's schema; every piece aligns to it
    val endScan = scanAt(spark, path, hi)
    val dataCols = endScan.schema.fieldNames.toSeq
    val frame = endScan.schema

    // PLAN SHAPE AT SCALE: a long version history must not build a
    // linear plan. Two measures keep analysis cost and driver memory
    // sub-linear in range length:
    //  1. contiguous INSERT-ONLY versions (plain appends — no removed
    //     files, no DV growth) coalesce into ONE restricted scan,
    //     stamped per-version through a broadcast of the tiny
    //     (file → version, timestamp) mapping — a feed dominated by
    //     appends costs one scan however many commits it spans;
    //  2. the remaining pieces union as a BALANCED binary tree, so a
    //     range with many non-groupable steps builds an O(log n)-deep
    //     plan instead of an n-branch left spine.
    val retainedSet = all.toSet
    val snapCache =
      scala.collection.mutable.Map.empty[Long, GraftManifest.Snapshot]
    def snap(v: Long): GraftManifest.Snapshot =
      snapCache.getOrElseUpdate(v, GraftManifest.read(fs, table, v))

    /** The verbatim-added file names of `v` iff the step contributes
      * ONLY inserts of whole files (groupable); None otherwise. */
    def insertOnly(v: Long): Option[Seq[String]] = {
      val op = GraftManifest.opOf(fs, table, v).getOrElse("write")
      if (op == "maintenance" || op == "update") return None
      if (v > 1L && !retainedSet.contains(v - 1)) return None
      val cur = snap(v)
      val prev = if (v == 1L) GraftManifest.Snapshot(0L, Seq.empty)
        else snap(v - 1)
      val prevNames = prev.names.toSet
      val curNames = cur.names.toSet
      val added = cur.names.filterNot(prevNames)
      val removed = prev.names.filterNot(curNames)
      val dvGrown = cur.dvs.exists { case (name, dvName) =>
        prevNames.contains(name) && curNames.contains(name) &&
          !prev.dvs.get(name).contains(dvName)
      }
      if (removed.isEmpty && !dvGrown && added.nonEmpty) Some(added)
      else None
    }

    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // current insert-only run: (version, its added files) in order
    var run = List.empty[(Long, Seq[String])]
    def flushRun(): Unit = {
      if (run.size == 1) {
        // a lone append keeps the constant-stamped single-version
        // piece (no join needed)
        val (v, _) = run.head
        pieces ++= stepChanges(spark, fs, conf, path, table, v,
          dataCols, frame)
      } else if (run.nonEmpty) {
        pieces += groupedInserts(spark, fs, path, table,
          run.reverse, dataCols, frame)
      }
      run = Nil
    }
    range.foreach { v =>
      val op = GraftManifest.opOf(fs, table, v).getOrElse("write")
      if (op == "maintenance") {
        // contributes nothing — and REPLACES files, so a run cannot
        // span it (a run file compacted away is gone at a later
        // version's scan)
        flushRun()
      } else insertOnly(v) match {
        case Some(files)
            if run.isEmpty || run.head._1 == v - 1 =>
          run = (v, files) :: run
        case Some(files) =>
          flushRun()
          run = (v, files) :: Nil
        case None =>
          flushRun()
          pieces ++= stepChanges(spark, fs, conf, path, table, v,
            dataCols, frame)
      }
    }
    flushRun()
    balancedUnion(pieces.toSeq, emptyFeed(spark, frame))
  }

  /** Balanced binary union: O(log n) plan depth over n pieces (a
    * left-fold builds an n-deep spine whose analysis cost and driver
    * footprint grow with history length). */
  private def balancedUnion(pieces: Seq[DataFrame],
      empty: DataFrame): DataFrame = {
    if (pieces.isEmpty) return empty
    var cur = pieces
    while (cur.length > 1) {
      cur = cur.grouped(2).map {
        case Seq(a, b) => a.unionByName(b)
        case Seq(a) => a
      }.toSeq
    }
    cur.head
  }

  /** One scan serving a RUN of contiguous insert-only versions: all
    * the run's added files read at the run's last version (all still
    * live there — nothing was removed or re-masked in between), each
    * row stamped with ITS file's commit version/timestamp through a
    * broadcast hash join on the tiny (file → version) mapping — O(1)
    * per row, no shuffle, one plan branch per run instead of one per
    * version. */
  private def groupedInserts(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, table: Path,
      run: Seq[(Long, Seq[String])], dataCols: Seq[String],
      frame: StructType): DataFrame = {
    import spark.implicits._
    val scanV = run.last._1
    val files = run.flatMap(_._2)
    val stampRows: Seq[(String, Long, Option[Long])] = run.flatMap {
      case (v, names) =>
        val ts = GraftManifest.commitTimeMillis(fs, table, v)
        names.map(n => (n, v, ts))
    }
    val stamps = stampRows.toDF("__cdf_file", "__cdf_v", "__cdf_ts")
    val scan = restrictedScan(spark, path, scanV, files, withPos = false)
      .withColumn("__cdf_file",
        element_at(split(col(GraftFileColumn.Name), "/"), -1))
    val have = scan.columns.toSet
    scan.join(broadcast(stamps), "__cdf_file")
      .select(frame.fields.toSeq.map { f =>
        if (have.contains(f.name)) {
          col(f.name).cast(f.dataType).as(f.name)
        } else lit(null).cast(f.dataType).as(f.name)
      } ++ Seq(
        lit("insert").as(ChangeType),
        col("__cdf_v").as(CommitVersion),
        timestamp_millis(col("__cdf_ts")).as(CommitTimestamp)): _*)
  }

  // ---- internals ----

  private def scanAt(spark: SparkSession, path: String,
      v: Long): DataFrame =
    spark.read.format("graft-v2").option("path", path)
      .option("versionAsOf", v).load()

  /** The version-v scan restricted to `names`, carrying `_file` (and
    * optionally `_pos`): the IN-set over the metadata column is
    * pushed, so planning prunes to exactly those files — the feed
    * never scans the unchanged remainder of a large table. */
  private def restrictedScan(spark: SparkSession, path: String,
      v: Long, names: Seq[String], withPos: Boolean): DataFrame = {
    // `_file` values are FS-qualified (`file:/wh/t/part-x.parquet`);
    // admit both spellings so the IN-set both PUSHES (name-based file
    // pruning) and survives the residual equality check
    val root = new Path(path)
    val qfs = root.getFileSystem(GraftHadoopConf.sessionConf())
    val paths = names.flatMap { n =>
      val raw = new Path(root, n)
      Seq(raw.toString, qfs.makeQualified(raw).toString)
    }.distinct
    val base = scanAt(spark, path, v)
    val metaCols =
      if (withPos) Seq(col(GraftFileColumn.Name), col(GraftPosColumn.Name))
      else Seq(col(GraftFileColumn.Name))
    base.select(base.columns.map(col).toSeq ++ metaCols: _*)
      .filter(col(GraftFileColumn.Name).isin(paths: _*))
  }

  /** Align `df` to the feed frame: the frame's columns in order, a
    * later-added column reading NULL, types cast to the frame's. */
  private def align(df: DataFrame, frame: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(frame.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  private def emptyFeed(spark: SparkSession,
      frame: StructType): DataFrame = {
    val full = StructType(frame.fields.toSeq ++ Seq(
      StructField(ChangeType, StringType, nullable = false),
      StructField(CommitVersion, LongType, nullable = false),
      StructField(CommitTimestamp, TimestampType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], full)
  }

  private def stamp(df: DataFrame, changeType: String, v: Long,
      tsMillis: Option[Long], frame: StructType): DataFrame =
    align(df, frame)
      .withColumn(ChangeType, lit(changeType))
      .withColumn(CommitVersion, lit(v))
      .withColumn(CommitTimestamp,
        tsMillis.map(m => timestamp_millis(lit(m)))
          .getOrElse(lit(null).cast(TimestampType)))

  /** The changes version `v` committed (against `v-1`), as stamped
    * feed pieces; empty for maintenance commits. */
  private def stepChanges(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      path: String, table: Path, v: Long,
      dataCols: Seq[String], frame: StructType): Seq[DataFrame] = {
    val op = GraftManifest.opOf(fs, table, v).getOrElse("write")
    if (op == "maintenance") return Seq.empty
    val cur = GraftManifest.read(fs, table, v)
    // v = 1 diffs against the empty pre-log state (the initial
    // population); any LATER version whose predecessor is gone was
    // outrun by vacuum — treating it as empty would silently re-emit
    // the whole version as inserts, so fail with the retention
    // diagnosis instead
    val prev =
      if (v == 1L) GraftManifest.Snapshot(0L, Seq.empty)
      else if (GraftManifest.versions(fs, table).contains(v - 1))
        GraftManifest.read(fs, table, v - 1)
      else throw new IllegalStateException(
        s"graft-cdf: version ${v - 1} of $path was vacuumed before " +
        s"version $v's changes were reconstructed — the retention " +
        "window must outlast the consumer's longest gap")
    val ts = GraftManifest.commitTimeMillis(fs, table, v)
    val curNames = cur.names.toSet
    val prevNames = prev.names.toSet
    val added = cur.names.filterNot(prevNames)
    val removed = prev.names.filterNot(curNames)
    val (delType, insType) =
      if (op == "update") ("update_preimage", "update_postimage")
      else ("delete", "insert")

    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // 1. deletion-vector growth on files live in BOTH versions: the
    //    bitmap difference is the exact deleted-position set
    val dvGrown: Seq[(String, String, String)] = cur.dvs.toSeq.collect {
      case (name, dvName)
          if prevNames.contains(name) && curNames.contains(name) &&
            !prev.dvs.get(name).contains(dvName) =>
        (name, dvName, prev.dvs.getOrElse(name, ""))
    }
    if (dvGrown.nonEmpty) {
      val dvDirStr = DeleteVectors.dvDir(table).toString
      val shipped = GraftHadoopConf.broadcast(conf)
      import spark.implicits._
      // expand bitmap differences on EXECUTORS, one task per touched
      // file — the position set is the commit's deleted-row count and
      // never lands on the driver
      val positions = spark.createDataset(dvGrown)
        .repartition(math.min(dvGrown.size, 64))
        .flatMap { case (name, curDv, prevDv) =>
          val c = shipped.value.value
          val bm = DeleteVectors.load(s"$dvDirStr/$curDv", c)
          if (prevDv.nonEmpty) {
            bm.andNot(DeleteVectors.load(s"$dvDirStr/$prevDv", c))
          }
          val it = bm.getIntIterator
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          while (it.hasNext) out += ((name, it.next().toLong & 0xffffffffL))
          out
        }.toDF("cdf_file_name", "cdf_pos")
      val prevScan = restrictedScan(spark, path, v - 1,
        dvGrown.map(_._1), withPos = true)
        .withColumn("cdf_file_name",
          element_at(split(col(GraftFileColumn.Name), "/"), -1))
      val dvDeletes = prevScan.join(positions,
        prevScan("cdf_file_name") === positions("cdf_file_name") &&
          prevScan(GraftPosColumn.Name) === positions("cdf_pos"))
        .select(dataCols.map(prevScan(_)): _*)
      pieces += stamp(dvDeletes, delType, v, ts, frame)
    }

    // 2. removed/added files
    if (removed.nonEmpty || added.nonEmpty) {
      val addedRows =
        if (added.isEmpty) None
        else Some(restrictedScan(spark, path, v, added, withPos = false)
          .select(dataCols.map(col): _*))
      val removedRows =
        if (removed.isEmpty) None
        else Some(restrictedScan(spark, path, v - 1, removed,
          withPos = false).select(dataCols.map(col): _*))
      (removedRows, addedRows) match {
        case (None, Some(a)) => // pure append: added rows verbatim
          pieces += stamp(a, insType, v, ts, frame)
        case (Some(r), None) => // pure whole-file delete
          pieces += stamp(r, delType, v, ts, frame)
        case (Some(r), Some(a)) =>
          // copy-on-write replay: net out carried-over rows. The
          // multiset difference shuffles only the REWRITTEN files.
          val ra = align(r, frame); val aa = align(a, frame)
          pieces += stamp(ra.exceptAll(aa), delType, v, ts, frame)
          pieces += stamp(aa.exceptAll(ra), insType, v, ts, frame)
        case (None, None) => ()
      }
    }
    pieces.toSeq
  }
}
