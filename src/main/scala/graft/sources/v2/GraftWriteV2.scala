package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.sources.InternalRowParquetBuilder

/** V2 write path for `graft-v2` — the modern-API expression of the
  * reference's transactional save (ExtJdbcUtils.scala:70-109), riding
  * Spark's own two-phase commit instead of hand-rolled token
  * collection:
  *
  *  - every task writes its parquet part into a hidden staging
  *    directory and reports the file name as its commit message (the
  *    `txid_current()` analog, ExtJdbcUtils.scala:301-321);
  *  - `commit(messages)` — all tasks succeeded — moves exactly the
  *    COMMITTED files into the target (speculative/zombie attempts
  *    left in staging are swept with it) and only then removes old
  *    parts when truncating;
  *  - `abort()` deletes the staging directory wholesale — the
  *    compensating delete (ExtJdbcUtils.scala:324-337), here free of
  *    the reference's "best-effort" caveat because uncommitted data
  *    never entered the target.
  *
  * Append and truncate-Overwrite are supported (`SaveMode.Overwrite`
  * arrives as `overwrite(AlwaysTrue)`); the directory object survives a
  * truncate exactly like the V1 sink's truncate-and-load.
  */
class GraftWriteBuilderV2(path: String, info: LogicalWriteInfo,
    bucketSpec: Option[graft.sources.BucketLayout] = None,
    partitionSpec: Option[graft.sources.PartitionLayout] = None)
    extends WriteBuilder with SupportsOverwrite {

  private var truncateFirst = false
  private var overwriteCond: Option[Filter] = None

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** Predicate overwrite (SQL `INSERT ... REPLACE WHERE`, routed here
    * through a catalog): rows matching the conjunction are replaced by
    * the written data at commit, via footer-stats file classification
    * and a distributed boundary rewrite — see
    * [[graft.sources.PredicateFiles]]. AlwaysTrue degenerates to
    * truncate. Predicates outside the evaluable subset are rejected
    * here, before any task runs. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.length == 1 && filters(0).isInstanceOf[AlwaysTrue]) {
      truncate()
    } else if (bucketSpec.isDefined) {
      // the boundary rewrite writes unsuffixed residue files — it
      // would strip the layout's co-location guarantee
      throw new UnsupportedOperationException(
        s"graft-v2: REPLACE WHERE is not supported on the bucketed " +
        s"table at $path (${bucketSpec.get}); use INSERT OVERWRITE " +
        "or rewrite with GraftSink.saveBucketedFiles")
    } else {
      import org.apache.spark.sql.sources.And
      val cond = filters.reduce[Filter](And(_, _))
      FooterCache.schemaOption(path).map(ParquetMeta.toStruct)
        .foreach { existing =>
          if (!graft.sources.PredicateFiles.supportsOverwrite(cond,
              existing)) {
            throw new UnsupportedOperationException(
              s"graft-v2 predicate overwrite: unsupported predicate " +
              s"$cond — supported: comparisons (incl. date/timestamp)/" +
              "In/IsNull/StartsWith/EndsWith/Contains over flat " +
              "columns, with And/Or/Not")
          }
        }
      overwriteCond = Some(cond)
      this
    }
  }

  override def build(): Write = {
    // eager schema compatibility gate, like the reference resolving the
    // table before writing (ExtJdbcRelationProvider.scala:25-38)
    var widenTo: Option[StructType] = None
    if (!truncateFirst) {
      // gate only when data actually exists (an empty or fresh
      // directory accepts any schema). The gate runs against the
      // RESOLVED table schema (footer ∪ marker, exactly as
      // GraftCatalog.resolveSchema computes it): with no marker
      // present, the footer alone resolves from the lexicographically-
      // FIRST file, so judging extras against it would make a widened
      // append's visibility depend on part-file name ordering.
      val tdir = new Path(path)
      val tfs = tdir.getFileSystem(GraftHadoopConf.sessionConf())
      GraftCatalog.resolveSchema(tfs, tdir).foreach { resolved =>
        if (FooterCache.schemaOption(path).isDefined) {
          // LOGICAL shape of the first footer: a DROP/RENAME mapping
          // means the physical spelling differs — the gate (like every
          // append) speaks logical names
          val existing = GraftCatalog.translatedFooter(tfs, tdir).get
          val incoming = info.schema()
          // every physically-present column must arrive with its
          // RESOLVED type — the marker's wide type for a widened
          // column, the footer's otherwise (marker-only evolved
          // columns may be omitted — old files read NULL for them)
          val resolvedType =
            resolved.fields.map(f => f.name -> f.dataType).toMap
          val incomingF =
            incoming.fields.map(f => (f.name, f.dataType)).toSet
          val ok = existing.fields.forall(f => incomingF.contains(
            (f.name, resolvedType.getOrElse(f.name, f.dataType))))
          if (!ok) {
            throw new IllegalArgumentException(
              s"graft-v2 append schema mismatch: table has " +
              s"${existing.catalogString}, write has " +
              s"${incoming.catalogString}")
          }
          // incoming columns that name-match a RESOLVED (possibly
          // marker-only, ALTER ADD COLUMNS) column must also carry the
          // resolved type — a name-match with a different type is
          // neither an extra nor a widen; letting it land would put
          // data files whose physical type conflicts with the
          // resolved table schema on disk and break later reads
          val clash = incoming.fields.filter(f =>
            resolved.fields.exists(r =>
              r.name == f.name && r.dataType != f.dataType))
          if (clash.nonEmpty) {
            throw new IllegalArgumentException(
              s"graft-v2 append schema mismatch: table resolves to " +
              s"${resolved.catalogString}, write has " +
              s"${incoming.catalogString} (type conflict on " +
              s"${clash.map(_.name).mkString(", ")})")
          }
          // EXTRA incoming columns beyond the resolved schema widen
          // the table: the commit refreshes the schema marker so the
          // new columns are deterministically visible no matter which
          // file a later footer resolution reads first. A widened
          // append is subject to the same RESERVED-name rule as
          // ALTER ADD COLUMN: a dropped/renamed column's physical
          // name still carries dead data in old files, and letting a
          // plain append re-introduce it would make name-mapped
          // readers resurrect that data silently.
          val extras = incoming.fields
            .filterNot(f => resolved.fieldNames.contains(f.name))
          if (extras.nonEmpty) {
            val reservedNames =
              GraftCatalog.readMapping(tfs, tdir).reserved
            val clash2 = extras.filter(f =>
              reservedNames.exists(_.equalsIgnoreCase(f.name)))
            if (clash2.nonEmpty) {
              throw new UnsupportedOperationException(
                s"graft-v2 widened append: column(s) " +
                s"${clash2.map(_.name).mkString(", ")} — the name " +
                "belongs to a DROPPED or RENAMED column still " +
                "physically present in old files; name-mapped files " +
                "could not tell the new column from the old data — " +
                "pick another name, or rewrite the table first")
            }
            widenTo = Some(StructType(
              resolved.fields ++ extras.map(_.copy(nullable = true))))
          }
        }
      }
    }
    bucketSpec.foreach { b =>
      val missing = b.bucketCols.filterNot(info.schema().fieldNames.contains)
      if (missing.nonEmpty) {
        throw new IllegalArgumentException(
          s"graft-v2 bucketed write: bucket column(s) " +
          s"${missing.mkString(", ")} absent from write schema " +
          s"${info.schema().catalogString}")
      }
    }
    // hidden partitioning ([[graft.sources.PartitionLayout]]): the
    // table's marker is the authority; `option("partitionedBy",
    // "a,b")` declares the layout on a table that has none (its marker
    // lands at COMMIT). Declaring over existing un-tokenized files is
    // fine — they are simply never pruned.
    val optSpec = Option(info.options().get("partitionedBy"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map(graft.sources.PartitionLayout(_))
    // PARTITION-LAYOUT EVOLUTION: redeclaring a different layout needs
    // the explicit `repartitionLayout=true` opt-in — the marker then
    // rewrites at commit. Safe by construction: the name fragment
    // leads with a digest OF THE LAYOUT, so files tokenized under the
    // superseded layout simply stop pruning (conservative) instead of
    // being misread positionally; new files tokenize under the new
    // layout.
    val repartition =
      info.options().getBoolean("repartitionLayout", false)
    val effectivePartition = (partitionSpec, optSpec) match {
      case (Some(m), Some(o)) if m != o && !repartition =>
        throw new IllegalArgumentException(
          s"graft-v2 partitioned write: $path is laid out as $m, " +
          s"write declared $o — set option(\"repartitionLayout\", " +
          "\"true\") to evolve the layout (old files stop pruning, " +
          "stay correct)")
      case (Some(m), Some(o)) if m != o => Some(o)
      case (Some(m), _) => Some(m)
      case (None, o) => o
    }
    effectivePartition.foreach { pl =>
      if (bucketSpec.isDefined) {
        throw new UnsupportedOperationException(
          s"graft-v2: $path cannot be both bucketed " +
          s"(${bucketSpec.get}) and hidden-partitioned ($pl) — the " +
          "two layouts claim the same file names")
      }
      pl.cols.foreach { c =>
        val f = info.schema().fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft-v2 partitioned write: partition column $c absent " +
            s"from write schema ${info.schema().catalogString}"))
        if (!graft.sources.PartitionLayout.supportedType(f.dataType)) {
          throw new UnsupportedOperationException(
            s"graft-v2 partitioned write: column $c of type " +
            s"${f.dataType.simpleString} has no canonical value " +
            "rendering — partition on string/integral/date/" +
            "timestamp/boolean columns")
        }
      }
    }
    // manifest data skipping ([[SkipStats]]): declared columns gain
    // per-file range lines in every commit; the marker lands at
    // commit so undeclared tables pay nothing
    val statsCols = Option(info.options().get("statsColumns"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    statsCols.foreach(_.foreach { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft-v2 statsColumns: column $c absent from write " +
          s"schema ${info.schema().catalogString}"))
      if (!SkipStats.supportedType(f.dataType)) {
        throw new UnsupportedOperationException(
          s"graft-v2 statsColumns: column $c of type " +
          s"${f.dataType.simpleString} has no stable manifest-stat " +
          "rendering - declare integral/date/float/double/timestamp/" +
          "string columns")
      }
      if (c.contains(":")) {
        throw new IllegalArgumentException(
          s"graft-v2 statsColumns: column name $c may not contain ':'")
      }
    })
    GraftWriteV2(path, info.schema(), truncateFirst, overwriteCond,
      bucketSpec, widenTo,
      partitionSpec = effectivePartition,
      repartition = repartition,
      statsColumns = statsCols,
      // `changelog=true` starts the version log at THIS append (v1 =
      // the pre-append state) so the change data feed ([[GraftCdf]])
      // can consume the table from its first commit — without it, a
      // never-mutated table stays manifest-free by design
      changelog = info.options().getBoolean("changelog", false),
      // the streaming sink's idempotence key (stable across restarts
      // through the checkpoint)
      queryId = info.queryId())
  }
}

case class GraftWriteV2(path: String, schema: StructType,
    truncateFirst: Boolean,
    overwriteCond: Option[Filter] = None,
    bucketSpec: Option[graft.sources.BucketLayout] = None,
    widenTo: Option[StructType] = None,
    changelog: Boolean = false,
    queryId: String = "",
    partitionSpec: Option[graft.sources.PartitionLayout] = None,
    repartition: Boolean = false,
    statsColumns: Option[Seq[String]] = None)
    extends Write
    with RequiresDistributionAndOrdering {
  override def toBatch: BatchWrite =
    new GraftBatchWriteV2(path, schema, truncateFirst, overwriteCond,
      bucketSpec, widenTo, changelog, partitionSpec, repartition,
      statsColumns)

  /** Native streaming sink (`df.writeStream.format("graft-v2")` /
    * `.toTable(...)`): append-mode micro-batches through the SAME
    * manifest epoch protocol as
    * [[graft.streaming.StreamOps.writeExactlyOnceBatches]] — each
    * epoch commits ONE manifest version carrying
    * `stream.<queryId>=<epochId>`, so a replayed epoch (Spark's
    * restart contract is at-least-once) sees itself recorded and
    * becomes a no-op: exactly-once in effect. */
  override def toStreaming: org.apache.spark.sql.connector.write
      .streaming.StreamingWrite = {
    if (truncateFirst || overwriteCond.isDefined) {
      throw new UnsupportedOperationException(
        "graft-v2 streaming sink: append output mode only " +
        "(complete/overwrite would truncate per epoch)")
    }
    if (bucketSpec.isDefined) {
      throw new UnsupportedOperationException(
        s"graft-v2 streaming sink: bucketed table at $path is not " +
        "streamable — write with foreachBatch + " +
        "GraftSink.saveBucketedFiles")
    }
    new GraftStreamingWriteV2(path, schema, queryId)
  }

  /** A partitioned write clusters rows by the partition columns
    * (identity transforms — resolvable without a function catalog, so
    * path writes partition too) and sorts tasks by them: value
    * changes are then contiguous, so the writer rolls ONE open file
    * per task regardless of partition-value cardinality. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    partitionSpec match {
      case Some(pl) =>
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(pl.cols.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(c)).toArray)
      case None => BucketWriteContract.distribution(bucketSpec)
    }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    partitionSpec match {
      case Some(pl) => pl.cols.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions
            .column(c),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)).toArray
      case None => BucketWriteContract.ordering(bucketSpec)
    }
}

/** A bucketed write asks Spark to cluster incoming rows by the bucket
  * transform (each bucket id lands in exactly one task, so a task
  * opens few per-bucket writers) and to sort them by the layout's
  * sort columns — a per-bucket file receives a subsequence of a
  * sorted task stream, which is itself sorted, preserving the
  * ordering contract reads report. An unbucketed write requires
  * nothing. ONE definition, shared by INSERT ([[GraftWriteV2]]) and
  * the row-level write-back ([[GraftCowWrite]]), so the layout
  * contract cannot diverge between the two paths. */
private[v2] object BucketWriteContract {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  def distribution(spec: Option[graft.sources.BucketLayout]): Distribution =
    spec match {
      case Some(b) => Distributions.clustered(
        Array(Expressions.bucket(b.numBuckets, b.bucketCols: _*)))
      case None => Distributions.unspecified()
    }

  def ordering(spec: Option[graft.sources.BucketLayout])
      : Array[SortOrder] = spec match {
    case Some(b) => b.sortCols.map(c =>
      Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
    case None => Array.empty
  }
}

/** Backup-park swap (mirrors GraftSink.saveAtomic's truncate-and-load):
  * `victims` are PARKED, not deleted, until every file in `incoming`
  * has renamed in — a failure mid-commit restores them, so a reader
  * only ever sees complete-old or complete-new contents, never a mix.
  * Shared by the V2 batch commit (truncate / REPLACE WHERE) and the
  * DELETE FROM / TRUNCATE TABLE path ([[GraftDeleteV2]]). */
private[v2] object GraftSwapV2 {
  def parkAndSwap(fs: org.apache.hadoop.fs.FileSystem, target: Path,
      jobId: String, victims: Seq[Path], incoming: Seq[Path]): Unit = {
    val backup = new Path(target, s".graft-v2-backup-$jobId")
    fs.mkdirs(backup)
    // the whole sequence — INCLUDING the parking loop — unwinds on
    // failure: a parking rename that fails mid-way must restore the
    // victims already parked, or their rows are silently stranded in
    // the hidden backup dir
    try {
      victims.foreach { p =>
        if (!fs.rename(p, new Path(backup, p.getName))) {
          throw new java.io.IOException(s"backup of $p failed")
        }
      }
      incoming.foreach { src =>
        val dst = new Path(target, src.getName)
        if (!fs.rename(src, dst)) {
          throw new java.io.IOException(s"commit rename $src -> $dst failed")
        }
      }
    } catch {
      case e: Throwable =>
        // Unwind: drop any new parts already in, restore old parts.
        incoming.foreach { src =>
          try fs.delete(new Path(target, src.getName), false)
          catch { case _: Throwable => () }
        }
        fs.listStatus(backup).foreach { st =>
          try fs.rename(st.getPath, new Path(target, st.getPath.getName))
          catch { case _: Throwable => () }
        }
        try fs.delete(backup, true) catch { case _: Throwable => () }
        throw e
    }
    fs.delete(backup, true)
  }

  /** The VERSIONED swap every V2 mutation commits through: replaces
    * `victims` with `incoming` as one manifest CAS against the state
    * the caller read ([[GraftManifest]]). Ordering is what makes
    * concurrent reads snapshot-consistent:
    *
    *  1. `incoming` renames into the table root — invisible, because
    *     no committed manifest references those names yet;
    *  2. manifest version `readState.version + 1` commits by CAS —
    *     THE commit point. A racing writer already took the slot →
    *     remove the staged-in files and throw
    *     [[java.util.ConcurrentModificationException]]: the loser
    *     aborts cleanly, live data untouched;
    *  3. `victims` rename into `.graft-archive/` — no current reader
    *     references them (v+1 doesn't), and pinned readers of older
    *     versions resolve archived names there
    *     ([[GraftManifest.resolve]], [[FooterCache.rowGroupsFor]]).
    *
    * A rename failure in step 3 leaves the commit STANDING (the
    * manifest is truth; stray root files are invisible to manifest
    * readers) and throws so the operator surfaces the stranded files.
    */
  /** @param addedSafe conflict revalidation: given the file NAMES a
    *   racing commit added since this operation pinned its snapshot,
    *   return true iff the operation's result is unaffected by them
    *   (e.g. a DELETE whose footer stats prove no added file can hold
    *   a matching row). True → the CAS retries against the new
    *   version; false (the default) → clean abort. Victims must also
    *   all still be live for a retry — a racer that touched them is a
    *   REAL conflict and always loses cleanly.
    * @param expandVictims truncate semantics: a retry re-victims the
    *   current live set (everything goes, including racer appends). */
  /** The conflict-revalidation predicate shared by DELETE, REPLACE
    * WHERE and the row-level commit: a racing APPEND is safe exactly
    * when footer stats prove none of its files can hold a row the
    * mutation's condition matches. */
  private[v2] def appendSafeUnder(target: Path,
      cond: org.apache.spark.sql.sources.Filter)
      : Seq[String] => Boolean = added => {
    val (_, dw, rw) = graft.sources.PredicateFiles.classify(
      cond, added.map(new Path(target, _)))
    dw.isEmpty && rw.isEmpty
  }

  /** @param dvUpdates deletion-vector re-mappings this commit carries
    *   (file name → new sidecar name, [[DeleteVectors]]): overlays the
    *   CAS-target version's vectors; victims' entries drop out with
    *   their names. */
  def parkAndSwapVersioned(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, readState: GraftManifest.Snapshot,
      victims0: Seq[Path], incoming: Seq[Path],
      addedSafe: Seq[String] => Boolean = _ => false,
      expandVictims: Boolean = false,
      commitSchema: Option[StructType] = None,
      dvUpdates: Map[String, String] = Map.empty,
      op: String = "write"): Long =
    // the whole critical section (renames in → CAS → archive) under
    // the per-table commit lock, so no listing-derived commit can
    // capture a torn intermediate state
    GraftManifest.commitLock(fs, target).synchronized {
      parkAndSwapLocked(fs, target, readState, victims0, incoming,
        addedSafe, expandVictims, commitSchema, dvUpdates, op)
    }

  private def parkAndSwapLocked(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, readState: GraftManifest.Snapshot,
      victims0: Seq[Path], incoming: Seq[Path],
      addedSafe: Seq[String] => Boolean,
      expandVictims: Boolean,
      commitSchema: Option[StructType],
      dvUpdates: Map[String, String] = Map.empty,
      op: String = "write"): Long = {
    val incomingNames = incoming.map(_.getName).toSet
    val movedIn = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      incoming.foreach { src =>
        val dst = new Path(target, src.getName)
        if (!fs.rename(src, dst)) {
          throw new java.io.IOException(s"commit rename $src -> $dst failed")
        }
        movedIn += dst
      }
    } catch {
      case e: Throwable =>
        movedIn.foreach { p =>
          try fs.delete(p, false) catch { case _: Throwable => () }
        }
        throw e
    }
    var state = readState
    var victims = victims0
    var attempts = 0
    var committed = -1L
    while (committed < 0) {
      val victimNames = victims.map(_.getName).toSet
      // distinct: a listing-derived winner may ALREADY list this op's
      // staged-in names — appending them again would double-count
      val newNames = (state.names.filterNot(victimNames) ++
        incoming.map(_.getName)).distinct
      val newDvs =
        if (dvUpdates.isEmpty) None // inherit (restricted to names)
        else Some(state.dvs ++ dvUpdates)
      if (GraftManifest.tryCommit(fs, target, state.version, newNames,
          commitSchema, extraMeta = Seq(s"op=$op"), dvs = newDvs)) {
        committed = state.version + 1
      } else {
        attempts += 1
        val cur = GraftManifest.current(fs, target)
        val canRetry = attempts <= 20 && cur.exists { c =>
          if (expandVictims) true
          else {
            val added = c.names.filterNot(n =>
              readState.names.contains(n) || incomingNames.contains(n))
            // deletion-vector stability: this commit's victims were
            // read (and its new vectors unioned) against readState's
            // masks — a racer that re-masked any of those files means
            // positions this commit never saw: retrying would either
            // resurrect the racer's deletes (overwritten mapping) or
            // write a rewrite that ignores them. Real conflict: abort.
            // Mask equality alone is not enough for a dv-update
            // target: a racer's whole-file DELETE removes the name
            // and carries no dv entry (None == None), yet retrying
            // would have tryCommit's name filter silently drop this
            // commit's vector while its insert files still land —
            // resurrecting updated copies of rows the racer deleted.
            // The dv target must still EXIST in the winner state.
            val dvStable = (victims.map(_.getName).iterator ++
              dvUpdates.keysIterator).forall(n =>
                c.dvs.get(n) == readState.dvs.get(n)) &&
              dvUpdates.keysIterator.forall(c.names.contains)
            victims.forall(v => c.names.contains(v.getName)) &&
              dvStable &&
              (added.isEmpty || addedSafe(added))
          }
        }
        if (!canRetry) {
          // abort — but never delete a moved-in file the WINNER's
          // manifest references: a first-commit racer derives its live
          // set from the listing, which can have caught this job's
          // staged-in names
          val winnerNames = cur.map(_.names.toSet).getOrElse(Set.empty)
          movedIn.foreach { p =>
            if (!winnerNames.contains(p.getName)) {
              try fs.delete(p, false) catch { case _: Throwable => () }
            }
          }
          throw new java.util.ConcurrentModificationException(
            s"graft-v2: commit to $target lost the race for version " +
            s"${state.version + 1} — a concurrent writer's changes " +
            "conflict with this operation's read set; it was rolled " +
            "back cleanly, re-run it against the new state")
        }
        state = cur.get
        if (expandVictims) {
          victims = state.names.filterNot(incomingNames.contains)
            .map(new Path(target, _))
        }
      }
    }
    val archive = new Path(target, GraftManifest.ArchiveDir)
    if (victims.nonEmpty) fs.mkdirs(archive)
    victims.foreach { p =>
      if (!fs.rename(p, new Path(archive, p.getName))) {
        throw new java.io.IOException(
          s"graft-v2: version $committed of $target " +
          s"committed, but archiving replaced file $p failed — the " +
          "file is now stranded (invisible to manifest readers); " +
          "move it to .graft-archive/ manually")
      }
    }
    committed
  }
}

private[v2] case class GraftCommitV2(file: String)
  extends WriterCommitMessage

private[v2] case class GraftCommitMultiV2(files: Seq[String])
  extends WriterCommitMessage

class GraftBatchWriteV2(path: String, schema: StructType,
    truncateFirst: Boolean,
    overwriteCond: Option[Filter] = None,
    bucketSpec: Option[graft.sources.BucketLayout] = None,
    widenTo: Option[StructType] = None,
    changelog: Boolean = false,
    partitionSpec: Option[graft.sources.PartitionLayout] = None,
    repartition: Boolean = false,
    statsColumns: Option[Seq[String]] = None)
    extends BatchWrite {

  protected val jobId = UUID.randomUUID().toString.take(8)
  protected val stagingName = s".graft-v2-staging-$jobId"

  protected def collectFiles(
      messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.flatMap {
      case GraftCommitV2(f) => Seq(f)
      case GraftCommitMultiV2(fs0) => fs0
    }

  protected def hconf(): Configuration =
    GraftHadoopConf.pinParquetWrite(
      SparkSession.active.sessionState.newHadoopConf(), schema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val conf = hconf()
    val staging = new Path(new Path(path), stagingName)
    staging.getFileSystem(conf).mkdirs(staging)
    val shipped = GraftHadoopConf.broadcast(conf)
    val base = (bucketSpec, partitionSpec) match {
      case (Some(b), _) =>
        val ords = b.bucketCols.map(schema.fieldIndex).toArray
        val dts = ords.map(schema.fields(_).dataType)
        GraftBucketedWriterFactoryV2(shipped,
          staging.toString, jobId, b.numBuckets, ords, dts)
      case (None, Some(pl)) =>
        val ords = pl.cols.map(schema.fieldIndex).toArray
        val dts = ords.map(schema.fields(_).dataType)
        GraftPartitionedWriterFactoryV2(shipped,
          staging.toString, jobId, pl, ords, dts)
      case (None, None) =>
        GraftWriterFactoryV2(shipped, staging.toString, jobId)
    }
    val gens = GraftGenGuard.compile(path, schema)
    if (gens.isEmpty) base
    else GeneratingWriterFactoryV2(base, schema, gens)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf()
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val staging = new Path(target, stagingName)
    // first partitioned write: persist the layout marker so appends
    // inherit the value-clustered contract and reads prune on the
    // name tokens (idempotent; a marker without tokenized files is
    // harmless, so writing before the renames risks nothing)
    partitionSpec.foreach { pl =>
      if (repartition ||
          graft.sources.PartitionLayout.read(fs, target).isEmpty) {
        graft.sources.PartitionLayout.write(fs, target, pl)
      }
    }
    // skip-stats declaration: marker lands BEFORE the manifest commit
    // below, so THIS commit already records its files' ranges
    statsColumns.foreach { cols =>
      if (SkipStats.read(fs, target) != cols) {
        SkipStats.write(fs, target, cols)
      }
    }
    val committed = messages.flatMap {
      case GraftCommitV2(f) => Seq(f)
      case GraftCommitMultiV2(fs0) => fs0
    }

    def renameIn(): Unit = committed.foreach { f =>
      val src = new Path(f)
      val dst = new Path(target, src.getName)
      if (!fs.rename(src, dst)) {
        throw new java.io.IOException(s"commit rename $src -> $dst failed")
      }
    }

    (truncateFirst, overwriteCond) match {
      case (true, _) =>
        // replace the PINNED live set (manifest CAS fences racers; a
        // first-ever mutation bootstraps v1 = pre-mutation state).
        // Truncate semantics absorb racing appends: a retry re-victims
        // the then-current live set
        val readState = GraftManifest.pinForMutation(fs, target)
        GraftSwapV2.parkAndSwapVersioned(fs, target, readState,
          readState.names.map(new Path(target, _)),
          committed.map(new Path(_)).toSeq, expandVictims = true,
          // a truncate-overwrite REDEFINES the schema; the marker
          // refresh below runs after the commit, so record the new
          // shape explicitly (no stale marker extras in this version)
          commitSchema = Some(schema), op = "overwrite")
      case (false, Some(cond)) =>
        // predicate overwrite: classify from footer stats, rewrite only
        // the boundary files (distributed job, null-safe NOT cond),
        // then swap victims for staged + residue in one park protocol.
        // Position-deleted tables materialize their vectors FIRST: the
        // residue job reads raw parquet and must not resurrect
        // deleted rows of a boundary file
        if (GraftManifest.current(fs, target).exists(_.dvs.nonEmpty)) {
          GraftDeleteV2.materializeDeleteVectors(path)
        }
        // ... and its raw-parquet residue job cannot translate a
        // DROP/RENAME mapping: old files would evaluate the predicate
        // over physical names (wrongly keeping rows) and mixed
        // spellings would union as distinct columns
        if (!GraftCatalog.readMapping(fs, target).isEmpty) {
          throw new UnsupportedOperationException(
            s"graft-v2 REPLACE WHERE: $path carries a DROP/RENAME " +
            "column mapping; run GraftSink.compactClustered (which " +
            "rewrites under logical names and clears the mapping) first")
        }
        val readState = GraftManifest.pinForMutation(fs, target)
        val (_, deleteWhole, rewrite) = graft.sources.PredicateFiles
          .classify(cond, readState.names.map(new Path(target, _)))
        // the residue job binds ONE schema over the whole boundary
        // set; a widened table's old-narrow/new-wide mix would
        // conflict — per-file paths upcast, this one refuses
        GraftDeleteV2.mixedPhysicalType(rewrite).foreach { c =>
          throw new UnsupportedOperationException(
            s"graft-v2 REPLACE WHERE: the boundary files of $path mix " +
            s"physical encodings for widened column '$c'; run " +
            "GraftSink.compactClustered (which rewrites at the " +
            "resolved type) first")
        }
        val residue: Seq[Path] =
          if (rewrite.isEmpty) Seq.empty
          else graft.sources.PredicateFiles.residueJob(
            SparkSession.active, fs, cond, rewrite, staging)
        GraftSwapV2.parkAndSwapVersioned(fs, target, readState,
          deleteWhole ++ rewrite,
          committed.map(new Path(_)).toSeq ++ residue,
          // a racing append is a conflict only if its files MIGHT hold
          // rows this predicate replaces (footer-stats classification)
          addedSafe = GraftSwapV2.appendSafeUnder(target, cond),
          op = "overwrite")
      case _ =>
        // rename-in + manifest advance as ONE commit-lock critical
        // section: a racing first-mutation bootstrap either fully
        // precedes this append (its v1 misses these files, the advance
        // then sees the manifest and commits them) or fully follows it
        // (its listing-derived v1 includes them) — never a torn mix
        GraftManifest.commitLock(fs, target).synchronized {
          // changelog opt-in: bootstrap the version log BEFORE the
          // staged files land, so v1 records the pre-append state and
          // this append commits as its own version (reentrant lock —
          // pinForMutation takes the same per-table mutex)
          if (changelog) GraftManifest.pinForMutation(fs, target)
          renameIn()
          // a WIDENED append's marker refresh runs after this commit —
          // record the widened shape so the version's schema= is right
          GraftManifest.advanceAppend(fs, target,
            committed.map(new Path(_).getName).toSeq,
            commitSchema = widenTo)
        }
    }
    fs.delete(staging, true) // sweeps zombie/speculative attempts
    (truncateFirst, widenTo) match {
      case (true, _) =>
        // a truncate-overwrite REDEFINES the schema: a stale marker
        // (from CREATE or an earlier evolution) must not leak phantom
        // columns into the resolved schema of the new contents — and
        // standing CHECK constraints may reference replaced columns,
        // so the redefinition clears them too
        if (fs.exists(new Path(target, GraftCatalog.SchemaMarker))) {
          GraftDeleteV2.ensureSchemaMarker(fs, target, schema,
            preserveChecks = false)
        }
      case (false, Some(widened)) =>
        // widened append: record the widened schema so the new
        // columns' visibility never depends on footer file ordering;
        // the old files stay live, so the column mapping survives
        GraftDeleteV2.ensureSchemaMarker(fs, target, widened,
          preserveMapping = true)
      case _ => ()
    }
    // auto-maintained bloom indexes ([[BloomIndex.autoExtend]]): the
    // freshly committed files get their sidecars NOW, so an indexed
    // table never carries an un-indexed tail between manual builds.
    // One exists-RPC when the table has no index; never fails the
    // commit
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(s =>
      BloomIndex.autoExtend(s, path))
    // opt-in post-commit small-file compaction (append path only —
    // overwrites already rewrote their victims at target size)
    if (!truncateFirst && overwriteCond.isEmpty) {
      GraftAutoCompact.maybe(path)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf()
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    fs.delete(new Path(target, stagingName), true)
  }
}

case class GraftBucketedWriterFactoryV2(
    conf: Broadcast[SerializableConfiguration], stagingDir: String,
    jobId: String, numBuckets: Int,
    bucketOrds: Array[Int],
    bucketTypes: Array[org.apache.spark.sql.types.DataType])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftBucketedDataWriterV2(conf.value.value, stagingDir, jobId,
      partitionId, taskId, numBuckets, bucketOrds, bucketTypes)
}

/** Splits each task's rows into per-bucket parquet files named with
  * the `_<bucketId>` suffix, so a V2 INSERT preserves the table's
  * bucketed layout. With the write's clustered distribution each task
  * sees few distinct bucket ids, so the open-writer map stays small;
  * correctness never depends on it (any distribution only changes the
  * file count). */
class GraftBucketedDataWriterV2(conf: Configuration, stagingDir: String,
    jobId: String, partitionId: Int, taskId: Long, numBuckets: Int,
    bucketOrds: Array[Int],
    bucketTypes: Array[org.apache.spark.sql.types.DataType])
    extends DataWriter[InternalRow] {

  private val writers =
    scala.collection.mutable.Map.empty[Int, ParquetWriter[InternalRow]]
  private val files = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def writerFor(bucket: Int): ParquetWriter[InternalRow] =
    writers.getOrElseUpdate(bucket, {
      val out = new Path(f"$stagingDir%s/part-00000-$jobId%s-" +
        f"$partitionId%d-$taskId%d_$bucket%05d.c000.snappy.parquet")
      files += out
      new InternalRowParquetBuilder(HadoopOutputFile.fromPath(out, conf))
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    })

  private var closed = false
  private def closeOnce(): Unit =
    if (!closed) { closed = true; writers.values.foreach(_.close()) }

  override def write(record: InternalRow): Unit =
    writerFor(graft.sources.BucketLayout.rowBucket(
      record, bucketOrds, bucketTypes, numBuckets)).write(record)

  override def commit(): WriterCommitMessage = {
    closeOnce()
    GraftCommitMultiV2(files.map(_.toString).toSeq)
  }

  override def abort(): Unit = {
    try closeOnce() catch { case _: Throwable => () }
    val fs = new Path(stagingDir).getFileSystem(conf)
    files.foreach { p =>
      try fs.delete(p, false) catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = closeOnce()
}

case class GraftWriterFactoryV2(conf: Broadcast[SerializableConfiguration],
    stagingDir: String, jobId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriterV2(conf.value.value, stagingDir, jobId, partitionId,
      taskId)
}

case class GraftPartitionedWriterFactoryV2(
    conf: Broadcast[SerializableConfiguration],
    stagingDir: String, jobId: String,
    layout: graft.sources.PartitionLayout,
    partOrds: Array[Int],
    partTypes: Array[org.apache.spark.sql.types.DataType])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftPartitionedDataWriterV2(conf.value.value, stagingDir, jobId,
      partitionId, taskId, layout, partOrds, partTypes)
}

/** Hidden-partitioning writer ([[graft.sources.PartitionLayout]]):
  * rolls to a new file whenever the partition-value tuple changes, so
  * each data file holds exactly one value combination and carries its
  * per-column digests in the `.pv-…` name fragment. The write's
  * required ordering makes value changes contiguous — ONE open writer
  * per task at any partition-value cardinality (vs the bucketed
  * writer's per-bucket map, bounded by numBuckets). If an unsorted
  * stream ever reached this writer it would only create more,
  * smaller files — every file's tokens still match its rows. */
class GraftPartitionedDataWriterV2(conf: Configuration,
    stagingDir: String, jobId: String, partitionId: Int, taskId: Long,
    layout: graft.sources.PartitionLayout,
    partOrds: Array[Int],
    partTypes: Array[org.apache.spark.sql.types.DataType])
    extends DataWriter[InternalRow] {

  private var current: ParquetWriter[InternalRow] = null
  private var currentTokens: Seq[String] = null
  private var seq = 0
  private val files = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def tokensOf(row: InternalRow): Seq[String] = {
    val out = new Array[String](partOrds.length)
    var i = 0
    while (i < partOrds.length) {
      out(i) =
        if (row.isNullAt(partOrds(i))) {
          graft.sources.PartitionLayout.NullToken
        } else {
          graft.sources.PartitionLayout.token(
            graft.sources.PartitionLayout.canonicalInternal(
              row.get(partOrds(i), partTypes(i)), partTypes(i)))
        }
      i += 1
    }
    out.toSeq
  }

  override def write(record: InternalRow): Unit = {
    val t = tokensOf(record)
    if (current == null || t != currentTokens) {
      if (current != null) current.close()
      currentTokens = t
      val frag = graft.sources.PartitionLayout.nameFragment(layout, t)
      val out = new Path(f"$stagingDir%s/part-00000-$jobId%s-" +
        f"$partitionId%d-$taskId%d.$frag%s.c$seq%03d.snappy.parquet")
      seq += 1
      files += out
      current = new InternalRowParquetBuilder(
        HadoopOutputFile.fromPath(out, conf))
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    }
    current.write(record)
  }

  private var closed = false
  private def closeOnce(): Unit =
    if (!closed) { closed = true; if (current != null) current.close() }

  override def commit(): WriterCommitMessage = {
    closeOnce()
    GraftCommitMultiV2(files.map(_.toString).toSeq)
  }

  override def abort(): Unit = {
    try closeOnce() catch { case _: Throwable => () }
    val fs = new Path(stagingDir).getFileSystem(conf)
    files.foreach { p =>
      try fs.delete(p, false) catch { case _: Throwable => () }
    }
  }

  override def close(): Unit = closeOnce()
}

/** The streaming face of the V2 write: executors write each epoch's
  * parts into a per-epoch staging directory (attempt-unique names, so
  * speculative twins never collide), and `commit(epochId, …)`
  * publishes them as ONE manifest version whose meta records
  * `stream.<app>=<epochId>` — the idempotence key. A replayed epoch
  * (crash between sink commit and checkpoint write) finds its id
  * already recorded and drops its staged files instead of appending
  * twice. Published names are DETERMINISTIC
  * (`stream-<app>-<epoch>-<i>.parquet`), so a crash between the
  * rename loop and the manifest CAS leaves identifiable residue that
  * the replay sweeps before re-publishing. */
class GraftStreamingWriteV2(path: String, schema: StructType,
    rawAppId: String)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming
    .StreamingDataWriterFactory

  private val app = Option(rawAppId).filter(_.nonEmpty).getOrElse("q")
    .replaceAll("[^A-Za-z0-9_.-]", "_")
  private def key = s"stream.$app"
  private def prefix(epochId: Long) = f"stream-$app-$epochId%08d-"

  private def hconf(): Configuration =
    GraftHadoopConf.pinParquetWrite(
      SparkSession.active.sessionState.newHadoopConf(), schema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStreamingWriterFactoryV2(
      GraftHadoopConf.broadcast(hconf()), path, app,
      GraftCheckGuard.compile(path, schema),
      GraftGenGuard.compile(path, schema), schema)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf()
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val staged = messages.flatMap {
      case GraftCommitV2(f) => Seq(f)
      case GraftCommitMultiV2(fs0) => fs0
    }.sorted
    val staging = new Path(target,
      GraftStreamingWriteV2.stagingName(app, epochId))
    def recordedEpoch: Option[Long] =
      GraftManifest.lastMeta(fs, target, key)
        .flatMap(v => scala.util.Try(v.toLong).toOption)
    // this epoch's deterministic names from a crashed earlier attempt:
    // published into the root but never committed into any version.
    // "Live" must mean recorded in ANY retained manifest version, not
    // just the current head: on an epoch replay after a later commit
    // already removed this epoch's files from the head snapshot (a
    // post-epoch auto-compaction, a DELETE, an overwrite), a
    // head-only check would physically delete files that older
    // retained — possibly tagged — versions still reference,
    // bypassing vacuum retention and breaking time travel.
    def sweepResidue(): Unit = {
      val live = GraftManifest.versions(fs, target).flatMap { v =>
        scala.util.Try(GraftManifest.read(fs, target, v).names)
          .getOrElse(Seq.empty)
      }.toSet
      if (fs.exists(target)) fs.listStatus(target).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith(prefix(epochId)) &&
            !live.contains(n)) {
          fs.delete(st.getPath, false)
        }
      }
    }
    GraftManifest.commitLock(fs, target).synchronized {
      // bootstrap: v1 = the pre-stream state, so staged files are
      // invisible until their committing version
      if (GraftManifest.current(fs, target).isEmpty) {
        GraftManifest.tryCommit(fs, target, 0L,
          GraftManifest.listingNames(fs, target))
      }
      if (recordedEpoch.exists(_ >= epochId)) {
        // replay of an already-committed epoch: exactly-once no-op
        fs.delete(staging, true)
        sweepResidue()
        return
      }
      sweepResidue()
      val names = staged.zipWithIndex.map { case (f, i) =>
        val dst = new Path(target, f"${prefix(epochId)}$i%05d.parquet")
        if (!fs.rename(new Path(f), dst)) {
          throw new java.io.IOException(
            s"graft-v2 streaming sink: publish rename to $dst failed")
        }
        dst.getName
      }.toSeq
      fs.delete(staging, true)
      GraftManifest.commitAppend(fs, target, names,
        extraMeta = Seq(s"$key=$epochId"))
    }
    // the epoch is durable; a streaming sink is the canonical
    // small-file generator, so the opt-in compactor runs here too
    GraftAutoCompact.maybe(path)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(hconf())
    fs.delete(new Path(target,
      GraftStreamingWriteV2.stagingName(app, epochId)), true)
  }
}

object GraftStreamingWriteV2 {
  private[v2] def stagingName(app: String, epochId: Long): String =
    f".graft-v2-stream-$app-$epochId%08d"
}

/** Opt-in post-commit auto-compaction (the Delta auto-compact
  * pattern): after an append commits, if the table now holds at least
  * `spark.graft.autoCompact.minFiles` live data files smaller than
  * `spark.graft.autoCompact.smallBytes` (default 32 MiB), run
  * [[graft.sources.GraftSink.compact]] inline. Default OFF
  * (`minFiles` unset/0) — compaction cost lands on the writing query,
  * which is exactly what an operator opts into to keep a streaming
  * sink's epoch-per-file output from rotting into thousands of tiny
  * files between maintenance windows. The rewrite commits as
  * `op=maintenance`: invisible to the change feed, transparent to
  * time travel, swept by vacuum like any other superseded version.
  * Bucketed and column-mapped tables skip (their compaction is
  * `compactClustered`, an explicit operator decision); any failure is
  * logged, never fails the already-durable write. */
private[v2] object GraftAutoCompact {
  val MinFilesConf = "spark.graft.autoCompact.minFiles"
  val SmallBytesConf = "spark.graft.autoCompact.smallBytes"

  def maybe(path: String): Unit =
    SparkSession.getActiveSession.foreach { spark =>
      val minFiles =
        try spark.conf.get(MinFilesConf, "0").toInt
        catch { case _: NumberFormatException => 0 }
      if (minFiles > 0) {
        try {
          val target = new Path(path)
          val fs = target.getFileSystem(GraftHadoopConf.sessionConf())
          if (graft.sources.BucketLayout.read(fs, target).isEmpty &&
              GraftCatalog.readMapping(fs, target).isEmpty) {
            val smallBytes = spark.conf
              .get(SmallBytesConf, (32L * 1024 * 1024).toString).toLong
            val live = GraftManifest.current(fs, target)
              .map(_.names.toSet)
            val smallCount = fs.listStatus(target).count { st =>
              st.isFile &&
                graft.sources.GraftSink.isDataPart(st.getPath.getName) &&
                live.forall(_.contains(st.getPath.getName)) &&
                st.getLen < smallBytes
            }
            if (smallCount >= minFiles) {
              graft.sources.GraftSink.compact(spark, path, smallBytes)
            }
          }
        } catch {
          case e: Exception =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"graft-v2 auto-compact of $path skipped: ${e.getMessage}")
        }
      }
    }
}

/** CHECK-constraint enforcement for the STREAMING V2 write. The
  * analyzer's catalog-side enforcement (`Table.constraints()` +
  * `ResolveTableConstraints`) covers batch V2 write plans only —
  * `WriteToStream` never passes through that rule, so a
  * `writeStream.toTable(...)` on a constrained table used to land
  * violating rows unvalidated (the streaming twin of the V1
  * path-write hole closed in [[graft.sources.GraftSource]]). The
  * guard: the table's enforced `#check=` predicates are parsed and
  * resolved against the write schema ON THE DRIVER at query start
  * (an unresolvable predicate fails the query, not a task), and each
  * data writer evaluates the BOUND predicates per row before the row
  * reaches parquet — NULL passes, per ANSI CHECK semantics. The set
  * is re-read each time the engine requests a writer factory (once
  * per micro-batch), so a concurrent ADD CONSTRAINT applies from the
  * next epoch. */
private[v2] object GraftCheckGuard {
  /** `(name, predicateSql, bound expression)` per enforced check. */
  def compile(path: String, schema: StructType)
      : Seq[(String, String, org.apache.spark.sql.catalyst
        .expressions.Expression)] = {
    val p = new Path(path)
    val checks = scala.util.Try(GraftCatalog.readChecks(
      p.getFileSystem(GraftHadoopConf.sessionConf()), p))
      .getOrElse(Nil).filter(_.enforced)
    if (checks.isEmpty) return Nil
    val spark = SparkSession.active
    // resolve through a throwaway analyzed Filter over an empty
    // relation with the write schema — full analyzer semantics
    // (case sensitivity, implicit casts, function resolution) with
    // zero hand-rolled name matching
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    checks.map { c =>
      val analyzed = empty
        .filter(org.apache.spark.sql.functions.expr(c.predicateSql))
        .queryExecution.analyzed
      val (cond, out) = analyzed match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          (f.condition, f.child.output)
        case other => throw new IllegalStateException(
          s"graft-v2: CHECK '${c.name}' did not analyze to a Filter: " +
          other.nodeName)
      }
      // NULL passes, per ANSI CHECK semantics: the shipped predicate
      // is `coalesce(cond, true)`, so only a definite FALSE raises
      (c.name, c.predicateSql,
        org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReference(
            org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
              cond,
              org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)),
            out))
    }
  }
}

/** Per-epoch staging writers: same parquet task writer as the batch
  * path, rooted in the epoch's staging directory; rows pass the
  * [[GraftCheckGuard]] predicates (compiled once per writer) before
  * they reach parquet. */
case class GraftStreamingWriterFactoryV2(
    conf: Broadcast[SerializableConfiguration], path: String, app: String,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst
      .expressions.Expression)] = Nil,
    gens: Seq[GraftGenGuard.Gen] = Nil,
    schema: StructType = new StructType())
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val staging = new Path(new Path(path),
      GraftStreamingWriteV2.stagingName(app, epochId))
    val hconf = conf.value.value
    staging.getFileSystem(hconf).mkdirs(staging)
    val inner = new GraftDataWriterV2(hconf, staging.toString,
      f"$app-$epochId%08d", partitionId, taskId)
    val checked =
      if (checks.isEmpty) inner
      else new ValidatingDataWriterV2(inner, checks)
    // generation OUTERMOST: CHECKs then validate the computed values
    if (gens.isEmpty) checked
    else new GeneratingDataWriterV2(checked, schema, gens)
  }
}

/** Wraps a data writer with per-row CHECK evaluation: a FALSE
  * predicate raises (failing the epoch before anything commits); a
  * NULL predicate passes, per ANSI CHECK semantics. */
private[v2] class ValidatingDataWriterV2(
    inner: DataWriter[InternalRow],
    checks: Seq[(String, String, org.apache.spark.sql.catalyst
      .expressions.Expression)])
    extends DataWriter[InternalRow] {
  private val compiled = checks.map { case (name, sql, e) =>
    (name, sql,
      org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
  }
  override def write(row: InternalRow): Unit = {
    compiled.foreach { case (name, sql, p) =>
      if (!p.eval(row)) {
        throw new RuntimeException(
          s"graft-v2 streaming sink: CHECK constraint '$name' ($sql) " +
          "violated")
      }
    }
    inner.write(row)
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** GENERATED-column enforcement for the V2 writes (batch and
  * streaming). Spark validates `GENERATED ALWAYS AS (expr)` clauses at
  * CREATE (capability-gated) but leaves the VALUES to the source, so
  * the write path does what the marker's `#genexpr=` lines say: an
  * omitted / NULL value is COMPUTED from the row (the catalog gives
  * generated columns an implicit NULL default so `INSERT INTO t (a)`
  * analyzes — the NULL is the "absent" placeholder the writer fills),
  * and an explicit value is VALIDATED against the expression — a
  * mismatch fails the write before anything commits, Delta-style.
  * Expressions resolve against the write schema ON THE DRIVER (full
  * analyzer semantics, like [[GraftCheckGuard]]); writers evaluate the
  * bound forms per row. A generation expression that itself evaluates
  * to NULL stays NULL — indistinguishable from "absent", which is the
  * documented trade of the NULL placeholder. */
private[v2] object GraftGenGuard {
  import org.apache.spark.sql.catalyst.expressions._

  /** One generated column, bound to the write schema. */
  case class Gen(name: String, ordinal: Int, sql: String,
      compute: Expression, validate: Expression)

  def compile(path: String, schema: StructType): Seq[Gen] = {
    val p = new Path(path)
    val gens = scala.util.Try(GraftCatalog.readGens(
      p.getFileSystem(GraftHadoopConf.sessionConf()), p))
      .getOrElse(Map.empty[String, String])
    if (gens.isEmpty) return Nil
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    gens.toSeq.sortBy(_._1).flatMap { case (c, sql) =>
      val ord = schema.fieldNames.indexOf(c)
      // a projection-narrowed write without the column has nothing to
      // fill or validate
      if (ord < 0) None
      else {
        val analyzed = empty
          .select(org.apache.spark.sql.functions.expr(sql))
          .queryExecution.analyzed
        val (e0, out) = analyzed match {
          case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
            (pr.projectList.head match {
              case a: Alias => a.child
              case other => other
            }, pr.child.output)
          case other => throw new IllegalStateException(
            s"graft-v2: generation expression for '$c' did not " +
            s"analyze to a Project: ${other.nodeName}")
        }
        val field = schema.fields(ord)
        val casted =
          if (e0.dataType == field.dataType) e0
          else Cast(e0, field.dataType,
            Option(spark.sessionState.conf.sessionLocalTimeZone))
        val bound = BindReferences.bindReference(casted, out)
        val ref = BoundReference(ord, field.dataType, field.nullable)
        Some(Gen(c, ord, sql, bound,
          Or(IsNull(ref), EqualNullSafe(ref, bound))))
      }
    }
  }
}

/** Wraps a data writer with generated-column fill/validate; sits
  * OUTSIDE any CHECK wrapper so constraints see the computed values. */
private[v2] class GeneratingDataWriterV2(
    inner: DataWriter[InternalRow], schema: StructType,
    gens: Seq[GraftGenGuard.Gen]) extends DataWriter[InternalRow] {
  private val validators = gens.map(g =>
    org.apache.spark.sql.catalyst.expressions.Predicate.create(g.validate))
  private val dts = schema.fields.map(_.dataType)

  override def write(row: InternalRow): Unit = {
    var fills: List[(Int, Any)] = Nil
    var i = 0
    while (i < gens.length) {
      val g = gens(i)
      if (row.isNullAt(g.ordinal)) {
        val v = g.compute.eval(row)
        if (v != null) fills = (g.ordinal, v) :: fills
      } else if (!validators(i).eval(row)) {
        throw new RuntimeException(
          s"graft-v2: generated column '${g.name}' (ALWAYS AS " +
          s"${g.sql}) received an explicit value that does not match " +
          "its generation expression; omit the column to have it " +
          "computed")
      }
      i += 1
    }
    if (fills.isEmpty) inner.write(row)
    else {
      val vals = new Array[Any](dts.length)
      var j = 0
      while (j < dts.length) {
        vals(j) = if (row.isNullAt(j)) null else row.get(j, dts(j))
        j += 1
      }
      fills.foreach { case (o, v) => vals(o) = v }
      inner.write(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(vals))
    }
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Factory wrapper applying [[GeneratingDataWriterV2]] to whatever
  * writer the wrapped factory builds (plain or bucketed). */
private[v2] case class GeneratingWriterFactoryV2(
    inner: DataWriterFactory, schema: StructType,
    gens: Seq[GraftGenGuard.Gen]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GeneratingDataWriterV2(
      inner.createWriter(partitionId, taskId), schema, gens)
}

/** One parquet part per task attempt; attempt-unique names keep
  * speculative duplicates from colliding — only the committed
  * attempt's file name travels back to the driver. */
class GraftDataWriterV2(conf: Configuration, stagingDir: String,
    jobId: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val out =
    new Path(s"$stagingDir/part-$jobId-$partitionId-$taskId.parquet")
  private val writer: ParquetWriter[InternalRow] =
    new InternalRowParquetBuilder(HadoopOutputFile.fromPath(out, conf))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  private var closed = false
  private def closeOnce(): Unit =
    if (!closed) { closed = true; writer.close() }

  override def write(record: InternalRow): Unit = writer.write(record)

  override def commit(): WriterCommitMessage = {
    closeOnce()
    GraftCommitV2(out.toString)
  }

  override def abort(): Unit = {
    try closeOnce() catch { case _: Throwable => () }
    try out.getFileSystem(conf).delete(out, false)
    catch { case _: Throwable => () }
  }

  override def close(): Unit = closeOnce()
}
