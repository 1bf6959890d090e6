package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-commit live-file manifests: SNAPSHOT ISOLATION and TIME TRAVEL
  * for graft tables.
  *
  * The backup-park swap ([[GraftSwapV2]]) already guarantees readers
  * see complete-old or complete-new contents ON FAILURE; the manifest
  * extends that guarantee to CONCURRENCY — the engine's answer, under
  * simultaneous writers, to the reference's all-or-nothing save
  * (ExtJdbcUtils.scala:70-109, which rode the database's transaction
  * for the same effect). Design, all public-knowledge patterns (the
  * log-of-snapshots idea every open table format uses):
  *
  *  - `<table>/.graft-manifests/v0000000001.txt` … — one file per
  *    committed version, holding the table's live data-file NAMES.
  *    Version = filename; the latest manifest IS the table state.
  *  - `<table>/.graft-archive/` — files a commit removed from the live
  *    set are MOVED here, not deleted, so any pinned snapshot can
  *    still open every file it references (names are job-unique, so
  *    archived names never collide).
  *  - Commit = compare-and-swap on the next version number: a writer
  *    that read version N may only create N+1. Two racers both staging
  *    against N → exactly one creates N+1; the loser aborts cleanly
  *    (its staged output is swept, live data untouched). Pure appends
  *    commute, so an append loser re-reads and retries instead.
  *  - Reads resolve the live set through the latest manifest (or a
  *    `versionAsOf` one), each name resolving to the table root or,
  *    if a later commit archived it, to `.graft-archive/` — so a scan
  *    planned at version N returns exactly version N's rows no matter
  *    what DML lands mid-query.
  *
  * A table gains its first manifest at its first V2 commit (version 1
  * = listing-derived state after that commit); directories written
  * only by plain parquet/V1 paths stay manifest-free and read exactly
  * as before. V1 writers ([[graft.sources.GraftSink]]) refresh the
  * manifest after their own commit when one exists, so the two
  * write stacks stay consistent.
  *
  * CAS atomicity: content is staged to a temp name and published into
  * the version slot by [[publishIfAbsent]], which delegates to the
  * store class's [[CommitStore]] — a kernel-atomic hard link on local
  * FS, rename-if-absent on HDFS-semantics stores, and an external-CAS
  * claim + recoverable copy ([[ExternalCasCommit]]) on S3-class
  * object stores that have neither primitive — so two PROCESSES
  * racing the same version get exactly one winner on every store
  * class; the JVM-wide lock remains as the in-driver fast path.
  */
object GraftManifest {

  val Dir = ".graft-manifests"
  val ArchiveDir = ".graft-archive"
  private val Header = "graft-manifest-1"

  /** Every `CheckpointEvery`-th version is written SELF-CONTAINED
    * (full name list); versions in between may be DELTAS against
    * their predecessor (`base=<v>` + `add=`/`rm=` lines). This is
    * what keeps commit metadata O(changed files) instead of O(table
    * files): at 100 TB a table holds millions of data files, and a
    * full-list manifest would make every single-file append rewrite
    * ~100 MB of names — the delta log writes KBs, and reconstruction
    * folds a chain of at most `CheckpointEvery - 1` deltas onto the
    * nearest checkpoint (the Delta-Lake/Iceberg log + checkpoint
    * shape, re-expressed over this single-file-per-version CAS). */
  private val CheckpointEvery = 16L

  /** One committed table state: the data-file names live at `version`,
    * `dvs` maps a data-file name to its deletion-vector sidecar name
    * under `.graft-dv/` ([[DeleteVectors]]) — rows of that file at
    * those ordinals are deleted AT THIS VERSION. `fstats` carries the
    * per-file column ranges of DECLARED skip columns
    * ([[SkipStats]]) — immutable per file, folded along delta chains
    * like the names. */
  final case class Snapshot(version: Long, names: Seq[String],
      dvs: Map[String, String] = Map.empty,
      fstats: Map[String, Map[String, SkipStats.ColStat]] = Map.empty)

  private val lock = new Object

  /** Per-table commit mutex: every commit CRITICAL SECTION (read state
    * → physical renames → CAS → archive) runs under this, so a
    * listing-derived commit (V1 sink refresh, first-manifest
    * bootstrap) can never capture another commit's torn intermediate
    * state (staged-in files before their CAS, un-archived victims
    * after it). Same single-JVM boundary as the CAS itself; the path
    * is qualified so every spelling of a table dir maps to one lock. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def commitLock(fs: FileSystem, table: Path): Object =
    tableLocks.computeIfAbsent(
      fs.makeQualified(table).toString, _ => new Object)

  /** The `.graft-archive/` twin of a table-root file path (None for a
    * path already in the archive) — THE definition of where a commit
    * parks replaced files; every reader-side fallback resolves
    * through it. */
  def archiveTwin(p: Path): Option[Path] =
    Option(p.getParent).filter(_.getName != ArchiveDir)
      .map(par => new Path(new Path(par, ArchiveDir), p.getName))

  /** Reverse of [[archiveTwin]]: the table-root (logical) spelling of
    * a path physically served from `.graft-archive/`; identity for any
    * other path. `_file` values are produced through this so a pinned
    * snapshot reports the same provenance before and after a later
    * commit archives the file, and captured values keep matching
    * residual `_file` predicates — archive resolution stays purely
    * physical/internal. */
  def logicalPath(p: Path): Path =
    Option(p.getParent).filter(_.getName == ArchiveDir)
      .flatMap(a => Option(a.getParent))
      .map(root => new Path(root, p.getName))
      .getOrElse(p)

  private def manifestDir(table: Path) = new Path(table, Dir)
  private def versionPath(table: Path, v: Long) =
    new Path(manifestDir(table), f"v$v%010d.txt")
  /** The crash-recoverable twin a retention sweep PUBLISHES before
    * swapping a delta manifest for its self-contained rewrite: the
    * `.full` file only ever appears complete (it is renamed into
    * existence), so any reader finding it may finish the swap. */
  private def fullTwinPath(table: Path, v: Long) =
    new Path(manifestDir(table), f"v$v%010d.txt.full")
  private val VersionName = "v(\\d{10})\\.txt".r
  private val VersionFullName = "v(\\d{10})\\.txt\\.full".r

  /** Finish a crash-interrupted self-contained swap for `v`, if one
    * is pending: a sweep that died between deleting `<v>.txt` and
    * renaming the published `<v>.txt.full` twin over it must not
    * make the version (or any delta chained onto it) unreadable.
    * Recovery NEVER deletes a live `<v>.txt` — only the retention
    * sweep (serialized by the per-table commit lock) does; if the
    * delta still exists its base chain does too (drops happen after
    * every rewrite in the sweep), so it stays authoritative and the
    * stale twin is simply left for the next sweep. Racing recoverers
    * are harmless: whichever rename lands, the surviving file holds
    * the same snapshot. */
  private def recoverTwin(fs: FileSystem, table: Path, v: Long): Unit = {
    try {
      val p = versionPath(table, v)
      if (!fs.exists(p)) {
        val full = fullTwinPath(table, v)
        if (fs.exists(full)) fs.rename(full, p)
      }
    } catch {
      case e: java.io.IOException =>
        // deliberately non-fatal (a racing recoverer may have won),
        // but a PERSISTENT filesystem error here would otherwise
        // surface later as a misleading "no version v" — leave a trace
        System.err.println(s"[graft-v2] twin recovery for v$v under " +
          s"$table suppressed: $e")
    }
  }

  /** All committed versions, ascending (empty when the table has no
    * manifest yet). On stores with an external commit service, first
    * let the store finish any claimed-but-unmaterialized slot a
    * crashed writer left ([[CommitStore.beforeRead]]) — a committed
    * version must never be invisible to a listing. */
  def versions(fs: FileSystem, table: Path): Seq[Long] = {
    val d = manifestDir(table)
    if (!fs.exists(d)) Seq.empty
    else {
      CommitStores.forFs(fs).beforeRead(fs, d)
      // a version mid-self-contained-swap may exist only as its
      // `.full` twin — it is still committed and MUST stay visible
      // (an invisible head would let the next commit reuse its slot)
      fs.listStatus(d).toSeq.flatMap(_.getPath.getName match {
        case VersionName(v) => Some(v.toLong)
        case VersionFullName(v) => Some(v.toLong)
        case _ => None
      }).distinct.sorted
    }
  }

  /** The latest committed snapshot, if any manifest exists. */
  def current(fs: FileSystem, table: Path): Option[Snapshot] =
    versions(fs, table).lastOption.map(v => read(fs, table, v))

  def read(fs: FileSystem, table: Path, version: Long): Snapshot = {
    val p = versionPath(table, version)
    // a retention sweep (or its crash) may have left this version as
    // its published `.full` twin — finish the swap before declaring
    // anything missing
    recoverTwin(fs, table, version)
    // a retention sweep may be mid-flight re-materializing a delta
    // version as self-contained — a bounded retry masks that
    // microscopic window before declaring the version gone
    var waits = 0
    while (!fs.exists(p) && waits < 3) {
      Thread.sleep(50)
      recoverTwin(fs, table, version)
      waits += 1
    }
    if (!fs.exists(p)) {
      throw new IllegalArgumentException(
        s"graft-v2: $table has no version $version" +
        (versions(fs, table) match {
          case Seq() => " (the table has no manifests — versions begin " +
            "at its first graft-v2 commit)"
          case vs => s" (committed versions: ${vs.mkString(", ")})"
        }))
    }
    val in = fs.open(p)
    val lines =
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(0, bytes)
        new String(bytes, "UTF-8").split("\n").toSeq
          .map(_.trim).filter(_.nonEmpty)
      } finally in.close()
    if (lines.headOption.forall(_ != Header)) {
      throw new IllegalStateException(
        s"graft-v2: unreadable manifest $p (bad header)")
    }
    // meta lines (`key=value`, e.g. the commit timestamp) are not
    // file names; part names never contain '=' so the split is safe
    def dvPairs(prefix: String): Seq[(String, String)] =
      lines.tail.filter(_.startsWith(prefix)).flatMap { l =>
        val v = l.stripPrefix(prefix)
        val i = v.lastIndexOf(':')
        if (i <= 0) None
        else Some(v.substring(0, i) -> v.substring(i + 1))
      }
    val fullDvs = dvPairs("dv=").toMap
    val ownFstats: Map[String, Map[String, SkipStats.ColStat]] =
      lines.tail.filter(_.startsWith("fstat="))
        .flatMap(SkipStats.parseLine)
        .groupBy(_._1)
        .map { case (f, xs) => f -> xs.map(x => x._2 -> x._3).toMap }
    lines.tail.find(_.startsWith("base=")) match {
      case Some(baseLine) =>
        // DELTA version: fold names onto the base snapshot (chain
        // length is bounded by CheckpointEvery). The dv mapping is
        // FULL in the legacy encoding; under `dvdelta=1` it too folds
        // onto the parent (`dvadd=`/`dvrm=` lines) — what keeps a
        // point-delete commit O(changed masks) on a DV-heavy table
        val base = baseLine.stripPrefix("base=").toLong
        val parent = read(fs, table, base)
        val adds = lines.tail.filter(_.startsWith("add="))
          .map(_.stripPrefix("add="))
        val rms = lines.tail.filter(_.startsWith("rm="))
          .map(_.stripPrefix("rm=")).toSet
        val names = (parent.names.filterNot(rms) ++ adds).sorted
        val dvs =
          if (lines.tail.contains("dvdelta=1")) {
            val dvRms = lines.tail.filter(_.startsWith("dvrm="))
              .map(_.stripPrefix("dvrm=")).toSet
            parent.dvs -- dvRms ++ dvPairs("dvadd=")
          } else fullDvs
        // skip stats fold like the names: a delta version carries
        // only its NEW files' lines (stats are immutable per file);
        // the parent's survive for the files still present
        val nameSet = names.toSet
        val fstats =
          if (lines.tail.contains("fstatdelta=1")) {
            parent.fstats.filter { case (n, _) => nameSet.contains(n) } ++
              ownFstats
          } else ownFstats
        Snapshot(version, names, dvs, fstats)
      case None =>
        Snapshot(version, lines.tail.filterNot(_.contains('=')),
          fullDvs, ownFstats)
    }
  }

  /** The `base=` version a DELTA manifest folds onto (None for a
    * self-contained version). */
  private def baseOf(fs: FileSystem, table: Path,
      version: Long): Option[Long] =
    metaLine(fs, table, version, "base")
      .flatMap(v => scala.util.Try(v.toLong).toOption)

  /** Rewrite a DELTA version file as self-contained (same snapshot,
    * same meta — only the encoding changes). Runs under the per-table
    * commit lock during a retention sweep, while its base chain still
    * exists; the delete+rename replace window is masked by [[read]]'s
    * bounded retry. */
  private def rewriteSelfContained(fs: FileSystem, table: Path,
      v: Long): Unit = {
    val snap = read(fs, table, v) // resolves the chain while it lives
    val p = versionPath(table, v)
    val in = fs.open(p)
    val raw =
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(0, bytes)
        new String(bytes, "UTF-8").split("\n").toSeq
          .map(_.trim).filter(_.nonEmpty)
      } finally in.close()
    // delta-encoded dv and fstat lines resolve against the dying base
    // chain — re-emit the FULL sets from the resolved snapshot
    val meta = raw.tail.filter(l => l.contains('=') &&
      !l.startsWith("base=") && !l.startsWith("add=") &&
      !l.startsWith("rm=") && !l.startsWith("dv=") &&
      !l.startsWith("dvadd=") && !l.startsWith("dvrm=") &&
      l != "dvdelta=1" &&
      !l.startsWith("fstat=") && l != "fstatdelta=1") ++
      snap.dvs.toSeq.sorted.map { case (n, d0) => s"dv=$n:$d0" } ++
      SkipStats.renderLines(snap.fstats)
    val tmp = new Path(manifestDir(table),
      s".tmp-full-${UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    try out.write((Header +: (meta ++ snap.names.distinct.sorted))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // crash-recoverable ordering: PUBLISH the complete twin as
    // `<v>.txt.full` first, THEN delete the delta and swap the twin
    // into place. A crash at any point leaves the delta, the twin, or
    // both — never neither — and [[recoverTwin]] (run by read(),
    // versions() keeps twin-only versions listed) finishes the swap.
    // The old delete-then-rename ordering had a window that destroyed
    // the version file outright, severing every delta chained on it.
    val full = fullTwinPath(table, v)
    if (fs.exists(full)) fs.delete(full, false) // stale equivalent twin
    if (!fs.rename(tmp, full)) {
      throw new java.io.IOException(
        s"graft-v2: could not publish self-contained twin $full")
    }
    fs.delete(p, false) // a racing recoverer may have already swapped
    if (!fs.rename(full, p) && !fs.exists(p)) {
      throw new java.io.IOException(
        s"graft-v2: could not re-materialize manifest $p")
    }
  }

  private def metaLine(fs: FileSystem, table: Path, version: Long,
      key: String): Option[String] = {
    val p = versionPath(table, version)
    if (!fs.exists(p)) recoverTwin(fs, table, version)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(0, bytes)
      new String(bytes, "UTF-8").split("\n").toSeq.map(_.trim)
        .find(_.startsWith(s"$key="))
        .map(_.stripPrefix(s"$key="))
    } finally in.close()
  }

  /** Commit wall-clock of `version` (epoch millis): the recorded
    * `ts=` line, falling back to the manifest FILE's own mtime for
    * versions committed before the line existed — every version stays
    * reachable by TIMESTAMP AS OF. */
  def commitTimeMillis(fs: FileSystem, table: Path,
      version: Long): Option[Long] =
    metaLine(fs, table, version, "ts")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .orElse(scala.util.Try(
        fs.getFileStatus(versionPath(table, version))
          .getModificationTime).toOption)

  /** The operation class that committed `version` (`op=` meta line):
    * `append` / `overwrite` / `delete` / `update` / `merge` /
    * `maintenance` (compact, Z-order, DV materialization — file
    * reshuffles with NO logical row change) / `write` (a V1-side save
    * whose shape the manifest only observed). None for versions
    * committed before the line existed. What the change data feed
    * ([[GraftCdf]]) classifies versions by. */
  def opOf(fs: FileSystem, table: Path, version: Long): Option[String] =
    metaLine(fs, table, version, "op")

  /** The table schema AT `version` (`schema=` meta line, recorded at
    * commit from the then-current footers ∪ marker) — what makes
    * `VERSION AS OF` shape-stable across later ALTERs and
    * schema-redefining overwrites. */
  def schemaAt(fs: FileSystem, table: Path, version: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    metaLine(fs, table, version, "schema").flatMap(ddl =>
      scala.util.Try(
        org.apache.spark.sql.types.StructType.fromDDL(ddl)).toOption)

  /** The newest recorded value of meta `key` across retained versions
    * (descending scan — a later commit's meta does not carry earlier
    * commits' keys forward). What the exactly-once stream sink reads
    * its last committed epoch through; retention note: vacuum keeps
    * the record only as long as the version holding it, so the
    * retention window must outlast the longest stream restart gap. */
  def lastMeta(fs: FileSystem, table: Path, key: String)
      : Option[String] =
    versions(fs, table).reverseIterator
      .flatMap(v => metaLine(fs, table, v, key))
      .nextOption()

  /** The latest version whose commit time is at or before `tsMillis` —
    * SQL `TIMESTAMP AS OF`. Clear errors for a time before the first
    * commit or a table without manifests. */
  def versionAt(fs: FileSystem, table: Path, tsMillis: Long): Long = {
    val vs = versions(fs, table)
    if (vs.isEmpty) {
      throw new IllegalArgumentException(
        s"graft-v2: $table has no manifests — TIMESTAMP AS OF needs a " +
        "table with at least one committed version (versions begin at " +
        "the first mutation)")
    }
    val timed = vs.map(v => v -> commitTimeMillis(fs, table, v))
    val at = timed.filter(_._2.exists(_ <= tsMillis)).map(_._1)
    at.lastOption.getOrElse {
      val first = timed.flatMap(_._2).headOption
        .map(t => java.time.Instant.ofEpochMilli(t).toString)
        .getOrElse("unknown")
      throw new IllegalArgumentException(
        s"graft-v2: $table has no version at or before " +
        s"${java.time.Instant.ofEpochMilli(tsMillis)} (first commit: " +
        s"$first)")
    }
  }

  /** The live state a WRITER stages against: the latest snapshot, or —
    * for a table without manifests yet — version 0 with the current
    * listing (all top-level `*.parquet`, the same predicate every
    * read path uses). */
  def liveState(fs: FileSystem, table: Path): Snapshot =
    current(fs, table).getOrElse(Snapshot(0L, listingNames(fs, table)))

  def listingNames(fs: FileSystem, table: Path): Seq[String] =
    if (!fs.exists(table)) Seq.empty
    else fs.listStatus(table).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted

  /** The snapshot a MUTATION stages against. A table's FIRST mutation
    * bootstraps the manifest log: version 1 records the pre-mutation
    * state (the current listing), so time travel reaches back to the
    * state before any DML ever ran; the mutation itself then commits
    * version 2 through the versioned swap. Tables nobody has mutated
    * stay manifest-free — plain listing semantics, zero overhead. */
  def pinForMutation(fs: FileSystem, table: Path): Snapshot =
    commitLock(fs, table).synchronized {
      current(fs, table).getOrElse {
        val names = listingNames(fs, table)
        if (tryCommit(fs, table, 0L, names)) Snapshot(1L, names)
        else liveState(fs, table) // a racer bootstrapped: use its v1
      }
    }

  /** Append commit: advances the manifest when one exists (a post-DML
    * table), no-op otherwise (a never-mutated table keeps plain
    * listing semantics and pays nothing). Callers run it INSIDE the
    * [[commitLock]] together with the renames that land the appended
    * files — otherwise a racing first-mutation bootstrap could list
    * the files yet this check could still see no manifest, leaving a
    * committed append in no version. */
  def advanceAppend(fs: FileSystem, table: Path, added: Seq[String],
      commitSchema: Option[org.apache.spark.sql.types.StructType] = None,
      extraMeta: Seq[String] = Nil)
      : Unit =
    if (fs.exists(manifestDir(table))) {
      commitAppend(fs, table, added, commitSchema, extraMeta)
    }

  /** Compare-and-swap commit of version `expected + 1`. False = a
    * racing writer committed first; the caller must unwind its
    * physical changes (nothing manifest-side happened).
    *
    * @param commitSchema the POST-COMMIT table schema when the commit
    *   itself changes it (widened append, redefining overwrite) —
    *   the marker refresh those paths run AFTER the manifest commit
    *   would otherwise leave this version's recorded schema stale. */
  /** @param dvs deletion-vector mapping for the NEW version:
    *   None (the default) INHERITS the `expected` version's vectors —
    *   restricted to `names`, so a replaced/removed file's vector
    *   drops out automatically; Some(m) replaces the mapping (a DV
    *   commit), also restricted to `names`. */
  def tryCommit(fs: FileSystem, table: Path, expected: Long,
      names: Seq[String],
      commitSchema: Option[org.apache.spark.sql.types.StructType] = None,
      extraMeta: Seq[String] = Nil,
      dvs: Option[Map[String, String]] = None)
      : Boolean = {
    val d = manifestDir(table)
    fs.mkdirs(d)
    val tmp = new Path(d, s".tmp-${UUID.randomUUID().toString.take(12)}")
    // meta lines: ts= is what TIMESTAMP AS OF resolves through;
    // schema= pins the version's shape (the caller's post-state
    // schema, else footers ∪ marker AT COMMIT — the committed names
    // are at the table root when the CAS runs), so time travel is
    // stable across later ALTERs and redefining overwrites. Both
    // best-effort: a commit never fails over its metadata garnish
    // (readers fall back to footer resolution).
    val schemaDdl: Option[String] = commitSchema.orElse {
      scala.util.Try {
        GraftCatalog.mergeFooterAndMarker(
          names.sorted.headOption.flatMap(n =>
            FooterCache.schemaOption(new Path(table, n).toString)
              .map(ParquetMeta.toStruct)
              .map(GraftCatalog.readMapping(fs, table).translate)),
          GraftCatalog.readMarker(fs, table))
      }.toOption.flatten
    }.map(_.toDDL).filterNot(_.contains("\n"))
    val nameSet = names.toSet
    val effectiveDvs: Map[String, String] = dvs.getOrElse {
      if (expected < 1L) Map.empty[String, String]
      else scala.util.Try(read(fs, table, expected).dvs)
        .getOrElse(Map.empty[String, String])
    }.filter { case (n, _) => nameSet.contains(n) }
    // delta-encode against the predecessor when (a) this is not a
    // checkpoint slot, (b) the predecessor is readable, and (c) the
    // delta is actually smaller than the full list — commit metadata
    // then costs O(changed files), not O(table files)
    val canon = names.distinct.sorted
    val parentOpt: Option[Snapshot] =
      if (expected >= 1L && (expected + 1L) % CheckpointEvery != 0L) {
        scala.util.Try(read(fs, table, expected)).toOption
      } else None
    val bodyDelta: Option[Seq[String]] = parentOpt.flatMap { parent =>
      val pn = parent.names.toSet
      val adds = canon.filterNot(pn)
      val rms = (pn -- nameSet).toSeq.sorted
      val delta = Seq(s"base=$expected") ++
        adds.map("add=" + _) ++ rms.map("rm=" + _)
      if (delta.size < canon.size) Some(delta) else None
    }
    // dv lines delta-encode too when the body is a delta (they share
    // its base= chain): a DV-heavy table's point delete then writes
    // O(changed masks) `dvadd=`/`dvrm=` lines under a `dvdelta=1`
    // flag instead of re-listing every mask. Legacy full `dv=` lines
    // stay the fallback (and the reader's default), so old manifests
    // read unchanged.
    val fullDvLines = effectiveDvs.toSeq.sorted
      .map { case (n, d) => s"dv=$n:$d" }
    val dvLines: Seq[String] = (bodyDelta, parentOpt) match {
      case (Some(_), Some(parent)) =>
        val dvAdds = effectiveDvs.toSeq
          .filter { case (n, d) => !parent.dvs.get(n).contains(d) }
          .sorted
        val dvRms = (parent.dvs.keySet -- effectiveDvs.keySet)
          .toSeq.sorted
        val delta = Seq("dvdelta=1") ++
          dvAdds.map { case (n, d) => s"dvadd=$n:$d" } ++
          dvRms.map("dvrm=" + _)
        if (delta.size < fullDvLines.size) delta else fullDvLines
      case _ => fullDvLines
    }
    // skip-stat lines ([[SkipStats]]): computed for this commit's NEW
    // files from the just-written footers, inherited for the rest;
    // delta versions carry only the new files' lines under
    // `fstatdelta=1` (reads fold the parent's forward). Best-effort
    // garnish — a commit never fails over its stats.
    val fstatLines: Seq[String] = scala.util.Try {
      val skipCols = SkipStats.read(fs, table)
      if (skipCols.isEmpty) Seq.empty[String]
      else {
        val parentSnap: Option[Snapshot] = parentOpt.orElse {
          if (expected >= 1L) {
            scala.util.Try(read(fs, table, expected)).toOption
          } else None
        }
        val pNames = parentSnap.map(_.names.toSet).getOrElse(Set.empty)
        val newStats = SkipStats.collect(
          canon.filterNot(pNames)
            .map(n => new Path(table, n).toString), skipCols)
        if (bodyDelta.isDefined) {
          // the flag rides EVERY delta version once declared — a
          // no-new-files delta still folds the parent's stats forward
          "fstatdelta=1" +: SkipStats.renderLines(newStats)
        } else {
          val inherited = parentSnap.map(_.fstats)
            .getOrElse(Map.empty[String, Map[String, SkipStats.ColStat]])
            .filter { case (n, _) => nameSet.contains(n) }
          SkipStats.renderLines(inherited ++ newStats)
        }
      }
    }.getOrElse(Seq.empty)
    val meta = Seq(s"ts=${System.currentTimeMillis()}") ++
      schemaDdl.map(d0 => s"schema=$d0") ++
      dvLines ++ fstatLines ++
      extraMeta.filter(m => m.contains('=') && !m.contains('\n'))
    val body: Seq[String] = bodyDelta.getOrElse(canon)
    val out = fs.create(tmp, true)
    try out.write((Header +: (meta ++ body))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = versionPath(table, expected + 1L)
    val won = lock.synchronized { publishIfAbsent(fs, tmp, dst) }
    if (!won) { try fs.delete(tmp, false) catch { case _: Throwable => () } }
    won
  }

  /** Atomically publish `tmp` into the version slot `dst` iff no file
    * is there — the primitive that makes the CAS safe across
    * PROCESSES, not just threads. Delegated to the store class's
    * [[CommitStore]] ([[CommitStores.forFs]]): hard link on POSIX,
    * rename-if-absent on HDFS semantics ([[AtomicFsCommit]]), and an
    * external-CAS claim + recoverable copy on object stores without
    * either primitive ([[ExternalCasCommit]]). The JVM-wide [[lock]]
    * around callers remains as the fast path for the common
    * one-driver deployment. */
  private def publishIfAbsent(fs: FileSystem, tmp: Path,
      dst: Path): Boolean =
    CommitStores.forFs(fs).publishIfAbsent(fs, tmp, dst)

  /** Append-style commit (the new names only ADD to the live set, so
    * concurrent commits commute): retry the CAS against the freshest
    * state instead of failing. */
  def commitAppend(fs: FileSystem, table: Path, added: Seq[String],
      commitSchema: Option[org.apache.spark.sql.types.StructType] = None,
      extraMeta: Seq[String] = Nil)
      : Unit =
    commitLock(fs, table).synchronized {
      // append commits self-classify for the change feed unless the
      // caller already supplied an operation class
      val meta =
        if (extraMeta.exists(_.startsWith("op="))) extraMeta
        else extraMeta :+ "op=append"
      var attempts = 0
      while (attempts < 50) {
        val live = liveState(fs, table)
        if (tryCommit(fs, table, live.version,
            (live.names ++ added).distinct, commitSchema, meta)) {
          return
        }
        attempts += 1
      }
      throw new java.util.ConcurrentModificationException(
        s"graft-v2: append to $table could not commit after $attempts " +
        "manifest CAS attempts")
    }

  /** Post-commit hook for writers OUTSIDE the manifest protocol (the
    * V1 sink's saves and compaction): once a table has manifests,
    * every commit must produce a version or reads through the manifest
    * would miss the new state. Records the current listing as the next
    * version. No-op for manifest-free tables. */
  def refreshIfPresent(fs: FileSystem, table: Path,
      op: String = "write"): Unit = {
    if (!fs.exists(manifestDir(table))) return
    // under the commit lock: a raw listing taken while another commit
    // is mid-critical-section would capture its torn intermediate
    // state (staged-in files pre-CAS / un-archived victims post-CAS)
    commitLock(fs, table).synchronized {
      val live = liveState(fs, table)
      val names = listingNames(fs, table)
      if (names != live.names && !tryCommit(fs, table, live.version, names,
          extraMeta = Seq(s"op=$op"))) {
        throw new java.util.ConcurrentModificationException(
          s"graft-v2: manifest refresh of $table lost the CAS under " +
          "the commit lock — concurrent multi-driver writers need a " +
          "commit service")
      }
    }
  }

  /** ROLLBACK: commit a NEW version whose live set (files, deletion
    * vectors, pinned schema) equals retained version `toVersion` —
    * history is preserved, the rollback is itself a commit (visible in
    * `history`, time-travelable, and emitted by the change feed as a
    * generic file-diff step under `op=restore`).
    *
    * Physical moves keep the standing invariant "root listing = live
    * set" that listing-derived flows ([[refreshIfPresent]], first-
    * manifest bootstrap) depend on: restored files that a later commit
    * archived move BACK to the root before the CAS; files the restore
    * removes move to `.graft-archive/` after it (same order as the V2
    * write path — reads through any retained manifest resolve either
    * spelling). Metadata-and-rename only; no data bytes rewritten.
    *
    * Returns the NEW version (or the current one when the table is
    * already at `toVersion`'s state — a no-op restore commits
    * nothing). */
  def restore(fs: FileSystem, table: Path, toVersion: Long): Long =
    commitLock(fs, table).synchronized {
      val vs = versions(fs, table)
      if (vs.isEmpty) throw new IllegalArgumentException(
        s"graft-v2: cannot restore $table — it has no manifest log")
      if (!vs.contains(toVersion)) throw new IllegalArgumentException(
        s"graft-v2: cannot restore $table to version $toVersion — " +
        s"retained versions are ${vs.min}..${vs.max}" +
        (if (toVersion < vs.min) " (older versions were vacuumed)"
         else ""))
      val live = liveState(fs, table)
      val target = read(fs, table, toVersion)
      if (live.names.sorted == target.names.sorted &&
          live.dvs == target.dvs) {
        return live.version
      }
      val schema = schemaAt(fs, table, toVersion)
      val archive = new Path(table, ArchiveDir)
      val atRoot = listingNames(fs, table).toSet
      val unarchived = target.names.filterNot(atRoot).map { n =>
        val src = new Path(archive, n)
        if (!fs.rename(src, new Path(table, n))) {
          throw new java.io.IOException(
            s"graft-v2: restore of $table to $toVersion aborted — " +
            s"could not move $src back to the table root")
        }
        n
      }
      if (!tryCommit(fs, table, live.version, target.names, schema,
          Seq("op=restore", s"restoredFrom=$toVersion"),
          Some(target.dvs))) {
        // CAS can only lose to a cross-process writer (we hold the
        // in-JVM lock); park the un-archived files back and abort
        unarchived.foreach { n =>
          try fs.rename(new Path(table, n), new Path(archive, n))
          catch { case _: Throwable => () }
        }
        throw new java.util.ConcurrentModificationException(
          s"graft-v2: restore of $table lost the version CAS to a " +
          "concurrent writer; re-run against the new state")
      }
      val targetSet = target.names.toSet
      val victims = live.names.filterNot(targetSet)
      if (victims.nonEmpty) fs.mkdirs(archive)
      victims.foreach { n =>
        val p = new Path(table, n)
        if (fs.exists(p) &&
            !fs.rename(p, new Path(archive, n))) {
          throw new java.io.IOException(
            s"graft-v2: restore of $table committed version " +
            s"${live.version + 1L}, but archiving replaced file $p " +
            "failed — move it to .graft-archive/ manually")
        }
      }
      live.version + 1L
    }

  /** SHALLOW CLONE: materialize `src`'s state (latest, or a retained
    * `versionAsOf`) as a NEW INDEPENDENT table at `dst` — hard links
    * on POSIX filesystems (zero data bytes copied at any table size),
    * byte copies elsewhere. Clones data files, the deletion vectors
    * the snapshot references, the schema marker (mapping + CHECK
    * constraints ride along), and best-effort bloom sidecars; commits
    * the clone's own version 1 (`op=clone`) pinning the source's
    * schema-at-version.
    *
    * Independence: the engine never mutates a data file in place —
    * rewrites mint NEW names, archive/vacuum only unlink directory
    * entries — so two tables sharing immutable inodes can never
    * observe each other's DML; either side vacuuming only drops its
    * own link. The clone starts a FRESH history (its v1 is the
    * snapshot), deliberately not inheriting source versions it holds
    * no files for.
    *
    * Returns (source version cloned, files hard-linked [vs copied]). */
  def cloneTo(fs: FileSystem, src: Path, dst: Path,
      versionAsOf: Option[Long] = None): (Long, Int) = {
    if (fs.exists(dst) && fs.listStatus(dst).nonEmpty) {
      throw new IllegalArgumentException(
        s"graft-v2: clone target $dst already exists and is not empty")
    }
    val state = snapshotState(fs, src, versionAsOf)
    val (paths, dvs) = state.getOrElse(
      (listingNames(fs, src).map(n => new Path(src, n)),
        Map.empty[String, String]))
    val srcVersion = versionAsOf
      .orElse(current(fs, src).map(_.version)).getOrElse(0L)
    fs.mkdirs(dst)
    var linked = 0
    paths.foreach { p =>
      if (linkOrCopy(fs, p, new Path(dst, p.getName))) linked += 1
    }
    if (dvs.nonEmpty) {
      val dvDst = new Path(dst, DeleteVectors.Dir)
      fs.mkdirs(dvDst)
      dvs.values.toSeq.distinct.foreach { d =>
        linkOrCopy(fs, new Path(new Path(src, DeleteVectors.Dir), d),
          new Path(dvDst, d))
      }
    }
    val mk = new Path(src, GraftCatalog.SchemaMarker)
    if (fs.exists(mk)) {
      org.apache.hadoop.fs.FileUtil.copy(fs, mk, fs,
        new Path(dst, GraftCatalog.SchemaMarker), false, fs.getConf)
    }
    // bloom sidecars are per-(column, data-file-name) and file names
    // survive the clone verbatim, so the index clones by link too;
    // best-effort — a miss just means the clone rebuilds on demand
    val bloomSrc = new Path(src, BloomIndex.Dir)
    try {
      if (fs.exists(bloomSrc)) {
        val nameSet = paths.map(_.getName).toSet
        fs.listStatus(bloomSrc).filter(_.isDirectory).foreach { colDir =>
          val cd = new Path(new Path(dst, BloomIndex.Dir),
            colDir.getPath.getName)
          fs.mkdirs(cd)
          fs.listStatus(colDir.getPath).foreach { st =>
            val n = st.getPath.getName
            if (n == "_meta" ||
                nameSet.contains(n.stripSuffix(".bloom"))) {
              linkOrCopy(fs, st.getPath, new Path(cd, n))
            }
          }
        }
      }
    } catch { case _: Exception => () }
    val schema = schemaAt(fs, src, srcVersion)
      .orElse(scala.util.Try(
        GraftCatalog.readMarker(fs, src)).toOption.flatten)
    if (!tryCommit(fs, dst, 0L, paths.map(_.getName), schema,
        Seq("op=clone",
          s"clonedFrom=${fs.makeQualified(src)}@$srcVersion"),
        Some(dvs))) {
      throw new IllegalStateException(
        s"graft-v2: clone target $dst gained a commit concurrently")
    }
    (srcVersion, linked)
  }

  /** One history row per RETAINED version, newest first: (version,
    * commit-time millis, operation, live files, files added, files
    * removed, dv sidecars, dvs changed vs predecessor). A
    * metadata-only walk of the manifest log — bounded by the vacuum
    * window, never touches data files; the oldest retained version
    * reports its full file set as added (its true predecessor may be
    * vacuumed). Shared by `CALL history` and `DESCRIBE HISTORY`. */
  def history(fs: FileSystem, table: Path)
      : Seq[(Long, Option[Long], String, Int, Int, Int, Int, Int)] = {
    val snaps = versions(fs, table).map(v => read(fs, table, v))
    snaps.zipWithIndex.reverse.map { case (s, i) =>
      val prev = if (i == 0) None else Some(snaps(i - 1))
      val prevNames = prev.map(_.names.toSet).getOrElse(Set.empty)
      val names = s.names.toSet
      (s.version, commitTimeMillis(fs, table, s.version),
        opOf(fs, table, s.version).getOrElse("unknown"),
        names.size, (names -- prevNames).size,
        (prevNames -- names).size, s.dvs.size,
        (s.dvs.toSet -- prev.map(_.dvs.toSet).getOrElse(Set.empty)).size)
    }
  }

  /** Cross-filesystem clone: [[cloneTo]]'s contract when `src` and
    * `dst` live on DIFFERENT filesystems (local → object store, or
    * between stores). Same scheme+authority delegates to the
    * hard-link path. Otherwise the data/DV/bloom byte copies fan out
    * over the cluster — one task per file slice, each opening its own
    * FileSystem from the shipped Hadoop conf — so clone bandwidth is
    * every executor's, not the driver's NIC; the driver handles only
    * metadata (marker copy, the clone's v1 commit). The copy list is
    * file NAMES (metadata-sized), never file bytes.
    *
    * Returns (source version cloned, files copied by executors; 0 on
    * the delegated same-fs path means "all hard-linked or locally
    * copied" — see [[cloneTo]]'s second component). */
  def cloneAcross(spark: org.apache.spark.sql.SparkSession, src: Path,
      dst: Path, versionAsOf: Option[Long] = None): (Long, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    def fsKey(fs: FileSystem) =
      (Option(fs.getUri.getScheme).getOrElse("file"),
        Option(fs.getUri.getAuthority).getOrElse(""))
    if (fsKey(srcFs) == fsKey(dstFs)) {
      return cloneTo(srcFs, src, dst, versionAsOf)
    }
    if (dstFs.exists(dst) && dstFs.listStatus(dst).nonEmpty) {
      throw new IllegalArgumentException(
        s"graft-v2: clone target $dst already exists and is not empty")
    }
    val state = snapshotState(srcFs, src, versionAsOf)
    val (paths, dvs) = state.getOrElse(
      (listingNames(srcFs, src).map(n => new Path(src, n)),
        Map.empty[String, String]))
    val srcVersion = versionAsOf
      .orElse(current(srcFs, src).map(_.version)).getOrElse(0L)
    dstFs.mkdirs(dst)
    val copies = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    copies ++= paths.map(p =>
      (p.toString, new Path(dst, p.getName).toString))
    if (dvs.nonEmpty) {
      val dvDst = new Path(dst, DeleteVectors.Dir)
      dstFs.mkdirs(dvDst)
      copies ++= dvs.values.toSeq.distinct.map(d =>
        (new Path(new Path(src, DeleteVectors.Dir), d).toString,
          new Path(dvDst, d).toString))
    }
    // bloom sidecars ride along best-effort (names survive verbatim)
    try {
      val bloomSrc = new Path(src, BloomIndex.Dir)
      if (srcFs.exists(bloomSrc)) {
        val nameSet = paths.map(_.getName).toSet
        srcFs.listStatus(bloomSrc).filter(_.isDirectory).foreach { cd =>
          val dstCd = new Path(new Path(dst, BloomIndex.Dir),
            cd.getPath.getName)
          dstFs.mkdirs(dstCd)
          srcFs.listStatus(cd.getPath).foreach { st =>
            val n = st.getPath.getName
            if (n == "_meta" || nameSet.contains(n.stripSuffix(".bloom"))) {
              copies += ((st.getPath.toString, new Path(dstCd, n).toString))
            }
          }
        }
      }
    } catch { case _: Exception => () }
    if (copies.nonEmpty) {
      val shipped = GraftHadoopConf.broadcast(conf)
      val slices = math.min(copies.length,
        math.max(1, spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(copies.toSeq, slices)
        .foreach { case (f, t) =>
          val c = shipped.value.value
          val fp = new Path(f)
          val tp = new Path(t)
          if (!org.apache.hadoop.fs.FileUtil.copy(
              fp.getFileSystem(c), fp, tp.getFileSystem(c), tp,
              false, c)) {
            throw new java.io.IOException(s"graft-v2: clone copy failed: $f")
          }
        }
    }
    val mk = new Path(src, GraftCatalog.SchemaMarker)
    if (srcFs.exists(mk)) {
      org.apache.hadoop.fs.FileUtil.copy(srcFs, mk, dstFs,
        new Path(dst, GraftCatalog.SchemaMarker), false, conf)
    }
    val schema = schemaAt(srcFs, src, srcVersion)
      .orElse(scala.util.Try(
        GraftCatalog.readMarker(srcFs, src)).toOption.flatten)
    if (!tryCommit(dstFs, dst, 0L, paths.map(_.getName), schema,
        Seq("op=clone",
          s"clonedFrom=${srcFs.makeQualified(src)}@$srcVersion"),
        Some(dvs))) {
      throw new IllegalStateException(
        s"graft-v2: clone target $dst gained a commit concurrently")
    }
    (srcVersion, copies.length)
  }

  /** Hard link `from` → `to` when the filesystem supports it (local
    * POSIX), else copy bytes. Returns true iff linked. */
  private def linkOrCopy(fs: FileSystem, from: Path, to: Path)
      : Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(to).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(from).toUri.getPath))
        return true
      } catch { case _: Exception => () } // fall through to copy
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false,
      fs.getConf)
    false
  }

  /** Resolve a snapshot's names to openable paths: live files sit at
    * the table root; files a later commit removed sit in
    * `.graft-archive/`. One listing round-trip, not one exists() per
    * file. */
  def resolve(fs: FileSystem, table: Path,
      names: Seq[String]): Seq[Path] = {
    val atRoot = listingNames(fs, table).toSet
    val archive = new Path(table, ArchiveDir)
    names.map { n =>
      if (atRoot.contains(n)) new Path(table, n)
      else new Path(archive, n)
    }
  }

  /** The file set a SCAN should read: Some(resolved paths) when the
    * table has manifests (pinned at `versionAsOf` or the latest
    * version), None when it has none (plain listing behavior). */
  def snapshotFiles(fs: FileSystem, table: Path,
      versionAsOf: Option[Long]): Option[Seq[Path]] =
    snapshotState(fs, table, versionAsOf).map(_._1)

  /** [[snapshotFiles]] plus the pinned version's deletion-vector map
    * (data-file name → sidecar name) — what a scan needs to read the
    * version EXACTLY: these files, minus these positions. */
  def snapshotState(fs: FileSystem, table: Path,
      versionAsOf: Option[Long])
      : Option[(Seq[Path], Map[String, String])] =
    (versionAsOf match {
      case Some(v) => Some(read(fs, table, v))
      case None => current(fs, table)
    }).map(s => (resolve(fs, table, s.names), s.dvs))

  /** The pinned version's per-file skip stats ([[SkipStats]]) —
    * empty for undeclared tables; what the scan prunes the file LIST
    * with before any footer opens. */
  def snapshotFstats(fs: FileSystem, table: Path,
      versionAsOf: Option[Long])
      : Map[String, Map[String, SkipStats.ColStat]] =
    (versionAsOf match {
      case Some(v) => scala.util.Try(read(fs, table, v)).toOption
      case None => current(fs, table)
    }).map(_.fstats).getOrElse(Map.empty)

  /** Drop all versions but the newest `keepVersions`, deleting archive
    * files no retained version references. Bounds retention growth.
    *
    * RETENTION CONTRACT (what every retained-log table format
    * documents): a version is deletable only when it is (a) beyond
    * the keep-last-N floor, AND (b) older than `minRetainMillis` —
    * so an in-flight scan pinned on a recent version keeps its files
    * as long as the retention window outlasts the longest query.
    * Archive files referenced by ANY retained version are never
    * deleted. A pinned read older than the retention horizon fails
    * with a clear missing-version error; that is the documented
    * trade every vacuum makes. The latest version always survives —
    * it IS the table.
    *
    * FEED COUPLING: `minFeedVersions` raises the count floor for
    * change-feed consumers sized by count, and registered consumer
    * low-water marks ([[GraftCdf.consumerMarks]]) are respected by
    * default — every version a registered consumer still needs as a
    * diff base survives, so vacuum can never outrun a subscription
    * that keeps its mark current. `respectFeedConsumers = false` is
    * the operator override; the feed's fail-loud retention error
    * ([[GraftCdf.tableChanges]]) then still fires on the outrun
    * consumer's next read.
    *
    * `minRetainMillis` defaults to 0 (count-only retention) so
    * explicit test/maintenance calls keep their semantics; production
    * retention jobs should pass a window comfortably above their
    * longest query/stream-batch duration. */
  def vacuum(fs: FileSystem, table: Path, keepVersions: Int = 2,
      minRetainMillis: Long = 0L,
      nowMillis: Long = System.currentTimeMillis(),
      dvGraceMillis: Long = DvSweepGraceMillis,
      minFeedVersions: Int = 0,
      respectFeedConsumers: Boolean = true): Unit =
    vacuumKeeping(fs, table,
      retentionSplit(fs, table, keepVersions, minRetainMillis,
        nowMillis, minFeedVersions),
      dvGraceMillis, nowMillis, respectFeedConsumers)

  /** The count+age retention policy [[vacuum]] applies, as a
    * reusable split. */
  private def retentionSplit(fs: FileSystem, table: Path,
      keepVersions: Int, minRetainMillis: Long, nowMillis: Long,
      minFeedVersions: Int): Seq[Long] => (Seq[Long], Seq[Long]) =
    vs => {
      val keepN = math.max(keepVersions, minFeedVersions)
      val (beyond, kept) =
        vs.splitAt(math.max(0, vs.length - keepN))
      if (minRetainMillis <= 0L) (beyond, kept)
      else {
        val horizon = nowMillis - minRetainMillis
        // a version inside the min-retention window is KEPT even when
        // beyond the count floor; unreadable commit time → kept
        val (drop, young) = beyond.partition(v =>
          commitTimeMillis(fs, table, v).exists(_ < horizon))
        (drop, young ++ kept)
      }
    }

  /** DRY RUN: what a [[vacuum]] with the same arguments WOULD remove —
    * (dropped version ids, doomed file paths) — computed under the
    * same lock and policies but deleting nothing. Lets an operator see
    * the blast radius of a retention cut before committing to it. */
  def vacuumPreview(fs: FileSystem, table: Path, keepVersions: Int = 2,
      minRetainMillis: Long = 0L,
      nowMillis: Long = System.currentTimeMillis(),
      dvGraceMillis: Long = DvSweepGraceMillis,
      minFeedVersions: Int = 0,
      respectFeedConsumers: Boolean = true): (Seq[Long], Seq[Path]) =
    doomedFor(fs, table,
      retentionSplit(fs, table, keepVersions, minRetainMillis,
        nowMillis, minFeedVersions),
      dvGraceMillis, nowMillis, respectFeedConsumers)

  /** Age-based retention: drop versions whose commit time is older
    * than `maxAgeMillis` before `nowMillis` — except the LATEST
    * version, which always survives (it IS the table). The
    * retention-policy face of [[vacuum]]; registered feed-consumer
    * marks are respected the same way. */
  def vacuumOlderThan(fs: FileSystem, table: Path, maxAgeMillis: Long,
      nowMillis: Long = System.currentTimeMillis(),
      dvGraceMillis: Long = DvSweepGraceMillis,
      respectFeedConsumers: Boolean = true): Unit = {
    val horizon = nowMillis - maxAgeMillis
    // .exists, not .forall: a version whose commit time cannot be
    // read (transient FS error → None) is conservatively KEPT, not
    // treated as older-than-horizon and dropped
    vacuumKeeping(fs, table, vs => vs.partition(v =>
      v != vs.last &&
        commitTimeMillis(fs, table, v).exists(_ < horizon)),
      dvGraceMillis, nowMillis, respectFeedConsumers)
  }

  /** Grace window for sweeping UNREFERENCED deletion-vector sidecars:
    * [[GraftDeleteV2]] (and the delta write path) publish sidecars
    * into `.graft-dv/` BEFORE the manifest CAS that references them —
    * an unreferenced sidecar may therefore be an in-flight commit's,
    * not garbage. Sweeping only sidecars older than this window (by
    * file modification time) leaves any publish→CAS window shorter
    * than the grace intact; a commit that stalls longer than this
    * between publishing and committing is the documented trade. */
  val DvSweepGraceMillis: Long = 10 * 60 * 1000L

  private def vacuumKeeping(fs: FileSystem, table: Path,
      split: Seq[Long] => (Seq[Long], Seq[Long]),
      dvGraceMillis: Long, nowMillis: Long,
      respectFeedConsumers: Boolean = true): Unit = {
    val (_, doomed) = doomedFor(fs, table, split, dvGraceMillis,
      nowMillis, respectFeedConsumers)
    doomed.foreach(p => fs.delete(p, false))
  }

  /** The (dropped versions, doomed paths) a sweep with this policy
    * removes. Referenced-set COMPUTATION runs under the per-table
    * commit lock so an in-JVM committer cannot land a version between
    * this method's version listing and its kept-set pinning;
    * cross-process (and the publish-before-CAS window) are covered by
    * the grace window. The FS DELETES (in [[vacuumKeeping]]) run
    * OUTSIDE the lock: once the kept set is pinned, everything doomed
    * is already unreferenced by every retained version and can never
    * be re-referenced (file and sidecar names are job-unique; new
    * commits only mint new names), so a slow object-store sweep no
    * longer blocks same-JVM commits. */
  private def doomedFor(fs: FileSystem, table: Path,
      split: Seq[Long] => (Seq[Long], Seq[Long]),
      dvGraceMillis: Long, nowMillis: Long,
      respectFeedConsumers: Boolean): (Seq[Long], Seq[Path]) = {
    commitLock(fs, table).synchronized {
      val vs = versions(fs, table)
      if (vs.isEmpty) return (Seq.empty, Seq.empty)
      val (drop0, keep0) = split(vs)
      // registered feed consumers pin their window: a consumer whose
      // mark is m has applied THROUGH m and next reads m+1, which
      // needs m as its diff base — every version >= min(marks)
      // survives. Marks below the already-vacuumed horizon protect
      // whatever remains (vacuum refuses to widen the hole).
      val consumerFloor: Option[Long] =
        if (!respectFeedConsumers) None
        else scala.util.Try(GraftCdf.consumerMarks(fs, table))
          .toOption.filter(_.nonEmpty).map(_.values.min)
      val (drop1, keep1) = consumerFloor match {
        case Some(floor) =>
          val (held, droppable) = drop0.partition(_ >= floor)
          (droppable, (held ++ keep0).sorted)
        case None => (drop0, keep0)
      }
      // tags pin SPECIFIC versions (not a floor): every tagged
      // version — and therefore every file it references — survives
      // any retention policy until the tag is dropped
      val tagged = scala.util.Try(GraftTags.pinnedVersions(fs, table))
        .getOrElse(Set.empty[Long])
      val (drop, keep) =
        if (tagged.isEmpty) (drop1, keep1)
        else {
          val (heldTag, droppable) = drop1.partition(tagged.contains)
          (droppable, (heldTag ++ keep1).sorted)
        }
      if (keep.isEmpty) {
        return (Seq.empty, Seq.empty) // the latest always survives
      }
      // delta chains: a KEPT version whose base chain crosses a
      // version about to drop must become self-contained BEFORE the
      // drop, or its reconstruction would dangle. Ascending order, so
      // a later kept delta whose chain stops at an earlier (now
      // materialized) kept version needs no rewrite of its own.
      val dropSet = drop.toSet
      keep.foreach { k =>
        var b = baseOf(fs, table, k)
        var crosses = false
        while (b.isDefined && !crosses) {
          if (dropSet.contains(b.get)) crosses = true
          else b = baseOf(fs, table, b.get)
        }
        if (crosses) rewriteSelfContained(fs, table, k)
      }
      val keptSnaps = keep.map(read(fs, table, _))
      val referenced = keptSnaps.flatMap(_.names).toSet
      val archive = new Path(table, ArchiveDir)
      val archiveDoomed =
        if (!fs.exists(archive)) Seq.empty[Path]
        else fs.listStatus(archive).toSeq.map(_.getPath)
          .filterNot(p => referenced.contains(p.getName))
      // deletion-vector sidecars follow the same rule: dropped with
      // the last version that references them — but only beyond the
      // grace window, so a sidecar published by a not-yet-committed
      // DELETE survives until its CAS lands ([[DvSweepGraceMillis]]).
      // The horizon uses the CALLER's clock (nowMillis), matching the
      // version-retention horizon — a test faking time gets both
      // policies on the same fake clock.
      val referencedDvs = keptSnaps.flatMap(_.dvs.values).toSet
      val dvd = DeleteVectors.dvDir(table)
      val dvDoomed =
        if (!fs.exists(dvd)) Seq.empty[Path]
        else {
          val horizon = nowMillis - dvGraceMillis
          fs.listStatus(dvd).toSeq
            .filter(st => !referencedDvs.contains(st.getPath.getName) &&
              st.getModificationTime < horizon)
            .map(_.getPath)
        }
      // bloom-index sidecars ([[BloomIndex]]) key on the data-file
      // NAME: once no retained version (nor the live listing — a
      // manifest-free bootstrap dir has data the manifests don't
      // know) references the file, its per-column blooms are orphans.
      // Same grace window as DVs: a sidecar a racing build just wrote
      // for a not-yet-committed file survives until the CAS lands.
      val bloomRoot = new Path(table, BloomIndex.Dir)
      val bloomDoomed =
        if (!fs.exists(bloomRoot)) Seq.empty[Path]
        else {
          val live = referenced ++ scala.util.Try(
            fs.listStatus(table).toSeq.map(_.getPath.getName)
              .filter(n => n.endsWith(".parquet") && !n.startsWith(".")))
            .getOrElse(Seq.empty)
          val horizon = nowMillis - dvGraceMillis
          fs.listStatus(bloomRoot).toSeq.filter(_.isDirectory)
            .flatMap(d => scala.util.Try(
              fs.listStatus(d.getPath).toSeq).getOrElse(Seq.empty))
            .filter { st =>
              val n = st.getPath.getName
              n.endsWith(".bloom") &&
                !live.contains(n.stripSuffix(".bloom")) &&
                st.getModificationTime < horizon
            }.map(_.getPath)
        }
      // a dropped version's stale `.full` twin (from a crashed swap)
      // goes with it — only twins whose version file is doomed too
      val twinDoomed = drop.map(fullTwinPath(table, _))
        .filter(fs.exists(_))
      (drop, archiveDoomed ++ dvDoomed ++ bloomDoomed ++
        drop.map(versionPath(table, _)) ++ twinDoomed)
    }
  }
}
