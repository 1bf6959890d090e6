package graft.sources.v2

import java.io.ByteArrayOutputStream

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** FILE-LEVEL BLOOM INDEX for point-lookup pruning.
  *
  * Footer min/max statistics prune range predicates well, but a
  * high-cardinality equality on UNSORTED data (`WHERE doc_id = 'x'`)
  * defeats them — every file's [min, max] spans the key space, so a
  * point lookup scans the whole table. At 100 TB that is the
  * difference between opening 3 files and 10⁵. A bloom index answers
  * "might file F contain value v?" with no false negatives, so the
  * scan can drop every file whose filter says NO before a single
  * footer (let alone row group) is read.
  *
  * Layout — one sidecar per (column, data file) under the table root:
  * {{{
  * .graft-bloom/<urlenc(column)>/_meta           fpp + column name
  * .graft-bloom/<urlenc(column)>/<dataFile>.bloom
  * }}}
  *
  * Why per-file sidecars (and not one monolithic index):
  *  - data files are IMMUTABLE, so a file's bloom is never stale —
  *    there is no invalidation problem at all. New files simply lack
  *    sidecars and are conservatively kept until the next build.
  *  - [[build]] is incremental BY CONSTRUCTION: it indexes only files
  *    missing a sidecar (restricting its scan to them through the
  *    engine's own `_file` pruning) — re-running after an append
  *    costs one pass over the NEW data only.
  *  - deletion vectors / row-level deletes only remove rows, which
  *    can only make a bloom conservatively wide — still correct.
  *  - compaction/overwrite replaces files; orphaned sidecars match
  *    nothing and the replacements are un-indexed until rebuild —
  *    safe in both directions.
  *
  * Values are normalized to `xxhash64(col)` (seed 42, deterministic
  * across JVMs) before insertion, so one code path covers every
  * atomic type; probes hash the literal with the same expression.
  * The per-file filters are BUILT DISTRIBUTED (one hash-shuffle by
  * `_file`, partial blooms merge map-side) and WRITTEN FROM THE
  * EXECUTORS — no per-file bytes ever cross to the driver.
  *
  * Probe scale: up to `spark.graft.bloom.driverPruneMax` (default
  * 1024) candidate files the driver tests sidecars itself through an
  * mtime-keyed cache; above that the membership test runs as a tiny
  * distributed job over the sidecar paths and only surviving NAMES
  * return — the 10⁵-file case never funnels gigabytes of filters
  * through one JVM.
  */
object BloomIndex {

  val Dir = ".graft-bloom"
  private val MetaName = "_meta"
  private val MetaHeader = "graft-bloom-1"

  private def enc(col: String): String =
    java.net.URLEncoder.encode(col, "UTF-8")

  private def colDir(table: Path, col: String): Path =
    new Path(new Path(table, Dir), enc(col))

  /** One indexed column's recorded settings. */
  final case class ColIndex(col: String, fpp: Double, auto: Boolean)

  /** The standing per-column index metadata. */
  def indexMeta(fs: FileSystem, table: Path): Seq[ColIndex] = {
    val root = new Path(table, Dir)
    if (!Try(fs.exists(root)).getOrElse(false)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      Try {
        val meta = new Path(st.getPath, MetaName)
        if (!fs.exists(meta)) None
        else {
          val in = fs.open(meta)
          val bytes =
            try {
              val b = new Array[Byte](fs.getFileStatus(meta).getLen.toInt)
              in.readFully(0, b); b
            } finally in.close()
          val lines = new String(bytes, "UTF-8").split("\n").toSeq
          if (lines.headOption.forall(_ != MetaHeader)) None
          else lines.find(_.startsWith("col="))
            .map(_.stripPrefix("col="))
            .map(c => ColIndex(c,
              lines.find(_.startsWith("fpp="))
                .flatMap(l => Try(l.stripPrefix("fpp=").toDouble)
                  .toOption).getOrElse(0.03),
              lines.contains("auto=1")))
        }
      }.toOption.flatten
    }
  }

  /** Columns with a standing index (decoded logical names). */
  def indexedColumns(fs: FileSystem, table: Path): Seq[String] =
    indexMeta(fs, table).map(_.col)

  /** Data-file names holding a sidecar for `col` — the listing-level
    * coverage view `t.files` renders (a file without a sidecar is
    * conservatively un-prunable for equality on `col`). */
  def sidecarFiles(fs: FileSystem, table: Path, col: String)
      : Set[String] = {
    val d = colDir(table, col)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".bloom"))
      .map(_.stripSuffix(".bloom")).toSet
  }

  /** Incrementally extend every AUTO-maintained column index to cover
    * the table's current files. The post-commit hook the write paths
    * call: one `exists` RPC when the table has no index at all, a
    * no-op listing when nothing is missing, and only the NEW files
    * are read otherwise (the same incremental [[build]]). Failures
    * never fail the commit that triggered them — the index is an
    * optimization and un-indexed files are conservatively kept. */
  def autoExtend(spark: SparkSession, path: String): Unit =
    try {
      val table = new Path(path)
      val fs = table.getFileSystem(GraftHadoopConf.sessionConf())
      indexMeta(fs, table).filter(_.auto).foreach { ci =>
        build(spark, path, Seq(ci.col), ci.fpp, auto = true)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Drop a column's index (rename/drop DDL, or operator choice). */
  def drop(fs: FileSystem, table: Path, col: String): Boolean =
    Try(fs.delete(colDir(table, col), true)).getOrElse(false)

  /** Build (or incrementally extend) the index for `columns`.
    * Returns (filesIndexed, filesAlreadyIndexed) summed over the
    * columns. Only files LACKING a sidecar are read — the scan is
    * restricted to them via `_file` pruning, so an append-then-build
    * cycle pays one pass over the new files only. */
  def build(spark: SparkSession, path: String, columns: Seq[String],
      fpp: Double = 0.03, auto: Boolean = false): (Int, Int) = {
    require(columns.nonEmpty, "bloom index: no columns given")
    require(fpp > 0 && fpp < 1, s"bloom index: fpp out of (0,1): $fpp")
    val table = new Path(path)
    val fs = table.getFileSystem(GraftHadoopConf.sessionConf())
    // a standing auto flag is sticky: a manual incremental re-run
    // must not silently turn auto-maintenance off
    val standing = indexMeta(fs, table)
      .map(ci => ci.col -> ci.auto).toMap
    val dataFiles: Seq[String] =
      GraftManifest.current(fs, table).map(_.names).getOrElse(
        FooterCache.filePaths(path).map(p => new Path(p).getName))
    val df = spark.read.format("graft-v2").option("path", path).load()
    columns.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"bloom index: no column '$c' in ${df.schema.fieldNames.mkString(", ")}")
    }
    var indexed = 0; var skipped = 0
    columns.foreach { c =>
      val dir = colDir(table, c)
      fs.mkdirs(dir)
      val metaP = new Path(dir, MetaName)
      val wantAuto = auto || standing.getOrElse(c, false)
      if (!fs.exists(metaP) || wantAuto != standing.getOrElse(c, false)) {
        val out = fs.create(metaP, true)
        try out.write((s"$MetaHeader\ncol=$c\nfpp=$fpp" +
          (if (wantAuto) "\nauto=1" else "")).getBytes("UTF-8"))
        finally out.close()
      }
      val have: Set[String] = fs.listStatus(dir).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".bloom"))
        .map(_.stripSuffix(".bloom")).toSet
      val missing = dataFiles.filterNot(have.contains)
      skipped += (dataFiles.size - missing.size)
      if (missing.nonEmpty) {
        // size each file's filter for the LARGEST missing file — the
        // per-group aggregate takes one constant sizing; footers are
        // already cached driver-side
        val maxRows = math.max(1L,
          FooterCache.rowGroupsFor(
            missing.map(n => new Path(table, n).toString))
            .groupBy(_.file).map(_._2.map(_.rowCount).sum)
            .foldLeft(0L)(math.max))
        val numBits = optimalNumBits(maxRows, fpp)
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.graftbridge.ColumnBridge
        val bloomAgg = ColumnBridge.column(
          new BloomFilterAggregate(
            ColumnBridge.expression(xxhash64(col("`" +
              c.replace("`", "``") + "`"))),
            Literal(maxRows), Literal(numBits))
            .toAggregateExpression()).as("bloom")
        // `_file` IN (...) prunes the scan to the un-indexed files
        // BEFORE any footer work; one hash shuffle on the file name,
        // partial blooms merged map-side
        val missingPaths = missing.map(n =>
          fs.makeQualified(new Path(table, n)).toString)
        val perFile = df
          .select(col(GraftFileColumn.Name).as("__f"),
            col("`" + c.replace("`", "``") + "`"))
          .filter(col("__f").isin(missingPaths: _*))
          .groupBy(col("__f")).agg(bloomAgg)
        // write sidecars FROM THE EXECUTORS: only (#files) small
        // confirmation rows return to the driver
        val shipped = GraftHadoopConf.broadcast(
          spark.sessionState.newHadoopConf())
        val dirStr = dir.toString
        val written = perFile.select(col("__f"), col("bloom"))
          .rdd.map { row =>
            val fname = new Path(row.getString(0)).getName
            val bytes = row.getAs[Array[Byte]](1)
            val dfs = new Path(dirStr).getFileSystem(shipped.value.value)
            val tmp = new Path(dirStr,
              s".$fname.bloom.tmp-${java.util.UUID.randomUUID()}")
            val out = dfs.create(tmp, true)
            try out.write(bytes) finally out.close()
            val dst = new Path(dirStr, s"$fname.bloom")
            // files are immutable => any racing writer wrote the same
            // bytes; losing the rename is success
            if (!dfs.rename(tmp, dst)) dfs.delete(tmp, false)
            fname
          }.collect()
        indexed += written.length
      }
    }
    (indexed, skipped)
  }

  /** bits = -n ln p / (ln 2)^2, the standard optimal sizing. */
  private def optimalNumBits(n: Long, p: Double): Long =
    math.max(64L, (-n * math.log(p) / (math.log(2) * math.log(2))).toLong)

  /** `xxhash64` of an external literal, matching what [[build]]
    * inserted (same expression, same seed). None when the value
    * cannot be hashed (mismatched type, null). */
  private def hashLiteral(value: Any,
      dt: org.apache.spark.sql.types.DataType): Option[Long] = Try {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal.create(value, dt)), 42L)
      .eval(null).asInstanceOf[Long]
  }.toOption

  /** Sidecar cache: (path, len, mtime) -> deserialized filter.
    * Bounded; files are immutable so entries never go stale, only
    * cold. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, BloomFilter)]()
  private val CacheMax = 4096

  private def loadBloom(fs: FileSystem, p: Path): Option[BloomFilter] =
    Try {
      val st = fs.getFileStatus(p)
      val key = p.toString
      val hit = cache.get(key)
      if (hit != null && hit._1 == st.getLen &&
          hit._2 == st.getModificationTime) hit._3
      else {
        val in = fs.open(p)
        val bf = try BloomFilter.readFrom(in) finally in.close()
        if (cache.size() > CacheMax) cache.clear()
        cache.put(key, (st.getLen, st.getModificationTime, bf))
        bf
      }
    }.toOption

  /** The planning-time prune: the subset of `dataFiles` (NAMES) that
    * might satisfy every indexed equality conjunct in `filters`.
    * None when no conjunct is indexable — the scan keeps its list.
    * Sound: a file is only dropped when some conjunct's entire value
    * set is definitely absent; files without a sidecar always
    * survive. */
  def prune(spark: SparkSession, tablePath: String,
      dataFiles: Seq[String], filters: Seq[Filter],
      schema: StructType): Option[Seq[String]] = {
    if (filters.isEmpty || dataFiles.isEmpty) return None
    val table = new Path(tablePath)
    val fs = table.getFileSystem(GraftHadoopConf.sessionConf())
    val idxCols = indexedColumns(fs, table)
    if (idxCols.isEmpty) return None
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    // each top-level Filter is a CONJUNCT: a file where the whole
    // value set of any one conjunct is absent cannot produce a row
    val probes: Seq[(String, Seq[Long])] = filters.flatMap {
      case EqualTo(c, v) if idxCols.contains(c) && v != null =>
        byName.get(c).flatMap(dt =>
          hashLiteral(v, dt).map(h => c -> Seq(h)))
      // cap: a runtime DPP key set can be huge; past this size the
      // per-file probe cost (values x files until a hit) outweighs
      // the IO it saves, and min/max row-group pruning still applies
      case In(c, vs) if idxCols.contains(c) && vs.nonEmpty &&
          vs.length <= 8192 =>
        byName.get(c).flatMap { dt =>
          val nonNull = vs.filter(_ != null)
          if (nonNull.isEmpty) None
          else {
            val hs = nonNull.flatMap(v => hashLiteral(v, dt))
            // a value we cannot hash defeats the conjunct's prune
            if (hs.length != nonNull.length) None
            else Some(c -> hs.toSeq)
          }
        }
      case _ => None
    }
    if (probes.isEmpty) return None
    val maxDriver = Try(SparkSession.active.conf
      .get("spark.graft.bloom.driverPruneMax", "1024").toInt)
      .getOrElse(1024)
    def sidecar(c: String, fname: String): Path =
      new Path(colDir(table, c), s"$fname.bloom")
    val survivors =
      if (dataFiles.length <= maxDriver) {
        dataFiles.filter { fname =>
          probes.forall { case (c, hashes) =>
            loadBloom(fs, sidecar(c, fname)) match {
              case None => true // un-indexed file: keep
              case Some(bf) => hashes.exists(bf.mightContainLong)
            }
          }
        }
      } else {
        // distributed prune: ship (file, sidecar paths) out, return
        // surviving names only — never the filters themselves
        val shipped = GraftHadoopConf.broadcast(
          spark.sessionState.newHadoopConf())
        val probeList = probes.map { case (c, hs) =>
          (colDir(table, c).toString, hs.toArray)
        }
        spark.sparkContext
          .parallelize(dataFiles, math.max(1, dataFiles.length / 64))
          .filter { fname =>
            probeList.forall { case (cdir, hashes) =>
              val p = new Path(cdir, s"$fname.bloom")
              val dfs = p.getFileSystem(shipped.value.value)
              (Try {
                if (!dfs.exists(p)) true
                else {
                  val in = dfs.open(p)
                  val bf = try BloomFilter.readFrom(in)
                    finally in.close()
                  hashes.exists(bf.mightContainLong)
                }
              }).getOrElse(true)
            }
          }.collect().toSeq
      }
    Some(survivors)
  }
}
