package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 twin of the graft source (`format("graft-v2")`) — the
  * modern-API expression of the same pushdown contract the V1
  * [[graft.sources.GraftRelation]] re-derives from the reference:
  *
  *  - column pruning  -> `SupportsPushDownRequiredColumns`
  *    (reference JDBCRDDWithLimit.scala:36-40),
  *  - filter pushdown + residuals -> `SupportsPushDownFilters`
  *    (JDBCRDDWithLimit.scala:45-48 / JDBCRelationWithLimit.scala:29-31),
  *  - limit pushdown -> `SupportsPushDownLimit` with
  *    `isPartiallyPushed=true`, i.e. at most `limit` rows per partition
  *    and Spark keeps the global limit — exactly the reference rule's
  *    retained-`LocalLimit` contract (PropagateJDBCLimit.scala:26). In V2
  *    no custom optimizer rule is needed: Catalyst's
  *    `V2ScanRelationPushDown` drives these interfaces.
  *
  * Execution is a custom `PartitionReader` over parquet-mr: ONE INPUT
  * PARTITION PER ROW GROUP (the file's natural parallel unit — the
  * analog of the reference's one-query-per-`JDBCPartition`,
  * JDBCRDDWithLimit.scala:31), reading only the projected columns,
  * evaluating pushed filters source-side, stopping at `limit` rows.
  *
  * Scope: flat schemas of primitive columns (int/long/float/double/
  * boolean/string/binary/timestamp/date). Nested/array columns are the
  * V1 path's job; `inferSchema` rejects them with a clear error.
  */
class GraftSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-v2"

  private def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-v2 source requires a 'path' option"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // path-based reads resolve like the catalog: DROP/RENAME-mapped
    // tables see LOGICAL names, widened columns (ALTER COLUMN TYPE)
    // their WIDE marker type, marker-only evolved columns append —
    // falling back to the raw first-footer shape when no marker exists
    val p = new Path(path(options))
    val base = scala.util.Try(GraftCatalog.resolveSchema(
      p.getFileSystem(GraftHadoopConf.sessionConf()), p))
      .toOption.flatten.getOrElse(
        ParquetMeta.sparkSchema(path(options),
          GraftHadoopConf.sessionConf()))
    // change-feed reads append the change metadata to the shape
    if (options.getBoolean("readChangeFeed", false)) {
      GraftCdfStream.feedSchema(base)
    } else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val p = properties.get("path")
    if ("true".equalsIgnoreCase(
        String.valueOf(properties.getOrDefault("readChangeFeed", "false")))) {
      // streaming change data feed ([[GraftCdfStream]]): strip the
      // change metadata back off the inferred shape — the feed table
      // re-appends it
      val metaNames = Set(GraftCdf.ChangeType, GraftCdf.CommitVersion,
        GraftCdf.CommitTimestamp)
      val data = StructType(
        schema.fields.filterNot(f => metaNames.contains(f.name)))
      return GraftCdfTableV2(p, data,
        String.valueOf(properties.getOrDefault("startingVersion", "1"))
          .toLong,
        // "fail" (default) fail-stops on a COW rewrite; "batch" drains
        // it through the batch reconstruction as a spill-backed batch
        String.valueOf(properties.getOrDefault("cowFallback", "fail")))
    }
    // the bucket-layout marker travels with the data: path-based reads
    // honor it for BUCKET PRUNING. Key-grouped planning stays off here
    // (groupByBucket=false) — storage-partitioned joins need a catalog
    // to resolve the bucket() transform, so grouping a path read would
    // cut its parallelism to numBuckets and buy nothing.
    val spec = scala.util.Try {
      val path = new Path(p)
      graft.sources.BucketLayout.read(
        path.getFileSystem(GraftHadoopConf.sessionConf()), path)
    }.toOption.flatten
    // the hidden-partitioning marker travels with the data too: path
    // reads prune files from name-embedded value digests
    // ([[graft.sources.PartitionLayout]]) and path appends inherit the
    // value-clustered write contract
    val pspec = scala.util.Try {
      val path = new Path(p)
      graft.sources.PartitionLayout.read(
        path.getFileSystem(GraftHadoopConf.sessionConf()), path)
    }.toOption.flatten
    // marker-recorded CHECK constraints ride the path-based table too:
    // `ResolveTableConstraints` keys on `Table.constraints()`, not on
    // how the relation was resolved, so a `format("graft-v2")
    // .save(path)` append enforces the same invariants a catalog
    // INSERT does — closing the bypass where a path write could land
    // violating rows on a constrained table
    val checks = scala.util.Try {
      val path = new Path(p)
      GraftCatalog.readChecks(
        path.getFileSystem(GraftHadoopConf.sessionConf()), path)
    }.getOrElse(Nil)
    GraftTableV2(p, schema,
      vectorized = !"false".equalsIgnoreCase(
        String.valueOf(properties.getOrDefault("vectorized", "true"))),
      batchSize = String.valueOf(
        properties.getOrDefault("batchSize", "4096")).toInt,
      bucketSpec = spec, groupByBucket = false,
      partitionSpec = pspec,
      versionAsOf = Option(properties.get("versionAsOf")).map { raw =>
        val s = String.valueOf(raw)
        // numeric, else a tag name resolved against the table's
        // .graft-tags (same rule as the catalog's VERSION AS OF)
        try s.toLong catch {
          case _: NumberFormatException =>
            val dir = new Path(p)
            GraftTags.resolve(
              dir.getFileSystem(GraftHadoopConf.sessionConf()), dir, s)
              .getOrElse(throw new IllegalArgumentException(
                s"graft-v2: versionAsOf '$s' is neither a numeric " +
                s"manifest version nor a tag on $p"))
        }
      },
      checkConstraints = checks)
  }

  override def supportsExternalMetadata(): Boolean = true
}

case class GraftTableV2(path: String, tableSchema: StructType,
    vectorized: Boolean = true, batchSize: Int = 4096,
    bucketSpec: Option[graft.sources.BucketLayout] = None,
    groupByBucket: Boolean = true,
    versionAsOf: Option[Long] = None,
    checkConstraints: Seq[GraftCatalog.CheckSpec] = Nil,
    tableProps: Map[String, String] = Map.empty,
    partitionSpec: Option[graft.sources.PartitionLayout] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft-v2:${path.split('/').last}"

  /** User TBLPROPERTIES (marker `#prop=` lines) — surfaced to `SHOW
    * TBLPROPERTIES` / `DESCRIBE EXTENDED`. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    tableProps.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `_file` provenance + `_pos` row-ordinal columns (each shadowed
    * if the data really has one). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val file =
      if (tableSchema.fieldNames.contains(GraftFileColumn.Name)) None
      else Some(GraftFileColumn)
    val pos =
      if (tableSchema.fieldNames.contains(GraftPosColumn.Name)) None
      else Some(GraftPosColumn)
    (file.toSeq ++ pos.toSeq).toArray
  }

  /** SQL `UPDATE` / `MERGE INTO` (and non-translatable DELETEs), two
    * paths chosen per table:
    *
    *  - DELTA ([[GraftDeltaOperation]], flat tables, bucketed or
    *    not): rows addressed by `(_file, _pos)`; deletes become
    *    deletion-vector positions, updates a vector entry + a small
    *    insert file (bucket-suffixed on a bucketed layout) —
    *    point-mutation cost ∝ changed rows;
    *  - group-based copy-on-write ([[GraftRowLevelOperation]], nested
    *    tables): whole-file rewrite, which is what handles nested
    *    values.
    *
    * Translatable DELETEs stay on the metadata-only [[GraftDeleteV2]]
    * path via Spark's `OptimizeMetadataOnlyDeleteFromTable`. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (tableSchema.fieldNames.contains(GraftFileColumn.Name)) {
      // the operation's scan/write handshake rides the _file metadata
      // column, which a same-named data column shadows — fail at
      // analysis with a clear message rather than mis-binding
      throw new UnsupportedOperationException(
        s"graft-v2: row-level operations (UPDATE/MERGE/DELETE rewrite) " +
        s"need the ${GraftFileColumn.Name} metadata column, which a " +
        s"data column of the same name shadows in $path — rename it")
    }
    val deltaCapable =
      !tableSchema.fieldNames.contains(GraftPosColumn.Name) &&
      !tableSchema.fields.exists(f => ParquetMeta.isNested(f.dataType))
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        if (deltaCapable) {
          GraftDeltaOperation(path, tableSchema, info.command(),
            bucketSpec)
        } else {
          GraftRowLevelOperation(path, tableSchema, bucketSpec,
            info.command())
        }
    }
  }

  /** SQL `DELETE FROM` (and, via the interface's default wiring,
    * `TRUNCATE TABLE`): footer-stats file classification + bucket-
    * preserving boundary rewrite — see [[GraftDeleteV2]]. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    // a bucketed table with nested columns cannot take this path's
    // boundary rewrite (the flat per-file rewriter cannot copy nested
    // values; the DataFrame fallback would break the layout) — decline
    // so Spark routes the DELETE through the copy-on-write row-level
    // path, which handles both
    if (bucketSpec.isDefined && tableSchema.fields.exists(f =>
        ParquetMeta.isNested(f.dataType))) {
      return false
    }
    filters.forall {
      case _: org.apache.spark.sql.sources.AlwaysTrue |
           _: org.apache.spark.sql.sources.AlwaysFalse => true
      case f => graft.sources.PredicateFiles
        .supportsOverwrite(f, tableSchema)
    }
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And}
    if (filters.exists(_.isInstanceOf[AlwaysFalse])) return
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) { truncateTable(); () }
    else {
      GraftDeleteV2.deleteWhere(path, tableSchema,
        real.reduce[Filter](And(_, _)))
    }
  }

  override def truncateTable(): Boolean =
    GraftDeleteV2.truncate(path, tableSchema)
  override def schema(): StructType = tableSchema

  /** Marker-recorded CHECK constraints ([[GraftCatalog.CheckSpec]]):
    * Spark's `ResolveTableConstraints` wraps every catalog write's
    * rows in `CheckInvariant` for the enforced ones — INSERT, UPDATE
    * and MERGE all refuse a violating row before it lands. ADD
    * CONSTRAINT validates standing data first (catalog `alterTable`);
    * NULL predicates pass, per CHECK semantics. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] =
    checkConstraints.map { cs =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(cs.name).predicateSql(cs.predicateSql)
        .enforced(cs.enforced)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        .asInstanceOf[org.apache.spark.sql.connector.catalog
          .constraints.Constraint]
    }.toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
  /** Advertised clustering of a bucket-laid-out table (see
    * [[graft.sources.BucketLayout]]) — `DESCRIBE` surface; the scan's
    * `outputPartitioning` is what the planner consumes. */
  override def partitioning(): Array[Transform] = bucketSpec match {
    case Some(b) =>
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .bucket(b.numBuckets, b.bucketCols: _*))
    case None => partitionSpec match {
      case Some(p) => p.cols.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions
          .identity(c)).toArray
      case None => Array.empty
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilderV2(path, tableSchema, vectorized, batchSize,
      bucketSpec, groupByBucket,
      partitionSpec = partitionSpec,
      versionAsOf = versionAsOf.orElse(
        Option(options.get("versionAsOf")).map(_.toLong)),
      mergeRuns = options.getBoolean("mergeSortedRuns", false),
      streamIgnoreChanges =
        options.getBoolean("ignoreFileChanges", false),
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map(_.toInt)
          .getOrElse(-1))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (versionAsOf.isDefined) {
      throw new UnsupportedOperationException(
        s"graft-v2: $path pinned at VERSION AS OF ${versionAsOf.get} " +
        "is a read-only snapshot — write to the current table instead")
    }
    if (bucketSpec.isDefined && !groupByBucket) {
      // path-based writes can't resolve the bucket() transform the
      // bucketed write's required distribution names (no function
      // catalog) — route them through the layout-preserving sink
      throw new UnsupportedOperationException(
        s"graft-v2: $path has a bucketed layout (${bucketSpec.get}); " +
        "write through the catalog (INSERT INTO <catalog>.<table>) or " +
        "GraftSink.saveBucketedFiles so files keep their bucket ids")
    }
    new GraftWriteBuilderV2(path, info, bucketSpec, partitionSpec)
  }
}

class GraftScanBuilderV2(path: String, fullSchema: StructType,
    vectorizedRequested: Boolean, batchSize: Int = 4096,
    bucketSpec: Option[graft.sources.BucketLayout] = None,
    groupByBucket: Boolean = true,
    versionAsOf: Option[Long] = None,
    mergeRuns: Boolean = false,
    streamIgnoreChanges: Boolean = false,
    maxFilesPerTrigger: Int = -1,
    partitionSpec: Option[graft.sources.PartitionLayout] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  // NANOS timestamps have no vectorized mapping under this source's
  // schema (converted to micros row-side): auto-fall back to row mode.
  private val vectorized: Boolean =
    vectorizedRequested && !FooterCache.hasNanosTimestamp(path)

  /** The file set this scan will read, pinned ONCE per builder (query
    * planning time): the latest — or `versionAsOf` — manifest version
    * for a manifest-bearing table, None (plain listing) otherwise.
    * Both the footer-answered aggregate push and the built scan read
    * through this, so a query plans against one consistent version. */
  private lazy val snapshotState
      : Option[(Seq[String], Map[String, String])] = {
    val tdir = new Path(path)
    GraftManifest.snapshotState(
      tdir.getFileSystem(GraftHadoopConf.sessionConf()), tdir,
      versionAsOf).map { case (fs0, dvs) => (fs0.map(_.toString), dvs) }
  }

  private lazy val snapshotFiles: Option[Seq[String]] =
    snapshotState.map(_._1)

  /** The pinned version's deletion vectors (file name → sidecar name,
    * [[DeleteVectors]]). Non-empty ⇒ footer-derived aggregate answers
    * are wrong (they cannot see position deletes) and are declined. */
  private lazy val snapshotDvs: Map[String, String] =
    snapshotState.map(_._2).getOrElse(Map.empty)

  /** Per-file skip stats of the pinned version ([[SkipStats]]) —
    * read only when the table DECLARED skip columns, so undeclared
    * tables pay nothing at planning. */
  private lazy val snapshotSkipStats
      : Map[String, Map[String, SkipStats.ColStat]] = {
    val tdir = new Path(path)
    val tfs = tdir.getFileSystem(GraftHadoopConf.sessionConf())
    if (scala.util.Try(SkipStats.read(tfs, tdir))
        .getOrElse(Seq.empty).isEmpty) {
      Map.empty
    } else GraftManifest.snapshotFstats(tfs, tdir, versionAsOf)
  }

  private def builderRowGroups: Seq[FooterCache.RowGroupMeta] =
    snapshotFiles match {
      case Some(files) => FooterCache.rowGroupsFor(files)
      case None => FooterCache.rowGroups(path)
    }

  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  private var appendFile: Boolean = false
  private var appendPos: Boolean = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep file column order for the reader; Spark projects above
    val names = requiredSchema.fieldNames.toSet
    // `_file` / `_pos` are the table's metadata columns, not parquet
    // fields: strip them from the projection, the readers append them
    appendFile = names.contains(GraftFileColumn.Name) &&
      !fullSchema.fieldNames.contains(GraftFileColumn.Name)
    appendPos = names.contains(GraftPosColumn.Name) &&
      !fullSchema.fieldNames.contains(GraftPosColumn.Name)
    this.requiredSchema =
      StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  /** Two pushdown contracts:
    *  - row mode (`vectorized=false`): accepted filters are evaluated
    *    EXACTLY source-side ([[RowFilterEval]], SQL three-valued) and
    *    removed from Spark's plan — the reference's JDBC semantics
    *    (JDBCRelationWithLimit.scala:29-31).
    *  - vectorized mode (default): accepted filters drive row-group
    *    statistics pruning at planning time but remain residuals for
    *    Spark to re-evaluate above the scan — exactly how Spark's own
    *    parquet source treats its pushed filters. Batches flow through
    *    whole-stage codegen; no per-row source-side evaluation.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // point/IN predicates on the `_file` METADATA column prune the
    // file list before any footer is opened (the cheap targeted
    // re-read a pipeline runs after capturing `(key, _file)` pairs).
    // They are pruning-only: never handed to the row readers (the
    // column is not in the parquet data) and always returned as
    // residual — Spark re-evaluates them on the appended column.
    import org.apache.spark.sql.sources.{EqualTo, In}
    val fileColFree = !fullSchema.fieldNames.contains(GraftFileColumn.Name)
    def fileSet(f: Filter): Option[Set[String]] = f match {
      case EqualTo(GraftFileColumn.Name, v: String) if fileColFree =>
        Some(Set(v))
      case In(GraftFileColumn.Name, vs) if fileColFree &&
          vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet)
      case _ => None
    }
    val (fileFs, rest) = filters.partition(f => fileSet(f).isDefined)
    fileAllow = fileFs.flatMap(fileSet).reduceOption(_ intersect _)
    val (ok, rejected) = rest.partition(f =>
      RowFilterEval.supports(f, fullSchema))
    pushed = ok
    if (vectorized) filters else rejected ++ fileFs
  }
  override def pushedFilters(): Array[Filter] = pushed

  private var fileAllow: Option[Set[String]] = None

  override def pushLimit(limit: Int): Boolean = {
    this.limit = limit
    true // pushed — but only per-partition:
  }
  // shared by SupportsPushDownLimit and SupportsPushDownTopN: the source
  // caps each partition; Spark keeps the global limit / final sort
  override def isPartiallyPushed: Boolean = true

  private var topN: Array[(String, Boolean, Boolean)] = Array.empty
  private var topNLimit: Int = -1

  /** Top-k pushdown (both modes): each row group emits only its
    * `limit` best rows under the pushed ordering — a bounded heap over
    * the scan instead of materializing the group. Spark's retained
    * global sort+limit merges the per-partition winners, so a
    * `LIMIT 10` over an ordered 100 TB table ships 10 rows per row
    * group, not the table. Row mode evaluates pushed filters before
    * the heap; vectorized mode keeps every pushed filter as a residual
    * (a Filter node above the scan), and Spark only pushes TopN when
    * the Sort sits directly on the relation — the `pushed.isEmpty`
    * guard makes that invariant local rather than inherited. */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    if (vectorized && pushed.nonEmpty) return false
    val keys = orders.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          val name = nr.fieldNames()(0)
          val idx = fullSchema.fieldNames.indexOf(name)
          if (idx < 0 || fullSchema(idx).dataType == BinaryType) None
          else Some((name,
            so.direction() == SortDirection.ASCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.contains(None)) false
    else {
      topN = keys.flatten
      topNLimit = limit
      true
    }
  }

  private var pushedAgg: Option[(StructType, Array[Any], String)] = None

  /** Global COUNT(*) / COUNT(col) / MIN / MAX answered ENTIRELY from
    * cached footer metadata — zero data bytes read, zero tasks doing
    * I/O. At 100 TB this turns `SELECT count(*), max(ts) FROM t` from a
    * full scan into a driver-side metadata fold.
    *
    * Pushed filters are honored when the statistics FULLY DECIDE every
    * row group (each group provably all-match or none-match — the
    * typical case for predicates aligned with the data's natural
    * clustering, e.g. a time-range filter over time-ordered groups):
    * the fold then runs over the all-match groups only. Declined
    * whenever it could be wrong: any group undecided, group-by present,
    * string min/max (parquet truncates binary stats), or any row group
    * missing usable statistics (e.g. NaN-dropped). */
  override def pushAggregation(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = computeAgg(agg)
    pushedAgg.isDefined
  }
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation): Boolean = computeAgg(agg).isDefined

  private def computeAgg(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any], String)] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (agg.groupByExpressions.nonEmpty || limit >= 0 || topNLimit >= 0) {
      return None
    }
    // deletion vectors invalidate almost every footer-derived answer
    // (a min/max could be a deleted row's value; count(col) cannot
    // apportion the mask between null and non-null positions). The
    // one EXACT exception: COUNT(*) — footer rows minus the masks'
    // cardinality. Masks are per FILE, so pushed filters are honored
    // only when the statistics decide every file at FILE granularity:
    // a file whose row groups ALL provably all-match contributes its
    // physical rows minus its whole mask (deleted positions matched
    // too, so the subtraction is exact); a file whose row groups each
    // provably match nothing contributes zero live rows; any file
    // mixed or undecided cannot apportion its mask between matching
    // and non-matching rows and declines the push. Any sidecar that
    // fails to load declines rather than guessing.
    if (snapshotDvs.nonEmpty) {
      import org.apache.spark.sql.connector.expressions.aggregate.CountStar
      if (!agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])) {
        return None
      }
      val included = builderRowGroups.groupBy(_.file).map {
        case (file, rgs) =>
          if (pushed.forall(f => rgs.forall(RowGroupPruning.mustMatch(f, _)))) {
            Some(Some((file, rgs.map(_.rowCount).sum)))
          } else if (rgs.forall(rg =>
              pushed.exists(f => !RowGroupPruning.mayMatch(f, rg)))) {
            Some(None) // provably empty under the filters: excluded
          } else None // mixed/undecided file: mask unapportionable
      }.toSeq
      if (included.contains(None)) return None
      val conf = GraftHadoopConf.sessionConf()
      val live =
        try {
          included.flatten.flatten.foldLeft(0L) { case (acc, (file, rows)) =>
            val masked = snapshotDvs.get(new Path(file).getName) match {
              case Some(n) => DeleteVectors.load(new Path(
                DeleteVectors.dvDir(new Path(path)), n).toString, conf)
                .getLongCardinality
              case None => 0L
            }
            acc + math.max(0L, rows - masked)
          }
        } catch { case _: Throwable => return None }
      val fields = agg.aggregateExpressions.map(_ =>
        (StructField("count(*)", LongType, nullable = false),
          java.lang.Long.valueOf(live): Any))
      return Some((StructType(fields.map(_._1).toSeq),
        fields.map(_._2).toArray,
        fields.map(_._1.name)
          .mkString("[", ", ", "] (dv-adjusted)")))
    }
    def flatCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType)] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val i = fullSchema.fieldNames.indexOf(nr.fieldNames()(0))
        if (i < 0) None else Some((fullSchema(i).name, fullSchema(i).dataType))
      case _ => None
    }
    val allGroups = builderRowGroups
    // filter classification: keep only groups where EVERY pushed filter
    // provably holds for all rows; drop groups where some filter
    // provably holds for none; any undecided group kills the push
    val groups =
      if (pushed.isEmpty) allGroups
      else {
        val classified = allGroups.map { rg =>
          if (pushed.forall(RowGroupPruning.mustMatch(_, rg))) Some(Some(rg))
          else if (pushed.exists(f => !RowGroupPruning.mayMatch(f, rg))) {
            Some(None) // none-match: excluded, but still decided
          } else None // undecided
        }
        if (classified.contains(None)) return None
        classified.flatten.flatten
      }
    def statsFor(n: String) = groups.map(_.stats.get(n).map(_._1))
    // min/max only for types whose footer stats are exact and whose
    // internal value equals the stats value (no strings, no nested)
    def minMaxable(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | FloatType | DoubleType | BooleanType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    // footer timestamp stats are in each FILE's OWN unit; the readers
    // emit micros — normalize PER GROUP before any cross-file compare
    // (a raw fold across a MICROS file and a MILLIS file would pick
    // the smaller-unit value regardless of the actual instant). NANOS
    // floor-div matches the row converter's `/ 1000`.
    val unitsByCol =
      scala.collection.mutable.Map.empty[String, Map[String, TimeUnit]]
    def tsNormalize(n: String, dt: DataType, v: Any,
        file: String): Option[Any] =
      dt match {
        case TimestampType | TimestampNTZType =>
          unitsByCol.getOrElseUpdate(n,
            FooterCache.tsUnitByFile(path, n)).get(file).collect {
            case TimeUnit.MICROS => v
            case TimeUnit.MILLIS =>
              java.lang.Long.valueOf(v.asInstanceOf[java.lang.Long] * 1000L)
            case TimeUnit.NANOS =>
              java.lang.Long.valueOf(v.asInstanceOf[java.lang.Long] / 1000L)
          }
        case _ => Some(v)
      }
    def fold(n: String, dt: DataType, wantMin: Boolean): Option[Any] = {
      if (!minMaxable(dt)) return None
      val perGroup = statsFor(n).zip(groups).map { case (st, rg) =>
        st match {
          case Some(s) if s != null && !s.isEmpty =>
            if (s.hasNonNullValue) {
              val raw = if (wantMin) s.genericGetMin else s.genericGetMax
              tsNormalize(n, dt, raw, rg.file) match {
                case Some(v) => Right(Some(v))
                case None => Left(()) // unresolvable unit: decline
              }
            } else if (s.isNumNullsSet && s.getNumNulls == rg.rowCount) {
              Right(None) // genuinely all-null group: contributes nothing
            } else {
              Left(()) // e.g. NaN-dropped float stats: decline the push
            }
          case _ => Left(())
        }
      }
      if (perGroup.exists(_.isLeft)) return None // some group lacks stats
      val vals = perGroup.collect { case Right(Some(v)) => v }
      // an all-null column aggregates to SQL NULL; wrap so "usable but
      // null" is distinguishable from "decline"
      if (vals.isEmpty) Some(null)
      else {
        val winner = vals.reduce { (a, b) =>
          RowGroupPruning.statCmp(a, b) match {
            case Some(c) => if ((c <= 0) == wantMin) a else b
            case None => return None
          }
        }
        // a widened column's old files carry NARROW stat values
        // (Integer for an int→bigint file): normalize the winner to
        // the RESOLVED type the answer row declares
        Some((winner, dt) match {
          case (n: Number, LongType) =>
            java.lang.Long.valueOf(n.longValue())
          case (n: Number, IntegerType) =>
            java.lang.Integer.valueOf(n.intValue())
          case (n: Number, DoubleType) =>
            java.lang.Double.valueOf(n.doubleValue())
          case (n: Number, FloatType) =>
            java.lang.Float.valueOf(n.floatValue())
          case _ => winner
        })
      }
    }
    val totalRows = groups.map(_.rowCount).sum
    val computed: Array[Option[(StructField, Any)]] =
      agg.aggregateExpressions.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            java.lang.Long.valueOf(totalRows)))
        case c: Count if !c.isDistinct =>
          flatCol(c.column).flatMap { case (n, _) =>
            val nulls = statsFor(n).map {
              case Some(s) if s != null && s.isNumNullsSet => Some(s.getNumNulls)
              case _ => None
            }
            if (nulls.contains(None)) None
            else Some((StructField(s"count($n)", LongType, nullable = false),
              java.lang.Long.valueOf(totalRows - nulls.flatten.sum)))
          }
        case m: Min =>
          flatCol(m.column).flatMap { case (n, dt) =>
            fold(n, dt, wantMin = true)
              .map(v => (StructField(s"min($n)", dt), v))
          }
        case m: Max =>
          flatCol(m.column).flatMap { case (n, dt) =>
            fold(n, dt, wantMin = false)
              .map(v => (StructField(s"max($n)", dt), v))
          }
        case _ => None
      }
    if (computed.contains(None)) None
    else {
      val fields = computed.flatten
      Some((StructType(fields.map(_._1)), fields.map(_._2),
        fields.map(_._1.name).mkString("[", ", ", "]")))
    }
  }

  override def build(): Scan = {
    // `_pos` (physical row ordinals) is served in BOTH modes: the
    // vectorized readers append a computed raw-ordinal vector per
    // batch ([[OrdinalColumnVector]]); the row readers count raw
    // reads. Only genuine row mode (vectorized=false / NANOS
    // timestamps) is restricted to flat schemas.
    if (!vectorized) {
      requiredSchema.fields.find(f => ParquetMeta.isNested(f.dataType))
        .foreach { f =>
          throw new IllegalArgumentException(
            s"graft-v2 row mode supports flat primitive schemas only; " +
            s"column '${f.name}' is nested — drop vectorized=false " +
            "(nested columns read through the vectorized path)" +
            (if (vectorizedRequested) " and note NANOS timestamps force" +
              " row mode" else ""))
        }
    }
    // pin the file set NOW (scan build = query planning): a manifest-
    // bearing table reads its latest committed version — or the
    // `versionAsOf` one — and concurrent DML cannot tear the listing
    // (removed files resolve into .graft-archive). Manifest-free
    // tables keep plain listing semantics (None).
    GraftScanV2(path, requiredSchema, pushed, limit,
      vectorized,
      batchSize, topN, topNLimit, pushedAgg, bucketSpec, groupByBucket,
      appendFile, snapshotFiles, fileAllow, mergeRuns,
      streamIgnoreChanges, snapshotDvs, appendPos,
      maxFilesPerTrigger,
      partitionSpec = partitionSpec,
      // the partition columns' types resolve against the FULL schema:
      // a pushed filter's column may be outside the projection
      partitionTypes = partitionSpec.map(pl =>
        fullSchema.fields.filter(f => pl.cols.contains(f.name))
          .map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty),
      skipStats = snapshotSkipStats)
  }
}

/** The `_file` metadata column ([[SupportsMetadataColumns]]): absolute
  * path of the data file each row came from. Free to serve (it is a
  * per-partition constant), and it is what the group-based row-level
  * operations key their runtime group filtering on — the UPDATE/MERGE
  * analog of the reference's `xmin` system column
  * (ExtJdbcUtils.scala:301-329, rows addressed by a transaction id the
  * engine, not the user, maintains). */
object GraftFileColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val Name = "_file"
  override def name(): String = Name
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "absolute path of the data file the row came from"
}

/** `_pos` FILE-ORDINAL metadata column: the row's physical position
  * within its data file. `(_file, _pos)` is the engine-maintained ROW
  * ADDRESS the delta row-level operations key their deletion vectors
  * on ([[GraftDeltaOperation]]) — the same role as the reference's
  * `xmin` transaction-id addressing (ExtJdbcUtils.scala:301-329).
  * Served in BOTH read modes: the vectorized readers append a
  * computed raw-ordinal vector per batch ([[OrdinalColumnVector]],
  * composed under the deletion-vector selection view), the row-group
  * reader counts RAW reads — either way ordinals stay exact under
  * pushed filters, limits and deletion-vector skips, so delta
  * row-level scans keep batch-decode throughput. */
object GraftPosColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  val Name = "_pos"
  override def name(): String = Name
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = false
  override def comment(): String =
    "physical row ordinal within the row's data file"
}

case class GraftScanV2(path: String, projectedSchema: StructType,
    filters: Array[Filter], limit: Int, vectorized: Boolean = false,
    batchSize: Int = 4096,
    topN: Array[(String, Boolean, Boolean)] = Array.empty,
    topNLimit: Int = -1,
    pushedAgg: Option[(StructType, Array[Any], String)] = None,
    bucketSpec: Option[graft.sources.BucketLayout] = None,
    groupByBucket: Boolean = true,
    appendFile: Boolean = false,
    snapshot: Option[Seq[String]] = None,
    fileAllow: Option[Set[String]] = None,
    mergeRuns: Boolean = false,
    streamIgnoreChanges: Boolean = false,
    dvs: Map[String, String] = Map.empty,
    appendPos: Boolean = false,
    maxFilesPerTrigger: Int = -1,
    partitionSpec: Option[graft.sources.PartitionLayout] = None,
    partitionTypes: Map[String, DataType] = Map.empty,
    skipStats: Map[String, Map[String, SkipStats.ColStat]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with SupportsReportPartitioning
    with SupportsReportOrdering {

  /** Runtime (DPP-style) filters: delivered by Spark AFTER the build
    * side of a join has executed — e.g. the `In(o_orderkey, <built
    * keys>)` of a selective dimension join. They prune row groups
    * exactly like planning-time filters; at 100 TB this is the
    * difference between scanning the fact table and scanning the few
    * row groups whose stats admit the joined keys. Driver-side only
    * (planInputPartitions runs on the driver), so mutability is safe. */
  @transient private var runtimeFilters: Array[Filter] = Array.empty

  /** The row groups THIS scan covers: the pinned snapshot's files for
    * a manifest-bearing table, the directory listing otherwise. Every
    * planning-time consumer (statistics, partition planning, layout
    * validation, the sorted-run prover) reads through here, so a scan
    * is internally consistent about its file set. */
  /** `_file` pruning compares by file NAME, not full path: captured
    * `_file` values are FS-qualified (`file:/wh/t/part-x.parquet`)
    * while catalog/manifest paths are typically not, and a snapshot
    * may serve the file from `.graft-archive/` — names are job-unique
    * within a table, and the predicate itself stays residual, so the
    * name match is a sound (conservative) pruning superset. */
  private def fileNameSet(allowed: Set[String]): Set[String] =
    // Try: filter values are arbitrary strings (a runtime IN-set can
    // carry join-side data values — "" or colon-bearing text make
    // Path construction throw); an unparseable value matches no file
    allowed.flatMap(s => scala.util.Try(new Path(s).getName).toOption)

  @transient private lazy val scanRowGroups: Seq[FooterCache.RowGroupMeta] = {
    val base: Seq[String] = (snapshot, fileAllow) match {
      case (_, Some(allowed)) =>
        // `_file` pruning cuts the list BEFORE footer work: only the
        // named files' footers are ever opened
        val names = fileNameSet(allowed)
        snapshot.getOrElse(FooterCache.filePaths(path))
          .filter(p => names.contains(new Path(p).getName))
      case (Some(files), None) => files
      case (None, None) => FooterCache.filePaths(path)
    }
    // bloom-index prune ([[BloomIndex]]): pushed equality/IN
    // conjuncts on indexed columns drop files whose per-file filter
    // says the value set is definitely absent — ALSO before footer
    // work. No-op (None) on un-indexed tables/predicates; files
    // without a sidecar always survive.
    val files = scala.util.Try(BloomIndex.prune(SparkSession.active,
        path, base.map(p => new Path(p).getName), filters.toSeq,
        projectedSchema)).toOption.flatten match {
      case Some(keep) =>
        val ks = keep.toSet
        base.filter(p => ks.contains(new Path(p).getName))
      case None => base
    }
    // hidden-partitioning prune ([[graft.sources.PartitionLayout]]):
    // equality/IN/IS NULL conjuncts on the partition columns drop
    // files whose NAME-embedded value digests cannot match — the
    // listing-level skip a Hive `col=val/` layout buys, with zero
    // footer I/O. Un-tokenized files (compaction output, REPLACE
    // WHERE residue, pre-layout files) always survive; footer stats
    // below stay the exact backstop.
    val pvFiles = partitionSpec match {
      case Some(pl) =>
        val allowed = graft.sources.PartitionLayout.allowedTokens(
          pl, partitionTypes, filters.toSeq)
        if (allowed.isEmpty) files
        else files.filter(p => graft.sources.PartitionLayout.mayMatch(
          new Path(p).getName, pl, allowed))
      case None => files
    }
    // manifest-level data skipping ([[SkipStats]]): pushed RANGE (and
    // eq/in/null) conjuncts on declared columns drop files from the
    // LIST via the per-file stats the commit log already carries —
    // still zero footer I/O. Files without recorded stats survive;
    // footer row-group pruning below remains the exact backstop.
    val skipped = SkipStats.prune(pvFiles, skipStats, filters.toSeq)
    FooterCache.rowGroupsFor(skipped)
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val dataCols = projectedSchema.fields
      .filter(f => !ParquetMeta.isNested(f.dataType))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions
        .column(f.name))
    // `_file` accepts runtime IN-filters too (a join on captured
    // provenance narrows the scan to the named files)
    if (appendFile) {
      dataCols :+ org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftFileColumn.Name)
    } else dataCols
  }

  @transient private var runtimeFileSet: Option[Set[String]] = None

  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    runtimeFilters = filters.filter(RowFilterEval.supports(_, projectedSchema))
    // `_file` is file-path pruning ONLY when it is the appended
    // METADATA column (appendFile); a real data column of that name
    // takes the normal runtime-filter path above — treating its data
    // values as paths would prune every partition
    runtimeFileSet =
      if (!appendFile) None
      else filters.collect {
        case EqualTo(GraftFileColumn.Name, v: String) => Set(v)
        case In(GraftFileColumn.Name, vs)
            if vs.forall(_.isInstanceOf[String]) =>
          vs.map(_.asInstanceOf[String]).toSet
      }.reduceOption(_ intersect _)
  }

  override def readSchema(): StructType =
    pushedAgg.map(_._1).getOrElse {
      // append order mirrors production: the row reader emits `_pos`
      // with the data row; the `_file` wrapper appends last
      val withPos =
        if (appendPos) {
          projectedSchema.fields :+
            StructField(GraftPosColumn.Name, LongType, nullable = false)
        } else projectedSchema.fields
      if (appendFile) {
        StructType(withPos :+
          StructField(GraftFileColumn.Name, StringType, nullable = false))
      } else StructType(withPos)
    }

  /** Footer-derived stats (row count + byte size) so Catalyst can make
    * broadcast decisions for graft-v2 tables — without this the scan
    * reports unknown size and dim joins never broadcast. They count
    * the row groups the scan schedules ([[plannedRowGroups]]), so a
    * selective range lookup reports its share, not the table — unless
    * ANALYZE column stats ride along: those describe every row of the
    * listed files, and CBO applies the pushed filters to them again,
    * so the count stays the unpruned one the filter estimate expects.
    * Served from the footer cache: the footers are opened once per
    * file per driver (in parallel), not once per query per planning
    * step. */
  override def estimateStatistics(): Statistics = {
    // ANALYZE-computed per-column NDV/null counts ([[GraftStats]]):
    // reported for the projected columns so
    // DataSourceV2Relation.transformV2Stats feeds them to CBO.
    // Advisory (they age until the next analyze); numRows above stays
    // footer-exact per scan.
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      scala.util.Try(GraftStats.read(
        new Path(path).getFileSystem(GraftHadoopConf.sessionConf()),
        new Path(path))).toOption.flatten
        // drift gate: when the table's row count has moved past
        // `spark.graft.stats.maxDrift` (fraction, default 1.0 = 100%)
        // since the sidecar was computed, WITHHOLD the aged column
        // stats rather than feed CBO numbers that are now wrong-shaped
        // — numRows above stays footer-exact either way
        .filter { ts =>
          val maxDrift = scala.util.Try(SparkSession.active.conf
            .get("spark.graft.stats.maxDrift", "1.0").toDouble)
            .getOrElse(1.0)
          maxDrift <= 0 ||
            math.abs(listedRows - ts.rows).toDouble /
              math.max(ts.rows, 1L) <= maxDrift
        }
        .foreach { ts =>
        // stored as double; the estimator needs the COLUMN's boxed
        // type (EstimationUtils casts per dataType)
        def boxed(d: Double, dt: DataType): Object = dt match {
          case ByteType => java.lang.Byte.valueOf(d.toByte)
          case ShortType => java.lang.Short.valueOf(d.toShort)
          case IntegerType => java.lang.Integer.valueOf(d.toInt)
          case LongType => java.lang.Long.valueOf(d.toLong)
          case FloatType => java.lang.Float.valueOf(d.toFloat)
          case DoubleType => java.lang.Double.valueOf(d)
          case _ => null
        }
        projectedSchema.fields.foreach { f =>
          val c = f.name
          ts.cols.get(c).foreach { cs =>
            m.put(org.apache.spark.sql.connector.expressions
              .Expressions.column(c),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def min(): java.util.Optional[Object] =
                  cs.min.map(boxed(_, f.dataType)).filter(_ != null)
                    .map(java.util.Optional.of[Object])
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  cs.max.map(boxed(_, f.dataType)).filter(_ != null)
                    .map(java.util.Optional.of[Object])
                    .getOrElse(java.util.Optional.empty[Object]())
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(cs.distinct)
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(cs.nulls)
                override def avgLen(): java.util.OptionalLong =
                  if (cs.avgLen < 0) java.util.OptionalLong.empty()
                  else java.util.OptionalLong.of(cs.avgLen)
                override def maxLen(): java.util.OptionalLong =
                  if (cs.maxLen < 0) java.util.OptionalLong.empty()
                  else java.util.OptionalLong.of(cs.maxLen)
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats
                      .Histogram] =
                  cs.hist match {
                    case None => java.util.Optional.empty()
                    case Some(h) => java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats
                        .Histogram {
                        override def height(): Double = h.height
                        override def bins(): Array[
                            org.apache.spark.sql.connector.read
                              .colstats.HistogramBin] =
                          h.bins.map { b =>
                            new org.apache.spark.sql.connector.read
                              .colstats.HistogramBin {
                              override def lo(): Double = b.lo
                              override def hi(): Double = b.hi
                              override def ndv(): Long = b.ndv
                            }
                          }.toArray
                      })
                  }
              })
          }
        }
      }
      m
    }
    val counted = if (colStats.isEmpty) plannedRowGroups() else scanRowGroups
    val (fr, fb) = (liveRows(counted), counted.map(_.totalByteSize).sum)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(fb)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(fr)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics] = colStats
    }
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val lim = if (limit >= 0) s", PushedLimit: $limit" else ""
    val tn = if (topNLimit >= 0)
      s", PushedTopN: ${topN.map(t => s"${t._1} ${if (t._2) "ASC" else "DESC"}")
        .mkString("[", ", ", "]")} LIMIT $topNLimit"
    else ""
    val ag = pushedAgg.map(a => s", PushedAggregates: ${a._3} (footer-only)")
      .getOrElse("")
    val ff = fileAllow.map(s => s", PushedFileFilter: ${s.size} file(s)")
      .getOrElse("")
    val dv = if (dvs.isEmpty) "" else s", DeleteVectors: ${dvs.size} file(s)"
    s"GraftScanV2 ${path.split('/').last}, " +
      s"PushedFilters: [${filters.mkString(", ")}]$lim$tn$ag$ff$dv, " +
      s"ReadSchema: ${readSchema().catalogString}" +
      (if (vectorized) ", Vectorized: true" else "")
  }

  /** The row groups the scan schedules: [[scanRowGroups]] (the
    * planning-time file prunes) narrowed by runtime `_file` sets, the
    * runtime bloom / partition-token / skip-stat probes, footer
    * min/max stats and bucket pruning. Partitions and statistics both
    * come from here. */
  private def plannedRowGroups(): Seq[FooterCache.RowGroupMeta] = {
    val groups = runtimeFileSet match {
      // runtime `_file` filters arrive after footers are cached —
      // they prune row groups, not the footer walk (name match, same
      // qualification rationale as fileNameSet)
      case Some(allowed) =>
        val names = fileNameSet(allowed)
        scanRowGroups.filter(rg =>
          names.contains(new Path(rg.file).getName))
      case None => scanRowGroups
    }
    // runtime (DPP-style) equality/IN sets bloom-prune FILES too — a
    // selective dim join's built key set drops every fact file whose
    // filter proves the keys absent, the lookup-join analog of the
    // planning-time prune in scanRowGroups (which already handled the
    // pushed filters; only the runtime arrivals are probed here)
    val bloomGroups =
      if (runtimeFilters.isEmpty) groups
      else scala.util.Try(BloomIndex.prune(SparkSession.active, path,
          groups.map(rg => new Path(rg.file).getName).distinct,
          runtimeFilters.toSeq, projectedSchema)).toOption.flatten match {
        case Some(keep) =>
          val ks = keep.toSet
          groups.filter(rg => ks.contains(new Path(rg.file).getName))
        case None => groups
      }
    val pruning = filters ++ runtimeFilters
    val kept =
      if (pruning.isEmpty) bloomGroups
      else bloomGroups.filter(rg =>
        pruning.forall(RowGroupPruning.mayMatch(_, rg)))
    // bucket pruning: a point/in/null predicate (planning-time or
    // runtime DPP) on the bucket key narrows the scan to the buckets
    // its values hash into — 1/n of the table per point, independent
    // of min/max stats (which a hash defeats by design)
    val bucketKept = bucketLayoutUsable match {
      case Some(b) =>
        graft.sources.BucketLayout.allowedBuckets(b, pruning.toSeq) match {
          case Some(allowed) => kept.filter { rg =>
            // a file that lost its bucket id (e.g. appended between
            // layout validation and this listing) proves nothing —
            // keep it, pruning may only drop provable non-matches
            val name = new Path(rg.file).getName
            graft.sources.BucketLayout.bucketIdOf(name)
              .forall(allowed.contains)
          }
          case None => kept
        }
      case None => kept
    }
    // runtime (DPP) equality/IN sets prune partition-token files too
    // — the planning-time conjuncts were already applied in
    // scanRowGroups; only the runtime arrivals are probed here
    val pvKept = partitionSpec match {
      case Some(pl) if runtimeFilters.nonEmpty =>
        val allowed = graft.sources.PartitionLayout.allowedTokens(
          pl, partitionTypes, runtimeFilters.toSeq)
        if (allowed.isEmpty) bucketKept
        else bucketKept.filter(rg =>
          graft.sources.PartitionLayout.mayMatch(
            new Path(rg.file).getName, pl, allowed))
      case _ => bucketKept
    }
    // runtime (DPP) filters probe the manifest skip stats too
    if (runtimeFilters.isEmpty || skipStats.isEmpty) pvKept
    else pvKept.filter { rg =>
      skipStats.get(new Path(rg.file).getName).forall(st =>
        runtimeFilters.forall(SkipStats.mayMatch(_, st)))
    }
  }

  /** Rows of the files the listing-level prunes keep (bloom, partition
    * tokens, manifest skip stats), before footer row-group pruning. */
  private[v2] def listedRows: Long = liveRows(scanRowGroups)

  /** Footer rows of `groups` minus the deletion-vector positions of
    * their files (sidecars are tiny and cached). */
  private def liveRows(groups: Seq[FooterCache.RowGroupMeta]): Long = {
    val rows = groups.map(_.rowCount).sum
    if (dvs.isEmpty) rows
    else {
      val files = groups.map(rg => new Path(rg.file).getName).toSet
      math.max(0L, rows - DeleteVectors.cardinality(new Path(path),
        dvs.collect { case (f, d) if files.contains(f) => d },
        GraftHadoopConf.sessionConf()))
    }
  }

  /** One partition per surviving row group. Pushed filters prune row
    * groups on the DRIVER from cached footer min/max statistics — the
    * parquet analog of the DB evaluating the pushed WHERE before
    * shipping rows: a 100 TB scan with a selective range predicate
    * schedules only the groups whose stats admit a match. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (pushedAgg.isDefined) {
      // footer-only answer: one synthetic partition, no file I/O
      return Array(GraftInputPartition("", -1, 0L, 0L))
    }
    val parts = plannedRowGroups().map(mkPartition)
    bucketGrouping match {
      case Some(b) =>
        // one partition per bucket, ALL buckets present (empty ones
        // too) so both sides of a co-located join expose identical
        // partition-value sets regardless of pruning
        val byBucket = Array.fill(b.numBuckets)(
          scala.collection.mutable.ArrayBuffer.empty[GraftInputPartition])
        parts.foreach { p =>
          val name = new Path(p.file).getName
          graft.sources.BucketLayout.bucketIdOf(name)
            .filter(_ < b.numBuckets) match {
            case Some(bucket) => byBucket(bucket) += p
            case None =>
              // key-grouped output already promised each partition
              // holds only its bucket's rows; a rogue file (appended
              // after layout validation) cannot be placed anywhere
              // without corrupting co-located join results — fail
              // loudly instead
              throw new IllegalStateException(
                s"graft-v2: $name in $path carries no valid bucket id " +
                s"for ${b}; the directory changed after planning — " +
                "re-run the query (and write through " +
                "GraftSink.saveBucketedFiles only)")
          }
        }
        byBucket.zipWithIndex.map { case (ps, bucket) =>
          // when the sorted-run prover holds, emit files in stat
          // order (row groups keep file order within) so the
          // concatenation IS the ordering outputOrdering reports
          val ordered = sortedRunOrder match {
            case Some(order) =>
              val rank = order.getOrElse(bucket, Seq.empty)
                .zipWithIndex.toMap
              ps.sortBy(p => (rank.getOrElse(p.file, Int.MaxValue),
                p.rowGroup))
            case None => ps
          }
          GraftBucketedPartition(bucket, ordered.toArray): InputPartition
        }
      case None => parts.toArray
    }
  }

  /** Partition construction, deletion-vector aware: a row group of a
    * DV'd file carries the sidecar's absolute path and its starting
    * file ordinal, so the innermost readers skip deleted positions.
    * Prefix sums run over the file's COMPLETE group list
    * (scanRowGroups prunes whole files only), so ordinals are exact
    * even when stats pruning later drops sibling groups. */
  @transient private lazy val dvRowStarts: Map[(String, Int), Long] =
    if (dvs.isEmpty) Map.empty
    else DeleteVectors.rowStarts(
      scanRowGroups.filter(rg => dvs.contains(new Path(rg.file).getName)))

  /** DROP/RENAME column mapping of the table (empty for the common
    * unmapped case) + the per-file logical→physical maps for every
    * name this scan touches (projection, filters, sort keys). */
  @transient private lazy val colRenames: Map[String, String] =
    scala.util.Try {
      val tdir = new Path(path)
      GraftCatalog.readMapping(
        tdir.getFileSystem(GraftHadoopConf.sessionConf()), tdir).renames
    }.getOrElse(Map.empty)

  @transient private lazy val fileNameMaps
      : Map[String, Map[String, String]] =
    if (colRenames.isEmpty) Map.empty
    else {
      val requested = (projectedSchema.fieldNames ++
        filters.flatMap(_.references) ++ topN.map(_._1)).distinct.toSeq
      scanRowGroups.map(_.file).distinct.map(f =>
        f -> PhysicalNames.mapFor(f, requested, colRenames)).toMap
    }

  /** `_pos` needs every partition's starting FILE ordinal, not just
    * the DV'd ones. */
  @transient private lazy val posRowStarts: Map[(String, Int), Long] =
    if (!appendPos) Map.empty else DeleteVectors.rowStarts(scanRowGroups)

  private def mkPartition(rg: FooterCache.RowGroupMeta)
      : GraftInputPartition = {
    val nm =
      if (colRenames.isEmpty) Map.empty[String, String]
      else fileNameMaps.getOrElse(rg.file, Map.empty)
    val dvName =
      if (dvs.isEmpty) None else dvs.get(new Path(rg.file).getName)
    dvName match {
      case Some(d) =>
        GraftInputPartition(rg.file, rg.index, rg.startingPos,
          rg.compressedBytes,
          dvFile = new Path(DeleteVectors.dvDir(new Path(path)),
            d).toString,
          rowStart = dvRowStarts.getOrElse((rg.file, rg.index), 0L),
          nameMap = nm)
      case None =>
        GraftInputPartition(rg.file, rg.index, rg.startingPos,
          rg.compressedBytes,
          rowStart =
            if (appendPos) posRowStarts.getOrElse((rg.file, rg.index), 0L)
            else 0L,
          nameMap = nm)
    }
  }

  private object SortAbort extends scala.util.control.ControlThrowable

  /** The marker's layout, verified against the files: every data file
    * must carry a parseable bucket id below the marker's count, else
    * neither pruning nor grouping can trust the layout. */
  private lazy val bucketLayoutUsable: Option[graft.sources.BucketLayout] =
    bucketSpec.filter { b =>
      scanRowGroups.forall { rg =>
        graft.sources.BucketLayout.bucketIdOf(new Path(rg.file).getName)
          .exists(_ < b.numBuckets)
      }
    }

  /** Bucket-clustered planning is on only when it can pay for itself:
    * `spark.sql.sources.v2.bucketing.enabled` holds (Spark 4's
    * default — the same knob its storage-partitioned join requires)
    * and the scan is a real row scan (not a footer-answered
    * aggregate) — anything else falls back to per-row-group
    * partitions, trading the shuffle win back for full parallelism.
    * Bucket PRUNING (above) needs no opt-in: it only removes files
    * that provably hold no matching row. */
  private lazy val bucketGrouping: Option[graft.sources.BucketLayout] =
    bucketLayoutUsable.filter { _ =>
      groupByBucket &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      pushedAgg.isEmpty
    }

  /** Sorted-bucket ordering: when the layout carries `sortCols` and
    * each bucket's files form provably NON-OVERLAPPING sorted runs
    * (footer stats: strictly disjoint [min,max] ranges on the first
    * sort column), concatenating the files in stat order IS the
    * bucket's sort order — report it, and the sorts on both sides of
    * a co-located sort-merge join disappear along with the exchanges.
    * A single file per bucket (one Overwrite) is the trivial case;
    * time-ordered appends (each batch past the previous one) keep the
    * property across any number of files, at zero read cost — no
    * merge, the vectorized concat just runs in stat order. Declined
    * when runs may interleave (rewrite then, or pay the sort), for
    * pushed top-k (the bounded heap re-orders emission), and for sort
    * columns pruned from the projection (unresolvable). */
  override def outputOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] =
    bucketOrdering

  /** Per bucket: its files in an order whose concatenation is sorted
    * on the layout's sortCols — None when any bucket cannot be
    * proven from footer statistics. */
  private lazy val sortedRunOrder: Option[Map[Int, Seq[String]]] =
    bucketGrouping match {
      case Some(b) if b.sortCols.nonEmpty =>
        val col = b.sortCols.head
        // timestamp stats are in each file's own unit; mixed units
        // make raw cross-file bounds incomparable
        val tsMixed = projectedSchema.fields.find(_.name == col)
          .map(_.dataType).exists {
            case TimestampType | TimestampNTZType =>
              FooterCache.tsUnits(path, col).size > 1
            case _ => false
          }
        if (tsMixed) None
        else {
          val byBucket = scanRowGroups.groupBy(rg =>
            graft.sources.BucketLayout.bucketIdOf(new Path(rg.file).getName))
          if (byBucket.keys.exists(_.isEmpty)) None
          else {
            val ordered = byBucket.toSeq.map { case (bucket, rgs) =>
              orderRuns(col, rgs).map(bucket.get -> _)
            }
            if (ordered.exists(_.isEmpty)) None
            else Some(ordered.flatten.toMap)
          }
        }
      case _ => None
    }

  /** One bucket's files ordered into provably disjoint sorted runs:
    * strict `max(prev) < min(next)` on the first sort column (an equal
    * boundary could interleave on the remaining sort columns), and
    * nulls — which sort FIRST under the reported ascending order —
    * only in the first run. */
  private def orderRuns(col: String,
      rgs: Seq[FooterCache.RowGroupMeta]): Option[Seq[String]] = {
    val files = rgs.map(_.file).distinct
    if (files.lengthCompare(1) <= 0) return Some(files)
    final case class Run(file: String, min: Any, max: Any, nulls: Long)
    def pick(vs: Seq[Any], wantMin: Boolean): Option[Any] = {
      var acc = vs.head
      var ok = true
      vs.tail.foreach { x =>
        if (ok) RowGroupPruning.statCmp(acc, x) match {
          case Some(c) => if ((c <= 0) != wantMin) acc = x
          case None => ok = false
        }
      }
      if (ok) Some(acc) else None
    }
    val byFile = rgs.groupBy(_.file)
    val runs = files.map { f =>
      val bs = byFile(f).map(RowGroupPruning.boundsOf(_, col))
      if (bs.exists(_.isEmpty)) None
      else {
        val flat = bs.flatten
        for {
          mn <- pick(flat.map(_._1), wantMin = true)
          mx <- pick(flat.map(_._2), wantMin = false)
        } yield Run(f, mn, mx, flat.map(_._3).sum)
      }
    }
    if (runs.exists(_.isEmpty)) return None
    val rs = runs.flatten
    val sorted =
      try rs.sortWith { (a, b) =>
        RowGroupPruning.statCmp(a.min, b.min) match {
          case Some(c) => c < 0
          case None => throw SortAbort
        }
      } catch { case SortAbort => return None }
    val disjoint = sorted.sliding(2).forall {
      case Seq(a, b) =>
        RowGroupPruning.statCmp(a.max, b.min).exists(_ < 0)
      case _ => true
    }
    if (disjoint && sorted.drop(1).forall(_.nulls == 0L)) {
      Some(sorted.map(_.file))
    } else None
  }

  /** OVERLAPPING sorted runs, merged at read time: when footer stats
    * cannot prove disjoint runs, the `mergeSortedRuns` read option
    * buys the ordering report back by k-way merging each bucket's
    * per-file sorted runs inside the partition — row-mode readers (a
    * priority queue cannot consume columnar batches) and a per-row
    * copy, so it costs real read throughput; that is why it is opt-in
    * while the stat-proof path (zero cost) is the default. Declined
    * whenever the merged order would not be the reported one: pushed
    * top-k or limit (bounded emission re-orders), footer-answered
    * aggregates, sort columns off the projection, nested columns (no
    * row-mode converter). `_pos` rides the COLUMNAR merge fine — each
    * per-file vectorized reader appends its own raw-ordinal vector
    * before the merge slices batches, so ordinals survive the
    * interleave — but declines the ROW-mode merge, whose factory
    * builds per-file readers without the ordinal channel. */
  private lazy val mergeActive: Boolean =
    mergeRuns && topNLimit < 0 && limit < 0 && pushedAgg.isEmpty &&
      sortedRunOrder.isEmpty && (!appendPos || vectorized) &&
      bucketGrouping.exists(b => b.sortCols.nonEmpty &&
        b.sortCols.forall(projectedSchema.fieldNames.contains)) &&
      !projectedSchema.fields.exists(f => ParquetMeta.isNested(f.dataType))

  private lazy val bucketOrdering: Array[
      org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    bucketGrouping match {
      case Some(b) if b.sortCols.nonEmpty && topNLimit < 0 &&
          b.sortCols.forall(projectedSchema.fieldNames.contains) &&
          (sortedRunOrder.isDefined || mergeActive) =>
        // sortWithinPartitions default: ascending, nulls first
        b.sortCols.map(c =>
          Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING)).toArray
      case _ => Array.empty
    }
  }

  /** Storage-partitioned-join contract: the scan's output is
    * key-grouped by `bucket(n, cols)` — with the catalog's `bucket`
    * function resolving the transform, Catalyst plans equi-joins
    * between two identically-bucketed graft tables with NO shuffle
    * exchange on either side. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketGrouping match {
      case Some(b) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(b.numBuckets, b.bucketCols: _*)),
            b.numBuckets)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Streaming face: tail the directory as a micro-batch source — new
    * parquet files are the commit unit (the files arrive whole, like
    * the reference's cursor pages). The offset is a constant-size log
    * id; the seen-file set lives in a compacted side log under the
    * stream's checkpoint location (see [[GraftFileLog]]). Pushed
    * filters still prune row groups per batch. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(path, checkpointLocation, this)

  override def createReaderFactory(): PartitionReaderFactory = {
    if (mergeActive) {
      val sortCols = bucketGrouping.map(_.sortCols).getOrElse(Nil)
      val ords = sortCols.map(projectedSchema.fieldIndex).toArray
      val dts = ords.map(projectedSchema.fields(_).dataType)
      if (vectorized) {
        // merged-run buckets, COLUMNAR: slice-emitting k-way merge
        // over the vectorized readers — sort-free SMJ WITHOUT giving
        // up batch decode ([[KWayBatchMergeReader]])
        val raw = createBaseReaderFactory()
        val base = if (appendFile) FileAppendReaderFactory(raw) else raw
        return BucketBatchMergeReaderFactory(base, ords, dts)
      }
      // row-mode fallback: per-row merge over the parquet-mr readers
      val row = GraftReaderFactory(projectedSchema, filters, -1,
        Array.empty, -1,
        GraftHadoopConf.broadcast(GraftHadoopConf.sessionConf()))
      val base = if (appendFile) FileAppendReaderFactory(row) else row
      return BucketMergeReaderFactory(base, ords, dts)
    }
    val raw = createBaseReaderFactory()
    // `_file` metadata column: a per-partition constant appended by a
    // wrapping reader (the partition knows its file)
    val base = if (appendFile) FileAppendReaderFactory(raw) else raw
    // bucketed batch scans deliver GraftBucketedPartition bundles; the
    // wrapper unrolls them over the same per-row-group readers (and
    // passes bare partitions through untouched, e.g. the micro-batch
    // stream's, which shares this factory)
    if (bucketGrouping.isDefined) BucketConcatReaderFactory(base) else base
  }

  private def createBaseReaderFactory(): PartitionReaderFactory = {
    pushedAgg match {
      case Some((_, values, _)) => return GraftAggReaderFactory(values)
      case None => ()
    }
    if (!vectorized) {
      // `_pos` + pushed top-k don't mix (heap rows lose their ordinal
      // at projection time): drop the per-partition top-k optimization
      // — Spark's retained global sort+limit keeps results correct
      val (tn, tnLim) =
        if (appendPos) (Array.empty[(String, Boolean, Boolean)], -1)
        else (topN, topNLimit)
      GraftReaderFactory(projectedSchema, filters, limit, tn, tnLim,
        GraftHadoopConf.broadcast(GraftHadoopConf.sessionConf()),
        appendPos)
    } else {
      // driver-side: snapshot the session's parquet read configuration
      // for the executor-side vectorized readers
      val spark = SparkSession.active
      val conf = spark.sessionState.newHadoopConf()
      conf.set("org.apache.spark.sql.parquet.row.requested_schema",
        projectedSchema.json)
      conf.set("parquet.read.support.class",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
      conf.setIfUnset("spark.sql.parquet.binaryAsString", "false")
      conf.setIfUnset("spark.sql.parquet.int96AsTimestamp", "true")
      conf.setIfUnset("spark.sql.caseSensitive", "false")
      conf.setIfUnset("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      conf.setIfUnset("spark.sql.legacy.parquet.nanosAsLong", "false")
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      if (topNLimit >= 0 && topN.nonEmpty && !appendPos) {
        // columnar decode, bounded heap, row emit: k rows per row
        // group is not a columnar-friendly volume, so the factory
        // reports no columnar support and Spark plans a row scan.
        // `_pos` + pushed top-k don't mix (heap rows lose their
        // ordinal) — same drop as row mode; Spark's retained global
        // sort+limit keeps results correct
        GraftVectorTopNReaderFactory(GraftHadoopConf.broadcast(conf),
          projectedSchema, tz, batchSize, topN, topNLimit)
      } else {
        GraftVectorReaderFactory(GraftHadoopConf.broadcast(conf),
          projectedSchema, limit, tz, batchSize, appendPos)
      }
    }
  }
}

/** One parquet row group = one partition (file offset + byte span pin
  * the group: parquet-mr's range filter keeps groups whose MIDPOINT is
  * inside the range, so the span must cover the group).
  *
  * `dvFile`/`rowStart`: set when the pinned snapshot carries a
  * deletion vector for this file ([[DeleteVectors]]) — the sidecar's
  * absolute path and this row group's starting FILE ordinal, so the
  * readers can skip deleted positions at the innermost layer (before
  * any filter/limit disturbs physical ordinals). */
case class GraftInputPartition(file: String, rowGroup: Int,
    startingPos: Long, byteLen: Long,
    dvFile: String = null, rowStart: Long = 0L,
    nameMap: Map[String, String] = Map.empty) extends InputPartition

/** All row groups of one bucket, as one partition whose key is the
  * bucket id — the `HasPartitionKey` half of the storage-partitioned
  * join contract ([[GraftScanV2.outputPartitioning]] is the other). */
case class GraftBucketedPartition(bucket: Int,
    parts: Array[GraftInputPartition])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    parts.flatMap(_.preferredLocations()).distinct
}

/** Unrolls a [[GraftBucketedPartition]] over a per-row-group factory:
  * sub-readers are opened lazily one at a time and closed before the
  * next opens, so a bucket of many row groups holds one reader's
  * resources, same as the unbucketed plan. Bare partitions (the
  * streaming path) pass straight through. */
/** Appends the `_file` metadata column: each partition pins one file,
  * so the value is a per-partition constant — a [[JoinedRow]] view in
  * row mode (zero copy), a [[ConstantColumnVector]] in columnar mode
  * (zero per-row work, stays inside whole-stage codegen). */
case class FileAppendReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.JoinedRow
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.vectorized.ColumnVector

  // the reported value is the LOGICAL table-root path even when the
  // partition physically reads an `.graft-archive/` twin (a pinned
  // snapshot after a later commit archived the file): provenance must
  // be snapshot-deterministic, and captured values must keep matching
  // residual `_file` equality predicates against the root spelling
  private def fileOf(p: InputPartition): String = p match {
    case g: GraftInputPartition =>
      GraftManifest.logicalPath(new Path(g.file)).toString
    case other => throw new IllegalStateException(
      s"graft-v2 _file: unexpected partition $other")
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val base = inner.createReader(partition)
    val fileRow = new GenericInternalRow(
      Array[Any](UTF8String.fromString(fileOf(partition))))
    new PartitionReader[InternalRow] {
      private val joined = new JoinedRow
      override def next(): Boolean = base.next()
      override def get(): InternalRow = joined(base.get(), fileRow)
      override def close(): Unit = base.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val base = inner.createColumnarReader(partition)
    val file = UTF8String.fromString(fileOf(partition))
    new PartitionReader[ColumnarBatch] {
      // the vectorized reader reuses its batch object, so the wrapper
      // is allocated once and only re-built if the inner identity
      // changes — zero per-batch garbage on the hot path
      private var const: ConstantColumnVector = _
      private var lastInner: ColumnarBatch = _
      private var wrapped: ColumnarBatch = _
      override def next(): Boolean = base.next()
      override def get(): ColumnarBatch = {
        val b = base.get()
        if ((b ne lastInner) || wrapped == null) {
          if (const == null) {
            const = new ConstantColumnVector(math.max(b.numRows, 1),
              StringType)
            const.setUtf8String(file)
          }
          val cols = Array.tabulate[ColumnVector](b.numCols + 1)(i =>
            if (i < b.numCols) b.column(i) else const)
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

case class BucketConcatReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def subs(p: InputPartition): Option[Array[GraftInputPartition]] =
    p match {
      case b: GraftBucketedPartition => Some(b.parts)
      case _ => None
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    subs(partition) match {
      // empty buckets say yes so one empty bucket cannot flip the whole
      // scan to row mode (the empty columnar reader emits nothing)
      case Some(ps) =>
        ps.isEmpty || ps.forall(inner.supportColumnarReads)
      case None => inner.supportColumnarReads(partition)
    }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    subs(partition) match {
      case Some(ps) => new ConcatPartitionReader(ps, inner.createReader)
      case None => inner.createReader(partition)
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] =
    subs(partition) match {
      case Some(ps) =>
        new ConcatPartitionReader(ps, inner.createColumnarReader)
      case None => inner.createColumnarReader(partition)
    }
}

private[v2] class ConcatPartitionReader[T](
    parts: Array[GraftInputPartition],
    mk: InputPartition => PartitionReader[T])
    extends PartitionReader[T] {
  private var i = 0
  private var cur: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (i >= parts.length) return false
        cur = mk(parts(i))
        i += 1
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }

  override def get(): T = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** K-way merge over a bucket's OVERLAPPING sorted runs (the
  * `mergeSortedRuns` read path): each FILE is one sorted run (its row
  * groups chain in order); a priority queue on the layout's sort
  * columns interleaves the file heads, so the partition emits the
  * bucket's rows in exactly the order [[GraftScanV2.outputOrdering]]
  * reports — and the SMJ sorts disappear even when footer stats cannot
  * prove disjointness. One open sub-reader per RUN (k at a time, vs
  * the concat reader's one total) and a defensive per-row copy (the
  * `_file` wrapper reuses its row object): the price of merging, which
  * is why the stat-proof path stays the default. */
case class BucketMergeReaderFactory(inner: PartitionReaderFactory,
    sortOrds: Array[Int],
    sortTypes: Array[DataType]) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    false

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case b: GraftBucketedPartition =>
      val runs: Array[Array[GraftInputPartition]] = b.parts
        .groupBy(_.file).toArray.sortBy(_._1)
        .map(_._2.sortBy(_.rowGroup))
      new KWayMergeReader(runs, inner.createReader, sortOrds, sortTypes)
    case other => inner.createReader(other)
  }
}

private[v2] class KWayMergeReader(
    runs: Array[Array[GraftInputPartition]],
    mk: InputPartition => PartitionReader[InternalRow],
    sortOrds: Array[Int], sortTypes: Array[DataType])
    extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder => CatSortOrder}

  // sortWithinPartitions default: ascending, nulls first — the exact
  // ordering the scan reports
  private val ord = new InterpretedOrdering(
    sortOrds.zip(sortTypes).map { case (i, dt) =>
      CatSortOrder(BoundReference(i, dt, nullable = true), Ascending)
    }.toIndexedSeq)

  private final class Run(parts: Array[GraftInputPartition]) {
    private var i = 0
    private var cur: PartitionReader[InternalRow] = _
    var head: InternalRow = _
    /** Load the next row into `head`; false = run exhausted. */
    def advance(): Boolean = {
      while (true) {
        if (cur == null) {
          if (i >= parts.length) { head = null; return false }
          cur = mk(parts(i))
          i += 1
        }
        if (cur.next()) {
          // copy: sub-readers may reuse their row object, and the
          // queue holds k heads concurrently
          head = cur.get().copy()
          return true
        }
        cur.close(); cur = null
      }
      false // unreachable
    }
    def close(): Unit = if (cur != null) { cur.close(); cur = null }
  }

  private val heap = new java.util.PriorityQueue[Run](
    math.max(1, runs.length),
    (a: Run, b: Run) => ord.compare(a.head, b.head))
  locally {
    runs.foreach { ps =>
      val r = new Run(ps)
      if (r.advance()) heap.add(r)
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    val top = heap.poll()
    if (top == null) return false
    current = top.head
    if (top.advance()) heap.add(top)
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = {
    heap.forEach(_.close())
    heap.clear()
  }
}

/** Total order over rows of COLUMNAR batches at the pushed sort keys
  * (ascending, nulls first — sortWithinPartitions' default, the exact
  * ordering the scan reports). Same key semantics as the row-mode
  * merge's InterpretedOrdering, over vector getters. */
private[v2] final class VectorRowComparator(ords: Array[Int],
    types: Array[DataType]) {
  def compare(a: ColumnarBatch, ai: Int, b: ColumnarBatch, bi: Int): Int = {
    var k = 0
    while (k < ords.length) {
      val o = ords(k)
      val av = a.column(o); val bv = b.column(o)
      val an = av.isNullAt(ai); val bn = bv.isNullAt(bi)
      val c =
        if (an && bn) 0
        else if (an) -1
        else if (bn) 1
        else types(k) match {
          case IntegerType | DateType =>
            Integer.compare(av.getInt(ai), bv.getInt(bi))
          case LongType | TimestampType | TimestampNTZType =>
            java.lang.Long.compare(av.getLong(ai), bv.getLong(bi))
          case DoubleType =>
            java.lang.Double.compare(av.getDouble(ai), bv.getDouble(bi))
          case FloatType =>
            java.lang.Float.compare(av.getFloat(ai), bv.getFloat(bi))
          case ShortType =>
            java.lang.Short.compare(av.getShort(ai), bv.getShort(bi))
          case ByteType =>
            java.lang.Byte.compare(av.getByte(ai), bv.getByte(bi))
          case BooleanType => java.lang.Boolean.compare(
            av.getBoolean(ai), bv.getBoolean(bi))
          case StringType =>
            av.getUTF8String(ai).compareTo(bv.getUTF8String(bi))
          case dec: DecimalType =>
            av.getDecimal(ai, dec.precision, dec.scale)
              .compareTo(bv.getDecimal(bi, dec.precision, dec.scale))
          case BinaryType => java.util.Arrays.compareUnsigned(
            av.getBinary(ai), bv.getBinary(bi))
          case other => throw new IllegalStateException(
            s"graft-v2 batch merge: unorderable sort-key type $other")
        }
      if (c != 0) return c
      k += 1
    }
    0
  }
}

/** COLUMNAR k-way merge over a bucket's overlapping sorted runs — the
  * vectorized face of the `mergeSortedRuns` read path. Instead of the
  * row-mode merge's one-row-per-poll (with a defensive copy), each
  * poll emits the longest SLICE of the minimal run's current batch
  * that stays ≤ every other run's head — a zero-copy
  * [[OffsetColumnVector]] view found by binary search. Lightly
  * overlapping runs emit near-full batches (concat speed); heavily
  * overlapping runs degrade smoothly toward per-row slices. Decode
  * stays on Spark's vectorized parquet reader either way, so the
  * sort-free SMJ no longer trades away columnar scan throughput. */
case class BucketBatchMergeReaderFactory(inner: PartitionReaderFactory,
    sortOrds: Array[Int],
    sortTypes: Array[DataType]) extends PartitionReaderFactory {

  private def subs(p: InputPartition): Option[Array[GraftInputPartition]] =
    p match {
      case b: GraftBucketedPartition => Some(b.parts)
      case _ => None
    }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    subs(partition) match {
      case Some(ps) => ps.isEmpty || ps.forall(inner.supportColumnarReads)
      case None => inner.supportColumnarReads(partition)
    }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft-v2 batch merge is columnar-only")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = subs(partition) match {
    case Some(ps) =>
      val runs: Array[Array[GraftInputPartition]] = ps
        .groupBy(_.file).toArray.sortBy(_._1)
        .map(_._2.sortBy(_.rowGroup))
      new KWayBatchMergeReader(runs, inner.createColumnarReader,
        sortOrds, sortTypes)
    case None => inner.createColumnarReader(partition)
  }
}

private[v2] class KWayBatchMergeReader(
    runs: Array[Array[GraftInputPartition]],
    mk: InputPartition => PartitionReader[ColumnarBatch],
    sortOrds: Array[Int], sortTypes: Array[DataType])
    extends PartitionReader[ColumnarBatch] {

  private val cmp = new VectorRowComparator(sortOrds, sortTypes)

  /** One sorted run: its row-group readers chained, a cursor into the
    * current batch. Each run holds its OWN reader, so the inner
    * readers' batch-reuse is safe — a run's batch only changes when
    * the merge advances that run. */
  private final class Run(parts: Array[GraftInputPartition]) {
    private var i = 0
    private var reader: PartitionReader[ColumnarBatch] = _
    var batch: ColumnarBatch = _
    var pos = 0
    /** True iff a row is available at `pos` (loading as needed). */
    def ensure(): Boolean = {
      while (true) {
        if (batch != null && pos < batch.numRows()) return true
        if (reader == null) {
          if (i >= parts.length) { batch = null; return false }
          reader = mk(parts(i)); i += 1
        }
        if (reader.next()) { batch = reader.get(); pos = 0 }
        else { reader.close(); reader = null; batch = null }
      }
      false // unreachable
    }
    def close(): Unit = if (reader != null) { reader.close(); reader = null }
  }

  private val all = runs.map(new Run(_))
  private var out: ColumnarBatch = _

  override def next(): Boolean = {
    val ready = all.filter(_.ensure())
    if (ready.isEmpty) return false
    var m = ready(0)
    var k = 1
    while (k < ready.length) {
      if (cmp.compare(ready(k).batch, ready(k).pos, m.batch, m.pos) < 0) {
        m = ready(k)
      }
      k += 1
    }
    // the emittable slice: rows of m's batch ≤ the smallest OTHER head
    var bb: ColumnarBatch = null; var bp = 0
    ready.foreach { r =>
      if ((r ne m) &&
          (bb == null || cmp.compare(r.batch, r.pos, bb, bp) < 0)) {
        bb = r.batch; bp = r.pos
      }
    }
    val n = m.batch.numRows()
    val end =
      if (bb == null) n
      else {
        // first index in [pos, n) whose row exceeds the bound — the
        // batch is sorted, so everything before it is emittable
        var lo = m.pos; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmp.compare(m.batch, mid, bb, bp) <= 0) lo = mid + 1
          else hi = mid
        }
        math.max(lo, m.pos + 1) // the head itself is always emittable
      }
    out =
      if (m.pos == 0 && end == n) { val b = m.batch; m.pos = n; b }
      else {
        val len = end - m.pos
        val cols = Array.tabulate[
          org.apache.spark.sql.vectorized.ColumnVector](
          m.batch.numCols())(c =>
          new OffsetColumnVector(m.batch.column(c), m.pos))
        val b = new ColumnarBatch(cols, len)
        m.pos = end
        b
      }
    true
  }

  override def get(): ColumnarBatch = out
  override def close(): Unit = all.foreach(_.close())
}

case class GraftReaderFactory(readSchema: StructType,
    filters: Array[Filter], limit: Int,
    topN: Array[(String, Boolean, Boolean)], topNLimit: Int,
    conf: Broadcast[SerializableConfiguration],
    appendPos: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftRowGroupReader(p, readSchema, filters, limit, topN, topNLimit,
      conf.value.value, appendPos)
  }
}

/** Emits the single pre-computed (driver-side, footer-derived) row of a
  * completely-pushed aggregation. The executor does no I/O at all. */
case class GraftAggReaderFactory(values: Array[Any])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = new GenericInternalRow(values)
      override def close(): Unit = ()
    }
}

/** Micro-batch stream offset: the id of the last [[GraftFileLog]]
  * entry covered. Spark's OffsetSeqLog checkpoint format is
  * LINE-ORIENTED (one offset json per line per source), so the offset
  * must serialize to a single line — and it stays O(1) in size no
  * matter how many files the stream has seen, because the seen-file
  * names live in the side log, not in the offset. This is the same
  * split Spark's own FileStreamSource makes (offset = log version,
  * file names in a separate compacted metadata log). */
case class GraftStreamOffset(logOffset: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"logOffset":$logOffset}"""
}

/** Minimal single-line JSON string-array codec for the file log —
  * handwritten so log entries stay dependency-free and newline-free
  * (paths with quotes/backslashes/control chars round-trip escaped). */
private[v2] object JsonArr {
  def render(items: Seq[String]): String =
    items.map(s => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\"").mkString("[", ",", "]")

  def parse(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < s.length && s.charAt(i) != '[') i += 1
    i += 1
    while (i < s.length) {
      s.charAt(i) match {
        case '"' =>
          val sb = new StringBuilder
          i += 1
          var done = false
          while (!done) {
            s.charAt(i) match {
              case '"' => done = true
              case '\\' =>
                s.charAt(i + 1) match {
                  case 'u' =>
                    sb.append(Integer.parseInt(
                      s.substring(i + 2, i + 6), 16).toChar)
                    i += 4
                  case '"' => sb.append('"')
                  case '\\' => sb.append('\\')
                  case other => sb.append(other)
                }
                i += 1
              case c => sb.append(c)
            }
            i += 1
          }
          out += sb.toString
        case _ => i += 1 // separators, whitespace, closing bracket
      }
    }
    out.result()
  }
}

/** Compacted seen-file log under `<checkpoint>/graft-file-log`. Delta
  * entry `N` holds the files FIRST seen at log offset N as one
  * single-line JSON array, written atomically (temp file + rename).
  * Once Spark commits a batch the log may compact: a `N.compact`
  * snapshot of the full seen set replaces all deltas at or below N
  * (compaction runs every [[GraftFileLog.CompactInterval]] entries),
  * so the log directory holds a bounded number of small files and a
  * restart replays exactly the uncommitted suffix. Deltas above the
  * last committed offset are never compacted away — they are what a
  * restarted query replans from. */
private[v2] class GraftFileLog(logDir: Path, conf: Configuration) {
  import scala.collection.immutable.SortedMap

  private val fs = logDir.getFileSystem(conf)
  private var compactBase: Long = 0L
  private var compactSeen: Set[String] = Set.empty
  private var deltas: SortedMap[Long, Seq[String]] = SortedMap.empty
  // Incrementally maintained (add on append/replay, replace on
  // compaction) — `seen` is called every trigger, and rebuilding an
  // O(total-files-ever) set per trigger would grow without bound over
  // the stream's lifetime.
  private var seenSet: Set[String] = Set.empty

  locally {
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    else {
      val names = fs.listStatus(logDir).toSeq.map(_.getPath.getName)
        .filterNot(_.startsWith("."))
      val compacts = names.filter(_.endsWith(".compact"))
        .flatMap(n => scala.util.Try(n.stripSuffix(".compact").toLong)
          .toOption)
      if (compacts.nonEmpty) {
        compactBase = compacts.max
        compactSeen =
          readEntry(new Path(logDir, s"$compactBase.compact")).toSet
      }
      names.flatMap(n => scala.util.Try(n.toLong).toOption)
        .filter(_ > compactBase).sorted
        .foreach { id =>
          deltas += id -> readEntry(new Path(logDir, id.toString))
        }
      // A crash between writing N.compact and deleting the files it
      // superseded leaves those files orphaned; recovery above already
      // ignores them, so finish the interrupted cleanup here.
      names.flatMap(n => scala.util.Try(n.toLong).toOption)
        .filter(_ <= compactBase)
        .foreach(id => fs.delete(new Path(logDir, id.toString), false))
      compacts.filter(_ < compactBase).foreach(id =>
        fs.delete(new Path(logDir, s"$id.compact"), false))
    }
    seenSet = compactSeen ++ deltas.valuesIterator.flatten
  }

  private def readRaw(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(0, bytes)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def readEntry(p: Path): Seq[String] = JsonArr.parse(readRaw(p))

  /** Write-once entry: Hadoop's local filesystem `rename` silently
    * OVERWRITES an existing destination, so "rename failed -> someone
    * else wrote it" never fires there. Instead, whenever the entry
    * already exists (before or after our rename), read it back and
    * require byte equality — a zombie driver racing a live one on the
    * same log id must not silently diverge. */
  private def writeAtomic(p: Path, content: String): Unit = {
    val tmp = new Path(logDir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) {
      fs.delete(tmp, false)
      requireSameEntry(p, content)
    } else if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      if (fs.exists(p)) requireSameEntry(p, content)
      else throw new java.io.IOException(s"file-log write $p failed")
    } else {
      // the exists/rename pair is check-then-act: on local filesystems
      // a racing writer's rename silently overwrites, so verify AFTER
      // the rename too — the read-back catches a clobber in either
      // direction and fences the loser
      requireSameEntry(p, content)
    }
  }

  private def requireSameEntry(p: Path, content: String): Unit = {
    val existing = readRaw(p)
    if (existing != content) {
      throw new IllegalStateException(
        s"graft-v2 stream: concurrent writers disagree on file-log " +
        s"entry $p — another driver recorded different files for the " +
        s"same log id (fenced out)")
    }
  }

  def latest: Long = if (deltas.isEmpty) compactBase else deltas.lastKey
  def seen: Set[String] = seenSet

  /** Record newly-seen files as the next log entry; returns its id. */
  def append(files: Seq[String]): Long = {
    val id = latest + 1
    writeAtomic(new Path(logDir, id.toString), JsonArr.render(files))
    deltas += id -> files
    seenSet ++= files
    id
  }

  /** Uncompacted entry ids strictly after `start`, ascending, with
    * their file counts — what admission control walks to cap a
    * micro-batch at `maxFilesPerTrigger` whole entries. */
  def entriesAfter(start: Long): Seq[(Long, Int)] =
    deltas.iteratorFrom(start + 1)
      .map { case (k, v) => (k, v.size) }.toSeq

  /** Files of entries in (start, end] — one micro-batch's input. */
  def filesBetween(start: Long, end: Long): Seq[String] = {
    if (start < compactBase) {
      throw new IllegalStateException(
        s"graft-v2 stream: batch ($start, $end] predates the compacted " +
        s"file log (base $compactBase) — checkpoint and file log disagree")
    }
    deltas.iteratorFrom(start + 1).takeWhile(_._1 <= end)
      .flatMap(_._2).toSeq
  }

  /** Called on batch commit: entries at or below `id` can fold into a
    * snapshot (Spark never replans a committed batch). Compaction is
    * amortized — it runs only once enough deltas accumulate. */
  def commitTo(id: Long): Unit = {
    if (id <= compactBase ||
        id - compactBase < GraftFileLog.CompactInterval) {
      return
    }
    val folded = compactSeen ++
      deltas.rangeTo(id).valuesIterator.flatten
    writeAtomic(new Path(logDir, s"$id.compact"),
      JsonArr.render(folded.toSeq.sorted))
    val oldBase = compactBase
    deltas.rangeTo(id).keysIterator
      .foreach(k => fs.delete(new Path(logDir, k.toString), false))
    if (oldBase > 0L) {
      fs.delete(new Path(logDir, s"$oldBase.compact"), false)
    }
    compactBase = id
    compactSeen = folded
    deltas = deltas.rangeFrom(id + 1)
  }
}

private[v2] object GraftFileLog {
  val CompactInterval = 10
}

/** Micro-batch tail over a graft table, in one of TWO offset modes
  * picked once per checkpoint:
  *
  *  - MANIFEST-VERSIONED (tables that already carry a manifest log):
  *    the offset IS the manifest version; a batch is the version
  *    diff `(start, end]`. Pure-append commits stream their added
  *    files; CHANGE commits (anything that removed a file or touched
  *    a deletion vector — DML rewrites, compaction, vacuum-visible
  *    rewrites) are SKIPPED whole, so DML under the tail no longer
  *    fail-stops it and appended rows still arrive exactly once
  *    (the tail is an append stream, not a CDC feed — a change
  *    commit's rewritten/updated rows are not re-delivered;
  *    `ignoreFileChanges=true` opts into delivering them,
  *    at-least-once). The first batch delivers the END version's
  *    snapshot (names minus its deletion vectors), not the replayed
  *    history.
  *  - FILE-LOG (manifest-free directories — plain parquet
  *    producers): each batch is the files that appeared since the
  *    last offset; offsets are log ids into the checkpoint-scoped
  *    [[GraftFileLog]]. Assumes an append-only producer; DML under
  *    the tail fail-stops with a diagnosis (restarting with a FRESH
  *    checkpoint adopts manifest offsets, since the DML created the
  *    manifest log).
  *
  * The mode is sticky: a checkpoint that ever ran file-log stays
  * file-log (its offsets are log ids), and a manifest-bearing table
  * with a fresh checkpoint always takes version offsets. Both modes
  * read through the same (vectorized or row) reader factories as the
  * batch scan, with the same filter-driven row-group pruning, and
  * replan exactly the uncommitted suffix on restart. */
class GraftMicroBatchStream(path: String, checkpointLocation: String,
    scan: GraftScanV2)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset,
    ReadAllAvailable, ReadLimit, ReadMaxFiles}

  // ===== Trigger.AvailableNow (backfill-then-stop) =====
  //
  // The batch-scheduled streaming pattern: drain everything present
  // when the run STARTS — in admission-controlled micro-batches — and
  // terminate; commits landing mid-run wait for the next scheduled
  // run. The engine calls prepareForTriggerAvailableNow() once before
  // the first trigger; we pin the head offset then and cap every
  // subsequent latestOffset() at it.
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val cap =
      if (versionMode) {
        GraftManifest.current(tfs, tdir).map(_.version).getOrElse(0L)
      } else GraftManifest.commitLock(tfs, tdir).synchronized {
        // the admission-controlled poll: log the files present right
        // now in entries of at most maxFilesPerTrigger, so the capped
        // walk in latestOffset() can split the pinned backlog
        val names = listNames()
        checkAppendOnly(names.toSet)
        val fresh = names.filterNot(log.seen)
        if (fresh.nonEmpty) {
          if (scan.maxFilesPerTrigger > 0) {
            fresh.grouped(scan.maxFilesPerTrigger).foreach(log.append)
          } else log.append(fresh)
        }
        log.latest
      }
    availableNowCap = Some(cap)
  }

  private def capped(off: Long): Long =
    availableNowCap.fold(off)(math.min(off, _))

  // driver-side: the session's Hadoop conf (filesystem credentials
  // etc.), matching createReaderFactory's snapshot
  private val hconf: Configuration = GraftHadoopConf.sessionConf()
  private val tdir = new Path(path)
  private val tfs = tdir.getFileSystem(hconf)
  private val fileLogDir = new Path(checkpointLocation, "graft-file-log")

  /** Version mode iff the table already has a manifest log AND this
    * checkpoint never ran in file-log mode (the file log's offsets are
    * log ids — reinterpreting them as versions would replay wrong
    * data). Decided once; both conditions are stable thereafter. */
  private val versionMode: Boolean =
    GraftManifest.versions(tfs, tdir).nonEmpty && !tfs.exists(fileLogDir)

  private lazy val log = new GraftFileLog(fileLogDir, hconf)

  private def listNames(): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) Seq.empty
    else {
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory) {
          fs.listStatus(p).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
        } else Seq(p)
      files.map(_.toString).sorted
    }
  }

  override def initialOffset(): Offset = GraftStreamOffset(0L)

  /** A streamed file that is no longer live and sits in
    * `.graft-archive/` was REWRITTEN by graft DML/compaction under the
    * tail — its surviving rows live on in residue/merged files the
    * tail cannot tell from genuine appends, so continuing would
    * re-deliver them. Failing is the only loss-free default;
    * `ignoreFileChanges=true` opts into that at-least-once degradation
    * (the same contract as the ignore-changes options of the
    * open-source table formats' streaming sources). A vanished file
    * with NO archive twin was deleted externally (a retention job):
    * its rows were already delivered and nothing replaces them, so the
    * tail tolerates it — the round-6 contract. */
  private val toleratedGone =
    scala.collection.mutable.Set.empty[String]

  private def checkAppendOnly(listed: Set[String]): Unit = {
    if (streamIgnoreChanges) return
    val vanished = log.seen
      .filterNot(n => listed.contains(n) || toleratedGone.contains(n))
    if (vanished.isEmpty) return
    val fs = new Path(path).getFileSystem(hconf)
    val rewritten = vanished.filter(n =>
      GraftManifest.archiveTwin(new Path(n)).exists(fs.exists))
    if (rewritten.nonEmpty) {
      throw new IllegalStateException(
        s"graft-v2 stream: ${rewritten.size} previously-streamed " +
        s"file(s) of $path were rewritten by DML or compaction under " +
        s"the tail (archived; e.g. ${rewritten.head}). This checkpoint " +
        "tails the directory append-only. Restart with "
        + "option(\"ignoreFileChanges\", \"true\") to continue — " +
        "rewritten files' rows may then be re-delivered — or stream " +
        "from a FRESH checkpoint: the table now has a manifest log, so " +
        "a fresh stream takes manifest-versioned offsets and tolerates " +
        "DML (change commits are skipped, appends flow exactly-once)")
    }
    // a vanished file with no archive twin is only tolerable as an
    // EXTERNAL deletion (a retention job removing delivered rows). On
    // a manifest-bearing table an external delete leaves the file in
    // the CURRENT manifest (out-of-band deletes don't commit); a file
    // the current manifest no longer lists was removed by a COMMIT —
    // its archive twin must have been vacuumed between polls, and the
    // rewrite's residue files would stream as fresh appends: silent
    // duplicate delivery, so fail like the archived case
    val noTwin = vanished.diff(rewritten)
    if (noTwin.nonEmpty) {
      GraftManifest.current(fs, new Path(path)).foreach { snap =>
        val live = snap.names.toSet
        val committedGone =
          noTwin.filterNot(n => live.contains(new Path(n).getName))
        if (committedGone.nonEmpty) {
          throw new IllegalStateException(
            s"graft-v2 stream: ${committedGone.size} previously-" +
            s"streamed file(s) of $path were removed by a committed " +
            "rewrite and their archive copies vacuumed before this " +
            s"poll (e.g. ${committedGone.head}). Continuing would " +
            "re-deliver the rewrite's residue rows as fresh appends. " +
            "Restart with option(\"ignoreFileChanges\", \"true\") to " +
            "accept that, or stream from a fresh checkpoint")
        }
      }
    }
    toleratedGone ++= vanished // externally deleted: diagnose once
  }

  private val streamIgnoreChanges = scan.streamIgnoreChanges

  override def latestOffset(): Offset = {
    if (versionMode) {
      // manifests are immutable snapshots behind a CAS — no lock, no
      // listing; the current version number IS the offset
      return GraftStreamOffset(
        GraftManifest.current(tfs, tdir).map(_.version).getOrElse(0L))
    }
    // the poll (list → diagnose → log) runs under the table's commit
    // lock: a raw listing taken inside a DML critical section would
    // see residue files renamed in but the rewritten original not yet
    // archived — checkAppendOnly would pass and the residues' rows
    // (duplicates of already-streamed survivors) would reach the sink
    // in a COMMITTED batch before the next poll could diagnose
    GraftManifest.commitLock(tfs, tdir).synchronized {
      val names = listNames()
      checkAppendOnly(names.toSet)
      val fresh = names.filterNot(log.seen)
      if (fresh.isEmpty) GraftStreamOffset(log.latest)
      else GraftStreamOffset(log.append(fresh))
    }
  }

  // ===== admission control (maxFilesPerTrigger) =====
  //
  // A stream catching up over a large backlog (a fresh checkpoint on a
  // populated table, or a long restart gap) must not plan ONE micro-
  // batch holding the whole tail — at 100 TB that batch never
  // finishes, and a failure loses all its progress. With
  // `option("maxFilesPerTrigger", n)` each trigger admits at most n
  // files (whole versions/log entries; always at least one unit of
  // progress, so an over-sized single commit still drains).

  override def getDefaultReadLimit: ReadLimit =
    if (scan.maxFilesPerTrigger > 0) {
      ReadLimit.maxFiles(scan.maxFilesPerTrigger)
    } else ReadLimit.allAvailable()

  /** True head of the source for progress reporting — side-effect
    * free (no poll, no log append): the current manifest version, or
    * the last logged entry. */
  override def reportLatestOffset(): Offset =
    if (versionMode) {
      GraftStreamOffset(GraftManifest.current(tfs, tdir)
        .map(_.version).getOrElse(0L))
    } else GraftStreamOffset(log.latest)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = start.asInstanceOf[GraftStreamOffset].logOffset
    val maxFiles = limit match {
      case f: ReadMaxFiles => f.maxFiles()
      case _: ReadAllAvailable => -1
      case _ => -1 // composite/rows limits: no file-count cap to apply
    }
    if (versionMode) {
      val head = capped(GraftManifest.current(tfs, tdir)
        .map(_.version).getOrElse(0L))
      if (maxFiles <= 0 || head <= startOff) {
        GraftStreamOffset(math.max(head, startOff))
      } else GraftStreamOffset(cappedVersion(startOff, head, maxFiles))
    } else {
      // the poll appends fresh files in CHUNKS of at most maxFiles, so
      // capped batches advance entry-by-entry without splitting one
      GraftManifest.commitLock(tfs, tdir).synchronized {
        val names = listNames()
        checkAppendOnly(names.toSet)
        val fresh = names.filterNot(log.seen)
        if (fresh.nonEmpty) {
          if (maxFiles > 0) {
            fresh.grouped(maxFiles).foreach(log.append)
          } else log.append(fresh)
        }
        if (maxFiles <= 0) {
          return GraftStreamOffset(math.max(capped(log.latest), startOff))
        }
        var endOff = startOff
        var budget = maxFiles
        log.entriesAfter(startOff).foreach { case (id, n) =>
          // entries past the AvailableNow pin (files that appeared
          // after the run started) wait for the next scheduled run
          if (availableNowCap.forall(id <= _) &&
              (endOff == startOff || n <= budget)) {
            endOff = id; budget -= n
          } else budget = -1
        }
        GraftStreamOffset(math.max(endOff, startOff))
      }
    }
  }

  /** Largest end version in `(startV, head]` whose cumulative batch
    * contribution stays within `maxFiles` — always advancing at least
    * one version. The walk mirrors [[versionBatchFiles]]' accounting:
    * the initial batch (startV = 0) reads the END SNAPSHOT whole, so
    * its cost is the snapshot size; incremental steps cost their added
    * names (change commits contribute nothing unless
    * `ignoreFileChanges` opted their files in). Any read surprise
    * (vacuumed version, unreadable manifest) falls back to the
    * uncapped head so [[versionBatchFiles]]' loud diagnostics fire. */
  private def cappedVersion(startV: Long, head: Long,
      maxFiles: Int): Long = {
    try {
      var endV = startV
      var budget = maxFiles
      if (startV == 0L) {
        // initial load: admit the earliest retained version first
        // (the smallest possible first batch), then walk diffs
        val vs = GraftManifest.versions(tfs, tdir)
        if (vs.isEmpty) return head
        endV = vs.min
        budget -= GraftManifest.read(tfs, tdir, endV).names.length
        if (budget < 0) return endV // over-sized v1: still progress
      }
      var prev = GraftManifest.read(tfs, tdir, endV)
      var v = endV + 1
      while (v <= head && budget >= 0) {
        val snap = GraftManifest.read(tfs, tdir, v)
        val pset = prev.names.toSet
        val added = snap.names.filterNot(pset)
        val nset = snap.names.toSet
        val removed = prev.names.filterNot(nset)
        val isChange = removed.nonEmpty || snap.dvs != prev.dvs
        val cost =
          if (!isChange || streamIgnoreChanges) added.length else 0
        if (cost <= budget || endV == startV) {
          budget -= cost
          endV = v
          prev = snap
          v += 1
        } else budget = -1
      }
      endV
    } catch { case _: Exception => head }
  }

  override def deserializeOffset(json: String): Offset = {
    val m = "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-v2 stream: unparseable offset '${json.take(200)}' — if " +
        "this checkpoint predates the log-offset format (offsets were " +
        "raw file lists, which could not round-trip through Spark's " +
        "line-oriented OffsetSeqLog), it cannot be migrated: drop the " +
        "checkpoint directory and restart the query fresh"))
    GraftStreamOffset(m.group(1).toLong)
  }

  /** The files of a VERSION-mode batch `(startV, endV]`: the end
    * snapshot whole for the initial batch (startV = 0), else the
    * per-version diff — pure-append commits contribute their added
    * names, change commits are skipped (or included under
    * `ignoreFileChanges`). Returns (resolved file paths, the END
    * version's dv map). */
  private def versionBatchFiles(startV: Long, endV: Long)
      : (Seq[String], Map[String, String]) = {
    if (endV <= startV) return (Seq.empty, Map.empty)
    val endSnap = GraftManifest.read(tfs, tdir, endV)
    val names: Seq[String] =
      if (startV == 0L) endSnap.names // initial load: the snapshot
      else {
        // a contiguous replay of (startV, endV] — every version must
        // still be retained; a vacuum that outran the stream's
        // uncommitted suffix collapsed diffs we can no longer
        // classify (an append + a rewrite folded together would
        // either lose or duplicate rows), so fail with the retention
        // diagnosis instead of guessing
        val retained = GraftManifest.versions(tfs, tdir).toSet
        val missing = (startV to endV).filterNot(retained.contains)
        if (missing.nonEmpty) {
          throw new IllegalStateException(
            s"graft-v2 stream: manifest version(s) " +
            s"${missing.mkString(", ")} of $path were vacuumed before " +
            s"the batch ($startV, $endV] executed — the retention " +
            "window must outlast the stream's longest restart gap. " +
            "Stream from a fresh checkpoint (the tail resumes from " +
            "the current snapshot)")
        }
        var prev = GraftManifest.read(tfs, tdir, startV)
        val adds = Seq.newBuilder[String]
        ((startV + 1) to endV).foreach { v =>
          val snap = GraftManifest.read(tfs, tdir, v)
          val pset = prev.names.toSet
          val added = snap.names.filterNot(pset)
          val nset = snap.names.toSet
          val removed = prev.names.filterNot(nset)
          // a commit that removed a name or touched a vector REWROTE
          // or DELETED rows — its added files carry rewritten/updated
          // copies of rows this tail already delivered, not appends
          val isChange = removed.nonEmpty || snap.dvs != prev.dvs
          if (!isChange || streamIgnoreChanges) adds ++= added
          prev = snap
        }
        adds.result()
      }
    (GraftManifest.resolve(tfs, tdir, names).map(_.toString),
      endSnap.dvs)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val startOff = start.asInstanceOf[GraftStreamOffset].logOffset
    val endOff = end.asInstanceOf[GraftStreamOffset].logOffset
    val (batchFiles, dvs) =
      if (versionMode) versionBatchFiles(startOff, endOff)
      else (log.filesBetween(startOff, endOff),
        // deletion vectors resolve at BATCH PLANNING time: a file
        // already position-deleted when its batch plans streams only
        // its live rows (a dv landing after delivery is the tolerated
        // retroactive-delete case — the data file itself never
        // vanishes). The tail's append-only guard is unaffected: dv
        // commits leave files in place.
        GraftManifest.current(tfs, tdir).map(_.dvs).getOrElse(Map.empty))
    // rowGroupsFor, not rowGroups: a logged-but-unprocessed file a
    // racing commit ARCHIVED must resolve to its archive twin (plain
    // rowGroups silently returns empty for a missing path — row
    // loss). A file that is gone from both places (vacuumed) fails
    // loudly unless the stream opted into ignoreFileChanges.
    val groups = batchFiles.flatMap { f =>
      try FooterCache.rowGroupsFor(Seq(f))
      catch {
        case e: java.io.FileNotFoundException =>
          if (streamIgnoreChanges) Seq.empty
          else throw new IllegalStateException(
            s"graft-v2 stream: logged file $f vanished before its " +
            "batch executed (DML + vacuum under the tail); restart " +
            "with option(\"ignoreFileChanges\", \"true\") to skip it",
            e)
      }
    }
    val kept =
      if (scan.filters.isEmpty) groups
      else groups.filter(rg =>
        scan.filters.forall(RowGroupPruning.mayMatch(_, rg)))
    // prefix sums over the PRE-pruning group list — stats pruning may
    // drop sibling groups, but file ordinals must stay exact
    val starts =
      if (dvs.isEmpty) Map.empty[(String, Int), Long]
      else DeleteVectors.rowStarts(groups.filter(rg =>
        dvs.contains(new Path(rg.file).getName)))
    // DROP/RENAME mapping resolves per batch too: old files stream
    // their physical columns under the current logical names
    val renames = GraftCatalog.readMapping(tfs, tdir).renames
    val requested = (scan.projectedSchema.fieldNames ++
      scan.filters.flatMap(_.references)).distinct.toSeq
    kept.map { rg =>
      val nm = PhysicalNames.mapFor(rg.file, requested, renames)
      dvs.get(new Path(rg.file).getName) match {
        case Some(d) => GraftInputPartition(rg.file, rg.index,
          rg.startingPos, rg.compressedBytes,
          dvFile = new Path(DeleteVectors.dvDir(tdir), d).toString,
          rowStart = starts.getOrElse((rg.file, rg.index), 0L),
          nameMap = nm)
        case None => GraftInputPartition(rg.file, rg.index,
          rg.startingPos, rg.compressedBytes, nameMap = nm)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: Offset): Unit =
    // version mode keeps NO side state (the manifest log is the
    // state) — and must not touch the lazy file log, whose
    // constructor creates the mode-deciding directory
    if (!versionMode) {
      log.commitTo(end.asInstanceOf[GraftStreamOffset].logOffset)
    }

  override def stop(): Unit = ()
}

/** Columnar factory: one Spark `VectorizedParquetRecordReader` per row
  * group, batches flow straight into whole-stage codegen (Spark inserts
  * the codegen'd ColumnarToRow). This is the same executor read path as
  * Spark's own parquet source — decoding is column-at-a-time into
  * `OnHeapColumnVector`s, ~10× the row-materializing parquet-mr path. */
case class GraftVectorReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    readSchema: StructType, limit: Int, sessionTz: String,
    batchSize: Int = 4096, appendPos: Boolean = false)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graft-v2 vectorized scan is columnar-only")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftVectorReader(p,
      GraftVectorReaderFactory.confFor(conf.value.value, readSchema, p),
      limit, sessionTz, batchSize, appendPos)
  }
}

object GraftVectorReaderFactory {
  /** DROP/RENAME mapping: the vectorized decoder matches file columns
    * BY NAME through the requested-schema conf — a partition whose
    * file spells a column physically gets a per-reader conf clone
    * requesting the physical name in the same position (batch columns
    * are positional; logical names live in the plan above). */
  private[v2] def confFor(base: org.apache.hadoop.conf.Configuration,
      readSchema: StructType, p: GraftInputPartition)
      : org.apache.hadoop.conf.Configuration =
    if (p.nameMap.isEmpty) base
    else {
      val phys = StructType(readSchema.fields.map(f =>
        p.nameMap.get(f.name).map(pn => f.copy(name = pn)).getOrElse(f)))
      val c = new org.apache.hadoop.conf.Configuration(base)
      c.set("org.apache.spark.sql.parquet.row.requested_schema", phys.json)
      c
    }
}

/** Per-file LOGICAL→PHYSICAL column translation for tables with a
  * DROP/RENAME COLUMN mapping ([[GraftCatalog.ColumnMapping]]): files
  * written before a rename carry the physical name; files written
  * after carry the logical one. Driver-side (footers are cached), the
  * result rides in [[GraftInputPartition.nameMap]] — entries only for
  * names that DIFFER in this file, so the common case is an empty map
  * and zero reader overhead. */
private[v2] object PhysicalNames {
  def mapFor(file: String, requested: Seq[String],
      renames: Map[String, String]): Map[String, String] = {
    if (renames.isEmpty) return Map.empty
    val fields: Set[String] = FooterCache.schemaOption(file) match {
      case Some(m) =>
        import scala.jdk.CollectionConverters._
        m.getFields.asScala.map(_.getName).toSet
      case None => return Map.empty
    }
    // logical name -> the physical spellings that map to it
    val byLogical: Map[String, Iterable[String]] =
      renames.groupBy(_._2).map { case (l, m) => l -> m.keys }
    requested.flatMap { n =>
      if (fields.contains(n)) None // the file carries the logical name
      else byLogical.get(n)
        .flatMap(_.find(fields.contains)).map(p => n -> p)
    }.toMap
  }
}

/** Executor-side location fallback: a snapshot-pinned partition's file
  * may have been ARCHIVED by a commit that landed between planning and
  * this task — the bytes are immutable, only the location moved to
  * `.graft-archive/`. One exists() probe per task open, only on miss. */
private[v2] object GraftReadPath {
  def resolve(file: String, conf: Configuration): Path = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) p
    else GraftManifest.archiveTwin(p).filter(fs.exists)
      .getOrElse(p) // let the original error surface
  }
}

/** Reads one row group through Spark's vectorized parquet decoder.
  * The `FileSplit` range pins the row group (midpoint selection, same
  * as the row path); `limit >= 0` stops producing batches once the
  * per-partition cap is crossed (Spark's retained LocalLimit trims the
  * final batch — the pushed limit is a stop-early bound, not an exact
  * cut, matching `SupportsPushDownLimit.isPartiallyPushed`). */
class GraftVectorReader(part: GraftInputPartition,
    conf: org.apache.hadoop.conf.Configuration, limit: Int,
    sessionTz: String, batchSize: Int = 4096,
    appendPos: Boolean = false)
    extends PartitionReader[ColumnarBatch] {

  // `batchSize` (rows per ColumnarBatch) is the V2 analog of the
  // reference's JDBC fetchsize knob (JDBCRDDWithLimit.scala:135-136):
  // rows materialized per fetch from the source cursor.
  private val reader = new VectorizedParquetRecordReader(
    null, // convertTz: not needed for non-INT96 micro/milli timestamps
    "CORRECTED", sessionTz, "CORRECTED", sessionTz,
    /* useOffHeap = */ false, /* capacity = */ math.max(batchSize, 16))
  locally {
    val split = new org.apache.hadoop.mapred.FileSplit(
      GraftReadPath.resolve(part.file, conf), part.startingPos,
      part.byteLen, Array.empty[String])
    val attemptId = new org.apache.hadoop.mapreduce.TaskAttemptID()
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, attemptId)
    reader.initialize(split, ctx)
    reader.initBatch(new StructType(), InternalRow.empty)
    reader.enableReturningBatches()
  }

  // deletion-vector application (innermost, where physical ordinals
  // are visible): per batch, build a selection of surviving rows and
  // wrap the vectors in a zero-copy [[SelectedColumnVector]] view —
  // the batch stays columnar, and `emitted` counts SURVIVORS so a
  // pushed limit is a bound on live rows
  private val dv: org.roaringbitmap.RoaringBitmap =
    if (part.dvFile == null) null
    else DeleteVectors.load(part.dvFile, conf)
  private var physPos: Long = part.rowStart

  private var emitted = 0L
  private var batch: ColumnarBatch = _

  private def applyDv(b: ColumnarBatch, start: Long): ColumnarBatch = {
    val n = b.numRows()
    if (dv.rangeCardinality(start, start + n) == 0L) return b
    val sel = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (!dv.contains((start + i).toInt)) { sel(k) = i; k += 1 }
      i += 1
    }
    val cols = Array.tabulate[org.apache.spark.sql.vectorized
      .ColumnVector](b.numCols())(c =>
      new SelectedColumnVector(b.column(c), sel))
    new ColumnarBatch(cols, k)
  }

  override def next(): Boolean = {
    while (true) {
      if (limit >= 0 && emitted >= limit) return false
      if (!reader.nextBatch()) return false
      val decoded = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      val start = physPos
      physPos += decoded.numRows()
      // `_pos` raw-ordinal channel: one computed long vector appended
      // per batch, BEFORE the deletion-vector selection composes on
      // top — survivors keep exact physical file ordinals, the batch
      // stays columnar ([[OrdinalColumnVector]])
      val raw =
        if (!appendPos) decoded
        else {
          val cols = Array.tabulate[org.apache.spark.sql.vectorized
            .ColumnVector](decoded.numCols() + 1)(c =>
            if (c < decoded.numCols()) decoded.column(c)
            else new OrdinalColumnVector(start))
          new ColumnarBatch(cols, decoded.numRows())
        }
      batch = if (dv == null) raw else applyDv(raw, start)
      if (batch.numRows() > 0) {
        emitted += batch.numRows()
        return true
      }
      // a fully-deleted batch: keep pulling
    }
    false // unreachable
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = reader.close()
}

/** Output-order comparator over pushed sort keys (asc/desc and
  * nulls-first/last applied per key, Spark double/float total order via
  * java compare; Comparable fallback covers Decimal/Byte/Short). Shared
  * by the row-mode and vectorized top-k readers. */
private[v2] object TopNOrdering {
  def comparator(schema: StructType,
      topN: Array[(String, Boolean, Boolean)])
      : java.util.Comparator[InternalRow] =
    new java.util.Comparator[InternalRow] {
      private val keys = topN.map { case (name, asc, nullsFirst) =>
        val i = schema.fieldNames.indexOf(name)
        (i, schema(i).dataType, asc, nullsFirst)
      }
      override def compare(x: InternalRow, y: InternalRow): Int = {
        var k = 0
        while (k < keys.length) {
          val (i, dt, asc, nullsFirst) = keys(k)
          val (xn, yn) = (x.isNullAt(i), y.isNullAt(i))
          val c =
            if (xn && yn) 0
            else if (xn) { if (nullsFirst) -1 else 1 }
            else if (yn) { if (nullsFirst) 1 else -1 }
            else {
              val base = (x.get(i, dt), y.get(i, dt)) match {
                case (a: java.lang.Integer, b: java.lang.Integer) =>
                  Integer.compare(a, b)
                case (a: java.lang.Long, b: java.lang.Long) =>
                  java.lang.Long.compare(a, b)
                case (a: java.lang.Double, b: java.lang.Double) =>
                  java.lang.Double.compare(a, b)
                case (a: java.lang.Float, b: java.lang.Float) =>
                  java.lang.Float.compare(a, b)
                case (a: java.lang.Boolean, b: java.lang.Boolean) =>
                  java.lang.Boolean.compare(a, b)
                case (a: UTF8String, b: UTF8String) => a.compareTo(b)
                case (a: Comparable[_], b) =>
                  a.asInstanceOf[Comparable[Any]].compareTo(b)
                case _ => 0
              }
              if (asc) base else -base
            }
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
}

/** Vectorized top-k: decodes through the same columnar
  * `VectorizedParquetRecordReader` as the batch scan (column-at-a-time,
  * ~10x parquet-mr), folds every batch of the row group into a bounded
  * heap, and emits only the k winners — as rows, since k rows per row
  * group is no longer a columnar-friendly volume. A `LIMIT k` over an
  * ordered 100 TB table ships k rows per row group off the scan
  * instead of full batches into the global TakeOrdered. */
case class GraftVectorTopNReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    readSchema: StructType, sessionTz: String, batchSize: Int,
    topN: Array[(String, Boolean, Boolean)], topNLimit: Int)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val inner = new GraftVectorReader(p,
      GraftVectorReaderFactory.confFor(conf.value.value, readSchema, p),
      -1, sessionTz, batchSize)
    new PartitionReader[InternalRow] {
      private var iter: Iterator[InternalRow] = _
      private var current: InternalRow = _
      private var innerClosed = false
      private def closeInner(): Unit =
        if (!innerClosed) { innerClosed = true; inner.close() }

      private def compute(): Iterator[InternalRow] = {
        val cmp = TopNOrdering.comparator(readSchema, topN)
        val pq = new java.util.PriorityQueue[InternalRow](
          math.max(topNLimit, 1), cmp.reversed())
        try {
          while (inner.next()) {
            val rows = inner.get().rowIterator()
            while (rows.hasNext) {
              val row = rows.next() // mutable view — copy only winners
              if (pq.size < topNLimit) pq.add(row.copy())
              else if (cmp.compare(row, pq.peek()) < 0) {
                pq.poll(); pq.add(row.copy())
              }
            }
          }
        } finally closeInner()
        val arr = new Array[InternalRow](pq.size)
        var i = arr.length - 1
        while (i >= 0) { arr(i) = pq.poll(); i -= 1 }
        arr.iterator
      }

      override def next(): Boolean = {
        if (iter == null) iter = compute()
        if (iter.hasNext) { current = iter.next(); true } else false
      }
      override def get(): InternalRow = current
      // the task may close the reader before the first next() (stage
      // abort, downstream failure) — the parquet reader must not leak
      override def close(): Unit = closeInner()
    }
  }
}

/** Reads exactly one row group through parquet-mr with column projection,
  * source-side filter evaluation, a per-partition row cap, and (when a
  * top-k was pushed) a bounded-heap per-partition top-N. */
class GraftRowGroupReader(part: GraftInputPartition,
    readSchema: StructType, filters: Array[Filter], limit: Int,
    topN: Array[(String, Boolean, Boolean)] = Array.empty,
    topNLimit: Int = -1,
    conf: Configuration,
    appendPos: Boolean = false)
    extends PartitionReader[InternalRow] {

  private val inputFile = HadoopInputFile.fromPath(
    GraftReadPath.resolve(part.file, conf), conf)
  // select ONLY this row group via its byte offset
  private val reader = ParquetFileReader.open(inputFile,
    ParquetReadOptions.builder()
      .withRange(part.startingPos, part.startingPos + part.byteLen).build())
  private val fileSchema = reader.getFileMetaData.getSchema
  // Spark prunes filter-only (and sort-only) columns out of the
  // projection once pushed — the reader must still materialize them to
  // evaluate the filter / ordering, then emit only projected columns.
  private val extraCols: Array[String] =
    (filters.flatMap(_.references) ++ topN.map(_._1))
      .distinct.filterNot(readSchema.fieldNames.contains)
  private val extNames: Array[String] = readSchema.fieldNames ++ extraCols
  // DROP/RENAME mapping: the PHYSICAL spelling of each logical name in
  // THIS file (identity when unmapped) — the file is read by physical
  // name, the row is labeled logically
  private val extPhys: Array[String] =
    if (part.nameMap.isEmpty) extNames
    else extNames.map(n => part.nameMap.getOrElse(n, n))
  // schema evolution: a file older than an ADD COLUMN lacks the new
  // field — project only what the file has, read NULL for the rest
  // (SQL semantics: the filter sees UNKNOWN, the row sees null)
  private val present: Array[String] =
    extPhys.filter(fileSchema.containsField)
  private val requested: MessageType = ParquetMeta.project(
    fileSchema, present)
  private val presentStruct: StructType = ParquetMeta.toStruct(requested)
  private val extSchema: StructType = StructType(
    extNames.zip(extPhys).map { case (n, p) =>
      val declared = readSchema.fieldNames.indexOf(n) match {
        case i if i >= 0 => Some(readSchema(i))
        case _ => None
      }
      if (fileSchema.containsField(p)) {
        val fileField = presentStruct(presentStruct.fieldIndex(p))
        declared match {
          // the DECLARED (logical) type labels the row — for a file
          // written before an ALTER COLUMN TYPE widen, the converter
          // below upcasts the file's narrow values to it
          case Some(d) => fileField.copy(name = n, dataType = d.dataType)
          case None => fileField.copy(name = n)
        }
      } else {
        declared.map(_.copy(nullable = true))
          // filter-only column absent from file AND projection: never
          // materialized non-null, the type is only a placeholder
          .getOrElse(StructField(n, StringType))
      }
    })
  // ext position -> position in the file's materialized group (-1 = null)
  private val presentIdx: Array[Int] =
    extPhys.map(p => present.indexOf(p))
  reader.setRequestedSchema(requested)

  private val pages = reader.readNextRowGroup()
  private val recordReader =
    if (pages == null) null
    else new ColumnIOFactory().getColumnIO(requested)
      .getRecordReader(pages, new GroupRecordConverter(requested))
  private val totalRows: Long = if (pages == null) 0L else pages.getRowCount
  // converters target the EXT (logical) type of each materialized
  // column, so widened columns upcast at the innermost layer
  private val converters = present.zipWithIndex.map { case (p, i) =>
    ParquetMeta.converter(requested.getType(i),
      extSchema(extPhys.indexOf(p)).dataType)
  }
  private val predicate = RowFilterEval.compile(filters, extSchema)

  // deletion vector: skip deleted FILE ordinals as the group streams —
  // before filter evaluation, limit counting or the top-k heap, so
  // physical positions stay exact and all downstream semantics see
  // only live rows
  private val dv: org.roaringbitmap.RoaringBitmap =
    if (part.dvFile == null) null
    else DeleteVectors.load(part.dvFile, conf)

  private var readCount = 0L
  private var emitted = 0
  private var current: InternalRow = _

  /** FILE ordinal of the most recently emitted raw row — what `_pos`
    * reports. Counts RAW reads, so it stays exact under pushed
    * filters, the per-partition limit and deletion-vector skips. */
  private var lastOrd: Long = -1L

  private def readExtRow(): InternalRow = {
    val ord = part.rowStart + readCount
    val g = recordReader.read()
    readCount += 1
    if (g == null) null
    else if (dv != null && dv.contains(ord.toInt)) null // deleted row
    else {
      lastOrd = ord
      val ext = new GenericInternalRow(extSchema.length)
      var i = 0
      while (i < extSchema.length) {
        val p = presentIdx(i)
        ext.update(i,
          if (p < 0 || g.getFieldRepetitionCount(p) == 0) null
          else converters(p)(g, p))
        i += 1
      }
      ext
    }
  }

  private def project(ext: InternalRow): InternalRow =
    if (extraCols.isEmpty && !appendPos) ext
    else {
      // `_pos` (when projected) rides as the last field, from the raw
      // ordinal of the row being projected (topN is disabled with
      // appendPos — heap rows would outlive their ordinal)
      val extraPos = if (appendPos) 1 else 0
      val out = new GenericInternalRow(readSchema.length + extraPos)
      var j = 0
      while (j < readSchema.length) {
        out.update(j, ext.get(j, readSchema(j).dataType)); j += 1
      }
      if (appendPos) out.update(readSchema.length, lastOrd)
      out
    }

  /** Bounded heap over the (filtered) row group: O(rows · log k) time,
    * O(k) memory, emits the partition's top-k in output order. */
  private def computeTopN(): Iterator[InternalRow] = {
    val cmp = TopNOrdering.comparator(extSchema, topN)
    val pq = new java.util.PriorityQueue[InternalRow](
      math.max(topNLimit, 1), cmp.reversed())
    while (readCount < totalRows) {
      val ext = readExtRow()
      if (ext != null && predicate(ext)) {
        if (pq.size < topNLimit) pq.add(ext)
        else if (cmp.compare(ext, pq.peek()) < 0) { pq.poll(); pq.add(ext) }
      }
    }
    val arr = new Array[InternalRow](pq.size)
    var i = arr.length - 1
    while (i >= 0) { arr(i) = pq.poll(); i -= 1 }
    arr.iterator.map(project)
  }

  private var topNIter: Iterator[InternalRow] = _

  override def next(): Boolean = {
    if (recordReader == null) return false
    if (topNLimit >= 0 && topN.nonEmpty) {
      if (topNIter == null) topNIter = computeTopN()
      if (topNIter.hasNext) { current = topNIter.next(); return true }
      return false
    }
    while (readCount < totalRows && (limit < 0 || emitted < limit)) {
      val ext = readExtRow()
      if (ext != null && predicate(ext)) {
        current = project(ext)
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** The one owner of how graft code reaches a Hadoop configuration.
  *
  * The rule: driver code calls [[sessionConf]]; anything a task needs
  * goes through [[broadcast]]. A session conf carries ~1,100 entries
  * (~110 KB serialized). Captured in a factory or closure, it rides in
  * every task binary and every task decodes it before it reads a row;
  * broadcast, it is decoded once per executor, and not at all in local
  * mode, where the driver's block manager already holds the value.
  * Tasks of one executor share that value, so a task that must set a
  * key copies the conf first (`new Configuration(conf)`). */
object GraftHadoopConf {
  /** The active session's conf (which carries `spark.hadoop.*`
    * filesystem settings — S3 credentials, endpoints) when a session
    * exists, else a bare conf, so every driver-side listing and footer
    * read sees the same filesystem view as the tasks. */
  def sessionConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Ship `conf` to the tasks of the active session's context. The
    * caller must not change `conf` afterwards: in local mode the tasks
    * read this very object. */
  def broadcast(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext
      .broadcast(new SerializableConfiguration(conf))

  /** Pin what Spark's parquet `WriteSupport` reads from `conf` — the
    * row schema and the settings every graft write fixes — so a task's
    * writer needs no session. Spark 4.1's schema converter reads the
    * variant key with a bare `.toBoolean`, and a session-conf copy can
    * surface it as the literal string "null". Returns `conf`. */
  def pinParquetWrite(conf: Configuration, schema: StructType)
      : Configuration = {
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      "false")
    conf
  }
}

/** Parquet footer/metadata helpers shared by driver and executors. */
object ParquetMeta {

  /** All parquet part files of `path` (file or directory). */
  private def partFiles(path: String, conf: Configuration): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      fs.listStatus(p).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    } else Seq(p)
  }

  /** (rowCount, totalByteSize) per row group — for scan statistics. */
  def listRowGroupStats(path: String, conf: Configuration)
      : Seq[(Long, Long)] =
    partFiles(path, conf).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        r.getRowGroups.asScala.toSeq.map(bm =>
          (bm.getRowCount, bm.getTotalByteSize))
      } finally r.close()
    }

  /** (file, rowGroupIndex, startingPos, compressedByteSize) per group. */
  def listRowGroups(path: String, conf: Configuration)
      : Seq[(String, Int, Long, Long)] =
    partFiles(path, conf).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        r.getRowGroups.asScala.toSeq.zipWithIndex.map { case (bm, i) =>
          (f.toString, i, bm.getStartingPos, bm.getCompressedSize)
        }
      } finally r.close()
    }

  def sparkSchema(path: String, conf: Configuration): StructType = {
    val f = partFiles(path, conf).head
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try toStruct(r.getFileMetaData.getSchema) finally r.close()
  }

  def project(file: MessageType, names: Array[String]): MessageType = {
    val kept = names.map(n => file.getType(file.getFieldIndex(n)))
    new MessageType(file.getName, kept: _*)
  }

  private[v2] def toStruct(m: MessageType): StructType = StructType(
    m.getFields.asScala.toSeq.map { t =>
      StructField(t.getName, sparkType(t),
        t.getRepetition != Type.Repetition.REQUIRED)
    })

  /** Does this Spark type require the vectorized (Spark-native) reader?
    * The row-mode parquet-mr converter handles flat primitives only. */
  private[v2] def isNested(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  private def sparkType(t: Type): DataType = {
    if (!t.isPrimitive) {
      // nested column: LIST / MAP annotations or a plain struct group.
      // These read through the VECTORIZED path (Spark's own nested
      // column vectors); row mode rejects them at build time.
      val g = t.asGroupType()
      return g.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
          val repeated = g.getType(0)
          if (repeated.isPrimitive) { // legacy 2-level list
            ArrayType(sparkType(repeated), containsNull = false)
          } else {
            val elem = repeated.asGroupType().getType(0)
            ArrayType(sparkType(elem),
              elem.getRepetition != Type.Repetition.REQUIRED)
          }
        case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
          val kv = g.getType(0).asGroupType()
          val (k, v) = (kv.getType(0), kv.getType(1))
          MapType(sparkType(k), sparkType(v),
            v.getRepetition != Type.Repetition.REQUIRED)
        case _ =>
          StructType(g.getFields.asScala.toSeq.map(f =>
            StructField(f.getName, sparkType(f),
              f.getRepetition != Type.Repetition.REQUIRED)))
      }
    }
    val p = t.asPrimitiveType()
    val logical = p.getLogicalTypeAnnotation
    def dec: Option[DataType] = logical match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        Some(DecimalType(d.getPrecision, d.getScale))
      case _ => None
    }
    p.getPrimitiveTypeName match {
      case INT32 =>
        logical match {
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => DateType
          case _ => dec.getOrElse(IntegerType)
        }
      case INT64 =>
        logical match {
          case ts: TimestampLogicalTypeAnnotation =>
            // isAdjustedToUTC=false parquet timestamps are NTZ in Spark
            if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
          case _ => dec.getOrElse(LongType)
        }
      case FLOAT => FloatType
      case DOUBLE => DoubleType
      case BOOLEAN => BooleanType
      case BINARY =>
        logical match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            StringType
          case _ => dec.getOrElse(BinaryType)
        }
      case FIXED_LEN_BYTE_ARRAY =>
        dec.getOrElse(BinaryType) // Spark writes decimal(p>18) as FLBA
      case other => throw new IllegalArgumentException(
        s"graft-v2: unsupported parquet type $other for '${t.getName}'")
    }
  }

  /** Group-field -> Catalyst value converter for one column. The
    * widening cases (INT32 file read as LONG, FLOAT as DOUBLE) are
    * the row-mode half of metadata-only `ALTER COLUMN TYPE`: old
    * files keep their narrow encoding and upcast here per value. */
  def converter(t: Type, dt: DataType): (Group, Int) => Any = {
    val p = t.asPrimitiveType()
    def fileScale: Int = p.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        d.getScale
      case _ => 0
    }
    (p.getPrimitiveTypeName, dt) match {
      case (INT32, DateType) => (g, i) => g.getInteger(i, 0)
      case (INT32, d: DecimalType) =>
        val s = fileScale
        (g, i) => Decimal(
          java.math.BigDecimal.valueOf(g.getInteger(i, 0).toLong, s),
          d.precision, d.scale)
      case (INT32, LongType) =>
        (g, i) => java.lang.Long.valueOf(g.getInteger(i, 0).toLong)
      case (INT32, _) => (g, i) => g.getInteger(i, 0)
      case (INT64, TimestampType | TimestampNTZType) =>
        val unit = p.getLogicalTypeAnnotation
          .asInstanceOf[TimestampLogicalTypeAnnotation].getUnit
        unit match {
          case TimeUnit.MILLIS => (g, i) => g.getLong(i, 0) * 1000L
          case TimeUnit.MICROS => (g, i) => g.getLong(i, 0)
          case TimeUnit.NANOS => (g, i) => g.getLong(i, 0) / 1000L
        }
      case (INT64, d: DecimalType) =>
        val s = fileScale
        (g, i) => Decimal(
          java.math.BigDecimal.valueOf(g.getLong(i, 0), s),
          d.precision, d.scale)
      case (INT64, _) => (g, i) => g.getLong(i, 0)
      case (FLOAT, DoubleType) =>
        (g, i) => java.lang.Double.valueOf(g.getFloat(i, 0).toDouble)
      case (FLOAT, _) => (g, i) => g.getFloat(i, 0)
      case (DOUBLE, _) => (g, i) => g.getDouble(i, 0)
      case (BOOLEAN, _) => (g, i) => g.getBoolean(i, 0)
      case (BINARY, StringType) =>
        (g, i) => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      case (BINARY | FIXED_LEN_BYTE_ARRAY, d: DecimalType) =>
        val s = fileScale
        (g, i) => Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(g.getBinary(i, 0).getBytes), s),
          d.precision, d.scale)
      case (BINARY | FIXED_LEN_BYTE_ARRAY, _) =>
        (g, i) => g.getBinary(i, 0).getBytes
      case (other, _) => throw new IllegalArgumentException(
        s"graft-v2: no converter for $other")
    }
  }
}

/** Driver-side parquet footer cache. At 100 TB (~10⁵ files) re-walking
  * every footer serially per planning step costs minutes of driver time
  * PER QUERY; here each footer is opened once per (file, length, mtime)
  * per driver — `estimateStatistics`, `planInputPartitions`, NANOS
  * detection, and repeated queries all hit the cache — and cold misses
  * load in parallel across files.
  */
object FooterCache {

  /** Per-row-group metadata: placement (for split planning), row/byte
    * counts (for statistics), and per-column min/max statistics (for
    * filter-based row-group pruning). */
  final case class RowGroupMeta(file: String, index: Int,
      startingPos: Long, compressedBytes: Long, rowCount: Long,
      totalByteSize: Long,
      stats: Map[String,
        (org.apache.parquet.column.statistics.Statistics[_], Boolean)])

  private final case class FileMeta(len: Long, modTime: Long,
      schema: MessageType, groups: Seq[RowGroupMeta])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, FileMeta]()

  private def load(status: org.apache.hadoop.fs.FileStatus,
      conf: Configuration): FileMeta = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(status.getPath, conf))
    try {
      val schema = r.getFileMetaData.getSchema
      def isStringCol(name: String): Boolean =
        // nested chunk paths ("embedding.list.element") are never
        // pruning targets; only flat top-level columns qualify
        !name.contains('.') && schema.containsField(name) && {
          val t = schema.getType(schema.getFieldIndex(name))
          t.isPrimitive && t.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        }
      val groups = r.getRowGroups.asScala.toSeq.zipWithIndex.map {
        case (bm, i) =>
          val st = bm.getColumns.asScala.map { cc =>
            val name = cc.getPath.toDotString
            name -> ((cc.getStatistics, isStringCol(name)))
          }.toMap
          RowGroupMeta(status.getPath.toString, i, bm.getStartingPos,
            bm.getCompressedSize, bm.getRowCount, bm.getTotalByteSize, st)
      }
      FileMeta(status.getLen, status.getModificationTime, schema, groups)
    } finally r.close()
  }

  private def fileMetas(path: String): Seq[FileMeta] = {
    val conf = GraftHadoopConf.sessionConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) {
        fs.listStatus(p).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
      } else Seq(st)
    val missing = files.filter { f =>
      val c = cache.get(f.getPath.toString)
      c == null || c.len != f.getLen || c.modTime != f.getModificationTime
    }
    if (missing.nonEmpty) {
      // cold footers load concurrently (common FJ pool) — the 10⁵-file
      // case walks footers across cores instead of serially
      missing.asJava.parallelStream()
        .forEach(f => cache.put(f.getPath.toString, load(f, conf)))
    }
    files.map(f => cache.get(f.getPath.toString))
  }

  def rowGroups(path: String): Seq[RowGroupMeta] =
    fileMetas(path).flatMap(_.groups)

  /** Data-file paths by LISTING ONLY — no footer is opened. The entry
    * point for `_file`-predicate pruning: the allowed set filters this
    * list BEFORE any footer work happens. */
  def filePaths(path: String): Seq[String] = {
    val conf = GraftHadoopConf.sessionConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      fs.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).map(_.getPath.toString)
    } else Seq(p.toString)
  }

  /** Row groups of an EXPLICIT file set (a manifest snapshot) instead
    * of the directory listing. Same (path, len, mtime) cache. A root
    * path a racing commit archived between snapshot resolution and
    * this load falls back to its `.graft-archive/` twin — the file is
    * immutable, only its location moved. */
  def rowGroupsFor(paths: Seq[String]): Seq[RowGroupMeta] = {
    val conf = GraftHadoopConf.sessionConf()
    val statuses = paths.map { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      try fs.getFileStatus(p)
      catch {
        case e: java.io.FileNotFoundException =>
          GraftManifest.archiveTwin(p) match {
            case Some(twin) => fs.getFileStatus(twin)
            case None => throw e
          }
      }
    }
    val missing = statuses.filter { f =>
      val c = cache.get(f.getPath.toString)
      c == null || c.len != f.getLen || c.modTime != f.getModificationTime
    }
    if (missing.nonEmpty) {
      missing.asJava.parallelStream()
        .forEach(f => cache.put(f.getPath.toString, load(f, conf)))
    }
    statuses.flatMap(f => cache.get(f.getPath.toString).groups)
  }

  /** First file's schema, when any parquet file exists. */
  def schemaOption(path: String): Option[MessageType] =
    fileMetas(path).headOption.map(_.schema)

  def schema(path: String): MessageType =
    schemaOption(path).getOrElse(throw new IllegalArgumentException(
      s"graft-v2: no parquet files under $path"))

  /** The parquet time unit of a top-level timestamp column, if any —
    * footer min/max values are in THIS unit and must be normalized to
    * the micros the readers emit. */
  def tsUnit(path: String, colName: String): Option[TimeUnit] =
    schemaOption(path).flatMap(unitOf(_, colName))

  private def unitOf(s: MessageType, colName: String): Option[TimeUnit] =
    if (!s.containsField(colName)) None
    else s.getType(s.getFieldIndex(colName)) match {
      case p if p.isPrimitive => p.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation => Some(ts.getUnit)
        case _ => None
      }
      case _ => None
    }

  /** PER-FILE parquet unit of a top-level timestamp column — footer
    * stat values are in each file's OWN unit, so any cross-file stat
    * arithmetic (the footer-agg fold, the sorted-run prover) must
    * normalize per file, never by the first file's unit. */
  def tsUnitByFile(path: String, colName: String): Map[String, TimeUnit] =
    fileMetas(path).flatMap { fm =>
      for {
        u <- unitOf(fm.schema, colName)
        g <- fm.groups.headOption
      } yield g.file -> u
    }.toMap

  /** Distinct units the column uses across the directory (size > 1 =
    * mixed: raw stat values are not mutually comparable). */
  def tsUnits(path: String, colName: String): Set[TimeUnit] =
    fileMetas(path).flatMap(fm => unitOf(fm.schema, colName)).toSet

  /** True when any column is a NANOS-unit parquet timestamp (no
    * vectorized mapping under this source's micros-converting schema). */
  def hasNanosTimestamp(path: String): Boolean =
    schemaOption(path).exists(_.getFields.asScala.exists { t =>
      t.isPrimitive && (t.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
        case _ => false
      })
    })
}

/** Row-group pruning from footer min/max statistics: can this group
  * possibly contain a row matching the filter? Conservative in every
  * uncertain case (missing stats, incomparable types ⇒ keep the group).
  * This is where pushed filters earn their keep in the vectorized path:
  * groups are eliminated at PLANNING time, before any task is scheduled.
  */
object RowGroupPruning {
  import org.apache.spark.sql.sources._

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
         _: java.lang.Long => true
    case _ => false
  }

  /** None = incomparable (stay conservative). Same exact-compare rules
    * as [[RowFilterEval]]: integral pairs as longs, mixed via BigDecimal. */
  private def cmp(statVal: Any, lit: Any): Option[Int] = (statVal, lit) match {
    case (null, _) | (_, null) => None
    case (a: Number, b: Number) if isIntegral(a) && isIntegral(b) =>
      Some(java.lang.Long.compare(a.longValue(), b.longValue()))
    case (a: Number, b: Number) =>
      val (ad, bd) = (a.doubleValue(), b.doubleValue())
      if (ad.isNaN || bd.isNaN) Some(java.lang.Double.compare(ad, bd))
      else Some(new java.math.BigDecimal(a.toString)
        .compareTo(new java.math.BigDecimal(b.toString)))
    case (a: org.apache.parquet.io.api.Binary, b: String) =>
      // UTF-8 BYTE order — parquet stats and Spark's string ordering
      // both sort by bytes; Java String.compareTo (UTF-16 code units)
      // mis-orders supplementary-plane characters
      Some(UTF8String.fromBytes(a.getBytes)
        .compareTo(UTF8String.fromString(b)))
    case (a: java.lang.Boolean, b: java.lang.Boolean) => Some(a.compareTo(b))
    case _ => None
  }

  /** (min, max, numNulls, rowCount) when usable statistics exist.
    * Requires the null count to be SET: parquet returns -1 when unset,
    * and the sorted-run prover SUMS these per file (orderRuns) — an
    * unset count (-1) could cancel a real null (+1) and certify a
    * nulls-free non-first run the data violates. Same discipline as
    * the footer-agg fold's `isNumNullsSet` checks. */
  private def bounds(rg: FooterCache.RowGroupMeta, colName: String)
      : Option[(Any, Any, Long, Long)] =
    rg.stats.get(colName).flatMap { case (s, _) =>
      if (s == null || s.isEmpty || !s.hasNonNullValue ||
          !s.isNumNullsSet) {
        None
      } else {
        Some((s.genericGetMin, s.genericGetMax, s.getNumNulls,
          rg.rowCount))
      }
    }

  /** Bounds accessor for the sorted-run prover. */
  private[v2] def boundsOf(rg: FooterCache.RowGroupMeta, colName: String)
      : Option[(Any, Any, Long, Long)] = bounds(rg, colName)

  /** Compare two STAT values of the same column (both came from
    * parquet footers, so same physical type). Binary stats compare in
    * UTF-8 byte order — sound even when truncated, because parquet
    * truncates min downward and max upward, preserving bound-ness. */
  private[v2] def statCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
      Some(java.lang.Long.compare(x.longValue(), y.longValue()))
    case (x: Number, y: Number) =>
      val (xd, yd) = (x.doubleValue(), y.doubleValue())
      if (xd.isNaN || yd.isNaN) Some(java.lang.Double.compare(xd, yd))
      else Some(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)))
    case (x: org.apache.parquet.io.api.Binary,
          y: org.apache.parquet.io.api.Binary) =>
      Some(UTF8String.fromBytes(x.getBytes)
        .compareTo(UTF8String.fromBytes(y.getBytes)))
    case (x: java.lang.Boolean, y: java.lang.Boolean) =>
      Some(x.compareTo(y))
    case _ => None
  }

  /** Dual of [[mayMatch]]: does the filter provably hold for EVERY row
    * of the group? Requires zero nulls on referenced columns (a null
    * makes the predicate UNKNOWN, i.e. the row does not match).
    * Conservative default is false. Together with `!mayMatch` (no row
    * can match) this classifies groups as all/none/undecided — the
    * basis for answering filtered aggregates footer-only. */
  def mustMatch(f: Filter, rg: FooterCache.RowGroupMeta): Boolean = {
    def noNulls(a: String): Boolean = rg.stats.get(a).exists { case (s, _) =>
      s != null && s.isNumNullsSet && s.getNumNulls == 0
    }
    def decided(a: String)(p: (Any, Any) => Boolean): Boolean =
      noNulls(a) && bounds(rg, a).exists { case (lo, hi, _, _) => p(lo, hi) }
    f match {
      case EqualTo(a, v) => decided(a)((lo, hi) =>
        cmp(lo, v).contains(0) && cmp(hi, v).contains(0))
      case LessThan(a, v) => decided(a)((_, hi) => cmp(hi, v).exists(_ < 0))
      case LessThanOrEqual(a, v) =>
        decided(a)((_, hi) => cmp(hi, v).exists(_ <= 0))
      case GreaterThan(a, v) => decided(a)((lo, _) => cmp(lo, v).exists(_ > 0))
      case GreaterThanOrEqual(a, v) =>
        decided(a)((lo, _) => cmp(lo, v).exists(_ >= 0))
      case IsNotNull(a) => noNulls(a)
      case IsNull(a) => rg.stats.get(a).exists { case (s, _) =>
        s != null && s.isNumNullsSet && s.getNumNulls == rg.rowCount
      }
      case In(a, vs) => decided(a)((lo, hi) =>
        cmp(lo, hi).contains(0) && vs.exists(v => cmp(lo, v).contains(0)))
      case And(l, r) => mustMatch(l, rg) && mustMatch(r, rg)
      case Or(l, r) => mustMatch(l, rg) || mustMatch(r, rg)
      case _ => false
    }
  }

  def mayMatch(f: Filter, rg: FooterCache.RowGroupMeta): Boolean = f match {
    case EqualTo(a, v) => bounds(rg, a).forall { case (lo, hi, _, _) =>
      cmp(lo, v).forall(_ <= 0) && cmp(hi, v).forall(_ >= 0)
    }
    case LessThan(a, v) =>
      bounds(rg, a).forall { case (lo, _, _, _) => cmp(lo, v).forall(_ < 0) }
    case LessThanOrEqual(a, v) =>
      bounds(rg, a).forall { case (lo, _, _, _) => cmp(lo, v).forall(_ <= 0) }
    case GreaterThan(a, v) =>
      bounds(rg, a).forall { case (_, hi, _, _) => cmp(hi, v).forall(_ > 0) }
    case GreaterThanOrEqual(a, v) =>
      bounds(rg, a).forall { case (_, hi, _, _) => cmp(hi, v).forall(_ >= 0) }
    case In(a, vs) => bounds(rg, a).forall { case (lo, hi, _, _) =>
      vs.exists(v => cmp(lo, v).forall(_ <= 0) && cmp(hi, v).forall(_ >= 0))
    }
    case IsNull(a) => rg.stats.get(a).forall { case (s, _) =>
      s == null || s.isNumNullsSet == false || s.getNumNulls != 0
    }
    case IsNotNull(a) => rg.stats.get(a).forall { case (s, _) =>
      s == null || !s.isNumNullsSet || s.getNumNulls < rg.rowCount
    }
    case StringStartsWith(a, v) =>
      bounds(rg, a).forall { case (lo, hi, _, _) =>
        // strings with prefix v sit in [v, v+MAXCHAR): need max >= v and
        // min either <= v or itself carrying the prefix
        cmp(hi, v).forall(_ >= 0) && cmp(lo, v).forall(c => c <= 0 || (lo
          match {
            case b: org.apache.parquet.io.api.Binary =>
              b.toStringUsingUTF8.startsWith(v)
            case _ => true
          }))
      }
    case And(l, r) => mayMatch(l, rg) && mayMatch(r, rg)
    case Or(l, r) => mayMatch(l, rg) || mayMatch(r, rg)
    case _ => true // Not, string contains/endswith, unknown: keep
  }
}

/** Interprets `sources.Filter`s against materialized rows — the V2
  * analog of compiling filters into the source query. Only filters this
  * object `supports` are accepted for pushdown; everything else stays a
  * Spark-side residual.
  */
object RowFilterEval extends Serializable {
  import org.apache.spark.sql.sources._

  def supports(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, v) => comparable(a, v, schema)
    case LessThan(a, v) => comparable(a, v, schema)
    case LessThanOrEqual(a, v) => comparable(a, v, schema)
    case GreaterThan(a, v) => comparable(a, v, schema)
    case GreaterThanOrEqual(a, v) => comparable(a, v, schema)
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case In(a, vs) => vs.forall(v => comparable(a, v, schema))
    case StringStartsWith(a, _) => isString(a, schema)
    case StringEndsWith(a, _) => isString(a, schema)
    case StringContains(a, _) => isString(a, schema)
    case And(l, r) => supports(l, schema) && supports(r, schema)
    case Or(l, r) => supports(l, schema) && supports(r, schema)
    case Not(c) => supports(c, schema)
    case _ => false
  }

  private def isString(a: String, schema: StructType): Boolean = {
    val i = schema.fieldNames.indexOf(a)
    i >= 0 && schema(i).dataType == StringType
  }

  private def comparable(a: String, v: Any, schema: StructType): Boolean =
    schema.fieldNames.contains(a) && (v match {
      case _: Number | _: String | _: Boolean => true
      // temporal literals compare exactly against the internal
      // micros/days longs (see cmp below) — accepting them here is
      // what lets time-range predicates reach the manifest skip
      // stats and row-group pruning at all
      case _: java.sql.Timestamp | _: java.time.Instant |
           _: java.time.LocalDateTime | _: java.sql.Date |
           _: java.time.LocalDate => true
      case _ => false
    })

  /** Compile to a predicate over rows laid out as `schema`.
    *
    * Evaluation is SQL THREE-VALUED: `eval` returns `Option[Boolean]`
    * with `None` for UNKNOWN (null operand), combined with Kleene
    * and/or/not. Since accepted filters are removed from Spark's plan
    * (only residuals are re-checked), a plain-boolean evaluation of
    * `Not`/`Or` over nullable columns would let rows through that SQL
    * filters out — e.g. `a <> 5 OR b > 2` on (a=NULL, b=1). A row is
    * emitted only when every pushed filter is definitely TRUE.
    */
  def compile(filters: Array[Filter], schema: StructType)
      : InternalRow => Boolean = {
    if (filters.isEmpty) return _ => true
    val idx = schema.fieldNames.zipWithIndex.toMap
    val types = schema.fields.map(_.dataType)

    def value(row: InternalRow, a: String): Any = {
      val i = idx(a)
      if (row.isNullAt(i)) null else row.get(i, types(i))
    }
    def isIntegral(n: Number): Boolean = n match {
      case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
           _: java.lang.Long => true
      case _ => false
    }
    // None = incomparable (null operand). Integral pairs compare as
    // longs — a double round-trip corrupts ordering past 2^53. Mixed
    // integral/floating compares exactly via BigDecimal (NaN excepted:
    // Spark orders NaN greatest, which Double.compare matches).
    def cmp(x: Any, lit: Any): Option[Int] = (x, lit) match {
      case (null, _) | (_, null) => None
      case (a: Number, b: Number) if isIntegral(a) && isIntegral(b) =>
        Some(java.lang.Long.compare(a.longValue(), b.longValue()))
      case (a: Number, b: Number) =>
        val (ad, bd) = (a.doubleValue(), b.doubleValue())
        if (ad.isNaN || bd.isNaN) Some(java.lang.Double.compare(ad, bd))
        else Some(new java.math.BigDecimal(a.toString)
          .compareTo(new java.math.BigDecimal(b.toString)))
      case (a: UTF8String, b: String) =>
        // byte order, matching Spark's own string comparisons (UTF-16
        // compareTo mis-orders supplementary-plane characters)
        Some(a.compareTo(UTF8String.fromString(b)))
      case (a: Boolean, b: Boolean) => Some(a.compareTo(b))
      // temporal literals vs the internal representation: timestamps
      // (LTZ and NTZ) are micros longs, dates are day ints. The
      // Number-Number case above never sees these — the temporal
      // externals are not java.lang.Number.
      case (a: java.lang.Long, b: java.sql.Timestamp) =>
        Some(java.lang.Long.compare(a,
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(b)))
      case (a: java.lang.Long, b: java.time.Instant) =>
        Some(java.lang.Long.compare(a,
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .instantToMicros(b)))
      case (a: java.lang.Long, b: java.time.LocalDateTime) =>
        Some(java.lang.Long.compare(a,
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .localDateTimeToMicros(b)))
      case (a: java.lang.Integer, b: java.sql.Date) =>
        Some(java.lang.Integer.compare(a,
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaDate(b)))
      case (a: java.lang.Integer, b: java.time.LocalDate) =>
        Some(java.lang.Long.compare(a.longValue(), b.toEpochDay))
      case _ => None
    }
    def strOp(row: InternalRow, a: String)(
        op: String => Boolean): Option[Boolean] =
      value(row, a) match {
        case null => None
        case s: UTF8String => Some(op(s.toString))
        case _ => Some(false)
      }
    def eval(f: Filter, row: InternalRow): Option[Boolean] = f match {
      case EqualTo(a, v) => cmp(value(row, a), v).map(_ == 0)
      case LessThan(a, v) => cmp(value(row, a), v).map(_ < 0)
      case LessThanOrEqual(a, v) => cmp(value(row, a), v).map(_ <= 0)
      case GreaterThan(a, v) => cmp(value(row, a), v).map(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(value(row, a), v).map(_ >= 0)
      case IsNull(a) => Some(value(row, a) == null)
      case IsNotNull(a) => Some(value(row, a) != null)
      case In(a, vs) =>
        val x = value(row, a)
        if (x == null) None
        else Some(vs.exists(v => cmp(x, v).contains(0)))
      case StringStartsWith(a, v) => strOp(row, a)(_.startsWith(v))
      case StringEndsWith(a, v) => strOp(row, a)(_.endsWith(v))
      case StringContains(a, v) => strOp(row, a)(_.contains(v))
      case And(l, r) => (eval(l, row), eval(r, row)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval(l, row), eval(r, row)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(c) => eval(c, row).map(!_)
      case _ => None
    }
    row => filters.forall(eval(_, row).contains(true))
  }
}
