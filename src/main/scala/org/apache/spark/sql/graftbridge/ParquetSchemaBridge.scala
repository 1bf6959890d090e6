package org.apache.spark.sql.graftbridge

import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema resolution. `spark.read.parquet(path)`
  * infers its schema with a one-task Spark job
  * (`ParquetFileFormat.mergeSchemasInParallel`) even when it touches a
  * single footer; this reads that same footer on the driver and
  * assembles the schema the way `DataSource.resolveRelation` does. The
  * pieces it needs (`asNullable`, the compilation errors) are
  * `private[spark]` / `private[sql]`, hence the bridge package.
  */
object ParquetSchemaBridge {

  /** The schema `spark.read.parquet(path).schema` infers for a
    * non-merging read, with the same errors: `PATH_NOT_FOUND` for a
    * missing path, `UNABLE_TO_INFER_SCHEMA` when it holds no parquet
    * file. The path is globbed and listed once (partition discovery
    * included); the footer read skips row-group metadata. */
  def inferSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
    // ParquetUtils.inferSchema's pick for a non-merging read: a summary
    // file if there is one, else the first part-file by path
    def rank(name: String): Int = name match {
      case "_common_metadata" => 0
      case "_metadata" => 1
      case _ => 2
    }
    val touched = index.allFiles()
      .minByOption(f => (rank(f.getPath.getName), f.getPath.toString))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val footer = new Footer(touched.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(touched, hadoopConf), SKIP_ROW_GROUPS))
    val data = ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(conf))
    PartitioningUtils.mergeDataAndPartitionSchema(
      data.asNullable, index.partitionSchema, conf.caseSensitiveAnalysis)._1
  }
}
