package graft

import org.apache.spark.sql.{AnalysisException, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.sources.{GraftFilters, GraftRelation, GraftSink}
import graft.sources.v2.{GraftDeleteV2, GraftManifest}

/** Scan-surface contracts: pruning, filter pushdown, residuals,
  * partitioned read (reference JDBCRelationWithLimit.scala:29-43,
  * JDBCRDDWithLimit.scala:36-63).
  */
class GraftRelationSpec extends SparkTestBase {

  private def rel(np: Int = 1, pc: Option[String] = None) =
    GraftRelation(spark, s"$sf001/lineitem.parquet", np, pc)

  test("schema resolves eagerly from parquet footer") {
    assert(rel().schema.fieldNames.contains("l_orderkey"))
    assert(rel().schema.size == 11)
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-rel").toString

  test("schema parity: the driver-side footer read equals spark.read.parquet") {
    val base = tmpDir()
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    li.repartition(4).write.format("graft-v2").mode("append")
      .option("path", s"$base/v2")
      .option("statsColumns", "l_orderkey,l_quantity").save()
    GraftSink.saveAtomic(li.limit(100), s"$base/v1", SaveMode.ErrorIfExists)
    spark.range(10).select(col("id"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").as("a"), lit("x").as("b")).as("st"))
      .write.parquet(s"$base/nested")
    // TIMESTAMP_NTZ is only told apart from TIMESTAMP by the Spark
    // schema kept in the footer's key-value metadata
    spark.range(5).select(col("id"),
        lit(java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)).as("ts"))
      .write.parquet(s"$base/ntz")
    spark.range(20).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(s"$base/hive")
    val paths = Seq(s"$sf001/lineitem.parquet") ++
      Seq("v2", "v1", "nested", "ntz", "hive").map(t => s"$base/$t")
    paths.foreach { p =>
      assert(GraftRelation(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    assert(GraftRelation(spark, s"$base/ntz").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // the carried schema, partition column included, drives the scan
    val hive = spark.read.format("graft").load(s"$base/hive")
    assert(hive.schema.fieldNames.toSeq == Seq("id", "k"))
    assert(hive.orderBy("id").collect().toSeq ==
      spark.read.parquet(s"$base/hive").orderBy("id").collect().toSeq)
  }

  test("error parity: a missing path and an empty directory fail as " +
      "spark.read.parquet does") {
    def failure(f: => Any): (String, String) = {
      val e = intercept[AnalysisException](f)
      (e.getClass.getName, e.getCondition)
    }
    val missing = s"${tmpDir()}/nope"
    assert(failure(GraftRelation(spark, missing)) ==
      failure(spark.read.parquet(missing)))
    assert(failure(GraftRelation(spark, missing))._2 == "PATH_NOT_FOUND")
    val empty = tmpDir()
    assert(failure(spark.read.format("graft").load(empty)) ==
      failure(spark.read.parquet(empty)))
    assert(failure(GraftRelation(spark, empty))._2 == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a loaded V1 DataFrame lists its directory per execution and " +
      "refuses deletion vectors added after load") {
    val p = s"${tmpDir()}/t"
    GraftSink.saveAtomic(spark.range(0, 10).toDF("id"), p, SaveMode.ErrorIfExists)
    val df = spark.read.format("graft").load(p)
    assert(df.count() == 10)
    GraftSink.saveAtomic(spark.range(10, 25).toDF("id"), p, SaveMode.Append)
    assert(df.count() == 25)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 25L))

    val dv = s"${tmpDir()}/dv"
    spark.range(0, 1000).toDF("id").write.format("graft-v2").mode("append")
      .option("path", dv).save()
    val masked = spark.read.format("graft").load(dv)
    assert(masked.count() == 1000)
    GraftDeleteV2.deleteWhere(dv, masked.schema, EqualTo("id", 3L))
    val dir = new org.apache.hadoop.fs.Path(dv)
    assert(GraftManifest.current(dir.getFileSystem(
      spark.sessionState.newHadoopConf()), dir).exists(_.dvs.nonEmpty))
    val e = intercept[Exception](masked.count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains("carries deletion vectors")), messages)
  }

  // needConversion=false: the scan emits InternalRow typed as Row
  // (reference JDBCRelationWithLimit.scala:24 declares the same)
  private def asInternal(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) =
    rdd.asInstanceOf[org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow]]

  test("column pruning: scan returns only required columns, in order") {
    val rdd = asInternal(
      rel().buildScan(Array("l_quantity", "l_orderkey"), Array.empty))
    val row = rdd.first()
    assert(row.numFields == 2)
    // order must match requiredColumns: (double, long)
    assert(row.getDouble(0) >= 0.0 && row.getLong(1) >= 0L)
  }

  test("zero required columns degenerates to constant (count-only scan)") {
    val rdd = asInternal(rel().buildScan(Array.empty, Array.empty))
    assert(rdd.first().numFields == 1)
    assert(rdd.count() == spark.read.parquet(s"$sf001/lineitem.parquet").count())
  }

  test("pushed filters reduce scan output") {
    val rdd = rel().buildScan(Array("l_orderkey"),
      Array(EqualTo("l_returnflag", "R"), LessThan("l_quantity", 5.0)))
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet")
      .filter(col("l_returnflag") === "R" && col("l_quantity") < 5.0).count()
    assert(rdd.count() == expected)
  }

  test("unhandledFilters reports only what compile() rejects") {
    val r = rel()
    val supported: Array[Filter] = Array(EqualTo("l_returnflag", "R"),
      In("l_linenumber", Array(1, 2)), IsNotNull("l_comment_x"),
      Or(EqualTo("l_returnflag", "R"), GreaterThan("l_quantity", 1.0)))
    assert(r.unhandledFilters(supported).isEmpty)
    val unsupported: Array[Filter] = Array(AlwaysTrue)
    assert(r.unhandledFilters(unsupported).sameElements(unsupported))
  }

  test("filter compiler covers the sources.Filter algebra") {
    assert(GraftFilters.compile(Not(EqualTo("a", 1))).isDefined)
    assert(GraftFilters.compile(And(IsNull("a"), IsNotNull("b"))).isDefined)
    assert(GraftFilters.compile(StringStartsWith("a", "x")).isDefined)
    assert(GraftFilters.compile(StringEndsWith("a", "x")).isDefined)
    assert(GraftFilters.compile(StringContains("a", "x")).isDefined)
    assert(GraftFilters.compile(AlwaysTrue).isEmpty)
  }

  test("partitioned scan: disjoint hash buckets cover the table exactly") {
    val r = rel(np = 4, pc = Some("l_orderkey"))
    val rdd = r.buildScan(Array("l_orderkey"), Array.empty)
    // single scan + one exchange: exactly N output partitions
    assert(rdd.getNumPartitions == 4)
    assert(rdd.count() ==
      spark.read.parquet(s"$sf001/lineitem.parquet").count())
    // per-partition contract: rows are co-located by the partition
    // column — a given l_orderkey value lands in exactly one partition
    val keyToParts = asInternal(rdd).mapPartitionsWithIndex { (pid, it) =>
      it.map(row => (row.getLong(0), pid))
    }.distinct().collect().groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(keyToParts.forall(_._2.length == 1),
      "a partition-column value appeared in more than one partition")
  }

  test("partitioned scan works when the partition column is not projected") {
    val r = rel(np = 4, pc = Some("l_orderkey"))
    // count-style: zero required columns
    val none = r.buildScan(Array.empty, Array.empty)
    assert(none.count() ==
      spark.read.parquet(s"$sf001/lineitem.parquet").count())
    // projection that omits the partition column
    val other = r.buildScan(Array("l_quantity"), Array.empty)
    assert(other.getNumPartitions == 4)
    assert(other.count() ==
      spark.read.parquet(s"$sf001/lineitem.parquet").count())
  }

  test("format(\"graft\") round-trips through DataSourceRegister") {
    val df = spark.read.format("graft")
      .option("path", s"$sf001/nation.parquet").load()
    assert(df.count() == 25)
  }
}
