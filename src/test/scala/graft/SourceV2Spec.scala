package graft

import org.apache.spark.sql.functions._

/** DataSource V2 source: schema inference, value parity with the
  * vectorized parquet reader, pushdown of columns/filters/limit through
  * `V2ScanRelationPushDown` (no custom rule), row-group partitioning.
  */
class SourceV2Spec extends SparkTestBase {

  private def v2(name: String) =
    spark.read.format("graft-v2")
      .option("path", s"$sf001/$name.parquet").load()

  test("schema inference matches the vectorized reader") {
    assert(v2("lineitem").schema ==
      spark.read.parquet(s"$sf001/lineitem.parquet").schema)
    assert(v2("orders").schema ==
      spark.read.parquet(s"$sf001/orders.parquet").schema)
  }

  test("full-table values match the vectorized reader (incl. timestamps)") {
    val a = v2("orders")
    val b = spark.read.parquet(s"$sf001/orders.parquet")
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("strings and nulls round-trip") {
    val a = v2("customer")
    val b = spark.read.parquet(s"$sf001/customer.parquet")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("filter + projection + limit land in the V2 scan") {
    // vectorized (default): filters pushed for row-group pruning AND
    // kept as residuals, so a limit cannot hop the filter — but a bare
    // limit pushes:
    val vlim = v2("lineitem").select(col("l_orderkey")).limit(7)
    assert(vlim.queryExecution.executedPlan.toString.contains(
      "PushedLimit: 7"), vlim.queryExecution.executedPlan.toString)
    // row mode: reference semantics — accepted filters are REMOVED from
    // the plan, so filter+limit both land in the scan
    val df = spark.read.format("graft-v2")
      .option("path", s"$sf001/lineitem.parquet")
      .option("vectorized", "false").load()
      .filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_quantity"))
      .limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScanV2"), plan)
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan)
    assert(plan.contains("PushedLimit: 7"), plan)
    assert(df.count() == 7)
    // correctness of the filtered result vs vectorized reader
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet")
      .filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
      .count()
    val got = v2("lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
      .count()
    assert(got == expected)
  }

  test("unsupported filter stays a Spark-side residual, result correct") {
    val got = v2("lineitem").filter(col("l_quantity") + 1 > 5).count()
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet")
      .filter(col("l_quantity") + 1 > 5).count()
    assert(got == expected)
  }

  test("aggregation over the v2 source matches the v1 path") {
    val a = v2("lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
    val b = Tables.t(spark, sf001, "lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("s"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("array columns read through the vectorized path") {
    val a = v2("embeddings") // embedding: array<float>
    val b = spark.read.parquet(s"$sf001/embeddings.parquet")
    assert(a.schema == b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // array functions compose on top of the batch scan
    assert(a.select(size(col("embedding"))).distinct().head.getInt(0) == 64)
  }

  test("row mode still rejects nested schemas with a clear error") {
    val e = intercept[Exception] {
      spark.read.format("graft-v2")
        .option("path", s"$sf001/embeddings.parquet")
        .option("vectorized", "false").load().collect()
    }
    assert(e.getMessage.contains("flat primitive schemas"), e.getMessage)
  }

  test("pushed filters compare longs exactly beyond 2^53") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.sources.v2.RowFilterEval
    val schema = StructType(Seq(StructField("a", LongType)))
    val big = 9007199254740993L // 2^53 + 1: == 2^53 after a double round-trip
    def row(v: Long) = new GenericInternalRow(Array[Any](v))
    val eq = RowFilterEval.compile(Array(EqualTo("a", big)), schema)
    assert(eq(row(big)) && !eq(row(big - 1)),
      "EqualTo must distinguish adjacent longs past 2^53")
    val gt = RowFilterEval.compile(Array(GreaterThan("a", big - 1)), schema)
    assert(gt(row(big)) && !gt(row(big - 1)))
  }

  test("pushed Not/Or use SQL three-valued logic over nulls") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, IsNull, Not, Or}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import graft.sources.v2.RowFilterEval
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType)))
    def row(a: Any, b: Any) = new GenericInternalRow(Array[Any](a, b))
    // a <> 5 OR b > 2: UNKNOWN for (a=NULL, b<=2) -> row filtered out
    val p = RowFilterEval.compile(
      Array(Or(Not(EqualTo("a", 5)), GreaterThan("b", 2))), schema)
    assert(!p(row(null, 1)), "NULL <> 5 OR 1 > 2 is UNKNOWN, not TRUE")
    assert(p(row(null, 3)), "UNKNOWN OR TRUE is TRUE")
    assert(p(row(4, 1)) && !p(row(5, 1)))
    // NOT over null propagates UNKNOWN
    val n = RowFilterEval.compile(Array(Not(GreaterThan("a", 0))), schema)
    assert(!n(row(null, 1)))
    // IsNull remains definite
    val isn = RowFilterEval.compile(Array(Not(IsNull("a"))), schema)
    assert(isn(row(1, 1)) && !isn(row(null, 1)))
  }

  test("end-to-end: fully-pushed disjunction over nullable column") {
    val dir = tempDir("graft-v2-null").resolve("t").toString
    import spark.implicits._
    Seq[(java.lang.Integer, java.lang.Integer)](
      (5, 1), (5, 3), (null, 1), (null, 3), (4, 1))
      .toDF("a", "b").repartition(1).write.parquet(dir)
    val cond = (col("a") =!= 5) || (col("b") > 2)
    // row mode: accepted filters are REMOVED from Spark's plan, so this
    // exercises RowFilterEval's three-valued evaluation end-to-end
    val got = spark.read.format("graft-v2").option("path", dir)
      .option("vectorized", "false").load()
      .filter(cond)
    // the filter must have been pushed (removed from Spark's plan)…
    assert(got.queryExecution.executedPlan.toString.contains("GraftScanV2"))
    // …and still match Spark's own three-valued semantics
    val expected = spark.read.parquet(dir).filter(cond)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(got.count() == expected.count())
  }

  test("vectorized batch read matches the row path exactly") {
    val v = v2("lineitem") // vectorized by default
    assert(v.queryExecution.executedPlan.toString.contains("Vectorized: true"),
      v.queryExecution.executedPlan.toString)
    val r = spark.read.format("graft-v2")
      .option("path", s"$sf001/lineitem.parquet")
      .option("vectorized", "false").load()
    assert(v.exceptAll(r).isEmpty && r.exceptAll(v).isEmpty)
    // filters + projection + limit still correct through batches
    val cond = col("l_returnflag") === "R" && col("l_quantity") < 10
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet")
      .filter(cond).count()
    assert(v2("lineitem").filter(cond).count() == expected)
    assert(v2("lineitem").filter(cond).limit(7).count() == 7)
  }

  test("pushed filters prune row groups from footer statistics") {
    val dir = tempDir("graft-v2-prune").resolve("t").toString
    import spark.implicits._
    // 4 range-partitioned files -> disjoint id ranges per row group
    (0L until 4000L).toDF("id").withColumn("pad", col("id") * 2)
      .repartitionByRange(4, col("id")).write.parquet(dir)
    def scan(c: org.apache.spark.sql.Column) =
      spark.read.format("graft-v2").option("path", dir).load().filter(c)
    val all = scan(col("id") >= 0)
    val pruned = scan(col("id") > 3500)
    assert(all.rdd.getNumPartitions >= 4)
    // planning-time elimination: fewer scheduled partitions, same answer
    assert(pruned.rdd.getNumPartitions < all.rdd.getNumPartitions,
      s"pruned=${pruned.rdd.getNumPartitions} all=${all.rdd.getNumPartitions}")
    assert(pruned.count() == 499)
  }

  test("top-k pushdown (row mode): per-row-group bounded heap") {
    def v2row = spark.read.format("graft-v2")
      .option("path", s"$sf001/lineitem.parquet")
      .option("vectorized", "false").load()
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey"),
      col("l_linenumber"))
    val df = v2row.orderBy(ord: _*).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN"), plan)
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet")
      .orderBy(ord: _*).limit(5)
    assert(df.collect().toSeq == expected.collect().toSeq)
  }

  test("top-k pushdown (vectorized): columnar decode, bounded heap") {
    // default path (vectorized=true) — no longer declines pushTopN
    def v2vec = spark.read.format("graft-v2")
      .option("path", s"$sf001/lineitem.parquet").load()
    val ord = Seq(col("l_extendedprice").desc, col("l_orderkey"),
      col("l_linenumber"))
    val df = v2vec.orderBy(ord: _*).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN"), plan)
    val expected = spark.read.parquet(s"$sf001/lineitem.parquet")
      .orderBy(ord: _*).limit(5)
    assert(df.collect().toSeq == expected.collect().toSeq)
    // with a filter the vectorized path declines (filters stay
    // residual above the scan), and the result is still correct
    val filtered = v2vec.filter(col("l_quantity") > 10)
      .orderBy(ord: _*).limit(5)
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("PushedTopN"))
    val expectedF = spark.read.parquet(s"$sf001/lineitem.parquet")
      .filter(col("l_quantity") > 10).orderBy(ord: _*).limit(5)
    assert(filtered.collect().toSeq == expectedF.collect().toSeq)
    // strings + nulls-aware ordering through the vectorized heap
    val sOrd = Seq(col("l_returnflag").desc_nulls_last, col("l_orderkey"),
      col("l_linenumber"))
    val sdf = v2vec.orderBy(sOrd: _*).limit(7)
    assert(sdf.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(sdf.collect().toSeq == spark.read
      .parquet(s"$sf001/lineitem.parquet").orderBy(sOrd: _*).limit(7)
      .collect().toSeq)
  }

  test("top-k pushdown honors null ordering") {
    val dir = tempDir("graft-v2-topn").resolve("t").toString
    import spark.implicits._
    Seq[(java.lang.Long, java.lang.Integer)](
      (1L, 5), (2L, null), (3L, 1), (4L, null), (5L, 9))
      .toDF("id", "v").repartition(1).write.parquet(dir)
    def v2row = spark.read.format("graft-v2").option("path", dir)
      .option("vectorized", "false").load()
    val lastOrd = Seq(col("v").asc_nulls_last, col("id"))
    val gotLast = v2row.orderBy(lastOrd: _*).limit(3)
    assert(gotLast.queryExecution.executedPlan.toString
      .contains("PushedTopN"))
    assert(gotLast.select(col("id")).as[Long].collect().toSeq ==
      Seq(3L, 1L, 5L))
    val firstOrd = Seq(col("v").asc_nulls_first, col("id"))
    assert(v2row.orderBy(firstOrd: _*).limit(3)
      .select(col("id")).as[Long].collect().toSeq == Seq(2L, 4L, 3L))
  }

  test("batchSize option bounds the vectorized batch row count") {
    val df = spark.read.format("graft-v2")
      .option("path", s"$sf001/lineitem.parquet")
      .option("batchSize", "100").load()
    // correctness unaffected; fetch cadence is 100-row batches
    assert(df.count() ==
      spark.read.parquet(s"$sf001/lineitem.parquet").count())
  }

  test("count/min/max answered from footers without reading data") {
    val aggs = Seq(count(lit(1)).as("n"), min(col("l_quantity")).as("mn"),
      max(col("l_extendedprice")).as("mx"),
      count(col("l_returnflag")).as("nc"))
    val df = v2("lineitem").agg(aggs.head, aggs.tail: _*)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan)
    val exp = spark.read.parquet(s"$sf001/lineitem.parquet")
      .agg(aggs.head, aggs.tail: _*).head
    assert(df.head == exp)
  }

  test("aggregate pushdown declines when it could be wrong") {
    // under a filter: footer stats are pre-filter -> no push, correct
    val f = v2("lineitem").filter(col("l_quantity") > 10)
      .agg(count(lit(1)).as("n"))
    assert(!f.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(f.head.getLong(0) ==
      spark.read.parquet(s"$sf001/lineitem.parquet")
        .filter(col("l_quantity") > 10).count())
    // string min/max: parquet may truncate binary stats -> no push
    val s = v2("lineitem").agg(min(col("l_returnflag")).as("m"))
    assert(!s.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(s.head.getString(0) == "A")
    // group-by: needs the real scan -> no push, correct
    val g = v2("lineitem").groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("m"))
    val eg = spark.read.parquet(s"$sf001/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(min(col("l_quantity")).as("m"))
    assert(g.exceptAll(eg).isEmpty && eg.exceptAll(g).isEmpty)
  }

  test("runtime filters prune row groups at execution time") {
    val dir = tempDir("graft-v2-dpp").resolve("t").toString
    import spark.implicits._
    (0L until 4000L).toDF("id").withColumn("v", col("id") * 3)
      .repartitionByRange(4, col("id")).write.parquet(dir)
    val df = spark.read.format("graft-v2").option("path", dir).load()
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.get.asInstanceOf[graft.sources.v2.GraftScanV2]
    val before = scan.planInputPartitions().length
    assert(before >= 4)
    // simulate the DPP delivery: a built In-set lands after the dim side
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(3990L, 3991L))))
    val after = scan.planInputPartitions().length
    assert(after < before, s"runtime In did not prune: $after of $before")
    // e2e: selective dim join stays correct (DPP may or may not fire)
    val dim = Seq(3990L, 10L).toDF("k")
    val got = spark.read.format("graft-v2").option("path", dir).load()
      .join(dim, col("id") === col("k")).agg(sum(col("v"))).head.getLong(0)
    assert(got == (3990L + 10L) * 3)
  }

  test("V2 write: append and truncate-overwrite through BatchWrite") {
    val dir = tempDir("graft-v2-write").resolve("t").toString
    val nation = spark.read.parquet(s"$sf001/nation.parquet")
    nation.write.parquet(dir) // seed the table
    // append through the staged-commit V2 write path
    nation.limit(5).write.format("graft-v2").option("path", dir)
      .mode("append").save()
    assert(spark.read.parquet(dir).count() == 30)
    val v2back = spark.read.format("graft-v2").option("path", dir).load()
    assert(v2back.count() == 30)
    // overwrite arrives as truncate: directory object survives
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_marker"), "keep".getBytes)
    nation.limit(3).write.format("graft-v2").option("path", dir)
      .mode("overwrite").save()
    assert(spark.read.parquet(dir).count() == 3)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_graft_marker")))
    // no staging residue
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".graft-v2-staging")))
  }

  test("V2 write: append rejects a mismatched schema") {
    val dir = tempDir("graft-v2-wmis").resolve("t").toString
    spark.read.parquet(s"$sf001/nation.parquet").write.parquet(dir)
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, "x")).toDF("a", "b").write.format("graft-v2")
        .option("path", dir).mode("append").save()
    }
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
  }

  test("_file point/IN predicates prune the listing before footer work") {
    val dir = tempDir("graft-v2-fprune").resolve("t").toString
    import spark.implicits._
    (0 until 4).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("id").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    def v2read = spark.read.format("graft-v2").option("path", dir).load()
    assert(v2read.select(col("_file")).distinct().count() == 4)
    // part names are job-unique (lexicographic order != insert order):
    // resolve each insert's file from the data
    def fileOf(id: Long): String = v2read.filter(col("id") === id)
      .select(col("_file")).as[String].head
    val files = Seq(0L, 100L, 200L, 300L).map(fileOf)
    // point predicate: only the named file's row groups plan
    val one = v2read.filter(col("_file") === files(0))
      .select(col("id"), col("_file"))
    assert(one.rdd.getNumPartitions == 1,
      s"expected 1 planned row group, plan:\n" +
        one.queryExecution.executedPlan)
    assert(one.queryExecution.executedPlan.toString
      .contains("PushedFileFilter: 1 file"),
      one.queryExecution.executedPlan.toString)
    val ids = one.select(col("id")).as[Long].collect().sorted
    assert(ids.length == 100 && ids.head == 0L && ids.last == 99L)
    // IN predicate over two files
    val two = v2read.filter(col("_file").isin(files(1), files(2)))
      .select(col("id"))
    assert(two.rdd.getNumPartitions == 2)
    assert(two.count() == 200)
    // row mode takes the same path
    val rowMode = spark.read.format("graft-v2").option("path", dir)
      .option("vectorized", "false").load()
      .filter(col("_file") === files(3)).select(col("id"))
    assert(rowMode.rdd.getNumPartitions == 1)
    assert(rowMode.count() == 100)
  }

  test("V2 write: a widened append records the schema marker " +
      "(visibility independent of file name order)") {
    import graft.sources.v2.GraftCatalog
    val dir = tempDir("graft-v2-widen").resolve("t").toString
    import spark.implicits._
    // seed with a file whose name sorts FIRST ("part-0...") so the
    // footer-resolved schema would hide the widened column without
    // the marker
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .write.parquet(dir)
    // widened append: extra column w
    Seq((3L, 30L, "x")).toDF("id", "v", "w").write.format("graft-v2")
      .option("path", dir).mode("append").save()
    // the marker carries the widened schema ...
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val marker = GraftCatalog.readMarker(fs,
      new org.apache.hadoop.fs.Path(dir))
    assert(marker.exists(_.fieldNames.contains("w")),
      s"marker after widened append: $marker")
    // ... and a catalog-style load sees w deterministically: rows from
    // the old file read NULL, the appended row carries its value
    val wh = tempDir("graft-widen-wh")
    val cat = s"gw${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    val tdir = new java.io.File(wh.toFile, "t")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir), tdir)
    val got = spark.table(s"$cat.t")
    assert(got.schema.fieldNames.contains("w"))
    assert(got.where(col("id") === 3).select("w").head.getString(0) == "x")
    assert(got.where(col("id") === 1).select("w").head.isNullAt(0))
  }

  test("filtered aggregates go footer-only when stats decide all groups") {
    val dir = tempDir("graft-v2-fagg").resolve("t").toString
    // four files with EXACT disjoint id ranges [0,999] ... [3000,3999]
    (0 until 4).foreach { i =>
      spark.range(i * 1000L, (i + 1) * 1000L).toDF("id")
        .withColumn("v", col("id") * 3)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def v2row = spark.read.format("graft-v2").option("path", dir)
      .option("vectorized", "false").load()
    // boundary-aligned predicate: every group all-match or none-match
    val q = v2row.filter(col("id") >= 1000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("v")).as("mx"))
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedAggregates"), q.queryExecution.executedPlan.toString)
    val r = q.head
    assert(r.getLong(0) == 3000 && r.getLong(1) == 1000 &&
      r.getLong(2) == 3999 * 3)
    // non-aligned predicate: one group undecided -> no push, correct
    val u = v2row.filter(col("id") > 3500).agg(count(lit(1)).as("n"))
    assert(!u.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(u.head.getLong(0) == 499)
  }

  test("micro-batch stream tails a growing graft-v2 directory") {
    val dir = tempDir("graft-v2-stream").resolve("t").toString
    import spark.implicits._
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val q = spark.readStream.format("graft-v2").option("path", dir).load()
      .writeStream.outputMode("append").format("memory")
      .queryName("v2_stream_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("v2_stream_out").count() == 100)
      Thread.sleep(1100) // distinct mtime for the appended file
      spark.range(100, 250).toDF("id").coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("v2_stream_out").count() == 250)
      assert(spark.table("v2_stream_out").agg(sum($"id")).head.getLong(0)
        == (0L until 250L).sum)
    } finally q.stop()
  }

  // foreachBatch sink (memory/console sinks refuse checkpoint recovery)
  // collecting delivered ids into a driver-side buffer shared across
  // the stop/restart boundary
  private def startCollecting(dir: String, ckpt: String,
      got: java.util.concurrent.ConcurrentLinkedQueue[Long]) =
    spark.readStream.format("graft-v2").option("path", dir).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
      }.start()

  test("stream tail fails clearly on DML under it; ignoreFileChanges " +
      "opts into continuing") {
    val base = tempDir("graft-v2-dmlst")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val q1 = startCollecting(dir, ckpt, got)
    try {
      q1.processAllAvailable()
      assert(got.size == 100)
    } finally q1.stop()
    // DML under the tail: a DELETE rewrites the streamed file
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 50L))
    assert(spark.read.parquet(dir).count() == 50)
    // the restarted tail must FAIL with the append-only message, not
    // silently re-deliver the residue file's rows
    got.clear()
    val q2 = startCollecting(dir, ckpt, got)
    val e = intercept[Exception] { q2.processAllAvailable() }
    try {
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
          .map(x => String.valueOf(x.getMessage)).toSeq
      assert(messages(e).exists(_.contains("append-only")),
        s"expected the append-only diagnosis, got: ${messages(e)}")
    } finally q2.stop()
    // opting in continues the tail: the residue file is re-delivered
    // (documented at-least-once degradation), later appends flow
    got.clear()
    val q3 = spark.readStream.format("graft-v2").option("path", dir)
      .option("ignoreFileChanges", "true").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          df.collect().foreach(r => got.add(r.getLong(0)))
      }.start()
    try {
      q3.processAllAvailable()
      Thread.sleep(1100)
      spark.range(1000, 1050).toDF("id").coalesce(1)
        .write.mode("append").parquet(dir)
      q3.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val ids = got.asScala.toSet
      assert((1000L until 1050L).forall(ids.contains),
        "appends after the opt-in must flow")
      // the residue (ids 0-49) re-delivered — at-least-once, not lost
      assert((0L until 50L).forall(ids.contains))
    } finally q3.stop()
  }

  test("manifest-versioned stream tolerates DML between polls: " +
      "appends flow exactly-once, change commits are skipped") {
    val base = tempDir("graft-v2-vstream")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    // give the table a manifest log (a point DELETE: v1 bootstrap +
    // v2 vector) — a FRESH checkpoint then takes VERSION offsets
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.EqualTo("id", 99L))
    def appendV2(from: Long, to: Long): Unit =
      spark.range(from, to).toDF("id").coalesce(1)
        .write.format("graft-v2").option("path", dir)
        .mode("append").save()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    import scala.jdk.CollectionConverters._
    val q = startCollecting(dir, ckpt, got)
    try {
      // initial batch = the current SNAPSHOT (minus its vectors)
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted == (0L until 99L),
        s"initial snapshot must apply the vector: ${got.size} rows")
      // a pure append flows
      appendV2(100, 150)
      q.processAllAvailable()
      // DML between polls: a further point DELETE re-masks the first
      // file — a CHANGE commit. The tail must neither fail nor
      // re-deliver anything.
      graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
        spark.read.format("graft-v2").option("path", dir).load()
          .schema,
        org.apache.spark.sql.sources.LessThan("id", 10L))
      q.processAllAvailable()
      // ... and appends AFTER the DML still flow
      appendV2(200, 250)
      q.processAllAvailable()
      val ids = got.asScala.toSeq
      assert(ids.size == ids.distinct.size,
        s"no duplicates across DML: ${ids.size} vs ${ids.distinct.size}")
      assert(ids.sorted == ((0L until 99L) ++ (100L until 150L) ++
        (200L until 250L)),
        "appends must arrive exactly once; change commits skipped")
    } finally q.stop()
    // restart continuation: DML + append while the stream is DOWN —
    // the replanned suffix delivers exactly the append
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.format("graft-v2").option("path", dir).load().schema,
      org.apache.spark.sql.sources.EqualTo("id", 120L))
    appendV2(300, 320)
    got.clear()
    val q2 = startCollecting(dir, ckpt, got)
    try {
      q2.processAllAvailable()
      assert(got.asScala.toSeq.sorted == (300L until 320L),
        s"restart must deliver exactly the new append: ${got.asScala}")
    } finally q2.stop()
  }

  test("stream tail fails when a rewrite's archive copy was vacuumed " +
      "between polls") {
    import graft.sources.v2.GraftManifest
    val base = tempDir("graft-v2-dmlvac")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val q1 = startCollecting(dir, ckpt, got)
    try {
      q1.processAllAvailable()
      assert(got.size == 100)
    } finally q1.stop()
    // a DELETE rewrites the streamed file, then vacuum removes its
    // archive twin — the vanished file now has NO archive evidence,
    // but the manifest log shows a commit removed it: continuing
    // would stream the rewrite's residue as fresh appends
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 50L))
    val tdir = new org.apache.hadoop.fs.Path(dir)
    val fs = tdir.getFileSystem(
      spark.sessionState.newHadoopConf())
    GraftManifest.vacuum(fs, tdir, keepVersions = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tdir,
      GraftManifest.ArchiveDir)) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(tdir,
        GraftManifest.ArchiveDir)).isEmpty,
      "vacuum should have emptied the archive for this test")
    got.clear()
    val q2 = startCollecting(dir, ckpt, got)
    val e = intercept[Exception] { q2.processAllAvailable() }
    try {
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
          .map(x => String.valueOf(x.getMessage)).toSeq
      assert(messages(e).exists(_.contains("committed rewrite")),
        s"expected the vacuumed-rewrite diagnosis, got: ${messages(e)}")
    } finally q2.stop()
  }

  test("_pos metadata column serves physical ordinals (row mode, " +
      "exact under vectors)") {
    val dir = tempDir("graft-v2-pos").resolve("t").toString
    import spark.implicits._
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val t = spark.read.format("graft-v2").option("path", dir).load()
    // ordinals are 0..n-1 in file order; selecting _pos forces row mode
    val rows = t.select(col("id"), col("_pos"))
      .orderBy(col("_pos")).collect()
    assert(rows.length == 100)
    assert(rows.zipWithIndex.forall { case (r, i) => r.getLong(1) == i })
    // a deletion vector SKIPS rows but never renumbers survivors:
    // positions stay physical file ordinals
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.In("id", Array(0L, 50L)))
    val masked = spark.read.format("graft-v2").option("path", dir).load()
      .select(col("id"), col("_pos")).collect()
    assert(masked.length == 98)
    assert(masked.forall(r => r.getLong(0) == r.getLong(1)),
      "surviving rows must keep their physical ordinals")
    assert(!masked.exists(r => r.getLong(1) == 0 || r.getLong(1) == 50))
  }

  test("stream applies a pre-existing deletion vector at delivery") {
    val base = tempDir("graft-v2-dvst")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    // a point delete masks two rows (vector, file left in place)
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.In("id", Array(3L, 50L)))
    assert(new java.io.File(dir, ".graft-dv").exists(),
      "expected the point delete to take the vector path")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = startCollecting(dir, ckpt, got)
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val ids = got.asScala.toSet
      assert(got.size == 98, s"expected 98 live rows, got ${got.size}")
      assert(!ids.contains(3L) && !ids.contains(50L),
        "vector-deleted rows must not stream")
    } finally q.stop()
  }

  test("stream restart from checkpoint never re-reads committed files") {
    val base = tempDir("graft-v2-restart")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val q1 = startCollecting(dir, ckpt, got)
    try {
      q1.processAllAvailable()
      assert(got.size == 100)
    } finally q1.stop()
    got.clear()
    spark.range(100, 250).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    // restart against the SAME checkpoint: the buffer was cleared, so
    // any re-read of the committed first file shows up as extra ids
    val q2 = startCollecting(dir, ckpt, got)
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.size == 150,
        "restart must deliver only the files appended after the stop")
      assert(got.asScala.toSet == (100L until 250L).toSet)
    } finally q2.stop()
  }

  test("stream restart after compaction (> CompactInterval batches)") {
    val base = tempDir("graft-v2-compact")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.range(0, 1).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val q1 = startCollecting(dir, ckpt, got)
    try {
      q1.processAllAvailable()
      // one file -> one micro-batch per append: push past CompactInterval
      (1 to 12).foreach { i =>
        spark.range(i.toLong, i + 1L).toDF("id").coalesce(1)
          .write.mode("append").parquet(dir)
        q1.processAllAvailable()
      }
      assert(got.size == 13)
    } finally q1.stop()
    got.clear()
    // the side log compacted: a snapshot exists and old deltas are gone
    // (the source's log lives under the per-source checkpoint subdir)
    val logDir = java.nio.file.Files
      .walk(java.nio.file.Paths.get(ckpt))
      .filter(p => p.getFileName.toString == "graft-file-log")
      .findFirst().orElseThrow(() =>
        new AssertionError(s"no graft-file-log under $ckpt"))
      .toFile
    val names = logDir.listFiles().map(_.getName).toSet
    assert(names.exists(_.endsWith(".compact")),
      s"expected a compact snapshot in $names")
    assert(names.count(n => scala.util.Try(n.toLong).isSuccess) <= 11,
      s"deltas must be bounded by the compact interval (10), got $names")
    // restart across the compacted log: still exactly-once
    spark.range(13, 20).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    val q2 = startCollecting(dir, ckpt, got)
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.size == 7,
        "restart over a compacted log must deliver only the new file")
      assert(got.asScala.toSet == (13L until 20L).toSet)
    } finally q2.stop()
  }

  test("stream tolerates a committed file deleted from the directory") {
    // the source contract is append-only, but a retention job deleting
    // old files must not kill the stream: committed files never
    // replan, and the footer cache tolerates missing paths
    val base = tempDir("graft-v2-del")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.range(0, 50).toDF("id").coalesce(1).write.parquet(dir)
    val q = startCollecting(dir, ckpt, got)
    try {
      q.processAllAvailable()
      assert(got.size == 50)
      // delete the committed file, then append a new one
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
      spark.range(50, 80).toDF("id").coalesce(1)
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(got.size == 80,
        "stream must deliver the new file and not re-read the deleted one")
    } finally q.stop()
  }

  test("footer aggregates normalize timestamp units and decline on NaN") {
    import spark.implicits._
    // MILLIS-unit file: footer stats are millis, readers emit micros
    val mdir = tempDir("graft-v2-ts").resolve("t").toString
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MILLIS")
      Seq("2024-01-01 10:00:00", "2024-06-30 23:59:59")
        .map(java.sql.Timestamp.valueOf)
        .toDF("ts").coalesce(1).write.parquet(mdir)
    } finally spark.conf.set(
      "spark.sql.parquet.outputTimestampType", prevTs)
    val agg = spark.read.format("graft-v2").option("path", mdir).load()
      .agg(max(col("ts")).as("m"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(agg.head.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-06-30 23:59:59"))
    // MIXED units in one directory: a MICROS file whose instants are
    // EARLIER than the MILLIS file's — a raw cross-file fold would pick
    // the numerically smaller millis value and report the wrong MIN;
    // per-file normalization must get both ends right
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      Seq("2020-03-01 00:00:00", "2020-09-01 12:00:00")
        .map(java.sql.Timestamp.valueOf)
        .toDF("ts").coalesce(1).write.mode("append").parquet(mdir)
    } finally spark.conf.set(
      "spark.sql.parquet.outputTimestampType", prevTs)
    val magg = spark.read.format("graft-v2").option("path", mdir).load()
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    assert(magg.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    val mrow = magg.head
    assert(mrow.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2020-03-01 00:00:00"),
      s"mixed-unit MIN must normalize per file, got ${mrow.getTimestamp(0)}")
    assert(mrow.getTimestamp(1) ==
      java.sql.Timestamp.valueOf("2024-06-30 23:59:59"))

    // NaN: parquet-mr drops the double min/max stats -> must decline
    val ndir = tempDir("graft-v2-nan").resolve("t").toString
    Seq(1.0, Double.NaN, 5.0).toDF("d").coalesce(1).write.parquet(ndir)
    val nagg = spark.read.format("graft-v2").option("path", ndir).load()
      .agg(max(col("d")).as("m"))
    assert(!nagg.queryExecution.executedPlan.toString
      .contains("PushedAggregates"),
      nagg.queryExecution.executedPlan.toString)
    assert(nagg.head.getDouble(0).isNaN) // Spark: NaN sorts greatest
  }

  test("string compares use UTF-8 byte order (supplementary plane)") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.sources.GreaterThan
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.v2.RowFilterEval
    val schema = StructType(Seq(StructField("s", StringType)))
    // U+10000 is > U+E000 in UTF-8 byte order but < in UTF-16 code units
    val supp = new GenericInternalRow(
      Array[Any](UTF8String.fromString("\uD800\uDC00")))
    val p = RowFilterEval.compile(
      Array(GreaterThan("s", "\uE000")), schema)
    assert(p(supp), "supplementary-plane char must sort after U+E000")
  }

  test("footer cache tolerates missing paths") {
    import graft.sources.v2.FooterCache
    assert(FooterCache.rowGroups("/tmp/graft-nope-does-not-exist").isEmpty)
    assert(FooterCache.schemaOption("/tmp/graft-nope-does-not-exist").isEmpty)
    assert(!FooterCache.hasNanosTimestamp("/tmp/graft-nope-does-not-exist"))
  }

  test("multi-file directory: one partition per row group") {
    val src = Tables.t(spark, sf001, "orders")
    val dir = tempDir("graft-v2-dir").resolve("multi").toString
    src.repartition(3).write.parquet(dir)
    val df = spark.read.format("graft-v2").option("path", dir).load()
    assert(df.rdd.getNumPartitions >= 3)
    assert(df.count() == src.count())
  }

  test("COUNT(*) pushes down on a DV-masked table (footer rows minus " +
      "mask cardinality); anything else still declines") {
    val dir = tempDir("graft-v2-dvcnt").resolve("t").toString
    import spark.implicits._
    spark.range(0, 1000).toDF("id").withColumn("v", col("id") * 2)
      .coalesce(2).write.parquet(dir)
    // point deletes -> deletion vectors, no rewrite
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.In("id",
        Array[Any](3L, 500L, 999L)))
    def v2 = spark.read.format("graft-v2").option("path", dir).load()
    val cnt = v2.agg(count(lit(1)).as("n"))
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("dv-adjusted"),
      s"count(*) should push footer-minus-mask:\n$plan")
    assert(cnt.head.getLong(0) == 997L)
    // a filter that leaves a file UNDECIDED kills the push (masks are
    // per file and cannot be apportioned within one)...
    val filtered = v2.filter(col("id") < 100).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(filtered.head.getLong(0) == 99L)
    // ...and min/max still decline (a deleted row could hold the
    // extreme) but stay correct through the scan
    val mn = v2.agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
    assert(!mn.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    val r = mn.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 998L)
  }

  test("COUNT(*) on a DV-masked table still pushes under a filter that " +
      "decides every file at file granularity") {
    val dir = tempDir("graft-v2-dvcntf").resolve("t").toString
    import spark.implicits._
    // two files with disjoint id ranges so a range filter can decide
    // each file wholesale
    spark.range(0, 500).toDF("id").coalesce(1).write.parquet(dir)
    spark.range(500, 1000).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.In("id",
        Array[Any](3L, 500L, 999L)))
    // row mode: accepted filters leave the plan, so the aggregate can
    // reach the scan (vectorized keeps residual Filters, which block
    // V2 aggregate pushdown — same as the unmasked filtered-agg test)
    def v2 = spark.read.format("graft-v2").option("path", dir)
      .option("vectorized", "false").load()
    // id < 500: first file all-match (its mask of {3} subtracts
    // exactly), second file provably empty — push survives
    val lo = v2.filter(col("id") < 500).agg(count(lit(1)).as("n"))
    assert(lo.queryExecution.executedPlan.toString.contains("dv-adjusted"),
      s"file-aligned filtered count should push:\n${lo.queryExecution}")
    assert(lo.head.getLong(0) == 499L)
    // id >= 500: the other file's two deletions subtract
    val hi = v2.filter(col("id") >= 500).agg(count(lit(1)).as("n"))
    assert(hi.queryExecution.executedPlan.toString.contains("dv-adjusted"))
    assert(hi.head.getLong(0) == 498L)
    // a filter that splits a file stays declined and correct
    val mid = v2.filter(col("id") >= 250 && col("id") < 750)
      .agg(count(lit(1)).as("n"))
    assert(!mid.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(mid.head.getLong(0) == 499L)
  }

  test("maxFilesPerTrigger splits a file-log backlog into capped " +
      "micro-batches") {
    val base = tempDir("graft-v2-adm")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    // 6-file backlog before the stream ever starts
    (0 until 6).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("id").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("graft-v2").option("path", dir)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => { batches.add((id, df.count())); () }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(sizes.sum == 600, s"lost rows: $sizes")
    assert(sizes.length >= 3, s"backlog not split: $sizes")
    assert(sizes.forall(_ <= 200), s"a batch exceeded the cap: $sizes")
  }

  test("maxFilesPerTrigger walks a manifest backlog version by " +
      "version") {
    val base = tempDir("graft-v2-admv")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    // bootstrap the manifest log, then three committed appends
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.EqualTo("id", 0L))
    (1 to 3).foreach { i =>
      spark.range(i * 1000L, i * 1000L + 50L).toDF("id").coalesce(1)
        .write.format("graft").option("path", dir).mode("append").save()
    }
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.format("graft-v2").option("path", dir)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => { batches.add((id, df.count())); () }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(sizes.sum == 99 + 150, s"lost rows: $sizes")
    // one version per trigger: initial snapshot, then each append
    assert(sizes.length >= 4, s"backlog not split by version: $sizes")
    assert(sizes.count(_ == 50) >= 3, s"appends not isolated: $sizes")
  }

  test("Trigger.AvailableNow drains the backlog in capped batches, " +
      "stops, and a later run picks up only what arrived since") {
    val base = tempDir("graft-v2-anow")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    (0 until 4).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("id").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-v2").option("path", dir)
        .option("maxFilesPerTrigger", "2").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) => { batches.add((id, df.count())); () }
        }.start()
      // AvailableNow terminates ITSELF once the pinned head drains
      assert(q.awaitTermination(120000),
        "AvailableNow query did not self-terminate")
    }
    runOnce()
    import scala.jdk.CollectionConverters._
    val first = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(first.sum == 400, s"lost rows: $first")
    assert(first.forall(_ <= 200), s"a batch exceeded the cap: $first")
    assert(first.count(_ > 0) >= 2, s"backlog not split: $first")

    // files landing between runs are exactly the next run's content
    batches.clear()
    spark.range(400L, 450L).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    runOnce()
    val second = batches.asScala.toSeq.map(_._2)
    assert(second.sum == 50, s"second run should drain only the new " +
      s"file: $second")
  }

  test("profileFromStats: zero-scan profile matches the data, " +
      "string bounds flagged inexact, DV tables decline") {
    import graft.operators.Profile
    val dir = tempDir("graft-v2-pfs").resolve("t").toString
    import spark.implicits._
    val batch1 = Seq[(java.lang.Long, java.lang.Double, String)](
      (3L, 1.5, "pear"), (1L, 9.25, "apple"), (2L, null, "fig"))
      .toDF("k", "v", "s")
    val batch2 = Seq[(java.lang.Long, java.lang.Double, String)](
      (10L, -4.5, "zebra"), (null, 2.0, "kiwi"))
      .toDF("k", "v", "s")
    Seq(batch1, batch2).foreach(_.repartition(1)
      .write.format("graft-v2").option("statsColumns", "k,v,s")
      .option("changelog", "true").mode("append").save(dir))
    val got = Profile.profileFromStats(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))).toMap
    assert(got("k") === ((5L, 1L, "1", "10", true)))
    assert(got("v") === ((5L, 1L, "-4.5", "9.25", true)))
    // string bounds: short values survive prefix truncation intact
    // but the kind is still a bound, so exact = false
    assert(got("s")._1 === 5L && got("s")._5 === false)
    assert(got("s")._3 <= "apple" && got("s")._4 >= "zebra")
    // a deletion vector makes footer counts overcounts -> decline
    graft.sources.v2.GraftDeleteV2.deleteWhere(dir,
      spark.read.format("graft-v2").option("path", dir).load().schema,
      org.apache.spark.sql.sources.EqualTo("k", 10L))
    val snap = graft.sources.v2.GraftManifest.current(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(dir)).get
    if (snap.dvs.nonEmpty) {
      intercept[IllegalArgumentException] {
        Profile.profileFromStats(spark, dir)
      }
    }
  }
}
