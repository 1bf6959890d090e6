package graft

import org.apache.spark.sql.{Column, SaveMode}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based contracts (SURVEY.md §5.3): pushdown never changes
  * results, limit composes as min, write-then-read round-trips.
  */
class PropertySpec extends SparkTestBase {
  /** Deterministic scalacheck sampling (scalatest-scalacheck bridge is
    * not on the offline classpath, so drive Gen directly). */
  private def forAllSeeded[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val filterPool: Seq[(String, Column)] = Seq(
    ("qty<10", col("l_quantity") < 10),
    ("flag=R", col("l_returnflag") === "R"),
    ("lineno in (1,2)", col("l_linenumber").isin(1, 2)),
    ("price>=2000", col("l_extendedprice") >= 2000.0),
    ("status!=F", col("l_linestatus") =!= "F"),
    ("orderkey<500", col("l_orderkey") < 500L))

  private val genFilter: Gen[Seq[Int]] =
    Gen.someOf(filterPool.indices).map(_.toSeq)

  test("pushed filters never change results vs unpushed evaluation") {
    val plain = spark.read.parquet(s"$sf001/lineitem.parquet")
    forAllSeeded(genFilter, 12) { picks =>
      val conds = picks.map(filterPool(_)._2)
      val cond = conds.foldLeft(lit(true))(_ && _)
      val viaGraft = Tables.graftScan(spark, sf001, "lineitem")
        .filter(cond).agg(count(lit(1)),
          sum(col("l_orderkey")), sum(col("l_linenumber"))).head
      val viaSpark = plain.filter(cond).agg(count(lit(1)),
        sum(col("l_orderkey")), sum(col("l_linenumber"))).head
      assert(viaGraft == viaSpark, s"filters=$picks")
    }
  }

  test("limit composes: q.limit(n).limit(m) has min(n,m) rows") {
    val gen = for {
      n <- Gen.choose(0, 40)
      m <- Gen.choose(0, 40)
    } yield (n, m)
    forAllSeeded(gen, 10) { case (n, m) =>
      val c = Tables.graftScan(spark, sf001, "lineitem")
        .limit(n).limit(m).count()
      assert(c == math.min(n, m))
    }
  }

  test("write-then-read round-trips (atomic parquet sink)") {
    val src = spark.read.parquet(s"$sf001/orders.parquet")
    val dir = tempDir("graft-prop").resolve("o").toString
    graft.sources.GraftSink.saveAtomic(src, dir, SaveMode.Overwrite)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("compensating-commit sink round-trips values through parquet parts") {
    val src = spark.read.parquet(s"$sf001/customer.parquet")
    val dir = tempDir("graft-prop").resolve("c").toString
    graft.sources.GraftSink.saveCompensating(src, dir)
    val back = graft.sources.GraftSink.readCompensating(spark, dir)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("partition tokens: write-side (internal) and filter-side " +
      "(external) canonical renderings agree for every supported " +
      "type, so a value's file can NEVER be pruned by its own filter") {
    import graft.sources.PartitionLayout
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.sources.EqualTo
    val pl = PartitionLayout(Seq("c"))
    // (datatype, external value gen, internal-rep of the same value)
    def check(dt: DataType, external: Any, internal: Any): Unit = {
      val ext = PartitionLayout.canonicalExternal(external, dt)
      assert(ext.isDefined, s"$dt external $external unrenderable")
      val int0 = PartitionLayout.canonicalInternal(internal, dt)
      assert(ext.get === int0,
        s"$dt drift: filter-side ${ext.get} vs write-side $int0")
      // the file a writer names for `internal` must survive the
      // filter EqualTo(c, external) — the conservative invariant
      val name = "part-0-x." + PartitionLayout.nameFragment(pl,
        Seq(PartitionLayout.token(int0))) + ".c000.snappy.parquet"
      val allowed = PartitionLayout.allowedTokens(pl,
        Map("c" -> dt), Seq(EqualTo("c", external)))
      assert(PartitionLayout.mayMatch(name, pl, allowed),
        s"$dt value $external pruned its own file")
    }
    forAllSeeded(Gen.alphaNumStr, 40)(s =>
      check(StringType, s,
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    forAllSeeded(Gen.chooseNum(Long.MinValue, Long.MaxValue), 40)(v =>
      check(LongType, v, java.lang.Long.valueOf(v)))
    forAllSeeded(Gen.chooseNum(Int.MinValue, Int.MaxValue), 40)(v =>
      check(IntegerType, v, java.lang.Integer.valueOf(v)))
    forAllSeeded(Gen.chooseNum(-100000, 100000), 40) { days =>
      val d = java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(days.toLong))
      check(DateType, d, java.lang.Integer.valueOf(days))
    }
    forAllSeeded(Gen.chooseNum(-4102444800L, 4102444800L), 40) { sec =>
      val micros = sec * 1000000L + 123456L
      val ts = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .toJavaTimestamp(micros)
      check(TimestampType, ts, java.lang.Long.valueOf(micros))
    }
    check(BooleanType, java.lang.Boolean.TRUE, java.lang.Boolean.TRUE)
    check(BooleanType, java.lang.Boolean.FALSE,
      java.lang.Boolean.FALSE)
  }

  test("two-phase and tie-group ranks equal the single window on " +
      "random data with nulls, NaNs, ties, and random direction") {
    import graft.operators.Salting
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val genCase = for {
      nRows <- Gen.choose(1, 300)
      nKeys <- Gen.choose(1, 3)
      asc <- Gen.oneOf(true, false)
      vals <- Gen.listOfN(nRows, Gen.frequency(
        (8, Gen.choose(0, 12).map(v => Some(v.toDouble))),
        (1, Gen.const(Some(Double.NaN))),
        (1, Gen.const(Option.empty[Double]))))
      buckets <- Gen.choose(1, 9)
    } yield (nKeys, asc, vals, buckets)
    forAllSeeded(genCase, 6) { case (nKeys, asc, vals, buckets) =>
      // key class 0 is NULL: a window ranks NULL-keyed rows as an
      // ordinary partition, so the rewrites' join-backs must too
      val rows = vals.zipWithIndex.map { case (v, i) =>
        val k = if (i % nKeys == 0) null else s"k${i % nKeys}"
        (k, v, i.toLong)
      }
      val df = rows.toDF("k", "v", "id")
      val ord = if (asc) col("v").asc else col("v").desc
      val w = Window.partitionBy(col("k")).orderBy(ord)
      val single = df.select(col("id"), rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      val tp = Salting.twoPhaseRanks(df, Seq("k"), Seq(ord),
          rankCol = Some("rnk"), denseRankCol = Some("drnk"),
          buckets = buckets)
        .select(col("id"), col("rnk"), col("drnk"))
      assert(tp.exceptAll(single).isEmpty &&
        single.exceptAll(tp).isEmpty,
        s"two-phase mismatch (nKeys=$nKeys asc=$asc buckets=$buckets)")
      val tg = Salting.tieGroupRanks(df, Seq("k"), Seq(ord),
          rankCol = Some("rnk"), denseRankCol = Some("drnk"))
        .select(col("id"), col("rnk"), col("drnk"))
      assert(tg.exceptAll(single).isEmpty &&
        single.exceptAll(tg).isEmpty,
        s"tie-group mismatch (nKeys=$nKeys asc=$asc)")
      // row_number over the tie-broken unique ordering
      val ordU = Seq(ord, col("id").asc)
      val wU = Window.partitionBy(col("k")).orderBy(ordU: _*)
      val singleRn = df.select(col("id"),
        row_number().over(wU).as("rn"))
      val tpRn = Salting.twoPhaseRanks(df, Seq("k"), ordU,
          rowNumCol = Some("rn"), buckets = buckets)
        .select(col("id"), col("rn"))
      assert(tpRn.exceptAll(singleRn).isEmpty &&
        singleRn.exceptAll(tpRn).isEmpty,
        s"row_number mismatch (nKeys=$nKeys asc=$asc buckets=$buckets)")
    }
  }
}
