package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.{Ann, AsOfJoin, Bpe, Clustering, CorpusOps, Dedup, Dsir, LangModel, Multimodal, QualityModel, RangeJoin, Salting, Sketch, TextSearch, TextStats, Unigram}
import graft.streaming.StreamOps

/** Driver contract (SURVEY.md §7 + builder prompt): the full SURVEY.md §2
  * operator inventory as named queries, each paired (where SQL-expressible)
  * with DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism rules (SURVEY.md §5): every oracle-checked query ends in a
  * total-order `orderBy`; float aggregations go through exact
  * `DECIMAL(18,2|4)` accumulation and only cast to double at the end;
  * aliases match the oracle column names exactly (the driver sorts columns
  * by name before hashing); DuckDB-side types are cast to Spark's result
  * types (`len()`→INT, `sum(BIGINT)`→BIGINT, `row_number()`→INT, …);
  * LIMIT-without-ORDER queries pin a single input partition so both
  * engines take the same file-order prefix.
  */
object SparkEntry {
  private type Q = (SparkSession, String) => DataFrame

  /** Most recent data dir any query loaded from — lets [[oracleSql]]
    * render data-dependent oracles (the IVF centroids) for the same
    * directory the queries just ran against. */
  @volatile private var lastDir: String = _

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    lastDir = dir
    Tables.t(s, dir, name)
  }

  /** Exact decimal sum of a double column, returned as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  // ===== flagship =====

  /** Flagship: TPC-H-Q1-style pricing summary through the graft relation
    * (pruning + filter pushdown at the scan, partial+final hash agg above
    * — the reference's README demo shape, README.md:88-95). */
  def entry(spark: SparkSession): DataFrame = {
    val li = Tables.graftScan(spark, "/root/testdata/sf0.001", "lineitem")
    li.filter(col("l_quantity") > 0)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // ===== 2a/2b/2c: scans, pushdown, limits, sorts =====

  private val qScanProject: Q = (s, dir) =>
    Tables.graftScan(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  private val qFilterPushdown: Q = (s, dir) =>
    Tables.graftScan(s, dir, "lineitem")
      .filter(col("l_quantity") < 10 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  private val qPartitionedScan: Q = (s, dir) =>
    Tables.graftScan(s, dir, "lineitem", numPartitions = 4,
        partitionColumn = Some("l_orderkey"))
      .filter(col("l_linenumber") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  private val qLimitPushdown: Q = (s, dir) =>
    Tables.graftScan(s, dir, "lineitem")
      .limit(50)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  private val qLimitFilterCombo: Q = (s, dir) =>
    Tables.graftScan(s, dir, "lineitem")
      .filter(col("l_returnflag") === "A")
      .limit(30)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Same scan through the DataSource V2 twin — Catalyst's
    * V2ScanRelationPushDown drives the pushdown interfaces, no custom
    * rule needed. */
  private val qScanV2: Q = (s, dir) =>
    s.read.format("graft-v2")
      .option("path", Tables.path(dir, "lineitem")).load()
      .filter(col("l_returnflag") === "R" && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  private val qTopk: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .limit(100)

  private val qSort: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))

  // ===== 2d: joins =====

  private val qJoinInner: Q = (s, dir) => {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("o_totalprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("o_totalprice"))
  }

  private val qJoinBroadcast: Q = (s, dir) => {
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
      .orderBy(col("c_custkey"))
  }

  private val qJoinLeft: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
    o.join(rich, o("o_custkey") === rich("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_acctbal"))
      .orderBy(col("o_orderkey"))
  }

  private val qJoinSemi: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val qJoinAnti: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val qJoinRange: Q = (s, dir) => {
    import s.implicits._
    val buckets = Seq((0, -1.0e9, 1000.0), (1, 1000.0, 1500.0),
      (2, 1500.0, 1.0e18)).toDF("bucket", "lo", "hi")
    val p = t(s, dir, "part")
    p.join(broadcast(buckets),
        p("p_retailprice") >= buckets("lo") &&
        p("p_retailprice") < buckets("hi"))
      .select(col("p_partkey"), col("bucket"), col("p_retailprice"))
      .orderBy(col("p_partkey"), col("bucket"))
  }

  /** Binned interval join ([[RangeJoin.binnedIntervalJoin]]): views
    * attributed to the 10-minute pre-purchase window of the same user
    * — the theta join rewritten as an equi-join on (user, time bin) +
    * exact residual, hash-partitionable at any scale (the broadcast
    * theta in q_join_range dies when the interval side outgrows a
    * broadcast). */
  private val qJoinRangeBinned: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").cast("long").as("vsec"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        (col("ts").cast("long") - 600L).as("losec"),
        col("ts").cast("long").as("hisec"))
    RangeJoin.binnedIntervalJoin(views, purchases, Seq("user_id"),
        "vsec", "losec", "hisec", binWidth = 600.0)
      .select(col("view_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  private val qJoinAsof: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOfJoin.join(purchases, signups, "user_id", "ts", "ts", Seq("event_id"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("asof_event_id").as("signup_id"))
      .orderBy(col("purchase_id"))
  }

  /** Forward as-of with a tolerance bound: each signup joins the
    * EARLIEST purchase at-or-after it, nulled beyond 30 days — the
    * funnel-attribution shape. Same single-shuffle union+window plan
    * with the frame flipped to (currentRow, following) + `first`. */
  private val qJoinAsofFwd: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOfJoin.join(signups, purchases, "user_id", "ts", "ts",
      Seq("event_id"), direction = "forward",
      tolerance = Some(expr("INTERVAL 30 DAYS")))
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("asof_event_id").as("purchase_id"))
      .orderBy(col("signup_id"))
  }

  /** TPC-H Q3 shape: 3-way join + filtered date ranges + grouped
    * revenue + top-10 (broadcastable dims broadcast, revenue decimal-
    * exact). */
  private val qTpchQ3: Q = (s, dir) => {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: 6-way star join through region, grouped by nation. */
  private val qTpchQ5: Q = (s, dir) => {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q1 shape: the pricing-summary WIDE aggregate — 8 aggregates
    * incl. compound per-row expressions over one filtered scan, all in
    * a single partial+final HashAggregate pass (no extra shuffle
    * beyond the 2-key group-by). */
  private val qTpchQ1: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        // charge = disc_price × (1+tax) as a product of two SEPARATELY
        // decimal-rounded factors: decimal×decimal is exact in both
        // engines, where rounding one 3-factor double product hits
        // engine-specific rounding-mode differences at the midpoints
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)") *
          (lit(1.0) + col("l_tax")).cast("decimal(8,4)"))
          .cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q9 shape: 6-way join — fact lineitem against part (filtered,
    * broadcast), supplier, orders, nation+region (broadcast) — profit
    * grouped by nation and order year. The only shuffles are the two
    * fact-sized equi-joins (supplier, orders) and the final 2-key agg;
    * every dimension broadcasts. */
  private val qTpchQ9: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_name").like("%red%"))
    val sup = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("sum_profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** TPC-H Q18 shape: group-by-HAVING-in — large-quantity orders found
    * by a grouped HAVING subquery, then semi-joined back and
    * re-aggregated with customer detail. The HAVING subquery and the
    * final agg share the l_orderkey shuffle key, so AQE can reuse the
    * exchange. */
  private val qTpchQ18: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val big = l.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("q"))
      .filter(col("q") > 250).select(col("l_orderkey").as("bigkey"))
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(big, o("o_orderkey") === big("bigkey"), "left_semi")
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(c("c_name"), c("c_custkey"), o("o_orderkey"),
        o("o_orderdate"), o("o_totalprice"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"),
        col("o_orderkey"))
      .limit(100)
  }

  /** RANGE window frame: value-based frame bounds (vs the ROWS frame in
    * q_window_running). */
  private val qWindowRangeFrame: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rangeBetween(-5L, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("nearby_sum"))
      .orderBy(col("o_orderkey"))
  }

  // ===== 2e: aggregations =====

  private val qAggHash: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
        (sum(col("l_discount").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val qAggDistinct: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val qAggRollup: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val qAggCube: Q = (s, dir) =>
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Two-phase salted aggregation (skew path) — must equal the plain
    * GROUP BY, which is exactly what the oracle checks. */
  private val qAggSalted: Q = (s, dir) =>
    Salting.saltedSumCount(t(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq(col("l_quantity").cast("decimal(18,2)")), buckets = 16)
      .select(col("l_returnflag"),
        col("sum_0").cast("double").as("sum_qty"), col("cnt"))
      .orderBy(col("l_returnflag"))

  /** Pivot: per-linestatus quantity totals pivoted by return flag. */
  private val qPivot: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .orderBy(col("l_linestatus"))

  /** GROUPING SETS via the SQL API (DataFrame API exposes only
    * rollup/cube; arbitrary sets are a SQL surface). */
  private val qAggGroupingSets: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(""" SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST,
               o_orderpriority ASC NULLS FIRST, n """)
  }

  /** TPC-H Q10 shape (returned-item revenue): fact filtered on the
    * return flag, a quarter's orders, customer + broadcast nation,
    * top-20 customers by lost revenue. Exercises the 4-way join with
    * a mid-size dimension (customer) that shuffles while nation
    * broadcasts. */
  private val qTpchQ10: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val n = t(s, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q12 shape re-keyed to the synthetic schema (it has no
    * l_shipmode column): per return flag over one ship-year,
    * conditional counts of high- vs low-priority order lines — the
    * fact-dimension join feeding a CASE-conditional aggregation. */
  private val qTpchQ12: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val o = t(s, dir, "orders")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q4 shape (order priority checking): orders of one quarter
    * having at least one line shipped after the order date, counted
    * per priority — the EXISTS-rewritten-to-semi-join aggregate. */
  private val qTpchQ4: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val l = t(s, dir, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q6 (forecasting revenue change): the pure filter-aggregate
    * — every predicate reaches the scan (footer-stats pruning on the
    * ship-year), no join, no shuffle beyond the scalar fold. */
  private val qTpchQ6: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(18,4)")).cast("double").as("revenue"))

  /** TPC-H Q13 shape (customer order-count distribution): LEFT join so
    * zero-order customers survive, per-customer count, then the
    * distribution of counts — the double aggregate over an outer
    * join. */
  private val qTpchQ13: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14 shape (promotion effect): one ship-month's revenue
    * ratio attributable to PROMO parts — broadcast part join feeding
    * a conditional/total aggregate ratio. */
  private val qTpchQ14: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
    val p = t(s, dir, "part")
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
        sum(rev).cast("double")).as("promo_revenue"))
      .select(round(col("promo_revenue"), 6).as("promo_revenue"))
  }

  /** TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    * counts per (brand, type, size) bucket with excluded brands and a
    * size IN-list — distinct aggregation after the fact join, keyed
    * by dimension attributes (partsupp is folded into lineitem in
    * this schema). */
  private val qTpchQ16: Q = (s, dir) => {
    val p = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" &&
        col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    val l = t(s, dir, "lineitem")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"),
        col("p_type"), col("p_size"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): lines under 50%
    * of their part's average quantity — the correlated scalar
    * aggregate, planned as a per-part aggregate re-joined to the
    * fact (exact decimal average so the threshold is cross-engine
    * stable). */
  private val qTpchQ17: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
    val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")) /
        count(lit(1))).as("avg_qty"))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(avgQty, l("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity").cast("decimal(18,2)") <
        lit(0.5).cast("decimal(18,2)") * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0))
        .as("avg_yearly"))
      .select(round(col("avg_yearly"), 4).as("avg_yearly"))
  }

  /** TPC-H Q19 shape (discounted revenue): the OR-of-ANDs predicate
    * over a part join — three (brand, size-range, quantity-range)
    * disjuncts that Catalyst must keep as one residual filter while
    * the join key still drives the scan. */
  private val qTpchQ19: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#11" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .filter(cond)
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** TPC-H Q22 shape (global sales opportunity): customers with
    * above-average positive balances and NO orders — a scalar
    * subquery threshold plus an anti join, grouped by market segment
    * (the schema's analog of the phone country code). */
  private val qTpchQ22: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")) /
        count(lit(1))).as("avg_bal"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal").cast("decimal(18,2)") > col("avg_bal"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q7 shape (volume shipping): revenue between two nation
    * pairs per ship-year — the double-dimension join (supplier nation
    * AND customer nation, both broadcast) with a disjunctive
    * pair filter. */
  private val qTpchQ7: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val n1 = t(s, dir, "nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").select(
      col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n1), sup("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), c("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_3" &&
          col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" &&
          col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape (national market share): one nation's share of a
    * region's STANDARD-part revenue per order-year — a five-table
    * join feeding a conditional-over-total ratio, grouped by year. */
  private val qTpchQ8: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = t(s, dir, "customer")
    val p = t(s, dir, "part").filter(col("p_type") === "STANDARD")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(col("r_name") === "AFRICA")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("n_name") === "NATION_5", rev)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
        sum(rev).cast("double"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q11 shape (important stock): parts whose shipped value
    * exceeds a fraction of the corpus-wide total — the HAVING against
    * a scalar subquery (partsupp folds into lineitem in this
    * schema). */
  private val qTpchQ11: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
    val value = sum(col("l_extendedprice").cast("decimal(18,2)"))
    val perPart = l.groupBy(col("l_partkey"))
      .agg(value.as("part_value"))
    val threshold = l.agg(
      (value * lit(0.001)).cast("decimal(18,4)").as("thr"))
    perPart.crossJoin(broadcast(threshold))
      .filter(col("part_value").cast("decimal(18,4)") > col("thr"))
      .select(col("l_partkey"),
        col("part_value").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** TPC-H Q15 shape (top supplier): the quarter's revenue per
    * supplier, returning the supplier(s) achieving the maximum — the
    * view-plus-scalar-max equality join. */
  private val qTpchQ15: Q = (s, dir) => {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
    val revenue = l.groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("mx"))
    val sup = t(s, dir, "supplier")
    revenue.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("mx"))
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): for
    * multi-supplier orders, the supplier whose line shipped > 60 days
    * after the order date while every OTHER supplier shipped on time
    * — the EXISTS + NOT-EXISTS double correlation over the fact
    * table itself. */
  private val qTpchQ21: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q21")
    t(s, dir, "orders").createOrReplaceTempView("orders_q21")
    t(s, dir, "supplier").createOrReplaceTempView("supplier_q21")
    s.sql("""
      SELECT s_name, count(*) AS numwait
      FROM lineitem_q21 l1
      JOIN orders_q21 o ON o.o_orderkey = l1.l_orderkey
      JOIN supplier_q21 s ON s.s_suppkey = l1.l_suppkey
      WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
        AND EXISTS (SELECT 1 FROM lineitem_q21 l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem_q21 l3
                        JOIN orders_q21 o3
                          ON o3.o_orderkey = l3.l_orderkey
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate >
                            o3.o_orderdate + INTERVAL 60 DAYS)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 25 """)
  }

  /** TPC-H Q2 shape (minimum-cost supplier): per EUROPE-region part
    * supplier, keep the supplier(s) with the MINIMUM account balance
    * among that part's suppliers — the correlated scalar-min
    * subquery over the fact-derived supplier relationship (partsupp
    * folds into lineitem), top-100 by balance. */
  private val qTpchQ2: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q2")
    t(s, dir, "part").createOrReplaceTempView("part_q2")
    t(s, dir, "supplier").createOrReplaceTempView("supplier_q2")
    t(s, dir, "nation").createOrReplaceTempView("nation_q2")
    t(s, dir, "region").createOrReplaceTempView("region_q2")
    s.sql("""
      WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey
                  FROM lineitem_q2)
      SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey
      FROM ps
      JOIN part_q2 p ON ps.l_partkey = p.p_partkey
      JOIN supplier_q2 s ON ps.l_suppkey = s.s_suppkey
      JOIN nation_q2 n ON s.s_nationkey = n.n_nationkey
      JOIN region_q2 r ON n.n_regionkey = r.r_regionkey
      WHERE p.p_size = 15 AND p.p_type = 'LARGE'
        AND r.r_name = 'EUROPE'
        AND s.s_acctbal = (
          SELECT min(s2.s_acctbal)
          FROM ps ps2
          JOIN supplier_q2 s2 ON ps2.l_suppkey = s2.s_suppkey
          JOIN nation_q2 n2 ON s2.s_nationkey = n2.n_nationkey
          JOIN region_q2 r2 ON n2.n_regionkey = r2.r_regionkey
          WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
      ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
      LIMIT 100 """)
  }

  /** TPC-H Q20 shape (potential part promotion): suppliers of
    * STANDARD parts who shipped more than half of one year's average
    * per-supplier volume of those parts — nested IN subqueries over
    * the fact table. */
  private val qTpchQ20: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q20")
    t(s, dir, "part").createOrReplaceTempView("part_q20")
    t(s, dir, "supplier").createOrReplaceTempView("supplier_q20")
    s.sql("""
      SELECT s_name, s_acctbal FROM supplier_q20
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem_q20
        WHERE l_partkey IN (SELECT p_partkey FROM part_q20
                            WHERE p_type = 'STANDARD')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
          (SELECT 0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
               AS DOUBLE) /
             count(DISTINCT l_suppkey)
           FROM lineitem_q20
           WHERE l_partkey IN (SELECT p_partkey FROM part_q20
                               WHERE p_type = 'STANDARD')
             AND l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'))
      ORDER BY s_name """)
  }

  /** Correlated EXISTS / NOT EXISTS (Catalyst rewrites to semi/anti
    * joins): customers holding at least one big urgent order and no
    * low-priority order. */
  private val qSubqueryExists: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer_sqe")
    t(s, dir, "orders").createOrReplaceTempView("orders_sqe")
    s.sql(""" SELECT c_custkey, c_acctbal FROM customer_sqe c
      WHERE EXISTS (SELECT 1 FROM orders_sqe o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT'
                      AND o.o_totalprice > 100000)
        AND NOT EXISTS (SELECT 1 FROM orders_sqe o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderpriority = '5-LOW')
      ORDER BY c_custkey """)
  }

  /** Distribution windows: ntile quartiles, percent_rank, cume_dist
    * per order status — the analytic trio beyond ranking/frames. The
    * window order is total (price, then key), so tile boundaries are
    * engine-independent. */
  private val qWindowNtile: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("o_orderstatus"), col("o_totalprice"),
        col("o_orderkey"))
  }

  /** Uncorrelated scalar subquery (Catalyst rewrites to a join). */
  private val qSubqueryScalar: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer_sq")
    s.sql(""" SELECT c_custkey, c_acctbal FROM customer_sq
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                AS DOUBLE) / COUNT(*) FROM customer_sq)
      ORDER BY c_custkey """)
  }

  /** Median / exact percentile aggregate. */
  private val qAggMedian: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(median(col("l_quantity")).as("med_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))

  /** Approx distinct via graft's DETERMINISTIC HyperLogLog
    * ([[HllDistinct]]): unlike `approx_count_distinct` (whose HLL++
    * sketch is implementation-defined and un-oracle-able), this
    * estimator is exact integer arithmetic end-to-end, so the DuckDB
    * oracle recomputes the identical estimate bit-for-bit
    * ([[DuckHash.aggApproxDistinctOracle]]). Same distributed shape:
    * 256-byte register sketches merge map-side, only sketches shuffle. */
  private val qAggApproxDistinct: Q = (s, dir) => {
    val hll = udaf(HllDistinct)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(hll(col("l_partkey")).as("approx_parts"))
      .orderBy(col("l_returnflag"))
  }

  // ===== 2f: windows =====

  /** Global ranking over an O(1)-cardinality partition key
    * (`l_returnflag`: 3 values). A naive window would funnel one-third
    * of the table into a single window task at any scale, so this is
    * the [[operators.Salting.twoPhaseRanks]] shape: range-bucketed
    * local ranks + a broadcast of per-bucket offsets — bit-identical
    * output (the DuckDB oracle below is the plain single-window SQL),
    * but every sort task owns `rows / buckets`, not `rows / 3`.
    * `rank`/`dense_rank` ride the TIE-GROUP path
    * ([[operators.Salting.tieGroupRanks]]: they depend only on the
    * (flag, quantity) group — 3×50 rows here — so the data is never
    * row-sorted for them at all); `row_number`, whose ordering is
    * near-unique, takes the two-phase bucket path. A re-merge join on
    * (l_orderkey, l_linenumber) would be wrong — that pair is not
    * unique in the generated lineitem — so the passes CHAIN. */
  private val qWindowRank: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    // project to the five columns the second rank level and the
    // output need, then materialize once: the two-phase machinery's
    // window and offsets consumers would otherwise re-run the whole
    // tie-rank pipeline (group rollup + broadcast join-back) twice
    val withTies = operators.Salting.tieGroupRanks(li,
      Seq("l_returnflag"), Seq(col("l_quantity").desc),
      rankCol = Some("rnk"), denseRankCol = Some("drnk"))
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"), col("rnk"),
        col("drnk"))
      .transform(graft.Materialize.barrier)
    val withRn = operators.Salting.twoPhaseRanks(withTies,
      Seq("l_returnflag"),
      Seq(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber")), rowNumCol = Some("rn"),
      boundsFrom = Some(li))
    withRn
      .select(col("l_orderkey"), col("l_linenumber"), col("rn"),
        col("rnk"), col("drnk"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("rn"),
        col("rnk"), col("drnk"))
  }

  /** Ranking at a key cardinality that SURVIVES 100× scale:
    * `l_suppkey` partitions grow in COUNT with the data (thousands at
    * sf1, millions at warehouse scale) while each partition stays
    * small — so the window sort is per-small-group and the single hash
    * exchange spreads evenly over executors. Contrast `q_window_rank`
    * (3-key `l_returnflag` demo): correct, but one-third of the table
    * per window task at any scale. Top-3-per-supplier is also the
    * realistic downstream shape (per-entity leaders). */
  private val qWindowRankHk: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("l_suppkey"), col("rn"))
  }

  /** `percent_rank` + `cume_dist` over the same O(1)-cardinality
    * partition key, through the same two-phase machinery — the
    * complete distributive-rank family is scale-safe, not just the
    * integer ranks. Both definitions are exact long arithmetic until
    * one final double division, so the oracle's own evaluation
    * reproduces them bit-for-bit. */
  /** Readability percentile: every document's global percent-rank of
    * its integer Flesch score — score → STANDING, the calibration a
    * fixed quality threshold lacks (corpora drift; the 40th
    * percentile doesn't). Rides twoPhaseRanks' exact percent_rank
    * (long arithmetic, one final double division). */
  private val qReadabilityPct: Q = (s, dir) => {
    val r = operators.TextStats.readability(t(s, dir, "documents"))
    // one materialization of the scores: the rank machinery's three
    // consumers would otherwise re-run the text-stats scan each
    operators.Salting.twoPhaseRanks(
        r.select(col("doc_id"), col("fre_milli"))
          .transform(graft.Materialize.barrier),
        Seq.empty, Seq(col("fre_milli")),
        percentRankCol = Some("pct"))
      .select(col("doc_id"), col("fre_milli"), col("pct"))
      .orderBy(col("doc_id"))
  }

  private val qWindowPct: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    operators.Salting.twoPhaseRanks(li, Seq("l_returnflag"),
      Seq(col("l_quantity").desc), percentRankCol = Some("prnk"),
      cumeDistCol = Some("cume"))
      .select(col("l_orderkey"), col("l_linenumber"), col("prnk"),
        col("cume"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("prnk"),
        col("cume"))
  }

  /** Batch sessionization over the events table: a session breaks at
    * a >30 min gap; per user the session count, the largest session's
    * event count, and total active seconds. Gap detection is a
    * lag+cumsum window PARTITIONED BY USER (partition count grows
    * with the data), the per-session rollup two key-hash
    * aggregates. */
  private val qSessionize: Q = (s, dir) => {
    val gapMicros = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    val withSess = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("new_sess",
        when(lag(col("tu"), 1).over(w).isNull ||
          col("tu") - lag(col("tu"), 1).over(w) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("tu"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withSess
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        ((max(col("tu")) - min(col("tu"))) / lit(1000000L))
          .cast("long").as("secs"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("secs")).as("total_active_secs"))
      .orderBy(col("user_id"))
  }

  /** Global session-duration quantiles: exact p50/p90 of per-session
    * active seconds over the same 30-min gap split as q_sessionize —
    * the session-length distribution readout; selection rides the
    * scale-safe two-phase ranks ([[operators.Quantiles
    * .exactQuantiles]]). */
  private val qSessionQuantiles: Q = (s, dir) => {
    val gapMicros = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    val per = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("new_sess",
        when(lag(col("tu"), 1).over(w).isNull ||
          col("tu") - lag(col("tu"), 1).over(w) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("tu"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(((max(col("tu")) - min(col("tu"))) / lit(1000000L))
        .cast("long").as("secs"))
    operators.Quantiles.exactQuantiles(per, col("secs"),
        Seq(col("user_id"), col("sess_id")), Seq(0.5, 0.9))
      .select(col("q"), col("value").as("secs"))
      .orderBy(col("q"))
  }

  private val qWindowLag: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_orderkey"))
  }

  private val qWindowRunning: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        sum(col("l_quantity").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("running_qty"))
  }

  // ===== 2g: set operations =====

  private val qUnion: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("okey"), col("o_totalprice").as("amount"))
      .unionByName(
        o.filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey").as("okey"),
            col("o_totalprice").as("amount")))
      .orderBy(col("okey"), col("amount"))
  }

  private val qIntersect: Q = (s, dir) =>
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .intersect(t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  private val qExcept: Q = (s, dir) =>
    t(s, dir, "customer").select(col("c_custkey"))
      .except(t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  // ===== 2h: scalar function families =====

  private val qStringFns: Q = (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_up"),
      length(col("p_name")).as("name_len"),
      substring(col("p_type"), 1, 6).as("type_pre"),
      concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
      col("p_name").like("%a%").as("has_a"))
      .orderBy(col("p_partkey"))

  private val qDateFns: Q = (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      date_trunc("month", col("o_orderdate")).as("mon_start"),
      datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).as("days_since"))
      .orderBy(col("o_orderkey"))

  private val qMathFns: Q = (s, dir) =>
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_discount") - lit(0.05)).as("abs_disc"),
      floor(col("l_extendedprice")).as("flr"),
      ceil(col("l_extendedprice")).as("cl"),
      (col("l_quantity") * col("l_quantity")).as("qty_sq"),
      sqrt(col("l_extendedprice")).as("price_sqrt"),
      round(log(col("l_extendedprice") + lit(1.0)), 6).as("price_ln"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("flr"),
        col("qty_sq"))

  private val qArrayFns: Q = (s, dir) =>
    t(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first_elem"),
      array_max(col("embedding")).cast("double").as("max_elem"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")), 4)
        .as("sum_sq"))
      .orderBy(col("vec_id"))

  private val qJsonFns: Q = (s, dir) =>
    t(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy(col("event_id"))

  private val qMapStruct: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        explode(array(col("value"), col("value") * 2)).as("x"))
      .select(col("event_id"),
        struct(col("event_type").as("t")).getField("t").as("t"), col("x"))
      .orderBy(col("event_id"), col("x"))

  // ===== 2i: event-time windows (batch-equivalent; streaming in tests) =====

  private val qTumblingWindow: Q = (s, dir) =>
    StreamOps.tumbling(t(s, dir, "events"))
      .orderBy(col("wstart"), col("event_type"))

  private val qSlidingWindow: Q = (s, dir) =>
    StreamOps.sliding(t(s, dir, "events"))
      .orderBy(col("wstart"))

  private val qSessionWindow: Q = (s, dir) =>
    StreamOps.sessions(t(s, dir, "events"))
      .orderBy(col("user_id"), col("session_start"))

  // ===== 2j: UDAF surface (rows-only; checked in unit tests) =====

  private val qUdafCustom: Q = (s, dir) => {
    val gm = udaf(GeoMean)
    // rounded so the log-sum's summation-order noise (~1e-14 relative)
    // can't break the DuckDB exp(avg(ln)) hash compare
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(gm(col("l_quantity")), 6).as("geo_mean_qty"))
      .orderBy(col("l_returnflag"))
  }

  // ===== 2k: LLM-data-pipeline extensions =====

  private val qDedupExact: Q = (s, dir) =>
    Dedup.exact(t(s, dir, "documents"))
      .orderBy(col("text_hash"))

  private val qDedupExactNorm: Q = (s, dir) =>
    Dedup.exactNormalized(t(s, dir, "documents"))
      .orderBy(col("text_hash"))

  /** MinHash+LSH near-dup candidates (custom hashing — rows-only). */
  private val qDedupNear: Q = (s, dir) =>
    Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2)
      .orderBy(col("id_a"), col("id_b"))

  /** INCREMENTAL near-dup (the ingest-batch shape): docs with
    * `doc_id % 5 = 0` are "the new batch", the rest "the existing
    * corpus"; only pairs touching a new doc come back, probed against
    * the hash-capped band index. indexCap 4 BINDS at this SF (LSH
    * buckets of near-identical docs exceed it), so the oracle
    * hash-checks the capped-index representative choice — the
    * xxhash64 ordering — not just the under-cap collapse. */
  private val qDedupNearInc: Q = (s, dir) =>
    Dedup.minHashLshIncremental(t(s, dir, "documents"),
        isNew = col("doc_id") % 5 === 0, minJaccard = 0.2,
        indexCap = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** Group-wise top-k via the bounded-heap aggregate
    * ([[operators.TopK]]): top-5 orders by price per priority with
    * O(k) aggregation state per group — the scale-correct form of
    * `row_number() <= k`, which sorts every group's full row set. */
  private val qTopkGrouped: Q = (s, dir) =>
    operators.TopK.topKPerKey(t(s, dir, "orders"),
        Seq("o_orderpriority"), col("o_totalprice"), col("o_orderkey"),
        k = 5)
      .select(col("o_orderpriority"), col("rn"),
        col("id").as("o_orderkey"), col("ord").as("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))

  /** The CAPPED candidate path, proven at the verification SF. The
    * corpus is unioned with an id-shifted copy of itself so every LSH
    * bucket doubles: with cap 2 real buckets split into nb >= 3
    * xxhash64-assigned blocks, where WHICH pairs survive depends on
    * the block hash — so the oracle ([[DuckHash
    * .dedupNearCappedOracle]], which renders the identical XXH64 +
    * block-chain arithmetic) hash-checks the guard itself, not its
    * under-cap collapse. The production cap (256) only collapses MORE
    * buckets to the exact join, never fewer. */
  private val qDedupNearCapped: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val inflated = docs.unionByName(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.minHashLsh(inflated, minJaccard = 0.2, bucketCap = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Near-dup pairs -> transitive duplicate clusters (DataFrame
    * large-star/small-star connected components, [[Dedup.clusters]])
    * -> representative per cluster. Rows-only check. */
  private val qDedupCluster: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashLsh(docs, minJaccard = 0.2)
    Dedup.clusters(pairs)
      .orderBy(col("doc_id"))
  }

  private val qDedupSimhash: Q = (s, dir) =>
    Dedup.simHashDups(t(s, dir, "documents"), maxHamming = 10)
      .orderBy(col("id_a"), col("id_b"))

  private val qDedupEmbedding: Q = (s, dir) =>
    // bucketCap=0: exact within-bucket pairing, reproduced bit-for-bit
    // by the DuckDB oracle (inlined hyperplanes). The capacity guard is
    // exercised by the hot-bucket suite in OperatorsSpec; at these
    // corpus sizes no bucket approaches the cap anyway.
    Dedup.embeddingDups(t(s, dir, "embeddings"), dim = 64, planes = 6,
        minCosine = 0.2, bucketCap = 0)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact char-3-gram Jaccard over a bounded pair set (the rerank
    * primitive of the near-dup pipeline), oracle-checked vs DuckDB's
    * list algebra. */
  private val qNgramJaccard: Q = (s, dir) => {
    val d = t(s, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
    val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(ngram_jaccard(col("ta"), col("tb"), 3), 4).as("j"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val qCosineTopk: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), k = 10)
      .orderBy(col("query_id"), col("rnk"))
  }

  private val qAnnLsh: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.filter(col("vec_id") < 8), k = 10, dim = 64)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Recall@10 of the multi-probe LSH retriever against brute force —
    * the eval every ANN deployment runs before trusting the index.
    * The oracle recomputes BOTH retrievers in SQL and intersects. */
  private val qAnnRecall: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 8)
    Ann.recallAtK(
      Ann.lshTopK(emb, qs, k = 10, dim = 64),
      Ann.bruteForceTopK(emb, qs, k = 10))
      .orderBy(col("query_id"))
  }

  private val qAnnIvf: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    // train-once / apply-many: the quantizer is memoized per corpus dir,
    // so repeated queries skip the k-means fit entirely
    val model = Ann.trainIvfCached(ivfKey(dir), emb)
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 10, model)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF-PQ ANN: same train-once quantizers as q_ann_ivf plus memoized
    * PQ codebooks; candidates rank by ADC cosine over the m-int codes
    * (the scan never touches raw vectors), top rerank·k fetch true
    * vectors for exact scoring. Oracle decodes the same codebooks in
    * DuckDB (see pqOracle). */
  private val qAnnPq: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val ivf = Ann.trainIvfCached(ivfKey(dir), emb)
    val pq = Ann.trainPqCached(pqKey(dir), emb)
    Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), k = 10, ivf, pq,
      nprobe = 4, rerank = 4)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** SQ8 scalar-quantization ANN: exact per-dim [min,max] ranges (one
    * corpus aggregate — which the oracle re-derives INDEPENDENTLY, so
    * this oracle is static SQL, not a rendered model), 8-bit codes,
    * dequantized shortlist, exact rerank. The scan-side claim is
    * bytes: codes are 1/4 of float32. */
  private val qAnnSq: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val sq = Ann.trainSqCached(s"$dir/embeddings#sq8", emb)
    Ann.sqTopK(emb, emb.filter(col("vec_id") < 8), k = 10, sq,
      rerank = 4)
      .orderBy(col("query_id"), col("rnk"))
  }

  private val qTextStats: Q = (s, dir) =>
    TextStats.perLanguage(t(s, dir, "documents"))
      .orderBy(col("lang"))

  private val qTokenCount: Q = (s, dir) =>
    TextStats.tokenCounts(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  private val qQualityScore: Q = (s, dir) =>
    TextStats.qualityScore(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Repetition quality filters (Gopher-style): duplicate-line and
    * duplicate-word fractions, map-side HOFs, zero shuffles. The
    * corpus text is newline-free, so every third doc gets its 40-char
    * prefix appended twice as extra lines — deterministic, mirrored
    * by the oracle — to make the line metrics load-bearing. */
  private val qRepetition: Q = (s, dir) => {
    val seeded = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat_ws("\n", col("text"), substring(col("text"), 1, 40),
          substring(col("text"), 1, 40)))
        .otherwise(col("text")).as("text"))
    TextStats.repetitionStats(seeded).orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: docs with doc_id % 97 == 0 act as the
    * held-out benchmark; every other doc reports how many of its
    * distinct 3-grams appear anywhere in it (CorpusOps.decontaminate —
    * benchmark grams broadcast, corpus shuffled once on doc_id). */
  private val qDecontaminate: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    CorpusOps.decontaminate(
      corpus = docs.filter(col("doc_id") % 97 =!= 0),
      benchmark = docs.filter(col("doc_id") % 97 === 0),
      n = 3)
      .withColumn("contaminated", col("contaminated").cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Span-level decontamination: the same % 97 benchmark split, but
    * the contaminated WINDOWS are surgically removed and the rest of
    * each document survives (broadcast hash probe + merged-interval
    * reassembly — nothing shuffles corpus text). */
  private val qDecontaminateSpans: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    CorpusOps.decontaminateSpans(
      corpus = docs.filter(col("doc_id") % 97 =!= 0),
      benchmark = docs.filter(col("doc_id") % 97 === 0),
      n = 3)
      .orderBy(col("doc_id"))
  }

  /** The same decontamination forced down the LARGE-benchmark path
    * (maxBroadcastGrams = 0): bloom-prefiltered shuffled gram join +
    * explode-free per-doc totals instead of a broadcast probe. Runs
    * on a deterministic 1/7 corpus slice — the path costs a second
    * corpus pass plus a gram shuffle BY DESIGN (that trade only wins
    * when the benchmark is too big to broadcast), so the demo proves
    * the shape without dominating the bench; q_decontaminate covers
    * the full corpus. Oracle = the same SQL under the slice. */
  private val qDecontaminateXl: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    CorpusOps.decontaminate(
      corpus = docs.filter(col("doc_id") % 97 =!= 0 &&
        col("doc_id") % 7 === 1),
      benchmark = docs.filter(col("doc_id") % 97 === 0),
      n = 3, maxBroadcastGrams = 0L)
      .withColumn("contaminated", col("contaminated").cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking: 64-token windows, stride 48 (16-token
    * overlap) — pure per-row explode, zero shuffles. */
  private val qChunkDocs: Q = (s, dir) =>
    CorpusOps.chunk(t(s, dir, "documents"), chunkSize = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** GPT-style sequence packing: per-shard concat-and-cut of the
    * corpus into 128-token training sequences with per-document
    * segment attribution — one shard shuffle + one window pass over
    * (id, ntok) pairs; the text itself never moves. */
  private val qPackSequences: Q = (s, dir) =>
    CorpusOps.packSequences(t(s, dir, "documents"), seqLen = 128,
      numShards = 8)
      .orderBy(col("shard"), col("seq_idx"), col("doc_id"))

  /** Deterministic stratified sampling by hash rate: keep iff
    * pmod(xxhash64(doc_id), 100) < rate(lang) — a pure filter, the
    * sampling shape that still works at 100 TB. Oracle renders Spark's
    * xxhash64 in DuckDB integer arithmetic (DuckHash). */
  private val qSampleStratified: Q = (s, dir) =>
    CorpusOps.sampleByRate(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("source")),
      when(col("lang") === "en", lit(37)).otherwise(lit(13)))
      .orderBy(col("doc_id"))

  /** Exact k-per-stratum sample in deterministic pseudo-random
    * (xxhash64) order — one window sort per stratum. */
  private val qSampleTopk: Q = (s, dir) =>
    CorpusOps.sampleTopKPerStratum(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      stratumCol = "lang", k = 25)
      .orderBy(col("lang"), col("rn"))

  /** Systematic PPS sample, ~200 draws weighted by document length:
    * integer-exact grid selection over a DISTRIBUTED prefix sum
    * ([[Salting.twoPhaseCumSum]] — order-monotone split buckets, local
    * running sums, broadcast bucket offsets; no single-task global
    * window). Deterministic, zero RNG state; heavy documents draw
    * multiply (`copies`). */
  private val qSamplePps: Q = (s, dir) =>
    CorpusOps.ppsSample(t(s, dir, "documents"), k = 200)
      .orderBy(col("doc_id"))

  /** FastSS/SymSpell fuzzy self-join, edit distance ≤ 1 over customer
    * names: candidates meet on deletion-variant hash keys (never
    * all-pairs), then the exact `levenshtein` filter — the
    * record-linkage blocking join. 1,500 distinct names → 19,500
    * true pairs; the oracle pays the O(n²) scan this operator
    * exists to avoid. */
  private val qFuzzyJoin: Q = (s, dir) =>
    // localCheckpoint before the determinism sort: a global orderBy
    // range-samples its child, which would EXECUTE the whole
    // blocking-join chain twice (measured ~2x wall on this query);
    // the 262k-pair result materializes once and the sort reads the
    // checkpoint (Bpe.Materialize precedent; Bench's per-query
    // hygiene unpersists the blocks). Lazy: plan-only consumers
    // (DumpPlans, EXPLAIN) must not execute the join chain at
    // DataFrame-construction time.
    operators.FuzzyJoin.selfJoin(t(s, dir, "customer"), "c_name",
      maxDist = 1)
      .transform(graft.Materialize.barrier)
      .orderBy(col("a"), col("b"))

  /** Same blocking join at depth 2 over part names — multi-deletion
    * neighborhoods (any two strings within distance d share a member
    * of their ≤d-deletion sets). */
  private val qFuzzyParts: Q = (s, dir) =>
    operators.FuzzyJoin.selfJoin(t(s, dir, "part"), "p_name",
      maxDist = 2)
      .orderBy(col("a"), col("b"))

  /** Entity resolution end-to-end: fuzzy blocking join → transitive
    * closure (DataFrame large-star/small-star connected components)
    * → lexicographic-min canonical per component, singletons mapping
    * to themselves. The oracle re-derives the closure with a
    * recursive CTE. */
  private val qFuzzyCanon: Q = (s, dir) =>
    operators.FuzzyJoin.canonicalize(t(s, dir, "part"), "p_name",
      maxDist = 2)
      .orderBy(col("name"))

  /** PII scrub: plant a deterministic email + phone per doc, then count
    * and redact them with portable regexes (CorpusOps.redactPii). */
  private val qPiiRedact: Q = (s, dir) => {
    val pii = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" Contact user"),
        col("doc_id").cast("string"), lit("@example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit("-9876 now.")).as("text"))
    CorpusOps.redactPii(pii).orderBy(col("doc_id"))
  }

  /** Cross-document repeated 5-gram mining (the discovery half of
    * substring-level dedup): every 5-gram occurring in >= 2 distinct
    * documents, with its document frequency — one partial+final hash
    * aggregate on the gram (per-doc grams are already distinct, so
    * count(*) IS the doc frequency; no count-distinct double
    * shuffle). */
  private val qCommonNgrams: Q = (s, dir) =>
    CorpusOps.commonNgrams(t(s, dir, "documents"), n = 5, minDocs = 2)
      .orderBy(col("gram"))

  /** Per-document cross-corpus repetition fraction (Lee et al. 2022
    * substring-dedup signal at 3-gram granularity): the share of each
    * doc's distinct 3-grams that occur in >= 2 documents corpus-wide —
    * gram-frequency rollup + left join against only the repeated
    * grams + per-doc rollup (two exchanges total). */
  private val qCrossdocRepeat: Q = (s, dir) =>
    CorpusOps.crossDocRepetition(t(s, dir, "documents"), n = 3,
      minDocs = 2)
      .orderBy(col("doc_id"))

  /** Line width (tokens) of the synthetic line-structured corpus both
    * the line-dedup query and its oracle reshape `documents` into —
    * the testdata corpus is single-line, so the query materializes
    * page structure deterministically before applying the operator. */
  private val LineLen = 4

  /** `documents` reshaped into `LineLen`-token lines: the corpus a
    * line-level boilerplate scrub actually sees (pages, not blobs).
    * Deterministic and mirrored verbatim by the DuckDB oracle. */
  private def linedDocs(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), CorpusOps.tokens(col("text")).as("_ts"))
      .select(col("doc_id"),
        when(size(col("_ts")) > 0,
          array_join(transform(
            sequence(lit(1), size(col("_ts")), lit(LineLen)),
            i => concat_ws(" ", slice(col("_ts"), i, lit(LineLen)))),
            "\n"))
          .otherwise(lit("")).as("text"))

  /** Cross-document line dedup (C4/RefinedWeb boilerplate scrub) over
    * the line-structured corpus: every line repeated >= 2 times
    * corpus-wide is scrubbed from every page and the pages are
    * reassembled. FNV-keyed frequency shuffle + one id rollup. */
  private val qLineDedup: Q = (s, dir) =>
    CorpusOps.dedupLines(linedDocs(s, dir), minOccurrences = 2)
      .orderBy(col("doc_id"))

  /** Window width (tokens) shared by the exact-substring dedup query
    * and its oracle. The paper's tool uses 50-byte windows over a
    * suffix array; 8 tokens keeps the duplicated set non-trivial on
    * the synthetic corpus (≈1k duplicated fingerprints at sf0.01). */
  private val SubstrK = 8

  /** Exact substring dedup (ExactSubstr, Lee et al. 2021): every
    * duplicated 8-token window keeps only its corpus-wide first
    * occurrence. Hash-keyed frequency+owner shuffle, hash-keyed
    * probe join, one id rollup. */
  private val qSubstrDedup: Q = (s, dir) =>
    CorpusOps.dedupSubstrings(t(s, dir, "documents"), k = SubstrK)
      .orderBy(col("doc_id"))

  /** DSIR importance weights: target = the `en` slice, raw = the whole
    * corpus, 256 hashed unigram+bigram buckets. Training is two
    * bucket-count aggregates (memoized); scoring is a pure map-side
    * DECIMAL fold — the oracle re-derives the model from scratch in
    * SQL (independent re-derivation, not a rendering). */
  private val qDsirWeights: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = Dsir.trainCached(s"$dir/documents#dsir$DsirDim",
      docs.filter(col("lang") === "en"), docs, DsirDim)
    Dsir.score(docs, model, tau = DsirTau).orderBy(col("doc_id"))
  }

  /** SemDeDup over the embedding corpus: k-means cells from a
    * CORPUS-SCALED quantizer (nlist ≈ √n, the paper's regime — cells
    * stay ~√n so the capped within-cell probe rarely splits), cosine
    * prune at tau=0.35 keeping the centroid-farthest member of each
    * lookalike pair. The synthetic embeddings cluster loosely, so the
    * query pins tau below the operator's 0.95 near-dup default to
    * exercise non-trivial drop decisions. */
  private val qSemDedup: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Dedup.semantic(emb, semDedupModelFor(s, dir), tau = SemDedupTau)
      .orderBy(col("vec_id"))
  }

  /** The SemDeDup quantizer: nlist = max(16, round(√n)) — memoized per
    * dir (both the count and the trained model), shared by the query
    * and [[semDedupOracle]] so both engines see identical centroids. */
  private def semDedupModelFor(s: SparkSession,
      dir: String): Ann.IvfModel = {
    val nlist = semDedupNlistCache.computeIfAbsent(dir, d =>
      math.max(16L, math.round(math.sqrt(
        t(s, d, "embeddings").count().toDouble))).toInt)
    Ann.trainIvfCached(s"$dir/embeddings#sd$nlist",
      t(s, dir, "embeddings"), nlist)
  }
  private val semDedupNlistCache =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  private val DsirDim = 256
  private val DsirTau = 0.0
  private val SemDedupTau = 0.35

  /** Gopher rule-based quality filter: the published thresholds, with
    * the word-count floor the only data-dependent knob (the synthetic
    * docs run 10-600 words, so 50 discriminates). Pure map-side. */
  private val qGopherRules: Q = (s, dir) =>
    TextStats.gopherRules(t(s, dir, "documents"), minWords = 50)
      .orderBy(col("doc_id"))

  /** Count-Min heavy hitters over the corpus token stream: the
    * map-side-combined d×w sketch (the aggregate state IS the
    * sketch), estimate = min over rows, top-25 by estimate. w=512 is
    * deliberately far below the vocabulary so collisions genuinely
    * fire — the oracle re-derives the whole sketch (FNV + splitmix
    * buckets, collision counts, min-estimate) in DuckDB integer
    * math, so the hash check proves the sketch path, not a lucky
    * exact-count coincidence. */
  private val qHeavyHitters: Q = (s, dir) =>
    Sketch.cmsTopTerms(t(s, dir, "documents"),
      d = CmsD, w = CmsW, k = CmsK)

  /** EXACT top-25 terms via the Misra–Gries two-pass: the summary
    * prunes the vocabulary to ≤1024 candidates, the exact pass counts
    * only those, and the admission-bound check proves no pruned term
    * could outrank the 25th — so the oracle is the plain
    * count/order/limit. */
  private val qTopTermsExact: Q = (s, dir) =>
    Sketch.topTermsExact(t(s, dir, "documents"), k = CmsK,
      counters = 1024)
  private val CmsD = 4
  private val CmsW = 512
  private val CmsK = 25

  /** BPE merge count shared by the trainer query, the encode query
    * and both oracles' unrolled SQL re-derivations. */
  private val BpeMerges = 12

  // unigram-LM tokenizer parameters (rendered into the oracle): kept
  // multi-char vocab size, hard-EM rounds, and the oracle's static DP
  // unroll depth (must be >= the longest eligible word, like the
  // wordpiece oracle's `steps`)
  private val UnigramVocab = 16
  private val UnigramIters = 2
  private val UnigramDpStages = 12

  // model memo keys, one per shared fit: the queries that fit or apply
  // a model, their oracles, [[prefitModels]] and [[fitEvictors]] all
  // name it through these
  private def ivfKey(dir: String) = s"$dir/embeddings#16"
  private def pqKey(dir: String) = s"$dir/embeddings#pq8x16"
  private def bpeKey(dir: String) = s"$dir/documents#bpe$BpeMerges"
  private def uniKey(dir: String) = s"$dir/documents#uni$UnigramVocab"
  private def uniSoftKey(dir: String) =
    s"$dir/documents#unisoft$UnigramVocab"
  private def uniSoft2Key(dir: String) =
    s"$dir/documents#unisoft2_$UnigramVocab"
  private def qualityKey(dir: String) = s"$dir/documents#q64"

  /** Distributed BPE tokenizer training (Sennrich-style): one corpus
    * shuffle builds the word-count table, then each of the 12 merge
    * iterations is a map-side pair expansion + one tiny groupBy over
    * that cached table with a single argmax row to the driver. The
    * oracle re-derives the SAME merges by unrolling the training loop
    * in SQL (DuckHash.bpeTrainOracle) — fully independent
    * verification, not a rendering of the learned model. */
  private val qBpeTrain: Q = (s, dir) => {
    val model = Bpe.trainCached(bpeKey(dir),
      t(s, dir, "documents"), BpeMerges)
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i + 1, l, r, l + r) }
      .toDF("merge_rank", "left_tok", "right_tok", "merged")
      .orderBy(col("merge_rank"))
  }

  /** BPE encoding under the trained model: per document, the in-order
    * subword token stream — char rep folded through the 12 learned
    * merges as chained codegen'd `replace`s (zero shuffles, zero
    * UDFs; a 100 TB encode is a map-only job). Output pins token
    * count, distinct-token count and the first-20-token prefix so the
    * hash check sees the actual tokenization. */
  private val qBpeEncode: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = Bpe.trainCached(bpeKey(dir), docs, BpeMerges)
    Bpe.encode(docs, model)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long")
          .as("n_distinct"),
        array_join(slice(col("toks"), 1, 20), " ").as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  /** WordPiece-style greedy longest-match encoding over the SAME
    * trained BPE vocabulary (BERT's inference rule beside q_bpe's
    * merge replay — the two deployed subword segmenters, one vocab):
    * map-only codegen'd expression per word. The oracle re-derives
    * the merges with the BPE trainer's unrolled SQL, then segments
    * every distinct word through 8 unrolled greedy steps. */
  private val qWordpieceEncode: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = Bpe.trainCached(bpeKey(dir), docs, BpeMerges)
    Bpe.wordpieceEncode(docs, model)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long")
          .as("n_distinct"),
        array_join(slice(col("toks"), 1, 20), " ").as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  /** STREAMING EXACT top-k terms end-to-end
    * ([[graft.streaming.StreamOps.tailTrendingExact]]): the corpus
    * lands in a graft-v2 table with doc_id-derived event times, a
    * stream tails it keeping BOUNDED Misra–Gries state per 5-minute
    * window (counters far below the per-window vocabulary, so the
    * summary genuinely undercounts), and each closing window's
    * candidates refine to EXACT counts against the table slice — the
    * emitted rows are provably order-independent (candidate
    * nondeterminism is absorbed by the admission-bound fallback),
    * which is exactly what lets a DuckDB rollup hash-check a
    * STREAMING operator. Windows still open at the final watermark
    * are excluded by both sides with the same inequality. */
  private val qTrendingExact: Q = (s, dir) => {
    val base = Materialize.tempDir("graft-trendx")
    val corpus = base.resolve("corpus").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    t(s, dir, "documents")
      .select((to_timestamp(lit("2024-01-01 00:00:00")) +
        col("doc_id").cast("int") * expr("INTERVAL 1 MINUTE"))
        .as("ts"), col("text"))
      .write.format("graft-v2").option("path", corpus)
      .mode("append").save()
    val q = graft.streaming.StreamOps.tailTrendingExact(
      s, corpus, out, ckpt, k = 5, counters = 16,
      every = "5 minutes", watermark = "1 minute")
    try q.processAllAvailable() finally q.stop()
    s.read.format("graft-v2").load(out)
      .select(col("wstart"), col("term"), col("n"),
        col("rk").cast("long").as("rk"))
      .orderBy(col("wstart"), col("rk"))
  }

  /** The COMPOSED curation pipeline, end-to-end in one gated query —
    * the shape a real training-data run chains: normalized exact
    * dedup keeps one id per text → benchmark decontamination drops
    * docs above 5% trigram contamination (benchmark = the %97 split)
    * → the Gopher rule tier keeps quality docs → context-window
    * chunking emits the training sequences, rolled up per doc. Every
    * stage is an operator already gated alone; THIS query gates their
    * composition (dedup semi-join → broadcast gram probe → map-side
    * rules → per-row explode: two small shuffles total beyond the
    * scans, nothing quadratic). */
  private val qPipelineE2e: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val keepIds = Dedup.exactNormalized(docs)
      .select(col("keep_id").as("doc_id"))
    val deduped = docs.join(keepIds, Seq("doc_id"), "left_semi")
    val corpus = deduped.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val cleanIds = CorpusOps.decontaminate(corpus, bench, n = 3)
      .filter(col("contamination") <= 0.05)
      .select(col("doc_id"))
    val clean = corpus.join(cleanIds, Seq("doc_id"), "left_semi")
    val qualityIds = TextStats.gopherRules(clean, minWords = 50)
      .filter(col("keep")).select(col("doc_id"))
    val kept = clean.join(qualityIds, Seq("doc_id"), "left_semi")
    CorpusOps.chunk(kept, chunkSize = 64, stride = 48)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("n_chunk_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM (SentencePiece-family) tokenizer training: the third
    * deployed segmenter beside BPE merge replay and WordPiece
    * longest-match — substring-seeded, two hard-EM rounds, integer
    * micro-nat scores so the Viterbi DP never compares floats. The
    * oracle UNROLLS the entire training (seed counts, both EM rounds'
    * DP + backtrace, the kept-vocab re-smoothing) in SQL —
    * independent re-derivation, like q_bpe_train. */
  private val qUnigramTrain: Q = (s, dir) => {
    val m = Unigram.trainCached(uniKey(dir),
      t(s, dir, "documents"), UnigramVocab, UnigramIters)
    import s.implicits._
    m.pieces.zipWithIndex.map { case ((p, c, sc), i) =>
      (i + 1L, p, c, sc)
    }.toDF("rank", "piece", "cnt", "score")
  }

  /** Viterbi encoding under the trained unigram model — map-only (the
    * kept-piece scores ride as a literal map), same output shape as
    * q_wordpiece_encode. */
  private val qUnigramEncode: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val m = Unigram.trainCached(uniKey(dir), docs, UnigramVocab, UnigramIters)
    Unigram.encode(docs, m)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long")
          .as("n_distinct"),
        array_join(slice(col("toks"), 1, 20), " ").as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  // ===== event analytics ([[operators.EventOps]]) =====

  /** Strict ordered funnel view→click→purchase within 24 h of the
    * first step: type-pruned events, ONE key shuffle, map-side
    * sorted-array fold (greedy-first = staged-min, which is exactly
    * how the oracle re-derives it). */
  private val qFunnel: Q = (s, dir) =>
    operators.EventOps.funnel(t(s, dir, "events"), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"),
      windowMicros = 86400000000L)

  /** Funnel time-to-convert: per final steps-reached, exact p50/p90
    * of t_k − t_1 — the funnel fold plus one two-phase-rank quantile
    * selection over its per-entity output. */
  private val qFunnelTtc: Q = (s, dir) =>
    operators.EventOps.funnelTtc(t(s, dir, "events"), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"),
      windowMicros = 86400000000L, qs = Seq(0.5, 0.9))

  /** Per-user daily resample with forward fill over each user's
    * [first, last] day span — grid explode + key-partitioned fill
    * window (partition count grows with users). */
  private val qResampleGapfill: Q = (s, dir) =>
    operators.EventOps.resampleFill(t(s, dir, "events"), "user_id",
      "ts", "value")
      // DATE -> TIMESTAMP for the oracle compare (a raw DATE column
      // materializes as python date objects vs the oracle's
      // datetime64 — the one external type the driver compare can't
      // hash uniformly); UTC session, so the cast is exact midnight
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
        col("value"))
      .orderBy(col("user_id"), col("day"))

  /** Weekly cohort retention: first-seen week × activity-week offset
    * cells — two key-hash aggregates, map-side cell rollup. */
  private val qRetention: Q = (s, dir) =>
    operators.EventOps.retention(t(s, dir, "events"), "user_id", "ts")
      .select(col("cohort_week").cast("timestamp").as("cohort_week"),
        col("week_offset"), col("users"))

  /** Cohort survival curve ([[operators.EventOps.survival]]):
    * retention normalized by cohort size, exact ppm. */
  private val qSurvival: Q = (s, dir) =>
    operators.EventOps.survival(t(s, dir, "events"), "user_id", "ts")
      .select(col("cohort_week").cast("timestamp").as("cohort_week"),
        col("week_offset"), col("users"), col("cohort_size"),
        col("survival_ppm"))

  /** EXACT global quantiles of l_extendedprice by rank selection over
    * the two-phase distributed row_number — no approxQuantile error
    * bar, no one-task global sort ([[operators.Quantiles]]). */
  private val qQuantilesExact: Q = (s, dir) =>
    operators.Quantiles.exactQuantiles(
      t(s, dir, "lineitem"),
      col("l_extendedprice"),
      Seq(col("l_orderkey"), col("l_linenumber")),
      Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy(col("q"))

  /** Per-event-type exact p50/p95/p99 — the low-cardinality PARTITION
    * BY rank selection, riding the same two-phase plan (the naive
    * per-key window is exactly the O(1)-key scale trap). */
  private val qP95ByType: Q = (s, dir) =>
    operators.Quantiles.exactQuantilesByKey(
      t(s, dir, "events"), "event_type", col("value"),
      Seq(col("event_id")), Seq(0.5, 0.95, 0.99))
      .orderBy(col("event_type"), col("q"))

  /** Peak concurrency (±1 interval sweep, 5-minute event windows):
    * the GLOBAL running sum rides [[Salting.twoPhaseCumSum]] — split
    * buckets + broadcast offsets, never a one-task window. */
  private val qConcurrency: Q = (s, dir) =>
    operators.EventOps.maxConcurrency(t(s, dir, "events"), "ts",
      "event_id", durationMicros = 300000000L)

  /** Rolling z-score anomaly flags: each event against its user's
    * previous 20 events — fixed-point Σx/Σx² (exact integers, double-
    * representable), one fixed IEEE expression tree for z, flag on
    * the ROUNDED score; one key-partitioned window, no global state.
    */
  private val qAnomalyEvents: Q = (s, dir) =>
    operators.EventOps.anomalies(t(s, dir, "events"), "user_id", "ts",
      "event_id", "value", window = 20, threshold = 3.0)
      .orderBy(col("user_id"), col("event_id"))

  /** OHLC hourly bars per user ([[operators.EventOps.ohlcBars]]):
    * ONE map-side-combinable hash aggregate — min_by/max_by on the
    * (ts, id) struct pick open/close with no per-bucket sort window;
    * volume sums fixed-point longs (exact). */
  private val qOhlcBars: Q = (s, dir) =>
    operators.EventOps.ohlcBars(t(s, dir, "events"), "user_id", "ts",
      "event_id", "value", bucket = "hour", valueScale = 100L)
      .orderBy(col("user_id"), col("bucket"))

  /** One-sided CUSUM drift flags ([[operators.EventOps.cusum]]): the
    * sequential-looking recurrence S_i = max(0, S_{i-1} + (x_i − T))
    * in its closed form P_i − min(P_0..P_i) — two key-partitioned
    * window functions, integer-exact fixed-point units. */
  private val qCusumDrift: Q = (s, dir) =>
    operators.EventOps.cusum(t(s, dir, "events"), "user_id", "ts",
      "event_id", "value", targetC = 800L, threshC = 2500L,
      valueScale = 100L)
      .orderBy(col("user_id"), col("event_id"))

  /** Per-user interval-union coverage
    * ([[operators.EventOps.intervalUnion]]): total active time under
    * 5-minute event windows with overlaps counted once, plus merged
    * segment count — one key-partitioned sweep window, one hash
    * aggregate, exact micros. */
  private val qIntervalUnion: Q = (s, dir) =>
    operators.EventOps.intervalUnion(t(s, dir, "events"), "user_id",
      "ts", "event_id", durationMicros = 300000000L)
      .orderBy(col("user_id"))

  /** PMI-family collocation mining
    * ([[operators.TextSearch.collocations]]): term pairs whose
    * co-occurrence beats independence, scored as integer lift-ppm in
    * decimal(38,0) with exact integral division — no ln, no float.
    * Per-doc pair expansion is capped O(12²) by construction. */
  private val qTermPmi: Q = (s, dir) =>
    operators.TextSearch.collocations(t(s, dir, "documents"))

  /** One-pass exact table profile ([[operators.Profile.profile]])
    * over `orders`: per column rows/nulls/exact-distinct/min/max in
    * long format — a single Aggregate (Expand for the multi-distinct)
    * then a literal-struct unpivot. */
  private val qProfileTable: Q = (s, dir) =>
    operators.Profile.profile(t(s, dir, "orders"))

  /** Top session journeys ([[operators.EventOps.sessionPaths]]):
    * 30-min-gap sessions, first-5-event-type paths, session counts —
    * the per-session array is bounded to 5 BEFORE collection by a
    * row_number cut, so bot sessions can't blow up state. */
  private val qSessionPaths: Q = (s, dir) =>
    operators.EventOps.sessionPaths(t(s, dir, "events"), "user_id",
      "ts", "event_id", "event_type",
      gapMicros = 30L * 60 * 1000000, pathLen = 5, topN = 50)

  /** Event-type Markov transitions
    * ([[operators.EventOps.transitions]]): one key-partitioned lead
    * window, two hash rollups, integer-ppm probabilities via exact
    * integral division. */
  private val qEventTransitions: Q = (s, dir) =>
    operators.EventOps.transitions(t(s, dir, "events"), "user_id",
      "ts", "event_id", "event_type")

  /** Winsorized mean per event type
    * ([[operators.Quantiles.winsorizedMeanByKey]]): exact [p05, p95]
    * clamp via two-phase rank selection (never the O(1)-key window
    * trap), fixed-point sums, one final IEEE division. */
  private val qWinsorizedMean: Q = (s, dir) =>
    operators.Quantiles.winsorizedMeanByKey(t(s, dir, "events"),
      "event_type", col("value"), Seq(col("event_id")),
      loQ = 0.05, hiQ = 0.95)
      .orderBy(col("event_type"))

  /** Fixed-point equi-width histogram
    * ([[operators.Profile.histogram]]): integer bin arithmetic on
    * quantized cents, empty bins materialized — one scan, one
    * bins-sized rollup. */
  private val qHistogram: Q = (s, dir) =>
    operators.Profile.histogram(t(s, dir, "lineitem"),
      col("l_extendedprice"), bins = 40)

  /** Referential-integrity check ([[operators.Profile.riCheck]]):
    * orphan counts via LEFT ANTI joins (Catalyst picks broadcast per
    * stats) over the lineitem→orders and orders→customer edges. */
  private val qRiCheck: Q = (s, dir) =>
    operators.Profile.riCheck(Seq(
      ("lineitem.l_orderkey -> orders.o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey"),
      ("orders.o_custkey -> customer.c_custkey",
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey")))
      .orderBy(col("relationship"))

  /** HLL sketch rollup ([[operators.Sketch.distinctRollup]]): daily
    * mergeable sketches + cumulative union — exact counts ride along
    * and the booleans gate the estimates (q_ann_recall's
    * accuracy-gate shape). */
  private val qDistinctRollup: Q = (s, dir) =>
    operators.Sketch.distinctRollup(t(s, dir, "events"), "ts",
      "user_id")
      .select(col("day").cast("timestamp").as("day"), col("n_exact"),
        col("daily_ok"), col("n_cum_exact"), col("cum_ok"))

  /** EXACT set-similarity self-join ([[operators.Dedup.jaccardJoin]],
    * PPJoin prefix filter): all 4-gram-shingle Jaccard ≥ 0.5 pairs
    * with no false negatives — the exact counterpart to MinHash LSH;
    * rarest-first prefixes keep the candidate join near-dup-sized. */
  private val qJaccardJoin: Q = (s, dir) =>
    operators.Dedup.jaccardJoin(t(s, dir, "documents"))

  /** The stop-shingle guarded twin of [[qJaccardJoin]]: shingles in
    * more than 3 documents drop before set construction — the cap
    * BINDS on this corpus (df-4 shingles exist) and the oracle
    * replays the reduced-set semantics exactly, proving the
    * adversarial-corpus guard changes answers only as disclosed. */
  private val qJaccardJoinCapped: Q = (s, dir) =>
    operators.Dedup.jaccardJoin(t(s, dir, "documents"), dfCap = 3L)

  /** Rolling exact median ([[operators.EventOps.rollingMedian]]):
    * per-user trailing-21 median — pure selection on full odd
    * frames, one key-partitioned window. */
  private val qRollingMedian: Q = (s, dir) =>
    operators.EventOps.rollingMedian(t(s, dir, "events"), "user_id",
      "ts", "event_id", "value", window = 21)
      .orderBy(col("user_id"), col("event_id"))

  /** Global quantile discretizer
    * ([[operators.Quantiles.quantileBuckets]]): the scalable `ntile`
    * — per-row decile of l_extendedprice via two-phase distributed
    * row_number + exact integer bucket arithmetic. */
  private val qQuantileBuckets: Q = (s, dir) =>
    operators.Quantiles.quantileBuckets(t(s, dir, "lineitem"),
      col("l_extendedprice"),
      Seq(col("l_orderkey"), col("l_linenumber")), buckets = 10)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Per-type daily-count trend ([[operators.EventOps.countTrend]]):
    * least-squares slope in ppm under the fully integer contract —
    * two hash aggregates, exact sums, one integral division. */
  private val qCountTrend: Q = (s, dir) =>
    operators.EventOps.countTrend(t(s, dir, "events"), "event_type",
      "ts")

  /** Modal event type per user ([[operators.EventOps.modeByKey]]):
    * exact mode via two hash aggregates and a struct max — explicit
    * (count, type) tie rule, no row sort. */
  private val qModeByKey: Q = (s, dir) =>
    operators.EventOps.modeByKey(t(s, dir, "events"), "user_id",
      "event_type")

  /** Last-touch attribution ([[operators.EventOps.attribution]]):
    * purchases credited to the most recent non-purchase event within
    * 1 h — one key-partitioned window, one channel rollup; no-touch
    * conversions report as 'organic'. */
  private val qAttribution: Q = (s, dir) =>
    operators.EventOps.attribution(t(s, dir, "events"), "user_id",
      "ts", "event_id", "event_type", conversionType = "purchase",
      lookbackMicros = 3600000000L)
      .select(coalesce(col("channel"), lit("organic")).as("channel"),
        col("conversions"))
      .orderBy(col("channel"))

  /** SCD2 dimension apply ([[operators.Scd2.applyChanges]]): a
    * deterministic change batch over a customer-derived dimension —
    * changed keys close + re-version, identical-attribute changes
    * no-op, unseen keys insert; one broadcast key join. */
  private val qScd2Apply: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val dim = cust.select(col("c_custkey"), col("c_nationkey"),
      lit(0L).as("valid_from"),
      lit(null).cast("long").as("valid_to"),
      lit(true).as("is_current"))
    val changes = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 14 === 0, col("c_nationkey"))
          .otherwise((col("c_nationkey") + 1) % 25)
          .as("c_nationkey"),
        lit(86400000000L).as("change_micros"))
      .unionByName(cust.filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_nationkey"),
          lit(86400000000L).as("change_micros")))
    operators.Scd2.applyChanges(dim, changes, "c_custkey",
      Seq("c_nationkey"))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** TextRank keywords ([[operators.TextSearch.textRank]]): integer
    * PageRank over the capped co-occurrence graph, three fixed
    * rounds, every intermediate an exact long — the oracle unrolls
    * the same three rounds as CTEs. */
  private val qTextRank: Q = (s, dir) =>
    operators.TextSearch.textRank(t(s, dir, "documents"))

  /** ZERO-SCAN profile ([[operators.Profile.profileFromStats]]): the
    * query stands up a stats-covered graft-v2 table from orders (two
    * appends), then profiles it purely from the manifest `fstat=`
    * entries — O(files) driver work, no executor scan; the oracle
    * recomputes the same numbers from the raw rows. */
  private val qProfileStats: Q = (s, dir) => {
    val tag = "pfs" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag/orders"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val cut = maxKey / 2
    Seq(o.filter(col("o_orderkey") <= cut),
      o.filter(col("o_orderkey") > cut)).foreach(_
      .repartition(1).write.format("graft-v2")
      .option("statsColumns", "o_orderkey,o_totalprice")
      .option("changelog", "true").mode("append").save(path))
    operators.Profile.profileFromStats(s, path)
  }

  /** Bitemporal fact lookup ([[operators.Scd2.lookupAt]]): each order
    * resolves the customer nation VALID AT ORDER TIME against an
    * SCD2 dimension with a mid-1995 change batch — broadcast key join
    * with a residual validity range, no fact shuffle. */
  private val qScd2Lookup: Q = (s, dir) => {
    val cutMicros = 804556800000000L // 1995-07-01 UTC
    val cust = t(s, dir, "customer")
    val dim0 = cust.select(col("c_custkey"), col("c_nationkey"),
      lit(0L).as("valid_from"),
      lit(null).cast("long").as("valid_to"),
      lit(true).as("is_current"))
    val changes = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        ((col("c_nationkey") + 1) % 25).as("c_nationkey"),
        lit(cutMicros).as("change_micros"))
    val dim = operators.Scd2.applyChanges(dim0, changes, "c_custkey",
      Seq("c_nationkey"))
    val facts = t(s, dir, "orders")
      .select(col("o_custkey").as("c_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ots"))
    operators.Scd2.lookupAt(dim, facts, "c_custkey", col("ots"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("c_nationkey"))
  }

  /** Combined data-quality suite ([[operators.Profile.dqSuite]]):
    * four named row contracts over lineitem in ONE aggregate — the
    * discount cap is planted to FAIL so the violation-count path is
    * exercised non-trivially — PLUS a referential `foreign_key` rule
    * whose parent is thinned to every-third orderkey so the orphan
    * count also BINDS (riCheck anti-join semantics). */
  private val qDqChecks: Q = (s, dir) =>
    operators.Profile.dqSuite(t(s, dir, "lineitem"), Seq(
      "qty_range" -> col("l_quantity").between(1, 50),
      "tax_cap" -> (col("l_tax") <= 0.08),
      "discount_cap" -> (col("l_discount") <= 0.05),
      "positive_price" -> (col("l_extendedprice") > 0)),
      fkRules = Seq(("orderkey_fk", "l_orderkey",
        t(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0),
        "o_orderkey")))
      .orderBy(col("rule"))

  /** SOFT-EM unigram training ([[Unigram.trainSoft]]): the true
    * SentencePiece forward-backward E-step under the
    * quantized-expectation integer contract — piece weights, the
    * forward/backward DPs and the micro-expectations are ALL exact
    * integers, so the oracle re-derives the entire training in SQL
    * (HUGEINT DP sums, `//` exact division), like q_unigram_train
    * does for hard EM. `cnt` is in micro-expectations (1e6 = one
    * expected occurrence). */
  private val qUnigramTrainSoft: Q = (s, dir) => {
    val m = Unigram.trainSoftCached(uniSoftKey(dir),
      t(s, dir, "documents"), UnigramVocab, iters = 1)
    import s.implicits._
    m.pieces.zipWithIndex.map { case ((p, c, sc), i) =>
      (i + 1L, p, c, sc)
    }.toDF("rank", "piece", "cnt", "score")
  }

  /** Second soft-EM round: round ≥ 2 re-quantizes weights FROM the
    * micro-expectations (count scale 1e6 instead of 1), so this gate
    * proves the multi-round integer contract end-to-end, not just the
    * seeded first E-step. */
  private val qUnigramTrainSoft2: Q = (s, dir) => {
    val m = Unigram.trainSoftCached(uniSoft2Key(dir),
      t(s, dir, "documents"), UnigramVocab, iters = 2)
    import s.implicits._
    m.pieces.zipWithIndex.map { case ((p, c, sc), i) =>
      (i + 1L, p, c, sc)
    }.toDF("rank", "piece", "cnt", "score")
  }

  /** Viterbi encoding under the SOFT-trained unigram model: the
    * forward-backward expectations change the kept vocabulary and its
    * scores, and this gate proves the model's encode face end-to-end
    * (same map-only literal-map/DP plumbing as [[qUnigramEncode]],
    * different model). Shares [[qUnigramTrainSoft]]'s cached fit. */
  private val qUnigramEncodeSoft: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val m = Unigram.trainSoftCached(uniSoftKey(dir), docs, UnigramVocab,
      iters = 1)
    Unigram.encode(docs, m)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long")
          .as("n_distinct"),
        array_join(slice(col("toks"), 1, 20), " ").as("head_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM quality scoring (the CCNet/KenLM-style perplexity
    * filter with a count LM): train on even doc_ids, score odd
    * doc_ids, so the stupid-backoff path genuinely fires on unseen
    * bigrams. Two training aggregates + a three-way count-table join
    * on the candidate side; score summed in exact DECIMAL so the
    * hash check is partition-order-proof. */
  private val qLmScore: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    LangModel.scoreDocs(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0))
      .orderBy(col("doc_id"))
  }

  /** Deterministic global shuffle into 8 shards: the training-order
    * randomization + shard-export step. One hash shuffle + per-shard
    * sort; hash-balanced shards, reproducible on any cluster size. */
  private val qShuffleShards: Q = (s, dir) =>
    CorpusOps.shuffleShards(
      t(s, dir, "documents").select(col("doc_id")), numShards = 8)
      .orderBy(col("shard"), col("pos"))

  /** Semantic k-means clustering summary: every embedding assigned to
    * its nearest centroid (the SAME train-once quantizer as q_ann_ivf
    * — a single codegen'd map-side expression, no join), then one hash
    * aggregate for per-cluster size and mean centroid-cosine. Oracle
    * reconstructs the assignment from the rendered centroids
    * (clusterOracle). */
  private val qClusterKmeans: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val model = Ann.trainIvfCached(ivfKey(dir), emb)
    Clustering.summary(emb, model).orderBy(col("cluster"))
  }

  /** Cluster-balanced sampling: first 5 vectors of every k-means
    * cluster in deterministic xxhash64 order — the diversity-aware
    * curation subset (every semantic region contributes equally). One
    * window sort on the cluster key. */
  private val qClusterSample: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val model = Ann.trainIvfCached(ivfKey(dir), emb)
    Clustering.balancedSample(emb, model, k = 5)
      .orderBy(col("cluster"), col("rn"))
  }

  /** UNPIVOT (wide -> long melt): lineitem's three charge columns
    * unpivoted to (measure, val) rows via Dataset.unpivot — Spark
    * plans it as a single Expand (one pass, zero shuffles, row count
    * x3 map-side). */
  private val qUnpivot: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 100)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  /** The shared quality-classifier fit (train-once, like the IVF
    * quantizer): logistic regression over 64 hashed bag-of-words
    * buckets, self-supervised label "doc mentions 'slow' more often
    * than 'fast'" — a deterministic function of the features, so the
    * model genuinely learns it and the demo exercises real
    * convergence. */
  private def qualityModelFor(s: SparkSession, dir: String)
      : QualityModel.HashedLinearModel = {
    val ts = CorpusOps.tokens(col("text"))
    val labeled = t(s, dir, "documents").withColumn("_y",
      size(filter(ts, x => x === "slow")) >
        size(filter(ts, x => x === "fast")))
    QualityModel.trainCached(qualityKey(dir), labeled, "_y")
  }

  /** Harness warm-up hook: the one-time fits of the models apply-side
    * queries share (IVF quantizer, quality classifier, BPE and unigram
    * tokenizers), forced outside the timed runs — the train-once /
    * apply-many contract. */
  def prefitModels(s: SparkSession, dir: String): Unit = {
    Ann.trainIvfCached(ivfKey(dir), t(s, dir, "embeddings"))
    qualityModelFor(s, dir)
    Bpe.trainCached(bpeKey(dir), t(s, dir, "documents"), BpeMerges)
    Unigram.trainCached(uniKey(dir), t(s, dir, "documents"), UnigramVocab,
      UnigramIters)
  }

  /** The queries whose OUTPUT is (or embeds) a model fit, each with the
    * eviction of the memo it fits: a memoized timing measures a
    * `ConcurrentHashMap` lookup, not the fit the query name claims, so
    * the bench evicts before every timed run of these; the apply-side
    * queries (encodes, scoring, ANN) keep train-once/apply-many. */
  private val fitEvictors: Map[String, String => Unit] = Map(
    "q_bpe_train" -> (d => Bpe.evictCached(bpeKey(d))),
    "q_unigram_train" -> (d => Unigram.evictCached(uniKey(d))),
    "q_unigram_train_soft" -> (d => Unigram.evictCached(uniSoftKey(d))),
    "q_unigram_train_soft2" -> (d => Unigram.evictCached(uniSoft2Key(d))),
    "q_quality_model" -> (d => QualityModel.evictCached(qualityKey(d))))

  val FitQueries: Set[String] = fitEvictors.keySet

  /** Evict the memoized model `name` fits (no-op for other queries). */
  def evictTrainedModel(name: String, dir: String): Unit =
    fitEvictors.get(name).foreach(_(dir))

  /** Model-based quality filtering: score every document under the
    * trained hashed-feature logistic model — a single codegen'd
    * map-side expression (hash, inlined-weight lookup, mean, sigmoid);
    * zero shuffles. The oracle re-scores under the SAME weights
    * rendered into DuckDB SQL. */
  private val qQualityModel: Q = (s, dir) =>
    QualityModel.score(t(s, dir, "documents"), qualityModelFor(s, dir))
      .orderBy(col("doc_id"))

  /** Weighted corpus mixture: en upsampled 2.25 epochs, de 1.0,
    * zh 0.4 — one scan per source, map-side epoch explode + xxhash
    * remainder filter, zero shuffles. */
  private val qCorpusMix: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    CorpusOps.mixCorpora(Seq(
      ("en", docs.filter(col("lang") === "en"), 2.25),
      ("de", docs.filter(col("lang") === "de"), 1.0),
      ("zh", docs.filter(col("lang") === "zh"), 0.4)))
      .select(col("mix_source"), col("epoch"), col("doc_id"))
      .orderBy(col("mix_source"), col("epoch"), col("doc_id"))
  }

  /** BM25 ranked retrieval: top-25 documents for a 3-term query.
    * Query-term filter collapses the token stream at the scan; N/avgdl
    * and the per-term doc frequencies are broadcast scalars; top-k is
    * TakeOrderedAndProject. */
  private val qBm25: Q = (s, dir) =>
    TextSearch.bm25(t(s, dir, "documents"), "hash join stream", k = 25)

  /** Per-document TF-IDF keywords (top-3): two hash rollups + one
    * per-doc window. */
  private val qTfidf: Q = (s, dir) =>
    TextSearch.tfIdfKeywords(t(s, dir, "documents"), m = 3)
      .orderBy(col("doc_id"), col("rk"))

  /** BM25 served from the PERSISTED term-bucketed postings index —
    * built on 2/3 of the corpus and INCREMENTALLY extended with the
    * remaining 1/3, so the hash check (vs the full-corpus oracle)
    * proves the extend path contributed exactly its documents'
    * postings and the index scores identically to the corpus scan
    * with zero corpus access at query time. */
  private val qPostingsSearch: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val idx = Materialize.tempDir("graft-postings").resolve("idx").toString
    TextSearch.buildPostings(docs.filter(col("doc_id") % 3 =!= 0), idx)
    TextSearch.extendPostings(docs.filter(col("doc_id") % 3 === 0), idx)
    TextSearch.bm25FromIndex(s, idx, "hash join stream", k = 25)
  }

  /** Streaming index maintenance end-to-end: a postings index built
    * from 1/3 of the corpus TAILS the corpus table's change data feed
    * ([[TextSearch.tailPostings]]) while the remaining 2/3 land as two
    * live appends — then serves BM25 with zero corpus access. The
    * oracle is the full-corpus BM25 scan: the tailed index must
    * reproduce it exactly (same scores, same ranking), which also
    * proves the exactly-once window protocol applied each append
    * precisely once (a duplicated batch would double tf). */
  private val qPostingsTail: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = Materialize.tempDir("graft-ptail")
    val corpus = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val ckpt = base.resolve("ckpt").toString
    docs.filter(col("doc_id") % 3 === 0).write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    TextSearch.buildPostingsFromTable(s, corpus, idx, "tail")
    val q = TextSearch.tailPostings(s, corpus, idx, "tail", ckpt)
    try {
      docs.filter(col("doc_id") % 3 === 1).write.format("graft-v2")
        .option("path", corpus).mode("append").save()
      docs.filter(col("doc_id") % 3 === 2).write.format("graft-v2")
        .option("path", corpus).mode("append").save()
      q.processAllAvailable()
    } finally q.stop()
    TextSearch.bm25FromIndex(s, idx, "hash join stream", k = 25)
  }

  private val qLangId: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), lang_guess(col("text")).as("guessed"))
      .groupBy(col("guessed"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("guessed"))

  private val qFingerprint: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text"), 16).as("fp"),
        simhash(col("text")).as("sh"))
      .orderBy(col("doc_id"))

  private val qMultimodalMeta: Q = (s, dir) => {
    val media = Multimodal.asMedia(t(s, dir, "documents"))
    media.select(
      col("media_id"),
      col("meta.n_bytes").as("n_bytes"),
      col("meta.checksum").as("checksum"),
      ceil(col("meta.n_bytes") / lit(256.0)).as("n_frames"))
      .orderBy(col("media_id"))
  }

  /** REAL media decode: the corpus wrapped as spec-conformant binary
    * PPM (P6) images, decoded back by an actual netpbm parser
    * ([[Multimodal.decodePpm]]) — dimensions, maxval, pixel byte count
    * and a pixel checksum, all hash-checked against a DuckDB oracle
    * that rebuilds the identical bytes. */
  private val qMultimodalDecode: Q = (s, dir) => {
    val media = Multimodal.asPpm(t(s, dir, "documents"))
    Multimodal.decodePpm(media)
      .select(col("media_id"), col("width"), col("height"),
        col("maxval"), col("pix_bytes"), col("pixel_md5"))
      .orderBy(col("media_id"))
  }

  /** SQL `DELETE FROM` end-to-end: copy a projection of `orders` into
    * a scratch graft catalog table (two appends -> multiple part
    * files, so the footer-stats classification sees whole-file AND
    * boundary cases), delete by predicate, return the survivors. The
    * oracle is the null-safe complement over the source table. */
  private val qDeleteFrom: Q = (s, dir) => {
    // one deterministic scratch per sf dir, rebuilt per invocation —
    // same rationale as scratchOrders
    val tag = "del" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag"
    val cat = s"graft_dml_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tdir = new org.apache.hadoop.fs.Path(s"$wh/orders")
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val orders = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    val mid = 30000L
    orders.filter(col("o_orderkey") < mid).write.format("graft-v2")
      .option("path", s"$wh/orders").mode("append").save()
    orders.filter(col("o_orderkey") >= mid).write.format("graft-v2")
      .option("path", s"$wh/orders").mode("append").save()
    s.sql(s"DELETE FROM $cat.orders " +
      "WHERE o_orderstatus = 'O' OR o_totalprice < 50000")
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
      s"FROM $cat.orders ORDER BY o_orderkey")
  }

  /** Point DELETE through the DELETION-VECTOR path end-to-end
    * ([[graft.sources.v2.DeleteVectors]]): scratch orders copy (two
    * appends → several part files), delete three keys — far below the
    * vector threshold for every touched file — then REQUIRE the data
    * files were left physically in place with sidecars mapped (the
    * guard that this query proves the vector path, not the rewrite),
    * and return the survivors for the complement oracle. */
  private val qDvDelete: Q = (s, dir) => {
    val tag = "dv" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag"
    val cat = s"graft_dml_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tdir = new org.apache.hadoop.fs.Path(s"$wh/orders")
    val fs = tdir.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(tdir, true)
    val orders = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    val mid = 30000L
    orders.filter(col("o_orderkey") < mid).write.format("graft-v2")
      .option("path", s"$wh/orders").mode("append").save()
    orders.filter(col("o_orderkey") >= mid).write.format("graft-v2")
      .option("path", s"$wh/orders").mode("append").save()
    def parts(): Set[String] =
      fs.listStatus(tdir).map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    val before = parts()
    s.sql(s"DELETE FROM $cat.orders " +
      "WHERE o_orderkey IN (7, 101, 1203)")
    require(parts() == before,
      "q_dv_delete: the point DELETE must leave every data file in place")
    val snap = graft.sources.v2.GraftManifest.current(fs, tdir).get
    require(snap.dvs.nonEmpty,
      "q_dv_delete: expected deletion-vector sidecars in the manifest")
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
      s"FROM $cat.orders ORDER BY o_orderkey")
  }

  /** Snapshot isolation / time travel end-to-end: load a scratch graft
    * table (v1-to-be), run a DELETE (the first mutation bootstraps
    * manifest v1 = the pre-DML state and commits v2), then read
    * `VERSION AS OF 1` — whose files a later commit ARCHIVED — and
    * hash-match it against the oracle's plain pre-DML projection. The
    * mutated current state is additionally guarded (count must equal
    * the complement) so a broken swap cannot slip through. */
  private val qTimeTravel: Q = (s, dir) => {
    // ONE scratch warehouse + catalog name per sf dir (Spark caches
    // catalog instances by name, so the name must pin one warehouse
    // path forever); each invocation rebuilds the table from scratch
    // so repeated bench/verify runs stay at versions {1, 2} instead of
    // accreting temp dirs and catalog instances
    val tag = java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-ttq-$tag"
    val cat = s"graft_ttq_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tdir = new org.apache.hadoop.fs.Path(s"$wh/orders")
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val orders = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    orders.write.format("graft-v2")
      .option("path", s"$wh/orders").mode("append").save()
    s.sql(s"DELETE FROM $cat.orders WHERE o_totalprice >= 100000")
    val kept = s.table(s"$cat.orders").count()
    val expectKept = orders.filter(
      !coalesce(col("o_totalprice") >= 100000, lit(false))).count()
    require(kept == expectKept,
      s"time-travel guard: post-DELETE count $kept != $expectKept")
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
      s"FROM $cat.orders VERSION AS OF 1 ORDER BY o_orderkey")
  }

  /** Batch face of the stream-stream interval join (same helper the
    * streaming attribution path uses): each click pairs with the same
    * user's views in the preceding 5 minutes. */
  private val qIntervalJoin: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val imps = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("imp_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    streaming.StreamOps.intervalJoin(imps, "imp_ts", clicks, "click_ts",
      key = "user_id", maxDelay = "5 minutes")
      .select(col("user_id"), col("imp_ts"), col("click_ts"))
      .orderBy(col("user_id"), col("imp_ts"), col("click_ts"))
  }

  /** Scratch-table helper for the DML queries: copies a 3-column
    * `orders` projection into a graft catalog table and returns the
    * catalog-qualified name. ONE deterministic warehouse + catalog
    * name per (query, sf dir) — Spark caches catalog instances by
    * name, so a name must pin one warehouse path forever; the table
    * itself is rebuilt from scratch each invocation so repeated
    * bench/verify runs don't accrete temp dirs or catalog
    * instances. */
  private def scratchOrders(s: SparkSession, dir: String,
      tag0: String): String = {
    val tag = tag0 + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag"
    val cat = s"graft_dml_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tdir = new org.apache.hadoop.fs.Path(s"$wh/orders")
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.format("graft-v2").option("path", s"$wh/orders")
      .mode("append").save()
    s"$cat.orders"
  }

  /** SQL `UPDATE` end-to-end (copy-on-write rewrite of the affected
    * files, runtime-group-filtered): doubles the price of finalized
    * orders, returns the whole table. The oracle is the equivalent
    * CASE projection over the source. */
  private val qUpdate: Q = (s, dir) => {
    val tbl = scratchOrders(s, dir, "upd")
    s.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderstatus = 'F'")
    s.sql(s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl " +
      "ORDER BY o_orderkey")
  }

  /** SQL `MERGE INTO` end-to-end: a doubled-key source updates the
    * matched half and inserts the rest — the canonical upsert. The
    * oracle replays both branches with joins. */
  private val qMergeUpsert: Q = (s, dir) => {
    val tbl = scratchOrders(s, dir, "mrg")
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_orderkey * 2 AS k FROM $tbl
         |       WHERE o_orderkey <= 3000) s
         |ON t.o_orderkey = s.k
         |WHEN MATCHED THEN UPDATE SET o_totalprice = -1.0
         |WHEN NOT MATCHED THEN
         |  INSERT (o_orderkey, o_totalprice, o_orderstatus)
         |  VALUES (s.k, 1.0, 'N')
         |""".stripMargin)
    s.sql(s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl " +
      "ORDER BY o_orderkey")
  }

  /** Change data feed end-to-end ([[graft.sources.v2.GraftCdf]]): a
    * scratch graft table takes a DELETE (deletion-vector path; the
    * first mutation bootstraps version 1 = the initial population)
    * and an UPDATE (delta path: pre/post images), then the feed from
    * version 1 is aggregated per change type. The oracle replays the
    * same four change sets from the base projection. Sums use exact
    * DECIMAL arithmetic so the aggregation is order-independent. */
  /** Bloom-index point lookup end-to-end
    * ([[graft.sources.v2.BloomIndex]]): scratch documents copy in
    * THREE appends sliced by `doc_id % 3` — every file spans the
    * whole id range, so footer min/max cannot prune a point lookup
    * and only the bloom index can. Build the index, run an IN lookup
    * whose keys all share one residue class (one file), and REQUIRE
    * the planning statistics show the scan actually shrank — the
    * guard that the hash-matched rows came through the pruned path. */
  private val qBloomLookup: Q = (s, dir) => {
    val tag = "bloom" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag/documents"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 3).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(3)) === r).repartition(1)
        .write.format("graft-v2").mode("append").save(path)
    }
    // tight fpp: the prune-factor guard below must not trip on a
    // false positive (outcome is deterministic per dataset, but each
    // sf dir is a different dataset)
    graft.sources.v2.BloomIndex.build(s, path, Seq("doc_id"),
      fpp = 0.0001)
    val table = s.read.format("graft-v2").load(path)
    def plannedRows(df: DataFrame): Long = {
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.head
      scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
        .numRows().getAsLong
    }
    // all keys ≡ 0 (mod 3): one file holds them all
    val q = table.filter(col("doc_id").isin(9L, 123L, 402L))
      .orderBy(col("doc_id"))
    val full = plannedRows(table)
    val pruned = plannedRows(q)
    require(pruned * 2 <= full,
      s"q_bloom_lookup: expected the bloom index to prune the scan " +
        s"(planned $pruned of $full rows)")
    q
  }

  /** Hidden partitioning end-to-end
    * ([[graft.sources.PartitionLayout]]): the corpus lands in a
    * graft-v2 table partitioned by `lang` — value-clustered flat
    * files whose NAMES carry per-column value digests — and the
    * two-language scan must plan only those languages' files (the
    * in-query guard requires the listing-level prune to have fired,
    * with zero footer I/O involved in the decision). */
  private val qHiddenPartitioning: Q = (s, dir) => {
    val tag = "hp" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag/documents"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.format("graft-v2").option("partitionedBy", "lang")
      .mode("append").save(path)
    val table = s.read.format("graft-v2").load(path)
    def plannedRows(df: DataFrame): Long = {
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.head
      scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
        .numRows().getAsLong
    }
    val filtered = table.filter(col("lang").isin("de", "fr"))
    val full = plannedRows(table)
    val pruned = plannedRows(filtered)
    require(pruned * 2 <= full,
      s"q_hidden_partitioning: expected the partition-token prune " +
      s"to fire (planned $pruned of $full rows)")
    filtered.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Manifest-level data skipping end-to-end
    * ([[graft.sources.v2.SkipStats]]): orders land in a scratch table
    * in three range-disjoint appends with `statsColumns=o_orderkey`
    * declared, so each commit records its files' key ranges in the
    * manifest — and the range scan must prune the file LIST from
    * those lines with zero footer I/O (the in-query guard requires
    * it) before aggregating. */
  private val qDataSkipping: Q = (s, dir) => {
    val tag = "skip" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag/orders"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val cut1 = maxKey / 3
    val cut2 = 2 * maxKey / 3
    o.filter(col("o_orderkey") <= cut1).repartition(1)
      .write.format("graft-v2")
      .option("statsColumns", "o_orderkey")
      .option("changelog", "true").mode("append").save(path)
    o.filter(col("o_orderkey") > cut1 && col("o_orderkey") <= cut2)
      .repartition(1).write.format("graft-v2")
      .mode("append").save(path)
    o.filter(col("o_orderkey") > cut2).repartition(1)
      .write.format("graft-v2").mode("append").save(path)
    val table = s.read.format("graft-v2").load(path)
    def plannedRows(df: DataFrame): Long = {
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.head
      scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
        .numRows().getAsLong
    }
    val filtered = table.filter(col("o_orderkey") > cut2)
    val full = plannedRows(table)
    val pruned = plannedRows(filtered)
    require(pruned * 2 <= full,
      s"q_data_skipping: expected the manifest-stat range skip to " +
      s"fire (planned $pruned of $full rows)")
    filtered.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** TIMESTAMP manifest skipping end-to-end
    * ([[graft.sources.v2.SkipStats]] kind `t`): events land in three
    * time-range-disjoint appends with `statsColumns=ts`, so each
    * commit records its files' ts ranges in MICROS (normalized from
    * each file's own parquet unit); the time-range scan must prune
    * the file list from those lines — timestamps being the most
    * common range key in event tables, this is the manifest-skipping
    * path that matters most at 100 TB. The in-query guard requires
    * the prune to fire before aggregating. */
  private val qDataSkippingTs: Q = (s, dir) => {
    val tag = "skipts" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag/events"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val e = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"),
        col("value"))
    val r = e.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val (loU, hiU) = (r.getLong(0), r.getLong(1))
    val cut1 = loU + (hiU - loU) / 3
    val cut2 = loU + 2 * (hiU - loU) / 3
    def tsLit(u: Long) = lit(java.time.Instant.ofEpochSecond(
      Math.floorDiv(u, 1000000L), Math.floorMod(u, 1000000L) * 1000L))
    e.filter(col("ts") <= tsLit(cut1)).repartition(1)
      .write.format("graft-v2")
      .option("statsColumns", "ts")
      .option("changelog", "true").mode("append").save(path)
    e.filter(col("ts") > tsLit(cut1) && col("ts") <= tsLit(cut2))
      .repartition(1).write.format("graft-v2")
      .mode("append").save(path)
    e.filter(col("ts") > tsLit(cut2)).repartition(1)
      .write.format("graft-v2").mode("append").save(path)
    val table = s.read.format("graft-v2").load(path)
    def plannedRows(df: DataFrame): Long = {
      val scan = df.queryExecution.optimizedPlan.collect {
        case rel: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => rel.scan
      }.head
      scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics].estimateStatistics()
        .numRows().getAsLong
    }
    val filtered = table.filter(col("ts") > tsLit(cut2))
    val full = plannedRows(table)
    val pruned = plannedRows(filtered)
    require(pruned * 2 <= full,
      s"q_data_skipping_ts: expected the manifest timestamp-range " +
      s"skip to fire (planned $pruned of $full rows)")
    filtered.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Write–audit–publish end-to-end ([[graft.sources.v2.Wap]]): the
    * first two-thirds of orders land normally, the last third STAGES
    * on a branch — in-query guards require the staged batch to be
    * invisible to table reads while the audit view already sees the
    * full row set — then one atomic publish commits it, and the gated
    * aggregate runs over the published table (hash-matches the oracle
    * over ALL orders, proving the publish carried exactly the staged
    * rows). */
  private val qWapPublish: Q = (s, dir) => {
    val tag = "wap" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag/orders"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val mm = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .head()
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 3
    o.filter(col("o_orderkey") <= cut)
      .write.format("graft-v2").mode("append").save(path)
    val base = s.read.format("graft-v2").load(path).count()
    graft.sources.v2.Wap.stage(s, path,
      o.filter(col("o_orderkey") > cut), "audit1")
    val visible = s.read.format("graft-v2").load(path).count()
    require(visible == base,
      s"q_wap_publish: staged rows leaked into table reads " +
        s"($visible != $base)")
    val audited = graft.sources.v2.Wap.audit(s, path, "audit1").count()
    val full = o.count()
    require(audited == full,
      s"q_wap_publish: audit view missing staged rows " +
        s"($audited != $full)")
    graft.sources.v2.Wap.publish(s, path, "audit1")
    s.read.format("graft-v2").load(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"))
        .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Materialized-view incremental maintenance end-to-end
    * ([[graft.sources.v2.GraftMv]]): scratch orders copy, aggregate
    * MV over it, then a DELETE on the source and a refresh that must
    * take the PARTIAL path — change feed names the touched groups,
    * only they are recomputed, and one atomic replaceWhere swaps
    * them. The refreshed MV hash-matches the oracle's aggregation of
    * the post-delete source. */
  private val qMvRefresh: Q = (s, dir) => {
    val tag = "mv" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag"
    val cat = s"graft_dml_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"$wh/orders"
    val mv = s"$wh/orders_by_status"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    fs.delete(new org.apache.hadoop.fs.Path(mv), true)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .write.format("graft-v2").option("changelog", "true")
      .option("path", src).mode("append").save()
    graft.sources.v2.GraftMv.createAggregate(s, src, mv,
      keys = Seq("o_orderstatus"),
      aggs = Seq("cnt" -> "count(*)",
        "total" ->
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"))
    s.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 10 = 3")
    val r = graft.sources.v2.GraftMv.refresh(s, mv)
    require(r.mode == "partial",
      s"q_mv_refresh: expected the affected-group partial path, got $r")
    graft.sources.v2.GraftMv.read(s, mv).orderBy(col("o_orderstatus"))
  }

  private val qCdf: Q = (s, dir) => {
    val tag = "cdf" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-dml-$tag"
    val cat = s"graft_dml_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val path = s"$wh/orders"
    val tdir = new org.apache.hadoop.fs.Path(path)
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.format("graft-v2").option("path", path)
      .mode("append").save()
    s.sql(s"DELETE FROM $cat.orders WHERE o_orderkey % 10 = 3")
    s.sql(s"UPDATE $cat.orders SET o_totalprice = o_totalprice * 2 " +
      "WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    graft.sources.v2.GraftCdf.tableChanges(s, path, 1)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_orderkey")).cast("long").as("key_sum"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("price_sum"))
      .orderBy(col("_change_type"))
  }

  // ===== round-17 wave: experiment/series analytics, table stats,
  // graph over the near-dup pair set, snapshot diff + GDPR cascade,
  // ROUGE pair scoring =====

  /** Integer EWMA ([[operators.EventOps.ewma]]): the exact fixed-
    * point recurrence `s_n = (v_n·10⁶ + s_{n−1}) // 2`, replayed by
    * the oracle as a recursive CTE on HUGEINT. */
  private val qEwma: Q = (s, dir) =>
    operators.EventOps.ewma(t(s, dir, "events"), "user_id", "ts",
      "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  /** Inactivity gaps > 6 h per user ([[operators.EventOps
    * .eventGaps]]): one lag window, pure micros integers. */
  private val qEventGaps: Q = (s, dir) =>
    operators.EventOps.eventGaps(t(s, dir, "events"), "user_id",
      "ts", "event_id", minGapMicros = 6L * 3600 * 1000000)
      .orderBy(col("user_id"), col("gap_start_us"))

  /** A/B readout ([[operators.EventOps.abLift]]): user_id-hash
    * variants, purchase conversion, signed ppm lift vs control. */
  private val qAbLift: Q = (s, dir) =>
    operators.EventOps.abLift(t(s, dir, "events"), "user_id",
      "event_type", conversionType = "purchase")

  /** Bollinger bands ([[operators.EventOps.bollinger]]): integer
    * rolling Σx/Σx², one IEEE sqrt tree per band. */
  private val qBollinger: Q = (s, dir) =>
    operators.EventOps.bollinger(t(s, dir, "events"), "user_id",
      "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  /** LINEAR multi-touch attribution ([[operators.EventOps
    * .attributionLinear]]): every in-lookback touch splits the
    * conversion's 10⁶ ppm equally (`⌊10⁶/n⌋` each, remainder
    * disclosed-dropped); no-touch conversions credit organic. */
  private val qAttributionLinear: Q = (s, dir) =>
    operators.EventOps.attributionLinear(t(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type",
      conversionType = "purchase", lookbackMicros = 3600000000L)

  /** Tukey IQR outlier report per event type ([[operators.EventOps
    * .iqrOutliers]]): explicit ⌈n/4⌉ selection indices, 2v-vs-3·IQR
    * integer comparison — no 1.5 float anywhere. */
  private val qIqrOutliers: Q = (s, dir) =>
    operators.EventOps.iqrOutliers(t(s, dir, "events"), "event_type",
      "value")

  /** Monthly VWAP over lineitem ([[operators.EventOps.vwap]]):
    * `⌊Σ(price_c·qty)/Σqty⌋` with DECIMAL(38,0) sums. */
  private val qVwap: Q = (s, dir) =>
    operators.EventOps.vwap(t(s, dir, "lineitem"),
      date_trunc("month", col("l_shipdate").cast("timestamp")),
      "l_extendedprice", "l_quantity")

  /** Benford first-digit audit over extended prices
    * ([[operators.Profile.benford]]): observed ppm vs compiled-in
    * `log₁₀(1+1/d)` ppm literals. */
  private val qBenford: Q = (s, dir) =>
    operators.Profile.benford(t(s, dir, "lineitem"),
      "l_extendedprice")

  /** Chi-square contingency cells returnflag × linestatus
    * ([[operators.Profile.chiCells]]): observed, independence
    * expectation and lift, all integer ppm — no float aggregate. */
  private val qChiCells: Q = (s, dir) =>
    operators.Profile.chiCells(t(s, dir, "lineitem"), "l_returnflag",
      "l_linestatus")

  /** Triangle enumeration over the near-dup pair graph
    * ([[operators.GraphOps.triangles]]): ordered-wedge join + closing
    * -edge semi probe; the oracle replays the MinHash pipeline and
    * the same two joins. */
  private val qTriangles: Q = (s, dir) =>
    operators.GraphOps.triangles(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Degree histogram of the same pair graph ([[operators.GraphOps
    * .degreeDistribution]]): the one-line dedup-graph shape check. */
  private val qDegreeDist: Q = (s, dir) =>
    operators.GraphOps.degreeDistribution(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Unrolled 3-iteration integer PageRank over the near-dup pair
    * graph ([[operators.GraphOps.pageRank]]) — which documents anchor
    * a near-dup neighborhood. The oracle replays the identical
    * fixed-point iterations as chained CTEs on the same replayed
    * pair graph. */
  private val qPageRank: Q = (s, dir) =>
    operators.GraphOps.pageRank(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Label-propagation communities over the near-dup pair graph
    * ([[operators.GraphOps.labelPropagation]], unrolled sync LPA) —
    * the densely-knit complement of q_component_sizes. */
  private val qLabelProp: Q = (s, dir) =>
    operators.GraphOps.labelPropagation(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Modularity of the LPA communities ([[operators.GraphOps
    * .modularity]]): exact integer per-community contributions —
    * the partition-quality go/no-go. */
  private val qModularity: Q = (s, dir) =>
    operators.GraphOps.modularity(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Cross-community bridge pairs ([[operators.GraphOps
    * .bridgePairs]]): the edges a component-level delete would
    * wrongly fuse across — the actionable review list. */
  private val qBridgePairs: Q = (s, dir) =>
    operators.GraphOps.bridgePairs(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Bridge-cut re-clustering ([[operators.GraphOps.cutBridges]]):
    * the near-dup pair graph re-clustered with the cross-community
    * bridges removed — the delete-by-community grouping that closes
    * the q_bridge_pairs review loop. */
  private val qBridgeCut: Q = (s, dir) =>
    operators.GraphOps.cutBridges(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Power-user concentration ([[operators.EventOps.powerUsers]]):
    * the Pareto share of the top 1% / 10% entities, ranks on the
    * scale-safe two-phase row_number. */
  private val qPowerUsers: Q = (s, dir) =>
    operators.EventOps.powerUsers(t(s, dir, "events"), "user_id")

  /** Audience overlap between event types ([[operators.EventOps
    * .audienceOverlap]]): distinct-entity intersections + exact
    * Jaccard ppm per co-observed type pair. */
  private val qAudienceOverlap: Q = (s, dir) =>
    operators.EventOps.audienceOverlap(t(s, dir, "events"),
      "user_id", "event_type")

  /** Hour-of-week load heatmap ([[operators.EventOps
    * .hourOfWeekHeatmap]]): epoch-day DOW grid, two hash
    * aggregates. */
  private val qHourlyHeatmap: Q = (s, dir) =>
    operators.EventOps.hourOfWeekHeatmap(t(s, dir, "events"),
      "user_id", "ts")

  /** New vs returning actives per week ([[operators.EventOps
    * .newVsReturning]]): the growth-mix readout beside
    * q_retention. */
  private val qNewReturning: Q = (s, dir) =>
    operators.EventOps.newVsReturning(t(s, dir, "events"),
      "user_id", "ts")

  /** Lag-1 autocorrelation of per-type daily counts
    * ([[operators.EventOps.autocorrelation]]): bit-exact single-tree
    * Pearson over exact integer sums. */
  private val qAutocorr: Q = (s, dir) =>
    operators.EventOps.autocorrelation(t(s, dir, "events"),
      "event_type", "ts")

  /** Inter-event-time cv² ppm per user ([[operators.EventOps
    * .interEventCv]]): metronome/Poisson/bursty fingerprint, exact
    * integers. */
  private val qIetCv: Q = (s, dir) =>
    operators.EventOps.interEventCv(t(s, dir, "events"), "user_id",
      "ts", "event_id")

  /** Median absolute deviation per event type ([[operators.EventOps
    * .madByKey]]): two exact rank-selected medians on the two-phase
    * ranks. */
  private val qMad: Q = (s, dir) =>
    operators.EventOps.madByKey(t(s, dir, "events"), "event_type",
      "value", "event_id")

  /** Type-token ratio per document ([[operators.TextStats
    * .typeTokenRatio]]): lexical diversity ppm, map-only. */
  private val qTtr: Q = (s, dir) =>
    operators.TextStats.typeTokenRatio(t(s, dir, "documents"))

  /** Longest consecutive-active-day streaks per user
    * ([[operators.EventOps.streaks]]): gaps-and-islands on distinct
    * epoch days — the habit readout. */
  private val qStreaks: Q = (s, dir) =>
    operators.EventOps.streaks(t(s, dir, "events"), "user_id", "ts")

  /** Seasonal-naive forecast error per event type
    * ([[operators.EventOps.seasonalError]]): week-ago prediction,
    * exact absolute-error mass + WMAPE ppm. */
  private val qSeasonalError: Q = (s, dir) =>
    operators.EventOps.seasonalError(t(s, dir, "events"),
      "event_type", "ts")

  /** Local-peak days per event type ([[operators.EventOps
    * .peakDays]]): strictly above both observed neighbors. */
  private val qPeakDays: Q = (s, dir) =>
    operators.EventOps.peakDays(t(s, dir, "events"),
      "event_type", "ts")

  /** Per-user event-type Shannon entropy in exact micro-nats
    * ([[operators.EventOps.typeEntropy]]): the behavioral-diversity
    * fingerprint under the quantized-ln integer contract. */
  private val qTypeEntropy: Q = (s, dir) =>
    operators.EventOps.typeEntropy(t(s, dir, "events"),
      "user_id", "event_type")

  /** Zipf rank-frequency slope over the corpus top-500 terms
    * ([[operators.TextStats.zipfSlope]]): integer OLS on quantized
    * logs, true-floor final division. */
  private val qZipfSlope: Q = (s, dir) =>
    operators.TextStats.zipfSlope(t(s, dir, "documents"))

  /** Bounce rate per user over the q_sessionize gap split
    * ([[operators.EventOps.bounceRate]]): one-event-session share as
    * exact ppm. */
  private val qBounceRate: Q = (s, dir) =>
    operators.EventOps.bounceRate(t(s, dir, "events"), "user_id",
      "ts", "event_id")

  /** Weekend-vs-weekday lift per event type
    * ([[operators.EventOps.weekendLift]]): epoch-day DOW grid, exact
    * cleared-fraction ppm. */
  private val qWeekendLift: Q = (s, dir) =>
    operators.EventOps.weekendLift(t(s, dir, "events"),
      "event_type", "ts")

  /** Curriculum shard export ([[operators.CorpusOps
    * .curriculumShards]]): easiest-first NTILE stages on the
    * two-phase ranks, deterministic xxhash within-stage order. */
  private val qCurriculum: Q = (s, dir) =>
    CorpusOps.curriculumShards(t(s, dir, "documents"))

  /** Weekday→weekend type-mix KL drift in exact micro-nats
    * ([[operators.EventOps.typeDrift]]): the distribution-shift
    * detector beside q_weekend_lift's volume contrast. */
  private val qTypeDrift: Q = (s, dir) =>
    operators.EventOps.typeDrift(t(s, dir, "events"),
      "event_type", "ts")

  /** Session-depth histogram over the q_sessionize gap split
    * ([[operators.EventOps.sessionDepths]]): engagement distribution
    * whose first bar is the bounce count. */
  private val qSessionDepths: Q = (s, dir) =>
    operators.EventOps.sessionDepths(t(s, dir, "events"),
      "user_id", "ts", "event_id")

  /** Vocabulary growth across id-deciles of the corpus
    * ([[operators.TextStats.vocabGrowth]]): the Heaps-law
    * sub-linearity readout, all integer. */
  private val qVocabGrowth: Q = (s, dir) =>
    operators.TextStats.vocabGrowth(t(s, dir, "documents"))

  /** Duplicate token inflation per near-dup cluster
    * ([[operators.Dedup.dupInflation]]): what the dedup pass is
    * worth in training tokens — cluster token mass vs its
    * representative's. */
  private val qDupInflation: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    operators.Dedup.dupInflation(docs,
      Dedup.minHashLsh(docs, minJaccard = 0.2))
  }

  /** Quality-decile × contamination audit: Flesch deciles (NTILE
    * arithmetic on the scale-safe two-phase row_number — the exact
    * larger-buckets-first rule) joined against the benchmark-decon
    * flags — does the quality filter correlate with benchmark
    * leakage? Docs scored by BOTH ops compare (disclosed: needs ≥1
    * word AND ≥1 3-gram). */
  private val qQualityVsDecon: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val dec = CorpusOps.decontaminate(corpus,
      docs.filter(col("doc_id") % 97 === 0), n = 3)
      .select(col("doc_id"), col("contaminated").cast("int").as("c"))
    val scores = operators.TextStats.readability(corpus)
      .select(col("doc_id"), col("fre_milli"))
    // materialize the decon⋈readability join once: the rank
    // machinery's three consumers plus the total count would
    // otherwise re-run BOTH pipelines four times (measured: 18
    // parquet scans in the plan before this). Counting the input is
    // counting the ranked output (ranking preserves cardinality).
    val base = scores.join(dec, Seq("doc_id"))
      .transform(graft.Materialize.barrier)
    val rn = operators.Salting.twoPhaseRanks(
      base, Seq.empty,
      Seq(col("fre_milli"), col("doc_id")), rowNumCol = Some("rn"))
    val tot = base.agg(count(lit(1)).as("nn"))
    rn.crossJoin(broadcast(tot))
      .withColumn("decile", expr(
        "CASE WHEN rn <= (nn % 10) * (nn div 10 + 1) " +
          "THEN (rn + (nn div 10 + 1) - 1) div (nn div 10 + 1) " +
          "ELSE (nn % 10) + (rn - (nn % 10) * (nn div 10 + 1) + " +
          "(nn div 10) - 1) div (nn div 10) END"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c")).cast("long").as("n_contaminated"))
      .select(col("decile").cast("long").as("decile"), col("n_docs"),
        col("n_contaminated"),
        expr("n_contaminated * 1000000 div n_docs")
          .as("contamination_ppm"))
      .orderBy(col("decile"))
  }

  /** Max drawdown per user over the (ts, id)-ordered value series
    * ([[operators.EventOps.maxDrawdown]]): one running-max window +
    * one rollup, exact cents. */
  private val qDrawdown: Q = (s, dir) =>
    operators.EventOps.maxDrawdown(t(s, dir, "events"), "user_id",
      "ts", "event_id", "value")

  /** Cohort LTV curve ([[operators.EventOps.cohortLtv]]): the money
    * twin of q_retention — revenue cents per (cohort week, offset)
    * plus the running cumulative over rollup rows. */
  private val qCohortLtv: Q = (s, dir) =>
    operators.EventOps.cohortLtv(t(s, dir, "events"), "user_id", "ts",
      "value")
      .select(col("cohort_week").cast("timestamp").as("cohort_week"),
        col("week_offset"), col("revenue_c"), col("cum_revenue_c"))

  /** WAU / trailing-4-week MAU stickiness ppm per active week
    * ([[operators.EventOps.stickiness]]): the rollingDistinct
    * vote-explode shape — exact distincts, no self-join. */
  private val qStickiness: Q = (s, dir) =>
    operators.EventOps.stickiness(t(s, dir, "events"), "user_id", "ts")

  /** Discrete churn-hazard table by cohort age
    * ([[operators.EventOps.churnHazard]]): last-observed-week churn
    * over reverse-cumulative at-risk counts, exact ppm. */
  private val qHazard: Q = (s, dir) =>
    operators.EventOps.churnHazard(t(s, dir, "events"), "user_id",
      "ts")

  /** Engagement-inequality Gini per event type
    * ([[operators.EventOps.gini]]): exact rational over scale-safe
    * two-phase ranks — the skew early-warning readout. */
  private val qGini: Q = (s, dir) =>
    operators.EventOps.gini(t(s, dir, "events"), "user_id",
      "event_type")

  /** RFM segmentation ([[operators.EventOps.rfm]]): quartile buckets
    * by the explicit `⌊(rank−1)·4/n⌋+1` rule over distributed
    * row_numbers — deterministic, ntile-free. */
  private val qRfm: Q = (s, dir) =>
    operators.EventOps.rfm(t(s, dir, "events"), "user_id", "ts",
      "value")

  /** Single change-point per user ([[operators.EventOps
    * .changepoint]]): argmax of the floored two-segment SSE-reduction
    * score over prefix sums — binary segmentation's first split,
    * engine-exact. */
  private val qChangepoint: Q = (s, dir) =>
    operators.EventOps.changepoint(t(s, dir, "events"), "user_id",
      "ts", "event_id", "value")

  /** Integer Flesch readability ([[operators.TextStats
    * .readability]]): whitespace words, `[.!?]+` sentences,
    * vowel-group syllables, milli-scaled score with disclosed
    * floors. */
  private val qReadability: Q = (s, dir) =>
    operators.TextStats.readability(t(s, dir, "documents"))

  /** MinHash estimate vs exact Jaccard per candidate pair
    * ([[operators.Dedup.minhashEstimate]]): the signature-calibration
    * readout. */
  private val qMinhashEst: Q = (s, dir) =>
    Dedup.minhashEstimate(t(s, dir, "documents"), minJaccard = 0.2)

  /** Near-dup cluster quality ([[operators.Dedup.clusterQuality]]):
    * per component, size / pair count / floored mean Jaccard — the
    * shingle-storm go/no-go. */
  private val qClusterQuality: Q = (s, dir) =>
    Dedup.clusterQuality(t(s, dir, "documents"), minJaccard = 0.2)

  /** 2-core of the near-dup pair graph ([[operators.GraphOps
    * .kCore]], unrolled peel) — the dense duplicate nucleus. */
  private val qKcore: Q = (s, dir) =>
    operators.GraphOps.kCore(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Time-weighted average value per user ([[operators.EventOps
    * .twap]]): hold-until-next weighting, exact integer products. */
  private val qTwap: Q = (s, dir) =>
    operators.EventOps.twap(t(s, dir, "events"), "user_id", "ts",
      "event_id", "value")

  /** Tokenizer fertility/compression report over the trained BPE
    * ([[operators.Bpe.encode]]): per doc, eligible-word and char
    * volume vs emitted token count, with `chars/token` and
    * `tokens/word` at 1e3 scale — the "is the vocab earning its
    * size" readout a tokenizer deployment tracks per corpus slice.
    * Map-only on top of the encode; docs with no eligible words
    * drop. */
  private val qTokFertility: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val model = Bpe.trainCached(bpeKey(dir), docs, BpeMerges)
    Bpe.fertility(docs, model)
  }

  /** Radius (threshold) ANN retrieval ([[operators.Ann.lshRadius]]):
    * everything within cosine ≥ 0.2 of the query set through the
    * multi-probe bucket join — the unknown-k similarity sweep. */
  private val qAnnRadius: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    Ann.lshRadius(emb, emb.filter(col("vec_id") < 8), minCos = 0.2,
      dim = 64)
  }

  /** IVF threshold retrieval ([[operators.Ann.ivfRadius]]): the
    * radius face over the train-once coarse quantizer's cells —
    * cell-pruned candidates, exact rerank, cos ≥ 0.2. */
  private val qAnnRadiusIvf: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val model = Ann.trainIvfCached(ivfKey(dir), emb)
    Ann.ivfRadius(emb, emb.filter(col("vec_id") < 8), minCos = 0.2,
      model)
  }

  /** IVF-PQ radius ([[operators.Ann.ivfPqRadius]]): the memory-bound
    * threshold sweep over the m-int codes — ADC cosine ≥ 0.2, raw
    * vectors never touched. */
  private val qAnnRadiusPq: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val ivf = Ann.trainIvfCached(ivfKey(dir), emb)
    val pq = Ann.trainPqCached(pqKey(dir), emb)
    Ann.ivfPqRadius(emb, emb.filter(col("vec_id") < 8), minCos = 0.2,
      ivf, pq)
  }

  /** Embedding-table norm health ([[operators.Ann.normHealth]]):
    * quantized L2-norm histogram — the pre-indexing QA scan. */
  private val qEmbedNorms: Q = (s, dir) =>
    Ann.normHealth(t(s, dir, "embeddings"))

  /** Snapshot diff: DELETE + UPDATE + INSERT against a scratch graft
    * table, then the row-level diff of `VERSION AS OF 1` vs current —
    * removed / changed / added per key via one full-outer join on the
    * key with a null-safe payload compare. The oracle re-derives all
    * three classes as filters over the source parquet. */
  private val qSnapshotDiff: Q = (s, dir) => {
    val tag = "sdiff" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-$tag"
    val cat = s"graft_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val tdir = new org.apache.hadoop.fs.Path(s"$wh/orders")
    tdir.getFileSystem(s.sessionState.newHadoopConf())
      .delete(tdir, true)
    val orders = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    orders.write.format("graft-v2")
      .option("path", s"$wh/orders").mode("append").save()
    s.sql(s"DELETE FROM $cat.orders " +
      "WHERE o_orderstatus = 'F' AND o_totalprice < 30000")
    s.sql(s"UPDATE $cat.orders SET o_totalprice = o_totalprice + 1 " +
      "WHERE o_orderkey % 1000 = 0")
    orders.filter(col("o_orderkey") % 5000 === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .createOrReplaceTempView(s"${tag}_ins")
    s.sql(s"INSERT INTO $cat.orders SELECT * FROM ${tag}_ins")
    val v1 = s.sql(
      s"SELECT * FROM $cat.orders VERSION AS OF 1")
    val cur = s.table(s"$cat.orders")
    val payload = (p: String) => struct(col(s"$p.o_custkey"),
      col(s"$p.o_totalprice"), col(s"$p.o_orderstatus"))
    v1.alias("o").join(cur.alias("n"),
        col("o.o_orderkey") === col("n.o_orderkey"), "full_outer")
      .select(
        coalesce(col("o.o_orderkey"), col("n.o_orderkey"))
          .as("o_orderkey"),
        when(col("n.o_orderkey").isNull, "removed")
          .when(col("o.o_orderkey").isNull, "added")
          .when(!(payload("o") <=> payload("n")), "changed")
          .as("change_type"))
      .filter(col("change_type").isNotNull)
      .orderBy(col("o_orderkey"), col("change_type"))
  }

  /** GDPR forget-user cascade: MERGE-DELETE the child rows whose
    * parent matches (the scale-correct cascade — the key set never
    * collects), then DELETE the parent rows; report surviving
    * counts + key sums per table. The oracle replays both as
    * anti-join filters over the parquet sources. */
  private val qForgetUser: Q = (s, dir) => {
    val tag = "forget" + java.lang.Integer.toHexString(dir.hashCode) +
      "_" + ProcessHandle.current().pid()
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft-$tag"
    val cat = s"graft_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sessionState.newHadoopConf())
    Seq("orders", "lineitem").foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$wh/$n"), true))
    t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .write.format("graft-v2").option("path", s"$wh/orders")
      .mode("append").save()
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .write.format("graft-v2").option("path", s"$wh/lineitem")
      .mode("append").save()
    s.sql(s"""MERGE INTO $cat.lineitem li
      |USING (SELECT o_orderkey FROM $cat.orders
      |       WHERE o_custkey % 97 = 0) del
      |ON li.l_orderkey = del.o_orderkey
      |WHEN MATCHED THEN DELETE""".stripMargin)
    s.sql(s"DELETE FROM $cat.orders WHERE o_custkey % 97 = 0")
    val li = s.table(s"$cat.lineitem")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("key_sum"))
      .select(lit("lineitem").as("tbl"), col("n_rows"),
        col("key_sum"))
    val o = s.table(s"$cat.orders")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("key_sum"))
    li.unionByName(o).orderBy(col("tbl"))
  }

  /** ROUGE-2 pair grid over a bounded doc set
    * ([[operators.TextSearch.rougePairs]]): clipped bigram overlap,
    * integer ppm precision/recall/F1. */
  private val qRougePairs: Q = (s, dir) =>
    operators.TextSearch.rougePairs(
      t(s, dir, "documents").filter(col("doc_id") < 40), n = 2)

  /** Local clustering coefficient over the near-dup pair graph
    * ([[operators.GraphOps.clusteringCoefficient]]): triangles per
    * corner / degree-choose-2, exact ppm. */
  private val qClusteringCoeff: Q = (s, dir) =>
    operators.GraphOps.clusteringCoefficient(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Component-size histogram of the same graph ([[operators
    * .GraphOps.componentSizes]]): the dedup-graph health check,
    * riding the DataFrame large-star/small-star closure. */
  private val qComponentSizes: Q = (s, dir) =>
    operators.GraphOps.componentSizes(
      Dedup.minHashLsh(t(s, dir, "documents"), minJaccard = 0.2))

  /** Capped running balance ([[operators.EventOps
    * .cappedRunningBalance]]): purchases draw down, everything else
    * credits; the clamp-at-zero fold via its two-window closed form
    * — no recursion on either engine. */
  private val qCappedBalance: Q = (s, dir) =>
    operators.EventOps.cappedRunningBalance(t(s, dir, "events"),
      "user_id", "ts", "event_id",
      when(col("event_type") === "purchase", -col("value"))
        .otherwise(col("value")))
      .orderBy(col("user_id"), col("event_id"))

  /** LTTB downsampling ([[operators.EventOps.lttb]]): endpoints +
    * per-bucket largest-triangle selection against the previous pick
    * and the next bucket's average, division-free integer cross
    * products; the oracle replays the sequential selection as a
    * recursive CTE over the bucket chain. */
  private val qLttb: Q = (s, dir) =>
    operators.EventOps.lttb(t(s, dir, "events"), "user_id", "ts",
      "event_id", "value")

  /** Daily-count Pearson correlation per event-type pair
    * ([[operators.EventOps.dailyCorrelation]]): integer sums, one
    * IEEE `num/sqrt(a·b)` tree — doubles hash bit-exact. */
  private val qDailyCorr: Q = (s, dir) =>
    operators.EventOps.dailyCorrelation(t(s, dir, "events"),
      "event_type", "ts")

  /** Market-basket type co-occurrence ([[operators.EventOps
    * .typeCooccurrence]]): distinct (user, type) self-join on the
    * user, exact ppm support. */
  private val qCooccur: Q = (s, dir) =>
    operators.EventOps.typeCooccurrence(t(s, dir, "events"),
      "user_id", "event_type")

  /** Trailing-7-day EXACT distinct users per day
    * ([[operators.EventOps.rollingDistinct]]): constant ×7 explode +
    * one distinct — the exact rolling-MAU formulation. */
  private val qRollingDistinct: Q = (s, dir) =>
    operators.EventOps.rollingDistinct(t(s, dir, "events"),
      "user_id", "ts")

  /** Month-over-month revenue change ([[operators.EventOps
    * .periodChange]]): DECIMAL sums, signed ppm delta via
    * sign-explicit integral division, NULL first period. */
  private val qMomRevenue: Q = (s, dir) =>
    operators.EventOps.periodChange(t(s, dir, "lineitem"),
      date_trunc("month", col("l_shipdate").cast("timestamp")),
      "l_extendedprice")

  /** Equi-depth price histogram ([[operators.Profile
    * .histogramEquiDepth]]): exact-quantile boundaries via two-phase
    * ranks, strict-below bucket rule replayed in list space. */
  private val qHistEqdepth: Q = (s, dir) =>
    operators.Profile.histogramEquiDepth(t(s, dir, "lineitem"),
      col("l_extendedprice"))

  // ===== registry =====

  def queries: Map[String, Q] = Map(
    "q_scan_project" -> qScanProject,
    "q_filter_pushdown" -> qFilterPushdown,
    "q_partitioned_scan" -> qPartitionedScan,
    "q_limit_pushdown" -> qLimitPushdown,
    "q_limit_filter_combo" -> qLimitFilterCombo,
    "q_scan_v2" -> qScanV2,
    "q_topk" -> qTopk,
    "q_sort" -> qSort,
    "q_join_inner" -> qJoinInner,
    "q_join_broadcast" -> qJoinBroadcast,
    "q_join_left" -> qJoinLeft,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_range" -> qJoinRange,
    "q_join_range_binned" -> qJoinRangeBinned,
    "q_join_asof" -> qJoinAsof,
    "q_join_asof_fwd" -> qJoinAsofFwd,
    "q_tpch_q1" -> qTpchQ1,
    "q_tpch_q3" -> qTpchQ3,
    "q_tpch_q5" -> qTpchQ5,
    "q_tpch_q9" -> qTpchQ9,
    "q_tpch_q18" -> qTpchQ18,
    "q_window_range_frame" -> qWindowRangeFrame,
    "q_agg_hash" -> qAggHash,
    "q_agg_distinct" -> qAggDistinct,
    "q_agg_rollup" -> qAggRollup,
    "q_agg_cube" -> qAggCube,
    "q_agg_approx_distinct" -> qAggApproxDistinct,
    "q_agg_salted" -> qAggSalted,
    "q_agg_grouping_sets" -> qAggGroupingSets,
    "q_agg_median" -> qAggMedian,
    "q_pivot" -> qPivot,
    "q_subquery_scalar" -> qSubqueryScalar,
    "q_subquery_exists" -> qSubqueryExists,
    "q_tpch_q10" -> qTpchQ10,
    "q_tpch_q12" -> qTpchQ12,
    "q_tpch_q2" -> qTpchQ2,
    "q_tpch_q4" -> qTpchQ4,
    "q_tpch_q20" -> qTpchQ20,
    "q_tpch_q6" -> qTpchQ6,
    "q_tpch_q7" -> qTpchQ7,
    "q_tpch_q8" -> qTpchQ8,
    "q_tpch_q11" -> qTpchQ11,
    "q_tpch_q15" -> qTpchQ15,
    "q_tpch_q21" -> qTpchQ21,
    "q_tpch_q13" -> qTpchQ13,
    "q_tpch_q14" -> qTpchQ14,
    "q_tpch_q16" -> qTpchQ16,
    "q_tpch_q17" -> qTpchQ17,
    "q_tpch_q19" -> qTpchQ19,
    "q_tpch_q22" -> qTpchQ22,
    "q_window_ntile" -> qWindowNtile,
    "q_window_rank" -> qWindowRank,
    "q_window_rank_hk" -> qWindowRankHk,
    "q_window_pct" -> qWindowPct,
    "q_sessionize" -> qSessionize,
    "q_session_quantiles" -> qSessionQuantiles,
    "q_window_lag" -> qWindowLag,
    "q_window_running" -> qWindowRunning,
    "q_union" -> qUnion,
    "q_intersect" -> qIntersect,
    "q_except" -> qExcept,
    "q_string_fns" -> qStringFns,
    "q_date_fns" -> qDateFns,
    "q_math_fns" -> qMathFns,
    "q_array_fns" -> qArrayFns,
    "q_json_fns" -> qJsonFns,
    "q_map_struct" -> qMapStruct,
    "q_tumbling_window" -> qTumblingWindow,
    "q_sliding_window" -> qSlidingWindow,
    "q_session_window" -> qSessionWindow,
    "q_udaf_custom" -> qUdafCustom,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_exact_norm" -> qDedupExactNorm,
    "q_dedup_near" -> qDedupNear,
    "q_dedup_near_capped" -> qDedupNearCapped,
    "q_dedup_near_inc" -> qDedupNearInc,
    "q_topk_grouped" -> qTopkGrouped,
    "q_dedup_cluster" -> qDedupCluster,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_cosine_topk" -> qCosineTopk,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_recall" -> qAnnRecall,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_pq" -> qAnnPq,
    "q_ann_sq" -> qAnnSq,
    "q_text_stats" -> qTextStats,
    "q_token_count" -> qTokenCount,
    "q_quality_score" -> qQualityScore,
    "q_repetition" -> qRepetition,
    "q_lang_id" -> qLangId,
    "q_decontaminate" -> qDecontaminate,
    "q_decontaminate_spans" -> qDecontaminateSpans,
    "q_decontaminate_xl" -> qDecontaminateXl,
    "q_chunk_docs" -> qChunkDocs,
    "q_pack_sequences" -> qPackSequences,
    "q_sample_stratified" -> qSampleStratified,
    "q_sample_topk" -> qSampleTopk,
    "q_sample_pps" -> qSamplePps,
    "q_fuzzy_join" -> qFuzzyJoin,
    "q_fuzzy_parts" -> qFuzzyParts,
    "q_fuzzy_canon" -> qFuzzyCanon,
    "q_anomaly_events" -> qAnomalyEvents,
    "q_concurrency" -> qConcurrency,
    "q_ohlc_bars" -> qOhlcBars,
    "q_cusum_drift" -> qCusumDrift,
    "q_interval_union" -> qIntervalUnion,
    "q_term_pmi" -> qTermPmi,
    "q_profile_table" -> qProfileTable,
    "q_session_paths" -> qSessionPaths,
    "q_event_transitions" -> qEventTransitions,
    "q_winsorized_mean" -> qWinsorizedMean,
    "q_histogram" -> qHistogram,
    "q_ri_check" -> qRiCheck,
    "q_distinct_rollup" -> qDistinctRollup,
    "q_jaccard_join" -> qJaccardJoin,
    "q_quantile_buckets" -> qQuantileBuckets,
    "q_count_trend" -> qCountTrend,
    "q_mode_by_key" -> qModeByKey,
    "q_attribution" -> qAttribution,
    "q_scd2_apply" -> qScd2Apply,
    "q_textrank" -> qTextRank,
    "q_profile_stats" -> qProfileStats,
    "q_scd2_lookup" -> qScd2Lookup,
    "q_dq_checks" -> qDqChecks,
    "q_jaccard_join_capped" -> qJaccardJoinCapped,
    "q_rolling_median" -> qRollingMedian,
    "q_quantiles_exact" -> qQuantilesExact,
    "q_p95_by_type" -> qP95ByType,
    "q_wap_publish" -> qWapPublish,
    "q_pii_redact" -> qPiiRedact,
    "q_common_ngrams" -> qCommonNgrams,
    "q_bm25_search" -> qBm25,
    "q_postings_search" -> qPostingsSearch,
    "q_postings_tail" -> qPostingsTail,
    "q_tfidf_keywords" -> qTfidf,
    "q_quality_model" -> qQualityModel,
    "q_corpus_mix" -> qCorpusMix,
    "q_crossdoc_repeat" -> qCrossdocRepeat,
    "q_bpe_train" -> qBpeTrain,
    "q_bpe_encode" -> qBpeEncode,
    "q_wordpiece_encode" -> qWordpieceEncode,
    "q_unigram_train" -> qUnigramTrain,
    "q_unigram_train_soft" -> qUnigramTrainSoft,
    "q_unigram_train_soft2" -> qUnigramTrainSoft2,
    "q_funnel" -> qFunnel,
    "q_funnel_ttc" -> qFunnelTtc,
    "q_resample_gapfill" -> qResampleGapfill,
    "q_retention" -> qRetention,
    "q_survival" -> qSurvival,
    "q_unigram_encode" -> qUnigramEncode,
    "q_unigram_encode_soft" -> qUnigramEncodeSoft,
    "q_trending_exact" -> qTrendingExact,
    "q_pipeline_e2e" -> qPipelineE2e,
    "q_lm_score" -> qLmScore,
    "q_shuffle_shards" -> qShuffleShards,
    "q_cluster_kmeans" -> qClusterKmeans,
    "q_cluster_sample" -> qClusterSample,
    "q_unpivot" -> qUnpivot,
    "q_fingerprint" -> qFingerprint,
    "q_multimodal_meta" -> qMultimodalMeta,
    "q_multimodal_decode" -> qMultimodalDecode,
    "q_delete_from" -> qDeleteFrom,
    "q_dv_delete" -> qDvDelete,
    "q_time_travel" -> qTimeTravel,
    "q_cdf" -> qCdf,
    "q_bloom_lookup" -> qBloomLookup,
    "q_hidden_partitioning" -> qHiddenPartitioning,
    "q_data_skipping" -> qDataSkipping,
    "q_data_skipping_ts" -> qDataSkippingTs,
    "q_mv_refresh" -> qMvRefresh,
    "q_interval_join" -> qIntervalJoin,
    "q_update" -> qUpdate,
    "q_merge_upsert" -> qMergeUpsert,
    "q_line_dedup" -> qLineDedup,
    "q_dedup_substr" -> qSubstrDedup,
    "q_dsir_weights" -> qDsirWeights,
    "q_semdedup" -> qSemDedup,
    "q_gopher_rules" -> qGopherRules,
    "q_heavy_hitters" -> qHeavyHitters,
    "q_topterms_exact" -> qTopTermsExact,
    // round 17
    "q_ewma" -> qEwma,
    "q_event_gaps" -> qEventGaps,
    "q_ab_lift" -> qAbLift,
    "q_bollinger" -> qBollinger,
    "q_attribution_linear" -> qAttributionLinear,
    "q_iqr_outliers" -> qIqrOutliers,
    "q_vwap" -> qVwap,
    "q_benford" -> qBenford,
    "q_chi_cells" -> qChiCells,
    "q_triangles" -> qTriangles,
    "q_degree_dist" -> qDegreeDist,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_forget_user" -> qForgetUser,
    "q_rouge_pairs" -> qRougePairs,
    "q_lttb" -> qLttb,
    "q_clustering_coeff" -> qClusteringCoeff,
    "q_component_sizes" -> qComponentSizes,
    "q_capped_balance" -> qCappedBalance,
    "q_daily_corr" -> qDailyCorr,
    "q_cooccur" -> qCooccur,
    "q_rolling_distinct" -> qRollingDistinct,
    "q_mom_revenue" -> qMomRevenue,
    "q_hist_eqdepth" -> qHistEqdepth,
    // round 18
    "q_pagerank" -> qPageRank,
    "q_label_prop" -> qLabelProp,
    "q_modularity" -> qModularity,
    "q_bridge_pairs" -> qBridgePairs,
    "q_bridge_cut" -> qBridgeCut,
    "q_power_users" -> qPowerUsers,
    "q_audience_overlap" -> qAudienceOverlap,
    "q_hourly_heatmap" -> qHourlyHeatmap,
    "q_new_returning" -> qNewReturning,
    "q_autocorr" -> qAutocorr,
    "q_iet_cv" -> qIetCv,
    "q_mad" -> qMad,
    "q_ttr" -> qTtr,
    "q_streaks" -> qStreaks,
    "q_seasonal_error" -> qSeasonalError,
    "q_peak_days" -> qPeakDays,
    "q_type_entropy" -> qTypeEntropy,
    "q_zipf_slope" -> qZipfSlope,
    "q_vocab_growth" -> qVocabGrowth,
    "q_dup_inflation" -> qDupInflation,
    "q_quality_vs_decon" -> qQualityVsDecon,
    "q_bounce_rate" -> qBounceRate,
    "q_weekend_lift" -> qWeekendLift,
    "q_type_drift" -> qTypeDrift,
    "q_session_depths" -> qSessionDepths,
    "q_curriculum" -> qCurriculum,
    "q_readability_pct" -> qReadabilityPct,
    "q_drawdown" -> qDrawdown,
    "q_cohort_ltv" -> qCohortLtv,
    "q_stickiness" -> qStickiness,
    "q_hazard" -> qHazard,
    "q_gini" -> qGini,
    "q_rfm" -> qRfm,
    "q_changepoint" -> qChangepoint,
    "q_readability" -> qReadability,
    "q_minhash_est" -> qMinhashEst,
    "q_cluster_quality" -> qClusterQuality,
    "q_kcore" -> qKcore,
    "q_twap" -> qTwap,
    "q_tok_fertility" -> qTokFertility,
    "q_ann_radius" -> qAnnRadius,
    "q_ann_radius_ivf" -> qAnnRadiusIvf,
    "q_ann_radius_pq" -> qAnnRadiusPq,
    "q_embed_norms" -> qEmbedNorms,
  )

  /** DuckDB rendering of the seeded hyperplane sign-bucket — matches
    * [[graft.functions.HyperplaneBucket]] bit-for-bit (float→double
    * promotion, sequential dot product, sign at >= 0), with the
    * deterministic planes inlined as SQL list literals. This is what
    * lets LSH queries be hash-checked against the oracle instead of
    * rows-only. */
  private def duckBucketExpr(vecExpr: String,
      planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      val lst = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vecExpr, $lst) >= 0" +
        s" THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Oracle for the IVF query, rendered from the (memoized) trained
    * quantizer: cell assignment = argmin over per-centroid distances via
    * `list_grade_up`, probing = the 4 best cells, exact cosine rerank —
    * the same train-once model the Spark query applies. Only available
    * once a query has run (the centroids come from the data). */
  private def ivfOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val spark = SparkSession.active
      val model = operators.Ann.trainIvfCached(ivfKey(dir),
        Tables.t(spark, dir, "embeddings"))
      val dists = model.centers
        .map(c => s"list_distance(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ",\n ", "]")
      "q_ann_ivf" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |d AS (SELECT vec_id, v, list_grade_up($dists) AS gu FROM e),
           |c AS (SELECT vec_id AS neighbor_id, v AS cv, gu[1] - 1 AS cell
           |  FROM d),
           |q AS (SELECT vec_id AS query_id, v AS qv,
           |    unnest(gu[1:4]) - 1 AS cell FROM d WHERE vec_id < 8),
           |s AS (SELECT DISTINCT query_id, neighbor_id,
           |    list_cosine_similarity(qv, cv) AS rawcos
           |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id),
           |r AS (SELECT query_id, neighbor_id, rawcos,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY rawcos DESC, neighbor_id) AS INTEGER) AS rnk
           |  FROM s)
           |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos, rnk
           |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    }

  /** Oracle for the IVF radius query — the same rendered-centroid
    * cell assignment as [[ivfOracle]], thresholded instead of
    * ranked. */
  private def ivfRadiusOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val spark = SparkSession.active
      val model = operators.Ann.trainIvfCached(ivfKey(dir),
        Tables.t(spark, dir, "embeddings"))
      val dists = model.centers
        .map(c => s"list_distance(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ",\n ", "]")
      "q_ann_radius_ivf" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |d AS (SELECT vec_id, v, list_grade_up($dists) AS gu FROM e),
           |c AS (SELECT vec_id AS neighbor_id, v AS cv, gu[1] - 1 AS cell
           |  FROM d),
           |q AS (SELECT vec_id AS query_id, v AS qv,
           |    unnest(gu[1:4]) - 1 AS cell FROM d WHERE vec_id < 8),
           |s AS (SELECT query_id, neighbor_id,
           |    list_cosine_similarity(qv, cv) AS rawcos
           |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id)
           |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos
           |FROM s WHERE rawcos >= 0.2
           |ORDER BY query_id, neighbor_id""".stripMargin
    }

  /** Oracle for the IVF-PQ query, rendered from the same memoized
    * models the Spark query applies. The key identity: ADC cosine over
    * a code EQUALS plain cosine against the code's RECONSTRUCTION
    * (concatenated chosen centroids) when dim = m·dsub, so the oracle
    * decodes each corpus vector (per-subspace argmin via
    * `list_grade_up`, centroid picked from the rendered codebook) and
    * ranks with `list_cosine_similarity` — exactly the shortlist the
    * codes-only scan produces — then reranks the top rerank·k
    * exactly. */
  private def pqOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val spark = SparkSession.active
      val emb = Tables.t(spark, dir, "embeddings")
      val ivf = operators.Ann.trainIvfCached(ivfKey(dir), emb)
      val pq = operators.Ann.trainPqCached(pqKey(dir), emb)
      val ivfDists = ivf.centers
        .map(c => s"list_distance(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ",\n ", "]")
      val dsub = pq.dsub
      val recon = pq.codebooks.zipWithIndex.map { case (cb, s) =>
        val lit = cb.map(_.mkString("[", ", ", "]"))
          .mkString("[", ",\n   ", "]")
        val a = s * dsub + 1
        val b = s * dsub + dsub
        s"($lit)[list_grade_up([list_distance(v[$a:$b], c)" +
          s" FOR c IN $lit])[1]]"
      }.mkString("flatten([", ",\n ", "])")
      "q_ann_pq" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |d AS (SELECT vec_id, v, list_grade_up($ivfDists) AS gu,
           |    $recon AS recon FROM e),
           |c AS (SELECT vec_id AS neighbor_id, v AS cv, gu[1] - 1 AS cell,
           |    recon FROM d),
           |q AS (SELECT vec_id AS query_id, v AS qv,
           |    unnest(gu[1:4]) - 1 AS cell FROM d WHERE vec_id < 8),
           |s AS (SELECT query_id, neighbor_id, qv, cv,
           |    list_cosine_similarity(qv, recon) AS acos
           |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id),
           |sh AS (SELECT query_id, neighbor_id, qv, cv,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY acos DESC, neighbor_id) AS arnk FROM s),
           |r AS (SELECT query_id, neighbor_id,
           |    list_cosine_similarity(qv, cv) AS rawcos,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY list_cosine_similarity(qv, cv) DESC,
           |        neighbor_id) AS INTEGER) AS rnk
           |  FROM sh WHERE arnk <= 40)
           |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos, rnk
           |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    }

  /** Oracle for the IVF-PQ radius query — the same rendered
    * reconstruction as [[pqOracle]] (ADC cosine = cosine against the
    * code's reconstruction), thresholded instead of ranked. */
  private def pqRadiusOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val spark = SparkSession.active
      val emb = Tables.t(spark, dir, "embeddings")
      val ivf = operators.Ann.trainIvfCached(ivfKey(dir), emb)
      val pq = operators.Ann.trainPqCached(pqKey(dir), emb)
      val ivfDists = ivf.centers
        .map(c => s"list_distance(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ",\n ", "]")
      val dsub = pq.dsub
      val recon = pq.codebooks.zipWithIndex.map { case (cb, s) =>
        val lit = cb.map(_.mkString("[", ", ", "]"))
          .mkString("[", ",\n   ", "]")
        val a = s * dsub + 1
        val b = s * dsub + dsub
        s"($lit)[list_grade_up([list_distance(v[$a:$b], c)" +
          s" FOR c IN $lit])[1]]"
      }.mkString("flatten([", ",\n ", "])")
      "q_ann_radius_pq" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |d AS (SELECT vec_id, v, list_grade_up($ivfDists) AS gu,
           |    $recon AS recon FROM e),
           |c AS (SELECT vec_id AS neighbor_id, gu[1] - 1 AS cell,
           |    recon FROM d),
           |q AS (SELECT vec_id AS query_id, v AS qv,
           |    unnest(gu[1:4]) - 1 AS cell FROM d WHERE vec_id < 8),
           |s AS (SELECT query_id, neighbor_id,
           |    list_cosine_similarity(qv, recon) AS acos
           |  FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id)
           |SELECT query_id, neighbor_id, round(acos, 4) AS acos
           |FROM s WHERE acos >= 0.2
           |ORDER BY query_id, neighbor_id""".stripMargin
    }

  /** Per-centroid L2-distance list over alias `v` plus the rendered
    * centroid list-of-lists — shared by the two clustering oracles. */
  private def centroidSql(model: operators.Ann.IvfModel)
      : (String, String) = {
    val dists = model.centers
      .map(c => s"list_distance(v, ${c.mkString("[", ", ", "]")})")
      .mkString("[", ",\n ", "]")
    val centers = model.centers.map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n ", "]")
    (dists, centers)
  }

  /** Oracle for the k-means clustering summary, rendered from the same
    * memoized quantizer the Spark query applies: assignment = argmin
    * over per-centroid distances via `list_grade_up` (stable ties,
    * matching NearestCells), coherence = cosine against the rendered
    * centroid picked by the assignment. */
  private def clusterOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val spark = SparkSession.active
      val model = operators.Ann.trainIvfCached(ivfKey(dir),
        Tables.t(spark, dir, "embeddings"))
      val (dists, centers) = centroidSql(model)
      "q_cluster_kmeans" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |a AS (SELECT vec_id, v,
           |    CAST(list_grade_up($dists)[1] - 1 AS INTEGER) AS cluster
           |  FROM e),
           |c AS (SELECT cluster, round(list_cosine_similarity(v,
           |    ($centers)[cluster + 1]), 4) AS cos FROM a)
           |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           |  round(avg(cos), 3) AS avg_cos
           |FROM c GROUP BY cluster ORDER BY cluster""".stripMargin
    }

  /** Oracle for the cluster-balanced sample: the same argmin
    * assignment, then DuckHash renders Spark's xxhash64 ordering for
    * the first-k-per-cluster window. */
  private def clusterSampleOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val spark = SparkSession.active
      val model = operators.Ann.trainIvfCached(ivfKey(dir),
        Tables.t(spark, dir, "embeddings"))
      val (dists, _) = centroidSql(model)
      "q_cluster_sample" -> DuckHash.clusterSampleOracle(dists, 5)
    }

  /** Oracle for SemDeDup, rendered from the same memoized quantizer:
    * argmin cell assignment, centroid cosine rounded to 6 (the keeper
    * order and the tau boundary live on that grid in both engines),
    * within-cell pair probe, drop decision = shadowed by an earlier
    * member at `cos >= tau`. */
  private def semDedupOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val model = semDedupModelFor(SparkSession.active, dir)
      val (dists, centers) = centroidSql(model)
      "q_semdedup" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |a AS (SELECT vec_id, v,
           |    CAST(list_grade_up($dists)[1] - 1 AS INTEGER) AS cluster
           |  FROM e),
           |c AS (SELECT vec_id, v, cluster,
           |    round(list_cosine_similarity(v,
           |      ($centers)[cluster + 1]), 6) AS ccos
           |  FROM a),
           |dup AS (SELECT DISTINCT y.vec_id
           |  FROM c x JOIN c y ON x.cluster = y.cluster
           |    AND (x.ccos < y.ccos OR
           |         (x.ccos = y.ccos AND x.vec_id < y.vec_id))
           |    AND round(list_cosine_similarity(x.v, y.v), 6)
           |      >= $SemDedupTau)
           |SELECT c.vec_id, cluster, ccos,
           |  c.vec_id IN (SELECT vec_id FROM dup) AS is_dup
           |FROM c ORDER BY c.vec_id""".stripMargin
    }

  /** Oracle for the quality classifier, rendered from the SAME
    * memoized trained model the Spark query applies (weights + bias
    * inlined into DuckDB SQL, the IVF-centroid-oracle pattern). */
  private def qualityOracle: Option[(String, String)] =
    Option(lastDir).map { dir =>
      val m = qualityModelFor(SparkSession.active, dir)
      "q_quality_model" ->
        DuckHash.qualityScoreOracle(m.dim, m.bias, m.weights, 0.5)
    }

  /** Shared by q_decontaminate and q_decontaminate_xl (the latter on a
    * 1/7 corpus slice): the broadcast and bloom+shuffled shapes answer
    * the same question. */
  private def decontaminateOracle(corpusPred: String): String =
    s"""WITH tok AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      x -> x <> '') AS ts
      |  FROM documents),
      |grams AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(ts[i:i+2], ' ')
      |     FOR i IN generate_series(1, greatest(len(ts)-2, 0))]))
      |    AS gram
      |  FROM tok),
      |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
      |corp AS (SELECT doc_id, gram FROM grams WHERE $corpusPred)
      |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hits,
      |  round(CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS contamination,
      |  CAST((sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) >= 1)
      |    AS INTEGER) AS contaminated
      |FROM corp c LEFT JOIN bench b ON c.gram = b.gram
      |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_bpe_train" -> DuckHash.bpeTrainOracle(BpeMerges),
    "q_bpe_encode" -> DuckHash.bpeEncodeOracle(BpeMerges),
    "q_wordpiece_encode" ->
      DuckHash.wordpieceEncodeOracle(BpeMerges, steps = 8),
    "q_unigram_train" -> DuckHash.unigramTrainOracle(
      UnigramIters, UnigramDpStages, UnigramVocab),
    "q_unigram_train_soft" -> DuckHash.unigramSoftTrainOracle(
      iters = 1, UnigramDpStages, UnigramVocab),
    "q_unigram_train_soft2" -> DuckHash.unigramSoftTrainOracle(
      iters = 2, UnigramDpStages, UnigramVocab),
    // event analytics: the funnel oracle re-derives the greedy-first
    // walk as staged min-aggregates (step k = earliest qualifying
    // event after step k-1 inside step 1's 24 h window)
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |    JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t
        |    AND epoch_us(e.ts) <= epoch_us(s1.t) + 86400000000
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |    JOIN s2 ON e.user_id = s2.user_id
        |    JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND epoch_us(e.ts) <= epoch_us(s1.t) + 86400000000
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, count(*) AS users FROM s1
        |  UNION ALL SELECT 2, count(*) FROM s2
        |  UNION ALL SELECT 3, count(*) FROM s3)
        |ORDER BY step""".stripMargin,
    // funnel TTC quantiles: the same staged-min fold, then exact
    // ceil(q*n)-th rows per final steps-reached in (ttc, user) order
    "q_funnel_ttc" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |    JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t
        |    AND epoch_us(e.ts) <= epoch_us(s1.t) + 86400000000
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |    JOIN s2 ON e.user_id = s2.user_id
        |    JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |    AND epoch_us(e.ts) <= epoch_us(s1.t) + 86400000000
        |  GROUP BY 1),
        |u AS (SELECT s1.user_id,
        |    CASE WHEN s3.user_id IS NOT NULL THEN 3
        |         WHEN s2.user_id IS NOT NULL THEN 2
        |         ELSE 1 END AS k,
        |    CASE WHEN s3.user_id IS NOT NULL
        |           THEN epoch_us(s3.t) - epoch_us(s1.t)
        |         WHEN s2.user_id IS NOT NULL
        |           THEN epoch_us(s2.t) - epoch_us(s1.t)
        |         ELSE 0 END AS ttc
        |  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |    LEFT JOIN s3 ON s1.user_id = s3.user_id),
        |w AS (SELECT * FROM u WHERE k >= 2),
        |r AS (SELECT k, ttc, user_id, row_number() OVER (
        |    PARTITION BY k ORDER BY ttc, user_id) AS rn FROM w),
        |n AS (SELECT k, count(*) AS c FROM w GROUP BY 1)
        |SELECT CAST(r.k AS BIGINT) AS steps_reached, q,
        |  ttc AS ttc_us
        |FROM (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q) qs
        |CROSS JOIN n JOIN r ON r.k = n.k
        |  AND r.rn = greatest(1, CAST(ceil(q * c) AS BIGINT))
        |ORDER BY steps_reached, q""".stripMargin,
    "q_resample_gapfill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    max(value) AS dmax FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, CAST(unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |j AS (SELECT g.user_id, g.day, d.dmax FROM grid g
        |  LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, CAST(day AS TIMESTAMP) AS day,
        |  last_value(dmax IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day) AS value
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
        |  FROM events)
        |SELECT CAST(f.cw AS TIMESTAMP) AS cohort_week,
        |  CAST(datediff('day', f.cw, a.aw) // 7 AS BIGINT)
        |    AS week_offset,
        |  count(*) AS users
        |FROM f JOIN a USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // survival: the retention cells normalized by the offset-0 base
    "q_survival" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
        |  FROM events),
        |r AS (SELECT CAST(f.cw AS TIMESTAMP) AS cohort_week,
        |    CAST(datediff('day', f.cw, a.aw) // 7 AS BIGINT)
        |      AS week_offset,
        |    CAST(count(*) AS BIGINT) AS users
        |  FROM f JOIN a USING (user_id) GROUP BY 1, 2),
        |b AS (SELECT cohort_week, users AS cohort_size FROM r
        |  WHERE week_offset = 0)
        |SELECT r.cohort_week AS cohort_week, week_offset, users,
        |  cohort_size,
        |  CAST((CAST(users AS HUGEINT) * 1000000) // cohort_size
        |    AS BIGINT) AS survival_ppm
        |FROM r JOIN b ON r.cohort_week = b.cohort_week
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // rolling z-score anomalies: the oracle mirrors the operator's
    // fixed-point contract op-for-op — quantized BIGINT values, exact
    // integer frame sums, the SAME IEEE expression tree for z (sub/
    // mul/div/sqrt are correctly rounded, so identical inputs give
    // bit-identical doubles), and the flag compares the ROUNDED score
    "q_anomaly_events" ->
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |    CAST(round(value * 10000) AS BIGINT) AS xc FROM events),
        |w AS (SELECT user_id, event_id, value, xc,
        |    sum(xc) OVER win AS s1,
        |    sum(xc * xc) OVER win AS s2,
        |    count(*) OVER win AS n
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT user_id, event_id, value,
        |    round((CAST(xc AS DOUBLE) -
        |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |          CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) - 1.0)), 6) AS zscore
        |  FROM w WHERE n = 20 AND s2 * n - s1 * s1 > 0)
        |SELECT user_id, event_id, value, zscore,
        |  abs(zscore) > 3.0 AS is_anomaly
        |FROM g ORDER BY user_id, event_id""".stripMargin,
    // peak concurrency: ±1 sweep over half-open [ts, ts+5min) windows
    // — ends sort before starts at the same instant (d = -1 < +1)
    "q_concurrency" ->
      """WITH d AS (
        |  SELECT epoch_us(ts) AS t, CAST(1 AS BIGINT) AS d,
        |    event_id AS i FROM events
        |  UNION ALL
        |  SELECT epoch_us(ts) + 300000000, CAST(-1 AS BIGINT),
        |    event_id FROM events),
        |c AS (SELECT sum(d) OVER (ORDER BY t, d, i) AS conc FROM d)
        |SELECT CAST(max(conc) AS BIGINT) AS max_concurrent FROM c"""
        .stripMargin,
    // OHLC bars: open/close via rank-1 rows under the same (ts, id)
    // ordering min_by/max_by uses; volume sums fixed-point longs
    "q_ohlc_bars" ->
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    ts, event_id, value,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id,
        |      bucket ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rd FROM e)
        |SELECT user_id, CAST(bucket AS TIMESTAMP) AS bucket,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n_events,
        |  CAST(sum(vc) AS BIGINT) AS volume_c
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // CUSUM closed form: S = P - min(0, runmin(P)) over exact
    // fixed-point integers — replayed with the same two windows
    "q_cusum_drift" ->
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |    CAST(round(value * 100) AS BIGINT) - 800 AS d
        |  FROM events),
        |w AS (SELECT user_id, event_id, ts, value,
        |    sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM e),
        |g AS (SELECT user_id, event_id, value,
        |    p - least(CAST(0 AS BIGINT),
        |      min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS s
        |  FROM w)
        |SELECT user_id, event_id, value,
        |  CAST(s AS BIGINT) AS cusum_c, s > 2500 AS drift
        |FROM g ORDER BY user_id, event_id""".stripMargin,
    // interval union: prev-max-end sweep — overlap-free contribution
    // and new-segment flag from ONE trailing window max
    "q_interval_union" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 300000000 AS en FROM events),
        |w AS (SELECT user_id, event_id, s, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm
        |  FROM e),
        |c AS (SELECT user_id,
        |    greatest(CAST(0 AS BIGINT),
        |      en - greatest(s, coalesce(pm, s))) AS cov,
        |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS seg
        |  FROM w)
        |SELECT user_id, CAST(sum(cov) AS BIGINT) AS covered_micros,
        |  CAST(sum(seg) AS BIGINT) AS n_segments,
        |  count(*) AS n_intervals
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // PMI collocations under the integer contract: lift-ppm via
    // HUGEINT `//` against Spark's decimal(38,0) IntegralDivide; the
    // capped sorted per-doc term set is rebuilt verbatim
    "q_term_pmi" ->
      """WITH tok AS (SELECT list_sort(list_distinct(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '' AND length(x) >= 3)))[1:12] AS ts
        |  FROM documents),
        |ne AS (SELECT ts FROM tok WHERE len(ts) >= 1),
        |d AS (SELECT count(*) AS n_docs FROM ne),
        |tc AS (SELECT t, count(*) AS n_t FROM (
        |    SELECT unnest(ts) AS t FROM ne) GROUP BY t),
        |p AS (SELECT unnest(flatten(list_transform(ts, (x, i) ->
        |      list_transform(ts[i+1:],
        |        y -> {'t1': x, 't2': y})))) AS pr
        |  FROM ne WHERE len(ts) >= 2),
        |pc AS (SELECT pr.t1 AS t1, pr.t2 AS t2, count(*) AS n_pair
        |  FROM p GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (SELECT t1, t2, n_pair,
        |    CAST((CAST(n_pair AS HUGEINT) * 1000000 * d.n_docs) //
        |      (CAST(n1.n_t AS HUGEINT) * n2.n_t) AS BIGINT)
        |      AS lift_ppm
        |  FROM pc JOIN tc n1 ON pc.t1 = n1.t
        |    JOIN tc n2 ON pc.t2 = n2.t CROSS JOIN d)
        |SELECT t1, t2, n_pair, lift_ppm FROM sc
        |ORDER BY lift_ppm DESC, t1, t2 LIMIT 100""".stripMargin,
    // exact one-pass profile of orders, one UNION ALL arm per column
    "q_profile_table" ->
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_repr,
           |  CAST(max($c) AS VARCHAR) AS max_repr FROM orders"""
          .stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),
    // session paths: same gap split as q_sessionize, rank-capped
    // first-5 types, path rollup
    "q_session_paths" ->
      """WITH e AS (SELECT user_id AS k, event_id AS i,
        |    epoch_us(ts) AS tu, event_type AS ty FROM events),
        |s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
        |      OR tu - lag(tu) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS ns
        |  FROM e WINDOW w AS (PARTITION BY k ORDER BY tu, i)),
        |s2 AS (SELECT *, sum(ns) OVER (PARTITION BY k
        |    ORDER BY tu, i ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS sid FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k, sid
        |    ORDER BY tu, i) AS rn FROM s2),
        |p AS (SELECT k, sid,
        |    array_to_string(list(ty ORDER BY rn), '>') AS path
        |  FROM r WHERE rn <= 5 GROUP BY k, sid)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 50""".stripMargin,
    // Markov transitions: lead pairs, ppm via HUGEINT `//` against
    // Spark's exact IntegralDivide
    "q_event_transitions" ->
      """WITH e AS (SELECT user_id AS k, event_id AS i,
        |    epoch_us(ts) AS tu, event_type AS ty FROM events),
        |x AS (SELECT ty, lead(ty) OVER (PARTITION BY k
        |    ORDER BY tu, i) AS nxt FROM e),
        |pc AS (SELECT ty AS from_type, nxt AS to_type,
        |    count(*) AS n FROM x WHERE nxt IS NOT NULL
        |  GROUP BY 1, 2),
        |tt AS (SELECT from_type, sum(n) AS n_from FROM pc
        |  GROUP BY 1)
        |SELECT pc.from_type AS from_type, to_type, n,
        |  CAST((CAST(n AS HUGEINT) * 1000000) // n_from AS BIGINT)
        |    AS p_ppm
        |FROM pc JOIN tt USING (from_type) ORDER BY 1, 2"""
        .stripMargin,
    // winsorized mean: exact rank-selected p05/p95 clamp, fixed-point
    // sum, one final IEEE division tree
    "q_winsorized_mean" ->
      """WITH r AS (SELECT event_type, value, row_number() OVER (
        |    PARTITION BY event_type ORDER BY value, event_id) AS rn
        |  FROM events),
        |n AS (SELECT event_type, count(*) AS c FROM events
        |  GROUP BY 1),
        |b AS (SELECT r.event_type AS event_type,
        |    min(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.05 * c) AS BIGINT)) THEN value END) AS lo,
        |    min(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.95 * c) AS BIGINT)) THEN value END) AS hi
        |  FROM r JOIN n USING (event_type) GROUP BY 1),
        |cl AS (SELECT e.event_type AS event_type,
        |    CAST(round(least(greatest(e.value, b.lo), b.hi) * 100)
        |      AS BIGINT) AS vc
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(vc) AS BIGINT) AS wins_sum_c,
        |  round(CAST(sum(vc) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 100.0), 6) AS wins_mean
        |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,
    // fixed-point histogram: pure integer bin index, empty bins from
    // a range join — replayed with `//`
    "q_histogram" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100)
        |      AS BIGINT) AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT min(x) AS lo, max(x) AS hi FROM v),
        |g AS (SELECT unnest(range(0, 40)) AS bin),
        |c AS (SELECT ((x - lo) * 40) // (hi - lo + 1) AS bin,
        |    count(*) AS n FROM v, b GROUP BY 1)
        |SELECT g.bin AS bin, b.lo AS lo_c, b.hi AS hi_c,
        |  coalesce(c.n, 0) AS n
        |FROM g CROSS JOIN b LEFT JOIN c USING (bin)
        |ORDER BY bin""".stripMargin,
    // referential integrity: NOT EXISTS mirrors the anti join (NULL
    // child keys are orphans in both)
    "q_ri_check" ->
      """SELECT 'lineitem.l_orderkey -> orders.o_orderkey'
        |    AS relationship,
        |  (SELECT count(*) FROM lineitem) AS n_child,
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'orders.o_custkey -> customer.c_custkey',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS (
        |    SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey))
        |ORDER BY relationship""".stripMargin,
    // HLL rollup: exact counts re-derived; the ok booleans are the
    // sketch-accuracy gate (oracle asserts true, ann_recall-style)
    "q_distinct_rollup" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    count(DISTINCT user_id) AS n_exact FROM events
        |  GROUP BY 1),
        |f AS (SELECT user_id, CAST(min(ts) AS DATE) AS fd
        |  FROM events GROUP BY 1),
        |c AS (SELECT d.day AS day, count(*) AS n_cum_exact
        |  FROM d JOIN f ON f.fd <= d.day GROUP BY 1)
        |SELECT CAST(d.day AS TIMESTAMP) AS day, n_exact,
        |  true AS daily_ok, n_cum_exact, true AS cum_ok
        |FROM d JOIN c USING (day) ORDER BY day""".stripMargin,
    // exact set-similarity join: the oracle brute-forces all pairs;
    // the engine's prefix filter must lose NOTHING
    "q_jaccard_join" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '') AS w FROM documents),
        |sh AS (SELECT doc_id, list_sort(list_distinct(
        |    [array_to_string(w[i:i+3], ' ')
        |     for i in range(1, len(w) - 2)])) AS ts
        |  FROM tok WHERE len(w) >= 4),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.ts, b.ts)) AS inter,
        |    len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))
        |      AS un
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST((CAST(inter AS HUGEINT) * 1000000) // un AS BIGINT)
        |    AS jaccard_ppm
        |FROM p WHERE inter * 1000000 >= 500000 * un
        |ORDER BY id_a, id_b""".stripMargin,
    // capped twin: the oracle drops shingles with df > 3 before set
    // construction, then brute-forces the REDUCED sets — the guard's
    // disclosed semantics, replayed exactly
    "q_jaccard_join_capped" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+3], ' ')
        |     for i in range(1, len(w) - 2)])) AS gram
        |  FROM tok WHERE len(w) >= 4),
        |keep AS (SELECT gram FROM g GROUP BY 1
        |  HAVING count(*) <= 3),
        |sh AS (SELECT doc_id, list_sort(list(gram)) AS ts
        |  FROM g JOIN keep USING (gram) GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.ts, b.ts)) AS inter,
        |    len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))
        |      AS un
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  CAST((CAST(inter AS HUGEINT) * 1000000) // un AS BIGINT)
        |    AS jaccard_ppm
        |FROM p WHERE inter * 1000000 >= 500000 * un
        |ORDER BY id_a, id_b""".stripMargin,
    // rolling exact median: DuckDB's median over an odd full frame is
    // the same middle selection — no interpolation on either side
    "q_rolling_median" ->
      """WITH w AS (SELECT user_id, event_id, value,
        |    median(value) OVER win AS rolling_median,
        |    count(*) OVER win AS n
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, value, rolling_median
        |FROM w WHERE n = 21 ORDER BY user_id, event_id""".stripMargin,
    // quantile discretizer: same integer bucket arithmetic over the
    // single-window row_number
    "q_quantile_buckets" ->
      """WITH r AS (SELECT l_extendedprice AS value, l_orderkey,
        |    l_linenumber, row_number() OVER (ORDER BY
        |      l_extendedprice, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem),
        |n AS (SELECT count(*) AS c FROM lineitem)
        |SELECT value, l_orderkey, l_linenumber,
        |  ((rn - 1) * 10) // c + 1 AS bucket
        |FROM r, n ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // integer least-squares trend: exact sums, one `//`
    "q_count_trend" ->
      """WITH d AS (SELECT event_type,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    count(*) AS y FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM d GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  CAST(CASE WHEN (n * sxy - sx * sy) < 0
        |    THEN -((-(n * sxy - sx * sy) * 1000000) //
        |      (n * sxx - sx * sx))
        |    ELSE ((n * sxy - sx * sy) * 1000000) //
        |      (n * sxx - sx * sx) END AS BIGINT) AS slope_ppm
        |FROM s WHERE n >= 2 ORDER BY event_type""".stripMargin,
    // exact mode with the (count, type) struct-max tie rule
    "q_mode_by_key" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, cnt, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY cnt DESC, event_type DESC) AS rn FROM c)
        |SELECT user_id, event_type AS mode_type, cnt AS mode_n
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // last-touch attribution: same conditional last_value window
    "q_attribution" ->
      """WITH e AS (SELECT user_id AS k, event_id AS i,
        |    epoch_us(ts) AS tu, event_type AS ty FROM events),
        |w AS (SELECT k, i, tu, ty,
        |    last_value(CASE WHEN ty <> 'purchase'
        |        THEN {'tu': tu, 'ty': ty} END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY tu, i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch
        |  FROM e),
        |c AS (SELECT coalesce(CASE WHEN touch IS NOT NULL AND
        |      tu - touch.tu <= 3600000000 THEN touch.ty END,
        |      'organic') AS channel
        |  FROM w WHERE ty = 'purchase')
        |SELECT channel, count(*) AS conversions FROM c
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SCD2 apply: the oracle recomputes the post-apply state from the
    // same deterministic change batch
    "q_scd2_apply" ->
      """WITH ch AS (
        |  SELECT c_custkey AS k,
        |    CASE WHEN c_custkey % 14 = 0 THEN c_nationkey
        |      ELSE (c_nationkey + 1) % 25 END AS nk,
        |    CAST(86400000000 AS BIGINT) AS ts
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_nationkey,
        |    CAST(86400000000 AS BIGINT)
        |  FROM customer WHERE c_custkey % 97 = 0),
        |cur AS (SELECT c_custkey AS k, c_nationkey AS nk
        |  FROM customer),
        |g AS (SELECT ch.k AS k, ch.nk AS nk, ch.ts AS ts FROM ch
        |  LEFT JOIN cur ON ch.k = cur.k
        |  WHERE cur.k IS NULL OR cur.nk <> ch.nk)
        |SELECT c.k AS c_custkey, c.nk AS c_nationkey,
        |  CAST(0 AS BIGINT) AS valid_from,
        |  CAST(NULL AS BIGINT) AS valid_to, true AS is_current
        |FROM cur c LEFT JOIN g ON c.k = g.k WHERE g.k IS NULL
        |UNION ALL
        |SELECT c.k, c.nk, CAST(0 AS BIGINT), g.ts, false
        |FROM cur c JOIN g ON c.k = g.k
        |UNION ALL
        |SELECT g.k, g.nk, g.ts, CAST(NULL AS BIGINT), true FROM g
        |ORDER BY c_custkey, valid_from""".stripMargin,
    // TextRank: the three integer PageRank rounds unroll as CTEs;
    // every value is an exact (HUGE)INT, `//` floors == truncates
    // (all non-negative)
    "q_textrank" -> {
      val rounds = (1 to 3).map { k =>
        s"""c$k AS (SELECT e.dst AS node,
           |    sum(r${k - 1}.r // r${k - 1}.deg) AS s
           |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
           |  GROUP BY 1),
           |r$k AS (SELECT r${k - 1}.node AS node,
           |    r${k - 1}.deg AS deg,
           |    CAST((15 * b + 85 * coalesce(c$k.s, 0)) // 100
           |      AS BIGINT) AS r
           |  FROM r${k - 1} LEFT JOIN c$k USING (node), nn)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (SELECT list_sort(list_distinct(list_filter(
         |      regexp_split_to_array(lower(text), '\\s+'),
         |      x -> x <> '' AND length(x) >= 3)))[1:12] AS ts
         |  FROM documents),
         |ne AS (SELECT ts FROM tok WHERE len(ts) >= 1),
         |p AS (SELECT unnest(flatten(list_transform(ts, (x, i) ->
         |      list_transform(ts[i+1:],
         |        y -> {'t1': x, 't2': y})))) AS pr
         |  FROM ne WHERE len(ts) >= 2),
         |pc AS (SELECT pr.t1 AS t1, pr.t2 AS t2 FROM p GROUP BY 1, 2
         |  HAVING count(*) >= 5),
         |e AS (SELECT t1 AS src, t2 AS dst FROM pc
         |  UNION ALL SELECT t2, t1 FROM pc),
         |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nn AS (SELECT 1000000000000 // count(*) AS b FROM dg),
         |r0 AS (SELECT src AS node, deg, CAST(b AS BIGINT) AS r
         |  FROM dg, nn),
         |$rounds
         |SELECT node AS term, r AS rank_score FROM r3
         |ORDER BY rank_score DESC, term LIMIT 50""".stripMargin
    },
    // zero-scan profile: the oracle recomputes from the raw rows what
    // the engine folded from manifest stats alone
    "q_profile_stats" ->
      """SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_nulls,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_repr,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_repr,
        |  true AS exact FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), CAST(0 AS BIGINT),
        |  CAST(min(o_totalprice) AS VARCHAR),
        |  CAST(max(o_totalprice) AS VARCHAR), true FROM orders
        |ORDER BY column_name""".stripMargin,
    // bitemporal lookup: the oracle resolves the validity range as a
    // CASE on the same change rule + cut instant
    "q_scd2_lookup" ->
      """WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) AS ots
        |  FROM orders),
        |j AS (SELECT CASE WHEN c.c_custkey % 7 = 0
        |      AND o.ots >= 804556800000000
        |    THEN (c.c_nationkey + 1) % 25
        |    ELSE c.c_nationkey END AS c_nationkey
        |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT c_nationkey, count(*) AS n_orders FROM j
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // expectation suite: per-rule violation sums, NULL counts as a
    // violation on both sides
    "q_dq_checks" ->
      (Seq(
        ("qty_range", "l_quantity BETWEEN 1 AND 50"),
        ("tax_cap", "l_tax <= 0.08"),
        ("discount_cap", "l_discount <= 0.05"),
        ("positive_price", "l_extendedprice > 0")).map {
        case (n, pred) =>
          s"""SELECT '$n' AS rule, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN coalesce($pred, false) THEN 0
             |    ELSE 1 END) AS BIGINT) AS n_violations,
             |  CAST(sum(CASE WHEN coalesce($pred, false) THEN 0
             |    ELSE 1 END) AS BIGINT) = 0 AS passed
             |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nUNION ALL\n") +
      """SELECT 'orderkey_fk' AS rule, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_violations,
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) = 0 AS passed
        |FROM lineitem l LEFT JOIN
        |  (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0) o
        |  ON l.l_orderkey = o.o_orderkey
        |ORDER BY rule""".stripMargin),
    // systematic PPS sampling: grid point m sits at W*(2m+1)/(2k), so
    // "grid points in (cum-w, cum]" is a count of odd multiples of W
    // — two integer divisions, replayed here verbatim (k = 200)
    "q_sample_pps" ->
      """WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
        |  FROM documents),
        |c AS (SELECT doc_id, weight,
        |    sum(weight) OVER (ORDER BY doc_id) AS cum FROM w),
        |tot AS (SELECT sum(weight) AS W FROM w),
        |g AS (SELECT doc_id, weight,
        |    ((2 * 200 * cum) // W + 1) // 2 -
        |    ((2 * 200 * (cum - weight)) // W + 1) // 2 AS copies
        |  FROM c, tot)
        |SELECT doc_id, weight, CAST(copies AS BIGINT) AS copies
        |FROM g WHERE copies >= 1 ORDER BY doc_id""".stripMargin,
    // exact quantiles = rank selection: the row whose global (or
    // per-key) row_number is ceil(q*N) in (value, tiebreak) order
    "q_quantiles_exact" ->
      """WITH t AS (SELECT l_extendedprice AS value, l_orderkey,
        |    l_linenumber FROM lineitem),
        |r AS (SELECT value, row_number() OVER (ORDER BY value,
        |    l_orderkey, l_linenumber) AS rn FROM t),
        |n AS (SELECT count(*) AS c FROM t),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99])
        |    AS DOUBLE) AS q)
        |SELECT q, value FROM qs CROSS JOIN n
        |JOIN r ON r.rn = greatest(1, CAST(ceil(q * c) AS BIGINT))
        |ORDER BY q""".stripMargin,
    "q_p95_by_type" ->
      """WITH r AS (SELECT event_type, value, row_number() OVER (
        |    PARTITION BY event_type ORDER BY value, event_id) AS rn
        |  FROM events),
        |n AS (SELECT event_type, count(*) AS c FROM events
        |  GROUP BY 1),
        |qs AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q)
        |SELECT r.event_type AS event_type, q, value
        |FROM qs CROSS JOIN n
        |JOIN r ON r.event_type = n.event_type
        |  AND r.rn = greatest(1, CAST(ceil(q * c) AS BIGINT))
        |ORDER BY r.event_type, q""".stripMargin,
    // FastSS fuzzy joins: the oracle pays the all-pairs scan the
    // deletion-variant blocking exists to avoid
    "q_fuzzy_join" ->
      """WITH v AS (SELECT DISTINCT c_name AS t FROM customer
        |  WHERE c_name IS NOT NULL AND len(c_name) > 0)
        |SELECT a.t AS a, b.t AS b,
        |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        |FROM v a JOIN v b ON a.t < b.t
        |WHERE levenshtein(a.t, b.t) <= 1
        |ORDER BY a, b""".stripMargin,
    "q_fuzzy_parts" ->
      """WITH v AS (SELECT DISTINCT p_name AS t FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) > 0)
        |SELECT a.t AS a, b.t AS b,
        |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        |FROM v a JOIN v b ON a.t < b.t
        |WHERE levenshtein(a.t, b.t) <= 2
        |ORDER BY a, b""".stripMargin,
    // entity resolution: the closure re-derived as recursive
    // reachability, canonical = min reachable value (self included)
    "q_fuzzy_canon" ->
      """WITH RECURSIVE v AS (SELECT DISTINCT p_name AS t FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) > 0),
        |p AS (SELECT a.t AS a, b.t AS b FROM v a JOIN v b
        |  ON a.t < b.t AND levenshtein(a.t, b.t) <= 2),
        |e AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
        |reach(n, m) AS (
        |  SELECT t, t FROM v
        |  UNION
        |  SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a)
        |SELECT n AS name, min(m) AS canonical FROM reach
        |GROUP BY n ORDER BY n""".stripMargin,
    // WAP: after publish the table holds exactly ALL orders rows —
    // the oracle aggregates the source directly
    "q_wap_publish" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_unigram_encode" -> DuckHash.unigramEncodeOracle(
      UnigramIters, UnigramDpStages, UnigramVocab),
    "q_unigram_encode_soft" -> DuckHash.unigramEncodeSoftOracle(
      iters = 1, UnigramDpStages, UnigramVocab),
    // streaming exact top-k: only windows the final watermark closed
    // appear; the stream watermarks the DERIVED window-start column
    // (StreamOps.trendingSummary), so the horizon is
    // max(window_start) - 1 minute, strictly past the window end.
    // The two sides can never tie on the inequality: both bounds are
    // 5-minute multiples offset by 6 minutes.
    "q_trending_exact" ->
      """WITH d AS (SELECT TIMESTAMP '2024-01-01 00:00:00' +
        |    CAST(doc_id AS INT) * INTERVAL 1 MINUTE AS ts, text
        |  FROM documents),
        |mx AS (SELECT max(ts) AS m FROM d),
        |tok AS (SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS wstart,
        |    unnest(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'),
        |      t -> t <> '')) AS term
        |  FROM d),
        |cnt AS (SELECT wstart, term, CAST(count(*) AS BIGINT) AS n
        |  FROM tok GROUP BY wstart, term),
        |rk AS (SELECT wstart, term, n,
        |    row_number() OVER (PARTITION BY wstart
        |      ORDER BY n DESC, term) AS rk
        |  FROM cnt)
        |SELECT wstart, term, n, CAST(rk AS BIGINT) AS rk
        |FROM rk, mx
        |WHERE rk <= 5
        |  AND time_bucket(INTERVAL 5 MINUTE, m) - INTERVAL 1 MINUTE
        |    > wstart + INTERVAL 5 MINUTE
        |ORDER BY wstart, rk""".stripMargin,
    // bigram stupid-backoff LM: train on even doc_ids, score odd;
    // per-position log10 rounded to 6 then summed in exact DECIMAL —
    // the same partition-order-proof accumulation the Spark side uses
    "q_lm_score" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |uni AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(ts) AS w FROM tok WHERE doc_id % 2 = 0)
        |  GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni),
        |bi AS MATERIALIZED (
        |  SELECT t[j] AS l, t[j+1] AS r,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT ts AS t, unnest(range(1, len(ts))) AS j
        |    FROM tok WHERE doc_id % 2 = 0)
        |  GROUP BY 1, 2),
        |pos AS (SELECT doc_id, t[j] AS l, t[j+1] AS r
        |  FROM (SELECT doc_id, ts AS t, unnest(range(1, len(ts))) AS j
        |    FROM tok WHERE doc_id % 2 = 1)),
        |p AS (SELECT doc_id,
        |    CASE WHEN b.cnt IS NOT NULL
        |        THEN b.cnt / CAST(ul.cnt AS DOUBLE)
        |      WHEN ur.cnt IS NOT NULL
        |        THEN 0.4 * ur.cnt / (SELECT n FROM tot)
        |      ELSE 0.4 / (SELECT n FROM tot) END AS prob,
        |    CASE WHEN b.cnt IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM pos
        |  LEFT JOIN bi b ON pos.l = b.l AND pos.r = b.r
        |  LEFT JOIN uni ul ON pos.l = ul.w
        |  LEFT JOIN uni ur ON pos.r = ur.w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(bo) AS BIGINT) AS n_backoff,
        |  CAST(round(sum(CAST(round(log10(prob), 6)
        |    AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_logp
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_shuffle_shards" -> DuckHash.shuffleShardsOracle(8),
    "q_fingerprint" -> DuckHash.fingerprintOracle(16),
    "q_agg_approx_distinct" -> DuckHash.aggApproxDistinctOracle(),
    "q_lang_id" -> DuckHash.langIdOracle(functions.LangGuess.stop),
    // the broadcast-probe and bloom+shuffled-join decontamination
    // shapes must return byte-identical answers on their corpora
    "q_decontaminate" -> decontaminateOracle("doc_id % 97 <> 0"),
    // span removal: the oracle probes window TEXT against the
    // benchmark gram set (no hashes — an engine-side collision would
    // surface) and re-derives the keep set with the O(n·spans)
    // coverage scan — independent formulation of the merged-interval
    // reassembly
    "q_decontaminate_spans" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |bench AS (SELECT DISTINCT array_to_string(ts[i:i+2], ' ') AS win
        |  FROM tok, unnest(generate_series(1,
        |    greatest(len(ts) - 2, 0))) AS u(i)
        |  WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, ts FROM tok WHERE doc_id % 97 <> 0),
        |w AS (SELECT doc_id, i AS wpos,
        |    array_to_string(ts[i:i+2], ' ') AS win
        |  FROM corp, unnest(generate_series(1,
        |    greatest(len(ts) - 2, 0))) AS u(i)),
        |f AS (SELECT doc_id, list_sort(list(wpos)) AS ss FROM w
        |  WHERE win IN (SELECT win FROM bench) GROUP BY doc_id),
        |sel AS (SELECT corp.doc_id, corp.ts,
        |    coalesce(f.ss, CAST([] AS BIGINT[])) AS ss
        |  FROM corp LEFT JOIN f USING (doc_id)),
        |kept AS (SELECT doc_id, ts, list_filter(ts, (x, j) ->
        |    len(list_filter(ss, s ->
        |      j >= s AND j <= s + 2)) = 0) AS kp
        |  FROM sel)
        |SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens,
        |  CAST(len(ts) - len(kp) AS INTEGER) AS n_removed,
        |  coalesce(array_to_string(kp, ' '), '') AS clean_text
        |FROM kept ORDER BY doc_id""".stripMargin,
    "q_decontaminate_xl" ->
      decontaminateOracle("doc_id % 97 <> 0 AND doc_id % 7 = 1"),
    "q_chunk_docs" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |bounds AS (SELECT doc_id, ts,
        |    1 + ((greatest(len(ts) - 64, 0) + 47) // 48) * 48 AS hi
        |  FROM tok WHERE len(ts) > 0),
        |chunks AS (SELECT doc_id, ts,
        |    unnest(generate_series(1, hi, 48)) AS s
        |  FROM bounds)
        |SELECT doc_id, CAST((s - 1) // 48 AS INTEGER) AS chunk_idx,
        |  CAST(len(ts[s:s+63]) AS INTEGER) AS n_tokens,
        |  array_to_string(ts[s:s+63], ' ') AS chunk_text
        |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_pack_sequences" ->
      """WITH tok AS (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '')) AS ntok
        |  FROM documents),
        |t AS (SELECT doc_id, ntok, CAST(doc_id % 8 AS INTEGER) AS shard
        |  FROM tok WHERE ntok > 0),
        |off AS (SELECT shard, doc_id, ntok,
        |    CAST(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        |  FROM t),
        |seg AS (SELECT shard, doc_id, end_off,
        |    end_off - ntok AS start_off,
        |    unnest(generate_series((end_off - ntok) // 128,
        |                           (end_off - 1) // 128)) AS seq_idx
        |  FROM off)
        |SELECT shard, seq_idx, doc_id,
        |  CAST(greatest(start_off, seq_idx * 128) - seq_idx * 128
        |    AS INTEGER) AS seg_start,
        |  CAST(least(end_off, (seq_idx + 1) * 128)
        |    - greatest(start_off, seq_idx * 128) AS INTEGER)
        |    AS seg_tokens
        |FROM seg ORDER BY shard, seq_idx, doc_id""".stripMargin,
    "q_sample_stratified" -> DuckHash.sampleStratifiedOracle(37, 13),
    "q_sample_topk" -> DuckHash.sampleTopKOracle(25),
    "q_common_ngrams" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |grams AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ts[i:i+4], ' ')
        |     FOR i IN generate_series(1, greatest(len(ts)-4, 0))]))
        |    AS gram
        |  FROM tok)
        |SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
        |FROM grams GROUP BY gram HAVING count(*) >= 2
        |ORDER BY gram""".stripMargin,
    "q_corpus_mix" -> DuckHash.corpusMixOracle(Seq(
      ("en", "en", 2, 250000), ("de", "de", 1, 0), ("zh", "zh", 0, 400000))),
    // BM25 / TF-IDF: every arithmetic step is written in the SAME
    // association order as the Spark expressions so the doubles match
    // bit-for-bit before the final round()
    "q_bm25_search" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |d AS (SELECT doc_id, len(ts) AS dl, ts FROM tok),
        |s AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(ts) AS term FROM d)
        |  WHERE term IN ('hash', 'join', 'stream')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id, round(sum(
        |    ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1))
        |      / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))), 4) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN s GROUP BY doc_id)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    // the index-served retrieval must reproduce the corpus-scan BM25
    // exactly — one oracle, two execution paths (scan vs persisted
    // bucket-pruned postings built 2/3 + extended 1/3)
    "q_postings_search" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |d AS (SELECT doc_id, len(ts) AS dl, ts FROM tok),
        |s AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(ts) AS term FROM d)
        |  WHERE term IN ('hash', 'join', 'stream')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id, round(sum(
        |    ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1))
        |      / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))), 4) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN s GROUP BY doc_id)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    // the STREAM-tailed index must also reproduce the full-corpus scan
    // exactly — same oracle, third execution path (built 1/3, then two
    // live appends applied by the change-feed tail, exactly once each)
    "q_postings_tail" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |d AS (SELECT doc_id, len(ts) AS dl, ts FROM tok),
        |s AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(ts) AS term FROM d)
        |  WHERE term IN ('hash', 'join', 'stream')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id, round(sum(
        |    ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1))
        |      / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))), 4) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN s GROUP BY doc_id)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    "q_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |d AS (SELECT doc_id, len(ts) AS dl, ts FROM tok),
        |s AS (SELECT count(*) AS n FROM d),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
        |    SELECT doc_id, dl, unnest(ts) AS term FROM d)
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id, term,
        |    round(tf / CAST(dl AS DOUBLE)
        |      * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN s)
        |SELECT doc_id, term, tfidf, rk FROM (
        |  SELECT doc_id, term, tfidf, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER)
        |    AS rk
        |  FROM sc)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_crossdoc_repeat" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |grams AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ts[i:i+2], ' ')
        |     FOR i IN generate_series(1, greatest(len(ts)-2, 0))]))
        |    AS gram
        |  FROM tok),
        |df AS (SELECT gram, count(*) AS doc_freq FROM grams
        |  GROUP BY gram),
        |rep AS (SELECT gram FROM df WHERE doc_freq >= 2)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_repeated,
        |  round(sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS repeat_frac
        |FROM grams g LEFT JOIN rep r USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |    l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem)
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q_pii_redact" -> {
      // DuckDB standard strings don't process backslashes, so the Java
      // pattern strings interpolate verbatim
      val em = graft.operators.CorpusOps.EmailRe
      val ph = graft.operators.CorpusOps.PhoneRe
      s"""WITH pii AS (SELECT doc_id,
         |    text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@example.com or 555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |    '-9876 now.' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$em')) AS INTEGER)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$ph')) AS INTEGER)
         |    AS n_phones,
         |  regexp_replace(regexp_replace(text, '$em', '[EMAIL]', 'g'),
         |    '$ph', '[PHONE]', 'g') AS redacted
         |FROM pii ORDER BY doc_id""".stripMargin
    },
    "q_dedup_simhash" -> DuckHash.dedupSimhashOracle(10),
    "q_dedup_near" -> DuckHash.dedupNearOracle(0.2),
    "q_dedup_near_inc" -> DuckHash.dedupNearIncOracle(
      newPred = "(id % 5) = 0", cap = 4, minJaccard = 0.2),
    "q_topk_grouped" ->
      """SELECT o_orderpriority, CAST(rn AS INT) AS rn, o_orderkey,
        |  o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_dedup_near_capped" -> DuckHash.dedupNearCappedOracle(0.2, 2),
    "q_dedup_cluster" -> DuckHash.dedupClusterOracle(0.2),
    "q_triangles" -> DuckHash.trianglesOracle(0.2),
    "q_degree_dist" -> DuckHash.degreeOracle(0.2),
    "q_clustering_coeff" -> DuckHash.clusteringCoeffOracle(0.2),
    "q_component_sizes" -> DuckHash.componentSizesOracle(0.2),
    // capped balance: the clamp-at-zero fold's closed form
    // b = prefix - min(0, running-min(prefix)), two windows
    "q_capped_balance" ->
      """WITH x AS (SELECT user_id AS k, epoch_us(ts) AS t,
        |    event_id AS i,
        |    CAST(round((CASE WHEN event_type = 'purchase'
        |      THEN -value ELSE value END) * 100) AS BIGINT) AS d
        |  FROM events),
        |w1 AS (SELECT k, t, i, d,
        |    CAST(sum(d) OVER win AS BIGINT) AS p FROM x
        |  WINDOW win AS (PARTITION BY k ORDER BY t, i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w2 AS (SELECT k, i, d, p, min(p) OVER win2 AS rm FROM w1
        |  WINDOW win2 AS (PARTITION BY k ORDER BY t, i
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT k AS user_id, i AS event_id, d AS delta_c,
        |  p - least(0, rm) AS balance_c
        |FROM w2 ORDER BY user_id, event_id""".stripMargin,
    // integer EWMA: the same fixed-point recurrence as a recursive
    // CTE on HUGEINT, iterating per-key event rank. The rn <= 65536
    // cut replays EventOps.ewma's disclosed earliest-2^16 per-key cap
    // (maxEventsPerKey default) so a hot key past the cap truncates
    // identically in both engines.
    "q_ewma" ->
      """WITH RECURSIVE e AS (
        |  SELECT * FROM (
        |    SELECT user_id AS k, event_id AS i,
        |      CAST(round(value * 100) AS BIGINT) AS vc,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM events) WHERE rn <= 65536),
        |r AS (
        |  SELECT k, i, vc, rn, CAST(vc AS HUGEINT) * 1000000 AS s
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.i, e.vc, e.rn,
        |    (CAST(e.vc AS HUGEINT) * 1000000 * 1 + r.s * 1) // 2
        |  FROM r JOIN e ON e.k = r.k AND e.rn = r.rn + 1)
        |SELECT k AS user_id, i AS event_id, vc AS value_c,
        |  CAST(s AS BIGINT) AS ewma_c6
        |FROM r ORDER BY user_id, event_id""".stripMargin,
    "q_event_gaps" ->
      """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS p
        |  FROM events)
        |SELECT user_id, p AS gap_start_us, t AS gap_end_us,
        |  t - p AS gap_us
        |FROM x WHERE p IS NOT NULL AND t - p > 21600000000
        |ORDER BY user_id, gap_start_us""".stripMargin,
    "q_ab_lift" ->
      """WITH u AS (SELECT user_id % 2 AS variant, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT variant, count(*) AS users,
        |    CAST(sum(converted) AS BIGINT) AS converters
        |  FROM u GROUP BY 1),
        |v2 AS (SELECT variant, users, converters,
        |    CAST((CAST(converters AS HUGEINT) * 1000000) // users
        |      AS BIGINT) AS conv_ppm FROM v),
        |c AS (SELECT conv_ppm AS p0 FROM v2 WHERE variant = 0)
        |SELECT variant, users, converters, conv_ppm,
        |  CAST(CASE WHEN conv_ppm >= p0
        |    THEN (CAST(conv_ppm - p0 AS HUGEINT) * 1000000) // p0
        |    ELSE -((CAST(p0 - conv_ppm AS HUGEINT) * 1000000) // p0)
        |    END AS BIGINT) AS lift_ppm
        |FROM v2, c ORDER BY variant""".stripMargin,
    // bollinger: integer rolling sums, then ONE shared IEEE tree per
    // band (cast, sqrt, /, fused nothing) — textually parallel to
    // the Spark expressions so the doubles hash identically
    "q_bollinger" ->
      """WITH x AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc,
        |    count(*) OVER w AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
        |      AS BIGINT) AS s,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)
        |      * CAST(round(value * 100) AS BIGINT)) OVER w
        |      AS BIGINT) AS q
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 20 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, vc AS value_c,
        |  CAST(s AS DOUBLE) / 2100.0 AS mid,
        |  CAST(s AS DOUBLE) / 2100.0 + 2.0 *
        |    (sqrt(CAST(21 * q - s * s AS DOUBLE)) / 2100.0) AS upper,
        |  CAST(s AS DOUBLE) / 2100.0 - 2.0 *
        |    (sqrt(CAST(21 * q - s * s AS DOUBLE)) / 2100.0) AS lower
        |FROM x WHERE n = 21 ORDER BY user_id, event_id""".stripMargin,
    // linear attribution: the trailing history is collected
    // UNCONDITIONALLY and filtered in list space on both sides — no
    // aggregate null-skip semantics in play
    "q_attribution_linear" ->
      """WITH x AS (SELECT user_id AS k, event_id AS i,
        |    epoch_us(ts) AS t, event_type AS ty FROM events),
        |w AS (SELECT k, i, t, ty,
        |    list(struct_pack(tu := t, ty := ty)) OVER
        |      (PARTITION BY k ORDER BY t, i
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS hist
        |  FROM x),
        |c AS (SELECT t, coalesce(list_filter(hist, e ->
        |      e.ty <> 'purchase' AND e.tu >= t - 3600000000),
        |      []) AS touches
        |  FROM w WHERE ty = 'purchase'),
        |cr AS (SELECT CASE WHEN len(touches) = 0
        |    THEN [struct_pack(channel := 'organic',
        |      credit := CAST(1000000 AS BIGINT))]
        |    ELSE list_transform(touches, e -> struct_pack(
        |      channel := e.ty,
        |      credit := CAST(1000000 // len(touches) AS BIGINT)))
        |    END AS cs
        |  FROM c),
        |u AS (SELECT unnest(cs) AS c FROM cr)
        |SELECT c.channel AS channel,
        |  CAST(sum(c.credit) AS BIGINT) AS credit_ppm
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // IQR outliers: the explicit ⌈n/4⌉ selection contract and the
    // 2v-vs-3·IQR integer comparison, replayed in list space
    "q_iqr_outliers" ->
      """WITH a AS (SELECT event_type,
        |    list_sort(list(CAST(round(value * 100) AS BIGINT)))
        |      AS arr
        |  FROM events GROUP BY 1),
        |q AS (SELECT event_type, arr, CAST(len(arr) AS BIGINT) AS n,
        |    arr[(len(arr) + 3) // 4] AS q1,
        |    arr[(len(arr) * 3 + 3) // 4] AS q3
        |  FROM a)
        |SELECT event_type, n, q1 AS q1_c, q3 AS q3_c,
        |  CAST(len(list_filter(arr, v ->
        |    2 * v < 2 * q1 - 3 * (q3 - q1) OR
        |    2 * v > 2 * q3 + 3 * (q3 - q1))) AS BIGINT)
        |    AS n_outliers
        |FROM q ORDER BY event_type""".stripMargin,
    "q_vwap" ->
      """SELECT date_trunc('month', CAST(l_shipdate AS TIMESTAMP))
        |    AS bucket,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS volume,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(round(l_quantity) AS BIGINT))
        |    // sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS vwap_c
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // benford: expected shares are compile-time ppm literals on both
    // sides — no runtime log10 anywhere
    "q_benford" ->
      """WITH c AS (SELECT CAST(substr(CAST(CAST(round(
        |      l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS BIGINT) AS digit,
        |    count(*) AS n
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  CAST((CAST(n AS HUGEINT) * 1000000) // tot AS BIGINT)
        |    AS observed_ppm,
        |  CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |    WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |    WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |    WHEN 9 THEN 45757 END AS BIGINT) AS expected_ppm
        |FROM c, t ORDER BY digit""".stripMargin,
    "q_chi_cells" ->
      """WITH c AS (SELECT l_returnflag AS a, l_linestatus AS b,
        |    count(*) AS n FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT a, CAST(sum(n) AS BIGINT) AS rm FROM c
        |  GROUP BY 1),
        |m AS (SELECT b, CAST(sum(n) AS BIGINT) AS cm FROM c
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c)
        |SELECT c.a AS a, c.b AS b, c.n AS n,
        |  CAST((CAST(rm AS HUGEINT) * cm * 1000000) // tt AS BIGINT)
        |    AS expected_ppm,
        |  CAST((CAST(c.n AS HUGEINT) * tt * 1000000)
        |    // (CAST(rm AS HUGEINT) * cm) AS BIGINT) AS lift_ppm
        |FROM c JOIN r ON c.a = r.a JOIN m ON c.b = m.b, t
        |ORDER BY a, b""".stripMargin,
    // snapshot diff: the three change classes re-derived as filters
    // over the source parquet (DELETE pred / UPDATE pred on the
    // survivors / the INSERT subset shifted by 1e8)
    "q_snapshot_diff" ->
      """SELECT o_orderkey, 'removed' AS change_type FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice < 30000
        |UNION ALL
        |SELECT o_orderkey, 'changed' FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 30000)
        |  AND o_orderkey % 1000 = 0
        |UNION ALL
        |SELECT o_orderkey + 100000000, 'added' FROM orders
        |WHERE o_orderkey % 5000 = 0
        |ORDER BY o_orderkey, change_type""".stripMargin,
    "q_forget_user" ->
      """SELECT 'lineitem' AS tbl, count(*) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem WHERE l_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0)
        |UNION ALL
        |SELECT 'orders', count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_custkey % 97 <> 0
        |ORDER BY tbl""".stripMargin,
    // LTTB: the sequential largest-triangle selection replayed as a
    // recursive CTE over the bucket chain — same rebased seconds,
    // same division-free cross product, same (area, t, id) tie rule
    "q_lttb" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id AS k, epoch_us(ts) // 1000000 AS t0,
        |    event_id AS i, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |b2 AS (SELECT k, t0 - min(t0) OVER (PARTITION BY k) AS t,
        |    i, v,
        |    row_number() OVER (PARTITION BY k ORDER BY t0, i) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n
        |  FROM base),
        |fl AS (SELECT k, t, v, i FROM b2 WHERE rn = 1 OR rn = n),
        |firstp AS (SELECT k, t AS ft, v AS fv FROM b2 WHERE rn = 1),
        |lastp AS (SELECT k, t AS lt, v AS lv FROM b2 WHERE rn = n),
        |inter AS (SELECT k, t, i, v, (rn - 2) // 20 AS b FROM b2
        |  WHERE rn > 1 AND rn < n),
        |bk AS (SELECT k, b,
        |    list(struct_pack(t := t, i := i, v := v)
        |      ORDER BY t, i) AS pts,
        |    CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(v) AS BIGINT) AS sv, count(*) AS m
        |  FROM inter GROUP BY 1, 2),
        |ch AS (SELECT bk.k AS k, bk.b AS b, pts,
        |    coalesce(lead(st) OVER w2, lt) AS bx,
        |    coalesce(lead(sv) OVER w2, lv) AS by2,
        |    coalesce(lead(m) OVER w2, 1) AS bm
        |  FROM bk JOIN lastp ON lastp.k = bk.k
        |  WINDOW w2 AS (PARTITION BY bk.k ORDER BY bk.b)),
        |rec AS (
        |  SELECT k, CAST(-1 AS BIGINT) AS b, ft AS selt,
        |    fv AS selv, CAST(NULL AS BIGINT) AS seli
        |  FROM firstp
        |  UNION ALL
        |  SELECT k, b, bp.t, bp.v, bp.i FROM (
        |    SELECT c.k AS k, c.b AS b,
        |      (list_sort(list_transform(c.pts, p -> struct_pack(
        |        na := -abs((p.t - r.selt) *
        |            (c.by2 - c.bm * r.selv) -
        |          (c.bx - c.bm * r.selt) * (p.v - r.selv)),
        |        t := p.t, i := p.i, v := p.v))))[1] AS bp
        |    FROM rec r JOIN ch c ON c.k = r.k AND c.b = r.b + 1) q)
        |SELECT k AS user_id, selt AS t_s, selv AS value_c,
        |  seli AS id
        |FROM rec WHERE b >= 0
        |UNION ALL
        |SELECT k, t, v, i FROM fl
        |ORDER BY user_id, t_s, id""".stripMargin,
    // daily-count correlation: exact integer sums over shared days,
    // one num/sqrt(a*b) tree — textually parallel double ops
    "q_daily_corr" ->
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
        |    count(*) AS y FROM events GROUP BY 1, 2),
        |j AS (SELECT a.k AS ka, b.k AS kb, a.y AS x, b.y AS y
        |  FROM d a JOIN d b ON a.d = b.d AND a.k < b.k),
        |s AS (SELECT ka, kb, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT ka AS key_a, kb AS key_b, n AS n_days,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |      CAST(n * syy - sy * sy AS DOUBLE)) AS corr
        |FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY key_a, key_b""".stripMargin,
    "q_cooccur" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
        |  FROM events),
        |tot AS (SELECT count(DISTINCT u) AS total FROM ut)
        |SELECT a.t AS type_a, b.t AS type_b,
        |  count(*) AS n_both,
        |  CAST((CAST(count(*) AS HUGEINT) * 1000000) // total
        |    AS BIGINT) AS support_ppm
        |FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t, tot
        |GROUP BY a.t, b.t, total
        |ORDER BY type_a, type_b""".stripMargin,
    // rolling exact distinct: each (user, day) votes into the 7
    // windows ending d..d+6; only days present in the data report
    "q_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE)
        |    AS d FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |win AS (SELECT DISTINCT u, d + CAST(x AS INTEGER) AS day
        |  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6))
        |    AS x) g),
        |f AS (SELECT w.u, w.day FROM win w
        |  JOIN days ON days.d = w.day)
        |SELECT CAST(day AS TIMESTAMP) AS day,
        |  CAST(count(*) AS BIGINT) AS n_distinct
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mom_revenue" ->
      """WITH m AS (SELECT date_trunc('month',
        |      CAST(l_shipdate AS TIMESTAMP)) AS bucket,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS total_c
        |  FROM lineitem GROUP BY 1),
        |l AS (SELECT bucket, total_c,
        |    lag(total_c) OVER (ORDER BY bucket) AS prev FROM m)
        |SELECT bucket, total_c,
        |  CASE WHEN prev IS NULL OR prev = 0 THEN NULL
        |    WHEN total_c >= prev THEN CAST((CAST(total_c - prev
        |      AS HUGEINT) * 1000000) // prev AS BIGINT)
        |    ELSE -CAST((CAST(prev - total_c AS HUGEINT) * 1000000)
        |      // prev AS BIGINT) END AS change_ppm
        |FROM l ORDER BY bucket""".stripMargin,
    // equi-depth histogram: the same ⌈k·n/8⌉ selection in list
    // space, strict-below bucket rule
    "q_hist_eqdepth" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100)
        |    AS BIGINT) AS vc FROM lineitem),
        |s AS (SELECT list_sort(list(vc)) AS arr, count(*) AS n
        |  FROM v),
        |b AS (SELECT list_transform([1, 2, 3, 4, 5, 6, 7], k ->
        |    arr[CAST(greatest(1, ceil((k / 8.0) * n)) AS BIGINT)])
        |    AS bounds FROM s)
        |SELECT CAST(len(list_filter(bounds, x -> x < vc)) AS BIGINT)
        |    AS bucket,
        |  count(*) AS n
        |FROM v, b GROUP BY 1 ORDER BY 1""".stripMargin,
    // round 18: unrolled integer PageRank over the replayed pair graph
    "q_pagerank" -> DuckHash.pageRankOracle(0.2),
    "q_label_prop" -> DuckHash.labelPropOracle(0.2),
    "q_modularity" -> DuckHash.modularityOracle(0.2),
    "q_bridge_pairs" -> DuckHash.bridgePairsOracle(0.2),
    "q_bridge_cut" -> DuckHash.bridgeCutOracle(0.2),
    // power users: descending row_number + per-pct cutoff rollup
    "q_power_users" ->
      """WITH c AS (SELECT user_id AS k, CAST(count(*) AS BIGINT)
        |    AS cnt FROM events GROUP BY 1),
        |r AS (SELECT k, cnt, row_number() OVER (
        |    ORDER BY cnt DESC, k) AS rn FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nu,
        |    CAST(sum(cnt) AS BIGINT) AS te FROM c),
        |p AS (SELECT CAST(unnest([0.01, 0.1]) AS DOUBLE) AS pct),
        |x AS (SELECT pct, greatest(1, CAST(ceil(pct * nu) AS BIGINT))
        |    AS tn, te FROM p CROSS JOIN t)
        |SELECT pct, tn AS top_users,
        |  CAST(sum(r.cnt) AS BIGINT) AS events_top,
        |  te AS events_total,
        |  CAST((CAST(sum(r.cnt) AS HUGEINT) * 1000000) // te
        |    AS BIGINT) AS share_ppm
        |FROM x JOIN r ON r.rn <= x.tn
        |GROUP BY pct, tn, te ORDER BY pct""".stripMargin,
    // audience overlap: distinct (type, user) self-join on the user
    "q_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS ty, user_id AS u
        |  FROM events),
        |s AS (SELECT ty, CAST(count(*) AS BIGINT) AS n FROM tu
        |  GROUP BY 1),
        |b AS (SELECT a.ty AS type_a, b.ty AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.ty < b.ty
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  CAST((CAST(n_both AS HUGEINT) * 1000000)
        |    // (sa.n + sb.n - n_both) AS BIGINT) AS jaccard_ppm
        |FROM b JOIN s sa ON sa.ty = b.type_a
        |  JOIN s sb ON sb.ty = b.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // hour-of-week heatmap: explicit epoch-day DOW, session-UTC hour
    "q_hourly_heatmap" ->
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hour,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // lag-1 autocorrelation: the q_daily_corr Pearson tree over
    // (day, day+1) pairs of the same type's daily counts
    "q_autocorr" ->
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
        |    count(*) AS y FROM events GROUP BY 1, 2),
        |j AS (SELECT a.k, a.y AS x, b.y AS y FROM d a
        |  JOIN d b ON b.k = a.k AND b.d = a.d + 1),
        |s AS (SELECT k, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1 HAVING count(*) >= 2)
        |SELECT k AS event_type, n AS n_pairs,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |      CAST(n * syy - sy * sy AS DOUBLE)) AS autocorr
        |FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |ORDER BY event_type""".stripMargin,
    // inter-event cv^2: (n*S2 - S1^2)*1e6 // S1^2 on HUGEINT
    "q_iet_cv" ->
      """WITH x AS (SELECT user_id, epoch_us(ts) AS t, event_id AS i
        |  FROM events),
        |g AS (SELECT user_id, t - lag(t) OVER (PARTITION BY user_id
        |    ORDER BY t, i) AS d FROM x),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(d) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS s2
        |  FROM g WHERE d IS NOT NULL GROUP BY 1)
        |SELECT user_id, n AS n_gaps,
        |  CAST(s1 // n AS BIGINT) AS mean_gap_us,
        |  CAST(((n * s2 - s1 * s1) * 1000000) // (s1 * s1)
        |    AS BIGINT) AS cv2_ppm
        |FROM s WHERE n >= 2 AND s1 > 0 ORDER BY user_id""".stripMargin,
    // MAD: two exact rank-selected medians (value, then |v - med|)
    "q_mad" ->
      """WITH b AS (SELECT event_type AS k,
        |    CAST(round(value * 100) AS BIGINT) AS vc, event_id AS i
        |  FROM events),
        |n1 AS (SELECT k, count(*) AS c FROM b GROUP BY 1),
        |r1 AS (SELECT k, vc, row_number() OVER (PARTITION BY k
        |    ORDER BY vc, i) AS rn FROM b),
        |med AS (SELECT r1.k, vc AS median_c FROM r1
        |  JOIN n1 ON r1.k = n1.k
        |    AND r1.rn = greatest(1, CAST(ceil(0.5 * c) AS BIGINT))),
        |dv AS (SELECT b.k, abs(b.vc - med.median_c) AS dev, b.i,
        |    med.median_c FROM b JOIN med ON b.k = med.k),
        |r2 AS (SELECT k, dev, median_c, row_number() OVER (
        |    PARTITION BY k ORDER BY dev, i) AS rn FROM dv)
        |SELECT r2.k AS event_type, median_c, dev AS mad_c
        |FROM r2 JOIN n1 ON r2.k = n1.k
        |  AND r2.rn = greatest(1, CAST(ceil(0.5 * c) AS BIGINT))
        |ORDER BY event_type""".stripMargin,
    // type-token ratio: whitespace tokens, exact distinct ppm
    "q_ttr" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(text, '\S+') AS ts FROM documents)
        |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
        |  CAST((CAST(len(list_distinct(ts)) AS HUGEINT) * 1000000)
        |    // len(ts) AS BIGINT) AS ttr_ppm
        |FROM t WHERE len(ts) > 0 ORDER BY doc_id""".stripMargin,
    // gaps-and-islands: day - row_number constant over a streak
    "q_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events),
        |g AS (SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS grp
        |  FROM d),
        |l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS len
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
        |  CAST(max(len) AS BIGINT) AS max_streak
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    // seasonal-naive: predict day d with day d-7; exact |err| mass
    "q_seasonal_error" ->
      """WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |j AS (SELECT a.k, a.y AS actual, p.y AS pred
        |  FROM daily a JOIN daily p
        |    ON p.k = a.k AND p.d + 7 = a.d)
        |SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(actual - pred)) AS BIGINT) AS total_abs_err,
        |  CAST((CAST(sum(abs(actual - pred)) AS HUGEINT) * 1000000)
        |    // sum(actual) AS BIGINT) AS wmape_ppm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // strict local maxima over rank-adjacent observed days
    "q_peak_days" ->
      """WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |x AS (SELECT k, d, y,
        |    lag(y) OVER (PARTITION BY k ORDER BY d) AS p,
        |    lead(y) OVER (PARTITION BY k ORDER BY d) AS nx
        |  FROM daily)
        |SELECT k AS event_type, CAST(d AS TIMESTAMP) AS day,
        |  y AS n_events
        |FROM x WHERE p IS NOT NULL AND nx IS NOT NULL
        |  AND y > p AND y > nx
        |ORDER BY event_type, day""".stripMargin,
    // H*1e6 = ln(n)*1e6 - (sum c*round(ln(c)*1e6)) // n, all integer
    "q_type_entropy" ->
      """WITH ct AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CAST(c AS HUGEINT) *
        |      CAST(round(ln(c) * 1000000) AS BIGINT)) AS HUGEINT)
        |      AS sclnc
        |  FROM ct GROUP BY 1)
        |SELECT user_id, n AS n_events, n_types,
        |  CAST(CAST(round(ln(n) * 1000000) AS BIGINT) - sclnc // n
        |    AS BIGINT) AS entropy_unat
        |FROM s ORDER BY user_id""".stripMargin,
    // integer OLS of quantized ln(freq) on ln(rank), floored slope
    "q_zipf_slope" ->
      """WITH tf AS (SELECT term, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(regexp_extract_all(text, '\S+'))
        |      AS term FROM documents)
        |  GROUP BY 1),
        |top AS (SELECT term, f FROM tf
        |  ORDER BY f DESC, term LIMIT 500),
        |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, term)
        |    AS r
        |  FROM top),
        |q AS (SELECT CAST(round(ln(r) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(f) * 1000000) AS BIGINT) AS y FROM rk),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM q)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  CAST(CASE WHEN n * sxy - sx * sy < 0
        |    THEN -((-(n * sxy - sx * sy) * 1000000
        |      + (n * sxx - sx * sx) - 1) // (n * sxx - sx * sx))
        |    ELSE ((n * sxy - sx * sy) * 1000000)
        |      // (n * sxx - sx * sx) END AS BIGINT) AS slope_ppm
        |FROM s""".stripMargin,
    // Heaps law: terms charge their FIRST id-decile; two rollups
    "q_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |tk AS (SELECT least(9, (doc_id * 10) // (mx + 1)) AS decile,
        |    unnest(regexp_extract_all(text, '\S+')) AS term
        |  FROM documents CROSS JOIN mx),
        |bt AS (SELECT decile, CAST(count(*) AS BIGINT)
        |    AS bucket_tokens FROM tk GROUP BY 1),
        |fs AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_terms
        |  FROM (SELECT term, min(decile) AS decile FROM tk
        |    GROUP BY 1) GROUP BY 1),
        |u AS (SELECT coalesce(bt.decile, fs.decile) AS decile,
        |    coalesce(bucket_tokens, 0) AS bucket_tokens,
        |    coalesce(new_terms, 0) AS new_terms
        |  FROM bt FULL OUTER JOIN fs ON bt.decile = fs.decile)
        |SELECT CAST(decile AS BIGINT) AS decile, bucket_tokens,
        |  new_terms,
        |  CAST(sum(bucket_tokens) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_tokens,
        |  CAST(sum(new_terms) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_vocab
        |FROM u ORDER BY decile""".stripMargin,
    // quality deciles (real NTILE) x benchmark contamination flags
    "q_quality_vs_decon" ->
      """WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |grams AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ts[i:i+2], ' ')
        |     FOR i IN generate_series(1, greatest(len(ts)-2, 0))]))
        |    AS gram
        |  FROM tok),
        |bench AS (SELECT DISTINCT gram FROM grams
        |  WHERE doc_id % 97 = 0),
        |corp AS (SELECT doc_id, gram FROM grams
        |  WHERE doc_id % 97 <> 0),
        |dc AS (SELECT c.doc_id,
        |    CAST((sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
        |      >= 1) AS INTEGER) AS c
        |  FROM corp c LEFT JOIN bench b ON c.gram = b.gram
        |  GROUP BY c.doc_id),
        |d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t <> '') AS ws,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS sents
        |  FROM documents WHERE doc_id % 97 <> 0),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(sents AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(ws, w -> greatest(1,
        |      len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT)
        |      AS n_syllables
        |  FROM d WHERE len(ws) >= 1),
        |r AS (SELECT doc_id,
        |    CAST(206835 - (1015 * n_words) // n_sentences
        |      - (84600 * n_syllables) // n_words AS BIGINT)
        |      AS fre_milli
        |  FROM m),
        |j AS (SELECT r.doc_id, r.fre_milli, dc.c
        |  FROM r JOIN dc USING (doc_id)),
        |nt AS (SELECT c,
        |    ntile(10) OVER (ORDER BY fre_milli, doc_id) AS decile
        |  FROM j)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(c) AS BIGINT) AS n_contaminated,
        |  CAST((CAST(sum(c) AS HUGEINT) * 1000000) // count(*)
        |    AS BIGINT) AS contamination_ppm
        |FROM nt GROUP BY 1 ORDER BY 1""".stripMargin,
    // bounce = share of gap-split sessions with exactly one event
    "q_bounce_rate" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id)
        |        > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g),
        |per AS (SELECT user_id, sess_id,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bounces,
        |  CAST((CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
        |    AS HUGEINT) * 1000000) // count(*) AS BIGINT)
        |    AS bounce_ppm
        |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin,
    // weekend/weekday mean-rate lift, fractions cleared
    "q_weekend_lift" ->
      """WITH daily AS (SELECT event_type AS k,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS d,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |cls AS (SELECT k, y, ((d + 4) % 7) IN (0, 6) AS we
        |  FROM daily),
        |s AS (SELECT k,
        |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS weekday_days,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS weekend_days,
        |    CAST(sum(CASE WHEN NOT we THEN y ELSE 0 END) AS BIGINT)
        |      AS weekday_events,
        |    CAST(sum(CASE WHEN we THEN y ELSE 0 END) AS BIGINT)
        |      AS weekend_events
        |  FROM cls GROUP BY 1)
        |SELECT k AS event_type, weekday_days, weekend_days,
        |  weekday_events, weekend_events,
        |  CAST((CAST(weekend_events AS HUGEINT) * weekday_days
        |    * 1000000) // (CAST(weekday_events AS HUGEINT)
        |    * weekend_days) AS BIGINT) AS lift_ppm
        |FROM s WHERE weekday_days > 0 AND weekend_days > 0
        |  AND weekday_events > 0
        |ORDER BY event_type""".stripMargin,
    // KL(weekday||weekend) per-type contributions, quantized-ln
    "q_type_drift" ->
      """WITH cls AS (SELECT event_type AS ty,
        |    ((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      + 4) % 7) IN (0, 6) AS we
        |  FROM events),
        |bt AS (SELECT ty,
        |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wd,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wk
        |  FROM cls GROUP BY 1),
        |bt2 AS (SELECT * FROM bt WHERE wd > 0 AND wk > 0),
        |tot AS (SELECT CAST(sum(wd) AS BIGINT) AS cw,
        |    CAST(sum(wk) AS BIGINT) AS ce FROM bt2)
        |SELECT ty AS event_type, wd AS weekday_n, wk AS weekend_n,
        |  CAST((CAST(wd AS HUGEINT) *
        |    (CAST(round(ln(wd) * 1000000) AS BIGINT)
        |     - CAST(round(ln(cw) * 1000000) AS BIGINT)
        |     - CAST(round(ln(wk) * 1000000) AS BIGINT)
        |     + CAST(round(ln(ce) * 1000000) AS BIGINT))) // cw
        |    AS BIGINT) AS contrib_unat
        |FROM bt2 CROSS JOIN tot ORDER BY event_type""".stripMargin,
    // session-size histogram over the same gap split as sessionize
    "q_session_depths" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id)
        |        > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g),
        |per AS (SELECT user_id, sess_id,
        |    CAST(count(*) AS BIGINT) AS session_events
        |  FROM s GROUP BY 1, 2)
        |SELECT session_events, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // new vs returning: first-touch week vs distinct active weeks
    "q_new_returning" ->
      """WITH f AS (SELECT user_id AS k,
        |    date_trunc('week', min(ts)) AS fw FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id AS k, date_trunc('week', ts)
        |    AS w FROM events)
        |SELECT CAST(w AS TIMESTAMP) AS week,
        |  CAST(sum(CASE WHEN w = fw THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN w <> fw THEN 1 ELSE 0 END) AS BIGINT)
        |    AS returning_users
        |FROM a JOIN f USING (k) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_minhash_est" -> DuckHash.minhashEstimateOracle(0.2),
    "q_cluster_quality" -> DuckHash.clusterQualityOracle(0.2),
    "q_dup_inflation" -> DuckHash.dupInflationOracle(0.2),
    "q_curriculum" -> DuckHash.curriculumOracle(4),
    "q_kcore" -> DuckHash.kCoreOracle(0.2),
    "q_tok_fertility" -> DuckHash.bpeFertilityOracle(BpeMerges),
    // radius ANN: the q_ann_lsh probe machinery with a threshold
    // instead of a rank cut
    "q_ann_radius" -> {
      val b = duckBucketExpr("v", operators.Ann.hyperplanes(6, 64, 42L))
      val masks = (0 until 64).filter(m => Integer.bitCount(m) <= 2)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, $b AS bucket
         |  FROM e),
         |q0 AS (SELECT vec_id AS query_id, v AS qv, $b AS qb
         |  FROM e WHERE vec_id < 8),
         |q AS (SELECT query_id, qv, xor(qb, masks.m) AS bucket
         |  FROM q0 CROSS JOIN (SELECT unnest($masks) AS m) masks),
         |s AS (SELECT DISTINCT query_id, neighbor_id,
         |    list_cosine_similarity(qv, cv) AS rawcos
         |  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos
         |FROM s WHERE rawcos >= 0.2
         |ORDER BY query_id, neighbor_id""".stripMargin
    },
    // norm health: sequential-fold L2 norms, quantized + binned
    "q_embed_norms" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, CAST(round(sqrt(list_reduce(
        |    list_prepend(0.0, v), (a, x) -> a + x * x)) * 10000)
        |    AS BIGINT) AS norm_e4 FROM e)
        |SELECT norm_e4 // 1000 AS bin, count(*) AS n_vecs,
        |  CAST(min(norm_e4) AS BIGINT) AS min_norm_e4,
        |  CAST(max(norm_e4) AS BIGINT) AS max_norm_e4
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // TWAP: hold-until-next weighting, lead window + one rollup
    "q_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |l AS (SELECT user_id, t, vc, lead(t) OVER (
        |    PARTITION BY user_id ORDER BY t, event_id) AS nt FROM e)
        |SELECT user_id, CAST(sum(nt - t) AS BIGINT) AS span_us,
        |  CAST(sum(CAST(nt - t AS HUGEINT) * vc) // sum(nt - t)
        |    AS BIGINT) AS twap_c
        |FROM l WHERE nt IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // max drawdown: running max window + rollup, exact cents
    "q_drawdown" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |p AS (SELECT user_id, vc, max(vc) OVER (PARTITION BY user_id
        |    ORDER BY tu, event_id ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(max(vc) AS BIGINT) AS peak_c,
        |  CAST(max(peak - vc) AS BIGINT) AS max_drawdown_c
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // cohort LTV: retention's grid with cent sums + running cumulative
    "q_cohort_ltv" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |c AS (SELECT f.cw,
        |    CAST(datediff('day', f.cw, date_trunc('week', e.ts)) // 7
        |      AS BIGINT) AS week_offset,
        |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |      AS revenue_c
        |  FROM events e JOIN f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(cw AS TIMESTAMP) AS cohort_week, week_offset,
        |  revenue_c,
        |  CAST(sum(revenue_c) OVER (PARTITION BY cw
        |    ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_revenue_c
        |FROM c ORDER BY 1, 2""".stripMargin,
    // stickiness: WAU / trailing-4-week MAU via the vote explode
    "q_stickiness" ->
      """WITH uw AS (SELECT DISTINCT user_id AS u,
        |    date_trunc('week', ts) AS w FROM events),
        |wa AS (SELECT w, CAST(count(*) AS BIGINT) AS wau FROM uw
        |  GROUP BY 1),
        |votes AS (SELECT DISTINCT u, w + i * INTERVAL 7 DAY AS wv
        |  FROM uw, unnest([0, 1, 2, 3]) AS t(i)),
        |ma AS (SELECT wv AS w, CAST(count(*) AS BIGINT) AS mau
        |  FROM votes WHERE wv IN (SELECT w FROM uw) GROUP BY 1)
        |SELECT CAST(w AS TIMESTAMP) AS week, wau, mau,
        |  CAST((wau * 1000000) // mau AS BIGINT) AS stickiness_ppm
        |FROM wa JOIN ma USING (w) ORDER BY week""".stripMargin,
    // Gini: exact rational over ascending-count row_numbers
    "q_gini" ->
      """WITH pu AS (SELECT event_type AS ty, user_id AS u,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |r AS (SELECT ty, x, row_number() OVER (PARTITION BY ty
        |    ORDER BY x, u) AS i FROM pu)
        |SELECT ty AS event_type, count(*) AS n_entities,
        |  CAST(sum(x) AS BIGINT) AS total_events,
        |  CAST((2 * sum(CAST(i AS HUGEINT) * x) -
        |      (count(*) + 1) * sum(x)) * 1000000
        |    // (count(*) * sum(x)) AS BIGINT) AS gini_ppm
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // RFM: explicit ⌊(rank−1)·4/n⌋+1 buckets over row_numbers
    "q_rfm" ->
      """WITH pu AS (SELECT user_id AS u, max(CAST(ts AS DATE))
        |      AS lastd,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS mon
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(lastd) AS gmax FROM pu),
        |b AS (SELECT u, CAST(datediff('day', lastd, gmax) AS BIGINT)
        |    AS rec, freq, mon FROM pu, g),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY rec DESC, u) AS rrn,
        |    row_number() OVER (ORDER BY freq, u) AS frn,
        |    row_number() OVER (ORDER BY mon, u) AS mrn,
        |    count(*) OVER () AS n FROM b)
        |SELECT u AS user_id, rec AS recency_days, freq AS frequency,
        |  mon AS monetary_c,
        |  CAST(((rrn - 1) * 4) // n + 1 AS BIGINT) AS r_bucket,
        |  CAST(((frn - 1) * 4) // n + 1 AS BIGINT) AS f_bucket,
        |  CAST(((mrn - 1) * 4) // n + 1 AS BIGINT) AS m_bucket,
        |  CAST((((rrn - 1) * 4) // n + 1) * 100 +
        |    (((frn - 1) * 4) // n + 1) * 10 +
        |    (((mrn - 1) * 4) // n + 1) AS BIGINT) AS segment
        |FROM r ORDER BY user_id""".stripMargin,
    // changepoint: floored SSE-reduction argmax over prefix sums —
    // the same (sorted array → indexed list transform → struct
    // argmax) shape as q_lttb's oracle. QUALIFY replays
    // EventOps.changepoint's disclosed earliest-2^16 per-key cap
    // (maxEventsPerKey default) before the list build.
    "q_changepoint" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_id AS i,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) <= 65536),
        |s AS (SELECT user_id, list_transform(
        |      list_sort(list(struct_pack(t := tu, i := i, v := vc))),
        |      r -> r.v) AS vs
        |  FROM e GROUP BY 1),
        |p AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
        |    list_transform(vs, (x, j) ->
        |      CAST(list_sum(vs[1:j]) AS HUGEINT)) AS pre
        |  FROM s WHERE len(vs) >= 2),
        |b AS (SELECT user_id, n, pre[CAST(n AS INTEGER)] AS s1,
        |    (list_sort(list_transform(pre[1:CAST(n - 1 AS INTEGER)],
        |      (sp, k) -> struct_pack(
        |        negs := -((sp * sp * (n - k) +
        |          (pre[CAST(n AS INTEGER)] - sp) *
        |          (pre[CAST(n AS INTEGER)] - sp) * k)
        |          // (k * (n - k))),
        |        k := CAST(k AS BIGINT), sp := sp))))[1] AS best
        |  FROM p)
        |SELECT user_id, n AS n_events, best.k AS split_idx,
        |  CAST(CASE WHEN best.sp < 0
        |    THEN -((-best.sp + best.k - 1) // best.k)
        |    ELSE best.sp // best.k END AS BIGINT) AS left_mean_c,
        |  CAST(CASE WHEN s1 - best.sp < 0
        |    THEN -((best.sp - s1 + (n - best.k) - 1) // (n - best.k))
        |    ELSE (s1 - best.sp) // (n - best.k) END AS BIGINT)
        |    AS right_mean_c
        |FROM b ORDER BY user_id""".stripMargin,
    // readability: integer Flesch with disclosed floors
    "q_readability" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t <> '') AS ws,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS sents
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(sents AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(ws, w -> greatest(1,
        |      len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT)
        |      AS n_syllables
        |  FROM d WHERE len(ws) >= 1)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(206835 - (1015 * n_words) // n_sentences
        |    - (84600 * n_syllables) // n_words AS BIGINT)
        |    AS fre_milli
        |FROM m ORDER BY doc_id""".stripMargin,
    // readability percentile: the same Flesch CTEs + percent_rank
    "q_readability_pct" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t <> '') AS ws,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      AS sents
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(sents AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(ws, w -> greatest(1,
        |      len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT)
        |      AS n_syllables
        |  FROM d WHERE len(ws) >= 1),
        |r AS (SELECT doc_id,
        |    CAST(206835 - (1015 * n_words) // n_sentences
        |      - (84600 * n_syllables) // n_words AS BIGINT)
        |      AS fre_milli
        |  FROM m)
        |SELECT doc_id, fre_milli,
        |  percent_rank() OVER (ORDER BY fre_milli) AS pct
        |FROM r ORDER BY doc_id""".stripMargin,
    // churn hazard: last-observed-week churn / reverse-cumulative risk
    "q_hazard" ->
      """WITH s AS (SELECT user_id, date_trunc('week', min(ts)) AS cw,
        |    date_trunc('week', max(ts)) AS lw FROM events GROUP BY 1),
        |a AS (SELECT CAST(datediff('day', cw, lw) // 7 AS BIGINT)
        |    AS age_weeks, CAST(count(*) AS BIGINT) AS churned
        |  FROM s GROUP BY 1)
        |SELECT age_weeks, churned,
        |  CAST(sum(churned) OVER (ORDER BY age_weeks DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk,
        |  CAST((CAST(churned AS HUGEINT) * 1000000) //
        |    sum(churned) OVER (ORDER BY age_weeks DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hazard_ppm
        |FROM a ORDER BY age_weeks""".stripMargin,
    // ROUGE-2: clipped bigram overlap via per-doc gram counts and a
    // least() sum, the indexed-lambda bigram builder mirroring the
    // Spark sequence/transform exactly
    "q_rouge_pairs" ->
      """WITH d AS (SELECT doc_id AS id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      t -> t <> '') AS tk
        |  FROM documents WHERE doc_id < 40),
        |g0 AS (SELECT id, list_filter(list_transform(tk, (x, i) ->
        |    CASE WHEN i < len(tk) THEN x || ' ' || tk[i + 1] END),
        |    v -> v IS NOT NULL) AS gs FROM d),
        |g AS (SELECT id, unnest(gs) AS g FROM g0),
        |c AS (SELECT id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |l AS (SELECT id, CAST(sum(c) AS BIGINT) AS len FROM c
        |  GROUP BY 1),
        |o AS (SELECT ca.id AS ia, cb.id AS ib,
        |    CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS ov
        |  FROM c ca JOIN c cb ON ca.g = cb.g AND ca.id < cb.id
        |  GROUP BY 1, 2),
        |p AS (SELECT la.id AS id_a, lb.id AS id_b,
        |    coalesce(o.ov, 0) AS overlap, la.len AS lena,
        |    lb.len AS lenb
        |  FROM l la JOIN l lb ON la.id < lb.id
        |  LEFT JOIN o ON o.ia = la.id AND o.ib = lb.id)
        |SELECT id_a, id_b, overlap,
        |  CAST((CAST(overlap AS HUGEINT) * 1000000) // lena
        |    AS BIGINT) AS p_ppm,
        |  CAST((CAST(overlap AS HUGEINT) * 1000000) // lenb
        |    AS BIGINT) AS r_ppm,
        |  CAST((CAST(overlap AS HUGEINT) * 2000000) // (lena + lenb)
        |    AS BIGINT) AS f1_ppm
        |FROM p ORDER BY id_a, id_b""".stripMargin,
    "q_udaf_custom" ->
      """SELECT l_returnflag,
        |round(exp(avg(ln(l_quantity))), 6) AS geo_mean_qty
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_dedup_embedding" -> {
      val b = duckBucketExpr("v", operators.Ann.hyperplanes(6, 64, 42L))
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |k AS (SELECT id, v, $b AS bucket FROM e)
         |SELECT a.id AS id_a, bb.id AS id_b,
         |round(list_cosine_similarity(a.v, bb.v), 4) AS cos
         |FROM k a JOIN k bb ON a.bucket = bb.bucket AND a.id < bb.id
         |WHERE list_cosine_similarity(a.v, bb.v) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q_ann_lsh" -> {
      val b = duckBucketExpr("v", operators.Ann.hyperplanes(6, 64, 42L))
      val masks = (0 until 64).filter(m => Integer.bitCount(m) <= 2)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, $b AS bucket FROM e),
         |q0 AS (SELECT vec_id AS query_id, v AS qv, $b AS qb
         |  FROM e WHERE vec_id < 8),
         |q AS (SELECT query_id, qv, xor(qb, masks.m) AS bucket
         |  FROM q0 CROSS JOIN (SELECT unnest($masks) AS m) masks),
         |s AS (SELECT DISTINCT query_id, neighbor_id,
         |    list_cosine_similarity(qv, cv) AS rawcos
         |  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, rawcos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rawcos DESC, neighbor_id) AS INTEGER) AS rnk
         |  FROM s)
         |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos, rnk
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    },
    // SQ8: the oracle re-derives the WHOLE quantizer independently
    // (exact per-dim min/max is an order-independent aggregate over
    // the same doubles), then reproduces every 8-bit code with the
    // pinned clamp(floor(((x-mn)/span)*255+0.5)) formula, dequantizes,
    // shortlists and reranks — static SQL, no rendered model
    "q_ann_sq" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |st AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
         |  FROM e, unnest(generate_series(1, 64)) AS g(i)
         |  GROUP BY i),
         |sa AS (SELECT list(mn ORDER BY i) AS mns,
         |    list(mx ORDER BY i) AS mxs FROM st),
         |r AS (SELECT vec_id, v,
         |    [CASE WHEN (mxs[i] - mns[i]) <= 0 THEN mns[i]
         |          ELSE mns[i] + (least(255.0, greatest(0.0,
         |            floor(((v[i] - mns[i]) / (mxs[i] - mns[i]))
         |              * 255 + 0.5))) / 255.0) * (mxs[i] - mns[i]) END
         |     FOR i IN generate_series(1, 64)] AS recon
         |  FROM e, sa),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, recon FROM r),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |  WHERE vec_id < 8),
         |s AS (SELECT query_id, neighbor_id, qv, cv,
         |    list_cosine_similarity(qv, recon) AS acos
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |sh AS (SELECT query_id, neighbor_id, qv, cv,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY acos DESC, neighbor_id) AS arnk FROM s),
         |rr AS (SELECT query_id, neighbor_id,
         |    list_cosine_similarity(qv, cv) AS rawcos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY list_cosine_similarity(qv, cv) DESC,
         |        neighbor_id) AS INTEGER) AS rnk
         |  FROM sh WHERE arnk <= 40)
         |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos, rnk
         |FROM rr WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // recall@10 of LSH vs brute force: both retrievers recomputed in
    // SQL (the LSH CTEs verbatim from q_ann_lsh, the exact top-10
    // verbatim from q_cosine_topk), then intersected per query
    "q_ann_recall" -> {
      val b = duckBucketExpr("v", operators.Ann.hyperplanes(6, 64, 42L))
      val masks = (0 until 64).filter(m => Integer.bitCount(m) <= 2)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, $b AS bucket FROM e),
         |q0 AS (SELECT vec_id AS query_id, v AS qv, $b AS qb
         |  FROM e WHERE vec_id < 8),
         |q AS (SELECT query_id, qv, xor(qb, masks.m) AS bucket
         |  FROM q0 CROSS JOIN (SELECT unnest($masks) AS m) masks),
         |s AS (SELECT DISTINCT query_id, neighbor_id,
         |    list_cosine_similarity(qv, cv) AS rawcos
         |  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rawcos DESC, neighbor_id) AS INTEGER) AS rnk
         |  FROM s),
         |lshr AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 10),
         |bf AS (SELECT q2.vec_id AS query_id, c2.vec_id AS neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY q2.vec_id
         |    ORDER BY list_cosine_similarity(
         |        CAST(q2.embedding AS DOUBLE[]),
         |        CAST(c2.embedding AS DOUBLE[])) DESC,
         |      c2.vec_id) AS INTEGER) AS rnk
         |  FROM embeddings q2, embeddings c2
         |  WHERE q2.vec_id < 8 AND c2.vec_id <> q2.vec_id
         |  QUALIFY rnk <= 10),
         |j AS (SELECT bf.query_id,
         |    CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM bf LEFT JOIN lshr l
         |    ON bf.query_id = l.query_id
         |    AND bf.neighbor_id = l.neighbor_id)
         |SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  round(sum(hit) / CAST(count(*) AS DOUBLE), 4) AS recall
         |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
    },
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity < 10 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_partitioned_scan" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_linenumber <= 2
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,
    "q_limit_pushdown" ->
      """SELECT * FROM (SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem LIMIT 50)
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_limit_filter_combo" ->
      """SELECT * FROM (SELECT l_orderkey, l_linenumber, l_returnflag
        |FROM lineitem WHERE l_returnflag = 'A' LIMIT 30)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_v2" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,
    "q_sort" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q_join_inner" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, o_custkey, o_totalprice""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_custkey, n_name, r_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_left" ->
      """SELECT o_orderkey, o_custkey, c_name, c_acctbal FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        |ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer WHERE EXISTS (
        |SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |AND o_totalprice > 250000) ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (
        |SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |AND o_totalprice > 250000) ORDER BY c_custkey""".stripMargin,
    "q_join_range" ->
      """SELECT p_partkey, bucket, p_retailprice FROM part
        |JOIN (VALUES (0, -1e9, 1000.0), (1, 1000.0, 1500.0),
        |(2, 1500.0, 1e18)) AS b(bucket, lo, hi)
        |ON p_retailprice >= lo AND p_retailprice < hi
        |ORDER BY p_partkey, bucket""".stripMargin,
    // binned interval join vs the plain theta formulation — the bin
    // rewrite must be invisible in the result; second-granular window
    // semantics on both sides (epoch floor is monotone)
    "q_join_range_binned" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id AS user_id
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |AND CAST(floor(epoch(v.ts)) AS BIGINT) >=
        |  CAST(floor(epoch(p.ts)) AS BIGINT) - 600
        |AND CAST(floor(epoch(v.ts)) AS BIGINT) <
        |  CAST(floor(epoch(p.ts)) AS BIGINT)
        |ORDER BY view_id, purchase_id""".stripMargin,
    "q_join_asof" ->
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |s.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY purchase_id""".stripMargin,
    "q_join_asof_fwd" ->
      """SELECT g.event_id AS signup_id, g.user_id AS user_id,
        |CASE WHEN p.ts <= g.ts + INTERVAL 30 DAY THEN p.event_id END
        |  AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'signup') g
        |ASOF LEFT JOIN
        |  (SELECT * FROM events WHERE event_type = 'purchase') p
        |ON g.user_id = p.user_id AND g.ts <= p.ts
        |ORDER BY signup_id""".stripMargin,
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |  AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))
        |  * CAST(1.0 + l_tax AS DECIMAL(8,4))) AS DOUBLE) AS sum_charge,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  AS avg_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  / count(*) AS avg_price,
        |CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |  AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_tpch_q9" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |  AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
        |ORDER BY n_name, o_year DESC""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |  AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |AND o_orderdate < TIMESTAMP '1998-01-01'
        |AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |  AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |AND o_orderdate >= TIMESTAMP '1997-01-01'
        |AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |AND o_orderdate < TIMESTAMP '1997-04-01'
        |AND EXISTS (SELECT 1 FROM lineitem l
        |            WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |AND l_shipdate < TIMESTAMP '1998-01-01'
        |AND l_discount >= 0.05 AND l_discount <= 0.07
        |AND l_quantity < 24""".stripMargin,
    "q_tpch_q2" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey
        |  FROM lineitem)
        |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey
        |FROM ps
        |JOIN part p ON ps.l_partkey = p.p_partkey
        |JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE p.p_size = 15 AND p.p_type = 'LARGE'
        |AND r.r_name = 'EUROPE'
        |AND s.s_acctbal = (
        |  SELECT min(s2.s_acctbal) FROM ps ps2
        |  JOIN supplier s2 ON ps2.l_suppkey = s2.s_suppkey
        |  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |  WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'STANDARD')
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |      AS DOUBLE) >
        |    (SELECT 0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |         AS DOUBLE) /
        |       count(DISTINCT l_suppkey)
        |     FROM lineitem
        |     WHERE l_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_type = 'STANDARD')
        |       AND l_shipdate >= TIMESTAMP '1997-01-01'
        |       AND l_shipdate < TIMESTAMP '1998-01-01'))
        |ORDER BY s_name""".stripMargin,
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    l_extendedprice, l_discount
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  round(
        |    CAST(SUM(CASE WHEN n_name = 'NATION_5'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_type = 'STANDARD' AND r_name = 'AFRICA'
        |AND o_orderdate >= TIMESTAMP '1996-01-01'
        |AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_tpch_q11" ->
      """SELECT l_partkey,
        |  CAST(part_value AS DOUBLE) AS part_value
        |FROM (SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
        |  FROM lineitem GROUP BY l_partkey)
        |WHERE CAST(part_value AS DECIMAL(18,4)) >
        |  (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |     * 0.001 AS DECIMAL(18,4)) FROM lineitem)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  JOIN orders o3
        |                    ON o3.o_orderkey = l3.l_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >
        |                      o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 25""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q14" ->
      """SELECT round(100.0 *
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_tpch_q17" ->
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 4) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN (SELECT l_partkey AS ap_partkey,
        |        SUM(CAST(l_quantity AS DECIMAL(18,2))) / count(*)
        |          AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) a
        |  ON l_partkey = ap_partkey
        |WHERE p_brand = 'Brand#23'
        |AND CAST(l_quantity AS DECIMAL(18,2)) <
        |  CAST(0.5 AS DECIMAL(18,2)) * avg_qty""".stripMargin,
    "q_tpch_q19" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch_q22" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
        |  (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) / count(*)
        |   FROM customer WHERE c_acctbal > 0.0)
        |AND NOT EXISTS (SELECT 1 FROM orders o
        |                WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_subquery_exists" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT'
        |                AND o.o_totalprice > 100000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderpriority = '5-LOW')
        |ORDER BY c_custkey""".stripMargin,
    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_totalprice, o_orderkey""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |  AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_window_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderkey
        |  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |AS nearby_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_salted" ->
      """SELECT l_returnflag,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |o_orderpriority ASC NULLS FIRST, n""".stripMargin,
    "q_agg_median" ->
      """SELECT l_returnflag, median(l_quantity) AS med_qty,
        |min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_pivot" ->
      """SELECT l_linestatus,
        |CAST(SUM(CASE WHEN l_returnflag = 'A'
        |  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
        |CAST(SUM(CASE WHEN l_returnflag = 'N'
        |  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
        |CAST(SUM(CASE WHEN l_returnflag = 'R'
        |  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_subquery_scalar" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |  AS DOUBLE) / COUNT(*) FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
        |COUNT(DISTINCT l_suppkey) AS distinct_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(row_number() OVER (PARTITION BY l_returnflag
        |  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INTEGER) AS rn,
        |CAST(rank() OVER (PARTITION BY l_returnflag
        |  ORDER BY l_quantity DESC) AS INTEGER) AS rnk,
        |CAST(dense_rank() OVER (PARTITION BY l_returnflag
        |  ORDER BY l_quantity DESC) AS INTEGER) AS drnk
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, rn, rnk, drnk""".stripMargin,
    "q_window_rank_hk" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, rn FROM (
        |  SELECT l_orderkey, l_linenumber, l_suppkey,
        |    CAST(row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |      AS INTEGER) AS rn
        |  FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,
    "q_window_pct" ->
      """SELECT l_orderkey, l_linenumber,
        |percent_rank() OVER (PARTITION BY l_returnflag
        |  ORDER BY l_quantity DESC) AS prnk,
        |cume_dist() OVER (PARTITION BY l_returnflag
        |  ORDER BY l_quantity DESC) AS cume
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, prnk, cume""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id)
        |        > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id, event_id, tu,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g),
        |per AS (SELECT user_id, sess_id,
        |    count(*) AS n_events,
        |    (max(tu) - min(tu)) // 1000000 AS secs
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  max(n_events) AS max_session_events,
        |  CAST(sum(secs) AS BIGINT) AS total_active_secs
        |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin,
    // session-duration quantiles: same split, rank-position select
    "q_session_quantiles" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id)
        |        > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (SELECT user_id, event_id, tu,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g),
        |per AS (SELECT user_id, sess_id,
        |    (max(tu) - min(tu)) // 1000000 AS secs
        |  FROM s GROUP BY 1, 2),
        |r AS (SELECT secs, row_number() OVER (ORDER BY secs,
        |    user_id, sess_id) AS rn FROM per),
        |n AS (SELECT count(*) AS c FROM per)
        |SELECT q, secs
        |FROM (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q) qs
        |CROSS JOIN n JOIN r
        |  ON r.rn = greatest(1, CAST(ceil(q * c) AS BIGINT))
        |ORDER BY q""".stripMargin,
    "q_window_lag" ->
      """SELECT o_orderkey, o_custkey,
        |lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_window_running" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |  PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |AS running_qty
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_suppkey, running_qty""".stripMargin,
    "q_union" ->
      """SELECT okey, amount FROM (
        |SELECT o_orderkey AS okey, o_totalprice AS amount FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey AS okey, o_totalprice AS amount FROM orders
        |WHERE o_totalprice > 200000)
        |ORDER BY okey, amount""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
        |ORDER BY c_custkey""".stripMargin,
    "q_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
        |ORDER BY c_custkey""".stripMargin,
    "q_string_fns" ->
      """SELECT p_partkey, upper(p_brand) AS brand_up,
        |CAST(length(p_name) AS INTEGER) AS name_len,
        |substring(p_type, 1, 6) AS type_pre,
        |concat(p_brand, '-', p_type) AS brand_type,
        |(p_name LIKE '%a%') AS has_a
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_fns" ->
      """SELECT o_orderkey,
        |CAST(year(o_orderdate) AS INTEGER) AS yr,
        |CAST(month(o_orderdate) AS INTEGER) AS mo,
        |CAST(day(o_orderdate) AS INTEGER) AS dom,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start,
        |CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |  AS INTEGER) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_fns" ->
      """SELECT l_orderkey, l_linenumber,
        |abs(l_discount - 0.05) AS abs_disc,
        |CAST(floor(l_extendedprice) AS BIGINT) AS flr,
        |CAST(ceil(l_extendedprice) AS BIGINT) AS cl,
        |l_quantity * l_quantity AS qty_sq,
        |sqrt(l_extendedprice) AS price_sqrt,
        |round(ln(l_extendedprice + 1.0), 6) AS price_ln
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, flr, qty_sq""".stripMargin,
    "q_array_fns" ->
      """SELECT vec_id,
        |CAST(len(embedding) AS INTEGER) AS dim,
        |CAST(embedding[1] AS DOUBLE) AS first_elem,
        |CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_elem,
        |round(list_sum(list_transform(embedding,
        |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sum_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_json_fns" ->
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_map_struct" ->
      """SELECT event_id, t, x FROM (
        |SELECT event_id, struct_pack(t := event_type).t AS t,
        |unnest([value, value * 2]) AS x FROM events)
        |ORDER BY event_id, x""".stripMargin,
    "q_tumbling_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "q_sliding_window" ->
      """SELECT CAST(wstart AS TIMESTAMP) AS wstart, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |  time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
        |  AS wstart, value FROM events)
        |GROUP BY 1 ORDER BY wstart""".stripMargin,
    "q_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |      IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts) >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |islands AS (
        |  SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |COUNT(*) AS n FROM islands GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
        |COUNT(*) AS dup_count FROM documents GROUP BY 1
        |ORDER BY text_hash""".stripMargin,
    "q_dedup_exact_norm" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
        |g AS (SELECT doc_id,
        |  list_distinct([substring(text, CAST(x AS INTEGER), 3)
        |    FOR x IN range(1, greatest(length(text) - 1, 1))]) AS grams
        |  FROM d)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |  (len(a.grams) + len(b.grams)
        |   - len(list_intersect(a.grams, b.grams))), 4) AS j
        |FROM g a, g b WHERE a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin,
    "q_cosine_topk" ->
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |  CAST(c.embedding AS DOUBLE[])), 4) AS cos,
        |CAST(row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS INTEGER) AS rnk
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
        |  AS total_ws_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
        |  AS INTEGER) AS bpe_tokens,
        |CAST(length(text) AS INTEGER) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |round(len(regexp_extract_all(text, '[.,!?;:]')) /
        |  greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio,
        |round(len(regexp_extract_all(text, '[A-Z]')) /
        |  greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS caps_ratio,
        |round(len(regexp_extract_all(text, '[0-9]')) /
        |  greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS digit_ratio,
        |round(len(regexp_extract_all(text, ' ')) /
        |  greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS space_ratio,
        |round(least(CAST(length(text) AS DOUBLE) / 100.0, 1.0) *
        |  least(10000.0 / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0),
        |  6) AS len_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ||
        |      substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
        |    ELSE text END AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)),
        |      x -> len(x) > 0) AS lines,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS ts
        |  FROM d),
        |ex AS (SELECT doc_id, unnest(lines) AS line FROM l),
        |cnt AS (SELECT doc_id, line, count(*) AS c, len(line) AS ln
        |  FROM ex GROUP BY doc_id, line),
        |ch AS (SELECT doc_id, sum(c * ln) AS tot,
        |    sum(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS dup
        |  FROM cnt GROUP BY doc_id)
        |SELECT l.doc_id, CAST(len(lines) AS INTEGER) AS n_lines,
        |  round((len(lines) - len(list_distinct(lines))) /
        |    greatest(CAST(len(lines) AS DOUBLE), 1.0), 6)
        |    AS dup_line_frac,
        |  round(coalesce(dup, 0) /
        |    greatest(CAST(coalesce(tot, 0) AS DOUBLE), 1.0), 6)
        |    AS dup_line_char_frac,
        |  round((len(ts) - len(list_distinct(ts))) /
        |    greatest(CAST(len(ts) AS DOUBLE), 1.0), 6) AS dup_word_frac
        |FROM l LEFT JOIN ch ON l.doc_id = ch.doc_id
        |ORDER BY l.doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |md5(text) AS checksum,
        |CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
    // rebuilds the exact P6 bytes the Spark side constructs (integer-
    // only dimension arithmetic, zero-padded pixel section) and
    // recomputes the checksum; md5-of-uppercase-hex because DuckDB
    // 1.0's md5 takes VARCHAR only
    "q_multimodal_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, encode(coalesce(text,'')) AS tb,
        |         octet_length(encode(coalesce(text,''))) AS ob
        |  FROM documents),
        |d AS (
        |  SELECT media_id, tb, ob, 1 + (ob % 37) AS width,
        |    (ob + 3*(1 + (ob % 37)) - 1) // (3*(1 + (ob % 37))) AS height
        |  FROM m)
        |SELECT media_id, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height,
        |  CAST(255 AS INTEGER) AS maxval,
        |  CAST(3*width*height AS BIGINT) AS pix_bytes,
        |  md5(hex(tb || repeat('\x00'::BLOB,
        |    CAST(3*width*height - ob AS INTEGER)))) AS pixel_md5
        |FROM d ORDER BY media_id""".stripMargin,
    "q_delete_from" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE NOT coalesce(o_orderstatus = 'O' OR o_totalprice < 50000,
        |  false)
        |ORDER BY o_orderkey""".stripMargin,
    "q_dv_delete" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderkey NOT IN (7, 101, 1203)
        |ORDER BY o_orderkey""".stripMargin,
    // VERSION AS OF 1 is the pre-DELETE state = the plain projection
    "q_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // the feed replayed from the base projection: initial population
    // (version 1), the DELETE's rows, the UPDATE's pre/post images
    // (update targets only rows the DELETE left). DECIMAL sums keep
    // the aggregation order-independent on both engines.
    "q_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |del AS (SELECT * FROM base WHERE o_orderkey % 10 = 3),
        |upd AS (SELECT * FROM base
        |        WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0
        |          AND NOT (o_orderkey % 10 = 3)),
        |feed AS (
        |  SELECT 'insert' AS _change_type, o_orderkey, o_totalprice
        |  FROM base
        |  UNION ALL
        |  SELECT 'delete', o_orderkey, o_totalprice FROM del
        |  UNION ALL
        |  SELECT 'update_preimage', o_orderkey, o_totalprice FROM upd
        |  UNION ALL
        |  SELECT 'update_postimage', o_orderkey, o_totalprice * 2
        |  FROM upd)
        |SELECT _change_type, count(*) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS price_sum
        |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bloom_lookup" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (9, 123, 402) ORDER BY doc_id""".stripMargin,
    "q_data_skipping" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderkey > 2 * (SELECT max(o_orderkey) FROM orders) / 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_data_skipping_ts" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM events
        |WHERE epoch_us(ts) > (SELECT MIN(epoch_us(ts))
        |  + 2 * (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 3
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_hidden_partitioning" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('de', 'fr')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_mv_refresh" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM orders WHERE NOT (o_orderkey % 10 = 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_interval_join" ->
      """SELECT i.user_id AS user_id, i.ts AS imp_ts, c.ts AS click_ts
        |FROM events i JOIN events c ON i.user_id = c.user_id
        |WHERE i.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 5 MINUTE
        |ORDER BY user_id, imp_ts, click_ts""".stripMargin,
    "q_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_merge_upsert" ->
      """WITH src AS (SELECT o_orderkey * 2 AS k FROM orders
        |             WHERE o_orderkey <= 3000)
        |SELECT o_orderkey,
        |  CASE WHEN o_orderkey IN (SELECT k FROM src) THEN -1.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders
        |UNION ALL
        |SELECT s.k AS o_orderkey, 1.0 AS o_totalprice,
        |  'N' AS o_orderstatus
        |FROM src s
        |WHERE s.k NOT IN (SELECT o_orderkey FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_dsir_weights" -> DuckHash.dsirOracle(DsirDim, DsirTau),
    "q_heavy_hitters" -> DuckHash.cmsTopTermsOracle(CmsD, CmsW, CmsK),
    // the Misra-Gries pruning is provably output-invisible (admission
    // bound checked at runtime), so the oracle is the exact rollup
    "q_topterms_exact" ->
      """WITH tok AS (SELECT list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |    t -> t <> '') AS ts FROM documents),
        |occ AS (SELECT unnest(ts) AS term FROM tok),
        |c AS (SELECT term, count(*)::BIGINT AS n FROM occ
        |  GROUP BY term)
        |SELECT term, n FROM c ORDER BY n DESC, term
        |LIMIT 25""".stripMargin,
    // the composed pipeline: each stage's CTE is the proven shape from
    // its standalone oracle (dedup_exact_norm, decontaminate,
    // gopher_rules, chunk_docs), chained — the oracle re-derives the
    // WHOLE pipeline independently
    "q_pipeline_e2e" -> {
      val stops = operators.TextStats.GopherStops
        .map(s0 => s"'$s0'").mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |dd AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ',
        |    'g')))),
        |grams AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ts[i:i+2], ' ')
        |     FOR i IN generate_series(1, greatest(len(ts)-2, 0))]))
        |    AS gram
        |  FROM tok),
        |bench AS (SELECT DISTINCT gram FROM grams
        |  WHERE doc_id % 97 = 0),
        |corp AS (SELECT g.doc_id, g.gram FROM grams g
        |  JOIN dd USING (doc_id) WHERE g.doc_id % 97 <> 0),
        |clean AS (SELECT doc_id FROM (
        |    SELECT c.doc_id, round(CAST(sum(CASE WHEN b.gram IS NOT
        |      NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS ct
        |    FROM corp c LEFT JOIN bench b USING (gram)
        |    GROUP BY c.doc_id)
        |  WHERE ct <= 0.05),
        |m AS (SELECT doc_id, ts,
        |    CAST(len(ts) AS INTEGER) AS n_words,
        |    round(coalesce(list_sum(list_transform(ts,
        |        t -> length(t))), 0)::DOUBLE
        |      / greatest(len(ts), 1), 4) AS mean_word_len,
        |    round(len(list_filter(ts,
        |        t -> regexp_matches(t, '[a-z]')))::DOUBLE
        |      / greatest(len(ts), 1), 4) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(ts), $stops))
        |      AS INTEGER) AS n_stop
        |  FROM tok JOIN clean USING (doc_id)),
        |kept AS (SELECT doc_id, ts FROM m
        |  WHERE n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND alpha_frac >= 0.8 AND n_stop >= 2),
        |bounds AS (SELECT doc_id, ts,
        |    1 + ((greatest(len(ts) - 64, 0) + 47) // 48) * 48 AS hi
        |  FROM kept WHERE len(ts) > 0),
        |chunks AS (SELECT doc_id, ts,
        |    unnest(generate_series(1, hi, 48)) AS s
        |  FROM bounds)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(len(ts[s:s+63])) AS BIGINT) AS n_chunk_tokens
        |FROM chunks GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q_gopher_rules" -> {
      val stops = operators.TextStats.GopherStops
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ts) AS INTEGER) AS n_words,
        |    round(coalesce(list_sum(list_transform(ts,
        |        t -> length(t))), 0)::DOUBLE
        |      / greatest(len(ts), 1), 4) AS mean_word_len,
        |    round(len(list_filter(ts,
        |        t -> regexp_matches(t, '[a-z]')))::DOUBLE
        |      / greatest(len(ts), 1), 4) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(ts), $stops))
        |      AS INTEGER) AS n_stop
        |  FROM tok)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin
    },
    // line dedup: the oracle counts on the LINE TEXT itself (exact
    // observable semantics) while the Spark side keys its shuffle on
    // the FNV line digest — so a digest collision would surface as a
    // mismatch rather than being baked into both sides
    "q_line_dedup" ->
      s"""WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |lined AS (SELECT doc_id, CASE WHEN len(ts) = 0 THEN ''
        |    ELSE array_to_string(list_transform(
        |      range(1, len(ts) + 1, $LineLen),
        |      i -> array_to_string(ts[i:i + ${LineLen - 1}], ' ')),
        |      chr(10)) END AS text
        |  FROM tok),
        |lx AS (SELECT doc_id, unnest(range(1, len(sp) + 1)) AS i, sp
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS sp
        |    FROM lined)),
        |l AS (SELECT doc_id, i - 1 AS pos, sp[i] AS line FROM lx),
        |freq AS (SELECT trim(line) AS nl FROM l
        |  WHERE trim(line) <> '' GROUP BY 1 HAVING count(*) >= 2),
        |marked AS (SELECT doc_id, pos, line,
        |    (trim(line) <> '' AND
        |     trim(line) IN (SELECT nl FROM freq)) AS rm
        |  FROM l)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lines,
        |  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_removed,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE NOT rm), '') AS clean_text
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // exact substring dedup: the oracle groups on the WINDOW TEXT
    // itself (exact observable semantics) while the Spark side keys
    // its shuffles on the xxhash64 digest — a digest collision would
    // surface here as over-deletion. DuckDB lambda indexes are
    // 1-based where Spark's are 0-based; both sides compare against
    // the same 1-based window starts.
    "q_dedup_substr" -> {
      val k = SubstrK
      s"""WITH tok AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |      x -> x <> '') AS ts
        |  FROM documents),
        |w AS (SELECT doc_id, i AS wpos,
        |    array_to_string(ts[i:i + ${k - 1}], ' ') AS win
        |  FROM tok, unnest(generate_series(1,
        |    greatest(len(ts) - ${k - 1}, 0))) AS u(i)),
        |f AS (SELECT doc_id, wpos,
        |    row_number() OVER (PARTITION BY win
        |      ORDER BY doc_id, wpos) AS rn,
        |    count(*) OVER (PARTITION BY win) AS cnt
        |  FROM w),
        |ss AS (SELECT doc_id, list_sort(list(wpos)) AS ss FROM f
        |  WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id),
        |sel AS (SELECT tok.doc_id, tok.ts,
        |    coalesce(ss.ss, CAST([] AS BIGINT[])) AS ss
        |  FROM tok LEFT JOIN ss USING (doc_id)),
        |kept AS (SELECT doc_id, ts, list_filter(ts, (x, j) ->
        |    len(list_filter(ss, s ->
        |      j >= s AND j <= s + ${k - 1})) = 0) AS kp
        |  FROM sel)
        |SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens,
        |  CAST(len(ts) - len(kp) AS INTEGER) AS n_removed,
        |  coalesce(array_to_string(kp, ' '), '') AS clean_text
        |FROM kept ORDER BY doc_id""".stripMargin
    },
  ) ++ dataDependentOracleBuilders.flatMap(_._2())

  /** The oracle builders whose SQL is RENDERED from a trained model
    * (quantizer centroids, classifier weights) and therefore absent
    * until a query has executed against a data dir. This list is the
    * single source of truth: [[oracleSql]] appends exactly these, and
    * [[dataDependentOracles]] (consumed by IntegrationSpec's
    * inventory-hygiene test) derives its names from it — adding a new
    * data-dependent oracle here keeps the test green by construction. */
  private def dataDependentOracleBuilders
      : Seq[(String, () => Option[(String, String)])] = Seq(
    "q_ann_ivf" -> (() => ivfOracle),
    "q_ann_radius_ivf" -> (() => ivfRadiusOracle),
    "q_ann_pq" -> (() => pqOracle),
    "q_ann_radius_pq" -> (() => pqRadiusOracle),
    "q_cluster_kmeans" -> (() => clusterOracle),
    "q_cluster_sample" -> (() => clusterSampleOracle),
    "q_quality_model" -> (() => qualityOracle),
    "q_semdedup" -> (() => semDedupOracle),
  )

  /** Names of queries whose oracle may legitimately be missing from
    * [[oracleSql]] before any query has run. */
  def dataDependentOracles: Set[String] =
    dataDependentOracleBuilders.map(_._1).toSet
}

/** Deterministic HyperLogLog distinct-count (p=8, m=256 registers).
  *
  * Hash is graft's splitmix64 ([[graft.functions.TextHashing.mix]],
  * seed 1); bucket = top 8 hash bits, rank = leading-zero count + 1 of
  * the remaining 56 bits. The estimate is the raw Flajolet estimator
  * `alpha_m * m^2 / sum(2^-M_j)` evaluated in EXACT integer arithmetic
  * (`sum(2^-M)` as `S/2^64` with `S` a BigInt; `alpha_m` rationalized
  * to `7213m / (10000m + 10790)`), so the result is reproducible
  * bit-for-bit across JVMs AND by the DuckDB oracle — no
  * floating-point summation order anywhere. No small-range linear
  * counting: `ln` is not exactly portable, and the raw estimator is
  * the honest contract for n >> m (p is deliberately small). Accuracy
  * is standard HLL: ~1.04/sqrt(256) ≈ 6.5% RSD.
  *
  * Scale shape: each partition reduces to a 256-byte register array,
  * merge is an elementwise max — only sketches cross the wire, the
  * canonical 100 TB distinct-count pattern.
  */
object HllDistinct extends org.apache.spark.sql.expressions.Aggregator[
    Long, Array[Byte], Long] {
  private val P = 8
  private val M = 1 << P

  override def zero: Array[Byte] = new Array[Byte](M)

  override def reduce(regs: Array[Byte], v: Long): Array[Byte] = {
    val h = graft.functions.TextHashing.mix(v, 1L)
    val idx = (h >>> (64 - P)).toInt
    val w = h << P
    val rank =
      if (w == 0) 64 - P + 1
      else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
    regs
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def finish(regs: Array[Byte]): Long = {
    var present = 0
    var t = BigInt(0) // sum over non-empty registers of 2^(63 - M_j)
    var i = 0
    while (i < M) {
      if (regs(i) > 0) {
        present += 1
        t += BigInt(1) << (63 - regs(i))
      }
      i += 1
    }
    if (present == 0) return 0L
    // S = sum over ALL registers of 2^(64 - M_j); empty register = 2^64
    val s = (t + (BigInt(M - present) << 63)) * 2
    val num = BigInt(7213) * BigInt(M).pow(3) * (BigInt(1) << 64)
    val den = BigInt(10000L * M + 10790) * s
    (num / den).toLong
  }

  override def bufferEncoder = org.apache.spark.sql.Encoders.BINARY
  override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
}

/** Typed UDAF demonstration (SURVEY.md §2j): geometric mean via
  * log-sum — numerically stable, mergeable partial aggregation. */
object GeoMean extends org.apache.spark.sql.expressions.Aggregator[
    Double, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), a: Double): (Double, Long) =
    if (a > 0) (b._1 + math.log(a), b._2 + 1) else b
  override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)
  override def finish(r: (Double, Long)): Double =
    if (r._2 == 0) 0.0 else math.exp(r._1 / r._2)
  override def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.scalaDouble,
    org.apache.spark.sql.Encoders.scalaLong)
  override def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
}
