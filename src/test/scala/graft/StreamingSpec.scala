package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Structured Streaming semantics (SURVEY.md §2i): event-time windows,
  * watermark late-data handling, stateful dedup, custom sessionization —
  * driven synchronously with MemoryStream + processAllAvailable.
  */
case class E(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String, value: Double)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def runStream(events: Seq[E], name: String)(
      xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = xform(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // advance watermark past everything, then flush finalized state
      input.addData(E(9999, Timestamp.valueOf("2024-01-02 00:00:00"),
        -1, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  test("tumbling window agg with watermark emits finalized windows") {
    val events = Seq(
      E(1, ts(1), 1, "a", 1.0), E(2, ts(2), 1, "a", 1.0),
      E(3, ts(6), 2, "a", 1.0), E(4, ts(7), 2, "b", 1.0))
    val out = runStream(events, "tumbling_out")(
      StreamOps.tumblingWithWatermark(_, "5 minutes", "10 minutes"))
    val got = out.filter($"event_type" === "a")
      .select($"wstart", $"n").as[(Timestamp, Long)].collect().toMap
    assert(got(Timestamp.valueOf("2024-01-01 10:00:00")) == 2)
    assert(got(Timestamp.valueOf("2024-01-01 10:05:00")) == 1)
  }

  test("streaming OHLC bars: finalized once, bit-identical to the " +
      "batch aggregate over the same rows") {
    val events = Seq(
      E(1, ts(1), 1, "a", 5.25), E(2, ts(1), 1, "a", 9.00),
      E(3, ts(3), 1, "a", 1.50), E(4, ts(4), 1, "a", 7.75),
      E(5, ts(6), 1, "a", 2.00))
    val out = runStream(events, "ohlc_out")(
      StreamOps.ohlcBars(_, "user_id", "5 minutes", "10 minutes"))
      .filter($"user_id" === 1L)
      .select($"bucket", $"open", $"high", $"low", $"close",
        $"n_events", $"volume_c")
    val got = out.collect()
      .map(r => (r.getTimestamp(0), (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5),
        r.getLong(6)))).toMap
    // bucket 10:00: open=5.25 (id tiebreak at equal ts), close=7.75
    assert(got(Timestamp.valueOf("2024-01-01 10:00:00")) ===
      ((5.25, 9.00, 1.50, 7.75, 4L, 2350L)))
    assert(got(Timestamp.valueOf("2024-01-01 10:05:00")) ===
      ((2.00, 2.00, 2.00, 2.00, 1L, 200L)))
    // parity with the batch operator over the same rows (hour bucket
    // collapses all five events into one bar)
    val b = graft.operators.EventOps.ohlcBars(
      events.toDF(), "user_id", "ts", "event_id", "value",
      bucket = "hour").collect().head
    assert(b.getDouble(2) === 5.25 && b.getDouble(5) === 2.00 &&
      b.getLong(6) === 5L && b.getLong(7) === 2550L)
  }

  test("streaming CMS cells: bounded state per window, exact " +
      "stream-batch parity") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(ts: Timestamp, text: String)
    val docs = Seq(
      Doc(ts(1), "alpha beta alpha"),
      Doc(ts(2), "beta gamma"),
      Doc(ts(7), "alpha alpha delta"),
      Doc(ts(8), "epsilon"))
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.cmsCells(
        input.toDF().toDF("ts", "text"), d = 2, w = 8,
        every = "5 minutes", watermark = "10 minutes")
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream").start()
    try {
      input.addData(docs.map(d => (d.ts, d.text)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cms_stream")
    val batch = StreamOps.cmsCells(
      docs.map(d => (d.ts, d.text)).toDF("ts", "text"),
      d = 2, w = 8, every = "5 minutes")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "stream and batch sketch cells differ")
    // the defining sketch property: state per window is bounded by
    // d*w cells no matter how many distinct terms arrived
    val perWindow = streamed.groupBy($"wstart").count()
      .select($"count").as[Long].collect()
    assert(perWindow.forall(_ <= 2 * 8), perWindow.toSeq.toString)
    // and the cells genuinely carry the counts: total = token count
    assert(streamed.filter($"i" === 0)
      .agg(sum($"cnt")).head.getLong(0) === 9L)
  }

  test("driftFeed: per-window KL vs the previous window's mix, " +
      "exactly once; no-reference and disjoint windows are silent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.driftFeed(input.toDF(), "event_type", "ts",
        every = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("drift_feed").start()
    def mk(minute: Int, sec: Int, ty: String, id: Long) =
      E(id, ts(minute, sec), 1, ty, 0.0)
    try {
      // w0 (00:00): a*4 b*2; w1 (00:10): a*2 b*4 — interleaved
      // arrival order inside the batch (the fold is order-free)
      input.addData(Seq(
        mk(11, 0, "a", 10), mk(1, 0, "a", 1), mk(2, 0, "a", 2),
        mk(12, 0, "a", 11), mk(3, 0, "a", 3), mk(4, 0, "a", 4),
        mk(13, 0, "b", 12), mk(5, 0, "b", 5), mk(6, 0, "b", 6),
        mk(14, 0, "b", 13), mk(15, 0, "b", 14), mk(16, 0, "b", 15)))
      q.processAllAvailable()
      // w2 (00:20): only type c — disjoint from w1's mix
      input.addData(Seq(mk(21, 0, "c", 20), mk(22, 0, "c", 21),
        mk(23, 0, "c", 22)))
      q.processAllAvailable()
      input.addData(E(99, Timestamp.valueOf("2024-01-01 11:00:00"),
        -1, "m", 0.0))
      q.processAllAvailable()
      input.addData(E(100, Timestamp.valueOf("2024-01-01 12:00:00"),
        -1, "m", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("drift_feed")
      .as[(Timestamp, Int, Long)].collect().toSeq
      .filter(_._1.before(Timestamp.valueOf("2024-01-01 10:50:00")))
    // local replay of the contract: KL(w1||w0) over {a, b}
    def lnq(x: Long) = Math.round(math.log(x.toDouble) * 1e6)
    val num = 2L * (lnq(2) - lnq(6) - lnq(4) + lnq(6)) +
      4L * (lnq(4) - lnq(6) - lnq(2) + lnq(6))
    val exp = num / 6L
    assert(got === Seq((ts(10, 0), 2, exp)), s"$got vs exp $exp")
  }

  test("funnelFeed: the pending-buffer cap keeps the EARLIEST " +
      "events and drops the bot tail (disclosed semantics)") {
    val win = 10L * 60 * 1000000
    val steps = Seq("view", "cart")
    // all three events land ABOVE the watermark in one batch: with
    // maxPendingPerEntity = 2 only the two earliest (both views)
    // survive — the cart at ts(3) drops, so the funnel stalls at 1
    val events = Seq(
      E(1, ts(1), 1, "view", 0), E(2, ts(2), 1, "view", 0),
      E(3, ts(3), 1, "cart", 0))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.funnelFeed(input.toDF(), "user_id", "ts",
        "event_type", steps, win, watermark = "5 minutes",
        maxPendingPerEntity = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_feed_cap").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // movers must be STEP-TYPED: the type filter is pushed below
      // the watermark node, so off-step events never advance wm
      input.addData(E(99, Timestamp.valueOf("2024-01-02 00:00:00"),
        -1, "view", 0.0))
      q.processAllAvailable()
      input.addData(E(100, Timestamp.valueOf("2024-01-03 00:00:00"),
        -1, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_feed_cap")
      .select($"entity", $"steps_reached").as[(String, Int)]
      .collect().toSeq.filter(_._1 == "1")
    // uncapped this scenario reaches step 2 (view@1 then cart@3);
    // the cap keeps the two earliest pending events, dropping the
    // cart — the funnel stalls at 1
    assert(got === Seq(("1", 1)), got.toString)
  }

  test("funnelFeed: per-entity outcomes finalize once, matching the " +
      "batch funnel's greedy fold") {
    val win = 10L * 60 * 1000000 // 10 minutes in micros
    val steps = Seq("view", "cart", "buy")
    val events = Seq(
      // user 1: full 3-step path
      E(1, ts(1), 1, "view", 0), E(2, ts(2), 1, "cart", 0),
      E(3, ts(3), 1, "buy", 0),
      // user 2: skips cart -> stuck at step 1
      E(4, ts(1), 2, "view", 0), E(5, ts(2), 2, "buy", 0),
      // user 3: pre-t1 cart ignored, then full path
      E(6, ts(1), 3, "cart", 0), E(7, ts(2), 3, "view", 0),
      E(8, ts(3), 3, "cart", 0), E(9, ts(4), 3, "buy", 0),
      // user 4: cart lands outside the 10-minute window
      E(10, ts(1), 4, "view", 0), E(11, ts(30), 4, "cart", 0))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.funnelFeed(input.toDF(), "user_id", "ts",
        "event_type", steps, win, watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_feed").start()
    try {
      // two installments of the same window's data: outcomes must
      // still finalize exactly once per entity
      input.addData(events.take(6))
      q.processAllAvailable()
      input.addData(events.drop(6))
      q.processAllAvailable()
      input.addData(E(99, Timestamp.valueOf("2024-01-02 00:00:00"),
        -1, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_feed")
      .select($"entity", $"steps_reached").as[(String, Int)]
      .collect().toSeq
    assert(got.size === got.map(_._1).distinct.size,
      s"entity emitted twice: $got")
    assert(got.toMap === Map("1" -> 3, "2" -> 1, "3" -> 3, "4" -> 1),
      got.toString)
    // parity: the batch funnel's (step, users) counts equal the
    // feed's steps_reached >= k rollup
    val batch = graft.operators.EventOps.funnel(events.toDF(),
      "user_id", "ts", "event_type", steps, win)
      .as[(Long, Long)].collect().toMap
    val feedCounts = (1 to steps.size).map(k =>
      k.toLong -> got.count(_._2 >= k).toLong).toMap
    assert(batch === feedCounts, s"batch=$batch feed=$feedCounts")
  }

  test("funnelFeed: a funnel already closed by the watermark " +
      "finalizes on the data path; later events cannot reopen it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.funnelFeed(input.toDF(), "user_id", "ts",
        "event_type", Seq("view", "cart", "buy"),
        windowMicros = 10L * 60 * 1000000, watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_closed").start()
    try {
      input.addData(E(1, ts(0), 7, "view", 0))
      q.processAllAvailable()
      // advance the watermark far past t1+window…
      input.addData(E(98, Timestamp.valueOf("2024-01-01 11:00:00"),
        -1, "flush", 0.0))
      q.processAllAvailable()
      // …then hand the entity NEW data: the invocation sees the
      // stored funnel already decidable and emits it inline; the
      // new event is outside the window and cannot reopen anything
      input.addData(E(2, Timestamp.valueOf("2024-01-01 11:00:00"),
        7, "cart", 0.0))
      q.processAllAvailable()
      input.addData(E(99, Timestamp.valueOf("2024-01-02 00:00:00"),
        -1, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_closed")
      .select($"entity", $"steps_reached").as[(String, Int)]
      .collect().toSeq
    assert(got === Seq(("7", 1)), got.toString)
  }

  test("funnelFeed: re-entry after a finalized funnel is suppressed " +
      "by the tombstone, and re-emits only after it expires") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    val q = StreamOps.funnelFeed(input.toDF(), "user_id", "ts",
        "event_type", Seq("view", "cart", "buy"),
        windowMicros = 10L * 60 * 1000000, watermark = "5 minutes",
        tombstoneMicros = 60L * 60 * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_reentry").start()
    try {
      // the step-type filter sits below the watermark node after
      // pushdown, so only STEP events advance the watermark; a
      // sacrificial user-9 "view" is the watermark mover here
      // session 1: full path, t1 = 10:01, window closes 10:11
      input.addData(E(1, ts(1), 8, "view", 0),
        E(2, ts(2), 8, "cart", 0), E(3, ts(3), 8, "buy", 0))
      q.processAllAvailable()
      // session 2 INSIDE the tombstone (expires 11:11): its own
      // events move the watermark to 11:01 > 10:11, which both
      // finalizes session 1 (hit 1 + tombstone) and is then
      // suppressed by that tombstone
      input.addData(E(4, d("2024-01-01 11:05:00"), 8, "view", 0),
        E(5, d("2024-01-01 11:06:00"), 8, "cart", 0))
      q.processAllAvailable()
      // session 3 AFTER the event-time expiry: a fresh funnel
      input.addData(E(6, d("2024-01-01 12:40:00"), 8, "view", 0),
        E(7, d("2024-01-01 12:41:00"), 8, "cart", 0),
        E(8, d("2024-01-01 12:42:00"), 8, "buy", 0))
      q.processAllAvailable()
      // watermark mover: 14:00 - 5 min > 12:50 closes session 3 on
      // the auto-scheduled cleanup batch
      input.addData(E(9, d("2024-01-01 14:00:00"), 9, "view", 0))
      q.processAllAvailable()
      input.addData(E(92, d("2024-01-02 00:00:00"), -1, "flush", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_reentry")
      .filter($"entity" === "8")
      .select($"steps_reached", $"t1_micros").as[(Int, Long)]
      .collect().toSeq.sortBy(_._2)
    // exactly TWO hits: session 1 and post-expiry session 3; the
    // in-tombstone session 2 never emits
    assert(got.map(_._1) === Seq(3, 3), got.toString)
    assert(got.map(_._2).distinct.size === 2, got.toString)
    val t1s = got.map(_._2)
    assert(t1s.head ===
      ts(1).getTime * 1000L, s"first t1 wrong: $got")
    assert(t1s.last ===
      d("2024-01-01 12:40:00").getTime * 1000L, s"second t1: $got")
  }

  test("funnelFeed: past-expiry events arriving in the very batch " +
      "that closes the window seed a fresh funnel (close chains)") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    // a SHORT tombstone (10 min): the expiry (t1+window+tombstone)
    // can sit below the watermark when the close happens, so the
    // closing batch itself may carry re-entry events
    val q = StreamOps.funnelFeed(input.toDF(), "user_id", "ts",
        "event_type", Seq("view", "cart", "buy"),
        windowMicros = 10L * 60 * 1000000, watermark = "5 minutes",
        tombstoneMicros = 10L * 60 * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_chain").start()
    try {
      // batch 1: session 1 (t1 10:00, window closes 10:10,
      // tombstone expires 10:20) + a user-9 watermark mover at
      // 10:40 -> wm = 10:35 entering batch 2
      input.addData(E(1, d("2024-01-01 10:00:00"), 8, "view", 0),
        E(2, d("2024-01-01 10:01:00"), 8, "cart", 0),
        E(3, d("2024-01-01 10:40:00"), 9, "view", 0))
      q.processAllAvailable()
      // batch 2: session 2, entirely PAST the expiry, lands in the
      // same batch whose data path closes session 1 (close 10:10 <=
      // wm 10:35): without the chain these three events die in the
      // <= t1+window filter and session 2 never exists
      input.addData(E(4, d("2024-01-01 11:00:00"), 8, "view", 0),
        E(5, d("2024-01-01 11:01:00"), 8, "cart", 0),
        E(6, d("2024-01-01 11:02:00"), 8, "buy", 0))
      q.processAllAvailable()
      // movers: close session 2 (11:10) via the timeout path
      input.addData(E(7, d("2024-01-01 12:00:00"), 9, "view", 0))
      q.processAllAvailable()
      input.addData(E(99, d("2024-01-02 00:00:00"), -1, "flush", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_chain")
      .filter($"entity" === "8")
      .select($"steps_reached", $"t1_micros").as[(Int, Long)]
      .collect().toSeq.sortBy(_._2)
    assert(got === Seq(
      (2, d("2024-01-01 10:00:00").getTime * 1000L),
      (3, d("2024-01-01 11:00:00").getTime * 1000L)), got.toString)
  }

  test("funnelFeed: entities that never reach step 1 emit nothing " +
      "(cleanup timeout is silent)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.funnelFeed(input.toDF(), "user_id", "ts",
        "event_type", Seq("view", "cart", "buy"),
        windowMicros = 10L * 60 * 1000000, watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_nostep1").start()
    try {
      // cart/buy without a view: never enters the funnel
      input.addData(E(1, ts(1), 5, "cart", 0),
        E(2, ts(2), 5, "buy", 0))
      q.processAllAvailable()
      input.addData(E(99, Timestamp.valueOf("2024-01-02 00:00:00"),
        -1, "flush", 0.0))
      q.processAllAvailable()
      input.addData(E(100, Timestamp.valueOf("2024-01-03 00:00:00"),
        -1, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("funnel_nostep1").count() === 0)
  }

  test("drawdownFeed: record-deepening hits finalize once in event-" +
      "time order; batch parity; idle state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    val q = StreamOps.drawdownFeed(input.toDF(), "user_id", "ts",
        "event_id", "value", watermark = "30 minutes",
        idleExpiryMicros = 3600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("dd_feed").start()
    var stateAfter = -1L
    val batch1 = Seq(
      E(1, d("2024-01-01 10:00:00"), 1, "v", 10.00),
      E(2, d("2024-01-01 10:01:00"), 1, "v", 8.00),
      E(3, d("2024-01-01 10:02:00"), 1, "v", 9.00),
      E(4, d("2024-01-01 10:03:00"), 1, "v", 12.00),
      E(5, d("2024-01-01 10:04:00"), 1, "v", 5.00),
      E(6, d("2024-01-01 10:00:00"), 2, "v", 10.00),
      E(7, d("2024-01-01 10:10:00"), 2, "v", 5.00))
    // user 2's true trough arrives a BATCH later with an EARLIER
    // event time: the record must fold in event-time order (one
    // 8.00-deep record at 10:03), never in arrival order (which
    // would log a 5.00-deep record at 10:10 first)
    val late = E(8, d("2024-01-01 10:03:00"), 2, "v", 2.00)
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-02 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-03 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val got = spark.table("dd_feed").filter($"entity".isin("1", "2"))
      .select($"entity", $"t_micros", $"value_c", $"peak_c",
        $"drawdown_c")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("1", d("2024-01-01 10:01:00").getTime * 1000L, 800L, 1000L,
        200L),
      ("1", d("2024-01-01 10:04:00").getTime * 1000L, 500L, 1200L,
        700L),
      ("2", d("2024-01-01 10:03:00").getTime * 1000L, 200L, 1000L,
        800L)), got.toString)
    // batch parity: max(drawdown_c) per entity = the batch operator
    val exp = graft.operators.EventOps.maxDrawdown(
      (batch1 :+ late).toDF(), "user_id", "ts", "event_id", "value")
      .filter($"user_id".isin(1L, 2L))
      .select($"user_id".cast("string"), $"max_drawdown_c")
      .as[(String, Long)].collect().toMap
    val feedMax = spark.table("dd_feed")
      .filter($"entity".isin("1", "2")).groupBy($"entity")
      .agg(max($"drawdown_c")).as[(String, Long)].collect().toMap
    assert(feedMax === exp, s"feed=$feedMax batch=$exp")
    // idle expiry (1 h) passed for users 1/2 and the first mover:
    // only the last mover's pending survives
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("ewmaFeed: per-event smoother rows are bit-identical to the " +
      "batch fold; the cap truncates; idle state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    val q = StreamOps.ewmaFeed(input.toDF(), "user_id", "ts",
        "event_id", "value", maxEventsPerKey = 3,
        watermark = "30 minutes", idleExpiryMicros = 3600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_feed").start()
    var stateAfter = -1L
    val batch1 = Seq(
      E(1, d("2024-01-01 10:00:00"), 1, "v", 2.37),
      E(2, d("2024-01-01 10:01:00"), 1, "v", 9.41),
      E(3, d("2024-01-01 10:02:00"), 1, "v", 0.50),
      E(4, d("2024-01-01 10:03:00"), 1, "v", 7.77),
      E(5, d("2024-01-01 10:00:00"), 2, "v", 1.00),
      E(6, d("2024-01-01 10:10:00"), 2, "v", 3.00))
    // out-of-order: user 2's middle event arrives a batch later —
    // the recurrence must fold it SECOND, not last
    val late = E(7, d("2024-01-01 10:05:00"), 2, "v", 2.00)
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-02 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-03 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val got = spark.table("ewma_feed")
      .filter($"entity".isin("1", "2"))
      .select($"entity", $"id", $"value_c", $"ewma_c6")
      .as[(String, Long, Long, Long)].collect().toSet
    val exp = graft.operators.EventOps.ewma(
      (batch1 :+ late).toDF(), "user_id", "ts", "event_id", "value",
      maxEventsPerKey = 3)
      .filter($"user_id".isin(1L, 2L))
      .select($"user_id".cast("string"), $"event_id", $"value_c",
        $"ewma_c6")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === exp, s"feed=$got batch=$exp")
    // the cap genuinely truncates: user 1's 4th event never emits
    assert(!got.exists(_._2 == 4L), got.toString)
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("twapFeed: live cumulative TWAP finalizes per interval; the " +
      "last row equals the batch operator; idle state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    val q = StreamOps.twapFeed(input.toDF(), "user_id", "ts",
        "event_id", "value", watermark = "30 minutes",
        idleExpiryMicros = 3600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("twap_feed").start()
    var stateAfter = -1L
    val batch1 = Seq(
      // user 1: the batch operator's hand case — 2.00 held 10 s,
      // 4.00 held 20 s, 9.99 never held
      E(1, d("2024-01-01 10:00:00"), 1, "v", 2.00),
      E(2, d("2024-01-01 10:00:10"), 1, "v", 4.00),
      E(3, d("2024-01-01 10:00:30"), 1, "v", 9.99),
      E(5, d("2024-01-01 10:00:00"), 2, "v", 1.00),
      E(6, d("2024-01-01 10:00:30"), 2, "v", 5.00))
    // out-of-order: user 2's middle event arrives a batch later —
    // it splits the hold interval in event time
    val late = E(7, d("2024-01-01 10:00:10"), 2, "v", 2.00)
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-02 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-03 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val got = spark.table("twap_feed")
      .filter($"entity".isin("1", "2"))
      .select($"entity", $"t_micros", $"span_us", $"twap_c")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("1", d("2024-01-01 10:00:10").getTime * 1000L, 10000000L, 200L),
      ("1", d("2024-01-01 10:00:30").getTime * 1000L, 30000000L, 333L),
      ("2", d("2024-01-01 10:00:10").getTime * 1000L, 10000000L, 100L),
      ("2", d("2024-01-01 10:00:30").getTime * 1000L, 30000000L,
        166L)), got.toString)
    // batch parity on the FINAL reading per entity
    val exp = graft.operators.EventOps.twap(
      (batch1 :+ late).toDF(), "user_id", "ts", "event_id", "value")
      .filter($"user_id".isin(1L, 2L))
      .select($"user_id".cast("string"), $"span_us", $"twap_c")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val lastRows = got.groupBy(_._1).map { case (k, rs) =>
      val last = rs.maxBy(_._2); k -> ((last._3, last._4))
    }
    assert(lastRows === exp, s"feed=$lastRows batch=$exp")
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("cusumFeed: drift statistics bit-match the batch closed form; " +
      "a late event re-folds in event time; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    def m(i: Int) = d(f"2024-01-01 10:0$i%01d:00")
    val input = MemoryStream[E]
    val q = StreamOps.cusumFeed(input.toDF(), "user_id", "ts",
        "event_id", "value", targetC = 200L, threshC = 300L,
        watermark = "30 minutes", idleExpiryMicros = 3600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_feed").start()
    var stateAfter = -1L
    val batch1 = Seq(
      E(1, m(0), 1, "v", 3.0), E(2, m(1), 1, "v", 4.0),
      E(3, m(2), 1, "v", 1.0), E(4, m(3), 1, "v", 5.0),
      E(5, m(4), 1, "v", 5.0),
      E(11, m(0), 2, "v", 1.0), E(12, m(4), 2, "v", 5.0))
    // user 2's middle delta arrives late: the running min must fold
    // it SECOND (prefix -100,-200,100 -> cusum 0,0,300)
    val late = E(13, m(2), 2, "v", 1.0)
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-02 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-03 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val got = spark.table("cusum_feed")
      .filter($"entity".isin("1", "2"))
      .select($"entity", $"id", $"cusum_c", $"drift")
      .as[(String, Long, Long, Boolean)].collect().toSet
    val exp = graft.operators.EventOps.cusum(
      (batch1 :+ late).toDF(), "user_id", "ts", "event_id", "value",
      targetC = 200L, threshC = 300L)
      .filter($"user_id".isin(1L, 2L))
      .select($"user_id".cast("string"), $"event_id", $"cusum_c",
        $"drift")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(got === exp, s"feed=$got batch=$exp")
    assert(got.exists(r => r._1 == "1" && r._4), got.toString)
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("anomalyFeed: rolling z-scores bit-match the batch operator; " +
      "a late event re-orders the trailing window; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    val q = StreamOps.anomalyFeed(input.toDF(), "user_id", "ts",
        "event_id", "value", window = 3, threshold = 2.0,
        watermark = "30 minutes", idleExpiryMicros = 3600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("anom_feed").start()
    var stateAfter = -1L
    def m(i: Int) = d(f"2024-01-01 10:0$i%01d:00")
    val batch1 = Seq(
      E(1, m(0), 1, "v", 1.0), E(2, m(1), 1, "v", 2.0),
      E(3, m(2), 1, "v", 3.0), E(4, m(3), 1, "v", 2.0),
      E(5, m(4), 1, "v", 9.0), E(6, m(5), 1, "v", 2.0),
      // user 2: the minute-2 value arrives a batch LATE — without
      // the event-time fold its minute-3/4 windows would be partial
      E(11, m(0), 2, "v", 1.0), E(12, m(1), 2, "v", 2.0),
      E(13, m(3), 2, "v", 4.0), E(14, m(4), 2, "v", 5.0))
    val late = E(15, m(2), 2, "v", 3.0)
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-02 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-03 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val got = spark.table("anom_feed")
      .filter($"entity".isin("1", "2"))
      .select($"entity", $"id", $"zscore", $"is_anomaly")
      .as[(String, Long, Double, Boolean)].collect().toSet
    val exp = graft.operators.EventOps.anomalies(
      (batch1 :+ late).toDF(), "user_id", "ts", "event_id", "value",
      window = 3, threshold = 2.0)
      .filter($"user_id".isin(1L, 2L))
      .select($"user_id".cast("string"), $"event_id", $"zscore",
        $"is_anomaly")
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(got === exp, s"feed=$got batch=$exp")
    // the 9.0 spike really alerts; the late-completed windows emitted
    assert(got.exists(r => r._2 == 5L && r._4), got.toString)
    assert(got.exists(_._2 == 13L) && got.exists(_._2 == 14L),
      got.toString)
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("gapFeed: completed inactivity gaps finalize once in event-" +
      "time order; a late event splits a would-be gap; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[E]
    val q = StreamOps.gapFeed(input.toDF(), "user_id", "ts",
        minGapMicros = 10L * 60 * 1000000, watermark = "30 minutes",
        idleExpiryMicros = 3600L * 1000000)
      .writeStream.outputMode("append").format("memory")
      .queryName("gap_feed").start()
    var stateAfter = -1L
    val batch1 = Seq(
      E(1, d("2024-01-01 10:00:00"), 1, "v", 0),
      E(2, d("2024-01-01 10:05:00"), 1, "v", 0),
      E(3, d("2024-01-01 11:00:00"), 1, "v", 0),
      E(4, d("2024-01-01 11:05:00"), 1, "v", 0),
      E(5, d("2024-01-01 10:00:00"), 2, "v", 0),
      E(6, d("2024-01-01 11:00:00"), 2, "v", 0))
    // user 2's 10:40 event arrives a batch later (safely above the
    // post-batch-1 watermark 10:35): the 10:00-11:00 hour must split
    // into TWO completed gaps, never emit whole
    val late = E(7, d("2024-01-01 10:40:00"), 2, "v", 0)
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-02 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-03 00:00:00"), -1, "wm", 0))
      q.processAllAvailable()
      stateAfter = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    def us(s: String) = d(s).getTime * 1000L
    val got = spark.table("gap_feed").filter($"entity".isin("1", "2"))
      .select($"entity", $"gap_start_us", $"gap_end_us", $"gap_us")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("1", us("2024-01-01 10:05:00"), us("2024-01-01 11:00:00"),
        55L * 60 * 1000000),
      ("2", us("2024-01-01 10:00:00"), us("2024-01-01 10:40:00"),
        40L * 60 * 1000000),
      ("2", us("2024-01-01 10:40:00"), us("2024-01-01 11:00:00"),
        20L * 60 * 1000000)), got.toString)
    // batch parity on the same events
    val exp = graft.operators.EventOps.eventGaps(
      (batch1 :+ late).toDF(), "user_id", "ts", "event_id",
      minGapMicros = 10L * 60 * 1000000)
      .filter($"user_id".isin(1L, 2L))
      .select($"user_id".cast("string"), $"gap_start_us",
        $"gap_end_us", $"gap_us")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === exp, s"feed=$got batch=$exp")
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("sessionFeed: closed sessions finalize once with exact spans; " +
      "a late bridging event merges two open runs") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val gap = 30L * 60 * 1000000
    val input = MemoryStream[E]
    // 1-hour lateness allowance: the bridge event arrives a batch
    // after later-timestamped events have already moved the watermark
    val q = StreamOps.sessionFeed(input.toDF(), "user_id", "ts",
        gapMicros = gap, watermark = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_feed").start()
    var stateAfter = -1L
    try {
      // user 1 session A (10:00, 10:10); user 2 runs at 10:00 and
      // 10:50 — 50 min apart, look like TWO sessions until the
      // bridge lands
      input.addData(E(1, d("2024-01-01 10:00:00"), 1, "a", 0),
        E(2, d("2024-01-01 10:10:00"), 1, "a", 0),
        E(3, d("2024-01-01 10:00:00"), 2, "a", 0),
        E(4, d("2024-01-01 10:50:00"), 2, "a", 0))
      q.processAllAvailable()
      // the bridge: 10:25 is within 30 min of both user-2 runs
      input.addData(E(5, d("2024-01-01 10:25:00"), 2, "a", 0))
      q.processAllAvailable()
      // user 1 session B, and the watermark mover past A+gap
      input.addData(E(6, d("2024-01-01 11:30:00"), 1, "a", 0),
        E(7, d("2024-01-01 11:40:00"), 1, "a", 0))
      q.processAllAvailable()
      input.addData(E(90, d("2024-01-01 14:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-01 18:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      input.addData(E(92, d("2024-01-02 10:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      val p = q.lastProgress
      stateAfter = p.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    def us(s: String) = d(s).getTime * 1000L
    val got = spark.table("sess_feed")
      .filter($"entity".isin("1", "2"))
      .select($"entity", $"session_start_us", $"session_end_us",
        $"n_events").as[(String, Long, Long, Long)]
      .collect().toSet
    assert(got === Set(
      ("1", us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"), 2L),
      ("1", us("2024-01-01 11:30:00"), us("2024-01-01 11:40:00"), 2L),
      ("2", us("2024-01-01 10:00:00"), us("2024-01-01 10:50:00"), 3L)),
      got.toString)
    // batch parity: the per-entity rollup over the feed equals the
    // lag+cumsum batch split on the same user-1/2 events
    val roll = spark.table("sess_feed")
      .filter($"entity".isin("1", "2"))
      .groupBy($"entity")
      .agg(count(lit(1)).as("n_sessions"),
        max($"n_events").as("max_session_events"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(roll === Map("1" -> ((2L, 2L)), "2" -> ((1L, 3L))))
    // users 1/2 fully closed; only the mover's open run remains
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("attributionFeed: last-touch credit finalizes at the " +
      "watermark; an out-of-order touch still wins; state evicts") {
    implicit val sqlCtx = spark.sqlContext
    def d(s: String) = Timestamp.valueOf(s)
    val hour = 3600L * 1000000
    val input = MemoryStream[E]
    // 4-hour lateness allowance: the user-2 touch arrives a batch
    // after a 13:00 event has already moved the watermark
    val q = StreamOps.attributionFeed(input.toDF(), "user_id", "ts",
        "event_id", "event_type", "buy", lookbackMicros = hour,
        watermark = "4 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_feed").start()
    var stateAfter = -1L
    try {
      // user 1: ad 10:00, email 10:05, buy 10:10 -> email;
      // buy 13:00 -> organic (email is 2h55m old, past the 1h window)
      input.addData(E(1, d("2024-01-01 10:00:00"), 1, "ad", 0),
        E(2, d("2024-01-01 10:05:00"), 1, "email", 0),
        E(3, d("2024-01-01 10:10:00"), 1, "buy", 0),
        E(4, d("2024-01-01 13:00:00"), 1, "buy", 0))
      q.processAllAvailable()
      // user 2: the conversion arrives FIRST; the touch that should
      // win arrives in a later micro-batch with an EARLIER event
      // time — credit must still go to the touch (finalize-at-
      // watermark, not finalize-at-arrival)
      input.addData(E(5, d("2024-01-01 10:30:00"), 2, "buy", 0))
      q.processAllAvailable()
      input.addData(E(6, d("2024-01-01 10:20:00"), 2, "ad", 0))
      q.processAllAvailable()
      // watermark movers: finalize everything, then age every touch
      // past the lookback so per-entity state frees
      input.addData(E(90, d("2024-01-01 16:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      input.addData(E(91, d("2024-01-01 22:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      input.addData(E(92, d("2024-01-02 10:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      input.addData(E(93, d("2024-01-03 10:00:00"), 99, "wm", 0))
      q.processAllAvailable()
      val p = q.lastProgress
      stateAfter = p.stateOperators.map(_.numRowsTotal).sum
    } finally q.stop()
    val got = spark.table("attr_feed")
      .filter($"entity".isin("1", "2"))
      .select($"conv_id", $"channel").as[(Long, Option[String])]
      .collect().toMap
    assert(got === Map(3L -> Some("email"), 4L -> None,
      5L -> Some("ad")), got.toString)
    // batch parity: the channel rollup over the feed equals
    // EventOps.attribution on the same user-1/2 events
    val events = Seq(
      (1L, d("2024-01-01 10:00:00"), 1L, "ad"),
      (2L, d("2024-01-01 10:05:00"), 1L, "email"),
      (3L, d("2024-01-01 10:10:00"), 1L, "buy"),
      (4L, d("2024-01-01 13:00:00"), 1L, "buy"),
      (5L, d("2024-01-01 10:30:00"), 2L, "buy"),
      (6L, d("2024-01-01 10:20:00"), 2L, "ad"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = graft.operators.EventOps.attribution(events,
      "user_id", "ts", "event_id", "event_type", "buy", hour)
      .as[(Option[String], Long)].collect().toMap
    val feed = got.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(batch === feed, s"batch=$batch feed=$feed")
    // users 1/2 fully aged out and freed; at most the final
    // watermark-mover's own in-flight event remains
    assert(stateAfter <= 1, s"state not evicted: $stateAfter")
  }

  test("retentionFeed: non-UTC session timezone is refused (the week " +
      "grid only matches date_trunc under UTC)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val e = intercept[IllegalArgumentException] {
        StreamOps.retentionFeed(input.toDF(), "user_id", "ts")
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set(tzKey, saved)
  }

  test("retentionFeed: exactly-once (entity, week) feed on the " +
      "date_trunc week grid; batch retention derives from it") {
    def d(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      E(1, d("2024-01-01 10:00:00"), 1, "a", 0),
      E(2, d("2024-01-03 09:00:00"), 1, "a", 0), // same week: dedups
      E(3, d("2024-01-08 12:00:00"), 1, "a", 0), // next week
      E(4, d("2024-01-02 08:00:00"), 2, "a", 0))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.retentionFeed(input.toDF(), "user_id", "ts",
        watermark = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_feed").start()
    var stateAfterEvict = -1L
    try {
      input.addData(events.take(2))
      q.processAllAvailable()
      input.addData(events.drop(2))
      q.processAllAvailable()
      // the scale claim: dedup state EVICTS once the watermark
      // passes a week's end — drive the watermark far ahead and
      // confirm the state store does not retain the old weeks
      input.addData(E(99, d("2024-06-01 00:00:00"), -1, "a", 0))
      q.processAllAvailable()
      input.addData(E(100, d("2024-07-01 00:00:00"), -1, "a", 0))
      q.processAllAvailable()
      stateAfterEvict =
        q.lastProgress.stateOperators.head.numRowsTotal
    } finally q.stop()
    // only the watermark-recent rows may remain (the two flush
    // entities); the January weeks must be gone
    assert(stateAfterEvict >= 0 && stateAfterEvict <= 2,
      s"dedup state not evicted: $stateAfterEvict rows retained")
    val got = spark.table("ret_feed")
      .filter($"entity" =!= "-1") // drop the watermark-driver rows
      .select($"entity", $"week_start".cast("string"))
      .as[(String, String)].collect().toSeq
    assert(got.size === got.distinct.size, s"duplicate feed row: $got")
    assert(got.toSet === Set(("1", "2024-01-01"), ("1", "2024-01-08"),
      ("2", "2024-01-01")), got.toString)
    // the batch rollup from the feed equals EventOps.retention on raw
    // (computed locally: the feed is tiny and already collected)
    val cohorts = got.groupBy(_._1).map { case (e, ws) =>
      e -> ws.map(_._2).min
    }
    val fromFeed = got
      .groupBy { case (e, w) =>
        val cw = cohorts(e)
        (cw, (java.time.LocalDate.parse(w).toEpochDay -
          java.time.LocalDate.parse(cw).toEpochDay) / 7)
      }
      .map { case ((cw, off), rows) => (cw, off, rows.size.toLong) }
      .toSet
    val batch = graft.operators.EventOps.retention(events.toDF(),
      "user_id", "ts")
      .select($"cohort_week".cast("string"), $"week_offset", $"users")
      .as[(String, Long, Long)].collect().toSet
    assert(fromFeed === batch, s"feed=$fromFeed batch=$batch")
  }

  test("trendingTerms: bounded-state per-window top-k, ranked like " +
      "the exact batch rollup, emitted on window close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamOps.trendingTerms(
        input.toDF().toDF("ts", "text"), k = 3, counters = 64,
        every = "5 minutes", watermark = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .queryName("trending").start()
    try {
      input.addData(Seq(
        (ts(1), "alpha beta alpha gamma"),
        (ts(2), "alpha beta delta"),
        (ts(3), "gamma gamma")))
      q.processAllAvailable()
      // nothing emits while the window is open
      assert(spark.table("trending").count() === 0)
      // advance the watermark past the window end -> the window closes
      input.addData(Seq((Timestamp.valueOf("2024-01-01 11:00:00"), "x")))
      q.processAllAvailable()
      input.addData(Seq((Timestamp.valueOf("2024-01-01 12:00:00"), "y")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("trending")
      .filter($"wstart" === Timestamp.valueOf("2024-01-01 10:00:00"))
      .orderBy($"rk")
      .select($"term", $"n", $"rk").as[(String, Long, Int)]
      .collect().toSeq
    // counters cleared the vocabulary, so counts are exact:
    // alpha=3, gamma=3 (tie -> alpha first), beta=2
    assert(got === Seq(("alpha", 3L, 1), ("gamma", 3L, 2),
      ("beta", 2L, 3)), got.toString)
  }

  test("tailTrendingExact: bounded MG state + table-slice refinement " +
      "emit EXACT per-window top-k even when the counters undercount; " +
      "replays land nothing twice") {
    val base = tempDir("graft-trend-exact")
    val corpus = base.resolve("corpus").toString
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    // window 10:00-10:05 with a 12-term vocabulary; counters=2 is FAR
    // below it, so MG counts are badly understated lower bounds — the
    // admission bound cannot prove the candidate path and refinement
    // must fall back to the full rollup, which is exact by
    // construction
    def doc(m: Int, s: Int, text: String) = (ts(m, s), text)
    val w1 = (0 until 10).map(i =>
      doc(1, i, s"alpha t$i alpha")) ++ Seq(
      doc(2, 0, "beta beta gamma beta"),
      doc(2, 1, "gamma delta"))
    w1.toDF("ts", "text").write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    val q1 = StreamOps.tailTrendingExact(spark, corpus, out, ckpt,
      k = 3, counters = 2, every = "5 minutes",
      watermark = "1 minute")
    try {
      q1.processAllAvailable()
      // a late-hour append closes the 10:00 window
      Seq(doc(59, 0, "closer")).toDF("ts", "text")
        .write.format("graft-v2").option("path", corpus)
        .mode("append").save()
      q1.processAllAvailable()
    } finally q1.stop()
    val got = spark.read.format("graft-v2").load(out)
      .filter($"wstart" === ts(0))
      .orderBy($"rk")
      .select($"term", $"n", $"rk", $"pruned")
      .as[(String, Long, Int, Boolean)].collect().toSeq
    // the exact batch rollup: alpha=20, beta=3, gamma=2 (delta=1,
    // t0..t9=1 each; gamma beats delta and t* by count, not ties)
    assert(got.map(t => (t._1, t._2, t._3)) ===
      Seq(("alpha", 20L, 1), ("beta", 3L, 2), ("gamma", 2L, 3)),
      got.toString)
    assert(got.forall(!_._4),
      s"counters=2 cannot prove the candidate path: $got")

    // restart from the same checkpoint: a second window (AHEAD of the
    // watermark the first life advanced) closes and lands exactly
    // once; the first window's rows are not re-appended
    def tlate(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val w2 = Seq((tlate("11:06"), "omega omega psi"),
      (tlate("11:07"), "omega"))
    w2.toDF("ts", "text").write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    val q2 = StreamOps.tailTrendingExact(spark, corpus, out, ckpt,
      k = 3, counters = 64, every = "5 minutes",
      watermark = "1 minute", compactEvery = 1)
    try {
      q2.processAllAvailable()
      Seq((tlate("12:30"), "closer2")).toDF("ts", "text")
        .write.format("graft-v2").option("path", corpus)
        .mode("append").save()
      q2.processAllAvailable()
    } finally q2.stop()
    val all = spark.read.format("graft-v2").load(out)
    assert(all.filter($"wstart" === ts(0)).count() === 3,
      "window-1 rows re-appended on restart")
    // retention cadence fired: the per-window small files merged
    val ofs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = ofs.listStatus(
      new org.apache.hadoop.fs.Path(out)).map(_.getPath.getName)
      .filter(n => (n.startsWith("part-") || n.startsWith("stream-"))
        && n.endsWith(".parquet"))
    assert(dataFiles.length === 1,
      s"expected one compacted file, got ${dataFiles.mkString(", ")}")
    val g2 = all.filter($"wstart" === tlate("11:05")).orderBy($"rk")
      .select($"term", $"n", $"rk", $"pruned")
      .as[(String, Long, Int, Boolean)].collect().toSeq
    // only two distinct terms: fewer than k ranks can never prove the
    // candidate path, so the fallback emits — still exact
    assert(g2 === Seq(("omega", 3L, 1, false), ("psi", 1L, 2, false)),
      g2.toString)
  }

  test("exactTrendingBatch: an understated candidate set cannot fake " +
      "a proof — the admission bound routes the window to the exact " +
      "fallback") {
    val base = tempDir("graft-trend-unit")
    val corpus = base.resolve("corpus").toString
    Seq((ts(1), "top top top top mid mid low other1 other2"))
      .toDF("ts", "text").write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    // candidates MISS the true #1 term entirely; total=9 with
    // counters=2 -> bound 9/3=3: kth(=3rd) candidate count must
    // exceed 3 to prove, and it cannot
    val batch = Seq(
      (ts(0), "mid", 1L, 9L),
      (ts(0), "low", 1L, 9L),
      (ts(0), "other1", 1L, 9L))
      .toDF("wstart", "term", "n", "total")
    val got = StreamOps.exactTrendingBatch(batch, corpus, k = 3,
      counters = 2, every = "5 minutes")
      .orderBy($"rk")
      .select($"term", $"n", $"rk", $"pruned")
      .as[(String, Long, Int, Boolean)].collect().toSeq
    assert(got === Seq(("top", 4L, 1, false), ("mid", 2L, 2, false),
      ("low", 1L, 3, false)), got.toString)
  }

  test("late data beyond the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val q = StreamOps.tumblingWithWatermark(
        input.toDF(), "5 minutes", "2 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_out").start()
    try {
      input.addData(E(1, ts(1), 1, "a", 1.0))
      q.processAllAvailable()
      // advance watermark far ahead
      input.addData(E(2, ts(59), 1, "a", 1.0))
      q.processAllAvailable()
      // this event is now far behind the watermark -> dropped
      input.addData(E(3, ts(2), 1, "a", 1.0))
      q.processAllAvailable()
      input.addData(E(4, Timestamp.valueOf("2024-01-01 12:00:00"), 1, "a", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val n = spark.table("late_out")
      .filter($"wstart" === Timestamp.valueOf("2024-01-01 10:00:00"))
      .agg(sum($"n")).head.getLong(0)
    assert(n == 1, s"late row was not dropped (n=$n)")
  }

  test("dropDuplicatesWithinWatermark dedups repeated event ids") {
    val events = Seq(
      E(1, ts(1), 1, "a", 1.0), E(1, ts(1, 30), 1, "a", 1.0),
      E(2, ts(2), 1, "a", 1.0))
    val out = runStream(events, "dedup_out")(
      StreamOps.dedupWithinWatermark(_, "10 minutes"))
    assert(out.filter($"event_id" < 9999).count() == 2)
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionize(input.toDS(), gapSeconds = 300)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    try {
      input.addData(StreamOps.Ev(1, 1000), StreamOps.Ev(1, 1100),
        StreamOps.Ev(1, 1200))
      q.processAllAvailable()
      // gap > 300s closes the first session
      input.addData(StreamOps.Ev(1, 5000))
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.table("sess_out")
      .as[StreamOps.ClosedSession].collect()
    assert(sessions.length == 1)
    assert(sessions.head == StreamOps.ClosedSession(1, 1000, 3))
  }

  test("appending stream sink auto-compacts its small files") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps
    val input = MemoryStream[Long]
    val dir = tempDir("graft-appstream").resolve("t").toString
    import spark.implicits._
    val q = StreamOps.writeAppendBatches(
      input.toDF().select($"value".as("id")).coalesce(2), dir,
      compactEvery = 2, smallBytes = Long.MaxValue,
      targetBytes = Long.MaxValue)
    try {
      (0 until 4).foreach { b =>
        input.addData((b * 100L) until ((b + 1) * 100L): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val back = spark.read.parquet(dir)
    assert(back.count() == 400)
    assert(back.agg(sum($"id")).head.getLong(0) == (0L until 400L).sum)
    val parts = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    // 4 batches x 2 parts appended = 8 written; the compaction at
    // batch 2 merged the first 6 into 1, so at most 1+2 = 3 remain
    // plus any post-compaction appends
    assert(parts.length < 8, s"expected compaction to shrink: ${parts.toSeq}")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".graft-compact")))
  }

  test("appending stream sink compacts when small-file count crosses") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps
    val input = MemoryStream[Long]
    val dir = tempDir("graft-appstream-c").resolve("t").toString
    import spark.implicits._
    // no cadence trigger — only the small-file-count one (threshold 4)
    val q = StreamOps.writeAppendBatches(
      input.toDF().select($"value".as("id")).coalesce(2), dir,
      smallBytes = Long.MaxValue, targetBytes = Long.MaxValue,
      compactAtSmallFiles = 4)
    try {
      (0 until 5).foreach { b =>
        input.addData((b * 100L) until ((b + 1) * 100L): _*)
        q.processAllAvailable()
        // invariant: right after any commit, the threshold has been
        // re-established — never ≥ 4+2 small files linger
        val parts = new java.io.File(dir).listFiles()
          .map(_.getName).filter(_.startsWith("part-"))
        assert(parts.length < 6,
          s"batch $b left ${parts.length} files: ${parts.toSeq}")
      }
    } finally q.stop()
    val back = spark.read.parquet(dir)
    assert(back.count() == 500)
    assert(back.agg(sum($"id")).head.getLong(0) == (0L until 500L).sum)
  }

  test("exactly-once sink: a replayed batch never double-appends") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps
    val input = MemoryStream[Long]
    val base = tempDir("graft-eos")
    val dir = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    import spark.implicits._
    val df = input.toDF().select($"value".as("id"))
    def table = spark.read.format("graft-v2").option("path", dir).load()
    val q = StreamOps.writeExactlyOnceBatches(df, dir, ckpt, "eos-test")
    try {
      input.addData(0L until 50L: _*); q.processAllAvailable()
      input.addData(50L until 100L: _*); q.processAllAvailable()
    } finally q.stop()
    assert(table.count() == 100)
    // simulate the crash window: the batch committed to the TABLE but
    // its checkpoint commit never landed — drop the last commit marker
    // so the restarted query REPLAYS the last batch with the same id
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete() // local FS checksum twin
    val q2 = StreamOps.writeExactlyOnceBatches(df, dir, ckpt, "eos-test")
    try {
      q2.processAllAvailable()
      assert(table.count() == 100,
        "replayed batch must recognize its recorded epoch and skip")
      assert(table.distinct().count() == 100)
      // the tail keeps flowing after the replay
      input.addData(100L until 110L: _*); q2.processAllAvailable()
      assert(table.count() == 110)
      assert(table.distinct().count() == 110)
    } finally q2.stop()
    // direct same-id replay (crashed-twin path, no query machinery):
    // an old epoch is skipped outright, rows unchanged
    StreamOps.commitStreamBatch(
      spark.range(500, 600).toDF("id"), dir, "eos-test", batchId = 1L)
    assert(table.count() == 110)
  }

  test("foreachBatch atomic sink lands every micro-batch completely") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[E]
    val dir = tempDir("graft-sink-stream").toString
    val q = StreamOps.writeAtomicBatches(input.toDF(), dir)
    try {
      input.addData(E(1, ts(1), 1, "a", 1.0), E(2, ts(2), 1, "b", 2.0))
      q.processAllAvailable()
      input.addData(E(3, ts(3), 2, "a", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(s"$dir/batch-*")
    assert(back.count() == 3)
    assert(back.select(sum($"value")).head.getDouble(0) == 6.0)
  }

  test("streaming near-dup detection finds pairs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val input = MemoryStream[StreamingDedup.DocIn]
    val bandedStream = StreamingDedup.banded(input.toDF())
    // idleTimeoutMs = 0 opts out of the default TTL: this test drives
    // the query synchronously (processAllAvailable), which a
    // ProcessingTimeTimeout query never quiesces for
    val q = StreamingDedup.nearDupPairs(bandedStream, minJaccard = 0.5,
        idleTimeoutMs = 0)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 76).map(i => s"word$i").mkString(" ") + " small tail"
    val unrelated = (500 to 580).map(i => s"tok$i").mkString(" ")
    try {
      // batch 1: original + an unrelated doc
      input.addData(StreamingDedup.DocIn(1, base),
        StreamingDedup.DocIn(3, unrelated))
      q.processAllAvailable()
      assert(spark.table("neardup_out").count() == 0)
      // batch 2 (later): the near-duplicate arrives
      input.addData(StreamingDedup.DocIn(2, nearDup))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("neardup_out")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"expected cross-batch pair (1,2), got $pairs")
  }

  test("streaming near-dup state: idle buckets expire after the TTL") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.streaming.Trigger
    // ProcessingTimeTimeout re-runs batches whenever the clock advances,
    // so a synchronous processAllAvailable never quiesces; AvailableNow
    // + checkpoint restarts is the supported pattern — timeouts fire on
    // each restart's batches.
    val input = MemoryStream[StreamingDedup.DocIn]
    val ckpt = tempDir("graft-ttl-ckpt").toString
    val pairs =
      new java.util.concurrent.ConcurrentLinkedQueue[StreamingDedup.DupPair]()
    def runOnce(): Unit = {
      val q = StreamingDedup.nearDupPairs(
          StreamingDedup.banded(input.toDF()),
          minJaccard = 0.5, idleTimeoutMs = 500)
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamingDedup.DupPair],
              _: Long) => batch.collect().foreach(pairs.add)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      // AvailableNow + ProcessingTimeTimeout keeps re-running batches as
      // the clock advances, so the query may not self-terminate: give the
      // data a few seconds to land, then stop.
      q.awaitTermination(8000)
      q.stop()
    }
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val unrelated = (500 to 580).map(i => s"tok$i").mkString(" ")
    input.addData(StreamingDedup.DocIn(1, base))
    runOnce()
    Thread.sleep(1500) // let the idle TTL lapse
    // an intervening run executes the timed-out groups -> eviction
    input.addData(StreamingDedup.DocIn(3, unrelated))
    runOnce()
    // the duplicate arrives after its partner's buckets expired:
    // correctly missed, exactly like a post-watermark late event
    input.addData(StreamingDedup.DocIn(2, base))
    runOnce()
    assert(pairs.isEmpty,
      s"pair emitted from state that should have been TTL-evicted: $pairs")
  }

  test("streaming near-dup DEFAULT path evicts idle buckets") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.streaming.Trigger
    // the DEFAULT call (no idleTimeoutMs argument) must be
    // safe-by-default: a processing-time TTL, here shrunk via the
    // session conf so the test doesn't wait 30 minutes
    assert(StreamingDedup.DefaultIdleTimeoutMs > 0)
    spark.conf.set("graft.streaming.dedup.idleTimeoutMs", "500")
    try {
      val input = MemoryStream[StreamingDedup.DocIn]
      val ckpt = tempDir("graft-ttl-default-ckpt").toString
      val pairs = new java.util.concurrent.ConcurrentLinkedQueue[
        StreamingDedup.DupPair]()
      def runOnce(): Unit = {
        val q = StreamingDedup.nearDupPairs(
            StreamingDedup.banded(input.toDF()))
          .writeStream.outputMode("append")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[StreamingDedup.DupPair],
                _: Long) => batch.collect().foreach(pairs.add)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(8000)
        q.stop()
      }
      val base = (1 to 80).map(i => s"word$i").mkString(" ")
      val unrelated = (500 to 580).map(i => s"tok$i").mkString(" ")
      input.addData(StreamingDedup.DocIn(1, base))
      runOnce()
      Thread.sleep(1500) // let the default-path TTL lapse
      input.addData(StreamingDedup.DocIn(3, unrelated))
      runOnce()
      // duplicate arrives after its partner's buckets expired: missed
      input.addData(StreamingDedup.DocIn(2, base))
      runOnce()
      assert(pairs.isEmpty,
        s"default path kept state past the idle TTL: $pairs")
    } finally spark.conf.unset("graft.streaming.dedup.idleTimeoutMs")
  }

  test("nearDupPairsDistinct emits exactly one row per pair") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val input = MemoryStream[StreamingDedup.DocIn]
    val q = StreamingDedup.nearDupPairsDistinct(
        StreamingDedup.banded(input.toDF()), minJaccard = 0.5,
        idleTimeoutMs = 0)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_distinct_out").start()
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    try {
      input.addData(StreamingDedup.DocIn(1, base))
      q.processAllAvailable()
      // identical doc -> every band's bucket collides; raw path emits one
      // row per matching bucket, the distinct wrapper must collapse them
      input.addData(StreamingDedup.DocIn(2, base))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("neardup_distinct_out").collect()
    assert(rows.length == 1, s"expected exactly one pair row, got ${rows.length}")
  }

  test("transformWithState near-dup: pairs found, native TTL expires state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[StreamingDedup.DocIn]
      val q = StreamingDedup.nearDupPairsTws(
          StreamingDedup.banded(input.toDF()),
          minJaccard = 0.5, ttlMs = 1500)
        .writeStream.outputMode("append").format("memory")
        .queryName("neardup_tws_out").start()
      val base = (1 to 80).map(i => s"word$i").mkString(" ")
      val nearDup = (1 to 76).map(i => s"word$i").mkString(" ") + " tail x"
      // ProcessingTime mode re-runs batches continuously, so
      // processAllAvailable never quiesces — poll the sink instead
      def pairsNow() = spark.table("neardup_tws_out")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      def awaitCond(timeoutMs: Long)(cond: => Boolean): Boolean = {
        val end = System.currentTimeMillis + timeoutMs
        while (System.currentTimeMillis < end && !cond) Thread.sleep(100)
        cond
      }
      try {
        input.addData(StreamingDedup.DocIn(1, base))
        // within the TTL: the near-duplicate is detected cross-batch
        input.addData(StreamingDedup.DocIn(2, nearDup))
        assert(awaitCond(60000)(pairsNow() == Set((1L, 2L))),
          s"expected (1,2), got ${pairsNow()}")
        // past the TTL: state is expired on read -> duplicate missed
        Thread.sleep(2500)
        input.addData(StreamingDedup.DocIn(3, base))
        Thread.sleep(4000) // continuous batches: give it ample time
        assert(pairsNow() == Set((1L, 2L)),
          s"TTL-expired state still produced pairs: ${pairsNow()}")
      } finally q.stop()
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-stream interval join pairs within the delay, bounds state") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamOps.intervalJoin(
      imps.toDF().toDF("ad", "imp_ts"), "imp_ts",
      clicks.toDF().toDF("ad", "click_ts"), "click_ts",
      key = "ad", maxDelay = "5 minutes", watermark = "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(1)), (3L, ts(2)))
      clicks.addData(
        (1L, ts(3)),   // 3 min after imp 1 -> match
        (2L, ts(9)),   // 8 min after imp 2 -> outside maxDelay
        (4L, ts(4)))   // no impression -> no match
      q.processAllAvailable()
      // advance both watermarks far past everything
      imps.addData((99L, Timestamp.valueOf("2024-01-02 00:00:00")))
      clicks.addData((98L, Timestamp.valueOf("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssj")
        .select(col("ad"), col("imp_ts"), col("click_ts")).collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L),
        s"only the in-window click attributes: ${rows.mkString(", ")}")
      // the physical plan is the state-bounded symmetric hash join
      assert(q.lastProgress.sources.length == 2)
      assert(spark.table("ssj").queryExecution.analyzed != null)
    } finally q.stop()
    // batch equivalence: same helper, same semantics on static frames
    val bImps = Seq((1L, ts(0)), (2L, ts(1))).toDF("ad", "imp_ts")
    val bClicks = Seq((1L, ts(3)), (2L, ts(9))).toDF("ad", "click_ts")
    val b = StreamOps.intervalJoin(bImps, "imp_ts", bClicks, "click_ts",
      key = "ad", maxDelay = "5 minutes")
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("left-outer interval join emits unmatched rows after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamOps.intervalJoinLeftOuter(
      imps.toDF().toDF("ad", "imp_ts"), "imp_ts",
      clicks.toDF().toDF("ad", "click_ts"), "click_ts",
      key = "ad", maxDelay = "5 minutes", watermark = "1 minute")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjo").start()
    try {
      imps.addData((1L, ts(0)), (2L, ts(1)))
      clicks.addData((1L, ts(3)))   // ad 1 attributed; ad 2 never clicked
      q.processAllAvailable()
      imps.addData((99L, Timestamp.valueOf("2024-01-02 00:00:00")))
      clicks.addData((98L, Timestamp.valueOf("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssjo")
        .filter(col("ad") < 90)
        .select(col("ad"), col("click_ts")).collect()
        .map(r => (r.getLong(0), r.isNullAt(1))).sortBy(_._1)
      assert(rows.toSeq == Seq((1L, false), (2L, true)),
        s"ad 2 must emit un-attributed: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("batch session windows match the streaming gap semantics") {
    val events = Seq(
      E(1, ts(0), 7, "a", 1.0), E(2, ts(2), 7, "a", 1.0),
      E(3, ts(4), 7, "a", 1.0),
      E(4, ts(30), 7, "a", 1.0)).toDF()
    val out = StreamOps.sessions(events, "5 minutes")
      .orderBy($"session_start").collect()
    assert(out.length == 2)
    assert(out(0).getLong(2) == 3 && out(1).getLong(2) == 1)
  }

  test("graft-v2 native streaming sink appends micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-stream-v2").toString
    val cp = tempDir("graft-stream-v2-cp").toString
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .format("graft-v2").option("path", dir)
      .start()
    try {
      input.addData(1L to 10L: _*)
      q.processAllAvailable()
      input.addData(11L to 15L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.format("graft-v2").option("path", dir).load()
    assert(got.count() === 15)
    assert(got.agg(sum($"id")).head.getLong(0) === (1L to 15L).sum)
    // each epoch committed one manifest version with its epoch meta
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(
      graft.sources.v2.GraftHadoopConf.sessionConf())
    val vs = graft.sources.v2.GraftManifest.versions(fs, target)
    assert(vs.size >= 2, s"versions: $vs")
  }

  test("graft-v2 streaming sink: epoch replay is exactly-once") {
    val dir = tempDir("graft-stream-replay").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val w = new graft.sources.v2.GraftStreamingWriteV2(
      dir, schema, "replay-app")
    val hc = graft.sources.v2.GraftHadoopConf
    val conf = hc.broadcast(hc.pinParquetWrite(hc.sessionConf(), schema))
    def writeEpoch(epoch: Long, values: Seq[Long])
        : Array[org.apache.spark.sql.connector.write
          .WriterCommitMessage] = {
      val f = graft.sources.v2.GraftStreamingWriterFactoryV2(
        conf, dir, "replay-app")
      val writer = f.createWriter(0, epoch * 100 + 1, epoch)
      values.foreach { v =>
        writer.write(org.apache.spark.sql.catalyst.InternalRow(v))
      }
      Array(writer.commit())
    }
    w.commit(0L, writeEpoch(0L, Seq(1L, 2L, 3L)))
    // replay of epoch 0 with identical content: must be a no-op
    w.commit(0L, writeEpoch(0L, Seq(1L, 2L, 3L)))
    w.commit(1L, writeEpoch(1L, Seq(4L)))
    // a LATE replay of epoch 0 (recorded epoch is now 1) also no-ops
    w.commit(0L, writeEpoch(0L, Seq(1L, 2L, 3L)))
    val got = spark.read.format("graft-v2").option("path", dir).load()
    assert(got.count() === 4)
    assert(got.agg(sum($"id")).head.getLong(0) === 10L)
  }
}
