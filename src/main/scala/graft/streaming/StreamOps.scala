package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2i — EXT per north star; the
  * reference has no streaming code). The same event-time transforms run
  * identically over a batch DataFrame or a `readStream` source; the
  * batch formulations are what the DuckDB oracle checks
  * (q_tumbling_window / q_sliding_window / q_session_window), and the
  * streaming-only semantics (watermarks, late-data drop, stateful dedup,
  * custom state) are exercised with MemoryStream in StreamingSpec.
  *
  * Scale stance: all aggregations below key by (window, type) or user —
  * state is bounded by watermark eviction; nothing accumulates
  * indefinitely.
  */
object StreamOps {

  /** Tumbling event-time window aggregation. Works on batch or stream. */
  def tumbling(events: DataFrame, every: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), every).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        col("v").cast("double").as("v"))

  /** Sliding event-time window aggregation. */
  def sliding(events: DataFrame, size: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
      .select(col("w.start").as("wstart"), col("n"),
        col("v").cast("double").as("v"))

  /** Session windows with a fixed inactivity gap, per user. */
  def sessions(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n"))

  /** Streaming tumbling agg with a watermark — late rows beyond the
    * watermark are dropped and state is evicted. */
  def tumblingWithWatermark(stream: DataFrame, every: String,
      watermark: String): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), every), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** Streaming face of [[graft.operators.EventOps.ohlcBars]]: OHLC
    * bars over event-time windows with watermark finalization — the
    * same min_by/max_by-on-(ts, id) selection, so a bar emitted by
    * the stream is bit-identical to the batch bar over the same rows.
    * State is one (window, key) aggregation buffer per open bar,
    * evicted when the watermark passes the window end (append mode
    * emits each bar exactly once, finalized). `valueScale` is the
    * same fixed-point volume scale as the batch operator
    * ([[graft.operators.EventOps.ohlcBars]]) — parity holds at ANY
    * scale, not just the default. */
  def ohlcBars(stream: DataFrame, keyCol: String, every: String,
      watermark: String, valueScale: Long = 100L): DataFrame = {
    require(valueScale > 0, s"valueScale must be > 0, got $valueScale")
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), every), col(keyCol))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * valueScale).cast("long"))
          .as("volume_c"))
      .select(col("window.start").as("bucket"), col(keyCol),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("volume_c"))
  }

  /** Stream-stream INNER interval join (the ad-attribution /
    * cause-effect shape): each right-side event pairs with the
    * left-side events of the same `key` whose timestamp precedes it
    * by at most `maxDelay`. BOTH sides carry watermarks and the join
    * condition bounds event time in BOTH directions — that is what
    * lets Spark's symmetric hash join EVICT state: a buffered left
    * row dies once the right watermark passes `ts + maxDelay`.
    * Without the time bound the buffered state grows with the stream,
    * which at production rates is the difference between a join and
    * an OOM. Sides must not share payload column names (the key and
    * timestamps are qualified here; anything else would collide). */
  def intervalJoin(left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String, key: String,
      maxDelay: String, watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark).alias("l")
    val r = right.withWatermark(rightTsCol, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTsCol") >= col(s"l.$leftTsCol") &&
        col(s"r.$rightTsCol") <=
          col(s"l.$leftTsCol") + expr(s"INTERVAL $maxDelay"),
      joinType)
      .drop(col(s"r.$key"))
  }

  /** Outer variant: left rows with no in-window match EMIT (right side
    * null) once the watermark proves no match can still arrive — the
    * "un-attributed impressions" feed. Same bounded state as the inner
    * join; the time bound is what makes the outer row decidable. */
  def intervalJoinLeftOuter(left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String, key: String,
      maxDelay: String, watermark: String = "10 minutes"): DataFrame =
    intervalJoin(left, leftTsCol, right, rightTsCol, key, maxDelay,
      watermark, joinType = "left_outer")

  /** Windowed Count-Min sketch maintenance over a token stream — the
    * streaming face of [[graft.operators.Sketch]]: per event-time
    * window, the (row, bucket) count cells of the d×w sketch. The
    * aggregation state is BOUNDED at d·w cells per open window no
    * matter the stream volume (the defining property of sketch
    * maintenance — a naive per-term streaming count grows state with
    * the vocabulary), and the watermark evicts closed windows. The
    * same formulation runs identically on a batch frame, which is
    * what StreamingSpec's parity test checks; downstream consumers
    * probe the emitted cells exactly like the batch sketch
    * ([[graft.operators.Sketch.cmsTopTerms]]'s literal lookup). */
  def cmsCells(docs: DataFrame, d: Int = 4, w: Int = 512,
      every: String = "10 minutes", watermark: String = "10 minutes",
      tsCol: String = "ts", textCol: String = "text"): DataFrame = {
    val src =
      if (docs.isStreaming) docs.withWatermark(tsCol, watermark)
      else docs
    src
      .select(col(tsCol),
        explode(graft.operators.CorpusOps.tokens(col(textCol)))
          .as("term"))
      .select(col(tsCol),
        posexplode(graft.functions.GraftFunctions
          .cms_buckets(col("term"), d, w)).as(Seq("i", "b")))
      .groupBy(window(col(tsCol), every).as("win"), col("i"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("wstart"), col("i"), col("b"),
        col("cnt"))
  }

  /** One role-tagged (window-key, type) row for [[driftFeed]]. */
  case class DriftRole(wk: java.sql.Timestamp, ty: String,
    cur: Boolean)
  /** Per-window drift state: the window's own type counts plus the
    * PREVIOUS window's (routed in by the prev role). */
  case class DriftState(curCounts: Map[String, Long],
    prevCounts: Map[String, Long])
  /** A closed window's distribution-drift reading. */
  case class DriftAlert(window_start: java.sql.Timestamp,
    n_types: Int, kl_unat: Long)

  /** STREAMING DISTRIBUTION-DRIFT FACE — the live twin of
    * [[graft.operators.EventOps.typeDrift]]'s math: per closed
    * tumbling window, `KL(current mix ‖ previous mix)` over the
    * co-observed event types in exact micro-nats (every `ln`
    * quantized at its integer count, totals renormalized over the
    * co-observed set, ONE truncating division at the end —
    * disclosed). A spiking reading says the traffic COMPOSITION
    * changed, not just its volume.
    *
    * Distribution: every event feeds TWO window groups — its own
    * (role `cur`) and the next (role `prev`) — so each window's
    * group holds both mixes and finalizes INDEPENDENTLY at its
    * event-time timeout: no singleton key, no cross-group state,
    * fully parallel across windows. State per window is two
    * type-count maps, removed at emission.
    *
    * Disclosed semantics: the first window (and any window whose
    * predecessor was empty or shares no types) emits nothing — drift
    * needs a reference; the watermark rides the window-KEY column,
    * whose prev-role rows run up to one window ahead of event time,
    * so effective lateness tolerance is `watermark` minus up to one
    * window — size `watermark` accordingly.
    *
    * @return `(window_start, n_types, kl_unat)`, one row per closed
    *         window with a comparable predecessor, exactly once
    */
  def driftFeed(stream: DataFrame, typeCol: String, tsCol: String,
      every: String = "1 hour", watermark: String = "20 minutes")
      : Dataset[DriftAlert] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(every))
    val durMs = iv.days * 86400000L + iv.microseconds / 1000L
    require(durMs > 0, s"window duration must be positive: $every")
    val wstart = window(col(tsCol), every).getField("start")
    val cur = stream.select(wstart.as("wk"),
      col(typeCol).cast("string").as("ty"), lit(true).as("cur"))
    val prv = stream.select(
      timestamp_millis(unix_millis(wstart) + durMs).as("wk"),
      col(typeCol).cast("string").as("ty"), lit(false).as("cur"))
    def lnq(x: Long): Long = Math.round(math.log(x.toDouble) * 1e6)
    cur.unionByName(prv)
      .withWatermark("wk", watermark)
      .as[DriftRole]
      .groupByKey(_.wk)
      .flatMapGroupsWithState[DriftState, DriftAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wk, rows, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val co = (st.curCounts.keySet & st.prevCounts.keySet)
              .toSeq.sorted
            if (co.isEmpty) Iterator.empty
            else {
              val cw = co.iterator.map(st.curCounts).sum
              val ce = co.iterator.map(st.prevCounts).sum
              val num = co.iterator.map { t =>
                val a = st.curCounts(t)
                Math.multiplyExact(a,
                  lnq(a) - lnq(cw) - lnq(st.prevCounts(t)) + lnq(ce))
              }.reduce(Math.addExact(_, _))
              Iterator.single(DriftAlert(wk, co.size, num / cw))
            }
          } else {
            val st = state.getOption
              .getOrElse(DriftState(Map.empty, Map.empty))
            var c = st.curCounts
            var p = st.prevCounts
            rows.foreach { r =>
              if (r.cur) c = c.updated(r.ty, c.getOrElse(r.ty, 0L) + 1)
              else p = p.updated(r.ty, p.getOrElse(r.ty, 0L) + 1)
            }
            state.update(DriftState(c, p))
            // fire once the key-column watermark passes the window
            // end (see the lateness note above)
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L,
              wk.getTime + durMs + 1L))
            Iterator.empty
          }
      }
  }

  /** One (window, term) occurrence for [[trendingTerms]]. */
  case class WinTerm(wstart: java.sql.Timestamp, term: String)
  /** A closed window's ranked term. */
  case class TrendingTerm(wstart: java.sql.Timestamp, term: String,
    n: Long, rk: Int)
  /** Per-window Misra–Gries state: stream length + ≤ m counters. */
  case class MgState(total: Long, counts: Map[String, Long])

  /** Streaming per-window TOP-K TERMS with BOUNDED state: each open
    * event-time window keeps a Misra–Gries summary of at most
    * `counters` entries (never the vocabulary — the difference
    * between a trending-terms feed and an OOM at production rates),
    * and emits its ranked top-k when the watermark closes the window
    * (event-time timeout). Counts are the summary's — exact while the
    * window's distinct terms fit the counters, otherwise lower bounds
    * within total/(counters+1), the MG guarantee; rank ties break on
    * term. The batch twin for parity checks is the exact
    * `groupBy(window, term)` rollup ([[graft.operators.Sketch]]'s
    * two-pass refinement covers the batch exact-top-k case). */
  def trendingTerms(docs: DataFrame, k: Int = 10, counters: Int = 1024,
      every: String = "5 minutes", watermark: String = "10 minutes",
      tsCol: String = "ts", textCol: String = "text")
      : Dataset[TrendingTerm] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val windowMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(every))
    val slackMs = windowMs.days * 86400000L +
      windowMs.microseconds / 1000L
    // the watermark rides the DERIVED window-start column (the raw ts
    // is projected away before the stateful operator; wstart <= ts,
    // so the horizon is conservative by at most one window)
    val winned = docs
      .select(window(col(tsCol), every).getField("start").as("wstart"),
        explode(graft.operators.CorpusOps.tokens(col(textCol)))
          .as("term"))
      .withWatermark("wstart", watermark)
      .as[WinTerm]
    winned
      .groupByKey(_.wstart)
      .flatMapGroupsWithState[MgState, TrendingTerm](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed the window end: rank and emit, drop state
            val MgState(_, counts) = state.get
            state.remove()
            counts.toSeq
              .sortBy { case (t, n) => (-n, t) }
              .take(k).zipWithIndex
              .map { case ((t, n), i) =>
                TrendingTerm(wstart, t, n, i + 1)
              }.iterator
          } else {
            state.update(mgIngest(state.getOption, rows, counters))
            // close once the watermark proves the window complete
            state.setTimeoutTimestamp(
              wstart.getTime + slackMs)
            Iterator.empty
          }
      }
  }

  /** The Misra–Gries update loop shared by [[trendingTerms]] and
    * [[trendingSummary]]: fold `rows` into the ≤ `counters`-entry
    * summary (decrement-all on overflow), tracking the exact stream
    * length. */
  private def mgIngest(prev: Option[MgState], rows: Iterator[WinTerm],
      counters: Int): MgState = {
    val cur = scala.collection.mutable.HashMap.empty[String, Long]
    var total = 0L
    prev.foreach { s => total = s.total; cur ++= s.counts }
    rows.foreach { r =>
      total += 1
      if (cur.contains(r.term)) cur(r.term) += 1
      else if (cur.size < counters) cur(r.term) = 1L
      else {
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        cur.keysIterator.foreach { t =>
          val v = cur(t) - 1
          if (v == 0L) dead += t else cur(t) = v
        }
        dead.foreach(cur.remove)
      }
    }
    MgState(total, cur.toMap)
  }

  /** A closed window's FULL Misra–Gries summary row (the candidate
    * set for exact refinement): summary lower-bound count `n`, exact
    * stream length `total`. */
  case class SummaryTerm(wstart: java.sql.Timestamp, term: String,
    n: Long, total: Long)

  /** A pre-folded occurrence group: `cnt` occurrences of `term` in
    * one partition's slice of window `wstart` (the map-side partial
    * count the stateful summary ingests). */
  case class WinTermCnt(wstart: java.sql.Timestamp, term: String,
    cnt: Long)

  /** [[mgIngest]]'s WEIGHTED twin for pre-folded `(term, cnt)` rows:
    * each group is processed exactly as `cnt` consecutive unit inserts
    * of `term` (present → add cnt; absent with room → cnt; absent and
    * full → the batched decrement: d = min(cnt, smallest counter) off
    * every counter, zeros evicted, the remaining cnt−d becomes the
    * term's counter in a freed slot). Unit-equivalence keeps the
    * classic MG guarantee — any term whose true count exceeds
    * total/(counters+1) is in the summary — which is the only property
    * [[exactTrendingBatch]]'s admission bound needs; WHICH valid
    * summary emerges may differ from occurrence-order ingest, and the
    * refinement absorbs exactly that (candidate nondeterminism was
    * already disclosed — the emitted exact rows are invariant). */
  private def mgIngestW(prev: Option[MgState],
      rows: Iterator[WinTermCnt], counters: Int): MgState = {
    val cur = scala.collection.mutable.HashMap.empty[String, Long]
    var total = 0L
    prev.foreach { s => total = s.total; cur ++= s.counts }
    rows.foreach { r =>
      total += r.cnt
      if (cur.contains(r.term)) cur(r.term) += r.cnt
      else if (cur.size < counters) cur(r.term) = r.cnt
      else {
        val m = cur.valuesIterator.min
        val d = math.min(r.cnt, m)
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        cur.keysIterator.foreach { t =>
          val v = cur(t) - d
          if (v == 0L) dead += t else cur(t) = v
        }
        dead.foreach(cur.remove)
        if (r.cnt > d) cur(r.term) = r.cnt - d
      }
    }
    MgState(total, cur.toMap)
  }

  /** [[trendingTerms]]'s sibling that emits the WHOLE summary when a
    * window closes (every candidate, not just the ranked top-k) plus
    * the window's exact stream length — the input
    * [[exactTrendingBatch]] refines into exact counts. Same bounded
    * per-window state. */
  def trendingSummary(docs: DataFrame, counters: Int = 1024,
      every: String = "5 minutes", watermark: String = "10 minutes",
      tsCol: String = "ts", textCol: String = "text")
      : Dataset[SummaryTerm] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val windowMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(every))
    val slackMs = windowMs.days * 86400000L +
      windowMs.microseconds / 1000L
    // r20 (measured: the ingest batch was ~2 s of the lifecycle):
    // pre-fold occurrences into (wstart, term, cnt) groups INSIDE each
    // scan partition (stateless — legal where a second stateful
    // aggregation would not be), so the shuffle into the stateful
    // operator and the typed deserialization see one row per distinct
    // (window, term) per partition instead of one per occurrence. The
    // weighted ingest is unit-equivalent (see [[mgIngestW]]); the
    // watermark column carries the same values, so the horizon and
    // close timing are unchanged.
    val occ = docs
      .select(window(col(tsCol), every).getField("start").as("wstart"),
        explode(graft.operators.CorpusOps.tokens(col(textCol)))
          .as("term"))
      .as[WinTerm]
      .mapPartitions { it =>
        val m = scala.collection.mutable
          .HashMap.empty[(java.sql.Timestamp, String), Long]
        it.foreach { r =>
          val k = (r.wstart, r.term)
          m(k) = m.getOrElse(k, 0L) + 1L
        }
        m.iterator.map { case ((w, t), c) => WinTermCnt(w, t, c) }
      }
    occ
      .withWatermark("wstart", watermark)
      .groupByKey(_.wstart)
      .flatMapGroupsWithState[MgState, SummaryTerm](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart, rows, state) =>
          if (state.hasTimedOut) {
            val MgState(total, counts) = state.get
            state.remove()
            counts.iterator
              .map { case (t, n) => SummaryTerm(wstart, t, n, total) }
          } else {
            state.update(mgIngestW(state.getOption, rows, counters))
            state.setTimeoutTimestamp(wstart.getTime + slackMs)
            Iterator.empty
          }
      }
  }

  /** EXACT per-window top-k from one closed-window candidate batch:
    * the summary terms prune the corpus slice's rollup (the candidate
    * aggregate moves ≤ `counters` terms per window instead of the
    * vocabulary), then the Misra–Gries admission bound decides per
    * window whether the candidate path PROVED the true top-k — the
    * k-th exact count must clear `total/(counters+1)`, the largest
    * count a non-candidate could hold — and any window that fails
    * falls back to its full rollup, so emitted counts are EXACT
    * either way (the batch twin is [[graft.operators.Sketch
    * .topTermsExact]]; this is its streaming face over the corpus
    * table the stream tails). Returns `(wstart, term, n, rk,
    * pruned)`. Late rows beyond the watermark follow the standard
    * streaming contract: the recount sees whatever the table holds at
    * refinement time. */
  private[graft] def exactTrendingBatch(batch: DataFrame,
      corpusPath: String, k: Int, counters: Int,
      every: String, tsCol: String = "ts", textCol: String = "text")
      : DataFrame = {
    // the summary is BOUNDED by the operator's own contract
    // (≤ counters rows per closed window): pull it local once — no
    // cached frames to leak across a long-lived stream
    val summary = batch
      .select(col("wstart"), col("term"), col("total"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    exactTrendingFromSummary(batch.sparkSession, summary, corpusPath,
      k, counters, every, tsCol, textCol)
  }

  /** [[exactTrendingBatch]] after the summary collect — the refinement
    * body, shared with [[tailTrendingExact]]'s foreachBatch (which
    * collects the summary itself so the micro-batch plan executes
    * exactly ONCE per trigger: the old isEmpty pre-check + collect
    * re-ran the stateful plan a second time every batch). */
  private def exactTrendingFromSummary(
      spark: org.apache.spark.sql.SparkSession,
      summary: Array[(java.sql.Timestamp, String, Long)],
      corpusPath: String, k: Int, counters: Int,
      every: String, tsCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    val winTotals = summary.map(s => s._1 -> s._3).toMap
    val cands = summary.map(s => (s._1, s._2)).toSeq
      .toDF("wstart", "term")
    val sliceTerms = spark.read.format("graft-v2").load(corpusPath)
      .select(
        window(col(tsCol), every).getField("start").as("wstart"),
        explode(graft.operators.CorpusOps.tokens(col(textCol)))
          .as("term"))
      .join(broadcast(winTotals.keys.toSeq.toDF("wstart")),
        Seq("wstart"))
    // r20 (measured: the finalize batch burned 5.6 s, ~2 corpus
    // passes): the candidate-pruned rollup and the fallback rollup
    // each re-tokenized the ENTIRE corpus slice — and the fallback arm
    // executed even when every window proved. The per-(window, term)
    // rollup now runs ONCE and both arms read it; the counts each arm
    // sees are identical to what its own corpus pass produced, so the
    // proven set — and therefore every emitted row and `pruned` flag —
    // is unchanged (hash-checked by the oracle). The rollup is
    // window-vocabulary-sized, which is exactly the fallback arm's
    // existing shuffle scale; what the old pruning saved (candidate-
    // only shuffle) was bought with a full second corpus tokenize the
    // moment ANY window fell back. The barrier storage is swept by the
    // caller per batch (tailTrendingExact) and by the harnesses.
    val rollup = sliceTerms
      .groupBy(col("wstart"), col("term"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Materialize.barrier)
    def rank(counts: DataFrame): DataFrame = counts
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("wstart"))
          .orderBy(col("n").desc, col("term"))))
      .filter(col("rk") <= k)
    // candidate-pruned exact top-k: ≤ k rows per window come back
    val prunedTopK = rank(
      rollup.join(broadcast(cands), Seq("wstart", "term")))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
    // a window's candidate path is PROVEN when it filled k ranks and
    // its k-th exact count clears the MG admission bound — the
    // largest count any non-candidate term could hold
    val proven = prunedTopK.groupBy(_._1).collect {
      case (w, rows) if rows.length >= k &&
          rows.find(_._4 == k).exists(_._3 >
            winTotals(w) / (counters + 1L)) => w
    }.toSet
    val exactPruned = prunedTopK.filter(r => proven.contains(r._1))
      .toSeq.toDF("wstart", "term", "n", "rk")
      .withColumn("pruned", lit(true))
    val badWins = winTotals.keys.filterNot(proven.contains).toSeq
    if (badWins.isEmpty) {
      // nothing fell back: skip the fallback subtree outright instead
      // of planning a rollup scan that returns zero rows
      exactPruned.select(col("wstart"), col("term"), col("n"),
        col("rk"), col("pruned"))
    } else {
      val fallback = rank(
        rollup.join(broadcast(badWins.toDF("wstart")), Seq("wstart")))
        .withColumn("pruned", lit(false))
      exactPruned.unionByName(fallback)
        .select(col("wstart"), col("term"), col("n"), col("rk"),
          col("pruned"))
    }
  }

  /** STREAMING EXACT TOP-K: tail a corpus table's appends, keep
    * bounded Misra–Gries state per event-time window, and when the
    * watermark closes a window, refine its candidates to EXACT counts
    * against the table slice ([[exactTrendingBatch]]) — appended to
    * `outPath` through the epoch-keyed exactly-once commit, so a
    * replayed refinement batch lands nothing twice. Bounded streaming
    * state meets exact emitted counts: the information the state
    * cannot hold lives durably in the table the stream tails. */
  def tailTrendingExact(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String,
      outPath: String, checkpoint: String, k: Int = 10,
      counters: Int = 1024, every: String = "5 minutes",
      watermark: String = "10 minutes",
      tsCol: String = "ts", textCol: String = "text",
      compactEvery: Int = 0, keepVersions: Int = 512)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.format("graft-v2")
      .option("path", corpusPath).load()
    trendingSummary(stream, counters, every, watermark, tsCol, textCol)
      .toDF()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // ONE execution of the micro-batch plan per trigger: the
        // summary collect doubles as the emptiness check (the old
        // isEmpty pre-check re-ran the whole stateful plan — ~0.4 s a
        // batch of pure re-execution in the phase profile)
        val summary = batch
          .select(col("wstart"), col("term"), col("total"))
          .collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        if (summary.nonEmpty) {
          // the refinement's rollup barrier is batch-scoped: sweep the
          // delta once the commit has consumed it, so a long-lived
          // feed never accumulates checkpoint storage across batches
          val sc = batch.sparkSession.sparkContext
          val persistedBefore = sc.getPersistentRDDs.keySet
          commitStreamBatch(
            exactTrendingFromSummary(batch.sparkSession, summary,
              corpusPath, k, counters, every, tsCol, textCol),
            outPath, "trending-exact", id)
          (sc.getPersistentRDDs.keySet -- persistedBefore).foreach {
            rid => sc.getPersistentRDDs.get(rid)
              .foreach(_.unpersist(blocking = false))
          }
          // output retention: one small commit lands per closed
          // window, so a long-lived feed fragments the out table —
          // compactEvery > 0 merges small files and vacuums old
          // manifest versions on a batch cadence. Leave 0 (off) if a
          // downstream graft-v2 STREAM tails the out table
          // (compaction rewrites files, breaking the append-only
          // contract; batch readers are unaffected).
          if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
            graft.sources.GraftSink.compact(spark, outPath)
            val t = new org.apache.hadoop.fs.Path(outPath)
            graft.sources.v2.GraftManifest.vacuum(
              t.getFileSystem(spark.sessionState.newHadoopConf()), t,
              keepVersions = keepVersions)
          }
        }
        ()
      }
      .start()
  }

  /** Stateful exact dedup by event_id within the watermark horizon. */
  def dedupWithinWatermark(stream: DataFrame, watermark: String): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming sink through the atomic write path: every micro-batch
    * lands via [[graft.sources.GraftSink.saveAtomic]] (staging + rename),
    * so a failed batch never leaves partial files — the streaming face of
    * the reference's all-or-nothing save (ExtJdbcUtils.scala:70-109).
    * Returns the started query; caller awaits/stops it.
    */
  def writeAtomicBatches(stream: DataFrame, dir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.GraftSink.saveAtomic(
          batch, f"$dir/batch-$id%05d",
          org.apache.spark.sql.SaveMode.Overwrite)
      }
      .start()

  /** Single-directory streaming append with auto-compaction: every
    * batch's parts land in ONE directory (the layout scans, catalogs,
    * and `replaceWhere` want), and every `compactEvery` batches the
    * accumulated small files merge via
    * [[graft.sources.GraftSink.compact]] — the hook that keeps a
    * long-running stream from fragmenting its table into thousands of
    * tiny row groups. Trade-off vs [[writeAtomicBatches]]: the
    * per-batch-directory layout there makes a replayed batch
    * idempotent (it overwrites its own directory); appending into one
    * directory is at-least-once on crash replay. Compaction itself is
    * backup-park atomic, so batch readers never see a partial merge.
    *
    * Two triggers, combinable:
    *  - `compactEvery` — cadence-based, every N batches;
    *  - `compactAtSmallFiles` — state-based, whenever the directory's
    *    small-file count crosses the threshold. This is the better
    *    default for uneven batch sizes: a burst of tiny batches
    *    compacts sooner, a stretch of large batches (each already a
    *    healthy file) never pays a pointless merge. The count is one
    *    driver-side directory listing per commit, and compaction
    *    itself keeps that listing bounded.
    *
    * Do NOT tail an auto-compacting directory with a `graft-v2`
    * STREAM: compaction rewrites files, violating the micro-batch
    * source's append-only contract — the merged files would be
    * re-ingested as new (duplicates). Batch scans, catalogs, and
    * `replaceWhere` are the intended consumers; leave both triggers
    * at 0 if a downstream stream must tail the directory. */
  def writeAppendBatches(stream: DataFrame, dir: String,
      compactEvery: Int = 0,
      smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024,
      compactAtSmallFiles: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.GraftSink.saveAtomic(
          batch, dir, org.apache.spark.sql.SaveMode.Append)
        val cadenceDue = compactEvery > 0 && id > 0 && id % compactEvery == 0
        def countDue: Boolean = compactAtSmallFiles > 0 && {
          val target = new org.apache.hadoop.fs.Path(dir)
          val fs = target.getFileSystem(
            batch.sparkSession.sessionState.newHadoopConf())
          fs.listStatus(target).count { st =>
            st.getPath.getName.startsWith("part-") &&
              st.getLen < smallBytes
          } >= compactAtSmallFiles
        }
        if (cadenceDue || countDue) {
          graft.sources.GraftSink.compact(
            batch.sparkSession, dir, smallBytes, targetBytes)
        }
        ()
      }
      .start()

  /** EXACTLY-ONCE append sink through the manifest protocol. Spark's
    * foreachBatch contract is at-least-once: after a crash between a
    * batch's side effect and its checkpoint commit, the batch REPLAYS
    * with the same id — [[writeAppendBatches]] would append its rows a
    * second time. Here every batch commits through one atomic manifest
    * version that carries `stream.<appId>=<batchId>` in its meta, so
    * the replay sees its own epoch already recorded and becomes a
    * no-op (the same app-id/version transaction every open table
    * format's idempotent-writes option uses).
    *
    * Protocol per batch: (1) bootstrap the manifest if absent (staged
    * files are then invisible until their commit); (2) if the recorded
    * epoch for `appId` >= this batch id, sweep this batch's crashed
    * residue and skip; (3) stage the batch under deterministic
    * `stream-<appId>-<batchId>-<i>.parquet` names (a crashed attempt's
    * residue is identifiable and swept before re-staging); (4) commit
    * the names + epoch meta as ONE manifest version.
    *
    * Contracts: one running writer per (appId, table); `appId` must be
    * STABLE across application restarts (it is the transaction key);
    * don't interleave V1 blind saves with a crashed batch's residue
    * window (their listing-based manifest refresh would legitimize
    * orphans); the vacuum retention window must outlast the longest
    * restart gap (the epoch record lives in manifest meta). */
  def writeExactlyOnceBatches(stream: DataFrame, dir: String,
      checkpoint: String, appId: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitStreamBatch(batch, dir, appId, id)
        ()
      }
      .start()

  /** One exactly-once batch commit (the foreachBatch body, separated
    * so tests can force a same-id replay directly). */
  private[graft] def commitStreamBatch(batch: DataFrame, dir: String,
      appId: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.sources.v2.GraftManifest
    val spark = batch.sparkSession
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val app = appId.replaceAll("[^A-Za-z0-9_.-]", "_")
    val key = s"stream.$app"
    val prefix = f"stream-$app-$batchId%08d-"
    def recordedEpoch: Option[Long] =
      GraftManifest.lastMeta(fs, target, key)
        .flatMap(v => scala.util.Try(v.toLong).toOption)
    // this batch's residue from a crashed earlier attempt: staged into
    // the root but never committed into any manifest version. "Live"
    // means recorded in ANY retained version — not just the head: a
    // later commit (compaction, DELETE) may have removed this batch's
    // files from the head snapshot while older retained versions
    // still reference them (same invariant as the V2 sink's sweep).
    def sweepResidue(): Unit = {
      val live = GraftManifest.versions(fs, target).flatMap { v =>
        scala.util.Try(GraftManifest.read(fs, target, v).names)
          .getOrElse(Seq.empty)
      }.toSet
      if (fs.exists(target)) fs.listStatus(target).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith(prefix) && !live.contains(n)) {
          fs.delete(st.getPath, false)
        }
      }
    }
    val done = GraftManifest.commitLock(fs, target).synchronized {
      if (!fs.exists(target)) fs.mkdirs(target)
      // bootstrap BEFORE staging: once the table reads through a
      // manifest, files staged at the root stay invisible until the
      // version that commits them
      if (GraftManifest.current(fs, target).isEmpty) {
        GraftManifest.tryCommit(fs, target, 0L,
          GraftManifest.listingNames(fs, target))
      }
      if (recordedEpoch.exists(_ >= batchId)) { sweepResidue(); true }
      else { sweepResidue(); false }
    }
    if (done) return
    // stage outside the lock (the expensive Spark job), then publish
    // under deterministic names so a crash here is sweepable
    val scratch = new Path(dir,
      s".graft-stream-stage-$app-$batchId")
    fs.delete(scratch, true)
    // stage through graft's own writer, NOT batch.write.parquet: the
    // session default may spell timestamps INT96, which the graft-v2
    // reader refuses — the sink must emit files its own table can scan
    graft.sources.GraftSink.saveCompensating(batch, scratch.toString,
      org.apache.spark.sql.SaveMode.Overwrite)
    val parts = fs.listStatus(scratch)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val staged = parts.zipWithIndex.map { case (st, i) =>
      val dst = new Path(target, f"$prefix$i%05d.parquet")
      if (!fs.rename(st.getPath, dst)) {
        throw new java.io.IOException(
          s"graft stream sink: staging rename to $dst failed")
      }
      dst.getName
    }.toSeq
    fs.delete(scratch, true)
    GraftManifest.commitLock(fs, target).synchronized {
      // re-check under the lock: a replayed twin may have won the race
      if (recordedEpoch.exists(_ >= batchId)) { sweepResidue(); return }
      GraftManifest.commitAppend(fs, target, staged,
        extraMeta = Seq(s"$key=$batchId"))
    }
  }

  /** Apply a change-feed batch ([[graft.sources.v2.GraftCdf]] shape:
    * the table's columns + `_change_type` / `_commit_version`) to a
    * catalog table by key — the CANONICAL downstream of a change data
    * feed (replicate a table, maintain a materialization, sync
    * another store). Semantics:
    *
    *  - `update_preimage` rows are dropped (the postimage carries the
    *    new state);
    *  - per key, the LATEST change wins (`_commit_version` order; an
    *    equal-version delete+insert pair nets to the insert — the
    *    copy-on-write replay shape);
    *  - the net changes MERGE in: `delete` deletes, anything else
    *    upserts.
    *
    * One MERGE = one shuffle on the keys; the merge itself is
    * key-idempotent, so a replayed batch converges to the same table
    * state — which is what makes [[writeChangeApplyBatches]]
    * exactly-once in effect without sink-side bookkeeping. */
  def applyChanges(feed: DataFrame, table: String,
      keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val spark = feed.sparkSession
    import graft.sources.v2.GraftCdf
    val dataCols = feed.columns.filterNot(c =>
      c == GraftCdf.ChangeType || c == GraftCdf.CommitVersion ||
      c == GraftCdf.CommitTimestamp).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(GraftCdf.CommitVersion).desc,
        // same-version tiebreak: a delete+insert pair at one version
        // (the COW replay shape) nets to the surviving insert
        (col(GraftCdf.ChangeType) === "delete").asc_nulls_last)
    val latest = feed
      .filter(col(GraftCdf.ChangeType) =!= "update_preimage")
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")
    val view = s"graft_changes_${java.util.UUID.randomUUID()
      .toString.replace("-", "").take(12)}"
    latest.createOrReplaceTempView(view)
    try {
      val on = keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
      val sets = dataCols.map(c => s"t.`$c` = s.`$c`").mkString(", ")
      val insCols = dataCols.map(c => s"`$c`").mkString(", ")
      val insVals = dataCols.map(c => s"s.`$c`").mkString(", ")
      spark.sql(
        s"""MERGE INTO $table t USING $view s ON $on
           |WHEN MATCHED AND s.${GraftCdf.ChangeType} = 'delete'
           |  THEN DELETE
           |WHEN MATCHED THEN UPDATE SET $sets
           |WHEN NOT MATCHED AND s.${GraftCdf.ChangeType} <> 'delete'
           |  THEN INSERT ($insCols) VALUES ($insVals)
           |""".stripMargin)
    } finally spark.catalog.dropTempView(view)
  }

  /** Streaming CDC apply: every micro-batch of change rows MERGEs
    * into `table` via [[applyChanges]]. Exactly-once in EFFECT: Spark
    * replays a failed epoch with identical contents and the keyed
    * MERGE is idempotent, so a replay converges to the same state
    * (no sink-side epoch bookkeeping to keep consistent with the
    * table commit).
    *
    * Naming the subscription (`sourcePath` + `consumerId`) also
    * advances the SOURCE table's consumer low-water mark
    * ([[graft.sources.v2.GraftCdf.advanceConsumer]]) after each
    * applied batch, so the source's vacuum holds the feed window
    * open for this consumer instead of the operator sizing retention
    * by guess. The advance is monotonic — a replayed batch never
    * regresses the mark. */
  def writeChangeApplyBatches(stream: DataFrame, table: String,
      keys: Seq[String],
      sourcePath: Option[String] = None,
      consumerId: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.v2.{GraftCdf, GraftHadoopConf}
    // register up front: the window must hold from subscription time,
    // not from the first applied batch
    for (p <- sourcePath; id <- consumerId) {
      val t = new org.apache.hadoop.fs.Path(p)
      GraftCdf.advanceConsumer(
        t.getFileSystem(GraftHadoopConf.sessionConf()), t, id, 0L)
    }
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyChanges(batch, table, keys)
        for (p <- sourcePath; id <- consumerId) {
          val maxV = batch
            .agg(org.apache.spark.sql.functions.max(
              col(GraftCdf.CommitVersion)))
            .head()
          if (!maxV.isNullAt(0)) {
            val t = new org.apache.hadoop.fs.Path(p)
            GraftCdf.advanceConsumer(
              t.getFileSystem(GraftHadoopConf.sessionConf()), t, id,
              maxV.getLong(0))
          }
        }
        ()
      }
      .start()
  }

  /** Custom stateful sessionization via flatMapGroupsWithState: emits
    * (user_id, session_start_epoch_s, n_events) when a session closes
    * after `gapSeconds` of inactivity (processing-time timeout for the
    * MemoryStream test; event-time logic inside). */
  case class Ev(user_id: Long, tsSec: Long)
  case class Sess(user_id: Long, start: Long, last: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: Long, n_events: Long)

  def sessionize(events: Dataset[Ev], gapSeconds: Long)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Sess, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[Sess]) =>
          val sorted = rows.toSeq.sortBy(_.tsSec)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.tsSec - s.last <= gapSeconds =>
                cur = Some(s.copy(last = e.tsSec, n = s.n + 1))
              case Some(s) =>
                closed += ClosedSession(user, s.start, s.n)
                cur = Some(Sess(user, e.tsSec, e.tsSec, 1))
              case None =>
                cur = Some(Sess(user, e.tsSec, e.tsSec, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** Per-entity funnel state: the INCREMENTAL greedy-fold array
    * (`folded(i)` = micros of the earliest qualifying step-`i` event
    * among the already-ripened prefix, `Long.MinValue` = unreached)
    * plus the still-above-watermark (micros, step-type) tail and the
    * earliest step-1 time seen so far. `done = true` marks the
    * post-finalize TOMBSTONE — the entity's hit already emitted,
    * later sessions are suppressed until the tombstone expires. */
  case class FunnelBuf(evs: Seq[(Long, String)], t1: Long,
    folded: Seq[Long] = Seq.empty, done: Boolean = false)
  /** A finalized per-entity funnel outcome. */
  case class FunnelHit(entity: String, steps_reached: Int,
    t1_micros: Long)

  /** Streaming face of [[graft.operators.EventOps.funnel]]: per
    * entity, the greedy-first strict-ordered funnel fold, FINALIZED
    * ONCE when the watermark passes the entity's funnel window
    * (`earliest step-1 time + windowMicros`) — from that instant no
    * in-watermark arrival can change the outcome (a new event's time
    * exceeds the window; an earlier step-1 would be late), so append
    * mode emits each entity exactly once, with the same greedy fold
    * the batch operator runs (sorted by (time, type), step k takes
    * the earliest qualifying event). The aggregate `(step, users)`
    * batch answer is `groupBy(steps_reached >= k)` over this feed.
    *
    * '''Re-entry''': finalizing leaves a small TOMBSTONE in state
    * (no event buffer, just the done flag) for `tombstoneMicros` of
    * event time, so an entity whose second session starts a new
    * funnel after the first one closed does NOT emit a second hit —
    * matching the batch operator, which anchors on the single
    * globally-earliest step-1. An entity re-entering after the
    * tombstone expires (default 30 days) emits again — including
    * when the past-expiry events land in the very batch that closes
    * the previous window (the close path CHAINS into a fresh funnel
    * instead of dropping them, so the re-emit contract holds even
    * with `tombstoneMicros` shorter than the watermark delay);
    * parity against
    * a batch window longer than that requires downstream
    * min-by-`t1_micros` dedup, which the feed's schema supports.
    *
    * State per entity is O(steps + in-flight): events the watermark
    * has passed fold INCREMENTALLY into the fixed per-step array (the
    * greedy fold is prefix-incremental — each step consults only
    * earlier state — and Spark drops below-watermark inputs before
    * the function, so a ripened prefix is final: every later arrival
    * sorts after it), and only the still-above-watermark tail is
    * buffered raw — and that tail is itself capped to the EARLIEST
    * `maxPendingPerEntity` events (default 2¹⁶, the EWMA-cap
    * precedent, disclosed: past the cap the entity is bot traffic
    * and later-timestamped pending events drop). A bot replaying
    * step events for a year against an open window costs `steps`
    * longs, not a year of buffer — state bytes measured bit-identical
    * at 1× and 4× stalled history (SCALE_PROBE.md).
    * (Events beyond the window drop on fold: they can never qualify
    * for ANY candidate t1, which only decreases; entities with no
    * step-1 yet keep only events the watermark still allows a future
    * step-1 to precede.)
    *
    * '''Watermark source''': the step-type filter is pushed below
    * the watermark node by the optimizer, so ONLY step-typed events
    * advance the watermark — a stream carrying heartbeats of other
    * types will not close funnels during a step-quiet period (the
    * standard Spark rule that wm follows the operator's own input;
    * route a step-typed heartbeat if liveness during quiet periods
    * matters).
    *
    * @return `(entity, steps_reached, t1_micros)`, one row per
    *         entity that reached step 1, emitted exactly once
    */
  def funnelFeed(stream: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowMicros: Long,
      watermark: String = "10 minutes",
      tombstoneMicros: Long = 30L * 24 * 3600 * 1000000L,
      maxPendingPerEntity: Int = 1 << 16)
      : Dataset[FunnelHit] = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got $steps")
    require(steps.distinct == steps, "funnel steps must be distinct")
    require(tombstoneMicros >= 0,
      s"tombstoneMicros must be >= 0: $tombstoneMicros")
    require(maxPendingPerEntity >= 1,
      s"maxPendingPerEntity must be >= 1: $maxPendingPerEntity")
    val spark = stream.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val n = steps.size
    // the batch fold's order: ascending (time, type-string). The fold
    // is PREFIX-INCREMENTAL (each event consults only the array state
    // built from earlier events), so ripened events apply once and
    // their raw rows drop from state — see the state note above.
    def foldInto(s: Array[Long], evs: Seq[(Long, String)]): Unit =
      evs.sorted.foreach { case (t, ty) =>
        val i = stepIdx(ty)
        if (i == 0) { if (s(0) == Long.MinValue) s(0) = t }
        else if (s(i) == Long.MinValue && s(i - 1) != Long.MinValue &&
          t > s(i - 1) && t <= s(0) + windowMicros) s(i) = t
      }
    def reached(s: Array[Long]): Int =
      s.lastIndexWhere(_ != Long.MinValue) + 1
    def restore(b: FunnelBuf): Array[Long] =
      if (b.folded.size == n) b.folded.toArray
      else Array.fill[Long](n)(Long.MinValue)
    // the watermarked TIMESTAMP column must survive to the stateful
    // operator (the analyzer requires a visible event-time column for
    // event-time timeout), so `ts` rides alongside its micros twin
    stream
      .withWatermark(tsCol, watermark)
      .filter(col(typeCol).isin(steps: _*))
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"), col(typeCol).as("ty"))
      .as[(String, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuf, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          // convert finalize into a tombstone instead of removing:
          // a later session's step-1 must not re-emit the entity
          def finalizeToTombstone(t1: Long): Unit = {
            val wmMs = state.getCurrentWatermarkMs()
            state.update(FunnelBuf(Seq.empty, t1, done = true))
            state.setTimeoutTimestamp(math.max(wmMs + 1L,
              (t1 + windowMicros + tombstoneMicros) / 1000L + 1L))
          }
          if (state.hasTimedOut) {
            val st = state.get
            if (st.done) {
              // tombstone expired: free the slot, nothing emits
              state.remove()
              Iterator.empty
            } else if (st.t1 == Long.MinValue) {
              // a timeout on a state with no step-1 yet is pure
              // cleanup (the re-awake scheduled below): the entity
              // never entered the funnel, so nothing emits
              state.remove()
              Iterator.empty
            } else {
              val s = restore(st)
              foldInto(s, st.evs.filter(_._1 <= st.t1 + windowMicros))
              finalizeToTombstone(st.t1)
              Iterator.single(FunnelHit(key, reached(s), st.t1))
            }
          } else {
            val wmMicros = state.getCurrentWatermarkMs() * 1000L
            var incoming = rows.map(r => (r._3, r._4)).toSeq
            var prev = state.getOption
              .getOrElse(FunnelBuf(Seq.empty, Long.MinValue))
            var suppressed = false
            if (prev.done) {
              // tombstone: expiry is EVENT-time-exact, not
              // timeout-batch-exact — an event later than the expiry
              // must start a fresh funnel even when it lands in the
              // batch where the tombstone's cleanup timeout is still
              // pending (data groups process before timed-out ones)
              val expiry = prev.t1 + windowMicros + tombstoneMicros
              val fresh = incoming.filter(_._1 > expiry)
              if (fresh.isEmpty) {
                // still inside the tombstone: suppress the session.
                // Spark cancels a group's timeout on every
                // invocation, so the expiry must be RE-ARMED or the
                // tombstone (and the suppression) would live forever
                state.setTimeoutTimestamp(math.max(
                  state.getCurrentWatermarkMs() + 1L,
                  expiry / 1000L + 1L))
                suppressed = true
              } else {
                // expired in event time: the fresh session replaces
                // the tombstone (in-tombstone stragglers still drop)
                state.remove()
                prev = FunnelBuf(Seq.empty, Long.MinValue)
                incoming = fresh
              }
            }
            if (suppressed) Iterator.empty
            else {
              // The close path can CHAIN: when tombstoneMicros is
              // shorter than the watermark delay, a single batch can
              // hold a funnel's window close AND events past that
              // funnel's tombstone expiry — those must seed a fresh
              // funnel (which may itself close within the batch),
              // not silently die in the window filter. Hence a loop
              // emitting zero or more hits, terminating because each
              // pass strictly advances t1 past the previous expiry.
              val hits = scala.collection.mutable.ListBuffer
                .empty[FunnelHit]
              var s = restore(prev)
              var pending = prev.evs ++ incoming
              var looping = true
              while (looping) {
                // t1 is FINAL once folded (any later step-1 arrives
                // at >= the watermark > the folded one); provisional
                // while only above-watermark step-1s exist
                val t1 =
                  if (s(0) != Long.MinValue) s(0)
                  else pending.iterator
                    .collect { case (t, ty) if ty == steps.head => t }
                    .foldLeft(Long.MinValue)((a, b) =>
                      if (a == Long.MinValue) b else math.min(a, b))
                if (t1 == Long.MinValue) {
                  // no step 1 yet: a future step-1 arrives at >= the
                  // watermark, so older events can never follow it.
                  // The EARLIEST maxPendingPerEntity survive (the
                  // EWMA-cap precedent, disclosed): an entity
                  // buffering more above-watermark step events than
                  // that is bot traffic, not a funnel
                  pending = pending.filter(_._1 >= wmMicros)
                    .sorted.take(maxPendingPerEntity)
                  if (pending.isEmpty) state.remove()
                  else {
                    state.update(FunnelBuf(pending, Long.MinValue))
                    // re-awake once the watermark passes the whole
                    // buffer so an entity that never sees step 1
                    // frees its state
                    state.setTimeoutTimestamp(
                      pending.map(_._1).max / 1000L + 1L)
                  }
                  looping = false
                } else {
                  val winEnd = t1 + windowMicros
                  val closeMs = winEnd / 1000L + 1L
                  if (closeMs <= wmMicros / 1000L) {
                    // the window already closed within this batch:
                    // everything in-window is ripe — fold and emit
                    foldInto(s, pending.filter(_._1 <= winEnd))
                    hits += FunnelHit(key, reached(s), t1)
                    val fresh =
                      pending.filter(_._1 > winEnd + tombstoneMicros)
                    if (fresh.isEmpty) {
                      finalizeToTombstone(t1)
                      looping = false
                    } else {
                      // past-expiry events landed in the closing
                      // batch: the fresh funnel replaces the
                      // tombstone immediately (in-tombstone
                      // stragglers above still drop) and starts
                      // from a clean fold array
                      pending = fresh
                      s = Array.fill[Long](n)(Long.MinValue)
                    }
                  } else {
                    // open window: ripened in-window events fold into
                    // the array and leave the buffer — only the
                    // above-watermark tail stays raw in state, capped
                    // to the EARLIEST maxPendingPerEntity (disclosed)
                    foldInto(s, pending.filter(e =>
                      e._1 < wmMicros && e._1 <= winEnd))
                    pending = pending.filter(e =>
                      e._1 >= wmMicros && e._1 <= winEnd)
                      .sorted.take(maxPendingPerEntity)
                    state.update(FunnelBuf(pending, t1, s.toSeq))
                    state.setTimeoutTimestamp(closeMs)
                    looping = false
                  }
                }
              }
              hits.iterator
            }
          }
      }
  }

  /** Streaming face of [[graft.operators.EventOps.retention]]: the
    * exactly-once `(entity, activity-week)` FIRST-TOUCH feed — the
    * expensive part of cohort retention at stream rates is the
    * distinct over (entity, week), and that is precisely what the
    * watermarked streaming dedup gives with state EVICTED once the
    * watermark passes a week's end. Weeks are the same Monday-start
    * grid as `date_trunc("week")` (7-day windows anchored to the
    * epoch Monday 1969-12-29) — '''under a UTC session timezone
    * only''', which this operator REQUIRES (fail-fast below): the
    * window grid is epoch-UTC-anchored while `date_trunc("week")`
    * and the date cast truncate in session-local time, so any other
    * session timezone would shift the feed's `week_start` off the
    * batch operator's grid (e.g. onto Sundays) and silently break
    * parity. The engine's sessions pin UTC everywhere; this guard
    * makes the assumption explicit. Cohort assignment and the
    * (cohort, offset, users) rollup are cheap batch queries over the
    * accumulated feed: cohort = min(week_start) per entity — exact
    * because the feed holds every active week exactly once.
    *
    * @return `(entity, week_start)`, one row per (entity, week),
    *         emitted exactly once
    */
  def retentionFeed(stream: DataFrame, keyCol: String,
      tsCol: String, watermark: String = "10 minutes"): DataFrame = {
    val tz = stream.sparkSession.conf
      .get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    require(java.time.ZoneId.of(tz).normalized() ==
      java.time.ZoneOffset.UTC ||
      java.time.ZoneId.of(tz).getRules.isFixedOffset &&
        java.time.ZoneId.of(tz).getRules.getOffset(java.time.Instant.EPOCH)
          .getTotalSeconds == 0,
      s"retentionFeed requires a UTC session timezone (got '$tz'): " +
        "the 7-day window grid is epoch-UTC-anchored and only matches " +
        "batch date_trunc('week') under UTC")
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("entity"),
        window(col(tsCol), "7 days", "7 days", "-3 days").as("w"))
      .dropDuplicates("entity", "w")
      .select(col("entity"), col("w.start").cast("date")
        .as("week_start"))
  }

  /** One open session run, COMPRESSED to its span and event count —
    * membership in a gap-session depends only on interval chaining,
    * so the run never needs its individual event times. */
  case class SessRun(start: Long, last: Long, n: Long)
  /** Per-entity session state: the open (not yet watermark-closed)
    * runs, ascending by start. */
  case class SessState(runs: Seq[SessRun])
  /** A finalized session. */
  case class ClosedSess(entity: String, session_start_us: Long,
    session_end_us: Long, n_events: Long)

  /** Streaming face of the batch gap-sessionization (`q_sessionize`'s
    * lag+cumsum split): one row per CLOSED session, finalized exactly
    * once when the watermark passes `session_end + gapMicros` — from
    * that instant no in-watermark event can extend, bridge into, or
    * insert inside the session (any new arrival has event time ≥ the
    * watermark > end + gap, which by definition starts a later
    * session). The batch per-entity rollup (n_sessions,
    * max_session_events, total active seconds) is a cheap
    * `groupBy(entity)` over this feed.
    *
    * State per entity is O(open sessions), NOT O(events): an event
    * only ever joins/extends/bridges runs, so each run compresses to
    * `(start, last, n)` — a bridging event merges two runs by
    * interval arithmetic, an interior event just increments `n`.
    * Open runs are bounded by watermark-delay ÷ gap plus in-flight
    * future sessions; a hot entity costs a few dozen bytes, never a
    * buffered history.
    *
    * @return `(entity, session_start_us, session_end_us, n_events)`,
    *         one row per session, emitted exactly once
    */
  def sessionFeed(stream: DataFrame, keyCol: String, tsCol: String,
      gapMicros: Long, watermark: String = "10 minutes")
      : Dataset[ClosedSess] = {
    require(gapMicros > 0, s"gapMicros must be > 0: $gapMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessState, ClosedSess](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          // uniform path: on timeout `rows` is empty and the advanced
          // watermark alone decides which runs close
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val prevRuns = state.getOption.map(_.runs).getOrElse(Seq.empty)
          val incoming = rows.map(r => SessRun(r._3, r._3, 1L)).toSeq
          val runs = (prevRuns ++ incoming)
            .sortBy(r => (r.start, r.last))
            .foldLeft(Vector.empty[SessRun]) { (acc, r) =>
              acc.lastOption match {
                case Some(p) if r.start - p.last <= gapMicros =>
                  acc.init :+ SessRun(p.start,
                    math.max(p.last, r.last), p.n + r.n)
                case _ => acc :+ r
              }
            }
          val (closed, open) =
            runs.partition(_.last + gapMicros < wmMicros)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessState(open))
            // wake when the earliest open run's close time passes
            state.setTimeoutTimestamp(
              (open.map(_.last).min + gapMicros) / 1000L + 1L)
          }
          closed.iterator.map(r =>
            ClosedSess(key, r.start, r.last, r.n))
      }
  }

  /** A finalized last-touch attribution: one conversion event,
    * credited channel (None = organic — no touch inside the
    * lookback). */
  case class AttributionHit(entity: String, conv_id: Long,
    t_micros: Long, channel: Option[String])
  /** Per-entity attribution state: the best (latest by (t, id))
    * in-watermark touch, plus events still above the watermark. */
  case class AttrState(bestT: Long, bestI: Long, bestTy: String,
    hasTouch: Boolean, pending: Seq[(Long, Long, String)])

  /** Streaming face of [[graft.operators.EventOps.attribution]]
    * (last-touch): each conversion is credited to the entity's most
    * recent non-conversion event within `lookbackMicros`, finalized
    * exactly once when the watermark passes the conversion's event
    * time — at that point every event ordered before it (the batch
    * window's preceding frame) has arrived, so the credited channel
    * equals the batch operator's bit-for-bit. The batch
    * `(channel, conversions)` readout is a `groupBy(channel)` count
    * over this feed.
    *
    * State per entity is ONE best touch plus the events still above
    * the watermark (bounded by watermark-delay × event rate, the
    * funnel bound): of all in-watermark touches only the (t, id)-max
    * can ever be "most recent" for a future conversion, so history
    * never buffers. An entity whose best touch ages past the
    * lookback with nothing pending frees its state entirely.
    *
    * @return `(entity, conv_id, t_micros, channel)`, one row per
    *         conversion, channel None = organic
    */
  def attributionFeed(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, conversionType: String,
      lookbackMicros: Long, watermark: String = "10 minutes")
      : Dataset[AttributionHit] = {
    require(lookbackMicros > 0,
      s"lookbackMicros must be > 0: $lookbackMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("i"), col(typeCol).as("ty"))
      .as[(String, java.sql.Timestamp, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AttrState, AttributionHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(AttrState(0L, 0L, "", hasTouch = false, Seq.empty))
          var best: Option[(Long, Long, String)] =
            if (st.hasTouch) Some((st.bestT, st.bestI, st.bestTy))
            else None
          val all = (st.pending ++ rows.map(r => (r._3, r._4, r._5)))
            .sortBy(e => (e._1, e._2))
          // events strictly below the watermark are decidable (any
          // later arrival sorts after them); walk them in batch order
          val (ripe, pending) = all.partition(_._1 < wmMicros)
          val hits = Vector.newBuilder[AttributionHit]
          ripe.foreach { case (t, i, ty) =>
            if (ty != conversionType) best = Some((t, i, ty))
            else hits += AttributionHit(key, i, t,
              best.collect {
                case (bt, _, bty) if t - bt <= lookbackMicros => bty
              })
          }
          val useless =
            best.forall { case (bt, _, _) =>
              bt + lookbackMicros < wmMicros }
          if (pending.isEmpty && useless) state.remove()
          else {
            state.update(best match {
              case Some((bt, bi, bty)) =>
                AttrState(bt, bi, bty, hasTouch = true, pending)
              case None =>
                AttrState(0L, 0L, "", hasTouch = false, pending)
            })
            // wake when the earliest pending event ripens, or — with
            // nothing pending — when the touch ages out
            val wake =
              if (pending.nonEmpty) pending.map(_._1).min
              else best.map(_._1 + lookbackMicros).get
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }

  // ---------------------------------------------------------------
  // Monitoring faces: drawdown / EWMA / TWAP as watermark-finalized
  // feeds. Shared shape: per-entity O(1) running state + the events
  // still ABOVE the watermark (pending); an event folds exactly once,
  // in (t, id) order, when the watermark passes it — from that
  // instant no earlier event can arrive, so every emitted row is
  // final. Idle-expiry eviction is the disclosed state story for
  // these inherently infinite-horizon monitors: an entity silent for
  // `idleExpiryMicros` of EVENT time frees its state, and a
  // re-appearing entity starts a FRESH series (the standard
  // counter-reset telemetry contract — parity against the batch
  // operator holds within one expiry horizon).
  // ---------------------------------------------------------------

  /** A new record drawdown for an entity — emitted exactly once per
    * deepening. */
  case class DrawdownHit(entity: String, t_micros: Long, id: Long,
    value_c: Long, peak_c: Long, drawdown_c: Long)
  /** Per-entity drawdown state: running (peak, worst) over folded
    * events plus events still above the watermark. */
  case class DdState(peak: Long, worst: Long, any: Boolean,
    lastT: Long, pending: Seq[(Long, Long, Long)])

  /** Streaming face of [[graft.operators.EventOps.maxDrawdown]]: the
    * record-deepening feed — one row each time an entity's
    * peak-to-trough drop sets a NEW record, finalized exactly once
    * when the watermark passes the troughing event (order below the
    * watermark is fixed, so the running max and the record are
    * final). A monotonically recovering or rising entity emits
    * nothing — exactly the alert stream a 100 TB telemetry pipeline
    * wants live (queue depths, loss curves, account values).
    *
    * Batch parity: folding an entity's full history through this
    * feed, `max(drawdown_c)` equals the batch operator's
    * `max_drawdown_c` (entities whose batch value is 0 emit no row).
    *
    * State per entity is ONE (peak, worst) pair plus the
    * above-watermark pending buffer (watermark-delay × event rate,
    * the funnel bound); entities idle past `idleExpiryMicros` of
    * event time free their state entirely and restart fresh on
    * re-appearance (disclosed counter-reset semantics).
    *
    * @return `(entity, t_micros, id, value_c, peak_c, drawdown_c)`,
    *         drawdown_c strictly increasing per entity
    */
  def drawdownFeed(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, valueScale: Long = 100L,
      watermark: String = "10 minutes",
      idleExpiryMicros: Long = 30L * 24 * 3600 * 1000000L)
      : Dataset[DrawdownHit] = {
    require(idleExpiryMicros > 0,
      s"idleExpiryMicros must be > 0: $idleExpiryMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("i"),
        round(col(valueCol) * valueScale).cast("long").as("vc"))
      .as[(String, java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DdState, DrawdownHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(DdState(0L, 0L, any = false, Long.MinValue,
              Seq.empty))
          val all = (st.pending ++ rows.map(r => (r._3, r._4, r._5)))
            .sortBy(e => (e._1, e._2))
          val (ripe, pending) = all.partition(_._1 < wmMicros)
          var peak = st.peak; var worst = st.worst; var any = st.any
          var lastT = st.lastT
          val hits = Vector.newBuilder[DrawdownHit]
          ripe.foreach { case (t, i, vc) =>
            peak = if (any) math.max(peak, vc) else vc
            any = true
            lastT = t
            val dd = peak - vc
            if (dd > worst) {
              worst = dd
              hits += DrawdownHit(key, t, i, vc, peak, dd)
            }
          }
          val activityT = math.max(lastT,
            pending.iterator.map(_._1).foldLeft(Long.MinValue)(
              math.max))
          if (pending.isEmpty &&
            (!any || lastT + idleExpiryMicros < wmMicros)) {
            state.remove()
          } else {
            state.update(DdState(peak, worst, any, lastT, pending))
            val wake =
              if (pending.nonEmpty) pending.iterator.map(_._1).min
              else activityT + idleExpiryMicros
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }

  /** A finalized EWMA reading: the smoother state after folding the
    * event, bit-identical to the batch operator's row. */
  case class EwmaHit(entity: String, id: Long, t_micros: Long,
    value_c: Long, ewma_c6: Long)
  /** Per-entity EWMA state: the fixed-point smoother value, events
    * folded so far (for the cap), and the above-watermark pending. */
  case class EwmaState(s: Long, n: Long, lastT: Long,
    pending: Seq[(Long, Long, Long)])

  /** Streaming face of [[graft.operators.EventOps.ewma]]: one row per
    * event, carrying the exact fixed-point smoother value, finalized
    * once the watermark passes the event (the recurrence's order
    * below the watermark is fixed; each emitted row is bit-identical
    * to the batch fold over the same in-watermark events). Same
    * FULLY INTEGER contract as the batch face:
    * `s_n = (num·v_n·10⁶ + (den−num)·s_{n−1}) div den`, s₁ = v₁·10⁶.
    *
    * The batch operator's disclosed earliest-`maxEventsPerKey` cap
    * carries over: events past the cap neither fold nor emit (a
    * truncated — never an approximated — series). State per entity is
    * TWO longs (smoother + count) plus the above-watermark pending;
    * entities idle past `idleExpiryMicros` of event time free their
    * state and restart a FRESH smoother (s₁ = next value) on
    * re-appearance — the disclosed counter-reset contract.
    *
    * @return `(entity, id, t_micros, value_c, ewma_c6)`, one row per
    *         in-cap event, emitted exactly once
    */
  def ewmaFeed(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alphaNum: Long = 1L,
      alphaDen: Long = 2L, valueScale: Long = 100L,
      maxEventsPerKey: Int = 1 << 16,
      watermark: String = "10 minutes",
      idleExpiryMicros: Long = 30L * 24 * 3600 * 1000000L)
      : Dataset[EwmaHit] = {
    require(alphaNum > 0 && alphaDen >= alphaNum,
      s"alpha must be in (0, 1]: $alphaNum/$alphaDen")
    require(maxEventsPerKey > 0,
      s"maxEventsPerKey must be positive: $maxEventsPerKey")
    require(idleExpiryMicros > 0,
      s"idleExpiryMicros must be > 0: $idleExpiryMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("i"),
        round(col(valueCol) * valueScale).cast("long").as("vc"))
      .as[(String, java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(EwmaState(0L, 0L, Long.MinValue, Seq.empty))
          val all = (st.pending ++ rows.map(r => (r._3, r._4, r._5)))
            .sortBy(e => (e._1, e._2))
          val (ripe, pending) = all.partition(_._1 < wmMicros)
          var s = st.s; var n = st.n; var lastT = st.lastT
          val hits = Vector.newBuilder[EwmaHit]
          ripe.foreach { case (t, i, vc) =>
            lastT = t
            if (n < maxEventsPerKey) {
              // Long division truncates toward zero — identical to
              // the batch face's IntegralDivide step
              s = if (n == 0L) vc * 1000000L
              else (vc * 1000000L * alphaNum +
                s * (alphaDen - alphaNum)) / alphaDen
              n += 1L
              hits += EwmaHit(key, i, t, vc, s)
            }
          }
          val activityT = math.max(lastT,
            pending.iterator.map(_._1).foldLeft(Long.MinValue)(
              math.max))
          if (pending.isEmpty &&
            (n == 0L || lastT + idleExpiryMicros < wmMicros)) {
            state.remove()
          } else {
            state.update(EwmaState(s, n, lastT, pending))
            val wake =
              if (pending.nonEmpty) pending.iterator.map(_._1).min
              else activityT + idleExpiryMicros
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }

  /** A finalized CUSUM reading at an event instant. */
  case class CusumHit(entity: String, id: Long, t_micros: Long,
    cusum_c: Long, drift: Boolean)
  /** Per-entity CUSUM state: the running prefix sum and its running
    * minimum (the closed form's whole memory), plus pending. */
  case class CusumState(prefix: Long, runmin: Long, any: Boolean,
    lastT: Long, pending: Seq[(Long, Long, Long)])

  /** Streaming face of [[graft.operators.EventOps.cusum]] — the live
    * drift detector: each event's one-sided CUSUM statistic
    * `prefix − min(0, runmin(prefix))` (the clamp-at-zero fold's
    * two-window closed form, exact integer cents), finalized exactly
    * once as the event ripens below the watermark — rows are
    * bit-identical to the batch operator over the same in-watermark
    * events. State per entity is TWO longs (prefix, running min)
    * plus the above-watermark pending buffer; idle expiry frees it
    * and a re-appearing entity restarts a fresh accumulation
    * (disclosed counter-reset semantics).
    *
    * @return `(entity, id, t_micros, cusum_c, drift)`, one row per
    *         event, emitted exactly once
    */
  def cusumFeed(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, targetC: Long, threshC: Long,
      valueScale: Long = 100L, watermark: String = "10 minutes",
      idleExpiryMicros: Long = 30L * 24 * 3600 * 1000000L)
      : Dataset[CusumHit] = {
    require(threshC > 0, s"threshC must be > 0, got $threshC")
    require(idleExpiryMicros > 0,
      s"idleExpiryMicros must be > 0: $idleExpiryMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("i"),
        (round(col(valueCol) * valueScale).cast("long") -
          lit(targetC)).as("d"))
      .as[(String, java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(CusumState(0L, 0L, any = false, Long.MinValue,
              Seq.empty))
          val all = (st.pending ++ rows.map(r => (r._3, r._4, r._5)))
            .sortBy(e => (e._1, e._2))
          val (ripe, pending) = all.partition(_._1 < wmMicros)
          var prefix = st.prefix; var runmin = st.runmin
          var any = st.any; var lastT = st.lastT
          val hits = Vector.newBuilder[CusumHit]
          ripe.foreach { case (t, i, d) =>
            prefix += d
            runmin = if (any) math.min(runmin, prefix) else prefix
            any = true
            lastT = t
            val s = prefix - math.min(0L, runmin)
            hits += CusumHit(key, i, t, s, s > threshC)
          }
          val activityT = math.max(lastT,
            pending.iterator.map(_._1).foldLeft(Long.MinValue)(
              math.max))
          if (pending.isEmpty && (!any ||
            lastT + idleExpiryMicros < wmMicros)) {
            state.remove()
          } else {
            state.update(CusumState(prefix, runmin, any, lastT,
              pending))
            val wake =
              if (pending.nonEmpty) pending.iterator.map(_._1).min
              else activityT + idleExpiryMicros
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }

  /** A finalized rolling z-score reading (full trailing window,
    * positive variance — the batch operator's emission rule). */
  case class AnomalyHit(entity: String, id: Long, t_micros: Long,
    value: Double, zscore: Double, is_anomaly: Boolean)
  /** Per-entity anomaly state: the last `window` quantized values in
    * (t, id) order plus the above-watermark pending. */
  case class AnomState(buf: Seq[Long], lastT: Long,
    pending: Seq[(Long, Long, Long, Double)])

  /** Streaming face of [[graft.operators.EventOps.anomalies]] — the
    * live alerting centerpiece: each event's z-score against its
    * entity's PREVIOUS `window` values (trailing frame excludes the
    * current row, so an outlier never masks itself), finalized
    * exactly once as the event ripens below the watermark. Values
    * quantize to 1e4 like the batch face; the z expression is the
    * same IEEE tree ((x − s1/n) / sqrt((s2 − s1²/n)/(n−1)), rounded
    * half-up to 6 dp), so emitted rows are bit-identical to the
    * batch operator over the same in-watermark events. Rows with a
    * partial window or zero variance don't emit (the batch rule).
    *
    * State per entity is a `window`-bounded ring of longs plus the
    * above-watermark pending buffer; idle expiry frees it and a
    * re-appearing entity restarts an EMPTY window (disclosed — its
    * first `window` events emit nothing, exactly like a new entity).
    *
    * @return `(entity, id, t_micros, value, zscore, is_anomaly)`,
    *         one row per full-window event, emitted exactly once
    */
  def anomalyFeed(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, window: Int = 20,
      threshold: Double = 3.0, watermark: String = "10 minutes",
      idleExpiryMicros: Long = 30L * 24 * 3600 * 1000000L)
      : Dataset[AnomalyHit] = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(idleExpiryMicros > 0,
      s"idleExpiryMicros must be > 0: $idleExpiryMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("i"),
        col(valueCol).cast("double").as("v"))
      .as[(String, java.sql.Timestamp, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomState, AnomalyHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(AnomState(Seq.empty, Long.MinValue, Seq.empty))
          // HALF_UP like Spark's round() — math.round would differ on
          // negative .5 values (toward +inf vs away from zero)
          def q4(v: Double): Long = java.math.BigDecimal.valueOf(v * 1e4)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
          val all = (st.pending ++
            rows.map(r => (r._3, r._4, q4(r._5), r._5)))
            .sortBy(e => (e._1, e._2))
          val (ripe, pending) = all.partition(_._1 < wmMicros)
          // ring + RUNNING sums: the window's Σx and Σx² are exact
          // longs maintained by add/evict (identical to a per-event
          // recompute, so emitted rows are unchanged) — O(1) per
          // event instead of O(window), the cost that matters when a
          // deployment raises `window` well past the default
          val ring = scala.collection.mutable.ArrayDeque.from(st.buf)
          var s1 = 0L
          var s2 = 0L
          ring.foreach { b => s1 += b; s2 += b * b }
          var lastT = st.lastT
          val hits = Vector.newBuilder[AnomalyHit]
          ripe.foreach { case (t, i, x, v) =>
            lastT = t
            if (ring.size == window && s2 * window - s1 * s1 > 0) {
              val nD = window.toDouble
              val z = (x.toDouble - s1.toDouble / nD) /
                math.sqrt((s2.toDouble - s1.toDouble * s1 / nD) /
                  (nD - 1.0))
              val zr = java.math.BigDecimal.valueOf(z)
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .doubleValue()
              hits += AnomalyHit(key, i, t, v, zr,
                math.abs(zr) > threshold)
            }
            ring.append(x); s1 += x; s2 += x * x
            if (ring.size > window) {
              val e = ring.removeHead()
              s1 -= e; s2 -= e * e
            }
          }
          val buf = ring.toSeq
          val activityT = math.max(lastT,
            pending.iterator.map(_._1).foldLeft(Long.MinValue)(
              math.max))
          if (pending.isEmpty && (lastT == Long.MinValue ||
            lastT + idleExpiryMicros < wmMicros)) {
            state.remove()
          } else {
            state.update(AnomState(buf, lastT, pending))
            val wake =
              if (pending.nonEmpty) pending.iterator.map(_._1).min
              else activityT + idleExpiryMicros
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }

  /** A completed inactivity gap (both endpoints finalized). */
  case class GapHit(entity: String, gap_start_us: Long,
    gap_end_us: Long, gap_us: Long)
  /** Per-entity gap state: the last ripe event time plus the
    * above-watermark pending. */
  case class GapState(lastT: Long, pending: Seq[Long])

  /** Streaming face of [[graft.operators.EventOps.eventGaps]] — the
    * live "sensor went dark" alert: one row per COMPLETED
    * consecutive-event gap longer than `minGapMicros`, finalized
    * exactly once when the watermark passes the gap's closing event
    * (order below the watermark is fixed, so the pair is final).
    * Emits completed gaps only — batch-parity by construction; an
    * entity still dark has no closing event yet and alerts on its
    * gap's completion (a "still open" probe is a cheap batch query
    * over current watermark − last feed activity).
    *
    * State per entity is ONE timestamp plus the above-watermark
    * pending buffer; entities idle past `idleExpiryMicros` of event
    * time free their state, and a re-appearing entity does NOT emit
    * the across-expiry gap (disclosed — the expiry IS the horizon).
    *
    * @return `(entity, gap_start_us, gap_end_us, gap_us)`, one row
    *         per completed gap > minGapMicros, emitted exactly once
    */
  def gapFeed(stream: DataFrame, keyCol: String, tsCol: String,
      minGapMicros: Long, watermark: String = "10 minutes",
      idleExpiryMicros: Long = 30L * 24 * 3600 * 1000000L)
      : Dataset[GapHit] = {
    require(minGapMicros > 0, s"minGapMicros must be > 0: $minGapMicros")
    require(idleExpiryMicros > minGapMicros,
      s"idleExpiryMicros ($idleExpiryMicros) must exceed " +
        s"minGapMicros ($minGapMicros): expiring inside a gap would " +
        "drop its alert")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, GapHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(GapState(Long.MinValue, Seq.empty))
          val all = (st.pending ++ rows.map(_._3)).sorted
          val (ripe, pending) = all.partition(_ < wmMicros)
          var lastT = st.lastT
          val hits = Vector.newBuilder[GapHit]
          ripe.foreach { t =>
            if (lastT != Long.MinValue && t - lastT > minGapMicros)
              hits += GapHit(key, lastT, t, t - lastT)
            lastT = t
          }
          val activityT = math.max(lastT,
            pending.foldLeft(Long.MinValue)(math.max))
          if (pending.isEmpty && (lastT == Long.MinValue ||
            lastT + idleExpiryMicros < wmMicros)) {
            state.remove()
          } else {
            state.update(GapState(lastT, pending))
            val wake =
              if (pending.nonEmpty) pending.min
              else activityT + idleExpiryMicros
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }

  /** A finalized running TWAP reading at an event instant. */
  case class TwapHit(entity: String, t_micros: Long, span_us: Long,
    twap_c: Long)
  /** Per-entity TWAP state: the last (t, v) plus exact accumulators —
    * `num` (Σ v·Δt, a BigInt serialized as string: the product of a
    * cent value and a micros span overflows a long within one busy
    * year) and `den` (Σ Δt micros, safely a long). */
  case class TwapState(lastT: Long, lastV: Long, den: Long,
    num: String, anyEmitted: Boolean,
    pending: Seq[(Long, Long, Long)])

  /** Streaming face of [[graft.operators.EventOps.twap]]: the LIVE
    * time-weighted average — each value holds until the entity's
    * next event, so the interval `[t_{n−1}, t_n)` finalizes exactly
    * once when the watermark passes `t_n` (no in-watermark event can
    * land inside it), and each emitted row carries the exact
    * cumulative TWAP `⌊Σ v·Δt / Σ Δt⌋` up to that instant. The last
    * row per entity equals the batch operator's `(span_us, twap_c)`
    * bit-for-bit. Same disclosed non-negative-value assumption as
    * the batch face (sign-uniform case where truncating and flooring
    * division agree).
    *
    * State per entity is one (t, v) pair + two accumulators plus the
    * above-watermark pending buffer; entities idle past
    * `idleExpiryMicros` of event time free their state and restart a
    * fresh accumulation on re-appearance (disclosed counter-reset
    * semantics — the batch parity window is one expiry horizon).
    *
    * @return `(entity, t_micros, span_us, twap_c)`, one row per
    *         event after the entity's first, emitted exactly once
    */
  def twapFeed(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, valueScale: Long = 100L,
      watermark: String = "10 minutes",
      idleExpiryMicros: Long = 30L * 24 * 3600 * 1000000L)
      : Dataset[TwapHit] = {
    require(idleExpiryMicros > 0,
      s"idleExpiryMicros must be > 0: $idleExpiryMicros")
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("i"),
        round(col(valueCol) * valueScale).cast("long").as("vc"))
      .as[(String, java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TwapState, TwapHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(TwapState(Long.MinValue, 0L, 0L, "0",
              anyEmitted = false, Seq.empty))
          val all = (st.pending ++ rows.map(r => (r._3, r._4, r._5)))
            .sortBy(e => (e._1, e._2))
          val (ripe, pending) = all.partition(_._1 < wmMicros)
          var lastT = st.lastT; var lastV = st.lastV
          var den = st.den; var num = BigInt(st.num)
          var anyEmitted = st.anyEmitted
          val hits = Vector.newBuilder[TwapHit]
          ripe.foreach { case (t, _, vc) =>
            if (lastT != Long.MinValue) {
              val dt = t - lastT
              num += BigInt(lastV) * dt
              den += dt
              if (den > 0L) {
                anyEmitted = true
                hits += TwapHit(key, t, den, (num / den).toLong)
              }
            }
            lastT = t; lastV = vc
          }
          val activityT = math.max(lastT,
            pending.iterator.map(_._1).foldLeft(Long.MinValue)(
              math.max))
          if (pending.isEmpty && (lastT == Long.MinValue ||
            lastT + idleExpiryMicros < wmMicros)) {
            state.remove()
          } else {
            state.update(TwapState(lastT, lastV, den, num.toString,
              anyEmitted, pending))
            val wake =
              if (pending.nonEmpty) pending.iterator.map(_._1).min
              else activityT + idleExpiryMicros
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, wake / 1000L + 1L))
          }
          hits.result().iterator
      }
  }
}
