package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranked keyword retrieval over a document corpus (north-star
  * extension beside SURVEY.md §2k text analysis): BM25 scoring for a
  * term query and per-document TF-IDF keyword extraction — the
  * retrieval/characterization half of a training-data curation loop
  * (find the documents about X; label every document with the terms
  * that distinguish it).
  *
  * Tokenization is [[CorpusOps.tokens]] (lower-cased whitespace split,
  * empties dropped), mirrored verbatim by the DuckDB oracles.
  *
  * 100 TB shape:
  *
  *  - [[bm25]] filters the exploded token stream to the QUERY terms
  *    before anything shuffles — the corpus-sized stream collapses to
  *    |query-term occurrences| at the scan. Corpus constants (N,
  *    avgdl) and the per-term document frequencies are three-row
  *    aggregates broadcast back into the plan; the final top-k is a
  *    `TakeOrderedAndProject` (per-partition heads, never a global
  *    sort).
  *  - [[tfIdfKeywords]] genuinely touches every (doc, term) pair —
  *    two hash rollups (term frequency, document frequency) and one
  *    per-doc window for the top-m cut. At 100 TB you'd fingerprint
  *    terms to a 64-bit digest first so the term-keyed exchanges move
  *    fixed-width keys (exact-dedup style), and re-join the surviving
  *    top-m rows for the term text.
  */
object TextSearch {

  /** BM25 top-k retrieval (Robertson–Spärck Jones, the Okapi BM25
    * formula in its standard `ln(1 + (N-df+0.5)/(df+0.5))` smoothing):
    * the `k` highest-scoring documents for a whitespace query, ties on
    * the (rounded) score broken by id. Returns `(id, score)` sorted
    * best-first. Documents containing none of the query terms never
    * leave the scan. */
  def bm25(docs: DataFrame, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val qTerms = queryTerms(query)

    // materialize the token array ONCE per row before fanning out to
    // size/explode — the split expression re-evaluates per reference
    // otherwise (no subexpression elimination across generators)
    val toks = docs.select(col(idCol),
      CorpusOps.tokens(col(textCol)).as("_ts"))
    val lens = toks.select(col(idCol), size(col("_ts")).as("dl"))
    // corpus constants: one tiny all-reduce, broadcast back
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))

    // explode_outer + null-filter: the inner explode's inferred
    // size-filter would push a re-tokenization into the scan (see
    // CorpusOps.wordNgrams); the term filter drops the null rows
    val tf = toks
      .select(col(idCol), size(col("_ts")).as("dl"),
        explode_outer(col("_ts")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    scoreBm25(tf, stats, k, k1, b, idCol)
  }

  private def queryTerms(query: String): Seq[String] = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq
    require(qTerms.nonEmpty, "bm25 query must contain at least one term")
    qTerms
  }

  /** The shared Okapi scoring tail: `tf` carries one row per
    * (doc, query term) with the doc length, `stats` the (n, avgdl)
    * scalars. Doc frequency falls out of `tf` itself (count of rows
    * per term), so corpus and index retrieval score IDENTICALLY. */
  private def scoreBm25(tf: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double, idCol: String): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1) +
      (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") +
      lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(sum(idf * (col("tf") * (k1 + 1)) / norm), 4).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** PERSISTED INVERTED INDEX — the postings-list layout every search
    * engine builds once and serves from, here as a graft-v2 table:
    *
    *  - `<path>/postings`: one row per (term, doc) — `(term, doc_id,
    *    dl, tf)` — BUCKETED BY TERM (and bucket-sorted by (term, id)),
    *    so a query's `term IN (...)` scan opens only the ≤ |terms|
    *    buckets that can hold its postings (graft's bucket pruning);
    *    the 100 TB corpus is tokenized ONCE at build, never at query.
    *  - `<path>/stats`: append-only `(n_docs, total_dl)` rows; the
    *    query-time (N, avgdl) fold is an exact integer sum, so the
    *    derived avgdl equals the corpus-scan `avg(dl)` bit-for-bit.
    *
    * [[extendPostings]] appends NEW documents' postings into the same
    * bucket layout plus one stats row — index maintenance is
    * incremental in the delta's size (the contract is append-only
    * corpora: re-adding an indexed doc would double-count it; dedup
    * upstream). [[bm25FromIndex]] then serves the exact [[bm25]]
    * scores with zero corpus access. */
  def buildPostings(docs: DataFrame, path: String, numBuckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    writePostings(docs, path, numBuckets,
      org.apache.spark.sql.SaveMode.Overwrite, idCol, textCol)

  /** Incrementally index NEW documents (append-only contract — see
    * [[buildPostings]]): their postings land in the existing bucket
    * layout, their (count, total length) in one appended stats row. */
  def extendPostings(newDocs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val layout = graft.sources.BucketLayout.read(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft extendPostings: no postings index at $path — " +
        "buildPostings first"))
    writePostings(newDocs, path, layout.numBuckets,
      org.apache.spark.sql.SaveMode.Append, idCol, textCol)
  }

  private def writePostings(docs: DataFrame, path: String,
      numBuckets: Int, mode: org.apache.spark.sql.SaveMode,
      idCol: String, textCol: String): Unit = {
    val toks = docs.select(col(idCol),
      CorpusOps.tokens(col(textCol)).as("_ts"))
    val tf = toks
      .select(col(idCol), size(col("_ts")).as("dl"),
        explode_outer(col("_ts")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
    graft.sources.GraftSink.saveBucketedFiles(tf, s"$path/postings",
      numBuckets, Seq("term"), sortCols = Seq("term", idCol),
      mode = mode)
    if (mode == org.apache.spark.sql.SaveMode.Overwrite) {
      // a REBUILD over an old index must not inherit its stats rows —
      // the postings overwrite above already dropped the old postings
      val st = new org.apache.hadoop.fs.Path(s"$path/stats")
      val fs = st.getFileSystem(docs.sparkSession.sessionState
        .newHadoopConf())
      if (fs.exists(st)) fs.delete(st, true)
    }
    toks.select(size(col("_ts")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/stats")
  }

  // ─────────────── exactly-once feed application protocol ───────────
  //
  // The feed faces ([[extendPostingsFromFeed]], [[tailPostings]])
  // apply a corpus-version WINDOW to the index. foreachBatch delivery
  // and the batch face's crash model are both at-least-once, so the
  // application is made idempotent BY CONSTRUCTION: the index keeps
  // its own applied-version log, and every window lands through a
  // stage→commit→publish protocol whose commit point is ONE atomic
  // file create:
  //
  //  1. STAGE    write the window's postings delta + stats row under
  //              `.graft-postings-stage/v<to>/` with their FINAL file
  //              names (the bucket id rides in the name, so the later
  //              rename preserves the hash layout)
  //  2. COMMIT   create `.graft-postings-commits/v<to>` — atomic
  //              create-if-absent, THE commit point
  //  3. PUBLISH  rename each staged data file into `postings/` /
  //              `stats/` (idempotent: a name already present was
  //              moved before a crash), then drop the stage dir
  //
  // Recovery runs at every feed-face entry: a stage dir WITH its
  // commit marker is finished publishing; one WITHOUT is deleted (the
  // replay restages it). A window at or below the applied version is
  // skipped whole; one straddling it is filtered to the unapplied
  // versions first. Net effect: each corpus version's rows land in
  // the postings EXACTLY once wherever a crash or Spark replay cuts —
  // the one visible artifact of a crash between commit and publish is
  // that reads serve the pre-window index until the next feed-face
  // call recovers it. Single-writer per index (enforced by the
  // commit marker's create-if-absent).

  private val CommitsDirName = ".graft-postings-commits"
  private val StageDirName = ".graft-postings-stage"

  /** Highest corpus version durably applied to the index, per its
    * commit-marker log; None for indexes never fed from a table. */
  private[graft] def postingsApplied(
      fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Option[Long] = {
    val d = new org.apache.hadoop.fs.Path(s"$indexPath/$CommitsDirName")
    if (!fs.exists(d)) None
    else {
      val vs = fs.listStatus(d).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") => n.drop(1).toLong }
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Finish or discard interrupted windows: publish any stage dir
    * whose commit marker exists, delete any without one. */
  private[graft] def recoverPostings(
      fs: org.apache.hadoop.fs.FileSystem, indexPath: String): Unit = {
    val stageRoot =
      new org.apache.hadoop.fs.Path(s"$indexPath/$StageDirName")
    if (!fs.exists(stageRoot)) return
    val applied = postingsApplied(fs, indexPath)
    fs.listStatus(stageRoot).foreach { st =>
      val v = st.getPath.getName.drop(1).toLong
      if (applied.exists(_ >= v)) publishStage(fs, indexPath, st.getPath)
      else fs.delete(st.getPath, true)
    }
    if (fs.listStatus(stageRoot).isEmpty) fs.delete(stageRoot, true)
  }

  /** Move a committed stage's data files into the live dirs. Renames
    * are the idempotent unit: a destination that already exists means
    * THIS file moved before a crash — drop the staged copy. Layout
    * markers / _SUCCESS stay behind (the live dirs own theirs). */
  private def publishStage(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String, stage: org.apache.hadoop.fs.Path): Unit = {
    def moveAll(sub: String): Unit = {
      val src = new org.apache.hadoop.fs.Path(stage, sub)
      if (!fs.exists(src)) return
      val dst = new org.apache.hadoop.fs.Path(s"$indexPath/$sub")
      if (!fs.exists(dst)) fs.mkdirs(dst)
      fs.listStatus(src).foreach { f =>
        val n = f.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) {
          val to = new org.apache.hadoop.fs.Path(dst, n)
          if (fs.exists(to)) fs.delete(f.getPath, false)
          else if (!fs.rename(f.getPath, to)) {
            throw new java.io.IOException(
              s"graft postings publish: rename ${f.getPath} -> $to " +
              "failed")
          }
        }
      }
    }
    moveAll("postings")
    moveAll("stats")
    fs.delete(stage, true)
  }

  /** Apply one feed window (rows already filtered to the unapplied
    * versions) up to corpus version `toVersion`, exactly once. Returns
    * false when the window was already applied. `crashAfterCommit` is
    * a test hook simulating a crash between the commit point and the
    * publish — the window is then durably committed but unpublished,
    * and the next feed-face entry finishes it. */
  private[graft] def applyFeedWindow(newDocs: DataFrame,
      indexPath: String, toVersion: Long, idCol: String,
      textCol: String, crashAfterCommit: Boolean = false): Boolean = {
    val spark = newDocs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    recoverPostings(fs, indexPath)
    if (postingsApplied(fs, indexPath).exists(_ >= toVersion)) {
      return false
    }
    val layout = graft.sources.BucketLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$indexPath/postings")).getOrElse(
      throw new IllegalArgumentException(
        s"graft postings feed: no postings index at $indexPath — " +
        "buildPostingsFromTable first"))
    val stage = new org.apache.hadoop.fs.Path(
      s"$indexPath/$StageDirName/v$toVersion")
    if (fs.exists(stage)) fs.delete(stage, true) // uncommitted leftover
    writePostings(newDocs, stage.toString, layout.numBuckets,
      org.apache.spark.sql.SaveMode.Overwrite, idCol, textCol)
    // COMMIT POINT — one atomic create-if-absent
    val commits =
      new org.apache.hadoop.fs.Path(s"$indexPath/$CommitsDirName")
    if (!fs.exists(commits)) fs.mkdirs(commits)
    val marker = new org.apache.hadoop.fs.Path(commits, s"v$toVersion")
    if (!fs.createNewFile(marker)) {
      throw new IllegalStateException(
        s"graft postings feed: commit marker $marker already exists — " +
        "concurrent feed writers on one index are not supported")
    }
    if (crashAfterCommit) {
      throw new java.io.IOException(
        "graft postings feed: simulated crash after commit (test hook)")
    }
    publishStage(fs, indexPath, stage)
    // the max marker is the authority; prune the superseded ones
    fs.listStatus(commits).foreach { f =>
      if (f.getPath.getName.drop(1).toLong < toVersion) {
        fs.delete(f.getPath, false)
      }
    }
    val sr = new org.apache.hadoop.fs.Path(s"$indexPath/$StageDirName")
    if (fs.exists(sr) && fs.listStatus(sr).isEmpty) fs.delete(sr, true)
    true
  }

  /** Build the postings index FROM A graft-v2 CORPUS TABLE and
    * subscribe to its change data feed: the index records (via a
    * registered feed consumer) the corpus version it reflects, so
    * [[extendPostingsFromFeed]] can later apply exactly the appends
    * committed since — and the consumer mark holds the corpus's
    * vacuum window open for this subscription. */
  def buildPostingsFromTable(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, indexPath: String, consumerId: String,
      numBuckets: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    import graft.sources.v2.{GraftCdf, GraftManifest}
    val t = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    // pin BEFORE reading: a commit landing between the read and the
    // mark would otherwise be skipped forever; landing between mark
    // and read it is indexed AND replayed — refused below, never lost
    val ver = GraftManifest.pinForMutation(fs, t).version
    val docs = spark.read.format("graft-v2")
      .option("versionAsOf", ver.toString).load(corpusPath)
    buildPostings(docs, indexPath, numBuckets, idCol, textCol)
    // seed the index-local applied-version log: the feed faces'
    // exactly-once protocol needs an authority from the first extend
    // (a REBUILD over an old index obsoletes the old log and stages)
    val ifs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commits =
      new org.apache.hadoop.fs.Path(s"$indexPath/$CommitsDirName")
    if (ifs.exists(commits)) ifs.delete(commits, true)
    ifs.mkdirs(commits)
    ifs.createNewFile(new org.apache.hadoop.fs.Path(commits, s"v$ver"))
    val sr = new org.apache.hadoop.fs.Path(s"$indexPath/$StageDirName")
    if (ifs.exists(sr)) ifs.delete(sr, true)
    GraftCdf.advanceConsumer(fs, t, consumerId, ver)
  }

  /** Apply every corpus commit since the index's applied version to
    * the index: INSERT rows extend the postings (cost ∝ the delta),
    * exactly once (stage→commit→publish — see the protocol note
    * above), and the consumer mark advances so the corpus's vacuum
    * keeps the feed window open. Idempotent when nothing new
    * committed. Row-level deletes/updates are REFUSED loudly — the
    * postings layout is append-only (rebuild, or filter dead doc ids
    * at query time, for mutable corpora). Returns the number of
    * versions applied. */
  def extendPostingsFromFeed(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, indexPath: String, consumerId: String,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    import graft.sources.v2.{GraftCdf, GraftManifest}
    val t = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    val mark = GraftCdf.consumerMarks(fs, t).getOrElse(consumerId,
      throw new IllegalArgumentException(
        s"graft extendPostingsFromFeed: consumer '$consumerId' is not " +
        s"registered on $corpusPath — buildPostingsFromTable first"))
    val ifs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crash between commit and publish left a pending window: finish
    // it before deciding what is new
    recoverPostings(ifs, indexPath)
    // the index's own log outranks the consumer mark (the mark can lag
    // a crash that hit after the window committed but before advance)
    val from = math.max(mark, postingsApplied(ifs, indexPath)
      .getOrElse(mark))
    val cur = GraftManifest.current(fs, t).map(_.version).getOrElse(0L)
    if (cur <= from) {
      if (cur > mark) GraftCdf.advanceConsumer(fs, t, consumerId, cur)
      return 0L
    }
    val feed = GraftCdf.tableChanges(spark, corpusPath, from + 1, cur)
    val nonInsert = feed
      .filter(col(GraftCdf.ChangeType) =!= "insert").limit(1).count()
    require(nonInsert == 0L,
      s"graft extendPostingsFromFeed: $corpusPath committed row " +
      "deletes/updates in the feed window — the postings layout is " +
      "append-only; rebuild the index or filter dead ids at query time")
    applyFeedWindow(feed.select(col(idCol), col(textCol)), indexPath,
      cur, idCol, textCol)
    GraftCdf.advanceConsumer(fs, t, consumerId, cur)
    cur - from
  }

  /** STREAMING index maintenance: tail the corpus's change data feed
    * and extend the postings continuously — the push face of
    * [[extendPostingsFromFeed]]'s batch catch-up. Each micro-batch
    * lands through the same exactly-once window protocol, so a Spark
    * replay (foreachBatch is at-least-once) re-applies nothing: rows
    * at or below the index's applied version are filtered out, and a
    * whole-batch replay is skipped at the commit log. Mutations in
    * the feed fail the query loudly (append-only contract). The
    * consumer mark advances per batch, holding the corpus's vacuum
    * window open for this subscription. */
  def tailPostings(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, indexPath: String, consumerId: String,
      checkpointLocation: String, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.v2.GraftCdf
    val t = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    val mark = GraftCdf.consumerMarks(fs, t).getOrElse(consumerId,
      throw new IllegalArgumentException(
        s"graft tailPostings: consumer '$consumerId' is not " +
        s"registered on $corpusPath — buildPostingsFromTable first"))
    val ifs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    recoverPostings(ifs, indexPath)
    val start =
      math.max(mark, postingsApplied(ifs, indexPath).getOrElse(0L)) + 1
    spark.readStream.format("graft-v2").option("path", corpusPath)
      .option("readChangeFeed", "true")
      .option("startingVersion", start.toString).load()
      .writeStream.option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.Materialize.scoped {
          applyFeedBatch(batch, corpusPath, indexPath, consumerId,
            idCol, textCol)
        }
      }
      .start()
  }

  /** One exactly-once micro-batch of [[tailPostings]] (separated so
    * the replay semantics are testable without a running stream). */
  private[graft] def applyFeedBatch(batch: DataFrame,
      corpusPath: String, indexPath: String, consumerId: String,
      idCol: String, textCol: String): Unit = {
    import graft.sources.v2.GraftCdf
    val spark = batch.sparkSession
    batch.persist()
    try {
      val nonInsert = batch
        .filter(col(GraftCdf.ChangeType) =!= "insert").limit(1).count()
      require(nonInsert == 0L,
        s"graft tailPostings: $corpusPath committed row " +
        "deletes/updates in the feed — the postings layout is " +
        "append-only; rebuild the index or filter dead ids at query " +
        "time")
      val vRow = batch
        .agg(max(col(GraftCdf.CommitVersion))).head()
      if (vRow.isNullAt(0)) return // empty batch
      val vmax = vRow.getLong(0)
      val ifs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      recoverPostings(ifs, indexPath) // finish a committed-unpublished window
      val applied = postingsApplied(ifs, indexPath).getOrElse(0L)
      if (vmax > applied) {
        // a replay after checkpoint loss can straddle the applied
        // version: keep only the unapplied versions' rows
        val fresh = batch
          .filter(col(GraftCdf.CommitVersion) > applied)
          .select(col(idCol), col(textCol))
        applyFeedWindow(fresh, indexPath, vmax, idCol, textCol)
      }
      val t = new org.apache.hadoop.fs.Path(corpusPath)
      GraftCdf.advanceConsumer(
        t.getFileSystem(spark.sessionState.newHadoopConf()), t,
        consumerId, vmax)
    } finally {
      batch.unpersist()
      ()
    }
  }

  /** BM25 served ENTIRELY from the index: the postings scan is
    * bucket-pruned to the query terms, (N, avgdl) folds from the
    * stats rows, and the scoring tail is [[bm25]]'s own — identical
    * scores, zero corpus access. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    val qTerms = queryTerms(query)
    val tf = spark.read.format("graft-v2")
      .option("path", s"$path/postings").load()
      .filter(col("term").isin(qTerms: _*))
    // exact integer fold -> ONE double division, the same value (and
    // bits) as avg(dl) over the corpus
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum(col("n_docs")).as("n"),
        (sum(col("total_dl")).cast("double") /
          sum(col("n_docs")).cast("double")).as("avgdl"))
    scoreBm25(tf, stats, k, k1, b, idCol)
  }

  /** Per-document TF-IDF keywords: the `m` terms of each document with
    * the highest `(tf/dl) * ln((N+1)/(df+1))`, rounded to 6 with ties
    * broken by term — `(id, term, tfidf, rk)`. The smooth-idf variant
    * keeps corpus-universal terms finite instead of dividing by zero
    * information. */
  def tfIdfKeywords(docs: DataFrame, m: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), CorpusOps.tokens(col(textCol)).as("_ts"))
      .select(col(idCol), size(col("_ts")).as("dl"),
        explode_outer(col("_ts")).as("term"))
      .filter(col("term").isNotNull)
    val tf = toks.groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"))

    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("term"),
        round(col("tf") / col("dl").cast("double") *
          log((col("n") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= m)
  }

  /** Exact integral division (`a div b`): decimal quotients truncate
    * exactly where a scale-bound decimal division would HALF_UP-round
    * across a floor boundary the oracle's `//` never crosses (same
    * contract as [[Unigram]]'s DP arithmetic). */
  private def intDiv(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions
      .IntegralDivide(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))
  }

  private def dec38(c: org.apache.spark.sql.Column) =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** Collocation mining: term pairs that co-occur across documents
    * far more often than their independent document frequencies
    * predict — the PMI/lift family, under an INTEGER contract: the
    * score is the lift in parts-per-million,
    *
    *   `lift_ppm = ⌊ n_pair · 10⁶ · n_docs / (n_t1 · n_t2) ⌋`
    *
    * computed in decimal(38,0) with exact integral division (no ln,
    * no float — any engine replays it bit-for-bit; 10⁶·n_pair·n_docs
    * stays far inside 38 digits at any corpus size).
    *
    * Determinism + scale both come from the capped per-doc term set:
    * the `maxTermsPerDoc` lexicographically-smallest distinct tokens
    * of length ≥ `minTermLen`. The per-doc pair expansion is then
    * O(cap²) — a constant — by CONSTRUCTION (never |doc|²), built
    * with codegen'd higher-order array functions (no explode-join,
    * no UDF). Downstream it's two hash rollups (pair counts, term
    * counts) and a broadcast of the one-row corpus count; the final
    * cut is a TakeOrderedAndProject.
    *
    * @return top-`topN` rows `(t1, t2, n_pair, lift_ppm)` by
    *         (lift_ppm desc, t1, t2)
    */
  /** The capped sorted per-doc term set (shared by [[collocations]]
    * and [[textRank]]): the `maxTermsPerDoc` lexicographically-
    * smallest distinct tokens of length ≥ `minTermLen`. */
  private def termSets(docs: DataFrame, textCol: String,
      minTermLen: Int, maxTermsPerDoc: Int): DataFrame = {
    require(maxTermsPerDoc >= 2,
      s"maxTermsPerDoc must be >= 2, got $maxTermsPerDoc")
    val termSet = slice(
      array_sort(array_distinct(filter(
        CorpusOps.tokens(col(textCol)),
        t => length(t) >= minTermLen))),
      1, maxTermsPerDoc)
    docs.select(termSet.as("ts")).filter(size(col("ts")) >= 1)
  }

  /** Per-corpus co-occurring pair counts over the capped term sets,
    * kept at `n_pair ≥ minPairCount` — ordered pairs (ts[i], ts[j])
    * with i < j: the set is sorted, so t1 < t2 always and each
    * unordered pair appears exactly once. */
  private def pairCounts(sets: DataFrame,
      minPairCount: Long): DataFrame =
    sets
      .filter(size(col("ts")) >= 2)
      .select(explode(flatten(transform(col("ts"), (x, i) =>
        transform(
          slice(col("ts"), i + lit(2),
            greatest(lit(0), size(col("ts")) - i - lit(1))),
          y => struct(x.as("t1"), y.as("t2")))))).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount)

  def collocations(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minTermLen: Int = 3,
      maxTermsPerDoc: Int = 12, minPairCount: Long = 5L,
      topN: Int = 100): DataFrame = {
    // three consumers (pair counts, term counts, corpus count) would
    // each re-tokenize the corpus — materialize the capped term sets
    // once (≤ maxTermsPerDoc short strings per doc)
    val sets = termSets(docs, textCol, minTermLen, maxTermsPerDoc)
      .transform(graft.Materialize.barrier)
    val pairs = pairCounts(sets, minPairCount)
    val termCnt = sets
      .select(explode(col("ts")).as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_t"))
    val nDocs = sets.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(termCnt.select(col("t").as("t1"), col("n_t").as("n1")),
        Seq("t1"))
      .join(termCnt.select(col("t").as("t2"), col("n_t").as("n2")),
        Seq("t2"))
      .crossJoin(broadcast(nDocs))
      .select(col("t1"), col("t2"), col("n_pair"),
        intDiv(
          dec38(col("n_pair")) * dec38(lit(1000000L)) *
            dec38(col("n_docs")),
          dec38(col("n1")) * dec38(col("n2"))).as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("t1"), col("t2"))
      .limit(topN)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, public
    * algorithm): PageRank over the term co-occurrence graph — the
    * corpus-level "which terms sit at the center of the vocabulary"
    * ranking — under a FULLY INTEGER contract: rank mass starts at
    * `⌊10¹²/N⌋` per node and each of the `iters` fixed rounds applies
    *
    *   `r'_v = ⌊(15·⌊10¹²/N⌋ + 85·Σ_{u→v} ⌊r_u/deg_u⌋) / 100⌋`
    *
    * (damping 0.85 as two integer ops) — every intermediate is an
    * exact long, order-independent, replayable by unrolled SQL CTEs.
    *
    * Graph + scale shape: edges are [[collocations]]' capped per-doc
    * pairs (≥ `minPairCount` docs), symmetric; each round is one
    * edge-keyed join + one hash rollup — vocabulary-sized work,
    * corpus-sized only in the first pair-count pass. The node count N
    * is a driver scalar (vocabulary cardinality, same contract as the
    * trained-model counts elsewhere).
    *
    * @return top-`topN` rows `(term, rank_score)` by (score desc,
    *         term)
    */
  def textRank(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minTermLen: Int = 3,
      maxTermsPerDoc: Int = 12, minPairCount: Long = 5L,
      iters: Int = 3, topN: Int = 50): DataFrame = {
    require(iters >= 1 && topN >= 1,
      s"bad textRank args: iters=$iters topN=$topN")
    // materialize the pair/edge/degree tables once: the symmetric
    // union reads `pairs` twice, `edges` is read by every iteration,
    // and `deg.count()` below is an extra action — without the
    // checkpoints the corpus-scan pair pipeline re-executes per
    // consumer, and the per-round self-reference of `r` (node-list
    // side + contribution side) made the unrolled plan re-execute the
    // whole subtree ~2^iters times
    val pairs = pairCounts(
      termSets(docs, textCol, minTermLen, maxTermsPerDoc),
      minPairCount).select(col("t1"), col("t2"))
      .transform(graft.Materialize.barrier)
    val edges = pairs.select(col("t1").as("src"), col("t2").as("dst"))
      .unionAll(pairs.select(col("t2").as("src"), col("t1").as("dst")))
      .transform(graft.Materialize.barrier)
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .transform(graft.Materialize.barrier)
    val n = deg.count()
    require(n > 0, "textRank: empty co-occurrence graph")
    val base = 1000000000000L / n
    var r = deg.select(col("src").as("node"), col("deg"),
      lit(base).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(r, col("src") === col("node"))
        .select(col("dst"), intDiv(col("r"), col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // node-list side comes from the CHECKPOINTED deg (identical
      // rows to r's (node, deg) projection), so `r` appears exactly
      // once per level and the unrolled plan stays linear in iters
      r = deg.select(col("src").as("node"), col("deg"))
        .join(contrib, col("node") === col("dst"), "left_outer")
        .select(col("node"), col("deg"),
          intDiv(lit(15L * base) +
            lit(85L) * coalesce(col("s"), lit(0L)), lit(100L))
            .as("r"))
    }
    r.select(col("node").as("term"), col("r").as("rank_score"))
      .orderBy(col("rank_score").desc, col("term"))
      .limit(topN)
  }

  /** ROUGE-n pair scores (the summarization-eval overlap family,
    * Lin 2004): for each unordered doc pair, the CLIPPED n-gram
    * overlap `Σ_g min(cnt_a(g), cnt_b(g))` and the
    * precision/recall/F1 it induces — all integer ppm
    * (`⌊x·10⁶/y⌋`), engine-exact. Grams keep MULTIPLICITY (clipped
    * counts are ROUGE's defining difference from Jaccard, which the
    * near-dup family already covers). Pairs with zero overlap still
    * report (left join), so the output is the full pair grid of the
    * given id set.
    *
    * Scale shape: gram counts are one hash aggregate; pairs meet on
    * the GRAM (never all-pairs against full texts); the caller bounds
    * the id set — this is the rerank/eval primitive, not a corpus
    * sweep (LSH generates candidates at corpus scale).
    *
    * @return `(id_a, id_b, overlap, p_ppm, r_ppm, f1_ppm)` with
    *         `p = overlap/len_a`, `r = overlap/len_b`,
    *         `f1 = 2·overlap/(len_a+len_b)`; rows ordered
    */
  def rougePairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 4, s"gram order must be 1..4, got $n")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def intDiv(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions
        .IntegralDivide(ColumnBridge.expression(a),
          ColumnBridge.expression(b)))
    val tk = CorpusOps.tokens(col(textCol))
    val grams =
      if (n == 1) tk
      else when(size(tk) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(tk, i + lit(j))): _*)))
    val counts = docs
      .select(col(idCol).cast("long").as("id"),
        explode(grams).as("g"))
      .groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("c"))
    val lens = counts.groupBy(col("id")).agg(sum(col("c")).as("len"))
    val overlaps = counts.select(col("id").as("ia"), col("g"),
        col("c").as("ca"))
      .join(counts.select(col("id").as("ib"), col("g"),
        col("c").as("cb")), Seq("g"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(sum(least(col("ca"), col("cb"))).as("ov"))
    val pairs = lens.select(col("id").as("ia"), col("len").as("la"))
      .join(lens.select(col("id").as("ib"), col("len").as("lb")),
        col("ia") < col("ib"))
    val ov = coalesce(col("ov"), lit(0L))
    pairs.join(overlaps, Seq("ia", "ib"), "left_outer")
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        ov.as("overlap"),
        intDiv(ov * lit(1000000L), col("la")).as("p_ppm"),
        intDiv(ov * lit(1000000L), col("lb")).as("r_ppm"),
        intDiv(ov * lit(2000000L), col("la") + col("lb"))
          .as("f1_ppm"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
