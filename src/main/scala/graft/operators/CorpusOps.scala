package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over document corpora (SURVEY.md §2k
  * north star): benchmark decontamination, context-window chunking, and
  * deterministic sampling. Everything is pure `functions._` — codegen'd,
  * map-side until the one aggregation each op genuinely needs — so the
  * shapes hold at 100 TB:
  *
  *  - decontamination broadcasts the (small) benchmark n-gram set and
  *    shuffles the corpus once, on `doc_id`, for the per-doc rollup;
  *  - chunking is a pure per-row explode — zero shuffles;
  *  - hash-rate sampling is a pure filter — zero shuffles — and is THE
  *    scale path; exact-k-per-stratum rides one window sort and is for
  *    small/medium strata only.
  */
object CorpusOps {

  /** Lower-cased whitespace tokens with empties dropped — the shared
    * tokenization for every op here (and mirrored verbatim by the
    * DuckDB oracles). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** The distinct word `n`-gram ARRAY over an ALREADY-MATERIALIZED
    * token-array column — the shared builder for [[wordNgrams]] and
    * the explode-free per-doc gram counts.
    *
    * `ts` must be a bound column (projected in a SEPARATE select), not
    * the raw `tokens(text)` expression tree: Spark's subexpression
    * elimination does not reach inside higher-order-function lambdas,
    * so an inlined tokenizer would re-run the regex split once per
    * window position — a ~50× constant factor measured at sf0.1
    * (word_ngrams 4.5 s → 0.3 s after materialization). Catalyst's
    * CollapseProject keeps the split projection separate because the
    * alias is referenced more than once in a non-cheap expression. */
  private def gramsOf(ts: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    array_distinct(when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
      .otherwise(array().cast("array<string>")))
  }

  /** `(id, gramArray)` with the token array materialized first — see
    * [[gramsOf]] for why the two-step projection is load-bearing. */
  private def gramArrays(docs: DataFrame, n: Int, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("_graft_ts"))
      .select(col(idCol), gramsOf(col("_graft_ts"), n).as("_graft_grams"))

  /** Distinct word `n`-grams per document: one `(id, gram)` row per
    * distinct space-joined n-token window. Documents shorter than `n`
    * tokens contribute nothing. Pure map-side explode.
    *
    * `explode_outer` + null-filter rather than `explode`:
    * `InferFiltersFromGenerate` turns an inner explode over an aliased
    * array into a `size(arr) > 0` filter whose pushdown re-inlines the
    * WHOLE tokenize+gram pipeline into the scan as an interpreted
    * DataFilter — tripling the per-row cost (8 s → 0.5 s at sf0.1).
    * The outer variant is exempt from that rule, and filtering the
    * OUTPUT attribute costs nothing. Gram elements are never null
    * (concat_ws of non-null tokens), so the semantics are identical. */
  def wordNgrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    gramArrays(docs, n, idCol, textCol)
      .select(col(idCol), explode_outer(col("_graft_grams")).as("gram"))
      .filter(col("gram").isNotNull)

  /** Benchmark decontamination (the GPT-3-style n-gram overlap check):
    * for every corpus document, how many of its distinct `n`-grams also
    * appear anywhere in the benchmark set. Returns one row per corpus
    * document that has at least one n-gram:
    * `(id, n_grams, n_hits, contamination, contaminated)`.
    *
    * Scale shape, chosen by MEASURING the benchmark's gram set:
    *
    *  - gram set <= `maxBroadcastGrams` (the common case — benchmarks
    *    are MBs, corpora are TBs): the set is broadcast and corpus
    *    grams are never shuffled for the probe; the only exchange is
    *    the `groupBy(id)` rollup.
    *  - larger (a consolidated eval suite, a dedup-against-corpus-B
    *    run): the probe becomes a shuffled equi-join, pre-filtered by
    *    a bloom of the benchmark grams so only might-match grams
    *    ship. The bloom is sized to the MEASURED count (~10 bits per
    *    gram) and capped at `bloomBitsCap` — it rides the plan as a
    *    literal, so an oversized filter taxes every task's plan
    *    deserialization; at extreme gram cardinality the cap degrades
    *    its false-positive rate gracefully while the join keeps the
    *    answer exact. The per-doc totals come explode-free from the
    *    gram ARRAY, so the corpus text is read twice but never
    *    shuffled whole. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      maxBroadcastGrams: Long = 2000000L,
      bloomBitsCap: Long = 1L << 25): DataFrame = {
    // three consumers (the count action, the XL bloom aggregate, the
    // probe join) — one materialization of the distinct gram set
    // instead of three benchmark tokenize+distinct pipelines
    val benchGrams = wordNgrams(benchmark, n, idCol, textCol)
      .select(col("gram")).distinct()
      .transform(graft.Materialize.barrier)
    val gramCount = benchGrams.count()
    deconProbe(corpus, benchGrams, gramCount, n, idCol, textCol,
      maxBroadcastGrams,
      () => buildGramBloom(benchGrams, gramCount, bloomBitsCap))
  }

  /** The bench-gram bloom the XL probe pre-filters with, sized to the
    * MEASURED gram count (~10 bits per gram) and capped. */
  private def buildGramBloom(benchGrams: DataFrame, gramCount: Long,
      bloomBitsCap: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bits = math.max(1L << 16,
      math.min(bloomBitsCap, gramCount * 10L))
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(ColumnBridge.expression(col("gram")))),
      Literal(math.max(1L, math.min(gramCount, 4000000L))),
      Literal(bits)).toAggregateExpression())
    benchGrams.agg(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
  }

  /** The shared decon probe: broadcast path under `maxBroadcastGrams`
    * benchmark grams, bloom-prefiltered shuffled join past it. The
    * bloom is passed as a thunk so callers with a PERSISTED bloom
    * ([[decontaminateWithIndex]]) skip the aggregate entirely and the
    * ad-hoc path ([[decontaminate]]) only pays it on the XL branch. */
  private def deconProbe(corpus: DataFrame, benchGrams: DataFrame,
      gramCount: Long, n: Int, idCol: String, textCol: String,
      maxBroadcastGrams: Long, bloomBytesFn: () => Array[Byte])
      : DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    if (gramCount <= maxBroadcastGrams) {
      val bench = broadcast(benchGrams.withColumn("_hit", lit(1)))
      wordNgrams(corpus, n, idCol, textCol)
        .join(bench, Seq("gram"), "left")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("_hit"), lit(0))).as("n_hits"))
        .select(col(idCol), col("n_grams"), col("n_hits"),
          round(col("n_hits") / col("n_grams").cast("double"), 6)
            .as("contamination"),
          (col("n_hits") >= 1).as("contaminated"))
    } else {
      val bloomBytes = bloomBytesFn()
      val mightHit =
        if (bloomBytes == null) lit(true)
        else ColumnBridge.column(
          new org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain(Literal(bloomBytes, BinaryType),
              new XxHash64(Seq(ColumnBridge.expression(col("gram"))))))
      val totals = gramArrays(corpus, n, idCol, textCol)
        .select(col(idCol), size(col("_graft_grams")).as("n_grams"))
        .filter(col("n_grams") > 0)
      val hits = wordNgrams(corpus, n, idCol, textCol)
        .filter(mightHit)
        .join(benchGrams, Seq("gram"))
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
      totals.join(hits, Seq(idCol), "left")
        .select(col(idCol), col("n_grams").cast("long").as("n_grams"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) /
            col("n_grams").cast("double"), 6).as("contamination"),
          (coalesce(col("n_hits"), lit(0L)) >= 1).as("contaminated"))
    }
  }

  /** Persist the decontamination index ONCE beside the benchmark set
    * (the band-keys / postings precedent applied to decon): the
    * benchmark's distinct `n`-grams land as parquet at `path/grams`
    * and a one-row `path/meta` sidecar carries `(n, gram_count,
    * bloom)` with the XL prefilter bloom PRE-BUILT — so every later
    * sweep ([[decontaminateWithIndex]]) is O(corpus probe): no
    * per-run benchmark tokenize/distinct shuffle, no count job, no
    * bloom aggregate. Rebuild only when the benchmark set changes. */
  def buildDeconIndex(benchmark: DataFrame, path: String, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      bloomBitsCap: Long = 1L << 25): Unit = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    wordNgrams(benchmark, n, idCol, textCol)
      .select(col("gram")).distinct()
      .write.mode("overwrite").parquet(s"$path/grams")
    // count + bloom run over the PERSISTED grams: the expensive
    // tokenize+distinct pipeline executes exactly once
    val persisted = spark.read.parquet(s"$path/grams")
    val gramCount = persisted.count()
    val bloom = buildGramBloom(persisted, gramCount, bloomBitsCap)
    Seq((n, gramCount, bloom)).toDF("n", "gram_count", "bloom")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Decontaminate against a [[buildDeconIndex]]-persisted benchmark:
    * identical output to [[decontaminate]] on the same benchmark, but
    * the per-sweep cost is the corpus probe alone — grams stream from
    * parquet, the gram count and the XL bloom come from the meta
    * sidecar. The repeated-sweep shape for a benchmark suite checked
    * against every new corpus drop. */
  def decontaminateWithIndex(corpus: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxBroadcastGrams: Long = 2000000L): DataFrame = {
    val spark = corpus.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val n = meta.getAs[Int]("n")
    val gramCount = meta.getAs[Long]("gram_count")
    val bloom = meta.getAs[Array[Byte]]("bloom")
    val benchGrams = spark.read.parquet(s"$path/grams")
    deconProbe(corpus, benchGrams, gramCount, n, idCol, textCol,
      maxBroadcastGrams, () => bloom)
  }

  /** Curriculum shard export: the deterministic easiest-first
    * training order — stage = exact NTILE(`nStages`) over
    * `(readability DESC, id)` (highest Flesch = easiest first; the
    * NTILE arithmetic rides the scale-safe two-phase row_number +
    * one broadcast count, never a global single-partition window),
    * and WITHIN each stage documents take the `(xxhash64(id), id)`
    * order ([[shuffleShards]]' reproducible-on-any-cluster
    * contract). A trainer walking `(stage, pos)` gets
    * easy→hard stages with deterministic within-stage shuffling —
    * same curriculum on every rerun and every cluster size.
    *
    * @return `(id, fre_milli, stage, pos)` ordered by (stage, pos)
    */
  def curriculumShards(docs: DataFrame, nStages: Int = 4,
      idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    require(nStages >= 2, s"nStages must be >= 2: $nStages")
    // materialize the readability scores once: the rank machinery's
    // three consumers plus the total-count aggregate would otherwise
    // re-run the text-stats scan four times; the count reads the
    // checkpoint (ranking preserves cardinality, so counting the
    // input IS counting the ranked output)
    val scores = TextStats.readability(docs, idCol, textCol)
      .select(col(idCol), col("fre_milli"))
      .transform(graft.Materialize.barrier)
    val rn = Salting.twoPhaseRanks(scores, Seq.empty,
      Seq(col("fre_milli").desc, col(idCol)),
      rowNumCol = Some("__cur_rn"))
    val tot = scores.agg(count(lit(1)).as("__cur_nn"))
    val k = nStages
    val staged = rn.crossJoin(broadcast(tot)).withColumn("stage",
      expr(s"CASE WHEN __cur_rn <= (__cur_nn % $k) * " +
        s"(__cur_nn div $k + 1) THEN (__cur_rn + (__cur_nn div $k " +
        s"+ 1) - 1) div (__cur_nn div $k + 1) ELSE (__cur_nn % $k) " +
        s"+ (__cur_rn - (__cur_nn % $k) * (__cur_nn div $k + 1) + " +
        s"(__cur_nn div $k) - 1) div (__cur_nn div $k) END"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stage"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
    staged.withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("fre_milli"),
        col("stage").cast("long").as("stage"), col("pos"))
      .orderBy(col("stage"), col("pos"))
  }

  /** STREAMING contamination monitor — the live face of
    * [[decontaminateWithIndex]]: tail the corpus table's change data
    * feed and keep `outTable` equal to the contamination scores of
    * the CURRENT corpus, batch by batch. Per micro-batch the latest
    * change per doc wins (preimages dropped, an equal-version
    * delete+insert nets to the insert — the COW replay shape), the
    * surviving texts are scored against the persisted index, and the
    * net rows MERGE in keyed on `idCol`: deletes (and docs whose new
    * text has no grams — the batch operator emits nothing for them)
    * remove the doc's row, everything else upserts its fresh score.
    * Scores are deterministic and the keyed MERGE is idempotent, so a
    * Spark replay converges to the same table — exactly-once in
    * effect with no sink-side bookkeeping (the
    * [[graft.streaming.StreamOps.writeChangeApplyBatches]] argument).
    *
    * The invariant a monitor wants: once caught up, `outTable` ==
    * `decontaminateWithIndex(corpus, indexPath)` of the live corpus
    * (StreamingSpec proves it through inserts, updates AND deletes).
    *
    * `outTable` must exist (create it empty with the score schema:
    * `idCol, n_grams BIGINT, n_hits BIGINT, contamination DOUBLE,
    * contaminated BOOLEAN`). Naming a `consumerId` registers the
    * subscription on the corpus so vacuum keeps the feed window open.
    * Per-batch index cost is the meta sidecar read + the gram probe —
    * the benchmark is never re-tokenized (the whole point of the
    * persisted index). */
  def deconFeed(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, indexPath: String, outTable: String,
      checkpointLocation: String, consumerId: Option[String] = None,
      idCol: String = "doc_id", textCol: String = "text",
      maxBroadcastGrams: Long = 2000000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.v2.{GraftCdf, GraftHadoopConf}
    // register up front: the vacuum window must hold from
    // subscription time, not from the first applied batch
    for (id <- consumerId) {
      val t = new org.apache.hadoop.fs.Path(corpusPath)
      GraftCdf.advanceConsumer(
        t.getFileSystem(GraftHadoopConf.sessionConf()), t, id, 0L)
    }
    spark.readStream.format("graft-v2").option("path", corpusPath)
      .option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.Materialize.scoped {
          deconFeedBatch(batch, indexPath, outTable, idCol, textCol,
            maxBroadcastGrams)
          for (id <- consumerId) {
            val maxV = batch.agg(max(col(GraftCdf.CommitVersion))).head()
            if (!maxV.isNullAt(0)) {
              val t = new org.apache.hadoop.fs.Path(corpusPath)
              GraftCdf.advanceConsumer(
                t.getFileSystem(GraftHadoopConf.sessionConf()), t, id,
                maxV.getLong(0))
            }
          }
        }
      }
      .start()
  }

  /** One micro-batch of [[deconFeed]] (separated so the replay and
    * delete/update semantics are testable without a running stream). */
  private[graft] def deconFeedBatch(batch: DataFrame,
      indexPath: String, outTable: String, idCol: String,
      textCol: String, maxBroadcastGrams: Long): Unit = {
    import graft.sources.v2.GraftCdf
    batch.persist()
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
        .orderBy(col(GraftCdf.CommitVersion).desc,
          (col(GraftCdf.ChangeType) === "delete").asc_nulls_last)
      val latest = batch
        .filter(col(GraftCdf.ChangeType) =!= "update_preimage")
        .withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1).drop("__graft_rn")
        .persist()
      try if (!latest.limit(1).isEmpty) {
        val live = latest
          .filter(col(GraftCdf.ChangeType) =!= "delete")
          .select(col(idCol), col(textCol),
            col(GraftCdf.CommitVersion))
        val scored = decontaminateWithIndex(
          live.select(col(idCol), col(textCol)), indexPath, idCol,
          textCol, maxBroadcastGrams)
          .join(live.select(col(idCol), col(GraftCdf.CommitVersion)),
            Seq(idCol))
          .withColumn(GraftCdf.ChangeType, lit("insert"))
        // docs the batch operator emits NO row for (gramless text
        // after an update) plus genuine deletes both leave the
        // monitor — the out table tracks the operator exactly
        val gone = latest
          .join(scored.select(col(idCol)), Seq(idCol), "left_anti")
          .select(col(idCol),
            lit(null).cast("long").as("n_grams"),
            lit(null).cast("long").as("n_hits"),
            lit(null).cast("double").as("contamination"),
            lit(null).cast("boolean").as("contaminated"),
            col(GraftCdf.CommitVersion),
            lit("delete").as(GraftCdf.ChangeType))
        graft.streaming.StreamOps.applyChanges(
          scored.unionByName(gone), outTable, Seq(idCol))
      } finally latest.unpersist()
    } finally batch.unpersist()
  }

  /** Context-window chunking: split each document into token windows of
    * `chunkSize` tokens advancing by `stride` (overlap = chunkSize -
    * stride). Start offsets are 1, 1+stride, 2·stride+1, … up to the
    * first start whose window reaches the last token, so every token
    * lands in at least one chunk and no start begins past the end.
    * Returns `(id, chunk_idx, n_tokens, chunk_text)`; documents with no
    * tokens produce no chunks. Pure per-row explode — zero shuffles. */
  def chunk(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkSize >= 1 && stride >= 1,
      s"chunkSize/stride must be >= 1, got $chunkSize/$stride")
    val withTs = docs
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      .withColumn("ntok", size(col("ts")))
      .filter(col("ntok") > 0)
    // last start = 1 + stride * ceil((ntok - chunkSize) / stride)
    val lastStart = (lit(1) +
      ((greatest(col("ntok") - chunkSize, lit(0)) + (stride - 1))
        / stride).cast("int") * stride).cast("int")
    withTs
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), lastStart, lit(stride)),
          st => slice(col("ts"), st, lit(chunkSize)))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        size(col("col")).as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Deterministic hash-rate sampling per stratum: keep a row iff
    * `pmod(xxhash64(id), 100) < ratePct(stratum)`. Reproducible across
    * runs and engines, needs no shuffle and no state — the correct
    * sampling primitive at 100 TB (exact-k variants need a per-stratum
    * sort; rates don't). */
  def sampleByRate(df: DataFrame, ratePct: Column,
      idCol: String = "doc_id"): DataFrame =
    df.filter(pmod(xxhash64(col(idCol)), lit(100)) < ratePct)

  /** Exact top-k rows per stratum in deterministic pseudo-random order
    * (`xxhash64(id)`, ties by id): one window sort keyed on the stratum.
    * Use for small/medium stratum counts; at extreme scale prefer
    * [[sampleByRate]]. Returns the input columns plus `rn` (1-based). */
  def sampleTopKPerStratum(df: DataFrame, stratumCol: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Deterministic global shuffle + sharding — the training-order
    * randomization step before exporting a corpus to N equal shards:
    * `shard = pmod(xxhash64(id), numShards)` and `pos` = the row's
    * 1-based position inside its shard in `(xxhash64(id), id)` order.
    * Writing shard-partitioned output in `pos` order gives every
    * epoch the same pseudo-random document order on any cluster size
    * — reproducible training runs with zero RNG state.
    *
    * Scale shape: one hash shuffle on the shard key plus a per-shard
    * sort (the window never crosses shards). Shards are hash-balanced
    * by construction, so raising `numShards` to >> executor count
    * bounds per-task sort memory at any corpus size. */
  def shuffleShards(df: DataFrame, numShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    import org.apache.spark.sql.expressions.Window
    val shard = pmod(xxhash64(col(idCol)), lit(numShards)).cast("int")
    val w = Window.partitionBy(col("shard"))
      .orderBy(xxhash64(col(idCol)), col(idCol))
    df.withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
  }

  /** Systematic PPS (probability-proportional-to-size) sample of ~`k`
    * draws: lay the rows out on a weight line in `idCol` order, walk
    * it with a fixed stride of `totalWeight / k` starting at half a
    * stride, and keep every row a grid point lands on —
    * `copies` = grid points inside the row's weight interval, so a row
    * heavier than one stride is drawn multiply (the classic
    * with-replacement systematic design; deterministic, zero RNG
    * state, inclusion probability exactly `k·w/W` for w ≤ stride).
    *
    * All selection arithmetic is INTEGER-exact: grid point m sits at
    * `W·(2m+1)/(2k)`, so "points in `(cum−w, cum]`" is a count of odd
    * multiples of `W` in `(2k·(cum−w)·?, 2k·cum·?]` — two integer
    * divisions, no float anywhere; any engine replays it bit-for-bit.
    * The global running weight comes from [[Salting.twoPhaseCumSum]],
    * so no stage funnels the table through one task.
    *
    * Weights must be non-negative integers (scale fractional weights
    * to fixed-point upstream); `2k·W` must fit a long — at corpus
    * scale past that, swap the weight column to decimal and the two
    * `div`s follow (documented upgrade, not needed below ~10^14 total
    * weight × 10^4 draws). Zero-weight rows are never drawn.
    *
    * @return `(idCol, weight, copies)` for drawn rows, `copies >= 1`
    */
  def ppsSample(df: DataFrame, k: Int, idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val weighted = df.select(col(idCol),
      col(weightCol).cast("long").as("weight"))
    val cum = Salting.twoPhaseCumSum(weighted, Seq(col(idCol)),
      col("weight"), "cum")
    val total = weighted.agg(sum(col("weight")).as("__pps_W"))
    cum.crossJoin(broadcast(total))
      .withColumn("copies", expr(
        s"((2L * $k * cum) div __pps_W + 1L) div 2L - " +
          s"((2L * $k * (cum - weight)) div __pps_W + 1L) div 2L"))
      .filter(col("copies") >= 1)
      .select(col(idCol), col("weight"), col("copies"))
  }

  /** GPT-style sequence packing: concatenate each shard's documents
    * (in `idCol` order) into one virtual token stream and cut it into
    * fixed `seqLen`-token training sequences. Returns one row per
    * (sequence, document) overlap segment:
    * `(shard, seq_idx, id, seg_start, seg_tokens)` — document `id`
    * contributes `seg_tokens` tokens starting at offset `seg_start`
    * (0-based) inside sequence `seq_idx` of its shard. A document
    * longer than `seqLen` spans several sequences; short documents
    * share one (that sharing is the whole point — near-zero padding).
    *
    * Scale shape: packing is inherently sequential, so it is done per
    * SHARD (`pmod(id, numShards)`), never globally — one hash shuffle
    * on the shard key, then a per-shard cumulative sum over token
    * counts (a single window pass; no data is moved again). At 100 TB
    * you raise `numShards` to ~cluster-cores so each shard's stream
    * sorts independently; determinism holds at any shard count. The
    * token TEXT never moves — only `(id, ntok)` pairs shuffle; the
    * trainer joins segments back to chunk text by `(id, seg)` offsets. */
  def packSequences(docs: DataFrame, seqLen: Int = 128,
      numShards: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(seqLen >= 1 && numShards >= 1,
      s"seqLen/numShards must be >= 1, got $seqLen/$numShards")
    import org.apache.spark.sql.expressions.Window
    val counted = docs
      .select(col(idCol), size(tokens(col(textCol))).as("ntok"))
      .filter(col("ntok") > 0)
      .withColumn("shard", pmod(col(idCol), lit(numShards)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    val offs = counted
      .withColumn("end_off", sum(col("ntok").cast("long")).over(w))
      .withColumn("start_off", col("end_off") - col("ntok"))
    val L = lit(seqLen.toLong)
    offs
      .withColumn("seq_idx", explode(sequence(
        (col("start_off") / L).cast("long"),
        ((col("end_off") - 1) / L).cast("long"))))
      .select(col("shard"), col("seq_idx"), col(idCol),
        (greatest(col("start_off"), col("seq_idx") * L) -
          col("seq_idx") * L).cast("int").as("seg_start"),
        (least(col("end_off"), (col("seq_idx") + 1) * L) -
          greatest(col("start_off"), col("seq_idx") * L))
          .cast("int").as("seg_tokens"))
  }

  /** Cross-document repeated n-grams: every distinct word `n`-gram and
    * the number of DISTINCT documents it occurs in, kept when that
    * document frequency reaches `minDocs` — the mining half of
    * substring-level corpus dedup (find the boilerplate/licence/header
    * spans that repeat across documents, then mask or down-weight
    * them). Returns `(gram, doc_freq)`.
    *
    * Scale shape: [[wordNgrams]] already emits per-document DISTINCT
    * grams, so `count(*)` per gram IS the document frequency — one
    * partial+final hash aggregate on the gram, no `count(distinct)`
    * double shuffle. The `minDocs` filter drops the long unique tail
    * (the overwhelming majority) before anything else consumes the
    * result. At 100 TB you'd fingerprint grams to a 128-bit digest
    * first (exact-dedup style) so the shuffle moves 16-byte keys, and
    * re-join survivors for the gram text. */
  def commonNgrams(docs: DataFrame, n: Int, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    wordNgrams(docs, n, idCol, textCol)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
  }

  /** Per-document cross-corpus repetition (the substring-dedup
    * signal of Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499, re-expressed at n-gram
    * granularity): for every document, the fraction of its distinct
    * `n`-grams that also occur in at least `minDocs` documents
    * corpus-wide (itself included). Returns
    * `(id, n_grams, n_repeated, repeat_frac)` for documents with at
    * least one n-gram; a high `repeat_frac` marks boilerplate-heavy
    * documents whose "content" exists elsewhere.
    *
    * Scale shape: the gram doc-frequency rollup of [[commonNgrams]]
    * (one gram-keyed shuffle), a left join of the per-doc gram stream
    * against only the REPEATED grams (post-`minDocs` filter, a small
    * fraction of the corpus vocabulary), then one `id`-keyed rollup —
    * the same two-exchange budget as decontamination. */
  def crossDocRepetition(docs: DataFrame, n: Int, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the per-doc gram stream feeds the doc-frequency rollup AND the
    // probe join — one materialization instead of two explode passes
    val grams = wordNgrams(docs, n, idCol, textCol)
      .transform(graft.Materialize.barrier)
    val repeated = grams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .select(col("gram"), lit(1).as("_rep"))
    grams
      .join(repeated, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_rep"), lit(0))).as("n_repeated"))
      .select(col(idCol), col("n_grams"), col("n_repeated"),
        round(col("n_repeated") / col("n_grams").cast("double"), 6)
          .as("repeat_frac"))
  }

  /** Weighted corpus mixing (the data-mixing stage: "2.25 epochs of
    * Wikipedia, 0.4 of CommonCrawl"): each source contributes
    * `floor(rate)` FULL copies (tagged `epoch` 0..full-1) plus a
    * deterministic hash-sampled fraction of `rate - floor(rate)`
    * (tagged `epoch = floor(rate)`), all union'd with a `mix_source`
    * tag. Rates are honored to ppm precision.
    *
    * Scale shape: the epoch copies come from ONE scan per source via
    * an `explode(sequence(...))` — not `full` separate passes — and
    * the fractional remainder is the [[sampleByRate]] pure filter
    * (`pmod(xxhash64(id), 1e6) < ppm`), so the whole mixture is
    * scan + map-side explode + filter: zero shuffles, reproducible
    * across runs and engines. */
  def mixCorpora(sources: Seq[(String, DataFrame, Double)],
      idCol: String = "doc_id"): DataFrame = {
    require(sources.nonEmpty, "mixCorpora needs at least one source")
    val parts = sources.flatMap { case (name, df, rate) =>
      require(rate >= 0, s"rate for '$name' must be >= 0, got $rate")
      val full = math.floor(rate).toInt
      val ppm = math.round((rate - full) * 1e6).toInt
      val base = df.withColumn("mix_source", lit(name))
      val copies = if (full > 0)
        Some(base.withColumn("epoch",
          explode(sequence(lit(0), lit(full - 1))))) else None
      val rem = if (ppm > 0)
        Some(base
          .filter(pmod(xxhash64(col(idCol)), lit(1000000L)) < ppm)
          .withColumn("epoch", lit(full))) else None
      copies.toSeq ++ rem.toSeq
    }
    require(parts.nonEmpty, "all mixture rates are zero")
    parts.reduce(_ unionByName _)
  }

  /** Cross-document line deduplication (the C4/RefinedWeb boilerplate
    * scrub: nav bars, cookie banners, licence headers repeat verbatim
    * across pages — remove EVERY occurrence of any line the corpus
    * repeats): lines whose trimmed form occurs at least
    * `minOccurrences` times corpus-wide are deleted from every
    * document, and the surviving lines are reassembled in their
    * original order. Blank lines are never counted and never removed.
    * Returns `(id, n_lines, n_removed, clean_text)` — one row per
    * input document (a fully-boilerplate document keeps its row with
    * an empty `clean_text`).
    *
    * 100 TB shape: the frequency rollup keys on the 64-bit FNV-1a line
    * digest ([[graft.functions.TextHash64]]), so the corpus-wide
    * shuffle moves 8-byte keys with map-side partial counts — never
    * line text (a 2⁻⁶⁴ collision can only over-delete a line, the
    * benign direction for a boilerplate filter). The probe join is
    * hash-keyed and un-hinted: when the repeated-line set is small
    * (the normal case) AQE broadcasts it; a pathological
    * everything-repeats corpus degrades to a shuffled join on the same
    * 8-byte key, not a failure. Reassembly is one `id`-keyed rollup —
    * bounded by document size, never corpus size. */
  def dedupLines(docs: DataFrame, minOccurrences: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2, got $minOccurrences")
    import graft.functions.GraftFunctions.text_hash64
    // the line stream feeds the frequency rollup AND the probe join —
    // one materialization instead of two explode passes
    val lines = docs
      .select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), col("line"),
        text_hash64(trim(col("line"))).as("h"),
        (trim(col("line")) === "").as("blank"))
      .transform(graft.Materialize.barrier)
    val frequent = lines.filter(!col("blank"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minOccurrences)
      .select(col("h"), lit(1).as("_dup"))
    lines.join(frequent, Seq("h"), "left")
      .withColumn("_rm", col("_dup").isNotNull && !col("blank"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        sum(col("_rm").cast("int")).cast("int").as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(!col("_rm"), struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
  }

  /** Exact substring deduplication (Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the ExactSubstr variant, re-expressed over k-TOKEN windows
    * instead of a 50-byte suffix array): any `k`-token window whose
    * text occurs more than once corpus-wide keeps exactly ONE
    * occurrence — the lexicographically first `(id, position)` — and
    * every other occurrence's tokens are removed from their documents.
    * Internal repetition collapses the same way ("p q r" ×3 in one
    * document keeps one copy). A token survives iff NO non-canonical
    * duplicated window covers it, so overlapping duplicated spans
    * merge naturally; like the paper's tool, a canonical copy can
    * still lose tokens to a DIFFERENT overlapping duplicated window.
    * Returns `(id, n_tokens, n_removed, clean_text)` — one row per
    * input document.
    *
    * 100 TB shape: windows never leave the map side as text — the
    * corpus-wide frequency+owner rollup keys on the 64-bit xxhash of
    * the window (8-byte key, map-side partial count and partial
    * `min(struct(id, pos))`), the flagged-window probe joins on the
    * same 8-byte key (AQE broadcasts the duplicated set when small),
    * and reassembly is one `id`-keyed rollup of integer window starts.
    * A 2⁻⁶⁴ hash collision can only over-delete — the benign direction
    * for a dedup filter. The per-document cover test is
    * O(tokens × flagged windows) inside one codegen'd HOF — bounded by
    * document size, never corpus size. */
  def dedupSubstrings(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    val ts = col("_ts")
    // the tokenized corpus feeds the window explode AND the final
    // reassembly join — materialize once instead of re-scanning and
    // re-tokenizing the parquet per consumer
    val toked = docs.select(col(idCol), tokens(col(textCol)).as("_ts"))
      .transform(graft.Materialize.barrier)
    // one row per window START (1-based into the token array), hashed
    // map-side; sequence() reverses when start > stop, so short docs
    // take the explicit empty branch
    // the window stream is consumed twice (owner rollup + flagged
    // probe) — one materialization of the narrow (id, pos, hash) rows
    // replaces a second full explode+hash pass
    val wins = toked
      .select(col(idCol), posexplode(
        when(size(ts) >= k,
          transform(sequence(lit(1), size(ts) - (k - 1)),
            i => xxhash64(concat_ws(" ", slice(ts, i, lit(k))))))
          .otherwise(array().cast("array<bigint>")))
        .as(Seq("_wp0", "_h")))
      .select(col(idCol), (col("_wp0") + 1).cast("int").as("_wpos"),
        col("_h"))
      .transform(graft.Materialize.barrier)
    // duplicated fingerprints with their canonical owner: one 8-byte
    // keyed rollup (map-side partial count+min), then a hash probe of
    // the window stream against ONLY the duplicated set — AQE
    // broadcasts it in the normal small-duplication case. (A window-
    // function formulation would run the explode subtree once instead
    // of twice, but measures ~1.6× slower at sf0.1: the per-partition
    // sort over ALL windows costs more than the second explode.)
    val dups = wins.groupBy(col("_h"))
      .agg(count(lit(1)).as("_cnt"),
        min(struct(col(idCol).as("_i"), col("_wpos").as("_p")))
          .as("_own"))
      .filter(col("_cnt") >= 2)
      .select(col("_h"), col("_own._i").as("_oid"),
        col("_own._p").as("_opos"))
    val flagged = wins.join(dups, Seq("_h"))
      .filter(!(col(idCol) === col("_oid") && col("_wpos") === col("_opos")))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("_wpos"))).as("_ss"))
    keepOutsideSpans(
      toked.join(flagged, Seq(idCol), "left")
        .select(col(idCol), ts,
          coalesce(col("_ss"), array().cast("array<int>")).as("_ss")),
      k, idCol)
  }

  /** Reassemble documents after span removal: input carries `(_ts,
    * _ss)` — the token array and the SORTED flagged window starts,
    * each covering `k` tokens. Linear in (tokens + flagged windows),
    * not their product: the starts fold into disjoint covered
    * intervals (overlapping/touching merge), the complement gives the
    * KEEP gaps, and the kept tokens are the concatenation of the gap
    * slices. A boilerplate-heavy document with thousands of flagged
    * windows — where a per-token ∃-over-spans scan would go quadratic
    * — collapses to a handful of merged intervals. Shared by
    * [[dedupSubstrings]] and [[decontaminateSpans]]. Returns
    * `(id, n_tokens, n_removed, clean_text)`. */
  private def keepOutsideSpans(withSpans: DataFrame, k: Int,
      idCol: String): DataFrame = {
    val ts = col("_ts")
    val ivT = "array<struct<s:int,e:int>>"
    val covered = aggregate(col("_ss"),
      array().cast(ivT),
      (acc, s0) => {
        val e0 = (s0 + (k - 1)).cast("int")
        val last = element_at(acc, -1)
        when(size(acc) > 0 && s0 <= last("e") + 1,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last("s").as("s"),
              greatest(last("e"), e0).as("e")))))
          .otherwise(concat(acc,
            array(struct(s0.cast("int").as("s"), e0.as("e")))))
      })
    val gapT = "array<struct<s:int,l:int>>"
    val gaps = aggregate(covered,
      struct(lit(1).cast("int").as("p"), array().cast(gapT).as("g")),
      (st, iv) => struct(
        (iv("e") + 1).cast("int").as("p"),
        when(iv("s") > st("p"),
          concat(st("g"), array(struct(st("p").as("s"),
            (iv("s") - st("p")).cast("int").as("l")))))
          .otherwise(st("g")).as("g")),
      st => when(size(ts) >= st("p"),
        concat(st("g"), array(struct(st("p").as("s"),
          (size(ts) - st("p") + 1).cast("int").as("l")))))
        .otherwise(st("g")))
    withSpans
      .select(col(idCol), size(ts).as("n_tokens"),
        flatten(transform(gaps,
          g => slice(ts, g("s"), g("l")))).as("_keep"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("_keep"))).as("n_removed"),
        array_join(col("_keep"), " ").as("clean_text"))
  }

  /** SPAN-LEVEL benchmark decontamination: where [[decontaminate]]
    * FLAGS whole documents by n-gram overlap, this SURGICALLY REMOVES
    * the overlapping text — every corpus window whose `n`-gram appears
    * in the benchmark set loses its tokens, the rest of the document
    * survives (the "remove the contaminated span, keep the document"
    * policy large-corpus reports describe for high-value documents).
    * Returns `(id, n_tokens, n_removed, clean_text)`.
    *
    * 100 TB shape: benchmark grams travel as a BROADCAST of 8-byte
    * hashes (benchmarks are MBs); corpus windows probe map-side on
    * the same hash (a 2⁻⁶⁴ collision only over-deletes — benign for a
    * decontamination filter), flagged starts roll up per doc, and
    * reassembly is the shared merged-interval gap slicing — nothing
    * shuffles corpus text. For benchmark sets beyond broadcast size,
    * flag-first with [[decontaminate]]'s bloom+shuffled path and
    * route only the flagged docs here. */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ts = col("_ts")
    val benchHashes = broadcast(
      wordNgrams(benchmark, n, idCol, textCol)
        .select(xxhash64(col("gram")).as("_h")).distinct())
    // the tokenized corpus feeds the window explode AND the final
    // reassembly join — materialize once (dedupSubstrings precedent)
    val toked = corpus.select(col(idCol), tokens(col(textCol)).as("_ts"))
      .transform(graft.Materialize.barrier)
    val wins = toked
      .select(col(idCol), posexplode(
        when(size(ts) >= n,
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => xxhash64(concat_ws(" ", slice(ts, i, lit(n))))))
          .otherwise(array().cast("array<bigint>")))
        .as(Seq("_wp0", "_h")))
      .select(col(idCol), (col("_wp0") + 1).cast("int").as("_wpos"),
        col("_h"))
    val flagged = wins.join(benchHashes, Seq("_h"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("_wpos"))).as("_ss"))
    keepOutsideSpans(
      toked.join(flagged, Seq(idCol), "left")
        .select(col(idCol), ts,
          coalesce(col("_ss"), array().cast("array<int>")).as("_ss")),
      n, idCol)
  }

  /** Email pattern shared by scrub + oracle (kept RE2/Java-portable:
    * no backrefs, no lookaround). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone pattern: NANP-ish triplet-quad groups. */
  val PhoneRe = "[0-9]{3}-[0-9]{3,4}-[0-9]{4}"

  /** PII scrub: replace emails/phones with `[EMAIL]`/`[PHONE]` tags and
    * count what was removed. Returns `(id, n_emails, n_phones,
    * redacted)`. Pure map-side — zero shuffles. */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(PhoneRe)).as("n_phones"),
      regexp_replace(
        regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]").as("redacted"))
}
