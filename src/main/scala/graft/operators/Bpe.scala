package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned byte-pair-encoding tokenizer model: the ordered merge list
  * (rank 1 first). Encoding applies the merges in rank order — the
  * original Sennrich formulation, where each merge is a left-to-right
  * non-overlapping rewrite of the symbol sequence. */
case class BpeModel(merges: Seq[(String, String)]) {
  /** Merge vocabulary: every token the model can emit beyond single
    * characters. */
  def vocab: Seq[String] = merges.map { case (l, r) => l + r }
}

/** Distributed BPE tokenizer training and encoding (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — public algorithm), built the way an industrial trainer
  * runs at corpus scale:
  *
  *  - ONE pass over the corpus builds the `(word, count)` table — the
  *    only job that touches the 100 TB text; everything after runs on
  *    the distinct-word table (millions of rows at web scale, not
  *    billions), cached on executors.
  *  - each merge iteration is one map-side pair expansion plus one
  *    `groupBy(pair).sum(cnt)` over that small table, then a single
  *    argmax row to the driver — the merge decision is `O(1)` driver
  *    state, never the data.
  *  - the evolving symbol representation is a plain string column with
  *    a codegen'd `replace()` per learned merge; lineage is cut every
  *    [[Bpe.MaterializeEvery]] merges with `localCheckpoint` so plan
  *    depth (and recompute) stays bounded for large merge counts.
  *
  * Symbol sequences ride ONE string column: tokens joined by TWO
  * spaces with a single leading/trailing pad (`" l  o  w "`). Merging
  * pair `(a,b)` is then the literal rewrite `" a  b " -> " ab "` —
  * the interior double gap donates one space to each side, so
  * adjacent occurrences (`a a a a`) merge left-to-right without
  * sharing boundary characters, which is exactly BPE's non-overlapping
  * scan, and a pair can never match across a token boundary because
  * tokens contain no spaces. `replace` is leftmost non-overlapping in
  * both the JVM and DuckDB, so the oracle can replicate training
  * verbatim in SQL.
  */
object Bpe {

  /** Words eligible for vocabulary training: the lower-cased token
    * must be purely alphanumeric. This is the pre-tokenizer contract
    * (GPT-2 style splits punctuation off before BPE); it also pins
    * char-splitting to ASCII where JVM UTF-16 and DuckDB UTF-8
    * semantics agree. */
  val WordRegex = "^[a-z0-9]+$"

  /** Cut localCheckpoint lineage every this many merges so the stacked
    * `replace` chain (and per-iteration recompute) stays O(this). */
  val MaterializeEvery = 16

  /** Initial symbol representation of a word: characters joined by two
    * spaces, padded with one space each side. */
  private def charRep(w: Column): Column =
    concat(lit(" "),
      array_join(filter(split(w, ""), c => c =!= ""), "  "), lit(" "))

  private def mergePattern(l: String, r: String): (String, String) =
    (s" $l  $r ", s" $l$r ")

  /** `(w, cnt)` over the corpus — the single full-corpus shuffle. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(CorpusOps.tokens(col(textCol)).as("_graft_ts"))
      .select(explode_outer(col("_graft_ts")).as("w"))
      .filter(col("w").isNotNull && col("w").rlike(WordRegex))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Distinct-word count at or below which training pulls the
    * `(word, cnt)` table to the driver and runs the exact incremental
    * merge loop there — the industrial shape: the corpus is TBs but
    * its distinct-word table is millions of rows, and k driver-side
    * merges beat k Spark jobs by orders of magnitude. Above the
    * threshold the distributed loop (same algorithm, same answers)
    * takes over. */
  val DriverWordLimit = 2000000L

  /** Train `numMerges` BPE merges over the corpus. Each iteration
    * counts every adjacent symbol pair (weighted by word frequency,
    * overlapping adjacencies both counted — the standard `get_stats`)
    * and merges the most frequent, ties broken lexicographically so
    * training is deterministic and oracle-replicable. Stops early if
    * no pair remains (fully merged vocabulary).
    *
    * ONE corpus-wide job builds the word-count table either way; the
    * merge loop then runs on the driver when the table has at most
    * `driverWordLimit` distinct words (see [[DriverWordLimit]]) and
    * distributed otherwise. Both paths implement the identical
    * algorithm and tie-breaks — BpeSpec pins them to equal merges. */
  def train(docs: DataFrame, numMerges: Int,
      textCol: String = "text",
      driverWordLimit: Long = DriverWordLimit): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // the checkpoints' storage is released once the model (plain
    // driver-side data) has been extracted
    graft.Materialize.scoped {
      val words = graft.Materialize.barrierEager(wordCounts(docs, textCol)
        .select(col("cnt"), charRep(col("w")).as("rep")))
      if (words.count() <= driverWordLimit) trainLocal(words, numMerges)
      else trainDistributed(words, numMerges)
    }
  }

  /** Exact incremental BPE on the collected word table: pair counts
    * maintained under each merge (remove the rewritten words' old
    * pairs, add their new ones), so per-merge cost is proportional to
    * the words actually containing the merged pair, not the corpus. */
  private def trainLocal(words: DataFrame,
      numMerges: Int): BpeModel = {
    val table: Array[(Array[String], Long)] = words.collect().map { r =>
      (r.getString(1).trim.split("  "), r.getLong(0))
    }
    val counts = scala.collection.mutable.HashMap
      .empty[(String, String), Long]
    val index = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def addWord(i: Int, sign: Long): Unit = {
      val (syms, cnt) = table(i)
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * cnt
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0)
          index.getOrElseUpdate(p,
            scala.collection.mutable.Set.empty) += i
        j += 1
      }
    }
    table.indices.foreach(addWord(_, 1L))
    def applyMerge(syms: Array[String], l: String,
        r: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
          out += l + r; j += 2
        } else { out += syms(j); j += 1 }
      }
      out.toArray
    }
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      if (counts.isEmpty) done = true
      else {
        // argmax by (count desc, l asc, r asc) — the same total order
        // the distributed orderBy uses
        val (l, r) = counts.foldLeft(
          (("", ""), Long.MinValue)) { case (best @ (bp, bc), (p, c)) =>
          if (c > bc || (c == bc && (p._1 < bp._1 ||
            (p._1 == bp._1 && p._2 < bp._2)))) (p, c) else best
        }._1
        merges += ((l, r))
        val touched = index.getOrElse((l, r), Set.empty[Int]).toArray
        touched.foreach { wi =>
          val (syms, cnt) = table(wi)
          addWord(wi, -1L)
          table(wi) = (applyMerge(syms, l, r), cnt)
          addWord(wi, 1L)
        }
        // no explicit removal of (l, r): rewriting zeroes its count
        // naturally, and a merge like (a, aa) can legitimately
        // RECREATE its own pair ([a,aa,a,aa] -> [aaa,a,aa]) — the
        // distributed loop would count it again, so parity requires
        // keeping whatever addWord re-added. The index set is a
        // superset by design (stale members no-op on later touches).
      }
      i += 1
    }
    BpeModel(merges.result())
  }

  private def trainDistributed(words: DataFrame, numMerges: Int)
      : BpeModel = {
    var cur = words
    var prev = Option.empty[DataFrame]
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      // Materialize the symbol array in its own projection: subexpr
      // elimination does not reach inside HOF lambdas (see
      // CorpusOps.gramsOf), so an inlined split would re-run per pair
      // position.
      val syms = cur.select(col("cnt"),
        split(trim(col("rep")), "  ").as("t"))
      val pairs = syms.select(col("cnt"),
        explode_outer(when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            j => struct(element_at(col("t"), j).as("l"),
              element_at(col("t"), j + 1).as("r"))))).as("p"))
        .filter(col("p").isNotNull)
      val top = pairs
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        val (pat, sub) = mergePattern(l, r)
        val next = cur.withColumn("rep",
          replace(col("rep"), lit(pat), lit(sub)))
        cur =
          if ((i + 1) % MaterializeEvery == 0) {
            // the new checkpoint supersedes the previous one — release
            // it now so at most two checkpoints are ever live
            val cp = graft.Materialize.barrierEager(next)
            prev.foreach(graft.Materialize.drop)
            prev = Some(cp)
            cp
          } else next
      }
      i += 1
    }
    BpeModel(merges.result())
  }

  /** WordPiece-style greedy longest-match encoding over this model's
    * merge vocabulary ([[BpeModel.vocab]]) — the other deployed
    * subword-inference rule beside [[encode]]'s merge replay (Wu et
    * al. 2016; BERT's tokenizer applies exactly this longest-match
    * scan, with the vocab source being the training-time difference).
    * Pieces of length ≥ 2 come from the vocab; an unmatched leading
    * character becomes its own piece, so every word concatenation-
    * round-trips (no [UNK]). Same `(id, toks)` shape and [[WordRegex]]
    * pre-tokenizer gate as [[encode]]; one codegen'd expression per
    * word — encoding 100 TB stays a map-only job. */
  def wordpieceEncode(docs: DataFrame, model: BpeModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val vocab = model.vocab.toArray
    docs
      .select(col(idCol),
        filter(CorpusOps.tokens(col(textCol)),
          w => w.rlike(WordRegex)).as("_graft_ws"))
      .select(col(idCol),
        flatten(transform(col("_graft_ws"),
          w => org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.WordPieceEncode(
              org.apache.spark.sql.graftbridge.ColumnBridge
                .expression(w), vocab)))).as("toks"))
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, BpeModel]()

  /** Train once per cache key (a data-dir-qualified tag), then reuse —
    * lets the encode query and any oracle rendering share one trained
    * model, like [[Ann.trainIvfCached]]. */
  def trainCached(key: String, docs: => DataFrame, numMerges: Int,
      textCol: String = "text"): BpeModel =
    cache.computeIfAbsent(key, _ => train(docs, numMerges, textCol))

  /** Drop a memoized fit so the next [[trainCached]] call trains for
    * real — bench hook for honest train-query timings. */
  def evictCached(key: String): Unit = { cache.remove(key); () }

  /** The symbol array a trained model produces for one word column:
    * char rep -> every merge as a chained codegen'd `replace` in rank
    * order -> split back to symbols. Pure expression — zero shuffles,
    * zero UDFs — so encoding a 100 TB corpus is a map-only job. */
  def encodeWord(w: Column, model: BpeModel): Column = {
    val folded = model.merges.foldLeft(charRep(w)) { case (c, (l, r)) =>
      val (pat, sub) = mergePattern(l, r)
      replace(c, lit(pat), lit(sub))
    }
    split(trim(folded), "  ")
  }

  /** Encode every document with a trained model:
    * `(id, toks)` where `toks` is the in-order BPE token array over
    * the document's trainable words (the same [[WordRegex]] gate the
    * trainer applies — the pre-tokenizer contract). */
  def encode(docs: DataFrame, model: BpeModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol),
        filter(CorpusOps.tokens(col(textCol)),
          w => w.rlike(WordRegex)).as("_graft_ws"))
      .select(col(idCol),
        flatten(transform(col("_graft_ws"),
          w => encodeWord(w, model))).as("toks"))

  /** Fertility/compression report over [[encode]]: per doc, eligible
    * words, their char volume and the emitted token count, plus
    * `chars/token` and `tokens/word` at 1e3 scale (floored — the two
    * ratios a tokenizer deployment tracks per corpus slice; fertility
    * creeping up = the vocab stopped covering the slice). Map-only on
    * top of the encode; docs with no eligible words drop.
    *
    * @return `(id, n_words, n_chars, n_tokens, chars_per_token_e3,
    *         tokens_per_word_e3)` ordered
    */
  def fertility(docs: DataFrame, model: BpeModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def intDiv(a: Column, b: Column): Column =
      ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions
        .IntegralDivide(ColumnBridge.expression(a),
          ColumnBridge.expression(b)))
    // ONE map-only pass: words, chars and the encoded token count all
    // derive from the same filtered word array — previously this was
    // a self-join of two full corpus scans, each re-running the
    // tokenizer, plus an idCol shuffle. Two guards keep it one pass:
    //  - the word array lands in its OWN projection (non-cheap alias
    //    referenced three times, so CollapseProject keeps the barrier
    //    and the tokenize runs once per row);
    //  - the tiny (id, words, chars, tokens) counts table checkpoints
    //    BEFORE the >= 1 filter — otherwise predicate pushdown
    //    substitutes the aliases and re-inlines the whole
    //    tokenize+encode pipeline into a scan-level Filter, re-paying
    //    it per row (measured +1.7 s at sf0.1, the wordNgrams trap).
    val ws = col("_graft_ws")
    docs
      .select(col(idCol),
        filter(CorpusOps.tokens(col(textCol)),
          w => w.rlike(WordRegex)).as("_graft_ws"))
      .select(col(idCol), size(ws).cast("long").as("n_words"),
        aggregate(transform(ws, w => length(w).cast("long")),
          lit(0L), (a, b) => a + b).as("n_chars"),
        size(flatten(transform(ws, w => encodeWord(w, model))))
          .cast("long").as("n_tokens"))
      .transform(graft.Materialize.barrier)
      .filter(col("n_words") >= 1 && col("n_tokens") >= 1)
      .select(col(idCol), col("n_words"), col("n_chars"),
        col("n_tokens"),
        intDiv(col("n_chars") * 1000, col("n_tokens"))
          .as("chars_per_token_e3"),
        intDiv(col("n_tokens") * 1000, col("n_words"))
          .as("tokens_per_word_e3"))
      .orderBy(col(idCol))
  }
}
