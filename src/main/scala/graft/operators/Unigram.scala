package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained unigram-LM tokenizer: the kept pieces with their final
  * Viterbi counts and integer micro-nat scores, ranked by
  * `(cnt DESC, piece ASC)`. Single characters of the training words
  * are always kept (SentencePiece's coverage guarantee), so every
  * eligible word segments without an [UNK]. */
final case class UnigramModel(pieces: Seq[(String, Long, Long)]) {
  def scoreOf: Map[String, Long] =
    pieces.map(p => p._1 -> p._3).toMap
}

/** Unigram-LM subword tokenizer (Kudo 2018, the SentencePiece
  * algorithm family) — the third deployed segmenter beside BPE merge
  * replay and WordPiece longest-match ([[Bpe]]): pieces carry
  * PROBABILITIES and a word's segmentation is the Viterbi-best piece
  * sequence, trained by EM over the corpus.
  *
  * Engine-reproducible design decisions (everything the DuckDB oracle
  * re-derives independently):
  *
  *  - HARD EM (Viterbi-EM): the E-step segments each distinct word
  *    with the current scores, the M-step re-counts pieces over those
  *    segmentations (weighted by word frequency). The soft-EM
  *    forward-backward variant trades determinism for a small
  *    likelihood gain; the hard variant is the k-means-style shape
  *    whose every intermediate is integer-exact.
  *  - INTEGER micro-nat scores: a piece's log-probability is
  *    `round(ln((c+1)/(T+V)) * 1e6)` held as a BIGINT (Laplace
  *    smoothing over the seed vocabulary, so every candidate stays
  *    scoreable). Viterbi sums integers — no float comparison can
  *    drift between engines mid-DP.
  *  - DETERMINISTIC tie rule: DP candidates compare by
  *    `(score DESC, pieces ASC, last-piece-length DESC)` — by
  *    induction each DP cell is unique, so segmentations are too.
  *  - Seed vocabulary: every substring of the eligible words up to
  *    [[MaxPieceLen]] chars, weighted by word frequency (the
  *    suffix-automaton seeding of the paper, exact at these piece
  *    lengths). Words obey [[Bpe.WordRegex]] — the same pre-tokenizer
  *    contract as BPE/WordPiece.
  *
  * 100 TB shape: ONE corpus-wide shuffle builds the `(word, cnt)`
  * table ([[Bpe.wordCounts]]); seeding and each EM iteration are
  * piece-keyed hash aggregates over the DISTINCT-WORD table (orders
  * of magnitude smaller than the corpus), with the per-word Viterbi
  * DP a pure higher-order-function expression (no UDF, no driver
  * loop). Encoding broadcasts the kept-piece score map as a literal
  * and is map-only.
  */
object Unigram {

  /** Longest seed piece. 4 covers the paper's useful range at the
    * corpus's 8-char words; the DP lookback is this constant. */
  val MaxPieceLen = 4

  /** Micro-nats: ln(p) quantized to 1e-6 — integer Viterbi sums. */
  val ScoreScale = 1000000L

  /** Stride of the (position, length) map key `i * KeyStride + l`.
    * `l` ranges over [1, MaxPieceLen], so the key is collision-free
    * iff MaxPieceLen <= KeyStride — derived, so raising MaxPieceLen
    * can never silently alias two cells. */
  val KeyStride: Int = math.max(8, MaxPieceLen + 1)

  // ───────────────────────── training ─────────────────────────

  /** All (position, length ≤ MaxPieceLen) substrings of the eligible
    * words: `(w, cnt, i, l, piece)`, 1-based `i`. */
  private[graft] def positionPieces(words: DataFrame): DataFrame =
    words
      .select(col("w"), col("cnt"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("cnt"), col("i"),
        explode(sequence(lit(1), lit(MaxPieceLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .select(col("w"), col("cnt"), col("i"), col("l"),
        col("w").substr(col("i"), col("l")).as("piece"))

  /** Laplace-smoothed integer scores over the SEED vocabulary from a
    * `(piece, c)` count table: `round(ln((c+1)/(T+V))*1e6)`. The seed
    * frame pins V and keeps zero-count pieces scoreable. */
  private def smoothedScores(seed: DataFrame, counts: DataFrame)
      : DataFrame = {
    val tot = counts.agg(
      coalesce(sum(col("c")), lit(0L)).as("t"))
    val v = seed.count()
    seed.select(col("piece"))
      .join(counts, Seq("piece"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("piece"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("t") + lit(v.toDouble))) * ScoreScale)
          .cast("long").as("s"))
  }

  /** The Viterbi DP over one word as a pure expression: `sm` maps
    * `i * KeyStride + l` (1-based position, piece length) to the piece's
    * integer score; returns the best segmentation's piece array.
    * DP cells are `(score, negPieces, lastLen)` structs — `array_max`
    * over candidate structs IS the tie rule (score DESC, pieces ASC,
    * longest last piece). A missing map entry (piece not in the
    * candidate vocabulary) contributes no candidate; single
    * characters are always present, so cell `j` is always
    * reachable. */
  private[graft] def viterbiPieces(w: Column, sm: Column): Column = {
    val n = length(w)
    // dp: acc(j+1) = best cell for prefix of length j
    val dp = aggregate(
      sequence(lit(1), n),
      array(struct(lit(0L).as("score"), lit(0).as("negNp"),
        lit(0).as("bl"))),
      (acc, j) => {
        val cands = array((1 to MaxPieceLen).map { l =>
          val prev = element_at(acc, j - l + 1)
          val sc = element_at(sm, (j - lit(l) + 1) * KeyStride + lit(l))
          when(j >= l && sc.isNotNull,
            struct((prev.getField("score") + sc).as("score"),
              (prev.getField("negNp") - 1).as("negNp"),
              lit(l).as("bl")))
        }: _*)
        concat(acc,
          array(array_max(filter(cands, c => c.isNotNull))))
      })
    // backtrace: n steps always suffice (each active step advances
    // by at least one character)
    aggregate(
      sequence(lit(1), n),
      struct(n.as("j"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val j = st.getField("j")
        val bl = element_at(dp, j + 1).getField("bl")
        when(j > 0,
          struct((j - bl).as("j"),
            concat(array(w.substr(j - bl + 1, bl)),
              st.getField("ps")).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))
  }

  /** E-step, distributed: Viterbi-segment every distinct word under
    * `scores` — `(w, cnt, pieces)`. The scores join is piece-keyed;
    * the DP itself is a map-side expression. */
  private[graft] def viterbiSegments(words: DataFrame,
      scores: DataFrame): DataFrame = {
    val sm = positionPieces(words)
      .join(scores, Seq("piece"))
      .groupBy(col("w"))
      .agg(map_from_entries(collect_list(
        struct((col("i") * KeyStride + col("l")).as("k"), col("s").as("v"))))
        .as("sm"))
    words.join(sm, Seq("w"))
      .select(col("w"), col("cnt"),
        viterbiPieces(col("w"), col("sm")).as("pieces"))
  }

  /** M-step: piece counts over the E-step segmentations, weighted by
    * word frequency. */
  private def viterbiCounts(segments: DataFrame): DataFrame =
    segments
      .select(col("cnt"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("c"))

  /** Train a unigram-LM tokenizer: seed from substring frequencies,
    * run `iters` hard-EM rounds, keep the `vocabSize` highest-count
    * pieces (ties by piece) PLUS every single character. The returned
    * scores are re-smoothed over the KEPT set — exactly what
    * [[encode]] segments with. */
  def train(docs: DataFrame, vocabSize: Int, iters: Int = 2,
      textCol: String = "text"): UnigramModel = {
    require(vocabSize >= 1 && iters >= 1,
      s"vocabSize/iters must be >= 1, got $vocabSize/$iters")
    val spark = docs.sparkSession
    val words = Bpe.wordCounts(docs, textCol).persist()
    try {
      val seedCounts = positionPieces(words)
        .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
        .persist()
      val seed = seedCounts.select(col("piece"))
      var counts = seedCounts
      var scores = smoothedScores(seed, counts)
      (1 to iters).foreach { _ =>
        counts = viterbiCounts(viterbiSegments(words, scores))
        scores = smoothedScores(seed, counts)
      }
      // keep: top-vocabSize by (cnt DESC, piece ASC) ∪ single chars
      val ranked = counts
        .orderBy(col("c").desc, col("piece"))
        .limit(vocabSize)
      val kept = ranked.select(col("piece"), col("c"))
        .union(
          words.select(explode(filter(split(col("w"), ""),
            c => c =!= "")).as("piece"))
            .distinct()
            .join(counts, Seq("piece"), "left_outer")
            .select(col("piece"), coalesce(col("c"), lit(0L)).as("c")))
        .groupBy(col("piece")).agg(max(col("c")).as("c"))
      val keptRows = kept.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val t = keptRows.map(_._2).sum
      val v = keptRows.length
      // HALF_UP like SQL round() — Math.round floors negative halves
      // the other way, and every score here is negative
      def q(x: Double): Long = BigDecimal(x)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      val model = keptRows.toSeq.sortBy { case (p, c) => (-c, p) }
        .map { case (p, c) =>
          (p, c, q(math.log((c + 1.0) / (t + v.toDouble)) * ScoreScale))
        }
      seedCounts.unpersist()
      UnigramModel(model)
    } finally {
      words.unpersist()
      ()
    }
  }

  // ───────────────────────── soft EM ─────────────────────────
  //
  // Forward-backward expectations instead of Viterbi argmax — the
  // true SentencePiece E-step — under a QUANTIZED-EXPECTATION integer
  // contract so the DuckDB oracle can re-derive the whole training:
  //  - piece probabilities become integer WEIGHTS
  //    q = max(1, halfup(D·(c+s)/(T+V·s))) with D = 2^8 and s the
  //    count scale (1 for raw seed counts, 1e6 for micro-expectations)
  //    — half-up computed in pure integer arithmetic, so both engines
  //    agree bit-for-bit;
  //  - the forward/backward DPs sum PRODUCTS of weights. At any
  //    position at most MaxPieceLen pieces match, and their weights
  //    sum ≤ D+4 (they are distinct seed members, so their smoothed
  //    probabilities sum ≤ 1; +1 rounding slack each), giving
  //    A(j) ≤ (D+4)^j — held as decimal(38,0) here and HUGEINT in the
  //    oracle (both exact integer domains);
  //  - a piece occurrence's expectation quantizes to micro-units
  //    ec = floor(A(i-1)·q·B(n-i-l+1)·1e6 / A(n)) via EXACT integral
  //    division (never a rounded decimal quotient); the numerator is
  //    bounded by (D+4)^n·1e6, under 10^38 for words up to
  //    [[SoftMaxWordLen]] chars (enforced).
  // The M-step sums cnt·ec into micro-expected counts; the kept vocab
  // ranks by them and the final scores re-smooth at the micro scale:
  // round(ln((c+1e6)/(T+V·1e6))·1e6).

  /** Weight quantization denominator (2^8): (D+4)^13·1e6 < 10^38
    * keeps every forward/backward intermediate inside decimal(38,0)
    * and DuckDB HUGEINT for words up to [[SoftMaxWordLen]] chars. */
  val SoftWeightScale = 256L

  /** Longest training word the integer bound admits at D = 2^8. */
  val SoftMaxWordLen = 13

  /** Micro-units per expected occurrence. */
  val SoftExpScale = 1000000L

  private def dec38(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** Exact integral division (IntegralDivide): decimal quotients
    * truncate exactly — a scale-6 decimal division HALF_UP-rounds the
    * quotient, which can cross a floor boundary the oracle's `//`
    * never crosses. */
  private def intDiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(new org.apache.spark.sql.catalyst.expressions
      .IntegralDivide(ColumnBridge.expression(a),
        ColumnBridge.expression(b)))
  }

  /** Quantized integer weights over the seed frame from a `(piece, c)`
    * count table at count scale `s`: `max(1, halfup(D·(c+s)/(T+V·s)))`
    * — the Laplace-smoothed probability times D, half-up in pure
    * integer arithmetic. */
  private[graft] def softWeights(seed: DataFrame, counts: DataFrame,
      scale: Long): DataFrame = {
    val tot = counts.agg(coalesce(sum(col("c")), lit(0L)).as("t"))
    val v = seed.count()
    seed.select(col("piece"))
      .join(counts, Seq("piece"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("piece"),
        greatest(lit(1L), intDiv(
          lit(2L * SoftWeightScale) *
            (coalesce(col("c"), lit(0L)) + lit(scale)) +
            (col("t") + lit(v * scale)),
          lit(2L) * (col("t") + lit(v * scale)))).as("q"))
  }

  /** Forward values as an array: element i+1 = A(i) = Σ over
    * segmentations of w[1..i] of the product of piece weights.
    * Exact integers in decimal(38,0). */
  private[graft] def forwardArr(w: Column, qm: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(dec38(lit(1))),
      (acc, j) => concat(acc, array(
        (1 to MaxPieceLen).map { l =>
          val q = element_at(qm, (j - lit(l) + 1) * KeyStride + lit(l))
          when(j >= l && q.isNotNull,
            element_at(acc, j - l + 1) * dec38(q))
            .otherwise(dec38(lit(0)))
        }.reduce(_ + _))))

  /** Backward values by SUFFIX length: element m+1 = B(m) = Σ over
    * segmentations of the last m chars. The piece opening a suffix of
    * length m starts at position n-m+1. */
  private[graft] def backwardArr(w: Column, qm: Column): Column = {
    val n = length(w)
    aggregate(
      sequence(lit(1), n),
      array(dec38(lit(1))),
      (acc, m) => concat(acc, array(
        (1 to MaxPieceLen).map { l =>
          val q = element_at(qm, (n - m + lit(1)) * KeyStride + lit(l))
          when(m >= l && q.isNotNull,
            dec38(q) * element_at(acc, m - l + 1))
            .otherwise(dec38(lit(0)))
        }.reduce(_ + _))))
  }

  /** Soft E+M step: micro-expected piece counts
    * `(piece, c)` with `c = Σ_w cnt_w · ec(w, i, l)`. Same distributed
    * shape as the Viterbi E-step — piece-keyed weight join, per-word
    * map-side DP expressions, one piece-keyed aggregate. */
  private[graft] def softExpectedCounts(words: DataFrame,
      weights: DataFrame): DataFrame = {
    val pp = positionPieces(words).join(weights, Seq("piece"))
    val qm = pp.groupBy(col("w"))
      .agg(map_from_entries(collect_list(
        struct((col("i") * KeyStride + col("l")).as("k"), col("q").as("v"))))
        .as("qm"))
    val ab = words.select(col("w")).join(qm, Seq("w"))
      .select(col("w"), forwardArr(col("w"), col("qm")).as("fa"),
        backwardArr(col("w"), col("qm")).as("fb"))
    pp.join(ab, Seq("w"))
      .select(col("piece"), col("cnt"), intDiv(
        element_at(col("fa"), col("i")) * dec38(col("q")) *
          element_at(col("fb"),
            length(col("w")) - col("i") - col("l") + lit(2)) *
          dec38(lit(SoftExpScale)),
        element_at(col("fa"), length(col("w")) + 1)).as("ec"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt") * col("ec")).as("c"))
  }

  /** Soft-EM training: seed like [[train]], run `iters`
    * forward-backward rounds, keep top-`vocabSize` pieces by
    * micro-expected count (ties by piece) ∪ every single character,
    * re-smooth at the micro scale. The returned `cnt` fields are
    * MICRO-expectations (1e6 = one expected occurrence). */
  def trainSoft(docs: DataFrame, vocabSize: Int, iters: Int = 1,
      textCol: String = "text"): UnigramModel = {
    require(vocabSize >= 1 && iters >= 1,
      s"vocabSize/iters must be >= 1, got $vocabSize/$iters")
    val words = Bpe.wordCounts(docs, textCol).persist()
    try {
      val maxLen = words.agg(coalesce(max(length(col("w"))), lit(0)))
        .head().getInt(0)
      require(maxLen <= SoftMaxWordLen,
        s"soft-EM integer bound admits words up to $SoftMaxWordLen " +
          s"chars at D=$SoftWeightScale; corpus has a $maxLen-char " +
          "word")
      val seedCounts = positionPieces(words)
        .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
        .persist()
      val seed = seedCounts.select(col("piece"))
      var counts = seedCounts
      var scale = 1L
      (1 to iters).foreach { _ =>
        counts = softExpectedCounts(words,
          softWeights(seed, counts, scale))
        scale = SoftExpScale
      }
      val ranked = counts
        .orderBy(col("c").desc, col("piece"))
        .limit(vocabSize)
      val kept = ranked.select(col("piece"), col("c"))
        .union(
          words.select(explode(filter(split(col("w"), ""),
            c => c =!= "")).as("piece"))
            .distinct()
            .join(counts, Seq("piece"), "left_outer")
            .select(col("piece"), coalesce(col("c"), lit(0L)).as("c")))
        .groupBy(col("piece")).agg(max(col("c")).as("c"))
      val keptRows = kept.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val t = keptRows.map(_._2).sum
      val v = keptRows.length
      def q(x: Double): Long = BigDecimal(x)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
      val model = keptRows.toSeq.sortBy { case (p, c) => (-c, p) }
        .map { case (p, c) =>
          (p, c, q(math.log((c + SoftExpScale.toDouble) /
            (t + v.toDouble * SoftExpScale)) * ScoreScale))
        }
      seedCounts.unpersist()
      UnigramModel(model)
    } finally {
      words.unpersist()
      ()
    }
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, UnigramModel]()

  /** Train once per cache key, reuse across queries/oracles (the
    * [[Bpe.trainCached]] convention). */
  def trainCached(key: String, docs: => DataFrame, vocabSize: Int,
      iters: Int = 2, textCol: String = "text"): UnigramModel =
    cache.computeIfAbsent(key, _ => train(docs, vocabSize, iters,
      textCol))

  /** [[trainSoft]] under the same memoization convention. */
  def trainSoftCached(key: String, docs: => DataFrame, vocabSize: Int,
      iters: Int = 1, textCol: String = "text"): UnigramModel =
    cache.computeIfAbsent(key, _ => trainSoft(docs, vocabSize, iters,
      textCol))

  /** Drop a memoized fit so the next `trainCached`/`trainSoftCached`
    * call performs a real training run — the bench uses this to time
    * the train-family queries honestly (a `q_*_train` timing that is a
    * map lookup is not a measurement). */
  def evictCached(key: String): Unit = { cache.remove(key); () }

  // ───────────────────────── encoding ─────────────────────────

  /** Viterbi-encode every document under a trained model:
    * `(id, toks)`. The DP runs once per DISTINCT word — not per
    * occurrence — and occurrences rejoin their segmentations
    * (broadcast: the distinct-word segmentation table is tiny next to
    * the corpus), exactly the corpus-vs-vocabulary asymmetry the
    * trainer exploits; at 100 TB the corpus-sized work is one explode
    * + one broadcast join + one per-doc reassembly. The Viterbi DP is
    * an interpreted higher-order expression, so running it per
    * occurrence would multiply its cost by the corpus/vocabulary
    * ratio (measured 10²-10³ here). Words outside [[Bpe.WordRegex]]
    * are dropped by the shared pre-tokenizer contract. */
  /** Suggested piece-count ceiling for callers OPTING INTO the
    * literal-map (pure map-only) encode tier. The tier is NEVER the
    * default: the per-occurrence DP is interpreted higher-order-
    * function work whose cost the distinct-word join path divides by
    * the corpus/vocabulary occurrence ratio — a CORPUS property the
    * model size cannot see. (The round-16 scale probe caught exactly
    * this: the inflated corpus trained a model under the old 32-piece
    * default gate and a 5 s encode became a 20+ CPU-minute
    * per-occurrence grind, re-evaluated again by the output sort's
    * range-partitioner sample.) Opt in only where the shape provably
    * wants it — a streaming encode (map-only expressions compose into
    * `readStream` with no state), or a corpus of near-unique words
    * where distinct ≈ occurrences. */
  val MapOnlyMaxPieces = 32

  def encode(docs: DataFrame, model: UnigramModel,
      idCol: String = "doc_id", textCol: String = "text",
      mapOnlyMaxPieces: Int = 0): DataFrame = {
    require(model.pieces.nonEmpty, "empty unigram model")
    val entries = model.pieces.flatMap { case (p, _, s) =>
      Seq(lit(p), lit(s))
    }
    val litMap = map(entries: _*)
    // per word: the (i*KeyStride+l) -> score map materializes from
    // literal piece map, then the shared DP runs
    def wordMap(w: Column): Column =
      map_from_entries(filter(
        flatten(transform(sequence(lit(1), length(w)), i =>
          transform(sequence(lit(1), lit(MaxPieceLen)), l =>
            struct((i * KeyStride + l).as("k"),
              when(i + l - 1 <= length(w),
                element_at(litMap, w.substr(i, l))).as("v"))))),
        e => e.getField("v").isNotNull))
    val docws = docs
      .select(col(idCol),
        filter(CorpusOps.tokens(col(textCol)),
          w => w.rlike(Bpe.WordRegex)).as("_graft_ws"))
    if (model.pieces.size <= mapOnlyMaxPieces) {
      // literal-map tier: the DP runs inline per occurrence — zero
      // joins, zero shuffles, streaming-safe. The per-word expression
      // is the identical viterbiPieces/wordMap pair the join path
      // evaluates per DISTINCT word, so the tiers agree bit-for-bit
      // (a null segmentation — uncoverable word — is dropped here as
      // the join path's collect_list(when(...)) drops it there).
      return docws.select(col(idCol),
        coalesce(
          flatten(filter(
            transform(col("_graft_ws"), w =>
              viterbiPieces(w, wordMap(w))),
            ps => ps.isNotNull)),
          array().cast("array<string>")).as("toks"))
    }
    // r20: the occurrence stream has two consumers (distinct-word
    // segmentation + join-back), each of which would re-run the whole
    // corpus tokenize. Round 19 had to leave the double tokenize in
    // place because a checkpoint violated the no-leaked-storage
    // contract; the Materialize release lifecycle unblocks the
    // barrier — one tokenize, storage reclaimed after the action.
    // (The final empty-doc join-back projects only idCol, so column
    // pruning keeps that third consumer off the tokenize path.)
    val occ = docws
      .select(col(idCol), posexplode_outer(col("_graft_ws"))
        .as(Seq("_graft_widx", "_graft_w")))
      .transform(graft.Materialize.barrier)
    val seg = occ.select(col("_graft_w")).filter(
        col("_graft_w").isNotNull).distinct()
      .select(col("_graft_w"),
        viterbiPieces(col("_graft_w"), wordMap(col("_graft_w")))
          .as("_graft_ps"))
    val enc = occ
      .join(broadcast(seg), Seq("_graft_w"), "left_outer")
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(when(col("_graft_ps").isNotNull,
          struct(col("_graft_widx").as("i"),
            col("_graft_ps").as("ps"))))),
        e => e.getField("ps"))).as("toks"))
    // empty documents still emit a row with an empty token array
    docws.select(col(idCol))
      .join(enc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("toks"),
          array().cast("array<string>")).as("toks"))
  }
}
