package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions backing graft's LLM-pipeline operators
  * (SURVEY.md §2k). All are deterministic, null-intolerant, and evaluate
  * with tight primitive loops (no boxing beyond the Catalyst boundary) so
  * the hot path stays cheap even though whole-stage codegen falls back to
  * the interpreted path around them.
  */

/** Cosine similarity of two numeric arrays in double precision,
  * accumulated sequentially so results are reproducible across engines.
  * Used by the brute-force ANN baseline and the embedding near-dup pass.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(et, _) => et == DoubleType || et == FloatType
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double>, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  }
  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val leftFloat = elemIsFloat(left)
  private lazy val rightFloat = elemIsFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getL = if (leftFloat) "getFloat" else "getDouble"
    val getR = if (rightFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (dot, nx, ny, i, n) = (ctx.freshName("dot"), ctx.freshName("nx"),
        ctx.freshName("ny"), ctx.freshName("i"), ctx.freshName("n"))
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double xv = (double) $a.$getL($i);
          double yv = (double) $b.$getR($i);
          $dot += xv * yv; $nx += xv * xv; $ny += yv * yv;
        }
        ${ev.value} = ($nx == 0.0 || $ny == 0.0)
          ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** Shared hashing helpers (xorshift-mixed 64-bit, deterministic). */
object TextHashing {
  /** 64-bit hash of a string region via FNV-1a over UTF-16 chars. */
  def hash64(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  def hash64(s: String): Long = hash64(s, 0, s.length)
  /** Static entry point for [[TextHash64]]'s generated code. */
  def hash64u(input: UTF8String): Long = hash64(input.toString)
  /** Cheap splittable mix for deriving the k MinHash permutations. */
  def mix(h0: Long, seed: Long): Long = {
    var h = h0 ^ (seed * 0x9e3779b97f4a7c15L)
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  // (wordpiece segmentation lives on WordPieceModel — the lookup set
  // is per-model state, not a global cache: a JVM-lifetime map keyed
  // by the per-task deserialized vocab array would grow one entry per
  // task forever)

  /** Static entry point for [[CmsBuckets]]'s generated code: row i's
    * bucket = `mix(fnv64(term), i+1) & (w-1)` (w a power of two). */
  def cmsBuckets(input: UTF8String, d: Int, w: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val h0 = hash64u(input)
    val out = new Array[Int](d)
    var i = 0
    while (i < d) {
      out(i) = (mix(h0, i + 1L) & (w - 1L)).toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // ---- static entry points for both interpreted eval and generated
  // code (Scala object methods get static forwarders, so whole-stage
  // codegen calls `graft.functions.TextHashing.xxx(...)` directly and
  // the expressions need no CodegenFallback) ----

  def minhashSig(input: UTF8String, k: Int, shingle: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = tokens(input.toString)
    val mins = Array.fill(k)(Long.MaxValue)
    if (toks.length >= shingle) {
      var i = 0
      while (i + shingle <= toks.length) {
        val sh = toks.slice(i, i + shingle).mkString(" ")
        val h0 = hash64(sh)
        var j = 0
        while (j < k) {
          val hj = mix(h0, j + 1L)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }

  def simhash64(input: UTF8String): Long = {
    val toks = tokens(input.toString)
    val votes = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = mix(hash64(toks(t)), 7L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val FpBase = 1000003L

  def rollingFingerprint(input: UTF8String, w: Int): Long = {
    val s = input.toString
    if (s.length < w) return hash64(s)
    var basePowW = 1L
    var p = 0
    while (p < w) { basePowW *= FpBase; p += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = h * FpBase + s.charAt(i); i += 1 }
    var min = h
    while (i < s.length) {
      h = h * FpBase + s.charAt(i) - basePowW * s.charAt(i - w)
      // mix before comparing so min isn't dominated by short prefixes
      if (mix(h, 13L) < mix(min, 13L)) min = h
      i += 1
    }
    mix(min, 13L)
  }

  private def grams(s: String, n: Int): java.util.HashSet[Long] = {
    val set = new java.util.HashSet[Long]()
    if (s.length < n) { if (s.nonEmpty) set.add(hash64(s)); return set }
    var i = 0
    while (i + n <= s.length) { set.add(hash64(s, i, i + n)); i += 1 }
    set
  }

  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = grams(a.toString, n)
    val sb = grams(b.toString, n)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size() + sb.size() - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  def langGuess(input: UTF8String): UTF8String =
    UTF8String.fromString(LangGuess.guess(input.toString))

  def hyperplaneBucket(v: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Array[Double]], childFloat: Boolean): Int = {
    val n = v.numElements()
    var bucket = 0
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      var dot = 0.0
      var i = 0
      val m = math.min(n, p.length)
      while (i < m) {
        val x = if (childFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * p(i)
        i += 1
      }
      if (dot >= 0) bucket |= (1 << j)
      j += 1
    }
    bucket
  }

  /** Indices of the `nprobe` centroids nearest (squared L2) to `v`,
    * nearest first. One tight loop per row; selection is O(nlist·nprobe)
    * insertion into a bounded buffer — no per-row allocation beyond the
    * output. */
  def nearestCells(v: org.apache.spark.sql.catalyst.util.ArrayData,
      centers: Array[Array[Double]], nprobe: Int, childFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numElements()
    val m = math.min(nprobe, centers.length)
    val bestIdx = new Array[Int](m)
    val bestDist = new Array[Double](m)
    java.util.Arrays.fill(bestDist, Double.MaxValue)
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var d = 0.0
      var i = 0
      val lim = math.min(n, ctr.length)
      while (i < lim) {
        val x = if (childFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val diff = x - ctr(i)
        d += diff * diff
        i += 1
      }
      // insertion into the sorted top-m buffer
      if (d < bestDist(m - 1)) {
        var j = m - 1
        while (j > 0 && bestDist(j - 1) > d) {
          bestDist(j) = bestDist(j - 1); bestIdx(j) = bestIdx(j - 1); j -= 1
        }
        bestDist(j) = d; bestIdx(j) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bestIdx)
  }

  /** Product-quantization code of `v`: per subspace s (a contiguous
    * `dsub`-wide slice), the index of its nearest (squared L2)
    * codebook centroid. One tight loop, no per-row allocation beyond
    * the m-int output — the compressed form a 100 TB ANN scan reads
    * instead of the raw vector. */
  def pqEncode(v: org.apache.spark.sql.catalyst.util.ArrayData,
      codebooks: Array[Array[Array[Double]]], childFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = codebooks.length
    val n = v.numElements()
    val out = new Array[Int](m)
    var s = 0
    var off = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = if (cb.length > 0) cb(0).length else 0
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.length) {
        val ctr = cb(j)
        var d = 0.0
        var i = 0
        val lim = math.min(dsub, math.max(0, n - off))
        while (i < lim) {
          val x =
            if (childFloat) v.getFloat(off + i).toDouble
            else v.getDouble(off + i)
          val diff = x - ctr(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best
      off += dsub
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Asymmetric-distance approximate cosine between a RAW query vector
    * and a PQ-ENCODED corpus vector: cosine(q, decode(codes)), every
    * term folded per subspace without materializing the decode. */
  def pqAdcCos(q: org.apache.spark.sql.catalyst.util.ArrayData,
      codes: org.apache.spark.sql.catalyst.util.ArrayData,
      codebooks: Array[Array[Array[Double]]], qFloat: Boolean): Double = {
    var dot = 0.0
    var nq = 0.0
    var nc = 0.0
    val n = q.numElements()
    val m = math.min(codebooks.length, codes.numElements())
    var s = 0
    var off = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = if (cb.length > 0) cb(0).length else 0
      val code = codes.getInt(s)
      val ctr = cb(math.min(math.max(code, 0), cb.length - 1))
      var i = 0
      val lim = math.min(dsub, math.max(0, n - off))
      while (i < lim) {
        val x =
          if (qFloat) q.getFloat(off + i).toDouble
          else q.getDouble(off + i)
        val c0 = ctr(i)
        dot += x * c0
        nq += x * x
        nc += c0 * c0
        i += 1
      }
      off += dsub
      s += 1
    }
    if (nq == 0.0 || nc == 0.0) 0.0 else dot / math.sqrt(nq * nc)
  }
}

/** MinHash signature: minimum of `mix(hash(shingle), seed_j)` over word
  * `shingle`-gram shingles, for `k` seeds. One streaming pass over the
  * tokens, O(k) state — no unbounded buffers, so it scales to arbitrarily
  * long documents and runs map-side only (LSH banding + the bucket join
  * downstream are where the shuffle happens; see Dedup.minHashLsh).
  */
case class MinHashSignature(child: Expression, k: Int, shingle: Int)
    extends UnaryExpression {
  require(k > 0 && shingle > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.minhashSig(input.asInstanceOf[UTF8String], k, shingle)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashing.minhashSig($c, $k, $shingle)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "minhash"
}

/** 64-bit SimHash over word unigrams: sign of per-bit vote counts of the
  * tokens' 64-bit hashes. Near-duplicate docs differ in few bits; pair
  * candidates are found by banding the 64 bits (see Dedup.simHashDups).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashing.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "simhash"
}

/** Plain 64-bit FNV-1a string hash ([[TextHashing.hash64]]) as an
  * expression — the feature-hashing primitive (hashing trick) for
  * [[graft.operators.QualityModel]] and anything else needing a
  * deterministic, oracle-renderable string hash per value.
  */
case class TextHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.hash64u(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashing.hash64u($c)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "text_hash64"
}

/** WordPiece-style greedy longest-match segmentation of one word over
  * a trained piece vocabulary (Wu et al. 2016, "Google's Neural
  * Machine Translation System" — the BERT tokenizer's inference
  * rule): at each position, the LONGEST vocab piece (length >= 2)
  * starting there is taken; an unmatched leading character becomes
  * its own single-char piece (the no-[UNK] variant — every word
  * round-trips by concatenation). Deterministic, map-only. */
/** Serializable wordpiece segmenter: one lookup HashSet + max piece
  * length per MODEL instance, built lazily on first use after
  * deserialization and garbage-collected with the task's expression
  * tree — no global vocab cache (a JVM-lifetime map keyed by the
  * per-task deserialized array would leak one vocab-sized entry per
  * task for the life of the executor). */
class WordPieceModel(val vocab: Array[String]) extends Serializable {
  @transient private lazy val lookup: (java.util.HashSet[String], Int) = {
    val s = new java.util.HashSet[String]()
    var ml = 1
    vocab.foreach { p => s.add(p); ml = math.max(ml, p.length) }
    (s, ml)
  }
  /** Greedy longest-match segmentation of one word. */
  def pieces(w: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val (set, maxLen) = lookup
    val str = w.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var p = 0
    while (p < str.length) {
      var l = math.min(maxLen, str.length - p)
      var take = 1
      while (l >= 2 && take == 1) {
        if (set.contains(str.substring(p, p + l))) take = l
        l -= 1
      }
      out += UTF8String.fromString(str.substring(p, p + take))
      p += take
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }
}

case class WordPieceEncode(child: Expression, vocab: Array[String])
    extends UnaryExpression {
  @transient private lazy val model = new WordPieceModel(vocab)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    model.pieces(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("wpModel", new WordPieceModel(vocab),
      "graft.functions.WordPieceModel")
    defineCodeGen(ctx, ev, c => s"$ref.pieces($c)")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "wordpiece_encode"
}

/** Hilbert curve index of an array of lane values (each already
  * normalized into `[0, 2^bits)` longs) — [[SpaceCurves.hilbertIndex]]
  * as a codegen'd expression for clustering rewrites. */
case class HilbertIndex(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits >= 1, s"hilbert_index: bits must be >= 1, got $bits")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    SpaceCurves.hilbertFromArray(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.SpaceCurves.hilbertFromArray($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "hilbert_index"
}

/** The `d` Count-Min sketch bucket indices of a term: row `i`'s bucket
  * is `mix(fnv64(term), i+1) & (w-1)` — the same FNV + splitmix
  * family every other hash here uses, so a DuckDB oracle re-derives
  * the whole sketch bit-for-bit. `w` must be a power of two: the
  * mask then equals the UNSIGNED mod (2^64 ≡ 0 mod w), which is the
  * only modulus where JVM-signed and HUGEINT-unsigned arithmetic
  * agree for free. See [[graft.operators.Sketch]].
  */
case class CmsBuckets(child: Expression, d: Int, w: Int)
    extends UnaryExpression {
  require(d > 0 && w > 0 && (w & (w - 1)) == 0,
    s"cms_buckets: d must be positive and w a power of two, got d=$d w=$w")
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.cmsBuckets(input.asInstanceOf[UTF8String], d, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashing.cmsBuckets($c, $d, $w)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "cms_buckets"
}

/** Winnowing-style document fingerprint: the minimum Rabin-Karp rolling
  * hash over all character windows of size `w`. Single pass, O(1) state.
  */
case class RollingFingerprint(child: Expression, w: Int)
    extends UnaryExpression {
  require(w > 0)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.rollingFingerprint(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashing.rollingFingerprint($c, $w)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "fingerprint"
}

/** Character n-gram set Jaccard similarity of two strings (exact, for
  * verification/rerank of candidate near-dup pairs — not a first-pass
  * all-pairs op at scale).
  */
case class NgramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n > 0)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashing.ngramJaccard(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, (a, b) =>
    s"graft.functions.TextHashing.ngramJaccard($a, $b, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "ngram_jaccard"
}

/** Heuristic language ID: character-script ranges decide non-Latin
  * scripts outright; Latin text falls through to stopword voting over a
  * tiny per-language lexicon. Returns ISO-639-1 code or "und".
  */
case class LangGuess(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.langGuess(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.TextHashing.langGuess($c)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "lang_guess"
}

object LangGuess {
  // visible to graft.DuckHash, which renders the same lexicon into the
  // DuckDB oracle SQL
  private[graft] val stop: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "is", "in", "that", "it", "was", "for", "with", "are", "this"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "sich"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas", "des", "du"),
    "es" -> Set("el", "los", "las", "es", "una", "en", "que", "por", "para", "con", "del", "se"),
    "it" -> Set("il", "lo", "gli", "è", "una", "che", "per", "con", "del", "sono", "non", "di"),
    "pt" -> Set("o", "os", "as", "é", "uma", "em", "que", "por", "para", "com", "não", "um"))

  def guess(text: String): String = {
    var cjk = 0; var cyr = 0; var arab = 0; var thai = 0; var deva = 0
    var hira = 0; var hangul = 0; var latin = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i).toInt
      if (c >= 0x4E00 && c <= 0x9FFF) cjk += 1
      else if (c >= 0x3040 && c <= 0x30FF) hira += 1
      else if (c >= 0xAC00 && c <= 0xD7AF) hangul += 1
      else if (c >= 0x0400 && c <= 0x04FF) cyr += 1
      else if (c >= 0x0600 && c <= 0x06FF) arab += 1
      else if (c >= 0x0E00 && c <= 0x0E7F) thai += 1
      else if (c >= 0x0900 && c <= 0x097F) deva += 1
      else if (Character.isLetter(c)) latin += 1
      i += 1
    }
    val scripted = Seq(
      "ja" -> hira, "zh" -> cjk, "ko" -> hangul, "ru" -> cyr,
      "ar" -> arab, "th" -> thai, "hi" -> deva)
    val (bestScript, bestCount) = scripted.maxBy(_._2)
    if (bestCount > 0 && bestCount * 5 >= latin) {
      // CJK text with no kana is Chinese; kana implies Japanese.
      if (bestScript == "zh" && hira > 0) "ja" else bestScript
    } else if (latin == 0) {
      "und"
    } else {
      val toks = TextHashing.tokens(text)
      if (toks.isEmpty) return "und"
      val votes = stop.view.mapValues(sw => toks.count(sw.contains)).toMap
      val (lang, v) = votes.maxBy { case (l, n) => (n, l) }
      if (v == 0) "und" else lang
    }
  }
}

/** Sign-bucket LSH hash: bit j of the result is the sign of
  * dot(vec, hyperplanes(j)). A single native expression instead of a
  * planes x dim tree of `element_at` arithmetic — the composed version
  * generated thousands of Catalyst nodes and dominated q_ann_lsh's
  * runtime with codegen compilation.
  */
case class HyperplaneBucket(child: Expression,
    planes: Array[Array[Double]]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  private lazy val childFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.hyperplaneBucket(
      input.asInstanceOf[ArrayData], planes, childFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.hyperplaneBucket($c, $ref, $childFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_bucket"
  // the planes compare by content, as DsirScoreSum's ratios do
  private def grid = planes.asInstanceOf[Array[AnyRef]]
  override def equals(o: Any): Boolean = o match {
    case h: HyperplaneBucket =>
      child == h.child && java.util.Arrays.deepEquals(grid, h.grid)
    case _ => false
  }
  private lazy val contentHash = (child, java.util.Arrays.deepHashCode(grid)).##
  override def hashCode(): Int = contentHash
}

/** IVF probe: the `nprobe` nearest coarse-quantizer centroids for a
  * vector, nearest first. Replaces the per-row Scala UDF the IVF path
  * used before — this generates code (static-forwarder pattern) and
  * stays inside whole-stage codegen, so cell assignment (`nprobe=1`)
  * and query probing (`nprobe=n`) are both map-side, allocation-light
  * operations.
  */
case class NearestCells(child: Expression, centers: Array[Array[Double]],
    nprobe: Int) extends UnaryExpression {
  require(nprobe > 0)
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private lazy val childFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.nearestCells(
      input.asInstanceOf[ArrayData], centers, nprobe, childFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("centers", centers, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.nearestCells($c, $ref, $nprobe, $childFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells"
  // the centroids compare by content, as DsirScoreSum's ratios do
  private def grid = centers.asInstanceOf[Array[AnyRef]]
  override def equals(o: Any): Boolean = o match {
    case n: NearestCells => child == n.child && nprobe == n.nprobe &&
      java.util.Arrays.deepEquals(grid, n.grid)
    case _ => false
  }
  private lazy val contentHash = (child, nprobe, java.util.Arrays.deepHashCode(grid)).##
  override def hashCode(): Int = contentHash
}

/** PQ code array (one small int per subspace) of an embedding under
  * per-subspace codebooks — the m-int compressed representation an
  * ANN scan reads instead of the raw vector ([[TextHashing.pqEncode]];
  * codegen'd, no Scala UDF). */
case class PqEncode(child: Expression,
    codebooks: Array[Array[Array[Double]]]) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private lazy val childFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected override def nullSafeEval(input: Any): Any =
    TextHashing.pqEncode(
      input.asInstanceOf[ArrayData], codebooks, childFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashing.pqEncode($c, $ref, $childFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** Asymmetric-distance approximate cosine: raw query vector (left) vs
  * PQ code array (right) under shared codebooks
  * ([[TextHashing.pqAdcCos]]). */
case class PqAdcCosine(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Double]]]) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private lazy val qFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected override def nullSafeEval(q: Any, codes: Any): Any =
    TextHashing.pqAdcCos(q.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData], codebooks, qFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextHashing.pqAdcCos($a, $b, $ref, $qFloat)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression) = copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_adc_cosine"
}

/** Static helpers for the integer-series expressions below (object
  * methods get static forwarders, so generated code calls them
  * directly). */
object IntegerSeries {
  /** One O(n) pass of the exact fixed-point EWMA recurrence
    * {{{ s₁ = v₁·10⁶;  sₙ = (vₙ·10⁶·num + sₙ₋₁·(den−num)) / den }}}
    * over quantized-long values — bit-identical to the HOF
    * `aggregate` fold it replaces (same truncating long division as
    * `IntegralDivide`, overflow-CHECKED like ANSI mode), but without
    * the per-step accumulator copy that made the fold quadratic in
    * the per-key cap. */
  def ewmaSeries(vcs: ArrayData, alphaNum: Long,
      alphaDen: Long): ArrayData = {
    val n = vcs.numElements()
    val out = new Array[Long](n)
    var s = 0L
    var i = 0
    while (i < n) {
      val v6 = Math.multiplyExact(vcs.getLong(i), 1000000L)
      s = if (i == 0) v6
        else Math.addExact(Math.multiplyExact(v6, alphaNum),
          Math.multiplyExact(s, alphaDen - alphaNum)) / alphaDen
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Exact long prefix sums in one O(n) pass, overflow-checked —
    * replaces the quadratic HOF fold in changepoint (the per-key
    * prefix array fits longs comfortably at the 2¹⁶ cap; only the
    * downstream SCORE products need DECIMAL(38,0)). */
  def prefixSums(vcs: ArrayData): ArrayData = {
    val n = vcs.numElements()
    val out = new Array[Long](n)
    var s = 0L
    var i = 0
    while (i < n) {
      s = Math.addExact(s, vcs.getLong(i))
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Exact long prefix-sum series as a native expression — the O(n)
  * twin of [[IntegerEwmaSeries]] for
  * [[graft.operators.EventOps.changepoint]]'s per-key fold. */
case class PrefixSumSeries(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    IntegerSeries.prefixSums(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.IntegerSeries.prefixSums($c)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "prefix_sum_series"
}

/** The exact integer EWMA series as a native expression — the O(n)
  * replacement for the HOF fold in
  * [[graft.operators.EventOps.ewma]] (the fold's `array_append`
  * copies its accumulator per step: O(cap²) on a maxed key, ~50 s a
  * task at the 2¹⁶ default; this pass is O(cap)). Semantics are
  * bit-identical: same recurrence, same truncate-toward-zero long
  * division both engines share, overflow throws like ANSI. */
case class IntegerEwmaSeries(child: Expression, alphaNum: Long,
    alphaDen: Long) extends UnaryExpression {
  require(alphaNum > 0 && alphaDen >= alphaNum,
    s"alpha must be in (0, 1]: $alphaNum/$alphaDen")
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    IntegerSeries.ewmaSeries(input.asInstanceOf[ArrayData],
      alphaNum, alphaDen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, c =>
    s"graft.functions.IntegerSeries.ewmaSeries($c, ${alphaNum}L, " +
      s"${alphaDen}L)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "integer_ewma_series"
}

/** The DSIR per-document log-weight sum as ONE native O(n) pass — the
  * codegen replacement for [[graft.operators.Dsir.score]]'s interpreted
  * DECIMAL HOF fold
  * `aggregate(_gs, 0 as dec(28,6), (acc,g) => (acc + element_at(w,
  * pmod(fnv64(g),dim)+1).cast(dec(18,6))).cast(dec(28,6)))`.
  *
  * Bit-for-bit equivalence: every per-gram addend in the fold is the
  * model's `logRatio(b)` double cast to decimal(18,6) — and the ratios
  * were ROUNDED to 6 decimals at train time, so each addend is an exact
  * scale-6 decimal. The caller pre-replicates that exact cast once per
  * bucket (`Decimal(d).changePrecision(18,6)`, the same path Spark's
  * double→decimal Cast takes) into `ratiosMicro` unscaled longs; the
  * fold is then an exact long sum (the per-step (28,6) casts in the HOF
  * never round — scale never exceeds 6 — and |Σ| stays far below both
  * the long range and (28,6)). A null gram makes the whole fold null in
  * the HOF (null addend poisons the accumulator), mirrored here. */
case class DsirScoreSum(child: Expression, dim: Int,
    ratiosMicro: Array[Long]) extends UnaryExpression {
  require(dim > 0 && ratiosMicro.length == dim,
    s"dim $dim must match ratios length ${ratiosMicro.length}")
  override def dataType: DataType = DecimalType(28, 6)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    DsirScore.sum(input.asInstanceOf[ArrayData], dim, ratiosMicro)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ratiosRef = ctx.addReferenceObj("dsirRatios", ratiosMicro,
      "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.DsirScore.sum($c, $dim, $ratiosRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "dsir_score_sum"
  // the ratios compare by content (an Array's == is identity), so two
  // scorers over one model are equal and CSE can reuse one of them
  override def equals(o: Any): Boolean = o match {
    case d: DsirScoreSum => child == d.child && dim == d.dim &&
      java.util.Arrays.equals(ratiosMicro, d.ratiosMicro)
    case _ => false
  }
  private lazy val contentHash =
    (child, dim, java.util.Arrays.hashCode(ratiosMicro)).##
  override def hashCode(): Int = contentHash
}

/** `levenshtein(l, r) <= 1` as ONE early-exit code-point walk — the
  * FastSS d=1 verify without the banded DP (measured: Spark's
  * threshold `levenshtein` on the 977k customer-name candidates cost
  * ~2.4 µs/pair; this check is a two-pointer scan that exits at the
  * second mismatch). Code-point semantics match Spark's levenshtein
  * (UTF8String walks code points, so a surrogate pair is ONE edit). */
case class LevenshteinLe1(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(l: Any, r: Any): Any =
    LevenshteinLe1.within1(l.asInstanceOf[UTF8String],
      r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = defineCodeGen(ctx, ev, (l, r) =>
    s"graft.functions.LevenshteinLe1.within1($l, $r)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression) = copy(left = newLeft, right = newRight)
  override def prettyName: String = "levenshtein_le1"
}

object LevenshteinLe1 {
  /** True iff the code-point edit distance of `la`/`lb` is ≤ 1:
    * equal-length strings may differ in at most one code point;
    * length-off-by-one pairs must align with one skip in the longer. */
  def within1(la: UTF8String, lb: UTF8String): Boolean = {
    val a = la.toString.codePoints().toArray
    val b = lb.toString.codePoints().toArray
    val n = a.length
    val m = b.length
    if (n == m) {
      var i = 0
      var diff = 0
      while (i < n) {
        if (a(i) != b(i)) { diff += 1; if (diff > 1) return false }
        i += 1
      }
      true
    } else if (math.abs(n - m) == 1) {
      val (lo, hi) = if (n < m) (a, b) else (b, a)
      var i = 0
      var j = 0
      var skipped = false
      while (i < lo.length) {
        if (lo(i) == hi(j)) { i += 1; j += 1 }
        else if (skipped) return false
        else { skipped = true; j += 1 }
      }
      true
    } else false
  }
}

/** Static entry point for [[DsirScoreSum]] (interpreted + codegen). */
object DsirScore {
  def sum(gs: ArrayData, dim: Int, ratiosMicro: Array[Long])
      : org.apache.spark.sql.types.Decimal = {
    val n = gs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (gs.isNullAt(i)) return null // null gram poisons the HOF fold
      val h = TextHashing.hash64u(gs.getUTF8String(i))
      val m = h % dim
      val b = (if (m < 0) m + dim else m).toInt
      acc = Math.addExact(acc, ratiosMicro(b))
      i += 1
    }
    org.apache.spark.sql.types.Decimal(acc, 28, 6)
  }
}
