package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.functions.{LangGuess, LevenshteinLe1, TextHashing}

/** Unit tests for the native expressions (SURVEY.md §2j/§2k). */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("deterministic HLL: accurate, mergeable, repeatable") {
    // direct sketch math: n distinct longs, raw estimator within the
    // ~6.5% RSD band (4 sigma margin)
    def estimate(vs: Iterator[Long]): Long = {
      val regs = vs.foldLeft(HllDistinct.zero)(HllDistinct.reduce)
      HllDistinct.finish(regs)
    }
    val n = 20000
    val e = estimate((1L to n.toLong).iterator)
    assert(math.abs(e - n).toDouble / n < 0.26, s"estimate $e for $n")
    // duplicates do not move the estimate
    val withDups = estimate(((1L to n.toLong) ++ (1L to n.toLong)).iterator)
    assert(withDups == e)
    // merge of split halves == single pass (register max is exact)
    val left = (1L to 10000L).foldLeft(HllDistinct.zero)(HllDistinct.reduce)
    val right = (10001L to n.toLong)
      .foldLeft(HllDistinct.zero)(HllDistinct.reduce)
    assert(HllDistinct.finish(HllDistinct.merge(left, right)) == e)
    // empty input
    assert(HllDistinct.finish(HllDistinct.zero) == 0L)
    // through the UDAF surface: repeatable across runs
    val udafCol = org.apache.spark.sql.functions.udaf(HllDistinct)
    val df = spark.range(0, 5000).select(($"id" % 1000).as("v"))
    val a = df.agg(udafCol($"v")).head.getLong(0)
    val b = df.agg(udafCol($"v")).head.getLong(0)
    assert(a == b)
    assert(math.abs(a - 1000).toDouble / 1000 < 0.26, s"got $a")
  }

  test("hilbert curve: bijective on the full grid, consecutive " +
      "indices one unit step apart, expression matches the reference") {
    import graft.functions.SpaceCurves
    // bijectivity + adjacency, 2-D 16x16 and 3-D 8x8x8. Adjacency is
    // THE Hilbert property (Z-order violates it at every power-of-two
    // boundary): consecutive indices differ by exactly one step in
    // exactly one axis — what makes a file's contiguous index range a
    // tight axis-aligned region.
    for ((n, bits) <- Seq((2, 4), (3, 3))) {
      val total = 1L << (n * bits)
      val pts = (0L until total).map(h =>
        SpaceCurves.hilbertAxes(h, n, bits).toSeq)
      assert(pts.distinct.size == total, s"not a bijection n=$n")
      pts.foreach(p => p.foreach(v =>
        assert(v >= 0 && v < (1 << bits))))
      pts.sliding(2).foreach { case Seq(a, b) =>
        val d = a.zip(b).map { case (u, v) => math.abs(u - v) }.sum
        assert(d == 1, s"jump between $a and $b (n=$n)")
      }
      // round trip: axes -> index -> axes
      (0L until total).foreach { h =>
        assert(SpaceCurves.hilbertIndex(
          SpaceCurves.hilbertAxes(h, n, bits), bits) == h)
      }
    }
    // codegen'd expression agrees with the reference implementation
    import spark.implicits._
    val got = Seq((3L, 7L), (0L, 0L), (15L, 15L)).toDF("a", "b")
      .select(graft.functions.GraftFunctions
        .hilbert_index(array($"a", $"b"), 4).as("h"))
      .as[Long].collect()
    val want = Seq(Array(3L, 7L), Array(0L, 0L), Array(15L, 15L))
      .map(SpaceCurves.hilbertIndex(_, 4))
    assert(got.toSeq === want)
  }

  test("cosine_sim matches a hand computation and is symmetric") {
    val df = Seq(
      (Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0), 1.0),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), 0.0),
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0),
        32.0 / (math.sqrt(14.0) * math.sqrt(77.0)))
    ).toDF("a", "b", "expected")
    val rows = df.select(cosine_sim($"a", $"b").as("c"), $"expected",
      cosine_sim($"b", $"a").as("c2")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      assert(r.getDouble(0) == r.getDouble(2))
    }
  }

  test("cosine_sim on float arrays (embeddings) stays in [-1, 1]") {
    val emb = Tables.t(spark, sf001, "embeddings")
    val vals = emb.crossJoin(emb.limit(1).select($"embedding".as("q")))
      .select(cosine_sim($"embedding", $"q").as("c"))
      .agg(min($"c"), max($"c")).head
    assert(vals.getDouble(0) >= -1.0000001 && vals.getDouble(1) <= 1.0000001)
  }

  test("cosine_sim zero-vector guard returns 0") {
    val df = Seq((Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    assert(df.select(cosine_sim($"a", $"b")).head.getDouble(0) == 0.0)
  }

  test("minhash: identical text -> identical signature; sig length k") {
    val df = Seq(("a b c d e f g", "a b c d e f g"),
      ("a b c d e f g", "x y z w v u t")).toDF("s1", "s2")
    val rows = df.select(minhash($"s1", 16, 3).as("h1"),
      minhash($"s2", 16, 3).as("h2")).collect()
    assert(rows(0).getSeq[Long](0) == rows(0).getSeq[Long](1))
    assert(rows(1).getSeq[Long](0) != rows(1).getSeq[Long](1))
    assert(rows(0).getSeq[Long](0).length == 16)
  }

  test("minhash estimates Jaccard: similar docs agree on more components") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 48).map(i => s"tok$i").mkString(" ") + " other words"
    val far = (100 to 150).map(i => s"tok$i").mkString(" ")
    val df = Seq((base, near), (base, far)).toDF("a", "b")
    val Array(nearRow, farRow) = df.select(
      minhash($"a", 64, 3).as("ha"), minhash($"b", 64, 3).as("hb")).collect()
    def agree(r: org.apache.spark.sql.Row): Int =
      r.getSeq[Long](0).zip(r.getSeq[Long](1)).count { case (x, y) => x == y }
    assert(agree(nearRow) > agree(farRow))
    assert(agree(nearRow) > 32, "near-dup should agree on most components")
  }

  test("simhash: near-dup docs land within small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 58).map(i => s"tok$i").mkString(" ")
    val far = (200 to 260).map(i => s"tok$i").mkString(" ")
    val df = Seq((base, near, far)).toDF("a", "b", "c")
    val r = df.select(simhash($"a"), simhash($"b"), simhash($"c")).head
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(r.getLong(0), r.getLong(1)) < ham(r.getLong(0), r.getLong(2)))
    assert(ham(r.getLong(0), r.getLong(1)) <= 10)
  }

  test("fingerprint: deterministic, equal for equal text") {
    val df = Seq(("hello world document text", "hello world document text"),
      ("hello world document text", "entirely different content here"))
      .toDF("a", "b")
    val rows = df.select(fingerprint($"a", 8), fingerprint($"b", 8)).collect()
    assert(rows(0).getLong(0) == rows(0).getLong(1))
    assert(rows(1).getLong(0) != rows(1).getLong(1))
  }

  test("ngram_jaccard: 1 for equal, 0 for disjoint, between otherwise") {
    val df = Seq(("abcdef", "abcdef"), ("abcdef", "uvwxyz"),
      ("abcdefgh", "abcdxyz")).toDF("a", "b")
    val vals = df.select(ngram_jaccard($"a", $"b", 3)).collect()
      .map(_.getDouble(0))
    assert(vals(0) == 1.0)
    assert(vals(1) == 0.0)
    assert(vals(2) > 0.0 && vals(2) < 1.0)
  }

  test("lang_guess: script + stopword heuristics") {
    assert(LangGuess.guess("the cat sat on the mat and it was happy") == "en")
    assert(LangGuess.guess("der Hund ist nicht mit der Katze") == "de")
    assert(LangGuess.guess("le chat est dans la maison pour les vacances") == "fr")
    assert(LangGuess.guess("el perro es una mascota para la familia") == "es")
    assert(LangGuess.guess("这是一个中文句子没有假名") == "zh")
    assert(LangGuess.guess("これは日本語の文です") == "ja")
    assert(LangGuess.guess("это русское предложение для теста") == "ru")
    assert(LangGuess.guess("12345 67890 ...") == "und")
  }

  test("cosine_sim registered for SQL via extensions descriptor") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1)),
      "built-in")
    val v = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))").head
    assert(v.getDouble(0) == 1.0)
  }

  test("tokens normalizes case and splits on non-alphanumerics") {
    assert(TextHashing.tokens("Hello, World! 42").toSeq ==
      Seq("hello", "world", "42"))
  }

  test("LevenshteinLe1 === (levenshtein <= 1) on randomized pairs, " +
      "including unicode and astral code points") {
    val rnd = new scala.util.Random(42)
    // alphabet includes an astral plane char (one CODE POINT, two
    // UTF-16 units) — Spark's levenshtein walks code points, so a
    // single astral substitution must count as ONE edit
    val alpha = Array("a", "b", "c", "é", "中", new String(
      Character.toChars(0x1F600)))
    def word(): String =
      (0 until rnd.nextInt(8)).map(_ => alpha(rnd.nextInt(alpha.length)))
        .mkString
    val pairs = (1 to 4000).map(_ => (word(), word())) ++ Seq(
      ("", ""), ("", "a"), ("", "ab"), ("aa", "aa"),
      (new String(Character.toChars(0x1F600)), "a"),
      ("x" + new String(Character.toChars(0x1F600)), "xa"))
    val df = pairs.toDF("l", "r")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val got = df.select($"l", $"r",
        ColumnBridge.column(LevenshteinLe1(
          ColumnBridge.expression($"l"),
          ColumnBridge.expression($"r"))).as("fast"),
        (levenshtein($"l", $"r") <= 1).as("ref"))
      .filter($"fast" =!= $"ref")
      .collect()
    assert(got.isEmpty,
      s"diverged on ${got.take(5).mkString(", ")} (${got.length} pairs)")
  }

  test("codegen-only evaluation: the native expressions compile with " +
      "no interpreted fallback and keep their self-similarity invariants") {
    import graft.operators.Ann
    val conf = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val docs = Tables.t(spark, sf001, "documents")
      val texts = docs.select(
        simhash($"text").as("sh"),
        fingerprint($"text", 16).as("fp"),
        minhash($"text", 16, 3).as("mh"),
        lang_guess($"text").as("lg"),
        ngram_jaccard($"text", $"text", 3).as("nj")).collect()
      assert(texts.nonEmpty && texts.length == docs.count())
      val notOne = texts.filterNot(r => r.isNullAt(4) || r.getDouble(4) == 1.0)
      assert(notOne.isEmpty, s"self ngram_jaccard != 1: ${notOne.take(3)
        .mkString(", ")}")

      val emb = Tables.t(spark, sf001, "embeddings")
      val hp = Ann.hyperplanes(6, 64, 42L)
      val vecs = emb.select(
        Ann.signBucket($"embedding", hp).as("b"),
        cosine_sim($"embedding", $"embedding").as("c")).collect()
      assert(vecs.nonEmpty)
      assert(vecs.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 64))
      val offOne = vecs.filter(r => math.abs(r.getDouble(1) - 1.0) > 1e-9)
      assert(offOne.isEmpty, s"self cosine off 1: ${offOne.take(3)
        .mkString(", ")}")

      val model = Ann.trainIvf(emb, nlist = 8)
      val cells = emb.select(Ann.nearestCells($"embedding", model, 2))
        .as[Seq[Int]].collect()
      assert(cells.length == vecs.length)
      assert(cells.forall(c => c.size == 2 && c.distinct.size == 2 &&
        c.forall(i => i >= 0 && i < model.centers.length)))
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
