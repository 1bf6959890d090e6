package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** CorpusOps (training-pipeline corpus operators): n-gram construction
  * edges, decontamination against a planted benchmark, chunk coverage
  * invariants, sampling determinism, PII redaction.
  */
class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("wordNgrams: short docs, duplicates, whitespace runs") {
    val d = docs(
      1L -> "a b c d",          // 3 distinct 2-grams
      2L -> "x",                // shorter than n -> nothing
      3L -> "",                 // no tokens -> nothing
      4L -> "  A  a   a b ",    // lowercased: grams "a a", "a b"
      5L -> "t t t")            // duplicate gram "t t" deduped
    val got = CorpusOps.wordNgrams(d, 2)
      .as[(Long, String)].collect().toSet
    assert(got === Set(
      (1L, "a b"), (1L, "b c"), (1L, "c d"),
      (4L, "a a"), (4L, "a b"),
      (5L, "t t")))
  }

  test("decontaminate flags exactly the docs sharing n-grams") {
    val bench = docs(100L -> "the quick brown fox jumps")
    val corpus = docs(
      1L -> "lazy dogs sleep all day",              // no overlap
      2L -> "said the quick brown fox yesterday",   // 2 hit 3-grams
      3L -> "quick brown fox")                      // its only gram hits
    val got = CorpusOps.decontaminate(corpus, bench, n = 3)
      .select($"doc_id", $"n_grams", $"n_hits", $"contaminated")
      .as[(Long, Long, Long, Boolean)].collect().toMap2
    assert(got(1L) === ((3L, 0L, false)))
    assert(got(2L) === ((4L, 2L, true)))
    assert(got(3L) === ((1L, 1L, true)))
  }

  test("decontaminate large-benchmark path: bloom prefilter + shuffled " +
      "join agrees exactly with the broadcast shape") {
    val bench = docs(
      100L -> "the quick brown fox jumps over fences",
      101L -> "pack my box with five dozen jugs")
    val corpus = docs(
      1L -> "lazy dogs sleep all day long",
      2L -> "said the quick brown fox yesterday evening",
      3L -> "quick brown fox",
      4L -> "box with five dozen assorted things",
      5L -> "")
    val viaBroadcast = CorpusOps.decontaminate(corpus, bench, n = 3)
      .orderBy($"doc_id").collect().toSeq
    val xl = CorpusOps.decontaminate(corpus, bench, n = 3,
      maxBroadcastGrams = 0L)
    // the forced path really is the bloom+join shape
    val plan = xl.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(xl.orderBy($"doc_id").collect().toSeq === viaBroadcast)
    // a doc whose grams all miss the bloom still reports its totals
    assert(xl.filter($"doc_id" === 1L).head.getLong(2) == 0L)
  }

  test("persisted decon index: build once, probe many — both probe " +
      "paths agree exactly with the ad-hoc operator") {
    val bench = docs(
      100L -> "the quick brown fox jumps over fences",
      101L -> "pack my box with five dozen jugs")
    val corpus = docs(
      1L -> "lazy dogs sleep all day long",
      2L -> "said the quick brown fox yesterday evening",
      3L -> "quick brown fox",
      4L -> "box with five dozen assorted things",
      5L -> "")
    val dir = tempDir("graft-decon-idx").toString
    CorpusOps.buildDeconIndex(bench, dir, n = 3)
    val adHoc = CorpusOps.decontaminate(corpus, bench, n = 3)
      .orderBy($"doc_id").collect().toSeq
    // broadcast probe: grams stream from the persisted parquet
    val viaIdx = CorpusOps.decontaminateWithIndex(corpus, dir)
    assert(viaIdx.orderBy($"doc_id").collect().toSeq === adHoc)
    // the probe plan never touches the benchmark pipeline — no
    // regexp tokenize of the benchmark, just the parquet gram scan
    val plan = viaIdx.queryExecution.optimizedPlan.toString
    assert(plan.contains("parquet"), plan.take(2000))
    // XL probe: the PERSISTED bloom prefilters the shuffled join
    val xl = CorpusOps.decontaminateWithIndex(corpus, dir,
      maxBroadcastGrams = 0L)
    assert(xl.queryExecution.optimizedPlan.toString
      .contains("might_contain"))
    assert(xl.orderBy($"doc_id").collect().toSeq === adHoc)
  }

  test("curriculumShards: easy-first stages, deterministic " +
      "within-stage order, NTILE sizes exact") {
    val docs = (1L to 10L).map { i =>
      // doc i has i one-syllable words and one sentence: fewer words
      // -> higher Flesch -> easier -> earlier stage
      (i, Seq.fill(i.toInt)("go").mkString(" ") + ".")
    }.toDF("doc_id", "text")
    val got = CorpusOps.curriculumShards(docs, nStages = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // NTILE(4) over 10 rows: stage sizes 3,3,2,2
    assert(got.groupBy(_._3).view.mapValues(_.size).toMap ===
      Map(1L -> 3, 2L -> 3, 3L -> 2, 4L -> 2), got.toString)
    // scores are non-increasing across stage boundaries
    val byStage = got.groupBy(_._3).view
      .mapValues(_.map(_._2)).toMap
    assert((1L to 3L).forall(s =>
      byStage(s).min >= byStage(s + 1).max), byStage.toString)
    // within-stage pos is 1..n and the whole thing is deterministic
    assert(got.groupBy(_._3).values.forall(g =>
      g.map(_._4).sorted == (1L to g.size).toSeq))
    val again = CorpusOps.curriculumShards(docs, nStages = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === again)
  }

  test("deconFeed: the monitor table tracks the live corpus through " +
      "inserts, updates and deletes; a replayed window converges") {
    import graft.sources.v2.GraftCdf
    val wh = tempDir("graft-deconfeed").toString
    val cat = "graft_deconfeed"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val aux = tempDir("graft-deconfeed-aux")
    val idx = aux.resolve("idx").toString
    val ckpt = aux.resolve("ckpt").toString
    CorpusOps.buildDeconIndex(docs(
      100L -> "the quick brown fox jumps over fences",
      101L -> "pack my box with five dozen jugs"), idx, n = 3)
    // 500 filler docs keep the later point-DML under the DV
    // escalation threshold (a COW rewrite would fail the stream)
    val seed = (1 to 500).map(i =>
      (i.toLong, s"filler number $i with several plain words")) ++
      Seq((501L, "said the quick brown fox yesterday evening"),
        (502L, "box with five dozen assorted things"))
    seed.toDF("doc_id", "text").write.format("graft-v2")
      .option("path", s"$wh/corpus").option("changelog", "true")
      .mode("append").save()
    Seq.empty[(Long, Long, Long, Double, Boolean)]
      .toDF("doc_id", "n_grams", "n_hits", "contamination",
        "contaminated")
      .write.format("graft-v2").option("path", s"$wh/decon")
      .mode("append").save()

    def monitor(): Seq[org.apache.spark.sql.Row] =
      spark.table(s"$cat.decon").orderBy($"doc_id").collect().toSeq
    // the operator's own barriers go with its scope, so that only the
    // stream's could remain persisted
    def operator(): Seq[org.apache.spark.sql.Row] = Materialize.scoped {
      CorpusOps.decontaminateWithIndex(
        spark.read.format("graft-v2").load(s"$wh/corpus"), idx)
        .orderBy($"doc_id").collect().toSeq
    }

    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q = CorpusOps.deconFeed(spark, s"$wh/corpus", idx,
      s"$cat.decon", ckpt, consumerId = Some("mon"))
    try {
      q.processAllAvailable()
      assert(monitor() === operator(), "initial catch-up diverges")
      assert(monitor().exists(r => r.getLong(0) == 501L &&
        r.getBoolean(4)), "contaminated doc not flagged")
      // delete a clean doc, update a contaminated doc to GRAMLESS
      // text (the batch operator emits nothing for it — the monitor
      // row must disappear), insert one newly contaminated doc
      spark.sql(s"DELETE FROM $cat.corpus WHERE doc_id = 7")
      spark.sql(
        s"UPDATE $cat.corpus SET text = 'xy' WHERE doc_id = 501")
      spark.sql(s"INSERT INTO $cat.corpus VALUES " +
        "(503, 'they pack my box with care daily')")
      q.processAllAvailable()
      assert(monitor() === operator(), "post-DML monitor diverges")
      assert(!monitor().exists(r => r.getLong(0) == 7L ||
        r.getLong(0) == 501L))
      assert(monitor().exists(r => r.getLong(0) == 503L &&
        r.getBoolean(4)))
    } finally q.stop()
    // each micro-batch released its own barriers
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leftover.isEmpty, s"the stream left rdd ids $leftover persisted")

    // replay convergence: re-applying the ENTIRE feed history is a
    // no-op on the monitor (deterministic scores + keyed MERGE)
    val before = monitor()
    CorpusOps.deconFeedBatch(
      GraftCdf.tableChanges(spark, s"$wh/corpus", 1),
      idx, s"$cat.decon", "doc_id", "text", 2000000L)
    assert(monitor() === before, "replayed history changed the monitor")
  }

  test("commonNgrams: doc frequency over distinct per-doc grams, " +
      "minDocs filter drops the unique tail") {
    val d = docs(
      1L -> "the cat sat on the mat",
      2L -> "the cat sat down quietly",
      3L -> "the cat sat on the mat again", // "the cat sat" in all 3
      4L -> "nothing shared here")
    val got = CorpusOps.commonNgrams(d, n = 3, minDocs = 2)
      .as[(String, Long)].collect().toMap
    assert(got("the cat sat") === 3L)
    assert(got("cat sat on") === 2L)
    assert(got("sat on the") === 2L)
    assert(got("on the mat") === 2L)
    // unique grams filtered out entirely
    assert(!got.contains("sat down quietly"))
    assert(!got.contains("nothing shared here"))
    assert(got.values.forall(_ >= 2L))
    // duplicate gram WITHIN a doc counts once: doc 3 repeats "the"
    // windows but each (doc, gram) pair is distinct by construction
    val all = CorpusOps.commonNgrams(d, n = 3, minDocs = 1)
      .as[(String, Long)].collect().toMap
    assert(all("the mat again") === 1L)
  }

  test("crossDocRepetition: per-doc repeated-gram fractions") {
    val d = docs(
      1L -> "alpha beta gamma delta",      // grams: ab, bg, gd
      2L -> "alpha beta gamma epsilon",    // grams: ab, bg, ge
      3L -> "zeta eta theta")              // grams: ze, et — all unique
    val got = CorpusOps.crossDocRepetition(d, n = 2, minDocs = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // docs 1,2 share "alpha beta" and "beta gamma" -> 2 of 3 repeated
    assert(got(1L) === ((3L, 2L, 0.666667)))
    assert(got(2L) === ((3L, 2L, 0.666667)))
    assert(got(3L) === ((2L, 0L, 0.0)))
  }

  test("repetitionStats: duplicate line/word fractions, empty and " +
      "pathological docs") {
    import graft.operators.TextStats
    val d = docs(
      1L -> "alpha beta\ngamma delta\nalpha beta", // line dup 1/3
      2L -> "spam\nspam\nspam\nspam",              // all-dup page
      3L -> "unique lines\nonly here",             // no dups
      4L -> "word word word distinct",             // word dups only
      5L -> "")                                    // empty
    val got = TextStats.repetitionStats(d)
      .as[(Long, Int, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: 3 lines, 2 of them copies of each other -> dup_line_frac
    // (3-2)/3; chars 10+11+10, 20 in dup lines
    assert(got(1L)._1 == 3)
    assert(got(1L)._2 == 0.333333)
    assert(got(1L)._3 == math.rint(20.0 / 31.0 * 1e6) / 1e6)
    // 6 tokens, 4 distinct ("alpha beta" twice)
    assert(got(1L)._4 == 0.333333)
    assert(got(2L) === ((4, 0.75, 1.0, 0.75)))
    assert(got(3L) === ((2, 0.0, 0.0, 0.0)))
    assert(got(4L) === ((1, 0.0, 0.0, 0.5)))
    assert(got(5L) === ((0, 0.0, 0.0, 0.0)))
  }

  implicit private class Map2[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("chunk: every token covered, starts aligned, sizes correct") {
    val text100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val text64 = (1 to 64).map(i => s"w$i").mkString(" ")
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> text100, 2L -> text64, 3L -> text10, 4L -> "")
    val got = CorpusOps.chunk(d, chunkSize = 64, stride = 48)
      .select($"doc_id", $"chunk_idx", $"n_tokens", $"chunk_text")
      .as[(Long, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    // 100 tokens: starts 1, 49 -> sizes 64, 52; token 100 covered
    assert(got(1L).map(c => (c._2, c._3)).toSeq === Seq((0, 64), (1, 52)))
    assert(got(1L)(1)._4.endsWith("w100"))
    assert(got(1L)(1)._4.startsWith("w49 "))
    // exactly chunkSize tokens: a single chunk, no redundant tail
    assert(got(2L).map(c => (c._2, c._3)).toSeq === Seq((0, 64)))
    // short doc: one partial chunk
    assert(got(3L).map(c => (c._2, c._3)).toSeq === Seq((0, 10)))
    // empty doc: no chunks
    assert(!got.contains(4L))
  }

  test("chunk covers all tokens for arbitrary lengths") {
    val d = docs((1L to 9L).map(i =>
      i -> (1 to (i * 31).toInt).map(j => s"t$j").mkString(" ")): _*)
    val chunks = CorpusOps.chunk(d, chunkSize = 40, stride = 25)
      .select($"doc_id", $"chunk_text")
      .as[(Long, String)].collect()
    val covered = chunks.groupBy(_._1).view
      .mapValues(_.flatMap(_._2.split(" ")).toSet).toMap
    (1L to 9L).foreach { i =>
      val want = (1 to (i * 31).toInt).map(j => s"t$j").toSet
      assert(covered(i) === want, s"doc $i lost tokens")
    }
  }

  test("sampleByRate is deterministic and respects per-stratum rates") {
    val d = (0L until 2000L).map(i =>
      (i, if (i % 3 == 0) "en" else "de")).toDF("doc_id", "lang")
    val rate = when($"lang" === "en", lit(50)).otherwise(lit(10))
    val s1 = CorpusOps.sampleByRate(d, rate).as[(Long, String)]
      .collect().toSet
    val s2 = CorpusOps.sampleByRate(d, rate).as[(Long, String)]
      .collect().toSet
    assert(s1 === s2, "hash sampling must be reproducible")
    val en = s1.count(_._2 == "en").toDouble / (2000 / 3)
    val de = s1.count(_._2 == "de").toDouble / (2000 * 2 / 3)
    assert(en > 0.35 && en < 0.65, s"en rate off: $en")
    assert(de > 0.04 && de < 0.18, s"de rate off: $de")
  }

  test("sampleTopKPerStratum returns exactly k per stratum, stable") {
    val d = (0L until 500L).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("doc_id", "lang")
    val got = CorpusOps.sampleTopKPerStratum(d, "lang", 7)
      .select($"lang", $"doc_id", $"rn")
      .as[(String, Long, Int)].collect()
    assert(got.count(_._1 == "a") === 7)
    assert(got.count(_._1 == "b") === 7)
    assert(got.filter(_._1 == "a").map(_._3).sorted.toSeq === (1 to 7))
    val again = CorpusOps.sampleTopKPerStratum(d, "lang", 7)
      .select($"lang", $"doc_id", $"rn")
      .as[(String, Long, Int)].collect()
    assert(got.sortBy(r => (r._1, r._3)).toSeq ===
      again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("mixCorpora: whole epochs are exact copies, fractional " +
      "remainders are deterministic hash samples, tags correct") {
    val a = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val b = (5000L until 5100L).map(i => (i, s"b $i")).toDF("doc_id", "text")
    val got = CorpusOps.mixCorpora(Seq(("a", a, 2.5), ("b", b, 1.0)))
      .select($"mix_source", $"epoch", $"doc_id")
      .as[(String, Int, Long)].collect()

    // source b: exactly one full copy, epoch 0
    val bs = got.filter(_._1 == "b")
    assert(bs.length === 100 && bs.forall(_._2 == 0))
    // source a: epochs 0 and 1 are FULL copies
    val as_ = got.filter(_._1 == "a")
    assert(as_.count(_._2 == 0) === 1000)
    assert(as_.count(_._2 == 1) === 1000)
    // remainder epoch 2 is ~half, deterministic, and a subset
    val rem = as_.filter(_._2 == 2).map(_._3).toSet
    assert(rem.size > 400 && rem.size < 600, s"rate off: ${rem.size}")
    assert(rem.subsetOf((0L until 1000L).toSet))
    val again = CorpusOps.mixCorpora(Seq(("a", a, 2.5)))
      .filter($"epoch" === 2).select($"doc_id").as[Long].collect().toSet
    assert(again === rem, "hash remainder must be reproducible")
    // zero-rate source contributes nothing; rate 0 everywhere refuses
    val z = CorpusOps.mixCorpora(Seq(("a", a, 1.0), ("b", b, 0.0)))
    assert(z.filter($"mix_source" === "b").count() === 0)
    intercept[IllegalArgumentException] {
      CorpusOps.mixCorpora(Seq(("a", a, 0.0)))
    }
  }

  test("redactPii scrubs emails and phones, counts them") {
    val d = docs(
      1L -> "mail me at jane.doe+x@sub.example.org or 555-123-4567 ok",
      2L -> "no pii here at all",
      3L -> "two mails a@b.co c@d.io and 800-5551-0199")
    val got = CorpusOps.redactPii(d)
      .select($"doc_id", $"n_emails", $"n_phones", $"redacted")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._1 === 1 && got(1L)._2 === 1)
    assert(got(1L)._3 === "mail me at [EMAIL] or [PHONE] ok")
    assert(got(2L) === ((0, 0, "no pii here at all")))
    assert(got(3L)._1 === 2 && got(3L)._2 === 1)
    assert(got(3L)._3 === "two mails [EMAIL] [EMAIL] and [PHONE]")
  }

  test("packSequences: full sequences are exactly seqLen, each doc's " +
      "tokens all land, segments tile each sequence") {
    val d = docs(
      0L -> Seq.fill(5)("a").mkString(" "),   // shard 0: 5 tokens
      2L -> Seq.fill(9)("b").mkString(" "),   // shard 0: 9 -> spans cut
      4L -> Seq.fill(3)("c").mkString(" "),   // shard 0: 3
      1L -> Seq.fill(20)("d").mkString(" "),  // shard 1: 20 -> 3 seqs
      3L -> "",                               // no tokens -> absent
      5L -> "e")                              // shard 1: 1 token
    val segs = CorpusOps.packSequences(d, seqLen = 8, numShards = 2)
      .as[(Int, Long, Long, Int, Int)].collect().toSeq

    // every document's token count is fully attributed
    val perDoc = segs.groupBy(_._3).view.mapValues(_.map(_._5).sum).toMap
    assert(perDoc === Map(0L -> 5, 2L -> 9, 4L -> 3, 1L -> 20, 5L -> 1))

    // shard 0 stream = 5+9+3 = 17 tokens -> seqs 0,1 full (8), seq 2 has 1
    val s0 = segs.filter(_._1 == 0).groupBy(_._2).view
      .mapValues(_.map(_._5).sum).toMap
    assert(s0 === Map(0L -> 8, 1L -> 8, 2L -> 1))
    // shard 1 stream = 21 tokens -> 8, 8, 5
    val s1 = segs.filter(_._1 == 1).groupBy(_._2).view
      .mapValues(_.map(_._5).sum).toMap
    assert(s1 === Map(0L -> 8, 1L -> 8, 2L -> 5))

    // segments tile each sequence: sorted by seg_start, contiguous
    segs.groupBy(s => (s._1, s._2)).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 === 0)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 + a._5 === b._4)
        case _ =>
      }
    }

    // doc 2 (9 tokens at offsets 5..13 of shard 0) splits 3 + 6
    val doc2 = segs.filter(_._3 == 2L).sortBy(_._2)
    assert(doc2 === Seq((0, 0L, 2L, 5, 3), (0, 1L, 2L, 0, 6)))
  }

  test("shuffleShards: a permutation, contiguous per-shard positions") {
    val docs = Tables.t(spark, sf001, "documents").select($"doc_id")
    val n = docs.count()
    val got = CorpusOps.shuffleShards(docs, numShards = 4)

    // every doc exactly once, shard = pmod(xxhash64(id), 4)
    assert(got.count() === n)
    assert(got.select($"doc_id").distinct().count() === n)
    val bad = got.filter(
      $"shard" =!= pmod(xxhash64($"doc_id"), lit(4)).cast("int"))
    assert(bad.isEmpty)

    // positions are 1..count(shard) with no gaps
    val perShard = got.groupBy($"shard")
      .agg(count(lit(1)).as("c"), min($"pos").as("mn"),
        max($"pos").as("mx"), countDistinct($"pos").as("d"))
      .collect()
    assert(perShard.nonEmpty)
    perShard.foreach { r =>
      assert(r.getAs[Int]("mn") === 1)
      assert(r.getAs[Long]("c") === r.getAs[Int]("mx").toLong)
      assert(r.getAs[Long]("c") === r.getAs[Long]("d"))
    }

    // deterministic across runs
    val again = CorpusOps.shuffleShards(docs, numShards = 4)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("dedupLines: repeated lines scrubbed everywhere, order kept, " +
      "blanks and uniques survive") {
    val d = docs(
      1L -> "keep me\ncookie banner\nunique one",
      2L -> "cookie banner\n\nunique two\ncookie banner",
      3L -> "cookie banner",               // fully boilerplate
      4L -> "  cookie banner  \nlast")     // trims to the same line
    val got = CorpusOps.dedupLines(d, minOccurrences = 2)
      .as[(Long, Int, Int, String)].collect().toMap2
    // "cookie banner" occurs 5x (trimmed) -> removed everywhere;
    // blank line in doc 2 is never counted and never removed
    assert(got(1L) === ((3, 1, "keep me\nunique one")))
    assert(got(2L) === ((4, 2, "\nunique two")))
    assert(got(3L) === ((1, 1, "")))
    assert(got(4L) === ((2, 1, "last")))
  }

  test("dedupLines: below-threshold lines untouched") {
    val d = docs(1L -> "once\ntwice", 2L -> "twice\nthrice")
    val got = CorpusOps.dedupLines(d, minOccurrences = 3)
    assert(got.filter($"n_removed" > 0).isEmpty)
    val texts = got.select($"doc_id", $"clean_text")
      .as[(Long, String)].collect().toMap
    assert(texts(1L) === "once\ntwice" && texts(2L) === "twice\nthrice")
  }

  test("dsir: target-like docs outweigh raw-only docs; empty doc " +
      "scores zero; n_feats = unigrams + bigrams") {
    import graft.operators.Dsir
    val target = docs(10L -> "alpha beta alpha beta gamma",
      11L -> "alpha beta alpha")
    val raw = docs(20L -> "delta epsilon zeta delta",
      21L -> "epsilon zeta zeta", 10L -> "alpha beta alpha beta gamma")
    val model = Dsir.train(target, raw, dim = 64)
    val scored = Dsir.score(docs(
      1L -> "alpha beta alpha",     // pure target vocabulary
      2L -> "delta epsilon zeta",   // pure raw vocabulary
      3L -> ""), model)             // no tokens
      .as[(Long, Int, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(scored(1L)._1 === 5)     // 3 unigrams + 2 bigrams
    assert(scored(3L) === ((0, 0.0, true)))
    assert(scored(1L)._2 > scored(2L)._2,
      s"target-like ${scored(1L)} must outweigh raw-only ${scored(2L)}")
    assert(scored(1L)._3 && !scored(2L)._3)
  }

  test("gopherRules: each rule can individually reject") {
    import graft.operators.TextStats
    val fifty = ("the of " + Seq.fill(48)("word").mkString(" "))
    val d = docs(
      1L -> fifty,                                  // passes all rules
      2L -> "the of short doc",                     // < minWords
      3L -> ("a i " + Seq.fill(48)("x y").mkString(" ")), // mean len < 3
      4L -> ("the of " + Seq.fill(48)("12345").mkString(" ")), // alpha
      5L -> Seq.fill(50)("word").mkString(" "))     // no stopwords
    val got = TextStats.gopherRules(d, minWords = 50)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("dedupSubstrings: first occurrence survives, later copies and " +
      "internal repetition collapse, short docs pass through") {
    val d = docs(
      1L -> "a b c d e",          // canonical owner of "a b c"
      2L -> "x a b c y",          // loses its copy -> "x y"
      3L -> "p q r p q r p q r",  // internal: keeps one period
      4L -> "u v",                // shorter than k: untouched
      5L -> "")                   // empty: survives with empty text
    val got = CorpusOps.dedupSubstrings(d, k = 3)
      .select($"doc_id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((5, 0, "a b c d e")))
    assert(got(2L) === ((5, 3, "x y")))
    // flagged starts 4..7 cover tokens 4..9: one "p q r" survives
    assert(got(3L) === ((9, 6, "p q r")))
    assert(got(4L) === ((2, 0, "u v")))
    assert(got(5L) === ((0, 0, "")))
  }

  test("dedupSubstrings: boilerplate-heavy doc (thousands of flagged " +
      "windows) completes linearly and alternating spans keep exactly " +
      "the gap tokens") {
    // doc 2 repeats a 3-token phrase 2000 times -> ~6000 tokens, every
    // window start after the canonical one flagged (~thousands of
    // spans). The merged-interval reassembly must cover this in
    // O(tokens), not O(tokens × spans).
    val phrase = "p q r "
    val d = docs(
      1L -> (phrase * 2000).trim,
      // alternating duplicated/unique: "p q r u1 p q r u2 ..." — the
      // covered spans do NOT merge into one block, exercising many
      // disjoint intervals and the gap slicing between them
      2L -> (1 to 50).map(i => s"p q r u$i").mkString(" "))
    val got = CorpusOps.dedupSubstrings(d, k = 3)
      .select($"doc_id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: starts 1/2/3 are the canonical owners of the three
    // rotations ("p q r", "q r p", "r p q"); every later start
    // (4..5998) is flagged, merging into ONE covered interval
    // [4..6000] — one period survives
    assert(got(1L) === ((6000, 5997, "p q r")))
    // doc 2: each "p q r" copy (starts 1,5,...,197) is a duplicate of
    // doc 1's canonical; the uI-containing windows are unique
    // corpus-wide. Covered = 50 DISJOINT [s..s+2] intervals with a
    // one-token gap between them — exactly the uI tokens survive
    assert(got(2L) ===
      ((200, 150, (1 to 50).map(i => s"u$i").mkString(" "))))
  }

  test("decontaminateSpans: benchmark-overlapping windows removed " +
      "surgically, clean gaps and short/untouched docs survive") {
    val bench = docs(100L -> "x y z q r s")
    val corp = docs(
      1L -> "a b x y z c",          // start 3 flagged -> covers 3..5
      2L -> "clean text only here", // no overlap: untouched
      3L -> "x y",                  // shorter than n: untouched
      4L -> "x y z q r s")          // fully covered: empty survivor
    val got = CorpusOps.decontaminateSpans(corp, bench, n = 3)
      .select($"doc_id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((6, 3, "a b c")))
    assert(got(2L) === ((4, 0, "clean text only here")))
    assert(got(3L) === ((2, 0, "x y")))
    assert(got(4L) === ((6, 6, "")))
  }

  test("dsir: score is reproducible and model round-trips the counts") {
    import graft.operators.Dsir
    val d = Tables.t(spark, sf001, "documents")
    val m1 = Dsir.train(d.filter($"lang" === "en"), d, dim = 128)
    val m2 = Dsir.train(d.filter($"lang" === "en"), d, dim = 128)
    assert(m1.logRatio.toSeq === m2.logRatio.toSeq)
    val s1 = Dsir.score(d, m1).orderBy($"doc_id")
      .as[(Long, Int, Double, Boolean)].collect()
    val s2 = Dsir.score(d, m2).orderBy($"doc_id")
      .as[(Long, Int, Double, Boolean)].collect()
    assert(s1.toSeq === s2.toSeq)
    // weights are non-degenerate: both signs present
    assert(s1.exists(_._3 > 0) && s1.exists(_._3 < 0))
  }
}
