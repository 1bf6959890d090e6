package graft

import org.apache.spark.sql.functions._

import graft.operators.TextSearch

/** TextSearch (BM25 retrieval + TF-IDF keywords): hand-computed scores
  * on a corpus small enough to do the Okapi arithmetic by inspection,
  * plus ranking/tie determinism.
  */
class TextSearchSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private def r4(x: Double) = math.rint(x * 1e4) / 1e4
  private def r6(x: Double) = math.rint(x * 1e6) / 1e6

  test("bm25: Okapi scores match the hand formula, non-matching docs " +
      "never appear, ranking is score-desc then id") {
    val d = docs(
      1L -> "apple banana apple",      // dl 3, tf(apple)=2
      2L -> "banana cherry",           // no query term
      3L -> "cherry date date date")   // dl 4, tf(date)=3
    val got = TextSearch.bm25(d, "apple date", k = 3)
      .as[(Long, Double)].collect().toSeq

    // N=3, avgdl=3; df(apple)=df(date)=1 so both idf = ln(1+2.5/1.5)
    val idf = math.log(1 + 2.5 / 1.5)
    val s1 = r4(idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 3.0)))
    val s3 = r4(idf * (3 * 2.2) / (3 + 1.2 * (0.25 + 0.75 * 4 / 3.0)))
    assert(s3 > s1, "date-heavy doc must outrank")
    assert(got === Seq(3L -> s3, 1L -> s1))
  }

  test("bm25: k cuts the ranking; repeated query terms count once") {
    val d = docs((1L to 10L).map(i =>
      i -> (Seq.fill(i.toInt)("hit") ++ Seq.fill(20)("pad"))
        .mkString(" ")): _*)
    val got = TextSearch.bm25(d, "hit HIT hit", k = 4)
      .as[(Long, Double)].collect().toSeq
    // higher tf on near-equal dl wins; exactly k rows
    assert(got.map(_._1) === Seq(10L, 9L, 8L, 7L))
    assert(got.map(_._2) === got.map(_._2).sorted.reverse)
  }

  test("postings index: index-served BM25 equals the corpus scan, " +
      "incremental extend equals a full build, term scan is " +
      "bucket-pruned") {
    import graft.operators.TextSearch
    val docs = Tables.t(spark, sf001, "documents")
    val q = "hash join stream"
    val direct = TextSearch.bm25(docs, q, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // full build
    val full = tempDir("graft-pidx").resolve("full").toString
    TextSearch.buildPostings(docs, full)
    val fromIdx = TextSearch.bm25FromIndex(spark, full, q, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIdx === direct, "index-served scores diverge from scan")

    // build 2/3 + extend 1/3 == full build (same search output, and
    // the postings contents themselves are identical)
    val inc = tempDir("graft-pidx").resolve("inc").toString
    TextSearch.buildPostings(docs.filter($"doc_id" % 3 =!= 0), inc)
    TextSearch.extendPostings(docs.filter($"doc_id" % 3 === 0), inc)
    val fromInc = TextSearch.bm25FromIndex(spark, inc, q, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromInc === direct, "extended index diverges from scan")
    val pFull = spark.read.format("graft-v2").load(s"$full/postings")
    val pInc = spark.read.format("graft-v2").load(s"$inc/postings")
    assert(pFull.exceptAll(pInc).isEmpty && pInc.exceptAll(pFull).isEmpty,
      "incremental postings differ from the full build")
    // extending a non-existent index refuses with guidance
    val e = intercept[IllegalArgumentException] {
      TextSearch.extendPostings(docs, s"$inc-nope")
    }
    assert(e.getMessage.contains("buildPostings"), e.getMessage)

    // bucket pruning: the query-term scan plans fewer partitions than
    // the full postings scan (terms hash into <= 3 of 16 buckets)
    def parts(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.getNumPartitions
    val all = spark.read.format("graft-v2").load(s"$full/postings")
    val pruned = all.filter($"term".isin("hash", "join", "stream"))
    assert(parts(pruned) < parts(all),
      s"term scan not bucket-pruned: ${parts(pruned)} of ${parts(all)}")
  }

  test("postings follow the corpus change feed: appends extend the " +
      "index incrementally, idempotent when current, mutations refuse") {
    import graft.operators.TextSearch
    val docs = Tables.t(spark, sf001, "documents")
      .select($"doc_id", $"text")
    val corpus = tempDir("graft-pfeed").resolve("corpus").toString
    val idx = tempDir("graft-pfeed").resolve("idx").toString
    val q = "hash join stream"
    docs.filter($"doc_id" % 3 =!= 0).write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    TextSearch.buildPostingsFromTable(spark, corpus, idx, "pidx")
    // two separate appends -> two feed versions to apply
    docs.filter($"doc_id" % 3 === 0 && $"doc_id" % 2 === 0)
      .write.format("graft-v2").option("path", corpus)
      .mode("append").save()
    docs.filter($"doc_id" % 3 === 0 && $"doc_id" % 2 =!= 0)
      .write.format("graft-v2").option("path", corpus)
      .mode("append").save()
    assert(TextSearch.extendPostingsFromFeed(
      spark, corpus, idx, "pidx") === 2L)
    val fromIdx = TextSearch.bm25FromIndex(spark, idx, q, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = TextSearch.bm25(docs, q, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIdx === direct,
      "feed-extended index diverges from the full corpus scan")
    // nothing new committed: a no-op
    assert(TextSearch.extendPostingsFromFeed(
      spark, corpus, idx, "pidx") === 0L)
    // an unregistered consumer refuses with guidance
    val e0 = intercept[IllegalArgumentException] {
      TextSearch.extendPostingsFromFeed(spark, corpus, idx, "nope")
    }
    assert(e0.getMessage.contains("buildPostingsFromTable"))
    // a mutation in the window refuses loudly (append-only contract)
    docs.filter($"doc_id" < 10).write.format("graft-v2")
      .option("path", corpus).mode("overwrite").save()
    val e1 = intercept[IllegalArgumentException] {
      TextSearch.extendPostingsFromFeed(spark, corpus, idx, "pidx")
    }
    assert(e1.getMessage.contains("append-only"), e1.getMessage)
  }

  test("tailPostings: the index tails the corpus across stream " +
      "restarts, exactly once — final postings equal a fresh build") {
    import graft.operators.TextSearch
    val docs = Tables.t(spark, sf001, "documents")
      .select($"doc_id", $"text")
    val base = tempDir("graft-ptail")
    val corpus = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    val ckpt = base.resolve("ckpt").toString
    docs.filter($"doc_id" % 3 === 0).write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    TextSearch.buildPostingsFromTable(spark, corpus, idx, "tail")

    // first life: two appends land while the stream runs
    val q1 = TextSearch.tailPostings(spark, corpus, idx, "tail", ckpt)
    try {
      docs.filter($"doc_id" % 3 === 1).write.format("graft-v2")
        .option("path", corpus).mode("append").save()
      docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 0)
        .write.format("graft-v2").option("path", corpus)
        .mode("append").save()
      q1.processAllAvailable()
    } finally q1.stop()

    // second life, same checkpoint: catches up the offline append
    docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 =!= 0)
      .write.format("graft-v2").option("path", corpus)
      .mode("append").save()
    val q2 = TextSearch.tailPostings(spark, corpus, idx, "tail", ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val qs = "hash join stream"
    val fromIdx = TextSearch.bm25FromIndex(spark, idx, qs, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = TextSearch.bm25(docs, qs, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIdx === direct,
      "tailed index diverges from the full corpus scan")
    // the strong no-duplication check: postings content-identical to
    // a fresh full build (a replayed batch would double tf rows)
    val fresh = base.resolve("fresh").toString
    TextSearch.buildPostings(docs, fresh)
    val pTail = spark.read.format("graft-v2").load(s"$idx/postings")
    val pFresh = spark.read.format("graft-v2").load(s"$fresh/postings")
    assert(pTail.exceptAll(pFresh).isEmpty &&
      pFresh.exceptAll(pTail).isEmpty,
      "tailed postings differ from a fresh full build")

    // a corpus rewrite fails the stream loudly at the source (a
    // rewrite's changes are not scan-expressible)
    docs.filter($"doc_id" < 10).write.format("graft-v2")
      .option("path", corpus).mode("overwrite").save()
    val q3 = TextSearch.tailPostings(spark, corpus, idx, "tail", ckpt)
    val err = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] {
      q3.processAllAvailable()
      q3.awaitTermination(10000)
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else rootMsg(t.getCause)
    assert(rootMsg(err).contains("rewrote files"), rootMsg(err))

    // row-level mutations that DO flow as change rows are refused by
    // the batch body itself (append-only contract)
    import graft.sources.v2.GraftCdf
    val bad = Seq((1L, "x", "delete", 9L))
      .toDF("doc_id", "text", GraftCdf.ChangeType, GraftCdf.CommitVersion)
    val e = intercept[IllegalArgumentException] {
      TextSearch.applyFeedBatch(bad, corpus, idx, "tail",
        "doc_id", "text")
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("postings feed window protocol: replays skip, an uncommitted " +
      "stage is discarded, a committed-unpublished window is finished " +
      "at the next entry") {
    import graft.operators.TextSearch
    val docs = Tables.t(spark, sf001, "documents")
      .select($"doc_id", $"text")
    val base = tempDir("graft-pexact")
    val corpus = base.resolve("corpus").toString
    val idx = base.resolve("idx").toString
    docs.filter($"doc_id" % 3 === 0).write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    TextSearch.buildPostingsFromTable(spark, corpus, idx, "px")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def postings() = spark.read.format("graft-v2")
      .load(s"$idx/postings")

    // window v2 applied once; an identical replay is a no-op
    docs.filter($"doc_id" % 3 === 1).write.format("graft-v2")
      .option("path", corpus).mode("append").save()
    val delta = docs.filter($"doc_id" % 3 === 1)
    assert(TextSearch.applyFeedWindow(delta, idx, 2L, "doc_id", "text"))
    val afterV2 = postings().count()
    assert(!TextSearch.applyFeedWindow(delta, idx, 2L, "doc_id", "text"),
      "replayed window must be skipped at the commit log")
    assert(postings().count() === afterV2, "replay duplicated postings")

    // crash BEFORE commit: a stale stage without a marker is discarded
    // and the restaged window applies exactly once
    val stage = new org.apache.hadoop.fs.Path(
      s"$idx/.graft-postings-stage/v3")
    fs.mkdirs(stage)
    fs.createNewFile(new org.apache.hadoop.fs.Path(stage, "leftover"))
    val delta3 = docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 0)
    docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 === 0)
      .write.format("graft-v2").option("path", corpus)
      .mode("append").save()
    assert(TextSearch.applyFeedWindow(delta3, idx, 3L, "doc_id", "text"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/.graft-postings-stage")), "stage root must be cleaned")

    // crash AFTER commit, BEFORE publish (test hook): the window is
    // durable but unpublished; the next feed-face entry finishes it
    // and applies nothing twice
    docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 =!= 0)
      .write.format("graft-v2").option("path", corpus)
      .mode("append").save()
    val beforeV4 = postings().count()
    val delta4 = docs.filter($"doc_id" % 3 === 2 && $"doc_id" % 2 =!= 0)
    intercept[java.io.IOException] {
      TextSearch.applyFeedWindow(delta4, idx, 4L, "doc_id", "text",
        crashAfterCommit = true)
    }
    // committed but unpublished: reads still serve the pre-window state
    assert(postings().count() === beforeV4,
      "unpublished window must not be visible")
    // the batch feed face recovers it and reports nothing new to apply
    assert(TextSearch.extendPostingsFromFeed(
      spark, corpus, idx, "px") === 0L)
    val qs = "hash join stream"
    val fromIdx = TextSearch.bm25FromIndex(spark, idx, qs, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = TextSearch.bm25(docs, qs, k = 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIdx === direct,
      "recovered index diverges from the full corpus scan")
  }

  test("tfIdfKeywords: smooth-idf scores, per-doc top-m, zero-idf " +
      "corpus-universal terms rank below distinctive ones") {
    val d = docs(1L -> "a a b", 2L -> "b c")
    val got = TextSearch.tfIdfKeywords(d, m = 2)
      .select($"doc_id", $"term", $"tfidf", $"rk")
      .as[(Long, String, Double, Int)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap

    val idfRare = math.log(3 / 2.0) // df=1, N=2
    assert(got((1L, 1)) === (("a", r6(2 / 3.0 * idfRare))))
    assert(got((1L, 2)) === (("b", 0.0))) // df=2 of N=2 -> ln(1)=0
    assert(got((2L, 1)) === (("c", r6(1 / 2.0 * idfRare))))
    assert(got((2L, 2)) === (("b", 0.0)))
  }

  test("tfIdfKeywords: ties in tfidf break by term, m truncates") {
    // doc 1: x and y identical tf and df -> tie broken alphabetically
    val d = docs(1L -> "x y", 2L -> "x y z")
    val got = TextSearch.tfIdfKeywords(d, m = 1)
      .select($"doc_id", $"term", $"rk")
      .as[(Long, String, Int)].collect().toSet
    assert(got === Set((1L, "x", 1), (2L, "z", 1)))
  }
}
