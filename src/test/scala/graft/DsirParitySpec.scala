package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, Dsir}

/** r20: [[graft.functions.DsirScoreSum]] replaced Dsir.score's
  * interpreted DECIMAL HOF fold. This spec pins BIT-FOR-BIT parity
  * against the original fold formula (recreated verbatim below) on the
  * real sf0.001 corpus plus adversarial synthetic docs — same model,
  * same rows, exact equality of every (n_feats, log_w, keep). */
class DsirParitySpec extends SparkTestBase {
  import spark.implicits._

  /** The round-19 fold, verbatim (the shape the oracle replicates). */
  private def legacyScore(docs: org.apache.spark.sql.DataFrame,
      model: Dsir.NgramRatioModel, tau: Double) = {
    val w = typedLit(model.logRatio.toSeq)
    val sumLr = aggregate(col("_gs"),
      lit(BigDecimal(0)).cast("decimal(28,6)"),
      (acc, g) => (acc + element_at(w,
        (Dsir.bucketOf(g, model.dim) + 1).cast("int"))
        .cast("decimal(18,6)")).cast("decimal(28,6)"))
    docs
      .select(col("doc_id"), CorpusOps.tokens(col("text")).as("_ts"))
      .select(col("doc_id"), Dsir.featureGrams(col("_ts")).as("_gs"))
      .select(col("doc_id"), size(col("_gs")).as("n_feats"),
        round(sumLr, 4).cast("double").as("log_w"))
      .withColumn("keep", col("log_w") >= tau)
  }

  test("native DsirScoreSum === the decimal HOF fold on sf0.001 " +
      "documents and adversarial docs, bit for bit") {
    val real = Tables.t(spark, sf001, "documents")
      .select($"doc_id", $"text")
    val weird = Seq(
      (100001L, ""), (100002L, "   "), (100003L, "one"),
      (100004L, "Ünïcøde tőkens ünïcøde"), (100005L, "a " * 500),
      (100006L, "x1 2y z3 4 5 6 7 8 9 10 11 12"),
      (100007L, "ALPHA beta GAMMA delta ALPHA beta"))
      .toDF("doc_id", "text")
    val docs = real.union(weird)
    val model = Dsir.train(
      docs.filter($"doc_id" % 2 === 0), docs, dim = 256)
    val now = Dsir.score(docs, model).orderBy($"doc_id")
      .as[(Long, Int, Double, Boolean)].collect()
    val legacy = legacyScore(docs, model, tau = 0.0).orderBy($"doc_id")
      .as[(Long, Int, Double, Boolean)].collect()
    assert(now.length === legacy.length)
    now.zip(legacy).foreach { case (a, b) =>
      assert(a === b, s"diverged: native $a vs fold $b")
    }
  }

  test("DsirScoreSum compares its ratios by content: equal instances " +
      "are ==, hash alike and are semanticEquals") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import graft.functions.DsirScoreSum
    val gs = AttributeReference("_gs", ArrayType(StringType))()
    val a = DsirScoreSum(gs, 4, Array(1L, -2L, 3L, 0L))
    val b = DsirScoreSum(gs, 4, Array(1L, -2L, 3L, 0L))
    assert(a == b)
    assert(a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    assert(a != DsirScoreSum(gs, 4, Array(1L, -2L, 3L, 1L)))
  }
}
