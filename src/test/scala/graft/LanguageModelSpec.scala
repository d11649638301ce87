package graft

import org.apache.spark.sql.functions._
import graft.operators.{LanguageModel, Regime}

/** Bigram LM scoring ([[graft.operators.LanguageModel]]): feature
  * extraction, hand-computed quantized scores, the monoid refresh law,
  * regime-gate equivalence, and ln-arm rank agreement.
  */
class LanguageModelSpec extends SparkSuite {
  import spark.implicits._

  // train: "a b" ×3, "a c" ×1, "b a" ×1 → C(a·)=4, C(b·)=1 wait —
  // counts below are asserted from the actual fixture, not this sketch
  def train = Seq(
    (0L, "a b a c"), // bigrams: a b, b a, a c
    (1L, "a b"),     // bigrams: a b
    (2L, "a b")      // bigrams: a b
  ).toDF("doc_id", "text")

  /** Scala mirror of [[graft.operators.Selection.qlog3]]. */
  private def q(v: Long): Long = {
    val c = math.min(v, 2097151L)
    63L - java.lang.Long.numberOfLeadingZeros(c * c * c)
  }

  test("lmFeatures: one row per bigram, first-token key matches") {
    val f = LanguageModel.lmFeatures(train, col("doc_id"), col("text"))
    assert(f.count() == 5) // 3 + 1 + 1
    // every bigram's h1 equals the fingerprint of its first token
    val ab = f.where(col("id") === 1L).select("hg", "h1")
      .as[(Long, Long)].head()
    val expectH1 = train.sparkSession.range(1)
      .select(graft.operators.TextAnalysis.fingerprint(lit("a")))
      .as[Long].head()
    assert(ab._2 == expectH1)
  }

  test("quantized score matches the hand-computed smoothed bigram model") {
    val model = LanguageModel.lmModel(
      LanguageModel.lmFeatures(train, col("doc_id"), col("text")))
    // contexts: a (4 bigram starts: ab,ac,ab,ab), b (1: ba) → V = 2
    // bigrams: "a b"=3, "a c"=1, "b a"=1
    val scored = LanguageModel.lmScoreQuantized(
      Seq((9L, "a b x")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), model)
    val (n, s) = scored.select("n_bigrams", "score")
      .as[(Long, Long)].head()
    assert(n == 2)
    // "a b": q(3+1) − q(4+2); "b x": unseen bigram, context b=1 →
    // q(0+1) − q(1+2)
    assert(s == (q(4) - q(6)) + (q(1) - q(3)))
  }

  test("OOV context scores q(1) − q(V) per bigram, not zero") {
    val model = LanguageModel.lmModel(
      LanguageModel.lmFeatures(train, col("doc_id"), col("text")))
    val scored = LanguageModel.lmScoreQuantized(
      Seq((9L, "zz yy")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), model)
    val s = scored.select("score").as[Long].head()
    assert(s == q(1) - q(0 + 2)) // V = 2
  }

  test("refreshModel ≡ from-scratch fit (additive monoid law) through a real artifact") {
    val docs = spark.read
      .parquet(s"$sf0001/documents.parquet").limit(120)
    val h = docs.where(col("doc_id") < 60)
    val b = docs.where(col("doc_id") >= 60)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-").toString
    LanguageModel.saveModel(LanguageModel.lmModel(
      LanguageModel.lmFeatures(h, col("doc_id"), col("text"))), dir)
    val refreshed = LanguageModel.refreshModel(
      LanguageModel.loadModel(spark, dir),
      LanguageModel.lmFeatures(b, col("doc_id"), col("text")))
      .select("h", "kind", "cnt").as[(Long, Int, Long)].collect().toSet
    val scratch = LanguageModel.lmModel(
      LanguageModel.lmFeatures(docs, col("doc_id"), col("text")))
      .select("h", "kind", "cnt").as[(Long, Int, Long)].collect().toSet
    assert(refreshed == scratch)
  }

  test("retractModel ≡ from-scratch fit over survivors; fully-" +
      "retracted rows drop, not zero out") {
    val docs = spark.read
      .parquet(s"$sf0001/documents.parquet").limit(120)
    val doomed = docs.where(col("doc_id") % 4 === 1)
    val survivors = docs.where(col("doc_id") % 4 =!= 1)
    val retracted = LanguageModel.retractModel(
      LanguageModel.lmModel(
        LanguageModel.lmFeatures(docs, col("doc_id"), col("text"))),
      LanguageModel.lmFeatures(doomed, col("doc_id"), col("text")))
    val scratch = LanguageModel.lmModel(
      LanguageModel.lmFeatures(survivors, col("doc_id"), col("text")))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("h", "kind", "cnt").as[(Long, Int, Long)]
        .collect().toSet
    assert(key(retracted) == key(scratch))
    assert(retracted.where(col("cnt") === 0L).isEmpty)
    // survivor scoring under the retracted model ≡ from-scratch
    val gotS = LanguageModel.lmScoreQuantized(survivors,
        col("doc_id"), col("text"), retracted)
      .as[(Long, Long, Long)].collect().toSet
    val wantS = LanguageModel.lmScoreQuantized(survivors,
        col("doc_id"), col("text"), scratch)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotS == wantS)
  }

  test("broadcast and shuffle-hash regimes score identically") {
    val docs = spark.read
      .parquet(s"$sf0001/documents.parquet").limit(80)
    val model = LanguageModel.lmModel(
      LanguageModel.lmFeatures(docs, col("doc_id"), col("text")))
    val a = LanguageModel.lmScoreQuantized(docs, col("doc_id"),
        col("text"), model)
      .as[(Long, Long, Long)].collect().toSet
    val b = Regime.forcing(0L)(LanguageModel.lmScoreQuantized(docs,
        col("doc_id"), col("text"), model))
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("ln arm rank-agrees with the quantized arm on well-separated docs") {
    val docs = spark.read
      .parquet(s"$sf0001/documents.parquet").limit(150)
    val train = docs.where(col("doc_id") % 3 =!= 0)
    val score = docs.where(col("doc_id") % 3 === 0)
    val model = LanguageModel.lmModel(
      LanguageModel.lmFeatures(train, col("doc_id"), col("text")))
    val qTop = LanguageModel.lmScoreQuantized(score, col("doc_id"),
        col("text"), model)
      .withColumn("avg",
        col("score").cast("double") / col("n_bigrams"))
      .orderBy(desc("avg"), asc("id")).limit(10)
      .select("id").as[Long].collect().toSet
    val lnTop = LanguageModel.lmLogProb(score, col("doc_id"),
        col("text"), model)
      .orderBy(desc("mean_logp"), asc("id")).limit(10)
      .select("id").as[Long].collect().toSet
    // qlog3 is a 1/3-bit-resolution log2: top sets agree to >= 70%
    assert(qTop.intersect(lnTop).size >= 7)
  }

  test("lmQualityFilter keeps exactly score/n >= num/den (negative rational thr)") {
    val scores = Seq((1L, 4L, -60L), (2L, 4L, -80L), (3L, 2L, -35L))
      .toDF("id", "n_bigrams", "score")
    // thr = −35/2: avg(-15) and avg(-17.5) pass, avg(-20) fails
    val kept = LanguageModel.lmQualityFilter(scores, -35L, 2L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }
}
