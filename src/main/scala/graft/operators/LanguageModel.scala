package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}

/** Count-based bigram language-model scoring — the CCNet-style
  * perplexity quality filter (Wenzek et al. 2020: score every document
  * under an LM fitted on a trusted slice; low-likelihood text is
  * boilerplate, gibberish, or OOD). The reference pipeline has no LM
  * axis; this is part of the 100 TB training-data surface, where
  * "perplexity bucket" is a first-class routing signal next to the
  * dedup gates.
  *
  * Model = add-one-smoothed bigram model over whitespace tokens:
  * p(w2|w1) = (C(w1 w2) + 1) / (C(w1 ·) + V), with C(w1 ·) the count
  * of bigram occurrences starting with w1 and V the number of distinct
  * observed contexts. Both counts come from ONE shingle pass; the
  * model rides 8-byte PolyFp keys ([[TextAnalysis.fingerprint]]) so
  * every exchange carries hashes + counts, never token text — and the
  * oracle can recompute the keys (`list_reduce` over `unicode()`),
  * unlike murmur/xxhash.
  *
  * Two scoring arms, the [[Selection]] adjudication:
  *  - **quantized arm** (oracle-hashed): per-bigram contribution
  *    `qlog3(c2+1) − qlog3(c1+V)` in 64-bit integers
  *    ([[Selection.qlog3]] — floor(3·log2) resolution) summed per doc.
  *    Bit-identical in Spark and DuckDB.
  *  - **ln arm** (production): exact `ln p(w2|w1)` doubles → mean
  *    log-prob (the sign-flipped log-perplexity). Spec-checked for
  *    rank agreement against the quantized arm; not oracle-hashed
  *    (transcendental libm values differ across engines in the last
  *    ulp).
  *
  * 100 TB posture: the fitted model is `minCount`-prunable (counts
  * below the floor are indistinguishable from unseen under +1
  * smoothing at qlog3 resolution only when tiny — pruning is a recall
  * knob, documented per call site); scoring is a hash-keyed join that
  * rides a broadcast when the measured model is small and degrades to
  * shuffle-hash above the limit ([[Curation.substringIncremental]]'s
  * regime gate). Counts are an additive monoid, so the persisted model
  * refreshes per batch without re-reading history
  * ([[refreshModel]] ≡ from-scratch fit, spec-pinned), and the
  * streaming gate ([[graft.streaming.StreamOps]]) folds each
  * micro-batch in idempotently.
  */
object LanguageModel {

  private def shingles(text: Column, n: Int): Column =
    toColumn(graft.functions.ShinglesExpr(toExpression(text), n))

  /** One row per bigram occurrence: (id, hg, h1) with hg =
    * fingerprint("w1 w2") and h1 = fingerprint("w1") — the join keys
    * for the bigram and context counts. Narrow map, no shuffle.
    */
  def lmFeatures(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(shingles(text, 2)).as("g"))
      .select(col("id"),
        TextAnalysis.fingerprint(col("g")).as("hg"),
        TextAnalysis.fingerprint(substring_index(col("g"), " ", 1))
          .as("h1"))

  /** Fit the model from training-corpus features: one table
    * (h, kind, cnt) with kind 1 = context counts C(w1 ·) keyed by h1
    * and kind 2 = bigram counts C(w1 w2) keyed by hg. Both aggregates
    * are map-side combined on 8-byte keys; `minCount` drops rare
    * ENTRIES from the persisted artifact (count floors are the
    * standard KenLM-style size/recall trade — unseen and pruned keys
    * score identically under the left-join-coalesce-0 scorer).
    */
  def lmModel(trainFeats: DataFrame, minCount: Long = 1L): DataFrame = {
    val uni = trainFeats.groupBy(col("h1").as("h"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("h"), lit(1).as("kind"), col("cnt"))
    val big = trainFeats.groupBy(col("hg").as("h"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("h"), lit(2).as("kind"), col("cnt"))
    uni.unionByName(big).where(col("cnt") >= minCount)
  }

  /** Integer LM score per document (quantized arm):
    * Σ_bigrams [qlog3(c2+1) − qlog3(c1+V)] plus the bigram count —
    * keep (score, n_bigrams) unreduced so thresholds compare
    * multiplicatively ([[lmQualityFilter]]) with no integer division
    * (floor-vs-trunc semantics differ across engines on negatives).
    * Docs with < 2 tokens have no bigrams and produce no row; the
    * caller's left-join-coalesce treats them as score 0
    * (vacuously predictable — route by token count separately).
    *
    * The model join is measured: a model whose row count fits
    * [[Regime]] rides a broadcast; above, both sides shuffle-hash on
    * the 8-byte key.
    */
  def lmScoreQuantized(docs: DataFrame, id: Column, text: Column,
                       model: DataFrame): DataFrame =
    lmScoreFromFeatures(lmFeatures(docs, id, text), model)

  /** [[lmScoreQuantized]] from pre-extracted features — the streaming
    * gate's form (one featurize pass per micro-batch, shared between
    * scoring and the model fold).
    */
  def lmScoreFromFeatures(feats: DataFrame, model: DataFrame): DataFrame = {
    val (joined, vRow) = joinModel(feats, model)
    joined.crossJoin(broadcast(vRow))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(Selection.qlog3(coalesce(col("c2"), lit(0L)) + 1) -
          Selection.qlog3(coalesce(col("c1"), lit(0L)) + col("__V")))
          .as("score"))
  }

  /** The shared model-join shape of both scoring arms: feats LEFT
    * joined to bigram and context counts (measured broadcast vs
    * shuffle-hash regime) plus the 1-row context-vocabulary aggregate.
    */
  private def joinModel(feats: DataFrame, model: DataFrame)
      : (DataFrame, DataFrame) = {
    val (staged, nModel) = Checkpoints.stageCount(model)
    val small = Regime.fits(nModel)
    val uni = staged.where(col("kind") === 1)
      .select(col("h").as("h1"), col("cnt").as("c1"))
    val big = staged.where(col("kind") === 2)
      .select(col("h").as("hg"), col("cnt").as("c2"))
    val vRow = uni.agg(count(lit(1)).as("__V"))
    val joined =
      if (small)
        feats.join(broadcast(big), Seq("hg"), "left")
          .join(broadcast(uni), Seq("h1"), "left")
      else
        feats.join(big.hint("shuffle_hash"), Seq("hg"), "left")
          .join(uni.hint("shuffle_hash"), Seq("h1"), "left")
    (joined, vRow)
  }

  /** Production ln arm: mean log-prob per document (higher = more
    * predictable; −mean·log2 e is log2-perplexity). Same join shape as
    * the quantized arm; doubles, spec-checked for rank agreement.
    */
  def lmLogProb(docs: DataFrame, id: Column, text: Column,
                model: DataFrame): DataFrame = {
    val (joined, vRow) = joinModel(lmFeatures(docs, id, text), model)
    joined.crossJoin(broadcast(vRow))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log((coalesce(col("c2"), lit(0L)) + 1).cast("double")) -
          log((coalesce(col("c1"), lit(0L)) + col("__V"))
            .cast("double")))
          .as("mean_logp"))
  }

  /** Keep documents whose MEAN quantized bigram score clears the
    * rational floor `num/den` (typically negative; `den` > 0):
    * `score · den ≥ num · n_bigrams` — the multiplicative form of
    * score/n ≥ num/den, exact in integers with sub-integer threshold
    * resolution (qlog3 means cluster within ~1 unit on homogeneous
    * corpora, so integer floors are too coarse to route with).
    */
  def lmQualityFilter(scores: DataFrame, num: Long, den: Long)
      : DataFrame = {
    require(den > 0, "den must be > 0")
    scores.where(col("score") * den >= lit(num) * col("n_bigrams"))
  }

  /** Persist a fitted model. The artifact is pruned-counts-sized (≤
    * observed vocab + bigram types after `minCount`), never
    * corpus-sized; one file is right up to ~10^8 entries, shard by
    * key-range beyond.
    */
  def saveModel(model: DataFrame, path: String): Unit =
    model.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  def loadModel(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental model refresh: counts are an additive monoid, so a
    * new training batch folds into the persisted table by summing per
    * (h, kind) — history is never re-tokenized or re-read beyond the
    * model itself. Refreshed ≡ from-scratch over history ∪ batch
    * (spec-pinned + oracle-checked end to end by x_lm_incremental).
    * NOTE: fold BEFORE pruning — refresh a minCount=1 store and prune
    * on read/save, else sub-floor history counts are lost to the sum.
    */
  def refreshModel(stored: DataFrame, newTrainFeats: DataFrame)
      : DataFrame =
    stored.select(col("h"), col("kind"), col("cnt"))
      .unionByName(lmModel(newTrainFeats))
      .groupBy(col("h"), col("kind"))
      .agg(sum(col("cnt")).as("cnt"))

  /** RETRACTION for the count-monoid model — the
    * [[Selection.retractBucketTable]] protocol on the LM counts:
    * subtract the deleted docs' unigram/bigram counts (one featurize
    * pass over the deleted docs, O(deleted)); rows whose count
    * reaches zero DROP, so the retracted model is bit-identical to a
    * from-scratch [[lmModel]] over the surviving corpus at the
    * default minCount = 1 (a higher training minCount filters counts
    * the subtraction cannot reconstruct — retraction-capable stores
    * must train at minCount = 1, the spec-pinned contract).
    */
  def retractModel(stored: DataFrame, deletedTrainFeats: DataFrame)
      : DataFrame =
    stored.select(col("h"), col("kind"), col("cnt"))
      .unionByName(lmModel(deletedTrainFeats)
        .select(col("h"), col("kind"), (-col("cnt")).as("cnt")))
      .groupBy(col("h"), col("kind"))
      .agg(sum(col("cnt")).as("cnt"))
      .where(col("cnt") =!= 0L)
}
