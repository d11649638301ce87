package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Regime, Similarity}

/** Near-dup operators verified on constructed duplicates (the synthetic
  * corpus is near-unique, so recall is asserted here, not in the driver's
  * rows-only checks).
  */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog " * 10
  // ~1 word changed per copy → jaccard >> 0.8 vs base
  def docs = Seq(
    (0L, base),
    (1L, base.replace("lazy", "sleepy")),          // near-dup of 0
    (2L, base),                                    // exact dup of 0
    (3L, "completely different content about spark catalyst optimizer " * 8),
    (4L, "another unrelated document mentioning shuffles and joins " * 8)
  ).toDF("doc_id", "text")

  test("exactKeepFirst keeps lowest id per identical text") {
    val out = Dedup.exactKeepFirst(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 1L, 3L, 4L)) // 2 deduped against 0
  }

  test("minhash LSH finds the constructed near-dup pair, skips unrelated") {
    val sh = Dedup.wordShingles(docs, col("doc_id"), col("text"), 3)
    val sigs = Dedup.minhashSignatures(sh, k = 32)
    val pairs = Dedup.minhashCandidates(sigs, rowsPerBand = 4,
      minEstJaccard = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 2L)))
    assert(pairs.contains((0L, 2L))) // exact dup always collides
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L))
  }

  test("minhash estimated jaccard ≈ 1 for exact dups") {
    val sh = Dedup.wordShingles(docs, col("doc_id"), col("text"), 3)
    val sigs = Dedup.minhashSignatures(sh, k = 32)
    val est = Dedup.minhashCandidates(sigs)
      .where($"id_a" === 0 && $"id_b" === 2)
      .select($"est_jaccard").as[Double].head()
    assert(est == 1.0)
  }

  test("simhash: identical docs get identical hashes, near-dups are close") {
    val h = Dedup.simhash(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    assert(h(0L) == h(2L))
    assert(java.lang.Long.bitCount(h(0L) ^ h(1L)) <= 16)
    assert(java.lang.Long.bitCount(h(0L) ^ h(3L)) > 16)
  }

  test("simhashCandidates blocks by 16-bit windows and verifies hamming") {
    val h = Dedup.simhash(docs, col("doc_id"), col("text"))
    val pairs = Dedup.simhashCandidates(h, maxDist = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 3, leftFilter = _ < 100)
      .select($"da", $"db", $"jac").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // repeated base text → small DISTINCT shingle sets; one changed word
    // per cycle still leaves ~43% of distinct shingles shared
    assert(pairs((0L, 2L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.4)
    assert(!pairs.contains((0L, 3L)))
  }

  test("ngramJaccardPairs: maxBucket drops stop-shingle buckets, " +
    "bounding the in-bucket pair expansion") {
    // adversarial corpus: one 3-gram shared by EVERY doc (the m²/2
    // blow-up a single stop phrase causes at scale), plus one true
    // near-dup pair sharing many RARE shingles
    val adv = ((0 until 30).map(i =>
        (i.toLong, s"terms of service unique$i filler$i body$i tail$i"))
      ++ Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta"),
        (101L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    // uncapped: the df=30 stop shingle alone expands 30·29/2 pairs
    val uncapped = Dedup.ngramJaccardPairs(adv, col("doc_id"),
      col("text"), n = 3, leftFilter = _ >= 0)
    assert(uncapped.count() == 30L * 29 / 2 + 1)
    // capped: the stop-shingle bucket is dropped wholesale; only the
    // rare-shingle near-dup pair survives, with its jac intact
    val capped = Dedup.ngramJaccardPairs(adv, col("doc_id"),
      col("text"), n = 3, leftFilter = _ >= 0, maxBucket = 10)
      .select($"da", $"db", $"jac").as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)))
    assert(math.abs(capped.head._3 - 5.0 / 7.0) < 1e-12)
  }

  test("allPairsJaccard: exact at theta, stop-shingle prefix-pruned") {
    // same adversarial corpus as the maxBucket test: a df=30 stop
    // shingle that the df-ordered prefix must EXCLUDE (it sorts last),
    // so the only candidate is the rare-shingle near-dup pair — yet
    // the result is EXACT: the stop-shingle pairs have jac = 1/11 < θ
    // and are correctly absent, not silently dropped
    val adv = ((0 until 30).map(i =>
        (i.toLong, s"terms of service unique$i filler$i body$i tail$i"))
      ++ Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta"),
        (101L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    val got = Dedup.allPairsJaccard(adv, col("doc_id"), col("text"),
      n = 3, theta = 0.5)
      .select($"da", $"db", $"inter", $"jac")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((100L, 101L)))
    assert(got.head._3 == 5L)
    assert(math.abs(got.head._4 - 5.0 / 7.0) < 1e-12)
    // and it agrees with the uncapped exact path filtered at theta
    val exact = Dedup.ngramJaccardPairs(adv, col("doc_id"), col("text"),
      n = 3, leftFilter = _ >= 0).where($"jac" >= 0.5)
      .select($"da", $"db", $"inter").as[(Long, Long, Long)]
      .collect().toSet
    assert(got.map(p => (p._1, p._2, p._3)).toSet == exact)
  }

  test("allPairsJaccard df-stats: persisted+merged stats reproduce the " +
      "from-scratch result exactly, and even STALE stats (batch " +
      "shingles absent) stay exact — any consistent order works") {
    val hist = ((0 until 30).map(i =>
        (i.toLong, s"terms of service unique$i filler$i body$i tail$i"))
      ++ Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta iota"),
      (102L, "wholly fresh content never seen before anywhere else"))
      .toDF("doc_id", "text")
    val corpus = hist.unionByName(batch)
    val statsDir = java.nio.file.Files
      .createTempDirectory("graft-dfstats-").toString + "/stats"
    Dedup.writeDfStats(hist, col("doc_id"), col("text"), 3, statsDir)
    def run(stats: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.allPairsJaccard(corpus, col("doc_id"), col("text"),
        n = 3, theta = 0.5, dfStats = stats)
        .select($"da", $"db", $"inter", $"na", $"nb")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val scratch = run(None)
    // merged stats ≡ from-scratch counts over hist ∪ batch (sum monoid)
    val merged = Dedup.mergeDfStats(spark.read.parquet(statsDir),
      batch, col("doc_id"), col("text"), 3)
    assert(run(Some(merged)) == scratch, "merged-stats run diverged")
    assert(scratch.map(p => (p._1, p._2)) == Set((100L, 101L)))
    // stale stats: history-only frequencies, batch shingles default to
    // df 1 — candidates may grow, the exact verify keeps results equal
    assert(run(Some(spark.read.parquet(statsDir))) == scratch,
      "stale-stats run diverged")
  }

  test("semDedup: full-probe form ≡ brute force; keep marks min per group") {
    // 2 semantic triples (near-identical vectors) + 2 singletons
    def vec(seed: Int, eps: Double): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 97 + i + 1) +
        (if (i == 0) eps else 0.0)).toFloat)
    val embs = Seq(
      (0L, vec(1, 0)), (1L, vec(1, 0.01)), (2L, vec(1, 0.02)),
      (10L, vec(2, 0)), (11L, vec(2, 0.01)), (12L, vec(2, 0.02)),
      (20L, vec(3, 0)), (21L, vec(4, 0))).toDF("id", "vec")
    val cents = graft.operators.Similarity.fitCentroids(embs, k = 4,
      iters = 2)
    // probes = #cells: every vector in every cell → candidate space is
    // complete, so the result must equal brute force BIT-FOR-BIT (same
    // dot/l2Norm expressions on both paths)
    val full = Dedup.semDedupPairs(embs, cents, threshold = 0.9,
        probes = cents.length)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)]
      .collect().toSet
    val brute = graft.operators.Similarity.bruteForcePairs(embs, 0.9)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)]
      .collect().toSet
    assert(full == brute)
    assert(brute.map(p => (p._1, p._2)) ==
      Set((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L), (10L, 12L),
        (11L, 12L)))
    // production probes: a SUBSET of brute force (exact verify ⇒ no
    // false positives, clustering can only miss)
    val prod = Dedup.semDedupPairs(embs, cents, threshold = 0.9,
        probes = 2)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)]
      .collect().toSet
    assert(prod.subsetOf(brute))
    // near-identical triples land in one cell: nothing is missed here
    assert(prod == brute)
    // resolution: min id survives per group, singletons keep themselves
    val kept = Dedup.semDedup(embs, cents, threshold = 0.9, probes = 2)
      .select($"id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(kept.filter(_._2).keySet == Set(0L, 10L, 20L, 21L))
  }

  test("wordShingles: doc shorter than n yields no shingles") {
    val tiny = Seq((9L, "only two")).toDF("doc_id", "text")
    assert(Dedup.wordShingles(tiny, col("doc_id"), col("text"), 3)
      .count() == 0)
  }

  test("embeddingNearDup finds duplicate vectors via LSH buckets") {
    val v1 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v2 = v1.clone(); v2(0) = v2(0) + 0.01f // near-dup
    val v3 = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val embs = Seq((0L, v1), (1L, v2), (2L, v3))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(embs, col("vec_id"),
      col("embedding"), threshold = 0.99)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingNearDup recall >= 0.9 vs brute force on the gaussian " +
      "fixture (adversarial theta = 0.42)") {
    val e = graft.queries.ParityQueries.t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Similarity.bruteForcePairs(e, 0.42)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDup(e, col("id"), col("vec"), 0.42,
        planes = 10, tables = 12, multiprobe = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // LSH + exact verify can only miss, never invent
    assert((lsh -- exact).isEmpty)
    assert(lsh.size * 10 >= exact.size * 9,
      s"recall ${lsh.size}/${exact.size}")
  }

  test("embeddingNearDup at a REAL near-dup threshold: planted dups, " +
      "16 planes, full recall with strong candidate pruning") {
    // 100 planted near-dup pairs (clone + small noise, cos >= 0.9) in a
    // sea of 400 random gaussians — the regime the operator actually
    // targets at scale. 16 planes / 8 tables: every planted pair found,
    // candidates a small fraction of the 499·1000/2 pair space.
    val rnd = new scala.util.Random(7)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = Array.fill(100)(gauss())
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val noisy = b.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, b), (i.toLong * 2 + 1, noisy))
    } ++ (0 until 800).map(i => ((200 + i).toLong, gauss()))
    val embs = rows.toSeq.toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDup(embs, col("vec_id"),
        col("embedding"), 0.9, planes = 16, tables = 8, multiprobe = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 100).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(planted.subsetOf(found), s"missed ${(planted -- found).size}")
    val cand = Dedup.embeddingCandidates(
      embs.select($"vec_id".as("id"), $"embedding".as("vec")),
      planes = 16, tables = 8, multiprobe = 1, dim = 64,
      maxBucket = 100000).count()
    val allPairs = 1000L * 999 / 2
    assert(cand < allPairs / 20, s"candidates $cand of $allPairs")
  }

  // ---------- incremental signature-store near-dup ----------

  val histIncr = Seq(
    (0L, base),
    (1L, "completely different content about spark catalyst optimizer " * 8),
    (2L, "another unrelated document mentioning shuffles and joins " * 8)
  ).toDF("doc_id", "text")
  val batchIncr = Seq(
    // base has ~9 distinct shingles (repeated phrase); ONE appended
    // word adds a single shingle → J ≈ 0.9, decisively over 0.8
    (10L, base + "tail"),                    // near-dup of history 0
    (11L, base),                             // exact dup of history 0
    (12L, "fresh survey of watermark semantics in stream joins " * 8),
    (13L, "fresh survey of watermark semantics in stream joins " * 8
      + "appendix"),                         // near-dup of batch 12
    (14L, "a genuinely novel page on bucketed table layouts " * 8)
  ).toDF("doc_id", "text")

  def storeOf(df: org.apache.spark.sql.DataFrame) =
    Dedup.minhashSigsNative(df, col("doc_id"), col("text"))

  test("minhashIncremental: batch dups of history AND of earlier batch " +
      "docs drop; history is never touched; unique docs survive") {
    val out = Dedup.minhashIncremental(batchIncr, col("doc_id"),
        col("text"), storeOf(histIncr))
      .select($"doc_id").as[Long].collect().toSet
    // 10, 11 collide with history doc 0; 13 with batch doc 12
    assert(out == Set(12L, 14L))
  }

  test("minhashIncremental ≡ batch minhashCandidates over history ∪ " +
      "batch restricted to new larger-ids") {
    val all = histIncr.unionByName(batchIncr)
    val removedFull = Dedup.minhashCandidates(
        Dedup.minhashSigsNative(all, col("doc_id"), col("text")))
      .where($"est_jaccard" >= 0.8 && $"id_b" >= 10)
      .select($"id_b").as[Long].collect().toSet
    val expect = Set(10L, 11L, 12L, 13L, 14L) -- removedFull
    val incr = Dedup.minhashIncremental(batchIncr, col("doc_id"),
        col("text"), storeOf(histIncr))
      .select($"doc_id").as[Long].collect().toSet
    assert(incr == expect)
  }

  test("minhashIncremental maxBucket counts the TOTAL (store + new) " +
      "bucket size, matching the batch cap") {
    // 12 identical history docs + 1 identical new doc: every bucket
    // holding them has 13 members
    val hist = (0L until 12L).map(i => (i, base)).toDF("doc_id", "text")
    val nw = Seq((100L, base), (101L, "unrelated talk about codegen " * 8))
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minhashIncremental(nw, col("doc_id"),
        col("text"), storeOf(hist), maxBucket = cap)
      .select($"doc_id").as[Long].collect().toSet
    // cap below 13: the degenerate bucket is dropped wholesale, the
    // duplicate slips through (exact dedup's job, not LSH's) — same as
    // the batch path's skew guard
    assert(run(10) == Set(100L, 101L))
    assert(run(100) == Set(101L))
  }

  test("minhashIncremental shuffle arm (batch over broadcastLimit): " +
      "row-identical to the broadcast arm, zero broadcast exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def run(limit: Long) = Regime.forcing(limit)(
        Dedup.minhashIncremental(batchIncr, col("doc_id"), col("text"),
          storeOf(histIncr)))
      val bc = run(Long.MaxValue)
      val sh = run(0L)
      assert(sh.select($"doc_id").as[Long].collect().toSet ==
        bc.select($"doc_id").as[Long].collect().toSet)
      // with auto-broadcast off and no hints taken, the large-batch
      // arm must not build a single broadcast relation
      assert(!sh.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
      // ...while the small arm's hints still force them
      assert(bc.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("embeddingIncremental ≡ batch embeddingNearDup over history ∪ " +
      "batch restricted to new larger-ids; planted cross-era dups found") {
    val rnd = new scala.util.Random(19)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    // history 0..99; batch 100..149 where 100..119 are near-clones of
    // history 0..19 and 140/141 are near-clones of each other
    val hist = (0 until 100).map(i => (i.toLong, gauss()))
    val cloneOf = (0 until 20).map { i =>
      ((100 + i).toLong,
        hist(i)._2.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    val batchBase = gauss()
    val batch = cloneOf ++
      Seq((140L, batchBase),
        (141L, batchBase.map(x => x + 0.03f * rnd.nextGaussian().toFloat))) ++
      (0 until 8).map(i => ((150 + i).toLong, gauss()))
    val histDf = hist.toDF("id", "vec")
    val batchDf = batch.toDF("id", "vec")
    val store = Dedup.embeddingCodes(histDf, col("id"), col("vec"),
      planes = 16, tables = 8)
    val incr = Dedup.embeddingIncremental(batchDf, col("id"), col("vec"),
        store, histDf, 0.9, planes = 16, tables = 8, multiprobe = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.embeddingNearDup(histDf.unionByName(batchDf),
        col("id"), col("vec"), 0.9, planes = 16, tables = 8,
        multiprobe = 1)
      .where($"id_b" >= 100)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(incr == full)
    // every planted cross-era clone pair and the intra-batch pair found
    val planted = (0 until 20).map(i => (i.toLong, (100 + i).toLong))
      .toSet + ((140L, 141L))
    assert(planted.subsetOf(incr), s"missed ${(planted -- incr).size}")
  }

  test("embeddingIncremental maxBucket counts the TOTAL (store + new) " +
      "bucket size, matching the batch cap") {
    val rnd = new scala.util.Random(29)
    val v = Array.fill(64)(rnd.nextGaussian().toFloat)
    // 12 identical history vectors + 1 identical new one: every bucket
    // holding them has 13 distinct members
    val hist = (0L until 12L).map(i => (i, v)).toDF("id", "vec")
    val nw = Seq((100L, v),
      (101L, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val store = Dedup.embeddingCodes(hist, col("id"), col("vec"),
      planes = 16, tables = 8)
    def dups(cap: Int) = Dedup.embeddingIncremental(nw, col("id"),
        col("vec"), store, hist, 0.9, planes = 16, tables = 8,
        multiprobe = 1, maxBucket = cap)
      .select($"id_b").as[Long].collect().toSet
    // cap below 13: the degenerate bucket drops wholesale — the dup
    // slips through, exactly the batch path's skew guard
    assert(dups(10) == Set.empty)
    assert(dups(100) == Set(100L))
  }

  test("embeddingIncremental shuffle arm (batch over broadcastLimit) " +
      "is row-identical to the broadcast arm") {
    val rnd = new scala.util.Random(37)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val hist = (0 until 50).map(i => (i.toLong, gauss()))
    val batch = hist.take(5).map { case (i, v) =>
      (100 + i, v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    } ++ (0 until 5).map(i => ((200 + i).toLong, gauss()))
    val histDf = hist.toDF("id", "vec")
    val batchDf = batch.toDF("id", "vec")
    val store = Dedup.embeddingCodes(histDf, col("id"), col("vec"),
      planes = 16, tables = 8)
    def run(limit: Long) = Regime.forcing(limit)(
        Dedup.embeddingIncremental(batchDf, col("id"), col("vec"), store,
          histDf, 0.9, planes = 16, tables = 8, multiprobe = 1))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val bc = run(Long.MaxValue)
    assert(run(0L) == bc)
    assert((0 until 5).map(i => (i.toLong, (100 + i).toLong)).toSet
      .subsetOf(bc))
  }

  test("neardupPrCurve: counts match an independent recount of both " +
      "arms on a corpus with real misses and estimator noise") {
    // word-soup docs with graded overlap: pairs land at jaccard
    // 0.4-1.0 so the 32-perm estimate disagrees with truth near the
    // thresholds, exercising fp/fn, not just tp
    val vocab = (0 until 60).map(i => s"w$i")
    def doc(start: Int, len: Int): String =
      (start until start + len).map(i => vocab(i % 60)).mkString(" ")
    val docs = Seq(
      1L -> doc(0, 30), 2L -> doc(0, 30),      // exact dup
      3L -> doc(0, 30), 4L -> doc(3, 30),      // high overlap
      5L -> doc(10, 24), 6L -> doc(14, 24),    // mid overlap
      7L -> doc(30, 20), 8L -> doc(36, 20),    // lower overlap
      9L -> doc(0, 12), 10L -> doc(48, 12)
    ).toDF("doc_id", "text")
    val thetas = Seq(0.5, 0.7, 0.9)
    val got = Dedup.neardupPrCurve(docs, col("doc_id"), col("text"),
        thetas)
      .collect().map(r => (r.getDouble(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // independent recount from the arms' own outputs
    val ex = Dedup.allPairsJaccard(docs, col("doc_id"), col("text"),
        n = 3, theta = 0.5)
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        r.getAs[Double]("jac")).toMap
    val pr = Dedup.minhashCandidates(Dedup.minhashSigsNative(docs,
        col("doc_id"), col("text")))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    thetas.foreach { t =>
      val tp = (ex.keySet ++ pr.keySet).count(k =>
        ex.get(k).exists(_ >= t) && pr.get(k).exists(_ >= t))
      val fp = pr.count { case (k, e) => e >= t && !ex.get(k).exists(_ >= t) }
      val fn = ex.count { case (k, j) => j >= t && !pr.get(k).exists(_ >= t) }
      assert(got(t) == ((tp.toLong, fp.toLong, fn.toLong)), s"theta=$t")
    }
    // the fixture is adversarial enough to move every counter somewhere
    assert(got.values.map(_._1).sum > 0)
    assert(got.values.map(_._2).sum + got.values.map(_._3).sum > 0,
      "fixture produced no disagreement - weaken it and re-derive")
  }
}
