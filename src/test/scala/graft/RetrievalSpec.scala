package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Graph, Regime, Retrieval, TextAnalysis,
  Training}

/** Round-8 retrieval/training tier: BM25 (both idf arms), content-
  * defined-chunk substring dedup (vs an independent in-memory
  * reference), normal-equation training (exact recovery of a planted
  * linear model), and fixed-point PageRank (hand-computed graphs,
  * determinism, mass conservation).
  */
class RetrievalSpec extends SparkSuite {
  import spark.implicits._

  // ---------------------------------------------------------- BM25 --

  private def bm25Fixture = Seq(
    (1L, "cat dog cat cat fish"),
    (2L, "cat dog"),
    (3L, "dog dog dog bird"),
    (4L, "fish bird tuna heron stork crane egret"),
    (5L, "cat cat cat cat cat cat cat cat")).toDF("id", "text")

  test("bm25: higher tf wins at equal dl; absent terms score zero docs out") {
    val r = TextAnalysis.bm25Scores(bm25Fixture, col("id"), col("text"),
      Seq("cat")).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // docs 1,2,5 contain 'cat'; 3 and 4 must be absent
    assert(r.keySet == Set(1L, 2L, 5L))
    // doc 5 is pure 'cat' (tf 8), doc 2 tf 1 at shorter dl, doc 1 tf 3
    assert(r(5L) > r(1L) && r(1L) > r(2L))
  }

  test("bm25: rational and lucene idf arms agree where they must") {
    def ranking(mode: String, terms: Seq[String]): Seq[Long] =
      TextAnalysis.bm25TopK(bm25Fixture, col("id"), col("text"),
        terms, k = 5, idfMode = mode)
        .select(col("id")).collect().map(_.getLong(0)).toSeq
    // single term: idf is a constant positive factor — the arms MUST
    // produce the identical ordering
    assert(ranking("rational", Seq("cat")) ==
      ranking("lucene", Seq("cat")))
    // multi-term: the retrieved SET is idf-independent (docs matching
    // any term); ordering may differ (log damping reweights terms)
    assert(ranking("rational", Seq("cat", "bird")).toSet ==
      ranking("lucene", Seq("cat", "bird")).toSet)
  }

  test("bm25: term missing from the corpus contributes nothing and breaks nothing") {
    val r = TextAnalysis.bm25TopK(bm25Fixture, col("id"), col("text"),
      Seq("zebra", "cat"), k = 10).collect()
    assert(r.map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
  }

  // ------------------------------------------- CDC substring dedup --

  /** Independent in-memory mirror of CdcWindowsExpr (codepoint poly
    * anchors), for reference-checking the distributed operator.
    */
  private def refWindows(s: String, window: Int = 40, anchorLen: Int = 8,
                         anchorMod: Int = 16): Set[String] = {
    val cps = s.codePoints().toArray
    (0 to cps.length - window).flatMap { p =>
      var h = 0L
      (0 until anchorLen).foreach { j =>
        h = (h * 31 + cps(p + j)) % 1000000007L
      }
      if (h % anchorMod == 0)
        Some(new String(cps, p, window))
      else None
    }.toSet
  }

  private val sharedPassage =
    "the quick brown fox jumps over the lazy dog while counting tokens"

  test("cdcWindows: alignment-free — shared passage at different offsets emits identical windows") {
    val a = s"unique prefix alpha $sharedPassage"
    val b = s"a completely different and much longer prefix beta gamma $sharedPassage"
    assert(refWindows(sharedPassage).nonEmpty,
      "fixture passage must contain at least one anchor")
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val wins = df.select(col("id"),
        explode(Curation.cdcWindows(col("text"))).as("win"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    // expression matches the reference mirror exactly
    assert(wins(1L) == refWindows(a))
    assert(wins(2L) == refWindows(b))
    // and the shared passage yields at least one common window
    assert((wins(1L) intersect wins(2L)).nonEmpty)
  }

  test("cdcWindows: short text yields no windows") {
    val df = Seq((1L, "tiny")).toDF("id", "text")
    assert(df.select(explode(Curation.cdcWindows(col("text"))))
      .count() == 0)
  }

  test("substringDupPairs matches a brute-force reference on a mixed corpus") {
    val docs = Seq(
      1L -> s"first document intro $sharedPassage and a tail",
      2L -> s"second doc other words before $sharedPassage trailing",
      3L -> "entirely unrelated content with no repeated passage inside here at all",
      4L -> s"third member that also embeds $sharedPassage somewhere",
      5L -> "short one")
    val expected = {
      val w = docs.map { case (id, t) => id -> refWindows(t) }.toMap
      (for {
        (a, wa) <- w; (b, wb) <- w if a < b
        shared = (wa intersect wb).size if shared > 0
      } yield (a, b, shared.toLong)).toSet
    }
    val got = Curation.substringDupPairs(
        docs.toDF("id", "text"), col("id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(expected.exists { case (a, b, _) =>
      Set(a, b).subsetOf(Set(1L, 2L, 4L)) },
      "fixture must actually produce shared-passage pairs")
    assert(!got.exists { case (a, b, _) => a == 3L || b == 3L || a == 5L || b == 5L })
  }

  test("substringDupPairs: maxBucket drops ubiquitous boilerplate windows") {
    // 6 docs all share the passage; cap 5 < 6 → the shared windows are
    // boilerplate-dropped, so no pairs survive unless docs share
    // something else (they don't).
    val docs = (1L to 6L).map(i => i -> s"doc number $i padding $sharedPassage")
    val got = Curation.substringDupPairs(docs.toDF("id", "text"),
      col("id"), col("text"), maxBucket = 5)
    assert(got.count() == 0)
  }

  test("scrubSharedWindows: keeper keeps text byte-for-byte, others lose the shared spans") {
    val docs = Seq(
      1L -> s"alpha leading words $sharedPassage trailing bits",
      2L -> s"totally different preamble here $sharedPassage and more",
      3L -> "no shared passage in this one at all just unique words")
    val out = Curation.scrubSharedWindows(
        docs.toDF("id", "text"), col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byId = docs.toMap
    // keeper (min id) and the untouched doc survive byte-for-byte
    assert(out(1L) == byId(1L))
    assert(out(3L) == byId(3L))
    // doc 2 lost every window it shares with doc 1, kept its preamble
    val shared = refWindows(byId(1L)) intersect refWindows(byId(2L))
    assert(shared.nonEmpty)
    shared.foreach(w => assert(!out(2L).contains(w), s"window [$w] not scrubbed"))
    assert(out(2L).startsWith("totally different preamble here"))
    // scrubbing is position-exact: rebuild expectation by hand
    val spans = refWindows(byId(2L)).filter(shared.contains).flatMap { w =>
      val cps = byId(2L)
      // every anchor occurrence of w in doc 2
      (0 to cps.length - 40).filter(p => cps.substring(p, p + 40) == w &&
        refAnchors(cps).contains(p + 1))
    }
    val covered = spans.flatMap(p => p until p + 40).toSet
    val manual = byId(2L).zipWithIndex
      .collect { case (ch, i) if !covered.contains(i) => ch }.mkString
    assert(out(2L) == manual)
  }

  /** 1-based anchor positions of the reference mirror. */
  private def refAnchors(s: String, anchorLen: Int = 8,
                         anchorMod: Int = 16, window: Int = 40): Set[Int] = {
    val cps = s.codePoints().toArray
    (0 to cps.length - window).flatMap { p =>
      var h = 0L
      (0 until anchorLen).foreach { j =>
        h = (h * 31 + cps(p + j)) % 1000000007L
      }
      if (h % anchorMod == 0) Some(p + 1) else None
    }.toSet
  }

  test("DropSpansExpr: overlap merge, unsorted input, full coverage") {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    def drop(text: String, ps: Seq[Int], window: Int): String = {
      val df = Seq((text, ps)).toDF("t", "ps")
      df.select(bridge.toColumn(graft.functions.DropSpansExpr(
          bridge.toExpression(col("t")),
          bridge.toExpression(col("ps")), window)).as("out"))
        .collect().head.getString(0)
    }
    assert(drop("abcdefghij", Seq(3), 4) == "abghij")
    // overlapping + unsorted: [3,6) ∪ [5,8) = [3,8)
    assert(drop("abcdefghij", Seq(5, 3), 3) == "abhij")
    // adjacent spans
    assert(drop("abcdefghij", Seq(1, 4), 3) == "ghij")
    // full coverage → empty string
    assert(drop("abcd", Seq(1), 10) == "")
    // duplicate positions are harmless
    assert(drop("abcdefghij", Seq(2, 2), 2) == "adefghij")
  }

  test("cdcFingerprints: property — matches the codepoint reference on " +
      "random multi-script corpora (ASCII, CJK, emoji, 1-4 byte UTF-8)") {
    val rnd = new scala.util.Random(4217)
    val alphabets = Seq(
      ('a' to 'z').map(_.toString) :+ " ",
      Seq("漢", "字", "語", "言", " ", "の", "テ", "ス", "ト"),
      Seq("a", " ", "é", "ß", "👍", "🚀", "中", "z"),
      Seq("α", "β", " ", "γ"))
    val docs = (1L to 60L).map { i =>
      val ab = alphabets(rnd.nextInt(alphabets.length))
      val len = 30 + rnd.nextInt(120)
      i -> Seq.fill(len)(ab(rnd.nextInt(ab.length))).mkString
    }
    val got = docs.toDF("id", "text")
      .select(col("id"),
        Curation.cdcFingerprints(col("text")).as("fps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == refFps(text), s"doc $id mismatch")
    }
    // the corpus must actually exercise anchors on non-ASCII docs
    assert(docs.exists { case (id, t) =>
      t.exists(_ > 127) && got(id).nonEmpty })
  }

  // ------------------------------- incremental substring store --

  private def polyRef(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)

  private def refFps(s: String): Set[Long] =
    refWindows(s).map(polyRef)

  test("substringIncremental: pruned store gate equals full recompute; scan opens fewer files") {
    val passB = "another rather long shared passage that repeats across documents verbatim"
    val hist = (1L to 60L).map { i =>
      val extra =
        if (i % 5 == 0) s" $sharedPassage" else if (i % 7 == 0) s" $passB" else ""
      i -> s"history document number $i with filler words making it long enough$extra"
    }
    val batch = Seq(
      101L -> s"new doc embedding the passage $sharedPassage tail",
      102L -> s"fresh unique content with nothing repeated from history at all dramatically",
      103L -> s"another newcomer carrying $passB inside")
    val dir = java.nio.file.Files.createTempDirectory("winstore-spec-").toString
    val (store, manifest) = (s"$dir/store", s"$dir/manifest")
    Curation.writeWindowStore(hist.toDF("id", "text"), col("id"),
      col("text"), store, manifest, filesOut = 16)
    val got = Curation.substringIncremental(batch.toDF("id", "text"),
        col("id"), col("text"), store, manifest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent full recompute
    val histFps = hist.flatMap(h => refFps(h._2)).toSet
    val expected = batch
      .map { case (id, t) => id -> (refFps(t) intersect histFps).size.toLong }
      .filter(_._2 > 0).toMap
    assert(got == expected)
    assert(expected.keySet == Set(101L, 103L),
      "fixture must flag exactly the passage-carrying newcomers")
    // file accounting: the batch's store scan opens strictly fewer
    // files than the store holds
    val batchFps = batch.flatMap(b => refFps(b._2)).toSet.toSeq
    val kept = graft.operators.Stats.touchedKeysKeptFiles(spark, store,
      manifest, "fp", batchFps.toDF("fp"))
    val total = spark.read.parquet(store).inputFiles.length
    assert(kept.nonEmpty && kept.size < total,
      s"kept ${kept.size} of $total")
    // append a new history slice; refreshed manifest covers it
    val extra = Seq(200L -> s"appended history also holding $sharedPassage here")
    Curation.appendWindowStore(extra.toDF("id", "text"), col("id"),
      col("text"), store, manifest, filesOut = 2)
    val got2 = Curation.substringIncremental(batch.toDF("id", "text"),
        col("id"), col("text"), store, manifest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val histFps2 = histFps ++ refFps(extra.head._2)
    val expected2 = batch
      .map { case (id, t) => id -> (refFps(t) intersect histFps2).size.toLong }
      .filter(_._2 > 0).toMap
    assert(got2 == expected2)
  }

  test("compactWindowStore: appends fold into a clustered layout; gate " +
      "results identical, fewer files, pruning follows the new layout") {
    val hist = (1L to 40L).map(i =>
      i -> s"history doc $i long enough for anchors${
        if (i % 4 == 0) s" $sharedPassage" else ""}")
    val batch = Seq(
      900L -> s"newcomer with the $sharedPassage embedded",
      901L -> "completely novel content nothing shared with any history")
    val dir = java.nio.file.Files.createTempDirectory("wincompact-").toString
    val (store, manifest) = (s"$dir/store", s"$dir/manifest")
    Curation.writeWindowStore(hist.take(10).toDF("id", "text"), col("id"),
      col("text"), store, manifest, filesOut = 4)
    // fragment: three appends of 10 docs each
    hist.drop(10).grouped(10).foreach { g =>
      Curation.appendWindowStore(g.toDF("id", "text"), col("id"),
        col("text"), store, manifest, filesOut = 4)
    }
    val before = Curation.substringIncremental(batch.toDF("id", "text"),
        col("id"), col("text"), store, manifest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val filesBefore = spark.read.parquet(store).inputFiles.length
    val n = Curation.compactWindowStore(spark, store, manifest, filesOut = 4)
    val filesAfter = spark.read.parquet(store).inputFiles.length
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")
    assert(n == spark.read.parquet(store).count())
    val after = Curation.substringIncremental(batch.toDF("id", "text"),
        col("id"), col("text"), store, manifest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
    assert(after.keySet == Set(900L))
    // the rebuilt manifest covers exactly the compacted files, so the
    // touched-key scan still prunes (batch fps hit a strict subset)
    val batchFps = batch.flatMap(b => refFps(b._2)).toSet.toSeq
    val kept = graft.operators.Stats.touchedKeysKeptFiles(spark, store,
      manifest, "fp", batchFps.toDF("fp"))
    assert(kept.nonEmpty && kept.size < filesAfter,
      s"kept ${kept.size} of $filesAfter")
  }

  test("substringIncrementalPairs: store-vs-batch edges equal the " +
      "full-recompute cross pairs, in both join regimes") {
    val passB = "another rather long shared passage that repeats across documents verbatim"
    val hist = (1L to 30L).map { i =>
      val extra =
        if (i % 4 == 0) s" $sharedPassage" else if (i % 9 == 0) s" $passB" else ""
      i -> s"history item $i padded with enough words to anchor$extra"
    }
    val batch = Seq(
      101L -> s"carrier of $sharedPassage right here",
      102L -> "totally original content sharing nothing with the past corpus",
      103L -> s"late arrival with $passB and then some")
    val dir = java.nio.file.Files.createTempDirectory("winpairs-").toString
    val (store, manifest) = (s"$dir/store", s"$dir/manifest")
    Curation.writeWindowStore(hist.toDF("id", "text"), col("id"),
      col("text"), store, manifest, filesOut = 8)
    def run(limit: Long) = Regime.forcing(limit)(
        Curation.substringIncrementalPairs(batch.toDF("id", "text"),
          col("id"), col("text"), store, manifest))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      (hi, ht) <- hist; (bi, bt) <- batch
      if (refFps(ht) intersect refFps(bt)).nonEmpty
    } yield (hi, bi)).toSet
    assert(run(4000000L) == expected)
    assert(run(0L) == expected)
    assert(expected.nonEmpty &&
      expected.map(_._2) == Set(101L, 103L))
  }

  test("substringIncremental: shuffle regime (broadcastLimit = 0) agrees") {
    val hist = Seq(1L -> s"base holder of $sharedPassage right here")
    val batch = Seq(2L -> s"newcomer also with $sharedPassage attached")
    val dir = java.nio.file.Files.createTempDirectory("winstore-spec2-").toString
    Curation.writeWindowStore(hist.toDF("id", "text"), col("id"),
      col("text"), s"$dir/store", s"$dir/manifest", filesOut = 4)
    def run(limit: Long) = Regime.forcing(limit)(
        Curation.substringIncremental(batch.toDF("id", "text"), col("id"),
          col("text"), s"$dir/store", s"$dir/manifest"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(run(4000000L) == run(0L))
    assert(run(0L).nonEmpty)
  }

  // ------------------------------------------------- rank fusion --

  test("rrfFuse: hand-computed 2-arm fusion; arm order is irrelevant " +
      "bit-for-bit") {
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    def run(arms: Seq[org.apache.spark.sql.DataFrame]) =
      Retrieval.rrfFuse(arms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val got = run(Seq(a, b))
    val expected = Seq(
      (2L, 1.0 / 62 + 1.0 / 61, 2L),
      (1L, 1.0 / 61, 1L),
      (4L, 1.0 / 62, 1L),
      (3L, 1.0 / 63, 1L))
    assert(got.toSeq == expected)
    assert(run(Seq(b, a)).toSeq == expected)
  }

  test("mmrRerank: redundancy is penalized — the diverse candidate " +
      "overtakes a near-duplicate of the top pick") {
    // doc 1 (top score) and doc 2 are near-identical vectors; doc 3 is
    // orthogonal with slightly lower score than 2. Pure relevance
    // ranks (1, 2, 3); MMR at λ=0.5 ranks (1, 3, 2).
    val cand = Seq(
      (1L, 1.00, Seq(1.0f, 0.0f)),
      (2L, 0.90, Seq(0.999f, 0.01f)),
      (3L, 0.85, Seq(0.0f, 1.0f))).toDF("id", "score", "vec")
    val got = Retrieval.mmrRerank(cand, k = 3)
      .orderBy(col("mmr_rank"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 3L, 2L))
    assert(got.map(_._2) == Seq(1, 2, 3))
  }

  test("mmrRerank: λ=1 reduces to pure relevance order; shortlist " +
      "guard trips on oversized input") {
    val cand = Seq(
      (1L, 0.5, Seq(1.0f, 0.0f)),
      (2L, 0.9, Seq(1.0f, 0.0f)),
      (3L, 0.7, Seq(1.0f, 0.0f))).toDF("id", "score", "vec")
    val got = Retrieval.mmrRerank(cand, k = 3, lambda = 1.0)
      .orderBy(col("mmr_rank"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L, 1L))
    val big = spark.range(0, 50)
      .select(col("id"), lit(1.0).as("score"),
        array(lit(1.0f), lit(0.0f)).as("vec"))
    val e = intercept[IllegalArgumentException] {
      Retrieval.mmrRerank(big, k = 3, maxShortlist = 10)
    }
    assert(e.getMessage.contains("shortlist"))
  }

  test("mmrRerankMany ≡ mmrRerank per query; per-query shortlist " +
      "guard; queries never cross-penalize") {
    // query 1: the redundancy fixture; query 2: pure-relevance ties —
    // doc ids deliberately OVERLAP across queries, so any cross-query
    // leakage in the similarity penalty would change a ranking
    val cand = Seq(
      (1L, 1L, 1.00, Seq(1.0f, 0.0f)),
      (1L, 2L, 0.90, Seq(0.999f, 0.01f)),
      (1L, 3L, 0.85, Seq(0.0f, 1.0f)),
      (2L, 1L, 0.5, Seq(1.0f, 0.0f)),
      (2L, 2L, 0.9, Seq(1.0f, 0.0f)),
      (2L, 3L, 0.7, Seq(1.0f, 0.0f)))
      .toDF("query_id", "id", "score", "vec")
    val manyDf = Retrieval.mmrRerankMany(cand, k = 3)
    // distributed shape: the many path is a lazy plan whose greedy
    // re-rank runs inside a MapGroups node on executors — a driver
    // collect would instead yield a pre-materialized LocalRelation
    // with no MapGroups anywhere
    assert(manyDf.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.catalyst.plans.logical.MapGroups => m
      }.nonEmpty,
      "mmrRerankMany must re-rank inside the plan, not on the driver")
    val many = manyDf
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3)))
      .groupBy(_._1)
    for (qid <- Seq(1L, 2L)) {
      val want = Retrieval.mmrRerank(
          cand.where(col("query_id") === qid).drop("query_id"), k = 3)
        .collect()
        .map(r => (qid, r.getLong(0), r.getInt(1), r.getDouble(2)))
        .toSeq
      assert(many(qid).sortBy(_._3).toSeq == want, s"query $qid")
    }
    val big = spark.range(0, 50)
      .select(lit(7L).as("query_id"), col("id"), lit(1.0).as("score"),
        array(lit(1.0f), lit(0.0f)).as("vec"))
    // the guard now fires inside a task (while buffering the group),
    // so Spark surfaces it wrapped — walk the cause chain
    val e = intercept[Exception] {
      Retrieval.mmrRerankMany(big, k = 3, maxShortlist = 10).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("query 7"))
  }

  test("rrfFuse: k truncates after fusion, not per arm") {
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 2)
      .collect().map(_.getLong(0)).toSeq
    // doc 2 fuses both arms and overtakes each arm's rank-1 doc
    assert(got == Seq(2L, 1L))
  }

  // ---------------------------------- normal equations / training --

  test("linearMoments + solveNormalEquations recover a planted integer model") {
    // y = 3 + 2*f1 - f2, exactly
    val rows = for (i <- 1 to 50) yield {
      val f1 = (i * 7) % 13; val f2 = (i * 3) % 5
      (1L, f1.toLong, f2.toLong, 3L + 2L * f1 - f2)
    }
    val df = rows.toDF("b", "f1", "f2", "y")
    val m = Training.linearMoments(df,
      Seq(col("b"), col("f1"), col("f2")), col("y"))
    val w = Training.solveNormalEquations(m, k = 3)
    assert(math.abs(w(0) - 3.0) < 1e-8, w.mkString(","))
    assert(math.abs(w(1) - 2.0) < 1e-8, w.mkString(","))
    assert(math.abs(w(2) + 1.0) < 1e-8, w.mkString(","))
  }

  test("linearMoments emits the full upper triangle plus Xty, exact") {
    val df = Seq((1L, 2L, 1L), (1L, 3L, 0L)).toDF("b", "f", "y")
    val got = Training.linearMoments(df, Seq(col("b"), col("f")), col("y"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    // XtX: [[2, 5], [5, 13]]; Xty: [1, 2]
    assert(got == Set((0, 0, 2L), (0, 1, 5L), (1, 1, 13L),
      (0, -1, 1L), (1, -1, 2L)))
  }

  test("solveNormalEquations: ridge rescues collinear features") {
    val df = Seq((1L, 2L, 2L, 5L), (1L, 3L, 3L, 7L), (1L, 4L, 4L, 9L))
      .toDF("b", "f1", "f2", "y")
    val m = Training.linearMoments(df,
      Seq(col("b"), col("f1"), col("f2")), col("y"))
    intercept[IllegalArgumentException] {
      Training.solveNormalEquations(m, k = 3)
    }
    val w = Training.solveNormalEquations(m, k = 3, ridge = 1e-6)
    // prediction still recovers the data (f1 == f2, weight mass splits)
    val pred = 1.0 * w(0) + 3.0 * w(1) + 3.0 * w(2)
    assert(math.abs(pred - 7.0) < 1e-3, w.mkString(","))
  }

  // ----------------------------------------------------- PageRank --

  test("pageRank: 2-cycle fixed point stays uniform") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e, col("src"), col("dst"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r == Map(1L -> 500000L, 2L -> 500000L))
  }

  test("pageRank: inflow-rich hub outranks its spokes; mass never grows") {
    // acyclic: converges exactly once the longest path has propagated
    val e = Seq((1L, 3L), (2L, 3L), (4L, 3L), (4L, 2L))
      .toDF("src", "dst")
    val r = Graph.pageRank(e, col("src"), col("dst"), iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(3L) > r(2L) && r(2L) > r(1L))
    assert(r(1L) == r(4L), "inflow-free sources must tie exactly")
    assert(r.values.sum <= 1000000L)
  }

  test("pageRank: bit-deterministic across runs and partitionings") {
    val edges = (1L to 60L).map(i => (i, (i * i + 3) % 60 + 1))
    val a = Graph.pageRank(edges.toDF("src", "dst"),
      col("src"), col("dst"), iters = 4).collect().toSet
    val b = Graph.pageRank(
      edges.toDF("src", "dst").repartition(7),
      col("src"), col("dst"), iters = 4).collect().toSet
    assert(a == b)
  }

  test("pageRank: broadcast and shuffle join regimes agree exactly") {
    val edges = (1L to 40L).map(i => (i, (i * 5 + 2) % 40 + 1))
      .toDF("src", "dst")
    val bcast = Graph.pageRank(edges, col("src"), col("dst"), iters = 4)
      .collect().toSet
    val shuffled = Regime.forcing(0L)(Graph.pageRank(edges, col("src"),
      col("dst"), iters = 4)).collect().toSet
    assert(bcast == shuffled)
  }

  test("pageRank: iters = 0 returns the uniform start") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e, col("src"), col("dst"), iters = 0)
      .collect().map(r => r.getLong(1)).toSet
    assert(r == Set(333333L))
  }
}
