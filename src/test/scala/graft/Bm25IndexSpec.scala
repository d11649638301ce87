package graft

import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, Stats, TextAnalysis}

/** The persisted BM25 inverted index: bit-identical answers to the
  * full-scan path, and the manifest actually prunes postings files.
  */
class Bm25IndexSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "merge sort beats bubble sort on large inputs"),
    (2L, "window functions rank rows within partitions"),
    (3L, "spark executes the merge join after the exchange"),
    (4L, "the window slides and the window tumbles"),
    (5L, "spark spark spark tuning notes"),
    (6L, "entirely unrelated prose about gardening"),
    (7L, "merge window spark all three terms appear here"),
    (8L, ""))
    .toDF("doc_id", "text")

  private def buildIndex(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25idx-").toString + "/idx"
    Retrieval.writeBm25Index(corpus, col("doc_id"), col("text"), dir,
      filesOut = 8)
    dir
  }

  test("bm25TopKIndexed ≡ bm25TopK bit for bit, both idf modes") {
    val dir = buildIndex()
    for (mode <- Seq("rational", "lucene")) {
      val want = TextAnalysis.bm25TopK(corpus, col("doc_id"),
          col("text"), Seq("merge", "window", "spark"), k = 10,
          idfMode = mode)
        .orderBy(col("score").desc, col("id")).collect()
      val got = Retrieval.bm25TopKIndexed(spark, dir,
          Seq("merge", "window", "spark"), k = 10, idfMode = mode)
        .orderBy(col("score").desc, col("id")).collect()
      assert(got.toSeq == want.toSeq, s"mode=$mode")
      assert(got.nonEmpty)
    }
  }

  test("a term matching no document returns the other terms' docs " +
      "with identical scores (df 0 contributes 0 tf everywhere)") {
    val dir = buildIndex()
    val want = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"),
      Seq("merge", "zzz_absent"), k = 10).collect()
    val got = Retrieval.bm25TopKIndexed(spark, dir,
      Seq("merge", "zzz_absent"), k = 10).collect()
    assert(got.toSeq == want.toSeq)
  }

  test("appendBm25Index: incremental index ≡ from-scratch index over " +
      "the union corpus, stats fold additively") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25inc-").toString + "/idx"
    Retrieval.writeBm25Index(corpus.where(col("doc_id") < 5),
      col("doc_id"), col("text"), dir, filesOut = 4)
    Retrieval.appendBm25Index(corpus.where(col("doc_id") >= 5),
      col("doc_id"), col("text"), dir, batchId = 1L)
    val want = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"),
      Seq("merge", "window", "spark"), k = 10).collect()
    val got = Retrieval.bm25TopKIndexed(spark, dir,
      Seq("merge", "window", "spark"), k = 10).collect()
    assert(got.toSeq == want.toSeq)
    val nDocs = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(nDocs == 8)
  }

  test("appendBm25Index is overwrite-idempotent: retrying a batch " +
      "never double-appends postings or double-folds stats") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25rty-").toString + "/idx"
    Retrieval.writeBm25Index(corpus.where(col("doc_id") < 5),
      col("doc_id"), col("text"), dir, filesOut = 4)
    val batch = corpus.where(col("doc_id") >= 5)
    Retrieval.appendBm25Index(batch, col("doc_id"), col("text"), dir,
      batchId = 1L)
    // the crashed-then-retried batch: same id, same content, run again
    Retrieval.appendBm25Index(batch, col("doc_id"), col("text"), dir,
      batchId = 1L)
    val want = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"),
      Seq("merge", "window", "spark"), k = 10).collect()
    val got = Retrieval.bm25TopKIndexed(spark, dir,
      Seq("merge", "window", "spark"), k = 10).collect()
    assert(got.toSeq == want.toSeq)
    val nDocs = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(nDocs == 8, "retried batch must not double-count docs")
  }

  test("compactBm25Index: OPTIMIZE cycle folds appends into one " +
      "generation — fewer files, identical answers, pruning intact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25cpt-").toString + "/idx"
    Retrieval.writeBm25Index(corpus.where(col("doc_id") < 4),
      col("doc_id"), col("text"), dir, filesOut = 4)
    Retrieval.appendBm25Index(corpus.where(col("doc_id") >= 4 &&
        col("doc_id") < 6),
      col("doc_id"), col("text"), dir, batchId = 1L, filesOut = 4)
    Retrieval.appendBm25Index(corpus.where(col("doc_id") >= 6),
      col("doc_id"), col("text"), dir, batchId = 2L, filesOut = 4)
    val filesBefore = Stats.committedViewDirs(spark, s"$dir/postings")
      .flatMap(p => spark.read.parquet(p).inputFiles).size
    val tok = Retrieval.compactBm25Index(spark, dir, filesOut = 4)
    assert(tok.contains(2L))
    val viewDirs = Stats.committedViewDirs(spark, s"$dir/postings")
    assert(viewDirs.size == 1 && viewDirs.head.endsWith("gen=2"),
      s"view must resolve the new generation only; got $viewDirs")
    val filesAfter = viewDirs
      .flatMap(p => spark.read.parquet(p).inputFiles).size
    assert(filesAfter < filesBefore,
      s"compaction must shrink the view: $filesBefore -> $filesAfter")
    // identical answers through the compacted store
    val want = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"),
      Seq("merge", "window", "spark"), k = 10).collect()
    val got = Retrieval.bm25TopKIndexed(spark, dir,
      Seq("merge", "window", "spark"), k = 10).collect()
    assert(got.toSeq == want.toSeq)
    // the refreshed manifest still prunes single-term probes, and the
    // generation re-sharpened th-clustering: one term keeps < all
    val all = viewDirs.flatMap(p => spark.read.parquet(p).inputFiles)
    val kept = Stats.touchedKeysKeptFilesUnder(spark, viewDirs,
      s"$dir/postings_manifest", "th",
      Seq("merge").toDF("term").select(xxhash64(col("term")).as("th")))
    assert(kept.nonEmpty && kept.size < all.size,
      s"kept ${kept.size} of ${all.size}")
    // a second cycle with a fresh append vacuums the superseded dirs
    Retrieval.appendBm25Index(corpus.where(col("doc_id") === 8),
      col("doc_id"), col("text"), dir, batchId = 3L)
    Retrieval.compactBm25Index(spark, dir, filesOut = 4): Unit
    val names = new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).toSet
    assert(names.contains("gen=3"))
    assert(!names.contains("batch=0") && !names.contains("batch=1") &&
      !names.contains("batch=2"),
      s"one-cycle vacuum must drop dirs folded into gen=2; got $names")
  }

  test("deleteBm25Docs: tombstoned index ≡ from-scratch index over " +
      "the survivors bit for bit (df, stats, scores); double-delete " +
      "is a no-op; compaction drops rows physically and still " +
      "answers exactly; both scoring paths filter") {
    val dir = buildIndex()
    val del = Seq(3L, 5L).toDF("id")
    Retrieval.deleteBm25Docs(spark, dir, del, batchId = 1L)
    val survivors = corpus.where(!col("doc_id").isin(3L, 5L))
    val terms = Seq("merge", "window", "spark")
    def got() = Retrieval.bm25TopKIndexed(spark, dir, terms, k = 10)
      .orderBy(col("score").desc, col("id")).collect()
    val want = TextAnalysis.bm25TopK(survivors, col("doc_id"),
        col("text"), terms, k = 10)
      .orderBy(col("score").desc, col("id")).collect()
    assert(got().toSeq == want.toSeq)
    assert(got().forall(r => r.getLong(0) != 3L && r.getLong(0) != 5L))
    // double-delete must not double-subtract the stats correction
    Retrieval.deleteBm25Docs(spark, dir, del, batchId = 2L)
    assert(got().toSeq == want.toSeq)
    // the set-oriented path filters identically
    val q = Seq((7L, 0, "merge"), (7L, 1, "window"), (7L, 2, "spark"))
      .toDF("query_id", "pos", "term")
    val many = Retrieval.bm25TopKIndexedMany(spark, dir, q, k = 10)
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id")).collect()
    assert(many.map(_.getLong(0)).toSeq ==
      want.map(_.getAs[Long]("id")).toSeq)
    assert(many.map(_.getDouble(1)).toSeq ==
      want.map(_.getAs[Double]("score")).toSeq)
    // compaction drops the tombstoned rows physically: no deleted id
    // survives anywhere in the postings view, and answers still match
    assert(Retrieval.compactBm25Index(spark, dir).isDefined)
    val folded = spark.read.parquet(
        Stats.committedViewDirs(spark, s"$dir/postings"): _*)
      .where(col("id").isin(3L, 5L))
    assert(folded.isEmpty)
    assert(got().toSeq == want.toSeq)
  }

  test("bm25TopKIndexedMany ≡ bm25TopKIndexed per query, bit for bit — " +
      "shared slice, one manifest prune, absent terms change nothing") {
    val dir = buildIndex()
    val qs = Seq(
      1L -> Seq("merge", "window", "spark"),
      2L -> Seq("sort", "rank"),
      3L -> Seq("gardening", "zzz_absent"),
      4L -> Seq("zzz_absent"))
    val qdf = qs.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, p) => (qid, p, t) }
    }.toDF("query_id", "pos", "term")
    for (mode <- Seq("rational", "lucene")) {
      val many = Retrieval.bm25TopKIndexedMany(spark, dir, qdf, k = 10,
          idfMode = mode)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
        .groupBy(_._1)
      for ((qid, terms) <- qs) {
        val single = Retrieval.bm25TopKIndexed(spark, dir, terms, k = 10,
            idfMode = mode)
          .orderBy(col("score").desc, col("id"))
          .collect().zipWithIndex
          .map { case (r, i) =>
            (qid, i + 1L, r.getLong(0), r.getDouble(r.length - 1)) }
        val got = many.getOrElse(qid, Array.empty).sortBy(_._2).toSeq
        assert(got == single.toSeq,
          s"query $qid mode $mode: $got != ${single.toSeq}")
      }
      // the all-absent query contributes no rows, not garbage
      assert(!many.contains(4L))
    }
  }

  test("retrievalEval: hits@k, n_rel, first relevant rank; judged-only " +
      "rows; a no-hit query keeps hits 0 and a null rank") {
    val results = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (2L, 1L, 20L), (2L, 2L, 21L), (9L, 1L, 90L))
      .toDF("query_id", "rank", "id")
    val qrels = Seq((1L, 11L), (1L, 12L), (1L, 99L), (2L, 77L),
      (3L, 5L)).toDF("query_id", "id")
    val got = Retrieval.retrievalEval(results, qrels, k = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    // q1: top-2 {10,11} → 1 hit at rank 2 of 3 relevant; q2: no hits;
    // q3: judged but nothing retrieved; q9: unjudged → absent
    assert(got == Map(
      1L -> ((3L, 1L, 2L)),
      2L -> ((1L, 0L, -1L)),
      3L -> ((1L, 0L, -1L))))
  }

  test("rrfFuseMany ≡ rrfFuse per query on identical arms") {
    val armA = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "id", "rank")
    val armB = Seq((1L, 11L, 1L), (1L, 12L, 2L), (2L, 21L, 1L))
      .toDF("query_id", "id", "rank")
    val many = Retrieval.rrfFuseMany(Seq(armA, armB), k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    for (qid <- Seq(1L, 2L)) {
      val want = Retrieval.rrfFuse(
          Seq(armA.where(col("query_id") === qid).drop("query_id"),
            armB.where(col("query_id") === qid).drop("query_id")),
          k = 3)
        .collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
      assert(many(qid).toSet == want, s"query $qid")
    }
  }

  test("postings manifest prunes: a single-term query opens fewer " +
      "files than the store holds") {
    val dir = buildIndex()
    val all = spark.read.parquet(s"$dir/postings").inputFiles.toSeq
    val kept = Stats.touchedKeysKeptFiles(spark, s"$dir/postings",
      s"$dir/postings_manifest", "th",
      Seq("merge").toDF("term").select(xxhash64(col("term")).as("th")))
    assert(kept.nonEmpty && kept.size < all.size,
      s"kept ${kept.size} of ${all.size}")
  }

  test("appendBm25Index upserts its own batch dirs only: after three " +
      "appends each manifest covers exactly its committed view's " +
      "files, and a one-term probe keeps fewer postings files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25man-").toString + "/idx"
    Retrieval.writeBm25Index(corpus.where(col("doc_id") < 3),
      col("doc_id"), col("text"), dir, filesOut = 4)
    for ((b, lo) <- Seq((1L, 3L), (2L, 5L), (3L, 7L)))
      Retrieval.appendBm25Index(corpus.where(col("doc_id") >= lo &&
          col("doc_id") < lo + 2),
        col("doc_id"), col("text"), dir, batchId = b)
    def paths(files: Seq[String]): Set[String] =
      files.map(f => new java.net.URI(f).getPath).toSet
    def viewFiles(art: String): Set[String] =
      paths(Stats.committedViewDirs(spark, s"$dir/$art")
        .flatMap(p => spark.read.parquet(p).inputFiles))
    for (art <- Seq("postings", "doclen")) {
      val covered = paths(spark.read.parquet(s"$dir/${art}_manifest")
        .select(col("file")).distinct().as[String].collect().toSeq)
      assert(covered == viewFiles(art), s"$art manifest vs view")
    }
    val view = viewFiles("postings")
    val kept = Stats.touchedKeysKeptFilesUnder(spark,
      Stats.committedViewDirs(spark, s"$dir/postings"),
      s"$dir/postings_manifest", "th",
      Seq("merge").toDF("term").select(xxhash64(col("term")).as("th")))
    assert(kept.nonEmpty && kept.size < view.size,
      s"kept ${kept.size} of ${view.size}")
  }
}
