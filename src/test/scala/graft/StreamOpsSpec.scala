package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.operators.Multimodal
import java.sql.Timestamp

/** Streaming dedup / stream-static join / foreachBatch MERGE sink. */
class StreamOpsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark keeps first event per id") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("event_id", "ts", "payload")
    val q = StreamOps.dedupWithinWatermark(df, "event_id", "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2026-08-12 10:00:00"), "a"),
        (2L, ts("2026-08-12 10:01:00"), "b"))
      q.processAllAvailable()
      // same ids re-delivered within the watermark → dropped
      in.addData((1L, ts("2026-08-12 10:02:00"), "a-dup"),
        (2L, ts("2026-08-12 10:03:00"), "b-dup"),
        (3L, ts("2026-08-12 10:04:00"), "c"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").as[(Long, Timestamp, String)]
        .collect().sortBy(_._1)
      assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
      assert(out.map(_._3).toSeq == Seq("a", "b", "c")) // firsts won
    } finally q.stop()
  }

  test("stream-static join enriches without shuffling the stream") {
    implicit val sc = spark.sqlContext
    val dim = Seq((1, "US"), (2, "DE")).toDF("nk", "country")
    val in = MemoryStream[(Long, Int)]
    val q = StreamOps.enrichWithDim(
        in.toDF().toDF("uid", "nk"), dim, Seq("nk"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData((10L, 1), (11L, 2), (12L, 9))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(1), Option(r.getString(2)))).sortBy(_._1)
      assert(rows.toSeq == Seq((10L, Some("US")), (11L, Some("DE")),
        (12L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, bounded state") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val joined = StreamOps.intervalJoinStreams(
      buys.toDF().toDF("uid", "b_ts"), "b_ts",
      clicks.toDF().toDF("uid", "c_ts"), "c_ts",
      key = "uid", window = "1 HOUR", watermark = "2 hours")
    val q = joined.select(col("l.uid"), col("b_ts"), col("c_ts"))
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts("2026-08-12 09:30:00")), // in window
        (1L, ts("2026-08-12 07:00:00")),              // too early
        (2L, ts("2026-08-12 09:45:00")))              // other user
      buys.addData((1L, ts("2026-08-12 10:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getTimestamp(2))).sortBy(_._2)
      assert(rows.toSeq == Seq((1L, ts("2026-08-12 09:30:00"))))
      // late-but-in-window click still joins (within watermark)
      clicks.addData((1L, ts("2026-08-12 09:55:00")))
      q.processAllAvailable()
      assert(spark.table("ssjoin").count() == 2)
    } finally q.stop()
  }

  test("foreachBatch MERGE sink: across-batch upsert by key") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ck").toString
    spark.sql("DROP TABLE IF EXISTS stream_target")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.upsertSink(spark,
      in.toDF().toDF("k", "v"), "stream_target", Seq("k"), dir)
    try {
      in.addData((1L, "v1"), (2L, "v1"))
      q.processAllAvailable()
      in.addData((2L, "v2"), (3L, "v1")) // update 2, insert 3
      q.processAllAvailable()
      val got = spark.table("stream_target").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, "v1"), (2L, "v2"), (3L, "v1")))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS stream_target")
    }
  }

  test("nearDupGateSink drops cross-batch and intra-batch near-dups " +
      "against the persisted signature store; store holds survivors only") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-ndgate-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained simply " * 8
    val docC = "bucketed table layouts and zero shuffle joins " * 8
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt")
    try {
      in.addData((1L, docA), (2L, docB))
      q.processAllAvailable()
      // 11 = exact dup of stored 1 → dropped; 12 fresh
      in.addData((11L, docA), (12L, docC))
      q.processAllAvailable()
      // 21 dup of batch-2 survivor, 22 dup of batch-1 survivor,
      // 23/24 an intra-batch dup pair (first id wins), 25 fresh-ish
      in.addData((21L, docC), (22L, docB),
        (23L, docA.replace("dog", "cat")), (24L, docA.replace("dog", "cat")),
        (25L, "an entirely novel page about catalyst rules " * 8))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select($"doc_id").as[Long].collect().toSet
      // 23 survives (near-dup of A in SHINGLE space is weak: the
      // repeated-phrase base has ~9 distinct shingles and 'dog'→'cat'
      // changes 3 — est jaccard ~0.67 < 0.8); 24, its exact dup, drops
      assert(out == Set(1L, 2L, 12L, 23L, 25L))
      val store = spark.read.parquet(s"$base/store")
        .select($"id").as[Long].collect().toSet
      assert(store == out) // survivors' sigs and nothing else
    } finally q.stop()
  }

  test("nearDupGateSink with compactEvery: per-batch store dirs fold " +
      "into generations mid-stream, later batches still gate, and the " +
      "one-cycle-old dirs are vacuumed") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-ndcompact-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained simply " * 8
    val docC = "bucketed table layouts and zero shuffle joins " * 8
    val docD = "completely fresh content about parquet footer stats " * 8
    val docE = "another novel document about shuffle partition sizing " * 8
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt",
      compactEvery = 2, compactFilesOut = 2)
    try {
      in.addData((1L, docA), (2L, docB)) // batch 0
      q.processAllAvailable()
      in.addData((11L, docA), (12L, docC)) // batch 1 → compacts to gen=1
      q.processAllAvailable()
      // batch 2 gates against the COMPACTED generation: 21 dups the
      // batch-1 survivor (now living only in gen=1's files)
      in.addData((21L, docC), (22L, docD))
      q.processAllAvailable()
      in.addData((31L, docD), (32L, docE)) // batch 3 → compacts to gen=3
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select($"doc_id").as[Long].collect().toSet
      assert(out == Set(1L, 2L, 12L, 22L, 32L))
      // the read view resolves the newest generation only — identical
      // content to the survivors, never a duplicate row
      val view = StreamOps.nearDupStoreView(spark, s"$base/store").get
      val viewIds = view.select($"id").as[Long].collect()
      assert(viewIds.toSet == out && viewIds.length == out.size)
      // vacuum: batch dirs folded a full cycle ago (<= gen=1) are gone;
      // the fresh fold keeps its one-cycle grace
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dirNames = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$base/store"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(dirNames.contains("gen=3"))
      assert(!dirNames.contains("batch=0") && !dirNames.contains("batch=1"),
        s"one-cycle-old batch dirs must be vacuumed, got $dirNames")
      assert(dirNames.contains("batch=2") && dirNames.contains("batch=3"),
        "freshly folded dirs keep a one-cycle grace period")
    } finally q.stop()
    // a third compaction folds nothing new but is a safe no-op — run
    // AFTER quiesce: batch mutators are fenced against live gates
    assert(StreamOps.compactNearDupStore(spark, s"$base/store", 2)
      .isEmpty)
  }

  test("nearDupGateSinkBanded: banded manifest-pruned store — same gate " +
      "answers, store scans open a pruned file subset, compaction " +
      "keeps the clustered layout and the manifest current") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-ndbanded-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained simply " * 8
    val docC = "bucketed table layouts and zero shuffle joins " * 8
    val docD = "completely fresh content about parquet footer stats " * 8
    val docE = "another novel document about shuffle partition sizing " * 8
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupGateSinkBanded(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt",
      compactEvery = 2, compactFilesOut = 16)
    try {
      in.addData((1L, docA), (2L, docB)) // batch 0
      q.processAllAvailable()
      in.addData((11L, docA), (12L, docC)) // batch 1 → gen=1
      q.processAllAvailable()
      in.addData((21L, docC), (22L, docD)) // batch 2: 21 dups gen content
      q.processAllAvailable()
      in.addData((31L, docD), (32L, docE)) // batch 3 → gen=3
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select($"doc_id").as[Long].collect().toSet
      assert(out == Set(1L, 2L, 12L, 22L, 32L))
      // the store view holds exactly the survivors' banded entries
      // (8 bands per doc), resolved through the newest generation
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dirNames = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$base/store"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(dirNames.contains("gen=3"))
      assert(!dirNames.contains("batch=0") && !dirNames.contains("batch=1"))
      val gen = spark.read.parquet(s"$base/store/gen=3")
      assert(gen.select($"id").distinct().as[Long].collect().toSet == out)
      assert(gen.columns.toSeq ==
        Seq("band", "bucket", "id", "sig"))
      // manifest lives OUTSIDE the store tree and covers the view; a
      // narrow probe set prunes the view's files
      val viewFiles = gen.inputFiles.length
      val probe = graft.operators.Dedup.lshBuckets(
        graft.operators.Dedup.minhashSigsNative(
          Seq((999L, docE)).toDF("doc_id", "text"),
          col("doc_id"), col("text")), 4)
        .select($"band", $"bucket")
      val kept = graft.operators.Stats.touchedPairsKeptFilesUnder(spark,
        Seq(s"$base/store/gen=3"), s"$base/store_manifest",
        "band", "bucket", probe)
      assert(viewFiles >= 8 && kept.size < viewFiles,
        s"pruning must drop files: kept ${kept.size} of $viewFiles")
    } finally q.stop()
  }

  test("substringGateSink: passage-sharing docs drop against the " +
      "persisted fingerprint store across and within batches; store " +
      "compacts fp-clustered mid-stream and keeps pruning") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-subgate-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained simply " * 8
    val docC = "bucketed table layouts and zero shuffle joins " * 8
    val docD = "completely fresh content about parquet footer stats " * 8
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.substringGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt",
      compactEvery = 2, compactFilesOut = 8)
    try {
      // batch 0: 2 shares doc 1's windows (identical prefix) — the
      // min-id holder survives, the larger id drops; 3 is fresh
      in.addData((1L, docA), (2L, docA + " with a unique tail"),
        (3L, docB))
      q.processAllAvailable()
      // batch 1: 11 dups stored content → dropped; 12 fresh → gen=1
      in.addData((11L, docA), (12L, docC))
      q.processAllAvailable()
      // batch 2 gates against the COMPACTED generation: 21 embeds the
      // batch-1 survivor's content (now only in gen=1), 22 fresh
      in.addData((21L, docC + " plus an appended paragraph"), (22L, docD))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select($"doc_id").as[Long].collect().toSet
      assert(out == Set(1L, 3L, 12L, 22L))
      // survivors-only store: distinct ids in the view == survivors
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val dirNames = fs
        .listStatus(new org.apache.hadoop.fs.Path(s"$base/store"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(dirNames.contains("gen=1"), s"got $dirNames")
      val gen = spark.read.parquet(s"$base/store/gen=1")
      assert(gen.columns.toSeq == Seq("fp", "id"))
      val storeIds = spark.read.parquet(
          (Seq(s"$base/store/gen=1") ++
            dirNames.filter(_ == "batch=2").map(d => s"$base/store/$d")): _*)
        .select($"id").distinct().as[Long].collect().toSet
      assert(storeIds == out)
      // the manifest covers the compacted fp-clustered layout: one
      // doc's fp probe set prunes the generation's files
      val probe = graft.operators.Curation.windowFpRows(
        Seq((999L, docB)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), 40, 8, 16).select($"fp")
      val kept = graft.operators.Stats.touchedKeysKeptFilesUnder(spark,
        Seq(s"$base/store/gen=1"), s"$base/store_manifest", "fp", probe)
      val genFiles = gen.inputFiles.length
      assert(genFiles >= 4 && kept.size < genFiles,
        s"pruning must drop files: kept ${kept.size} of $genFiles")
    } finally q.stop()
  }

  test("dsirGateSink: batches score against the model-so-far, " +
      "survivors filter by importance, final model ≡ from-scratch fit") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = s"/tmp/graft-dsirgate-${System.nanoTime()}"
    // code docs share unigrams AND bigrams with the target (same word
    // order), scoring far above hash-collision noise at B = 1024
    def code(i: Int) = (i.toLong,
      s"def compile return type struct parse value link item$i")
    // sports docs share NO token with the target corpus (no numerals:
    // target texts contain 1..6), so their target-side score is 0 at
    // bootstrap and negative once raw counts accumulate
    def sport(i: Int) = (i.toLong,
      s"match goal team win league play fans crowd$i")
    // target: purely code-flavored → code docs must out-score sports
    val target = (1 to 6).map(i =>
      (100L + i, s"def compile return type $i struct parse value link"))
      .toDF("doc_id", "text")
    val tgtFeats = graft.operators.Selection.dsirFeatures(target,
      col("doc_id"), col("text"), 1024)
    val targetBt = tgtFeats.groupBy(col("f"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("tcnt"))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dsirGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", targetBt,
      s"$base/model", s"$base/out", s"$base/ckpt",
      buckets = 1024, minScore = 30L)
    try {
      in.addData(code(1), sport(2)); q.processAllAvailable()
      in.addData(code(3), sport(4)); q.processAllAvailable()
      in.addData(code(5), sport(6), code(7)); q.processAllAvailable()
      // survivors: exactly the code-flavored docs in every batch
      val out = spark.read.parquet(s"$base/out")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(out == Set(1L, 3L, 5L, 7L))
      // batch-twin check: batch 3's survivors equal scoring its docs
      // against the model accumulated from batches 1-2
      val hist = Seq(code(1), sport(2), code(3), sport(4))
        .toDF("doc_id", "text")
      val histFeats = graft.operators.Selection.dsirFeatures(hist,
        col("doc_id"), col("text"), 1024)
      val model2 = graft.operators.Selection.dsirBucketTable(
        histFeats, tgtFeats)
      val b3 = Seq(code(5), sport(6), code(7)).toDF("doc_id", "text")
      val b3Feats = graft.operators.Selection.dsirFeatures(b3,
        col("doc_id"), col("text"), 1024)
      val want3 = graft.operators.Selection
        .dsirQuantizedScores(b3Feats, model2)
        .where(col("score") >= 30L).select(col("id")).as[Long]
        .collect().toSet
      val got3 = spark.read.parquet(s"$base/out/batch=2")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(got3 == want3)
      // monoid law across the stream: the newest persisted model is
      // bit-identical to a from-scratch fit over ALL streamed docs
      val allFeats = graft.operators.Selection.dsirFeatures(
        Seq(code(1), sport(2), code(3), sport(4), code(5), sport(6),
          code(7)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), 1024)
      val scratch = graft.operators.Selection.dsirBucketTable(
        allFeats, tgtFeats)
      val persisted = StreamOps.dsirModelView(spark, s"$base/model",
        Long.MaxValue).get
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select(col("f"), col("tcnt"), col("rcnt"))
          .as[(Long, Long, Long)].collect().toSet
      assert(key(persisted) == key(scratch))
      // bootstrap + retry-safety view rule: batch 0 sees no model
      assert(StreamOps.dsirModelView(spark, s"$base/model", 0L).isEmpty)
    } finally q.stop()
  }

  test("mediaDedupGateSink: perceptual-hash gate drops cross- and " +
      "intra-batch dups, dead-letters survive unstored") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = s"/tmp/graft-mediagate-${System.nanoTime()}"
    // payload seeds 0/4/5/6: mutually > 6 dHash bits apart (measured)
    val (pa, pb, pc, pd) = (Multimodal.syntheticPng(0L),
      Multimodal.syntheticPng(4L), Multimodal.syntheticPng(5L),
      Multimodal.syntheticPng(6L))
    val junk = "not an image".getBytes
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamOps.mediaDedupGateSink(spark,
      in.toDF().toDF("media_id", "payload"), "media_id", "payload",
      s"$base/store", s"$base/out", s"$base/ckpt")
    try {
      in.addData((1L, pa), (2L, pb), (3L, junk))
      q.processAllAvailable()
      // 11 = re-crawl of 1's image -> dropped; 12 fresh
      in.addData((11L, pa), (12L, pc)); q.processAllAvailable()
      // 21 dup of batch-2 survivor, 22 fresh, 23 intra-batch dup of
      // 22 (smaller id wins), 24 garbage
      in.addData((21L, pc), (22L, pd), (23L, pd), (24L, junk))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("media_id")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 3L, 12L, 22L, 24L))
      // store holds exactly the HASHABLE survivors (no dead-letters)
      val store = spark.read.parquet(s"$base/store")
        .select(col("media_id")).as[Long].collect().toSet
      assert(store == Set(1L, 2L, 12L, 22L))
    } finally q.stop()
  }

  test("embedDedupGateSink: vector gate drops cross- and intra-batch " +
      "near-dups via the code store; zero vectors survive") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = s"/tmp/graft-embgate-${System.nanoTime()}"
    def v(seed: Int, eps: Double = 0.0): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 131 + i + 1) +
        (if (i == 0) eps else 0.0)).toFloat)
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.embedDedupGateSink(spark,
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$base/store", s"$base/out", s"$base/ckpt", threshold = 0.95)
    try {
      in.addData((1L, v(1)), (2L, v(2))); q.processAllAvailable()
      // 11 near-dup of stored 1 -> dropped; 12 fresh
      in.addData((11L, v(1, 0.01)), (12L, v(3))); q.processAllAvailable()
      // 21 dup of batch-2 survivor 12; 22/23 intra-batch pair (22
      // wins); 24 zero vector (cos undefined -> survives)
      in.addData((21L, v(3, 0.02)), (22L, v(4)), (23L, v(4, 0.01)),
        (24L, Array.fill(64)(0.0f)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("id")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 12L, 22L, 24L))
      // both store shapes hold exactly the survivors
      val vecIds = spark.read.parquet(s"$base/store/vecs")
        .select(col("id")).as[Long].collect().toSet
      assert(vecIds == out)
      val codeIds = spark.read.parquet(s"$base/store/codes")
        .select(col("id")).distinct().as[Long].collect().toSet
      assert(codeIds == out)
    } finally q.stop()
  }

  test("kmvNoveltyGateSink: per-group novelty routes docs against the " +
      "persisted sketch store; folded store ≡ from-scratch sketch; " +
      "bootstrap + retry view rules hold") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    import graft.operators.Overlap
    val base = s"/tmp/graft-kmvgate-${System.nanoTime()}"
    def doc(i: Int) =
      s"document number $i carrying its own distinct words tail$i " +
        s"and some more unique content body$i"
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.kmvNoveltyGateSink(spark,
      in.toDF().toDF("doc_id", "source", "text"), "source", "text",
      s"$base/sketch", s"$base/out", s"$base/low", s"$base/ckpt",
      k = 64, n = 3, minNovelty = 0.5)
    try {
      // batch 0: source A, fresh → bootstrap, fully novel → out
      in.addData((1L, "A", doc(1)), (2L, "A", doc(2)))
      q.processAllAvailable()
      // batch 1: A repeats batch-0 content verbatim → containment 1,
      // novelty 0 → low path; B unseen → novelty 1 → out
      in.addData((11L, "A", doc(1)), (12L, "A", doc(2)),
        (13L, "B", doc(99)))
      q.processAllAvailable()
      // batch 2: A ships genuinely new content → novel again → out
      in.addData((21L, "A", doc(50)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("doc_id")).as[Long].collect().toSet
      val low = spark.read.parquet(s"$base/low")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 13L, 21L), s"out: $out")
      assert(low == Set(11L, 12L), s"low: $low")
      // both outputs carry the novelty signal for re-thresholding
      assert(spark.read.parquet(s"$base/low")
        .select(col("novelty")).as[Double].collect().forall(_ == 0.0))
      // cumulative store ≡ sketching every batch from scratch (the
      // merge-semigroup law, end to end through the gate)
      val allDocs = Seq((1L, "A", doc(1)), (2L, "A", doc(2)),
        (11L, "A", doc(1)), (12L, "A", doc(2)), (13L, "B", doc(99)),
        (21L, "A", doc(50))).toDF("doc_id", "source", "text")
      val shs = org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.ShinglesExpr(
          org.apache.spark.sql.GraftSqlBridge
            .toExpression(col("text")), 3))
      val scratch = Overlap.kmvSketch(
          allDocs.select(col("source").as("grp"),
            explode(shs).as("key")),
          col("grp"), col("key"), 64)
        .as[(String, Seq[Long])].collect().toMap
      val stored = StreamOps.kmvSketchView(spark, s"$base/sketch", 99L)
        .get.as[(String, Seq[Long])].collect().toMap
      assert(stored == scratch,
        s"stored=${stored.keySet} scratch=${scratch.keySet}")
      // bootstrap + retry-safety view rule: batch 0 sees no store;
      // batch k never sees sketch=k
      assert(StreamOps.kmvSketchView(spark, s"$base/sketch", 0L).isEmpty)
      assert(StreamOps.kmvSketchView(spark, s"$base/sketch", 2L)
        .isDefined)
    } finally q.stop()
  }

  test("mediaDedupGateSink audio arm: fingerprint hashFn plugs in, " +
      "re-crawled WAVs drop cross-batch") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = s"/tmp/graft-audiogate-${System.nanoTime()}"
    val in = MemoryStream[(Long, Array[Byte])]
    val q = StreamOps.mediaDedupGateSink(spark,
      in.toDF().toDF("media_id", "payload"), "media_id", "payload",
      s"$base/store", s"$base/out", s"$base/ckpt",
      hashFn = (s2, df) => Multimodal.audioFingerprint(s2, df).toDF())
    try {
      in.addData((1L, Multimodal.syntheticWav(0L)),
        (2L, Multimodal.syntheticWav(20L)))
      q.processAllAvailable()
      // 11 = re-crawl of 1's audio -> dropped; 12 fresh; 13 garbage
      in.addData((11L, Multimodal.syntheticWav(0L)),
        (12L, Multimodal.syntheticWav(40L)), (13L, "junk".getBytes))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("media_id")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 12L, 13L))
    } finally q.stop()
  }

  test("lmGateSink: bootstrap passes whole, repeat-phrase docs clear the " +
      "floor while alien docs fail, final model ≡ from-scratch fit") {
    implicit val sc = spark.sqlContext
    import graft.operators.LanguageModel
    val base = s"/tmp/graft-lmgate-${System.nanoTime()}"
    // a fixed phrase the model learns: its bigram/context count ratios
    // keep per-term qlog scores around −5..−6 once fitted
    def good(i: Int) =
      (i.toLong, "the quick brown fox jumps over the lazy dog")
    // all-novel tokens: every bigram AND context unseen → each term is
    // qlog3(1) − qlog3(V) ≈ −8..−10 at this fixture's V
    def alien(i: Int) =
      (i.toLong, s"zxq$i wvu$i ponm$i lkj$i hgfe$i dcba$i")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.lmGateSink(spark, in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$base/model", s"$base/out", s"$base/ckpt",
      num = -7L, den = 1L)
    try {
      in.addData(good(1), good(2)); q.processAllAvailable()
      in.addData(good(3), alien(4)); q.processAllAvailable()
      in.addData(good(5), alien(6)); q.processAllAvailable()
      // batch 0 bootstraps: no model, no evidence to reject
      val b0 = spark.read.parquet(s"$base/out/batch=0")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(b0 == Set(1L, 2L))
      val out = spark.read.parquet(s"$base/out")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 3L, 5L))
      // batch twin: batch 2's survivors equal scoring its docs against
      // the model accumulated from batches 0-1
      val hist = Seq(good(1), good(2), good(3), alien(4))
        .toDF("doc_id", "text")
      val model01 = LanguageModel.lmModel(LanguageModel.lmFeatures(
        hist, col("doc_id"), col("text")))
      val b2 = Seq(good(5), alien(6)).toDF("doc_id", "text")
      val want = LanguageModel.lmQualityFilter(
          LanguageModel.lmScoreQuantized(b2, col("doc_id"), col("text"),
            model01), -7L, 1L)
        .select(col("id")).as[Long].collect().toSet
      val got = spark.read.parquet(s"$base/out/batch=2")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(got == want && want == Set(5L))
      // monoid law: the newest persisted model ≡ a from-scratch fit
      // over every streamed doc
      val scratch = LanguageModel.lmModel(LanguageModel.lmFeatures(
          Seq(good(1), good(2), good(3), alien(4), good(5), alien(6))
            .toDF("doc_id", "text"), col("doc_id"), col("text")))
        .select("h", "kind", "cnt").as[(Long, Int, Long)]
        .collect().toSet
      val persisted = StreamOps.dsirModelView(spark, s"$base/model",
          Long.MaxValue).get
        .select("h", "kind", "cnt").as[(Long, Int, Long)]
        .collect().toSet
      assert(persisted == scratch)
    } finally q.stop()
  }

  test("erGateSink: entity dictionary dedups exact and near names across " +
      "and within batches; mid-stream compaction; as-of snapshots") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-ergate-${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.erGateSink(spark, in.toDF().toDF("rid", "nm"),
      "rid", "nm", s"$base/store", s"$base/out", s"$base/ckpt",
      maxDist = 2, compactEvery = 2)
    try {
      // batch 0: two records of one entity + one other entity
      in.addData((1L, "acme corp"), (2L, "acme corp"), (3L, "zeta llc"))
      q.processAllAvailable()
      // batch 1: exact dup, near dup (d=1), new entity, near dup (d=1)
      in.addData((10L, "acme corp"), (11L, "acme corp."),
        (12L, "beta corp"), (13L, "zeta lld"))
      q.processAllAvailable()
      // compaction ran after batch 1; batch 2 gates against the
      // generation: near dup of a COMPACTED entity + a new one
      in.addData((20L, "beta corq"), (21L, "gamma inc"))
      q.processAllAvailable()

      val out = spark.read.parquet(s"$base/out")
        .select(col("rid")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 3L, 12L, 21L))
      // dictionary = exactly the four surviving entities
      val ents = StreamOps.gateStoreView(spark, s"$base/store",
          Seq("eid", "nm")).get
        .as[(Long, String)].collect().toSet
      assert(ents == Set((1L, "acme corp"), (3L, "zeta llc"),
        (12L, "beta corp"), (21L, "gamma inc")))
      // a generation dir exists and older batch dirs folded into it
      val gens = new java.io.File(s"$base/store").listFiles()
        .filter(_.getName.startsWith("gen=")).map(_.getName).toSeq
      assert(gens == Seq("gen=1"))

      // as-of snapshots: the survivor output as of each batch
      def outAsOf(k: Long) = StreamOps.gateStoreViewAsOf(spark,
          s"$base/out", Seq("rid"), k).get
        .as[Long].collect().toSet
      assert(outAsOf(0L) == Set(1L, 2L, 3L))
      assert(outAsOf(1L) == Set(1L, 2L, 3L, 12L))
      assert(outAsOf(Long.MaxValue) == out)
      // the dictionary as of batch 0 (pre-compaction dirs retained by
      // the one-cycle vacuum grace)
      val entsAsOf0 = StreamOps.gateStoreViewAsOf(spark,
          s"$base/store", Seq("eid", "nm"), 0L).get
        .as[(Long, String)].collect().toSet
      assert(entsAsOf0 == Set((1L, "acme corp"), (3L, "zeta llc")))
      // as-of the newest generation ≡ the live view
      val entsNow = StreamOps.gateStoreViewAsOf(spark, s"$base/store",
          Seq("eid", "nm"), Long.MaxValue).get
        .as[(Long, String)].collect().toSet
      assert(entsNow == ents)
    } finally q.stop()
  }

  test("bm25IndexGateSink: streamed batches maintain the inverted " +
      "index; mid-stream OPTIMIZE; answers ≡ a from-scratch index") {
    import graft.operators.{Retrieval, TextAnalysis}
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-bm25gate-${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.bm25IndexGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/idx", s"$base/ckpt", compactEvery = 2,
      compactFilesOut = 2, appendFilesOut = 2)
    try {
      val b0 = Seq((1L, "merge sort beats bubble sort"),
        (2L, "window functions rank rows"))
      val b1 = Seq((3L, "spark executes the merge join"),
        (4L, "the window slides and tumbles"))
      val b2 = Seq((5L, "spark spark tuning notes"),
        (6L, "unrelated gardening prose"))
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable() // OPTIMIZE after b1
      in.addData(b2: _*); q.processAllAvailable()
      val corpus = (b0 ++ b1 ++ b2).toDF("doc_id", "text")
      val want = TextAnalysis.bm25TopK(corpus, col("doc_id"),
        col("text"), Seq("merge", "window", "spark"), k = 10).collect()
      val got = Retrieval.bm25TopKIndexed(spark, s"$base/idx",
        Seq("merge", "window", "spark"), k = 10).collect()
      assert(got.toSeq == want.toSeq && got.nonEmpty)
      // the mid-stream compaction left a generation; batch 2 rides on
      // top of it and the set-oriented path answers through both
      val names = new java.io.File(s"$base/idx/postings").listFiles()
        .map(_.getName)
      assert(names.exists(_.startsWith("gen=")), names.mkString(","))
      val many = Retrieval.bm25TopKIndexedMany(spark, s"$base/idx",
          Seq((7L, 0, "spark")).toDF("query_id", "pos", "term"), k = 3)
        .select("id").as[Long].collect().toSet
      assert(many == Set(3L, 5L))
    } finally q.stop()
  }

  test("pcaMomentsGateSink: three vector micro-batches + mid-stream " +
      "OPTIMIZE accumulate moments ≡ from-scratch bit-for-bit; " +
      "store-backed refit ≡ direct fit") {
    import graft.operators.Similarity
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-pcagate-${System.nanoTime()}"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.pcaMomentsGateSink(spark,
      in.toDF().toDF("id", "vec"), "vec", s"$base/store",
      s"$base/ckpt", compactEvery = 2)
    try {
      def mk(seed: Int) = (0 until 8).map(i =>
        ((seed * 100 + i).toLong,
          Seq.tabulate(4)(j => (seed * 0.3f + i * 0.1f - j * 0.2f))))
      val b0 = mk(1); val b1 = mk(2); val b2 = mk(3)
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable() // OPTIMIZE after b1
      in.addData(b2: _*); q.processAllAvailable()
      val all = (b0 ++ b1 ++ b2).toDF("id", "vec")
      val want = Similarity.pcaMoments(all, col("vec"))
        .select(col("i"), col("j"), col("v").cast("long"))
        .as[(Int, Int, Long)].collect().toSet
      val got = Similarity.pcaMomentsFromStore(spark, s"$base/store")
        .select(col("i"), col("j"), col("v").cast("long"))
        .as[(Int, Int, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
      // the mid-stream compaction left a generation behind
      val names = new java.io.File(s"$base/store").listFiles()
        .map(_.getName)
      assert(names.exists(_.startsWith("gen=")), names.mkString(","))
      val (m1, bs1, v1) = Similarity.fitPcaFromMoments(
        Similarity.pcaMomentsFromStore(spark, s"$base/store"), k = 2)
      val (m2, bs2, v2) = Similarity.fitPca(all, col("vec"), k = 2)
      assert(m1.toSeq == m2.toSeq && v1.toSeq == v2.toSeq &&
        bs1.map(_.toSeq).toSeq == bs2.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("kCenterGateSink: first batch bootstraps the coreset, later " +
      "batches extend with batch-only picks; final state is bit-equal " +
      "to an operator-by-operator replay") {
    import graft.operators.Similarity
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-kcgate-${System.nanoTime()}"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.kCenterGateSink(spark,
      in.toDF().toDF("id", "vec"), "id", "vec", k = 2, kNew = 2,
      s"$base/store", s"$base/ckpt")
    try {
      val b0 = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(4.0f, 0.0f)),
        (3L, Seq(1.0f, 0.0f)))
      val b1 = Seq((10L, Seq(10.0f, 0.0f)), (11L, Seq(2.0f, 0.0f)))
      val b2 = Seq((20L, Seq(0.0f, 7.0f)), (21L, Seq(4.1f, 0.0f)))
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = Similarity.kCenterStoreCenters(spark, s"$base/store")
        .orderBy(col("rank"))
        .as[(Int, Long, Double)].collect().toSeq
      // replay: bootstrap on b0, extend per batch with store-batch
      // ids = stream-batch + 1
      val rdir = s"$base/replay"
      Similarity.writeKCenterStore(b0.toDF("id", "vec"), col("id"),
        col("vec"), k = 2, rdir)
      Similarity.kCenterExtend(b1.toDF("id", "vec"), col("id"),
        col("vec"), rdir, batchId = 2L, kNew = 2): Unit
      Similarity.kCenterExtend(b2.toDF("id", "vec"), col("id"),
        col("vec"), rdir, batchId = 3L, kNew = 2): Unit
      val want = Similarity.kCenterStoreCenters(spark, rdir)
        .orderBy(col("rank"))
        .as[(Int, Long, Double)].collect().toSeq
      assert(got == want && got.size == 6, s"$got vs $want")
      // ranks are contiguous and the coverage radii are batch-local
      assert(got.map(_._1) == (1 to 6))
    } finally q.stop()
  }

  test("gate-store retraction: substring, embedding, and ER takedowns " +
      "stop suppressing immediately; each owning gate's compaction " +
      "drops the rows physically and clears its tombstone set") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-gateret-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained simply " * 8
    // SUBSTRING store
    val sin = MemoryStream[(Long, String)]
    val sq = StreamOps.substringGateSink(spark,
      sin.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/sub", s"$base/subout", s"$base/subckpt",
      compactEvery = 2)
    try {
      sin.addData((1L, docA), (3L, docB)); sq.processAllAvailable()
    } finally sq.stop()
    // takedown under QUIESCE — batch mutators are fenced against live
    // gates (ConcurrentWriterException), so the delete runs between
    // sink generations and the gate resumes from its checkpoint
    StreamOps.deleteFromNearDupStore(spark, s"$base/sub",
      Seq(1L).toDF("id"), batchId = 1L)
    val sq2 = StreamOps.substringGateSink(spark,
      sin.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/sub", s"$base/subout", s"$base/subckpt",
      compactEvery = 2)
    try {
      // a re-ingest sharing doc 1's passages now survives; this
      // stream batch also compacts: physical drop + tombstone clear
      sin.addData((11L, docA)); sq2.processAllAvailable()
      val out = spark.read.parquet(s"$base/subout")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(out == Set(1L, 3L, 11L), s"got $out")
      val ids = spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/sub"): _*)
        .select(col("id")).distinct().as[Long].collect().toSet
      assert(ids == Set(3L, 11L), s"store ids $ids")
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/sub_deleted"): _*).isEmpty)
      // suppression transferred to the surviving copy
      sin.addData((21L, docA)); sq2.processAllAvailable()
      assert(spark.read.parquet(s"$base/subout")
        .select(col("doc_id")).as[Long].collect().toSet ==
        Set(1L, 3L, 11L))
    } finally sq2.stop()
    // EMBEDDING store (codes + vecs siblings, one shared set)
    def v(seed: Int, eps: Double = 0.0): Array[Float] =
      Array.tabulate(64)(i => (math.sin(seed * 131 + i + 1) +
        (if (i == 0) eps else 0.0)).toFloat)
    val ein = MemoryStream[(Long, Array[Float])]
    val eq = StreamOps.embedDedupGateSink(spark,
      ein.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$base/emb", s"$base/embout", s"$base/embckpt",
      threshold = 0.95, compactEvery = 2)
    try {
      ein.addData((1L, v(1)), (2L, v(2))); eq.processAllAvailable()
    } finally eq.stop()
    StreamOps.deleteFromNearDupStore(spark, s"$base/emb",
      Seq(1L).toDF("id"), batchId = 1L)
    val eq2 = StreamOps.embedDedupGateSink(spark,
      ein.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$base/emb", s"$base/embout", s"$base/embckpt",
      threshold = 0.95, compactEvery = 2)
    try {
      // a near-dup of the retracted vector now survives; compaction
      // folds BOTH sibling dirs minus the tombstones, then clears
      ein.addData((11L, v(1, 0.01))); eq2.processAllAvailable()
      val out = spark.read.parquet(s"$base/embout")
        .select(col("id")).as[Long].collect().toSet
      assert(out == Set(1L, 2L, 11L), s"got $out")
      val vecIds = StreamOps.gateStoreView(spark, s"$base/emb/vecs",
          Seq("id")).get.distinct().as[Long].collect().toSet
      val codeIds = StreamOps.gateStoreView(spark, s"$base/emb/codes",
          Seq("id")).get.distinct().as[Long].collect().toSet
      assert(vecIds == Set(2L, 11L) && codeIds == Set(2L, 11L),
        s"vecs $vecIds codes $codeIds")
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/emb_deleted"): _*).isEmpty)
    } finally eq2.stop()
    // ER entity dictionary (tombstoned by eid)
    val rin = MemoryStream[(Long, String)]
    val rq = StreamOps.erGateSink(spark, rin.toDF().toDF("rid", "nm"),
      "rid", "nm", s"$base/er", s"$base/erout", s"$base/erckpt",
      maxDist = 2, compactEvery = 2)
    try {
      rin.addData((1L, "acme corp"), (3L, "zeta llc"))
      rq.processAllAvailable()
    } finally rq.stop()
    StreamOps.deleteFromNearDupStore(spark, s"$base/er",
      Seq(1L).toDF("id"), batchId = 1L)
    val rq2 = StreamOps.erGateSink(spark, rin.toDF().toDF("rid", "nm"),
      "rid", "nm", s"$base/er", s"$base/erout", s"$base/erckpt",
      maxDist = 2, compactEvery = 2)
    try {
      // a near name of the retracted entity now survives as a NEW
      // entity; compaction drops eid 1's dictionary row and clears
      rin.addData((10L, "acme corp.")); rq2.processAllAvailable()
      val ents = StreamOps.gateStoreView(spark, s"$base/er",
          Seq("eid", "nm")).get
        .as[(Long, String)].collect().toSet
      assert(ents == Set((3L, "zeta llc"), (10L, "acme corp.")),
        s"got $ents")
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/er_deleted"): _*).isEmpty)
    } finally rq2.stop()
  }

  test("retraction vs time travel: an as-of snapshot can outlive a " +
      "retraction by AT MOST one compaction cycle — the fold drops " +
      "the rows from the live view, the NEXT cycle's vacuum removes " +
      "the pre-delete dirs a snapshot could still resolve") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-ttret-${System.nanoTime()}"
    val store = s"$base/sub"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained " * 8
    def fps(rows: Seq[(Long, String)]) =
      graft.operators.Curation.windowFpRows(rows.toDF("doc_id", "text"),
        col("doc_id"), col("text"), 40, 8, 16).select(col("fp"), col("id"))
    fps(Seq((1L, docA), (3L, docB)))
      .write.parquet(s"$store/batch=0")
    fps(Seq((4L, docA.reverse))).write.parquet(s"$store/batch=1")
    StreamOps.deleteFromNearDupStore(spark, store,
      Seq(1L).toDF("id"), batchId = 2L)
    // cycle 1: the fold (gen=1 — above the pre-delete batch 0) drops
    // doc 1 from the LIVE view...
    StreamOps.compactWindowStoreGen(spark, store,
      s"${store}_manifest", filesOut = 2): Unit
    def idsAsOf(k: Long): Set[Long] =
      StreamOps.gateStoreViewAsOf(spark, store, Seq("id"), k)
        .map(_.distinct().as[Long].collect().toSet)
        .getOrElse(Set.empty)
    assert(idsAsOf(Long.MaxValue) == Set(3L, 4L))
    // ...but the one-cycle vacuum grace keeps batch=0 on disk, so a
    // pre-delete snapshot STILL SERVES the retracted doc — the
    // documented compliance window
    assert(idsAsOf(0L) == Set(1L, 3L), s"got ${idsAsOf(0L)}")
    // cycle 2 (a later append + fold) vacuums the superseded dirs:
    // now NO as-of token resurrects doc 1 — compliance is reached at
    // the second cycle, pin takedown deadlines to it
    fps(Seq((5L, docB + " tail"))).write.parquet(s"$store/batch=2")
    StreamOps.compactWindowStoreGen(spark, store,
      s"${store}_manifest", filesOut = 2): Unit
    assert(idsAsOf(0L).intersect(Set(1L)).isEmpty,
      s"pre-delete snapshot must not resurrect: ${idsAsOf(0L)}")
    assert(idsAsOf(Long.MaxValue) == Set(3L, 4L, 5L))
    val dirNames = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!dirNames.contains("batch=0"), s"dirs: $dirNames")
  }

  test("retractionGateSink: gateStorePaths/erStorePaths fan a " +
      "takedown into every id-keyed gate store's tombstone set on " +
      "the shared monotone sequence; reads hide the ids immediately") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-fanret-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    // substring store with docs 1 and 3; ER dictionary with eid 1, 3
    graft.operators.Curation.windowFpRows(
        Seq((1L, docA), (3L, docA.reverse)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), 40, 8, 16)
      .select(col("fp"), col("id"))
      .write.parquet(s"$base/sub/batch=0")
    Seq((100L, 1L, "acme corp"), (200L, 3L, "zeta llc"))
      .toDF("blkh", "eid", "nm")
      .write.parquet(s"$base/er/batch=0")
    val in = MemoryStream[Long]
    val q = StreamOps.retractionGateSink(spark, in.toDF().toDF("id"),
      "id", None, None, s"$base/ckpt",
      gateStorePaths = Seq(s"$base/sub"),
      erStorePaths = Seq(s"$base/er"))
    try {
      in.addData(1L); q.processAllAvailable()
      // both tombstone sets hold id 1, on ids above each store's head
      def deleted(p: String): Set[Long] = spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"${p}_deleted"): _*)
        .select(col("id")).as[Long].collect().toSet
      assert(deleted(s"$base/sub") == Set(1L))
      assert(deleted(s"$base/er") == Set(1L))
      // the shared tombstone-aware reads hide the id immediately
      val fpIds = StreamOps.storeFpsFor(spark, s"$base/sub",
          s"$base/sub_manifest",
          graft.operators.Curation.windowFpRows(
            Seq((9L, docA)).toDF("doc_id", "text"), col("doc_id"),
            col("text"), 40, 8, 16))
        .select(col("id")).distinct().as[Long].collect().toSet
      assert(!fpIds.contains(1L), s"got $fpIds")
      val ents = StreamOps.erStoreSliceFor(spark, s"$base/er",
          s"$base/er_manifest",
          Seq((100L, 9L, "acme corq")).toDF("blkh", "eid", "nm"),
          Seq.empty[(Long, Long, String)].toDF("eid", "nm", "blkh"))
        .select(col("eid")).as[Long].collect().toSet
      assert(ents == Set(3L), s"got $ents")
    } finally q.stop()
  }

  test("retractionGateSink: k-center family — a non-center takedown " +
      "is a trace no-op (no rebuild, no new generation); a CENTER " +
      "takedown rebuilds the trace over survivors immediately") {
    import graft.operators.Similarity
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-kcret-${System.nanoTime()}"
    // line fixture: greedy k=2 picks 1 (min id, r 0) then 2 (r 16);
    // 3 and 4 are never argmax picks
    val vecs = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(4.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(3.0f, 0.0f)))
      .toDF("id", "vec")
    Similarity.writeKCenterStore(vecs, col("id"), col("vec"), k = 2,
      s"$base/kc")
    val in = MemoryStream[Long]
    val q = StreamOps.retractionGateSink(spark, in.toDF().toDF("id"),
      "id", None, None, s"$base/ckpt",
      kcenterStoreDir = Some(s"$base/kc"), kcenterVecs = Some(vecs))
    try {
      def centers(): Seq[(Int, Long, Double)] =
        Similarity.kCenterStoreCenters(spark, s"$base/kc")
          .orderBy(col("rank")).as[(Int, Long, Double)]
          .collect().toSeq
      // non-center takedown: provably a trace no-op — the store is
      // untouched (no superseding generation is even written)
      in.addData(3L); q.processAllAvailable()
      assert(centers() == Seq((1, 1L, 0.0), (2, 2L, 16.0)))
      assert(!new java.io.File(s"$base/kc").listFiles()
        .exists(_.getName.startsWith("gen=")))
      // CENTER takedown (id 1): immediate rebuild over vecs minus
      // the CUMULATIVE deleted set {1, 3} — survivors {2, 4}: pick 2
      // (min id, r 0) then 4 (d2 1)
      in.addData(1L); q.processAllAvailable()
      assert(centers() == Seq((1, 2L, 0.0), (2, 4L, 1.0)),
        s"got ${centers()}")
    } finally q.stop()
  }

  test("retractionGateSink: streamed takedowns clean all SEVEN store " +
      "families (BM25, PQ, sig store, PCA moments, KMV units, DSIR " +
      "model, LM model); mid-stream compaction; final answers ≡ from-scratch " +
      "over the survivors; retracted docs stop suppressing new " +
      "near-dups; refits forget") {
    import graft.operators.{Retrieval, Similarity, TextAnalysis}
    import graft.queries.ParityQueries.t
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-retract-${System.nanoTime()}"
    // corpus under takedown: docs for BM25, embeddings for PQ
    val docs = Seq(
      (1L, "merge sort beats bubble sort"),
      (2L, "window functions rank rows"),
      (3L, "spark executes the merge join"),
      (4L, "the window slides and tumbles"),
      (5L, "spark spark tuning notes"),
      (6L, "merge window spark all three")).toDF("doc_id", "text")
    Retrieval.writeBm25Index(docs, col("doc_id"), col("text"),
      s"$base/bm25", filesOut = 4)
    val embs = t(spark, sf0001, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .where(col("id") < 40)
    val cents = Similarity.fitCentroids(embs, k = 4, iters = 2)
    val books = Similarity.fitPqCodebooks(embs, m = 16, ks = 4,
      iters = 1)
    Similarity.writePqCodeStore(embs, cents, books, s"$base/pq")
    // additive PCA moment store under takedown (fourth family)
    Similarity.appendPcaMoments(embs, col("vec"), s"$base/pca", 0L)
    // per-unit KMV sketch store under takedown (fifth family)
    import graft.operators.Overlap
    def kmvKeys(d: org.apache.spark.sql.DataFrame) =
      d.select(lit("all").as("grp"), col("doc_id").as("unit"),
        explode(split(col("text"), " ")).as("key"))
    Overlap.writeKmvUnitStore(kmvKeys(docs), col("grp"), col("unit"),
      col("key"), k = 16, s"$base/kmv")
    // DSIR cumulative model under takedown (sixth family): raw = the
    // doc corpus, target = a small quality slice
    import graft.operators.Selection
    val dsirTgt = Seq((100L, "spark merge join tuning"),
      (101L, "window rank functions")).toDF("doc_id", "text")
    def dsirFeats(d: org.apache.spark.sql.DataFrame) =
      Selection.dsirFeatures(d, col("doc_id"), col("text"), 512)
    Selection.dsirBucketTable(dsirFeats(docs), dsirFeats(dsirTgt))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/dsir/model=0")
    // LM count-monoid model under takedown (seventh family)
    import graft.operators.LanguageModel
    def lmFeats(d: org.apache.spark.sql.DataFrame) =
      LanguageModel.lmFeatures(d, col("doc_id"), col("text"))
    LanguageModel.lmModel(lmFeats(docs))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/lm/model=0")
    // sig store under takedown: docs 3 and 40 ingested through the
    // banded near-dup gate first
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained " * 8
    val sin = MemoryStream[(Long, String)]
    // the sig store's ingestion gate and the retraction sink share a
    // store family — the writer fence forbids them LIVE concurrently,
    // so each phase quiesces the other and resumes from its checkpoint
    def startSigGate() = StreamOps.nearDupGateSinkBanded(spark,
      sin.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/sig", s"$base/sigout", s"$base/sigckpt")
    val sq1 = startSigGate()
    try {
      sin.addData((3L, docA), (40L, docB)); sq1.processAllAvailable()
    } finally sq1.stop()
    val in = MemoryStream[Long]
    val q = StreamOps.retractionGateSink(spark, in.toDF().toDF("id"),
      "id", Some(s"$base/bm25"), Some(s"$base/pq"), s"$base/ckpt",
      compactEvery = 2, sigStorePath = Some(s"$base/sig"),
      pcaStoreDir = Some(s"$base/pca"), pcaVecs = Some(embs),
      kmvStoreDir = Some(s"$base/kmv"),
      dsirModelPath = Some(s"$base/dsir"),
      dsirDocs = Some(docs.select(col("doc_id").as("id"),
        col("text"))),
      dsirBuckets = 512,
      lmModelPath = Some(s"$base/lm"),
      lmDocs = Some(docs.select(col("doc_id").as("id"), col("text"))))
    try {
      in.addData(3L, 5L, 17L); q.processAllAvailable()
      in.addData(5L, 23L); q.processAllAvailable() // re-delete + compact
    } finally q.stop()
    // sequential resume: the gate restarts from its own checkpoint
    // after the retraction stream quiesced
    val sq = startSigGate()
    try {
      // a retracted doc's signatures no longer suppress new near-dups
      // (100 ~ deleted 3 survives); live history still gates (101 ~ 40
      // drops)
      sin.addData((100L, docA), (101L, docB)); sq.processAllAvailable()
      val sigOut = spark.read.parquet(s"$base/sigout")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(sigOut == Set(3L, 40L, 100L), s"got $sigOut")
      // compaction physically dropped doc 3's signatures and cleared
      // the tombstone set
      val sigIds = spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/sig"): _*)
        .select(col("id")).distinct().as[Long].collect().toSet
      assert(sigIds == Set(40L, 100L), s"got $sigIds")
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/sig_deleted"): _*).isEmpty)
      val terms = Seq("merge", "window", "spark")
      val got = Retrieval.bm25TopKIndexed(spark, s"$base/bm25",
          terms, k = 10)
        .orderBy(col("score").desc, col("id")).collect().toSeq
      val want = TextAnalysis.bm25TopK(
          docs.where(!col("doc_id").isin(3L, 5L)), col("doc_id"),
          col("text"), terms, k = 10)
        .orderBy(col("score").desc, col("id")).collect().toSeq
      assert(got == want, s"$got vs $want")
      val gotPq = Similarity.pqStoreCodes(spark, s"$base/pq")
        .select(col("vb"), col("codes"))
        .as[(Long, Seq[Int])].collect().toSet
      val wantPq = Similarity.pqEncode(
          embs.where(!col("id").isin(3L, 5L, 17L, 23L)), cents, books)
        .select(col("vb"), col("codes"))
        .as[(Long, Seq[Int])].collect().toSet
      assert(gotPq == wantPq)
      // compaction ran (compactEvery = 2): folded generations exist
      // and the tombstones are physically gone from them
      def names(p: String) = new java.io.File(p).listFiles()
        .map(_.getName).toSeq
      assert(names(s"$base/pq").exists(_.startsWith("gen=")))
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/pq"): _*)
        .where(col("cell") < 0).isEmpty)
      // PCA moment store: negative batches (incl. the re-delete
      // no-op) + compaction land exactly on the survivors; a refit
      // has forgotten the retracted vectors bit-for-bit
      val gotM = Similarity.pcaMomentsFromStore(spark, s"$base/pca")
        .select(col("i"), col("j"), col("v").cast("long"))
        .as[(Int, Int, Long)].collect().toSet
      val wantM = Similarity.pcaMoments(
          embs.where(!col("id").isin(3L, 5L, 17L, 23L)), col("vec"))
        .select(col("i"), col("j"), col("v").cast("long"))
        .as[(Int, Int, Long)].collect().toSet
      assert(gotM == wantM)
      assert(names(s"$base/pca").exists(_.startsWith("gen=")))
      val (mS, bS, vS) = Similarity.fitPcaFromMoments(
        Similarity.pcaMomentsFromStore(spark, s"$base/pca"), k = 3)
      val (mF, bF, vF) = Similarity.fitPca(
        embs.where(!col("id").isin(3L, 5L, 17L, 23L)), col("vec"),
        k = 3)
      assert(mS.toSeq == mF.toSeq && vS.toSeq == vF.toSeq &&
        bS.map(_.toSeq).toSeq == bF.map(_.toSeq).toSeq)
      // KMV unit store: the survivor re-fold ≡ sketching the kept
      // docs from scratch (semigroup law), post-compaction, with the
      // tombstone set cleared (deletes of unknown units 17/23 are
      // harmless tombstones)
      val gotKmv = Overlap.kmvStoreSketches(spark, s"$base/kmv", 16)
        .as[(String, Array[Long])].collect().toMap
        .view.mapValues(_.toSeq).toMap
      val wantKmv = Overlap.kmvSketch(
          kmvKeys(docs.where(!col("doc_id").isin(3L, 5L))),
          col("grp"), col("key"), 16)
        .as[(String, Array[Long])].collect().toMap
        .view.mapValues(_.toSeq).toMap
      assert(gotKmv == wantKmv)
      assert(names(s"$base/kmv").exists(_.startsWith("gen=")))
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/kmv/deleted"): _*).isEmpty)
      // DSIR model: the newest generation ≡ a from-scratch fit over
      // the surviving raw corpus (the re-streamed 5 subtracted ONCE;
      // unknown ids 17/23 tombstoned but feature-free)
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gotDsir = StreamOps.dsirModelView(spark, s"$base/dsir",
        Long.MaxValue).get
      val wantDsir = Selection.dsirBucketTable(
        dsirFeats(docs.where(!col("doc_id").isin(3L, 5L))),
        dsirFeats(dsirTgt))
      assert(key(gotDsir) == key(wantDsir))
      // LM model: newest generation ≡ from-scratch counts over the
      // surviving corpus (zeroed rows dropped, re-delete a no-op)
      val keyI = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val gotLmM = StreamOps.dsirModelView(spark, s"$base/lm",
        Long.MaxValue).get
      val wantLmM = LanguageModel.lmModel(
        lmFeats(docs.where(!col("doc_id").isin(3L, 5L))))
      assert(keyI(gotLmM) == keyI(wantLmM))
    } finally sq.stop()
  }

  test("graphGateSink: streamed edge batches maintain the CC and " +
      "label-prop stores; mid-stream OPTIMIZE; final state ≡ " +
      "from-scratch over the union graph") {
    import graft.operators.Graph
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-graphgate-${System.nanoTime()}"
    val seeds = Seq((1L, "en"), (10L, "de"), (20L, "fr"))
      .toDF("sid", "slabel")
    val in = MemoryStream[(Long, Long)]
    val q = StreamOps.graphGateSink(spark,
      in.toDF().toDF("a", "b"), "a", "b", seeds, "sid", "slabel",
      iters = 2, s"$base/edges", s"$base/cc", s"$base/lp",
      s"$base/ckpt", compactEvery = 2, filesOut = 2,
      triStorePath = Some(s"$base/tri"),
      kcoreStorePath = Some(s"$base/kc"), kcoreK = 2,
      prStorePath = Some(s"$base/pr"), prRounds = 2, prIters = 5,
      hitsStorePath = Some(s"$base/hits"), hitsRounds = 2,
      hitsIters = 5,
      louvainStorePath = Some(s"$base/lv"), louvainRounds = 1,
      louvainIters = 3,
      landmarkStorePath = Some(s"$base/lm"), landmarkCount = 2,
      landmarkDepth = 3,
      sccStorePath = Some(s"$base/scc"))
    try {
      // b0: components {1,2,3} and {10,11}; seed 20 is edge-isolated
      val b0 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      // b1: bridge the two components + an all-new pair → the
      // compaction hook fires AFTER this batch (compactEvery = 2)
      val b1 = Seq((3L, 10L), (20L, 21L))
      // b2: merge the pair into the big component through a
      // POST-COMPACTION append + attach a brand-new node + close a
      // triangle on 1-2 AND re-send b0's (1,2) REVERSED — the gate
      // must exact-dedup it before triangle counting (a re-count
      // would double (1,2)'s triangles), while CC/LP/k-core absorb
      // it harmlessly
      val b2 = Seq((21L, 1L), (30L, 11L), (1L, 31L), (31L, 2L),
        (2L, 1L))
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable() // OPTIMIZE after b1
      in.addData(b2: _*); q.processAllAvailable()
      val union = (b0 ++ b1 ++ b2).toDF("a", "b")
      // mid-stream OPTIMIZE left generations; batch 2 rode on top
      def names(p: String) = new java.io.File(p).listFiles()
        .map(_.getName).toSeq
      assert(names(s"$base/cc").exists(_.startsWith("gen=")))
      assert(names(s"$base/lp").exists(_.startsWith("gen=")))
      assert(names(s"$base/cc").contains("batch=2"))
      // CC state ≡ from-scratch over the union edge list
      val gotCC = Graph.ccStoreLabels(spark, s"$base/cc")
        .as[(Long, Long)].collect().toMap
      val wantCC = Graph.connectedComponents(union, col("a"), col("b"))
        .as[(Long, Long)].collect().toMap
      assert(gotCC == wantCC)
      assert(gotCC(21L) == 1L && gotCC(30L) == 1L)
      // final-round labels ≡ from-scratch 2-round propagation
      def toM(rows: Array[(Long, String)]) = rows.toMap
      val gotL = toM(Graph.labelStoreLabels(spark, s"$base/lp", 2)
        .as[(Long, String)].collect())
      val wantL = toM(Graph.labelPropagation(union, col("a"), col("b"),
          seeds, col("sid"), col("slabel"), iters = 2)
        .as[(Long, String)].collect())
      assert(gotL == wantL, s"$gotL vs $wantL")
      assert(gotL(2L) == "en" && gotL(21L) == "fr")
      // triangle totals ≡ from-scratch over the union — the re-sent
      // (2,1) counted ONCE (the gate's exact-dedup), the (1,2,31)
      // triangle closed through a HISTORICAL edge counted exactly once
      val gotT = Graph.triangleStoreCounts(spark, s"$base/tri")
        .as[(Long, Long)].collect().toMap
      val wantT = Graph.triangleCounts(union, col("a"), col("b"))
        .as[(Long, Long)].collect().toMap
      assert(gotT == wantT, s"$gotT vs $wantT")
      assert(gotT(31L) == 1L && gotT(1L) == 1L && gotT(2L) == 1L)
      // k-core members ≡ from-scratch (k = 2): the 1-2-3-10-11-30?…
      // ring plus 31's wedge — compared structurally, not by hand
      val gotK = Graph.kCoreStoreMembers(spark, s"$base/kc")
        .as[Long].collect().toSet
      val wantK = Graph.kCore(union, col("a"), col("b"), k = 2)
        .as[Long].collect().toSet
      assert(gotK == wantK, s"$gotK vs $wantK")
      assert(gotK.contains(31L))
      // PageRank: the gate's state is a PURE function of the batch
      // sequence (cold 5-round base on b0, then 2 warm rounds per
      // batch over the growing union) — replay it operator-by-operator
      // into a second store and demand bit-equality, mid-stream
      // OPTIMIZE and all
      val rdir = s"$base/pr-replay"
      Graph.writePageRankStore(b0.toDF("a", "b"), col("a"), col("b"),
        iters = 5, rdir)
      Graph.pageRankWarm((b0 ++ b1).toDF("a", "b"), col("a"),
        col("b"), rdir, batchId = 2L, rounds = 2): Unit
      Graph.pageRankWarm(union, col("a"), col("b"), rdir,
        batchId = 3L, rounds = 2): Unit
      val gotR = Graph.pageRankStoreRanks(spark, s"$base/pr")
        .as[(Long, Long)].collect().toMap
      val wantR = Graph.pageRankStoreRanks(spark, rdir)
        .as[(Long, Long)].collect().toMap
      assert(gotR == wantR, s"$gotR vs $wantR")
      // HITS: same pure-function replay contract as PageRank — cold
      // 5-round base on b0, then 2 warm rounds per batch over the
      // growing union, bit-equal through the mid-stream OPTIMIZE
      val hdir = s"$base/hits-replay"
      Graph.writeHitsStore(b0.toDF("a", "b"), col("a"), col("b"),
        iters = 5, hdir)
      Graph.hitsWarm((b0 ++ b1).toDF("a", "b"), col("a"),
        col("b"), hdir, batchId = 2L, rounds = 2): Unit
      Graph.hitsWarm(union, col("a"), col("b"), hdir,
        batchId = 3L, rounds = 2): Unit
      val gotH = Graph.hitsStoreScores(spark, s"$base/hits")
        .as[(Long, Long, Long)].collect().toSet
      val wantH = Graph.hitsStoreScores(spark, hdir)
        .as[(Long, Long, Long)].collect().toSet
      assert(gotH == wantH, s"$gotH vs $wantH")
      // Louvain: same pure-function replay contract — cold 3 rounds
      // on b0, then 1 warm gain round per batch over the growing union
      val ldir = s"$base/lv-replay"
      Graph.writeLouvainStore(b0.toDF("a", "b"), col("a"), col("b"),
        rounds = 3, ldir)
      Graph.louvainWarm((b0 ++ b1).toDF("a", "b"), col("a"),
        col("b"), ldir, batchId = 2L, rounds = 1): Unit
      Graph.louvainWarm(union, col("a"), col("b"), ldir,
        batchId = 3L, rounds = 1): Unit
      val gotLv = Graph.louvainStoreCommunities(spark, s"$base/lv")
        .as[(Long, Long)].collect().toSet
      val wantLv = Graph.louvainStoreCommunities(spark, ldir)
        .as[(Long, Long)].collect().toSet
      assert(gotLv == wantLv, s"$gotLv vs $wantLv")
      // Landmark sketch: distances only shrink under insertion, so
      // the maintained store must equal the FROM-SCRATCH union BFS
      // with the pivots frozen at bootstrap (b0's 2 smallest nodes =
      // {1, 2}) — the strongest claim of the eight forms, exact
      // against the semantic ground truth, not just a replay
      val gotLm = Graph.landmarkStoreDistances(spark, s"$base/lm")
        .as[(Long, Long, Int)].collect().toSet
      val wantLm = Graph.landmarkDistances(union, col("a"), col("b"),
          maxDepth = 3, pivots = Some(Seq(1L, 2L).toDF("lm")))
        .as[(Long, Long, Int)].collect().toSet
      assert(gotLm == wantLm, s"$gotLm vs $wantLm")
      // b1's bridge (3,10) pulled 10 within reach of both landmarks
      assert(gotLm.contains((10L, 1L, 3)) && gotLm.contains((10L, 2L, 2)))
      // the store-backed closeness readout (one |V|·L pass over the
      // maintained sketch, never a re-BFS) ≡ the estimator over the
      // from-scratch union sketch with the same frozen pivots
      val unionNodes = union.select(col("a").as("id"))
        .union(union.select(col("b").as("id"))).distinct()
      val gotHc = Graph.harmonicClosenessLandmark(
          Graph.landmarkStoreDistances(spark, s"$base/lm"), unionNodes)
        .as[(Long, Long)].collect().toMap
      val wantHc = Graph.harmonicClosenessLandmark(
          Graph.landmarkDistances(union, col("a"), col("b"),
            maxDepth = 3, pivots = Some(Seq(1L, 2L).toDF("lm"))),
          unionNodes)
        .as[(Long, Long)].collect().toMap
      assert(gotHc == wantHc, s"$gotHc vs $wantHc")
      assert(gotHc(10L) == 1000000L / 3 + 1000000L / 2)
      // SCC (the one DIRECTED form): the maintained assignment must
      // equal from-scratch SCC over the union read u → v — b2's
      // (2,1) + (1,31),(31,2) close the {1, 2, 31} cycle across
      // batches and a mid-stream OPTIMIZE
      val gotScc = Graph.sccStoreAssign(spark, s"$base/scc")
        .as[(Long, Long)].collect().toMap
      val wantScc = Graph.stronglyConnectedComponents(union, col("a"),
          col("b")).as[(Long, Long)].collect().toMap
      assert(gotScc == wantScc, s"$gotScc vs $wantScc")
      assert(gotScc(31L) == 1L && gotScc(2L) == 1L)
    } finally q.stop()
  }

  test("graphRetractionSink: node takedowns rebuild the CC, SCC and " +
      "landmark stores over surviving edges — splits included; edge " +
      "store physically drops; tombstones clear after a fold and " +
      "persist when the fold is a no-op; deleting a pivot drops its " +
      "BFS column; deleting the last edge leaves no stale rows") {
    import graft.operators.Graph
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-graphret-${System.nanoTime()}"
    // SCC {1,2,3} + tail 3→4→5; undirected CC = one component {1..5};
    // node 3 is a cut vertex for both; landmarks (2 smallest) = {1, 2}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    edges.withColumn("__b", lit(0L))
      .write.parquet(s"$base/edges/batch=0")
    Graph.writeCCStore(edges, col("u"), col("v"), s"$base/cc")
    Graph.writeSccStore(edges, col("u"), col("v"), s"$base/scc")
    Graph.writeLandmarkStore(edges, col("u"), col("v"),
      landmarks = 2, maxDepth = 3, s"$base/lm")
    // pre-delete sketch serves 4 and 5 through cut vertex 3
    assert(Graph.landmarkStoreDistances(spark, s"$base/lm")
      .as[(Long, Long, Int)].collect().toSet
      .contains((5L, 1L, 3)))
    val in = MemoryStream[Long]
    val q = StreamOps.graphRetractionSink(spark, in.toDF().toDF("id"),
      "id", s"$base/edges", s"$base/ckpt",
      ccStorePath = Some(s"$base/cc"),
      sccStorePath = Some(s"$base/scc"),
      landmarkStorePath = Some(s"$base/lm"), landmarkMaxDepth = 3,
      compactEvery = 1)
    try {
      in.addData(3L); q.processAllAvailable()
      // CC split: {1,2} and {4,5}; SCC all trivial
      assert(Graph.ccStoreLabels(spark, s"$base/cc")
        .as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
      assert(Graph.sccStoreAssign(spark, s"$base/scc")
        .as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 2L, 4L -> 4L, 5L -> 5L))
      // landmark sketch: 4 and 5 left both landmarks' depth-3 balls
      // entirely — the stale-small rows a skipped re-BFS would keep
      assert(Graph.landmarkStoreDistances(spark, s"$base/lm")
        .as[(Long, Long, Int)].collect().toSet ==
        Set((1L, 1L, 0), (2L, 1L, 1), (2L, 2L, 0), (1L, 2L, 1)))
      // physical drop + tombstone clear (the fold ran)
      val live = spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/edges"): _*)
      assert(live.where(col("u") === 3L || col("v") === 3L).isEmpty)
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/edges_deleted_nodes"): _*).isEmpty)
      // second takedown: the edge store is one generation now, the
      // fold is a no-op — the rebuild must STILL exclude the node
      // (filtered view) and the tombstones persist for a later fold
      in.addData(5L); q.processAllAvailable()
      // 4's only surviving edge died with 5 — it vanishes entirely
      assert(Graph.ccStoreLabels(spark, s"$base/cc")
        .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
      assert(Graph.sccStoreAssign(spark, s"$base/scc")
        .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 2L))
      assert(Graph.landmarkStoreDistances(spark, s"$base/lm")
        .as[(Long, Long, Int)].collect().toSet ==
        Set((1L, 1L, 0), (2L, 1L, 1), (2L, 2L, 0), (1L, 2L, 1)))
      assert(spark.read.parquet(
          graft.operators.Stats.committedViewDirs(spark,
            s"$base/edges_deleted_nodes"): _*)
        .select(col("id")).as[Long].collect().toSet == Set(5L))
      // third takedown retracts PIVOT 2 — and with it the last edge.
      // The landmark rebuild drops the pivot's whole BFS column and
      // keeps surviving pivot 1's dist-0 self-row; CC/SCC rebuild to
      // empty — Spark commits a schema-only parquet file for an
      // empty write, so the superseding generation still flips the
      // view (no stale fallback to the previous generation)
      in.addData(2L); q.processAllAvailable()
      assert(Graph.landmarkStoreDistances(spark, s"$base/lm")
        .as[(Long, Long, Int)].collect().toSet == Set((1L, 1L, 0)))
      assert(Graph.ccStoreLabels(spark, s"$base/cc").isEmpty)
      assert(Graph.sccStoreAssign(spark, s"$base/scc").isEmpty)
    } finally q.stop()
  }

  test("erGatePairs: candidate right side is batch-only — store×store " +
      "pairs never form, never reach the levenshtein confirm") {
    import graft.operators.{Resolution, TextAnalysis}
    // store block "acme" holds a confirmable store×store pair (1,2);
    // the batch touches the block with entity 3. Observed BEFORE the
    // edit-distance filter: every candidate's right endpoint must be
    // the batch entity — (1,2)/(2,1) must be absent.
    def k(rows: Seq[(Long, String)]) = rows.toDF("eid", "nm")
      .withColumn("blkh", TextAnalysis.fingerprint(
        Resolution.firstTokenBlock(col("nm"))))
    val store = k(Seq((1L, "acme corp"), (2L, "acme corp.")))
    val batchK = k(Seq((3L, "acme corpse")))
    val pairs = StreamOps.erGatePairs(store, batchK, maxBlock = 1000)
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L), (2L, 3L), (3L, 3L)),
      s"right side must be batch-only; got $pairs")
    // and the drop set through the confirm: 3 is near stored 1 and 2
    val drops = StreamOps.erGateDropEids(store, batchK, maxDist = 3,
        maxBlock = 1000)
      .as[Long].collect().toSet
    assert(drops == Set(3L))
    // store members count toward the union block cap: cap 2 drops the
    // 3-member block entirely
    assert(StreamOps.erGatePairs(store, batchK, maxBlock = 2)
      .collect().isEmpty)
  }

  test("profileDriftGateSink: per-column batch profiles fold into a " +
      "cumulative KMV-backed state; drift reports carry exact counts " +
      "and the cumulative distinct estimate") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = s"/tmp/graft-profgate-${System.nanoTime()}"
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.profileDriftGateSink(spark,
      in.toDF().toDF("lang", "n"), Seq("lang", "n"),
      s"$base/state", s"$base/out", s"$base/ckpt")
    try {
      in.addData(("en", 1L), ("en", 2L), (null, 3L))
      q.processAllAvailable()
      in.addData(("de", 1L), ("fr", 9L)); q.processAllAvailable()
      in.addData(("en", 1L)); q.processAllAvailable()
      def report(b: Int): Map[String, (Long, Long, Long, Long, Long, Long)] =
        spark.read.parquet(s"$base/out/batch=$b")
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
              r.getLong(5), r.getLong(6)))).toMap
      // (n_batch, nulls_batch, ndv_batch, n_total, nulls_total,
      //  ndv_total_est) — sketches unsaturated, so estimates are exact
      assert(report(0) == Map(
        "lang" -> ((3L, 1L, 1L, 3L, 1L, 1L)),
        "n" -> ((3L, 0L, 3L, 3L, 0L, 3L))))
      assert(report(1) == Map(
        "lang" -> ((2L, 0L, 2L, 5L, 1L, 3L)),
        "n" -> ((2L, 0L, 2L, 5L, 0L, 4L))))
      assert(report(2) == Map(
        "lang" -> ((1L, 0L, 1L, 6L, 1L, 3L)),
        "n" -> ((1L, 0L, 1L, 6L, 0L, 4L))))
      // state generations are batch-keyed and committed
      val fs = new org.apache.hadoop.fs.Path(s"$base/state")
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gens = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$base/state")).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      assert(gens == Set("sketch=0", "sketch=1", "sketch=2"))
    } finally q.stop()
  }

  test("banded gate appends upsert the manifest for their own batch " +
      "dir only: after three appends (no compaction) the manifest " +
      "covers exactly the committed view's files, and a narrow probe " +
      "still prunes") {
    import graft.operators.{Dedup, Stats}
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-ndmanifest-${System.nanoTime()}"
    val (store, manifest) = (s"$base/store", s"$base/store_manifest")
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog ",
      "watermark semantics for stream joins explained simply ",
      "bucketed table layouts and zero shuffle joins ",
      "completely fresh content about parquet footer stats ",
      "another novel document about shuffle partition sizing ",
      "range partitioning keeps each file to a narrow key span ")
      .map(_ * 8)
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupGateSinkBanded(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      s"$base/out", s"$base/ckpt", appendFilesOut = 4)
    try {
      docs.grouped(2).zipWithIndex.foreach { case (pair, b) =>
        in.addData(pair.zipWithIndex.map { case (d, i) =>
          (10L * b + i + 1, d) }: _*)
        q.processAllAvailable()
      }
      val viewDirs = Stats.committedViewDirs(spark, store)
      assert(viewDirs.map(d => new org.apache.hadoop.fs.Path(d).getName)
        .toSet == Set("batch=0", "batch=1", "batch=2"))
      def norm(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
      val viewFiles = spark.read.parquet(viewDirs: _*).inputFiles
        .map(norm).toSet
      val manifestFiles = spark.read.parquet(manifest)
        .select($"file").distinct().as[String].collect().map(norm).toSet
      assert(manifestFiles == viewFiles)
      // one (band, bucket) pair of the first doc: files whose band
      // range excludes it are skipped, and its stored row is still read
      val probe = Dedup.lshBuckets(Dedup.minhashSigsNative(
          Seq((1L, docs.head)).toDF("doc_id", "text"), col("doc_id"),
          col("text")), 4)
        .where($"band" === 0).select($"band", $"bucket")
      val kept = Stats.touchedPairsKeptFilesUnder(spark, viewDirs,
        manifest, "band", "bucket", probe)
      assert(kept.nonEmpty && kept.size < viewFiles.size,
        s"pruning must drop files: kept ${kept.size} of ${viewFiles.size}")
      val hit = StreamOps.storeBandsFor(spark, store, manifest, probe)
        .join(probe, Seq("band", "bucket"))
        .select($"id").as[Long].collect().toSet
      assert(hit == Set(1L), s"got $hit")
    } finally q.stop()
  }
}
