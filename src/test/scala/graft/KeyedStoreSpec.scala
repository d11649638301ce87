package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Graph, KeyedStore, Overlap, Retrieval,
  Similarity, Stats}

/** The nine graph store families and the PQ-code, PCA-moment and
  * KMV-unit stores, one table: every family's store registration takes
  * the same gen=/batch= round trip through its public verbs — write the
  * base, append one batch, read the view, compact, read the view
  * again — so each family's declared fold, layout and schema guard is
  * exercised, including the compaction and as-of verbs no other spec
  * calls. The k-center coreset and BM25 stats stores have a case each.
  */
class KeyedStoreSpec extends SparkSuite {
  import spark.implicits._

  // base: two triangles joined by an edge, plus a tail (acyclic as a
  // directed graph); the batch closes the triangle 1-3-9 (a directed
  // cycle 1→2→3→9→1) and the triangle 6-7-8, all genuinely new edges
  private val baseEdges =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (4L, 6L), (6L, 7L))
  private val newEdges = Seq((7L, 8L), (6L, 8L), (9L, 1L), (3L, 9L))
  private lazy val base = baseEdges.toDF("a", "b")
  private lazy val batch = newEdges.toDF("a", "b")
  private lazy val all = (baseEdges ++ newEdges).toDF("a", "b")
  private lazy val seeds = Seq((1L, 10L), (7L, 70L)).toDF("id", "label")
  private val (a, b) = (col("a"), col("b"))

  // 4-dim vectors for the PQ and PCA stores: ids below 8 are the base,
  // 8 until 12 the appended batch
  private lazy val vecs = (0L until 12L).map(i => (i,
      Array(i.toFloat, (i % 3).toFloat, (i % 5).toFloat, 1.0f)))
    .toDF("id", "vec")
  private lazy val (vecBase, vecBatch) =
    (vecs.where(col("id") < 8L), vecs.where(col("id") >= 8L))
  private lazy val pqFit = {
    val cents = Similarity.fitCentroids(vecBase, k = 2, iters = 1, dim = 4)
    (cents, Similarity.fitPqCodebooks(vecBase, m = 2, ks = 2, iters = 1,
      dim = 4))
  }
  // KMV units: (grp, unit, key) items; units 1-4 base, 5-6 the batch
  private lazy val items = (1L to 6L).flatMap(u =>
      (0 until 5).map(j => (if (u % 2 == 0) "even" else "odd", u,
        s"k${u * 3 + j}")))
    .toDF("grp", "unit", "key")

  /** One family: its store registration and its public verbs. */
  private case class Family(
      name: String, store: String => KeyedStore,
      write: String => Unit, append: String => Unit,
      read: String => DataFrame, compact: String => Option[Long],
      asOf: Option[(String, Long) => DataFrame] = None)

  private lazy val families = Seq(
    Family("landmark", Graph.landmarkStore,
      d => Graph.writeLandmarkStore(base, a, b, 2, 4, d),
      d => Graph.landmarkDistancesIncremental(all, a, b, batch, a, b, d,
        1L, maxDepth = 4): Unit,
      d => Graph.landmarkStoreDistances(spark, d),
      d => Graph.compactLandmarkStore(spark, d)),
    Family("pageRank", Graph.pageRankStore,
      d => Graph.writePageRankStore(base, a, b, 3, d),
      d => Graph.pageRankWarm(all, a, b, d, 1L): Unit,
      d => Graph.pageRankStoreRanks(spark, d),
      d => Graph.compactPageRankStore(spark, d)),
    Family("hits", Graph.hitsStore,
      d => Graph.writeHitsStore(base, a, b, 3, d),
      d => Graph.hitsWarm(all, a, b, d, 1L): Unit,
      d => Graph.hitsStoreScores(spark, d),
      d => Graph.compactHitsStore(spark, d)),
    Family("louvain", Graph.louvainStore,
      d => Graph.writeLouvainStore(base, a, b, 2, d),
      d => Graph.louvainWarm(all, a, b, d, 1L): Unit,
      d => Graph.louvainStoreCommunities(spark, d),
      d => Graph.compactLouvainStore(spark, d)),
    Family("label", Graph.labelStore,
      d => Graph.writeLabelState(base, a, b, seeds, col("id"),
        col("label"), 3, d),
      d => Graph.labelPropagationIncremental(all, a, b, batch, a, b,
        seeds, col("id"), col("label"), 3, d, 1L): Unit,
      d => Graph.labelStoreLabels(spark, d, 3),
      d => Graph.compactLabelState(spark, d)),
    Family("triangle", Graph.triangleStore,
      d => Graph.writeTriangleStore(base, a, b, d),
      d => Graph.triangleCountsIncremental(all, a, b, batch, a, b, d,
        1L): Unit,
      d => Graph.triangleStoreCounts(spark, d),
      d => Graph.compactTriangleStore(spark, d),
      Some(Graph.triangleStoreCountsAsOf(spark, _, _))),
    Family("scc", Graph.sccAssignStore,
      d => Graph.writeSccStore(base, a, b, d),
      d => Graph.sccIncremental(batch, a, b, d, 1L): Unit,
      d => Graph.sccStoreAssign(spark, d),
      d => Graph.compactSccStore(spark, d)),
    Family("cc", Graph.ccStore,
      d => Graph.writeCCStore(base, a, b, d),
      d => Graph.connectedComponentsIncremental(batch, a, b, d, 1L): Unit,
      d => Graph.ccStoreLabels(spark, d),
      d => Graph.compactCCStore(spark, d),
      Some(Graph.ccStoreLabelsAsOf(spark, _, _))),
    Family("kCore", Graph.kCoreStore,
      d => Graph.writeKCoreStore(base, a, b, 2, d),
      d => Graph.kCoreIncremental(all, a, b, batch, a, b, 2, d, 1L): Unit,
      d => Graph.kCoreStoreMembers(spark, d),
      d => Graph.compactKCoreStore(spark, d),
      Some(Graph.kCoreStoreMembersAsOf(spark, _, _))),
    Family("pqCodes", Similarity.pqCodeStore,
      d => Similarity.writePqCodeStore(vecBase, pqFit._1, pqFit._2, d),
      d => Similarity.pqStoreAppend(vecBatch, d, 1L): Unit,
      d => Similarity.pqStoreCodes(spark, d),
      d => Similarity.compactPqCodeStore(spark, d)),
    // no base write: the base is the append at batch 0
    Family("pcaMoments", Similarity.pcaMomentStore,
      d => Similarity.appendPcaMoments(vecBase, col("vec"), d, 0L),
      d => Similarity.appendPcaMoments(vecBatch, col("vec"), d, 1L),
      d => Similarity.pcaMomentsFromStore(spark, d),
      d => Similarity.compactPcaMoments(spark, d)),
    Family("kmvUnits", Overlap.kmvUnitStore,
      d => Overlap.writeKmvUnitStore(items.where(col("unit") <= 4L),
        col("grp"), col("unit"), col("key"), 4, d),
      d => Overlap.appendKmvUnitSketches(items.where(col("unit") > 4L),
        col("grp"), col("unit"), col("key"), 4, d, 1L),
      d => Overlap.kmvStoreSketches(spark, d, 4),
      d => Overlap.compactKmvUnitStore(spark, d)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  families.foreach { f =>
    test(s"${f.name} store round trip: write base, append, view, " +
        "compact, view unchanged; as-of(0) is the base; a drifted dir " +
        "is refused by the family's store name") {
      val dir = s"/tmp/graft-keyed-${f.name}-${System.nanoTime()}"
      val store = f.store(dir)
      f.write(dir)
      val baseView = rows(store.current(spark))
      assert(baseView.nonEmpty, "empty base view")
      f.append(dir)
      assert(rows(store.asOf(spark, 0L)) == baseView,
        "as-of(0) differs from the base")
      f.asOf.foreach(asOf => assert(rows(asOf(dir, 0L)) ==
        rows(store.asOf(spark, 0L)), "public as-of(0) differs"))
      val before = rows(store.current(spark))
      assert(before != baseView, "the append changed nothing")
      val readBefore = rows(f.read(dir))
      assert(f.compact(dir).isDefined, "compaction folded nothing")
      assert(rows(store.current(spark)) == before,
        "compaction changed the view")
      assert(rows(f.read(dir)) == readBefore,
        "compaction changed the public read")
      // a drifted store dir: a string id and a foreign column
      val bad = s"$dir-drift"
      Seq(("x", 1.5)).toDF("id", "oops")
        .write.parquet(s"${f.store(bad).root}/batch=0")
      val ex = intercept[Stats.StoreSchemaException](f.read(bad))
      assert(ex.getMessage.contains(store.name), ex.getMessage)
    }
  }

  test("kCenter store: write, extend, supersede, then extend above " +
      "the generation; every view is the stored rows") {
    val dir = s"/tmp/graft-keyed-kcenter-${System.nanoTime()}"
    val store = Similarity.kCenterStore(dir)
    def trace(df: DataFrame): Seq[(Int, Long, Double)] =
      df.orderBy(col("rank")).select(col("rank"), col("id"),
        col("radius")).as[(Int, Long, Double)].collect().toSeq
    Similarity.writeKCenterStore(vecBase, col("id"), col("vec"), 2, dir)
    val base = trace(store.current(spark))
    assert(base.map(_._1) == Seq(1, 2))
    val ext = trace(Similarity.kCenterExtend(vecBatch, col("id"),
      col("vec"), dir, 1L, 1))
    assert(ext.take(2) == base && ext.map(_._1) == Seq(1, 2, 3))
    assert(trace(store.current(spark)) == ext)
    assert(trace(store.asOf(spark, 0L)) == base)
    // a rebuild supersedes every batch above the base
    val tok = Similarity.rebuildKCenterStore(vecs, col("id"),
      col("vec"), 3, dir)
    assert(tok == 2L)
    val rebuilt = trace(Similarity.kCenterStoreCenters(spark, dir))
    assert(rebuilt == trace(Similarity.kCenterSelect(vecs, col("id"),
      col("vec"), 3)))
    // extensions continue above the generation; at it they are refused
    intercept[IllegalArgumentException] {
      Similarity.kCenterExtend(vecBatch, col("id"), col("vec"), dir,
        tok, 1)
    }
    val more = trace(Similarity.kCenterExtend(
      Seq((20L, Array(40.0f, 0.0f, 0.0f, 1.0f))).toDF("id", "vec"),
      col("id"), col("vec"), dir, tok + 1L, 1))
    assert(more.take(3) == rebuilt && more.last._1 == 4 &&
      more.last._2 == 20L)
    assert(trace(store.current(spark)) == more)
  }

  test("bm25 stats store: after an append and a delete the keyless " +
      "sum equals the doclen view's count and sum of dl") {
    val dir = s"/tmp/graft-keyed-bm25stats-${System.nanoTime()}"
    val docs = (0L until 10L).map(i => (i, s"doc $i" + " w" * i.toInt))
      .toDF("id", "text")
    Retrieval.writeBm25Index(docs.where(col("id") < 6L), col("id"),
      col("text"), dir, filesOut = 2)
    Retrieval.appendBm25Index(docs.where(col("id") >= 6L), col("id"),
      col("text"), dir, 1L, filesOut = 2)
    Retrieval.deleteBm25Docs(spark, dir, Seq(2L, 7L).toDF("id"), 2L)
    val got = Retrieval.bm25Stats(dir).current(spark)
      .as[(Long, Long)].collect().toSeq
    val want = spark.read.parquet(
        Stats.committedViewDirs(spark, s"$dir/doclen"): _*)
      .where(!col("id").isin(2L, 7L))
      .agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].collect().toSeq
    assert(got == want && want.head._1 == 8L, s"got $got, want $want")
  }

  /** The first-stage names of the jobs `body` runs, counted by this
    * call's job tag (so other threads' jobs on the shared context never
    * enter).
    */
  private def jobNames(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tag = s"keyed-jobs-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (org.apache.spark.JobTags.of(e).contains(tag))
          names.add(e.stageInfos.minBy(_.stageId).name): Unit
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    names.toArray(Array.empty[String]).toSeq
  }

  test("the store path runs no metadata job: writeBase, append, compact, " +
      "current and asOf run no parquet job at Stats, and an indexed " +
      "append runs as many jobs as an unindexed one") {
    val dir = s"/tmp/graft-keyed-nometa-${System.nanoTime()}"
    def store(d: String) = KeyedStore(d, "noMetaStore",
      Seq("id" -> "bigint"), Seq("v" -> "bigint"), KeyedStore.NewestWins)
    def rowsOf(lo: Long, hi: Long) =
      (lo to hi).toDF("id").withColumn("v", col("id") * 3)
    val s = store(dir)
    val names = Seq(
      jobNames(s.writeBase(spark, "spec", 2)(rowsOf(1L, 40L))),
      jobNames(s.append(spark, "spec", 1L, 2)(rowsOf(30L, 60L))),
      jobNames(s.compact(spark, "spec", 2): Unit),
      jobNames(s.current(spark).collect(): Unit),
      jobNames(s.asOf(spark, 1L).collect(): Unit)).flatten
    assert(names.nonEmpty, "no job was tagged")
    assert(!names.exists(_.startsWith("parquet at Stats.scala")),
      names.mkString("; "))
    assert(rows(s.current(spark)) == rows(rowsOf(1L, 60L)))
    // the same base twice; one indexed append, one not
    val (on, off) = (store(s"$dir-on"), store(s"$dir-off"))
    Seq(on, off).foreach(_.writeBase(spark, "spec", 2)(rowsOf(1L, 40L)))
    val indexed = jobNames(on.append(spark, "spec", 1L, 2)(rowsOf(30L, 60L)))
    val unindexed = jobNames(off.append(spark, "spec", 1L, 2,
      indexed = false)(rowsOf(30L, 60L)))
    assert(indexed.size == unindexed.size,
      s"indexed: ${indexed.mkString("; ")} vs unindexed: " +
        unindexed.mkString("; "))
  }
}
