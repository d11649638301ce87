package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Graph, KeyedStore, Stats}

/** The nine graph store families, one table: every family's store
  * registration takes the same gen=/batch= round trip through its
  * public verbs — write the base, append one batch, read the view,
  * compact, read the view again — so each family's declared fold,
  * layout and schema guard is exercised, including the compaction and
  * as-of verbs no other spec calls.
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
      Some(Graph.kCoreStoreMembersAsOf(spark, _, _))))

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
}
