package graft

import org.apache.spark.sql.functions._
import graft.operators.{Graph, Stats}

/** Schema guards at store open: every graph-family store read asserts
  * its family's (name → type) schema and fails LOUDLY with
  * [[Stats.StoreSchemaException]] on a drifted or corrupted store dir
  * — "store at PATH: expected/found" — instead of an obscure analysis
  * error mid-query (or a silent cast).
  */
class StoreSchemaSpec extends SparkSuite {
  import spark.implicits._

  test("a drifted store dir fails at open with the named error; a " +
      "healthy store answers unchanged") {
    val base = s"/tmp/graft-schemaguard-${System.nanoTime()}"
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    Graph.writeCCStore(edges, col("u"), col("v"), s"$base/cc")
    assert(Graph.ccStoreLabels(spark, s"$base/cc").count() == 3)
    // drift 1: a retyped column (comp written as string)
    Seq((1L, "a", 0L)).toDF("id", "comp", "__b")
      .write.parquet(s"$base/bad/batch=0")
    val ex = intercept[Stats.StoreSchemaException] {
      Graph.ccStoreLabels(spark, s"$base/bad")
    }
    assert(ex.getMessage.contains(s"$base/bad") &&
      ex.getMessage.contains("expected") &&
      ex.getMessage.contains("found"), ex.getMessage)
    // drift 2: a missing/renamed column (rank absent from a PageRank
    // store dir — e.g. a foreign store mounted at the wrong path)
    Seq((1L, 5L, 0L)).toDF("id", "score", "__b")
      .write.parquet(s"$base/pr/batch=0")
    val ex2 = intercept[Stats.StoreSchemaException] {
      Graph.pageRankStoreRanks(spark, s"$base/pr")
    }
    assert(ex2.getMessage.contains("pageRankStore"), ex2.getMessage)
  }

  test("tombstone sets are guarded too: a drifted _deleted dir fails " +
      "at open with the named error instead of silently anti-joining " +
      "on a miscast column; a healthy set still filters") {
    val base = s"/tmp/graft-tombguard-${System.nanoTime()}"
    import graft.streaming.StreamOps
    // healthy: a store with a real tombstone set filters the view
    Seq((1L, "s1", 0L), (2L, "s2", 0L)).toDF("id", "sig", "__b")
      .write.parquet(s"$base/store/batch=0")
    StreamOps.deleteFromNearDupStore(spark, s"$base/store",
      Seq(1L).toDF("id"), batchId = 1L)
    val ids = StreamOps.nearDupStoreView(spark, s"$base/store").get
      .select(col("id")).as[Long].collect().toSet
    assert(ids == Set(2L), s"got $ids")
    // drift: a renamed tombstone column (doc_id instead of id) — the
    // read must fail with the named error naming the _deleted path
    val base2 = s"/tmp/graft-tombguard2-${System.nanoTime()}"
    Seq((1L, "s1", 0L), (2L, "s2", 0L)).toDF("id", "sig", "__b")
      .write.parquet(s"$base2/store/batch=0")
    Seq((1L, 1L)).toDF("doc_id", "__b")
      .write.parquet(s"$base2/store_deleted/batch=1")
    val ex = intercept[Stats.StoreSchemaException] {
      StreamOps.nearDupStoreView(spark, s"$base2/store").get.count()
    }
    assert(ex.getMessage.contains(s"$base2/store_deleted") &&
      ex.getMessage.contains("expected"), ex.getMessage)
    // drift in a /deleted sibling (kmv units): retyped unit column
    val base3 = s"/tmp/graft-tombguard3-${System.nanoTime()}"
    import graft.operators.Overlap
    Overlap.writeKmvUnitStore(
      Seq(("g", 1L, "k1"), ("g", 2L, "k2")).toDF("grp", "unit", "key"),
      col("grp"), col("unit"), col("key"), k = 4, s"$base3/kmv")
    Seq(("1", 1L)).toDF("unit", "__b")
      .write.parquet(s"$base3/kmv/deleted/batch=1")
    val ex2 = intercept[Stats.StoreSchemaException] {
      Overlap.kmvStoreSketches(spark, s"$base3/kmv", k = 4).count()
    }
    assert(ex2.getMessage.contains("kmvDeletedUnits"), ex2.getMessage)
  }

  test("gate stores (name-declared columns) fail loudly on a missing " +
      "column with the store path, not an unresolved-column error") {
    val base = s"/tmp/graft-gateguard-${System.nanoTime()}"
    Seq((1L, 2L)).toDF("wrong", "cols")
      .write.parquet(s"$base/store/batch=0")
    val ex = intercept[Stats.StoreSchemaException] {
      graft.streaming.StreamOps.gateStoreView(spark, s"$base/store",
        Seq("band", "bucket", "id", "sig"))
    }
    assert(ex.getMessage.contains(s"$base/store") &&
      ex.getMessage.contains("missing"), ex.getMessage)
  }

  test("a drifted LATER batch dir fails at open too: a renamed or a " +
      "retyped column in batch=1 beside a healthy base raises the named " +
      "error, not a silent null or a mid-query read failure") {
    val base = s"/tmp/graft-laterdrift-${System.nanoTime()}"
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val drifts = Seq(
      "renamed" -> Seq((1L, 5L, 1L)).toDF("id", "cnt", "__b"),
      "retyped" -> Seq((1L, "5", 1L)).toDF("id", "n_tri", "__b"))
    for ((tag, rows) <- drifts) {
      val dir = s"$base/$tag"
      Graph.writeTriangleStore(edges, col("u"), col("v"), dir)
      rows.write.parquet(s"$dir/batch=1")
      val ex = intercept[Stats.StoreSchemaException] {
        Graph.triangleStoreCounts(spark, dir)
      }
      assert(ex.getMessage.contains("triangleStore") &&
        ex.getMessage.contains(s"store at $dir") &&
        ex.getMessage.contains("batch=1"), s"$tag: ${ex.getMessage}")
    }
  }
}
