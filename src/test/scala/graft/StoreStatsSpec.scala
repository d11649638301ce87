package graft

import org.apache.spark.sql.functions._
import graft.operators.Stats
import graft.streaming.StreamOps

/** The FS-metadata store-health console: compaction debt, sequence
  * head, and view size per root — the read-only inputs an
  * OPTIMIZE/vacuum scheduler acts on. Must never read data rows and
  * must track the store protocol exactly (committed dirs only;
  * folded batches stop counting as debt; tombstone sequences are
  * separate roots).
  */
class StoreStatsSpec extends SparkSuite {
  import spark.implicits._

  test("storeStats: debt counts committed batch dirs above the head, " +
      "compaction folds it to zero, tombstone sequences report " +
      "separately, and a missing root is empty — all without " +
      "touching data rows") {
    val base = s"/tmp/graft-storestats-${System.nanoTime()}"
    val store = s"$base/store"
    def stats() = Stats.storeStats(spark, Seq(store)).head
    // missing root
    assert(stats() == Stats.StoreStats(store, Long.MinValue,
      Long.MinValue, 0, 0, 0L))
    // three appended batches, no generation: debt = 3
    (0L to 2L).foreach { b =>
      Seq((b, s"s$b", b)).toDF("id", "sig", "__b")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$store/batch=$b")
    }
    val appended = stats()
    assert(appended.newestGen == Long.MinValue &&
      appended.newestBatch == 2L &&
      appended.batchDirsAboveGen == 3 &&
      appended.viewFiles >= 3 && appended.viewBytes > 0L,
      appended.toString)
    // an UNCOMMITTED dir (no _SUCCESS) is invisible — not debt
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$store/batch=9"))
    assert(stats().batchDirsAboveGen == 3)
    // compaction: debt drops to zero, the head advances to gen=2
    assert(StreamOps.compactNearDupStore(spark, store, 1)
      .contains(2L))
    val compacted = stats()
    assert(compacted.newestGen == 2L &&
      compacted.batchDirsAboveGen == 0, compacted.toString)
    // the one-cycle vacuum grace keeps folded dirs on disk, but they
    // are BELOW the head — still zero debt, and the view is gen-only
    assert(compacted.viewFiles == 1, compacted.toString)
    // tombstones are their own sequence, visible when asked for
    StreamOps.deleteFromNearDupStore(spark, store,
      Seq(1L).toDF("id"), batchId = 3L)
    val Seq(main, tomb) = Stats.storeStats(spark,
      Seq(store, s"${store}_deleted"))
    assert(main.batchDirsAboveGen == 0 &&
      tomb.newestBatch == 3L && tomb.batchDirsAboveGen == 1 &&
      tomb.viewBytes > 0L, s"$main / $tomb")
  }

  private def writeBatch(store: String, b: Long): Unit =
    Seq((b, s"s$b", b)).toDF("id", "sig", "__b")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$store/batch=$b")

  test("maintainStores: a family past the debt threshold folds to " +
      "one generation; a below-threshold family is untouched (FS " +
      "mtimes unchanged); a live gate's family is skipped with the " +
      "named lease-conflict reason, not thrown; a tombstone backlog " +
      "triggers the fold that drops the rows physically") {
    val base = s"/tmp/graft-maint-${System.nanoTime()}"
    val storeA = s"$base/a_store"
    val storeB = s"$base/b_store"
    (0L to 2L).foreach(writeBatch(storeA, _))
    (0L to 1L).foreach(writeBatch(storeB, _))
    def fam(root: String) =
      root -> (() => StreamOps.compactNearDupStore(spark, root, 1))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mtimes(root: String): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(s => s.getPath.toString -> s.getModificationTime).toMap
    val bBefore = mtimes(storeB)
    val out = Stats.maintainStores(spark, Seq(fam(storeA), fam(storeB)),
      Stats.MaintenancePolicy(minDebt = 3))
    val Seq(oa, ob) = out
    assert(oa.action == "compacted" && oa.newGen.contains(2L) &&
      oa.debt == 3, oa.toString)
    assert(Stats.storeStats(spark, Seq(storeA)).head
      .batchDirsAboveGen == 0)
    // below threshold: untouched — no generation appeared, and the
    // batch dirs' mtimes did not move
    assert(ob.action == "skipped_below_threshold" && ob.debt == 2,
      ob.toString)
    assert(mtimes(storeB) == bBefore,
      "below-threshold family was touched")
    // tombstone backlog (plus one fresh append to fold it into):
    // triggers the compactor, which drops the row physically
    writeBatch(storeA, 3L)
    StreamOps.deleteFromNearDupStore(spark, storeA,
      Seq(1L).toDF("id"), batchId = 4L)
    val out2 = Stats.maintainStores(spark, Seq(fam(storeA)),
      Stats.MaintenancePolicy(minDebt = 8, minTombstones = 1))
    assert(out2.head.action == "compacted" &&
      out2.head.tombstoneDebt == 1, out2.head.toString)
    val ids = StreamOps.nearDupStoreView(spark, storeA).get
      .select(col("id")).as[Long].collect().toSet
    assert(ids == Set(0L, 2L, 3L), s"tombstoned row survived: $ids")
    // a LIVE gate's family: the sweep reports the named conflict
    // instead of dying mid-sweep
    implicit val sc = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamOps.nearDupGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/c_store", s"$base/c_out", s"$base/c_ckpt")
    try {
      in.addData((1L, "the quick brown fox " * 8))
      q.processAllAvailable()
      val out3 = Stats.maintainStores(spark,
        Seq(fam(s"$base/c_store")),
        Stats.MaintenancePolicy(minDebt = 1))
      assert(out3.head.action == "skipped_lease_held" &&
        out3.head.detail.contains("leased by"), out3.head.toString)
    } finally q.stop()
  }

  test("maintainStores counts the tombstone backlog of a family whose " +
      "deleted-id set lives under <root>/deleted (kmv units)") {
    import graft.operators.Overlap
    val store = s"/tmp/graft-maint-kmv-${System.nanoTime()}/kmv"
    Overlap.writeKmvUnitStore(
      Seq(("g", 1L, "k1"), ("g", 2L, "k2"), ("g", 3L, "k3"))
        .toDF("grp", "unit", "key"),
      col("grp"), col("unit"), col("key"), k = 4, store)
    Overlap.deleteKmvUnits(Seq(1L).toDF("unit"), store, 1L)
    Overlap.deleteKmvUnits(Seq(2L).toDF("unit"), store, 2L)
    val Seq(out) = Stats.maintainStores(spark,
      Seq(store -> (() => Overlap.compactKmvUnitStore(spark, store))),
      Stats.MaintenancePolicy(minDebt = 100, minTombstones = 2))
    assert(out.action == "compacted" && out.tombstoneDebt == 2,
      out.toString)
    assert(Stats.storeStats(spark, Seq(s"$store/deleted")).head
      .batchDirsAboveGen == 0, "the tombstone set was not cleared")
  }

  test("compaction crashed between fold-commit and vacuum: readers " +
      "resolve exactly the new generation (never a mix), the debris " +
      "vacuums on the next cycle; crashed DURING the fold write: " +
      "readers keep the old view and the retry rewrites the same " +
      "generation") {
    val base = s"/tmp/graft-crash-${System.nanoTime()}"
    val store = s"$base/store"
    (0L to 2L).foreach(writeBatch(store, _))
    def view() = StreamOps.nearDupStoreView(spark, store).get
      .select(col("id")).as[Long].collect().toSeq.sorted
    // crash AFTER the generation committed, BEFORE the vacuum
    Stats.compactionTestHook =
      (_, _) => throw new RuntimeException("injected compactor crash")
    try {
      intercept[RuntimeException] {
        StreamOps.compactNearDupStore(spark, store, 1)
      }
    } finally Stats.compactionTestHook = (_, _) => ()
    // the new generation IS committed: readers resolve it alone —
    // the un-vacuumed batch dirs are below the head, so nothing
    // double-counts (old-or-new, never a mix)
    assert(view() == Seq(0L, 1L, 2L), view().toString)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dirExists(n: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$store/$n"))
    assert(dirExists("gen=2") && dirExists("batch=0") &&
      dirExists("batch=2"), "crash point not reproduced")
    // an immediate retry has nothing above the head — clean no-op
    assert(StreamOps.compactNearDupStore(spark, store, 1).isEmpty)
    assert(view() == Seq(0L, 1L, 2L))
    // the NEXT cycle completes the crashed one: fold batch=3, vacuum
    // the debris (folded batches ≤ the previous head), keep the
    // previous generation for the one-cycle reader grace
    writeBatch(store, 3L)
    assert(StreamOps.compactNearDupStore(spark, store, 1)
      .contains(3L))
    assert(!dirExists("batch=0") && !dirExists("batch=2"),
      "crash debris survived the next cycle's vacuum")
    assert(dirExists("gen=2"), "reader-grace generation was vacuumed")
    assert(view() == Seq(0L, 1L, 2L, 3L), view().toString)

    // crash DURING the fold write (generation left uncommitted):
    // simulated by stripping the generation's data files at the seam
    val store2 = s"$base/store2"
    (0L to 1L).foreach(writeBatch(store2, _))
    Stats.compactionTestHook = (root, tok) => {
      val gp = new org.apache.hadoop.fs.Path(s"$root/gen=$tok")
      fs.listStatus(gp).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(s => fs.delete(s.getPath, false))
      throw new RuntimeException("injected mid-write crash")
    }
    try {
      intercept[RuntimeException] {
        StreamOps.compactNearDupStore(spark, store2, 1)
      }
    } finally Stats.compactionTestHook = (_, _) => ()
    // the uncommitted generation is invisible: readers keep the OLD
    // view, bit-for-bit
    def view2() = StreamOps.nearDupStoreView(spark, store2).get
      .select(col("id")).as[Long].collect().toSeq.sorted
    assert(view2() == Seq(0L, 1L), view2().toString)
    // the retry rewrites the SAME generation (overwrite-idempotent)
    // and commits it
    assert(StreamOps.compactNearDupStore(spark, store2, 1)
      .contains(1L))
    assert(view2() == Seq(0L, 1L))
    assert(Stats.storeStats(spark, Seq(store2)).head.newestGen == 1L)
  }
}
