package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stats
import graft.streaming.StreamOps

/** The streaming gates' store reads take their schemas from footers read
  * on the driver: building a gate store view, snapshot, pruned slice or
  * cumulative artifact submits no Spark job (an inferring
  * `spark.read.parquet` runs one per read). Fixtures are written by
  * hand in the on-disk shapes the gates write — `batch=<id>` dirs with
  * no `__b`, `model=<k>` and `sketch=<k>` artifacts — so the reads are
  * also checked against dirs this code did not write.
  */
class GateStoreSpec extends SparkSuite {
  import spark.implicits._

  /** The first-stage names of the jobs `body` submits, counted by this
    * call's job tag (other threads' jobs never enter), and its result.
    */
  private def jobsOf[T](body: => T): (Seq[String], T) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tag = s"gate-store-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (org.apache.spark.JobTags.of(e).contains(tag))
          names.add(e.stageInfos.minBy(_.stageId).name): Unit
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val out = try body
    finally {
      sc.removeJobTag(tag)
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (names.toArray(Array.empty[String]).toSeq, out)
  }

  /** `read` built with no job, then its rows. */
  private def builtWithoutJobs(what: String)(read: => Option[DataFrame])
      : Seq[org.apache.spark.sql.Row] = {
    val (jobs, df) = jobsOf(read)
    assert(jobs.isEmpty, s"$what ran ${jobs.size} job(s) before any " +
      s"action: ${jobs.mkString("; ")}")
    df.map(_.collect().toSeq).getOrElse(Seq.empty)
  }

  private def writeDir(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  private def ids(rows: Seq[org.apache.spark.sql.Row]): Seq[Long] =
    rows.map(_.getLong(0)).sorted

  test("gate store views and snapshots are built with no Spark job and " +
      "read hand-written batch dirs as written: the current view, the " +
      "near-dup view minus a committed _deleted set, and both as-of " +
      "reads") {
    val store = s"/tmp/graft-gateview-${System.nanoTime()}/store"
    // a first batch written with a __b column, as some fixtures do, and
    // later ones without: the view takes the gate's declared columns
    writeDir(Seq((1L, "s1", 0L), (2L, "s2", 0L)).toDF("id", "sig", "__b"),
      s"$store/batch=0")
    writeDir(Seq((3L, "s3"), (4L, "s4")).toDF("id", "sig"),
      s"$store/batch=1")
    writeDir(Seq((5L, "s5")).toDF("id", "sig"), s"$store/batch=2")
    val view = builtWithoutJobs("gateStoreView")(
      StreamOps.gateStoreView(spark, store, Seq("id", "sig")))
    assert(view.map(r => (r.getLong(0), r.getString(1))).sorted ==
      (1L to 5L).map(i => (i, s"s$i")))
    assert(ids(builtWithoutJobs("gateStoreViewAsOf")(
      StreamOps.gateStoreViewAsOf(spark, store, Seq("id"), 1L))) ==
      Seq(1L, 2L, 3L, 4L))
    // nothing committed as of a token below the first batch
    assert(builtWithoutJobs("gateStoreViewAsOf below the first batch")(
      StreamOps.gateStoreViewAsOf(spark, store, Seq("id"), -1L)).isEmpty)
    StreamOps.deleteFromNearDupStore(spark, store, Seq(2L, 4L).toDF("id"),
      batchId = 3L)
    assert(ids(builtWithoutJobs("nearDupStoreView")(
      StreamOps.nearDupStoreView(spark, store))) == Seq(1L, 3L, 5L))
    // a snapshot keeps its prefix and drops the current deleted set
    assert(ids(builtWithoutJobs("nearDupStoreViewAsOf")(
      StreamOps.nearDupStoreViewAsOf(spark, store, 1L))) == Seq(1L, 3L))
  }

  test("the substring gate's pruned slice on a store with no manifest is " +
      "built with no Spark job and reads every committed file minus the " +
      "deleted ids") {
    val store = s"/tmp/graft-gateslice-${System.nanoTime()}/store"
    writeDir(Seq((10L, 1L), (20L, 2L)).toDF("fp", "id"), s"$store/batch=0")
    writeDir(Seq((10L, 3L), (30L, 4L)).toDF("fp", "id"), s"$store/batch=1")
    StreamOps.deleteFromNearDupStore(spark, store, Seq(3L).toDF("id"),
      batchId = 2L)
    val probe = Seq(10L, 30L).toDF("fp")
    val (jobs, slice) = jobsOf(StreamOps.storeFpsFor(spark, store,
      s"${store}_manifest", probe))
    assert(jobs.isEmpty, s"storeFpsFor ran ${jobs.size} job(s) before " +
      s"any action: ${jobs.mkString("; ")}")
    // no manifest: every file is read, and the row filter is the caller's
    assert(slice.select("fp", "id").as[(Long, Long)].collect().sorted
      .toSeq == Seq((10L, 1L), (20L, 2L), (30L, 4L)))
  }

  test("cumulative artifacts are read with no Spark job: the newest " +
      "committed model= or sketch= dir below the batch, skipping a " +
      "crashed write") {
    val root = s"/tmp/graft-gatecum-${System.nanoTime()}"
    val model = s"$root/model"
    writeDir(Seq((1L, 5L, 0L)).toDF("f", "tcnt", "rcnt"), s"$model/model=0")
    writeDir(Seq((1L, 5L, 2L)).toDF("f", "tcnt", "rcnt"), s"$model/model=1")
    // a crashed write of model=2: only an attempt dir, nothing committed
    new java.io.File(s"$model/model=2/_temporary/0").mkdirs()
    val m = builtWithoutJobs("dsirModelView")(
      StreamOps.dsirModelView(spark, model, 3L))
    assert(m.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((1L, 5L, 2L)))
    assert(builtWithoutJobs("dsirModelView at bootstrap")(
      StreamOps.dsirModelView(spark, model, 0L)).isEmpty)
    val sketch = s"$root/sketch"
    writeDir(Seq(("g", Seq(3L, 7L))).toDF("grp", "sketch"),
      s"$sketch/sketch=0")
    writeDir(Seq(("g", Seq(1L, 3L))).toDF("grp", "sketch"),
      s"$sketch/sketch=4")
    val sk = builtWithoutJobs("kmvSketchView")(
      StreamOps.kmvSketchView(spark, sketch, 4L))
    assert(sk.map(r => (r.getString(0), r.getSeq[Long](1))) ==
      Seq(("g", Seq(3L, 7L))))
  }

  test("a gate's compaction lease on a local root is one raw file: held, " +
      "it has no .crc sidecar, it is created under a missing parent dir, " +
      "and a second claim is the named refusal") {
    val root = s"/tmp/graft-gatelease-${System.nanoTime()}/fresh/store"
    val lease = java.nio.file.Paths.get(Stats.writerLeasePath(root))
    val claim = Stats.newSyncClaim()
    try {
      Stats.acquireWriterLease(spark, Seq(root), "spec", claim)
      assert(java.nio.file.Files.exists(lease))
      assert(!java.nio.file.Files.exists(
        lease.getParent.resolve(s".${lease.getFileName}.crc")),
        "a local lease claim left a checksum sidecar")
      val ex = intercept[Stats.ConcurrentWriterException] {
        StreamOps.compactNearDupStore(spark, root, 1)
      }
      assert(ex.getMessage.contains("compactNearDupStore"), ex.getMessage)
    } finally {
      Stats.releaseWriterLeaseOwned(spark, Seq(root), claim)
      Stats.dropSyncClaim(claim)
    }
    assert(!java.nio.file.Files.exists(lease))
  }
}
