package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.operators.Stats

/** The store-family writer fence: the quiesce contract between
  * ingestion gates and retraction sinks, machine-checked. A second
  * concurrent writer on one gen=/batch= sequence interleaves appends
  * and deletes (the retraction sink resolves its batch base ONCE at
  * start), so the conflicting sink must fail FAST with a named error
  * — not lose the interleave later in whichever guard happens to see
  * it first.
  */
class WriterLeaseSpec extends SparkSuite {
  import spark.implicits._

  test("a retraction sink on a LIVE ingestion gate's store family " +
      "fails fast with ConcurrentWriterException; after the gate " +
      "stops, the sequential resume works and the takedown applies") {
    import graft.operators.Retrieval
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-lease-${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.bm25IndexGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/idx", s"$base/ckpt")
    try {
      in.addData((1L, "merge sort beats bubble sort"),
        (2L, "spark executes the merge join"))
      q.processAllAvailable()
      // the gate is LIVE: a retraction sink on the same index family
      // must refuse at construction, in the caller's thread
      val din = MemoryStream[Long]
      val ex = intercept[Stats.ConcurrentWriterException] {
        StreamOps.retractionGateSink(spark, din.toDF().toDF("id"),
          "id", Some(s"$base/idx"), None, s"$base/dckpt")
      }
      assert(ex.getMessage.contains("leased by") &&
        ex.getMessage.contains("retractionGateSink"))
      // the failed claim must not have poisoned the family: the gate
      // keeps ingesting
      in.addData((3L, "window functions rank rows"))
      q.processAllAvailable()
    } finally q.stop()
    // sequential resume: the holder terminated, so the fence reclaims
    // the lease even if the async release listener has not fired yet
    val din2 = MemoryStream[Long]
    val dq = StreamOps.retractionGateSink(spark,
      din2.toDF().toDF("id"), "id", Some(s"$base/idx"), None,
      s"$base/dckpt2")
    try {
      din2.addData(1L); dq.processAllAvailable()
      val got = Retrieval.bm25TopKIndexed(spark, s"$base/idx",
          Seq("merge"), k = 10)
        .select(col("id")).as[Long].collect().toSet
      assert(got == Set(2L), s"got $got")
    } finally dq.stop()
    // and the other direction: the retraction sink stopped, so the
    // GATE can resume ingestion on the family
    val q2 = StreamOps.bm25IndexGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/idx", s"$base/ckpt",
      batchIdBase = Stats.supersedingToken(spark, Seq(s"$base/idx/stats")))
    try {
      in.addData((4L, "merge intervals greedily"))
      q2.processAllAvailable()
      val got = Retrieval.bm25TopKIndexed(spark, s"$base/idx",
          Seq("merge"), k = 10)
        .select(col("id")).as[Long].collect().toSet
      assert(got == Set(2L, 4L), s"got $got")
    } finally q2.stop()
  }

  test("graphRetractionSink vs a live graphGateSink on one edge " +
      "family: the named conflict; a DISJOINT family coexists; and " +
      "the full quiesce → retract → resume-above-rebuild cycle " +
      "maintains the CC store exactly") {
    import graft.operators.Graph
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-glease-${System.nanoTime()}"
    val seeds = Seq((1L, "en")).toDF("sid", "slabel")
    val in = MemoryStream[(Long, Long)]
    def startGate(baseId: Long) = StreamOps.graphGateSink(spark,
      in.toDF().toDF("a", "b"), "a", "b", seeds, "sid", "slabel",
      iters = 1, s"$base/edges", s"$base/cc", s"$base/lp",
      s"$base/ckpt", batchIdBase = baseId)
    val q = startGate(0L)
    try {
      // chain 1-2-3-4: node 3 is a cut vertex (its takedown SPLITS)
      in.addData((1L, 2L), (2L, 3L), (3L, 4L)); q.processAllAvailable()
      val din = MemoryStream[Long]
      intercept[Stats.ConcurrentWriterException] {
        StreamOps.graphRetractionSink(spark, din.toDF().toDF("id"),
          "id", s"$base/edges", s"$base/gckpt")
      }
      // a different edge family is not fenced by this gate
      val oin = MemoryStream[Long]
      val oq = StreamOps.graphRetractionSink(spark,
        oin.toDF().toDF("id"), "id", s"$base/other_edges",
        s"$base/ockpt")
      try {
        oin.addData(99L); oq.processAllAvailable()
      } finally oq.stop()
    } finally q.stop()
    // quiesce → retract node 3 (rebuild-on-retract, compaction cycle)
    val din2 = MemoryStream[Long]
    val dq = StreamOps.graphRetractionSink(spark,
      din2.toDF().toDF("id"), "id", s"$base/edges", s"$base/gckpt2",
      ccStorePath = Some(s"$base/cc"), compactEvery = 1)
    try {
      din2.addData(3L); dq.processAllAvailable()
      assert(Graph.ccStoreLabels(spark, s"$base/cc")
        .as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L))
    } finally dq.stop()
    // resume ingestion ABOVE the rebuild generations: batchIdBase =
    // the superseding token over the family's stores — the next batch
    // maintains the store exactly over (survivors ∪ new edges)
    val q2 = startGate(Stats.supersedingToken(spark,
      Seq(s"$base/edges", s"$base/cc",
        s"$base/cc_bycomp", s"$base/lp")))
    try {
      in.addData((4L, 5L), (2L, 1L)); q2.processAllAvailable()
      val got = Graph.ccStoreLabels(spark, s"$base/cc")
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L),
        s"got $got")
    } finally q2.stop()
  }

  test("two writers RACING to claim one family: exactly one wins " +
      "(the holder registry's putIfAbsent is the intra-process " +
      "arbiter, not the lease file)") {
    val root = s"/tmp/graft-rlease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (1 to 2).map { i =>
      new Thread(() => {
        gate.await()
        try {
          Stats.acquireWriterLease(spark, Seq(root), s"racer$i")
          wins.incrementAndGet(): Unit
        } catch {
          case _: Stats.ConcurrentWriterException =>
            losses.incrementAndGet(): Unit
        }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(wins.get == 1 && losses.get == 1,
      s"wins=${wins.get} losses=${losses.get}")
    Stats.releaseWriterLease(spark, Seq(root))
  }

  test("claim/release STRESS on one root: a lease file that vanishes " +
      "between a claimer's inspection and its read is absent, never " +
      "refused as an unreadable lease") {
    // deterministic: the holder's release deletes the file right
    // between our existence check and our read (a local filesystem
    // that deletes the file on open stages exactly that interleave)
    spark.sparkContext.hadoopConfiguration
      .set("fs.vanishfs.impl", classOf[VanishOnOpenFs].getName)
    val vdir = s"/tmp/graft-vlease-${System.nanoTime()}"
    new java.io.File(vdir).mkdirs()
    val vroot = s"vanishfs://$vdir/store"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(Stats.writerLeasePath(s"$vdir/store")),
      "owner=released;app=this;holder=gone".getBytes("UTF-8"))
    VanishOnOpenFs.armed.set(true)
    try Stats.acquireWriterLease(spark, Seq(vroot), "after-release")
    finally VanishOnOpenFs.armed.set(false)
    Stats.releaseWriterLease(spark, Seq(vroot))
    // stress: many claimers and releasers on one root
    val root = s"/tmp/graft-slease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    val threads = 4
    val rounds = 300
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
    val unreadable = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val others = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (1 to threads).map { i =>
      new Thread(() => {
        gate.await()
        (1 to rounds).foreach { _ =>
          try {
            Stats.withWriterLease(spark, Seq(root), s"stress$i") {
              wins.incrementAndGet(): Unit
            }
          } catch {
            case e: Stats.ConcurrentWriterException =>
              if (e.getMessage.contains("unreadable lease"))
                unreadable.add(e.getMessage): Unit
              else refusals.incrementAndGet(): Unit
            case t: Throwable => others.add(t): Unit
          }
        }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    Stats.releaseWriterLease(spark, Seq(root))
    assert(unreadable.isEmpty,
      s"${unreadable.size} of ${threads * rounds} claims refused as " +
        s"an unreadable lease, e.g. ${unreadable.peek()}")
    assert(others.isEmpty, s"unexpected failures: ${others.peek()}")
    assert(wins.get > 0, s"no claim won (refusals=${refusals.get})")
  }

  test("BATCH mutators are fenced too: a takedown or compaction " +
      "against a LIVE gate throws the named error in the caller's " +
      "thread; the quiesce → batch-delete → resume cycle works and " +
      "the takedown applies") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-blease-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained " * 8
    val in = MemoryStream[(Long, String)]
    def startGate() = StreamOps.nearDupGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt")
    val q = startGate()
    try {
      in.addData((1L, docA), (2L, docB)); q.processAllAvailable()
      // the gate is LIVE: the batch-side takedown AND the batch-side
      // OPTIMIZE must refuse in this thread, exactly like a
      // conflicting sink would
      val ex1 = intercept[Stats.ConcurrentWriterException] {
        StreamOps.deleteFromNearDupStore(spark, s"$base/store",
          Seq(1L).toDF("id"), batchId = 1L)
      }
      assert(ex1.getMessage.contains("leased by") &&
        ex1.getMessage.contains("deleteFromNearDupStore"))
      intercept[Stats.ConcurrentWriterException] {
        StreamOps.compactNearDupStore(spark, s"$base/store", 2)
      }
      // the failed claims must not have poisoned the family
      in.addData((3L, docB + " extra")); q.processAllAvailable()
    } finally q.stop()
    // quiesce → batch mutate (delete + compact) → resume
    StreamOps.deleteFromNearDupStore(spark, s"$base/store",
      Seq(1L).toDF("id"), batchId = 2L)
    StreamOps.compactNearDupStore(spark, s"$base/store", 2)
    val ids0 = StreamOps.nearDupStoreView(spark, s"$base/store").get
      .select(col("id")).as[Long].collect().toSet
    assert(!ids0.contains(1L), s"takedown did not apply: $ids0")
    val q2 = startGate()
    try {
      // the retracted doc's text no longer suppresses a re-ingest
      in.addData((11L, docA)); q2.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(out.contains(11L), s"got $out")
    } finally q2.stop()
  }

  test("cross-process claim is ATOMIC: a foreign lease file created " +
      "inside the inspection→create window loses us the claim with " +
      "the named error instead of being clobbered") {
    val root = s"/tmp/graft-alease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    val lp = Stats.writerLeasePath(root)
    try {
      Stats.leaseClaimTestHook = { p =>
        // a second process claims the family right between our
        // inspection and our create — fs.create(overwrite=false) is
        // the arbiter, so we must lose, not clobber
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          "owner=foreignSink;app=application_other_9".getBytes("UTF-8"))
      }
      val ex = intercept[Stats.ConcurrentWriterException] {
        Stats.acquireWriterLease(spark, Seq(root), "me")
      }
      assert(ex.getMessage.contains("created concurrently"))
      // the foreign file survives untouched
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(lp)), "UTF-8")
        .contains("application_other_9"))
    } finally Stats.leaseClaimTestHook = _ => ()
    // and the failed claim left no registry residue: after the
    // foreign process releases, the claim goes through
    java.nio.file.Files.delete(java.nio.file.Paths.get(lp))
    Stats.acquireWriterLease(spark, Seq(root), "me")
    Stats.releaseWriterLease(spark, Seq(root))
  }

  test("release is OWNERSHIP-CHECKED: a predecessor's late release " +
      "cannot drop a successor's reclaimed lease; and the reclaim " +
      "path still refuses a foreign lease FILE") {
    val root = s"/tmp/graft-olease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    val lp = java.nio.file.Paths.get(Stats.writerLeasePath(root))
    // predecessor claims, then dies without releasing (its claim id
    // goes dead — the async-listener-not-yet-fired shape)
    val ca = Stats.newSyncClaim()
    Stats.acquireWriterLease(spark, Seq(root), "pred", ca)
    Stats.dropSyncClaim(ca)
    // successor liveness-reclaims the family
    val cb = Stats.newSyncClaim()
    Stats.acquireWriterLease(spark, Seq(root), "succ", cb)
    // the predecessor's LATE release fires now: ownership check must
    // make it a no-op — registry entry and lease file both survive
    Stats.releaseWriterLeaseOwned(spark, Seq(root), ca)
    assert(java.nio.file.Files.exists(lp),
      "late release deleted the successor's lease file")
    val ex = intercept[Stats.ConcurrentWriterException] {
      Stats.acquireWriterLease(spark, Seq(root), "third")
    }
    assert(ex.getMessage.contains("leased by"))
    // successor's own release cleans up
    Stats.releaseWriterLeaseOwned(spark, Seq(root), cb)
    Stats.dropSyncClaim(cb)
    assert(!java.nio.file.Files.exists(lp))
    // reclaim-path file inspection: a DEAD intra-process holder whose
    // lease file was replaced by a FOREIGN process is never clobbered
    val cc = Stats.newSyncClaim()
    Stats.acquireWriterLease(spark, Seq(root), "pred2", cc)
    Stats.dropSyncClaim(cc) // dead — registry says reclaimable
    java.nio.file.Files.write(lp,
      "owner=other;app=application_foreign_7".getBytes("UTF-8"))
    // the nio overwrite bypasses Hadoop's checksum; drop the stale
    // .crc so the fence reads the foreign body (an unreadable body is
    // refused too, but this test pins the named-owner message)
    java.nio.file.Files.deleteIfExists(
      lp.getParent.resolve(s".${lp.getFileName}.crc"))
    val ex2 = intercept[Stats.ConcurrentWriterException] {
      Stats.acquireWriterLease(spark, Seq(root), "me")
    }
    assert(ex2.getMessage.contains("application_foreign_7"))
    assert(new String(java.nio.file.Files.readAllBytes(lp), "UTF-8")
      .contains("application_foreign_7"),
      "reclaim path clobbered a foreign lease file")
    Stats.releaseWriterLease(spark, Seq(root)) // operator break
  }

  test("in-sink maintenance is REENTRANT: a gate's own per-batch " +
      "compactions ride the query's lease — zero additional claims " +
      "over the whole stream (the fence is free on the hot path)") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-zlease-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained " * 8
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    Stats.leaseClaimTestHook = { p =>
      if (p.contains(base)) claims.incrementAndGet(): Unit
    }
    try {
      val in = MemoryStream[(Long, String)]
      // compactEvery = 1: EVERY micro-batch runs the (fenced) store
      // compactor from inside foreachBatch
      val q = StreamOps.nearDupGateSink(spark,
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$base/store", s"$base/out", s"$base/ckpt",
        compactEvery = 1, compactFilesOut = 1)
      try {
        in.addData((1L, docA)); q.processAllAvailable()
        in.addData((2L, docB)); q.processAllAvailable()
        in.addData((3L, docA + " tail")); q.processAllAvailable()
      } finally q.stop()
      assert(claims.get == 1,
        s"expected exactly the sink's ONE startup claim, " +
          s"saw ${claims.get} — in-sink maintenance is re-claiming " +
          "instead of riding the held lease")
    } finally Stats.leaseClaimTestHook = _ => ()
  }

  test("writerLeaseStatus: the read-only console distinguishes free, " +
      "live-held, terminated-awaiting-reclaim, and foreign-process " +
      "leases — without mutating any of them") {
    val root = s"/tmp/graft-slease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    def status() = Stats.writerLeaseStatus(spark, Seq(root)).head
    // free
    assert(status() == ((root, false, false, "", "")))
    // live-held (open sync claim)
    val ca = Stats.newSyncClaim()
    Stats.acquireWriterLease(spark, Seq(root), "me", ca)
    val live = status()
    assert(live._2 && live._3 && live._4 == ca.toString &&
      live._5.contains("owner=me"), live.toString)
    // terminated, awaiting reclaim: leased but holder not live
    Stats.dropSyncClaim(ca)
    val dead = status()
    assert(dead._2 && !dead._3, dead.toString)
    // the console did not mutate: the lease is still reclaimable and
    // then releasable
    Stats.acquireWriterLease(spark, Seq(root), "me2")
    Stats.releaseWriterLease(spark, Seq(root))
    // foreign-process file: leased, no registry holder, body names it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(Stats.writerLeasePath(root)),
      "owner=other;app=application_x".getBytes("UTF-8"))
    val foreign = status()
    assert(foreign._2 && !foreign._3 && foreign._4 == "" &&
      foreign._5.contains("application_x"), foreign.toString)
    Stats.releaseWriterLease(spark, Seq(root))
  }

  test("ANY failure mid-claim rolls back every root: an I/O error on " +
      "the second root releases the first root's registry entry and " +
      "lease file, so the family is not stuck") {
    val root = s"/tmp/graft-iolease-${System.nanoTime()}"
    val first = s"$root/a_store"
    val second = s"$root/b_store"
    new java.io.File(root).mkdirs()
    try {
      Stats.leaseClaimTestHook = { p =>
        if (p.contains("b_store"))
          throw new java.io.IOException("injected transient FS error")
      }
      val ex = intercept[java.io.IOException] {
        Stats.acquireWriterLease(spark, Seq(first, second), "me")
      }
      assert(ex.getMessage.contains("injected"))
    } finally Stats.leaseClaimTestHook = _ => ()
    assert(!new java.io.File(Stats.writerLeasePath(first)).exists,
      "I/O failure mid-claim leaked the first root's lease file")
    // no registry residue either: both roots claimable immediately
    Stats.acquireWriterLease(spark, Seq(first, second), "me")
    Stats.releaseWriterLease(spark, Seq(first, second))
  }

  test("lease ownership is keyed on runId, not query id: a " +
      "checkpoint resume's successor shares the predecessor's query " +
      "id, and the predecessor's late release must still be a no-op") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-runlease-${System.nanoTime()}"
    val in = MemoryStream[(Long, String)]
    def startGate() = StreamOps.nearDupGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt")
    val q1 = startGate()
    val (id1, run1) = (q1.id, q1.runId)
    try {
      in.addData((1L, "the quick brown fox jumps over the dog" * 5))
      q1.processAllAvailable()
    } finally q1.stop()
    // same checkpoint → same query id, NEW runId
    val q2 = startGate()
    try {
      assert(q2.id == id1 && q2.runId != run1,
        "fixture broke: resume should keep q.id and change q.runId")
      // the predecessor's LATE release (its termination event firing
      // after the successor claimed) — keyed on the OLD runId it must
      // be a no-op; keyed on q.id it would unfence the live successor
      Stats.releaseWriterLeaseOwned(spark, Seq(s"$base/store"), run1)
      assert(new java.io.File(
        Stats.writerLeasePath(s"$base/store")).exists,
        "a late predecessor release deleted the successor's lease")
      intercept[Stats.ConcurrentWriterException] {
        StreamOps.compactNearDupStore(spark, s"$base/store", 1)
      }
    } finally q2.stop()
  }

  test("heartbeat liveness: a crashed FOREIGN process's " +
      "stale-heartbeat lease is reclaimed after grace; a fresh " +
      "foreign file still refuses; a racing reclaimer that loses " +
      "the create window gets the named refusal") {
    val root = s"/tmp/graft-hlease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    val lp = java.nio.file.Paths.get(Stats.writerLeasePath(root))
    def writeForeign(): Unit = {
      java.nio.file.Files.write(lp,
        "owner=deadSink;app=application_gone_1".getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(
        lp.getParent.resolve(s".${lp.getFileName}.crc"))
    }
    // fresh heartbeat (mtime = now): the named refusal, citing the
    // grace the reclaim would need
    writeForeign()
    val ex = intercept[Stats.ConcurrentWriterException] {
      Stats.acquireWriterLease(spark, Seq(root), "me")
    }
    assert(ex.getMessage.contains("heartbeat") &&
      ex.getMessage.contains("application_gone_1"), ex.getMessage)
    // stale heartbeat (mtime past grace): reclaimed — no crowbar
    java.nio.file.Files.setLastModifiedTime(lp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Stats.leaseStaleGraceMs - 60000L))
    Stats.acquireWriterLease(spark, Seq(root), "me")
    assert(new String(java.nio.file.Files.readAllBytes(lp), "UTF-8")
      .contains("owner=me"), "stale foreign lease was not reclaimed")
    Stats.releaseWriterLease(spark, Seq(root))
    // two stale-reclaimers race: the OTHER process re-creates the
    // lease inside our inspection→create window — create-if-absent
    // arbitrates, we lose with the named error, its file survives
    writeForeign()
    java.nio.file.Files.setLastModifiedTime(lp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - Stats.leaseStaleGraceMs - 60000L))
    try {
      Stats.leaseClaimTestHook = { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          "owner=otherReclaimer;app=application_rival_2"
            .getBytes("UTF-8"))
      }
      val ex2 = intercept[Stats.ConcurrentWriterException] {
        Stats.acquireWriterLease(spark, Seq(root), "me")
      }
      assert(ex2.getMessage.contains("created concurrently"))
      assert(new String(java.nio.file.Files.readAllBytes(lp), "UTF-8")
        .contains("application_rival_2"),
        "losing reclaimer clobbered the winner's lease")
    } finally Stats.leaseClaimTestHook = _ => ()
    Stats.releaseWriterLease(spark, Seq(root))
  }

  test("heartbeat refresher: a held lease's file mtime advances on " +
      "the cadence without any explicit call, and a released lease " +
      "is never resurrected by a late refresh") {
    val root = s"/tmp/graft-rhlease-${System.nanoTime()}/store"
    new java.io.File(root).getParentFile.mkdirs()
    val lp = java.nio.file.Paths.get(Stats.writerLeasePath(root))
    val prevInterval = Stats.leaseHeartbeatIntervalMs
    Stats.leaseHeartbeatIntervalMs = 100L
    val claim = Stats.newSyncClaim()
    try {
      Stats.acquireWriterLease(spark, Seq(root), "me", claim)
      // age the file, then wait for the refresher to bump it back
      val past = System.currentTimeMillis() - 3600000L
      java.nio.file.Files.setLastModifiedTime(lp,
        java.nio.file.attribute.FileTime.fromMillis(past))
      val deadline = System.currentTimeMillis() + 15000L
      var fresh = false
      while (!fresh && System.currentTimeMillis() < deadline) {
        Thread.sleep(250L)
        fresh = java.nio.file.Files.getLastModifiedTime(lp)
          .toMillis > past + 1800000L
      }
      assert(fresh, "held lease's heartbeat was never refreshed")
    } finally {
      Stats.releaseWriterLeaseOwned(spark, Seq(root), claim)
      Stats.dropSyncClaim(claim)
      Stats.leaseHeartbeatIntervalMs = prevInterval
    }
    // released → deleted; the refresher must not re-create it
    Thread.sleep(2500L)
    assert(!java.nio.file.Files.exists(lp),
      "refresher resurrected a released lease file")
  }

  test("a held family root covers its tombstone sibling: in-sink " +
      "compaction of <store>_deleted rides the gate's lease — no " +
      "extra claim per cycle, no sibling lease file left behind") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-dlease-${System.nanoTime()}"
    val docA = "the quick brown fox jumps over the lazy dog " * 10
    val docB = "watermark semantics for stream joins explained " * 8
    val claims = new java.util.concurrent.atomic.AtomicInteger(0)
    val in = MemoryStream[(Long, String)]
    def startGate() = StreamOps.nearDupGateSink(spark,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/store", s"$base/out", s"$base/ckpt",
      compactEvery = 1, compactFilesOut = 1)
    Stats.leaseClaimTestHook = { p =>
      if (p.contains(base)) claims.incrementAndGet(): Unit
    }
    try {
      val q1 = startGate()
      try {
        in.addData((1L, docA), (2L, docB)); q1.processAllAvailable()
      } finally q1.stop()
      // quiesce → tombstone doc 1 (one batch-side claim)
      StreamOps.deleteFromNearDupStore(spark, s"$base/store",
        Seq(1L).toDF("id"), batchId = 2L)
      // resume: the next in-sink compaction folds the store MINUS the
      // tombstone AND rewrites <store>_deleted — all under the gate's
      // one startup claim
      val q2 = startGate()
      try {
        in.addData((3L, docB + " tail")); q2.processAllAvailable()
      } finally q2.stop()
      assert(claims.get == 3,
        s"expected 3 claims (2 gate startups + 1 batch delete), saw " +
          s"${claims.get} — the _deleted compaction re-claimed " +
          "instead of riding the held family lease")
    } finally Stats.leaseClaimTestHook = _ => ()
    assert(!new java.io.File(
      Stats.writerLeasePath(s"$base/store_deleted")).exists,
      "in-sink tombstone compaction leaked a sibling lease file")
    // and the maintenance actually ran: the store folded to a
    // generation and the tombstoned doc is physically gone
    import spark.implicits._
    val ids = StreamOps.nearDupStoreView(spark, s"$base/store").get
      .select(col("id")).as[Long].collect().toSet
    assert(!ids.contains(1L), s"tombstoned doc survived: $ids")
  }

  test("a foreign process's lease is never silently reclaimed — " +
      "operator break via releaseWriterLease; rolled-back claims " +
      "release every root acquired before the conflict") {
    val root = s"/tmp/graft-flease-${System.nanoTime()}"
    val held = s"$root/held"
    val free = s"$root/free"
    new java.io.File(root).mkdirs()
    // a lease left by ANOTHER app (fresh-heartbeat = live as far as
    // the fence can tell, so it must refuse)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(Stats.writerLeasePath(held)),
      "owner=someSink;app=application_other_123".getBytes("UTF-8"))
    val ex = intercept[Stats.ConcurrentWriterException] {
      // `free` sorts before `held`: the claim on `free` succeeds,
      // then the conflict on `held` must roll it back
      Stats.acquireWriterLease(spark, Seq(held, free), "me")
    }
    assert(ex.getMessage.contains("releaseWriterLease"))
    assert(!new java.io.File(Stats.writerLeasePath(free)).exists,
      "rolled-back claim left a stale lease")
    // operator break, then the claim goes through
    Stats.releaseWriterLease(spark, Seq(held))
    Stats.acquireWriterLease(spark, Seq(held, free), "me")
    assert(new java.io.File(Stats.writerLeasePath(held)).exists)
    Stats.releaseWriterLease(spark, Seq(held, free))
    assert(!new java.io.File(Stats.writerLeasePath(held)).exists)
  }

  test("every leased gate sink refuses to start, naming itself, while " +
      "an open sync claim holds its store root; the claim stays " +
      "live-held") {
    implicit val sc = spark.sqlContext
    val base = s"/tmp/graft-alease-${System.nanoTime()}"
    new java.io.File(base).mkdirs()
    // the fence fires before the query is built, so one stream shape
    // serves every sink
    val st = MemoryStream[(Long, String)].toDF().toDF("id", "text")
    def r(n: String) = s"$base/$n"
    def ck(n: String) = s"$base/ckpt_$n"
    def out(n: String) = s"$base/out_$n"
    val df = Seq((1L, "en")).toDF("id", "text")
    // (owner, the root the claim holds, start)
    val sinks: Seq[(String, String, () => Any)] = Seq(
      ("nearDupGateSink", r("nd"), () => StreamOps.nearDupGateSink(spark,
        st, "id", "text", r("nd"), out("nd"), ck("nd"))),
      ("nearDupGateSinkBanded", r("ndb"), () => StreamOps
        .nearDupGateSinkBanded(spark, st, "id", "text", r("ndb"),
          out("ndb"), ck("ndb"))),
      ("substringGateSink", r("sub"), () => StreamOps.substringGateSink(
        spark, st, "id", "text", r("sub"), out("sub"), ck("sub"))),
      ("mediaDedupGateSink", r("med"), () => StreamOps.mediaDedupGateSink(
        spark, st, "id", "text", r("med"), out("med"), ck("med"))),
      ("mediaDedupGateSinkBanded", r("medb"), () => StreamOps
        .mediaDedupGateSinkBanded(spark, st, "id", "text", r("medb"),
          out("medb"), ck("medb"))),
      ("videoDedupGateSink", r("vid"), () => StreamOps.videoDedupGateSink(
        spark, st, "id", "text", r("vid"), out("vid"), ck("vid"))),
      ("multimodalGateSink", r("mm/img"), () => StreamOps
        .multimodalGateSink(spark, st, "id", "text", "text", "text",
          "text", r("mm"), out("mm"), ck("mm"))),
      ("embedDedupGateSink", r("emb"), () => StreamOps.embedDedupGateSink(
        spark, st, "id", "text", r("emb"), out("emb"), ck("emb"))),
      ("dsirGateSink", r("dsir"), () => StreamOps.dsirGateSink(spark, st,
        "id", "text", df, r("dsir"), out("dsir"), ck("dsir"),
        buckets = 16, minScore = 0L)),
      ("lmGateSink", r("lm"), () => StreamOps.lmGateSink(spark, st, "id",
        "text", r("lm"), out("lm"), ck("lm"), num = 0L, den = 1L)),
      ("erGateSink", r("er"), () => StreamOps.erGateSink(spark, st, "id",
        "text", r("er"), out("er"), ck("er"))),
      ("bm25IndexGateSink", r("bm25"), () => StreamOps.bm25IndexGateSink(
        spark, st, "id", "text", r("bm25"), ck("bm25"))),
      ("pcaMomentsGateSink", r("pca"), () => StreamOps.pcaMomentsGateSink(
        spark, st, "text", r("pca"), ck("pca"))),
      ("kCenterGateSink", r("kc"), () => StreamOps.kCenterGateSink(spark,
        st, "id", "text", 2, 1, r("kc"), ck("kc"))),
      ("retractionGateSink", r("ret"), () => StreamOps.retractionGateSink(
        spark, st, "id", None, None, ck("ret"),
        gateStorePaths = Seq(r("ret")))),
      ("graphRetractionSink", r("gre"), () => StreamOps
        .graphRetractionSink(spark, st, "id", r("gre"), ck("gre"))),
      ("graphGateSink", r("gcc"), () => StreamOps.graphGateSink(spark, st,
        "id", "id", df, "id", "text", 1, r("ge"), r("gcc"), r("glp"),
        ck("gg"))),
      ("kmvNoveltyGateSink", r("kmv"), () => StreamOps.kmvNoveltyGateSink(
        spark, st, "id", "text", r("kmv"), out("kmv"), s"$base/low",
        ck("kmv"))),
      ("profileDriftGateSink", r("prof"), () => StreamOps
        .profileDriftGateSink(spark, st, Seq("text"), r("prof"),
          out("prof"), ck("prof"))))
    assert(sinks.map(_._1).distinct.size == 19)
    sinks.foreach { case (owner, root, start) =>
      val claim = Stats.newSyncClaim()
      Stats.acquireWriterLease(spark, Seq(root), "holder", claim)
      try {
        val ex = intercept[Stats.ConcurrentWriterException](start())
        assert(ex.getMessage.startsWith(s"$owner:") &&
          ex.getMessage.contains("leased by"), ex.getMessage)
        val (_, leased, live, holder, _) =
          Stats.writerLeaseStatus(spark, Seq(root)).head
        assert(leased && live && holder == claim.toString,
          s"$owner disturbed the claim on $root")
      } finally {
        Stats.releaseWriterLeaseOwned(spark, Seq(root), claim)
        Stats.dropSyncClaim(claim)
      }
    }
  }
}

/** A local filesystem under the `vanishfs` scheme that, once armed,
  * deletes a file as it is opened — the lease holder's release landing
  * between a claimer's existence check and its read.
  */
class VanishOnOpenFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vanishfs:///")
  override def getScheme: String = "vanishfs"
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (VanishOnOpenFs.armed.getAndSet(false)) super.delete(f, false): Unit
    super.open(f, bufferSize)
  }
}

object VanishOnOpenFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
