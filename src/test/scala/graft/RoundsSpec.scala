package graft

import org.apache.spark.{JobTags, ListenerBusDrain}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Regime, Rounds}

/** The iterative [[Graph]] operators, each on a small fixture, through
  * the one round driver ([[Rounds]]). Per operator and round budget:
  * the Spark jobs of one call (the operator and the collect of its
  * result), the persistent RDDs it leaves behind, and a digest of its
  * result. The job counts and digests are the figures of the
  * hand-written loops the driver replaced; the driver must reproduce
  * them (sccCondensation runs one job fewer at the derived budget: its
  * budget count rides the initial staging). The RDDs left must not
  * depend on the budget — a superseded round that is not freed shows
  * up as one more per round.
  */
class RoundsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString + "/s"

  private def k4(o: Long) = for (i <- 0L to 3L; j <- (i + 1) to 3L)
    yield (o + i, o + j)

  private lazy val path12 = (1L until 12L).map(i => (i, i + 1))
    .toDF("a", "b")
  private lazy val directed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
    (4L, 5L), (5L, 4L), (5L, 6L), (6L, 7L), (2L, 8L)).toDF("s", "d")
  private lazy val undirected = (k4(0L) ++ k4(4L) ++
    Seq((3L, 4L), (7L, 8L), (8L, 9L), (9L, 10L))).toDF("a", "b")
  private lazy val seeds = Seq((0L, "en"), (10L, "de")).toDF("id", "l")

  /** One operator at two budgets: `call(budget)` prepares any store
    * (outside the measured region) and returns the measured call.
    * `jobs` and `digests` are per budget.
    */
  private final case class Row(name: String, budgets: (Int, Int),
                               jobs: (Int, Int),
                               digests: (String, String),
                               call: Int => (() => DataFrame))

  private def rows: Seq[Row] = Seq(
    Row("kCore", (1, 50), (11, 17), ("d6f418f1eebf", "d6f418f1eebf"),
      n => () => Graph.kCore(undirected, col("a"), col("b"), k = 3,
        maxRounds = n)),
    Row("stronglyConnectedComponents", (0, 30), (80, 80),
      ("6e674a1c3f4b", "6e674a1c3f4b"),
      n => () => Graph.stronglyConnectedComponents(directed, col("s"),
        col("d"), maxRounds = n)),
    // 121 jobs for the hand-written loop at the derived budget
    Row("sccCondensation", (0, 30), (120, 120),
      ("9b13cdf6f586", "9b13cdf6f586"),
      n => () => Graph.sccCondensation(directed, col("s"), col("d"),
        maxInner = n)),
    Row("connectedComponents", (10, 25), (24, 24),
      ("a3d6211786e7", "a3d6211786e7"),
      n => () => Graph.connectedComponents(path12, col("a"), col("b"),
        maxIter = n)),
    Row("connectedComponents (star fallback)", (8, 12), (76, 76),
      ("a3d6211786e7", "a3d6211786e7"),
      n => () => Graph.connectedComponents(path12, col("a"), col("b"),
        maxIter = n, switchAfter = 1)),
    Row("starRounds", (10, 20), (61, 61),
      ("a3d6211786e7", "a3d6211786e7"),
      n => () => Graph.starRounds(path12, col("a"), col("b"),
        maxIter = n)._1),
    Row("pageRank", (2, 4), (14, 20), ("588076de08e1", "0ad384a9a9d6"),
      n => () => Graph.pageRank(directed, col("s"), col("d"), iters = n)),
    Row("pageRankPersonalized", (2, 4), (19, 25),
      ("5dc3cfab1ef6", "036306daa5eb"),
      n => () => Graph.pageRankPersonalized(directed, col("s"), col("d"),
        Seq(1L, 5L).toDF("id"), col("id"), iters = n)),
    Row("pprForwardPush", (2, 4), (19, 31),
      ("5a4ba743d9f6", "9a36ec15a17f"),
      n => () => Graph.pprForwardPush(undirected, col("a"), col("b"),
        Seq(0L).toDF("id"), col("id"), rounds = n)),
    Row("hits", (2, 3), (38, 52), ("d862e5a348a8", "292144f97440"),
      n => () => Graph.hits(directed, col("s"), col("d"), iters = n)),
    Row("labelPropagation", (2, 4), (16, 22),
      ("1a50aeeb02fe", "90663fff54e2"),
      n => () => Graph.labelPropagation(undirected, col("a"), col("b"),
        seeds, col("id"), col("l"), iters = n)),
    Row("louvain", (2, 6), (31, 83), ("c903f7ead71d", "0cba1b586abf"),
      n => () => Graph.louvain(undirected, col("a"), col("b"),
        rounds = n)),
    // the sketch is the union of its BFS layers, so the layers stay
    // staged: both budgets exceed the fixture's depth
    Row("landmarkDistances", (8, 12), (38, 38),
      ("0790a050cdd4", "0790a050cdd4"),
      n => () => Graph.landmarkDistances(undirected, col("a"), col("b"),
        landmarks = 2, maxDepth = n)),
    Row("kCoreIncremental", (1, 50), (31, 31),
      ("2b071c9a8094", "2b071c9a8094"), { n =>
        val dir = tmp("graft-rounds-kc")
        val old = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
          (3L, 4L), (5L, 6L), (6L, 7L))
        val nw = Seq((1L, 8L), (2L, 8L), (8L, 9L), (1L, 9L), (2L, 9L))
        Graph.writeKCoreStore(old.toDF("a", "b"), col("a"), col("b"),
          k = 3, dir)
        () => Graph.kCoreIncremental((old ++ nw).toDF("a", "b"),
          col("a"), col("b"), nw.toDF("a", "b"), col("a"), col("b"),
          k = 3, dir, 1L, maxRounds = n)
      }),
    Row("labelPropagationIncremental", (2, 3), (29, 43),
      ("c9f6d824491f", "99087dfb1e98"), { n =>
        val dir = tmp("graft-rounds-lp")
        val old = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        val nw = Seq((4L, 5L), (5L, 6L))
        Graph.writeLabelState(old.toDF("a", "b"), col("a"), col("b"),
          seeds, col("id"), col("l"), iters = n, dir)
        () => Graph.labelPropagationIncremental(
          (old ++ nw).toDF("a", "b"), col("a"), col("b"),
          nw.toDF("a", "b"), col("a"), col("b"), seeds, col("id"),
          col("l"), iters = n, dir, batchId = 1L)
      }))

  /** What one call (the call and the collect of its result) ran and
    * left: its jobs, each as its id and stage names, the persistent RDDs
    * it left, and a digest of its result.
    */
  private final case class Measured(jobs: Seq[String], left: Int,
                                    digest: String)

  /** Measure one call. Only jobs carrying this call's job tag count, so
    * jobs other threads run on the shared context do not. Every RDD
    * persisted while the call runs is held strongly until the count, so
    * one the call leaks cannot drop out of the context's weak registry
    * first.
    */
  private def measure(call: () => DataFrame): Measured = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[RDD[_]]()
    val tag = s"rounds-measure-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (JobTags.of(e).contains(tag))
          jobs.add(s"job ${e.jobId}: " +
            e.stageInfos.map(_.name).mkString(" | ")): Unit
        sc.getPersistentRDDs.values.foreach(r => held.add(r): Unit)
      }
    }
    ListenerBusDrain(sc)
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    val got = try call().collect()
    finally {
      sc.removeJobTag(tag)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val left = (sc.getPersistentRDDs.keySet -- before).size
    held.clear()
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(got.map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    Measured(jobs.toArray(Array.empty[String]).toSeq, left, digest)
  }

  rows.foreach { r =>
    test(s"${r.name}: jobs and result unchanged; RDDs left do not " +
        "depend on the budget") {
      val m1 = measure(r.call(r.budgets._1))
      val m2 = measure(r.call(r.budgets._2))
      assert((m1.digest, m2.digest) == r.digests, "result changed")
      assert((m1.jobs.size, m2.jobs.size) == r.jobs, "job count changed; " +
        Seq(r.budgets._1 -> m1, r.budgets._2 -> m2).map { case (b, m) =>
          s"tagged jobs at budget $b:\n  " + m.jobs.mkString("\n  ")
        }.mkString("\n"))
      assert(m1.left == m2.left, s"persistent RDDs left: ${m1.left} at " +
        s"budget ${r.budgets._1}, ${m2.left} at budget ${r.budgets._2}")
    }
  }

  test("landmarkDistances frees the empty BFS layer that ended the " +
      "search: one call leaves the edge and pivot stages and the 7 " +
      "non-empty layers") {
    val left = measure(() => Graph.landmarkDistances(undirected,
      col("a"), col("b"), landmarks = 2, maxDepth = 8)).left
    assert(left == 9, s"persistent RDDs left: $left")
  }

  test("connectedComponents: the star fallback keeps a forced " +
      "broadcast threshold") {
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    val broadcastRounds = scala.collection.mutable.Set.empty[String]
    val tags = scala.collection.mutable.Set.empty[String]
    def labels(limit: Long) = Regime.forcing(limit)(
        Graph.connectedComponents(path12, col("a"), col("b"),
          switchAfter = 1))
      .as[(Long, Long)].collect().toMap
    val default = labels(4000000L)
    try {
      thresholds.foreach(spark.conf.set(_, "-1"))
      Rounds.probe = Some { (tag, df) =>
        tags += tag
        if (physicalNodes(df).exists(_.isInstanceOf[BroadcastExchangeExec]))
          broadcastRounds += tag
      }
      assert(labels(0L) == default)
    } finally {
      Rounds.probe = None
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(tags("starRounds.round"), s"no star round was probed: $tags")
    assert(broadcastRounds.isEmpty,
      s"rounds with a BroadcastExchange: $broadcastRounds")
  }
}
