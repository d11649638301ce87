package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Raised by a workload when an op's output differs from the expected
  * value; the op then counts as failed, exactly like one that throws.
  */
final class WrongOutput(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongOutput(what)
}

/** One run's shared state. `op` is the only way a workload times work:
  * a closed loop, one op at a time, on the calling thread.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder,
                val runDir: String, val dataDir: String, val seed: Long) {
  private var nextOp = 0

  /** Time `body` as one op. `verify`, run after the latency is taken,
    * checks output that needs extra work to read back; an exception or
    * a [[WrongOutput]] from either marks the op failed.
    */
  def op(name: String, verify: () => Unit = () => ())(body: => Unit): Boolean = {
    val id = nextOp
    nextOp += 1
    rec.currentOp = id
    val sc = spark.sparkContext
    if (rec.traced) sc.setLocalProperty(Ctx.OpProperty, id.toString)
    val start = rec.nowUs
    val cpu0 = rec.cpuUs
    def attempt(f: => Unit): String =
      try { f; "" } catch { case NonFatal(e) => e.toString.take(500) }
    val bodyError = attempt(rec.span("op")(body))
    val end = rec.nowUs
    val cpu = rec.cpuUs - cpu0
    val error =
      if (bodyError.nonEmpty) bodyError
      else attempt(rec.span("verify")(verify()))
    rec.ops += rec.Op(id, name, rec.currentPass, start, end,
      error.isEmpty, error, cpu)
    if (rec.traced) {
      val st = sc.getRDDStorageInfo
      rec.gauge("operators.staged_bytes",
        st.map(r => r.memSize + r.diskSize).sum.toDouble)
      rec.gauge("operators.staged_blocks",
        st.map(_.numCachedPartitions).sum.toDouble)
    }
    // staged round state is freed between ops, as graft.Bench does
    rec.span("operators.free")(
      graft.operators.Checkpoints.freeTransient(spark))
    if (rec.traced) sc.setLocalProperty(Ctx.OpProperty, null)
    rec.currentOp = -1
    error.isEmpty
  }
}

object Ctx { val OpProperty = "perfbench.op" }

/** A workload: untimed preparation, untimed per-pass reset, and the
  * pass itself, which issues every op once through [[Ctx.op]].
  */
trait Workload {
  def prepare(): Unit = ()
  def reset(pass: Int): Unit = ()
  def pass(pass: Int): Unit
  /** Ops run once after the last pass (pass -1): counted as attempted
    * and failed, left out of the latencies.
    */
  def finish(): Unit = ()
}

/** Listeners the traced run registers from outside the program: Spark
  * jobs, stage/task totals, and each query execution's planning phases
  * and final adaptive plan.
  */
object Listeners {
  def install(spark: SparkSession, rec: Recorder): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, Seq[Int], String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = Option(e.properties).flatMap(p =>
          Option(p.getProperty(Ctx.OpProperty))).map(_.toInt).getOrElse(-1)
        val first = e.stageInfos.sortBy(_.stageId).headOption
          .map(_.name).getOrElse("")
        starts.put(e.jobId, (e.time * 1000L, op,
          e.stageInfos.map(_.stageId), first))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = starts.remove(e.jobId)
        if (s != null)
          rec.addJob(rec.Job(e.jobId, s._2, s._1, e.time * 1000L, s._3, s._4))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          rec.addTask(e.stageId, m.executorRunTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
            m.inputMetrics.recordsRead)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) {
          def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
          val (sh, bc) =
            try exchanges(qe.executedPlan) catch { case NonFatal(_) => (0, 0) }
          rec.addQe(rec.Qe(ph.values.map(_.startTimeMs).min * 1000L,
            ph.values.map(_.endTimeMs).max * 1000L, ms("analysis"),
            ms("optimization"), ms("planning"), sh, bc))
        }
      }
    })
  }

  /** Shuffle and broadcast exchanges in the final (adaptive) plan,
    * subqueries included; a reused exchange is not counted again.
    */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var sh = 0
    var bc = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ReusedExchangeExec => return
        case _: ShuffleExchangeLike => sh += 1
        case _: BroadcastExchangeLike => bc += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (sh, bc)
  }
}

object Main {
  /** Session set-ups per run; setup_s is their median. */
  val SetupCycles = 5
  /** Untimed passes between the cold pass and the steady ones. */
  val WarmupPasses = 1

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: String, dataDir: String,
                        expected: String, out: String, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("run-dir"),
      m.getOrElse("data-dir", ""), m.getOrElse("expected", ""), m("out"),
      m.getOrElse("cpus", "4").toInt)
  }

  /** The session users run: graft.Bench's configuration (extensions
    * installed, AQE on, UTC), with every path under the run directory.
    */
  def session(runDir: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sql("SELECT 1").collect()
    s
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly either way: a failed run must not linger on
    // non-daemon threads until the caller's timeout
    try run(parse(argv))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  def run(a: Args): Unit = {
    val rec = new Recorder(a.trace)
    // set-up: process start until the session answers a query, then
    // more stop-and-rebuild cycles of the session; setup_s is the median
    val setups = ArrayBuffer[Double]()
    val procStartUs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime * 1000L
    var spark: SparkSession = null
    for (i <- 0 until SetupCycles) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) procStartUs else rec.nowUs
      spark = session(a.runDir, a.cpus)
      setups += (rec.nowUs - t0) / 1e6
    }
    if (a.trace) Listeners.install(spark, rec)
    val ctx = new Ctx(spark, rec, a.runDir, a.dataDir, a.seed)
    val wl: Workload = a.workload match {
      case "graph" => new GraphWorkload(ctx, a.expected)
      case "swell_nightly" => new SwellNightly(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    wl.prepare()
    def runPass(p: Int): Unit = {
      wl.reset(p)
      rec.currentPass = p
      val s = rec.nowUs
      val c = rec.cpuUs
      rec.span("pass")(wl.pass(p))
      rec.passes += ((p, s, rec.nowUs, rec.cpuUs - c))
    }
    // pass 0 is the cold pass; the warm-up passes after it are recorded
    // but not measured, so the JIT and Spark's caches settle first
    (0 to WarmupPasses).foreach(runPass)
    val measureStart = rec.nowUs
    var p = WarmupPasses + 1
    // at least two steady passes, so every run has the same number of
    // latency samples however loaded the host is
    while (p <= WarmupPasses + 2 ||
           (rec.nowUs - measureStart) / 1e6 < a.seconds) {
      runPass(p)
      p += 1
    }
    rec.currentPass = -1
    wl.finish()
    spark.stop()
    val out = Json.obj(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "traced" -> a.trace.toString,
      "cpus" -> a.cpus.toString,
      "warmup_passes" -> WarmupPasses.toString,
      "setup_s" -> Json.arr(setups.map(_.toString)),
      "peak_rss_kb" -> vmHwmKb.toString,
      "passes" -> Json.arr(rec.passes.map { case (i, s, e, c) =>
        Json.arr(Seq(i, s, e, c).map(_.toString)) }),
      "ops" -> Json.arr(rec.ops.map(o => Json.arr(Seq(o.id.toString,
        Json.str(o.name), o.pass.toString, o.start.toString,
        o.end.toString, o.ok.toString, Json.str(o.error), o.cpu.toString)))),
      "spans" -> Json.arr(rec.spans.map(s => Json.arr(Seq(s.id.toString,
        s.parent.toString, s.op.toString, Json.str(s.name),
        s.start.toString, s.end.toString)))),
      "jobs" -> Json.arr(rec.jobs.map(j => Json.arr(Seq(j.id.toString,
        j.op.toString, j.start.toString, j.end.toString,
        Json.arr(j.stages.map(_.toString)), Json.str(j.firstStage))))),
      "stages" -> Json.arr(rec.stages.values.toSeq.sortBy(_.stage).map(t =>
        Json.arr(Seq(t.stage, t.tasks, t.taskMs, t.shuffleWrite,
          t.shuffleRead, t.spill, t.gcMs, t.records).map(_.toString)))),
      "qes" -> Json.arr(rec.qes.map(q => Json.arr(Seq(q.start, q.end,
        q.analysisMs, q.optimizationMs, q.planningMs, q.exchanges,
        q.broadcasts).map(_.toString)))),
      "results" -> Json.obj(rec.results.toSeq.map { case (n, (r, d)) =>
        n -> Json.obj("rows" -> r.toString, "digest" -> Json.str(d)) }: _*),
      "gauges" -> Json.arr(rec.gauges.map { case (p, n, v) =>
        Json.arr(Seq(p.toString, Json.str(n), v.toString)) }))
    Files.write(Paths.get(a.out), out.getBytes(UTF_8))
  }

  /** Peak resident set of this JVM (`VmHWM`, kB). */
  def vmHwmKb: Long = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0L
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}

/** Minimal JSON writing; values are passed pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
