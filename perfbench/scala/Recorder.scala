package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory record of one benchmark run: op outcomes always; spans,
  * Spark jobs, stage/task totals and query executions only when the
  * run is traced. Everything is written out once, when the run ends.
  *
  * Times are microseconds on one clock: the epoch at start-up plus
  * `System.nanoTime` deltas, so span boundaries are monotonic and
  * listener event times (epoch milliseconds) land on the same axis.
  */
final class Recorder(val traced: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process so far (all threads), microseconds. */
  def cpuUs: Long = os.getProcessCpuTime / 1000L

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Long, end: Long)
  final case class Op(id: Int, name: String, pass: Int, start: Long,
                      end: Long, ok: Boolean, error: String, cpu: Long)
  final case class Job(id: Int, op: Int, start: Long, end: Long,
                       stages: Seq[Int], firstStage: String)
  final case class StageTotals(stage: Int, tasks: Int, taskMs: Long,
                               shuffleWrite: Long, shuffleRead: Long,
                               spill: Long, gcMs: Long, records: Long)
  final case class Qe(start: Long, end: Long, analysisMs: Long,
                      optimizationMs: Long, planningMs: Long,
                      exchanges: Int, broadcasts: Int)

  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  val jobs = ArrayBuffer[Job]()
  val stages = scala.collection.mutable.Map[Int, StageTotals]()
  val qes = ArrayBuffer[Qe]()
  /** Named per-pass readings (e.g. store bytes, staged blocks). */
  val gauges = ArrayBuffer[(Int, String, Double)]()
  /** (pass, start, end, process CPU microseconds) */
  val passes = ArrayBuffer[(Int, Long, Long, Long)]()
  /** Output (rows, digest) of each named op, last pass wins. */
  val results = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
  def result(name: String, rows: Long, digest: String): Unit =
    results(name) = (rows, digest)

  private var open: List[Int] = Nil
  private var nextSpan = 0
  @volatile var currentOp: Int = -1
  var currentPass: Int = 0

  /** Time `body` as a child of the innermost open span (traced runs). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val s = nowUs
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, currentOp, name, s, nowUs)
      }
    }

  def gauge(name: String, value: Double): Unit =
    if (traced) gauges += ((currentPass, name, value))

  def addJob(j: Job): Unit = synchronized { jobs += j }
  def addQe(q: Qe): Unit = synchronized { qes += q }
  def addTask(stage: Int, taskMs: Long, sw: Long, sr: Long, spill: Long,
              gcMs: Long, records: Long): Unit = synchronized {
    val t = stages.getOrElse(stage, StageTotals(stage, 0, 0, 0, 0, 0, 0, 0))
    stages(stage) = StageTotals(stage, t.tasks + 1, t.taskMs + taskMs,
      t.shuffleWrite + sw, t.shuffleRead + sr, t.spill + spill,
      t.gcMs + gcMs, t.records + records)
  }
}
