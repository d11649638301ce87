package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The round protocol of every iterative operator in [[Graph]]: one
  * driver stages each round, observes its convergence measure on the
  * staging job, frees the round it supersedes, counts the budget and
  * offers the round to the debug probe. Operators keep only their step
  * (how round r+1 is built from round r) and their stop rule.
  *
  * A round is an ordinary lazily built DataFrame; the driver never
  * changes the plan a step builds. It stages that plan with
  * [[Checkpoints.stage]] (reliable or local, partitioning preserved),
  * and the measure rides the same job as an
  * [[org.apache.spark.sql.Observation]], never a second action. A
  * superseded round's blocks (and reliable checkpoint files) are
  * released as soon as the next round is staged — a loop that stages
  * per round would otherwise fill the block manager across rounds and
  * across repeated calls.
  */
private[graft] object Rounds {

  /** DEBUG-ONLY hook (tools/RoundPlanDump): when set, every round the
    * driver stages is offered here, with its tag, BEFORE its staging
    * action, so the round fragment's physical plan (Exchange count,
    * join strategy) can be captured as committed evidence — the shipped
    * query's own explain covers only the final readout. `None` in
    * production: the by-name argument is never evaluated, so the hot
    * path pays nothing.
    */
  private[graft] var probe: Option[(String, DataFrame) => Unit] = None

  @inline private def offer(tag: String, df: => DataFrame): Unit =
    probe.foreach(p => p(tag, df))

  /** What a round observes on its own staging job. */
  sealed trait Measure
  /** Nothing: the staged plan gains no `CollectMetrics` node. */
  case object Unobserved extends Measure
  /** The round's row count ([[Round.count]]). */
  case object Rows extends Measure
  /** The decimal(38,0) sum of one column ([[Round.sum]]) — wide
    * enough that ids near 2^63 summed over ~2^40 rows never wrap, so
    * "equal sums ⇒ converged" holds for monotone label loops.
    */
  final case class Sum(column: String) extends Measure
  /** A caller's long-valued aggregate ([[Round.count]]). */
  final case class Of(agg: Column) extends Measure

  private def aggregate(m: Measure): Option[Column] = m match {
    case Unobserved => None
    case Rows => Some(count(lit(1)))
    case Sum(c) => Some(coalesce(sum(col(c).cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO)))
    case Of(agg) => Some(agg)
  }

  /** One staged round: its frame, the value its measure observed, and
    * its index (0 = the loop's starting state).
    */
  final class Round private[Rounds] (val df: DataFrame, value: Any,
                                     val index: Int) {
    def count: Long = value.asInstanceOf[Long]
    def sum: java.math.BigDecimal =
      value.asInstanceOf[java.math.BigDecimal]
    private[Rounds] def at(i: Int): Round = new Round(df, value, i)
  }

  /** A starting state the driver did not stage: a frame derived from
    * staged data, or `null` when round 1 builds from nothing.
    */
  def seed(df: DataFrame = null): Round = new Round(df, null, 0)

  /** Stage `df` as one round (probe first, measure on the same job).
    * `select`, when given, is the projection that is staged — the
    * measure is then observed on `df` before it, so it may read columns
    * the state does not keep.
    */
  def stage(tag: String, df: DataFrame, measure: Measure = Unobserved,
            select: Seq[Column] = Nil): Round = {
    def projected(d: DataFrame) =
      if (select.isEmpty) d else d.select(select: _*)
    offer(tag, projected(df))
    aggregate(measure) match {
      case None => new Round(Checkpoints.stage(projected(df)), null, 0)
      case Some(agg) =>
        val obs = org.apache.spark.sql.Observation()
        val st = Checkpoints.stage(projected(df.observe(obs, agg.as("m"))))
        new Round(st, obs.get("m"), 0)
    }
  }

  /** The union of rounds' frames — the output of a loop that keeps
    * every round (BFS layers, walk steps).
    */
  def union(rounds: Seq[Round]): DataFrame =
    rounds.map(_.df).reduce(_ unionAll _)

  /** Release the storage behind staged frames (`null`s skipped). */
  def free(dfs: DataFrame*): Unit = dfs.foreach { df =>
    if (df ne null) org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(df)
  }

  /** Keep every round: loops whose output is the union of their rounds. */
  val All: Int = Int.MaxValue

  /** What a step sees: the rounds still kept (the newest last) and the
    * index of the round it builds.
    */
  final class Trail private[Rounds] (tag: String, measure: Measure,
                                     val kept: IndexedSeq[Round],
                                     val index: Int) {
    private[Rounds] val scratchDfs =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def last: Round = kept.last

    /** Stage this round's frame under the loop's tag and measure. */
    def stage(df: DataFrame, select: Column*): Round =
      Rounds.stage(tag, df, measure, select)

    /** Frames the step staged for itself (an inner loop's result, a
      * static input it built): freed once this round is staged.
      */
    def scratch(dfs: DataFrame*): Unit = scratchDfs ++= dfs
  }

  /** How a loop ended: the rounds still kept (the newest last), the
    * number of rounds run, and whether the stop rule fired (as opposed
    * to the budget running out).
    */
  final class Run private[Rounds] (val kept: IndexedSeq[Round],
                                   val rounds: Int,
                                   val converged: Boolean) {
    def last: Round = kept.last

    /** The kept rounds without the one the stop rule fired on — for a
      * frontier loop, whose last round discovered nothing.
      */
    def untilDone: IndexedSeq[Round] =
      if (converged) kept.init else kept
  }

  /** Run rounds from `init` until `done(previous, current)` holds or
    * `budget` rounds have run. `step` builds each round and stages it
    * (normally `t.stage(frame)`; a step may instead return a round an
    * inner loop already staged). The round a new one supersedes is
    * freed unless it is among the newest `keep`; `init` counts as a
    * round, so with `keep = 1` it is freed once round 1 is staged.
    */
  def iterate(tag: String, init: Round, budget: Long,
              measure: Measure = Unobserved, keep: Int = 1,
              done: (Round, Round) => Boolean = (_, _) => false)
             (step: Trail => Round): Run = {
    val kept = scala.collection.mutable.ArrayBuffer(init)
    var it = 0
    var converged = false
    while (!converged && it < budget) {
      val trail = new Trail(tag, measure, kept.toIndexedSeq, it + 1)
      val next = step(trail).at(it + 1)
      converged = done(kept.last, next)
      kept += next
      while (kept.size > keep) free(kept.remove(0).df)
      free(trail.scratchDfs.toSeq: _*)
      it += 1
    }
    new Run(kept.toIndexedSeq, it, converged)
  }
}
