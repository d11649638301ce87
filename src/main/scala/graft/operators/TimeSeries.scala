package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators: as-of join and gap sessionization.
  *
  * Spark has no native ASOF JOIN; the naive formulation (range-condition
  * join + per-row max) explodes to O(|L|·|R|) per key. This union+window
  * formulation is the scale-correct one: tag both sides, sort once per
  * key by (time, side), and carry the last right-side row forward — a
  * single shuffle on the key, linear work, standard sort-merge machinery.
  */
object TimeSeries {

  /** Epoch micros for TIMESTAMP or TIMESTAMP_NTZ columns alike:
    * `unix_micros` only accepts the LTZ type, so NTZ values (how
    * Spark 4 reads un-annotated parquet `timestamp[us]`) are first
    * reinterpreted as session-zone instants — a no-op for LTZ input,
    * and under the engine's fixed UTC session the naive wall clock
    * maps 1:1 onto the epoch. All downstream uses take differences or
    * bin offsets, so the interpretation constant cancels regardless.
    */
  def epochMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Left as-of join: for each left row, the LATEST right row with
    * `rightTime <= leftTime` on the same key (inclusive). Right rows tied
    * on (key, time) should be pre-deduplicated for determinism.
    *
    * @param rightCols right-side columns to carry (exposed as
    *                  `asof_<name>`, null when no match)
    */
  def asofJoinLast(left: DataFrame, right: DataFrame,
                   leftKey: Column, rightKey: Column,
                   leftTime: Column, rightTime: Column,
                   rightCols: Seq[String]): DataFrame = {
    val l2 = left
      .withColumn("__k", leftKey)
      .withColumn("__t", leftTime)
      .withColumn("__side", lit(1))
    val r2 = right.select(
      rightKey.as("__k"),
      rightTime.cast(l2.schema("__t").dataType).as("__t"),
      struct(rightCols.map(col): _*).as("__r"), lit(0).as("__side"))
    // right rows sort BEFORE left rows at equal time (side 0 < 1), so an
    // exactly-simultaneous right row is visible to the left row
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = l2.unionByName(r2, allowMissingColumns = true)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
    val out = joined.select(
      left.columns.map(col) ++
        rightCols.map(c => col(s"__m.$c").as(s"asof_$c")): _*)
    out
  }

  /** Native as-of join via the custom AsOfJoin LogicalPlan/SparkPlan
    * (graft.plans.AsOfJoin): hash-cluster + sort both sides on
    * (key, time) and stream a two-pointer merge per partition — the
    * whole-operator form of [[asofJoinLast]]. Registered by
    * GraftExtensions; this wrapper also self-registers the strategy
    * via ExperimentalMethods so plain sessions can call it.
    *
    * Key and time columns must have identical types on both sides
    * (cast DATE → TIMESTAMP first). Output = left columns ++ right
    * columns (nullable); give right-side columns their output names
    * (e.g. `asof_` prefixes) before calling — no automatic renaming.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame,
                     leftKey: String, rightKey: String,
                     leftTime: String, rightTime: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    GraftSqlBridge.ensureStrategy(left.sparkSession,
      graft.plans.AsOfJoinStrategy)
    val lp = GraftSqlBridge.logicalPlan(left)
    val rp0 = GraftSqlBridge.logicalPlan(right)
    // self-join safety: expression ids must be distinct across sides
    val rp: LogicalPlan =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) rp0
      else Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asofJoinNative: column '$n' not in ${p.output.map(_.name)}"))
    GraftSqlBridge.ofRows(left.sparkSession,
      graft.plans.AsOfJoin(lp, rp, attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightTime)))
  }

  /** Regime-auto as-of join: picks the physical formulation that wins
    * for the actual side sizes, using the measured crossover (see
    * r_asof_broadcast vs r_asof_native bench pair):
    *
    *  - right fits the session broadcast threshold AND the left side
    *    outgrows it by `broadcastRatio` (the 100 TB-stream-vs-dimension
    *    shape) → native broadcast probe: the probe side is never
    *    shuffled or sorted;
    *  - otherwise (comparable sides, or a right too big to broadcast) →
    *    the union+window composition: ONE pipelined shuffle of
    *    |L|+|R|, which beats both native variants whenever the sides
    *    are within an order of magnitude of each other.
    *
    * Output = left columns ++ right columns (nullable), exactly like
    * [[asofJoinNative]]; column names must be distinct across sides.
    * Tie behavior on duplicate right (key, time) is unspecified in
    * every formulation — pre-deduplicate when tie identity matters.
    */
  def asofJoinAuto(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   broadcastRatio: Int = 16): DataFrame = {
    val lBytes = left.queryExecution.optimizedPlan.stats.sizeInBytes
    val rBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    val broadcastRegime = threshold > 0 && rBytes <= threshold &&
      lBytes >= rBytes * broadcastRatio
    if (broadcastRegime)
      asofJoinNative(left, right, leftKey, rightKey, leftTime, rightTime)
    else {
      val rightCols = right.columns.toSeq
      asofJoinLast(left, right, col(leftKey), col(rightKey),
          col(leftTime), col(rightTime), rightCols)
        .select(left.columns.map(col) ++
          rightCols.map(c => col(s"asof_$c").as(c)): _*)
    }
  }

  /** Last-observation-carried-forward gap fill: `as` = the most recent
    * non-null `value` per `key` in `order` — one window pass (single
    * shuffle on the key), the standard sparse→dense series repair.
    */
  def fillForward(df: DataFrame, key: Column, order: Seq[Column],
                  value: Column, as: String): DataFrame =
    df.withColumn(as, last(value, ignoreNulls = true).over(
      Window.partitionBy(key).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Gap-based sessionization: a new session starts when the time since
    * the previous event on the same key exceeds `gapSeconds`. Returns the
    * input plus `session_idx` (1-based per key) — one window pass, no
    * self-join.
    */
  def sessionize(df: DataFrame, key: Column, time: Column,
                 tieBreak: Column, gapSeconds: Long): DataFrame = {
    val order = Window.partitionBy(key).orderBy(time, tieBreak)
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(time, 1).over(order))
      .withColumn("__new",
        when(col("__prev").isNull ||
          epochMicros(time) - epochMicros(col("__prev")) >
            gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(cum))
      .drop("__prev", "__new")
  }

  /** Sequential funnel analysis with strict-ordering semantics: a user
    * reaches stage k at the EARLIEST event of `stages(k-1)`'s type
    * that is strictly after their stage-(k−1) time (stage 1 = their
    * earliest stage-1 event) — the product-analytics conversion
    * funnel, which also reads as a data-pipeline lifecycle audit
    * (ingested → validated → deduped per document id). Returns long
    * format (user, stage, stage_name, ts) for every reached stage.
    *
    * Scale shape: one filtered min-aggregate per stage (map-side
    * combined; the scan is shared and each stage's filter prunes to
    * its type), each joined to the previous stage's |reached-users|
    * table broadcast-gated on the MEASURED count — never a window
    * over the event stream. Deterministic: min() over event times.
    * `horizonMicros` (optional) bounds each hop: the stage-k event
    * must also fall within the horizon after stage k−1.
    */
  def funnel(df: DataFrame, user: Column, ts: Column, etype: Column,
             stages: Seq[String],
             horizonMicros: Long = Long.MaxValue): DataFrame = {
    require(stages.nonEmpty, "stages must be non-empty")
    val spark = df.sparkSession
    val ev = df.select(user.as("user"), ts.as("ts"),
      etype.as("etype"))
    var reached = graft.operators.Checkpoints.stage(
      ev.where(col("etype") === stages.head)
        .groupBy(col("user")).agg(min(col("ts")).as("t")))
    var out = reached.select(col("user"), lit(1).as("stage"),
      lit(stages.head).as("stage_name"), col("t").as("ts"))
    var k = 2
    while (k <= stages.length) {
      val prev = Regime.gate(reached.count())(reached.select(col("user"),
        col("t").as("__pt")))
      // the horizon predicate is built only when bounded — timestampadd
      // stays off the plan (and off NTZ type checking) otherwise
      val ordered = col("ts") > col("__pt")
      val within =
        if (horizonMicros == Long.MaxValue) ordered
        else ordered && col("ts") <=
          expr(s"timestampadd(MICROSECOND, $horizonMicros, __pt)")
      val hop = ev.where(col("etype") === stages(k - 1))
        .join(prev, Seq("user"))
        .where(within)
      reached = graft.operators.Checkpoints.stage(
        hop.groupBy(col("user")).agg(min(col("ts")).as("t")))
      out = out.unionByName(reached.select(col("user"),
        lit(k).as("stage"), lit(stages(k - 1)).as("stage_name"),
        col("t").as("ts")))
      k += 1
    }
    out
  }

  /** Per-user consecutive-event transition counts — the Markov-chain
    * read of an event stream ((from, to, n) over each user's
    * time-ordered event sequence): the "what do users do next"
    * product question, and the lifecycle-anomaly alarm on pipeline
    * event logs (a validated→ingested transition is a bug). The
    * ordering window partitions BY USER — corpus-cardinality keys,
    * never a few-groups reducer — and ties break on the unique event
    * id, so the chain is deterministic.
    */
  def transitionCounts(df: DataFrame, user: Column, ts: Column,
                       etype: Column, eventId: Column): DataFrame = {
    val w = Window.partitionBy(user).orderBy(ts, eventId)
    df.select(user.as("user"), etype.as("from_type"),
        lead(etype, 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Weekly cohort retention: users grouped by the ISO week of their
    * FIRST event (the cohort), counted in every subsequent week they
    * were active — (cohort, week_offset, n_users), offset 0 = the
    * cohort week itself. The churn/health read-out over any
    * (user, ts) activity stream; integer week arithmetic
    * (datediff div 7 on Monday-truncated dates), so the table is
    * bit-deterministic and oracle-checkable.
    *
    * Scale shape: one per-user min aggregate, one distinct over
    * (user, week), one broadcast-gated join on the measured user
    * count, one counting aggregate — no windows.
    */
  def cohortRetention(df: DataFrame, user: Column,
                      ts: Column): DataFrame = {
    val ev = df.select(user.as("user"),
      to_date(date_trunc("week", ts)).as("wk"))
    val (firsts, nFirsts) = graft.operators.Checkpoints.stageCount(
      ev.groupBy(col("user")).agg(min(col("wk")).as("cohort")))
    val active = ev.distinct()
    active.join(Regime.gate(nFirsts)(firsts), Seq("user"))
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
