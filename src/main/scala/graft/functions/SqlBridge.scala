package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ↔ Expression converters —
  * the standard hook point for Spark-native extension libraries that
  * define custom Catalyst expressions (Spark 4 moved classic Column
  * internals behind org.apache.spark.sql.classic).
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Idempotently add a planner strategy to a live session (the
    * config-time path is SparkSessionExtensions / GraftExtensions). */
  def ensureStrategy(spark: SparkSession,
                     s: execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Checkpoint (local or reliable) PRESERVING the materialized
    * partitioning/ordering metadata. `Dataset.checkpoint` tries to
    * carry the executed plan's outputPartitioning into the resulting
    * LogicalRDD (LogicalRDD.fromDataset), but under AQE the executed
    * plan is an AdaptiveSparkPlanExec, whose outputPartitioning is the
    * LeafExecNode default `UnknownPartitioning(0)` — so every staged
    * round of an iterative operator forgets that it was just hash-
    * partitioned, and the next round's aggregate/join re-exchanges
    * rows that are already laid out correctly. This helper re-wraps
    * the checkpointed Dataset with the FINAL physical plan's
    * partitioning (attributes rewritten positionally onto the new
    * LogicalRDD output, exactly the rewrite fromDataset itself does),
    * so a `repartition(k)` staged before an iterative loop makes every
    * round's groupBy(k)/join(k) exchange-free.
    *
    * Safety: the metadata is read from the SAME executed plan whose
    * rows the checkpoint materialized, so it describes the true
    * physical layout; if any partitioning/ordering expression
    * references an attribute outside the plan's output, that piece
    * degrades to Unknown/empty rather than guessing. Statistics are
    * re-derived from the origin's optimized plan like fromDataset.
    */
  /** A/B escape (the SPARK_GRAFT_FREE pattern): disable the
    * partitioning re-attach and return the plain checkpoint — used by
    * controlled before/after runs and plan dumps only.
    */
  private lazy val plainStage: Boolean =
    sys.env.get("SPARK_GRAFT_STAGE_PLAIN").exists(_.toBoolean)

  def stagePreservingPartitioning(df: Dataset[_],
                                  reliable: Boolean): DataFrame = {
    import catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
    import catalyst.plans.physical.{Partitioning, UnknownPartitioning}
    val cds = df.asInstanceOf[classic.Dataset[_]]
    val ckpt =
      (if (reliable) cds.checkpoint() else cds.localCheckpoint())
        .asInstanceOf[classic.Dataset[_]]
    if (plainStage) return ckpt.toDF()
    try {
      val lr = ckpt.queryExecution.analyzed match {
        case l: execution.LogicalRDD => l
        case _ => return ckpt.toDF()
      }
      val finalPlan = cds.queryExecution.executedPlan match {
        case a: execution.adaptive.AdaptiveSparkPlanExec =>
          a.finalPhysicalPlan
        case p => p
      }
      if (finalPlan.outputPartitioning
          .isInstanceOf[UnknownPartitioning])
        return ckpt.toDF() // nothing to preserve
      val attrMap: AttributeMap[Attribute] =
        AttributeMap(finalPlan.output.zip(lr.output))
      def rewrite[T <: Expression](e: T): Option[T] =
        if (e.references.forall(attrMap.contains))
          Some(e.transform { case a: Attribute => attrMap(a) }
            .asInstanceOf[T])
        else None
      val newPart: Partitioning = finalPlan.outputPartitioning match {
        case e: Expression with Partitioning =>
          rewrite(e).getOrElse(UnknownPartitioning(e.numPartitions))
        case p => p // SinglePartition and friends carry no attributes
      }
      val ords = finalPlan.outputOrdering.map(o => rewrite[SortOrder](o))
      val newOrd: Seq[SortOrder] =
        if (ords.forall(_.isDefined)) ords.flatten else Nil
      // statistics: same rewrite fromDataset applies to the origin's
      // optimized-plan stats (size/row estimates feed join planning)
      val optimized = cds.queryExecution.optimizedPlan
      val statMap: AttributeMap[Attribute] =
        AttributeMap(optimized.output.zip(lr.output))
      val stats = {
        val s = optimized.stats
        catalyst.plans.logical.Statistics(s.sizeInBytes, s.rowCount,
          AttributeMap(s.attributeStats.toSeq.map { case (a, c) =>
            statMap.getOrElse(a, a) -> c }),
          s.isRuntime)
      }
      val newLr = execution.LogicalRDD(lr.output, lr.rdd, newPart,
        newOrd, lr.isStreaming, lr.getStream)(
        cds.sparkSession.asInstanceOf[classic.SparkSession],
        Some(stats), None)
      classic.Dataset.ofRows(
        cds.sparkSession.asInstanceOf[classic.SparkSession], newLr)
    } catch {
      case scala.util.control.NonFatal(_) => ckpt.toDF()
    }
  }

  /** Release the storage behind a checkpointed Dataset (local OR
    * reliable). Iterative operators checkpoint per round to truncate
    * lineage; the superseded rounds must be freed or a long job leaks —
    * cached blocks fill the block manager (localCheckpoint caches the
    * RDD directly, so `Dataset.unpersist` — which only consults the
    * CacheManager — can't release it), and reliable checkpoints
    * accumulate one copy of the working set on DFS per round (the
    * PeriodicCheckpointer problem; its fix — delete superseded
    * checkpoint files — applied here).
    */
  /** RDD ids of the checkpoint(s) backing a staged Dataset — the
    * handle the bench harness uses to PIN memoized cross-query
    * artifacts while freeing everything else between queries.
    */
  def checkpointRddIds(df: Dataset[_]): Seq[Int] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.collect {
      case l: execution.LogicalRDD => l.rdd.id
    }

  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { p =>
          try {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(
              df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(path, true): Unit
          } catch { case _: java.io.IOException => } // best-effort
        }
      case _ =>
    }
}
