package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump the PER-ROUND physical plans of the iterative graph operators
  * — the committed evidence that a round's vote/contribution path has
  * (or has not) an `Exchange` in the broadcast regime. The shipped
  * query's own explain covers only the final readout fragment of a
  * driver-side job loop; this tool taps the round driver's
  * [[graft.operators.Rounds]]`.probe` hook — every round any iterative
  * operator stages passes it, tagged by the driver — to capture the
  * FIRST occurrence of each distinct round tag while the query actually
  * runs.
  *
  * Usage: runMain graft.tools.RoundPlanDump <outDir> <suffix> <q1,...>
  * writes <outDir>/<query>__<tag>_<suffix>.txt per (query, tag). A
  * query that fails writes nothing for that query, and the tool exits
  * non-zero once every query has been tried.
  * Session mirrors Bench's (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, extensions) so captured plans are the
  * benched plans. Local tool, not a driver surface.
  */
object RoundPlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir)): Unit
    val failed = names.filterNot { name =>
      val seen = scala.collection.mutable.Map.empty[String, String]
      graft.operators.Rounds.probe = Some { (tag, df) =>
        if (!seen.contains(tag)) {
          // execute the fragment first so the captured plan is the
          // FINAL adaptive plan (AQE runtime join rewrites included),
          // not the isFinalPlan=false initial guess — round fragments
          // are fixture-sized, the extra execution is milliseconds
          df.collect(): Unit
          seen(tag) = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
      }
      val ok =
        try {
          val fn = graft.SparkEntry.queries(name)
          fn(spark, sfDir).count(): Unit
          true
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[roundplan] $name failed: $e")
          false
        } finally {
          graft.operators.Rounds.probe = None
          graft.operators.Checkpoints.freeTransient(spark)
        }
      if (ok) seen.foreach { case (tag, plan) =>
        val f = s"${name}__${tag}_$suffix.txt"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, f),
          plan.getBytes("UTF-8")): Unit
        println(s"wrote $outDir/$f")
      }
      ok
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[roundplan] ${failed.length} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
