package graft

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.{JobTags, ListenerBusDrain, SparkThrowable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ingest.{FixtureFetcher, Ingest}
import graft.model.Schemas
import graft.pipeline.{PlanLint, Runner, SwellPipeline}

/** The nightly path's contract and work count: the `not_null(dt,
  * location)` check runs inside the refresh write, the ingest counts ride
  * the append job, a full rebuild can be followed by nightly refreshes,
  * and a failed refresh or rebuild leaves the contract table as it was.
  */
class NightlyRefreshSpec extends SparkSuite {

  /** An Open-Meteo-shaped payload; `None` is a JSON `null` hour. */
  def payload(hours: (Option[String], Double)*): String = {
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    val time = arr(hours.map(_._1.fold("null")(t => "\"" + t + "\"")))
    val metric = arr(hours.map(_ => "1.0"))
    val swell = arr(hours.map(_._2.toString))
    s"""{"hourly": {"time": $time, "wave_height": $metric,
       |"wave_direction": $metric, "wind_wave_direction": $metric,
       |"swell_wave_height": $swell, "swell_wave_direction": $metric,
       |"swell_wave_period": $metric}}""".stripMargin
  }

  val day10 = payload(Some("2026-08-10T00:00") -> 1.1,
    Some("2026-08-10T01:00") -> 1.3, Some("2026-08-11T00:00") -> 0.8)
  val day11 = payload(Some("2026-08-11T03:00") -> 2.5,
    Some("2026-08-12T00:00") -> 0.5)

  /** `Schemas.raw` with a nullable `location`, to plant a contract break. */
  val nullableRaw = StructType(Schemas.raw.map(f =>
    if (f.name == "location") f.copy(nullable = true) else f))

  def rawDf(rows: (String, String, String)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (ts, loc, d) => Row(Timestamp.valueOf(ts), loc, d) },
      1), nullableRaw)

  def reset(tables: String*): Unit = {
    Seq("raw", "presentation").foreach(db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  def tableDir(table: String): File = new File(new java.net.URI(
    spark.sql(s"DESCRIBE FORMATTED $table")
      .where(col("col_name") === "Location").select("data_type")
      .head.getString(0)))

  /** Every file under the table dir: relative path → (size, mtime). */
  def files(table: String): Map[String, (Long, Long)] = {
    val root = tableDir(table)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString ->
      (f.length(), f.lastModified())).toMap
  }

  def rows(table: String): Set[Row] = {
    val cols = SwellPipeline.full(rawDf()).columns.toSeq
    spark.table(table).select(cols.map(col): _*).collect().toSet
  }

  def notNullMessage(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
      Option(t.getMessage).exists(_.contains(
        "not_null violated on dt,location")))

  test("a full rebuild (Runner.runAll) is followed by a nightly refresh " +
      "(Runner.runIncremental) that equals the full pipeline over raw") {
    reset("raw.swell_data", "presentation.daily_max_swell")
    try {
      Runner.runAll(spark, new FixtureFetcher(_ => day10))
      val pres = "presentation.daily_max_swell"
      assert(spark.catalog.listColumns(pres).collect()
        .exists(c => c.isPartition && c.name == "dt"))
      Runner.runIncremental(spark, new FixtureFetcher(_ => day11))
      assert(rows(pres) ==
        SwellPipeline.full(spark.table("raw.swell_data")).collect().toSet)
      assert(rows(pres).size == 9) // 3 locations × 08-10, 08-11, 08-12
      val docs = spark.catalog.listColumns(pres).collect()
        .map(c => c.name -> Option(c.description)).toMap
      SwellPipeline.contractDocs.foreach { case (c, doc) =>
        assert(docs.get(c).flatten.contains(doc), s"col $c")
      }
    } finally reset("raw.swell_data", "presentation.daily_max_swell")
  }

  test("a batch hour with a JSON null time fails the refresh as it fails " +
      "runAll; the contract table's rows and files stay unchanged") {
    val (rawT, presT) = ("raw.nr_null_time", "presentation.nr_null_time")
    reset(rawT, presT)
    val b1 = rawDf(("2026-08-12 00:00:00", "Tamarack", day10))
    b1.write.mode("append").saveAsTable(rawT)
    SwellPipeline.runIncremental(spark, b1, rawT, presT)
    val (rowsBefore, filesBefore) = (rows(presT), files(presT))
    val bad = rawDf(("2026-08-13 00:00:00", "Tamarack",
      payload(Some("2026-08-11T05:00") -> 3.0, None -> 4.0)))
    bad.write.mode("append").saveAsTable(rawT)
    // the full rebuild's pre-write check rejects the same raw
    val rebuild = intercept[IllegalArgumentException](SwellPipeline
      .requireNotNull(SwellPipeline.full(spark.table(rawT)),
        Seq("dt", "location")))
    assert(notNullMessage(rebuild))
    val refresh = intercept[Exception](
      SwellPipeline.runIncremental(spark, bad, rawT, presT))
    assert(notNullMessage(refresh), refresh.toString)
    assert(rows(presT) == rowsBefore)
    assert(files(presT) == filesBefore)
  }

  test("a null location fails the fused refresh write: every dt= " +
      "partition keeps its files, sizes and mtimes") {
    val (rawT, presT) = ("raw.nr_null_loc", "presentation.nr_null_loc")
    reset(rawT, presT)
    val b1 = rawDf(("2026-08-12 00:00:00", "Tamarack", day10))
    b1.write.mode("append").saveAsTable(rawT)
    SwellPipeline.runIncremental(spark, b1, rawT, presT)
    val (rowsBefore, filesBefore) = (rows(presT), files(presT))
    assert(filesBefore.keys.exists(_.startsWith("dt=2026-08-11")))
    // the null-location row reaches raw outside the nightly path; the
    // next night's slice over 08-11 picks it up and the write aborts
    rawDf(("2026-08-13 00:00:00", null, day11))
      .write.mode("append").saveAsTable(rawT)
    val b2 = rawDf(("2026-08-13 00:00:00", "Tamarack", day11))
    b2.write.mode("append").saveAsTable(rawT)
    val e = intercept[Exception](
      SwellPipeline.runIncremental(spark, b2, rawT, presT))
    assert((e match {
      case t: SparkThrowable => t.getCondition
      case _ => e.getClass.getName
    }) == "USER_RAISED_EXCEPTION", e.toString)
    assert(notNullMessage(e), e.toString)
    assert(rows(presT) == rowsBefore)
    assert(files(presT) == filesBefore)
    // a batch that itself carries the null location fails the same way
    val b3 = rawDf(("2026-08-14 00:00:00", null, day11))
    assert(notNullMessage(intercept[Exception](
      SwellPipeline.runIncremental(spark, b3, rawT, presT))))
    assert(files(presT) == filesBefore)
  }

  test("a failing first-night create leaves no table, and the next " +
      "clean create succeeds") {
    val (rawT, presT) = ("raw.nr_first", "presentation.nr_first")
    reset(rawT, presT)
    val bad = rawDf(("2026-08-12 00:00:00", null, day10))
    bad.write.mode("append").saveAsTable(rawT)
    val e = intercept[Exception](
      SwellPipeline.runIncremental(spark, bad, rawT, presT))
    assert(notNullMessage(e), e.toString)
    assert(!spark.catalog.tableExists(presT))
    spark.sql(s"DROP TABLE $rawT")
    val good = rawDf(("2026-08-12 00:00:00", "Tamarack", day10))
    good.write.mode("append").saveAsTable(rawT)
    SwellPipeline.runIncremental(spark, good, rawT, presT)
    assert(rows(presT) == SwellPipeline.full(good).collect().toSet)
  }

  test("a failing runAll keeps the previous contract table") {
    val pres = "presentation.daily_max_swell"
    reset("raw.swell_data", pres)
    try {
      Ingest.run(spark, new FixtureFetcher(_ => day10))
      SwellPipeline.runAll(spark)
      val (rowsBefore, filesBefore) = (rows(pres), files(pres))
      rawDf(("2026-08-13 00:00:00", null, day11))
        .write.mode("append").saveAsTable("raw.swell_data")
      val e = intercept[IllegalArgumentException](SwellPipeline.runAll(spark))
      assert(notNullMessage(e))
      assert(rows(pres) == rowsBefore)
      assert(files(pres) == filesBefore)
    } finally reset("raw.swell_data", pres)
  }

  /** Jobs `body` started (those carrying its job tag) and plans
    * executed while it runs.
    */
  def traced(body: => Unit): (Int, Seq[QueryExecution]) = {
    val jobs = new AtomicInteger
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val tag = s"nightly-traced-${java.util.UUID.randomUUID()}"
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (JobTags.of(e).contains(tag)) jobs.incrementAndGet(): Unit
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe): Unit
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = qes.add(qe): Unit
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addJobTag(tag)
    try body
    finally {
      spark.sparkContext.removeJobTag(tag)
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    import scala.jdk.CollectionConverters._
    (jobs.get, qes.asScala.toSeq)
  }

  test("work count: a refresh on an existing table scans raw once; " +
      "Ingest.append runs one job") {
    val (rawT, presT) = ("raw.nr_work", "presentation.nr_work")
    reset(rawT, presT)
    val b1 = rawDf(("2026-08-12 00:00:00", "Tamarack", day10))
    Ingest.append(spark, b1, rawT)
    SwellPipeline.runIncremental(spark, b1, rawT, presT)
    val b2 = rawDf(("2026-08-13 00:00:00", "Tamarack", day11),
      ("2026-08-13 00:00:00", "Oside_pier", day11))
    val (appendJobs, _) = traced(Ingest.append(spark, b2, rawT))
    assert(appendJobs == 1)
    val (_, qes) = traced(SwellPipeline.runIncremental(spark, b2, rawT, presT))
    val rawScans = qes.flatMap(qe => PlanLint.nodes(qe.executedPlan))
      .collect { case s: FileSourceScanExec => s.tableIdentifier }
      .count(_.exists(_.table == "nr_work"))
    assert(rawScans == 1, qes.map(_.executedPlan.treeString).mkString("\n"))
    assert(rows(presT) == SwellPipeline.full(spark.table(rawT)).collect().toSet)
  }

  test("Ingest.append counts rows per location from the append job; " +
      "an empty batch returns no results without blocking") {
    val rawT = "raw.nr_counts"
    reset(rawT)
    def append(batch: DataFrame) =
      Await.result(Future(Ingest.append(spark, batch, rawT)), 2.minutes)
    val res = append(rawDf(("2026-08-12 00:00:00", "Tamarack", day10),
      ("2026-08-12 00:00:00", "Oside_pier", day10),
      ("2026-08-12 00:00:00", "Tamarack", day11)))
    assert(res.map(r => r.location -> r.rows).toMap ==
      Map("Tamarack" -> 2L, "Oside_pier" -> 1L))
    assert(res.forall(_.table == rawT))
    assert(append(rawDf()).isEmpty)
    assert(spark.table(rawT).count() == 3)
  }
}
