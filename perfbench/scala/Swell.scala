package graft.perfbench

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.ingest.{FixtureFetcher, Ingest}
import graft.model.{Location, Schemas}
import graft.pipeline.{Checks, SwellPipeline}

/** One hourly forecast row, as a location's payload carries it. */
final case class Hour(time: LocalDateTime, location: String,
                      metrics: Seq[Double]) {
  def swell: Double = metrics(3)
}

/** Seeded Open-Meteo-shaped payloads: `locations` spots, one payload
  * per spot per night, each covering 168 hours from the night's date,
  * so consecutive nights overlap on 6 of 7 days. A value is a function
  * of (seed, spot, hour) only, so an hour re-sent on a later night is
  * an exact duplicate. Swell heights take few distinct values, so a
  * day's maximum is often tied and the latest hour must win. One
  * payload per night is malformed (truncated JSON or a missing
  * `hourly.time`) and must drop out in staging.
  */
final class SwellGen(seed: Long, locations: Int) {
  val start: LocalDate = LocalDate.of(2026, 1, 1)
  val spots: Seq[Location] = (0 until locations).map(i =>
    Location(f"spot_$i%03d", 32.0 + i * 0.01, -117.0 - i * 0.01))

  private def unit(parts: Long*): Double = {
    val h = parts.foldLeft(seed * 0x9e3779b97f4a7c15L)((a, b) =>
      java.lang.Long.rotateLeft((a ^ b) * 0xbf58476d1ce4e5b9L, 29))
    ((h >>> 11) % 1000000L).toDouble / 1000000.0
  }

  def hours(night: Int, spot: Int): Seq[Hour] = {
    val from = start.plusDays(night.toLong).atStartOfDay()
    (0 until 168).map { h =>
      val t = from.plusHours(h.toLong)
      val k = t.toEpochSecond(ZoneOffset.UTC) / 3600
      val m = (0 until 6).map(j => math.floor(unit(spot, k, j) * 40) / 10.0)
      Hour(t, spots(spot).name, m.updated(3, math.floor(unit(spot, k, 3) * 6) / 2.0))
    }
  }

  /** 0 = valid, 1 = truncated JSON, 2 = no `hourly.time`: one seeded
    * spot per night is malformed, the kind alternating by night.
    */
  def malformed(night: Int, spot: Int): Int =
    if (spot != (unit(night.toLong, 99) * locations).toInt) 0
    else 1 + night % 2

  def payload(night: Int, spot: Int): String = {
    val hs = hours(night, spot)
    val l = spots(spot)
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    val series = Schemas.metricNames.zipWithIndex.map { case (n, j) =>
      s""""$n":${arr(hs.map(_.metrics(j).toString))}""" }
    val time = s""""time":${arr(hs.map(h => "\"" + SwellGen.fmt(h.time) + "\""))}"""
    val body = malformed(night, spot) match {
      case 2 => series
      case _ => time +: series
    }
    val json = s"""{"latitude":${l.lat},"longitude":${l.lon},"timezone":"GMT",""" +
      s""""hourly_units":{"time":"iso8601"},"hourly":{${body.mkString(",")}}}"""
    if (malformed(night, spot) == 1) json.take(json.length / 2) else json
  }

  /** Dates a night's valid payloads cover. */
  def touched(night: Int): Set[LocalDate] =
    (0 until locations).filter(malformed(night, _) == 0)
      .flatMap(hours(night, _).map(_.time.toLocalDate)).toSet
}

object SwellGen {
  private val F = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")
  def fmt(t: LocalDateTime): String = t.format(F)

  /** The daily arg-max computed in plain Scala: per (date, location)
    * the hour with the highest swell, ties to the latest hour; one
    * 9-field key per row in the contract table's column order.
    */
  def expected(hours: Iterable[Hour]): Set[Seq[String]] =
    hours.groupBy(h => (h.time.toLocalDate, h.location)).values.map { hs =>
      val best = hs.maxBy(h => (h.swell, h.time.toEpochSecond(ZoneOffset.UTC)))
      (best.time.toString +: best.location +: best.metrics.map(_.toString)) :+
        best.time.toLocalDate.toString
    }.toSet

  /** The contract table's rows, keyed like [[expected]]. */
  def rows(rows: Iterable[Row]): Set[Seq[String]] = rows.map { r =>
    val ts = r.getAs[java.sql.Timestamp]("timestamp").toInstant
      .atOffset(ZoneOffset.UTC).toLocalDateTime
    (ts.toString +: r.getAs[String]("location") +:
      Schemas.metricNames.map(m => r.getAs[Double](m).toString)) :+
      r.getAs[java.sql.Date]("dt").toLocalDate.toString
  }.toSet
}

/** The `swell_nightly` workload: the paper's own path. Each pass starts
  * from empty tables and runs 4 nights of 16 spots; a night (one op) is
  * FixtureFetcher → Ingest.fetchBatch → Ingest.append →
  * SwellPipeline.runIncremental. After each night the contract table is
  * compared with the plain-Scala arg-max of every valid payload so far.
  * The run ends with one SwellPipeline.runAll rebuild, which must give
  * the same table, and Checks.runAll.
  */
final class SwellNightly(ctx: Ctx) extends Workload {
  private val locations = 16
  private val nights = 4
  private val spark = ctx.spark
  private val gen = new SwellGen(ctx.seed, locations)
  private val raw = "raw.swell_data"
  private val pres = "presentation.daily_max_swell"
  private var payloads: Map[(Int, Int), String] = Map.empty
  private var expected: IndexedSeq[Set[Seq[String]]] = IndexedSeq.empty

  override def prepare(): Unit = {
    payloads = (for (n <- 0 until nights; s <- 0 until locations)
      yield (n, s) -> gen.payload(n, s)).toMap
    val acc = mutable.ArrayBuffer[Hour]()
    expected = (0 until nights).map { n =>
      (0 until locations).filter(gen.malformed(n, _) == 0)
        .foreach(s => acc ++= gen.hours(n, s))
      SwellGen.expected(acc)
    }
  }

  override def reset(p: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $pres")
    spark.sql(s"DROP TABLE IF EXISTS $raw")
  }

  private def table(): Set[Seq[String]] =
    SwellGen.rows(spark.table(pres).collect())

  private def night(n: Int): Unit = {
    val rec = ctx.rec
    val fetcher = new FixtureFetcher(l =>
      payloads((n, gen.spots.indexWhere(_.name == l.name))))
    val at = java.sql.Timestamp.valueOf(
      gen.start.plusDays(n.toLong).atTime(5, 0))
    val before = if (rec.traced) partitionFiles() else Map.empty[String, Set[String]]
    ctx.op("night", () => Check(table() == expected(n),
        s"night $n: contract table differs from the expected arg-max")) {
      val batch = rec.span("ingest.fetch")(
        Ingest.fetchBatch(spark, fetcher, gen.spots, () => at))
      val appended = rec.span("ingest.append")(Ingest.append(spark, batch, raw))
      Check(appended.map(_.rows).sum == locations,
        s"night $n appended ${appended.map(_.rows).sum} rows")
      rec.span("pipeline.refresh")(SwellPipeline.runIncremental(spark, batch))
    }
    if (rec.traced) {
      val after = partitionFiles()
      rec.gauge("pipeline.partitions_rewritten",
        after.count { case (k, v) => !before.get(k).contains(v) }.toDouble)
      rec.gauge("ingest.raw_rows", locations.toDouble)
      // raw payload rows whose hours reach a date this night refreshes
      val dates = gen.touched(n)
      rec.gauge("pipeline.useful_rows", (for (m <- 0 to n;
        s <- 0 until locations
        if gen.malformed(m, s) == 0 &&
          gen.hours(m, s).exists(h => dates(h.time.toLocalDate))) yield 1).sum.toDouble)
    }
  }

  def pass(p: Int): Unit = (0 until nights).foreach(night)

  override def finish(): Unit = {
    val rec = ctx.rec
    ctx.op("rebuild", () => Check(table() == expected.last,
        "rebuilt contract table differs from the incremental one")) {
      rec.span("pipeline.rebuild")(SwellPipeline.runAll(spark))
    }
    ctx.op("checks") {
      val t = spark.table(pres)
      rec.span("pipeline.checks")(Checks.runAll(Map(
        "not_null" -> Checks.notNull(t, Seq("dt", "location")),
        "unique" -> Checks.unique(t, Seq("dt", "location")),
        "accepted_location" ->
          Checks.acceptedValues(t, "location", gen.spots.map(_.name)))))
    }
  }

  /** dt partition dir -> its data file names, for the contract table. */
  private def partitionFiles(): Map[String, Set[String]] = {
    val dir = new java.io.File(s"${ctx.runDir}/warehouse/presentation.db/daily_max_swell")
    Option(dir.listFiles).toSeq.flatten.filter(_.getName.startsWith("dt="))
      .map(d => d.getName -> Option(d.listFiles).toSeq.flatten.map(_.getName)
        .filter(_.startsWith("part-")).toSet).toMap
  }
}
