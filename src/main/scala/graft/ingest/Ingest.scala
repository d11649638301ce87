package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, struct}
import graft.model.{Location, Locations, Schemas}
import java.sql.Timestamp

/** Ingestion: fetch one payload per location, append one raw row each —
  * the reference's `fetch_and_write_data` asset
  * (`src/dagster_pipeline/defs/open_meteo.py:48-91,94-108`).
  *
  * The HTTP fetch sits behind a trait so tests (and this zero-egress
  * environment) inject fixture payloads; production wires an
  * `java.net.http.HttpClient` implementation with the reference's 60 s
  * timeout (`open_meteo.py:36`). At 3 locations a driver-side loop is
  * correct; at fan-out scale the same trait is called from
  * `Dataset[Location].mapPartitions` so fetches run on executors.
  */
trait SwellFetcher extends Serializable {
  /** Returns the raw JSON response body for (lat, lon) — stored verbatim,
    * like the reference's `json.dumps(raw)` (`open_meteo.py:57`).
    */
  def fetch(location: Location): String
}

/** Offline fetcher: deterministic fixture payload per location
  * (FIXTURES.md §2 shape).
  */
final class FixtureFetcher(payloadFor: Location => String) extends SwellFetcher {
  def fetch(location: Location): String = payloadFor(location)
}

/** Result metadata, mirroring the reference's `MaterializeResult`
  * (`open_meteo.py:83-91`).
  */
final case class IngestResult(location: String, rows: Long, table: String)

object Ingest {

  /** Build the raw append batch: one (now_utc, location, payload) row per
    * location (`open_meteo.py:73-76,106-108`).
    */
  def fetchBatch(
      spark: SparkSession,
      fetcher: SwellFetcher,
      locations: Seq[Location] = Locations.all,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())
  ): DataFrame = {
    val ts = now()
    val rows = locations.map(l => Row(ts, l.name, fetcher.fetch(l)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Schemas.raw)
  }

  /** Append sink (S5): idempotent table bootstrap + append, replacing the
    * reference's `CREATE TABLE IF NOT EXISTS` + `INSERT`
    * (`open_meteo.py:62-76`). Parquet-backed catalog table, not
    * partitioned: each append adds files to the one table directory, and
    * every reader (the nightly refresh included) scans all of them.
    *
    * The per-location row counts are observed on the append job itself
    * (Observation metrics ride its task results), so the batch runs once.
    * A batch holds one row per fetched location, so the collected list
    * is as long as the batch; the struct wrap keeps a null location
    * counted, as `groupBy` would. An empty batch yields no results.
    */
  def append(spark: SparkSession, batch: DataFrame,
             table: String = "raw.swell_data"): Seq[IngestResult] = {
    val db = table.split('.').head
    if (!spark.catalog.databaseExists(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val obs = Observation()
    batch.observe(obs, collect_list(struct(col("location"))).as("locations"))
      .write.mode(SaveMode.Append).saveAsTable(table)
    obs.get("locations").asInstanceOf[Seq[Row]].groupBy(_.getString(0))
      .map { case (l, rows) => IngestResult(l, rows.size.toLong, table) }
      .toSeq
  }

  def run(spark: SparkSession, fetcher: SwellFetcher): Seq[IngestResult] =
    append(spark, fetchBatch(spark, fetcher))
}
