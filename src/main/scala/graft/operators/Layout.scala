package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout maintenance — the operational side of a 100 TB
  * table that query operators depend on but don't manage:
  *
  *  - **Small-file compaction.** Streaming/incremental appends produce
  *    files per micro-batch per partition; scans then pay a task per
  *    tiny file and the driver pays listing/footer costs. Compaction
  *    rewrites a table (or one partition of it) into ~target-sized
  *    files.
  *  - **Clustered rewrite.** Sorting each output file by high-
  *    selectivity columns tightens parquet row-group min/max ranges,
  *    so predicate pushdown skips whole row groups — the poor man's
  *    Z-order, and the right layout for time-range or key-range scans.
  *
  * Both are full rewrites of the affected partition only — pair with
  * partitioned tables so maintenance is incremental per partition.
  */
object Layout {

  /** Ensure a compute-heavy narrow stage downstream runs with at least
    * the session's default parallelism. A scan of a few small files —
    * or one small file: a single parquet row group is unsplittable —
    * yields fewer partitions than cores, and a per-row-expensive
    * operator over it (n-gram/trigram expansion, decode) then
    * serializes on one task while the rest of the cluster idles. When
    * the input already has >= defaultParallelism partitions (any real
    * at-scale scan: 100 TB is hundreds of thousands of splits), this
    * is a NO-OP — the conditional repartition only ever fires on
    * small inputs, where the shuffle it adds is by construction cheap.
    */
  def fanOutSmallScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** A clustered store layout, declared once: the columns a store's
    * files hold and the integer cluster key (one column or a pair)
    * they are range-partitioned and sorted by — the key its footer
    * manifest prunes on ([[Stats.touchedFiles]]). Each store's writes
    * and its pruned read derive from the declaration: a flat store
    * (base write, append) or a `batch=`/`gen=` store (batch append;
    * the streaming gates add compaction and a tombstone-aware slice).
    */
  private[graft] final case class Clustered(cols: Seq[String],
                                            key: Seq[String]) {
    /** `rows` projected to `cols` in `files` range-partitioned,
      * key-sorted partitions — one output file each.
      */
    def laidOut(rows: DataFrame, files: Int): DataFrame =
      rows.select(cols.map(col): _*)
        .repartitionByRange(files, key.map(col): _*)
        .sortWithinPartitions(key.map(col): _*)

    /** Write `rows` as the flat store at `dir`, replacing it, and its
      * manifest from scratch ([[Stats.writeManifest]]).
      */
    def write(rows: DataFrame, dir: String, manifestPath: String,
              files: Int): Unit = {
      laidOut(rows, files).write.mode(SaveMode.Overwrite).parquet(dir)
      Stats.writeManifest(rows.sparkSession, dir, manifestPath)
    }

    /** Append `rows` to the flat store at `dir`; the manifest refresh
      * reads footers only for the new files ([[Stats.refreshManifest]]).
      * Appends accumulate one file set each — fold them with
      * [[Layout.compact]] on `key` on the cadence listing cost
      * warrants.
      */
    def append(rows: DataFrame, dir: String, manifestPath: String,
               files: Int): Unit = {
      laidOut(rows, files).write.mode(SaveMode.Append).parquet(dir)
      Stats.refreshManifest(rows.sparkSession, dir, manifestPath)
    }

    /** Write `rows` as `<root>/batch=<batchId>` (overwrite-idempotent:
      * a retry rewrites the same dir), then write that dir's manifest
      * slice only ([[Stats.upsertManifestFor]] — no listing of the rest
      * of the store).
      */
    def appendBatch(rows: DataFrame, root: String, manifestPath: String,
                    batchId: Long, files: Int): Unit = {
      val dir = s"$root/batch=$batchId"
      laidOut(rows, files).write.mode(SaveMode.Overwrite).parquet(dir)
      Stats.upsertManifestFor(rows.sparkSession, root, manifestPath, dir)
    }

    /** The store's rows (projected to `cols`) in only the files of
      * `dirs` that `probes` (a frame carrying the key) can live in
      * ([[Stats.readTouched]]): a file-granular superset, so callers
      * keep their row filters.
      */
    def touched(dirs: Seq[String], manifestPath: String,
                probes: DataFrame): DataFrame =
      Stats.readTouched(probes.sparkSession, dirs, manifestPath, key,
        probes).select(cols.map(col): _*)
  }

  /** Banded MinHash signatures, clustered by (band, bucket). */
  private[graft] val BandedSigs = Clustered(
    Seq("band", "bucket", "id", "sig"), Seq("band", "bucket"))
  /** Unexpanded embedding LSH codes, clustered by (table, bucket). */
  private[graft] val CodeBuckets = Clustered(
    Seq("id", "table", "bucket"), Seq("table", "bucket"))
  /** Perceptual-hash windows (image/audio), clustered by (w, wk). */
  private[graft] val MediaWindows = Clustered(
    Seq("w", "wk", "id", "dhash"), Seq("w", "wk"))
  /** Video frame hashes, clustered by fh. */
  private[graft] val VideoFrames = Clustered(Seq("fh", "id"), Seq("fh"))
  /** Content-defined window fingerprints, clustered by fp. */
  private[graft] val WindowFps = Clustered(Seq("fp", "id"), Seq("fp"))
  /** The ER entity dictionary, clustered by blkh. */
  private[graft] val Entities = Clustered(Seq("blkh", "eid", "nm"),
    Seq("blkh"))

  /** Rewrite `sourceDir`'s parquet data into `destDir` as ~`filesOut`
    * files of row-count-balanced size, each internally sorted by
    * `clusterBy` (empty = no sort). Returns the rewritten row count.
    *
    * repartitionByRange on the cluster key (falls back to a plain
    * round-robin repartition when no key is given) + sortWithinPartitions
    * gives one task per output file with globally range-clustered,
    * locally sorted data — max row-group skipping on later scans.
    */
  def compact(spark: SparkSession, sourceDir: String, destDir: String,
              filesOut: Int, clusterBy: Seq[String] = Nil): Long = {
    val in = spark.read.parquet(sourceDir)
    val shaped =
      if (clusterBy.nonEmpty)
        in.repartitionByRange(filesOut, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else in.repartition(filesOut)
    // Row count observed ON the write job itself (Observation metrics
    // ride the task results) — a maintenance job must not pay a second
    // full scan of the data it just rewrote.
    val obs = org.apache.spark.sql.Observation()
    shaped.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(destDir)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Z-order clustered rewrite: like [[compact]] with `clusterBy`, but
    * clustering on the Morton interleave of SEVERAL columns at once —
    * each output file covers a small hyper-rectangle of the
    * (col₁, …, colₖ) space, so parquet min/max row-group stats prune
    * scans filtered on ANY of the columns (a linear sort only tightens
    * its leading column; the others span the full range per file).
    * The poor man's Delta `OPTIMIZE ZORDER BY`, as plain operators.
    *
    * Columns are min/max-normalized to [0, 2^bits) with one small
    * driver-side aggregate (O(k) values), then interleaved by the
    * native ZOrderExpr; the write is range-partitioned and sorted by
    * the z-value.
    */
  def compactZOrder(spark: SparkSession, sourceDir: String,
                    destDir: String, filesOut: Int, cols: Seq[String],
                    bits: Int = 16): Long = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      "compactZOrder: need k*bits <= 63")
    val in = spark.read.parquet(sourceDir)
    // one tiny aggregate: (min, max) per column, positions 2i / 2i+1
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = in.agg(aggs.head, aggs.tail: _*).head
    val top = (1L << bits) - 1
    val zInputs = cols.zipWithIndex.map { case (c, i) =>
      // empty input or an all-null/non-castable column yields null
      // min/max — fail with the column name instead of NPEing the
      // maintenance job mid-write
      require(!stats.isNullAt(2 * i) && !stats.isNullAt(2 * i + 1),
        s"compactZOrder: z-order column '$c' has no non-null numeric " +
          "values (empty source or all-null column); use compact() for " +
          "layouts without cluster stats")
      val mn = stats.getDouble(2 * i)
      val mx = stats.getDouble(2 * i + 1)
      val range = math.max(mx - mn, 1e-12)
      least(lit(top), greatest(lit(0L),
        floor((col(c).cast("double") - mn) / range * top).cast("long")))
    }
    val z = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.ZOrderExpr(
        zInputs.map(org.apache.spark.sql.GraftSqlBridge.toExpression),
        bits))
    val obs = org.apache.spark.sql.Observation()
    in.withColumn("__z", z)
      .repartitionByRange(filesOut, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(destDir)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Write `df` as a bucketed (and per-bucket sorted) external parquet
    * table — the storage layout that makes REPEATED fact⋈fact joins on
    * the same key shuffle-free: both sides pre-hashed into `buckets`
    * files at write time, so every later join or aggregation keyed on
    * `bucketCols` reads co-located data and Catalyst plans NO Exchange
    * (and, with `sortCols` = the join key, no Sort either). At 100 TB
    * this converts the dominant per-run cost of a recurring pipeline —
    * re-shuffling the whole fact table — into a one-time write cost.
    *
    * The input is first repartitioned by the bucket expressions with
    * modulus = bucket count — exactly the bucket hash — so each bucket
    * lands in ONE file; single-file buckets are what lets the scan
    * surface its `sortBy` order and the downstream sort-merge join skip
    * its sorts (reading that order back additionally requires
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, off by
    * default since Spark 3.0 because multi-file buckets would make it
    * wrong — this writer's one-file-per-bucket layout is exactly the
    * case it is safe for; exchange elimination needs no flag).
    *
    * The table is EXTERNAL (data at `path`); bucket metadata lives only
    * in the catalog, so reads must go through [[readBucketed]] /
    * `spark.table` — a raw `spark.read.parquet(path)` of the same files
    * silently loses the layout (and with it the exchange elimination).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, bucketCols: Seq[String],
                    sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: need >= 1 bucket column")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val aligned = df.repartition(buckets, bucketCols.map(col): _*)
    val base = aligned.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val w =
      if (sortCols.nonEmpty) base.sortBy(sortCols.head, sortCols.tail: _*)
      else base
    w.saveAsTable(table)
  }

  /** Catalog read of a bucketed table. Bucket layout flows only through
    * catalog metadata — this is the read path that pairs with
    * [[writeBucketed]].
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Append a batch into an existing bucketed table (continuous
    * ingestion). Spark validates the incoming bucket spec against the
    * catalog's — `buckets`/`bucketCols`/`sortCols` must match the
    * creating [[writeBucketed]] call EXACTLY (a sortBy mismatch is an
    * AnalysisException) — so the layout, and every downstream
    * shuffle-free join, survives appends; each append adds one file
    * per non-empty bucket, which costs the SORTED-scan property
    * (multi-file buckets), so run [[writeBucketed]] as a compaction
    * rewrite on the cadence sort elimination is worth it.
    */
  def appendBucketed(df: DataFrame, table: String,
                     buckets: Int, bucketCols: Seq[String],
                     sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "appendBucketed: need >= 1 bucket column")
    val aligned = df.repartition(buckets, bucketCols.map(col): _*)
    val base = aligned.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val w =
      if (sortCols.nonEmpty) base.sortBy(sortCols.head, sortCols.tail: _*)
      else base
    w.saveAsTable(table)
  }

  /** Data-file count of a parquet directory (what a scan pays for).
    * Listed through the Hadoop FileSystem of the path's scheme, so it
    * works against HDFS/object stores, not just the local FS.
    */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) 0
    else fs.listStatus(path)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        f.getLen > 0)
  }
}
