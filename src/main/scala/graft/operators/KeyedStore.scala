package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One incremental keyed store on the shared `gen=`/`batch=` protocol —
  * the module every graph store family declares its store(s) through,
  * so the layout, the fold and the manifest policy live here once.
  *
  * Layout: appends land in `<root>/batch=<id>`, superseding rebuilds
  * and compaction folds in `<root>/gen=<tok>` ([[Stats
  * .committedViewDirs]] resolves the committed view). Every row carries
  * the batch that wrote it in `__b`. Files are range-partitioned on
  * `cluster` (default: the key) and sorted on `cluster ++ key` within
  * each file, so a key's rows sit in few files. With `manifest` on, a
  * sibling footer manifest `<root>_manifest` — outside the root, so
  * its own parquet never pollutes the store's recursive listings —
  * lets probes open only the files a key set can live in.
  *
  * Reads open the committed view under the family's schema guard
  * ([[Stats.openCommittedStore]] named `name`) and fold it per key
  * with `fold`; a view "before batch b" reads only rows with
  * `__b` < b, which is both the retry-stable prior state of an append
  * and the as-of snapshot read.
  *
  * Every mutating verb runs under the writer lease on `leaseRoot` (the
  * family root; default `root`). The lease is reentrant, so a family
  * verb that already holds it — a two-store write, or an incremental
  * operator's whole compute — pays nothing for the inner claim.
  */
private[graft] final case class KeyedStore(
    root: String,
    name: String,
    key: Seq[(String, String)],
    values: Seq[(String, String)],
    fold: KeyedStore.Fold,
    cluster: Seq[String] = Nil,
    manifest: Boolean = true,
    leaseRoot: String = "") {
  import KeyedStore._

  require(fold match {
    case NewestWins => values.nonEmpty
    case MinValue => values.size == 1
    case Membership | EarliestBatch => values.isEmpty
  }, s"$name: fold $fold does not fit values $values")

  private val keyNames: Seq[String] = key.map(_._1)
  private val keyCols: Seq[Column] = keyNames.map(col)
  private val valueNames: Seq[String] = values.map(_._1)
  private val clusterNames: Seq[String] =
    if (cluster.isEmpty) keyNames else cluster
  private val manifestPath: String = root.stripSuffix("/") + "_manifest"

  /** Run `body` holding the family's writer lease. */
  def leased[T](spark: SparkSession, owner: String)(body: => T): T =
    Stats.withWriterLease(spark,
      Seq(if (leaseRoot.isEmpty) root else leaseRoot), owner)(body)

  // the store's file layout: `parts` files range-partitioned on the
  // cluster key, each sorted on cluster ++ key
  private def laidOut(rows: DataFrame, parts: Int): DataFrame =
    rows.repartitionByRange(parts, clusterNames.map(col): _*)
      .sortWithinPartitions((clusterNames ++ keyNames).distinct.map(col): _*)

  // the declared columns tagged with batch `b`, laid out into `dir`
  private def write(rows: DataFrame, b: Long, parts: Int,
                    dir: String): Unit =
    laidOut(rows.select(keyCols ++ valueNames.map(col) :+
        lit(b).as("__b"): _*), parts)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/$dir")

  private def refreshManifest(spark: SparkSession): Unit =
    if (manifest) Stats.upsertManifest(spark, root, manifestPath)

  /** Write `rows` as the store's base, `batch=0`. */
  def writeBase(spark: SparkSession, owner: String, filesOut: Int)
               (rows: => DataFrame): Unit =
    leased(spark, owner) {
      write(rows, 0L, filesOut, "batch=0")
      refreshManifest(spark)
    }

  /** The next generation token above every committed dir of this store
    * and `siblings` (stores written as one family).
    */
  def supersedingToken(spark: SparkSession,
                       siblings: KeyedStore*): Long =
    Stats.supersedingToken(spark, (this +: siblings).map(_.root))

  /** Write `rows` as generation `tok`, which hides every earlier batch
    * and generation in the committed view at once.
    */
  def writeGen(spark: SparkSession, owner: String, tok: Long,
               filesOut: Int)(rows: => DataFrame): Unit =
    leased(spark, owner) {
      write(rows, tok, filesOut, s"gen=$tok")
      refreshManifest(spark)
    }

  /** Rebuild the store from `rows` as a superseding generation; returns
    * its token.
    */
  def supersede(spark: SparkSession, owner: String, filesOut: Int)
               (rows: => DataFrame): Long =
    leased(spark, owner) {
      val tok = supersedingToken(spark)
      writeGen(spark, owner, tok, filesOut)(rows)
      tok
    }

  /** An append operation: `body` runs under the lease once `batchId` is
    * checked to be above the base and on the monotone sequence of this
    * store and `siblings` ([[Stats.requireMonotoneBatch]]).
    */
  def appending[T](spark: SparkSession, batchId: Long, who: String,
                   siblings: KeyedStore*)(body: => T): T =
    leased(spark, s"$who(batch)") {
      require(batchId >= 1L, s"$who: batchId 0 is the store's base")
      Stats.requireMonotoneBatch(spark, (this +: siblings).map(_.root),
        batchId, who)
      body
    }

  /** Append `rows` as `batch=<batchId>` in `parts` files
    * (overwrite-idempotent: a retry rewrites the same dir). The
    * manifest is upserted for the new dir unless `indexed` is false —
    * a stale manifest is sound, uncovered files always read.
    */
  def append(spark: SparkSession, owner: String, batchId: Long,
             parts: Int, indexed: Boolean = true)(rows: DataFrame): Unit =
    leased(spark, owner) {
      write(rows, batchId, parts, s"batch=$batchId")
      if (manifest && indexed)
        Stats.upsertManifestFor(spark, root, manifestPath,
          s"$root/batch=$batchId")
    }

  // the committed view's raw rows, schema-guarded
  private def open(spark: SparkSession): DataFrame =
    Stats.openCommittedStore(spark, root,
      key ++ values :+ ("__b" -> "bigint"), name)

  /** Fold raw store rows written before `beforeBatch` to one view row
    * per key (key and value columns, no `__b`).
    */
  def foldRows(raw: DataFrame, beforeBatch: Long): DataFrame = {
    val rows = raw.where(col("__b") < beforeBatch)
    fold match {
      case NewestWins =>
        newest(rows).select(keyCols ++ valueNames.map(v =>
          col(s"m.$v").as(v)): _*)
      case MinValue =>
        rows.groupBy(keyCols: _*)
          .agg(min(col(valueNames.head)).as(valueNames.head))
      case Membership | EarliestBatch =>
        rows.select(keyCols: _*).distinct()
    }
  }

  private def newest(rows: DataFrame): DataFrame =
    rows.groupBy(keyCols: _*)
      .agg(max(struct(("__b" +: valueNames).map(col): _*)).as("m"))

  /** The view as it stood before `beforeBatch`. */
  def view(spark: SparkSession, beforeBatch: Long): DataFrame =
    foldRows(open(spark), beforeBatch)

  /** The current view. */
  def current(spark: SparkSession): DataFrame =
    view(spark, Long.MaxValue)

  /** The view as of committed batch `asOf` (batches <= asOf). */
  def asOf(spark: SparkSession, asOf: Long): DataFrame = {
    require(asOf >= 0L, "asOf is a committed batch id")
    view(spark, asOf + 1)
  }

  // the compaction fold: one row per key, keeping the `__b` the fold's
  // retry and as-of reads depend on
  private def compacted(rows: DataFrame): DataFrame = fold match {
    case NewestWins =>
      newest(rows).select(keyCols ++ valueNames.map(v =>
        col(s"m.$v").as(v)) :+ col("m.__b").as("__b"): _*)
    case MinValue =>
      val v = valueNames.head
      rows.groupBy(keyCols: _*)
        .agg(min(struct(col(v), col("__b"))).as("m"))
        .select(keyCols :+ col(s"m.$v").as(v) :+ col("m.__b").as("__b"): _*)
    case Membership =>
      rows.groupBy(keyCols: _*).agg(max(col("__b")).as("__b"))
    case EarliestBatch =>
      rows.groupBy(keyCols: _*).agg(min(col("__b")).as("__b"))
  }

  /** Fold the committed view into one generation
    * ([[Stats.compactCommittedStore]]) in `filesOut` files and refresh
    * the manifest; None when there was nothing to fold.
    */
  def compact(spark: SparkSession, owner: String, filesOut: Int)
      : Option[Long] =
    leased(spark, owner) {
      val tok = Stats.compactCommittedStore(spark, root,
        rows => laidOut(compacted(rows), filesOut))
      if (tok.isDefined) refreshManifest(spark)
      tok
    }

  /** The committed view's dirs. */
  def committedDirs(spark: SparkSession): Seq[String] =
    Stats.committedViewDirs(spark, root)

  /** Raw committed rows in only the files `probes` (one `keyCol`
    * column) can live in ([[Stats.readTouchedKeysUnder]]); a
    * file-granular superset, so callers keep their row filters.
    */
  def pruned(spark: SparkSession, keyCol: String,
             probes: DataFrame): DataFrame =
    Stats.readTouchedKeysUnder(spark, committedDirs(spark), manifestPath,
      keyCol, probes)

  /** A reusable [[pruned]] reader ([[Stats.keyPruner]]). */
  def keyPruner(spark: SparkSession, keyCol: String): Stats.KeyPruner =
    Stats.keyPruner(spark, committedDirs(spark), manifestPath, keyCol)
}

private[graft] object KeyedStore {
  /** How a store folds its rows to one view row per key. A closed set:
    * the folds the graph families use, nothing else.
    */
  sealed trait Fold
  /** Newest batch wins per key: `max(struct(__b, values…))`. */
  case object NewestWins extends Fold
  /** Least value wins per key (one value column): the view takes
    * `min(v)`, compaction `min(struct(v, __b))` — the first batch that
    * achieved it.
    */
  case object MinValue extends Fold
  /** A set of keys: the view is the distinct keys, compaction keeps
    * each key's newest batch.
    */
  case object Membership extends Fold
  /** A set of keys whose compaction keeps each key's EARLIEST batch, so
    * a retried batch's strictly-before view still sees every key that
    * predates it.
    */
  case object EarliestBatch extends Fold
}
