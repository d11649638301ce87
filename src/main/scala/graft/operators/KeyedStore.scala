package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One incremental keyed store on the shared `gen=`/`batch=` protocol —
  * the module the keyed batch-sequenced stores declare themselves
  * through (the graph families, the edge store, PQ codes, PCA moments,
  * the k-center coreset, KMV units, BM25 stats and every deleted-id
  * set), so the layout, the fold and the manifest policy live here
  * once. Two store kinds stay outside it. The streaming gates' stores
  * (signatures, hash windows, frames, fingerprints, codes, vectors,
  * entities) are declared in StreamOps' `GateLayout`: their rows carry
  * no `__b`, a gate reads its whole committed view rather than a
  * before-batch fold, their column types follow the corpus (a view is
  * guarded on names only), and the family's `_deleted` set — a
  * KeyedStore — is their retraction. BM25 postings and doc lengths are
  * a th-clustered layout, not a keyed fold.
  *
  * Layout: appends land in `<root>/batch=<id>`, superseding rebuilds
  * and compaction folds in `<root>/gen=<tok>` ([[Stats
  * .committedViewDirs]] resolves the committed view). Every row carries
  * the batch that wrote it in `__b`. Files are range-partitioned on
  * `cluster` (default: the key) and sorted on `cluster ++ key` within
  * each file, so a key's rows sit in few files; a keyless store is
  * one file per write. With `manifest` on, a
  * sibling footer manifest `<root>_manifest` — outside the root, so
  * its own parquet never pollutes the store's recursive listings;
  * one slice per dir, written with the dir — lets probes open only
  * the files a key set can live in.
  *
  * Reads open the committed view under the family's schema guard
  * ([[Stats.openCommittedStore]] named `name`) and fold it per key
  * with `fold`; a view "before batch b" reads only rows with
  * `__b` < b, which is both the retry-stable prior state of an append
  * and the as-of snapshot read. A newest-wins store may declare a
  * `deletedWhen` marker over its values: a key whose newest row
  * matches it is left out of the view and dropped by compaction.
  * A store with `hasBase` off has no `batch=0` base write, so its
  * appends may start at batch 0.
  *
  * A family's deleted-id set is a KeyedStore too
  * ([[KeyedStore.tombstones]]): its verbs are the whole tombstone
  * protocol — [[writeFresh]], [[deletedBefore]] / [[without]], and
  * [[foldWithout]].
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
    leaseRoot: String = "",
    deletedWhen: Option[Column] = None,
    hasBase: Boolean = true) {
  import KeyedStore._

  require(fold match {
    case NewestWins => values.nonEmpty
    case MinValue => values.size == 1
    case Membership | EarliestBatch => values.isEmpty
    case Rows => true
    case Sum => values.nonEmpty
  }, s"$name: fold $fold does not fit values $values")
  require((key.nonEmpty || fold == Sum) &&
    (deletedWhen.isEmpty || fold == NewestWins),
    s"$name: fold $fold does not fit key $key")

  private val keyNames: Seq[String] = key.map(_._1)
  private val keyCols: Seq[Column] = keyNames.map(col)
  private val valueNames: Seq[String] = values.map(_._1)
  private val clusterNames: Seq[String] =
    if (cluster.isEmpty) keyNames else cluster
  private val manifestPath: String = root.stripSuffix("/") + "_manifest"
  private val familyRoot: String = if (leaseRoot.isEmpty) root else leaseRoot

  /** Run `body` holding the family's writer lease. */
  def leased[T](spark: SparkSession, owner: String)(body: => T): T =
    Stats.withWriterLease(spark, Seq(familyRoot), owner)(body)

  // the store's file layout: `parts` files range-partitioned on the
  // cluster key, each sorted on cluster ++ key; a keyless store is one
  // file
  private def laidOut(rows: DataFrame, parts: Int): DataFrame =
    if (clusterNames.isEmpty) rows.coalesce(1)
    else rows.repartitionByRange(parts, clusterNames.map(col): _*)
      .sortWithinPartitions((clusterNames ++ keyNames).distinct.map(col): _*)

  // the declared columns tagged with batch `b`, laid out into `dir`,
  // then (manifest on and `indexed`) the dir's manifest slice
  private def write(rows: DataFrame, b: Long, parts: Int, dir: String,
                    indexed: Boolean = true): Unit = {
    laidOut(rows.select(keyCols ++ valueNames.map(col) :+
        lit(b).as("__b"): _*), parts)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/$dir")
    if (manifest && indexed)
      Stats.upsertManifestFor(rows.sparkSession, root, manifestPath,
        s"$root/$dir")
  }

  /** Write `rows` as the store's base, `batch=0`. */
  def writeBase(spark: SparkSession, owner: String, filesOut: Int)
               (rows: => DataFrame): Unit =
    leased(spark, owner) {
      write(rows, 0L, filesOut, "batch=0")
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
    * checked to be above the base (when the store has one) and on the
    * monotone sequence of this store and `siblings`
    * ([[Stats.requireMonotoneBatch]]).
    */
  def appending[T](spark: SparkSession, batchId: Long, who: String,
                   siblings: KeyedStore*)(body: => T): T =
    leased(spark, s"$who(batch)") {
      require(!hasBase || batchId >= 1L,
        s"$who: batchId 0 is the store's base")
      Stats.requireMonotoneBatch(spark, (this +: siblings).map(_.root),
        batchId, who)
      body
    }

  /** Append `rows` as `batch=<batchId>` in `parts` files
    * (overwrite-idempotent: a retry rewrites the same dir). The new
    * dir's manifest slice is written unless `indexed` is false — a
    * missing slice is sound, uncovered files always read.
    */
  def append(spark: SparkSession, owner: String, batchId: Long,
             parts: Int, indexed: Boolean = true)(rows: DataFrame): Unit =
    leased(spark, owner) {
      write(rows, batchId, parts, s"batch=$batchId", indexed)
    }

  // the committed view's raw rows, schema-guarded
  private def open(spark: SparkSession): DataFrame =
    Stats.openCommittedStore(spark, root,
      key ++ values :+ ("__b" -> "bigint"), name)

  /** Fold raw store rows written before `beforeBatch` to the view: one
    * row per key, or every row for [[Rows]] (key and value columns, no
    * `__b`).
    */
  def foldRows(raw: DataFrame, beforeBatch: Long): DataFrame = {
    val rows = raw.where(col("__b") < beforeBatch)
    fold match {
      case NewestWins =>
        live(newest(rows).select(keyCols ++ valueNames.map(v =>
          col(s"m.$v").as(v)): _*))
      case MinValue =>
        rows.groupBy(keyCols: _*)
          .agg(min(col(valueNames.head)).as(valueNames.head))
      case Membership | EarliestBatch =>
        rows.select(keyCols: _*).distinct()
      case Rows =>
        rows.select(keyCols ++ valueNames.map(col): _*)
      case Sum => sums(rows)
    }
  }

  private def newest(rows: DataFrame): DataFrame =
    rows.groupBy(keyCols: _*)
      .agg(max(struct(("__b" +: valueNames).map(col): _*)).as("m"))

  // newest-wins rows minus the keys whose newest row is a deletion
  private def live(rows: DataFrame): DataFrame =
    deletedWhen.fold(rows)(d => rows.where(!d))

  // per-key (or, keyless, whole-store) sums in the declared types,
  // plus `more` aggregates
  private def sums(rows: DataFrame, more: Column*): DataFrame = {
    val aggs = values.map { case (v, t) =>
      coalesce(sum(col(v)), lit(0)).cast(t).as(v) } ++ more
    if (keyCols.isEmpty) rows.agg(aggs.head, aggs.tail: _*)
    else rows.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
  }

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

  // the compaction fold: one row per key (every row for Rows), keeping
  // the `__b` the fold's retry and as-of reads depend on
  private def compacted(rows: DataFrame): DataFrame = fold match {
    case NewestWins =>
      live(newest(rows).select(keyCols ++ valueNames.map(v =>
        col(s"m.$v").as(v)) :+ col("m.__b").as("__b"): _*))
    case MinValue =>
      val v = valueNames.head
      rows.groupBy(keyCols: _*)
        .agg(min(struct(col(v), col("__b"))).as("m"))
        .select(keyCols :+ col(s"m.$v").as(v) :+ col("m.__b").as("__b"): _*)
    case Membership =>
      rows.groupBy(keyCols: _*).agg(max(col("__b")).as("__b"))
    case EarliestBatch =>
      rows.groupBy(keyCols: _*).agg(min(col("__b")).as("__b"))
    case Rows =>
      rows.select(keyCols ++ valueNames.map(col) :+ col("__b"): _*)
    case Sum => sums(rows, max(col("__b")).as("__b"))
  }

  /** The store's compaction shape in `filesOut` files — what
    * [[compact]] folds with, and a [[foldWithout]] member's shape.
    */
  def compaction(filesOut: Int): DataFrame => DataFrame =
    rows => laidOut(compacted(rows), filesOut)

  /** Fold the committed view into one generation
    * ([[Stats.compactCommittedStore]]) in `filesOut` files and refresh
    * the manifest; None when there was nothing to fold.
    */
  def compact(spark: SparkSession, owner: String, filesOut: Int)
      : Option[Long] =
    leased(spark, owner) {
      val tok = Stats.compactCommittedStore(spark, root,
        compaction(filesOut))
      if (tok.isDefined && manifest)
        Stats.refreshManifest(spark, root, manifestPath)
      tok
    }

  /** The committed view's dirs. */
  def committedDirs(spark: SparkSession): Seq[String] =
    Stats.committedViewDirs(spark, root)

  /** Raw committed rows in only the files `probes` (one `keyCol`
    * column) can live in ([[Stats.readTouched]]); a file-granular
    * superset, so callers keep their row filters.
    */
  def pruned(spark: SparkSession, keyCol: String,
             probes: DataFrame): DataFrame =
    Stats.readTouched(spark, committedDirs(spark), manifestPath,
      Seq(keyCol), probes)

  /** A reusable [[pruned]] reader ([[Stats.keyPruner]]). */
  def keyPruner(spark: SparkSession, keyCol: String): Stats.KeyPruner =
    Stats.keyPruner(spark, committedDirs(spark), manifestPath, keyCol)

  // ---------- deleted-id sets ([[KeyedStore.tombstones]]) ----------

  /** The deleted ids (the key column) committed before `beforeBatch`;
    * None when nothing is committed.
    */
  def deletedBefore(spark: SparkSession,
                    beforeBatch: Long = Long.MaxValue): Option[DataFrame] =
    if (committedDirs(spark).isEmpty) None
    else Some(open(spark).where(col("__b") < beforeBatch)
      .select(keyCols: _*))

  // `rows` minus `deleted`, matched on each of the columns `on`
  private def minus(rows: DataFrame, deleted: Option[DataFrame],
                    on: Seq[String]): DataFrame =
    deleted.fold(rows)(d => on.foldLeft(rows)((r, c) =>
      r.join(d.select(keyCols.head.as(c)), Seq(c), "left_anti")))

  /** `rows` minus every committed deleted id, matched on each of `on`
    * (default: the key column).
    */
  def without(spark: SparkSession, rows: DataFrame,
              on: String*): DataFrame =
    minus(rows, deletedBefore(spark), if (on.isEmpty) keyNames else on)

  /** Write batch `batchId`'s fresh ids — those of `ids` not committed
    * before the batch — once `batchId` is checked to be on the monotone
    * sequence of `guard` (no check when empty); returns them staged.
    * A retry recomputes the same set: the prior view reads only
    * batches below `batchId`.
    */
  def writeFresh(spark: SparkSession, who: String, batchId: Long,
                 guard: Seq[String] = Nil, parts: Int = 1)
                (ids: DataFrame): DataFrame =
    leased(spark, s"$who(batch)") {
      if (guard.nonEmpty)
        Stats.requireMonotoneBatch(spark, guard, batchId, who)
      val fresh = Checkpoints.stage(minus(ids.select(keyCols: _*)
        .distinct(), deletedBefore(spark, batchId), keyNames))
      write(fresh, batchId, parts, s"batch=$batchId")
      fresh
    }

  /** Fold each `(root, on, shape)` store's committed view minus the
    * deleted ids (matched on `on`) through `shape` (a declared store's
    * is its [[compaction]])
    * ([[Stats.compactCommittedStore]]), run `use` on the staged set,
    * then — when every store folded and a set is committed — clear the
    * set and, if it held ids, record the family's retraction floor at
    * the newest fold ([[Stats.recordRetractionFloor]]). A store with
    * nothing to fold keeps the set in force for the next cycle. Returns
    * each store's fold token.
    */
  def foldWithout(spark: SparkSession, who: String,
                  stores: Seq[(String, Seq[String], DataFrame => DataFrame)],
                  use: Option[DataFrame] => Unit = _ => ())
      : Seq[Option[Long]] =
    leased(spark, s"$who(batch)") {
      val deleted = deletedBefore(spark).map(Checkpoints.stage)
      val toks = stores.map { case (r, on, shape) =>
        Stats.compactCommittedStore(spark, r,
          rows => shape(minus(rows, deleted, on)))
      }
      use(deleted)
      if (deleted.isDefined && toks.forall(_.isDefined)) {
        if (!deleted.get.isEmpty)
          Stats.recordRetractionFloor(spark, familyRoot, toks.flatten.max)
        Stats.compactCommittedStore(spark, root,
          _.where(lit(false)).select(keyCols :+ col("__b"): _*)): Unit
      }
      toks
    }
}

private[graft] object KeyedStore {
  /** How a store folds its rows to its view. A closed set: the folds
    * the declared stores use, nothing else.
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
  /** No per-key fold: the view is every row written before the batch
    * (keys never repeat across batches, or a repeat is meant as a
    * second row); compaction keeps every row and its `__b`.
    */
  case object Rows extends Fold
  /** Additive values: the view sums each key's values (the whole store
    * when keyless) in their declared types; compaction keeps each key's
    * largest `__b`.
    */
  case object Sum extends Fold

  /** Where a family's deleted-id set lives, relative to the family
    * root: `<root>_deleted` (the id-keyed gate stores), `<root>/deleted`
    * (BM25 index, KMV units, PCA moments, k-center coreset, cumulative
    * models) and `<edges>_deleted_nodes` (the graph edge store).
    */
  val tombstoneLayouts: Seq[String] =
    Seq("_deleted", "/deleted", "_deleted_nodes")

  /** Every root a family's deleted-id set can live at. */
  def tombstoneRoots(familyRoot: String): Seq[String] =
    tombstoneLayouts.map(familyRoot.stripSuffix("/") + _)

  /** A family's deleted-id set: a [[Membership]] store on the one id
    * column, no manifest, leased on the family root — the one owner of
    * the tombstone protocol (write a batch's fresh ids, read the set
    * before a batch, fold the family without it and clear it).
    */
  def tombstones(familyRoot: String, layout: String, name: String,
                 id: (String, String) = "id" -> "*"): KeyedStore = {
    require(tombstoneLayouts.contains(layout), s"$name: layout $layout")
    KeyedStore(familyRoot.stripSuffix("/") + layout, name, Seq(id), Nil,
      Membership, manifest = false, leaseRoot = familyRoot)
  }
}
