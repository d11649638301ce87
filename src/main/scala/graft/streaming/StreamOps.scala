package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{KeyedStore, Layout, Regime, Stats, Upsert}

/** Streaming counterparts of the batch pipeline operators: bounded-state
  * exact dedup, stream-static dimension enrichment, and an incremental
  * MERGE sink via foreachBatch.
  *
  * State-at-scale notes:
  *  - [[dedupWithinWatermark]] keys state by the id column only and the
  *    watermark bounds retention — state is O(keys inside the watermark
  *    window), not O(stream length). This is the streaming face of
  *    `Dedup.exactKeepFirst` (same keep-first semantics).
  *  - [[enrichWithDim]] broadcasts the static side per micro-batch: no
  *    shuffle on the stream, and a dimension refresh is picked up on the
  *    next batch (classic slowly-changing-dim join).
  *  - [[upsertSink]] turns any append stream into MERGE semantics over a
  *    plain Parquet catalog table (exactly-once per key under retries
  *    because the merge is idempotent — re-delivering a batch rewrites
  *    the same rows).
  */
object StreamOps {

  /** Exact streaming dedup: first event per `idCol` wins; duplicates
    * arriving within `watermark` of the max event time are dropped;
    * state for ids older than the watermark is evicted.
    */
  def dedupWithinWatermark(events: DataFrame, idCol: String,
                           tsCol: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-static join: enrich a stream against a (small) dimension
    * table — broadcast, no stream-side shuffle.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    key: Seq[String]): DataFrame =
    stream.join(broadcast(dim), key, "left")

  /** Stream-stream interval join: match right-stream events within
    * [left time − window, left time] on the same key. Both sides are
    * watermarked so the join state is bounded — Spark retains only rows
    * inside the watermark + interval horizon (the unbounded-state
    * stream join is rejected by the engine).
    */
  def intervalJoinStreams(left: DataFrame, leftTs: String,
                          right: DataFrame, rightTs: String,
                          key: String, window: String,
                          watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $window") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs"))
  }

  /** Native session windows: per-key gap sessions via Spark's
    * `session_window` aggregation (merging-window state, watermark
    * evicts closed sessions). The built-in replacement for the
    * mapGroupsWithState formulation in [[StreamSessionize]] — same gap
    * semantics family as the batch `TimeSeries.sessionize`, with
    * session end = last event + gap. Works identically over batch
    * DataFrames (where the watermark is ignored).
    */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
                       gap: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol),
        session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n_events"))

  /** Claim the store-family writer fence for a sink about to start:
    * take the lease on every root BEFORE the query launches (a
    * conflicting sink fails fast in the CALLER's thread with
    * [[graft.operators.Stats.ConcurrentWriterException]] — the quiesce
    * contract between ingestion gates and retraction sinks,
    * machine-checked instead of documented), record the query as the
    * holder, and release on termination. Release is belt-and-braces:
    * an async listener keyed by the query id plus a liveness-checked
    * reclaim inside acquire, so a sequential resume never races the
    * listener bus.
    */
  private def leasedStart(spark: SparkSession, roots: Seq[String],
                          owner: String)
                         (start: => org.apache.spark.sql.streaming
                           .StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val rs = roots.filter(_.nonEmpty)
    if (rs.isEmpty) return start
    // the pre-start window holds the lease under a unique sync-claim
    // id, so every release on this path is ownership-checked — a lease
    // operator-broken and re-claimed mid-start is never clobbered
    val startClaim = Stats.newSyncClaim()
    try Stats.acquireWriterLease(spark, rs, owner, startClaim)
    catch {
      case t: Throwable => Stats.dropSyncClaim(startClaim); throw t
    }
    val q = try start catch {
      case t: Throwable =>
        Stats.releaseWriterLeaseOwned(spark, rs, startClaim)
        Stats.dropSyncClaim(startClaim)
        throw t
    }
    // register under q.runId, NOT q.id: the query id is stable across
    // checkpoint restarts, so a sequential resume's successor would
    // share the predecessor's identity and a late termination event
    // from the predecessor would pass the ownership check and unfence
    // the live successor — runId is unique per run and
    // QueryTerminatedEvent carries it
    Stats.recordLeaseHolder(spark, rs, startClaim, q.runId)
    Stats.dropSyncClaim(startClaim)
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit =
          if (e.runId == q.runId) {
            // ownership-checked: a LATE termination event firing after
            // a successor sink liveness-reclaimed the family must not
            // delete the successor's lease
            Stats.releaseWriterLeaseOwned(spark, rs, q.runId)
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
    // the query may have died between start and addListener — release
    // here rather than leak (owned release is idempotent)
    if (!q.isActive) {
      Stats.releaseWriterLeaseOwned(spark, rs, q.runId)
      spark.streams.removeListener(listener)
    }
    q
  }

  /** The one start-up every leased gate sink shares: claim the
    * writer lease on `roots` in the caller's thread ([[leasedStart]]),
    * evaluate `body` under that claim (a sink may resolve state there,
    * as [[retractionGateSink]] resolves its batch base), start the
    * query with its checkpoint in append mode, and run each NON-EMPTY
    * micro-batch with `roots` marked held on the stream-execution
    * thread — so the fenced batch mutators a batch calls (compactions,
    * tombstone deletes, store rebuilds, each under the family's writer
    * lease) ride the query's lease
    * instead of self-conflicting with it. foreachBatch is serial, so
    * in-sink maintenance can never race a reading batch.
    */
  private def gateSink(spark: SparkSession, stream: DataFrame,
                       checkpoint: String, roots: Seq[String],
                       owner: String)
                      (body: => (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    leasedStart(spark, roots, owner) {
      val onBatch = body
      stream.writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Stats.withHeldLeases(roots) {
            if (!batch.isEmpty) onBatch(batch, batchId)
          }
        }
        .start()
    }

  /** The `compactEvery` cadence every gate sink shares: fold after
    * every `compactEvery`-th micro-batch (never when it is 0).
    */
  private def compactDue(compactEvery: Int, batchId: Long): Boolean =
    compactEvery > 0 && batchId % compactEvery == compactEvery - 1

  /** `<root>/batch=<batchId>`: a gate store's or a gate output's
    * micro-batch dir.
    */
  private def batchDir(root: String, batchId: Long): String =
    s"$root/batch=$batchId"

  /** Write a micro-batch's gate output (survivors, or a report) as
    * `<outPath>/batch=<batchId>`, overwrite-idempotent: a retry
    * rewrites the same dir.
    */
  private def writeOutput(rows: DataFrame, outPath: String,
                          batchId: Long): Unit =
    rows.write.mode(SaveMode.Overwrite).parquet(batchDir(outPath, batchId))

  /** Continuous-ingestion near-dup gate: every micro-batch is gated
    * against the PERSISTED MinHash signature store
    * ([[graft.operators.Dedup.minhashIncremental]]); survivors land in
    * `outPath` and their signatures append to the store, so later
    * batches dedup against everything RETAINED so far — history is
    * never re-read or re-hashed, per the incremental operator's
    * contract. The streaming face of the batch near-dup pipeline.
    *
    * Durability shape: both writes go to `batch=<batchId>` sub-dirs in
    * OVERWRITE mode, so a foreachBatch retry rewrites the same files —
    * idempotent end to end (the directory name doubles as a partition
    * column on read; consumers of `outPath` should select the data
    * columns). Store presence is decided by COMMITTED data files, not
    * directory existence — an interrupted first write (dir created,
    * nothing committed) bootstraps cleanly on retry instead of
    * poisoning every later batch with an unreadable store. Survivors
    * are materialized (localCheckpoint) BEFORE the store append: the
    * gate must not observe the batch's own signatures mid-write. The
    * batch is MinHash-hashed exactly once ([[graft.operators.Dedup
    * .minhashIncrementalFromSigs]]); survivors' signatures are the
    * surviving subset of that same pass, never recomputed from text.
    *
    * Policy: ACROSS batches, gating is against retained docs only — a
    * dropped doc never enters the store, so it never blocks later
    * docs (near-dup is not transitive). WITHIN a batch, removal
    * follows the batch operator's pairwise rule: a doc is dropped for
    * near-matching ANY smaller-id batch doc, even one that is itself
    * dropped — so survivor sets depend on micro-batch boundaries
    * exactly and only through this within-batch rule (the price of
    * single-pass batch semantics; run the graph-CC cluster resolution
    * offline when transitive-cluster policy matters). Contract: ids
    * are monotone across batches (stored ids < new ids) — the
    * incremental operator forms pairs with the new doc on the
    * larger-id side; derive ids from (batchId, offset) when natural
    * ids are not monotone.
    */
  def nearDupGateSink(spark: SparkSession, stream: DataFrame,
                      id: String, text: String, storePath: String,
                      outPath: String, checkpoint: String, n: Int = 3,
                      k: Int = 32, rowsPerBand: Int = 4,
                      minEstJaccard: Double = 0.8,
                      compactEvery: Int = 0, compactFilesOut: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "nearDupGateSink") { (batch, batchId) =>
      // ONE hash pass over the batch, materialized here and reused
      // by the gate, the store write, and the regime count
      val batchSigs = Dedup.minhashSigsNative(batch, col(id),
        col(text), n, k).localCheckpoint()
      val store = nearDupStoreView(spark, storePath)
        .getOrElse(batchSigs.limit(0))
      val survivors = Dedup.minhashIncrementalFromSigs(batch,
          col(id), batchSigs, store, rowsPerBand, minEstJaccard)
        .localCheckpoint()
      // surviving subset of the same materialized pass — no second
      // tokenize/hash of the text
      PlainSigs.append(batchSigs
        .join(survivors.select(col(id).as("__sid")),
          col("id") === col("__sid"), "left_semi"), storePath, batchId)
      writeOutput(survivors, outPath, batchId)
      if (compactDue(compactEvery, batchId))
        compactNearDupStore(spark, storePath, compactFilesOut): Unit
    }
  }

  /** The signature store's current READ VIEW: the newest committed
    * `gen=<t>` compaction (if any) plus the `batch=<id>` appends with
    * id > t. Generation selection is what makes compaction atomic from
    * the reader's side — a reader either still resolves the old
    * generation + its batch dirs or the new generation, never a mix
    * (folded batch dirs are excluded by the id > t rule, so the
    * post-compaction duplicate window can never double-count a store
    * row). Commit state is judged per sub-directory by reader-visible
    * parquet ([[graft.operators.Stats.hasCommittedParquet]]), so a
    * crashed generation or batch write is ignored until its retry
    * commits it. None = no committed store content (first-batch
    * bootstrap).
    */
  private[graft] def nearDupStoreView(spark: SparkSession,
                                          storePath: String)
      : Option[DataFrame] =
    PlainSigs.live(spark, storePath)

  /** SNAPSHOT readout of the near-dup store: the corpus exactly as
    * the committed view resolved it when the sequence head was
    * `asOf` (named refusal below the vacuum floor,
    * [[graft.operators.Stats.requireSnapshot]]), MINUS the family's CURRENT
    * deleted set: a PENDING (unfolded) takedown is anti-joined out of
    * every snapshot, and once a takedown has been FOLDED (tombstones
    * applied and cleared), snapshots below that fold refuse by name
    * ([[graft.operators.Stats.retractionFloor]]) — the pre-takedown
    * corpus is unreproducible even while its raw dirs await the next
    * vacuum. Reproducible reads never resurrect a taken-down id, no
    * matter how old the snapshot token is. None when the snapshot is
    * empty (asOf predates the first batch).
    */
  def nearDupStoreViewAsOf(spark: SparkSession, storePath: String,
                           asOf: Long): Option[DataFrame] = {
    val rf = Stats.retractionFloor(spark, storePath)
    if (asOf < rf)
      throw new Stats.SnapshotUnavailableException(
        s"store at $storePath cannot serve a snapshot as of $asOf: " +
          s"a takedown was folded at token $rf, and history below a " +
          "takedown fold is retraction-scrubbed (time travel never " +
          "resurrects a taken-down row); re-run against a token >= " +
          s"$rf")
    Stats.requireSnapshot(spark, storePath, asOf)
    PlainSigs.live(spark, storePath, asOf)
  }

  /** Fold the near-dup gate's per-micro-batch `batch=<id>` store
    * appends into a compacted generation: after 10⁵ micro-batches the
    * store is 10⁵ small file sets and every batch's store scan is
    * listing-bound — the maintenance this performs. Writes the current
    * view (newest generation + newer batch dirs) as `gen=<maxBatchId>`
    * in `filesOut` files, then vacuums only what a FULL compaction
    * cycle has already superseded: generations and batch dirs folded
    * into the PREVIOUS generation. The one-cycle grace period is the
    * retention story for readers racing the compactor — an in-flight
    * scan that resolved the previous generation still has every file
    * it listed; the [[nearDupGateSink]] `compactEvery` hook runs this
    * serially between micro-batches, where even that race cannot
    * occur. Overwrite-idempotent: a crashed or retried compaction
    * rewrites the same generation; an uncommitted generation dir is
    * invisible to readers. Returns the new generation token, or None
    * when there was nothing to fold.
    */
  def compactNearDupStore(spark: SparkSession, storePath: String,
                          filesOut: Int): Option[Long] =
    PlainSigs.compact(spark, storePath, "", filesOut)

  /** The `<store>_deleted` set every id-keyed gate store shares (text
    * sigs, substring fps, media/audio windows, video frames, embedding
    * codes+vecs, entity dictionary by eid).
    */
  private def gateTombstones(storePath: String): KeyedStore =
    KeyedStore.tombstones(storePath, "_deleted", "nearDupDeletedIds")

  /** A gate store, declared once: the columns a reader takes from its
    * dirs, where they sit under the family root (`sub`: the embedding
    * gate keeps `codes/` and `vecs/` under one root), the column the
    * family's `_deleted` set matches, the public compactor its folds
    * are named after, and — for a clustered store — its shared
    * [[graft.operators.Layout.Clustered]] declaration (range-clustered
    * appends with a `<dir>_manifest` footer manifest, clustered folds
    * and a manifest-pruned slice). The `batch=<id>` append, the
    * committed and as-of views, the pruned slice and the
    * tombstone-aware compaction of every gate store come from here;
    * every read takes its schema from a driver-read footer, so
    * building one runs no Spark job.
    *
    * Gate stores are not [[KeyedStore]]s: their rows carry no `__b`
    * (a gate reads its whole committed view, never a before-batch
    * fold, and retraction is the family's `_deleted` set), and their
    * column types follow the corpus, so a view is guarded on column
    * names only.
    */
  private final case class GateLayout(cols: Seq[String],
                                      compactor: String = "",
                                      idCol: String = "id",
                                      clustered: Option[Layout.Clustered] =
                                        None,
                                      sub: String = "") {
    private def dir(storePath: String): String =
      if (sub.isEmpty) storePath else s"$storePath/$sub"

    /** The store's footer manifest: `<dir>_manifest`, outside the store
      * tree, so store reads never see it.
      */
    def manifest(storePath: String): String = s"${dir(storePath)}_manifest"

    /** Write `rows` as the store's `batch=<batchId>` dir
      * (overwrite-idempotent: a retry rewrites the same dir). A
      * clustered store lays them out in `files` files and writes the
      * dir's manifest slice; any other store writes `rows` as given.
      */
    def append(rows: DataFrame, storePath: String, batchId: Long,
               files: Int = 1): Unit = clustered match {
      case Some(l) =>
        l.appendBatch(rows, dir(storePath), manifest(storePath), batchId,
          files)
      case None =>
        rows.write.mode(SaveMode.Overwrite)
          .parquet(batchDir(dir(storePath), batchId))
    }

    /** The committed view as of `asOf` (the current view by default),
      * projected to `cols`; None when nothing is committed. A missing
      * column fails with the store's path (a drifted or wrongly-mounted
      * dir), not an unresolved-column error deep in a gate's plan.
      */
    def view(spark: SparkSession, storePath: String,
             asOf: Long = Long.MaxValue): Option[DataFrame] = {
      // no snapshot-floor check here: a floored read checks first
      val dirs = Stats.viewDirsAt(spark, dir(storePath), asOf)
      if (dirs.isEmpty) None
      else {
        val df = Stats.readDirs(spark, dirs)
        val missing = cols.filterNot(df.columns.contains)
        if (missing.nonEmpty)
          throw new Stats.StoreSchemaException(
            s"gate store at ${dir(storePath)} has a drifted schema — " +
              s"expected columns {${cols.mkString(", ")}}, found " +
              s"{${df.columns.mkString(", ")}} (missing: " +
              s"${missing.mkString(", ")})")
        Some(df.select(cols.map(col): _*))
      }
    }

    /** [[view]] minus the family's `_deleted` set, matched on `idCol`. */
    def live(spark: SparkSession, storePath: String,
             asOf: Long = Long.MaxValue): Option[DataFrame] =
      view(spark, storePath, asOf)
        .map(gateTombstones(storePath).without(spark, _, idCol))

    /** A clustered store's committed, manifest-pruned slice for `probe`
      * (a frame carrying the cluster key): the current view's rows in
      * only the files the probe's key values can live in
      * ([[graft.operators.Layout.Clustered.touched]] — every file when
      * no manifest is committed), minus the `_deleted` set; None when
      * the store is empty.
      */
    def slice(spark: SparkSession, storePath: String,
              manifestPath: String, probe: DataFrame): Option[DataFrame] = {
      val dirs = Stats.viewDirsAt(spark, dir(storePath), Long.MaxValue)
      if (dirs.isEmpty) None
      else Some(gateTombstones(storePath).without(spark,
        clustered.get.touched(dirs, manifestPath, probe), idCol))
    }

    /** The store as a [[KeyedStore.foldWithout]] member: its dir, the
      * column the deleted ids match, and its fold shape in `filesOut`
      * files (clustered, or the columns repartitioned).
      */
    def folded(storePath: String, filesOut: Int)
        : (String, Seq[String], DataFrame => DataFrame) =
      (dir(storePath), Seq(idCol), rows => clustered.fold(
        rows.select(cols.map(col): _*).repartition(filesOut))(
        _.laidOut(rows, filesOut)))

    /** Fold the store minus its `_deleted` set and clear the set
      * ([[KeyedStore.foldWithout]], named `compactor` — the
      * physical-drop half of the retraction contract; the read-time
      * half is [[live]]) under the family's writer lease; a clustered
      * store then refreshes the manifest at `manifestPath` (the
      * generation's slice written, the vacuumed dirs' slices dropped).
      * Returns the new generation token, None when there was nothing
      * to fold.
      */
    def compact(spark: SparkSession, storePath: String,
                manifestPath: String, filesOut: Int): Option[Long] = {
      val tomb = gateTombstones(storePath)
      tomb.leased(spark, s"$compactor(batch)") {
        val Seq(tok) = tomb.foldWithout(spark, compactor,
          Seq(folded(storePath, filesOut)))
        if (tok.isDefined && clustered.isDefined)
          Stats.refreshManifest(spark, dir(storePath), manifestPath)
        tok
      }
    }
  }

  private def clusteredGate(layout: Layout.Clustered, compactor: String,
                            idCol: String = "id"): GateLayout =
    GateLayout(layout.cols, compactor, idCol, Some(layout))

  /** The near-dup gate's (id, sig) signature store. */
  private val PlainSigs = GateLayout(Seq("id", "sig"), "compactNearDupStore")
  /** The media gate's (media_id, dhash) store, tombstoned by media_id. */
  private val MediaHashes =
    GateLayout(Seq("media_id", "dhash"), idCol = "media_id")
  /** The embedding gate's LSH codes and vectors, under one root. */
  private val EmbedCodes =
    GateLayout(Layout.CodeBuckets.cols, "compactEmbedStore", sub = "codes")
  private val EmbedVecs =
    GateLayout(Seq("id", "vec"), "compactEmbedStore", sub = "vecs")
  private val BandedSigs =
    clusteredGate(Layout.BandedSigs, "compactNearDupStoreBanded")
  private val MediaWindows =
    clusteredGate(Layout.MediaWindows, "compactMediaStoreBanded")
  private val VideoFrames =
    clusteredGate(Layout.VideoFrames, "compactFrameStore")
  private val WindowFps =
    clusteredGate(Layout.WindowFps, "compactWindowStoreGen")
  /** The ER entity dictionary is tombstoned by eid. */
  private val Entities =
    clusteredGate(Layout.Entities, "compactEntityStoreGen", "eid")

  /** [[compactNearDupStore]] for a BANDED store
    * ([[nearDupGateSinkBanded]]): the generation is rewritten
    * range-clustered by (band, bucket) — the layout the manifest-pruned
    * store scan needs — and the footer manifest is refreshed afterwards
    * (footers read only for the new generation's files; vacuumed dirs
    * drop out of the manifest).
    */
  def compactNearDupStoreBanded(spark: SparkSession, storePath: String,
                                manifestPath: String,
                                filesOut: Int): Option[Long] =
    BandedSigs.compact(spark, storePath, manifestPath, filesOut)

  /** TOMBSTONE deletes for ANY id-keyed gate store — the shared
    * retraction op of the whole dedup-gate family: a taken-down
    * doc's stored artifacts (text signatures, substring
    * fingerprints, image/audio hash windows, video frame hashes,
    * embedding codes+vecs, ER dictionary entries via eid) must stop
    * suppressing future near-duplicates, and stop existing at all
    * after compaction. The ids land in a
    * `<storePath>_deleted/batch=<id>` committed set every store
    * read path anti-joins ([[KeyedStore.without]]); the store's
    * compactor ([[compactNearDupStoreBanded]] /
    * [[compactWindowStoreGen]] / [[compactMediaStoreBanded]] /
    * [[compactFrameStore]] / [[compactEmbedStore]] /
    * [[compactEntityStoreGen]]) drops the rows physically and clears
    * the set. Overwrite-idempotent per batch; `batchId` shares the
    * store's monotone batch sequence. Like the sig store, nothing
    * additive remembers a deleted id after its compaction cycle —
    * re-ingestion of the same id after the cycle is legitimate.
    *
    * TIME-TRAVEL COMPLIANCE: [[gateStoreViewAsOf]] snapshots resolve
    * pre-delete `batch=` dirs for as long as they exist on disk, and
    * the vacuum keeps them for ONE compaction cycle after the fold
    * that dropped the rows (the reader-race grace period) — so a
    * retraction is fully unrecoverable, for every as-of token, at the
    * SECOND compaction after the delete. Pin takedown deadlines to
    * that cycle, not to the fold (spec-pinned: "retraction vs time
    * travel").
    */
  def deleteFromNearDupStore(spark: SparkSession, storePath: String,
                             ids: DataFrame, batchId: Long,
                             filesOut: Int = 1): Unit = {
    val tomb = gateTombstones(storePath)
    graft.operators.Rounds.free(tomb.writeFresh(spark,
      "deleteFromNearDupStore", batchId, Seq(storePath, tomb.root),
      filesOut)(ids))
  }

  /** [[storeBandsFor]] for the substring gate's window-fingerprint
    * store: the TOMBSTONE-AWARE, manifest-pruned (fp, id) slice for a
    * probe batch — the read path [[substringGateSink]] and any batch
    * re-gate (x_substring_delete) share.
    */
  def storeFpsFor(spark: SparkSession, storePath: String,
                  manifestPath: String, probeFps: DataFrame)
      : DataFrame =
    WindowFps.slice(spark, storePath, manifestPath, probeFps)
      .getOrElse(probeFps.select(col("fp"), col("id")).limit(0))

  /** [[storeBandsFor]] for the ER gate's entity dictionary: the
    * TOMBSTONE-AWARE (by eid), manifest-pruned (eid, nm, blkh) slice
    * for a probe block-key set — the read path [[erGateSink]] and any
    * batch re-gate (x_er_delete) share.
    */
  def erStoreSliceFor(spark: SparkSession, storePath: String,
                      manifestPath: String, probeBlkh: DataFrame,
                      empty: DataFrame): DataFrame =
    Entities.slice(spark, storePath, manifestPath, probeBlkh)
      .map(_.select(col("eid"), col("nm"), col("blkh")))
      .getOrElse(empty)

  /** The banded signature store's TOMBSTONE-AWARE, manifest-pruned
    * read view for a probe batch: committed `batch=`/`gen=` dirs
    * pruned to the files the probe (band, bucket) pairs can live in,
    * with retracted ids dropped ([[deleteFromNearDupStore]]'s set) —
    * the read path the streaming gate and any batch re-gate share.
    * `newBands` supplies both the probe pairs and the schema for the
    * empty-store case; a missing/crashed manifest only costs pruning.
    */
  def storeBandsFor(spark: SparkSession, storePath: String,
                    manifestPath: String, newBands: DataFrame)
      : DataFrame =
    BandedSigs.slice(spark, storePath, manifestPath, newBands)
      .getOrElse(newBands.limit(0))

  /** [[nearDupGateSink]] over a BANDED, manifest-pruned store — the
    * streaming composition of the batch pipeline's banded signature
    * store ([[graft.operators.Dedup.writeBandedSigStore]] family):
    * store dirs hold (band, bucket, id, sig) rows range-clustered by
    * (band, bucket), a footer manifest rides beside the store at
    * `<storePath>_manifest` (OUTSIDE the store tree, so store reads
    * never see it), and each micro-batch's store scan OPENS only the
    * files its touched buckets can live in
    * ([[graft.operators.Stats.touchedFiles]] over the
    * current generation view). Everything else matches
    * [[nearDupGateSink]]: same gate semantics (the shared banded core),
    * same idempotent batch-keyed appends, same generation/vacuum
    * protocol (compaction rewrites generations clustered and refreshes
    * the manifest). A missing or crashed manifest only costs pruning —
    * the view is then read unpruned, never wrongly skipped.
    */
  def nearDupGateSinkBanded(spark: SparkSession, stream: DataFrame,
                            id: String, text: String, storePath: String,
                            outPath: String, checkpoint: String,
                            n: Int = 3, k: Int = 32, rowsPerBand: Int = 4,
                            minEstJaccard: Double = 0.8,
                            compactEvery: Int = 0,
                            compactFilesOut: Int = 4,
                            appendFilesOut: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    val mPath = BandedSigs.manifest(storePath)
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "nearDupGateSinkBanded") { (batch, batchId) =>
      // ONE hash pass + ONE banding pass over the batch, reused by
      // the prune probes, the gate, and the store append
      val batchSigs = Dedup.minhashSigsNative(batch, col(id),
        col(text), n, k).localCheckpoint()
      val batchRows = batchSigs.count()
      val newBands = Dedup.lshBuckets(batchSigs, rowsPerBand)
        .select(col("band"), col("bucket"), col("id"), col("sig"))
      val storeBands = storeBandsFor(spark, storePath, mPath,
        newBands)
      val survivors = Dedup.minhashIncrementalFromBands(batch,
          col(id), newBands, storeBands, batchRows, minEstJaccard)
        .localCheckpoint()
      BandedSigs.append(
        newBands.join(survivors.select(col(id).as("__sid")),
          col("id") === col("__sid"), "left_semi"),
        storePath, batchId, appendFilesOut)
      writeOutput(survivors, outPath, batchId)
      if (compactDue(compactEvery, batchId))
        compactNearDupStoreBanded(spark, storePath, mPath,
          compactFilesOut): Unit
    }
  }

  /** Streaming substring-dedup gate: each micro-batch is gated against
    * the PERSISTED window-fingerprint store (the streaming face of
    * [[graft.operators.Curation.substringIncremental]]) — a doc is
    * dropped when it shares at least `minShared` distinct content-
    * defined window fingerprints with retained history OR with a
    * smaller-id doc of the same batch (the fp's min-id batch holder
    * plays the store's role within the batch, so a passage's first
    * holder survives — the batch scrub's canonical-holder policy).
    * Survivors land in `outPath`; survivors' fingerprints append to
    * the store fp-clustered, and the manifest refresh keeps each later
    * batch's store scan opening only touched-fp files. Same
    * durability/maintenance protocol as [[nearDupGateSinkBanded]]:
    * batch-keyed idempotent writes, committed-file store view,
    * generation compaction + one-cycle vacuum grace, manifest loss
    * costs pruning never rows. The batch is fingerprinted exactly
    * once; survivors' store rows are the surviving subset of that same
    * pass.
    */
  def substringGateSink(spark: SparkSession, stream: DataFrame,
                        id: String, text: String, storePath: String,
                        outPath: String, checkpoint: String,
                        window: Int = 40, anchorLen: Int = 8,
                        anchorMod: Int = 16, minShared: Long = 1L,
                        compactEvery: Int = 0, compactFilesOut: Int = 4,
                        appendFilesOut: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Curation
    val mPath = WindowFps.manifest(storePath)
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "substringGateSink") { (batch, batchId) =>
      // ONE fingerprint pass over the batch, reused by the prune
      // probes, the gate, and the store append
      val batchFps = Curation.windowFpRows(batch, col(id), col(text),
        window, anchorLen, anchorMod).localCheckpoint()
      val storeFps = storeFpsFor(spark, storePath, mPath,
        batchFps).select(col("fp"))
      // store-arm membership + within-batch min-id holder, then
      // one per-doc distinct-fp count against both arms; every
      // join side below is batch-bounded (the store side is first
      // semi-joined down to the batch's own fp set). Measured
      // regime gate: a normal micro-batch rides broadcasts; a
      // backfill-sized batch degrades every one to shuffle-hash.
      val small = Regime.fits(batchFps.count())
      def bc(df: DataFrame): DataFrame =
        if (small) broadcast(df) else df.hint("shuffle_hash")
      val probe = batchFps.select(col("fp")).distinct()
      val inStore = storeFps
        .join(bc(probe), Seq("fp"), "left_semi")
        .distinct().withColumn("__in_store", lit(true))
      val minHolder = batchFps.groupBy(col("fp"))
        .agg(min(col("id")).as("__min_id"))
      val shared = batchFps
        .join(bc(minHolder), Seq("fp"))
        .join(bc(inStore), Seq("fp"), "left")
        .where(col("__in_store").isNotNull ||
          col("__min_id") < col("id"))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("__n_shared"))
      val dropIds = shared.where(col("__n_shared") >= minShared)
        .select(col("id").as("__did"))
      val survivors = batch
        .join(bc(dropIds), col(id) === col("__did"), "left_anti")
        .localCheckpoint()
      WindowFps.append(
        batchFps.join(survivors.select(col(id).as("__sid")),
          col("id") === col("__sid"), "left_semi"),
        storePath, batchId, appendFilesOut)
      writeOutput(survivors, outPath, batchId)
      if (compactDue(compactEvery, batchId))
        compactWindowStoreGen(spark, storePath, mPath,
          compactFilesOut): Unit
    }
  }

  /** [[compactNearDupStoreBanded]] for the substring gate's window-
    * fingerprint store: the generation is rewritten fp-range-clustered
    * (the layout [[graft.operators.Stats.touchedFiles]]
    * prunes) and the manifest refreshed afterwards.
    */
  def compactWindowStoreGen(spark: SparkSession, storePath: String,
                            manifestPath: String,
                            filesOut: Int): Option[Long] =
    WindowFps.compact(spark, storePath, manifestPath, filesOut)

  /** Streaming MEDIA near-dup gate: the [[nearDupGateSink]] protocol
    * on perceptual hashes — each micro-batch's binary payloads hash
    * once ([[graft.operators.Multimodal.imageDHash]] for images,
    * [[graft.operators.Multimodal.audioFingerprint]] via `hashFn`),
    * a batch doc drops when its hash is within `maxDist` of any
    * STORED hash or any smaller-id batch doc's, survivors' (id, hash)
    * rows append to the store and survivor ids to `outPath`.
    *
    * Same contracts as the text gate: monotone ids across batches
    * (store < new); `batch=<id>` store appends are overwrite-
    * idempotent under retries; readers resolve committed generations
    * + newer batch dirs, so [[compactNearDupStore]]-shaped
    * maintenance applies (the store rows are (id, dhash) — 16 bytes,
    * listing cost dominates long before data size). UNDECODABLE
    * payloads SURVIVE and are never stored (a doc that cannot be
    * hashed cannot be proven a duplicate — the dead-letter stance of
    * the batch operators); the blocked pairing is EXACT for
    * maxDist ≤ 3 ([[graft.operators.Multimodal.dhashPairs]]'
    * pigeonhole bound), so gate results are micro-batch-boundary
    * deterministic.
    */
  def mediaDedupGateSink(spark: SparkSession, stream: DataFrame,
                         id: String, payload: String, storePath: String,
                         outPath: String, checkpoint: String,
                         maxDist: Int = 3,
                         maxBucket: Int = Int.MaxValue,
                         hashFn: (SparkSession, DataFrame) => DataFrame =
                           (s, df) => graft.operators.Multimodal
                             .imageDHash(s, df).toDF())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Multimodal
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "mediaDedupGateSink") { (batch, batchId) =>
      // ONE hash pass; dead-letters keep a null dhash
      // alias to "payload" so the hashFn contract (imageDHash /
      // audioFingerprint select col("payload") by name) holds for
      // any input column name — the embedDedupGateSink treatment
      val hashes = hashFn(spark,
          batch.select(col(id).cast("long").as("media_id"),
            col(payload).as("payload"))).localCheckpoint()
      val store = mediaStoreView(spark, storePath)
        .getOrElse(hashes.limit(0))
      // exact blocked pairs with the batch on the larger-id side;
      // the store prunes to BATCH-TOUCHED window keys before any
      // pairing, so per-batch cost never scales with store² (store
      // ids are smaller by the monotonicity contract)
      val dropIds = Multimodal
        .dhashPairsAgainst(store, hashes, maxDist, maxBucket)
        .select(col("id_b").as("media_id")).distinct()
      val survivors = hashes
        .join(dropIds, Seq("media_id"), "left_anti")
        .localCheckpoint()
      MediaHashes.append(survivors.where(col("dhash").isNotNull),
        storePath, batchId)
      writeOutput(survivors.select(col("media_id")), outPath, batchId)
    }
  }

  /** The media gate's committed store view ((media_id, dhash) rows):
    * newest committed generation + newer batch dirs — the
    * [[nearDupStoreView]] resolution on the media store shape.
    */
  private[graft] def mediaStoreView(spark: SparkSession,
                                    storePath: String): Option[DataFrame] =
    MediaHashes.live(spark, storePath)

  /** [[mediaDedupGateSink]] over a BANDED, manifest-pruned store — the
    * r8 treatment of the MinHash store applied to perceptual hashes:
    * store dirs hold (w, wk, id, dhash) rows range-clustered by
    * (w, wk) (the [[graft.operators.Multimodal.writeDhashStore]]
    * layout), a footer manifest rides beside the store at
    * `<storePath>_manifest`, and each micro-batch's store scan OPENS
    * only the files its own window keys can live in
    * ([[graft.operators.Stats.touchedFiles]] over the
    * current generation view). Gate semantics are
    * [[mediaDedupGateSink]]'s exactly (the shared band-level core, so
    * results are micro-batch-boundary deterministic and exact for
    * maxDist ≤ 3); appends are batch-keyed and overwrite-idempotent;
    * `compactEvery` folds batches into (w, wk)-clustered generations
    * with a one-cycle vacuum grace. A missing or crashed manifest only
    * costs pruning, never rows.
    */
  def mediaDedupGateSinkBanded(spark: SparkSession, stream: DataFrame,
                               id: String, payload: String,
                               storePath: String, outPath: String,
                               checkpoint: String, maxDist: Int = 3,
                               maxBucket: Int = Int.MaxValue,
                               hashFn: (SparkSession, DataFrame)
                                 => DataFrame = (s, df) =>
                                 graft.operators.Multimodal
                                   .imageDHash(s, df).toDF(),
                               compactEvery: Int = 0,
                               compactFilesOut: Int = 4,
                               appendFilesOut: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Multimodal
    val mPath = MediaWindows.manifest(storePath)
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "mediaDedupGateSinkBanded") { (batch, batchId) =>
      // ONE hash pass + ONE window expansion, reused by the prune
      // probes, the gate, and the store append
      val hashes = hashFn(spark,
          batch.select(col(id).cast("long").as("media_id"),
            col(payload).as("payload"))).localCheckpoint()
      val pw = Multimodal.dhashWindowRows(hashes)
      val storeBands = MediaWindows.slice(spark, storePath, mPath, pw)
        .getOrElse(pw.limit(0))
      val dropIds = Multimodal
        .dhashPairsAgainstBands(storeBands, pw, maxDist, maxBucket)
        .select(col("id_b").as("media_id")).distinct()
      val survivors = hashes
        .join(dropIds, Seq("media_id"), "left_anti")
        .localCheckpoint()
      MediaWindows.append(
        Multimodal.dhashWindowRows(survivors.where(col("dhash").isNotNull)),
        storePath, batchId, appendFilesOut)
      writeOutput(survivors.select(col("media_id")), outPath, batchId)
      if (compactDue(compactEvery, batchId))
        compactMediaStoreBanded(spark, storePath, mPath,
          compactFilesOut): Unit
    }
  }

  /** The VIDEO arm of the media gate family: shared-frame near-dup
    * gating against a PERSISTED frame-hash store — multi-hash per doc
    * (the substring gate's store shape, [[substringGateSink]]), not
    * the dhash store's one-hash-per-doc shape. Per micro-batch the
    * payloads chunk+hash ONCE ([[graft.operators.Multimodal
    * .videoFrameRows]]); a batch doc drops when it shares at least
    * `minShared` distinct frame hashes with retained history OR with a
    * smaller-id doc of the same batch; survivors' ids land in
    * `outPath` and survivors' (fh, id) rows append fh-clustered so
    * each later batch's store scan opens only touched-fh files
    * ([[graft.operators.Stats.touchedFiles]]).
    * EMPTY payloads chunk to no frames: they survive and are never
    * stored — the dead-letter stance. (A truncated payload's partial
    * prefix frame IS evidence, deliberately: re-muxed prefixes are the
    * shape shared-frame detection exists for; `minShared ≥ 2` screens
    * single-frame prefix coincidences.)
    * Same durability protocol as every gate here: batch-keyed
    * overwrite-idempotent appends, committed-file store view,
    * generation compaction with one-cycle vacuum grace, manifest loss
    * costs pruning never rows.
    */
  def videoDedupGateSink(spark: SparkSession, stream: DataFrame,
                         id: String, payload: String, storePath: String,
                         outPath: String, checkpoint: String,
                         frameBytes: Int = 64, minShared: Long = 2,
                         maxBucket: Int = 10000,
                         compactEvery: Int = 0,
                         compactFilesOut: Int = 4,
                         appendFilesOut: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Multimodal
    val mPath = VideoFrames.manifest(storePath)
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "videoDedupGateSink") { (batch, batchId) =>
      val media = batch.select(
        col(id).cast("long").as("media_id"),
        col(payload).as("payload"))
      // ONE chunk+hash pass, reused by the prune probes, the
      // gate, and the store append
      val frames = Multimodal.videoFrameRows(media, frameBytes)
        .localCheckpoint()
      val storeFrames = VideoFrames.slice(spark, storePath, mPath,
          frames.select(col("fh")).distinct())
        .getOrElse(frames.select(col("fh"), col("id")).limit(0))
      val dropIds = Multimodal
        .frameDupPairsAgainstRows(storeFrames, frames, minShared,
          maxBucket)
        .select(col("id_b").as("media_id")).distinct()
      val survivors = media.select(col("media_id")).distinct()
        .join(dropIds, Seq("media_id"), "left_anti")
        .localCheckpoint()
      VideoFrames.append(
        frames.join(survivors.select(col("media_id").as("id")),
          Seq("id"), "left_semi"),
        storePath, batchId, appendFilesOut)
      writeOutput(survivors, outPath, batchId)
      if (compactDue(compactEvery, batchId))
        compactFrameStore(spark, storePath, mPath,
          compactFilesOut): Unit
    }
  }

  /** [[compactNearDupStoreBanded]] for the VIDEO frame store: fold
    * batch dirs into an fh-range-clustered generation and refresh the
    * footer manifest (one-cycle vacuum grace, as everywhere).
    */
  def compactFrameStore(spark: SparkSession, storePath: String,
                        manifestPath: String,
                        filesOut: Int): Option[Long] =
    VideoFrames.compact(spark, storePath, manifestPath, filesOut)

  /** [[compactNearDupStoreBanded]] for the banded MEDIA store: fold
    * batch dirs into a (w, wk)-range-clustered generation and refresh
    * the footer manifest (one-cycle vacuum grace, as everywhere).
    */
  def compactMediaStoreBanded(spark: SparkSession, storePath: String,
                              manifestPath: String,
                              filesOut: Int): Option[Long] =
    MediaWindows.compact(spark, storePath, manifestPath, filesOut)

  /** The UNIFIED cross-modal dedup gate — the streaming face of the
    * x_multimodal_dedup capstone: one stream whose rows carry ALL FOUR
    * modality payloads (text + image + audio + video columns), gated
    * per micro-batch against four persisted per-modality stores at
    * once. A batch doc is dropped when ANY arm links it to retained
    * history or to a smaller-id doc of the same batch:
    *
    *   - text: banded-MinHash candidates at `minEstJaccard` (the
    *     [[nearDupGateSinkBanded]] core);
    *   - image: dHash windows at Hamming ≤ `imgMaxDist`
    *     ([[mediaDedupGateSinkBanded]] core);
    *   - audio: acoustic-fingerprint windows at ≤ `audMaxDist`
    *     (same core, separate store);
    *   - video: ≥ `minShared` shared frame hashes
    *     ([[videoDedupGateSink]] core).
    *
    * Each arm hashes the batch ONCE; each store scan opens only
    * manifest-touched files; each arm's evidence is a candidate-edge
    * set and the drop decision is their UNION — so a text-dup of an
    * image-dup of a video-dup all fall to the same survivor, exactly
    * the composition the batch capstone clusters. Survivors' artifacts
    * append to all four stores (dead-letters — null hash / no frames —
    * survive unstored per arm, the established stance); a dropped
    * doc's artifacts are stored NOWHERE, so as with every gate here
    * the pairwise-removal policy is chain-blind within a modality —
    * accumulate [[graft.operators.Dedup.minhashIncrementalCandidatesBanded]]
    * -style edges and reconcile offline (x_multimodal_incremental) for
    * the transitive policy. Durability protocol unchanged: batch-keyed
    * overwrite-idempotent appends, committed-file store views,
    * per-store generation compaction with one-cycle vacuum grace,
    * manifest loss costs pruning never rows. Monotone ids across
    * batches, as every gate here.
    */
  def multimodalGateSink(spark: SparkSession, stream: DataFrame,
                         id: String, text: String, image: String,
                         audio: String, video: String, storeRoot: String,
                         outPath: String, checkpoint: String,
                         n: Int = 3, k: Int = 32, rowsPerBand: Int = 4,
                         minEstJaccard: Double = 0.8,
                         imgMaxDist: Int = 0, audMaxDist: Int = 3,
                         frameBytes: Int = 64, minShared: Long = 3,
                         maxBucket: Int = 10000,
                         compactEvery: Int = 0, compactFilesOut: Int = 4,
                         appendFilesOut: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, Multimodal}
    // one store per arm, each with its `<store>_manifest`
    val arms = Seq(BandedSigs -> "text", MediaWindows -> "img",
        MediaWindows -> "aud", VideoFrames -> "vid")
      .map { case (gate, arm) => gate -> s"$storeRoot/$arm" }
    val Seq(tStore, iStore, aStore, vStore) = arms.map(_._2)
    def slice(gate: GateLayout, store: String, probe: DataFrame) =
      gate.slice(spark, store, gate.manifest(store), probe)
    gateSink(spark, stream, checkpoint, arms.map(_._2),
        "multimodalGateSink") { (batch, batchId) =>
      val b = batch.select(col(id).cast("long").as("mid"),
          col(text).as("text"), col(image).as("img"),
          col(audio).as("aud"), col(video).as("vid"))
        .localCheckpoint()
      val batchRows = b.count()
      // text arm: band once, prune store, edge set
      val newBands = Dedup.lshBuckets(
          Dedup.minhashSigsNative(b, col("mid"), col("text"), n, k),
          rowsPerBand)
        .select(col("band"), col("bucket"), col("id"), col("sig"))
        .localCheckpoint()
      val tSlice = slice(BandedSigs, tStore, newBands)
        .getOrElse(newBands.limit(0))
      val tDrop = Dedup.minhashCandidateEdgesFromBands(newBands,
          tSlice, batchRows, minEstJaccard, maxBucket)
        .select(col("id_b").as("mid"))
      // image arm: hash once, window-expand once
      val imgHashes = Multimodal.imageDHash(spark,
          b.select(col("mid").as("media_id"),
            col("img").as("payload"))).toDF().localCheckpoint()
      val ipw = Multimodal.dhashWindowRows(
        imgHashes.where(col("dhash").isNotNull))
      val iSlice = slice(MediaWindows, iStore,
          ipw.select(col("w"), col("wk")).distinct())
        .getOrElse(ipw.limit(0))
      val iDrop = Multimodal.dhashPairsAgainstBands(iSlice, ipw,
          imgMaxDist, maxBucket)
        .select(col("id_b").as("mid"))
      // audio arm: same window machinery over the acoustic bits
      val audHashes = Multimodal.audioFingerprint(spark,
          b.select(col("mid").as("media_id"),
            col("aud").as("payload"))).toDF().localCheckpoint()
      val apw = Multimodal.dhashWindowRows(
        audHashes.where(col("dhash").isNotNull))
      val aSlice = slice(MediaWindows, aStore,
          apw.select(col("w"), col("wk")).distinct())
        .getOrElse(apw.limit(0))
      val aDrop = Multimodal.dhashPairsAgainstBands(aSlice, apw,
          audMaxDist, maxBucket)
        .select(col("id_b").as("mid"))
      // video arm: chunk+hash once
      val frames = Multimodal.videoFrameRows(
          b.select(col("mid").as("media_id"),
            col("vid").as("payload")), frameBytes)
        .localCheckpoint()
      val vSlice = slice(VideoFrames, vStore,
          frames.select(col("fh")).distinct())
        .getOrElse(frames.select(col("fh"), col("id")).limit(0))
      val vDrop = Multimodal.frameDupPairsAgainstRows(vSlice,
          frames, minShared, maxBucket)
        .select(col("id_b").as("mid"))
      // the union IS the cross-modal composition
      val dropIds = tDrop.unionAll(iDrop).unionAll(aDrop)
        .unionAll(vDrop).distinct()
      val survivors = b.select(col("mid"))
        .join(dropIds, Seq("mid"), "left_anti")
        .localCheckpoint()
      val keepIds = survivors.select(col("mid").as("id"))
      arms.zip(Seq(newBands, ipw, apw, frames)).foreach {
        case ((gate, store), rows) =>
          gate.append(rows.join(keepIds, Seq("id"), "left_semi"), store,
            batchId, appendFilesOut)
      }
      writeOutput(survivors.select(col("mid")), outPath, batchId)
      if (compactDue(compactEvery, batchId))
        arms.foreach { case (gate, store) =>
          gate.compact(spark, store, gate.manifest(store),
            compactFilesOut): Unit
        }
    }
  }

  /** Streaming EMBEDDING near-dup gate: the [[nearDupGateSink]]
    * protocol for vectors, executed by the batch pipeline's own
    * [[graft.operators.Dedup.embeddingIncremental]] — per micro-batch,
    * codes hash ONCE, the store's code scan is semi-filtered to
    * batch-touched (table, bucket) entries, exact cosine verifies only
    * batch-bounded candidates, and a batch doc drops when it
    * near-matches (cos ≥ `threshold`) any stored vector or smaller-id
    * batch sibling. Survivors append their CODES (24-byte rows, the
    * persistable ~0.1%-of-vector-bytes form) and their vectors to the
    * two store shapes; both appends are overwrite-idempotent
    * `batch=<id>` dirs under the generation-aware reader, so
    * [[compactNearDupStore]]-shaped maintenance applies to each.
    * Same monotone-id contract as the text gate.
    */
  def embedDedupGateSink(spark: SparkSession, stream: DataFrame,
                         id: String, vec: String, storePath: String,
                         outPath: String, checkpoint: String,
                         threshold: Double = 0.9, planes: Int = 8,
                         tables: Int = 8, multiprobe: Int = 1,
                         dim: Int = 64, compactEvery: Int = 0,
                         compactFilesOut: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "embedDedupGateSink") { (batch, batchId) =>
      val base = batch.select(col(id).cast("long").as("id"),
        col(vec).as("vec")).localCheckpoint()
      val storeCodes = EmbedCodes.live(spark, storePath)
        .getOrElse(Dedup.embeddingCodes(base.limit(0), col("id"),
          col("vec"), planes, tables, dim))
      val storeVecs = EmbedVecs.live(spark, storePath)
        .getOrElse(base.limit(0))
      val dropIds = Dedup.embeddingIncremental(base, col("id"),
          col("vec"), storeCodes, storeVecs, threshold, planes,
          tables, multiprobe, dim)
        .select(col("id_b").as("id")).distinct()
      val survivors = base.join(dropIds, Seq("id"), "left_anti")
        .localCheckpoint()
      EmbedCodes.append(Dedup.embeddingCodes(survivors, col("id"),
        col("vec"), planes, tables, dim), storePath, batchId)
      EmbedVecs.append(survivors, storePath, batchId)
      writeOutput(survivors.select(col("id")), outPath, batchId)
      if (compactDue(compactEvery, batchId))
        compactEmbedStore(spark, storePath, compactFilesOut): Unit
    }
  }

  /** [[compactNearDupStore]] for the embedding gate's TWO sibling
    * dirs (`codes/` + `vecs/` under one root, one shared
    * `<root>_deleted` tombstone set): both fold minus tombstoned
    * rows, then the set clears — clear only after BOTH folds, so a
    * crash between them leaves the tombstones in force for the
    * retry.
    */
  def compactEmbedStore(spark: SparkSession, storePath: String,
                        filesOut: Int): Option[Long] = {
    val Seq(tokC, tokV) = gateTombstones(storePath).foldWithout(spark,
      "compactEmbedStore",
      Seq(EmbedCodes, EmbedVecs).map(_.folded(storePath, filesOut)))
    tokC.orElse(tokV)
  }

  /** Generic committed-store view for a gate store dir: newest
    * committed generation + newer batch dirs, projected to `cols`
    * (the [[GateLayout.view]] of a store declaring just `cols`).
    */
  private[graft] def gateStoreView(spark: SparkSession, storePath: String,
                                   cols: Seq[String]): Option[DataFrame] =
    GateLayout(cols).view(spark, storePath)

  /** Streaming DSIR selection gate ([[graft.operators.Selection]], the
    * importance-resampling quality filter): every micro-batch is
    * featurized ONCE, scored against the model as of the PRIOR batches
    * (fixed target counts + accumulated raw counts), docs with
    * quantized importance score ≥ `minScore` append to `outPath`, and
    * the batch's raw counts fold into the persisted model.
    *
    * Scale/retry design, the [[nearDupGateSink]] protocol applied to a
    * ≤ `buckets`-row model instead of a signature store:
    *  - Model state is CUMULATIVE and idempotently keyed: batch k
    *    overwrites `model=k` = (newest committed model < k) folded with
    *    its own counts — a Structured Streaming retry rewrites the same
    *    dir with the same content, never double-counts. Readers take
    *    the newest COMMITTED dir ([[Cumulative]] — crashed writes
    *    invisible), so the store survives mid-write failures.
    *  - Bootstrap: no committed model → the target-only table
    *    (`targetBt`, the [[graft.operators.Selection.dsirBucketTable]]
    *    target side with rcnt = 0) — a caller-fitted TINY artifact.
    *  - Per batch the work is one batch-sized featurize + aggregate, a
    *    broadcast join against ≤ `buckets` rows, and a ≤ `buckets`-row
    *    model write: history is NEVER re-featurized (the bucket counts
    *    are an additive monoid — final model ≡ from-scratch fit,
    *    spec-pinned).
    */
  def dsirGateSink(spark: SparkSession, stream: DataFrame,
                   id: String, text: String, targetBt: DataFrame,
                   modelPath: String, outPath: String, checkpoint: String,
                   buckets: Int, minScore: Long)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Selection
    gateSink(spark, stream, checkpoint, Seq(modelPath),
        "dsirGateSink") { (batch, batchId) =>
      val feats = Selection.dsirFeatures(batch, col(id), col(text),
        buckets).localCheckpoint()
      val model = dsirModelView(spark, modelPath, batchId)
        .getOrElse(targetBt.select(col("f"), col("tcnt"),
          lit(0L).as("rcnt")))
      // LEFT join + coalesce-0: a doc with no bucket overlap with
      // the model (or no grams at all) has score 0 — absent
      // buckets contribute qlog3(1) − qlog3(1) = 0 — and must
      // survive when minScore <= 0, not be silently dropped by an
      // inner join that produced no score row for it
      val scores = Selection.dsirQuantizedScores(feats, model)
      writeOutput(batch.join(scores.select(col("id").as("__sid"),
            col("score")), col(id) === col("__sid"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
        .where(col("score") >= minScore)
        .drop("__sid"), outPath, batchId)
      models(modelPath).write(batchId,
        Selection.refreshBucketTable(model, feats))
    }
  }

  /** Newest committed cumulative DSIR model with id < `beforeBatch`
    * (retry safety: a re-run of batch k must not see its own crashed
    * or previous `model=k` write). None = bootstrap.
    */
  private[graft] def dsirModelView(spark: SparkSession, modelPath: String,
                                   beforeBatch: Long): Option[DataFrame] =
    models(modelPath).before(spark, beforeBatch)

  /** A cumulative artifact sequence under `root` — the DSIR and LM
    * models (`model=<k>`) and the KMV and profile sketches
    * (`sketch=<k>`): batch k overwrites `<root>/<prefix>=<k>` with the
    * newest committed artifact below k folded with its own batch, so a
    * retry rewrites the same dir with the same content. Commit is
    * judged by reader-visible parquet
    * ([[graft.operators.Stats.hasCommittedParquet]]), so a crashed
    * write is skipped for the next older one.
    */
  private final case class Cumulative(root: String, prefix: String) {
    // the committed (k, dir) with the largest k below `bound`
    private def newest(spark: SparkSession,
                       bound: Long): Option[(Long, String)] = {
      val r = new org.apache.hadoop.fs.Path(root)
      val fs = r.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(r)) None
      else fs.listStatus(r).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(s"$prefix="))
        .map(p => (p.getName.drop(prefix.length + 1).toLong, p))
        .filter(_._1 < bound).sortBy(-_._1)
        .find(a => Stats.hasCommittedParquet(fs, a._2))
        .map(a => (a._1, a._2.toString))
    }

    /** The newest committed artifact with k < `beforeBatch` (a re-run
      * of batch k never sees its own earlier write), read under its
      * footer's schema with no Spark job; None = bootstrap.
      */
    def before(spark: SparkSession, beforeBatch: Long): Option[DataFrame] =
      newest(spark, beforeBatch).map(a => Stats.readDirs(spark, Seq(a._2)))

    /** The newest committed k — the sequence head; Long.MinValue when
      * nothing is committed.
      */
    def head(spark: SparkSession): Long =
      newest(spark, Long.MaxValue).fold(Long.MinValue)(_._1)

    /** Write `artifact` as `<prefix>=<k>` in one file
      * (overwrite-idempotent).
      */
    def write(k: Long, artifact: DataFrame): Unit =
      artifact.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$root/$prefix=$k")
  }

  private def models(modelPath: String) = Cumulative(modelPath, "model")
  private def sketches(sketchPath: String) = Cumulative(sketchPath, "sketch")

  /** One cumulative-model retraction step — the shared shape of the
    * DSIR and LM families: skip already-deleted ids via the model's
    * `deleted/` set (a double-delete must not double-subtract), write
    * the fresh tombstones, then write `subtract(newest model, fresh)`
    * as the next `model=` generation on the cumulative sequence.
    * Retries recompute the same content (both views read strictly
    * below `sb`); no committed model yet = nothing fitted to forget.
    */
  private def retractCumulativeModel(spark: SparkSession,
                                     modelPath: String, ids: DataFrame,
                                     sb: Long)
      (subtract: (DataFrame, DataFrame) => DataFrame): Unit =
    dsirModelView(spark, modelPath, sb).foreach { m =>
      val fresh = KeyedStore.tombstones(modelPath, "/deleted",
          "modelDeletedIds")
        .writeFresh(spark, "retractCumulativeModel", sb)(ids)
      models(modelPath).write(sb, subtract(m, fresh))
    }

  /** Streaming LM perplexity gate ([[graft.operators.LanguageModel]],
    * the CCNet-style quality filter as a running stream stage): every
    * micro-batch is bigram-featurized ONCE, scored against the bigram
    * model as of the PRIOR batches (quantized-log arm), docs whose
    * mean score clears the rational floor `num/den` append to
    * `outPath`, and the batch's counts fold into the persisted model.
    *
    * State protocol is [[dsirGateSink]]'s cumulative-artifact pattern
    * on the count monoid: batch k overwrites `model=k` = (newest
    * committed model < k) + its own counts — a retry rewrites the same
    * dir with the same content; readers take the newest COMMITTED dir,
    * so crashed writes are invisible. Per batch the work is one
    * featurize + aggregate, a measured-regime join against the pruned
    * model, and a model-sized write: history is never re-tokenized
    * (final model ≡ from-scratch fit — the monoid law, spec-pinned).
    * Bootstrap (no committed model): V = 0 and every term is
    * qlog3(1) − qlog3(0) = 0, so batch 0 passes whole — no model, no
    * evidence to reject, the same stance as the novelty gates. Docs
    * with < 2 tokens carry no bigrams and score 0 (vacuously
    * predictable — route by token count separately if needed).
    */
  def lmGateSink(spark: SparkSession, stream: DataFrame,
                 id: String, text: String, modelPath: String,
                 outPath: String, checkpoint: String,
                 num: Long, den: Long)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.LanguageModel
    require(den > 0, "den must be > 0")
    gateSink(spark, stream, checkpoint, Seq(modelPath),
        "lmGateSink") { (batch, batchId) =>
      val feats = LanguageModel.lmFeatures(batch, col(id),
        col(text)).localCheckpoint()
      val model = dsirModelView(spark, modelPath, batchId)
        .getOrElse(LanguageModel.lmModel(feats.limit(0)))
      val scores = LanguageModel.lmScoreFromFeatures(feats, model)
      writeOutput(batch.join(scores.select(col("id").as("__sid"),
            col("n_bigrams"), col("score")),
          col(id) === col("__sid"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
        .withColumn("n_bigrams",
          coalesce(col("n_bigrams"), lit(0L)))
        .where(col("score") * den >= lit(num) * col("n_bigrams"))
        .drop("__sid"), outPath, batchId)
      models(modelPath).write(batchId,
        LanguageModel.refreshModel(model, feats))
    }
  }

  /** Streaming ENTITY-RESOLUTION gate
    * ([[graft.operators.Resolution]]): a stream of (record id, name)
    * rows maintains a deduplicated entity dictionary — per micro-batch
    * the batch collapses to distinct-name entities ONCE, a batch
    * entity drops when its name is within levenshtein `maxDist` of any
    * STORED entity (distance 0 = the name is already known) or of a
    * smaller-eid batch sibling, surviving entities append to the
    * dictionary, and records of surviving entities append to
    * `outPath`. The standard store protocol throughout: the dictionary
    * persists blkh-range-clustered `batch=<id>` dirs
    * (overwrite-idempotent) with a footer manifest, each batch's store
    * scan opens only touched-block files
    * ([[graft.operators.Stats.touchedFiles]]), the
    * in-block compare is capped by `maxBlock` pre-counted over the
    * combined slice∪batch (the batch-twin cap semantics), and
    * `compactEvery` folds batch dirs into blkh-clustered generations
    * ([[compactEntityStoreGen]]). Same monotone-id contract as the
    * other gates; store entities never drop.
    */
  def erGateSink(spark: SparkSession, stream: DataFrame,
                 id: String, name: String, storePath: String,
                 outPath: String, checkpoint: String,
                 maxDist: Int = 3, maxBlock: Int = Int.MaxValue,
                 compactEvery: Int = 0, compactFilesOut: Int = 4,
                 appendFilesOut: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Resolution
    val mPath = Entities.manifest(storePath)
    gateSink(spark, stream, checkpoint, Seq(storePath),
        "erGateSink") { (batch, batchId) =>
      val batchRec = batch.select(col(id).cast("long").as("rid"),
        col(name).as("nm")).localCheckpoint()
      // ONE collapse + block-key pass, reused by the prune probe,
      // the gate compare, and the store append
      val batchK = Resolution.keyed(
        Resolution.entities(batchRec, col("rid"), col("nm")),
        Resolution.firstTokenBlock).localCheckpoint()
      val small = Regime.fits(batchK.count())
      def bc(df: DataFrame): DataFrame =
        if (small) broadcast(df) else df.hint("shuffle_hash")
      val storeSlice = erStoreSliceFor(spark, storePath, mPath,
        batchK, batchK.limit(0))
      val storeTouched = storeSlice
        .join(bc(batchK.select(col("blkh")).distinct()),
          Seq("blkh"), "left_semi")
      val dropEids = erGateDropEids(storeTouched, batchK,
        maxDist, maxBlock)
      val survEnts = batchK
        .join(bc(dropEids), Seq("eid"), "left_anti")
        .localCheckpoint()
      writeOutput(batchRec
        .join(survEnts.select(col("nm")), Seq("nm"), "left_semi"),
        outPath, batchId)
      Entities.append(survEnts, storePath, batchId, appendFilesOut)
      if (compactDue(compactEvery, batchId))
        compactEntityStoreGen(spark, storePath, mPath,
          compactFilesOut): Unit
    }
  }

  /** The ER gate's candidate pair expansion, BEFORE the levenshtein
    * confirm: (eid_a, nm_a, st_a, eid_b, nm_b) in-block pairs whose
    * right side is STRUCTURALLY batch-only — the right relation is
    * `cand.where(!__st)`, a filter applied below the join rather than
    * above it, so a store×store pair cannot form and cannot reach the
    * edit-distance evaluation regardless of optimizer pushdown (the
    * same one-sided law as [[graft.operators.Resolution.candidatePairs]]).
    * Block sizes are pre-counted over the combined slice∪batch, the
    * batch-twin cap semantics.
    */
  private[graft] def erGatePairs(storeTouched: DataFrame,
                                 batchK: DataFrame,
                                 maxBlock: Int): DataFrame = {
    import graft.operators.Resolution
    val combined = storeTouched
      .withColumn("__st", lit(true))
      .unionByName(batchK.withColumn("__st", lit(false)))
    val cand = Resolution.capBlocks(combined, maxBlock)
    cand.select(col("blkh"), col("eid").as("eid_a"),
        col("nm").as("nm_a"), col("__st").as("st_a"))
      .join(cand.where(!col("__st"))
        .select(col("blkh"), col("eid").as("eid_b"),
          col("nm").as("nm_b")), Seq("blkh"))
      .select(col("eid_a"), col("nm_a"), col("st_a"),
        col("eid_b"), col("nm_b"))
  }

  /** Batch eids the ER gate drops: a batch entity is within `maxDist`
    * of a STORED entity (any order) or of a smaller-eid batch sibling.
    * The confirm filter runs over [[erGatePairs]]' batch-sided
    * candidates only.
    */
  private[graft] def erGateDropEids(storeTouched: DataFrame,
                                    batchK: DataFrame, maxDist: Int,
                                    maxBlock: Int): DataFrame = {
    val d = levenshtein(col("nm_a"), col("nm_b"), maxDist)
    erGatePairs(storeTouched, batchK, maxBlock)
      .where(d >= 0 && (col("st_a") || col("eid_a") < col("eid_b")))
      .select(col("eid_b").as("eid")).distinct()
  }

  /** Streaming BM25 INDEX MAINTENANCE: each micro-batch of (id, text)
    * documents lands in the persisted inverted index
    * ([[graft.operators.Retrieval.writeBm25Index]] /
    * [[graft.operators.Retrieval.appendBm25Index]]) — batch 0
    * bootstraps, later batches append overwrite-idempotently
    * (`batch=<micro-batch id>` dirs for postings/doclen/stats, footer-
    * only manifest refreshes, history never re-tokenized), and
    * `compactEvery` folds the accumulated appends into th-clustered
    * generations ([[graft.operators.Retrieval.compactBm25Index]])
    * serially between micro-batches. [[graft.operators.Retrieval
    * .bm25TopKIndexed]] and the set-oriented
    * [[graft.operators.Retrieval.bm25TopKIndexedMany]] answer over
    * everything ingested so far at any point. Doc ids must be globally
    * new (upstream exact-dedup owns that, as everywhere); restarting
    * the stream WITHOUT its checkpoint over an existing index would
    * reuse micro-batch ids — the standard gate-store contract.
    * `batchIdBase` offsets the store batch ids (`base + micro-batch
    * id`) — set it above a [[retractionGateSink]] run's range to
    * resume ingestion on the index's shared monotone sequence (the
    * [[graft.operators.Stats.requireMonotoneBatch]] guard rejects a
    * resume below it).
    */
  def bm25IndexGateSink(spark: SparkSession, stream: DataFrame,
                        id: String, text: String, indexDir: String,
                        checkpoint: String, compactEvery: Int = 0,
                        compactFilesOut: Int = 16,
                        appendFilesOut: Int = 4,
                        batchIdBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Retrieval
    gateSink(spark, stream, checkpoint, Seq(indexDir),
        "bm25IndexGateSink") { (batch, batchId) =>
      val sb = batchIdBase + batchId
      if (sb == 0L)
        Retrieval.writeBm25Index(batch, col(id), col(text),
          indexDir, filesOut = appendFilesOut)
      else
        Retrieval.appendBm25Index(batch, col(id), col(text),
          indexDir, sb, filesOut = appendFilesOut)
      if (compactDue(compactEvery, batchId))
        Retrieval.compactBm25Index(spark, indexDir,
          compactFilesOut): Unit
    }
  }

  /** Streaming PCA-moment maintenance: each micro-batch of vectors
    * appends its [[graft.operators.Similarity.pcaMoments]] to the
    * additive moment store — integer sufficient statistics make the
    * streamed store EXACTLY the from-scratch moments of everything
    * streamed so far (not an approximation), so a periodic
    * [[graft.operators.Similarity.fitPcaFromMoments]] refit reads
    * d(d+3)/2 rows, never the corpus. Micro-batch ids are the
    * overwrite-idempotent batch keys (a replayed batch after a crash
    * rewrites its own directory); `compactEvery` folds batches into
    * one pre-summed generation via the shared OPTIMIZE primitive.
    */
  def pcaMomentsGateSink(spark: SparkSession, stream: DataFrame,
                         vec: String, storeDir: String,
                         checkpoint: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    gateSink(spark, stream, checkpoint, Seq(storeDir),
        "pcaMomentsGateSink") { (batch, batchId) =>
      Similarity.appendPcaMoments(batch, col(vec), storeDir,
        batchId)
      if (compactDue(compactEvery, batchId))
        Similarity.compactPcaMoments(spark, storeDir): Unit
    }
  }

  /** Streaming CORESET maintenance: the first non-empty micro-batch
    * bootstraps the greedy k-center store
    * ([[graft.operators.Similarity.writeKCenterStore]], `k` picks);
    * every later batch extends it with `kNew` batch-only
    * farthest-first picks ([[graft.operators.Similarity
    * .kCenterExtend]] — per-batch work is batch-sized, adding centers
    * never worsens coverage). Store-batch ids are stream-batch + 1
    * (batch=0 is the bootstrap base), ranks are disjoint across
    * batches, and a replayed micro-batch overwrites its own directory
    * — the shared gate-store contract. Read the coreset between
    * batches via [[graft.operators.Similarity.kCenterStoreCenters]].
    */
  def kCenterGateSink(spark: SparkSession, stream: DataFrame,
                      id: String, vec: String, k: Int, kNew: Int,
                      storeDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    gateSink(spark, stream, checkpoint, Seq(storeDir),
        "kCenterGateSink") { (batch, batchId) =>
      if (Similarity.kCenterStore(storeDir).committedDirs(spark).isEmpty)
        Similarity.writeKCenterStore(batch, col(id), col(vec), k,
          storeDir)
      else
        Similarity.kCenterExtend(batch, col(id), col(vec),
          storeDir, batchId + 1, kNew): Unit
    }
  }

  /** Streaming RETRACTION gate — the takedown pipeline as a stream:
    * each micro-batch of ids to forget applies tombstone deletes to
    * the serving stores in one hop — the BM25 index
    * ([[graft.operators.Retrieval.deleteBm25Docs]]: postings hidden
    * before df recovery, one negative stats row) and the PQ-code
    * store ([[graft.operators.Similarity.pqStoreDelete]]: cell = −1
    * rows the newest-wins fold hides) and the banded near-dup
    * signature store ([[deleteFromNearDupStore]]: retracted docs stop
    * suppressing future near-duplicates) and the additive PCA moment
    * store ([[graft.operators.Similarity.deletePcaMoments]]: one
    * NEGATIVE moment batch per micro-batch, derived from the deleted
    * ids' vectors fetched from `pcaVecs` — every later refit lands
    * exactly on the surviving corpus) and the per-unit KMV sketch
    * store ([[graft.operators.Overlap.deleteKmvUnits]]: the group
    * fold re-folds survivors, exact by the merge-semigroup law) and
    * the DSIR and LM gates' cumulative models
    * ([[graft.operators.Selection.retractBucketTable]] /
    * [[graft.operators.LanguageModel.retractModel]]: the newest
    * committed model minus the deleted docs' counts lands as the next
    * `model=` generation — integer monoids, so later ingestion folds
    * on top exactly; deleted doc text is fetched from
    * `dsirDocs`/`lmDocs`, and each model's `deleted/` id set guards
    * double-subtraction) and the k-center coreset store
    * ([[graft.operators.Similarity.rebuildKCenterStore]]: a
    * tombstoned CENTER triggers a full-trace rebuild over
    * `kcenterVecs` minus every tombstoned id — written immediately,
    * zero staleness — while a non-center deletion is provably a
    * trace no-op and skips the rebuild; the `deleted/` set is
    * permanent, so a retracted id is unreinstatable through this
    * gate). `gateStorePaths` extends the takedown to ANY further
    * id-keyed gate store (substring fingerprints, media/audio hash
    * windows, video frames, embedding codes+vecs, the four
    * multimodal arm stores) and `erStorePaths` to entity
    * dictionaries keyed by eid — all share
    * [[deleteFromNearDupStore]]'s tombstone set, which every store
    * read path anti-joins immediately; their PHYSICAL drop rides the
    * owning gate's own `compactEvery` cycle (each store compactor
    * folds survivors only and clears the set), not this sink's.
    * Store batch ids are
    * `base + micro-batch id` where `base` is RESOLVED AT START from
    * the covered stores themselves: max(`batchIdBase`, newest
    * committed gen/batch token across every covered store + 1) — the
    * retraction batches continue the SAME monotone sequence ingestion
    * appends use, so a later compaction can never make lower-id
    * ingestion batches invisible (each store op re-checks via
    * [[graft.operators.Stats.requireMonotoneBatch]] and fails loudly
    * on a violation). The flip side of one shared sequence: ingestion
    * into these stores must be quiesced while the retraction stream
    * runs, and must RESUME ABOVE the retraction range (the guards
    * enforce it). Both deletes are overwrite-idempotent per batch and
    * semantically idempotent per id (a re-streamed id is skipped on
    * the BM25 side, and on the PQ side a newer tombstone of a dead id
    * changes nothing) — which also covers a stream RESTART from its
    * checkpoint: the base re-resolves above the first run's writes,
    * so a replayed micro-batch lands at a fresh id whose content is a
    * semantic no-op. `compactEvery` folds the stores between
    * micro-batches — the physical drop (until then deletions apply at
    * read time).
    */
  def retractionGateSink(spark: SparkSession, stream: DataFrame,
                         id: String, bm25IndexDir: Option[String],
                         pqStoreDir: Option[String], checkpoint: String,
                         batchIdBase: Long = 1000000L,
                         compactEvery: Int = 0, filesOut: Int = 4,
                         sigStorePath: Option[String] = None,
                         pcaStoreDir: Option[String] = None,
                         pcaVecs: Option[DataFrame] = None,
                         kmvStoreDir: Option[String] = None,
                         dsirModelPath: Option[String] = None,
                         dsirDocs: Option[DataFrame] = None,
                         dsirBuckets: Int = 4096,
                         lmModelPath: Option[String] = None,
                         lmDocs: Option[DataFrame] = None,
                         kcenterStoreDir: Option[String] = None,
                         kcenterVecs: Option[DataFrame] = None,
                         gateStorePaths: Seq[String] = Nil,
                         erStorePaths: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Overlap, Retrieval, Selection, Similarity}
    require(bm25IndexDir.isDefined || pqStoreDir.isDefined ||
      sigStorePath.isDefined || pcaStoreDir.isDefined ||
      kmvStoreDir.isDefined || dsirModelPath.isDefined ||
      lmModelPath.isDefined || kcenterStoreDir.isDefined ||
      gateStorePaths.nonEmpty || erStorePaths.nonEmpty,
      "retractionGateSink: nothing to maintain")
    // the k-center store keeps only the k centers, so a center-hit
    // rebuild needs the surviving corpus: kcenterVecs is the
    // (id, vec) relation the trace re-fits from
    require(kcenterStoreDir.isEmpty || kcenterVecs.isDefined,
      "retractionGateSink: kcenterStoreDir needs kcenterVecs (an " +
        "(id, vec) relation to rebuild the trace from)")
    require(dsirModelPath.isEmpty || dsirDocs.isDefined,
      "retractionGateSink: dsirModelPath needs dsirDocs (an (id, text) " +
        "relation to featurize the retracted docs from)")
    require(lmModelPath.isEmpty || lmDocs.isDefined,
      "retractionGateSink: lmModelPath needs lmDocs (an (id, text) " +
        "relation to featurize the retracted docs from)")
    // the PCA moment store keeps only aggregated statistics, so the
    // retraction needs the deleted docs' vectors: pcaVecs is the
    // (id, vec) corpus relation to fetch them from
    require(pcaStoreDir.isEmpty || pcaVecs.isDefined,
      "retractionGateSink: pcaStoreDir needs pcaVecs (an (id, vec) " +
        "relation to fetch the retracted docs' vectors from)")
    val fenceRoots = bm25IndexDir.toSeq ++ pqStoreDir.toSeq ++
      sigStorePath.toSeq ++ pcaStoreDir.toSeq ++ kmvStoreDir.toSeq ++
      dsirModelPath.toSeq ++ lmModelPath.toSeq ++
      kcenterStoreDir.toSeq ++ gateStorePaths ++ erStorePaths
    gateSink(spark, stream, checkpoint, fenceRoots,
        "retractionGateSink") {
      // the batch base resolves UNDER the lease: no writer can commit
      // between the head read and this sink's first write, so the
      // resolved sequence position can never be stale
      val base: Long = {
        val roots = bm25IndexDir.map(p => s"$p/stats").toSeq ++
          pqStoreDir.toSeq ++
          (sigStorePath.toSeq ++ gateStorePaths ++ erStorePaths)
            .flatMap(p => Seq(p, gateTombstones(p).root)) ++
          (pcaStoreDir.toSeq ++ kmvStoreDir ++ kcenterStoreDir)
            .flatMap(p => Seq(p, s"$p/deleted")) ++
          (dsirModelPath.toSeq ++ lmModelPath.toSeq)
            .map(p => s"$p/deleted")
        val head = (roots.map { r =>
          val (g, b) = Stats.committedTokens(spark, r)
          math.max(g, b)
        } ++ (dsirModelPath.toSeq ++ lmModelPath.toSeq)
          .map(p => models(p).head(spark))).max
        math.max(batchIdBase,
          if (head == Long.MinValue) 0L else head + 1L)
      }
      (batch: DataFrame, batchId: Long) => {
        val ids = batch.select(col(id).as("id"))
        val sb = base + batchId
        bm25IndexDir.foreach(p =>
          Retrieval.deleteBm25Docs(spark, p, ids, sb, filesOut))
        pqStoreDir.foreach(p =>
          Similarity.pqStoreDelete(ids, p, sb, filesOut))
        sigStorePath.foreach(p =>
          deleteFromNearDupStore(spark, p, ids, sb))
        // any further id-keyed gate stores (substring fps, media/
        // audio windows, video frames, embed codes+vecs, multimodal
        // arms) share the same tombstone op; ER stores tombstone by
        // entity id through the same set schema
        (gateStorePaths ++ erStorePaths).foreach(p =>
          deleteFromNearDupStore(spark, p, ids, sb))
        pcaStoreDir.foreach(p =>
          Similarity.deletePcaMoments(
            pcaVecs.get.join(ids, Seq("id"), "left_semi"),
            col("id"), col("vec"), p, sb))
        kmvStoreDir.foreach(p =>
          Overlap.deleteKmvUnits(ids.select(col("id").as("unit")),
            p, sb))
        dsirModelPath.foreach(p =>
          retractCumulativeModel(spark, p, ids, sb) { (m, fresh) =>
            Selection.retractBucketTable(m,
              Selection.dsirFeatures(
                dsirDocs.get.join(fresh, Seq("id"), "left_semi"),
                col("id"), col("text"), dsirBuckets))
          })
        lmModelPath.foreach(p =>
          retractCumulativeModel(spark, p, ids, sb) { (m, fresh) =>
            graft.operators.LanguageModel.retractModel(m,
              graft.operators.LanguageModel.lmFeatures(
                lmDocs.get.join(fresh, Seq("id"), "left_semi"),
                col("id"), col("text")))
          })
        kcenterStoreDir.foreach { p =>
          // tombstone first (cumulative, PCA-style permanent set:
          // every rebuild re-reads kcenterVecs, which still holds
          // the retracted rows — retracted ids are unreinstatable
          // through this gate); then rebuild ONLY on a center hit —
          // a non-center deletion is provably a trace no-op
          // (SimilaritySpec pins it), so the stored trace already
          // equals the from-scratch trace over survivors
          val tomb = KeyedStore.tombstones(p, "/deleted",
            "kCenterDeletedIds")
          graft.operators.Rounds.free(
            tomb.writeFresh(spark, "retractionGateSink", sb)(ids))
          val deleted = graft.operators.Checkpoints.stage(
            tomb.deletedBefore(spark).get)
          val centers = Similarity.kCenterStoreCenters(spark, p)
          val hit = centers.join(deleted, Seq("id"), "left_semi")
            .limit(1).count() > 0
          if (hit) {
            val k = centers.count().toInt
            Similarity.rebuildKCenterStore(
              kcenterVecs.get.join(deleted, Seq("id"), "left_anti"),
              col("id"), col("vec"), k, p): Unit
          }
        }
        if (compactDue(compactEvery, batchId)) {
          bm25IndexDir.foreach(p =>
            Retrieval.compactBm25Index(spark, p, filesOut): Unit)
          pqStoreDir.foreach(p =>
            Similarity.compactPqCodeStore(spark, p, filesOut): Unit)
          sigStorePath.foreach(p =>
            compactNearDupStoreBanded(spark, p, BandedSigs.manifest(p),
              filesOut): Unit)
          pcaStoreDir.foreach(p =>
            Similarity.compactPcaMoments(spark, p): Unit)
          kmvStoreDir.foreach(p =>
            Overlap.compactKmvUnitStore(spark, p, filesOut): Unit)
        }
      }
    }
  }

  /** Streaming GRAPH RETRACTION — node takedowns flowed through the
    * graph stores [[graphGateSink]] maintains. Deletion is the one
    * direction the warm-start forms cannot absorb (removing a cut
    * vertex SPLITS components/SCCs, and the maintenance soundness
    * arguments rest on insertions only merging), so the takedown is
    * two-phase — the rebuild-on-retract posture:
    *
    *   1. per micro-batch, the retracted NODE ids land in a
    *      `<edgesPath>_deleted_nodes/batch=<id>` tombstone set
    *      (overwrite-idempotent; set semantics make re-streamed ids
    *      harmless);
    *   2. every `compactEvery` batches, the edge store compacts to
    *      SURVIVING edges only (both endpoints live), the tombstone
    *      set is cleared (nothing additive remembers a node — a
    *      later re-observed edge legitimately re-adds it), and the
    *      opted-in analytics stores REBUILD from the surviving edge
    *      list as superseding generations
    *      ([[graft.operators.Graph.rebuildCCStore]] /
    *      [[graft.operators.Graph.rebuildSccStore]] /
    *      [[graft.operators.Graph.rebuildLandmarkStore]] /
    *      [[graft.operators.Graph.rebuildTriangleStore]] /
    *      [[graft.operators.Graph.rebuildKCoreStore]] /
    *      [[graft.operators.Graph.rebuildPageRankStore]] /
    *      [[graft.operators.Graph.rebuildHitsStore]] /
    *      [[graft.operators.Graph.rebuildLouvainStore]] /
    *      [[graft.operators.Graph.rebuildLabelState]] — all NINE
    *      gate forms retractable, each an atomic view flip; later
    *      incremental batches must continue above the generation,
    *      which the monotone guards enforce). Per-form notes: the
    *      landmark rebuild drops retracted PIVOTS from the frozen
    *      set (`landmarkMaxDepth` must match the store's bootstrap
    *      depth); the value-iteration stores (PageRank / HITS /
    *      Louvain) rebuild COLD, not warm — a warm seed carries the
    *      deleted edges' influence forever, failing right-to-be-
    *      forgotten — with the round/iter knobs matching each
    *      store's bootstrap; the label rebuild re-runs the full
    *      k-round vote history over `labelSeeds` minus the retracted
    *      nodes (a deleted node's seed label is forgotten data).
    *
    * Between a takedown and its compaction the stores serve the
    * pre-delete state — the DOCUMENTED staleness window of
    * rebuild-on-retract (the spec pins post-compaction ≡ from-scratch
    * over survivors, splits included). Run this against a QUIESCED
    * [[graphGateSink]], and resume ingestion above the rebuild
    * generations — the shared monotone-sequence contract.
    */
  def graphRetractionSink(spark: SparkSession, stream: DataFrame,
                          id: String, edgesPath: String,
                          checkpoint: String,
                          ccStorePath: Option[String] = None,
                          sccStorePath: Option[String] = None,
                          landmarkStorePath: Option[String] = None,
                          landmarkMaxDepth: Int = 6,
                          triStorePath: Option[String] = None,
                          kcoreStorePath: Option[String] = None,
                          kcoreK: Int = 3,
                          prStorePath: Option[String] = None,
                          prIters: Int = 5,
                          hitsStorePath: Option[String] = None,
                          hitsIters: Int = 5,
                          louvainStorePath: Option[String] = None,
                          louvainRounds: Int = 3,
                          labelStorePath: Option[String] = None,
                          labelSeeds: Option[DataFrame] = None,
                          labelSeedId: String = "id",
                          labelSeedLabel: String = "label",
                          labelIters: Int = 3,
                          compactEvery: Int = 0, filesOut: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Graph
    val store = graphEdgeStore(edgesPath)
    val tomb = KeyedStore.tombstones(edgesPath, "_deleted_nodes",
      "graphDeletedNodes", "id" -> "bigint")
    val fenceRoots = Seq(edgesPath) ++ ccStorePath ++
      sccStorePath ++ landmarkStorePath ++ triStorePath ++
      kcoreStorePath ++ prStorePath ++ hitsStorePath ++
      louvainStorePath ++ labelStorePath
    gateSink(spark, stream, checkpoint, fenceRoots,
        "graphRetractionSink") { (batch, batchId) =>
      graft.operators.Rounds.free(tomb.writeFresh(spark,
        "graphRetractionSink", batchId)(
        batch.select(col(id).cast("long").as("id"))))
      // the opted-in stores rebuild from the edge view minus the
      // set, before the set is cleared
      def rebuild(deleted: Option[DataFrame]): Unit = {
        val surviving = tomb.without(spark, store.current(spark),
          "u", "v")
        ccStorePath.foreach(p =>
          Graph.rebuildCCStore(surviving, col("u"), col("v"), p,
            filesOut): Unit)
        sccStorePath.foreach(p =>
          Graph.rebuildSccStore(surviving, col("u"), col("v"), p,
            filesOut): Unit)
        landmarkStorePath.foreach(p =>
          Graph.rebuildLandmarkStore(surviving, col("u"),
            col("v"), p, deletedNodes = deleted,
            maxDepth = landmarkMaxDepth, filesOut = filesOut)
            : Unit)
        triStorePath.foreach(p =>
          Graph.rebuildTriangleStore(surviving, col("u"),
            col("v"), p, filesOut): Unit)
        kcoreStorePath.foreach(p =>
          Graph.rebuildKCoreStore(surviving, col("u"), col("v"),
            kcoreK, p, filesOut): Unit)
        prStorePath.foreach(p =>
          Graph.rebuildPageRankStore(surviving, col("u"),
            col("v"), prIters, p, filesOut): Unit)
        hitsStorePath.foreach(p =>
          Graph.rebuildHitsStore(surviving, col("u"), col("v"),
            hitsIters, p, filesOut): Unit)
        louvainStorePath.foreach(p =>
          Graph.rebuildLouvainStore(surviving, col("u"),
            col("v"), louvainRounds, p, filesOut): Unit)
        labelStorePath.foreach { p =>
          val seeds = labelSeeds.getOrElse(throw new
            IllegalArgumentException(
              "labelStorePath requires labelSeeds"))
          // a retracted node's seed label is itself forgotten
          Graph.rebuildLabelState(surviving, col("u"), col("v"),
            tomb.without(spark, seeds, labelSeedId),
            col(labelSeedId), col(labelSeedLabel), labelIters, p,
            filesOut): Unit
        }
      }
      // edge store: physical drop of edges touching a deleted
      // node. The fold is a no-op when the store is already one
      // generation (nothing above the token to fold) — then the
      // tombstones are KEPT for the next cycle instead of cleared,
      // so a deletion can never silently survive.
      if (compactDue(compactEvery, batchId))
        tomb.foldWithout(spark, "graphRetractionSink", Seq((edgesPath,
          Seq("u", "v"), store.compaction(filesOut))), rebuild): Unit
    }
  }

  /** The graph gates' edge store: (u, v) rows, every row kept — a
    * re-sent edge is a second row, which Louvain counts as weight
    * ([[KeyedStore.Rows]]); files clustered on (u, v).
    */
  private[graft] def graphEdgeStore(edgesPath: String): KeyedStore =
    KeyedStore(edgesPath, "graphEdgeStore", Seq("u" -> "*", "v" -> "*"),
      Nil, KeyedStore.Rows, manifest = false)

  /** Streaming GRAPH-ANALYTICS maintenance — the foreachBatch gate for
    * the warm-start graph stores, completing the symmetry with the
    * dedup/media/ER/BM25 gates: each micro-batch of candidate edges
    * (the dedup stores' natural output) lands in
    *
    *   - an append-only EDGE store (`batch=<micro-batch id>` dirs —
    *     label propagation's frontier machinery needs the union edge
    *     list, and the accumulated batches ARE it; history is never
    *     re-derived),
    *   - the CC label store via
    *     [[graft.operators.Graph.connectedComponentsIncremental]]
    *     (contract-through-stored-labels: per-batch work is
    *     batch-sized, only losing components rewrite),
    *   - the per-round label-propagation state store via
    *     [[graft.operators.Graph.labelPropagationIncremental]]
    *     (frontier-only vote recompute against the union edges).
    *
    * The first NON-EMPTY batch bootstraps all three stores
    * ([[graft.operators.Graph.writeCCStore]] /
    * [[graft.operators.Graph.writeLabelState]]); later batches append
    * overwrite-idempotently (each store's view reads only batches
    * below its own id, so a Structured Streaming retry never sees its
    * prior attempt), and `compactEvery` folds all three stores
    * serially between micro-batches ([[graft.operators.Graph
    * .compactCCStore]] / [[graft.operators.Graph.compactLabelState]] +
    * the edge store's fold, which keeps every row — a re-sent edge
    * stays a second row) — mid-stream OPTIMIZE never changes answers
    * (spec-pinned ≡ from-scratch). Read the current state between
    * batches via [[graft.operators.Graph.ccStoreLabels]] /
    * [[graft.operators.Graph.labelStoreLabels]]. Edges re-sent across
    * batches are harmless for CC and label prop (both are
    * set-semantics over the union edge list); the seed set is fixed
    * across the stream for existing nodes, per the warm-start
    * contract. Restarting the stream WITHOUT its checkpoint over
    * existing stores would reuse micro-batch ids — the standard
    * gate-store contract.
    *
    * `triStorePath` / `kcoreStorePath` / `prStorePath` /
    * `hitsStorePath` / `louvainStorePath` / `landmarkStorePath` /
    * `sccStorePath` opt the remaining graph warm starts into the
    * same gate (all nine graph maintenance forms — CC, label prop,
    * triangles, k-core, warm PageRank, warm HITS, warm Louvain,
    * landmark distances, and incremental SCC, the one form reading
    * the edges DIRECTED — then run under one stream). Triangle
    * counting is
    * the one NON-idempotent op under re-sent edges, so its base is
    * built from HISTORY ONLY (the batch always rides the
    * overwrite-idempotent incremental append — a crash-retry of the
    * bootstrapping micro-batch replays instead of double-counting)
    * and each batch is exact-deduped against committed history in
    * canonical endpoint order before it counts. The anti join prices
    * that exactness at one probe of the (u, v)-clustered edge store
    * per batch; feed pre-deduped edges upstream to make it a cheap
    * no-op. Store-batch ids are `batchIdBase` + stream-batch + 1
    * (batch=0 is each store's bootstrap base); set `batchIdBase` =
    * [[graft.operators.Stats.supersedingToken]] over the family's
    * stores to RESUME ingestion above a [[graphRetractionSink]]
    * rebuild's generations — the bm25IndexGateSink resume contract,
    * completing the quiesce → retract → resume cycle for the graph
    * family. Read current state via
    * [[graft.operators.Graph.triangleStoreCounts]] /
    * [[graft.operators.Graph.kCoreStoreMembers]].
    */
  def graphGateSink(spark: SparkSession, stream: DataFrame,
                    a: String, b: String, seeds: DataFrame,
                    seedId: String, seedLabel: String, iters: Int,
                    edgesPath: String, ccStorePath: String,
                    labelStorePath: String, checkpoint: String,
                    compactEvery: Int = 0, filesOut: Int = 4,
                    triStorePath: Option[String] = None,
                    kcoreStorePath: Option[String] = None,
                    kcoreK: Int = 3,
                    prStorePath: Option[String] = None,
                    prRounds: Int = 2, prIters: Int = 5,
                    hitsStorePath: Option[String] = None,
                    hitsRounds: Int = 2, hitsIters: Int = 5,
                    louvainStorePath: Option[String] = None,
                    louvainRounds: Int = 1, louvainIters: Int = 3,
                    landmarkStorePath: Option[String] = None,
                    landmarkCount: Int = 4, landmarkDepth: Int = 6,
                    sccStorePath: Option[String] = None,
                    batchIdBase: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Graph
    val store = graphEdgeStore(edgesPath)
    val fenceRoots = Seq(edgesPath, ccStorePath,
      labelStorePath) ++ triStorePath ++ kcoreStorePath ++
      prStorePath ++ hitsStorePath ++ louvainStorePath ++
      landmarkStorePath ++ sccStorePath
    gateSink(spark, stream, checkpoint, fenceRoots,
        "graphGateSink") { (batch, batchId) =>
      val edges = batch.select(col(a).as("u"), col(b).as("v"))
      // edge/store ids ride batchIdBase + stream batch: set
      // batchIdBase = Stats.supersedingToken over the family's
      // stores to RESUME ingestion above a graphRetractionSink
      // rebuild's generations (the shared monotone-sequence
      // contract; the guards abort loudly on a violation)
      val eb = batchIdBase + batchId
      // retain the batch's edges FIRST (overwrite-idempotent; a
      // crash before the analytics appends re-runs the whole
      // batch, overwriting identically)
      store.append(spark, "graphGateSink", eb, filesOut)(edges)
      // committed HISTORY (excluding a retry's own prior attempt)
      // and the union edge list with this batch in-memory
      val hist = store.view(spark, eb)
      val all = hist.unionByName(edges)
      // store-batch ids are stream-batch + 1: batch=0 is reserved
      // for each store's bootstrap base, and stream batch 0's
      // append must still exceed it
      val sb = eb + 1
      // a store with no committed dir bootstraps
      def fresh(store: KeyedStore): Boolean =
        store.committedDirs(spark).isEmpty
      val bootstrap = (batchIdBase == 0L && batchId == 0L) ||
        fresh(Graph.ccStore(ccStorePath))
      if (bootstrap) {
        Graph.writeCCStore(edges, col("u"), col("v"), ccStorePath,
          filesOut)
        Graph.writeLabelState(edges, col("u"), col("v"), seeds,
          col(seedId), col(seedLabel), iters, labelStorePath,
          filesOut)
      } else {
        Graph.connectedComponentsIncremental(edges, col("u"),
          col("v"), ccStorePath, eb): Unit
        Graph.labelPropagationIncremental(all, col("u"), col("v"),
          edges, col("u"), col("v"), seeds, col(seedId),
          col(seedLabel), iters, labelStorePath, eb): Unit
      }
      // triangle maintenance: unlike CC/label prop, a RE-SENT edge
      // is not harmless here (it would re-count its triangles), so
      // (a) the bootstrap base is built from HISTORY ONLY and the
      // batch always rides the overwrite-idempotent incremental
      // append — a crash-retry of the bootstrapping micro-batch
      // replays identically instead of double-counting through a
      // base that already absorbed it — and (b) the batch is
      // exact-deduped against committed history (canonical
      // endpoint order) before it counts
      triStorePath.foreach { tp =>
        if (fresh(Graph.triangleStore(tp)))
          Graph.writeTriangleStore(hist, col("u"), col("v"), tp,
            filesOut)
        def canon(df: DataFrame): DataFrame =
          df.select(least(col("u"), col("v")).as("u"),
            greatest(col("u"), col("v")).as("v"))
            .where(col("u") =!= col("v")).distinct()
        val genuinelyNew =
          canon(edges).join(canon(hist), Seq("u", "v"), "left_anti")
        Graph.triangleCountsIncremental(all, col("u"), col("v"),
          genuinelyNew, col("u"), col("v"), tp, sb): Unit
      }
      // k-core maintenance: re-sent edges are harmless (they seed
      // closure from nodes that peel away), so the bootstrap may
      // absorb the first batch and retries go incremental
      kcoreStorePath.foreach { kp =>
        if (fresh(Graph.kCoreStore(kp)))
          Graph.writeKCoreStore(all, col("u"), col("v"), kcoreK,
            kp, filesOut)
        else
          Graph.kCoreIncremental(all, col("u"), col("v"), edges,
            col("u"), col("v"), kcoreK, kp, sb): Unit
      }
      // PageRank maintenance: a cold `prIters` ladder on
      // bootstrap, then `prRounds` warm rounds per batch from the
      // stored vector over the union (directed edges as streamed;
      // the round-count saving is PageRank's one sound
      // incremental form — see pageRankWarm). Re-sent edges are
      // harmless (the union edge list is distinct'd inside).
      prStorePath.foreach { pp =>
        if (fresh(Graph.pageRankStore(pp)))
          Graph.writePageRankStore(all, col("u"), col("v"),
            prIters, pp, filesOut)
        else
          Graph.pageRankWarm(all, col("u"), col("v"), pp, sb,
            prRounds, filesOut): Unit
      }
      // HITS maintenance: same contract as PageRank — a cold
      // `hitsIters` ladder on bootstrap, then `hitsRounds` warm
      // rounds per batch seeded from the stored hub vector over
      // the union (re-sent edges harmless: the edge list is
      // distinct'd inside)
      hitsStorePath.foreach { hp =>
        if (fresh(Graph.hitsStore(hp)))
          Graph.writeHitsStore(all, col("u"), col("v"),
            hitsIters, hp, filesOut)
        else
          Graph.hitsWarm(all, col("u"), col("v"), hp, sb,
            hitsRounds, filesOut): Unit
      }
      // Louvain maintenance: a cold `louvainIters` ladder on
      // bootstrap, then `louvainRounds` warm gain rounds per
      // batch from the stored assignment over the union (edge
      // multiplicity folds to weights inside; re-sent edges DO
      // add weight — feed pre-deduped edges upstream if the
      // stream can replay content)
      louvainStorePath.foreach { lp =>
        if (fresh(Graph.louvainStore(lp)))
          Graph.writeLouvainStore(all, col("u"), col("v"),
            louvainIters, lp, filesOut)
        else
          Graph.louvainWarm(all, col("u"), col("v"), lp, sb,
            louvainRounds, filesOut): Unit
      }
      // Landmark-sketch maintenance: a cold multi-source BFS on
      // bootstrap (landmarks FROZEN there — later smaller ids
      // never re-pivot the store), then frontier relaxation from
      // each batch's endpoints (re-sent edges are harmless:
      // their candidates never beat the stored distances)
      landmarkStorePath.foreach { mp =>
        if (fresh(Graph.landmarkStore(mp)))
          Graph.writeLandmarkStore(all, col("u"), col("v"),
            landmarkCount, landmarkDepth, mp, filesOut)
        else
          Graph.landmarkDistancesIncremental(all, col("u"),
            col("v"), edges, col("u"), col("v"), mp, sb,
            landmarkDepth, filesOut): Unit
      }
      // Incremental SCC — the ONE form that reads the edges
      // DIRECTED (u → v): bootstrap assignment + condensation
      // once, then condensation-level recompute per batch
      // (insertion only merges SCCs; re-sent edges contract to
      // self-loops or duplicate condensation rows — harmless,
      // set semantics)
      sccStorePath.foreach { sp =>
        if (fresh(Graph.sccAssignStore(sp)))
          Graph.writeSccStore(all, col("u"), col("v"), sp,
            filesOut)
        else
          Graph.sccIncremental(edges, col("u"), col("v"), sp,
            sb): Unit
      }
      if (!bootstrap && compactDue(compactEvery, batchId)) {
        Graph.compactCCStore(spark, ccStorePath, filesOut): Unit
        Graph.compactLabelState(spark, labelStorePath,
          filesOut): Unit
        triStorePath.foreach(tp =>
          Graph.compactTriangleStore(spark, tp, filesOut): Unit)
        kcoreStorePath.foreach(kp =>
          Graph.compactKCoreStore(spark, kp, filesOut): Unit)
        prStorePath.foreach(pp =>
          Graph.compactPageRankStore(spark, pp, filesOut): Unit)
        hitsStorePath.foreach(hp =>
          Graph.compactHitsStore(spark, hp, filesOut): Unit)
        louvainStorePath.foreach(lp =>
          Graph.compactLouvainStore(spark, lp, filesOut): Unit)
        landmarkStorePath.foreach(mp =>
          Graph.compactLandmarkStore(spark, mp, filesOut): Unit)
        sccStorePath.foreach(sp =>
          Graph.compactSccStore(spark, sp, filesOut): Unit)
        store.compact(spark, "graphGateSink", filesOut): Unit
      }
    }
  }

  /** [[compactWindowStoreGen]] for the ER gate's entity dictionary:
    * fold batch dirs into a blkh-range-clustered generation and
    * refresh the footer manifest (one-cycle vacuum grace, as
    * everywhere).
    */
  def compactEntityStoreGen(spark: SparkSession, storePath: String,
                            manifestPath: String,
                            filesOut: Int): Option[Long] =
    Entities.compact(spark, storePath, manifestPath, filesOut)

  /** SNAPSHOT (as-of) read of any gate store or survivor output dir:
    * the committed state as of micro-batch `asOf` — the newest
    * committed generation with token ≤ `asOf` plus committed
    * `batch=<id>` dirs with token < id ≤ `asOf`. Because a generation
    * token IS the max batch id it folded, this reconstructs the exact
    * post-batch-`asOf` view: the reproducible-training-corpus read
    * ("train on the corpus as of batch k", pinned in the run's
    * metadata). Retention bound: vacuum deletes dirs one FULL
    * compaction cycle after they are folded, so any `asOf` at or after
    * the second-newest generation token is always reconstructible;
    * older snapshots need vacuum disabled (an explicit retention
    * policy), exactly Delta/Iceberg's time-travel-vs-VACUUM trade.
    */
  def gateStoreViewAsOf(spark: SparkSession, storePath: String,
                        cols: Seq[String], asOf: Long)
      : Option[DataFrame] =
    GateLayout(cols).view(spark, storePath, asOf)

  /** Streaming KMV NOVELTY gate — the per-ingest curation signal
    * ("how much of this batch have we already got?") as a running
    * stream stage: every micro-batch is shingled and KMV-sketched
    * ONCE per group ([[graft.operators.Overlap.kmvSketch]] — one
    * bounded-buffer shuffle of ≤ k longs per group), containment vs
    * the PERSISTED sketch store prices the batch
    * ([[graft.operators.Overlap.kmvContainment]]), and docs route by
    * their group's novelty: ≥ `minNovelty` → `outPath` (worth full
    * downstream dedup), below → `lowPath` (mostly-seen content, the
    * cheaper path). Groups with no history sketch are FULLY novel
    * (novelty 1.0), as are docs too short to shingle — nothing is
    * silently dropped; both outputs carry the novelty column so
    * downstream stages can re-threshold.
    *
    * State protocol is [[dsirGateSink]]'s cumulative-artifact pattern
    * applied to the sketch semigroup: batch k overwrites `sketch=k` =
    * (newest committed sketch < k) merged with its own batch sketch —
    * [[graft.operators.Overlap.kmvMerge]] is min-k of the
    * concatenation, so a Structured Streaming retry rewrites the same
    * dir with the same content and the final store ≡ sketching all
    * batches from scratch (the merge-semigroup law, spec-pinned).
    * Readers take the newest COMMITTED dir with id < their own batch
    * ([[Cumulative]]), so crashed writes are invisible and
    * batch 0 always bootstraps empty. The store is ≤ #groups · k
    * longs — a planning artifact, never data-sized; history is never
    * re-read or re-shingled.
    */
  def kmvNoveltyGateSink(spark: SparkSession, stream: DataFrame,
                         grp: String, text: String, sketchPath: String,
                         outPath: String, lowPath: String,
                         checkpoint: String, k: Int = 64, n: Int = 3,
                         minNovelty: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Overlap
    gateSink(spark, stream, checkpoint, Seq(sketchPath),
        "kmvNoveltyGateSink") { (batch, batchId) =>
      val b = batch.localCheckpoint()
      val shs = org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.ShinglesExpr(
          org.apache.spark.sql.GraftSqlBridge
            .toExpression(col(text)), n))
      val keys = b.select(col(grp).as("grp"),
        explode(shs).as("key"))
      val batchSk = Overlap.kmvSketch(keys, col("grp"), col("key"),
        k).localCheckpoint()
      val hist = kmvSketchView(spark, sketchPath, batchId)
      val novelty = hist match {
        case Some(h) => Overlap.kmvContainment(h, batchSk, k)
          .select(col("grp").as("__grp"), col("novelty"))
        case None => batchSk.limit(0)
          .select(col("grp").as("__grp"), lit(1.0).as("novelty"))
      }
      val withNv = b.join(novelty, col(grp) === col("__grp"),
          "left")
        .withColumn("novelty", coalesce(col("novelty"), lit(1.0)))
        .drop("__grp")
      writeOutput(withNv.where(col("novelty") >= minNovelty), outPath,
        batchId)
      writeOutput(withNv.where(col("novelty") < minNovelty), lowPath,
        batchId)
      sketches(sketchPath).write(batchId, hist match {
        case Some(h) => Overlap.kmvMerge(h, batchSk, k)
        case None => batchSk
      })
    }
  }

  /** Streaming corpus-profile drift gate — the continuous form of
    * [[graft.operators.Stats.profileDrift]]: per micro-batch, each
    * monitored column's exact (rows, nulls, batch-distinct) profile is
    * computed once, folded into a persisted CUMULATIVE state (row and
    * null counts are additive; the distinct dimension rides one KMV
    * sketch per column — the [[graft.operators.Overlap.kmvMerge]]
    * semigroup, so history is never re-read), and a drift report row
    * per column lands in `outPath/batch=<id>`: batch profile next to
    * the running totals and the cumulative distinct ESTIMATE (exact
    * while the sketch is unsaturated). The alarm wiring for "the
    * crawler started emitting null text / one-language batches"
    * upstream of any training run. Same durability protocol as
    * [[dsirGateSink]]/[[kmvNoveltyGateSink]]: overwrite-idempotent
    * `sketch=<id>` state generations read via the strictly-older
    * committed view, so retried batches fold exactly once.
    */
  def profileDriftGateSink(spark: SparkSession, stream: DataFrame,
                           cols: Seq[String], statePath: String,
                           outPath: String, checkpoint: String,
                           k: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Overlap
    require(cols.nonEmpty, "cols must be non-empty")
    gateSink(spark, stream, checkpoint, Seq(statePath),
        "profileDriftGateSink") { (batch, batchId) =>
      val b = batch.localCheckpoint()
      val prof = Stats.profileTable(b, cols).localCheckpoint()
      val keys = cols.map(c =>
          b.select(lit(c).as("grp"), col(c).cast("string").as("key")))
        .reduce(_ unionByName _)
      val batchSk = Overlap.kmvSketch(keys, col("grp"), col("key"),
        k).localCheckpoint()
      val batchCounts = prof.select(col("column").as("grp"),
        col("n_rows").as("n"), col("n_nulls").as("nulls"))
      val prior = kmvSketchView(spark, statePath, batchId)
      val (mergedSk, mergedCounts) = prior match {
        case Some(p) =>
          (Overlap.kmvMerge(p.select(col("grp"), col("sketch"))
              .where(size(col("sketch")) > 0), batchSk, k),
            p.select(col("grp"), col("n"), col("nulls"))
              .unionByName(batchCounts)
              .groupBy(col("grp"))
              .agg(sum(col("n")).as("n"),
                sum(col("nulls")).as("nulls")))
        case None => (batchSk, batchCounts)
      }
      // left join: an all-null column has NO sketch (null keys
      // carry no distinct value) but must keep its count row
      val state = mergedCounts
        .join(mergedSk, Seq("grp"), "left")
        .withColumn("sketch", coalesce(col("sketch"),
          array().cast("array<long>")))
        .localCheckpoint()
      val cumNdv = Overlap.kmvDistinct(
        state.select(col("grp"), col("sketch")), k)
      writeOutput(prof.select(col("column"), col("n_rows").as("n_batch"),
          col("n_nulls").as("nulls_batch"),
          col("n_distinct").as("ndv_batch"))
        .join(state.select(col("grp").as("column"),
          col("n").as("n_total"), col("nulls").as("nulls_total")),
          Seq("column"))
        .join(cumNdv.select(col("grp").as("column"),
          col("dhat").as("ndv_total_est")), Seq("column")),
        outPath, batchId)
      sketches(statePath).write(batchId, state)
    }
  }

  /** Newest committed cumulative sketch store with id < `beforeBatch`
    * (retry safety: a re-run of batch k must not see its own crashed
    * or previous `sketch=k` write — the [[dsirModelView]] rule).
    * None = bootstrap.
    */
  private[graft] def kmvSketchView(spark: SparkSession,
                                   sketchPath: String,
                                   beforeBatch: Long): Option[DataFrame] =
    sketches(sketchPath).before(spark, beforeBatch)

  /** foreachBatch MERGE sink: each micro-batch upserts into `table` by
    * `key` (last write per key wins within a batch via the batch's own
    * dedup; across batches, newest batch wins).
    */
  def upsertSink(spark: SparkSession, stream: DataFrame, table: String,
                 key: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          if (!spark.catalog.tableExists(table))
            batch.write.saveAsTable(table)
          else
            Upsert.mergeIntoTable(spark, table, batch, key): Unit
        }
      }
      .start()
}
