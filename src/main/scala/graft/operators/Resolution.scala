package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage: collapse records whose NAMES are
  * near-identical strings (vendor files, author lists, product
  * catalogs — the structured-data sibling of document dedup, and a
  * standard step when a training corpus joins metadata from many
  * sources). Classic blocked pipeline (Fellegi-Sunter shape, minus the
  * probabilistic weights): normalize → exact-collapse → block →
  * bounded in-block compare → edit-distance confirm → transitive
  * clustering → record-level canonical ids.
  *
  * 100 TB posture, in order of the pipeline:
  *  - **Exact-collapse first** ([[entities]]): the quadratic compare
  *    runs at DISTINCT-NAME grain, never record grain — a 10^10-row
  *    ledger with 10^7 distinct names compares 10^7 strings. The
  *    collapse is one map-side-combined aggregate keyed by the name.
  *  - **Blocking** ([[blockedPairs]]): candidate pairs only within a
  *    block (default: first name token); the in-block join is an
  *    equality join on an 8-byte PolyFp block hash, with block sizes
  *    PRE-COUNTED and over-`maxBlock` blocks dropped before the join —
  *    the skew guard every pair expansion in this repo carries
  *    (degenerate blocks — "the", empty names — are boilerplate best
  *    split by a finer key upstream).
  *  - **Confirm**: Spark's thresholded `levenshtein(l, r, max)` stops
  *    the DP early for distant pairs; the confirm filter runs inside
  *    the join's codegen, and only confirmed edges leave the stage.
  *  - **Clustering**: [[Graph.dedupClusters]] (large-star/small-star
  *    CC) over confirmed edges; canonical id = min record id of the
  *    component ([[canonicalize]] joins it back to records).
  *  - **Incremental** ([[writeEntityStore]] / [[erIncrementalPairs]]):
  *    the entity dictionary persists blkh-range-clustered with a
  *    footer-stats manifest; a batch's store scan opens only
  *    touched-block files ([[Layout.Entities]]), compares
  *    store-slice×batch + batch×batch, and the accumulated edge sets
  *    reconcile by CC to the full-corpus clustering
  *    (x_er_incremental ≡ the batch oracle — the same
  *    incremental ≡ batch law as the MinHash/embedding/substring
  *    stores). A name arriving in both history and batch carries a
  *    distance-0 edge, so split entities merge to the global min id.
  */
object Resolution {

  /** Distinct-entity table: one row per normalized name with the min
    * record id as entity id and the record support count.
    */
  def entities(df: DataFrame, id: Column, name: Column): DataFrame =
    df.select(id.as("rid"), name.as("nm"))
      .groupBy(col("nm"))
      .agg(min(col("rid")).as("eid"), count(lit(1)).as("support"))

  /** Default block key: the first whitespace token of the name. */
  def firstTokenBlock(nm: Column): Column = substring_index(nm, " ", 1)

  private[graft] def keyed(ents: DataFrame,
                           block: Column => Column): DataFrame =
    ents.select(col("eid"), col("nm"),
      TextAnalysis.fingerprint(block(col("nm"))).as("blkh"))

  /** Block hashes whose member count (over `k`) is in [2, maxBlock]:
    * one map-side-combined count per 8-byte block hash — the
    * fixed-width exchange bounds both the join fan-out and every
    * buffer, never a collect of members.
    */
  private[graft] def keptBlocks(k: DataFrame, maxBlock: Int): DataFrame =
    k.groupBy(col("blkh"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2 && col("__n") <= maxBlock)
      .select(col("blkh"))

  /** Drop entities in blocks larger than `maxBlock` BEFORE any pair
    * expansion (semi join against [[keptBlocks]]).
    */
  private[graft] def capBlocks(k: DataFrame, maxBlock: Int): DataFrame =
    k.join(keptBlocks(k, maxBlock), Seq("blkh"), "left_semi")

  /** Confirmed candidate edges at entity grain: (eid_a, eid_b, nm_a,
    * nm_b, dist) for in-block pairs with levenshtein ≤ `maxDist`
    * (thresholded DP — distant pairs abort early).
    */
  def blockedPairs(ents: DataFrame,
                   block: Column => Column = firstTokenBlock,
                   maxDist: Int = 3,
                   maxBlock: Int = Int.MaxValue): DataFrame = {
    val kept = capBlocks(keyed(ents, block), maxBlock)
    val d = levenshtein(col("nm_a"), col("nm_b"), maxDist)
    kept.select(col("blkh"), col("eid").as("eid_a"), col("nm").as("nm_a"))
      .join(kept.select(col("blkh"), col("eid").as("eid_b"),
        col("nm").as("nm_b")), Seq("blkh"))
      .where(col("eid_a") < col("eid_b") && d >= 0)
      .select(col("eid_a"), col("eid_b"), col("nm_a"), col("nm_b"),
        d.as("dist"))
  }

  /** Record-level canonical ids: every record with the min record id
    * of its connected near-duplicate component (its own entity id when
    * unmatched). One entity-grain CC + two hash joins back to records.
    */
  def canonicalize(df: DataFrame, id: Column, name: Column,
                   edges: DataFrame): DataFrame = {
    val ents = entities(df, id, name)
    val comp = Graph.dedupClusters(edges, col("eid_a"), col("eid_b"))
      .select(col("id").as("eid"), col("cluster"))
    df.select(id.as("rid"), name.as("nm"))
      .join(ents.select(col("nm"), col("eid")), Seq("nm"))
      .join(comp, Seq("eid"), "left")
      .select(col("rid"), col("nm"),
        coalesce(col("cluster"), col("eid")).as("canon"))
  }

  /** Persist the entity dictionary blkh-range-clustered with a footer
    * manifest ([[Layout.Entities]]) — the store [[erIncrementalPairs]]
    * prunes per batch.
    */
  def writeEntityStore(ents: DataFrame, storeDir: String,
                       manifestPath: String, filesOut: Int,
                       block: Column => Column = firstTokenBlock): Unit =
    Stats.withWriterLease(ents.sparkSession, Seq(storeDir),
        "writeEntityStore(batch)") {
    Layout.Entities.write(keyed(ents, block), storeDir, manifestPath,
      filesOut)
  }

  /** Candidate in-block pairs with at least one batch endpoint BY
    * CONSTRUCTION: the join is batch ⋈ (store-slice ∪ batch), never
    * (slice ∪ batch)² — a store×store pair structurally cannot form,
    * so history work is never re-expanded inside touched blocks (the
    * same one-sided shape as `Multimodal.dhashPairsAgainstBands`).
    * Block sizes are counted over the UNION (history members count
    * toward the skew cap, exactly as in the batch path), then each
    * side is semi-joined against the kept block set before pairing.
    * Output is canonical (eid_a < eid_b); batch×batch pairs appear
    * once (self-join keeps eid_a < eid_b), batch×slice pairs are
    * order-normalized with a conditional swap.
    */
  private[graft] def candidatePairs(batchK: DataFrame, sliceK: DataFrame,
                                    maxBlock: Int): DataFrame = {
    val kept = keptBlocks(sliceK.unionByName(batchK), maxBlock)
    val b = batchK.join(kept, Seq("blkh"), "left_semi")
    val s = sliceK.join(kept, Seq("blkh"), "left_semi")
    val swap = col("__e1") < col("__e2")
    val bs = b.select(col("blkh"), col("eid").as("__e1"),
        col("nm").as("__n1"))
      .join(s.select(col("blkh"), col("eid").as("__e2"),
        col("nm").as("__n2")), Seq("blkh"))
      .where(col("__e1") =!= col("__e2"))
      .select(least(col("__e1"), col("__e2")).as("eid_a"),
        greatest(col("__e1"), col("__e2")).as("eid_b"),
        when(swap, col("__n1")).otherwise(col("__n2")).as("nm_a"),
        when(swap, col("__n2")).otherwise(col("__n1")).as("nm_b"))
    val bb = b.select(col("blkh"), col("eid").as("eid_a"),
        col("nm").as("nm_a"))
      .join(b.select(col("blkh"), col("eid").as("eid_b"),
        col("nm").as("nm_b")), Seq("blkh"))
      .where(col("eid_a") < col("eid_b"))
      .select(col("eid_a"), col("eid_b"), col("nm_a"), col("nm_b"))
    bs.unionByName(bb)
  }

  /** Confirmed edges TOUCHING a batch of new entities, against the
    * persisted dictionary: store-slice×batch + batch×batch, built as
    * batch ⋈ (slice ∪ batch) so a history×history pair never forms
    * and never reaches the levenshtein evaluation
    * ([[candidatePairs]]). The store scan opens only files whose blkh
    * range intersects the batch's block set (manifest pruning;
    * uncovered files are always read), then row-filters on a measured
    * broadcast-vs-shuffle-hash semi join. History×history edges are
    * the store-build artifact — accumulate them once and reconcile by
    * CC ([[Graph.dedupClusters]]).
    */
  def erIncrementalPairs(newEnts: DataFrame, storeDir: String,
                         manifestPath: String,
                         block: Column => Column = firstTokenBlock,
                         maxDist: Int = 3,
                         maxBlock: Int = Int.MaxValue): DataFrame = {
    val (batch, nBatch) = Checkpoints.stageCount(keyed(newEnts, block))
    val small = Regime.fits(nBatch)
    val probe = batch.select(col("blkh")).distinct()
    val slice0 = Layout.Entities.touched(Seq(storeDir), manifestPath,
      probe)
    val slice =
      if (small) slice0.join(broadcast(probe), Seq("blkh"), "left_semi")
      else slice0.join(probe.hint("shuffle_hash"), Seq("blkh"),
        "left_semi")
    val d = levenshtein(col("nm_a"), col("nm_b"), maxDist)
    candidatePairs(batch, slice, maxBlock)
      .where(d >= 0)
      .select(col("eid_a"), col("eid_b"), col("nm_a"), col("nm_b"),
        d.as("dist"))
  }
}
