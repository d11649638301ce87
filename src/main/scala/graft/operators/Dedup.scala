package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Deduplication operators for a training-data pipeline.
  *
  * Algorithms (public literature): MinHash resemblance sketches follow
  * Broder, "On the resemblance and containment of documents" (SEQUENCES
  * 1997) with the banding/LSH candidate scheme of Gionis, Indyk &
  * Motwani, "Similarity search in high dimensions via hashing" (VLDB
  * 1999); SimHash follows Charikar, "Similarity estimation techniques
  * from rounding algorithms" (STOC 2002) with the Hamming-window
  * blocking of Manku, Jain & Das Sarma, "Detecting near-duplicates for
  * web crawling" (WWW 2007).
  *
  * Scale design:
  *  - exact dedup is a hash shuffle on the content key (or its hash —
  *    shuffle 8-byte keys, not document bodies);
  *  - MinHash/SimHash turn near-dup detection into equality joins on
  *    small derived keys (band buckets / bit windows), which Spark
  *    shuffles and hash-joins without ever materializing the O(n²) pair
  *    space;
  *  - candidate pairs are then verified with an exact measure (signature
  *    agreement / hamming distance), all via codegen'd built-ins.
  */
object Dedup {

  // ---------- exact ----------

  /** Keep one row per distinct `key` (lowest `tieBreak` wins) — stable
    * dropDuplicates. At scale, group on xxhash64(key) first so the
    * shuffle carries hashes, then resolve rare collisions by full key.
    */
  def exactKeepFirst(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tieBreak)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Per-content-group stats: surviving id + multiplicity. */
  def exactGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep-first dedup keyed on a 128-bit content digest — the 100 TB
    * path: the shuffle key is 16 bytes instead of the document body,
    * and `min_by` aggregates partially MAP-SIDE, so duplicate-heavy
    * corpora (the dedup use case) collapse before the exchange instead
    * of sorting full bodies in a window. Collision probability at
    * 128 bits is ~n²/2¹²⁹ — zero in practice (and the md5 is
    * oracle-reproducible, unlike xxhash).
    */
  def exactKeepFirstDigest(df: DataFrame, key: Column,
                           tieBreak: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(key.cast("binary")).as("__digest"))
      .agg(min_by(struct(cols.map(col): _*), tieBreak).as("__row"))
      .select(cols.map(c => org.apache.spark.sql.functions.col(s"__row.$c")
        .as(c)): _*)
  }

  // ---------- shingles ----------

  /** Distinct word n-gram shingles per doc: (id, shingle).
    * Tokenize → slide an n-window via transform over token indices —
    * narrow, no shuffle until the downstream distinct.
    */
  /** `dedup = false` skips the distinct shuffle — correct whenever the
    * consumer is idempotent over repeats (MinHash's `min`).
    */
  def wordShingles(df: DataFrame, id: Column, text: Column, n: Int,
                   dedup: Boolean = true): DataFrame = {
    val sh = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.ShinglesExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text), n))
    val out = df.select(id.as("id"), explode(sh).as("shingle"))
    if (dedup) out.distinct() else out
  }

  // ---------- MinHash + LSH ----------

  /** k permutation-free MinHash components over xxhash64(shingle):
    * h_i(s) = (a_i * x + b_i) mod PRIME, minimized per doc. Fixed seeds →
    * fully deterministic across runs/partitions.
    */
  val MinhashPrime = 2147483647L // 2^31 - 1

  private def hashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val rnd = new scala.util.Random(42L + i)
      (math.abs(rnd.nextLong()) % (MinhashPrime - 1) + 1,
        math.abs(rnd.nextLong()) % MinhashPrime)
    }

  /** (id, sig array<long> of length k) as a NARROW map — the whole
    * signature is one native per-row expression over the document text
    * (no explode, no shuffle), keyed on the oracle-reproducible PolyFp
    * hash family (see MinHashExpressions.scala). NULL sig ⇔ fewer than
    * n tokens. This is the scale path: 100 TB of documents stream
    * through as a map-only stage.
    */
  def minhashSigsNative(df: DataFrame, id: Column, text: Column,
                        n: Int = 3, k: Int = 32): DataFrame =
    df.select(id.as("id"),
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.MinHashSigExpr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(text), n, k))
        .as("sig"))

  /** (id, sig array<long> of length k) — composable exploded-shingle
    * form (one groupBy-id shuffle). Prefer [[minhashSigsNative]]; this
    * form exists for pre-computed / non-text shingle sets.
    */
  def minhashSignatures(shingles: DataFrame, k: Int = 32): DataFrame = {
    val x = pmod(xxhash64(col("shingle")), lit(MinhashPrime))
    val comps = hashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(x * a + b, lit(MinhashPrime))).as(s"__h$i")
    }
    shingles.groupBy(col("id"))
      .agg(comps.head, comps.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-component signature into bands of `rows`,
    * hash each band to a bucket. Docs sharing any (band, bucket) are
    * candidates — an equality join, not a cross product.
    */
  def lshBuckets(sigs: DataFrame, rows: Int): DataFrame = {
    val k = rows // rows per band
    sigs.select(col("id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), (size(col("sig")) / k).cast("int") - 1),
        b => xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * k + lit(1), lit(k)), _.cast("string")))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Bucket-member arrays with the aggregation BUFFER bounded — the
    * shared shape of every in-bucket pair expansion ([[
    * minhashCandidates]], [[ngramJaccardPairs]], [[embeddingCandidates]],
    * [[graft.operators.Multimodal.videoFrameDupPairs]]): member counts
    * aggregate FIRST (fixed-width rows, map-side combined), keys outside
    * (1, `maxBucket`] are removed by a semi join BEFORE any collect
    * buffer forms, and only then do the surviving rows collect into
    * arrays. A post-collect `size(ms) <= maxBucket` filter caps the pair
    * EXPANSION but not the buffer: a degenerate bucket (millions of
    * identical boilerplate docs at 100 TB) would still materialize its
    * full member array inside one aggregation buffer just to be
    * size-filtered away — the OOM class this ordering removes. The
    * groupBy reuses the semi join's hash partitioning on `keys`, so the
    * full-row shuffle count stays at one; the count pass adds only a
    * fixed-width exchange. Callers guarantee `rows` are distinct per
    * (keys, member) so row counts equal member counts.
    */
  private[graft] def boundedBucketMembers(rows: DataFrame,
                                          keys: Seq[String],
                                          member: Column,
                                          maxBucket: Int): DataFrame = {
    val kc = keys.map(col)
    // staged: the rows feed BOTH the count pass and the collect pass —
    // without materialization the upstream (shingling / signature
    // hashing / frame chunking, the CPU-heavy map) recomputes once per
    // consumer. At sf0.1 the A/B reads ~1.0–1.2× (the upstream is
    // cheap there); at corpus scale the upstream IS the cost, and one
    // materialized pass is strictly less compute.
    val staged = Checkpoints.stage(rows)
    val eligible = staged.groupBy(kc: _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxBucket)
      .select(kc: _*)
    staged.join(eligible, keys, "left_semi")
      .groupBy(kc: _*)
      .agg(sort_array(member).as("ms"))
  }

  /** Candidate pairs from band collisions, verified by exact signature
    * agreement (estimated Jaccard = fraction of equal components).
    *
    * Shaped as ONE pass over the signatures: group members per
    * (band, bucket) and expand in-bucket pairs — no self-join, so the
    * (shingle → signature) subtree is computed once, and a `maxBucket`
    * cap bounds the quadratic blow-up of degenerate buckets (at 100 TB a
    * bucket holding millions of identical boilerplate docs would
    * otherwise explode; those are better handled by exact dedup first).
    * The cap binds BEFORE the member arrays form
    * ([[boundedBucketMembers]]), so it bounds memory, not just work.
    */
  def minhashCandidates(sigs: DataFrame, rowsPerBand: Int = 4,
                        minEstJaccard: Double = 0.0,
                        maxBucket: Int = 10000): DataFrame = {
    val members = boundedBucketMembers(lshBuckets(sigs, rowsPerBand),
      Seq("band", "bucket"), collect_list(struct(col("id"), col("sig"))),
      maxBucket)
    val pairs = members.select(explode(
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.PairCombinationsExpr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(col("ms")))))
      .as("pr"))
    pairs.select(col("pr.a.id").as("id_a"), col("pr.b.id").as("id_b"),
      (VectorFunctions.foldSum(zip_with(col("pr.a.sig"), col("pr.b.sig"),
        (x, y) => when(x === y, 1.0).otherwise(0.0))) /
        size(col("pr.a.sig"))).as("est_jaccard"))
      .distinct()
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** Incremental near-dup gate for continuous ingestion: drop new-batch
    * docs whose MinHash signature near-matches (estimated Jaccard ≥
    * `minEstJaccard`) any doc in the PERSISTED signature store or any
    * smaller-id doc of the same batch. Returns the surviving new rows.
    *
    * `storeSigs` is the (id, sig) output of [[minhashSigsNative]]
    * persisted for the historical corpus — the point of the operator:
    * at 100 TB the history is never re-read, re-tokenized, or
    * re-hashed per batch; a batch pays
    *  - one map-only signature pass over the NEW docs,
    *  - one narrow band/bucket projection over the store's sig table
    *    (k longs per doc, ~0.3% of a text corpus's bytes) filtered
    *    map-side by a BROADCAST semi-join on the new batch's touched
    *    (band, bucket) set — no store shuffle anywhere,
    *  - pair expansion proportional to |touched-bucket members| ×
    *    |new docs in bucket| — NOT bucket², unlike re-running the
    *    batch [[minhashCandidates]] over history ∪ batch.
    * (Persisting the BANDED form bucketed by (band, bucket) would
    * additionally let file skipping prune the store scan itself —
    * the same manifest pattern as [[Stats]].)
    *
    * Semantics match the batch path exactly: the result equals
    * [[minhashCandidates]] over history ∪ batch restricted to pairs
    * whose larger id is new — including the `maxBucket` skew cap,
    * which here counts the TOTAL (store + new) bucket size. New docs
    * never displace history (history ids precede batch ids by the
    * ingestion-order contract, enforced nowhere cheaper than upstream
    * id assignment).
    *
    * Regime gate: the batch's signatures are materialized once
    * (batch-sized localCheckpoint, reused across every join below) and
    * COUNTED; when the count fits [[Regime]] the batch side rides
    * broadcasts end to end (steady-state ingestion — the store never
    * shuffles), above it every broadcast degrades to a shuffle join
    * (a 10 TB backfill "batch" must not be broadcast). Both arms are
    * row-identical; only the physical shapes differ.
    */
  def minhashIncremental(newDocs: DataFrame, id: Column, text: Column,
                         storeSigs: DataFrame, n: Int = 3, k: Int = 32,
                         rowsPerBand: Int = 4,
                         minEstJaccard: Double = 0.8,
                         maxBucket: Int = 10000): DataFrame =
    minhashIncrementalFromSigs(newDocs, id,
      minhashSigsNative(newDocs, id, text, n, k), storeSigs,
      rowsPerBand, minEstJaccard, maxBucket)

  /** [[minhashIncremental]] over PRE-COMPUTED batch signatures — the
    * form callers that also persist the batch's signatures use (e.g.
    * the streaming gate), so the batch is hashed exactly once.
    * `newSigs` must be `minhashSigsNative(newDocs, id, text)` output;
    * it is materialized here (batch-sized localCheckpoint) to measure
    * the regime and reuse the rows across every join below.
    */
  def minhashIncrementalFromSigs(newDocs: DataFrame, id: Column,
                                 newSigsIn: DataFrame,
                                 storeSigs: DataFrame,
                                 rowsPerBand: Int = 4,
                                 minEstJaccard: Double = 0.8,
                                 maxBucket: Int = 10000)
      : DataFrame = {
    val (newSigs, nNewSigs) = Checkpoints.stageCount(newSigsIn)
    val small = Regime.fits(nNewSigs)
    val newBands = lshBuckets(newSigs, rowsPerBand)
      .select(col("band"), col("bucket"), col("id"), col("sig"))
    val storeBands = lshBuckets(storeSigs.select(col("id"), col("sig")),
        rowsPerBand)
      .select(col("band"), col("bucket"), col("id"), col("sig"))
    bandedIncrementalCore(newDocs, id, newBands, storeBands, small,
      minEstJaccard, maxBucket)
  }

  /** The shared tail of the incremental MinHash gates, over batch and
    * store entries ALREADY in banded (band, bucket, id, sig) form.
    * `small` is the measured regime (batch rides broadcasts vs every
    * broadcast degraded to a shuffle join).
    */
  private def bandedIncrementalCore(newDocs: DataFrame, id: Column,
                                    newBands: DataFrame,
                                    storeBands: DataFrame, small: Boolean,
                                    minEstJaccard: Double,
                                    maxBucket: Int): DataFrame = {
    def batchSide(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df
    // the gate needs only the removal-id side of the candidate edges.
    // A pair recurring across bands passes the est filter identically
    // each time, so no pair-level distinct is needed — only the final
    // removal-id set is deduplicated.
    val removed = bandedCandidateEdges(newBands, storeBands, small,
        minEstJaccard, maxBucket)
      .select(col("id_b").as("__rm_id")).distinct()
    // removals are batch-bounded → broadcast anti join in the small
    // regime; the new batch itself never shuffles either
    newDocs.join(batchSide(removed), id === col("__rm_id"), "left_anti")
  }

  /** The gate over an ALREADY-banded store slice and the batch's own
    * pre-computed banded entries — the streaming-banded form
    * ([[graft.streaming.StreamOps.nearDupGateSinkBanded]]): the caller
    * owns the store read (generation view + manifest pruning) and the
    * one banding pass of the batch, reused for the gate AND the store
    * append. `batchRows` is the batch's MEASURED size (its sig count)
    * for the broadcast-vs-shuffle regime gate.
    */
  def minhashIncrementalFromBands(newDocs: DataFrame, id: Column,
                                  newBands: DataFrame,
                                  storeBands: DataFrame, batchRows: Long,
                                  minEstJaccard: Double = 0.8,
                                  maxBucket: Int = 10000)
      : DataFrame =
    bandedIncrementalCore(newDocs, id, newBands, storeBands,
      Regime.fits(batchRows), minEstJaccard, maxBucket)

  /** [[bandedCandidateEdges]] over caller-owned banded inputs — the
    * edge-level face of [[minhashIncrementalFromBands]] for gates that
    * combine SEVERAL modalities' evidence before deciding drops (the
    * unified multimodal gate): (id_a, id_b, est_jaccard), new doc on
    * the id_b side, pre-distinct (a pair recurring across bands passes
    * the est filter identically each time — callers deduplicate the
    * id set they act on, as the single-arm gate does).
    */
  def minhashCandidateEdgesFromBands(newBands: DataFrame,
                                     storeBands: DataFrame,
                                     batchRows: Long,
                                     minEstJaccard: Double = 0.8,
                                     maxBucket: Int = 10000)
      : DataFrame =
    bandedCandidateEdges(newBands, storeBands,
      Regime.fits(batchRows), minEstJaccard, maxBucket)

  /** The candidate EDGES behind the incremental gates, pre-distinct:
    * (id_a, id_b, est_jaccard) with the new doc on the id_b side.
    */
  private def bandedCandidateEdges(newBands: DataFrame,
                                   storeBands: DataFrame, small: Boolean,
                                   minEstJaccard: Double,
                                   maxBucket: Int): DataFrame = {
    def batchSide(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df
    // buckets the new batch lands in — batch-sized, broadcastable in
    // the small regime (a semi join needs no distinct build side, so
    // none is paid)
    val touched = newBands.select(col("band"), col("bucket"))
    // touched-bucket members = the store's entries in touched buckets
    // (map-side semi filter in the small regime — the store never
    // shuffles) plus the batch's own entries, which are ALL in touched
    // buckets by construction; the batch is band-hashed exactly once
    val members = storeBands
      .join(batchSide(touched), Seq("band", "bucket"), "left_semi")
      .unionByName(newBands)
    // the batch path drops over-cap buckets wholesale — count the
    // TOTAL bucket size (touched buckets only, so this stays tiny)
    val inCap = members.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") <= maxBucket)
      .select(col("band"), col("bucket"))
    val older = members
      .join(batchSide(inCap), Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("id").as("id_a"),
        col("sig").as("sa"))
    val newer = newBands
      .join(batchSide(inCap), Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("id").as("id_b"),
        col("sig").as("sb"))
    // small regime: the members stream never shuffles for pair
    // formation
    older.join(batchSide(newer), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorFunctions.foldSum(zip_with(col("sa"), col("sb"),
          (x, y) => when(x === y, 1.0).otherwise(0.0))) /
          size(col("sa"))).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** Distinct candidate edges of one incremental batch against the
    * banded store — the RECONCILIATION feed: the gates enforce pairwise
    * removal in-line; accumulating these edges per batch and running
    * [[Graph.connectedComponents]] over the union periodically gives
    * transitive-policy users the cluster-exact resolution offline
    * (edges ∘ CC over accumulated batches ≡ the full-corpus batch
    * clustering — driver-checked by x_incremental_reconcile). Returns
    * (id_a, id_b, est_jaccard), new doc on the id_b side.
    */
  def minhashIncrementalCandidatesBanded(newSigsIn: DataFrame,
                                         storeDir: String,
                                         manifestPath: String,
                                         rowsPerBand: Int = 4,
                                         minEstJaccard: Double = 0.8,
                                         maxBucket: Int = 10000)
      : DataFrame = {
    val (newSigs, nNewSigs) = Checkpoints.stageCount(newSigsIn)
    val small = Regime.fits(nNewSigs)
    val newBands = lshBuckets(newSigs, rowsPerBand)
      .select(col("band"), col("bucket"), col("id"), col("sig"))
    val storeBands = Layout.BandedSigs.touched(Seq(storeDir), manifestPath,
      newBands)
    bandedCandidateEdges(newBands, storeBands, small, minEstJaccard,
      maxBucket).distinct()
  }

  // ---------- banded signature store (persisted, manifest-pruned) ----

  /** Persist `sigs` (the [[minhashSigsNative]] (id, sig) table) as the
    * BANDED signature store ([[Layout.BandedSigs]]): (band, bucket, id,
    * sig) range-clustered by (band, bucket) into `filesOut` files, plus
    * a footer-stats manifest. This is the store layout the scaladoc of
    * [[minhashIncremental]] names: each file covers a narrow
    * (band, bucket) range, so a batch's manifest-pruned store scan
    * OPENS only touched-bucket files instead of reading the store end
    * to end. At 100 TB of history the store is ~300 GB; per-batch
    * reads shrink to the touched slice.
    */
  def writeBandedSigStore(sigs: DataFrame, storeDir: String,
                          manifestPath: String, filesOut: Int,
                          rowsPerBand: Int = 4): Unit =
    Stats.withWriterLease(sigs.sparkSession, Seq(storeDir),
        "writeBandedSigStore(batch)") {
    Layout.BandedSigs.write(
      lshBuckets(sigs.select(col("id"), col("sig")), rowsPerBand),
      storeDir, manifestPath, filesOut)
  }

  /** Append a batch's signatures to an existing banded store (the
    * continuous-ingestion write path): the appended slice is clustered
    * by (band, bucket) within its own files, and the manifest refresh
    * reads footers ONLY for the new files.
    */
  def appendBandedSigStore(sigs: DataFrame, storeDir: String,
                           manifestPath: String, filesOut: Int,
                           rowsPerBand: Int = 4): Unit =
    Stats.withWriterLease(sigs.sparkSession, Seq(storeDir),
        "appendBandedSigStore(batch)") {
    Layout.BandedSigs.append(
      lshBuckets(sigs.select(col("id"), col("sig")), rowsPerBand),
      storeDir, manifestPath, filesOut)
  }

  /** [[minhashIncremental]] against a PERSISTED banded store written by
    * [[writeBandedSigStore]]: identical semantics, but the store scan
    * is manifest-pruned to touched-bucket FILES before the row-level
    * touched semi join — the batch opens a slice of the store, not the
    * store. The store arrives pre-banded, so the per-batch band
    * projection of the flat path disappears too.
    */
  def minhashIncrementalBanded(newDocs: DataFrame, id: Column,
                               text: Column, storeDir: String,
                               manifestPath: String, n: Int = 3,
                               k: Int = 32, rowsPerBand: Int = 4,
                               minEstJaccard: Double = 0.8,
                               maxBucket: Int = 10000): DataFrame =
    minhashIncrementalBandedFromSigs(newDocs, id,
      minhashSigsNative(newDocs, id, text, n, k), storeDir, manifestPath,
      rowsPerBand, minEstJaccard, maxBucket)

  /** [[minhashIncrementalBanded]] over pre-computed batch signatures
    * (the hash-once form the streaming gate uses).
    */
  def minhashIncrementalBandedFromSigs(newDocs: DataFrame, id: Column,
                                       newSigsIn: DataFrame,
                                       storeDir: String,
                                       manifestPath: String,
                                       rowsPerBand: Int = 4,
                                       minEstJaccard: Double = 0.8,
                                       maxBucket: Int = 10000)
      : DataFrame = {
    val (newSigs, nNewSigs) = Checkpoints.stageCount(newSigsIn)
    val small = Regime.fits(nNewSigs)
    val newBands = lshBuckets(newSigs, rowsPerBand)
      .select(col("band"), col("bucket"), col("id"), col("sig"))
    val storeBands = Layout.BandedSigs.touched(Seq(storeDir), manifestPath,
      newBands)
    bandedIncrementalCore(newDocs, id, newBands, storeBands, small,
      minEstJaccard, maxBucket)
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash: per bit, sum +1/-1 across tokens, sign → bit. A
    * single native per-row expression — NO shuffle (the composable
    * explode + 64-aggregate groupBy form costs one). Uses the PolyFp
    * hash family so the DuckDB oracle reproduces it bit for bit; the
    * xxhash64-keyed variant remains as `simhashXx` / SQL `simhash64`.
    */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.SimHashFpExpr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(text)))
        .as("simhash"))

  /** xxhash64-keyed SimHash (stronger engine hash, not oracle-checkable). */
  def simhashXx(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"),
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.SimHash64Expr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(text)))
        .as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash: block on 4×16-bit windows (any pair
    * within hamming ≤ maxDist shares at least one window by pigeonhole
    * when maxDist ≤ 3; equality join per window, then exact verify).
    */
  def simhashCandidates(hashes: DataFrame, maxDist: Int = 3): DataFrame = {
    val windows = hashes.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(w =>
        shiftrightunsigned(col("simhash"), w * 16)
          .bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "w").withColumnRenamed("col", "wk")
    val l = windows.select(col("id").as("id_a"),
      col("simhash").as("sh_a"), col("w"), col("wk"))
    val r = windows.select(col("id").as("id_b"),
      col("simhash").as("sh_b"), col("w"), col("wk"))
    l.join(r, Seq("w", "wk")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  // ---------- n-gram Jaccard (exact) ----------

  /** Exact pairwise Jaccard over word n-gram shingles — never a cross
    * product, and the shingle subtree is computed ONCE:
    * per-doc sizes ride along via a window, per-shingle doc lists expand
    * to in-bucket pairs, and a (da, db) count gives the intersection.
    * `leftFilter` (a predicate over the da id) bounds the pair space —
    * at scale that's the LSH candidate subset.
    *
    * `maxBucket` bounds the in-bucket pair expansion, mirroring
    * [[minhashCandidates]] / [[embeddingCandidates]]: a shingle shared
    * by m documents expands m²/2 pairs, so ONE stop-phrase shingle
    * ("terms of service may") at 100 TB is a job-killing skew task
    * without the cap. Dropping a df > maxBucket shingle undercounts
    * `inter` by at most the number of such shingles a pair shares —
    * for near-dup detection that loss is the right trade: a shingle in
    * >maxBucket documents is boilerplate carrying ~zero similarity
    * signal (its presence in both docs says nothing about THEM). The
    * DEFAULT is Int.MaxValue — exact semantics, no silent undercount
    * for existing callers; scale-posture call sites opt into the cap
    * explicitly (the shipped `x_ngram_jaccard` query passes 10000).
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        n: Int, leftFilter: Column => Column,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    // Single-pass shape: the per-doc distinct-shingle count is computed
    // NARROW (size of the deduped shingle array, before explode) and
    // rides along with every exploded row, so bucket members carry
    // (id, n_sh) and the intersection aggregate already has both set
    // sizes — no sizes subtree, no join-back. Exactly 2 shuffles:
    // groupBy(shingle hash) and groupBy(pair). Shuffle payload is the
    // 8-byte shingle hash + 8-byte size, never shingle strings
    // (collision odds ~|shingles|²/2^64 — negligible).
    val shs = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.ShinglesExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text), n))
    val docs = df
      .select(id.as("id"), array_distinct(shs).as("shs"))
      .select(col("id"), size(col("shs")).as("n_sh"),
        explode(col("shs")).as("shingle"))
      .select(col("id"), col("n_sh"), xxhash64(col("shingle")).as("sh"))
    val members = boundedBucketMembers(docs, Seq("sh"),
      collect_list(struct(col("id"), col("n_sh"))), maxBucket)
    val pairs = members.select(explode(
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.PairCombinationsExpr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(col("ms")))))
      .as("pr"))
      .select(col("pr.a.id").as("da"), col("pr.a.n_sh").as("na"),
        col("pr.b.id").as("db"), col("pr.b.n_sh").as("nb"))
      .where(leftFilter(col("da")))
    pairs
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jac"))
  }

  /** EXACT all-pairs Jaccard ≥ `theta` via df-ordered prefix filtering
    * (Chaudhuri, Ganti & Kaushik, "A primitive operator for similarity
    * joins", ICDE 2006; Bayardo, Ma & Srikant, "Scaling up all pairs
    * similarity search", WWW 2007) — the scale path to EXACT results
    * that [[ngramJaccardPairs]]'s `maxBucket` cap trades away:
    *
    *  - Every shingle set is sorted by the GLOBAL (document frequency,
    *    hash) order; a doc's candidate key set is only its PREFIX —
    *    the `n − ⌈θ·n⌉ + 1` RAREST shingles. Pairs with J ≥ θ must
    *    share a prefix shingle (prefix-filter lemma with required
    *    overlap α = max(⌈θ·na⌉, ⌈θ·nb⌉): J ≥ θ ⇒ inter ≥ θ·max(na,nb)
    *    ⇒ inter ≥ α, and disjoint (n−α+1)-prefixes bound inter ≤ α−1).
    *  - Boilerplate shingles ("terms of service …", df in the
    *    millions) sort LAST, so they never enter a prefix at any
    *    realistic θ — the stop-shingle m²/2 blow-up that forced the
    *    cap is pruned by construction, with zero undercount.
    *  - The candidate join carries 8-byte hashes + sizes; full sets
    *    are fetched ONCE per surviving candidate for the exact
    *    `array_intersect` verify (sorted long arrays, narrow).
    *
    * Ceils are computed as `ceil(x − 1e-9)`: an FP error can only
    * LENGTHEN a prefix / weaken a size filter (extra candidates, which
    * the exact verify discards) — never lose a qualifying pair.
    *
    * Returns (da, db, inter, na, nb, jac) with jac ≥ theta, exact —
    * the same contract as the uncapped [[ngramJaccardPairs]] filtered
    * at θ (spec-pinned equal on random corpora).
    */
  def allPairsJaccard(df: DataFrame, id: Column, text: Column,
                      n: Int, theta: Double,
                      dfStats: Option[DataFrame] = None): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, "theta must be in (0, 1]")
    val shs = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.ShinglesExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text), n))
    def ceilTheta(c: Column): Column = ceil(lit(theta) * c - lit(1e-9))
    // (id, n_sh, set): per-doc deduped shingle hashes, sorted — staged,
    // it feeds the df count, the prefix ranks, and both verify fetches
    val docs = Checkpoints.stage(df
      .select(id.as("id"), array_distinct(shs).as("shs"))
      .select(col("id"),
        sort_array(transform(col("shs"), s => xxhash64(s))).as("set"))
      .select(col("id"), size(col("set")).as("n_sh"), col("set"))
      .where(col("n_sh") > 0))
    val tokens = docs.select(col("id"), col("n_sh"),
      explode(col("set")).as("sh"))
    // df source: recomputed per run by default, or the PERSISTED
    // merge-refreshed stats table ([[writeDfStats]]/[[mergeDfStats]]).
    // Correctness needs only a CONSISTENT global order — the
    // prefix-filter lemma holds for ANY fixed total order over
    // shingles, df-descending is purely the efficiency heuristic — so
    // a shingle absent from the stats (left join) safely defaults to
    // df 1 (rarest): candidates may grow, the exact verify still
    // discards them, and no qualifying pair is ever lost. At 100 TB
    // the savings is the full-corpus tokens exchange the df groupBy
    // would otherwise pay on every incremental run.
    val ranked = dfStats match {
      case Some(stats) => tokens
        .join(stats.select(col("sh"),
          col("df_sh").cast("long").as("df_sh")), Seq("sh"), "left")
        .withColumn("df_sh", coalesce(col("df_sh"), lit(1L)))
      case None =>
        val dfs = tokens.groupBy(col("sh"))
          .agg(count(lit(1)).as("df_sh"))
        tokens.join(dfs, Seq("sh"))
    }
    // prefix = the p rarest shingles per doc under the global
    // (df, hash) order; the rank window partitions by doc id —
    // corpus-cardinality, never a few-groups reducer
    val w = Window.partitionBy(col("id"))
      .orderBy(col("df_sh"), col("sh"))
    val prefix = ranked
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("n_sh") - ceilTheta(col("n_sh")) + 1)
      .select(col("sh"), col("id"), col("n_sh"))
    // candidates: prefix-bucket co-occurrence + the size filter
    // (J ≥ θ forces θ·na ≤ nb and θ·nb ≤ na) — fixed-width rows only
    val cands = prefix.select(col("sh"), col("id").as("da"),
        col("n_sh").as("na"))
      .join(prefix.select(col("sh"), col("id").as("db"),
        col("n_sh").as("nb")), Seq("sh"))
      .where(col("da") < col("db") &&
        col("nb") >= ceilTheta(col("na")) &&
        col("na") >= ceilTheta(col("nb")))
      .select(col("da"), col("db")).distinct()
    // exact verify: fetch each candidate's full sorted hash set once
    cands
      .join(docs.select(col("id").as("da"), col("n_sh").as("na"),
        col("set").as("seta")), Seq("da"))
      .join(docs.select(col("id").as("db"), col("n_sh").as("nb"),
        col("set").as("setb")), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("seta"), col("setb"))).cast("long")
          .as("inter"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= theta)
  }

  /** The (sh, df_sh) document-frequency table [[allPairsJaccard]]'s
    * prefix order reads — one deduped-shingle hash + count pass over
    * `docs`, the same hashing as the operator itself.
    */
  private def dfStatsOf(docs: DataFrame, id: Column, text: Column,
                        n: Int): DataFrame = {
    val shs = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.ShinglesExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text), n))
    docs.select(id.as("id"), array_distinct(shs).as("shs"))
      .select(explode(col("shs")).as("shingle"))
      .select(xxhash64(col("shingle")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df_sh"))
  }

  /** Persist the corpus document-frequency table for
    * [[allPairsJaccard]]'s prefix order: (sh, df_sh) sh-range-
    * clustered — the artifact an incremental corpus REUSES instead of
    * re-aggregating frequencies over 100 TB of history on every run.
    */
  def writeDfStats(docs: DataFrame, id: Column, text: Column, n: Int,
                   statsDir: String, filesOut: Int = 4): Unit =
    Stats.withWriterLease(docs.sparkSession, Seq(statsDir),
        "writeDfStats(batch)") {
      dfStatsOf(docs, id, text, n)
        .repartitionByRange(filesOut, col("sh"))
        .sortWithinPartitions(col("sh"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(statsDir)
    }

  /** Merge-refresh: stored stats + a new batch's counts, additively —
    * document frequencies are a sum monoid, so stored(hist) ⊕
    * counts(batch) ≡ from-scratch counts over hist ∪ batch (the
    * [[graft.operators.Selection.refreshBucketTable]] law). Persist
    * the result back with [[writeDfStats]]'s layout on the usual
    * cadence, or feed it straight to [[allPairsJaccard]]'s `dfStats`.
    */
  def mergeDfStats(stored: DataFrame, batch: DataFrame, id: Column,
                   text: Column, n: Int): DataFrame =
    stored.select(col("sh"), col("df_sh"))
      .unionByName(dfStatsOf(batch, id, text, n))
      .groupBy(col("sh")).agg(sum(col("df_sh")).as("df_sh"))

  // ---------- semantic dedup (SemDeDup) ----------

  /** Candidate near-dup pairs for SemDeDup (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): assign every embedding to its `probes`
    * nearest k-means cells (the fitted [[Similarity.fitCentroids]] /
    * [[Similarity.loadCentroids]] matrix — the IVF artifact, reused),
    * then EXACT cosine ≥ `threshold` within each cell. Clustering only
    * decides which pairs get scored — no false positives, only misses
    * for pairs split across cells, which multi-assignment (`probes` ≥
    * 2, the IVF nprobe idea applied corpus-side) makes rare.
    *
    * Scale shape (the point of SemDeDup): pairwise work is confined to
    * cells (n²/k per cell in expectation, `maxCell` bounds the
    * degenerate case); candidate ID pairs are DEDUPED before vectors
    * are fetched, so the float vectors never ride the multi-probe pair
    * expansion — the [[embeddingNearDupLsh]] dedup-then-fetch pattern
    * with data-adaptive cells instead of random hyperplanes.
    *
    * The pair join's parallelism equals the CELL count — size k to the
    * corpus: SemDeDup itself fits tens of thousands of clusters for
    * 10⁸ docs (k ≈ n / target cell size, fit on a sample via
    * [[Similarity.fitCentroids]]); a 16-cell fixture k is a fixture
    * choice, not the operator's posture.
    */
  def semDedupPairs(embs: DataFrame, cents: Array[Array[Double]],
                    threshold: Double, probes: Int = 2,
                    maxCell: Int = 100000): DataFrame = {
    import graft.functions.VectorFunctions.{dot, l2Norm}
    require(probes >= 1 && probes <= cents.length,
      "probes must be in [1, #cells]")
    val assigned = embs
      .select(col("id"), explode(
        Similarity.topCellsCol(col("vec"), cents, probes)).as("cell"))
    val inCap = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("__csz"))
      .where(col("__csz") <= maxCell)
      .select(col("cell"))
    val members = assigned.join(inCap, Seq("cell"), "left_semi")
    // candidate id pairs, deduped across probe cells BEFORE any vector
    // is fetched — the pair join carries 16-byte rows only
    val cands = members.select(col("cell"), col("id").as("id_a"))
      .join(members.select(col("cell"), col("id").as("id_b")),
        Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val va = embs.select(col("id").as("id_a"), col("vec").as("va"))
      .withColumn("na", l2Norm(col("va")))
    val vb = embs.select(col("id").as("id_b"), col("vec").as("vb"))
      .withColumn("nb", l2Norm(col("vb")))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("na") * col("nb") =!= 0.0,
          dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Full SemDeDup resolution: cluster the ≥-threshold pairs with
    * connected components and keep ONE doc per semantic group (min id;
    * compose with the keep-best argmax join for a quality policy).
    * Returns every input id with (cluster, keep) — singletons keep
    * themselves.
    */
  def semDedup(embs: DataFrame, cents: Array[Array[Double]],
               threshold: Double, probes: Int = 2,
               maxCell: Int = 100000): DataFrame = {
    val pairs = semDedupPairs(embs, cents, threshold, probes, maxCell)
    val cl = Graph.dedupClusters(pairs, col("id_a"), col("id_b"))
    embs.select(col("id")).join(cl, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }

  // ---------- embedding near-dup ----------

  /** Near-duplicate pairs by embedding cosine ≥ threshold via
    * multi-table multiprobe sign-LSH (Charikar STOC 2002 hyperplane
    * hashes; multiprobe per Lv et al. VLDB 2007): `tables` independent
    * codes of `planes` sign bits each; with `multiprobe = 1` every
    * entry ALSO lands in each 1-bit-flip bucket of its code, so two
    * codes within Hamming distance ≤ 2 share a bucket in that table
    * (A⊕eᵢ = B⊕eⱼ whenever A⊕B = eᵢ⊕eⱼ). Candidates = in-bucket pairs
    * (equality-grouped, never a cross join), then EXACT cosine verify —
    * LSH only decides which pairs get scored, so there are no false
    * positives, only (tunably rare) misses.
    *
    * Plan shape: one narrow pass computes all codes
    * ([[Similarity.signBucketsExpr]], a single native expression), the
    * (1+planes)·tables (id, table, bucket) entries — 24-byte rows, no
    * vectors — shuffle once into bucket groups, in-bucket pairs expand
    * natively (PairCombinationsExpr) under a `maxBucket` cap, and only
    * the DEDUPED candidate id pairs fetch vectors for scoring. At
    * 100 TB nothing quadratic exists in the plan; the quadratic risk
    * is confined to degenerate buckets, which `maxBucket` bounds.
    *
    * Tuning (recall at the threshold cosine θ, per-plane agreement
    * p = 1 − arccos(θ)/π, per-table hit q = Σ_{h≤2} C(b,h)·p^(b−h)(1−p)^h,
    * recall ≈ 1 − (1−q)^L): REAL near-dup thresholds (≥ 0.8, p ≥ 0.8)
    * afford planes = 16+ — millions of buckets, massive pruning. The
    * repo fixture's θ = 0.42 (p ≈ 0.64, barely above the 0.5 of random
    * pairs) is the adversarial regime: planes = 8 / tables = 8 /
    * multiprobe = 1 measures recall ≥ 0.98 there, at the price of weak
    * pruning — with NO cosine gap between dup and non-dup no
    * sub-quadratic method prunes hard at high recall; the operator's
    * win is that recall/cost is a dial, not a plan rewrite.
    */
  def embeddingNearDup(embs: DataFrame, id: Column, vec: Column,
                       threshold: Double, planes: Int = 8,
                       tables: Int = 8, multiprobe: Int = 1,
                       dim: Int = 64, maxBucket: Int = 100000): DataFrame = {
    val base = embs.select(id.as("id"), vec.as("vec"))
    val pairs = embeddingCandidates(base, planes, tables, multiprobe,
      dim, maxBucket)
    val va = base.select(col("id").as("id_a"), col("vec").as("va"))
      .withColumn("na", VectorFunctions.l2Norm(col("va")))
    val vb = base.select(col("id").as("id_b"), col("vec").as("vb_"))
      .withColumn("nb", VectorFunctions.l2Norm(col("vb_")))
    val denom = col("na") * col("nb")
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        when(denom =!= 0.0,
          VectorFunctions.dot(col("va"), col("vb_")) / denom).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Candidate (id_a < id_b) pairs from multiprobe sign-LSH bucket
    * collisions — the unscored half of [[embeddingNearDup]].
    */
  def embeddingCandidates(base: DataFrame, planes: Int, tables: Int,
                          multiprobe: Int, dim: Int,
                          maxBucket: Int): DataFrame = {
    val ent = expandProbes(
      embeddingCodes(base, col("id"), col("vec"), planes, tables, dim),
      planes, multiprobe)
    // (table, bucket, id) rows are distinct by construction: a probe
    // set per (id, table) is the original bucket plus DISTINCT bit
    // flips, so the pre-count cap sees true member counts
    val members = boundedBucketMembers(ent, Seq("table", "bucket"),
      collect_set(col("id")), maxBucket)
    members.select(explode(
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.PairCombinationsExpr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(col("ms")))))
      .as("pr"))
      .select(col("pr.a").as("id_a"), col("pr.b").as("id_b"))
      .distinct()
  }

  /** Unexpanded sign-LSH codes (id, table, bucket) — `tables` 24-byte
    * rows per vector, the PERSISTABLE store form for
    * [[embeddingIncremental]] (~0.1% of the vectors' bytes; probes are
    * re-expanded narrowly at read time, so multiprobe remains a read
    * parameter instead of baked into storage).
    */
  def embeddingCodes(embs: DataFrame, id: Column, vec: Column,
                     planes: Int, tables: Int,
                     dim: Int = 64): DataFrame =
    embs.select(id.as("id"),
      posexplode(Similarity.signBucketsExpr(vec, planes, tables, dim)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")

  /** Multiprobe expansion: every code also lands in each 1-bit-flip
    * bucket, so codes within Hamming ≤ 2·multiprobe share a bucket.
    */
  private def expandProbes(codes: DataFrame, planes: Int,
                           multiprobe: Int): DataFrame = {
    val masks: Seq[Column] = lit(0L) +:
      (if (multiprobe >= 1) (0 until planes).map(p => lit(1L << p))
       else Seq.empty[Column])
    codes.select(col("id"), col("table"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*))
        .as("bucket"))
  }

  /** Incremental embedding near-dup against a PERSISTED code store —
    * the [[minhashIncremental]] pattern for vectors: new-batch
    * embeddings are scored only against history they LSH-collide with,
    * and history pays neither re-hashing (codes are read back, not
    * recomputed from 100 TB of vectors) nor a shuffle (the code scan is
    * filtered map-side by a broadcast semi join on the batch's touched
    * (table, bucket) set). Pair expansion is |bucket| × |new in
    * bucket|; candidate verification fetches vectors only for the
    * batch-bounded candidate ids. Returns (id_a, id_b, cos) near-dup
    * pairs with the new doc on the `id_b` side — equal to
    * [[embeddingNearDup]] over history ∪ batch restricted to pairs
    * whose larger id is new (history ids precede batch ids by the
    * ingestion-order contract), including the total-bucket-size cap.
    *
    * `storeCodes` is [[embeddingCodes]] output persisted for history;
    * `storeVecs` the historical (id, vec) table (only candidate
    * partners' vectors are ever fetched from it).
    *
    * Regime gate, as in [[minhashIncremental]]: the batch's codes are
    * materialized once and counted; batches over the [[Regime]]
    * threshold trade every broadcast for a shuffle join (both arms
    * row-identical).
    */
  def embeddingIncremental(newEmbs: DataFrame, id: Column, vec: Column,
                           storeCodes: DataFrame, storeVecs: DataFrame,
                           threshold: Double, planes: Int = 8,
                           tables: Int = 8, multiprobe: Int = 1,
                           dim: Int = 64,
                           maxBucket: Int = 100000): DataFrame = {
    val base = newEmbs.select(id.as("id"), vec.as("vec"))
    val (newCodes, nCodes) = Checkpoints.stageCount(
      embeddingCodes(base, col("id"), col("vec"), planes, tables, dim))
    embeddingIncrementalFromCodes(base, newCodes, nCodes, storeCodes,
      storeVecs, threshold, planes, tables, multiprobe, maxBucket)
  }

  /** The shared tail of the incremental embedding gates: `base` is the
    * batch's (id, vec), `newCodes` its ALREADY-materialized
    * [[embeddingCodes]] output (hashed exactly once by the caller).
    */
  private def embeddingIncrementalFromCodes(base: DataFrame,
                                            newCodes: DataFrame,
                                            nCodes: Long,
                                            storeCodes: DataFrame,
                                            storeVecs: DataFrame,
                                            threshold: Double, planes: Int,
                                            tables: Int, multiprobe: Int,
                                            maxBucket: Int)
      : DataFrame = {
    def batchSide(df: DataFrame): DataFrame = Regime.gate(nCodes)(df)
    val newEnt = expandProbes(newCodes, planes, multiprobe)
    val touched = newEnt.select(col("table"), col("bucket"))
    // store entries in touched buckets (map-side semi filter in the
    // small regime) plus the batch's own entries, all touched by
    // construction — the batch's codes are expanded once, not re-
    // derived under the union
    val members = expandProbes(
        storeCodes.select(col("id"), col("table"), col("bucket")),
        planes, multiprobe)
      .join(batchSide(touched), Seq("table", "bucket"), "left_semi")
      .unionByName(newEnt)
    // (id, table, bucket) is unique per vector (probe masks are
    // distinct XORs), so count(1) IS the distinct-member count the
    // batch path caps on
    val inCap = members.groupBy(col("table"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") <= maxBucket)
      .select(col("table"), col("bucket"))
    val older = members
      .join(batchSide(inCap), Seq("table", "bucket"), "left_semi")
      .select(col("table"), col("bucket"), col("id").as("id_a"))
    val newer = newEnt
      .join(batchSide(inCap), Seq("table", "bucket"), "left_semi")
      .select(col("table"), col("bucket"), col("id").as("id_b"))
    val cand = older.join(batchSide(newer), Seq("table", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val allVecs = storeVecs.select(col("id"), col("vec"))
      .unionByName(base)
    val va = allVecs.select(col("id").as("id_a"), col("vec").as("va"))
      .withColumn("na", VectorFunctions.l2Norm(col("va")))
    val vb = base.select(col("id").as("id_b"), col("vec").as("vb_"))
      .withColumn("nb", VectorFunctions.l2Norm(col("vb_")))
    val denom = col("na") * col("nb")
    // candidates are batch-bounded → in the small regime they
    // broadcast into the vector fetches; neither vector table shuffles
    batchSide(cand).join(va, "id_a").join(batchSide(vb), "id_b")
      .select(col("id_a"), col("id_b"),
        when(denom =!= 0.0,
          VectorFunctions.dot(col("va"), col("vb_")) / denom).as("cos"))
      .where(col("cos") >= threshold)
  }

  // ---------- persisted code store (manifest-pruned) ----------

  /** Persist an [[embeddingCodes]] (id, table, bucket) table as the
    * clustered code store ([[Layout.CodeBuckets]]): range-clustered by
    * (table, bucket) into `filesOut` files plus a footer-stats
    * manifest — the embedding twin of [[writeBandedSigStore]]. Codes
    * are stored UNEXPANDED (probes re-expand at read time), so storage
    * stays ~0.1% of the vectors' bytes and multiprobe remains a read
    * parameter.
    */
  def writeCodeStore(codes: DataFrame, storeDir: String,
                     manifestPath: String, filesOut: Int): Unit =
    Stats.withWriterLease(codes.sparkSession, Seq(storeDir),
        "writeCodeStore(batch)") {
    Layout.CodeBuckets.write(codes, storeDir, manifestPath, filesOut)
  }

  /** Append a batch's codes to an existing clustered code store; the
    * manifest refresh reads footers only for the new files.
    */
  def appendCodeStore(codes: DataFrame, storeDir: String,
                      manifestPath: String, filesOut: Int): Unit =
    Stats.withWriterLease(codes.sparkSession, Seq(storeDir),
        "appendCodeStore(batch)") {
    Layout.CodeBuckets.append(codes, storeDir, manifestPath, filesOut)
  }

  /** [[embeddingIncremental]] against a PERSISTED clustered code store
    * written by [[writeCodeStore]]: identical semantics, but the store
    * scan is manifest-pruned to the files that can hold a colliding
    * RAW bucket before the row-level probe join. The prune probe set
    * is the batch's codes expanded through the probe masks TWICE —
    * store entry b collides with the batch iff b XOR m₁ XOR m₂ hits a
    * raw batch code for probe masks m₁ (store-side expansion) and m₂
    * (batch-side expansion), so the double expansion is exactly the
    * set of raw store buckets a match can live in. Batch-bounded:
    * (1 + planes)² entries per (vector, table) at multiprobe = 1.
    */
  def embeddingIncrementalStored(newEmbs: DataFrame, id: Column,
                                 vec: Column, storeDir: String,
                                 manifestPath: String,
                                 storeVecs: DataFrame, threshold: Double,
                                 planes: Int = 8, tables: Int = 8,
                                 multiprobe: Int = 1, dim: Int = 64,
                                 maxBucket: Int = 100000)
      : DataFrame = {
    val base = newEmbs.select(id.as("id"), vec.as("vec"))
    val (newCodes, nCodes) = Checkpoints.stageCount(
      embeddingCodes(base, col("id"), col("vec"), planes, tables, dim))
    val pruneProbes = expandProbes(
        expandProbes(newCodes, planes, multiprobe), planes, multiprobe)
      .select(col("table"), col("bucket"))
    val storeCodes = Layout.CodeBuckets.touched(Seq(storeDir), manifestPath,
      pruneProbes)
    embeddingIncrementalFromCodes(base, newCodes, nCodes, storeCodes,
      storeVecs, threshold, planes, tables, multiprobe, maxBucket)
  }

  /** Precision/recall audit of the MinHash+LSH near-dup pipeline
    * against exact ground truth, per threshold — the quality
    * measurement a production dedup pipeline ships next to its dedup
    * decisions (is the LSH recall floor holding on THIS corpus?).
    *
    * Ground truth: [[allPairsJaccard]] at `exactTheta` (exact by the
    * prefix-filter guarantee). Predictions: [[minhashCandidates]]'
    * banded candidates with their signature-agreement estimate. For
    * each θ in `thetas` (every θ ≥ exactTheta, so no qualifying true
    * pair is missed): tp = pairs both arms place at ≥ θ, fp =
    * predicted-only, fn = truth-only (LSH banding misses + estimator
    * undershoot). Counts are integers; precision/recall are left to
    * the reader as exact ratios — emitting them as floats would trade
    * an oracle-checkable row for a rounding story.
    *
    * Scale: both arms are the library's own sub-quadratic paths; the
    * audit joins two PAIR sets (near-dup-sized, not corpus-sized) and
    * the θ sweep rides one broadcast cross join over them.
    */
  def neardupPrCurve(df: DataFrame, id: Column, text: Column,
                     thetas: Seq[Double], n: Int = 3, k: Int = 32,
                     rowsPerBand: Int = 4,
                     exactTheta: Double = 0.5): DataFrame = {
    require(thetas.nonEmpty, "thetas must be non-empty")
    require(thetas.forall(_ >= exactTheta),
      "every theta must be >= exactTheta or true pairs are missed")
    val spark = df.sparkSession
    val exact = allPairsJaccard(df, id, text, n, exactTheta)
      .select(col("da"), col("db"), col("jac"))
    val pred = minhashCandidates(
        minhashSigsNative(df, id, text, n, k), rowsPerBand)
      .select(col("id_a").as("da"), col("id_b").as("db"),
        col("est_jaccard").as("est"))
    val joined = Checkpoints.stage(
      exact.join(pred, Seq("da", "db"), "full_outer"))
    import spark.implicits._
    val th = thetas.toDF("theta")
    joined.crossJoin(broadcast(th))
      .groupBy(col("theta"))
      .agg(
        // coalesce: SQL sum over an all-NULL condition column is NULL
        // where the oracle's count(*) FILTER is 0
        coalesce(sum((col("jac") >= col("theta") &&
          col("est") >= col("theta")).cast("long")), lit(0L)).as("tp"),
        coalesce(sum((col("est") >= col("theta") &&
          (col("jac").isNull || col("jac") < col("theta")))
          .cast("long")), lit(0L)).as("fp"),
        coalesce(sum((col("jac") >= col("theta") &&
          (col("est").isNull || col("est") < col("theta")))
          .cast("long")), lit(0L)).as("fn"))
      .orderBy(col("theta"))
  }
}
