package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{MinKAggregator, PolyFp}

/** Corpus-overlap estimation with KMV (k minimum values) distinct
  * sketches (Bar-Yossef et al., "Counting distinct elements in a data
  * stream", RANDOM 2002; Beyer et al., "On synopses for distinct-value
  * estimation under multiset operations", SIGMOD 2007) — the planning
  * primitive for cross-corpus dedup at 100 TB: BEFORE paying a join of
  * two sources, estimate their distinct counts, Jaccard, and
  * intersection size from k-long sketches.
  *
  * Design for oracle exactness and scale:
  *  - Keys hash through the PolyFp polynomial fingerprint (identical
  *    integer arithmetic in DuckDB SQL), so the sketch CONTENT — the k
  *    smallest distinct fingerprints per group — is deterministic and
  *    engine-independent, and every estimate below is pure integer (or
  *    exact-ratio) arithmetic on it: the whole surface hash-checks.
  *  - The sketch aggregate is the bounded [[MinKAggregator]]: map-side
  *    partial min-k buffers, one shuffle of ≤ k longs per partition
  *    per group — never a per-group distinct set.
  *  - Sketches are a MERGE SEMIGROUP (union = min-k of concatenation),
  *    so per-batch sketches fold into persisted ones without re-reading
  *    history — [[kmvMerge]], the additive-monoid refresh story of
  *    [[Selection.refreshBucketTable]] applied to distinct counting.
  *
  * Estimator (standard KMV): with h_k the k-th smallest of D distinct
  * uniform hashes over [0, M), E[h_k] ≈ k·M/(D+1), so
  * D̂ = (k−1)·M div h_k; a sketch holding fewer than k values IS the
  * exact distinct set (D̂ = its size, error 0). Relative error is
  * ~1/√(k−2) (≈ 12.7% at k = 64).
  */
object Overlap {

  /** Affine post-mix constants: h(x) = (A·x + B) mod [[PolyFp.Mod]].
    * The raw polynomial fingerprint is NOT uniform over [0, Mod) for
    * short keys (a 5-char key tops out near 31⁴·c ≈ 10⁸), and KMV's
    * estimator needs (pairwise-independent) uniform hashes — the
    * affine map over the prime modulus is the standard universal
    * family (Carter & Wegman 1979), spreads any input range across
    * the full modulus, and A·(Mod−1) ≈ 1.1·10¹⁸ stays BIGINT-safe in
    * both engines.
    */
  val MixA = 1103515245L
  val MixB = 12345L

  /** h(key): PolyFp fingerprint post-mixed into a uniform value over
    * [0, Mod) — the KMV hash, identical arithmetic in DuckDB SQL.
    */
  def kmvHash(key: Column): Column =
    pmod(TextAnalysis.fingerprint(key) * MixA + MixB, lit(PolyFp.Mod))

  /** KMV sketch per group: the k smallest DISTINCT [[kmvHash]] values
    * of `key`, ascending — (grp, sketch). One narrow fingerprint pass,
    * one bounded-buffer shuffle.
    */
  def kmvSketch(df: DataFrame, group: Column, key: Column, k: Int)
      : DataFrame = {
    require(k >= 2, "k must be >= 2")
    val minK = udaf(new MinKAggregator(k))
    // null keys hash to null, which the Long-typed aggregator input
    // encoder would reject at runtime — a null key carries no distinct
    // value, so it is ignored (the dead-letter stance), not a crash
    df.select(group.as("grp"), kmvHash(key).as("fp"))
      .where(col("fp").isNotNull)
      .groupBy(col("grp"))
      .agg(minK(col("fp")).as("sketch"))
  }

  /** Fold two sketch tables (same k): min-k of the concatenation per
    * group — bit-identical to sketching the concatenated inputs, so a
    * persisted sketch refreshes from a batch sketch without touching
    * history (spec-pinned).
    */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.select(col("grp"), col("sketch"))
      .unionByName(b.select(col("grp"), col("sketch")))
      .groupBy(col("grp"))
      .agg(slice(array_sort(array_distinct(flatten(
        collect_list(col("sketch"))))), 1, k).as("sketch"))

  /** Distinct-count estimates from a sketch table: (grp, n_seen, dhat)
    * with dhat exact when the sketch is unsaturated, else the KMV
    * integer estimator — all BIGINT arithmetic, oracle-reproducible.
    */
  def kmvDistinct(sketches: DataFrame, k: Int): DataFrame =
    sketches.select(col("grp"),
        size(col("sketch")).cast("long").as("n_seen"),
        col("sketch"))
      .withColumn("dhat",
        when(col("n_seen") < k, col("n_seen"))
          .otherwise(expr(
            s"(${k - 1}L * ${PolyFp.Mod}L) div element_at(sketch, $k)")))
      .select(col("grp"), col("n_seen"), col("dhat"))

  /** Per-group containment/novelty of a BATCH against HISTORY, from
    * the two sketch tables alone — the per-ingest curation signal
    * ("how much of this batch have we already got?") that decides
    * whether a batch is worth full dedup against a 100 TB store:
    *   ku / matches / dhat_u — as in [[kmvOverlap]] over (hist, batch),
    *   dhat_b   — the batch slice's own distinct estimate,
    *   cont_est — |hist ∩ batch| / |batch| (KMV ratio estimator;
    *              every product stays < 2⁵³, so the double ratio is
    *              IEEE-exact and oracle-reproducible),
    *   novelty  — 1 − cont_est.
    * Groups missing on either side are omitted (no sketch, no claim).
    */
  def kmvContainment(history: DataFrame, batch: DataFrame, k: Int)
      : DataFrame = {
    val h = history.select(col("grp"), col("sketch").as("sa"))
    val b = batch.select(col("grp"), col("sketch").as("sb"))
    // exact integer division (`div`), matching [[kmvDistinct]] — a
    // double quotient truncated to long can land one off the exact //
    def dhat(arrName: String): Column =
      when(size(col(arrName)) < k, size(col(arrName)).cast("long"))
        .otherwise(expr(
          s"(${k - 1}L * ${PolyFp.Mod}L) div element_at($arrName, $k)"))
    h.join(b, Seq("grp"))
      .withColumn("ku_arr",
        slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
      .withColumn("ku", size(col("ku_arr")).cast("long"))
      .withColumn("matches",
        size(array_intersect(array_intersect(col("ku_arr"), col("sa")),
          col("sb"))).cast("long"))
      .withColumn("dhat_u", dhat("ku_arr"))
      .withColumn("dhat_b", dhat("sb"))
      // the ratio of two independent estimators can exceed 1 under
      // sampling noise; clamp so novelty = 1 − cont_est stays in [0,1]
      // for downstream threshold policies
      .withColumn("cont_est",
        least(lit(1.0),
          (col("matches").cast("double") * col("dhat_u")) /
            (col("ku").cast("double") * col("dhat_b"))))
      .select(col("grp"), col("ku"), col("matches"), col("dhat_u"),
        col("dhat_b"), col("cont_est"),
        (lit(1.0) - col("cont_est")).as("novelty"))
  }

  /** Pairwise overlap estimates between groups (ga < gb): from the two
    * sketches alone —
    *   ku       = |K|, the union sketch (min-k of sa ∪ sb),
    *   matches  = |K ∩ sa ∩ sb| (union-sketch members seen in BOTH),
    *   dhat_u   = KMV estimate of |A ∪ B| from K,
    *   jac_est  = matches / ku (the unbiased Jaccard estimator),
    *   inter_est = matches·dhat_u div ku (inclusion via |A∩B| = ρ·|A∪B|).
    * The pair join is #groups², rows of 2k longs — a planning table,
    * never data-sized.
    */
  def kmvOverlap(sketches: DataFrame, k: Int): DataFrame = {
    val a = sketches.select(col("grp").as("ga"), col("sketch").as("sa"))
    val b = sketches.select(col("grp").as("gb"), col("sketch").as("sb"))
    a.join(b, col("ga") < col("gb"))
      .withColumn("ku_arr",
        slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
      .withColumn("ku", size(col("ku_arr")).cast("long"))
      .withColumn("matches",
        size(array_intersect(array_intersect(col("ku_arr"), col("sa")),
          col("sb"))).cast("long"))
      .withColumn("dhat_u",
        when(col("ku") < k, col("ku"))
          .otherwise(expr(
            s"(${k - 1}L * ${PolyFp.Mod}L) div element_at(ku_arr, $k)")))
      .select(col("ga"), col("gb"), col("ku"), col("matches"),
        col("dhat_u"),
        (col("matches").cast("double") / col("ku")).as("jac_est"),
        expr("matches * dhat_u div ku").as("inter_est"))
  }

  // ---------- retractable KMV sketch store ----------

  /** Per-UNIT KMV sketches — (grp, unit, sketch), the finest
    * granularity that keeps min-k sketches retractable. A min-k
    * sketch CANNOT subtract: the deleted values' next-smallest
    * replacements were discarded at sketch time, so a store holding
    * only per-group sketches could honor a takedown only by
    * re-shingling the whole corpus. Holding per-unit (per-document)
    * sketches instead, retraction = drop the unit's row and re-fold —
    * the merge-semigroup law (min-k of a union ≡ min-k of the
    * members' min-k's) makes the group fold BIT-IDENTICAL to
    * sketching the surviving corpus from scratch, at #units·k longs
    * of state and zero corpus re-reads. Coarser units (an ingestion
    * batch, a crawl) trade retraction granularity for state.
    */
  def kmvUnitSketches(df: DataFrame, group: Column, unit: Column,
                      key: Column, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val minK = udaf(new MinKAggregator(k))
    df.select(group.as("grp"), unit.as("unit"), kmvHash(key).as("fp"))
      .where(col("fp").isNotNull)
      .groupBy(col("grp"), col("unit"))
      .agg(minK(col("fp")).as("sketch"))
  }

  /** Bootstrap the retractable sketch store: `batch=0` holds the
    * corpus's [[kmvUnitSketches]], (grp, unit)-clustered on the
    * shared `gen=`/`batch=` protocol.
    */
  def writeKmvUnitStore(df: DataFrame, group: Column, unit: Column,
                        key: Column, k: Int, storeDir: String,
                        filesOut: Int = 2): Unit =
    kmvUnitStore(storeDir).writeBase(df.sparkSession,
      "writeKmvUnitStore(batch)", filesOut)(
      kmvUnitSketches(df, group, unit, key, k))

  /** The sketch store: (grp, unit) → sketch; unit ids never repeat
    * across batches, so the view is every row ([[KeyedStore.Rows]]).
    */
  private[graft] def kmvUnitStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "kmvUnitStore",
      Seq("grp" -> "string", "unit" -> "bigint"),
      Seq("sketch" -> "array<bigint>"), KeyedStore.Rows, manifest = false)

  /** Append a NEW batch's per-unit sketches (`batch=<id>`,
    * overwrite-idempotent, monotone-guarded). Unit ids must be new —
    * upstream exact-dedup owns that, the shared incremental-store
    * contract; history is never re-shingled.
    */
  def appendKmvUnitSketches(batch: DataFrame, group: Column,
                            unit: Column, key: Column, k: Int,
                            storeDir: String, batchId: Long,
                            filesOut: Int = 2): Unit = {
    val store = kmvUnitStore(storeDir)
    store.appending(batch.sparkSession, batchId, "appendKmvUnitSketches",
        kmvTombstones(storeDir)) {
      store.append(batch.sparkSession, "appendKmvUnitSketches(batch)",
        batchId, filesOut)(kmvUnitSketches(batch, group, unit, key, k))
    }
  }

  /** TOMBSTONE retraction for the sketch store: the unit ids land in
    * a `deleted/batch=<id>` set every read anti-joins — O(deleted),
    * and the next [[kmvStoreSketches]] fold is already the exact
    * survivors' sketch (no staleness window: the semigroup re-fold IS
    * the from-scratch answer). Naturally idempotent (the tombstone
    * set is a set — a re-streamed id changes nothing), and a unit id
    * may be RE-ADDED after a compaction cycle cleared its tombstone:
    * nothing additive remembers it, unlike the BM25 stats fold.
    */
  def deleteKmvUnits(ids: DataFrame, storeDir: String, batchId: Long,
                     filesOut: Int = 1): Unit = {
    val tomb = kmvTombstones(storeDir)
    kmvUnitStore(storeDir).appending(ids.sparkSession, batchId,
        "deleteKmvUnits", tomb) {
      Rounds.free(tomb.writeFresh(ids.sparkSession, "deleteKmvUnits",
        batchId, parts = filesOut)(ids))
    }
  }

  // the store's `deleted/` unit set
  private def kmvTombstones(storeDir: String): KeyedStore =
    KeyedStore.tombstones(storeDir, "/deleted", "kmvDeletedUnits",
      "unit" -> "bigint")

  /** The store's CURRENT per-group sketches: surviving units' rows
    * folded by the merge semigroup — bit-identical to
    * [[kmvSketch]] over the surviving corpus (spec-pinned), one
    * map-side-combinable aggregation over #units·k longs.
    */
  def kmvStoreSketches(spark: SparkSession, storeDir: String, k: Int)
      : DataFrame = {
    val rows = kmvUnitStore(storeDir).current(spark)
    kmvTombstones(storeDir).without(spark, rows).groupBy(col("grp"))
      .agg(slice(array_sort(array_distinct(flatten(
        collect_list(col("sketch"))))), 1, k).as("sketch"))
  }

  /** OPTIMIZE: fold the store into one (grp, unit)-clustered
    * generation of SURVIVING unit rows — tombstoned units drop
    * physically here and the tombstone set is cleared (no additive
    * statistic remembers them, so the clear is safe and re-adding a
    * retracted unit id afterwards is legitimate).
    */
  def compactKmvUnitStore(spark: SparkSession, storeDir: String,
                          filesOut: Int = 2): Option[Long] =
    kmvTombstones(storeDir).foldWithout(spark, "compactKmvUnitStore",
      Seq((storeDir, Seq("unit"),
        kmvUnitStore(storeDir).compaction(filesOut)))).head
}
