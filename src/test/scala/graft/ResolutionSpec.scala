package graft

import org.apache.spark.sql.functions._
import graft.operators.{Regime, Resolution, Stats}

/** Entity resolution ([[graft.operators.Resolution]]): exact collapse,
  * blocked + thresholded confirm, block skew cap, record
  * canonicalization, and the incremental dictionary store
  * (manifest-pruned scans, incremental ≡ batch reconciliation).
  */
class ResolutionSpec extends SparkSuite {
  import spark.implicits._

  // acme/acme inc: d=4 > 3 → NOT linked; "acme corp"/"acme corp." d=1;
  // "zeta llc" unrelated; "beta corp" is in block "beta" alone
  def records = Seq(
    (10L, "acme corp"),
    (11L, "acme corp."),
    (12L, "acme corp"),   // exact dup of 10
    (13L, "acme corpse"), // d("acme corp", "acme corpse") = 2 → linked
    (20L, "beta corp"),
    (30L, "zeta llc")
  ).toDF("rid", "nm")

  test("entities collapses exact duplicates to min record id with support") {
    val e = Resolution.entities(records, col("rid"), col("nm"))
      .select("nm", "eid", "support").as[(String, Long, Long)]
      .collect()
      .map { case (nm, eid, sup) => nm -> ((eid, sup)) }.toMap
    assert(e("acme corp") == ((10L, 2L)))
    assert(e("beta corp") == ((20L, 1L)))
    assert(e.size == 5)
  }

  test("blockedPairs: in-block thresholded levenshtein, cross-block pairs never compared") {
    val ents = Resolution.entities(records, col("rid"), col("nm"))
    val pairs = Resolution.blockedPairs(ents, maxDist = 3)
      .select("eid_a", "eid_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    // "acme corp"(10) ↔ "acme corp."(11) d=1; (10) ↔ "acme corpse"(13)
    // d=2; (11) ↔ (13) d=2 ("corp."→"corps"→"corpse"); beta/zeta
    // unpaired — different first-token blocks are never compared
    assert(pairs == Set((10L, 11L, 1), (10L, 13L, 2), (11L, 13L, 2)))
  }

  test("maxDist excludes distant in-block pairs") {
    val ents = Resolution.entities(records, col("rid"), col("nm"))
    val pairs = Resolution.blockedPairs(ents, maxDist = 1)
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L)))
  }

  test("maxBlock drops over-cap blocks BEFORE pairing") {
    // 4 entities in block "acme" (> cap 3) → no acme pairs at all
    val more = records.union(Seq((14L, "acme corps")).toDF("rid", "nm"))
    val ents = Resolution.entities(more, col("rid"), col("nm"))
    val pairs = Resolution.blockedPairs(ents, maxDist = 3, maxBlock = 3)
      .collect()
    assert(pairs.isEmpty)
  }

  test("canonicalize: min record id per component; singletons keep their own") {
    val ents = Resolution.entities(records, col("rid"), col("nm"))
    val edges = Resolution.blockedPairs(ents, maxDist = 3)
    val canon = Resolution.canonicalize(records, col("rid"), col("nm"),
        edges)
      .select("rid", "canon").as[(Long, Long)].collect().toMap
    assert(canon(10L) == 10L && canon(11L) == 10L && canon(12L) == 10L
      && canon(13L) == 10L)
    assert(canon(20L) == 20L && canon(30L) == 30L)
  }

  test("incremental store: pruned scans, and accumulated edges ≡ batch clustering") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-er-").toString
    val names = spark.read.parquet(s"$sf0001/part.parquet")
      .select(col("p_partkey").as("rid"), col("p_name").as("nm"))
    val hist = names.where(col("rid") < 150)
    val batch = names.where(col("rid") >= 150)
    val histEnts = Resolution.entities(hist, col("rid"), col("nm"))
    Resolution.writeEntityStore(histEnts, s"$dir/store",
      s"$dir/manifest", filesOut = 8)

    // file accounting: a one-block probe opens strictly fewer files
    val oneBlock = Resolution
      .entities(batch.limit(1), col("rid"), col("nm"))
    val keyedProbe = oneBlock.select(
      graft.operators.TextAnalysis.fingerprint(
        Resolution.firstTokenBlock(col("nm"))).as("blkh"))
    val keptFiles = Stats.touchedKeysKeptFiles(spark, s"$dir/store",
      s"$dir/manifest", "blkh", keyedProbe)
    val allFiles = new java.io.File(s"$dir/store").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(keptFiles.size < allFiles,
      s"expected pruning: kept ${keptFiles.size} of $allFiles")

    // reconciliation: history edges ∪ batch-touching edges → CC ≡
    // the full-corpus batch clustering
    val batchEnts = Resolution.entities(batch, col("rid"), col("nm"))
    val histEdges = Resolution.blockedPairs(histEnts, maxDist = 3)
    val incEdges = Resolution.erIncrementalPairs(batchEnts,
      s"$dir/store", s"$dir/manifest", maxDist = 3)
    val edges = histEdges.select(col("eid_a"), col("eid_b"))
      .unionByName(incEdges.select(col("eid_a"), col("eid_b")))
      .distinct()
    val inc = Resolution.canonicalize(names, col("rid"), col("nm"),
        edges)
      .select("rid", "canon").as[(Long, Long)].collect().toSet
    val full = Resolution.canonicalize(names, col("rid"), col("nm"),
        Resolution.blockedPairs(
          Resolution.entities(names, col("rid"), col("nm")),
          maxDist = 3))
      .select("rid", "canon").as[(Long, Long)].collect().toSet
    assert(inc == full && inc.nonEmpty)
  }

  test("incremental pair join never forms store×store pairs inside touched blocks") {
    // store block "acme" holds TWO confirmable history entities (the
    // old (slice ∪ batch)² shape would expand their pair and throw it
    // away); the batch touches the block with one new entity. The
    // candidate output must contain exactly the two batch-touching
    // pairs — the history×history pair (1,2) must be ABSENT, i.e. it
    // never reached the levenshtein stage at all.
    val storeK = Seq(
      (1L, "acme corp"), (2L, "acme corp."), (7L, "zeta llc")
    ).toDF("eid", "nm")
      .withColumn("blkh", graft.operators.TextAnalysis.fingerprint(
        Resolution.firstTokenBlock(col("nm"))))
    val batchK = Seq((3L, "acme corpse")).toDF("eid", "nm")
      .withColumn("blkh", graft.operators.TextAnalysis.fingerprint(
        Resolution.firstTokenBlock(col("nm"))))
    val cands = Resolution.candidatePairs(batchK, storeK,
        maxBlock = 1000)
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toSet
    assert(cands == Set((1L, 3L), (2L, 3L)),
      s"store×store pair must never form; got $cands")

    // and end-to-end through the persisted store: same edge set after
    // the levenshtein confirm (d(corp,corpse)=2, d(corp.,corpse)=2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-er3-").toString
    Resolution.writeEntityStore(
      Seq((1L, "acme corp", 1L), (2L, "acme corp.", 1L),
        (7L, "zeta llc", 1L)).toDF("eid", "nm", "support"),
      s"$dir/store", s"$dir/manifest", filesOut = 2)
    val edges = Resolution.erIncrementalPairs(
        Seq((3L, "acme corpse", 1L)).toDF("eid", "nm", "support"),
        s"$dir/store", s"$dir/manifest", maxDist = 3)
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toSet
    assert(edges == Set((1L, 3L), (2L, 3L)))
  }

  test("batch×batch pairs appear once and store entities count toward the block cap") {
    // two batch entities + one store entity in one block: cap 2 drops
    // the block entirely (3 members over the union); cap 3 keeps it
    // with all three pairs touching the batch
    val storeK = Seq((1L, "acme corp")).toDF("eid", "nm")
      .withColumn("blkh", graft.operators.TextAnalysis.fingerprint(
        Resolution.firstTokenBlock(col("nm"))))
    val batchK = Seq((2L, "acme corp."), (3L, "acme corpse"))
      .toDF("eid", "nm")
      .withColumn("blkh", graft.operators.TextAnalysis.fingerprint(
        Resolution.firstTokenBlock(col("nm"))))
    val capped = Resolution.candidatePairs(batchK, storeK, maxBlock = 2)
      .collect()
    assert(capped.isEmpty, "union-counted cap must drop the block")
    val cands = Resolution.candidatePairs(batchK, storeK, maxBlock = 3)
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toList
    assert(cands.sorted == List((1L, 2L), (1L, 3L), (2L, 3L)),
      s"each pair exactly once, canonical order; got $cands")
  }

  test("broadcast and shuffle-hash regimes produce identical incremental edges") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-er2-").toString
    val names = spark.read.parquet(s"$sf0001/part.parquet")
      .select(col("p_partkey").as("rid"), col("p_name").as("nm"))
    val histEnts = Resolution.entities(names.where(col("rid") < 150),
      col("rid"), col("nm"))
    Resolution.writeEntityStore(histEnts, s"$dir/store",
      s"$dir/manifest", filesOut = 4)
    val batchEnts = Resolution.entities(names.where(col("rid") >= 150),
      col("rid"), col("nm"))
    val a = Resolution.erIncrementalPairs(batchEnts, s"$dir/store",
        s"$dir/manifest", maxDist = 3)
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toSet
    val b = Regime.forcing(0L)(Resolution.erIncrementalPairs(batchEnts,
        s"$dir/store", s"$dir/manifest", maxDist = 3))
      .select("eid_a", "eid_b").as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
