package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Resolution}
import ParityQueries.t

/** Entity-resolution queries ([[graft.operators.Resolution]]) over the
  * part table — 2000 records over 64 distinct names whose first-token
  * blocks hold real confirmable pairs (in-block levenshtein 3..6 on
  * this fixture, so maxDist = 3 keeps a proper nonempty edge set).
  * Everything is exact: blocking is PolyFp-keyed in BOTH engines (the
  * oracle hashes the same block token, so even a hash collision cannot
  * diverge the two), the confirm is levenshtein — the same DP in Spark
  * and DuckDB — and clustering hash-checks against a recursive-CTE CC.
  */
object ResolutionQueries {

  private val MaxDist = 3
  private val MaxBlock = 10000 // skew guard; inert on this fixture

  private def parts(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")

  private def ents(s: SparkSession, d: String): DataFrame =
    Resolution.entities(parts(s, d), col("p_partkey"), col("p_name"))

  private def histEnts(s: SparkSession, d: String): DataFrame =
    Resolution.entities(
      parts(s, d).where(col("p_partkey") < 1500),
      col("p_partkey"), col("p_name"))

  private def entStoreFor(s: SparkSession, d: String): (String, String) = {
    val p = ArtifactMemo.dirFor("erstore", d) { p =>
      Resolution.writeEntityStore(histEnts(s, d), s"$p/store",
        s"$p/manifest", filesOut = 8)
    }
    (s"$p/store", s"$p/manifest")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // confirmed entity-grain candidate edges: blocked + thresholded
    // levenshtein, the pre-clustering audit surface
    "x_er_pairs" -> ((s, d) =>
      Resolution.blockedPairs(ents(s, d), maxDist = MaxDist,
          maxBlock = MaxBlock)
        .orderBy(col("eid_a"), col("eid_b"))),

    // record-level canonicalization: every part row with the min
    // record id of its connected near-duplicate name component
    "x_er_resolve" -> ((s, d) =>
      Resolution.canonicalize(parts(s, d), col("p_partkey"),
          col("p_name"),
          Resolution.blockedPairs(ents(s, d), maxDist = MaxDist,
            maxBlock = MaxBlock))
        .orderBy(col("rid"))),

    // ER-dictionary RETRACTION — the sig-store semantic on entities:
    // a retracted entity's dictionary row must stop suppressing
    // future near-duplicate names. History = the p_partkey % 8 <> 0
    // slice's entity dictionary in the GATE layout (blkh-clustered
    // batch=0 + manifest); the takedown tombstones eid % 5 = 2
    // (deleteFromNearDupStore's shared set, anti-joined by eid at
    // read); the batch (p_partkey % 8 = 0) then re-gates through the
    // tombstone-aware slice (StreamOps.erStoreSliceFor — the exact
    // read path erGateSink uses). Output = surviving batch entities.
    // Potency: every SF reinstates entities a stale store would have
    // dropped (1 / 5 / 6 at sf0.001 / 0.01 / 0.1). Oracle = the
    // blocked levenshtein gate over exactly the surviving dictionary.
    "x_er_delete" -> ((s, d) => {
      import graft.streaming.StreamOps
      val hist = Resolution.entities(
        parts(s, d).where(col("p_partkey") % 8 =!= 0),
        col("p_partkey"), col("p_name"))
      val root = ArtifactMemo.dirFor("erdelstore", d) { p =>
        graft.operators.Layout.Entities.appendBatch(
          Resolution.keyed(hist, Resolution.firstTokenBlock),
          s"$p/store", s"$p/manifest", batchId = 0L, files = 8)
        StreamOps.deleteFromNearDupStore(s, s"$p/store",
          hist.where(col("eid") % 5 === 2).select(col("eid").as("id")),
          batchId = 1L)
      }
      // staged once — the gate sink's localCheckpoint discipline:
      // batchK feeds the probe, both pair arms, and the final
      // anti-join, and must not re-derive its aggregation per use
      val batchK = graft.operators.Checkpoints.stage(
        Resolution.keyed(
          Resolution.entities(
            parts(s, d).where(col("p_partkey") % 8 === 0),
            col("p_partkey"), col("p_name")),
          Resolution.firstTokenBlock))
      val slice = StreamOps.erStoreSliceFor(s, s"$root/store",
        s"$root/manifest", batchK,
        batchK.select(col("eid"), col("nm"), col("blkh")).limit(0))
      val drops = StreamOps.erGateDropEids(slice, batchK,
        maxDist = MaxDist, maxBlock = MaxBlock)
      batchK.join(drops, Seq("eid"), "left_anti")
        .select(col("eid"), col("nm"))
        .orderBy(col("eid"))
    }),

    // incremental reconciliation: history dictionary persisted
    // blkh-clustered (manifest-pruned batch scans), edges =
    // history-build pairs ∪ batch-touching pairs, CC over the union ≡
    // the full-corpus batch clustering (same oracle as x_er_resolve)
    "x_er_incremental" -> ((s, d) => {
      val (store, manifest) = entStoreFor(s, d)
      val batchEnts = Resolution.entities(
        parts(s, d).where(col("p_partkey") >= 1500),
        col("p_partkey"), col("p_name"))
      val histEdges = Resolution.blockedPairs(histEnts(s, d),
        maxDist = MaxDist, maxBlock = MaxBlock)
      val incEdges = Resolution.erIncrementalPairs(batchEnts, store,
        manifest, maxDist = MaxDist, maxBlock = MaxBlock)
      val edges = histEdges.select(col("eid_a"), col("eid_b"))
        .unionByName(incEdges.select(col("eid_a"), col("eid_b")))
        .distinct()
      Resolution.canonicalize(parts(s, d), col("p_partkey"),
          col("p_name"), edges)
        .orderBy(col("rid"))
    })
  )

  // ---- DuckDB oracle ----------------------------------------------

  private def ph(x: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($x, ''),
       |      c -> CAST(unicode(c) AS BIGINT))),
       |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  private def entsCtes: String =
    s"""ents AS (
       |  SELECT p_name AS nm, min(p_partkey) AS eid,
       |    count(*) AS support
       |  FROM part GROUP BY 1
       |), keyed AS (
       |  SELECT nm, eid, ${ph("split_part(nm, ' ', 1)")} AS blkh
       |  FROM ents
       |), ed AS (
       |  SELECT a.eid AS eid_a, b.eid AS eid_b, a.nm AS nm_a,
       |    b.nm AS nm_b, CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
       |  FROM keyed a JOIN keyed b
       |    ON a.blkh = b.blkh AND a.eid < b.eid
       |  WHERE levenshtein(a.nm, b.nm) <= $MaxDist
       |)""".stripMargin

  private lazy val resolveSql: String =
    s"""WITH RECURSIVE $entsCtes, sym AS (
       |  SELECT eid_a AS a, eid_b AS b FROM ed
       |  UNION SELECT eid_b AS a, eid_a AS b FROM ed
       |), reach(id, r) AS (
       |  SELECT DISTINCT a AS id, a AS r FROM sym
       |  UNION
       |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
       |), comp AS (
       |  SELECT id AS eid, min(r) AS cluster FROM reach GROUP BY id
       |)
       |SELECT p.p_partkey AS rid, p.p_name AS nm,
       |  COALESCE(c.cluster, e.eid) AS canon
       |FROM part p
       |JOIN ents e ON p.p_name = e.nm
       |LEFT JOIN comp c ON e.eid = c.eid
       |ORDER BY rid""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "x_er_pairs" ->
      s"""WITH $entsCtes
         |SELECT eid_a, eid_b, nm_a, nm_b, dist FROM ed
         |ORDER BY eid_a, eid_b""".stripMargin,
    "x_er_resolve" -> resolveSql,
    // incremental ≡ batch: the oracle is the full-corpus clustering
    "x_er_incremental" -> resolveSql,
    // retraction ≡ the blocked levenshtein gate over exactly the
    // SURVIVING dictionary (deleted entities suppress nothing)
    "x_er_delete" ->
      s"""WITH hents AS (
         |  SELECT p_name AS nm, min(p_partkey) AS eid FROM part
         |  WHERE p_partkey % 8 <> 0 GROUP BY 1
         |), store AS (
         |  SELECT nm, eid, ${ph("split_part(nm, ' ', 1)")} AS blkh
         |  FROM hents WHERE eid % 5 <> 2
         |), bents AS (
         |  SELECT p_name AS nm, min(p_partkey) AS eid FROM part
         |  WHERE p_partkey % 8 = 0 GROUP BY 1
         |), bk AS (
         |  SELECT nm, eid, ${ph("split_part(nm, ' ', 1)")} AS blkh
         |  FROM bents
         |), drops AS (
         |  SELECT b.eid FROM bk b JOIN store s ON b.blkh = s.blkh
         |  WHERE levenshtein(b.nm, s.nm) <= $MaxDist
         |  UNION
         |  SELECT b.eid FROM bk b JOIN bk a
         |    ON b.blkh = a.blkh AND a.eid < b.eid
         |  WHERE levenshtein(b.nm, a.nm) <= $MaxDist
         |)
         |SELECT eid, nm FROM bk
         |WHERE eid NOT IN (SELECT eid FROM drops)
         |ORDER BY eid""".stripMargin
  )
}
