package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, Similarity, TextAnalysis, Training}
import ParityQueries.t

/** Corpus-shaping operators for training-data preparation (round 3):
  * near-dup CLUSTER resolution (connected components over LSH candidate
  * pairs), token-budget packing, deterministic global shuffle,
  * stratified sampling, normalization, PII redaction, salient terms.
  * All DuckDB-oracle-checked, including the graph fixpoint (recursive
  * CTE oracle).
  */
object TrainingQueries {

  private def stopList: String =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  // Shipping LSH parameters for embedding near-dup on the gaussian
  // fixtures: recall vs bruteForcePairs measured 0.96 / 1.00 / 0.97 at
  // sf0.001 / 0.01 / 0.1 (threshold 0.42 — the adversarial no-gap
  // regime; see Dedup.embeddingNearDup's tuning note).
  private val LshPlanes = 10
  private val LshTables = 12

  /** Process-level memo of persisted stats manifests, one per source
    * directory: first use writes the manifest (the one-time footer
    * sweep), every later use incrementally refreshes it — mirroring a
    * production deployment where the manifest lives next to the table
    * and appends refresh it.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Persisted CLUSTERED sign-LSH code store for the "historical"
    * embedding slice (vec_id < 400) — written once per data dir,
    * clustered by (table, bucket) with a footer-stats manifest, so a
    * batch's store scan opens only collidable-bucket files
    * (Dedup.writeCodeStore / Stats.readTouched). Returns
    * (storeDir, manifestPath).
    */
  private def embedStoreFor(s: SparkSession, d: String)
      : (String, String) = {
    val p = ArtifactMemo.dirFor("embedstore", d) { p =>
      Dedup.writeCodeStore(
        Dedup.embeddingCodes(
          t(s, d, "embeddings").where(col("vec_id") < 400),
          col("vec_id"), col("embedding"), LshPlanes, LshTables),
        s"$p/store", s"$p/manifest", filesOut = 16)
    }
    (s"$p/store", s"$p/manifest")
  }

  private def manifestFor(s: SparkSession, dir: String): String =
    manifestCache.compute(dir, (_, prev) => {
      // a fresh manifest path is written from scratch by the refresh
      val mp = Option(prev).getOrElse(java.nio.file.Files
        .createTempDirectory("graft-manifest-").toString + "/manifest")
      graft.operators.Stats.refreshManifest(s, dir, mp)
      mp
    })

  /** DuckDB CTE chain reproducing [[Dedup.embeddingNearDup]] BIT FOR
    * BIT — same hyperplane coefficients (embedded as literals;
    * Double.toString round-trips exactly), same left-fold float→double
    * dots, same `>= 0` sign bits, same 1-bit-flip probe expansion and
    * in-bucket (a < b) candidate algebra, same exact-cosine verify.
    * Ends with a `sel(id_a, id_b, cos)` CTE of the surviving pairs.
    * The oracle checking the LSH path itself (rather than an exact
    * all-pairs reference) keeps the hash comparison independent of
    * LSH recall; recall has its own gate (x_embed_recall_err).
    */
  private def lshPairsCte(threshold: String): String = {
    val dim = 64
    val flat = Similarity.planeMatrix(LshPlanes, LshTables, dim)
    val n = LshPlanes * LshTables
    // one literal list per (table, plane), hoisted into a 120-row CTE —
    // embedding a literal inside a lambda would rebuild it per element
    val planeLists = (0 until n).map { tp =>
      "[" + (0 until dim).map(i => flat(tp * dim + i).toString)
        .mkString(", ") + "]"
    }.mkString(",\n    ")
    val tIdx = (0 until n).map(_ / LshPlanes).mkString(", ")
    val bitVals = (0 until n).map(tp => 1 << (tp % LshPlanes)).mkString(", ")
    val masks = (0 +: (0 until LshPlanes).map(1 << _)).mkString(", ")
    s"""WITH pl AS (
       |  SELECT unnest([$tIdx]) AS t, unnest([$bitVals]) AS bit,
       |    unnest([
       |    $planeLists
       |    ]) AS pv
       |), bk AS (
       |  SELECT e.vec_id, pl.t,
       |    CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(list_zip(e.embedding, pl.pv),
       |        z -> CAST(z[1] AS DOUBLE) * z[2])),
       |      (x, y) -> x + y) >= 0 THEN pl.bit ELSE 0 END) AS BIGINT)
       |      AS cb
       |  FROM embeddings e CROSS JOIN pl
       |  GROUP BY e.vec_id, pl.t
       |), ent AS (
       |  SELECT vec_id, t, xor(cb, m) AS bkt
       |  FROM bk CROSS JOIN (SELECT unnest([$masks]) AS m) masks
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM ent a JOIN ent b
       |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id
       |), nrm AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(embedding) + 1),
       |        i -> CAST(embedding[i] AS DOUBLE) * embedding[i])),
       |      (x, y) -> x + y)) AS nm
       |  FROM embeddings
       |), sc AS (
       |  SELECT cand.id_a, cand.id_b,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len(na.embedding) + 1),
       |        i -> CAST(na.embedding[i] AS DOUBLE) * nb.embedding[i])),
       |      (x, y) -> x + y) / (na.nm * nb.nm) AS cos
       |  FROM cand
       |  JOIN nrm na ON cand.id_a = na.vec_id
       |  JOIN nrm nb ON cand.id_b = nb.vec_id
       |), sel AS (
       |  SELECT id_a, id_b, cos FROM sc WHERE cos >= $threshold
       |)""".stripMargin
  }

  /** Recursive-CTE clustering over the full-corpus >= 0.42 LSH edges —
    * the shared oracle of x_embed_lsh_clusters AND x_embed_reconcile.
    */
  private lazy val embedClustersSql: String =
    lshPairsCte("0.42")
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, ed AS (
        |  SELECT id_a AS a, id_b AS b FROM sel
        |), sym AS (
        |  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
        |), reach(id, r) AS (
        |  SELECT DISTINCT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
        |)
        |SELECT id AS vec_id, min(r) AS cluster, (id = min(r)) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Near-dup cluster resolution: MinHash-LSH candidate pairs >= 0.8
    // form edges; connected components give duplicate clusters; keep
    // the minimum doc per cluster. The transitive-chain-safe dedup
    // decision (pairwise removal over-deletes).
    "x_dedup_clusters" -> ((s, d) => {
      val cand = Dedup.minhashCandidates(
        Dedup.minhashSigsNative(t(s, d, "documents"),
          col("doc_id"), col("text"), n = 3, k = 32))
        .where(col("est_jaccard") >= 0.8)
      Graph.dedupClusters(cand, col("id_a"), col("id_b"))
        .select(col("id").as("doc_id"), col("cluster"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Keep-BEST cluster policy: same connected components, but the
    // canonical doc per duplicate cluster is the argmax-quality one
    // (longest text, doc_id tiebreak) rather than min-id — the policy
    // production dedup actually wants. The argmax is a struct-max
    // aggregate ((n_chars, -doc_id, doc_id) lexicographic max — total
    // order, no window, no max_by tie ambiguity) joined back on the
    // O(#clusters) keeper table.
    "x_cluster_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cand = Dedup.minhashCandidates(
        Dedup.minhashSigsNative(docs, col("doc_id"), col("text"),
          n = 3, k = 32))
        .where(col("est_jaccard") >= 0.8)
      val clusters = Graph.dedupClusters(cand, col("id_a"), col("id_b"))
        .select(col("id").as("doc_id"), col("cluster"))
      val withQ = clusters
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      val keeper = withQ.groupBy(col("cluster"))
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg"),
          col("doc_id").as("kid"))).as("m"))
        .select(col("cluster"), col("m.kid").as("keep_id"))
      withQ.join(broadcast(keeper), Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("n_chars"),
          (col("doc_id") === col("keep_id")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Offline reconciliation of the INCREMENTAL gates: the gates
    // enforce pairwise removal in-line; transitive-policy users
    // periodically run connected components over the ACCUMULATED
    // candidate edges instead. Edges here are accumulated exactly as
    // ingestion would record them — history's own in-corpus pairs
    // (recorded when history was ingested) plus the new batch's edges
    // from the manifest-pruned banded store
    // (Dedup.minhashIncrementalCandidatesBanded) — and the CC
    // resolution over their union must equal the full-corpus batch
    // clustering: this query shares x_dedup_clusters' recursive-CTE
    // oracle verbatim.
    "x_incremental_reconcile" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (store, manifest) = ExtensionQueries.bandedSigStoreFor(s, d)
      val histEdges = Dedup.minhashCandidates(
          Dedup.minhashSigsNative(docs.where(col("doc_id") < 400),
            col("doc_id"), col("text"), n = 3, k = 32))
        .where(col("est_jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"))
      val batchEdges = Dedup.minhashIncrementalCandidatesBanded(
          Dedup.minhashSigsNative(docs.where(col("doc_id") >= 400),
            col("doc_id"), col("text"), n = 3, k = 32),
          store, manifest)
        .select(col("id_a"), col("id_b"))
      Graph.dedupClusters(histEdges.unionByName(batchEdges),
          col("id_a"), col("id_b"))
        .select(col("id").as("doc_id"), col("cluster"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Cluster resolution over EMBEDDING near-dups with exact cosine
    // >= 0.42 pairs as edges — the ground-truth VERIFIER form (O(n²),
    // like x_embed_neardup). The shipping scale path is
    // x_embed_lsh_clusters below, whose LSH edge generator is itself
    // oracle-checked and recall-gated.
    "x_embed_clusters" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val pairs = Similarity.bruteForcePairs(e, 0.42)
      Graph.dedupClusters(pairs, col("id_a"), col("id_b"))
        .select(col("id").as("vec_id"), col("cluster"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // The SCALE path for embedding near-dup: multi-table multiprobe
    // sign-LSH candidates + exact cosine verify (Dedup.embeddingNearDup
    // — bucketed equality joins, nothing O(n²) in the plan). The oracle
    // reproduces the LSH itself (literal hyperplanes, same float→double
    // fold), so this hash-checks the bucketing/probing/verify algebra
    // bit for bit; recall vs the exact form is gated separately by
    // x_embed_recall_err.
    "x_embed_lsh_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Dedup.embeddingNearDup(e, col("id"), col("vec"), 0.42,
          planes = LshPlanes, tables = LshTables, multiprobe = 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Incremental embedding near-dup: new vectors (vec_id ≥ 400)
    // against the PERSISTED CLUSTERED code store of history — history
    // is neither re-hashed nor shuffled, the store scan is manifest-
    // pruned to collidable-bucket FILES, and only LSH-collided
    // candidates fetch vectors for the exact cosine verify.
    // Hash-checked against the full-recompute oracle restricted to new
    // larger-ids, so the pruned-store path is provably equivalent to
    // rerunning the batch LSH.
    "x_embed_incremental" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val (store, manifest) = embedStoreFor(s, d)
      Dedup.embeddingIncrementalStored(e.where(col("id") >= 400),
          col("id"), col("vec"), store, manifest,
          e.where(col("id") < 400), 0.42,
          planes = LshPlanes, tables = LshTables, multiprobe = 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cluster resolution over the LSH near-dup edges — the end-to-end
    // 100 TB embedding-dedup pipeline (LSH edges → connected
    // components → keep-min), with the whole chain oracle-checked.
    "x_embed_lsh_clusters" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val pairs = Dedup.embeddingNearDup(e, col("id"), col("vec"), 0.42,
        planes = LshPlanes, tables = LshTables, multiprobe = 1)
      Graph.dedupClusters(pairs, col("id_a"), col("id_b"))
        .select(col("id").as("vec_id"), col("cluster"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // Embedding twin of x_incremental_reconcile: the incremental gate
    // already RETURNS its candidate edges ((id_a, id_b, cos) pairs);
    // accumulate history's own in-corpus LSH edges (recorded when
    // history was ingested) with the batch's manifest-pruned
    // store edges, resolve with connected components — and the result
    // must equal the full-corpus LSH clustering: shares
    // x_embed_lsh_clusters' recursive-CTE oracle verbatim.
    "x_embed_reconcile" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val hist = e.where(col("id") < 400)
      val (store, manifest) = embedStoreFor(s, d)
      val histEdges = Dedup.embeddingNearDup(hist, col("id"), col("vec"),
          0.42, planes = LshPlanes, tables = LshTables, multiprobe = 1)
        .select(col("id_a"), col("id_b"))
      val batchEdges = Dedup.embeddingIncrementalStored(
          e.where(col("id") >= 400), col("id"), col("vec"), store,
          manifest, hist, 0.42, planes = LshPlanes, tables = LshTables,
          multiprobe = 1)
        .select(col("id_a"), col("id_b"))
      Graph.dedupClusters(histEdges.unionByName(batchEdges),
          col("id_a"), col("id_b"))
        .select(col("id").as("vec_id"), col("cluster"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // Recall gate for the LSH path: fires a row iff LSH finds < 90% of
    // the exact cosine >= 0.42 pairs. Expected EMPTY (empty-set
    // oracle) — the oracle-checked floor that keeps x_embed_lsh_* an
    // honest replacement for the O(n²) exact form (which is hereby
    // demoted to verifier). Integer-exact comparison (10× counts), no
    // float recall arithmetic.
    "x_embed_recall_err" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = Similarity.bruteForcePairs(e, 0.42)
        .select(col("id_a"), col("id_b"))
      val lsh = Dedup.embeddingNearDup(e, col("id"), col("vec"), 0.42,
          planes = LshPlanes, tables = LshTables, multiprobe = 1)
        .select(col("id_a"), col("id_b"))
      val misses = exact.join(lsh, Seq("id_a", "id_b"), "left_anti")
      misses.agg(count(lit(1)).as("n_miss"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .where(col("n_miss") * 10 > col("n_exact"))
        .select(col("n_miss"), col("n_exact"))
    }),

    // Per-source quality-percentile gate (Training.percentileGate):
    // keep the best half of each source by stopword-ratio score,
    // integer admission test (rank*100 <= n*keepPct) with doc_id
    // tiebreak — "drop the worst X% of each source" reproducibly.
    "x_quality_gate" -> ((s, d) =>
      Training.percentileGate(
          TextAnalysis.withQuality(t(s, d, "documents")),
          col("source"), col("stop_ratio"), col("doc_id"), keepPct = 50)
        .select(col("doc_id"), col("source"), col("stop_ratio"))
        .orderBy(col("doc_id"))),

    // The 100 TB production path of x_quality_gate: per-source
    // thresholds via the approx_percentile sketch broadcast back, then
    // a narrow value filter — no window, no per-group sort. Rows-only
    // check (the sketch's boundary convention is engine-specific); its
    // accuracy contract is the oracle-checked gate below.
    "x_quality_gate_approx" -> ((s, d) =>
      Training.percentileGateApprox(
          TextAnalysis.withQuality(t(s, d, "documents")),
          col("source"), col("stop_ratio"), keepPct = 50)
        .select(col("doc_id"), col("source"), col("stop_ratio"))
        .orderBy(col("doc_id"))),

    // Disagreement gate: per source, the approx and exact survivor
    // sets may differ only at the threshold boundary (value-test ties
    // all pass; sketch rank error ≤ n/accuracy). Emits sources whose
    // symmetric difference exceeds max(2, n/20) — expected EMPTY, so
    // the approximate path ships with an oracle-checked contract
    // (pattern of x_approx_distinct_err).
    "x_quality_gate_approx_err" -> ((s, d) => {
      val q = TextAnalysis.withQuality(t(s, d, "documents"))
      val exact = Training.percentileGate(q, col("source"),
          col("stop_ratio"), col("doc_id"), keepPct = 50)
        .select(col("doc_id"), col("source"))
      val approx = Training.percentileGateApprox(q, col("source"),
          col("stop_ratio"), keepPct = 50)
        .select(col("doc_id"), col("source"))
      val sizes = q.groupBy(col("source").as("__src"))
        .agg(count(lit(1)).as("__n"))
      exact.exceptAll(approx).unionAll(approx.exceptAll(exact))
        .groupBy(col("source")).agg(count(lit(1)).as("n_diff"))
        .join(broadcast(sizes), col("source") === col("__src"))
        .where(col("n_diff") > greatest(lit(2L), col("__n") / 20))
        .select(col("source"), col("n_diff"))
    }),

    // Manifest-driven pruned scan through the PERSISTED stats manifest
    // (Stats.writeManifest → readSkippingManifest): the first call per
    // directory pays the footer sweep once and persists it; every
    // later call incrementally refreshes (a no-op footer-wise when no
    // files changed) and prunes from the manifest table — the
    // steady-state 100 TB read path, where pruning is a metadata-table
    // lookup, not a minutes-long footer sweep. Layout-independent
    // result (hash-equal to the full-scan oracle); the file-count WIN
    // on a clustered layout is machine-checked in LayoutSpec.
    "x_skipping_scan" -> ((s, d) => {
      // events.ts is TIMESTAMP(NANOS): the direct (non-t()) read needs
      // the nanos-as-long escape hatch set explicitly
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.operators.Stats.readSkippingManifest(s, s"$d/events.parquet",
          "value", 100.0, 150.0, manifestFor(s, s"$d/events.parquet"))
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Categorical pruned scan via the persisted manifest: single-
    // language slice of the corpus through footer string-range
    // skipping — on a lang-clustered layout this touches only that
    // language's files (machine-checked in LayoutSpec); result is
    // layout-independent.
    "x_skipping_lang" -> ((s, d) =>
      graft.operators.Stats.readSkippingEqManifest(s,
          s"$d/documents.parquet", "lang", "en",
          manifestFor(s, s"$d/documents.parquet"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))),

    // Point lookup through the per-file BLOOM manifest, driver-checked
    // end to end: events rewritten once per data dir as a HASH-
    // distributed 16-file layout (every file's event_id range spans
    // the whole domain — range stats prune NOTHING here; this is the
    // Delta-bloom-index case), bloom-manifested, then probed with the
    // ~60 audit ids. File-level pruning is machine-checked in
    // BloomManifestSpec; the result is layout-independent and
    // row-exact (false positives cost file opens, never rows).
    "x_point_lookup" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("bloomstore", d) { p =>
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .repartition(16, col("event_id")).write.parquet(p)
        graft.operators.Stats.writeKeyBloomManifest(s, p, "event_id",
          p + "_bloom")
      }
      val probes = t(s, d, "events")
        .where(col("event_id") % 997 === 0).select(col("event_id"))
      graft.operators.Stats.readPointLookup(s, store, store + "_bloom",
          "event_id", probes)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy(col("event_id"))
    }),

    // SFT conversation assembly: users' event streams as dialogues
    // (turn = event id, role = event type, text synthesized
    // deterministically), rendered as <role>text segments with exact
    // per-turn character spans from a per-conversation prefix sum and
    // the assistant-only loss mask (train on 'click'/'purchase'
    // turns, mask the rest) — the packing step every
    // instruction-tuning pipeline runs before the trainer.
    "x_sft_assemble" -> ((s, d) =>
      graft.operators.Training.assembleConversations(
          t(s, d, "events"), col("user_id"), col("event_id"),
          col("event_type"),
          concat(col("event_type"), lit(":"), col("event_id")),
          trainRoles = Seq("click", "purchase"))
        .orderBy(col("conv"), col("turn"))),

    // SFT packing: the assembled dialogues laid end-to-end into the
    // contiguous training stream (conversation order), 512-char shard
    // windows, per-turn GLOBAL character intervals + loss mask — what
    // a sequence-packing loader consumes directly. One conv-sized
    // prefix sum + a count-gated broadcast join; the turn table never
    // globally sorts.
    "x_sft_pack" -> ((s, d) =>
      graft.operators.Training.packConversations(
          graft.operators.Training.assembleConversations(
            t(s, d, "events"), col("user_id"), col("event_id"),
            col("event_type"),
            concat(col("event_type"), lit(":"), col("event_id")),
            trainRoles = Seq("click", "purchase")),
          budget = 512L)
        .orderBy(col("conv"), col("turn"))),

    // DPO preference pairs: each user's event stream as scored
    // candidate responses (prompt = user, candidate = event, score =
    // value) — chosen/rejected = best/worst with deterministic
    // struct tie-breaks, margin-gated at 0.5. One map-side-partial
    // hash aggregate; per-prompt state is two structs and a count.
    "x_dpo_pairs" -> ((s, d) =>
      graft.operators.Training.preferencePairs(
          t(s, d, "events"), col("user_id"), col("event_id"),
          col("value"), margin = 0.5)
        .orderBy(col("prompt"))),

    // Small-file compaction, driver-checked end to end: a 64-fragment
    // write (the layout continuous ingestion leaves behind) compacted
    // once per data dir into 4 lang-clustered files, then scanned —
    // content must hash-match the source table exactly (compaction is
    // a pure layout rewrite). The file-count and clustering WINS are
    // machine-checked in LayoutSpec; this query pins the zero-loss
    // contract under the driver's oracle.
    "x_compact_scan" -> ((s, d) => {
      val cp = ArtifactMemo.dirFor("compact", d) { p =>
        val frag = java.nio.file.Files
          .createTempDirectory("graft-frag-").toString + "/frag"
        t(s, d, "documents").repartition(64).write.parquet(frag)
        graft.operators.Layout.compact(s, frag, p, filesOut = 4,
          clusterBy = Seq("lang", "doc_id")): Unit
      }
      s.read.parquet(cp)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Z-order + conjunctive pruning, driver-checked end to end: events
    // rewritten once per data dir as a (value, user_id) Morton-
    // interleaved layout, manifested, then read through the 2-range
    // pruned path — each file covers a small (value, user_id)
    // rectangle, so BOTH conjuncts prune files (a linear sort prunes
    // only its leading column; machine-checked in LayoutSpec). Result
    // is layout-independent: hash-equal to the plain conjunctive
    // filter over the source table.
    "x_zorder_scan" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val zp = ArtifactMemo.dirFor("zorder", d) { p =>
        graft.operators.Layout.compactZOrder(s, s"$d/events.parquet",
          p, filesOut = 16, cols = Seq("value", "user_id"),
          bits = 16): Unit
      }
      graft.operators.Stats.readSkippingAndManifest(s, zp,
          Seq(("value", 100.0, 150.0), ("user_id", 0.0, 10.0)),
          manifestFor(s, zp))
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Incremental derived-layer materialization as a pure plan: table
    // state before a late-arriving batch, plus the touched-date slice
    // recomputed from FULL data, replacing those dates wholesale
    // (anti join on date + union = dynamic partition overwrite). Hash-
    // equal to the full-rebuild oracle — the algebraic identity that
    // makes SwellPipeline.runIncremental safe at 100 TB.
    "x_incremental_overwrite" -> ((s, d) => {
      val orders = t(s, d, "orders")
      def derived(df: DataFrame): DataFrame = df
        .groupBy(col("o_orderdate").as("dt"),
          col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("first_key"),
          sum(col("o_custkey")).as("cust_sum"))
      val late = orders.where(col("o_orderkey") % 7 === 0)
      val baseState = derived(orders.where(col("o_orderkey") % 7 =!= 0))
      val touched = late.select(col("o_orderdate").as("dt")).distinct()
      val slice = derived(orders.join(broadcast(touched),
        orders("o_orderdate") === touched("dt"), "left_semi"))
      baseState.join(broadcast(touched), Seq("dt"), "left_anti")
        .unionByName(slice)
        .orderBy(col("dt"), col("prio"))
    }),

    // Adversarial-diameter connected components: per-user event CHAINS
    // (diameter in the hundreds at sf0.1 — the worst case for plain
    // label propagation) resolved through the hybrid path: path-
    // compressed propagation halves the diameter each round, then the
    // unconverged residual contracts into large-star/small-star
    // (Kiveris et al. SoCC 2014, O(log n) rounds on any topology).
    // Oracle = recursive CTE reachability over the same lead() edges.
    // Intrinsically round-heavy — the price of the topology, not the
    // plan; GraphSpec pins the star handoff and round bounds.
    "x_cc_chain" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = t(s, d, "events")
        .select(col("event_id"),
          lead(col("event_id"), 1).over(w).as("next_id"))
        .where(col("next_id").isNotNull)
      Graph.connectedComponents(edges, col("event_id"), col("next_id"))
        .select(col("id").as("event_id"), col("comp").as("chain_id"))
        .orderBy(col("event_id"))
    }),

    // CC-store RETRACTION on the chain graph — the takedown shape
    // where deletion genuinely SPLITS components (every interior
    // chain node is a cut vertex), which the contract-through-labels
    // incremental form cannot absorb: the store REBUILDS over the
    // surviving edges (event_id % 37 = 5 retracted, SF-invariant) as
    // a superseding generation in BOTH the id-clustered store and the
    // comp-clustered projection. The oracle recomputes reachability
    // over exactly the surviving edges.
    "x_cc_delete" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = t(s, d, "events")
        .select(col("event_id"),
          lead(col("event_id"), 1).over(w).as("next_id"))
        .where(col("next_id").isNotNull)
      val keep = col("event_id") % 37 =!= 5 && col("next_id") % 37 =!= 5
      val store = ArtifactMemo.dirFor("ccdelstore", d) { p =>
        Graph.writeCCStore(edges, col("event_id"), col("next_id"), p)
        Graph.rebuildCCStore(edges.where(keep), col("event_id"),
          col("next_id"), p): Unit
      }
      Graph.ccStoreLabels(s, store)
        .select(col("id").as("event_id"), col("comp").as("chain_id"))
        .orderBy(col("event_id"))
    }),

    // The CHAIN-OF-SCCs adversary the SCC scaladoc names, priced:
    // per-user event timelines segmented into 12-hop DIRECTED chains
    // (segment diameter — and therefore round structure — is
    // SF-invariant; scale grows the number of parallel segments, not
    // the depth) with a back-edge every 4 hops: chains of 2-node SCCs
    // joined by trivial connectors, ids ascending along the edges —
    // one color per segment per FORWARD round, the single-direction
    // worst case. Exercises all three drain mechanisms: trim peels
    // the acyclic tails, the forward round retires the head SCCs,
    // and the REVERSED round splits the monotone remainder into one
    // color per SCC and drains it wholesale. Oracle = the same
    // ground-truth mutual-reachability closure as x_scc (segment
    // containment keeps the closure ≤ 12 hops per node).
    "x_scc_chain" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val base = t(s, d, "events")
        .select(col("event_id"),
          (row_number().over(w) - 1).as("rn"),
          lead(col("event_id"), 1).over(w).as("nxt"))
        .where(col("nxt").isNotNull && col("rn") % 12 =!= 11)
      val fwd = base
        .select(col("event_id").as("src"), col("nxt").as("dst"))
      val back = base.where(col("rn") % 4 === 0)
        .select(col("nxt").as("src"), col("event_id").as("dst"))
      Graph.stronglyConnectedComponents(fwd.unionByName(back),
          col("src"), col("dst"))
        .select(col("id").as("event_id"), col("scc"))
        .orderBy(col("event_id"))
    }),

    // Deterministic train/val/test assignment by content fingerprint
    // (90/5/5) — split membership is a pure function of the document,
    // stable under re-ingestion/reordering, unlike rand() splits.
    "x_split_assign" -> ((s, d) => {
      val fpm = pmod(TextAnalysis.fingerprint(col("text")), lit(100))
      t(s, d, "documents")
        .select(col("doc_id"),
          when(fpm < 90, "train").when(fpm < 95, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),

    // LEAKAGE-SAFE split: near-dup CLUSTERS (not documents) are the
    // unit of train/val/test assignment — a naive per-doc fingerprint
    // split scatters paraphrase clusters across train and test (eval
    // contamination); here every cluster member inherits the bucket
    // of the cluster's MINIMUM member fingerprint (content-determined,
    // id-free), and singletons reproduce x_split_assign's naive
    // bucket exactly. Oracle: the shared recursive-CTE clustering +
    // the fingerprint mirror, min-folded per cluster.
    "x_split_safe" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cand = Dedup.minhashCandidates(
        Dedup.minhashSigsNative(docs, col("doc_id"), col("text"),
          n = 3, k = 32))
        .where(col("est_jaccard") >= 0.8)
      Training.leakageSafeSplit(
          docs.select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp")),
          col("doc_id"), col("fp"), cand, col("id_a"), col("id_b"))
        .select(col("id").as("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // The LEAKAGE AUDIT the safe split exists to pass: count near-dup
    // pairs whose endpoints landed in different splits, for the naive
    // per-doc split AND the cluster-aware one — the safe method must
    // contribute ZERO rows (every cluster is split-atomic by
    // construction), the naive method's crossings are the measured
    // contamination. One staged candidate set feeds the clustering
    // and both audits.
    "x_split_leakage" -> ((s, d) => {
      import graft.operators.Checkpoints
      val docs = t(s, d, "documents")
      val fp = docs.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val cand = Checkpoints.stage(Dedup.minhashCandidates(
        Dedup.minhashSigsNative(docs, col("doc_id"), col("text"),
          n = 3, k = 32))
        .where(col("est_jaccard") >= 0.8)
        .select(col("id_a"), col("id_b")))
      val naive = fp.select(col("doc_id"),
        when(pmod(col("fp"), lit(100)) < 90, "train")
          .when(pmod(col("fp"), lit(100)) < 95, "val")
          .otherwise("test").as("split"))
      // the safe assignment feeds BOTH endpoints of its audit join —
      // stage it once instead of re-deriving the clustering per side
      val safe = Checkpoints.stage(Training.leakageSafeSplit(fp,
        col("doc_id"), col("fp"), cand, col("id_a"), col("id_b")))
      def audit(asg: DataFrame, idc: String, m: String): DataFrame =
        Training.splitLeakage(asg, col(idc), col("split"), cand,
            col("id_a"), col("id_b"))
          .select(lit(m).as("method"), col("split_a"), col("split_b"),
            col("crossing"))
      audit(naive, "doc_id", "naive")
        .unionByName(audit(safe, "id", "safe"))
        .orderBy(col("method"), col("split_a"), col("split_b"))
    }),

    // Incremental-ingest dedup: drop new-batch docs whose content
    // digest already exists in the historical corpus (digest anti-join
    // — the shuffle carries 16-byte keys, the standard continuous-
    // ingestion dedup gate).
    "x_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val hist = docs.where(col("doc_id") < 400)
        .select(md5(col("text").cast("binary")).as("dg"))
      docs.where(col("doc_id") >= 400)
        .withColumn("dg", md5(col("text").cast("binary")))
        .join(hist, Seq("dg"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget packing: contiguous 2048-token shards via the
    // distributed (range-partitioned, never single-task) prefix sum.
    "x_pack_bins" -> ((s, d) =>
      Training.packBins(
          t(s, d, "documents").select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long")
              .as("n_tokens")),
          Seq(col("doc_id")), col("n_tokens"), budget = 2048L)
        .select(col("doc_id"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_id"))),

    // LENGTH-BUCKETED BATCHES (dynamic batching): sequences sorted by
    // (length, id), cut into fixed 32-row batches, padding waste
    // reported per batch (batchSize·max − Σlen — what sorting by
    // length exists to minimize). Global rank = the distributed
    // prefix sum, per-batch stats one map-side-partial aggregate.
    "x_length_batches" -> ((s, d) =>
      Training.lengthBatches(
          t(s, d, "documents").select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).as("len")),
          col("doc_id"), col("len"), batchSize = 32L)
        .orderBy(col("batch"))),

    // Deterministic global shuffle: position by md5(key) order —
    // reproducible training-data order with no RNG state.
    "x_shuffle_order" -> ((s, d) =>
      Training.shuffleOrder(
          t(s, d, "documents").select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("pos"))
        .orderBy(col("doc_id"))),

    // Curriculum ordering: global order by ascending difficulty
    // (token count as the proxy), content-hash shuffle within ties,
    // 4 integer schedule bands — window-free (prefix-sum rank, pinned
    // by the maxWindows = 0 budget like x_stratified).
    "x_curriculum" -> ((s, d) =>
      Training.curriculumOrder(
          t(s, d, "documents")
            .select(col("doc_id"),
              size(split(col("text"), " ")).cast("long").as("n_tok")),
          col("doc_id"), col("n_tok"), bands = 4)
        .select(col("doc_id"), col("pos"), col("band"))
        .orderBy(col("doc_id"))),

    // Stratified 1-in-5 sample per language: deterministic md5 order,
    // integer-exact admission, rare strata always keep >= 1 row.
    "x_stratified" -> ((s, d) =>
      Training.stratifiedEveryK(t(s, d, "documents"),
          col("lang"), col("doc_id"), k = 5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))),

    // Whitespace/case normalization (pre-dedup canonical form).
    "x_normalize" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm"))
        .withColumn("n_chars_norm", length(col("norm")).cast("long"))
        .orderBy(col("doc_id"))),

    // PII redaction: mask emails + long digit runs, count occurrences.
    "x_redact" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.redact(col("text")).as("redacted"),
          regexp_count(col("text"), lit(TextAnalysis.EmailPattern))
            .cast("long").as("n_email"),
          regexp_count(col("text"), lit(TextAnalysis.LongNumberPattern))
            .cast("long").as("n_num"))
        .orderBy(col("doc_id"))),

    // End-to-end corpus preparation: normalize → digest-dedup →
    // quality filter → stratified sample → token-budget pack, composed
    // as ONE lazy plan (Catalyst optimizes the whole pipeline, the
    // dbt-style layering of the reference compressed into a single
    // logical tree) and hash-checked against the full DuckDB CTE chain.
    "x_pipeline_e2e" -> ((s, d) => {
      val norm = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.normalize(col("text")).as("norm"))
      val deduped = Dedup.exactKeepFirstDigest(norm, col("norm"),
        col("doc_id"))
      val toks = deduped.select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("norm"))).cast("long")
          .as("n_tokens"))
      val filtered = toks.where(col("n_tokens") >= 5)
      val sampled = Training.stratifiedEveryK(filtered, col("lang"),
        col("doc_id"), k = 2)
      Training.packBins(sampled, Seq(col("doc_id")), col("n_tokens"),
          budget = 1024L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    // Integer-exact TF-IDF-style top-3 terms per doc (tf desc, corpus
    // df asc, term asc) for docs < 50; df computed over ALL docs.
    "x_top_terms" -> ((s, d) =>
      TextAnalysis.topTerms(t(s, d, "documents"),
          col("doc_id"), col("text"), k = 3, docFilter = _ < 50)
        .select(col("id").as("doc_id"), col("rnk").cast("long").as("rnk"),
          col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rnk"))),

    // PMI collocation mining: top-40 adjacent-pair collocations by
    // lift = N·c(x,y)/(c(x,·)·c(·,y)) over bigram positions, min
    // count 5 — one data-sized aggregate, marginals re-aggregated
    // from the staged bigram vocab, score a single IEEE division of
    // exact integer products (hash-exact vs the oracle).
    "x_collocations" -> ((s, d) =>
      TextAnalysis.collocations(t(s, d, "documents"),
        col("doc_id"), col("text"), minCount = 5L, k = 40)))

  /** Recursive-CTE clustering over the full-corpus >= 0.8 candidate
    * edges — the shared oracle of x_dedup_clusters AND
    * x_incremental_reconcile: the incremental accumulated-edge path
    * must resolve to the identical clustering.
    */
  private val dedupReachCte: String =
    ExtensionQueries.minhashCandCte
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, scored AS (
        |  SELECT id_a, id_b,
        |    CAST(len(list_filter(range(32),
        |      i -> sa[CAST(i+1 AS INT)] = sb[CAST(i+1 AS INT)]))
        |      AS DOUBLE) / 32 AS est
        |  FROM cand
        |), ed AS (
        |  SELECT id_a AS a, id_b AS b FROM scored WHERE est >= 0.8
        |), sym AS (
        |  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
        |), reach(id, r) AS (
        |  SELECT DISTINCT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
        |)""".stripMargin

  private val dedupClustersSql: String =
    dedupReachCte +
      """
        |SELECT id AS doc_id, min(r) AS cluster, (id = min(r)) AS keep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Cluster-aware split CTEs over the shared clustering: cluster =
    * min reachable id (the CC contract), split key = min member
    * fingerprint, singletons fall back to their own fingerprint —
    * the exact arithmetic of Training.leakageSafeSplit. `ed` is
    * MATERIALIZED because the leakage oracle references it three
    * times (sym + both audit joins).
    */
  private val splitSafeCtes: String =
    dedupReachCte.replace(", ed AS (", ", ed AS MATERIALIZED (") +
      """, cl AS (
        |  SELECT id, min(r) AS cluster FROM reach GROUP BY id
        |), fpt AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS k
        |  FROM documents
        |), wc AS MATERIALIZED (
        |  SELECT fpt.doc_id, fpt.k,
        |    coalesce(cl.cluster, fpt.doc_id) AS c
        |  FROM fpt LEFT JOIN cl ON fpt.doc_id = cl.id
        |), ck AS (SELECT c, min(k) AS ck FROM wc GROUP BY c),
        |asg_safe AS MATERIALIZED (
        |  SELECT wc.doc_id,
        |    CASE WHEN ck.ck % 100 < 90 THEN 'train'
        |         WHEN ck.ck % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM wc JOIN ck ON wc.c = ck.c)""".stripMargin

  private val splitSafeSql: String =
    splitSafeCtes +
      """
        |SELECT doc_id, split FROM asg_safe ORDER BY doc_id""".stripMargin

  private val splitLeakageSql: String =
    splitSafeCtes +
      """, asg_naive AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN k % 100 < 90 THEN 'train'
        |         WHEN k % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM fpt)
        |SELECT method, split_a, split_b, crossing FROM (
        |  SELECT 'naive' AS method,
        |    least(sa.split, sb.split) AS split_a,
        |    greatest(sa.split, sb.split) AS split_b,
        |    count(*) AS crossing
        |  FROM ed JOIN asg_naive sa ON ed.a = sa.doc_id
        |          JOIN asg_naive sb ON ed.b = sb.doc_id
        |  WHERE sa.split <> sb.split
        |  GROUP BY least(sa.split, sb.split),
        |    greatest(sa.split, sb.split)
        |  UNION ALL
        |  SELECT 'safe' AS method,
        |    least(sa.split, sb.split) AS split_a,
        |    greatest(sa.split, sb.split) AS split_b,
        |    count(*) AS crossing
        |  FROM ed JOIN asg_safe sa ON ed.a = sa.doc_id
        |          JOIN asg_safe sb ON ed.b = sb.doc_id
        |  WHERE sa.split <> sb.split
        |  GROUP BY least(sa.split, sb.split),
        |    greatest(sa.split, sb.split))
        |ORDER BY method, split_a, split_b""".stripMargin

  /** Keep-best policy over the same clustering: canonical doc =
    * longest (n_chars desc, doc_id tiebreak) instead of min-id.
    */
  private val clusterKeepBestSql: String =
    dedupReachCte +
      """, cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
        |), wq AS (
        |  SELECT cl.doc_id, cl.cluster, d.n_chars
        |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id
        |), kp AS (
        |  SELECT cluster, doc_id AS keep_id, row_number() OVER (
        |    PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM wq)
        |SELECT wq.doc_id, wq.cluster, wq.n_chars,
        |  (wq.doc_id = kp.keep_id) AS keep
        |FROM wq JOIN kp ON wq.cluster = kp.cluster AND kp.rn = 1
        |ORDER BY wq.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "x_dedup_clusters" -> dedupClustersSql,
    "x_cluster_keep_best" -> clusterKeepBestSql,
    "x_split_safe" -> splitSafeSql,
    "x_split_leakage" -> splitLeakageSql,

    // The incremental accumulated-edge reconciliation answers the SAME
    // clustering question — shared oracle, different (store-pruned,
    // per-batch) edge machinery on the engine side.
    "x_incremental_reconcile" -> dedupClustersSql,

    "x_embed_clusters" ->
      """WITH RECURSIVE n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(embedding) + 1),
        |        i -> CAST(embedding[i] AS DOUBLE) * embedding[i])),
        |      (x, y) -> x + y)) AS nm
        |  FROM embeddings
        |), scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, len(a.embedding) + 1),
        |        i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])),
        |      (x, y) -> x + y) / (a.nm * b.nm) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |), ed AS (
        |  SELECT id_a AS a, id_b AS b FROM scored WHERE cos >= 0.42
        |), sym AS (
        |  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
        |), reach(id, r) AS (
        |  SELECT DISTINCT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
        |)
        |SELECT id AS vec_id, min(r) AS cluster, (id = min(r)) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    "x_embed_lsh_neardup" -> (lshPairsCte("0.42") +
      "\nSELECT id_a, id_b, cos FROM sel ORDER BY id_a, id_b"),

    "x_embed_incremental" -> (lshPairsCte("0.42") +
      """
        |SELECT id_a, id_b, cos FROM sel
        |WHERE id_b >= 400 ORDER BY id_a, id_b""".stripMargin),

    "x_embed_lsh_clusters" -> embedClustersSql,

    // Incremental accumulated-edge reconciliation — same clustering
    // question, shared oracle (the engine side differs: per-batch
    // pruned-store edges instead of one full-corpus pass).
    "x_embed_reconcile" -> embedClustersSql,

    "x_embed_recall_err" ->
      """SELECT CAST(0 AS BIGINT) AS n_miss, CAST(0 AS BIGINT) AS n_exact
        |WHERE 1 = 0""".stripMargin,

    "x_quality_gate" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','it')))
        |      AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY stop_ratio DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM q)
        |SELECT doc_id, source, stop_ratio FROM r
        |WHERE rk * 100 <= n * 50 ORDER BY doc_id""".stripMargin,

    "x_quality_gate_approx_err" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_diff
        |FROM documents GROUP BY 1 HAVING 1 = 0""".stripMargin,

    "x_skipping_scan" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 100.0 AND value <= 150.0
        |ORDER BY event_id""".stripMargin,

    "x_skipping_lang" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,

    "x_point_lookup" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id % 997 = 0 ORDER BY event_id""".stripMargin,

    "x_sft_assemble" ->
      """WITH t AS (
        |  SELECT user_id AS conv, event_id AS turn,
        |    event_type AS role,
        |    CAST(len('<' || event_type || '>' || event_type || ':'
        |      || CAST(event_id AS VARCHAR)) AS BIGINT) AS l
        |  FROM events),
        |s AS (
        |  SELECT conv, turn, role,
        |    CAST(coalesce(sum(l) OVER (PARTITION BY conv ORDER BY turn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start, l
        |  FROM t)
        |SELECT conv, turn, role, start, start + l AS "end",
        |  role NOT IN ('click', 'purchase') AS mask
        |FROM s ORDER BY conv, turn""".stripMargin,

    "x_sft_pack" ->
      """WITH t AS (
        |  SELECT user_id AS conv, event_id AS turn,
        |    event_type AS role,
        |    CAST(len('<' || event_type || '>' || event_type || ':'
        |      || CAST(event_id AS VARCHAR)) AS BIGINT) AS l
        |  FROM events),
        |s AS (
        |  SELECT conv, turn, role,
        |    CAST(coalesce(sum(l) OVER (PARTITION BY conv ORDER BY turn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start, l
        |  FROM t),
        |cl AS (
        |  SELECT conv, CAST(sum(l) AS BIGINT) AS clen
        |  FROM t GROUP BY conv),
        |cs AS (
        |  SELECT conv,
        |    CAST(coalesce(sum(clen) OVER (ORDER BY conv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cstart
        |  FROM cl)
        |SELECT s.conv, s.turn, s.role,
        |  (cs.cstart + s.start) // 512 AS bin,
        |  cs.cstart + s.start AS "offset",
        |  cs.cstart + s.start + s.l AS end_offset,
        |  s.role NOT IN ('click', 'purchase') AS mask
        |FROM s JOIN cs ON s.conv = cs.conv
        |ORDER BY s.conv, s.turn""".stripMargin,

    "x_dpo_pairs" ->
      """WITH b AS (
        |  SELECT user_id AS prompt, event_id AS c,
        |    CAST(value AS DOUBLE) AS s
        |  FROM events),
        |hi AS (
        |  SELECT prompt, c, s FROM (
        |    SELECT prompt, c, s, row_number() OVER (
        |      PARTITION BY prompt ORDER BY s DESC, c DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |lo AS (
        |  SELECT prompt, c, s FROM (
        |    SELECT prompt, c, s, row_number() OVER (
        |      PARTITION BY prompt ORDER BY s ASC, c ASC) AS rn
        |    FROM b) WHERE rn = 1),
        |n AS (SELECT prompt, count(*) AS cnt FROM b GROUP BY prompt)
        |SELECT hi.prompt, hi.c AS chosen, hi.s AS chosen_score,
        |  lo.c AS rejected, lo.s AS rejected_score,
        |  hi.s - lo.s AS margin
        |FROM hi
        |JOIN lo ON hi.prompt = lo.prompt
        |JOIN n ON hi.prompt = n.prompt
        |WHERE n.cnt >= 2 AND hi.s - lo.s >= CAST(0.5 AS DOUBLE)
        |ORDER BY hi.prompt""".stripMargin,

    "x_compact_scan" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "x_zorder_scan" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 100.0 AND value <= 150.0
        |  AND user_id >= 0 AND user_id <= 10
        |ORDER BY event_id""".stripMargin,

    "x_incremental_overwrite" ->
      """SELECT o_orderdate AS dt, o_orderpriority AS prio,
        |  count(*) AS n, min(o_orderkey) AS first_key,
        |  CAST(sum(o_custkey) AS BIGINT) AS cust_sum
        |FROM orders GROUP BY 1, 2 ORDER BY dt, prio""".stripMargin,

    "x_cc_chain" ->
      """WITH RECURSIVE ed AS (
        |  SELECT event_id AS a,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b
        |  FROM events
        |  QUALIFY b IS NOT NULL
        |), sym AS (
        |  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
        |), reach(id, r) AS (
        |  SELECT DISTINCT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
        |)
        |SELECT id AS event_id, min(r) AS chain_id
        |FROM reach GROUP BY id ORDER BY event_id""".stripMargin,

    // rebuild-on-retract ≡ reachability over surviving edges only
    // (interior chain nodes are cut vertices — components SPLIT)
    "x_cc_delete" ->
      """WITH RECURSIVE ed AS (
        |  SELECT event_id AS a,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b
        |  FROM events
        |  QUALIFY b IS NOT NULL
        |), kept AS (
        |  SELECT a, b FROM ed WHERE a % 37 <> 5 AND b % 37 <> 5
        |), sym AS (
        |  SELECT a, b FROM kept UNION SELECT b AS a, a AS b FROM kept
        |), reach(id, r) AS (
        |  SELECT DISTINCT a AS id, a AS r FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
        |)
        |SELECT id AS event_id, min(r) AS chain_id
        |FROM reach GROUP BY id ORDER BY event_id""".stripMargin,

    "x_scc_chain" ->
      """WITH RECURSIVE base AS (
        |  SELECT event_id,
        |    row_number() OVER w - 1 AS rn,
        |    lead(event_id) OVER w AS nxt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), ed AS (
        |  SELECT event_id AS src, nxt AS dst FROM base
        |  WHERE nxt IS NOT NULL AND rn % 12 <> 11
        |  UNION ALL
        |  SELECT nxt AS src, event_id AS dst FROM base
        |  WHERE nxt IS NOT NULL AND rn % 12 <> 11 AND rn % 4 = 0
        |), e AS (
        |  SELECT DISTINCT src, dst FROM ed
        |), r(a, b) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src
        |), n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |p AS (
        |  SELECT r1.b AS v, r1.a AS m
        |  FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a
        |), sccmap AS (
        |  SELECT n.id, least(n.id, coalesce(min(p.m), n.id)) AS scc
        |  FROM n LEFT JOIN p ON p.v = n.id
        |  GROUP BY n.id)
        |SELECT CAST(id AS BIGINT) AS event_id, CAST(scc AS BIGINT) AS scc
        |FROM sccmap ORDER BY event_id""".stripMargin,

    "x_split_assign" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) % 100 AS m
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN m < 90 THEN 'train' WHEN m < 95 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM fp ORDER BY doc_id""".stripMargin,

    "x_dedup_incremental" ->
      """SELECT b.doc_id, b.lang FROM documents b
        |WHERE b.doc_id >= 400 AND NOT EXISTS (
        |  SELECT 1 FROM documents h
        |  WHERE h.doc_id < 400 AND md5(h.text) = md5(b.text))
        |ORDER BY b.doc_id""".stripMargin,

    "x_length_batches" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, len,
        |    row_number() OVER (ORDER BY len, doc_id) - 1 AS rnk
        |  FROM tk)
        |SELECT CAST(rnk // 32 AS BIGINT) AS batch,
        |  count(*) AS n_seqs, max(len) AS max_len,
        |  CAST(sum(len) AS BIGINT) AS sum_len,
        |  CAST(count(*) * max(len) - sum(len) AS BIGINT) AS padding
        |FROM r GROUP BY 1 ORDER BY batch""".stripMargin,

    "x_pack_bins" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM tk)
        |SELECT doc_id, n_tokens, CAST(cum // 2048 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "x_shuffle_order" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |    doc_id) - 1 AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x_curriculum" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY len(string_split(text, ' ')),
        |      md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM documents
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, pos, (pos * 4) // n AS band
        |FROM ranked CROSS JOIN n ORDER BY doc_id""".stripMargin,

    "x_stratified" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |WHERE (rn - 1) * 5 < n ORDER BY doc_id""".stripMargin,

    "x_normalize" ->
      """SELECT doc_id,
        |  lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')))
        |    AS norm,
        |  CAST(length(lower(trim(
        |    regexp_replace(text, '[ \t\n\r]+', ' ', 'g')))) AS BIGINT)
        |    AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT)
        |    AS n_num
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x_pipeline_e2e" ->
      """WITH norm AS (
        |  SELECT doc_id, lang,
        |    lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')))
        |      AS norm
        |  FROM documents
        |), ded AS (
        |  SELECT doc_id, lang, norm FROM norm
        |  QUALIFY row_number() OVER (PARTITION BY md5(norm)
        |    ORDER BY doc_id) = 1
        |), tok AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
        |  FROM ded
        |), filt AS (
        |  SELECT * FROM tok WHERE n_tokens >= 5
        |), samp AS (
        |  SELECT doc_id, lang, n_tokens FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS n
        |    FROM filt)
        |  WHERE (rn - 1) * 2 < n
        |), c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM samp)
        |SELECT doc_id, lang, n_tokens, CAST(cum // 1024 AS BIGINT)
        |  AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "x_top_terms" -> (
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), ft AS (
        |  SELECT doc_id, term FROM toks
        |  WHERE term <> '' AND term NOT IN ($stopList)
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM ft GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM ft GROUP BY 1
        |)
        |SELECT doc_id, rnk, term, tf, df FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term) AS rnk
        |  FROM tf JOIN dfreq USING (term)
        |  WHERE tf.doc_id < 50)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),

    "x_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(string_split(text,' '),1) AS INT)
        |      AS pos,
        |    unnest(string_split(text,' ')) AS tok
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, tok AS x,
        |    lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS y
        |  FROM toks),
        |p AS (SELECT x, y FROM sh WHERE y IS NOT NULL),
        |cxy AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM p GROUP BY 1, 2),
        |cl AS (
        |  SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_left
        |  FROM cxy GROUP BY 1),
        |cr AS (
        |  SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_right
        |  FROM cxy GROUP BY 1),
        |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS nn FROM cxy)
        |SELECT cxy.x, cxy.y, c_xy, c_left, c_right,
        |  CAST(nn * c_xy AS DOUBLE) / CAST(c_left * c_right AS DOUBLE)
        |    AS lift
        |FROM cxy
        |JOIN cl ON cxy.x = cl.x
        |JOIN cr ON cxy.y = cr.y
        |CROSS JOIN n
        |WHERE c_xy >= 5
        |ORDER BY lift DESC, cxy.x, cxy.y LIMIT 40""".stripMargin)
}
