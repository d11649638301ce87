package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Curation, Graph, Retrieval, Similarity,
  TextAnalysis, Training}
import ParityQueries.t

// (store artifacts are memoized per data dir via ArtifactMemo — bench
// reruns measure the READ path, as production amortizes maintenance)

/** Round-8 retrieval/training tier: BM25 full-text relevance ranking,
  * content-defined-chunk substring dedup (the repeated-PASSAGE axis of
  * Lee et al. 2022, complementary to document/near-dup), normal-equation
  * moments for distributed linear-model training, and fixed-point
  * PageRank for source-authority curation weighting. All DuckDB-oracle-
  * checked: scores are either exact integers or single-expression IEEE
  * doubles with every literal spelled as the same expression in both
  * engines (no transcendental idf in the oracle arm, no cross-row float
  * sums anywhere).
  */
object RetrievalQueries {

  private val Bm25Terms = Seq("merge", "window", "spark")

  /** The batch-retrieval fixture: three queries of different lengths;
    * query 1 is [[Bm25Terms]] verbatim, so the set-oriented path's
    * bit-identity to the single-query path is visible in the driver
    * data itself. Query ids double as the dense arm's query vec_ids in
    * x_hybrid_rrf_many.
    */
  private val Bm25ManyQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("merge", "window", "spark"),
    2L -> Seq("join", "hash"),
    3L -> Seq("vector", "stream", "sort", "customer"))

  private def bm25ManyDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Bm25ManyQueries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (tm, p) => (qid, p, tm) }
    }.toDF("query_id", "pos", "term")
  }

  /** Corpus with planted shared passages for the substring-dedup
    * fixture: every 11th doc gains passage A, every remaining 13th
    * passage B (doc_id divisible by both takes A — the `when` chain
    * and SQL CASE agree). The original word-soup text stays in front,
    * so shared passages sit at DIFFERENT offsets in every doc — the
    * alignment regime stride sampling cannot catch and content-defined
    * anchors exist for.
    */
  private[queries] val PassageA =
    " quality data pipelines deduplicate repeated passages before training large language models"
  private[queries] val PassageB =
    " retrieval systems rank documents by lexical and semantic relevance signals at scale"

  private[queries] def passageCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 11 === 0, lit(PassageA))
          .when(col("doc_id") % 13 === 0, lit(PassageB))
          .otherwise(lit(""))).as("text"))

  /** Window-fingerprint store over the HISTORY slice (doc_id < 400) of
    * the planted-passage corpus, fp-clustered with a footer manifest.
    */
  private def windowStoreFor(s: SparkSession, d: String)
      : (String, String) = {
    val p = ArtifactMemo.dirFor("winstore", d) { p =>
      Curation.writeWindowStore(
        passageCorpus(t(s, d, "documents")).where(col("doc_id") < 400),
        col("doc_id"), col("text"), s"$p/store", s"$p/manifest",
        filesOut = 16)
    }
    (s"$p/store", s"$p/manifest")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic text → vector embedding (signed feature hashing,
    // 64 dims): normalized sparse form — the model-free text→vector
    // step, fully narrow (one native call + posexplode, no shuffle)
    "x_hash_embed" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.hashEmbed(col("text"), 64)))
        .where(col("col") =!= 0.0)
        .select(col("doc_id"), col("pos").cast("long").as("f"),
          col("col").as("val"))),

    // End-to-end text ANN with no external encoder: hash-embed both
    // sides as INTEGER count vectors (cosines are then exact integer
    // arithmetic — order-free, oracle-hashable bit-for-bit), brute
    // top-5 per query doc. Brute force is the licensed exact baseline
    // (x_cosine_topk pattern); the 100 TB path composes the normalized
    // form with Similarity.signBuckets / ivfTopK instead.
    "x_text_ann" -> ((s, d) => {
      def side(target: Boolean) =
        t(s, d, "documents")
          .where(if (target) col("doc_id") % 19 === 0
                 else col("doc_id") % 19 =!= 0)
          .select(col("doc_id").as("id"),
            TextAnalysis.hashEmbed(col("text"), 64, normalize = false)
              .as("vec"))
      Similarity.bruteForceTopK(side(target = true),
          side(target = false), 5)
    }),

    // Incremental substring-dedup gate: batch docs (doc_id >= 400)
    // against the persisted window-fingerprint store of history —
    // history is never re-read end to end (manifest-pruned fp-clustered
    // store scan), never re-fingerprinted. Oracle recomputes the
    // full corpus from scratch: incremental ≡ batch, machine-checked.
    "x_substring_incremental" -> ((s, d) => {
      val (store, manifest) = windowStoreFor(s, d)
      Curation.substringIncremental(
          passageCorpus(t(s, d, "documents")).where(col("doc_id") >= 400),
          col("doc_id"), col("text"), store, manifest)
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // SUBSTRING-store RETRACTION — the sig-store semantic on window
    // fingerprints: a retracted doc's content-defined windows must
    // stop counting as shared passages. History (doc_id < 400) lands
    // in the GATE layout (fp-clustered batch=0 + manifest); the
    // takedown tombstones doc_id % 11 = 0 AND doc_id % 3 = 2 (an
    // SF-invariant slice of PassageA carriers — chosen for potency:
    // batch rows vanish or drop counts at every SF); the batch
    // (doc_id >= 400) then re-counts shared fps through the
    // tombstone-aware slice (StreamOps.storeFpsFor — the exact read
    // path substringGateSink uses). Oracle = the incremental
    // substring count over exactly the surviving history.
    "x_substring_delete" -> ((s, d) => {
      import graft.streaming.StreamOps
      val corpus = passageCorpus(t(s, d, "documents"))
      val root = ArtifactMemo.dirFor("subdelstore", d) { p =>
        graft.operators.Layout.WindowFps.appendBatch(
          Curation.windowFpRows(corpus.where(col("doc_id") < 400),
            col("doc_id"), col("text"), 40, 8, 16),
          s"$p/store", s"$p/manifest", batchId = 0L, files = 8)
        StreamOps.deleteFromNearDupStore(s, s"$p/store",
          corpus.where(col("doc_id") < 400 &&
              col("doc_id") % 11 === 0 && col("doc_id") % 3 === 2)
            .select(col("doc_id").as("id")),
          batchId = 1L)
      }
      val batchFps = graft.operators.Checkpoints.stage(
        Curation.windowFpRows(corpus.where(col("doc_id") >= 400),
          col("doc_id"), col("text"), 40, 8, 16))
      val survFps = StreamOps.storeFpsFor(s, s"$root/store",
          s"$root/manifest", batchFps)
        .select(col("fp")).distinct()
      batchFps.join(survFps, Seq("fp"))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_shared"))
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // THE COMPLIANCE DEADLINE as a driver row — the "retraction vs
    // time travel" rule the spec pins ("an as-of snapshot outlives a
    // retraction by AT MOST one compaction cycle"), made visible to
    // the DuckDB oracle. The store runs the full lifecycle once —
    // ingest history → retract doc_id % 7 = 2 → compaction cycle 1
    // (the fold drops the rows from the live view; the vacuum grace
    // keeps the pre-delete batch dir for in-flight snapshots) → late
    // append → cycle 2 (the vacuum removes the superseded pre-delete
    // dirs: the DEADLINE) — and the query emits the compliance
    // certificate: every retracted id that NEITHER the live view NOR
    // the strongest as-of token (the pre-delete token 0) can still
    // resolve. Oracle = the retracted slice itself; a vacuum
    // regression would drop ids from the certificate and go red on
    // rows + hash.
    "x_retract_deadline" -> ((s, d) => {
      import graft.streaming.StreamOps
      val docs = t(s, d, "documents")
      val slice = col("doc_id") < 400 && col("doc_id") % 7 === 2
      val root = ArtifactMemo.dirFor("retdeadline", d) { p =>
        val store = s"$p/store"
        def fps(rows: org.apache.spark.sql.DataFrame) =
          Curation.windowFpRows(rows, col("doc_id"), col("text"),
              40, 8, 16)
            .select(col("fp"), col("id"))
        fps(docs.where(col("doc_id") < 400))
          .write.mode("overwrite").parquet(s"$store/batch=0")
        graft.operators.Stats.writeManifest(s, store, s"$p/manifest")
        StreamOps.deleteFromNearDupStore(s, store,
          docs.where(slice).select(col("doc_id").as("id")),
          batchId = 1L)
        StreamOps.compactWindowStoreGen(s, store, s"$p/manifest",
          filesOut = 2): Unit
        fps(docs.where(col("doc_id") >= 400))
          .write.mode("overwrite").parquet(s"$store/batch=2")
        StreamOps.compactWindowStoreGen(s, store, s"$p/manifest",
          filesOut = 2): Unit
      }
      val retracted = docs.where(slice)
        .select(col("doc_id").as("id")).distinct()
      def probe(asOf: Long) = StreamOps.gateStoreViewAsOf(s,
          s"$root/store", Seq("id"), asOf)
        .map(_.distinct())
        .getOrElse(retracted.limit(0))
      retracted
        .join(probe(0L), Seq("id"), "left_anti")
        .join(probe(Long.MaxValue), Seq("id"), "left_anti")
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // BM25 top-25 retrieval for a 3-term query: per-term tfs from one
    // native tokenize pass, corpus stats (N, Σdl, dfs) as a single
    // 1-row broadcast, rational-idf scoring (bit-reproducible — the
    // ln-idf production arm is spec-checked for ranking agreement).
    "x_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(t(s, d, "documents"), col("doc_id"),
          col("text"), Bm25Terms, k = 25)
        .select(col("id").as("doc_id"), col("tf_0").as("tf_merge"),
          col("tf_1").as("tf_window"), col("tf_2").as("tf_spark"),
          col("dl"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))),

    // The same BM25 top-25 answered FROM the persisted inverted index
    // (built once per data dir): the postings scan opens only the
    // query terms' manifest-touched hash files, df comes from the
    // slice itself, doc lengths fetch manifest-pruned for candidates —
    // per-query cost is postings-of-terms, not corpus. Shares x_bm25's
    // oracle verbatim: the scoring expression tree is the SAME object,
    // so the doubles are bit-identical.
    "x_bm25_indexed" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idx", d) { p =>
        Retrieval.writeBm25Index(t(s, d, "documents"), col("doc_id"),
          col("text"), p)
      }
      Retrieval.bm25TopKIndexed(s, idxDir, Bm25Terms, k = 25)
        .select(col("id").as("doc_id"), col("tf_0").as("tf_merge"),
          col("tf_1").as("tf_window"), col("tf_2").as("tf_spark"),
          col("dl"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // INCREMENTAL index maintenance: the history slice (doc_id < 400)
    // indexes once; the batch lands as an overwrite-idempotent
    // batch=1 append (postings/doclen/stats-row) with footer-only
    // manifest refreshes - history is never re-tokenized - and the
    // OPTIMIZE cycle then folds the appends into one th-clustered
    // generation. The compacted index must answer exactly as a
    // from-scratch index over the WHOLE corpus: the full-corpus
    // x_bm25 oracle is shared verbatim.
    "x_bm25_incremental" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idxinc", d) { p =>
        val docs = t(s, d, "documents")
        Retrieval.writeBm25Index(docs.where(col("doc_id") < 400),
          col("doc_id"), col("text"), p)
        Retrieval.appendBm25Index(docs.where(col("doc_id") >= 400),
          col("doc_id"), col("text"), p, batchId = 1L)
        Retrieval.compactBm25Index(s, p): Unit
      }
      Retrieval.bm25TopKIndexed(s, idxDir, Bm25Terms, k = 25)
        .select(col("id").as("doc_id"), col("tf_0").as("tf_merge"),
          col("tf_1").as("tf_window"), col("tf_2").as("tf_spark"),
          col("dl"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // TOMBSTONE deletes — the takedown path: the full-corpus index
    // (bootstrapped + batch=1 append inside the memo, its own store so
    // order-independence holds) takes a doc_id % 9 = 0 delete batch;
    // scoring must then equal a from-scratch BM25 over the SURVIVING
    // corpus exactly — per-term df from surviving postings, global
    // (n_docs, sum_dl) restored by the negative stats row. Deleting
    // the same set twice must not double-subtract (batch=3 re-delete
    // is a semantic no-op); compaction drops the rows physically and
    // must still answer identically (the query reads the compacted
    // index).
    "x_bm25_delete" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idxdel", d) { p =>
        val docs = t(s, d, "documents")
        Retrieval.writeBm25Index(docs.where(col("doc_id") < 400),
          col("doc_id"), col("text"), p)
        Retrieval.appendBm25Index(docs.where(col("doc_id") >= 400),
          col("doc_id"), col("text"), p, batchId = 1L)
        val del = docs.where(pmod(col("doc_id"), lit(9)) === 0)
          .select(col("doc_id").as("id"))
        Retrieval.deleteBm25Docs(s, p, del, batchId = 2L)
        Retrieval.deleteBm25Docs(s, p, del, batchId = 3L)
        Retrieval.compactBm25Index(s, p): Unit
      }
      Retrieval.bm25TopKIndexed(s, idxDir, Bm25Terms, k = 25)
        .select(col("id").as("doc_id"), col("tf_0").as("tf_merge"),
          col("tf_1").as("tf_window"), col("tf_2").as("tf_spark"),
          col("dl"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // SET-ORIENTED retrieval: three queries of different lengths score
    // against the index in ONE pass - one manifest prune for the union
    // of terms, per-term dfs off the shared slice, candidate pairs by
    // joining (query_id, pos, term) rows into the postings, per-query
    // top-25 via the bounded-buffer TopKPairsAggregator (no per-query
    // driver loop, no sort window). Scores are bit-identical to the
    // single-query path: same single-term expression tree, pos-ordered
    // left fold.
    "x_bm25_many" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idx", d) { p =>
        Retrieval.writeBm25Index(t(s, d, "documents"), col("doc_id"),
          col("text"), p)
      }
      Retrieval.bm25TopKIndexedMany(s, idxDir, bm25ManyDf(s), k = 25)
        .select(col("query_id"), col("rank"), col("id").as("doc_id"),
          col("score"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The hybrid composition of the set-oriented path: per-query BM25
    // top-50 from the index fused (reciprocal rank, 2 arms - the
    // bit-reproducible regime) with a per-query dense top-50 whose
    // query vector is the query's own id - bruteForceTopK is already
    // set-oriented, so BOTH arms run all queries in one pass each.
    "x_hybrid_rrf_many" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idx", d) { p =>
        Retrieval.writeBm25Index(t(s, d, "documents"), col("doc_id"),
          col("text"), p)
      }
      val sparse = Retrieval.bm25TopKIndexedMany(s, idxDir,
          bm25ManyDf(s), k = 50)
        .select(col("query_id"), col("id"), col("rank"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qids = Bm25ManyQueries.map(_._1)
      val dense = Similarity.bruteForceTopK(
          e.where(col("id").isin(qids: _*)), e, k = 50)
        .select(col("qa").as("query_id"), col("vb").as("id"),
          col("rank").cast("long").as("rank"))
      Retrieval.rrfFuseMany(Seq(sparse, dense), k = 25)
        .select(col("query_id"), col("id").as("doc_id"), col("rrf"),
          col("n_arms"))
        .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
    }),

    // Batch retrieval EVALUATION: the set-oriented top-25 lists scored
    // against an AND-semantics relevance table (a doc is relevant to a
    // query iff it contains EVERY query term - derivable exactly in
    // both engines). Per judged query: n_rel, hits@25, and the first
    // relevant rank - recall@k and MRR are one division away, kept
    // integer so the surface hashes exactly.
    "x_retrieval_eval" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idx", d) { p =>
        Retrieval.writeBm25Index(t(s, d, "documents"), col("doc_id"),
          col("text"), p)
      }
      val results = Retrieval.bm25TopKIndexedMany(s, idxDir,
        bm25ManyDf(s), k = 25)
      val docTerms = t(s, d, "documents")
        .select(col("doc_id").as("id"),
          explode(array_distinct(TextAnalysis.tokens(col("text"))))
            .as("term"))
      val qt = bm25ManyDf(s)
      val qsize = qt.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__nq"))
      val qrels = qt.join(docTerms, Seq("term"))
        .groupBy(col("query_id"), col("id"))
        .agg(count(lit(1)).as("__m"))
        .join(broadcast(qsize), Seq("query_id"))
        .where(col("__m") === col("__nq"))
        .select(col("query_id"), col("id"))
      Retrieval.retrievalEval(results, qrels, k = 25)
        .orderBy(col("query_id"))
    }),

    // Offline transitive reconciliation of the substring gate: the
    // within-history, within-batch, and store×batch fp-sharing edges
    // (the last via the manifest-pruned incremental PAIR form) feed
    // connected components — and the result must equal the full-corpus
    // fp-level clustering, which the recursive-CTE oracle recomputes
    // from scratch. Min-id canonical holder per cluster (keep flag).
    "x_substring_reconcile" -> ((s, d) => {
      val (store, manifest) = windowStoreFor(s, d)
      val corpus = passageCorpus(t(s, d, "documents"))
      def fps(df: org.apache.spark.sql.DataFrame) =
        Curation.windowFpRows(df, col("doc_id"), col("text"), 40, 8, 16)
      val histEdges = Curation.substringPairsFromFps(
        fps(corpus.where(col("doc_id") < 400)))
      val batchSlice = corpus.where(col("doc_id") >= 400)
      val batchEdges = Curation.substringPairsFromFps(fps(batchSlice))
      val crossEdges = Curation.substringIncrementalPairs(batchSlice,
        col("doc_id"), col("text"), store, manifest)
      Graph.dedupClusters(
          histEdges.unionByName(batchEdges).unionByName(crossEdges),
          col("id_a"), col("id_b"))
        .select(col("id").as("doc_id"), col("cluster"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Hybrid retrieval: the BM25 sparse arm and a brute-force dense
    // arm (query = vec_id 1's embedding; the exact baseline that
    // licenses the ANN arms) fused by reciprocal rank. Both rank
    // windows run over limit(50)-bounded inputs — k-row sorts by
    // construction, never corpus-sized (hence the budget's window
    // allowance); 2 arms keep the fused double bit-reproducible.
    "x_hybrid_rrf" -> ((s, d) => {
      val sparse = TextAnalysis.bm25TopK(t(s, d, "documents"),
          col("doc_id"), col("text"), Bm25Terms, k = 50)
        .select(col("id"), row_number().over(
            Window.orderBy(col("score").desc, col("id")))
          .cast("long").as("rank"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dense = Similarity.bruteForceTopK(e.where(col("id") === 1), e,
          k = 50)
        .select(col("vb").as("id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 25)
        .select(col("id").as("doc_id"), col("rrf"), col("n_arms"))
    }),

    // x_hybrid_rrf with the sparse arm answered FROM the persisted
    // inverted index: bm25TopKIndexed is bit-identical to bm25TopK
    // (shared scoring tree), so the fused ranks - and the oracle -
    // are shared verbatim. The full production shape: neither arm
    // re-reads the corpus text at query time.
    "x_hybrid_rrf_indexed" -> ((s, d) => {
      val idxDir = ArtifactMemo.dirFor("bm25idx", d) { p =>
        Retrieval.writeBm25Index(t(s, d, "documents"), col("doc_id"),
          col("text"), p)
      }
      val sparse = Retrieval.bm25TopKIndexed(s, idxDir, Bm25Terms,
          k = 50)
        .select(col("id"), row_number().over(
            Window.orderBy(col("score").desc, col("id")))
          .cast("long").as("rank"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dense = Similarity.bruteForceTopK(e.where(col("id") === 1), e,
          k = 50)
        .select(col("vb").as("id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 25)
        .select(col("id").as("doc_id"), col("rrf"), col("n_arms"))
    }),

    // The ANN-armed production form of x_hybrid_rrf: the dense arm is
    // fitted-centroid IVF instead of brute force — the shape that runs
    // at 100 TB. Rows-only (the ANN arm is engine-specific); licensed
    // by the oracle-checked x_hybrid_rrf_err agreement floor below.
    "x_hybrid_rrf_ann" -> ((s, d) => {
      val sparse = TextAnalysis.bm25TopK(t(s, d, "documents"),
          col("doc_id"), col("text"), Bm25Terms, k = 50)
        .select(col("id"), row_number().over(
            Window.orderBy(col("score").desc, col("id")))
          .cast("long").as("rank"))
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = ExtensionQueries.fittedCents(d, e)
      val dense = Similarity.ivfTopK(e.where(col("id") === 1), e, k = 50,
          nprobe = 6, fitted = Some(cents))
        .select(col("vb").as("id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 25)
        .select(col("id").as("doc_id"), col("rrf"), col("n_arms"))
    }),

    // Agreement floor licensing x_hybrid_rrf_ann (empty-set oracle,
    // the recall-gate pattern): fires a row iff the ANN-armed fusion
    // recovers fewer than 80% of the exact fusion's top-25 ids —
    // integer-exact comparison (5·hits < 4·n_exact), no float recall.
    "x_hybrid_rrf_err" -> ((s, d) => {
      val exact = queries("x_hybrid_rrf")(s, d).select(col("doc_id"))
      val ann = queries("x_hybrid_rrf_ann")(s, d).select(col("doc_id"))
      val hits = exact.join(ann, Seq("doc_id"))
        .agg(count(lit(1)).as("hits"))
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      hits.crossJoin(nEx)
        .where(col("hits") * 5 < col("n_exact") * 4)
        .select(col("hits"), col("n_exact"))
    }),

    // MMR diversification, oracle-checked: the inherently-sequential
    // greedy re-rank over a cosine top-10 shortlist (query = vec 1),
    // k=5, λ=0.5 — the DuckDB mirror unrolls the five greedy steps as
    // chained CTEs; every arithmetic step is per-row IEEE or an exact
    // max, so the picks AND scores hash-match bit-for-bit.
    "x_mmr" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val short = Similarity.bruteForceTopK(e.where(col("id") === 1), e,
          k = 10)
        .select(col("vb").as("id"), col("cos").as("score"))
        .join(e, Seq("id"))
      Retrieval.mmrRerank(short, k = 5)
        .select(col("id").as("doc_id"), col("mmr_rank"),
          col("mmr_score"))
        .orderBy(col("mmr_rank"))
    }),

    // The CdcWindowsExpr surface directly: every content-defined
    // 40-char window of every document (8-char anchors, density 1/16).
    "x_cdc_windows" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(Curation.cdcWindows(col("text"))).as("win"))
        .distinct()
        .orderBy(col("doc_id"), col("win"))),

    // Substring-level duplicate pairs over the planted-passage corpus:
    // hash-candidate buckets pair up (8-byte shuffle keys), then exact
    // string confirm — docs sharing any identical content-defined
    // window, with the distinct shared-window count.
    "x_substring_dup" -> ((s, d) =>
      Curation.substringDupPairs(passageCorpus(t(s, d, "documents")),
          col("doc_id"), col("text"))
        .select(col("ida").as("da"), col("idb").as("db"),
          col("n_shared"))
        .orderBy(col("da"), col("db"))),

    // Normal-equation sufficient statistics for the learned quality
    // filter: features (bias, n_tokens, n_stop, n_chars), label
    // lang='en' — one map-side-combined pass, exchange carries 14
    // longs. The solve (Training.solveNormalEquations) is spec-checked;
    // this oracle-checks the data pass bit-for-bit.
    "x_normal_eq" -> ((s, d) => {
      val toks = split(col("text"), " ")
      Training.linearMoments(t(s, d, "documents"),
        Seq(lit(1L), size(toks).cast("long"),
          size(filter(toks,
            x => x.isin(TextAnalysis.stopwords: _*))).cast("long"),
          length(col("text")).cast("long")),
        (col("lang") === "en").cast("long"))
    }),

    // The action half of substring dedup: every shared content-defined
    // window keeps its minimum-doc occurrence and is scrubbed (span
    // union, merged overlaps) from every other document — repeated
    // passages vanish from all but one canonical holder, unique
    // content survives byte-for-byte.
    "x_substring_scrub" -> ((s, d) =>
      Curation.scrubSharedWindows(passageCorpus(t(s, d, "documents")),
          col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // Composition: substring-sharing graph between SOURCES (the same
    // CDC machinery with source as the entity key — mirror-site /
    // boilerplate-farm detection), symmetrized, then fixed-point
    // PageRank: sources that share passages with many peers rank high
    // — the authority prior a curation pipeline feeds into sampling
    // weights. Node ids are strings; the operator is key-type-generic.
    "x_source_authority" -> ((s, d) => {
      val pairs = Curation.substringDupPairs(
        passageCorpus(t(s, d, "documents")), col("source"), col("text"))
      val edges = pairs
        .select(col("ida").as("src"), col("idb").as("dst"))
        .union(pairs.select(col("idb").as("src"), col("ida").as("dst")))
      Graph.pageRank(edges, col("src"), col("dst"), iters = 5)
        .select(col("id").as("source"), col("rank"))
        .orderBy(col("source"))
    }),

    // Fixed-point PageRank over the customer-nation → supplier-nation
    // trade graph (sparse slice: low-quantity lineitems only):
    // 5 synchronous iterations of scaled-integer rank flow, one
    // contribution shuffle per iteration, bit-deterministic — the
    // oracle unrolls the same 5 iterations as chained CTEs.
    "x_pagerank" -> ((s, d) =>
      Graph.pageRank(nationTradeEdges(s, d, maxQty = 2), col("src"),
          col("dst"), iters = 5)
        .select(col("id").as("nationkey"), col("rank"))
        .orderBy(col("nationkey"))),

    // PAGERANK-store RETRACTION — the value-iteration twist on
    // rebuild-on-retract: a warm restart from the stored ranks WOULD
    // converge over the surviving graph, but its seed carries the
    // deleted edges' influence forever (it decays geometrically,
    // never to exactly zero in finite rounds), failing the
    // right-to-be-forgotten bar every other retraction here meets
    // exactly — so the store rebuilds COLD over the surviving edges
    // (nations 3 and 19 retracted, the x_scc_delete slice) as a
    // superseding generation. Oracle = the same unrolled 5-round
    // scaled-integer SQL over exactly the surviving graph; potent by
    // construction: the teleport base shifts with |V|, so every
    // surviving rank changes.
    "x_pagerank_delete" -> ((s, d) => {
      val keep = !col("src").isin(3L, 19L) && !col("dst").isin(3L, 19L)
      val store = ArtifactMemo.dirFor("prdelstore", d) { p =>
        Graph.writePageRankStore(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), iters = 5, p)
        Graph.rebuildPageRankStore(
          nationTradeEdges(s, d, maxQty = 2).where(keep),
          col("src"), col("dst"), iters = 5, p): Unit
      }
      Graph.pageRankStoreRanks(s, store)
        .select(col("id").as("nationkey"), col("rank"))
        .orderBy(col("nationkey"))
    }),

    // HITS hubs & authorities over the same trade graph — scaled-
    // integer power iteration with max-normalization per half-step
    // (no sqrt, no float accumulation), so like x_pagerank the five
    // rounds unroll into an exact SQL oracle and hash-match.
    "x_hits" -> ((s, d) =>
      Graph.hits(nationTradeEdges(s, d, maxQty = 2), col("src"),
          col("dst"), iters = 5)
        .select(col("id").as("nationkey"), col("hub"), col("auth"))
        .orderBy(col("nationkey"))),

    // DeepWalk-style walk corpus over the trade graph: 2 walks × 4
    // steps per node, every hop decided by the engine-portable
    // polynomial fingerprint mod outdegree — zero RNG state, so the
    // oracle replays the exact hop sequence hop by hop.
    "x_random_walks" -> ((s, d) =>
      Graph.randomWalks(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), walksPerNode = 2, len = 4)
        .orderBy(col("start"), col("walk"), col("step"))),

    // Skip-gram co-occurrence counts over the walk corpus (window 2)
    // — the DeepWalk pipeline's trainable artifact, walk-local
    // self-join + map-side-counted aggregate, same replayed-hop
    // oracle front.
    "x_walk_skipgrams" -> ((s, d) =>
      Graph.skipGramPairs(
          Graph.randomWalks(nationTradeEdges(s, d, maxQty = 2),
            col("src"), col("dst"), walksPerNode = 2, len = 4),
          window = 2)
        .orderBy(col("center"), col("context"))),

    // LANDMARK DISTANCE SKETCHES: one multi-source BFS from the 4
    // smallest nodes over the undirected trade graph, depth ≤ 6 —
    // the pivot table that answers dist(u,v) ≲ min over landmarks of
    // d(u,lm)+d(lm,v) without per-query traversals. Set-valued BFS
    // layers (no tie-breaks), mirrored by a depth-bounded recursive
    // CTE folded by min(dist).
    "x_landmark_dist" -> ((s, d) =>
      Graph.landmarkDistances(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), landmarks = 4, maxDepth = 6)
        .orderBy(col("lm"), col("dist"), col("id"))),

    // HARMONIC closeness centrality (bounded radius 6) over the
    // sparse undirected trade graph — the influence ranking of a
    // citation/near-dup graph: hc(u) = Σ ⌊1e6 / d(u,v)⌋ over
    // reachable v ≠ u, integer floor-div per pair then integer sum
    // (bit-deterministic; unreachable pairs contribute 0 — the
    // harmonic form's whole point at a truncated radius). Exact arm:
    // one multi-source BFS with every node as a pivot — the licensed
    // small-graph baseline the landmark estimator below scales past.
    "x_closeness" -> ((s, d) =>
      Graph.harmonicCloseness(sparseDirectedTrade(s, d), col("src"),
          col("dst"), maxDepth = 6)
        .orderBy(col("id"))),

    // The SCALE path: the Eppstein-Wang landmark estimator — one
    // pass over the (id, lm, dist) sketch the landmark store already
    // maintains (|V|·L rows, L = 4 frozen pivots, vs the exact arm's
    // |V|² BFS). Deterministic pivots make the ESTIMATOR itself
    // oracle-exact: the same depth-bounded recursive CTE from the 4
    // smallest nodes, the same integer arithmetic — hash-checked, so
    // no accuracy license is needed for correctness (ranking
    // agreement vs exact is the caller's judgment knob).
    "x_closeness_landmark" -> ((s, d) => {
      val edges = sparseDirectedTrade(s, d)
      val sketch = Graph.landmarkDistances(edges, col("src"),
        col("dst"), landmarks = 4, maxDepth = 6)
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      Graph.harmonicClosenessLandmark(sketch, nodes)
        .orderBy(col("id"))
    }),

    // STRONGLY connected components of the DIRECTED sparse trade
    // graph (customer-nation → supplier-nation, quantity ≤ 1 on a
    // 1/29 orderkey slice — mixed structure: a few multi-node cycles
    // among trivial SCCs at sf0.01, one giant SCC at sf0.1): iterated
    // forward-backward coloring, each node labeled by its SCC's min
    // member id. The oracle computes the mutual-reachability closure
    // in SQL — ground truth, not a replay.
    "x_scc" -> ((s, d) =>
      Graph.stronglyConnectedComponents(
          sparseDirectedTrade(s, d), col("src"), col("dst"))
        .orderBy(col("id"))),

    // Condensation DAG of the same directed graph with LONGEST-PATH
    // topological levels (level 0 = sources) — the dependency-graph
    // readout: what can run in parallel, what must wait, where the
    // cycles collapsed. n_members prices each collapsed cycle. The
    // oracle enumerates DAG paths recursively — ground truth again.
    "x_scc_levels" -> ((s, d) =>
      Graph.sccCondensation(
          sparseDirectedTrade(s, d), col("src"), col("dst"))
        .orderBy(col("scc"))),

    // INCREMENTAL SCC: the even-multiples-of-29 slice of the directed
    // trade graph bootstraps the (assignment + condensation) store;
    // the odd-multiples batch then recomputes SCC over (stored
    // condensation ∪ contracted batch edges) — ≤ #SCCs + batch nodes,
    // never |V| — and relabels only merged members. Sound because
    // insertion only MERGES SCCs; labels stay the min member id, so
    // the result hash-matches the same GROUND-TRUTH mutual-
    // reachability closure x_scc checks (the union graph IS the
    // x_scc fixture: 58 = 2·29 splits it SF-invariantly).
    "x_scc_incremental" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("sccstore", d) { p =>
        Graph.writeSccStore(
          sparseDirectedTrade(s, d, col("l_orderkey") % 58 === 0),
          col("src"), col("dst"), p)
      }
      Graph.sccIncremental(
          sparseDirectedTrade(s, d, col("l_orderkey") % 58 === 29),
          col("src"), col("dst"), store, batchId = 1L)
        .orderBy(col("id"))
    }),

    // SCC-store RETRACTION: a node takedown (nations 3 and 19 — both
    // members of the nontrivial SCC, so the deletion SPLITS it: 9 → 5
    // members at sf0.01, 25 → 23 at sf0.1) cannot be maintained
    // incrementally — edge deletion breaks the insertion-only-merges
    // soundness argument — so the store REBUILDS over the surviving
    // edges as a superseding generation (atomic from the reader's
    // side). The oracle recomputes the ground-truth closure over
    // exactly the surviving universe.
    "x_scc_delete" -> ((s, d) => {
      val keep = !col("src").isin(3L, 19L) && !col("dst").isin(3L, 19L)
      val store = ArtifactMemo.dirFor("sccdelstore", d) { p =>
        Graph.writeSccStore(
          sparseDirectedTrade(s, d, col("l_orderkey") % 58 === 0),
          col("src"), col("dst"), p)
        Graph.sccIncremental(
          sparseDirectedTrade(s, d, col("l_orderkey") % 58 === 29),
          col("src"), col("dst"), p, batchId = 1L): Unit
        Graph.rebuildSccStore(
          sparseDirectedTrade(s, d).where(keep),
          col("src"), col("dst"), p): Unit
      }
      Graph.sccStoreAssign(s, store).orderBy(col("id"))
    }),

    // The dependency-graph readout FROM the incremental store: the
    // batch lands ONCE at build (maintenance rides its cadence and is
    // priced by x_scc_incremental, the apply's own query), then
    // condensation levels + member counts recompute over the STORED
    // condensation (≤ #SCCs nodes, stale labels mapped at read) — the
    // original edge list is never touched by the measured readout.
    // Hash-checked against the same recursive DAG-path oracle as
    // x_scc_levels (the union graph is the x_scc fixture).
    "x_scc_levels_incremental" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("sccstoreb", d) { p =>
        Graph.writeSccStore(
          sparseDirectedTrade(s, d, col("l_orderkey") % 58 === 0),
          col("src"), col("dst"), p)
        Graph.sccIncremental(
          sparseDirectedTrade(s, d, col("l_orderkey") % 58 === 29),
          col("src"), col("dst"), p, batchId = 1L): Unit
      }
      Graph.sccStoreLevels(s, store)
        .orderBy(col("scc"))
    }),

    // INCREMENTAL landmark sketch maintenance: the quantity ≤ 1
    // graph's sketch persists once (writeLandmarkStore, landmarks
    // FROZEN there); the quantity = 2 batch then RELAXES stored
    // distances from its endpoints only (edge insertion is monotone —
    // distances never grow — so the warm extension is sound and
    // frontier-sized; the append holds only improved keys). The
    // oracle replays the union-graph BFS from the history-chosen
    // landmarks with the same depth-bounded recursive CTE.
    "x_landmark_incremental" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("lmdstore", d) { p =>
        Graph.writeLandmarkStore(nationTradeEdges(s, d, maxQty = 1),
          col("src"), col("dst"), landmarks = 4, maxDepth = 6, p)
      }
      Graph.landmarkDistancesIncremental(
          nationTradeEdges(s, d, maxQty = 2), col("src"), col("dst"),
          nationTradeEdges(s, d, maxQty = 2, minQty = 1),
          col("src"), col("dst"), store, batchId = 1L, maxDepth = 6)
        .orderBy(col("lm"), col("dist"), col("id"))
    }),

    // STORE-BACKED closeness readout — the landmark estimator served
    // FROM the maintained incremental store instead of recomputing
    // the sketch (the x_scc_levels_incremental pattern): bootstrap
    // freezes the quantity ≤ 1 graph's 4 smallest pivots and the
    // quantity = 2 batch warm-relaxes the stored distances ONCE at
    // build (maintenance rides its cadence and is priced by
    // x_landmark_incremental, the apply's own query); the measured
    // body is the READOUT a 100 TB user runs per query — ONE |V|·L
    // pass over landmarkStoreDistances, the original edge list never
    // re-BFS'd. Hash-checked against the harmonic fold over the same
    // union-graph depth-bounded CTE as x_landmark_incremental.
    "x_closeness_incremental" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("lmdstoreb", d) { p =>
        Graph.writeLandmarkStore(nationTradeEdges(s, d, maxQty = 1),
          col("src"), col("dst"), landmarks = 4, maxDepth = 6, p)
        Graph.landmarkDistancesIncremental(
          nationTradeEdges(s, d, maxQty = 2), col("src"), col("dst"),
          nationTradeEdges(s, d, maxQty = 2, minQty = 1),
          col("src"), col("dst"), p, batchId = 1L,
          maxDepth = 6): Unit
        // the node universe persists WITH the sketch (a store column
        // a 100 TB deployment maintains alongside the distances): the
        // estimator must emit 0-rows for nodes unreachable from every
        // pivot, so the readout needs the graph's node set — but
        // re-deriving it from the edge list per query re-scans the
        // fact join the store exists to avoid. Maintenance rides the
        // same batch cadence as the distance appends.
        val union = nationTradeEdges(s, d, maxQty = 2)
        union.select(col("src").as("id"))
          .union(union.select(col("dst").as("id"))).distinct()
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$p/nodes/batch=1")
      }
      Graph.harmonicClosenessLandmark(
          Graph.landmarkStoreDistances(s, store),
          s.read.parquet(graft.operators.Stats
            .committedViewDirs(s, s"$store/nodes"): _*)
            .select(col("id")))
        .orderBy(col("id"))
    }),

    // LANDMARK-store RETRACTION on the per-user event-chain graph —
    // the takedown shape where deletion leaves stored distances
    // STALE-SMALL (an interior chain node is a cut vertex: every
    // survivor beyond it leaves the landmark's depth-6 ball
    // entirely), which landmarkDistancesIncremental's monotone-
    // relaxation argument cannot absorb — edge insertion only
    // SHRINKS distances; deletion GROWS them — so the store REBUILDS
    // the BFS sketch over the surviving edges as a superseding
    // generation (the min-fold view flips atomically: an old,
    // smaller distance can never fold in with the new generation).
    // The retracted slice event_id % 13 = 3 is SF-invariant and
    // includes frozen landmark 3 itself, covering the deleted-pivot
    // branch (its whole BFS column vanishes with it). Potency
    // (checked per the x_neardup_delete discipline): SURVIVING rows
    // are lost at every SF (9 / 3 / 2 at sf0.001 / 0.01 / 0.1) —
    // exactly the rows a skipped re-BFS would keep serving stale.
    // Oracle = the shared depth-bounded recursive CTE over surviving
    // edges from the surviving frozen pivots.
    "x_landmark_delete" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val edges = t(s, d, "events")
        .select(col("event_id"),
          lead(col("event_id"), 1).over(w).as("next_id"))
        .where(col("next_id").isNotNull)
      val keep = col("event_id") % 13 =!= 3 && col("next_id") % 13 =!= 3
      val store = ArtifactMemo.dirFor("lmdelstore", d) { p =>
        Graph.writeLandmarkStore(edges, col("event_id"),
          col("next_id"), landmarks = 4, maxDepth = 6, p)
        Graph.rebuildLandmarkStore(edges.where(keep), col("event_id"),
          col("next_id"), p,
          deletedNodes = Some(t(s, d, "events")
            .where(col("event_id") % 13 === 3)
            .select(col("event_id").as("id")).distinct()),
          maxDepth = 6): Unit
      }
      Graph.landmarkStoreDistances(s, store)
        .orderBy(col("lm"), col("dist"), col("id"))
    }),

    // NODE2VEC biased walks (return weight 1, distance-1 weight 4,
    // exploration weight 2 — a locality-tilted p/q regime in exact
    // integer weights): every hop draws by fingerprint mod the
    // cumulative-weight total over the walk-local candidate window.
    // The oracle replays all three biased steps hop by hop.
    "x_node2vec" -> ((s, d) =>
      Graph.node2vecWalks(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), walksPerNode = 2, len = 3,
          wReturn = 1L, wCommon = 4L, wExplore = 2L)
        .orderBy(col("start"), col("walk"), col("step"))),

    // Deterministic NEGATIVE SAMPLING for the skip-gram pairs — the
    // word2vec data step: 3 fingerprint-mod draws per (center,
    // context) pair into the id-ordered node index (the distributed
    // prefix-sum rank, no global window), own-pair collisions dropped
    // deterministically. The oracle replays every draw.
    "x_neg_samples" -> ((s, d) =>
      Graph.negativeSamples(
          Graph.skipGramPairs(
            Graph.randomWalks(nationTradeEdges(s, d, maxQty = 2),
              col("src"), col("dst"), walksPerNode = 2, len = 4),
            window = 2),
          col("center"), col("context"), k = 3)
        .orderBy(col("center"), col("context"), col("j"))),

    // WARM-START PageRank: the quantity ≤ 1 trade graph's converged
    // ranks persist once (writePageRankStore, 5 iterations); the
    // union (quantity ≤ 2) then runs THREE warm rounds from the
    // stored vector instead of a cold five — the round-count saving
    // that is the only sound incremental form for PageRank (per-round
    // work is inherently global; rounds 9-10's exclusion argument,
    // priced instead of dodged). Bit-deterministic end to end, so the
    // oracle unrolls history's five rounds AND the three warm rounds
    // in SQL and hash-matches exactly.
    "x_pagerank_warm" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("prstore", d) { p =>
        Graph.writePageRankStore(nationTradeEdges(s, d, maxQty = 1),
          col("src"), col("dst"), iters = 5, p)
      }
      Graph.pageRankWarm(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), store, batchId = 1L, rounds = 3)
        .select(col("id").as("nationkey"), col("rank"))
        .orderBy(col("nationkey"))
    }),

    // WARM-START HITS: the quantity ≤ 1 trade graph's converged
    // hub/auth vectors persist once (writeHitsStore, 5 iterations);
    // the union (quantity ≤ 2) then runs TWO warm rounds seeded from
    // the stored hub vector instead of a cold five — the same
    // round-count contract as x_pagerank_warm (max-normalization is
    // global, so per-round work is inherently graph-sized; the only
    // sound saving is fewer rounds). Bit-deterministic end to end:
    // the oracle unrolls history's five rounds AND the two warm
    // rounds in SQL and hash-matches exactly.
    "x_hits_warm" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("hitsstore", d) { p =>
        Graph.writeHitsStore(nationTradeEdges(s, d, maxQty = 1),
          col("src"), col("dst"), iters = 5, p)
      }
      Graph.hitsWarm(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), store, batchId = 1L, rounds = 2)
        .select(col("id").as("nationkey"), col("hub"), col("auth"))
        .orderBy(col("nationkey"))
    }),

    // LOUVAIN community detection (one level, 3 synchronous rounds)
    // over the WEIGHTED trade graph — duplicate (src, dst) lineitem
    // rows fold to edge weights, so modularity sees trade VOLUME, not
    // mere adjacency (what label propagation, which optimizes
    // nothing, cannot express). Exact decimal(38,0) gain arithmetic
    // with (score DESC, community ASC) ties — the oracle unrolls all
    // three rounds in SQL (HUGEINT) and hash-matches.
    "x_louvain" -> ((s, d) =>
      Graph.louvain(nationTradeEdges(s, d, maxQty = 2), col("src"),
          col("dst"), rounds = 3)
        .select(col("id").as("nationkey"), col("community"))
        .orderBy(col("nationkey"))),

    // MULTI-LEVEL Louvain: level 1 (3 rounds) contracts communities
    // to super-nodes — internal mass becomes self-loops, 2m invariant
    // — and level 2 re-runs the same arithmetic on the quotient graph
    // (2 rounds); each node's final community is its level-1
    // community's level-2 assignment. The oracle replays BOTH levels
    // and the contraction in SQL.
    "x_louvain2" -> ((s, d) => {
      // one lineitem-derivation scan feeds BOTH the level-1 rounds
      // and the contraction fold
      val edges = graft.operators.Checkpoints.stage(
        nationTradeEdges(s, d, maxQty = 2))
      val l1 = Graph.louvain(edges, col("src"), col("dst"), rounds = 3)
      val qg = Graph.contractGraph(edges, col("src"), col("dst"),
        l1, col("id"), col("community"))
      val l2 = Graph.louvain(qg, col("cu"), col("cv"), rounds = 2,
        weight = Some(col("w")))
      l1.join(l2.select(col("id").as("community"),
          col("community").as("__final")), Seq("community"))
        .select(col("id").as("nationkey"),
          col("__final").as("community"))
        .orderBy(col("nationkey"))
    }),

    // WARM-START Louvain: the quantity ≤ 1 graph's 3-round assignment
    // persists once (writeLouvainStore); the union (quantity ≤ 2)
    // then runs ONE warm gain round from the stored communities (new
    // nodes start singleton) instead of a cold three — the same
    // round-count contract as x_pagerank_warm / x_hits_warm
    // (community-degree sums and 2m are global; the sound saving is
    // fewer rounds). The oracle unrolls history's three rounds AND
    // the warm round and hash-matches.
    "x_louvain_warm" -> ((s, d) => {
      val store = ArtifactMemo.dirFor("louvainstore", d) { p =>
        Graph.writeLouvainStore(nationTradeEdges(s, d, maxQty = 1),
          col("src"), col("dst"), rounds = 3, p)
      }
      Graph.louvainWarm(nationTradeEdges(s, d, maxQty = 2),
          col("src"), col("dst"), store, batchId = 1L, rounds = 1)
        .select(col("id").as("nationkey"), col("community"))
        .orderBy(col("nationkey"))
    }),

    // MODULARITY DRIFT: the history graph's partition re-scored on
    // the EVOLVED union graph (new nodes as singletons) — "has the
    // community structure we computed last release gone stale?"; the
    // per-community q_num deltas against x_modularity's fresh
    // partition are the re-clustering trigger. Exact integers, both
    // phases replayed by the oracle.
    "x_modularity_drift" -> ((s, d) => {
      val union = graft.operators.Checkpoints.stage(
        nationTradeEdges(s, d, maxQty = 2))
      val l1 = Graph.louvain(nationTradeEdges(s, d, maxQty = 1),
        col("src"), col("dst"), rounds = 3)
      val nodes = union.select(col("src").as("id"))
        .union(union.select(col("dst").as("id"))).distinct()
      // staged: the assignment feeds modularity's intra join (twice)
      // and its degree-sum branch
      val asg = graft.operators.Checkpoints.stage(nodes
        .join(l1.withColumnRenamed("community", "__c"), Seq("id"),
          "left")
        .select(col("id"),
          coalesce(col("__c"), col("id")).as("community")))
      Graph.modularity(union, col("src"), col("dst"), asg, col("id"),
          col("community"))
        .select(col("community"), col("in_w2"), col("deg_sum"),
          col("q_num").cast("long").as("q_num"))
        .orderBy(col("community"))
    }),

    // MODULARITY audit of the level-1 Louvain partition: per
    // community the exact integer numerator 2m·in_C − D_C² (Q_C
    // scaled by (2m)² — detect with x_louvain, QUANTIFY with this).
    // Exact integers end to end; the long cast is sound at any test
    // scale (q_num ≈ m2·in ≲ 10¹² here; the operator itself carries
    // decimal(38,0) for trillion-edge graphs).
    "x_modularity" -> ((s, d) => {
      // one scan feeds the detection rounds AND the decomposition
      val edges = graft.operators.Checkpoints.stage(
        nationTradeEdges(s, d, maxQty = 2))
      val l1 = Graph.louvain(edges, col("src"), col("dst"), rounds = 3)
      Graph.modularity(edges, col("src"), col("dst"), l1, col("id"),
          col("community"))
        .select(col("community"), col("in_w2"), col("deg_sum"),
          col("q_num").cast("long").as("q_num"))
        .orderBy(col("community"))
    }))

  /** The customer-nation → supplier-nation trade graph over sparse
    * (low-quantity) lineitems — the x_pagerank fixture; `maxQty`
    * slices it SF-invariantly (a value threshold, so history/union
    * proportions hold at every scale factor).
    */
  /** The sparse DIRECTED trade graph (customer-nation →
    * supplier-nation, quantity ≤ 1 on a 1/29 orderkey slice) — the
    * x_scc / x_scc_levels fixture: mixed SCC structure at sf0.01,
    * one giant SCC at sf0.1, all-trivial at sf0.001.
    */
  private def sparseDirectedTrade(s: SparkSession, d: String,
                                  keep: org.apache.spark.sql.Column =
                                    lit(true)): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_quantity") <= 1 && col("l_orderkey") % 29 === 0 &&
        keep)
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .where(col("src") =!= col("dst"))

  private def nationTradeEdges(s: SparkSession, d: String,
                               maxQty: Int, minQty: Int = 0): DataFrame =
    t(s, d, "lineitem")
      .where(col("l_quantity") <= maxQty && col("l_quantity") > minQty)
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .where(col("src") =!= col("dst"))

  /** DuckDB window-emission mirror of CdcWindowsExpr over `src`:
    * positions whose 8-char polynomial fingerprint ≡ 0 mod 16, mapped
    * to their 40-char windows.
    */
  private[queries] def cdcWinsSql(src: String, key: String = "doc_id"): String =
    s"""SELECT $key, unnest(list_transform(list_filter(
       |    generate_series(1, len(text) - 39),
       |    p -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(substr(text, CAST(p AS INT), 8), ''),
       |             c -> CAST(unicode(c) AS BIGINT))),
       |           (h, c) -> (h * 31 + c) % 1000000007) % 16 = 0),
       |  p -> substr(text, CAST(p AS INT), 40))) AS win
       |FROM $src""".stripMargin

  /** DuckDB PolyFp mirror (the x_fingerprint idiom) over a string
    * expression.
    */
  private[queries] def polySql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($e, ''),
       |    c -> CAST(unicode(c) AS BIGINT))),
       |  (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  private[queries] val passageCorpusSql =
    s"""SELECT doc_id, source, text ||
       |  CASE WHEN doc_id % 11 = 0 THEN '$PassageA'
       |       WHEN doc_id % 13 = 0 THEN '$PassageB'
       |       ELSE '' END AS text
       |FROM documents""".stripMargin

  private def bm25TermSql(i: Int): String =
    s"""(CAST(2 * n_docs - 2 * df_$i + 1 AS DOUBLE) /
       |   CAST(2 * df_$i + 1 AS DOUBLE))
       | * (CAST(tf_$i AS DOUBLE) * (1.2 + 1.0))
       | / (CAST(tf_$i AS DOUBLE) + 1.2 * ((1.0 - 0.75)
       |     + 0.75 * CAST(dl AS DOUBLE)
       |       / (CAST(sum_dl AS DOUBLE) / n_docs)))""".stripMargin

  private val normalEqSql: String = {
    val k = 4
    val feats = Seq("CAST(1 AS BIGINT)",
      "CAST(len(string_split(text, ' ')) AS BIGINT)",
      "CAST(len(list_filter(string_split(text, ' '), " +
        "x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)",
      "CAST(len(text) AS BIGINT)")
    val f = feats.zipWithIndex
      .map { case (e, i) => s"$e AS f_$i" }
      .mkString(",\n    ")
    val rows =
      (for { i <- 0 until k; j <- i until k } yield
        s"SELECT $i AS i, $j AS j, CAST(sum(f_$i * f_$j) AS BIGINT) AS s FROM f") ++
      (0 until k).map(i =>
        s"SELECT $i AS i, -1 AS j, CAST(sum(f_$i * y) AS BIGINT) AS s FROM f")
    s"""WITH f AS (
       |  SELECT $f,
       |    CAST(lang = 'en' AS BIGINT) AS y
       |  FROM documents)
       |SELECT i, j, s FROM (
       |${rows.mkString("\n  UNION ALL ")})
       |ORDER BY i, j""".stripMargin
  }

  /** Unrolled 5-iteration fixed-point PageRank mirror over a caller-
    * supplied CTE chain whose LAST member is `e (src, dst)`.
    */
  private def pageRankSqlOver(leadingCtes: String,
                              idName: String): String = {
    val iterCte = (1 to 5).map { it =>
      val prev = s"r${it - 1}"
      s"""r$it AS (
         |  SELECT nodes.id,
         |    CAST((1000000 * 15) // (100 * n)
         |      + (85 * coalesce(inf.inflow, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes CROSS JOIN params
         |  LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inflow
         |    FROM e JOIN $prev r ON e.src = r.id
         |      JOIN od ON e.src = od.src
         |    GROUP BY e.dst) inf ON nodes.id = inf.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $leadingCtes,
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |params AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT id, CAST(1000000 // n AS BIGINT) AS rank
       |       FROM nodes CROSS JOIN params),
       |$iterCte
       |SELECT id AS $idName, rank FROM r5 ORDER BY $idName""".stripMargin
  }

  private def bm25TopSqlKeep(keep: String): String =
    s"""WITH ${bm25TfStSqlKeep(keep)}
       |SELECT doc_id, tf_0 AS tf_merge, tf_1 AS tf_window,
       |  tf_2 AS tf_spark, dl,
       |  ${bm25TermSql(0)}
       |  + ${bm25TermSql(1)}
       |  + ${bm25TermSql(2)} AS score
       |FROM tf CROSS JOIN st
       |WHERE tf_0 + tf_1 + tf_2 > 0
       |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin

  private lazy val bm25TopSql: String = bm25TopSqlKeep("TRUE")

  /** One scaled-integer PageRank round as a CTE, over caller-named
    * nodes/params/edges/outdeg CTEs — the [[pageRankSqlOver]] round
    * body parameterized so the warm-start oracle can chain a history
    * phase and a warm phase with different graphs.
    */
  private def prRoundSql(nodes: String, params: String, e: String,
                         od: String, prev: String,
                         next: String): String =
    s"""$next AS (
       |  SELECT $nodes.id,
       |    CAST((1000000 * 15) // (100 * n)
       |      + (85 * coalesce(inf.inflow, 0)) // 100 AS BIGINT) AS rank
       |  FROM $nodes CROSS JOIN $params
       |  LEFT JOIN (
       |    SELECT $e.dst AS id,
       |      CAST(sum(r.rank // od.outdeg) AS BIGINT) AS inflow
       |    FROM $e JOIN $prev r ON $e.src = r.id
       |      JOIN $od od ON $e.src = od.src
       |    GROUP BY $e.dst) inf ON $nodes.id = inf.id
       |)""".stripMargin

  /** Warm-start mirror: history's 5 rounds over the quantity ≤ 1
    * graph, then 3 warm rounds over the quantity ≤ 2 union starting
    * from the history fixed point (new nodes at the union uniform
    * prior) — the exact arithmetic of writePageRankStore +
    * pageRankWarm, unrolled.
    */
  private val pageRankWarmSql: String = {
    def edgesCte(maxQty: Int, name: String): String =
      s"""$name AS (
         |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE l_quantity <= $maxQty
         |    AND c_nationkey <> s_nationkey)""".stripMargin
    val histRounds = (1 to 5).map(i => prRoundSql("nodesh", "paramsh",
      "eh", "odh", s"r${i - 1}h", s"r${i}h")).mkString(",\n")
    val warmRounds = (1 to 3).map(i => prRoundSql("nodes", "params",
      "e", "od", s"w${i - 1}", s"w$i")).mkString(",\n")
    s"""WITH ${edgesCte(1, "eh")},
       |${edgesCte(2, "e")},
       |nodesh AS (SELECT src AS id FROM eh UNION SELECT dst FROM eh),
       |paramsh AS (SELECT count(*) AS n FROM nodesh),
       |odh AS (SELECT src, count(*) AS outdeg FROM eh GROUP BY src),
       |r0h AS (SELECT id, CAST(1000000 // n AS BIGINT) AS rank
       |        FROM nodesh CROSS JOIN paramsh),
       |$histRounds,
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |params AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |w0 AS (SELECT nodes.id,
       |         CAST(coalesce(h.rank, 1000000 // n) AS BIGINT) AS rank
       |       FROM nodes CROSS JOIN params
       |       LEFT JOIN r5h h ON nodes.id = h.id),
       |$warmRounds
       |SELECT id AS nationkey, rank FROM w3 ORDER BY nationkey""".stripMargin
  }

  private val pageRankSql: String = pageRankSqlOver(
    s"""e AS (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey)""".stripMargin,
    "nationkey")

  /** One HITS round, unrolled: authority half-step (inflow of hubs,
    * max-normalized) then hub half-step (outflow of authorities,
    * max-normalized) — the exact integer arithmetic of Graph.hits,
    * over caller-named nodes/edges CTEs with a caller prefix on every
    * round CTE so the warm-start oracle can chain a history phase and
    * a warm phase with different graphs (the prRoundSql discipline).
    */
  private def hitsRoundSql(i: Int, nodes: String = "nodes",
                           e: String = "e", p: String = ""): String =
    s"""${p}ra$i AS MATERIALIZED (
       |  SELECT $nodes.id, CAST(coalesce(s.x, 0) AS BIGINT) AS raw
       |  FROM $nodes LEFT JOIN (
       |    SELECT $e.dst AS id, CAST(sum(h.hub) AS BIGINT) AS x
       |    FROM $e JOIN ${p}h${i - 1} h ON $e.src = h.id GROUP BY $e.dst) s
       |    ON $nodes.id = s.id),
       |${p}ma$i AS (SELECT greatest(max(raw), 1) AS m FROM ${p}ra$i),
       |${p}a$i AS MATERIALIZED (
       |  SELECT id, CAST((raw * 1000000) // m AS BIGINT) AS auth
       |        FROM ${p}ra$i CROSS JOIN ${p}ma$i),
       |${p}rh$i AS MATERIALIZED (
       |  SELECT $nodes.id, CAST(coalesce(s.x, 0) AS BIGINT) AS raw
       |  FROM $nodes LEFT JOIN (
       |    SELECT $e.src AS id, CAST(sum(a.auth) AS BIGINT) AS x
       |    FROM $e JOIN ${p}a$i a ON $e.dst = a.id GROUP BY $e.src) s
       |    ON $nodes.id = s.id),
       |${p}mh$i AS (SELECT greatest(max(raw), 1) AS m FROM ${p}rh$i),
       |${p}h$i AS MATERIALIZED (
       |  SELECT id, CAST((raw * 1000000) // m AS BIGINT) AS hub
       |        FROM ${p}rh$i CROSS JOIN ${p}mh$i)""".stripMargin

  private val hitsSql: String = {
    val rounds = (1 to 5).map(i => hitsRoundSql(i)).mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey),
       |nodes AS MATERIALIZED (
       |  SELECT src AS id FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
       |$rounds
       |SELECT nodes.id AS nationkey, h5.hub, a5.auth
       |FROM nodes
       |JOIN h5 ON nodes.id = h5.id
       |JOIN a5 ON nodes.id = a5.id
       |ORDER BY nationkey""".stripMargin
  }

  /** Warm-start HITS mirror: history's 5 rounds over the quantity ≤ 1
    * graph, then 2 warm rounds over the quantity ≤ 2 union starting
    * from the history hub vector (new nodes at the cold prior) — the
    * exact arithmetic of writeHitsStore + hitsWarm, unrolled
    * (the pageRankWarmSql discipline).
    */
  private val hitsWarmSql: String = {
    def edgesCte(maxQty: Int, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE l_quantity <= $maxQty
         |    AND c_nationkey <> s_nationkey)""".stripMargin
    val histRounds = (1 to 5)
      .map(i => hitsRoundSql(i, "nodesh", "eh", "x")).mkString(",\n")
    val warmRounds = (1 to 2)
      .map(i => hitsRoundSql(i, "nodes", "e", "w")).mkString(",\n")
    s"""WITH ${edgesCte(1, "eh")},
       |${edgesCte(2, "e")},
       |nodesh AS MATERIALIZED (
       |  SELECT src AS id FROM eh UNION SELECT dst FROM eh),
       |xh0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodesh),
       |$histRounds,
       |nodes AS MATERIALIZED (
       |  SELECT src AS id FROM e UNION SELECT dst FROM e),
       |wh0 AS (SELECT nodes.id,
       |          CAST(coalesce(h.hub, 1000000) AS BIGINT) AS hub
       |        FROM nodes LEFT JOIN xh5 h ON nodes.id = h.id),
       |$warmRounds
       |SELECT nodes.id AS nationkey, wh2.hub, wa2.auth
       |FROM nodes
       |JOIN wh2 ON nodes.id = wh2.id
       |JOIN wa2 ON nodes.id = wa2.id
       |ORDER BY nationkey""".stripMargin
  }

  /** One synchronous Louvain round, unrolled: community weighted
    * degrees, neighbor-community weights, the own-community fallback
    * candidate, the HUGEINT gain score (mirror of the engine's
    * decimal(38,0) arithmetic — both exact, identical ordering), and
    * the (score DESC, cand ASC) argmax. Over caller-named
    * sym/deg/params CTEs with a prefix so the multi-level oracle can
    * chain level-2 rounds on the contracted graph.
    */
  private def louvainRoundSql(i: Int, sym: String, deg: String,
                              params: String, p: String): String =
    s"""${p}dc$i AS (
       |  SELECT c.c AS cand, CAST(sum(d.d) AS BIGINT) AS dc
       |  FROM ${p}c${i - 1} c JOIN $deg d ON c.id = d.id GROUP BY c.c),
       |${p}wic$i AS MATERIALIZED (
       |  SELECT s.u AS id, cj.c AS cand, CAST(sum(s.w) AS BIGINT) AS wi
       |  FROM $sym s JOIN ${p}c${i - 1} cj ON s.v = cj.id
       |  GROUP BY s.u, cj.c),
       |${p}cd$i AS (
       |  SELECT id, cand, wi FROM ${p}wic$i
       |  UNION ALL
       |  SELECT c.id, c.c AS cand, CAST(0 AS BIGINT) AS wi
       |  FROM ${p}c${i - 1} c
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}wic$i w
       |                    WHERE w.id = c.id AND w.cand = c.c)),
       |${p}sc$i AS (
       |  SELECT x.id, x.cand,
       |    CAST(m2 AS HUGEINT) * x.wi
       |      - CAST(d.d AS HUGEINT) * (dc.dc -
       |          CASE WHEN cur.c = x.cand THEN d.d ELSE 0 END) AS score
       |  FROM ${p}cd$i x
       |    JOIN $deg d ON x.id = d.id
       |    JOIN ${p}dc$i dc ON dc.cand = x.cand
       |    JOIN ${p}c${i - 1} cur ON cur.id = x.id
       |    CROSS JOIN $params),
       |${p}c$i AS MATERIALIZED (
       |  SELECT id, cand AS c FROM (
       |    SELECT id, cand, row_number() OVER (
       |      PARTITION BY id ORDER BY score DESC, cand ASC) AS rn
       |    FROM ${p}sc$i) WHERE rn = 1)""".stripMargin

  /** The weighted trade graph's CTEs at one quantity slice (row
    * multiplicity folds to edge weights), its symmetrized view,
    * self-loop-doubled weighted degrees, and 2m — prefixed so the
    * warm-start oracle can hold the history and union graphs side by
    * side.
    */
  private def louvainGraphCtes(maxQty: Int, p: String): String =
    s"""${p}eall AS MATERIALIZED (
       |  SELECT least(c_nationkey, s_nationkey) AS u,
       |    greatest(c_nationkey, s_nationkey) AS v,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= $maxQty AND c_nationkey <> s_nationkey
       |  GROUP BY 1, 2),
       |${p}sym AS MATERIALIZED (
       |  SELECT u, v, w FROM ${p}eall WHERE u <> v
       |  UNION ALL
       |  SELECT v AS u, u AS v, w FROM ${p}eall WHERE u <> v),
       |${p}deg AS MATERIALIZED (
       |  SELECT id, CAST(sum(w) AS BIGINT) AS d FROM (
       |    SELECT u AS id, w FROM ${p}sym
       |    UNION ALL
       |    SELECT u AS id, w * 2 AS w FROM ${p}eall WHERE u = v)
       |  GROUP BY id),
       |${p}params AS (
       |  SELECT CAST(sum(d) AS BIGINT) AS m2 FROM ${p}deg)""".stripMargin

  /** Level-1 base: the quantity ≤ 2 graph with the singleton start. */
  private val louvainBaseSql: String =
    "WITH " + louvainGraphCtes(2, "") + ",\n" +
      "c0 AS MATERIALIZED (SELECT id, id AS c FROM deg),\n" +
      (1 to 3).map(i => louvainRoundSql(i, "sym", "deg", "params", ""))
        .mkString(",\n")

  private val louvainSql: String =
    louvainBaseSql +
      "\nSELECT id AS nationkey, c AS community FROM c3 ORDER BY nationkey"

  /** Warm-start mirror: history's 3 rounds over the quantity ≤ 1
    * graph (prefix h), then ONE warm round over the quantity ≤ 2
    * union starting from the stored assignment (new nodes singleton)
    * — the exact arithmetic of writeLouvainStore + louvainWarm.
    */
  private val louvainWarmSql: String = {
    val histRounds = (1 to 3)
      .map(i => louvainRoundSql(i, "hsym", "hdeg", "hparams", "h"))
      .mkString(",\n")
    "WITH " + louvainGraphCtes(1, "h") + ",\n" +
      "hc0 AS MATERIALIZED (SELECT id, id AS c FROM hdeg),\n" +
      histRounds + ",\n" +
      louvainGraphCtes(2, "") + ",\n" +
      """c0 AS MATERIALIZED (
        |  SELECT deg.id, CAST(coalesce(h.c, deg.id) AS BIGINT) AS c
        |  FROM deg LEFT JOIN hc3 h ON deg.id = h.id),
        |""".stripMargin +
      louvainRoundSql(1, "sym", "deg", "params", "") +
      "\nSELECT id AS nationkey, c AS community FROM c1 ORDER BY nationkey"
  }

  /** Modularity decomposition of the level-1 partition: in_C (twice
    * the intra weight, self-loops twice), D_C, and the exact
    * numerator m2·in_C − D_C².
    */
  /** The modularity-decomposition tail over a caller-named
    * assignment CTE (id, c) and the unprefixed union-graph CTEs.
    */
  private def modularityTailSql(asg: String): String =
    s"""intra AS (
       |  SELECT cu.c AS community, CAST(2 * sum(e.w) AS BIGINT) AS iw
       |  FROM eall e JOIN $asg cu ON e.u = cu.id
       |    JOIN $asg cv ON e.v = cv.id
       |  WHERE cu.c = cv.c GROUP BY cu.c),
       |dsum AS (
       |  SELECT c.c AS community, CAST(sum(d.d) AS BIGINT) AS ds
       |  FROM $asg c JOIN deg d ON c.id = d.id GROUP BY c.c)
       |SELECT ds.community,
       |  coalesce(intra.iw, 0) AS in_w2, ds.ds AS deg_sum,
       |  CAST(CAST(m2 AS HUGEINT) * coalesce(intra.iw, 0)
       |    - CAST(ds.ds AS HUGEINT) * ds.ds AS BIGINT) AS q_num
       |FROM dsum ds
       |  LEFT JOIN intra ON ds.community = intra.community
       |  CROSS JOIN params
       |ORDER BY ds.community""".stripMargin

  private val modularitySql: String =
    louvainBaseSql + ",\n" + modularityTailSql("c3")

  /** Drift mirror: the quantity ≤ 1 graph's 3-round partition,
    * re-scored on the quantity ≤ 2 union (new nodes singleton) — the
    * stale-partition audit.
    */
  private val modularityDriftSql: String = {
    val histRounds = (1 to 3)
      .map(i => louvainRoundSql(i, "hsym", "hdeg", "hparams", "h"))
      .mkString(",\n")
    "WITH " + louvainGraphCtes(1, "h") + ",\n" +
      "hc0 AS MATERIALIZED (SELECT id, id AS c FROM hdeg),\n" +
      histRounds + ",\n" +
      louvainGraphCtes(2, "") + ",\n" +
      """drift AS MATERIALIZED (
        |  SELECT deg.id, CAST(coalesce(h.c, deg.id) AS BIGINT) AS c
        |  FROM deg LEFT JOIN hc3 h ON deg.id = h.id),
        |""".stripMargin +
      modularityTailSql("drift")
  }

  /** Multi-level mirror: contract level-1 communities (internal mass
    * becomes self-loops; 2m invariant), rebuild sym/deg/2m on the
    * quotient, run two more rounds, compose node → c1 → c2.
    */
  private val louvain2Sql: String =
    louvainBaseSql + ",\n" +
      s"""e2 AS MATERIALIZED (
         |  SELECT least(cu.c, cv.c) AS u, greatest(cu.c, cv.c) AS v,
         |    CAST(sum(e.w) AS BIGINT) AS w
         |  FROM eall e JOIN c3 cu ON e.u = cu.id
         |    JOIN c3 cv ON e.v = cv.id
         |  GROUP BY 1, 2),
         |sym2 AS MATERIALIZED (
         |  SELECT u, v, w FROM e2 WHERE u <> v
         |  UNION ALL SELECT v AS u, u AS v, w FROM e2 WHERE u <> v),
         |deg2 AS MATERIALIZED (
         |  SELECT id, CAST(sum(w) AS BIGINT) AS d FROM (
         |    SELECT u AS id, w FROM sym2
         |    UNION ALL SELECT u AS id, w * 2 AS w FROM e2 WHERE u = v)
         |  GROUP BY id),
         |params2 AS (SELECT CAST(sum(d) AS BIGINT) AS m2 FROM deg2),
         |yc0 AS MATERIALIZED (SELECT id, id AS c FROM deg2),
         |""".stripMargin +
      (1 to 2).map(i => louvainRoundSql(i, "sym2", "deg2", "params2", "y"))
        .mkString(",\n") +
      """
        |SELECT c3.id AS nationkey, y.c AS community
        |FROM c3 JOIN yc2 y ON c3.c = y.id ORDER BY nationkey""".stripMargin

  /** PolyFp fingerprint of a SQL string expression — the DuckDB
    * mirror of TextAnalysis.fingerprint (x_sample_hash pattern).
    */
  private def fpSql(keySql: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split($keySql, ''),
       |          c -> CAST(unicode(c) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  /** The shared walk-corpus CTE block (through `wl`, the union of all
    * step relations) — the oracle front of x_random_walks AND
    * x_walk_skipgrams.
    */
  private val walkCorpusCtes: String = {
    def step(t: Int): String = {
      val key = s"CAST(c.start AS VARCHAR) || '_' || " +
        s"CAST(c.walk AS VARCHAR) || '_$t' || '_' || " +
        s"CAST(c.node AS VARCHAR)"
      s"""w$t AS (
         |  SELECT c.start, c.walk, $t AS step, nbr.dst AS node
         |  FROM w${t - 1} c
         |  JOIN od ON c.node = od.src
         |  JOIN nbr ON nbr.src = c.node
         |    AND nbr.idx = ${fpSql(key)} % od.deg)""".stripMargin
    }
    val steps = (1 to 4).map(step).mkString(",\n")
    val unions = (0 to 4)
      .map(t => s"SELECT start, walk, step, node FROM w$t")
      .mkString("\nUNION ALL ")
    s"""e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey),
       |nbr AS MATERIALIZED (
       |  SELECT src, dst, CAST(row_number() OVER (
       |    PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx
       |  FROM e),
       |od AS MATERIALIZED (
       |  SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM e GROUP BY src),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |w0 AS (
       |  SELECT id AS start, CAST(w AS INTEGER) AS walk,
       |    0 AS step, id AS node
       |  FROM nodes CROSS JOIN
       |    (SELECT unnest(range(0, 2)) AS w) ws),
       |$steps,
       |wl AS MATERIALIZED ($unions)""".stripMargin
  }

  private val randomWalksSql: String =
    s"""WITH $walkCorpusCtes
       |SELECT start, walk, step, node FROM wl
       |ORDER BY start, walk, step""".stripMargin

  /** node2vec mirror: three biased steps, each a candidate CTE (with
    * the u→c adjacency flag and the integer bias weight), a walk-
    * local cumulative-weight window, and the fingerprint-range pick —
    * the exact arithmetic of Graph.node2vecWalks at (1, 4, 2).
    */
  private val node2vecSql: String = {
    def key(t: Int): String =
      s"CAST(c.start AS VARCHAR) || '_' || " +
        s"CAST(c.walk AS VARCHAR) || '_$t' || '_' || " +
        s"CAST(c.prev AS VARCHAR) || '_' || CAST(c.node AS VARCHAR)"
    def step(t: Int): String = {
      val w =
        if (t == 1) "CAST(1 AS BIGINT)"
        else
          """CASE WHEN nbr.dst = c.prev THEN CAST(1 AS BIGINT)
            |         WHEN pe.src IS NOT NULL THEN CAST(4 AS BIGINT)
            |         ELSE CAST(2 AS BIGINT) END""".stripMargin
      val prevJoin =
        if (t == 1) ""
        else
          "\n  LEFT JOIN e pe ON pe.src = c.prev AND pe.dst = nbr.dst"
      s"""cd$t AS (
         |  SELECT c.start, c.walk, c.prev, c.node, nbr.dst AS cand,
         |    nbr.idx, $w AS w,
         |    ${fpSql(key(t))} AS fpv
         |  FROM v${t - 1} c
         |  JOIN nbr ON nbr.src = c.node$prevJoin),
         |wt$t AS (
         |  SELECT *,
         |    coalesce(sum(w) OVER (
         |      PARTITION BY start, walk, prev, node ORDER BY idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS cum,
         |    sum(w) OVER (
         |      PARTITION BY start, walk, prev, node) AS tot
         |  FROM cd$t),
         |v$t AS (
         |  SELECT start, walk, $t AS step, node AS prev,
         |    cand AS node
         |  FROM wt$t
         |  WHERE fpv % tot >= cum AND fpv % tot < cum + w)""".stripMargin
    }
    val steps = (1 to 3).map(step).mkString(",\n")
    val unions = (0 to 3)
      .map(t => s"SELECT start, walk, step, node FROM v$t")
      .mkString("\nUNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey),
       |nbr AS MATERIALIZED (
       |  SELECT src, dst, CAST(row_number() OVER (
       |    PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx
       |  FROM e),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |v0 AS (
       |  SELECT id AS start, CAST(w AS INTEGER) AS walk,
       |    0 AS step, CAST(-1 AS BIGINT) AS prev, id AS node
       |  FROM nodes CROSS JOIN
       |    (SELECT unnest(range(0, 2)) AS w) ws),
       |$steps
       |SELECT start, walk, step, node FROM ($unions)
       |ORDER BY start, walk, step""".stripMargin
  }

  private val walkSkipgramsSql: String =
    s"""WITH $walkCorpusCtes
       |SELECT a.node AS center, b.node AS context,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM wl a JOIN wl b
       |  ON a.start = b.start AND a.walk = b.walk
       |  AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |GROUP BY 1, 2
       |ORDER BY center, context""".stripMargin

  /** Negative-sampling mirror: the skip-gram pair set, the id-ordered
    * node index, and k fingerprint-mod draws per pair, own-pair
    * collisions dropped — the exact arithmetic of
    * Graph.negativeSamples.
    */
  private val negSamplesSql: String = {
    val key = "CAST(pr.center AS VARCHAR) || '_' || " +
      "CAST(pr.context AS VARCHAR) || '_' || CAST(js.j AS VARCHAR)"
    s"""WITH $walkCorpusCtes,
       |pr AS MATERIALIZED (
       |  SELECT a.node AS center, b.node AS context
       |  FROM wl a JOIN wl b
       |    ON a.start = b.start AND a.walk = b.walk
       |    AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |  GROUP BY 1, 2),
       |vn AS MATERIALIZED (
       |  SELECT id, CAST(row_number() OVER (ORDER BY id) - 1
       |    AS BIGINT) AS idx
       |  FROM (SELECT center AS id FROM pr
       |        UNION SELECT context FROM pr)),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vn),
       |dr AS (
       |  SELECT pr.center, pr.context, js.j,
       |    ${fpSql(key)} % np.n AS draw
       |  FROM pr CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js
       |    CROSS JOIN np)
       |SELECT d.center, d.context, CAST(d.j AS INTEGER) AS j,
       |  vn.id AS neg
       |FROM dr d JOIN vn ON d.draw = vn.idx
       |WHERE vn.id <> d.center AND vn.id <> d.context
       |ORDER BY center, context, j""".stripMargin
  }

  /** Landmark-BFS mirror: depth-bounded recursive reachability from
    * the 4 smallest nodes over the symmetrized graph, folded by
    * min(dist) — the exact layer semantics of Graph.landmarkDistances.
    */
  private val landmarkDistSql: String =
    s"""WITH RECURSIVE e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM e
       |  UNION SELECT dst AS src, src AS dst FROM e),
       |lms AS MATERIALIZED (
       |  SELECT id AS lm FROM (SELECT DISTINCT src AS id FROM sym)
       |  ORDER BY id LIMIT 4),
       |walk(id, lm, dist) AS (
       |  SELECT lm AS id, lm, 0 FROM lms
       |  UNION
       |  SELECT sym.dst, w.lm, w.dist + 1
       |  FROM walk w JOIN sym ON w.id = sym.src
       |  WHERE w.dist < 6)
       |SELECT id, lm, CAST(min(dist) AS INTEGER) AS dist
       |FROM walk GROUP BY id, lm
       |ORDER BY lm, dist, id""".stripMargin

  /** Shared SCC ground-truth core: the mutual-reachability closure —
    * scc(v) = min over {v} ∪ {m : m →* v AND v →* m} — as a WITH
    * RECURSIVE prefix ending in a MATERIALIZED per-node assignment.
    */
  private val sccCoreSql: String = sccCoreSqlKeep("TRUE")

  /** [[sccCoreSql]] over a restricted node universe — the retraction
    * oracle recomputes the closure over surviving edges only.
    */
  private def sccCoreSqlKeep(nodePred: String): String =
    s"""WITH RECURSIVE e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 1 AND l_orderkey % 29 = 0
       |    AND c_nationkey <> s_nationkey
       |    AND ${nodePred.replace("NODE", "c_nationkey")}
       |    AND ${nodePred.replace("NODE", "s_nationkey")}),
       |r(a, b) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src),
       |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |p AS (
       |  SELECT r1.b AS v, r1.a AS m
       |  FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a),
       |sccmap AS MATERIALIZED (
       |  SELECT n.id, least(n.id, coalesce(min(p.m), n.id)) AS scc
       |  FROM n LEFT JOIN p ON p.v = n.id
       |  GROUP BY n.id)""".stripMargin

  private val sccSql: String =
    s"""$sccCoreSql
       |SELECT CAST(id AS BIGINT) AS id, CAST(scc AS BIGINT) AS scc
       |FROM sccmap ORDER BY id""".stripMargin

  /** x_scc_levels' mirror: condensation edges + longest-path levels
    * by recursive path enumeration (terminates — the condensation is
    * a DAG).
    */
  private val sccLevelsSql: String =
    s"""$sccCoreSql,
       |ce AS MATERIALIZED (
       |  SELECT DISTINCT sa.scc AS src, sb.scc AS dst
       |  FROM e
       |    JOIN sccmap sa ON e.src = sa.id
       |    JOIN sccmap sb ON e.dst = sb.id
       |  WHERE sa.scc <> sb.scc),
       |pth(nd, l) AS (
       |  SELECT dst, 1 FROM ce
       |  UNION
       |  SELECT ce.dst, pth.l + 1 FROM pth JOIN ce ON ce.src = pth.nd),
       |mem AS (
       |  SELECT scc, count(*) AS n_members FROM sccmap GROUP BY scc)
       |SELECT CAST(mem.scc AS BIGINT) AS scc,
       |  CAST(coalesce(max(pth.l), 0) AS BIGINT) AS level,
       |  mem.n_members
       |FROM mem LEFT JOIN pth ON pth.nd = mem.scc
       |GROUP BY mem.scc, mem.n_members ORDER BY mem.scc""".stripMargin

  /** The closeness oracles' shared front: the sparse undirected trade
    * graph (the x_scc fixture symmetrized) + its node set.
    */
  private val closenessCtes: String =
    s"""e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 1 AND l_orderkey % 29 = 0
       |    AND c_nationkey <> s_nationkey),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM e
       |  UNION SELECT dst AS src, src AS dst FROM e),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)""".stripMargin

  /** x_closeness' mirror: all-pairs-within-6 BFS by recursive CTE,
    * min-folded per pair, then the same ⌊1e6/d⌋ integer sum.
    */
  private val closenessSql: String =
    s"""WITH RECURSIVE $closenessCtes,
       |walk(u, v, d) AS (
       |  SELECT id, id, 0 FROM nodes
       |  UNION
       |  SELECT w.u, sym.dst, w.d + 1
       |  FROM walk w JOIN sym ON w.v = sym.src
       |  WHERE w.d < 6),
       |md AS (SELECT u, v, min(d) AS d FROM walk GROUP BY u, v)
       |SELECT n.id,
       |  CAST(coalesce(sum(1000000 // d), 0) AS BIGINT) AS hc
       |FROM nodes n LEFT JOIN md ON md.u = n.id AND md.d >= 1
       |GROUP BY n.id ORDER BY n.id""".stripMargin

  /** x_closeness_landmark's mirror: the SAME BFS from the 4 smallest
    * nodes only (the frozen pivot rule), same integer arithmetic.
    */
  private val closenessLandmarkSql: String =
    s"""WITH RECURSIVE $closenessCtes,
       |lms AS (SELECT id AS lm FROM nodes ORDER BY id LIMIT 4),
       |walk(lm, v, d) AS (
       |  SELECT lm, lm, 0 FROM lms
       |  UNION
       |  SELECT w.lm, sym.dst, w.d + 1
       |  FROM walk w JOIN sym ON w.v = sym.src
       |  WHERE w.d < 6),
       |md AS (SELECT lm, v, min(d) AS d FROM walk GROUP BY lm, v)
       |SELECT n.id,
       |  CAST(coalesce(sum(1000000 // d), 0) AS BIGINT) AS hc_est
       |FROM nodes n LEFT JOIN md ON md.v = n.id AND md.d >= 1
       |GROUP BY n.id ORDER BY n.id""".stripMargin

  /** x_landmark_incremental's mirror: the SAME depth-bounded
    * recursive-CTE BFS, over the UNION (quantity ≤ 2) graph but from
    * the HISTORY (quantity ≤ 1) graph's 4 smallest nodes — the frozen
    * landmark set the store bootstraps with.
    */
  private val landmarkIncCtes: String =
    s"""e AS MATERIALIZED (
       |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst,
       |    min(l_quantity) AS q
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey
       |  GROUP BY c_nationkey, s_nationkey),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM e
       |  UNION SELECT dst AS src, src AS dst FROM e),
       |hsym AS MATERIALIZED (
       |  SELECT src, dst FROM e WHERE q <= 1
       |  UNION SELECT dst AS src, src AS dst FROM e WHERE q <= 1),
       |lms AS MATERIALIZED (
       |  SELECT id AS lm FROM (SELECT DISTINCT src AS id FROM hsym)
       |  ORDER BY id LIMIT 4),
       |walk(id, lm, dist) AS (
       |  SELECT lm AS id, lm, 0 FROM lms
       |  UNION
       |  SELECT sym.dst, w.lm, w.dist + 1
       |  FROM walk w JOIN sym ON w.id = sym.src
       |  WHERE w.dist < 6)""".stripMargin

  private val landmarkIncSql: String =
    s"""WITH RECURSIVE $landmarkIncCtes
       |SELECT id, lm, CAST(min(dist) AS INTEGER) AS dist
       |FROM walk GROUP BY id, lm
       |ORDER BY lm, dist, id""".stripMargin

  /** x_closeness_incremental's mirror: the Eppstein-Wang harmonic
    * fold over the SAME union-graph BFS from the history-frozen
    * pivots — ⌊1e6 / d⌋ per (node, pivot) pair then an integer sum,
    * 0-valued rows for pivot-unreachable nodes (the store-backed
    * estimator is itself oracle-exact, like x_closeness_landmark).
    */
  private val closenessIncSql: String =
    s"""WITH RECURSIVE $landmarkIncCtes,
       |md AS (SELECT id, lm, min(dist) AS dist FROM walk
       |       GROUP BY id, lm),
       |nodes AS (SELECT DISTINCT src AS id FROM sym)
       |SELECT n.id,
       |  CAST(coalesce(sum(1000000 // dist), 0) AS BIGINT) AS hc_est
       |FROM nodes n LEFT JOIN md ON md.id = n.id AND md.dist >= 1
       |GROUP BY n.id ORDER BY n.id""".stripMargin

  private val sourceAuthoritySql: String = pageRankSqlOver(
    s"""corpus AS (
       |$passageCorpusSql),
       |w AS (
       |${cdcWinsSql("corpus", "source")}),
       |d AS (SELECT DISTINCT source, win FROM w),
       |p AS (SELECT DISTINCT a.source AS sa, b.source AS sb
       |      FROM d a JOIN d b
       |        ON a.win = b.win AND a.source < b.source),
       |e AS (SELECT sa AS src, sb AS dst FROM p
       |      UNION SELECT sb, sa FROM p)""".stripMargin,
    "source")

  private lazy val hybridRrfSql: String =
      s"""WITH $bm25TfStSql,
         |sp AS (
         |  SELECT doc_id,
         |    ${bm25TermSql(0)}
         |    + ${bm25TermSql(1)}
         |    + ${bm25TermSql(2)} AS score
         |  FROM tf CROSS JOIN st
         |  WHERE tf_0 + tf_1 + tf_2 > 0
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |sparse AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM sp),
         |sc AS (
         |  SELECT b.vec_id AS vb,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, len(a.embedding) + 1),
         |        i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])),
         |      (x, y) -> x + y)
         |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, len(a.embedding) + 1),
         |          i -> CAST(a.embedding[i] AS DOUBLE) * a.embedding[i])),
         |        (x, y) -> x + y))
         |      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, len(b.embedding) + 1),
         |          i -> CAST(b.embedding[i] AS DOUBLE) * b.embedding[i])),
         |        (x, y) -> x + y))) AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id = 1
         |  ORDER BY cos DESC, vb LIMIT 50),
         |dense AS (
         |  SELECT vb AS doc_id,
         |    row_number() OVER (ORDER BY cos DESC, vb) AS r
         |  FROM sc),
         |u AS (
         |  SELECT doc_id, 1.0 / (60 + r) AS contrib FROM sparse
         |  UNION ALL
         |  SELECT doc_id, 1.0 / (60 + r) FROM dense)
         |SELECT doc_id, sum(contrib) AS rrf, count(*) AS n_arms
         |FROM u GROUP BY doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 25""".stripMargin

  /** The tf + corpus-stats CTE pair shared by the BM25 oracles. */
  /** tf + corpus-stats CTE pair over a filtered corpus — `keep` is
    * the surviving-document predicate (TRUE for the full corpus; the
    * delete oracle passes the tombstone complement).
    */
  private def bm25TfStSqlKeep(keep: String): String =
    s"""tf AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> x = 'merge')) AS BIGINT) AS tf_0,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> x = 'window')) AS BIGINT) AS tf_1,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> x = 'spark')) AS BIGINT) AS tf_2
       |  FROM documents WHERE $keep),
       |st AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
       |    sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
       |    sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
       |    sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
       |  FROM tf)""".stripMargin

  private val bm25TfStSql: String = bm25TfStSqlKeep("TRUE")

  /** [[bm25TfStSql]] generalized: tf + corpus-stats CTE pair for an
    * arbitrary term list, suffixed so several queries share one WITH
    * clause (the x_bm25_many / x_hybrid_rrf_many oracles).
    */
  private def bm25TfStSqlFor(terms: Seq[String], sfx: String): String = {
    val tfCols = terms.zipWithIndex.map { case (tm, i) =>
      s"""CAST(len(list_filter(string_split(text, ' '),
         |      x -> x = '$tm')) AS BIGINT) AS tf_$i""".stripMargin }
      .mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i")
      .mkString(",\n    ")
    s"""tf$sfx AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM documents),
       |st$sfx AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
       |    $dfCols
       |  FROM tf$sfx)""".stripMargin
  }

  /** One query's ranked BM25 block over its suffixed tf/st CTEs. */
  private def bm25RankedSql(qid: Long, terms: Seq[String],
                            k: Int): String = {
    val sfx = s"_q$qid"
    val scoreExpr = terms.indices.map(bm25TermSql).mkString("\n  + ")
    val anyTf = terms.indices.map(i => s"tf_$i").mkString(" + ")
    s"""r$sfx AS (
       |  SELECT CAST($qid AS BIGINT) AS query_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id)
       |      AS BIGINT) AS rank,
       |    doc_id, score
       |  FROM (
       |    SELECT doc_id, $scoreExpr AS score
       |    FROM tf$sfx CROSS JOIN st$sfx
       |    WHERE $anyTf > 0
       |    ORDER BY score DESC, doc_id LIMIT $k))""".stripMargin
  }

  private lazy val bm25ManySql: String = {
    val ctes = Bm25ManyQueries.map { case (qid, ts) =>
      bm25TfStSqlFor(ts, s"_q$qid") + ",\n" +
        bm25RankedSql(qid, ts, 25)
    }.mkString(",\n")
    val sel = Bm25ManyQueries
      .map { case (qid, _) => s"SELECT * FROM r_q$qid" }
      .mkString("\n  UNION ALL ")
    s"""WITH $ctes
       |SELECT query_id, rank, doc_id, score FROM (
       |  $sel)
       |ORDER BY query_id, rank""".stripMargin
  }

  private lazy val retrievalEvalSql: String = {
    val ctes = Bm25ManyQueries.map { case (qid, ts) =>
      val sfx = s"_q$qid"
      val allTf = ts.indices.map(i => s"tf_$i > 0").mkString(" AND ")
      bm25TfStSqlFor(ts, sfx) + ",\n" +
        bm25RankedSql(qid, ts, 25) + ",\n" +
        s"""rel$sfx AS (SELECT doc_id FROM tf$sfx WHERE $allTf),
           |ev$sfx AS (
           |  SELECT CAST($qid AS BIGINT) AS query_id,
           |    (SELECT count(*) FROM rel$sfx) AS n_rel,
           |    count(rel.doc_id) AS hits_at_k,
           |    CAST(min(CASE WHEN rel.doc_id IS NOT NULL
           |      THEN r.rank END) AS BIGINT) AS first_rel_rank
           |  FROM r$sfx r
           |  LEFT JOIN rel$sfx rel ON r.doc_id = rel.doc_id)""".stripMargin
    }.mkString(",\n")
    val sel = Bm25ManyQueries
      .map { case (qid, _) => s"SELECT * FROM ev_q$qid" }
      .mkString("\n  UNION ALL ")
    s"""WITH $ctes
       |SELECT query_id, n_rel, hits_at_k, first_rel_rank FROM (
       |  $sel)
       |ORDER BY query_id""".stripMargin
  }

  private lazy val hybridRrfManySql: String = {
    val ctes = Bm25ManyQueries.map { case (qid, ts) =>
      val sfx = s"_q$qid"
      val scoreExpr = ts.indices.map(bm25TermSql).mkString("\n  + ")
      val anyTf = ts.indices.map(i => s"tf_$i").mkString(" + ")
      bm25TfStSqlFor(ts, sfx) + ",\n" +
        s"""sp$sfx AS (
           |  SELECT doc_id, $scoreExpr AS score
           |  FROM tf$sfx CROSS JOIN st$sfx
           |  WHERE $anyTf > 0
           |  ORDER BY score DESC, doc_id LIMIT 50),
           |sparse$sfx AS (
           |  SELECT doc_id,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS r
           |  FROM sp$sfx),
           |sc$sfx AS (
           |  SELECT b.vec_id AS vb, ${cosSql("a", "b")} AS cos
           |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |  WHERE a.vec_id = $qid
           |  ORDER BY cos DESC, vb LIMIT 50),
           |dense$sfx AS (
           |  SELECT vb AS doc_id,
           |    row_number() OVER (ORDER BY cos DESC, vb) AS r
           |  FROM sc$sfx),
           |f$sfx AS (
           |  SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
           |    sum(contrib) AS rrf, count(*) AS n_arms
           |  FROM (
           |    SELECT doc_id, 1.0 / (60 + r) AS contrib FROM sparse$sfx
           |    UNION ALL
           |    SELECT doc_id, 1.0 / (60 + r) FROM dense$sfx)
           |  GROUP BY doc_id
           |  ORDER BY rrf DESC, doc_id LIMIT 25)""".stripMargin
    }.mkString(",\n")
    val sel = Bm25ManyQueries
      .map { case (qid, _) => s"SELECT * FROM f_q$qid" }
      .mkString("\n  UNION ALL ")
    s"""WITH $ctes
       |SELECT query_id, doc_id, rrf, n_arms FROM (
       |  $sel)
       |ORDER BY query_id, rrf DESC, doc_id""".stripMargin
  }

  /** DuckDB left-fold cosine between two `embeddings` aliases — the
    * x_cosine_topk idiom, factored for reuse.
    */
  private def cosSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len($a.embedding) + 1),
       |        i -> CAST($a.embedding[i] AS DOUBLE) * $b.embedding[i])),
       |      (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(1, len($a.embedding) + 1),
       |          i -> CAST($a.embedding[i] AS DOUBLE) * $a.embedding[i])),
       |        (x, y) -> x + y))
       |      * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(range(1, len($b.embedding) + 1),
       |          i -> CAST($b.embedding[i] AS DOUBLE) * $b.embedding[i])),
       |        (x, y) -> x + y)))""".stripMargin

  /** The five greedy MMR steps unrolled as chained CTEs: pick i's
    * marginal value is `0.5·score − 0.5·max cos(·, picks_{i-1})` —
    * per-row IEEE arithmetic and exact maxes only, so the mirror is
    * bit-exact against the operator's driver-side greedy loop.
    */
  private val mmrSql: String = {
    val k = 5
    val steps = (2 to k).map { i =>
      s"""cand$i AS (
         |  SELECT s.id, s.score,
         |    0.5 * s.score - 0.5 * (
         |      SELECT max(pr.s) FROM pair pr
         |      WHERE pr.ia = s.id
         |        AND pr.ib IN (SELECT id FROM picks${i - 1})) AS v
         |  FROM short s
         |  WHERE s.id NOT IN (SELECT id FROM picks${i - 1})),
         |p$i AS (SELECT id, $i AS r, v FROM cand$i
         |        ORDER BY v DESC, id LIMIT 1),
         |picks$i AS (SELECT * FROM picks${i - 1}
         |            UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH sc AS (
       |  SELECT b.vec_id AS id, ${cosSql("a", "b")} AS score
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id = 1),
       |short AS (SELECT id, score FROM sc ORDER BY score DESC, id LIMIT 10),
       |pair AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib, ${cosSql("a", "b")} AS s
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id IN (SELECT id FROM short)
       |    AND b.vec_id IN (SELECT id FROM short)),
       |p1 AS (SELECT id, 1 AS r, score AS v FROM short
       |       ORDER BY score DESC, id LIMIT 1),
       |picks1 AS (SELECT * FROM p1),
       |$steps
       |SELECT id AS doc_id, r AS mmr_rank, v AS mmr_score
       |FROM picks$k ORDER BY mmr_rank""".stripMargin
  }

  /** Sparse signed hash-embed counts per (doc, bucket) + per-doc L2
    * norms — the shared front of both hash-embedding oracles. All
    * integer until the final sqrt/divide (correctly rounded in both
    * engines), so values hash-match bit-for-bit.
    */
  private def hashEmbedCtes: String =
    """sp AS (
      |  SELECT doc_id, f, CAST(sum(sgn) AS BIGINT) AS c FROM (
      |    SELECT doc_id, fp % 64 AS f,
      |      CASE WHEN (fp // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |    FROM (
      |      SELECT doc_id, list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(string_split(tok, ''),
      |            c -> CAST(unicode(c) AS BIGINT))),
      |        (h, c) -> (h * 31 + c) % 1000000007) AS fp
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |            FROM documents)
      |      WHERE tok <> ''))
      |  GROUP BY doc_id, f
      |), nrm AS (
      |  SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS norm
      |  FROM sp GROUP BY doc_id
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x_hash_embed" ->
      ("WITH " + hashEmbedCtes + """
        |SELECT sp.doc_id, f, CAST(c AS DOUBLE) / norm AS val
        |FROM sp JOIN nrm USING (doc_id) WHERE c <> 0
        |ORDER BY doc_id, f""".stripMargin),
    "x_text_ann" ->
      ("WITH " + hashEmbedCtes + """, qd AS (
        |  SELECT DISTINCT doc_id FROM documents WHERE doc_id % 19 = 0
        |), rd AS (
        |  SELECT DISTINCT doc_id FROM documents WHERE doc_id % 19 <> 0
        |), dots AS (
        |  SELECT a.doc_id AS qa, b.doc_id AS vb,
        |    CAST(sum(a.c * b.c) AS DOUBLE) AS d
        |  FROM sp a JOIN sp b ON a.f = b.f
        |  WHERE a.doc_id % 19 = 0 AND b.doc_id % 19 <> 0
        |  GROUP BY a.doc_id, b.doc_id
        |), scored AS (
        |  SELECT qd.doc_id AS qa, rd.doc_id AS vb,
        |    COALESCE(d, CAST(0 AS DOUBLE)) / (qn.norm * vn.norm) AS cos
        |  FROM qd CROSS JOIN rd
        |  LEFT JOIN dots ON dots.qa = qd.doc_id AND dots.vb = rd.doc_id
        |  JOIN nrm qn ON qn.doc_id = qd.doc_id
        |  JOIN nrm vn ON vn.doc_id = rd.doc_id
        |)
        |SELECT qa, CAST(row_number() OVER (PARTITION BY qa
        |    ORDER BY cos DESC, vb) AS INT) AS rank, vb, cos
        |FROM scored QUALIFY rank <= 5 ORDER BY qa, rank""".stripMargin),
    "x_mmr" -> mmrSql,
    "x_bm25" -> bm25TopSql,
    "x_bm25_indexed" -> bm25TopSql,
    "x_bm25_incremental" -> bm25TopSql,
    // the tombstoned index ≡ from-scratch BM25 over the survivors
    "x_bm25_delete" -> bm25TopSqlKeep("doc_id % 9 <> 0"),
    "x_bm25_many" -> bm25ManySql,
    "x_retrieval_eval" -> retrievalEvalSql,
    "x_hybrid_rrf" -> hybridRrfSql,
    "x_hybrid_rrf_indexed" -> hybridRrfSql,
    "x_hybrid_rrf_many" -> hybridRrfManySql,
    "x_cdc_windows" ->
      s"""WITH w AS (
         |${cdcWinsSql("documents")})
         |SELECT DISTINCT doc_id, win FROM w
         |ORDER BY doc_id, win""".stripMargin,
    "x_substring_dup" ->
      s"""WITH corpus AS (
         |$passageCorpusSql),
         |w AS (
         |${cdcWinsSql("corpus")}),
         |d AS (SELECT DISTINCT doc_id, win FROM w),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db, a.win
         |      FROM d a JOIN d b
         |        ON a.win = b.win AND a.doc_id < b.doc_id)
         |SELECT da, db, count(*) AS n_shared
         |FROM p GROUP BY da, db ORDER BY da, db""".stripMargin,
    "x_substring_incremental" ->
      s"""WITH corpus AS (
         |$passageCorpusSql),
         |fp AS (
         |  SELECT doc_id, unnest(list_transform(list_filter(
         |    generate_series(1, len(text) - 39),
         |    p -> ${polySql("substr(text, CAST(p AS INT), 8)")} % 16 = 0),
         |    p -> ${polySql("substr(text, CAST(p AS INT), 40)")})) AS fp
         |  FROM corpus),
         |d AS (SELECT DISTINCT doc_id, fp FROM fp),
         |hist AS (SELECT DISTINCT fp FROM d WHERE doc_id < 400)
         |SELECT b.doc_id, count(*) AS n_shared
         |FROM d b JOIN hist h ON b.fp = h.fp
         |WHERE b.doc_id >= 400
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    // retraction ≡ the incremental count over exactly the SURVIVING
    // history (retracted docs' windows suppress nothing)
    "x_substring_delete" ->
      s"""WITH corpus AS (
         |$passageCorpusSql),
         |fp AS (
         |  SELECT doc_id, unnest(list_transform(list_filter(
         |    generate_series(1, len(text) - 39),
         |    p -> ${polySql("substr(text, CAST(p AS INT), 8)")} % 16 = 0),
         |    p -> ${polySql("substr(text, CAST(p AS INT), 40)")})) AS fp
         |  FROM corpus),
         |d AS (SELECT DISTINCT doc_id, fp FROM fp),
         |hist AS (SELECT DISTINCT fp FROM d
         |  WHERE doc_id < 400
         |    AND NOT (doc_id % 11 = 0 AND doc_id % 3 = 2))
         |SELECT b.doc_id, count(*) AS n_shared
         |FROM d b JOIN hist h ON b.fp = h.fp
         |WHERE b.doc_id >= 400
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "x_retract_deadline" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id < 400 AND doc_id % 7 = 2
        |ORDER BY doc_id""".stripMargin,
    "x_hybrid_rrf_err" ->
      """SELECT CAST(0 AS BIGINT) AS hits, CAST(0 AS BIGINT) AS n_exact
        |WHERE 1 = 0""".stripMargin,
    "x_substring_reconcile" ->
      s"""WITH RECURSIVE corpus AS (
         |$passageCorpusSql),
         |fp AS (
         |  SELECT doc_id, unnest(list_transform(list_filter(
         |    generate_series(1, len(text) - 39),
         |    p -> ${polySql("substr(text, CAST(p AS INT), 8)")} % 16 = 0),
         |    p -> ${polySql("substr(text, CAST(p AS INT), 40)")})) AS fp
         |  FROM corpus),
         |d AS (SELECT DISTINCT doc_id, fp FROM fp),
         |p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |      FROM d x JOIN d y ON x.fp = y.fp AND x.doc_id < y.doc_id),
         |sym AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
         |reach(id, r) AS (
         |  SELECT DISTINCT a AS id, a AS r FROM sym
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
         |)
         |SELECT id AS doc_id, min(r) AS cluster, (id = min(r)) AS keep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "x_substring_scrub" ->
      s"""WITH corpus AS (
         |$passageCorpusSql),
         |ap AS (
         |  SELECT doc_id, text,
         |    unnest(list_filter(generate_series(1, len(text) - 39),
         |      p -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(string_split(substr(text, CAST(p AS INT), 8), ''),
         |               c -> CAST(unicode(c) AS BIGINT))),
         |             (h, c) -> (h * 31 + c) % 1000000007) % 16 = 0)) AS p
         |  FROM corpus),
         |w AS (SELECT doc_id, p,
         |        substr(text, CAST(p AS INT), 40) AS win FROM ap),
         |shared AS (
         |  SELECT win, min(doc_id) AS keeper
         |  FROM (SELECT DISTINCT doc_id, win FROM w) dw
         |  GROUP BY win HAVING count(*) >= 2),
         |spans AS (
         |  SELECT DISTINCT w.doc_id, w.p
         |  FROM w JOIN shared ON w.win = shared.win
         |  WHERE w.doc_id <> shared.keeper),
         |chars AS (
         |  SELECT doc_id,
         |    CAST(generate_subscripts(string_split(text, ''), 1)
         |      AS BIGINT) AS cp,
         |    unnest(string_split(text, '')) AS c
         |  FROM corpus),
         |uncovered AS (
         |  SELECT c.doc_id, c.cp, c.c
         |  FROM chars c
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = c.doc_id
         |      AND c.cp >= s.p AND c.cp < s.p + 40)),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(c, '' ORDER BY cp) AS text
         |  FROM uncovered GROUP BY doc_id)
         |SELECT corpus.doc_id, coalesce(r.text, '') AS text
         |FROM corpus LEFT JOIN rebuilt r ON corpus.doc_id = r.doc_id
         |ORDER BY corpus.doc_id""".stripMargin,
    "x_normal_eq" -> normalEqSql,
    "x_pagerank" -> pageRankSql,
    // cold rebuild over survivors ≡ the unrolled 5-round iteration
    // with the retracted nations' edges gone
    "x_pagerank_delete" -> pageRankSqlOver(
      s"""e AS (
         |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN customer ON o_custkey = c_custkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE l_quantity <= 2 AND c_nationkey <> s_nationkey
         |    AND c_nationkey NOT IN (3, 19)
         |    AND s_nationkey NOT IN (3, 19))""".stripMargin,
      "nationkey"),
    "x_hits" -> hitsSql,
    "x_random_walks" -> randomWalksSql,
    "x_walk_skipgrams" -> walkSkipgramsSql,
    "x_neg_samples" -> negSamplesSql,
    "x_node2vec" -> node2vecSql,
    "x_closeness" -> closenessSql,
    "x_closeness_landmark" -> closenessLandmarkSql,
    "x_landmark_dist" -> landmarkDistSql,
    "x_landmark_incremental" -> landmarkIncSql,
    "x_closeness_incremental" -> closenessIncSql,
    // rebuild-on-retract ≡ the depth-bounded BFS CTE over surviving
    // chain edges from the surviving frozen pivots (landmark 3 is
    // itself retracted — its column vanishes)
    "x_landmark_delete" ->
      """WITH RECURSIVE ed AS (
        |  SELECT event_id AS a,
        |    lead(event_id) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b
        |  FROM events
        |  QUALIFY b IS NOT NULL
        |), kept AS (
        |  SELECT a, b FROM ed WHERE a % 13 <> 3 AND b % 13 <> 3
        |), sym AS (
        |  SELECT a AS src, b AS dst FROM kept
        |  UNION SELECT b AS src, a AS dst FROM kept
        |), lms AS (
        |  SELECT id AS lm FROM (
        |    SELECT a AS id FROM ed UNION SELECT b FROM ed)
        |  ORDER BY id LIMIT 4
        |), surv AS (
        |  SELECT lm FROM lms WHERE lm % 13 <> 3
        |), walk(id, lm, dist) AS (
        |  SELECT lm AS id, lm, 0 FROM surv
        |  UNION
        |  SELECT sym.dst, w.lm, w.dist + 1
        |  FROM walk w JOIN sym ON w.id = sym.src
        |  WHERE w.dist < 6)
        |SELECT id, lm, CAST(min(dist) AS INTEGER) AS dist
        |FROM walk GROUP BY id, lm
        |ORDER BY lm, dist, id""".stripMargin,
    "x_scc" -> sccSql,
    "x_scc_levels" -> sccLevelsSql,
    // warm ≡ cold: the incremental store's final assignment is checked
    // against the SAME ground-truth closure over the union graph
    "x_scc_incremental" -> sccSql,
    // store-backed levels ≡ the from-scratch DAG-path oracle
    "x_scc_levels_incremental" -> sccLevelsSql,
    // rebuild-on-retract ≡ ground truth over the surviving universe
    // (the deletion SPLITS the nontrivial SCC — the non-monotone case)
    "x_scc_delete" -> (sccCoreSqlKeep("NODE NOT IN (3, 19)") + s"""
       |SELECT CAST(id AS BIGINT) AS id, CAST(scc AS BIGINT) AS scc
       |FROM sccmap ORDER BY id""".stripMargin),
    "x_pagerank_warm" -> pageRankWarmSql,
    "x_hits_warm" -> hitsWarmSql,
    "x_louvain" -> louvainSql,
    "x_louvain2" -> louvain2Sql,
    "x_louvain_warm" -> louvainWarmSql,
    "x_modularity" -> modularitySql,
    "x_modularity_drift" -> modularityDriftSql,
    "x_source_authority" -> sourceAuthoritySql)
}
