package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rank-fusion operators for hybrid retrieval — combining a sparse
  * (BM25, [[TextAnalysis.bm25TopK]]) and a dense
  * ([[Similarity.bruteForceTopK]] / the ANN paths) arm into one ranked
  * list, the standard production shape for retrieval over a curated
  * corpus.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009): each arm is
    * a ranked list with columns `(id, rank)` (rank 1-based);
    * `score(id) = Σ_arms 1 / (c + rank)`, missing-arm contributions 0.
    * Returns `(id, rrf, n_arms)` ordered by score desc (id tiebreak),
    * limited to `k`.
    *
    * Determinism: each contribution is a pure per-row IEEE-double
    * division and double addition is commutative, so with ≤ 2 arms the
    * fused score is bit-reproducible on any engine regardless of
    * aggregation order; 3+ arms are order-dependent at the last ulp —
    * keep cross-engine hash checks at 2 arms (ranking-agreement specs
    * can cover more).
    *
    * Scale: arms are top-k lists — bounded by construction, never
    * data-sized — so the union/aggregate is a k-row job regardless of
    * corpus size; the heavy lifting happened inside the arms.
    */
  def rrfFuse(arms: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse: need at least one arm")
    arms.map(_.select(col("id"),
        (lit(1.0) / (col("rank").cast("double") + lit(c.toDouble)))
          .as("contrib")))
      .reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("rrf"), count(lit(1)).as("n_arms"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998) of a retrieval SHORTLIST: greedily pick the candidate
    * maximizing `λ·score − (1−λ)·max_{s∈selected} cos(vec, vec_s)` —
    * relevance traded against redundancy with what is already picked.
    *
    * `candidates` is `(id, score, vec)` — a top-m shortlist from an
    * upstream arm ([[rrfFuse]], the ANN paths), NEVER a corpus: the
    * greedy argmax is inherently sequential, so the shortlist is
    * collected (bounded O(m·dim) driver traffic — the adjudicated
    * bounded-collect class; `maxShortlist` guards the contract) and
    * re-ranked locally. Deterministic: left-fold double cosine, ties
    * broken by min id. Returns `(id, mmr_rank, mmr_score)`.
    */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double = 0.5,
                maxShortlist: Int = 10000): DataFrame = {
    val spark = candidates.sparkSession
    val rows = candidates
      .select(col("id").cast("long"), col("score").cast("double"),
        col("vec"))
      .limit(maxShortlist + 1).collect()
    require(rows.length <= maxShortlist,
      s"mmrRerank: shortlist exceeds maxShortlist=$maxShortlist — " +
        "re-rank a top-m shortlist, not a corpus")
    import spark.implicits._
    mmrLocal(rows.map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Any](2))), k, lambda)
      .toDF("id", "mmr_rank", "mmr_score")
  }

  /** Persist a corpus's BM25 artifacts as an INVERTED INDEX:
    *
    *   - `postings/`  (th, term, id, tf) range-clustered by
    *     th = xxhash64(term), with a footer manifest — a query's
    *     store scan OPENS only the files its own terms' hashes can
    *     live in, then row-filters on the exact term (hash collisions
    *     only cost reading, never correctness);
    *   - `doclen/`    (id, dl) id-clustered + manifest — fetched only
    *     for candidate docs;
    *   - `stats/`     one (n_docs, sum_dl) row.
    *
    * This is the structural fix for full-scan BM25 at corpus scale:
    * [[TextAnalysis.bm25Scores]] re-reads and re-tokenizes 100 TB of
    * text PER QUERY; through the index a query touches
    * O(Σ postings of its terms) — the classic inverted-file bound —
    * plus a candidate-pruned doclen fetch. Tokenization is
    * [[TextAnalysis.tokens]] exactly, so tf/df/dl agree with the
    * full-scan path token for token.
    */
  /** One ingest's postings/doclen/stats written under `batch=<id>` in
    * each artifact dir with mode Overwrite — the gate-store protocol:
    * a crashed write leaves an uncommitted dir readers ignore, and a
    * RETRY of the same batch id overwrites it identically instead of
    * double-appending postings or double-folding stats.
    */
  private def writeBm25Batch(df: DataFrame, id: Column, text: Column,
                             indexDir: String, batchId: Long,
                             filesOut: Int): Unit = {
    df.select(id.as("id"), explode(TextAnalysis.tokens(text)).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(xxhash64(col("term")).as("th"), col("term"), col("id"),
        col("tf"))
      .repartitionByRange(filesOut, col("th"))
      .sortWithinPartitions(col("th"), col("term"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexDir/postings/batch=$batchId")
    val doclen = df.select(id.as("id"),
      size(TextAnalysis.tokens(text)).cast("long").as("dl"))
    doclen
      .repartitionByRange(math.max(1, filesOut / 2), col("id"))
      .sortWithinPartitions(col("id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexDir/doclen/batch=$batchId")
    // per-batch stats row; the GLOBAL (n_docs, sum_dl) is derived by
    // folding committed batch rows at read time ([[bm25IndexStats]]) —
    // no read-modify-overwrite step exists to race or double-fold
    bm25Stats(indexDir).append(df.sparkSession, "writeBm25Batch(batch)",
        batchId, 1)(
      doclen.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl")))
  }

  def writeBm25Index(df: DataFrame, id: Column, text: Column,
                     indexDir: String, filesOut: Int = 16): Unit =
    Stats.withWriterLease(df.sparkSession, Seq(indexDir),
        "writeBm25Index(batch)") {
    writeBm25Batch(df, id, text, indexDir, batchId = 0L, filesOut)
    for (art <- Seq("postings", "doclen"))
      Stats.writeManifest(df.sparkSession, s"$indexDir/$art",
        s"$indexDir/${art}_manifest")
  }

  /** Append a NEW batch of documents to an existing BM25 index (the
    * continuous-ingestion write path): postings, doc lengths, and the
    * batch's (n_docs, sum_dl) stats row land in `batch=<batchId>` dirs
    * with mode Overwrite, and each manifest writes the slice of its
    * own new batch dir only ([[Stats.upsertManifestFor]]) — each
    * step is overwrite-idempotent, so a crash mid-append (or a retried
    * batch) can never double-append postings or double-fold stats;
    * history is never re-read or re-tokenized. `batchId` must be
    * strictly greater than every previously appended id (the gate
    * stores' monotone-id contract). Batch doc ids must be new (an id
    * re-ingest would double-count its postings — upstream exact-dedup
    * owns that invariant, as with every incremental store here). After
    * the append, [[bm25TopKIndexed]] answers over the UNION corpus
    * exactly (driver-checked: x_bm25_incremental shares the
    * full-corpus oracle).
    */
  def appendBm25Index(df: DataFrame, id: Column, text: Column,
                      indexDir: String, batchId: Long,
                      filesOut: Int = 4): Unit =
    bm25Stats(indexDir).appending(df.sparkSession, batchId,
        "appendBm25Index") {
    writeBm25Batch(df, id, text, indexDir, batchId, filesOut)
    for (art <- Seq("postings", "doclen"))
      Stats.upsertManifestFor(df.sparkSession, s"$indexDir/$art",
        s"$indexDir/${art}_manifest", s"$indexDir/$art/batch=$batchId")
  }

  /** TOMBSTONE deletes for the BM25 index — the takedown /
    * right-to-be-forgotten path: the doc ids land in a
    * `deleted/batch=<id>` set the scoring paths anti-join (postings
    * slices filter BEFORE df recovery, so per-term df is the
    * SURVIVING count), and one NEGATIVE stats row (−n_docs, −Σdl,
    * derived from the doclen store by a manifest-pruned id fetch)
    * folds the global (n_docs, sum_dl) back to the surviving corpus —
    * the additive-stats protocol absorbs retraction with no
    * read-modify-overwrite. Already-deleted ids are skipped (a
    * double-delete must not double-subtract), so the call is
    * idempotent at the SEMANTIC level on top of the per-batch
    * overwrite idempotence. `batchId` shares the index's monotone
    * sequence: it must exceed every previously appended OR deleted
    * batch (both write a stats row — guarded by the stats store's
    * [[KeyedStore.appending]]). Deletions apply at read time
    * until [[compactBm25Index]] drops the rows physically.
    *
    * A tombstoned doc id is UNREINSTATABLE: the read-time filter is
    * not batch-aware (it hides every posting of a deleted id,
    * whenever appended), so re-ingesting a deleted id would hide the
    * new postings while their `+n_docs`/`+sum_dl` stats row still
    * counts them — skewing scores until compaction drops the re-added
    * rows too. Unlike the PQ store (where a re-add wins by batch id),
    * delete here is forever; route revived docs through a NEW id
    * (upstream exact-dedup already owns id uniqueness).
    */
  def deleteBm25Docs(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String, ids: DataFrame,
                     batchId: Long, filesOut: Int = 1): Unit =
    bm25Stats(indexDir).appending(spark, batchId, "deleteBm25Docs") {
    // the tombstone set FIRST, the stats correction second: the
    // correction is derived from exactly the fresh set, and a retry
    // (same batchId) recomputes the same set because the prior view
    // reads only batches < batchId
    val fresh = bm25Tombstones(indexDir).writeFresh(spark,
      "deleteBm25Docs", batchId, parts = filesOut)(ids)
    bm25Stats(indexDir).append(spark, "deleteBm25Docs(batch)", batchId, 1)(
      indexTouched(spark, indexDir, "doclen", "id", fresh)
        .join(fresh, Seq("id"), "left_semi")
        .agg((-count(lit(1))).as("n_docs"),
          (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl")))
  }

  /** The index's tombstoned doc ids, `deleted/` (an index that has
    * never seen a delete pays one existence check per read, no join).
    */
  private def bm25Tombstones(indexDir: String): KeyedStore =
    KeyedStore.tombstones(indexDir, "/deleted", "bm25DeletedIds")

  /** The index's additive stats store, `stats/`: one keyless
    * (n_docs, sum_dl) row per append or delete, summed at read time;
    * leased on the index root. Its newest token is the index's
    * monotone sequence head (it sees every append AND delete).
    */
  private[graft] def bm25Stats(indexDir: String): KeyedStore =
    KeyedStore(s"$indexDir/stats", "bm25IndexStats", Nil,
      Seq("n_docs" -> "bigint", "sum_dl" -> "bigint"), KeyedStore.Sum,
      manifest = false, leaseRoot = indexDir)

  /** Fold accumulated postings/doclen batch appends into ONE clustered
    * generation each (`gen=<maxBatchId>`, the
    * [[graft.operators.Stats.compactCommittedStore]] OPTIMIZE cycle)
    * and refresh both manifests. This is what keeps the th-range
    * clustering sharp under nightly ingest: every append spans the
    * full th range, so per-term file pruning degrades linearly with
    * batch count until the fold rewrites the view as `filesOut`
    * th-clustered files (doclen: id-clustered). Stats batch rows are
    * left untouched — they are the additive doc-count source, one tiny
    * row per batch, and the global fold happens at read time. Returns
    * the new generation token, or None when there was nothing to fold.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, filesOut: Int = 16)
      : Option[Long] =
    Stats.withWriterLease(spark, Seq(indexDir),
        "compactBm25Index(batch)") {
    // tombstoned docs drop PHYSICALLY here: the folded generations
    // hold surviving rows only, and the tombstone set is then cleared
    // (its corrections live on in the additive stats rows, which never
    // compact)
    val Seq(tok, _) = bm25Tombstones(indexDir).foldWithout(spark,
      "compactBm25Index", Seq(
        (s"$indexDir/postings", Seq("id"),
          _.select(col("th"), col("term"), col("id"), col("tf"))
            .repartitionByRange(filesOut, col("th"))
            .sortWithinPartitions(col("th"), col("term"))),
        (s"$indexDir/doclen", Seq("id"),
          _.select(col("id"), col("dl"))
            .repartitionByRange(math.max(1, filesOut / 2), col("id"))
            .sortWithinPartitions(col("id")))))
    if (tok.isDefined)
      for (art <- Seq("postings", "doclen"))
        Stats.refreshManifest(spark, s"$indexDir/$art",
          s"$indexDir/${art}_manifest")
    tok
  }

  /** The index's global (n_docs, sum_dl) — committed per-batch stats
    * rows folded additively at read time (batch-count-sized, never
    * corpus-sized).
    */
  private def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String): DataFrame =
    bm25Stats(indexDir).current(spark)

  /** The committed view of one index artifact (`postings` keyed on
    * th, `doclen` on id), opening only the files `probes` can live in
    * ([[Stats.readTouched]]).
    */
  private def indexTouched(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, artifact: String, key: String,
                           probes: DataFrame): DataFrame =
    Stats.readTouched(spark,
      Stats.committedViewDirs(spark, s"$indexDir/$artifact"),
      s"$indexDir/${artifact}_manifest", Seq(key), probes)

  /** [[TextAnalysis.bm25TopK]] answered FROM the persisted index —
    * bit-identical results (shared [[TextAnalysis.bm25ScoreExpr]]
    * expression tree, same df/tf/dl integers, same (score desc, id)
    * cut), but the corpus is never touched: the postings scan is
    * manifest-pruned to the query terms' hash files, per-term df is
    * recovered from the slice itself (the slice holds EVERY posting of
    * a matched term), and doc lengths are fetched manifest-pruned for
    * candidates only. Per-query cost is postings-of-terms, not corpus.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, queryTerms: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      idfMode: String = "rational"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    import spark.implicits._
    val idx = queryTerms.indices
    val probe = queryTerms.toDF("term")
      .select(xxhash64(col("term")).as("th"))
    // tombstoned docs drop BEFORE the df recovery below, so per-term
    // df is the SURVIVING document count
    val slice = Checkpoints.stage(bm25Tombstones(indexDir).without(spark,
      indexTouched(spark, indexDir, "postings", "th", probe)
        .where(col("term").isin(queryTerms: _*))
        .select(col("term"), col("id"), col("tf"))))
    val dfAggs = idx.map(i =>
      sum(when(col("term") === queryTerms(i), 1L).otherwise(0L))
        .as(s"df_$i"))
    val dfsRow = slice.agg(dfAggs.head, dfAggs.tail: _*)
    val tfAggs = idx.map(i =>
      coalesce(max(when(col("term") === queryTerms(i), col("tf"))),
        lit(0L)).as(s"tf_$i"))
    val tfs = slice.groupBy(col("id")).agg(tfAggs.head, tfAggs.tail: _*)
    val dl = indexTouched(spark, indexDir, "doclen", "id",
        tfs.select(col("id")))
      .select(col("id"), col("dl"))
    val consts = broadcast(
      bm25IndexStats(spark, indexDir).crossJoin(dfsRow))
    tfs.join(dl, Seq("id"))
      .crossJoin(consts)
      .select(col("id") +: idx.map(i => col(s"tf_$i")) :+ col("dl") :+
        TextAnalysis.bm25ScoreExpr(idx, k1, b, idfMode).as("score"): _*)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** SET-ORIENTED [[bm25TopKIndexed]]: score a whole batch of queries
    * against the index in ONE pass — the retrieval-eval / batch
    * re-ranking shape (10⁴ queries × corpus), where looping the
    * single-query form on the driver would pay manifest prune + stats
    * read + two jobs PER query.
    *
    * `queries` is (query_id, pos, term) — pos is the term's 0-based
    * position within its query, the order the single-query path would
    * receive the terms in. One manifest prune serves the UNION of all
    * query terms; per-term df aggregates off the slice once; candidate
    * (query, doc) pairs form by joining query terms into the slice
    * (bounded by Σ_q postings-of-terms(q), never |queries| × corpus);
    * doc lengths fetch manifest-pruned for candidate docs only; and
    * the per-query cut is a bounded-buffer top-k aggregate
    * ([[graft.functions.TopKPairsAggregator]]) — map-side partials, no
    * per-query sort window.
    *
    * Scores are BIT-IDENTICAL to [[bm25TopKIndexed]] run per query:
    * each term's contribution is the SAME single-term expression tree
    * ([[TextAnalysis.bm25ScoreExpr]] at index 0), and the per-doc
    * total left-folds the contributions in pos order from 0.0 — IEEE
    * addition of +0.0 is exact identity and absent terms contribute
    * exactly +0.0, so dropping them from the fold changes no bits
    * (x_bm25_many shares the per-query oracle arithmetic verbatim).
    * The pos-ordered fold runs over collect_list arrays bounded by the
    * query's term count — interpreted HOF cost on k-terms-sized data,
    * not corpus-sized.
    *
    * Returns (query_id, rank, id, score), rank 1-based per query by
    * (score desc, id asc).
    */
  def bm25TopKIndexedMany(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String, queries: DataFrame, k: Int,
                          k1: Double = 1.2, b: Double = 0.75,
                          idfMode: String = "rational"): DataFrame = {
    val q = Checkpoints.stage(queries.select(col("query_id"),
      col("pos").cast("int").as("pos"), col("term")))
    val terms = q.select(col("term")).distinct()
    val probe = terms.select(xxhash64(col("term")).as("th"))
    val slice = Checkpoints.stage(bm25Tombstones(indexDir).without(spark,
      indexTouched(spark, indexDir, "postings", "th", probe)
        .join(broadcast(terms), Seq("term"), "left_semi")
        .select(col("term"), col("id"), col("tf").as("tf_0"))))
    // postings are unique per (id, term), so rows-per-term = docs
    // containing the term — the same df the single-query agg derives
    val dfs = slice.groupBy(col("term"))
      .agg(count(lit(1)).as("df_0"))
    val dl = indexTouched(spark, indexDir, "doclen", "id",
        slice.select(col("id")).distinct())
      .select(col("id"), col("dl"))
    val stats = broadcast(bm25IndexStats(spark, indexDir))
    val contrib = TextAnalysis.bm25ScoreExpr(Seq(0), k1, b, idfMode)
    val perDoc = q.join(slice, Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(stats)
      .select(col("query_id"), col("id"),
        struct(col("pos"), contrib.as("c")).as("pc"))
      .groupBy(col("query_id"), col("id"))
      .agg(aggregate(sort_array(collect_list(col("pc"))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("score"))
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long)]())
    perDoc
      .groupBy(col("query_id"))
      .agg(topk(col("score"), col("id").cast("long")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("id"), col("col._1").as("score"))
  }

  /** SET-ORIENTED [[mmrRerank]]: re-rank MANY per-query shortlists in
    * one call. Candidates carry (query_id, id, score, vec); each
    * query's shortlist is greedily re-ranked exactly as the
    * single-query path (the shared [[mmrLocal]] core — same fold
    * arithmetic, same min-id tiebreak — and the result is
    * permutation-invariant: ties break on id, not arrival order), so
    * per-query results are identical. The greedy argmax is inherently
    * sequential PER QUERY, but queries are independent: shortlists are
    * shuffled to executors by query_id and re-ranked there in
    * parallel — NOTHING is collected to the driver, so total traffic
    * scales with the cluster, not the driver heap. Each group's buffer
    * is counted against `maxShortlist` WHILE buffering and fails loud
    * before materializing an oversized group (shortlists come from
    * top-m arms, never corpora). Returns
    * (query_id, id, mmr_rank, mmr_score).
    */
  def mmrRerankMany(candidates: DataFrame, k: Int,
                    lambda: Double = 0.5,
                    maxShortlist: Int = 10000): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates
      .select(col("query_id").cast("long"), col("id").cast("long"),
        col("score").cast("double"),
        col("vec").cast("array<double>").as("vec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long,
                        it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        val buf =
          new scala.collection.mutable.ArrayBuffer[(Long, Double, Seq[Any])]
        while (it.hasNext) {
          val r = it.next()
          require(buf.length < maxShortlist,
            s"mmrRerankMany: query $qid shortlist exceeds " +
              s"maxShortlist=$maxShortlist — re-rank top-m shortlists, " +
              "not corpora")
          buf += ((r._2, r._3, r._4))
        }
        mmrLocal(buf.toArray, k, lambda).iterator.map {
          case (id, rk, sc) => (qid, id, rk, sc)
        }
      }
      .toDF("query_id", "id", "mmr_rank", "mmr_score")
  }

  /** The sequential greedy MMR core over one collected shortlist —
    * shared verbatim by [[mmrRerank]] and [[mmrRerankMany]] so the two
    * cannot diverge.
    */
  private def mmrLocal(rows: Array[(Long, Double, Seq[Any])], k: Int,
                       lambda: Double): Seq[(Long, Int, Double)] = {
    val ids = rows.map(_._1)
    val scores = rows.map(_._2)
    val vecs = rows.map(_._3.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norms = vecs.map(v => math.sqrt(dot(v, v)))
    def cos(i: Int, j: Int): Double =
      if (norms(i) == 0.0 || norms(j) == 0.0) 0.0
      else dot(vecs(i), vecs(j)) / (norms(i) * norms(j))
    val n = ids.length
    val picked = new scala.collection.mutable.ArrayBuffer[(Long, Int, Double)]
    // -inf, not 0: the true max cosine to the selected set can be
    // negative, and clipping it at 0 would silently under-penalize
    // (the first pick never reads maxSim, and every entry is
    // overwritten by a real cosine right after it)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val used = Array.fill(n)(false)
    var round = 0
    while (round < math.min(k, n)) {
      var best = -1; var bestVal = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!used(i)) {
          val v =
            if (round == 0) scores(i)
            else lambda * scores(i) - (1.0 - lambda) * maxSim(i)
          if (v > bestVal || (v == bestVal && best >= 0 &&
              ids(i) < ids(best))) {
            best = i; bestVal = v
          }
        }
        i += 1
      }
      used(best) = true
      picked += ((ids(best), round + 1, bestVal))
      var j = 0
      while (j < n) {
        if (!used(j)) {
          val c = cos(best, j)
          if (c > maxSim(j)) maxSim(j) = c
        }
        j += 1
      }
      round += 1
    }
    picked.toSeq
  }

  /** Batch retrieval evaluation against a relevance-judgment table —
    * the standard index-quality regression check (run the eval query
    * set through [[bm25TopKIndexedMany]] nightly, alarm when a
    * metric drops). `results` is (query_id, rank, id) ranked lists;
    * `qrels` is (query_id, id) relevant pairs. Returns one row per
    * JUDGED query: (query_id, n_rel, hits_at_k, first_rel_rank) —
    * recall@k = hits_at_k / n_rel and MRR's reciprocal rank =
    * 1 / first_rel_rank are one division away, kept integer here so
    * the whole surface is exact and oracle-hashable (no float means
    * over queries inside the operator).
    *
    * Scale: two map-side-combined aggregates and one (query_id, id)
    * hash join bounded by k·|queries| result rows — never corpus-
    * sized; queries with no relevant docs retrieved keep hits_at_k = 0
    * and a null first_rel_rank (absent ≠ zero).
    */
  def retrievalEval(results: DataFrame, qrels: DataFrame,
                    k: Int): DataFrame = {
    val r = results.where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"))
    val rel = qrels.select(col("query_id"), col("id")).distinct()
    val nRel = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val hits = r.join(rel, Seq("query_id", "id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("hits_at_k"),
        min(col("rank")).as("first_rel_rank"))
    nRel.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        col("first_rel_rank"))
  }

  /** Per-query [[rrfFuse]]: arms carry (query_id, id, rank) and fuse
    * per (query_id, id); the per-query top-k cut rides the same
    * bounded-buffer aggregate as [[bm25TopKIndexedMany]]. n_arms is
    * recovered by re-joining the fused winners back to the k-row
    * contribution union (bounded both sides). Returns (query_id, id,
    * rrf, n_arms).
    */
  def rrfFuseMany(arms: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuseMany: need at least one arm")
    val contribs = arms.map(_.select(col("query_id"), col("id"),
        (lit(1.0) / (col("rank").cast("double") + lit(c.toDouble)))
          .as("contrib")))
      .reduce(_ unionByName _)
    // staged: the winners' n_arms lookup below re-reads this table,
    // and without the cut the whole arm subtree would recompute for
    // it. Bounded by construction — arms are top-k lists, so the
    // fused table holds ≤ k·|arms| rows per query.
    val fused = Checkpoints.stage(contribs
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("contrib")).as("rrf"), count(lit(1)).as("n_arms")))
    val topk = udaf(new graft.functions.TopKPairsAggregator(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long)]())
    fused
      .groupBy(col("query_id"))
      .agg(topk(col("rrf"), col("id").cast("long")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e._2").as("id"),
        col("e._1").as("rrf"))
      .join(fused.select(col("query_id"), col("id"),
        col("n_arms")), Seq("query_id", "id"))
  }
}
