package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Algorithms (public literature): sign-random-projection LSH per
  * Charikar (STOC 2002) / Gionis-Indyk-Motwani (VLDB 1999) with
  * multiprobe per Lv et al., "Multi-probe LSH" (VLDB 2007); the IVF
  * coarse-quantizer probe structure follows Jégou, Douze & Schmid,
  * "Product quantization for nearest neighbor search" (TPAMI 2011,
  * IVF part — no PQ compression here).
  *
  * Two tiers, as a 100 TB pipeline needs:
  *  - `bruteForceTopK` — exact cosine top-k. The corpus side streams
  *    (narrow scan), the query side broadcasts; per-partition top-k via
  *    window. Right answer when queries are few or recall must be 1.0.
  *  - `lshTopK` — sign-random-projection LSH: bucket both sides on
  *    hyperplane sign bits (an equality join on a small key), rank only
  *    within buckets across L tables. Turns the O(|Q|·|C|) score matrix
  *    into O(collisions); the standard scale path when |Q| is large.
  */
object Similarity {

  /** Exact top-k by cosine: broadcast the (small) query side, score every
    * corpus row, keep k per query with a deterministic tie-break.
    * The window's partial `WindowGroupLimit` keeps per-partition state at
    * k rows, so nothing near the corpus size is ever sorted globally.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms precomputed ONCE per side — cosine per pair is then a single
    // dot + one divide, not three dots (same arithmetic per pair, so
    // results stay bit-identical: dot / (sqrt(qq) * sqrt(cc)))
    val q = broadcast(queries.select(col("id").as("qa"), col("vec").as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    // spread the |Q|×|C| scoring across the session parallelism — a
    // small parquet corpus otherwise streams through the broadcast join
    // as a single task (see bruteForcePairs)
    val parallelism = corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val c = corpus.select(col("id").as("vb"), col("vec").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
      .repartition(parallelism)
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    val denom = col("qn") * col("cn")
    q.join(c, col("qa") =!= col("vb"))
      .select(col("qa"), col("vb"),
        when(denom =!= 0.0, dot(col("qv"), col("cv")) / denom).as("cos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .drop("qv", "cv", "qn", "cn")
  }

  /** Exact all-pairs near-duplicate detection: every (a < b) pair with
    * cosine ≥ threshold. Quadratic — the oracle-checkable ground truth
    * for the LSH-bucketed [[Dedup.embeddingNearDup]]; at 100 TB only the
    * bucketed form runs, with this as the verifier on samples.
    */
  def bruteForcePairs(embs: DataFrame, threshold: Double): DataFrame = {
    val a = embs.select(col("id").as("id_a"), col("vec").as("va"))
      .withColumn("na", l2Norm(col("va")))
    // The broadcast-nested-loop stream side inherits the input's file
    // partitioning — a small parquet arrives as ONE partition, so the
    // O(n²) scoring would run in one task. Spread it across the
    // session's shuffle parallelism (explicit numPartitions: AQE leaves
    // user-specified repartition counts alone).
    val parallelism = embs.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val b = embs.select(col("id").as("id_b"), col("vec").as("vb_"))
      .withColumn("nb", l2Norm(col("vb_")))
      .repartition(parallelism)
    val denom = col("na") * col("nb")
    broadcast(a).join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(denom =!= 0.0, dot(col("va"), col("vb_")) / denom).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Deterministic hyperplanes: `planes` × dim gaussians from a fixed
    * seed, shipped as a literal (they're tiny).
    */
  private def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** The flat hyperplane matrix SignBucketsVec evaluates against,
    * laid out `(t * planes + p) * dim + i`. Public so the DuckDB
    * oracle can embed the exact same coefficients as SQL literals
    * (Double.toString round-trips, so both engines see identical
    * doubles).
    */
  def planeMatrix(planes: Int, tables: Int, dim: Int,
                  seedBase: Long = 42L): Array[Double] = {
    val flat = new Array[Double](tables * planes * dim)
    for (t <- 0 until tables) {
      val hp = hyperplanes(planes, dim, seedBase + t * 1000)
      for (p <- 0 until planes; i <- 0 until dim)
        flat((t * planes + p) * dim + i) = hp(p)(i)
    }
    flat
  }

  /** All `tables` sign-bucket ids at once, as array<long> — one native
    * expression evaluation per row (see SignBucketsVec).
    */
  def signBucketsExpr(vec: Column, planes: Int, tables: Int,
                      dim: Int, seedBase: Long = 42L): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.SignBucketsVec(
        org.apache.spark.sql.GraftSqlBridge.toExpression(vec),
        planeMatrix(planes, tables, dim, seedBase), planes, tables, dim))

  def signBuckets(df: DataFrame, vec: Column, planes: Int,
                  dim: Int = 64, seed: Long = 42L): DataFrame =
    df.withColumn("bucket",
      element_at(signBucketsExpr(vec, planes, 1, dim, seed), 1))

  /** Dot scores of `vec` against every centroid, as an array column —
    * the shared assignment primitive of [[ivfTopK]] /
    * [[ivfTopKQuantized]] / [[graft.operators.Dedup.semDedupPairs]]
    * (one definition, so the three operators cannot silently diverge).
    */
  def centroidScoresCol(vec: Column,
                        cents: Array[Array[Double]]): Column =
    array(cents.map(c => dot(vec, lit(c))).toSeq: _*)

  /** Indices (0-based) of the `n` highest-scoring centroids for
    * `vec`, deterministic under score ties (index ascends).
    */
  def topCellsCol(vec: Column, cents: Array[Array[Double]],
                  n: Int): Column =
    slice(
      transform(
        array_sort(
          zip_with(centroidScoresCol(vec, cents),
            sequence(lit(0), lit(cents.length - 1)),
            (s, i) => struct(negate(s).as("ns"), i.as("i")))),
        e => e.getField("i")),
      1, n)

  /** IVF-style ANN: assign every vector to its nearest coarse centroid
    * (deterministic seeded gaussians — at scale these come from a k-means
    * fit, the assignment/probe machinery is identical), then score
    * queries only against the `nprobe` nearest centroid lists. The
    * centroid assignment is one narrow pass; the probe is an equality
    * join on centroid id — same shuffle shape as the LSH variant but
    * with data-adaptive cells when real centroids are supplied.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroids: Int = 16, nprobe: Int = 4, dim: Int = 64,
              seed: Long = 42L,
              fitted: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents: Array[Array[Double]] = fitted.getOrElse {
      val rnd = new scala.util.Random(seed)
      Array.fill(centroids, dim)(rnd.nextGaussian())
    }
    // nearest-centroid ids by dot product (unit-free; fine for cosine
    // geometry). Scored via the native VecDot against literal centroids.
    def topCells(vec: Column, n: Int): Column =
      topCellsCol(vec, cents, n)
    val cs = corpus.select(col("id").as("vb"), col("vec").as("cv"))
      .withColumn("cell", element_at(topCells(col("cv"), 1), 1))
      .withColumn("cn", l2Norm(col("cv")))
    val qs = queries.select(col("id").as("qa"), col("vec").as("qv"))
      .withColumn("cell", explode(topCells(col("qv"), nprobe)))
      .withColumn("qn", l2Norm(col("qv")))
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    val denom = col("qn") * col("cn")
    broadcast(qs).join(cs, Seq("cell"))
      .where(col("qa") =!= col("vb"))
      .select(col("qa"), col("vb"),
        when(denom =!= 0.0, dot(col("qv"), col("cv")) / denom).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: per anchor, the k
    * most-similar vectors with a DIFFERENT label — the "looks like a
    * positive, isn't one" set that makes embedding-model training
    * examples hard. Inputs carry (id, vec, label); label semantics are
    * the caller's (class, cluster id, source domain, dedup-cluster
    * id). Exact brute-force form — the oracle-checkable baseline, with
    * the same broadcast + repartition shape as [[bruteForceTopK]];
    * null-labeled anchors mine nothing (null-strict inequality, the
    * SQL `<>` they'd get in any engine).
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int)
      : DataFrame = {
    val q = broadcast(anchors
      .select(col("id").as("qa"), col("vec").as("qv"),
        col("label").as("ql"))
      .withColumn("qn", l2Norm(col("qv"))))
    val parallelism = corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val c = corpus.select(col("id").as("vb"), col("vec").as("cv"),
        col("label").as("cl"))
      .withColumn("cn", l2Norm(col("cv")))
      .repartition(parallelism)
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    val denom = col("qn") * col("cn")
    q.join(c, col("qa") =!= col("vb") && col("ql") =!= col("cl"))
      .select(col("qa"), col("vb"),
        when(denom =!= 0.0, dot(col("qv"), col("cv")) / denom).as("cos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** The 100 TB arm of [[hardNegatives]]: IVF-probed candidates
    * OVERFETCHED by `overfetch`× (same-label candidates occupy
    * shortlist slots before the anti-filter — overfetch buys back the
    * recall), label anti-filtered, then re-ranked per anchor. The
    * label join streams the corpus once against the broadcast
    * candidate set (bounded by anchors × k·overfetch) — no shuffle of
    * the corpus, no label column riding the probe join.
    */
  def hardNegativesIvf(anchors: DataFrame, corpus: DataFrame, k: Int,
                       overfetch: Int = 4, centroids: Int = 16,
                       nprobe: Int = 4, dim: Int = 64, seed: Long = 42L,
                       fitted: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val cand = ivfTopK(anchors.select(col("id"), col("vec")),
      corpus.select(col("id"), col("vec")), k * overfetch, centroids,
      nprobe, dim, seed, fitted)
    val withQl = cand.join(broadcast(
      anchors.select(col("id").as("qa"), col("label").as("ql"))),
      Seq("qa"))
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    corpus.select(col("id").as("vb"), col("label").as("cl"))
      .join(broadcast(withQl), Seq("vb"))
      .where(col("ql") =!= col("cl"))
      .select(col("qa"), col("vb"), col("cos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** Memory-bound IVF — the [[ivfTopK]] probe structure composed with
    * [[quantizeInt8]]: candidates inside the probed cells are SHORTLISTED
    * on int8-quantized vectors (4× less candidate bandwidth — at 100 TB
    * the quantized corpus is what fits executor memory), then only the
    * top `shortlist` per query are re-ranked with the exact float
    * cosine. The standard production ANN shape (IVF + scalar
    * quantization + re-rank).
    *
    * Determinism: the quantized score is integer-exact — int8 products
    * (≤ 127² = 16129) and their ≤ dim-length sums are exactly
    * representable, so the dequantization scale factors
    * (mx_a·mx_b/127², norms) and the shortlist order are bit-stable on
    * any engine; ties break on vb. With `shortlist` ≥ the probed cell
    * population and `nprobe` = centroids this equals [[bruteForceTopK]]
    * exactly (SimilaritySpec pins it); recall at production settings is
    * licensed by the x_ivf_q8_recall_err gate.
    */
  def ivfTopKQuantized(queries: DataFrame, corpus: DataFrame, k: Int,
                       shortlist: Int, centroids: Int = 16,
                       nprobe: Int = 4, dim: Int = 64, seed: Long = 42L,
                       fitted: Option[Array[Array[Double]]] = None)
      : DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val cents: Array[Array[Double]] = fitted.getOrElse {
      val rnd = new scala.util.Random(seed)
      Array.fill(centroids, dim)(rnd.nextGaussian())
    }
    def topCells(vec: Column, n: Int): Column =
      topCellsCol(vec, cents, n)
    // int8 side: quantized array (as array<double> — values are small
    // integers, every product/sum below is exact) + its integer norm
    def quantized(vec: Column): Column =
      quantizeInt8(vec, maxAbs(vec)).cast("array<double>")
    val cs = corpus.select(col("id").as("vb"), col("vec").as("cv"))
      .withColumn("cell", element_at(topCells(col("cv"), 1), 1))
      .withColumn("qc", quantized(col("cv")))
      .withColumn("qcn", l2Norm(col("qc")))
      .drop("cv")
    val qs = queries.select(col("id").as("qa"), col("vec").as("qv"))
      .withColumn("cell", explode(topCells(col("qv"), nprobe)))
      .withColumn("qq", quantized(col("qv")))
      .withColumn("qqn", l2Norm(col("qq")))
      .drop("qv")
    // shortlist on the quantized cosine only — float vectors are NOT
    // carried through the candidate join
    val qdenom = col("qqn") * col("qcn")
    val sw = Window.partitionBy(col("qa"))
      .orderBy(col("qcos").desc, col("vb"))
    val shortlisted = broadcast(qs).join(cs, Seq("cell"))
      .where(col("qa") =!= col("vb"))
      .select(col("qa"), col("vb"),
        when(qdenom =!= 0.0, dot(col("qq"), col("qc")) / qdenom)
          .as("qcos"))
      .distinct()
      .withColumn("srank", row_number().over(sw))
      .where(col("srank") <= shortlist)
      .select(col("qa"), col("vb"))
    // exact float re-rank of the shortlist only. The shortlist side is
    // |Q|·shortlist rows — BROADCAST it into the corpus vector fetch so
    // the float corpus never shuffles (the embeddingIncremental
    // candidate-fetch pattern); left to Catalyst, a sort-merge join
    // here would shuffle the whole corpus vector table.
    val qv = broadcast(queries.select(col("id").as("qa"),
        col("vec").as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    val cv = corpus.select(col("id").as("vb"), col("vec").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val denom = col("qn") * col("cn")
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    broadcast(shortlisted.join(qv, "qa")).join(cv, "vb")
      .select(col("qa"), col("vb"),
        when(denom =!= 0.0, dot(col("qv"), col("cv")) / denom).as("cos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** Deterministic distributed k-means (Lloyd's) for IVF coarse
    * centroids: init from the first `k` corpus vectors by id (stable),
    * then `iters` rounds of assign (narrow argmax over centroid dots) +
    * re-center (one groupBy per round, map-side partial sums). Returns
    * the centroid matrix for [[ivfTopK]]'s `cents` — at 100 TB this
    * runs on a sample, the assign/probe machinery is unchanged.
    *
    * `l2` switches the assignment metric to squared Euclidean (argmin
    * ‖x − c‖² via the 2·x·c − ‖c‖² surrogate) — what product-quantizer
    * codebooks need; the dot-product default is the IVF coarse metric.
    */
  def fitCentroids(corpus: DataFrame, k: Int, iters: Int,
                   dim: Int = 64, l2: Boolean = false)
      : Array[Array[Double]] = {
    var cents: Array[Array[Double]] = corpus
      .select(col("id"), col("vec")).orderBy(col("id")).limit(k)
      .collect().map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    def scoresOf(cs: Array[Array[Double]]): Column =
      array(cs.map { c =>
        if (l2) lit(2.0) * dot(col("vec"), lit(c)) -
          lit(c.map(x => x * x).sum)
        else dot(col("vec"), lit(c))
      }.toSeq: _*)
    for (_ <- 0 until iters) {
      val assign = corpus.select(col("vec"),
        array_position(
          transform(scoresOf(cents),
            s => s === array_max(scoresOf(cents))),
          true).as("cell"))
      val sums = assign
        .select(col("cell"), posexplode(col("vec")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val acc = Array.fill(k, dim)(0.0)
      val cnt = Array.fill(k)(0L)
      sums.foreach { r =>
        val cell = r.getLong(0).toInt - 1
        val pos = r.getInt(1)
        if (cell >= 0 && cell < k) {
          acc(cell)(pos) = r.getDouble(2)
          cnt(cell) = r.getLong(3)
        }
      }
      cents = Array.tabulate(k) { c =>
        if (cnt(c) == 0) cents(c)
        else acc(c).map(_ / cnt(c))
      }
    }
    cents
  }

  /** Persist a fitted centroid matrix as a tiny (cell, vec) parquet
    * table — the production IVF artifact: fit once (on a sample, on a
    * cadence), every query session [[loadCentroids]] instead of
    * re-running Lloyd's. Doubles round-trip parquet bit-exactly, so a
    * loaded matrix reproduces [[ivfTopK]]'s assignments identically.
    */
  def saveCentroids(spark: SparkSession, cents: Array[Array[Double]],
                    path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCentroids]] matrix, cells in fitted order. */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(path)
      .orderBy(col("cell"))
      .select(col("vec"))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  // ---------- product quantization (IVF-PQ) ----------

  /** Per-subspace codebooks for PRODUCT QUANTIZATION (Jégou, Douze &
    * Schmid, "Product quantization for nearest neighbor search",
    * TPAMI 2011): `vec` splits into `m` contiguous dim/m-wide
    * subvectors, each subspace fit with its own `ks`-entry L2 Lloyd's
    * codebook ([[fitCentroids]] with the argmin-‖x−c‖² surrogate) — a
    * vector then compresses to `m` small codes (m·log₂ks bits instead
    * of dim·32), the memory ratio that makes billion-scale shortlists
    * RAM-resident. Fit on a sample at 100 TB; encode/score unchanged.
    */
  def fitPqCodebooks(corpus: DataFrame, m: Int = 8, ks: Int = 16,
                     iters: Int = 3, dim: Int = 64,
                     coarse: Option[Array[Array[Double]]] = None)
      : Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    // RESIDUAL mode (IVFADC proper): codebooks fit on x − c(cell), so
    // their capacity spends on within-cell variation instead of
    // re-describing the coarse structure. Fit-time only — interpreted
    // zip_with is fine here; the ENCODE path looks the coarse terms
    // up from literal tables and stays codegen'd.
    val base = coarse match {
      case None => corpus
      case Some(cents) =>
        val cellCol = element_at(topCellsCol(col("vec"), cents, 1), 1)
        // topCellsCol cells are 0-based; element_at is 1-based
        val centSel = element_at(
          typedlit(cents.map(_.toSeq).toSeq), col("__cell") + 1)
        corpus.withColumn("__cell", cellCol)
          .withColumn("vec",
            zip_with(col("vec").cast("array<double>"), centSel,
              (x, c) => x - c))
          .drop("__cell")
    }
    Array.tabulate(m) { j =>
      val sub = base.select(col("id"),
        slice(col("vec"), j * dsub + 1, dsub).cast("array<double>")
          .as("vec"))
      fitCentroids(sub, ks, iters, dsub, l2 = true)
    }
  }

  /** Persist / load PQ codebooks as a (sub, cell, vec) parquet table —
    * the fit-once production artifact, like [[saveCentroids]].
    */
  def savePqCodebooks(spark: SparkSession,
                      books: Array[Array[Array[Double]]],
                      path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("sub", "cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPqCodebooks(spark: SparkSession, path: String)
      : Array[Array[Array[Double]]] =
    spark.read.parquet(path).orderBy(col("sub"), col("cell"))
      .select(col("sub"), col("vec")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](1).toArray)).toArray

  private def booksFlat(books: Array[Array[Array[Double]]])
      : Array[Double] = books.flatMap(_.flatMap(identity))

  private def booksNormSq(books: Array[Array[Array[Double]]])
      : Array[Double] = books.flatMap(_.map(_.map(x => x * x).sum))

  /** PQ encoding: the vector's `m` per-subspace code indices
    * (1-based, argmin ‖x_j − c‖² with first-index tiebreak —
    * deterministic under any partitioning), as an array<int> column.
    * One native-expression loop per row ([[graft.functions
    * .PqCodesExpr]]): the unrolled struct-min tree this replaces blew
    * the 64 KB whole-stage method limit at production (m, ks), so
    * every containing stage paid a failed Janino compile and fell
    * back — bit-identical results, pinned by NativeExprSpec.
    */
  def pqCodesCol(vec: Column,
                 books: Array[Array[Array[Double]]]): Column = {
    val b = org.apache.spark.sql.GraftSqlBridge
    b.toColumn(graft.functions.PqCodesExpr(
      b.toExpression(vec), b.toExpression(lit(0)),
      booksFlat(books), booksNormSq(books), Array.emptyDoubleArray,
      books.length, books(0).length, books(0)(0).length))
  }

  /** The unrolled struct-min tree [[pqCodesCol]] replaced — retained
    * for the bit-equivalence spec only.
    */
  private[graft] def pqCodesColStructMin(
      vec: Column, books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val dsub = books(0)(0).length
    array((0 until m).map { j =>
      val sub = slice(vec, j * dsub + 1, dsub).cast("array<double>")
      // argmin ‖x−c‖² ≡ min of (‖c‖² − 2·x·c, index) structs — the
      // ‖x‖² term cancels, struct ordering breaks ties to the first
      // index
      val scored = array(books(j).zipWithIndex.map { case (c, i) =>
        struct(
          (lit(c.map(x => x * x).sum) - lit(2.0) * dot(sub, lit(c)))
            .as("d"),
          lit(i + 1).as("c"))
      }.toSeq: _*)
      array_min(scored).getField("c").cast("int")
    }: _*)
  }

  /** Σ_j ‖codebook_j[code_j]‖² — the reconstruction's squared norm
    * (subspaces are orthogonal coordinate blocks, so norms add),
    * looked up from an m·ks literal table: codegen'd element_at
    * arithmetic unrolled over m, no lambda in the hot path.
    */
  private def pqReconNormSq(codes: Column,
                            books: Array[Array[Array[Double]]]): Column = {
    val ks = books(0).length
    val tbl = lit(books.flatMap(_.map(_.map(x => x * x).sum)))
    books.indices
      .map(j => element_at(tbl, lit(j * ks) + element_at(codes, j + 1)))
      .reduce(_ + _)
  }

  /** The query's ADC table (asymmetric distance computation): dot of
    * each query subvector with every codebook entry, flattened to
    * m·ks doubles — computed ONCE per (query, probe-cell) row; each
    * candidate then scores with m table lookups instead of a
    * dim-wide dot.
    */
  private def pqAdcTable(vec: Column,
                         books: Array[Array[Array[Double]]]): Column = {
    val dsub = books(0)(0).length
    array(books.zipWithIndex.flatMap { case (book, j) =>
      val sub = slice(vec, j * dsub + 1, dsub).cast("array<double>")
      book.map(c => dot(sub, lit(c)))
    }.toSeq: _*)
  }

  /** dot(cent[cell] restricted to subspace j, books[j][c]) for every
    * (cell, j, c) — the flat literal table that makes RESIDUAL
    * encoding and scoring pure codegen'd element_at arithmetic
    * (centroids·m·ks doubles; 4096 at the defaults).
    */
  private def centSubDotFlat(cents: Array[Array[Double]],
                             books: Array[Array[Array[Double]]])
      : Array[Double] = {
    val dsub = books(0)(0).length
    cents.flatMap { cent =>
      books.zipWithIndex.flatMap { case (book, j) =>
        book.map { c =>
          var s = 0.0
          var i = 0
          while (i < dsub) { s += cent(j * dsub + i) * c(i); i += 1 }
          s
        }
      }
    }
  }

  /** RESIDUAL PQ codes: argmin over ‖(x_j − cent_j) − cb‖², expanded
    * so the cell-dependent term is one literal-table lookup —
    * d = ‖cb‖² − 2·x_j·cb + 2·cent_j·cb (the ‖x_j − cent_j‖² constant
    * cancels inside the argmin). Same struct-min shape as
    * [[pqCodesCol]].
    */
  private[graft] def pqCodesColResidual(
      vec: Column, cell: Column,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Column = {
    val b = org.apache.spark.sql.GraftSqlBridge
    b.toColumn(graft.functions.PqCodesExpr(
      b.toExpression(vec), b.toExpression(cell),
      booksFlat(books), booksNormSq(books),
      centSubDotFlat(cents, books),
      books.length, books(0).length, books(0)(0).length))
  }

  /** The unrolled residual struct-min tree [[pqCodesColResidual]]
    * replaced — retained for the bit-equivalence spec only.
    */
  private[graft] def pqCodesColResidualStructMin(
      vec: Column, cell: Column,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): Column = {
    val m = books.length
    val ks = books(0).length
    val dsub = books(0)(0).length
    val cd = lit(centSubDotFlat(cents, books))
    array((0 until m).map { j =>
      val sub = slice(vec, j * dsub + 1, dsub).cast("array<double>")
      val scored = array(books(j).zipWithIndex.map { case (c, i) =>
        struct(
          (lit(c.map(x => x * x).sum) - lit(2.0) * dot(sub, lit(c)) +
            // cell is 0-based (topCellsCol), element_at 1-based
            lit(2.0) * element_at(cd,
              cell * lit(m * ks) + lit(j * ks + i + 1)))
            .as("d"),
          lit(i + 1).as("c"))
      }.toSeq: _*)
      array_min(scored).getField("c").cast("int")
    }: _*)
  }

  /** PQ-ENCODE a corpus against fitted coarse centroids + codebooks:
    * (vb, cell, codes, rn) — the persistable index artifact (what
    * FAISS serializes as the IVFPQ inverted lists). Write it
    * cell-clustered once per corpus generation and feed it to
    * [[ivfTopKPq]]'s `encoded` so queries pay the probe path only,
    * never a re-encode of the corpus.
    *
    * `residual = true` is IVFADC proper: codes describe x − c(cell)
    * (books must have been fit with `coarse = Some(cents)`), and the
    * reconstruction is c(cell) + Σ_j cb_j[code_j] — its norm folds the
    * coarse/code cross terms in from the [[centSubDotFlat]] literal
    * table, still pure element_at arithmetic.
    */
  def pqEncode(corpus: DataFrame, cents: Array[Array[Double]],
               books: Array[Array[Array[Double]]],
               residual: Boolean = false): DataFrame = {
    val base = corpus.select(col("id").as("vb"), col("vec").as("cv"))
      .withColumn("cell",
        element_at(topCellsCol(col("cv"), cents, 1), 1))
    if (!residual)
      base.withColumn("codes", pqCodesCol(col("cv"), books))
        .withColumn("rn", sqrt(pqReconNormSq(col("codes"), books)))
        .drop("cv")
    else {
      val m = books.length
      val ks = books(0).length
      val cd = lit(centSubDotFlat(cents, books))
      val centNorm = lit(cents.map(c => c.map(x => x * x).sum))
      val withCodes = base.withColumn("codes",
        pqCodesColResidual(col("cv"), col("cell"), cents, books))
      // ‖c(cell) + Σ_j cb_j‖² = ‖c‖² + 2·Σ_j c_j·cb_j + Σ_j ‖cb_j‖²
      // cell is 0-based (topCellsCol), element_at 1-based
      val cross = books.indices.map(j =>
        element_at(cd, col("cell") * lit(m * ks) +
          lit(j * ks) + element_at(col("codes"), j + 1)))
        .reduce(_ + _)
      withCodes.withColumn("rn",
          sqrt(element_at(centNorm, col("cell") + 1) +
            lit(2.0) * cross +
            pqReconNormSq(col("codes"), books)))
        .drop("cv")
    }
  }

  // ---------- incremental PQ-code store ----------

  /** The PQ-code store: (vb → cell, codes, rn), newest batch wins per
    * vb, a newest row with `cell < 0` is a tombstone, files clustered
    * on (cell, vb).
    */
  private[graft] def pqCodeStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "pqCodeStore", Seq("vb" -> "bigint"),
      Seq("cell" -> "int", "codes" -> "array<int>", "rn" -> "double"),
      KeyedStore.NewestWins, cluster = Seq("cell", "vb"),
      manifest = false, deletedWhen = Some(col("cell") < 0))

  /** Persist a [[pqEncode]] artifact as `batch=0` of an incremental
    * store on the shared gen=/batch= protocol, alongside the FROZEN
    * fit (coarse centroids, codebooks, residual mode) every later
    * [[pqStoreAppend]] encodes with — the continuously-ingesting ANN
    * corpus's layout: the billion-vector code table grows per batch,
    * the fit is a one-time artifact, and codebook drift is priced by
    * a recall gate instead of a re-encode (the FAISS operational
    * contract for IndexIVFPQ.add after train).
    */
  def writePqCodeStore(corpus: DataFrame,
                       cents: Array[Array[Double]],
                       books: Array[Array[Array[Double]]],
                       storeDir: String, residual: Boolean = false,
                       filesOut: Int = 4): Unit =
    Stats.withWriterLease(corpus.sparkSession, Seq(storeDir),
        "writePqCodeStore(batch)") {
    val spark = corpus.sparkSession
    import spark.implicits._
    saveCentroids(spark, cents, s"$storeDir/fit_coarse")
    savePqCodebooks(spark, books, s"$storeDir/fit_books")
    Seq(residual).toDF("residual").coalesce(1)
      .write.mode("overwrite").parquet(s"$storeDir/fit_mode")
    pqCodeStore(storeDir).writeBase(spark, "writePqCodeStore(batch)",
      filesOut)(pqEncode(corpus, cents, books, residual))
  }

  /** The store's frozen fit: (coarse centroids, codebooks, residual
    * mode). Bounded driver state — centroids·dim + m·ks·dsub doubles.
    */
  def pqStoreFit(spark: SparkSession, storeDir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Boolean) =
    (loadCentroids(spark, s"$storeDir/fit_coarse"),
      loadPqCodebooks(spark, s"$storeDir/fit_books"),
      spark.read.parquet(s"$storeDir/fit_mode")
        .head.getBoolean(0))

  /** Encode a NEW batch with the store's frozen fit and append it as
    * `batch=<id>` — per-batch work is batch-sized (one narrow
    * codegen'd encode pass; the existing codes are never touched or
    * re-read). Re-sent ids are folded newest-wins at read time
    * ([[pqStoreCodes]]); retries are overwrite-idempotent. Returns
    * the encoded batch.
    */
  def pqStoreAppend(newVecs: DataFrame, storeDir: String,
                    batchId: Long, filesOut: Int = 4): DataFrame = {
    val spark = newVecs.sparkSession
    val store = pqCodeStore(storeDir)
    store.appending(spark, batchId, "pqStoreAppend") {
      val (cents, books, residual) = pqStoreFit(spark, storeDir)
      val enc = Checkpoints.stage(
        pqEncode(newVecs, cents, books, residual))
      store.append(spark, "pqStoreAppend(batch)", batchId, filesOut)(enc)
      // enc is staged, so its data predates the overwrite safely
      enc
    }
  }

  /** TOMBSTONE deletes for the PQ-code store — the retraction path a
    * training corpus legally needs (takedowns, right-to-be-forgotten)
    * without a re-encode: append a `batch=<id>` whose rows mark the
    * ids deleted (cell = −1, a value no real assignment produces —
    * same schema, so the store protocol is untouched), let the
    * newest-wins fold hide them at read time, and let compaction drop
    * them physically (a generation replaces every batch it folded, so
    * no older live row can resurface a dropped tombstone). A later
    * re-add of the same id simply wins by batch id — which is why
    * `batchId` MUST come from the same monotone sequence ingestion
    * appends use ([[Stats.requireMonotoneBatch]] guards it): a
    * tombstone above the sequence head would silently out-rank every
    * later re-add, and after a compaction at the tombstone's id every
    * lower-id append would be invisible and vacuumed.
    */
  def pqStoreDelete(ids: DataFrame, storeDir: String,
                    batchId: Long, filesOut: Int = 4): Unit = {
    val store = pqCodeStore(storeDir)
    store.appending(ids.sparkSession, batchId, "pqStoreDelete") {
      store.append(ids.sparkSession, "pqStoreDelete(batch)", batchId,
          filesOut)(
        ids.select(col("id").as("vb"), lit(-1).as("cell"),
          array().cast("array<int>").as("codes"), lit(0.0).as("rn")))
    }
  }

  /** The PQ-code store's CURRENT view (newest batch wins per vb;
    * tombstoned ids — newest row cell = −1 — are hidden) — the
    * `encoded` feed for [[ivfTopKPq]].
    */
  def pqStoreCodes(spark: SparkSession, storeDir: String): DataFrame =
    pqCodeStore(storeDir).current(spark)

  /** Fold the PQ-code store's batches (newest per vb) into one
    * cell-clustered generation. Tombstoned ids drop PHYSICALLY here:
    * the new generation supersedes every batch it folded, so no
    * older live row can resurface them.
    */
  def compactPqCodeStore(spark: SparkSession, storeDir: String,
                         filesOut: Int = 4): Option[Long] =
    pqCodeStore(storeDir).compact(spark, "compactPqCodeStore(batch)",
      filesOut)

  /** IVF-PQ top-k: coarse-quantize into IVF cells, shortlist inside
    * the probed cells on PQ-compressed codes (each candidate costs m
    * element_at lookups into the query's ADC table — the float corpus
    * never enters the candidate join, and the code side is m·log₂ks
    * bits per vector), exact float re-rank of the shortlist only —
    * the billion-scale layout (IVFADC in the PQ paper; what FAISS
    * ships as IndexIVFPQ). cos_pq = (Σ_j q_j·cb_j[code_j]) /
    * (‖q‖·‖recon‖) — deterministic per row given fitted artifacts, so
    * the shortlist cut (pqcos desc, id) is partitioning-independent;
    * final scores are EXACT cosines of the shortlist, the approx-path
    * contract every recall gate here prices.
    */
  def ivfTopKPq(queries: DataFrame, corpus: DataFrame, k: Int,
                shortlist: Int, centroids: Int = 16, nprobe: Int = 4,
                m: Int = 8, ks: Int = 16, dim: Int = 64,
                seed: Long = 42L,
                fittedCoarse: Option[Array[Array[Double]]] = None,
                fittedPq: Option[Array[Array[Array[Double]]]] = None,
                encoded: Option[DataFrame] = None,
                residual: Boolean = false)
      : DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val cents: Array[Array[Double]] = fittedCoarse.getOrElse {
      val rnd = new scala.util.Random(seed)
      Array.fill(centroids, dim)(rnd.nextGaussian())
    }
    val books: Array[Array[Array[Double]]] = fittedPq.getOrElse {
      val rnd = new scala.util.Random(seed + 1)
      require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
      Array.fill(m, ks, dim / m)(rnd.nextGaussian())
    }
    def topCells(vec: Column, n: Int): Column =
      topCellsCol(vec, cents, n)
    // `encoded` must be a [[pqEncode]] artifact built with the SAME
    // cents/books (the fit-once contract shared by every persisted
    // artifact here)
    val cs = encoded.getOrElse(pqEncode(corpus, cents, books, residual))
    // residual mode adds the query·cell-centroid dot to every
    // candidate of that probe cell: q·recon = q·c(cell) + Σ_j adc —
    // computed once per (query, probe-cell) row
    val qcdot =
      if (!residual) lit(0.0)
      else element_at(
        array(cents.map(c => dot(col("qv"), lit(c))).toSeq: _*),
        col("cell") + 1)
    val qs = queries.select(col("id").as("qa"), col("vec").as("qv"))
      .withColumn("cell", explode(topCells(col("qv"), nprobe)))
      .withColumn("adc", pqAdcTable(col("qv"), books))
      .withColumn("qcdot", qcdot)
      .withColumn("qn", l2Norm(col("qv").cast("array<double>")))
      .drop("qv")
    val pqdot = col("qcdot") + books.indices
      .map(j => element_at(col("adc"),
        lit(j * ks) + element_at(col("codes"), j + 1)))
      .reduce(_ + _)
    val qdenom = col("qn") * col("rn")
    val sw = Window.partitionBy(col("qa"))
      .orderBy(col("pqcos").desc, col("vb"))
    val shortlisted = broadcast(qs).join(cs, Seq("cell"))
      .where(col("qa") =!= col("vb"))
      .select(col("qa"), col("vb"),
        when(qdenom =!= 0.0, pqdot / qdenom).as("pqcos"))
      .distinct()
      .withColumn("srank", row_number().over(sw))
      .where(col("srank") <= shortlist)
      .select(col("qa"), col("vb"))
    // exact float re-rank of the shortlist only — the
    // ivfTopKQuantized broadcast-fetch shape: the float corpus never
    // shuffles, the |Q|·shortlist side rides the broadcast
    val qv = broadcast(queries.select(col("id").as("qa"),
        col("vec").as("qv"))
      .withColumn("qn", l2Norm(col("qv"))))
    val cv = corpus.select(col("id").as("vb"), col("vec").as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
    val denom = col("qn") * col("cn")
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    broadcast(shortlisted.join(qv, "qa")).join(cv, "vb")
      .select(col("qa"), col("vb"),
        when(denom =!= 0.0, dot(col("qv"), col("cv")) / denom).as("cos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** Approximate top-k: L independent hash tables of `planes` sign bits;
    * candidates = bucket collisions in any table; exact cosine re-rank on
    * candidates only. `multiprobe = 1` additionally probes every 1-bit-
    * flip neighbor of the query's bucket — the standard recall fix when
    * the corpus lacks cluster structure, at (planes+1)× the bucket
    * lookups but zero extra corpus-side state.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 8, tables: Int = 8, multiprobe: Int = 1,
              dim: Int = 64): DataFrame = {
    val qs = queries.select(col("id").as("qa"), col("vec").as("qv"))
    val cs = corpus.select(col("id").as("vb"), col("vec").as("cv"))
    // One (table, bucket) key column-stack per side — a single equality
    // join over all L tables instead of an L-way union of joins (flat
    // plan, one shuffle, codegen-friendly).
    def stacked(df: DataFrame, vec: String): DataFrame =
      df.select(col(df.columns.head),
        posexplode(signBucketsExpr(col(vec), planes, tables, dim)))
        .withColumnRenamed("pos", "table")
        .withColumnRenamed("col", "bucket")
    val masks: Seq[Column] =
      if (multiprobe >= 1)
        lit(0L) +: (0 until planes).map(p => lit(1L << p))
      else Seq(lit(0L))
    val qT = stacked(qs, "qv").withColumn("bucket",
      explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*)))
    val cT = stacked(cs, "cv")
    // Candidates are just (qa, vb) pairs — dedupe 16-byte keys, then
    // fetch vectors once for scoring (never distinct() full vectors).
    val cand = broadcast(qT).join(cT, Seq("table", "bucket"))
      .where(col("qa") =!= col("vb"))
      .select(col("qa"), col("vb")).distinct()
    val w = Window.partitionBy(col("qa"))
      .orderBy(col("cos").desc, col("vb"))
    val qn = broadcast(qs.withColumn("qn", l2Norm(col("qv"))))
    val cn = cs.withColumn("cn", l2Norm(col("cv")))
    val denom = col("qn") * col("cn")
    cand.join(qn, "qa").join(cn, "vb")
      .select(col("qa"), col("vb"),
        when(denom =!= 0.0, dot(col("qv"), col("cv")) / denom).as("cos"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  // ---------- embedding quantization ----------

  /** Per-vector max |x| as double — the symmetric-quantization scale
    * numerator. Left fold over the elements; exact (max has no
    * rounding), and the float→double widening is value-preserving, so
    * the result is bit-reproducible on any engine.
    */
  def maxAbs(vec: Column): Column =
    aggregate(vec, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))

  /** Symmetric int8 quantization: q_i = round(x_i · 127 / maxAbs),
    * spelled `floor(v + 0.5)` so rounding is half-up everywhere (SQL
    * `round` is half-up in some engines, half-even in others — the
    * explicit form removes the ambiguity). The all-zero vector
    * quantizes to zeros. 4× storage/bandwidth reduction for ANN
    * shortlisting; dequantize with q·mx/127. Narrow map — at 100 TB
    * this rides the scan with no shuffle.
    */
  def quantizeInt8(vec: Column, mx: Column): Column =
    when(mx === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") * 127.0 / mx + 0.5).cast("int")))

  // ---------- PCA (distributed moments, driver-side eigen) ----------

  /** Exact second-moment sufficient statistics for PCA over a
    * QUANTIZED copy of the embeddings: q_i = round(v_i · scale) as
    * int64, so every sum is an integer sum — order-independent,
    * partitioning-independent, and hash-exact against a SQL oracle
    * (float sums would drift with reduction order; the quantization
    * error the basis inherits is 2^-20 per coordinate, far below any
    * embedding's own noise floor). Output rows, one relation for the
    * whole statistic: (i, j, v) = Σ q_i·q_j over the upper triangle
    * i ≤ j; (i, -1, Σ q_i) first moments; (-1, -1, n) the count.
    *
    * Scale: the d²/2 per-row pair explode is CPU inside codegen; the
    * hash aggregate collapses it map-side to d(d+3)/2 groups PER
    * PARTITION, so the exchange carries ~2k rows per task regardless
    * of data size — the classic outer-product-accumulate shape.
    * Products accumulate in decimal(38,0): |q| ≤ scale·|v|, so
    * products sit near 2^42 and a 64-bit sum would overflow around
    * 10^6 rows — decimal keeps the pass exact to ~10^26 rows.
    */
  def pcaMoments(corpus: DataFrame, vec: Column,
                 scale: Long = 1L << 20): DataFrame = {
    val q = corpus.select(transform(vec,
      x => round(x.cast("double") * scale.toDouble).cast("long")).as("__q"))
    val toks = q.select(posexplode(col("__q")).as(Seq("i", "__qi")),
      col("__q"))
    val second = toks
      .select(col("i"), col("__qi"),
        posexplode(col("__q")).as(Seq("j", "__qj")))
      .where(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("__qi") * col("__qj")).cast("decimal(28,0)"))
        .cast("decimal(38,0)").as("v"))
    val first = toks.groupBy(col("i"))
      .agg(sum(col("__qi").cast("decimal(28,0)"))
        .cast("decimal(38,0)").as("v"))
      .select(col("i"), lit(-1).as("j"), col("v"))
    val nRow = q.agg(count(lit(1)).cast("decimal(38,0)").as("v"))
      .select(lit(-1).as("i"), lit(-1).as("j"), col("v"))
    second.select(col("i"), col("j"), col("v"))
      .unionAll(first).unionAll(nRow)
  }

  /** Fits a PCA basis from [[pcaMoments]]: assembles the covariance
    * C = E[qqᵀ]/scale² − m mᵀ on the driver (d(d+3)/2 numbers — never
    * data), runs cyclic Jacobi to convergence (deterministic sweep
    * order, machine-precision off-diagonals), and returns the top-k
    * eigenpairs sorted by eigenvalue descending with a sign
    * convention (largest-|coordinate| positive, first such index on
    * ties) so the basis is a pure function of the input SET.
    * Returns (mean, basis rows = components, eigenvalues).
    */
  def fitPca(corpus: DataFrame, vec: Column, k: Int,
             scale: Long = 1L << 20)
      : (Array[Double], Array[Array[Double]], Array[Double]) =
    fitPcaFromMoments(pcaMoments(corpus, vec, scale), k, scale)

  /** [[fitPca]] from an already-materialized moments relation (the
    * direct pass or [[pcaMomentsFromStore]] — identical statistics,
    * identical fit).
    */
  def fitPcaFromMoments(moments: DataFrame, k: Int,
                        scale: Long = 1L << 20)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    val rows = moments.collect()
    val d = rows.iterator.map(_.getInt(0)).max + 1
    require(d > 0 && k <= d, s"k=$k must be <= dim=$d")
    val n = rows.find(r => r.getInt(0) == -1 && r.getInt(1) == -1)
      .get.getDecimal(2).doubleValue()
    require(n > 0, "pca: empty corpus")
    val s1 = new Array[Double](d)
    val s2 = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1),
        r.getDecimal(2).doubleValue())
      if (i >= 0 && j == -1) s1(i) = v
      else if (i >= 0 && j >= 0) { s2(i)(j) = v; s2(j)(i) = v }
    }
    val sc = scale.toDouble
    val mean = s1.map(_ / n / sc)
    val cov = Array.tabulate(d, d)((i, j) =>
      s2(i)(j) / n / (sc * sc) - mean(i) * mean(j))
    val (valsAll, vecsAll) = jacobiEigen(cov)
    val order = valsAll.indices
      .sortBy(i => (-valsAll(i), i)).take(k)
    val basis = order.map { c =>
      val v = Array.tabulate(d)(r => vecsAll(r)(c))
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(x => -x) else v
    }.toArray
    (mean, basis, order.map(valsAll).toArray)
  }

  /** Appends one batch's [[pcaMoments]] to an ADDITIVE `gen=`/`batch=`
    * moment store (the shared protocol in
    * [[Stats.committedViewDirs]]): PCA's sufficient statistics are
    * integer sums, so incremental maintenance is EXACT — the summed
    * store view equals the from-scratch moments of the union corpus
    * bit-for-bit, a hash-checkable contract, not an approximation.
    * Overwrite-idempotent per `batchId` (a retried batch replaces its
    * own directory, never double-counts). The store is tiny —
    * d(d+3)/2 + 1 rows per batch — so upkeep cost is metadata, not
    * data.
    */
  def appendPcaMoments(batch: DataFrame, vec: Column, storeDir: String,
                       batchId: Long, scale: Long = 1L << 20): Unit = {
    val store = pcaMomentStore(storeDir)
    store.appending(batch.sparkSession, batchId, "appendPcaMoments",
        pcaTombstones(storeDir)) {
      store.append(batch.sparkSession, "appendPcaMoments(batch)",
        batchId, 1)(pcaMoments(batch, vec, scale))
    }
  }

  /** RETRACTION for the additive PCA moment store — the
    * right-to-be-forgotten path for trained artifacts: without it, a
    * takedown cleans the serving stores but every future PCA refit
    * still carries the deleted docs' statistical fingerprint. The
    * protocol is [[Retrieval.deleteBm25Docs]]' negative-stats row
    * applied to the moment fold: append one batch holding the deleted
    * vectors' [[pcaMoments]] NEGATED — the additive read-time sum
    * (and any later compaction) then lands EXACTLY on the surviving
    * corpus, because every moment is an integer sum (hash-checkable
    * against a from-scratch fit over survivors, not approximate).
    * O(deleted) work: one moment pass over the deleted vectors, never
    * a corpus re-read.
    *
    * The store keeps only aggregated statistics, so the CALLER
    * supplies the retracted docs' vectors (`deleted` = (id, vec) rows
    * fetched from the corpus being retracted from). Already-deleted
    * ids are skipped via a `deleted/batch=` tombstone set (a
    * double-delete must not double-subtract), making the call
    * semantically idempotent on top of per-batch overwrite
    * idempotence. A retracted id is UNREINSTATABLE: re-ingesting it
    * would re-add its contribution while the tombstone set still
    * marks it deleted (a second retraction would be skipped) — route
    * revived docs through a NEW id, the BM25-index contract.
    * `batchId` shares the store's monotone sequence (guarded).
    */
  def deletePcaMoments(deleted: DataFrame, id: Column, vec: Column,
                       storeDir: String, batchId: Long,
                       scale: Long = 1L << 20): Unit = {
    val spark = deleted.sparkSession
    val (store, tomb) = (pcaMomentStore(storeDir), pcaTombstones(storeDir))
    store.appending(spark, batchId, "deletePcaMoments", tomb) {
      val rows = deleted.select(id.as("id"), vec.as("__v"))
      // tombstone set first, the negative moment row second: a retry
      // (same batchId) recomputes the same fresh set because the prior
      // view reads only batches < batchId
      val fresh = tomb.writeFresh(spark, "deletePcaMoments", batchId)(rows)
      store.append(spark, "deletePcaMoments(batch)", batchId, 1)(
        pcaMoments(rows.join(fresh, Seq("id"), "left_semi"), col("__v"),
            scale)
          .select(col("i"), col("j"),
            (-col("v")).cast("decimal(38,0)").as("v")))
    }
  }

  /** The additive moment store: (i, j) → v, summed per key; no base
    * write, so the first append may be batch 0.
    */
  private[graft] def pcaMomentStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "pcaMomentStore", Seq("i" -> "int", "j" -> "int"),
      Seq("v" -> "decimal(38,0)"), KeyedStore.Sum, manifest = false,
      hasBase = false)

  /** The moment store's tombstoned ids, `deleted/` — permanent: it is
    * compacted with the store, never cleared.
    */
  private def pcaTombstones(storeDir: String): KeyedStore =
    KeyedStore.tombstones(storeDir, "/deleted", "pcaDeletedIds")

  /** The store's current total moments — same relation shape as
    * [[pcaMoments]] over the union of all committed batches.
    */
  def pcaMomentsFromStore(spark: SparkSession, storeDir: String)
      : DataFrame = {
    val store = pcaMomentStore(storeDir)
    if (store.committedDirs(spark).isEmpty) spark.emptyDataFrame
    else store.current(spark)
  }

  /** OPTIMIZE for the moment store: folds committed batches into one
    * pre-summed generation via the shared compaction primitive —
    * readers then sum one directory regardless of batch count.
    * [[deletePcaMoments]]' negative rows fold in like any other batch
    * (the generation holds net survivor moments — retraction needs no
    * special compaction path). The tombstone id set is compacted
    * alongside but NEVER cleared: unlike a posting store there are no
    * per-doc rows whose physical drop could retire it, and it is the
    * permanent double-delete guard (O(deleted ids) — tiny).
    */
  def compactPcaMoments(spark: SparkSession, storeDir: String)
      : Option[Long] = {
    val store = pcaMomentStore(storeDir)
    store.leased(spark, "compactPcaMoments(batch)") {
      val tok = store.compact(spark, "compactPcaMoments(batch)", 1)
      if (tok.isDefined)
        pcaTombstones(storeDir).compact(spark, "compactPcaMoments(batch)",
          1): Unit
      tok
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, fixed rotation formulas), so
    * repeated fits on the same moments are bit-identical. Returns
    * (eigenvalues, eigenvector COLUMNS). O(d³) per sweep on the
    * driver; d is an embedding dimension, never data-sized.
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // sign(0) must be +1 here: theta = 0 is the 45-degree
            // rotation, not "skip" (signum would zero the rotation
            // and the off-diagonal would never shrink)
            val sgn = if (theta >= 0) 1.0 else -1.0
            val t = sgn /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off = math.max(off, math.abs(a(i)(j))); j += 1 }
        i += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Projects embeddings onto a fitted PCA basis: out_c =
    * ⟨v, b_c⟩ − ⟨mean, b_c⟩ per component — k codegen'd [[VecDot]]s
    * against broadcast literal planes plus a per-component constant
    * folded at plan time. Narrow map, rides the scan, no shuffle;
    * output is `array<double>` of length k.
    */
  def pcaProject(df: DataFrame, id: Column, vec: Column,
                 mean: Array[Double], basis: Array[Array[Double]])
      : DataFrame = {
    val comps = basis.map { b =>
      val c = b.zip(mean).map { case (bi, mi) => bi * mi }.sum
      (dot(vec, lit(b)) - lit(c))
    }
    df.select(id.as("id"), array(comps: _*).as("proj"))
  }

  // ---------- k-center coreset selection ----------

  /** GREEDY k-CENTER selection (Gonzalez, "Clustering to minimize the
    * maximum intercluster distance", TCS 1985 — the 2-approximation
    * behind coreset/diversity data pruning): start from the
    * smallest-id point, then k−1 times pick the point FARTHEST (in
    * squared L2) from its nearest already-selected center, ties to
    * the smaller id. Returns (rank, id, radius): radius is the
    * selected point's distance-to-selected-set at pick time — the
    * shrinking coverage radius a data-selection budget reads.
    *
    * Deterministic end to end: distances are the fixed expression
    * `dxx − 2⟨x,c⟩ + dcc` over codegen'd [[VecDot]] folds (the same
    * IEEE operation sequence the SQL oracle runs), argmax breaks ties
    * by id — so for fixed k the whole greedy trace is oracle-exact.
    *
    * Scale: k rounds, each one corpus-sized narrow pass against a
    * 1-row broadcast center plus a TakeOrdered(1) — no shuffle of the
    * corpus, state staged and freed per round. Greedy k-center is
    * inherently k sequential maxima; the per-round work is what
    * distributes, and k is a selection budget, not data-sized.
    */
  def kCenterSelect(corpus: DataFrame, id: Column, vec: Column,
                    k: Int): DataFrame =
    kCenterTrace(corpus, id, vec, k)
      .select(col("rank"), col("id"), col("radius"))

  /** The squared-L2-to-center expression shared by the greedy trace
    * and the warm extension: dxx − 2⟨x,c⟩ + dcc, the fixed IEEE
    * operation sequence the SQL oracle mirrors.
    */
  private val kcDistToCenter: Column =
    col("__dxx") - lit(2.0) * dot(col("__v"), col("__cv")) +
      col("__cdxx")

  private def kcCenterSide(c: DataFrame): DataFrame =
    broadcast(c.select(col("__v").as("__cv"),
      col("__dxx").as("__cdxx")))

  /** [[kCenterSelect]]'s full trace, vectors included — what the
    * incremental store persists: (rank, id, __v, __dxx, radius).
    */
  private def kCenterTrace(corpus: DataFrame, id: Column, vec: Column,
                           k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val base = Checkpoints.stage(
      corpus.select(id.as("id"), vec.as("__v"))
        .withColumn("__dxx", dot(col("__v"), col("__v"))))
    // 1-row centers are STAGED: later rounds free the state they were
    // selected from, and the final union must not re-run their plans
    val c1 = Checkpoints.stage(base.orderBy(col("id")).limit(1)
      .select(col("id"), col("__v"), col("__dxx"),
        lit(0.0).as("radius")))
    val centers = scala.collection.mutable.ArrayBuffer(
      c1.select(lit(1).as("rank"), col("id"), col("__v"),
        col("__dxx"), col("radius")))
    var state = Checkpoints.stage(
      base.crossJoin(kcCenterSide(c1))
        .select(col("id"), col("__v"), col("__dxx"),
          kcDistToCenter.as("__d2")))
    var i = 2
    while (i <= k) {
      val ci = Checkpoints.stage(
        state.orderBy(col("__d2").desc, col("id")).limit(1)
          .select(col("id"), col("__v"), col("__dxx"),
            col("__d2").as("radius")))
      centers += ci.select(lit(i).as("rank"), col("id"), col("__v"),
        col("__dxx"), col("radius"))
      if (i < k) {
        val next = Checkpoints.stage(
          state.crossJoin(kcCenterSide(ci))
            .select(col("id"), col("__v"), col("__dxx"),
              least(col("__d2"), kcDistToCenter).as("__d2")))
        org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(state)
        state = next
      }
      i += 1
    }
    centers.reduce(_.unionAll(_))
  }

  /** Persist the greedy k-center coreset (trace WITH vectors) as
    * `batch=0` of an incremental store — the warm-start base for
    * [[kCenterExtend]]. The store is k rows by construction; batches
    * hold DISJOINT rank ranges (extensions append ranks k+1…), so the
    * view is a plain union and a same-batch retry overwrites its own
    * directory idempotently.
    */
  def writeKCenterStore(corpus: DataFrame, id: Column, vec: Column,
                        k: Int, storeDir: String): Unit =
    kCenterStore(storeDir).writeBase(corpus.sparkSession,
      "writeKCenterStore(batch)", 1)(kCenterTrace(corpus, id, vec, k))

  /** The coreset store: rank → (id, __v, __dxx, radius), one file per
    * write; ranks never repeat across batches, so the view is every
    * row ([[KeyedStore.Rows]]).
    */
  private[graft] def kCenterStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "kCenterStore", Seq("rank" -> "int"),
      Seq("id" -> "bigint", "__v" -> "array<float>",
        "__dxx" -> "double", "radius" -> "double"),
      KeyedStore.Rows, manifest = false)

  /** The store's current coreset: (rank, id, radius), rank-ordered. */
  def kCenterStoreCenters(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String): DataFrame =
    kCenterStore(storeDir).current(spark)
      .select(col("rank"), col("id"), col("radius"))

  /** RETRACTION for the k-center coreset store — the trace twist on
    * rebuild-on-retract: the greedy trace is a pure function of the
    * corpus, and deleting a CENTER changes every later pick (each
    * argmax was chasing a coverage hole the deleted center no longer
    * plugs), so the store REBUILDS the full trace over the surviving
    * corpus, written as a superseding `gen=<head+1>` (atomic view
    * flip; later [[kCenterExtend]] batches continue above the
    * generation, monotone-guarded). Deleting only NON-centers is
    * provably a trace no-op — a non-center was never an argmax pick,
    * so removing it changes no pick and no radius (the spec pins it)
    * — which makes the cheap policy exact: rebuild only when a
    * retracted id appears in [[kCenterStoreCenters]]; otherwise the
    * store already equals the from-scratch trace over survivors.
    * `k` matches the store's CURRENT size (bootstrap k plus any
    * extensions), the knob-matching contract every rebuild here has.
    */
  def rebuildKCenterStore(survivingCorpus: DataFrame, id: Column,
                          vec: Column, k: Int, storeDir: String)
      : Long =
    kCenterStore(storeDir).supersede(survivingCorpus.sparkSession,
      "rebuildKCenterStore(batch)", 1)(
      kCenterTrace(survivingCorpus, id, vec, k))

  /** INCREMENTAL k-center coreset maintenance: extend the STORED
    * coreset with `kNew` farthest-first picks drawn from the new
    * batch only. Sound because adding centers never worsens any
    * point's distance-to-nearest-center: history points stay covered
    * within the stored radii, and the batch's escapes are exactly
    * what the new picks chase — the per-batch work is batch-sized
    * (never corpus-sized), the incremental contract every other
    * store here honors. The batch state seeds from ALL stored
    * centers via the same least-folded distance expression (least is
    * an exact min — order-insensitive — but the fold still runs in
    * rank order, matching the oracle's nest), then runs the standard
    * pick loop; new centers append as `batch=<id>` with ranks
    * continuing where the store ends. Deterministic end to end, so
    * the driver oracle replays history's trace AND the extension in
    * SQL and hash-matches.
    *
    * Returns the FULL coreset (rank, id, radius) through the new
    * picks. The rank scan of the store is a k-row driver collect —
    * bounded by the selection budget, never by data.
    */
  def kCenterExtend(batch: DataFrame, id: Column, vec: Column,
                    storeDir: String, batchId: Long, kNew: Int)
      : DataFrame = {
    val spark = batch.sparkSession
    val store = kCenterStore(storeDir)
    store.appending(spark, batchId, "kCenterExtend") {
    require(kNew >= 1, "kNew must be >= 1")
    val stored = Checkpoints.stage(store.view(spark, batchId))
    val ranks = stored.select(col("rank"))
      .as[Int](org.apache.spark.sql.Encoders.scalaInt)
      .collect().sorted
    require(ranks.nonEmpty, "empty k-center store")
    val base = Checkpoints.stage(
      batch.select(id.as("id"), vec.as("__v"))
        .withColumn("__dxx", dot(col("__v"), col("__v"))))
    // seed: least-fold the batch's distance over stored centers in
    // rank order (each a 1-row broadcast slice of the staged store)
    def centerAt(r: Int): DataFrame =
      kcCenterSide(stored.where(col("rank") === r))
    var state = Checkpoints.stage(
      ranks.tail.foldLeft(
        base.crossJoin(centerAt(ranks.head))
          .select(col("id"), col("__v"), col("__dxx"),
            kcDistToCenter.as("__d2"))) { (st, r) =>
        st.crossJoin(centerAt(r))
          .select(col("id"), col("__v"), col("__dxx"),
            least(col("__d2"), kcDistToCenter).as("__d2"))
      })
    val newCenters = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    var i = ranks.max + 1
    val last = ranks.max + kNew
    while (i <= last) {
      val ci = Checkpoints.stage(
        state.orderBy(col("__d2").desc, col("id")).limit(1)
          .select(col("id"), col("__v"), col("__dxx"),
            col("__d2").as("radius")))
      newCenters += ci.select(lit(i).as("rank"), col("id"),
        col("__v"), col("__dxx"), col("radius"))
      if (i < last) {
        val next = Checkpoints.stage(
          state.crossJoin(kcCenterSide(ci))
            .select(col("id"), col("__v"), col("__dxx"),
              least(col("__d2"), kcDistToCenter).as("__d2")))
        org.apache.spark.sql.GraftSqlBridge.freeLocalCheckpoint(state)
        state = next
      }
      i += 1
    }
    val added = Checkpoints.stage(newCenters.reduce(_.unionAll(_)))
    store.append(spark, "kCenterExtend(batch)", batchId, 1)(added)
    stored.select(col("rank"), col("id"), col("radius"))
      .unionAll(added.select(col("rank"), col("id"), col("radius")))
    }
  }

  // ---------- Late interaction (MaxSim, ColBERT-style) ----------

  /** Exact LATE-INTERACTION retrieval over multi-vector entities —
    * score(q, d) = Σ_{i ∈ q tokens} max_{j ∈ d tokens} ⟨q_i, d_j⟩,
    * per Khattab & Zaharia, "ColBERT" (SIGIR 2020). Inputs are
    * token-level rows: `qToks` (qa, qpos, vec), `dToks` (id, vec).
    *
    * Exact arm semantics and the oracle contract: the per-token dot
    * is the codegen'd left-fold [[VecDot]] (bit-exact vs a SQL
    * list_reduce), the per-(query, qtoken, doc) max is rounding-free,
    * and the final sum folds in ASCENDING qpos order from a +0.0 seed
    * — reduction-order-free, so scores hash-match an oracle
    * bit-for-bit. Quadratic in tokens BY DESIGN (the licensed
    * baseline, x_cosine_topk pattern); [[maxSimTopKIvf]] is the
    * scale path.
    */
  def maxSimTopK(qToks: DataFrame, dToks: DataFrame, k: Int)
      : DataFrame = {
    val q = qToks.select(col("qa"), col("qpos"), col("vec").as("__qv"))
    val c = dToks.select(col("id"), col("vec").as("__dv"))
    rankTopK(maxSimFold(c.crossJoin(broadcast(q))), k)
  }

  /** Shared exact-MaxSim scoring core over a (qa, qpos, id, __qv,
    * __dv) token-pair table: per-(qa, qpos, id) max dot, then the
    * qpos-ordered +0.0-seeded fold. Both arms run this identical
    * path, so the pruned arm cannot drift from the exact one on the
    * candidates it does score.
    */
  private def maxSimFold(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("qa"), col("qpos"), col("id"))
      .agg(max(dot(col("__qv"), col("__dv"))).as("__md"))
      .groupBy(col("qa"), col("id"))
      .agg(array_sort(collect_list(struct(col("qpos"), col("__md"))))
        .as("__l"))
      .select(col("qa"), col("id"),
        aggregate(col("__l"), lit(0.0),
          (acc, x) => acc + x.getField("__md")).as("score"))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("qa"))
          .orderBy(col("score").desc, col("id"))).cast("int"))
      .where(col("rank") <= k)
      .select(col("qa"), col("rank"), col("id"), col("score"))

  /** The 100 TB MaxSim arm: IVF candidate generation at the TOKEN
    * level — corpus tokens route to their nearest coarse cell (narrow
    * pass), query tokens probe `nprobe` cells, and only documents
    * owning at least one co-celled token are scored, by the same
    * exact [[maxSimScore]] core (full-fidelity re-rank on the
    * candidate set, approximate only in which documents reach it).
    * The cell join's fan-out is bounded by cell occupancy, not
    * |Q|·|C|; candidates dedup BEFORE the scoring join so each
    * (query, doc) pair is scored once.
    */
  def maxSimTopKIvf(qToks: DataFrame, dToks: DataFrame, k: Int,
                    cents: Array[Array[Double]], nprobe: Int = 4)
      : DataFrame = {
    val q = qToks.select(col("qa"), col("qpos"), col("vec").as("__qv"))
    val c = dToks.select(col("id"), col("vec").as("__dv"))
    val dCell = c.withColumn("__cell",
      element_at(topCellsCol(col("__dv"), cents, 1), 1))
    val qCell = q.withColumn("__cell",
      explode(topCellsCol(col("__qv"), cents, nprobe)))
    val cand = broadcast(qCell.select(col("qa"), col("__cell")))
      .join(dCell.select(col("id"), col("__cell")), Seq("__cell"))
      .select(col("qa"), col("id")).distinct()
    val pairs = c.join(cand, Seq("id"))
      .select(col("qa").as("__ca"), col("id"), col("__dv"))
      .join(broadcast(q), col("__ca") === col("qa"))
      .select(col("qa"), col("qpos"), col("id"), col("__qv"),
        col("__dv"))
    rankTopK(maxSimFold(pairs), k)
  }
}
