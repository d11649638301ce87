package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for training-data preparation: global
  * prefix sums over a total order (the primitive), token-budget
  * packing, deterministic global shuffling, and stratified sampling.
  *
  * Scale design: a global prefix sum is the sequential-looking op that
  * DOES distribute — range-partition on the order key, cumsum within
  * each partition (parallel window, no global sort into one task), and
  * add per-partition offsets computed from the tiny (one row per
  * partition) totals table. A naive `Window.orderBy(key)` without
  * `partitionBy` funnels the whole dataset through a single task; this
  * implementation never does.
  */
object Training {

  /** Exclusive prefix sum of `value` over the total order `order`
    * (which MUST be unique — ties would make partition placement, and
    * thus the sum, ambiguous). Adds `out` = sum of `value` over all
    * rows strictly before this one.
    *
    * Two-phase scan, ONE data shuffle: range-partition + sort by the
    * order key, then (a) per-partition totals via a map-side-partial
    * aggregate (the exchange carries one row per partition), collected
    * and prefix-summed on the driver — p values, not data; (b) a
    * partition-local `mapPartitionsWithIndex` running sum seeded with
    * each partition's offset. The naive alternatives both lose at
    * scale: `Window.orderBy` with no partition funnels everything
    * through one task, and a window keyed on `spark_partition_id()`
    * re-shuffles the full dataset because Catalyst cannot know the
    * rows are already pid-clustered — this is the genuine
    * per-partition-imperative case where mapPartitions is the right
    * tool. `repartitionByRange` samples boundaries with deterministic
    * seeds, so the split — and with a unique order key the result —
    * is reproducible; the staged materialization is shared between the
    * two phases ([[Checkpoints.stage]] — reliable `checkpoint()` when a
    * checkpoint dir is set, so a cluster run survives executor loss;
    * executor-local `localCheckpoint()` otherwise).
    */
  def withPrefixSum(df: DataFrame, order: Seq[Column], value: Column,
                    out: String, parts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p =
      if (parts > 0) parts
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val prepared = Checkpoints.stage(df
      .withColumn("__v", coalesce(value.cast("long"), lit(0L)))
      .repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*))
    val partSums = prepared
      .groupBy(spark_partition_id().as("__pid"))
      .agg(sum(col("__v")).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = new Array[Long](p)
    var acc = 0L
    (0 until p).foreach { i =>
      offsets(i) = acc
      acc += partSums.getOrElse(i, 0L)
    }
    val vIdx = prepared.schema.fieldIndex("__v")
    val outSchema = prepared.schema
      .add(org.apache.spark.sql.types.StructField(out,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = offsets(pid)
      it.map { r =>
        val withCum = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ run)
        run += r.getLong(vIdx)
        withCum
      }
    }
    spark.createDataFrame(rdd, outSchema).drop("__v")
  }

  /** Contiguous token-budget packing: walk the corpus in `order` and
    * cut a new bin every `budget` tokens — bin k holds the rows whose
    * exclusive prefix token-sum lies in [k·budget, (k+1)·budget). The
    * standard sharding step before sequence packing: each bin is one
    * training shard of ~budget tokens, and bin assignment is a pure
    * function of the corpus + order (reproducible across reruns).
    */
  def packBins(df: DataFrame, order: Seq[Column], tokens: Column,
               budget: Long): DataFrame =
    withPrefixSum(df, order, tokens, "__cum")
      .withColumn("bin", expr(s"__cum div ${budget}L"))
      .drop("__cum")

  /** [[packBins]] with the loader-facing POSITION metadata exposed:
    * `start`/`end` are the document's global token interval in corpus
    * order (exclusive prefix sum), `bin` its shard, and `offset` its
    * starting position WITHIN the shard — what a sequence-packing
    * loader needs to place attention-boundary resets without
    * re-scanning the shard. Same single-prefix-sum cost as packBins.
    */
  def packBinsWithOffsets(df: DataFrame, order: Seq[Column],
                          tokens: Column, budget: Long): DataFrame =
    withPrefixSum(df, order, tokens, "start")
      .withColumn("end", col("start") + tokens.cast("long"))
      .withColumn("bin", expr(s"start div ${budget}L"))
      .withColumn("offset", expr(s"start % ${budget}L"))

  /** Deterministic categorical encoding: dense integer codes for a
    * string/categorical column, assigned by the SORTED order of the
    * distinct values (code 1 = smallest value) — the StringIndexer
    * shape with a reproducibility contract: codes are a pure function
    * of the value SET, independent of row order, partitioning, and
    * frequencies (ML StringIndexer's frequency ordering reshuffles
    * codes whenever the distribution drifts; sorted-order codes only
    * change when the vocabulary itself does). Null values get a null
    * code (left join — the dead-letter stance).
    *
    * Scale: one distinct shuffle over values, a vocab-sized prefix-sum
    * rank (no global window), and a broadcast-gated join back on the
    * MEASURED vocab size.
    */
  def encodeCategorical(df: DataFrame, value: Column,
                        out: String): DataFrame = {
    // __cat, not __v: withPrefixSum claims __v internally
    val (vocab, nVocab) = Checkpoints.stageCount(
      df.select(value.as("__cat")).where(col("__cat").isNotNull)
        .distinct())
    // the prefix sum is EXCLUSIVE (first value ranks 0); +1 for the
    // documented 1-based codes
    val coded = withPrefixSum(vocab, Seq(col("__cat")), lit(1L), out)
      .withColumn(out, col(out) + 1)
    df.join(Regime.gate(nVocab)(coded), value <=> col("__cat"), "left")
      .drop("__cat")
  }

  /** Incremental [[encodeCategorical]] with STABLE codes — the
    * contract that matters once codes index embedding tables: values
    * already in the persisted vocabulary keep their codes FOREVER;
    * genuinely new values get dense codes after the current maximum,
    * in sorted order among themselves. Re-running a batch is
    * idempotent (no new values → no store change). The vocab store is
    * a tiny (value, code) parquet dir, overwritten atomically per
    * refresh from driver-side bounded state — vocabularies are
    * O(distinct values), not corpus-sized, by this operator's premise.
    *
    * Returns the encoded batch through the REFRESHED vocabulary.
    */
  def encodeCategoricalIncremental(df: DataFrame, value: Column,
                                   out: String, storeDir: String)
      : DataFrame = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val prior =
      if (fs.exists(new org.apache.hadoop.fs.Path(storeDir)))
        Some(spark.read.parquet(storeDir)
          .select(col("__cat"), col("__code")))
      else None
    val batchVocab = df.select(value.as("__cat"))
      .where(col("__cat").isNotNull).distinct()
    // freshness is judged against the VISIBLE vocab only — a
    // retracted value ([[retractCategorical]]'s NULL-ed rows) is
    // gone from the dictionary, so its re-ingestion legitimately
    // re-enters as a fresh entry with a fresh code
    val fresh = prior match {
      case Some(p) => batchVocab.join(
        p.where(col("__cat").isNotNull).select(col("__cat")),
        Seq("__cat"), "left_anti")
      case None => batchVocab
    }
    // coalesce guards the empty-store case (a first batch of only
    // nulls writes a zero-row store; max over it is null, and a bare
    // getLong would wedge every subsequent ingest). The max runs over
    // ALL rows including retracted (NULL-__cat) ones — a retracted
    // value's code stays RESERVED forever, so embedding-table rows
    // indexed by it are never silently re-bound to a new value
    val maxCode = prior
      .map(_.agg(coalesce(max(col("__code")), lit(0L))).head.getLong(0))
      .getOrElse(0L)
    val freshCoded = Checkpoints.stage(
      withPrefixSum(fresh, Seq(col("__cat")), lit(1L), "__code")
        .withColumn("__code", col("__code") + 1 + maxCode))
    val merged = Checkpoints.stage(prior match {
      case Some(p) => p.unionByName(freshCoded)
      case None => freshCoded
    })
    // `merged` is STAGED (materialized) above, so overwriting the dir
    // it was read from is safe; the write is overwrite-idempotent —
    // a crashed refresh is re-done identically on retry
    merged.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(storeDir)
    val vocabNow = spark.read.parquet(storeDir)
      .where(col("__cat").isNotNull) // retracted rows encode nothing
      .select(col("__cat"), col("__code").as(out))
    df.join(Regime.gate(vocabNow.count())(vocabNow), value <=> col("__cat"),
        "left")
      .drop("__cat")
  }

  /** RETRACTION for the categorical vocabulary — the APPEND-ONLY-INDEX
    * twist on right-to-be-forgotten: the value STRING is the personal
    * data, the dense code is just an embedding-table index whose
    * stability downstream models depend on. So a retracted value's
    * row keeps its code but loses its string (`__cat` := NULL):
    *  - the mapping disappears from every read and every freshness
    *    check immediately ([[encodeCategoricalIncremental]] filters
    *    NULL-__cat rows from the visible vocab);
    *  - the CODE stays reserved forever (the max-code scan reads all
    *    rows), so no future value is ever bound to the retracted
    *    value's embedding row;
    *  - re-ingestion of the same value re-enters as a FRESH entry
    *    with a fresh code — the old code's embedding row is orphaned,
    *    exactly what forgetting the association means.
    * Overwrite-idempotent (staged read-modify-write of the tiny vocab
    * artifact, the [[encodeCategoricalIncremental]] refresh
    * discipline); retracting an unknown value is a no-op.
    */
  def retractCategorical(spark: org.apache.spark.sql.SparkSession,
                         values: DataFrame, storeDir: String): Unit = {
    val del = values.select(values.columns.head).na.drop()
      .withColumnRenamed(values.columns.head, "__del").distinct()
    val updated = Checkpoints.stage(
      spark.read.parquet(storeDir)
        .join(broadcast(del), col("__cat") === col("__del"), "left")
        .select(
          when(col("__del").isNotNull, lit(null).cast("string"))
            .otherwise(col("__cat")).as("__cat"),
          col("__code")))
    updated.coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(storeDir)
  }

  /** Deterministic global shuffle: order by a cryptographic hash of the
    * unique `key` (md5 — engine-independent, seed-free) and emit the
    * 0-based position. Training-data loaders want a reproducible random
    * order; hash-ordering gives exactly that with no RNG state, and the
    * position comes from the distributed prefix-count (no global
    * single-task sort).
    */
  def shuffleOrder(df: DataFrame, key: Column): DataFrame = {
    val hashed = df.withColumn("__sk", md5(key.cast("string").cast("binary")))
    withPrefixSum(hashed, Seq(col("__sk"), key), lit(1L), "pos")
      .drop("__sk")
  }

  /** Weighted Bernoulli sample with integer-exact admission: keep a row
    * iff `fingerprint mod denom < weight`, i.e. with probability
    * weight/denom, where the fingerprint is the rolling polynomial
    * content hash (TextAnalysis.fingerprint — engine-independent,
    * seed-free). Weights are per-row integer columns (cap at denom for
    * certainty), so quality-weighted / length-weighted corpus sampling
    * is a pure function of content — stable under re-ingestion and
    * reproducible on any engine, unlike rand()-based sampling. Narrow
    * map: a filter over the scan, no shuffle.
    */
  def weightedBernoulli(df: DataFrame, content: Column, weight: Column,
                        denom: Int): DataFrame = {
    require(denom >= 1, "denom must be >= 1")
    df.where(pmod(TextAnalysis.fingerprint(content), lit(denom.toLong)) <
      weight.cast("long"))
  }

  /** Resample to a target domain mixture: given a positive integer
    * weight `parts` per stratum (e.g. web:4, books:2, code:1), keep the
    * largest total N the availability allows at exactly that mixture —
    * N = min_s floor(n_s · P / p_s) with P = Σ p_s — and admit the
    * first k_s = floor(p_s · N / P) rows of each stratum in
    * deterministic (md5(key), key) order. All-integer arithmetic: the
    * realized mixture is reproducible bit-for-bit, never a float
    * fraction rounded differently per engine.
    *
    * Scale: stratum counts and quotas are an O(#strata) aggregate
    * broadcast back. The per-stratum rank is DISTRIBUTED: strata here
    * are few by construction (web/books/code — 4 to 20 values), so a
    * `Window.partitionBy(stratum)` would funnel tens of TB through one
    * reducer per stratum. Instead the corpus is range-partitioned on
    * the total order (stratum, md5(key), key) via [[withPrefixSum]] —
    * every partition holds a contiguous SLICE of some stratum — and the
    * within-stratum rank falls out arithmetically: strata are
    * contiguous in that order, so rank = global position − the
    * stratum's first position (an O(#strata) min-aggregate, broadcast
    * back). No window over the data anywhere in the plan.
    */
  def mixToTarget(df: DataFrame, stratum: Column, key: Column,
                  parts: Column): DataFrame = {
    val counts = df
      .groupBy(stratum.as("__s"), parts.cast("long").as("__w"))
      .agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum(col("__w")).as("__tp"))
    val nb = counts.crossJoin(tot)
      .agg(min(expr("__n * __tp div __w")).as("__nb"),
        max(col("__tp")).as("__tp"))
    val quota = counts.crossJoin(broadcast(nb))
      .select(col("__s"), expr("__w * __nb div __tp").as("__k"))
    val ranked = withPrefixSum(df,
      Seq(stratum, md5(key.cast("string").cast("binary")), key),
      lit(1L), "__gpos")
    val starts = ranked.groupBy(stratum.as("__s2"))
      .agg(min(col("__gpos")).as("__off"))
    // null-SAFE joins: a NULL stratum is a stratum (the window-ranked
    // formulation partitions it as one; a plain === join would silently
    // drop every null-stratum row)
    ranked
      .join(broadcast(quota), stratum <=> col("__s"))
      .join(broadcast(starts), stratum <=> col("__s2"))
      .where(col("__gpos") - col("__off") < col("__k"))
      .drop("__gpos", "__s", "__k", "__s2", "__off")
  }

  /** Stratified 1-in-k sample: within each `stratum`, order rows by
    * (md5(key), key) — a deterministic shuffle — and keep the first
    * ceil(n/k). Integer-exact admission test ((rn−1)·k < n), no float
    * fractions. Every stratum keeps at least one row, so rare strata
    * (languages, sources) survive — the property plain `TABLESAMPLE`
    * does not give.
    *
    * Scale: strata are FEW by this operator's premise (languages,
    * sources), so a `Window.partitionBy(stratum)` funnels each
    * stratum — tens of TB at 100 TB corpus scale — through one
    * reducer. The per-stratum rank is instead DISTRIBUTED exactly as
    * [[mixToTarget]]: range-partition on the total order (stratum,
    * md5(key), key) via [[withPrefixSum]] — strata are contiguous in
    * that order — and rank = global position − the stratum's first
    * position, recovered from an O(#strata) min/count aggregate
    * broadcast back. No window over the data anywhere in the plan.
    */
  def stratifiedEveryK(df: DataFrame, stratum: Column, key: Column,
                       k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ranked = withPrefixSum(df,
      Seq(stratum, md5(key.cast("string").cast("binary")), key),
      lit(1L), "__gpos")
    val stats = ranked.groupBy(stratum.as("__s"))
      .agg(min(col("__gpos")).as("__off"), count(lit(1)).as("__n"))
    // null-SAFE join: a NULL stratum is a stratum (rare-strata-safe
    // includes the rows that LOST their stratum label; === would
    // silently drop them where the window formulation kept them)
    ranked
      .join(broadcast(stats), stratum <=> col("__s"))
      .where((col("__gpos") - col("__off")) * k < col("__n"))
      .drop("__gpos", "__s", "__off", "__n")
  }

  /** Curriculum ordering: a global training order by ascending
    * difficulty `score`, with a deterministic content-hash shuffle
    * within equal scores, plus an integer band id for
    * schedule-dependent treatment (band k = rows with pos·bands div N
    * = k — e.g. "anneal the hardest band last", "oversample band 0
    * early"). All integer arithmetic; pure function of the corpus.
    *
    * Scale: NO window anywhere — the global position comes from the
    * range-partitioned prefix sum ([[withPrefixSum]], the mixToTarget
    * machinery: a global window over 100 TB would funnel the corpus
    * through one reducer), and N is a 1-row aggregate broadcast back.
    */
  def curriculumOrder(df: DataFrame, key: Column, score: Column,
                      bands: Int): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    val ranked = withPrefixSum(df,
      Seq(score, md5(key.cast("string").cast("binary")), key),
      lit(1L), "pos")
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("band", expr(s"pos * $bands div __n"))
      .drop("__n")
  }

  /** Per-group percentile gate: keep the best `keepPct` percent of
    * rows WITHIN each group, ranked by `score` descending with `id` as
    * the deterministic tiebreak. The standard corpus-curation move —
    * "drop the worst 20% of each source by quality score" — expressed
    * so every engine reproduces the same survivor set: the admission
    * test is integer (rank·100 ≤ n·keepPct), never a float quantile.
    *
    * Scale: one shuffle on the group key (row_number + count share the
    * window). Exact per-group percentiles are inherently group-global;
    * when an approximate cut is acceptable at 100 TB, compute
    * per-group thresholds via approx percentile on an aggregate and
    * broadcast them back — this exact form is also the oracle for
    * validating that cheaper path.
    */
  def percentileGate(df: DataFrame, group: Column, score: Column,
                     id: Column, keepPct: Int): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, "keepPct in [0,100]")
    val w = Window.partitionBy(group).orderBy(score.desc, id)
    val cw = Window.partitionBy(group)
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .where(col("__rk") * 100 <= col("__n") * keepPct)
      .drop("__rk", "__n")
  }

  /** The 100 TB production path of [[percentileGate]]: per-group score
    * thresholds via `approx_percentile` (a mergeable sketch aggregate —
    * map-side partial, O(#groups × accuracy) state), broadcast back,
    * then a narrow `score >= threshold` filter. No window, no per-group
    * sort — the corpus shuffles once into the aggregate and then only
    * streams through the filter.
    *
    * Semantics vs the exact gate: the threshold is the group's
    * (100−keepPct)th percentile VALUE, and every row at or above it
    * survives — so ties at the threshold all pass (the exact gate
    * rank-splits them), and the sketch's rank error (≤ n/accuracy per
    * group) can shift the boundary by a few rows. When `accuracy`
    * exceeds the largest group size the sketch holds every value and
    * the threshold is an exact order statistic. [[percentileGate]] is
    * the oracle for this path; the shipped disagreement gate
    * (x_quality_gate_approx_err) machine-checks the bound.
    */
  def percentileGateApprox(df: DataFrame, group: Column, score: Column,
                           keepPct: Int, accuracy: Int = 10000)
      : DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, "keepPct in [0,100]")
    require(accuracy >= 1, "accuracy must be >= 1")
    val q = (100 - keepPct) / 100.0
    val th = df.groupBy(group.as("__g"))
      .agg(percentile_approx(score, lit(q), lit(accuracy)).as("__th"))
    df.join(broadcast(th), group === col("__g"))
      .where(score >= col("__th"))
      .drop("__g", "__th")
  }

  /** Normal-equation moments for distributed linear-model training —
    * the training half of the learned quality filter
    * (TextAnalysis.linearQualityScore is the inference half). For
    * INTEGER-valued features f_0..f_{k-1} and label y, emits the
    * sufficient statistics of least squares as rows
    * (i, j, s = Σ f_i·f_j) for 0 ≤ i ≤ j < k (the upper triangle of
    * XᵀX) and (i, −1, s = Σ f_i·y) (Xᵀy): everything a solver needs,
    * REDUCED — the model fit touches the corpus exactly once, in one
    * map-side-combined aggregate whose exchange carries
    * k(k+1)/2 + k longs, never rows. Integer features keep every sum
    * exact (BIGINT — caller must keep |f_i·f_j·n| < 2⁶³, true for
    * count-style text features at any corpus size that fits a Long),
    * so the statistics are bit-reproducible on any engine — the
    * training data-pass is oracle-checkable even though the solve is
    * not SQL-expressible.
    */
  def linearMoments(df: DataFrame, features: Seq[Column],
                    label: Column): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val k = features.length
    val f = df.select(
      features.zipWithIndex.map { case (c, i) =>
        c.cast("long").as(s"f_$i") } :+ label.cast("long").as("y"): _*)
    val sums = (for { i <- 0 until k; j <- i until k }
      yield sum(col(s"f_$i") * col(s"f_$j")).as(s"xtx_${i}_$j")) ++
      (0 until k).map(i => sum(col(s"f_$i") * col("y")).as(s"xty_$i"))
    val agg = f.agg(sums.head, sums.tail: _*)
    val entries =
      (for { i <- 0 until k; j <- i until k }
        yield struct(lit(i).as("i"), lit(j).as("j"),
          col(s"xtx_${i}_$j").as("s"))) ++
      (0 until k).map(i => struct(lit(i).as("i"), lit(-1).as("j"),
        col(s"xty_$i").as("s")))
    agg.select(explode(array(entries: _*)).as("__v"))
      .select(col("__v.i").as("i"), col("__v.j").as("j"),
        col("__v.s").as("s"))
      .orderBy(col("i"), col("j"))
  }

  /** Solve (XᵀX + ridge·I)·w = Xᵀy from [[linearMoments]] output —
    * Gaussian elimination with partial pivoting on the k×k system,
    * driver-side: the moments are O(k²) BY CONSTRUCTION (k = feature
    * count, never data-sized), the adjudicated bounded-collect class.
    * Returns the weight vector. `ridge > 0` guarantees a non-singular
    * system for degenerate (collinear-feature) corpora.
    */
  def solveNormalEquations(moments: DataFrame, k: Int,
                           ridge: Double = 0.0): Array[Double] = {
    val rows = moments.select(col("i"), col("j"), col("s")).collect()
    val a = Array.ofDim[Double](k, k + 1)
    rows.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val s = r.getLong(2)
      if (j < 0) a(i)(k) = s.toDouble
      else { a(i)(j) = s.toDouble; a(j)(i) = s.toDouble }
    }
    var d = 0
    while (d < k) { a(d)(d) += ridge; d += 1 }
    var c = 0
    while (c < k) {
      var piv = c
      var r = c + 1
      while (r < k) {
        if (math.abs(a(r)(c)) > math.abs(a(piv)(c))) piv = r
        r += 1
      }
      require(math.abs(a(piv)(c)) > 1e-12,
        s"singular normal equations at column $c (add ridge)")
      if (piv != c) { val t = a(piv); a(piv) = a(c); a(c) = t }
      r = 0
      while (r < k) {
        if (r != c) {
          val m = a(r)(c) / a(c)(c)
          var j2 = c
          while (j2 <= k) { a(r)(j2) -= m * a(c)(j2); j2 += 1 }
        }
        r += 1
      }
      c += 1
    }
    Array.tabulate(k)(i => a(i)(k) / a(i)(i))
  }

  /** SFT CONVERSATION ASSEMBLY with loss masks — the packing step
    * every instruction-tuning pipeline runs between raw dialogue rows
    * and the trainer: turns group by conversation, order by turn
    * index, render as `<role>text` segments, and each turn reports
    * its exact character span [start, end) in the assembled sequence
    * plus whether the loss is MASKED there (train only on the
    * `trainRoles` turns — the standard assistant-only loss).
    *
    * Spans come from one per-conversation prefix sum (window over the
    * conversation partition — conversations are small by construction,
    * so the window state is turns-per-conversation, never data-sized);
    * integer lengths + deterministic ordering make the whole surface
    * oracle-hashable. Downstream, [[packBinsWithOffsets]] packs whole
    * conversations into token budgets; the mask column rides along.
    * Returns one row per turn: (conv, turn, role, start, end, mask)
    * with `start`/`end` in characters of the rendered conversation.
    */
  def assembleConversations(df: DataFrame, conv: Column, turn: Column,
                            role: Column, text: Column,
                            trainRoles: Seq[String]): DataFrame = {
    val rendered = concat(lit("<"), role, lit(">"), text)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__conv")).orderBy(col("__turn"))
    df.select(conv.as("__conv"), turn.as("__turn"),
        role.as("__role"), length(rendered).cast("long").as("__len"))
      .withColumn("__start",
        coalesce(sum(col("__len")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__conv").as("conv"), col("__turn").as("turn"),
        col("__role").as("role"), col("__start").as("start"),
        (col("__start") + col("__len")).as("end"),
        (!col("__role").isin(trainRoles: _*)).as("mask"))
  }

  /** Packs ASSEMBLED conversations ([[assembleConversations]] output)
    * into the contiguous training stream with `budget`-sized shards —
    * the GPT-style concatenate-everything layout: conversations lay
    * end-to-end in conversation order, `bin` is the fixed-size shard
    * window holding each turn's START, and the loader's attention
    * resets come from conversation offsets, not shard edges (a
    * conversation may straddle a shard boundary; true atomic next-fit
    * packing is a sequential fold and would not distribute). Every
    * turn lands at `offset = conversation start in the stream + local
    * span start`, so the loss mask rides each turn with its exact
    * global character interval. Returns one row per turn:
    * (conv, turn, role, bin, offset, end_offset, mask).
    *
    * Scale: conversation lengths are a conv-sized aggregate (max of
    * `end` — spans tile the conversation, so the last end IS the
    * length); the pack is one [[packBinsWithOffsets]] prefix sum over
    * that conv-sized table, joined back count-gated-broadcast. No
    * data-sized shuffle beyond the groupBy; the turn table itself is
    * never globally sorted.
    */
  def packConversations(turns: DataFrame, budget: Long): DataFrame = {
    val (convLens, nConv) = Checkpoints.stageCount(
      turns.groupBy(col("conv").as("__pconv"))
        .agg(max(col("end")).as("__clen")))
    val packed = packBinsWithOffsets(convLens, Seq(col("__pconv")),
        col("__clen"), budget)
      .select(col("__pconv"), col("start").as("__cstart"))
    turns.join(Regime.gate(nConv)(packed), col("conv") === col("__pconv"))
      .select(col("conv"), col("turn"), col("role"),
        expr(s"(__cstart + start) div ${budget}L").as("bin"),
        (col("__cstart") + col("start")).as("offset"),
        (col("__cstart") + col("end")).as("end_offset"), col("mask"))
  }

  /** PREFERENCE-PAIR ASSEMBLY (the DPO/RLHF data step): from scored
    * candidate responses per prompt, emit one (chosen, rejected) pair
    * per prompt — the highest- vs lowest-scored candidate — keeping
    * only prompts with ≥2 candidates and a score margin ≥ `margin`
    * (near-tied pairs teach the reward model nothing and add label
    * noise). Ties break deterministically toward the larger (chosen)
    * / smaller (rejected) candidate id via lexicographic struct
    * ordering, so the pair set is a pure function of the input set.
    *
    * Scale: ONE hash aggregate with map-side partials — per-prompt
    * state is two (score, id) structs and a count, never the
    * candidate list; no window, no join, no driver state.
    */
  def preferencePairs(df: DataFrame, prompt: Column, cand: Column,
                      score: Column, margin: Double): DataFrame =
    df.select(prompt.as("__p"), cand.as("__c"),
        score.cast("double").as("__s"))
      .groupBy(col("__p"))
      .agg(max(struct(col("__s"), col("__c"))).as("__hi"),
        min(struct(col("__s"), col("__c"))).as("__lo"),
        count(lit(1)).as("__n"))
      .where(col("__n") >= 2 &&
        (col("__hi.__s") - col("__lo.__s")) >= margin)
      .select(col("__p").as("prompt"),
        col("__hi.__c").as("chosen"),
        col("__hi.__s").as("chosen_score"),
        col("__lo.__c").as("rejected"),
        col("__lo.__s").as("rejected_score"),
        (col("__hi.__s") - col("__lo.__s")).as("margin"))

  /** LEAKAGE-SAFE train/val/test assignment: a fingerprint split (the
    * x_split_assign discipline) is stable per document, but near-
    * duplicate documents have DIFFERENT texts — a naive per-doc split
    * scatters a duplicate cluster across train and test, and the
    * model is then evaluated on paraphrases of its own training data
    * (the dedup-then-split ordering bug every eval-contamination
    * audit hunts for). Here the unit of assignment is the DUPLICATE
    * CLUSTER: connected components over the near-dup pair edges give
    * the clusters (docs in no pair are singletons), each cluster's
    * split key is the MINIMUM member fingerprint — a pure function of
    * the cluster's CONTENT set, independent of ids, ingestion order,
    * and partitioning — and every member inherits the cluster's
    * bucket (`< trainPct` → train, `< trainPct+valPct` → val, else
    * test, over fingerprint mod 100). Singleton clusters reproduce
    * the naive split exactly, so enabling safety never reshuffles the
    * unduplicated mass.
    *
    * `docs` rows are (id, key) with `key` the per-doc content
    * fingerprint (non-negative); `pairs` the near-dup edge list.
    * Returns (id, split).
    *
    * Scale: the CC machinery is the proven log-round hybrid
    * ([[Graph.connectedComponents]], pair-sized); the cluster key is
    * one map-side-combinable min aggregate; the join back is
    * cluster-keyed with fixed-width rows. No windows, no driver
    * state.
    */
  def leakageSafeSplit(docs: DataFrame, id: Column, key: Column,
                       pairs: DataFrame, a: Column, b: Column,
                       trainPct: Int = 90, valPct: Int = 5)
      : DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "need 0 <= trainPct + valPct <= 100")
    val d = docs.select(id.as("__id"), key.as("__k"))
    val comp = Graph.connectedComponents(pairs, a, b)
      .select(col("id").as("__id"), col("comp").as("__c0"))
    val withC = d.join(comp, Seq("__id"), "left")
      .select(col("__id"), col("__k"),
        coalesce(col("__c0"), col("__id")).as("__c"))
    val ck = withC.groupBy(col("__c"))
      .agg(min(col("__k")).as("__ck"))
    withC.join(ck, Seq("__c"))
      .select(col("__id").as("id"),
        when(pmod(col("__ck"), lit(100)) < trainPct, "train")
          .when(pmod(col("__ck"), lit(100)) < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** LENGTH-BUCKETED BATCH ASSEMBLY (dynamic batching): order
    * sequences by (length, id), cut into fixed-size batches of
    * `batchSize`, and report each batch's padding waste — the cost a
    * padded-batch trainer pays is batchSize·max(len) − Σlen, and
    * sorting by length before cutting is the standard way to drive it
    * toward zero (unsorted batches pay the global max). Returns one
    * row per batch: (batch, n_seqs, max_len, sum_len, padding).
    *
    * Scale: the global rank is the distributed prefix sum (range-
    * partitioned, never a single-task window); the per-batch fold is
    * one map-side-partial aggregate. The ORDER (length, id) must be
    * total — id uniqueness is the caller's contract, as everywhere
    * the prefix-sum machinery is used.
    */
  def lengthBatches(df: DataFrame, id: Column, len: Column,
                    batchSize: Long): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val base = df.select(id.as("__id"),
      len.cast("long").as("__len"))
    withPrefixSum(base, Seq(col("__len"), col("__id")), lit(1L),
        "__rank")
      .withColumn("batch", expr(s"__rank div ${batchSize}L"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_seqs"), max(col("__len")).as("max_len"),
        sum(col("__len")).as("sum_len"))
      .select(col("batch"), col("n_seqs"), col("max_len"),
        col("sum_len"),
        (col("n_seqs") * col("max_len") - col("sum_len"))
          .as("padding"))
  }

  /** SPLIT-LEAKAGE AUDIT: for an assignment (id, split) and the
    * near-dup pair edges, count the pairs whose endpoints landed in
    * DIFFERENT splits — the contamination a leakage-safe split must
    * drive to zero (and a naive per-doc split leaves behind). Returns
    * one row per (split_a, split_b) combination with split_a <
    * split_b plus the crossing count; an empty result means no
    * leakage.
    *
    * Scale: two id-keyed joins of the pair list against the
    * assignment (pair-sized shuffles, fixed-width rows) and one
    * combination-keyed count — never corpus² anything.
    */
  def splitLeakage(assign: DataFrame, id: Column, split: Column,
                   pairs: DataFrame, a: Column, b: Column)
      : DataFrame = {
    val s = assign.select(id.as("__id"), split.as("__s"))
    pairs.select(a.as("__pa"), b.as("__pb"))
      .join(s.select(col("__id").as("__pa"), col("__s").as("__sa")),
        Seq("__pa"))
      .join(s.select(col("__id").as("__pb"), col("__s").as("__sb")),
        Seq("__pb"))
      .where(col("__sa") =!= col("__sb"))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("crossing"))
  }
}
