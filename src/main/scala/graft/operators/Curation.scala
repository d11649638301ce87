package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for raw-crawl → training-corpus refinement:
  * markup extraction, token-window chunking, eval-set decontamination,
  * and within-document repetition signals (the Gopher-style quality
  * rules of Rae et al. 2021, §A1.1).
  *
  * Scale design: every per-document computation here is a NARROW map —
  * n-gram sets are built as per-row arrays (no explode→distinct shuffle
  * for the within-doc signals), so 100 TB of documents stream through
  * scan-shaped stages. The only shuffles are the ones the semantics
  * force: the decontamination join (against a broadcast eval-set) and
  * its per-doc count aggregate.
  *
  * Reproducibility: tokenization is `split(text, " ")` and hashing is
  * never involved — every output is a pure string/integer function of
  * the document, so results are engine-independent (DuckDB-oracle-
  * checkable) and stable across reruns/reorderings.
  */
object Curation {

  /** Word n-grams as a per-row array (space tokenization, empty tokens
    * kept — the same token algebra as TextAnalysis.tokens). Documents
    * with fewer than n tokens yield an empty array. Narrow — no shuffle.
    * Evaluated by the native ShinglesExpr (one compiled loop per row);
    * the interpreted transform/slice/concat_ws lambda chain it replaces
    * is ~10× slower per row (NativeExprSpec pins the equivalence).
    */
  def ngramArray(text: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.ShinglesExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text), n))
  }

  /** Extract visible text from HTML: drop <script>/<style> blocks
    * wholesale, strip remaining tags, decode the common entities, and
    * collapse whitespace. Pattern syntax is restricted to the subset
    * java.util.regex and RE2 interpret identically (explicit character
    * classes, no backreferences), so extraction is reproducible across
    * engines — the property a dataset card can actually promise.
    * Narrow map over the scan; no shuffle.
    */
  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(?:script|style)\\b[^>]*>.*?</(?:script|style)\\s*>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        replace(c, lit(ent), lit(ch))
      }
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** Fixed-size token windows with overlap (stride < chunk ⇒ adjacent
    * chunks share chunk−stride tokens) — the standard pre-tokenization
    * sharding step for long documents. One output row per (doc, window
    * start 0, stride, 2·stride, …); the final window may be short.
    * Implemented as posexplode over a per-row transform — the chunking
    * itself is narrow; row count grows by ~len/stride.
    */
  def chunkTokens(df: DataFrame, id: Column, text: Column,
                  chunk: Int, stride: Int): DataFrame = {
    require(chunk >= 1, "chunk must be >= 1")
    require(stride >= 1, "stride must be >= 1")
    val toks = split(text, " ")
    val pieces = transform(
      sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
      s => struct(
        array_join(slice(toks, s + 1, lit(chunk)), " ").as("chunk"),
        least(size(toks) - s, lit(chunk)).cast("long").as("n_tok")))
    df.select(id.as("id"), posexplode(pieces).as(Seq("chunk_id", "__c")))
      .select(col("id"), col("chunk_id"),
        col("__c.chunk").as("chunk"), col("__c.n_tok").as("n_tok"))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word n-gram with an evaluation set (Brown et al. 2020 §C; n=8..13
    * in practice — the fixtures' vocabulary is tiny so tests use
    * smaller n). Returns (id, n_shared) for contaminated documents
    * only, where n_shared counts the doc's DISTINCT n-grams that occur
    * anywhere in the eval set.
    *
    * Scale: the eval side (benchmarks — thousands of docs) aggregates
    * to a distinct-gram set and BROADCASTS; the 100 TB train side then
    * joins map-side with no shuffle of the corpus — the only wide op is
    * the per-doc count aggregate over the (rare) matches. Per-doc gram
    * dedup happens in the narrow array domain (array_distinct), not via
    * a distinct shuffle.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    id: Column, text: Column, n: Int): DataFrame = {
    val evalGrams = evalSet
      .select(explode(ngramArray(text, n)).as("gram")).distinct()
    val trainGrams = train
      .select(id.as("id"), explode(array_distinct(ngramArray(text, n)))
        .as("gram"))
    trainGrams.join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-gated decontamination — identical results to
    * [[decontaminate]], different 100 TB posture. The exact form
    * broadcasts the full distinct eval-gram STRING set; a real eval
    * harness (dozens of benchmarks × 8..13-grams) makes that a
    * multi-GB broadcast. Here the eval grams fold into a Bloom filter
    * over xxhash64(gram) (Spark's own BloomFilterAggregate — the
    * engine's runtime-filter sketch), whose fixed `numBits/8` bytes
    * ship as a literal: the corpus is pre-filtered map-side by the
    * sketch, and only the (rare) might-contain survivors flow into an
    * exact confirm join — a shuffle-hash join, so the exact gram set
    * is never broadcast at all. False positives cost confirm-join
    * rows, never rows in the answer; the result is bit-identical to
    * [[decontaminate]] and shares its oracle.
    *
    * The sketch is sized from the MEASURED distinct eval-gram count
    * (already materialized for the confirm join): 8 bits per gram
    * ≈ 2% fpp, never above `maxBits` — so a toy eval set ships
    * kilobytes while the cap (Spark's runtime-filter default, 8 MiB)
    * bounds the 100 TB regime. The collect is O(bits/8) driver
    * traffic by construction — the fitCentroids pattern.
    */
  def decontaminateBloom(train: DataFrame, evalSet: DataFrame,
                         id: Column, text: Column, n: Int,
                         maxItems: Long = 4000000L,
                         maxBits: Long = 67108864L): DataFrame = {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val (evalGrams, nGrams) = Checkpoints.stageCount(evalSet
      .select(explode(ngramArray(text, n)).as("gram")).distinct())
    val items = math.max(1L, math.min(nGrams, maxItems))
    val bits = math.max(64L, math.min(items * 8L, maxBits))
    // Null sketch (empty eval set) keeps working: might_contain(null)
    // is null, the filter keeps nothing, and the empty answer matches
    // the exact form's.
    val sketch = evalGrams.agg(bridge.toColumn(
        new BloomFilterAggregate(
          bridge.toExpression(xxhash64(col("gram"))),
          Literal(items), Literal(bits)).toAggregateExpression())
        .as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val trainGrams = train
      .select(id.as("id"), explode(array_distinct(ngramArray(text, n)))
        .as("gram"))
    val pre = trainGrams.where(bridge.toColumn(BloomFilterMightContain(
      Literal.create(sketch, BinaryType),
      bridge.toExpression(xxhash64(col("gram"))))))
    pre.join(evalGrams.hint("shuffle_hash"), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Corpus-level line deduplication (RefinedWeb/C4-style boilerplate
    * removal): drop every line whose total occurrence count across the
    * corpus exceeds `maxDf` — navigation chrome, cookie banners,
    * "subscribe" calls-to-action repeat across millions of pages while
    * content lines are near-unique. Lines are exact-match segments on
    * the LITERAL `sep`; surviving lines are re-joined in their
    * original order; documents with no surviving line (pure
    * boilerplate) are dropped.
    *
    * Scale: the line-frequency pass counts on `xxhash64(line)` — the
    * exchange carries an 8-byte key + count, never line STRINGS
    * (content lines are near-unique, so a string-keyed aggregate would
    * push ~the whole corpus as text through the wire; the
    * ngramJaccardPairs shuffle-payload rule). Over-`maxDf` hash
    * candidates are then exact-confirmed against real lines — the
    * decontaminateBloom prefilter-then-confirm pattern: a second
    * map-side scan keeps only candidate-hash lines (a broadcast semi
    * join on the boilerplate-sized hash set) and recounts them BY
    * STRING, so a hash collision can only add a confirm-join row,
    * never drop a rare line. The confirmed set is boilerplate-sized —
    * small by the op's own premise — so the MEASURED-size gate (the
    * charTrigramFamiliarity pattern) inlines it into a narrow
    * hash-set filter expression: pass 2 is then a pure map with
    * document order preserved for free — no anti-join, no collect_list
    * reassembly shuffle, the 100 TB corpus crosses the wire zero more
    * times. Only when the set exceeds `inlineLimit` (collected via a
    * limit, so the driver never holds more than that) does it fall
    * back to the relational form: anti-join on line + ordered re-join
    * per doc (2 corpus shuffles). Both arms are row-identical.
    */
  def dropFrequentLines(df: DataFrame, id: Column, text: Column,
                        maxDf: Long, sep: String = "\n",
                        inlineLimit: Int = 100000): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val pat = java.util.regex.Pattern.quote(sep)
    val src = Layout.fanOutSmallScan(df.select(id.as("id"), text.as("__t")))
    val freq = confirmedFrequentLines(src, pat, maxDf)
    val set = freq.select(col("line")).limit(inlineLimit + 1)
      .collect().map(_.getString(0))
    if (set.length <= inlineLimit) {
      val bridge = org.apache.spark.sql.GraftSqlBridge
      val cleaned = bridge.toColumn(graft.functions.DropLinesExpr(
        bridge.toExpression(col("__t")), sep, set))
      src.select(col("id"), cleaned.as("text"))
        .where(col("text").isNotNull)
    } else {
      val lines = src.select(col("id"),
        posexplode(split(col("__t"), pat)).as(Seq("pos", "line")))
      lines.join(freq.select(col("line")).hint("shuffle_hash"),
          Seq("line"), "left_anti")
        .groupBy(col("id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), sep).as("text"))
    }
  }

  /** The two-pass frequent-line set of [[dropFrequentLines]]: hash-keyed
    * frequency (fixed-width exchange over the full corpus) → exact
    * string recount of the candidate hashes only. Returns (line, df)
    * with the EXACT per-string df > maxDf — hash collisions can inflate
    * a candidate hash's count (adding a confirm row) but the string
    * recount makes the final set collision-proof. `src` must expose the
    * line source as `__t`.
    *
    * The candidate-hash set is boilerplate-sized by the op's premise,
    * but the premise is MEASURED, not assumed (the charTrigram gate
    * pattern): the staged hash set is counted, and only when the count
    * fits [[Regime]] does it broadcast into the confirm semi
    * join — a duplicate-heavy corpus with a low maxDf (candidates ≈
    * distinct lines) takes a shuffle-hash semi join instead of an
    * over-limit broadcast.
    */
  private[graft] def confirmedFrequentLines(
      src: DataFrame, pat: String, maxDf: Long): DataFrame = {
    val lines = src.select(explode(split(col("__t"), pat)).as("line"))
    val (candHashes, nCand) =
      Checkpoints.stageCount(lineHashFrequencies(src, pat, maxDf))
    val candSide =
      if (Regime.fits(nCand)) broadcast(candHashes)
      else candHashes.hint("shuffle_hash")
    lines
      .join(candSide, xxhash64(col("line")) === col("lh"), "left_semi")
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
  }

  /** Pass 1 of [[confirmedFrequentLines]], pre-staging: the over-maxDf
    * xxhash64(line) candidate set. Exposed (package-test) so the plan
    * spec can assert the corpus-wide frequency exchange carries
    * fixed-width keys, which staging would otherwise hide from the
    * consuming plan.
    */
  private[graft] def lineHashFrequencies(src: DataFrame, pat: String,
                                         maxDf: Long): DataFrame =
    src.select(explode(split(col("__t"), pat)).as("line"))
      .select(xxhash64(col("line")).as("lh"))
      .groupBy(col("lh")).agg(count(lit(1)).as("hdf"))
      .where(col("hdf") > maxDf)
      .select(col("lh"))

  /** Character trigrams as a per-row array (sliding window over the
    * raw string, overlapping, multiplicity kept). Texts shorter than 3
    * chars yield an empty array. Narrow.
    */
  def charTrigrams(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.CharTrigramsExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text)))

  /** Corpus-trained familiarity score — the integer-exact core of
    * KenLM-style quality filtering: count every char trigram over the
    * whole corpus, then score each document by the summed corpus
    * frequency of its own trigram occurrences (`fam`; normalize by
    * `n_tri` downstream). Low familiarity ⇒ text unlike the corpus
    * (boilerplate, mojibake, wrong language). Pure counting — no float
    * log-probs — so scores are bit-reproducible on any engine.
    *
    * Scale: "the trigram vocabulary is tiny" holds for ASCII corpora
    * but NOT for a multilingual 100 TB crawl — CJK/emoji trigram
    * vocabularies run to hundreds of millions of entries, an
    * executor-OOM broadcast. So the join strategy is gated on the
    * MEASURED vocabulary: the count table is materialized once
    * (localCheckpoint — it is vocab-sized, not corpus-sized), its row
    * count decides broadcast vs shuffle-hash join, and the measurement
    * job is the same aggregation the join needs anyway. `minCount`
    * optionally frequency-floors the table first (trigrams seen fewer
    * than minCount times contribute ~nothing to familiarity but
    * dominate a heavy-tailed vocabulary); with a floor, `n_tri` counts
    * only the doc's above-floor trigram occurrences — keep the default
    * 1 for the exact semantics. The corpus side never shuffles beyond
    * the two aggregates either way.
    */
  def charTrigramFamiliarity(df: DataFrame, id: Column, text: Column,
                             minCount: Long = 1L)
      : DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    // Two corpus passes (count, then score) of per-row-expensive
    // trigram expansion: make sure a small scan doesn't serialize them
    // on one task (no-op at scale — see Layout.fanOutSmallScan).
    val src = Layout.fanOutSmallScan(df.select(id.as("id"), text.as("__t")))
    val tri = src.select(col("id"), explode(charTrigrams(col("__t"))).as("tg"))
    val all = tri.groupBy(col("tg")).agg(count(lit(1)).as("c"))
    val (counts, vocab) = Checkpoints.stageCount(
      if (minCount > 1) all.where(col("c") >= minCount) else all)
    val joined =
      if (Regime.fits(vocab)) tri.join(broadcast(counts), Seq("tg"))
      else tri.join(counts.hint("shuffle_hash"), Seq("tg"))
    joined.groupBy(col("id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("c")).as("fam"))
  }

  /** Within-document repetition signal: total vs distinct word n-gram
    * counts and a duplicate-fraction flag (duplicate-gram share >
    * dupPctMax% ⇒ repetitive — Gopher-style quality rule). Integer
    * arithmetic only (the flag compares n·100 vs n·pct), so the
    * decision is bit-reproducible — no float fraction thresholds.
    * Fully narrow: both counts come from the per-row gram array.
    */
  def repetitionStats(df: DataFrame, id: Column, text: Column,
                      n: Int = 3, dupPctMax: Int = 20): DataFrame = {
    require(dupPctMax >= 0 && dupPctMax <= 100, "dupPctMax in [0,100]")
    val g = ngramArray(text, n)
    df.select(id.as("id"),
        size(g).cast("long").as("n_grams"),
        size(array_distinct(g)).cast("long").as("n_distinct"))
      .withColumn("is_repetitive",
        (col("n_grams") - col("n_distinct")) * 100 >
          col("n_grams") * dupPctMax)
  }

  /** Row-level provenance: stamp every row with the basename of the
    * data file it was read from, via the file-source `_metadata`
    * struct (zero-cost — populated by the scan, no extra I/O).
    *
    * Why it matters for training corpora: dataset ablations,
    * contamination tracebacks, and takedown requests all ask "which
    * shard did this example come from" — answerable only if lineage is
    * stamped at ingest and carried through the pipeline. Basename (not
    * the full URI) so results are stable across mounts/replicas of the
    * same layout.
    *
    * The input must be a direct file-source scan (parquet/json/csv
    * read) — `_metadata` is resolved by the scan node, not by derived
    * plans.
    */
  def withSourceFile(df: DataFrame,
                     colName: String = "src_file"): DataFrame =
    df.withColumn(colName,
      regexp_extract(col("_metadata.file_path"), "[^/]+$", 0))

  /** Content-defined chunk windows (CdcWindowsExpr): the `window`-char
    * substrings starting at every anchor position — positions whose
    * `anchorLen`-char polynomial fingerprint is ≡ 0 mod `anchorMod`.
    * Anchors are a pure function of local content, so a passage shared
    * by two documents emits identical windows in both REGARDLESS of
    * its offset in each — the property that makes substring-level
    * dedup (Lee et al. 2022's axis: repeated PASSAGES, not repeated
    * documents) detectable without quadratic alignment. Narrow map.
    */
  def cdcWindows(text: Column, window: Int = 40, anchorLen: Int = 8,
                 anchorMod: Int = 16): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.CdcWindowsExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text),
        window, anchorLen, anchorMod))

  /** Substring-level duplicate pairs: documents sharing at least one
    * identical content-defined window ([[cdcWindows]]), with the count
    * of distinct shared window strings per pair. The span-level dedup
    * axis document/near-dup operators miss: two long documents that
    * each embed the same boilerplate passage are flagged here even
    * when their overall similarity is far below any near-dup
    * threshold.
    *
    * Scale shape (the ngramJaccardPairs shuffle-payload rule):
    * 1. windows emit per-row, then only (id, xxhash64(window)) rides
    *    the candidate shuffles — 12 bytes/window, never window TEXT;
    * 2. buckets keyed by window hash pair up in-bucket (docs sharing
    *    that hash), `maxBucket`-capped against degenerate boilerplate
    *    (a window shared by >maxBucket docs is dropped — it is
    *    boilerplate for dropFrequentLines, not a pair signal);
    * 3. candidate pairs are exact-confirmed BY STRING: window text is
    *    re-derived only for candidate documents (a semi join on the
    *    candidate id set), so an xxhash64 collision can only add a
    *    candidate row that string-equality then rejects — never a
    *    false pair, and colliding-but-distinct windows inside one
    *    document cannot shadow each other because the confirm pass
    *    re-expands ALL of a candidate document's windows.
    * Output: (id_a, id_b, n_shared), id_a < id_b.
    */
  /** The 1-based anchor positions behind [[cdcWindows]] (same
    * predicate, positions instead of strings) — for span operations.
    */
  def cdcAnchorPositions(text: Column, window: Int = 40,
                         anchorLen: Int = 8,
                         anchorMod: Int = 16): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.CdcAnchorsExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text),
        window, anchorLen, anchorMod))

  /** Substring-level SCRUB — the action half of [[substringDupPairs]]:
    * for every content-defined window string shared by ≥ 2 documents,
    * the minimum-id document KEEPS its text; every other occurrence of
    * that window is removed (span union, overlaps merged, remaining
    * segments concatenated in order). The passage-level analog of
    * dropFrequentLines' maxDf rule: repeated PASSAGES vanish from all
    * but one canonical holder while unique content survives untouched.
    *
    * Exactness and scale follow [[substringDupPairs]]: the corpus-wide
    * bucket pass shuffles only (id, pos, xxhash64(win)); keeper
    * election and span selection run on re-derived window STRINGS for
    * candidate documents only, so a hash collision can only add a
    * candidate row that string comparison then ignores. Windows shared
    * by more than `maxBucket` documents are boilerplate
    * (dropFrequentLines' domain) and are left unscrubbed here.
    * Output: (id, text) for EVERY input document, scrubbed where
    * spans applied.
    */
  def scrubSharedWindows(df: DataFrame, id: Column, text: Column,
                         window: Int = 40, anchorLen: Int = 8,
                         anchorMod: Int = 16,
                         maxBucket: Int = 10000): DataFrame = {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    val base = df.select(id.as("id"), text.as("text"))
    def expand(src: DataFrame): DataFrame = src
      .select(col("id"), col("text"),
        explode(cdcAnchorPositions(col("text"), window, anchorLen,
          anchorMod)).as("pos"))
      .select(col("id"), col("pos"),
        col("text").substr(col("pos"), lit(window)).as("win"))
    // corpus pass: fixed-width (id, pos, h) only
    val posH = expand(base)
      .select(col("id"), col("pos"), xxhash64(col("win")).as("h"))
    val okBuckets = posH.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2 && col("n_docs") <= maxBucket)
      .select(col("h"))
    val candIds = posH.join(okBuckets.hint("shuffle_hash"), Seq("h"))
      .select(col("id")).distinct()
    // confirm pass: window STRINGS for candidate docs only
    val candWins = Checkpoints.stage(expand(
      base.join(candIds.hint("shuffle_hash"), Seq("id"), "left_semi")))
    val shared = candWins.select(col("id"), col("win")).distinct()
      .groupBy(col("win"))
      .agg(min(col("id")).as("keeper"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .select(col("win"), col("keeper"))
    val spans = candWins
      .join(shared.hint("shuffle_hash"), Seq("win"))
      .where(col("id") =!= col("keeper"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    val scrubbed = bridge.toColumn(graft.functions.DropSpansExpr(
      bridge.toExpression(col("text")),
      bridge.toExpression(col("ps")), window))
    base.join(spans, Seq("id"), "left")
      .select(col("id"),
        when(col("ps").isNull, col("text"))
          .otherwise(scrubbed).as("text"))
  }

  /** Window fingerprints behind the incremental substring store: the
    * PolyFp hash of each content-defined window (CdcFingerprintsExpr)
    * — oracle-computable, unlike xxhash64, so the store gate below is
    * hash-checkable against a full-recompute SQL mirror.
    */
  def cdcFingerprints(text: Column, window: Int = 40, anchorLen: Int = 8,
                      anchorMod: Int = 16): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.CdcFingerprintsExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(text),
        window, anchorLen, anchorMod))

  private[graft] def windowFpRows(df: DataFrame, id: Column, text: Column,
                                  window: Int, anchorLen: Int,
                                  anchorMod: Int): DataFrame =
    df.select(id.as("id"),
        explode(cdcFingerprints(text, window, anchorLen, anchorMod))
          .as("fp"))
      .distinct()

  /** Persist a corpus's content-defined window fingerprints as the
    * substring-dedup STORE ([[Layout.WindowFps]]): (fp, id) rows
    * range-clustered by fp into `filesOut` files plus a footer-stats
    * manifest — the same layout discipline as the banded MinHash
    * store, on the single key the substring axis needs. A batch gate's
    * manifest-pruned store scan opens only the files whose fp range
    * intersects the batch's fingerprints.
    */
  def writeWindowStore(df: DataFrame, id: Column, text: Column,
                       storeDir: String, manifestPath: String,
                       filesOut: Int, window: Int = 40,
                       anchorLen: Int = 8, anchorMod: Int = 16): Unit =
    Stats.withWriterLease(df.sparkSession, Seq(storeDir),
        "writeWindowStore(batch)") {
    Layout.WindowFps.write(
      windowFpRows(df, id, text, window, anchorLen, anchorMod),
      storeDir, manifestPath, filesOut)
  }

  /** Append a batch's window fingerprints to an existing store
    * (continuous ingestion); the manifest refresh reads footers only
    * for the new files. Fold accumulated appends with
    * [[compactWindowStore]] on the usual cadence.
    */
  def appendWindowStore(df: DataFrame, id: Column, text: Column,
                        storeDir: String, manifestPath: String,
                        filesOut: Int, window: Int = 40,
                        anchorLen: Int = 8, anchorMod: Int = 16): Unit =
    Stats.withWriterLease(df.sparkSession, Seq(storeDir),
        "appendWindowStore(batch)") {
    Layout.WindowFps.append(
      windowFpRows(df, id, text, window, anchorLen, anchorMod),
      storeDir, manifestPath, filesOut)
  }

  /** OPTIMIZE cycle for the window-fingerprint store: fold accumulated
    * appends back into `filesOut` fp-range-clustered files (side-dir
    * write + swap — a reader of the old listing keeps every file it
    * resolved until the delete; run on the maintenance cadence, not
    * per batch) and rebuild the manifest so touched-key pruning
    * follows the NEW clustering. Returns the rewritten row count.
    */
  def compactWindowStore(spark: SparkSession, storeDir: String,
                         manifestPath: String, filesOut: Int): Long =
    Stats.withWriterLease(spark, Seq(storeDir),
        "compactWindowStore(batch)") {
    val side = s"$storeDir.compacting"
    val n = Layout.compact(spark, storeDir, side, filesOut,
      clusterBy = Layout.WindowFps.key)
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(side),
      new org.apache.hadoop.fs.Path(storeDir))
    spark.catalog.refreshByPath(storeDir)
    Stats.writeManifest(spark, storeDir, manifestPath)
    n
  }

  /** Incremental substring-dedup gate: for each NEW document, the
    * number of distinct window fingerprints it shares with the
    * persisted store — history is never re-read end to end, never
    * re-fingerprinted, never shuffled:
    * 1. the batch fingerprints once ([[cdcFingerprints]], staged);
    * 2. the store scan opens only touched-fp files
    *    ([[Layout.WindowFps]]' manifest-pruned read — a stale or
    *    missing manifest costs pruning, never rows);
    * 3. the surviving store slice is row-filtered by a semi join on
    *    the batch's fp set, then counted per new doc. The join rides
    *    a batch-sized broadcast when the batch fits [[Regime]] (the
    *    measured regime gate of the MinHash incremental path) and degrades to
    *    shuffle-hash above it.
    * Returns (id, n_shared), n_shared > 0 — the x_decontaminate shape;
    * gate downstream by dropping or routing flagged docs.
    */
  def substringIncremental(newDocs: DataFrame, id: Column, text: Column,
                           storeDir: String, manifestPath: String,
                           window: Int = 40, anchorLen: Int = 8,
                           anchorMod: Int = 16): DataFrame = {
    val (batchFps, nFps) = Checkpoints.stageCount(
      windowFpRows(newDocs, id, text, window, anchorLen, anchorMod))
    val small = Regime.fits(nFps)
    val probe = batchFps.select(col("fp")).distinct()
    val storeSlice = Layout.WindowFps.touched(Seq(storeDir),
        manifestPath, probe)
      .select(col("fp"))
    val storeTouched =
      (if (small) storeSlice.join(broadcast(probe), Seq("fp"), "left_semi")
       else storeSlice.join(probe.hint("shuffle_hash"), Seq("fp"),
         "left_semi"))
        .distinct()
    val joined =
      if (small) batchFps.join(broadcast(storeTouched), Seq("fp"))
      else batchFps.join(storeTouched.hint("shuffle_hash"), Seq("fp"))
    joined.groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Fingerprint-level duplicate pairs from (id, fp) rows: every
    * (id_a < id_b) pair sharing at least one window fingerprint — the
    * edge generator for transitive substring-cluster resolution, on
    * the same fp algebra as the incremental store gate. The shuffle
    * carries 8-byte fp keys; `maxBucket` caps the per-fp expansion
    * (a boilerplate window shared by >maxBucket docs is skipped, the
    * ngramJaccardPairs skew guard).
    */
  def substringPairsFromFps(fps: DataFrame,
                            maxBucket: Int = Int.MaxValue): DataFrame = {
    val sized = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2 && col("__n") <= maxBucket)
      .select(col("fp"))
    val kept = fps.join(sized, Seq("fp"), "left_semi")
    kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** The PAIR form of [[substringIncremental]]: (store id, new id)
    * edges for every store×batch doc pair sharing a window
    * fingerprint — feed these plus the within-batch and within-history
    * edges to [[Graph.dedupClusters]] for the offline transitive
    * reconciliation of the gate's pairwise decisions. Same store
    * contract: manifest-pruned touched-fp scan, measured
    * broadcast-vs-shuffle regime, history never re-fingerprinted.
    */
  def substringIncrementalPairs(newDocs: DataFrame, id: Column,
                                text: Column, storeDir: String,
                                manifestPath: String, window: Int = 40,
                                anchorLen: Int = 8, anchorMod: Int = 16)
      : DataFrame = {
    val (batchFps, nFps) = Checkpoints.stageCount(
      windowFpRows(newDocs, id, text, window, anchorLen, anchorMod))
    val small = Regime.fits(nFps)
    val probe = batchFps.select(col("fp")).distinct()
    val storeSlice = Layout.WindowFps.touched(Seq(storeDir),
        manifestPath, probe)
      .select(col("fp"), col("id").as("id_a"))
    val storeTouched =
      (if (small) storeSlice.join(broadcast(probe), Seq("fp"), "left_semi")
       else storeSlice.join(probe.hint("shuffle_hash"), Seq("fp"),
         "left_semi"))
    val batchSide = batchFps.select(col("fp"), col("id").as("id_b"))
    (if (small) storeTouched.join(broadcast(batchSide), Seq("fp"))
     else storeTouched.join(batchSide.hint("shuffle_hash"), Seq("fp")))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  def substringDupPairs(df: DataFrame, id: Column, text: Column,
                        window: Int = 40, anchorLen: Int = 8,
                        anchorMod: Int = 16,
                        maxBucket: Int = 10000): DataFrame = {
    val wins = df.select(id.as("id"),
      cdcWindows(text, window, anchorLen, anchorMod).as("wins"))
    // (id, h): one row per distinct (doc, window-hash) — fixed width.
    val idHash = wins
      .select(col("id"), explode(col("wins")).as("win"))
      .select(col("id"), xxhash64(col("win")).as("h"))
      .distinct()
    val okBuckets = idHash.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2 && col("n_docs") <= maxBucket)
      .select(col("h"))
    val hot = idHash.join(okBuckets.hint("shuffle_hash"), Seq("h"))
    // Staged: the pair set feeds both the confirm scan's id set and
    // the final join — materialize the bucket self-join once.
    val candPairs = Checkpoints.stage(hot.as("a")
      .join(hot.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct())
    // Exact confirm: re-derive window STRINGS only for candidate docs.
    val candIds = candPairs.select(col("ida").as("id"))
      .union(candPairs.select(col("idb").as("id"))).distinct()
    val candWins = wins
      .join(candIds.hint("shuffle_hash"), Seq("id"), "left_semi")
      .select(col("id"), explode(col("wins")).as("win"))
      .distinct()
    candPairs
      .join(candWins.as("wa"), col("ida") === col("wa.id"))
      .join(candWins.as("wb"),
        col("idb") === col("wb.id") && col("wa.win") === col("wb.win"))
      .groupBy(col("ida"), col("idb"))
      .agg(count_distinct(col("wa.win")).as("n_shared"))
  }
}
