package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Regime, Similarity, Training, Upsert}
import ParityQueries.t

/** Round-6 curation tier: raw-crawl → training-corpus operators (HTML
  * extraction, token chunking, eval-set decontamination, repetition
  * quality signals), content-deterministic sampling (weighted
  * Bernoulli, target domain mixture), SCD2 history-preserving merge,
  * and int8 embedding quantization. All DuckDB-oracle-checked — every
  * operator is a pure string/integer/IEEE-double function of its input
  * (no engine-private hashing in any output column).
  */
object CurationQueries {

  /** The synthetic docs carry no markup, so the query manufactures a
    * deterministic HTML envelope from the row's own columns — script
    * and style blocks, nested tags, entities — and strips it back out.
    * Oracle builds the identical envelope in SQL.
    */
  private def htmlEnvelope: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>"), col("source"),
    lit("</title><style>p {margin:0}</style></head><body>" +
      "<script type=\"text/js\">var x = 1 < 2;</script><h1>"),
    upper(col("lang")),
    lit("</h1><p>"), col("text"),
    lit(" &amp; <b>more</b> &lt;raw&gt;</p></body></html>"))

  /** Multi-line corpus with planted boilerplate for the line-dedup
    * queries: every doc gains a universal subscribe line, every 7th a
    * social line, and two per-doc-unique lines. Oracle builds the
    * identical corpus in SQL.
    */
  private def lineDedupCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat_ws("\n", col("text"), lit("subscribe to our newsletter"),
        when(col("doc_id") % 7 === 0, lit("follow us on social media"))
          .otherwise(concat(lit("doc "), col("doc_id"))),
        concat(lit("ref "), col("doc_id"))).as("text"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Visible-text extraction from markup: block-element removal
    // (script/style with bodies), tag stripping, entity decode,
    // whitespace collapse — one narrow scan-shaped map.
    "x_html_strip" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Curation.stripHtml(htmlEnvelope).as("clean"))
        .orderBy(col("doc_id"))),

    // Overlapping token windows (chunk 32, stride 24 ⇒ 8-token
    // overlap): the pre-tokenization sharding step for long documents.
    "x_chunk_overlap" -> ((s, d) =>
      Curation.chunkTokens(t(s, d, "documents"),
          col("doc_id"), col("text"), chunk = 32, stride = 24)
        .select(col("id").as("doc_id"), col("chunk_id").cast("long"),
          col("chunk"), col("n_tok"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Benchmark decontamination: train docs sharing any word 3-gram
    // with the held-out eval slice (doc_id % 97 = 0). Eval gram set
    // broadcasts; the corpus never shuffles.
    "x_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.decontaminate(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0),
          col("doc_id"), col("text"), n = 3)
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // The same decontamination through the Bloom-gated 100 TB path:
    // eval grams fold into a 4 MiB sketch literal (never a multi-GB
    // exact-set broadcast), the corpus pre-filters map-side, and a
    // shuffle-hash confirm join makes the answer exact — hash-equal to
    // x_decontaminate by construction, so it shares the oracle.
    "x_decon_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.decontaminateBloom(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0),
          col("doc_id"), col("text"), n = 3)
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // RefinedWeb/C4-style line-level boilerplate removal over a corpus
    // with planted chrome (a subscribe line on every doc, a social
    // line on every 7th, unique doc/ref lines): lines occurring > 20
    // times corpus-wide vanish, content survives in order, measured
    // small boilerplate set ⇒ the narrow inlined-set arm (zero extra
    // corpus shuffles).
    "x_line_dedup" -> ((s, d) =>
      Curation.dropFrequentLines(lineDedupCorpus(t(s, d, "documents")),
          col("doc_id"), col("text"), maxDf = 20)
        .select(col("id").as("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // The same removal forced through the relational fallback arm
    // (inlineLimit = 0: anti-join + ordered reassembly — the path a
    // beyond-inline boilerplate set takes). Hash-equal to x_line_dedup:
    // the gate changes the plan, never the answer.
    "x_line_dedup_shuffle" -> ((s, d) =>
      Curation.dropFrequentLines(lineDedupCorpus(t(s, d, "documents")),
          col("doc_id"), col("text"), maxDf = 20, inlineLimit = 0)
        .select(col("id").as("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // Gopher-style repetition signal: duplicate 3-gram share > 20% ⇒
    // repetitive. Integer-exact flag, fully narrow.
    "x_repetition" -> ((s, d) =>
      Curation.repetitionStats(t(s, d, "documents"),
          col("doc_id"), col("text"), n = 3, dupPctMax = 20)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_distinct"), col("is_repetitive"))
        .orderBy(col("doc_id"))),

    // Length-weighted Bernoulli sample: admit with probability
    // min(n_chars, 3000)/6000, decided by the content fingerprint —
    // reproducible, no RNG state, integer-exact.
    "x_weighted_sample" -> ((s, d) =>
      Training.weightedBernoulli(t(s, d, "documents"),
          col("text"), least(col("n_chars"), lit(3000L)), denom = 6000)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Target domain mixture: sources weighted 4/3/2/1 by index block
    // (src0-4 : src5-9 : src10-14 : src15-19); the operator takes the
    // largest total honoring the mixture and admits deterministically.
    "x_domain_mix" -> ((s, d) =>
      Training.mixToTarget(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          col("source"), col("doc_id"),
          expr("4 - CAST(substring(source, 4) AS BIGINT) div 5"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // SCD2 merge: segment updates for custkey % 10 = 0 (no-op where
    // already AUTOMOBILE) + a brand-new-key batch; changed keys close
    // their current row and open a new one, history and unchanged rows
    // carry through, new keys open their first row.
    "r_scd2" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val target = cust
        .withColumn("valid_from", to_date(lit("1992-01-01")))
        .withColumn("valid_to", to_date(lit("9999-12-31")))
        .withColumn("is_current", lit(true))
      val updates = cust.where(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("AUTOMOBILE"))
        .unionByName(cust.where(col("c_custkey") % 1000 === 1)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("c_name"), col("c_mktsegment")))
      Upsert.scd2Merge(target, updates, Seq("c_custkey"),
          Seq("c_mktsegment"), to_date(lit("1995-06-17")),
          to_date(lit("9999-12-31")))
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    // Corpus-trained char-trigram familiarity (KenLM-style quality
    // scoring with integer-exact counting): rare-trigram docs score
    // low. Count table broadcasts; corpus shuffles only into the
    // aggregates.
    "x_charlm_score" -> ((s, d) =>
      Curation.charTrigramFamiliarity(t(s, d, "documents"),
          col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_tri"), col("fam"))
        .orderBy(col("doc_id"))),

    // The same familiarity score through the NON-broadcast arm (a
    // zero-row broadcast threshold forces the shuffle-hash join the
    // measured-vocab gate picks on a multilingual 100 TB vocabulary) —
    // hash-equal to x_charlm_score: the gate changes the plan, never
    // the answer.
    "x_charlm_shuffle" -> ((s, d) =>
      Regime.forcing(0L)(Curation.charTrigramFamiliarity(
          t(s, d, "documents"), col("doc_id"), col("text")))
        .select(col("id").as("doc_id"), col("n_tri"), col("fam"))
        .orderBy(col("doc_id"))),

    // Flagship curation pipeline as ONE lazy plan: repetition filter →
    // eval-slice decontamination (drop any doc sharing a 3-gram with
    // the held-out slice) → 32/24 token chunking → 256-token bin
    // packing via the distributed prefix sum. Catalyst sees the whole
    // chain; the oracle replays it as a DuckDB CTE chain.
    "x_curation_e2e" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def grams = Curation.ngramArray(col("text"), 3)
      val nonRep = docs.where(
        (size(grams) - size(array_distinct(grams))) * 100 <=
          size(grams) * 20)
      val train = nonRep.where(col("doc_id") % 97 =!= 0)
      val evalSet = docs.where(col("doc_id") % 97 === 0)
      val cont = Curation.decontaminate(train, evalSet,
          col("doc_id"), col("text"), n = 3)
        .select(col("id").as("doc_id"))
      val clean = train.join(broadcast(cont), Seq("doc_id"), "left_anti")
      val chunks = Curation.chunkTokens(clean, col("doc_id"),
          col("text"), chunk = 32, stride = 24)
        .select(col("id").as("doc_id"), col("chunk_id").cast("long"),
          col("n_tok"))
      Training.packBins(chunks, Seq(col("doc_id"), col("chunk_id")),
          col("n_tok"), budget = 256L)
        .select(col("doc_id"), col("chunk_id"), col("n_tok"), col("bin"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Symmetric int8 quantization of the embedding column: per-vector
    // max-abs scale + half-up rounding, both spelled in the IEEE-double
    // subset every engine computes identically. Output exploded to
    // (vec_id, pos, qv) rows — the driver compare is scalar-columned.
    "x_embed_quantize" -> ((s, d) =>
      t(s, d, "embeddings")
        .withColumn("mx", Similarity.maxAbs(col("embedding")))
        .select(col("vec_id"), col("mx"),
          posexplode(Similarity.quantizeInt8(col("embedding"), col("mx")))
            .as(Seq("pos", "qv")))
        .select(col("vec_id"), col("mx"), col("pos").cast("long"),
          col("qv").cast("long"))
        .orderBy(col("vec_id"), col("pos"))),

    // Row-level provenance (Curation.withSourceFile): every row stamped
    // with its source data file via the scan's _metadata struct, then
    // rolled up per file — the lineage that answers "which shard did
    // this example come from" for ablations and takedowns. The oracle
    // knows the testdata layout is one file per table, so the basename
    // is a constant; the multi-file case is spec-checked.
    "x_provenance" -> ((s, d) =>
      graft.operators.Curation.withSourceFile(t(s, d, "events"))
        .groupBy(col("src_file"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .orderBy(col("src_file"))))

  private val deconSql =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, greatest(len(t) - 2, 0)),
      |    i -> array_to_string(t[CAST(i+1 AS INT):CAST(i+3 AS INT)],
      |      ' ')))) AS gram
      |  FROM tk
      |), ev AS (
      |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
      |), tr AS (
      |  SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
      |SELECT tr.doc_id, count(*) AS n_shared
      |FROM tr JOIN ev USING (gram)
      |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin

  private val lineDedupSql =
    """WITH src AS (
      |  SELECT doc_id, text || chr(10) || 'subscribe to our newsletter'
      |    || chr(10) || (CASE WHEN doc_id % 7 = 0
      |      THEN 'follow us on social media'
      |      ELSE 'doc ' || doc_id END)
      |    || chr(10) || 'ref ' || doc_id AS text
      |  FROM documents
      |), lx AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS l FROM src
      |), lines AS (
      |  SELECT doc_id, pos, l[pos] AS line
      |  FROM lx, LATERAL (SELECT unnest(generate_series(1, len(l)))
      |    AS pos) p
      |), freq AS (
      |  SELECT line FROM lines GROUP BY line HAVING count(*) > 20
      |)
      |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      |FROM lines WHERE line NOT IN (SELECT line FROM freq)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "x_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>' || source ||
        |    '</title><style>p {margin:0}</style></head><body>' ||
        |    '<script type="text/js">var x = 1 < 2;</script><h1>' ||
        |    upper(lang) || '</h1><p>' || text ||
        |    ' &amp; <b>more</b> &lt;raw&gt;</p></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(
        |      regexp_replace(html,
        |        '(?is)<(?:script|style)\b[^>]*>.*?</(?:script|style)\s*>',
        |        ' ', 'g'),
        |      '(?s)<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |  '[ \t\n\r]+', ' ', 'g')) AS clean
        |FROM h ORDER BY doc_id""".stripMargin,

    "x_chunk_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), st AS (
        |  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s FROM tk)
        |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |  array_to_string(t[CAST(s+1 AS INT):CAST(s+32 AS INT)], ' ')
        |    AS chunk,
        |  CAST(least(len(t) - s, 32) AS BIGINT) AS n_tok
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "x_decontaminate" -> deconSql,

    // The Bloom-gated path is exact by construction (sketch prefilter
    // + exact confirm join) — same oracle as x_decontaminate.
    "x_decon_bloom" -> deconSql,

    "x_line_dedup" -> lineDedupSql,

    // The relational fallback arm answers identically — same oracle.
    "x_line_dedup_shuffle" -> lineDedupSql,

    "x_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), g AS (
        |  SELECT doc_id, list_transform(
        |    range(0, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[CAST(i+1 AS INT):CAST(i+3 AS INT)],
        |      ' ')) AS gr
        |  FROM tk)
        |SELECT doc_id, CAST(len(gr) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(gr)) AS BIGINT) AS n_distinct,
        |  (len(gr) - len(list_distinct(gr))) * 100 > len(gr) * 20
        |    AS is_repetitive
        |FROM g ORDER BY doc_id""".stripMargin,

    "x_weighted_sample" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS f
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM fp
        |WHERE f % 6000 < least(n_chars, 3000)
        |ORDER BY doc_id""".stripMargin,

    "x_domain_mix" ->
      """WITH cnt AS (
        |  SELECT source,
        |    4 - CAST(substr(source, 4) AS BIGINT) // 5 AS p,
        |    count(*) AS n
        |  FROM documents GROUP BY 1, 2
        |), tot AS (SELECT sum(p) AS tp FROM cnt
        |), nb AS (SELECT min(n * tp // p) AS nb FROM cnt, tot
        |), q AS (
        |  SELECT source, p * nb // tp AS k FROM cnt, tot, nb
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
        |WHERE rn <= q.k ORDER BY r.doc_id""".stripMargin,

    "r_scd2" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_mktsegment FROM customer
        |), chg AS (
        |  SELECT c_custkey FROM base
        |  WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'AUTOMOBILE')
        |SELECT c_custkey, c_name, c_mktsegment,
        |  DATE '1992-01-01' AS valid_from,
        |  CASE WHEN c_custkey IN (SELECT c_custkey FROM chg)
        |    THEN DATE '1995-06-17' ELSE DATE '9999-12-31' END AS valid_to,
        |  c_custkey NOT IN (SELECT c_custkey FROM chg) AS is_current
        |FROM base
        |UNION ALL
        |SELECT c_custkey, c_name, 'AUTOMOBILE' AS c_mktsegment,
        |  DATE '1995-06-17' AS valid_from, DATE '9999-12-31' AS valid_to,
        |  true AS is_current
        |FROM base WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'AUTOMOBILE'
        |UNION ALL
        |SELECT c_custkey + 10000000 AS c_custkey, c_name, c_mktsegment,
        |  DATE '1995-06-17' AS valid_from, DATE '9999-12-31' AS valid_to,
        |  true AS is_current
        |FROM base WHERE c_custkey % 1000 = 1
        |ORDER BY c_custkey, valid_from""".stripMargin,

    "x_charlm_shuffle" ->
      """WITH tri AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(length(text) - 2, 0)),
        |    i -> substr(text, CAST(i + 1 AS INT), 3))) AS tg
        |  FROM documents
        |), c AS (
        |  SELECT tg, count(*) AS c FROM tri GROUP BY 1)
        |SELECT tri.doc_id, count(*) AS n_tri,
        |  CAST(sum(c.c) AS BIGINT) AS fam
        |FROM tri JOIN c USING (tg)
        |GROUP BY tri.doc_id ORDER BY doc_id""".stripMargin,

    "x_charlm_score" ->
      """WITH tri AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(length(text) - 2, 0)),
        |    i -> substr(text, CAST(i + 1 AS INT), 3))) AS tg
        |  FROM documents
        |), c AS (
        |  SELECT tg, count(*) AS c FROM tri GROUP BY 1)
        |SELECT tri.doc_id, count(*) AS n_tri,
        |  CAST(sum(c.c) AS BIGINT) AS fam
        |FROM tri JOIN c USING (tg)
        |GROUP BY tri.doc_id ORDER BY doc_id""".stripMargin,

    "x_curation_e2e" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), g AS (
        |  SELECT doc_id, t, list_transform(
        |    range(0, greatest(len(t) - 2, 0)),
        |    i -> array_to_string(t[CAST(i+1 AS INT):CAST(i+3 AS INT)],
        |      ' ')) AS gr
        |  FROM tk
        |), rep AS (
        |  SELECT doc_id, t, gr FROM g
        |  WHERE (len(gr) - len(list_distinct(gr))) * 100 <= len(gr) * 20
        |), evg AS (
        |  SELECT DISTINCT unnest(gr) AS gram FROM g WHERE doc_id % 97 = 0
        |), cont AS (
        |  SELECT DISTINCT r.doc_id FROM (
        |    SELECT doc_id, unnest(list_distinct(gr)) AS gram FROM rep
        |    WHERE doc_id % 97 <> 0) r
        |  JOIN evg USING (gram)
        |), clean AS (
        |  SELECT doc_id, t FROM rep
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM cont)
        |), ch AS (
        |  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s FROM clean
        |), chk AS (
        |  SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
        |    CAST(least(len(t) - s, 32) AS BIGINT) AS n_tok
        |  FROM ch
        |), c AS (
        |  SELECT doc_id, chunk_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM chk)
        |SELECT doc_id, chunk_id, n_tok, CAST(cum // 256 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "x_embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |      (a, b) -> greatest(a, b)) AS mx
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, mx,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0)
        |      ELSE list_transform(embedding,
        |        x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5)
        |          AS INT))
        |    END AS qarr
        |  FROM m)
        |SELECT vec_id, mx,
        |  CAST(generate_subscripts(qarr, 1) - 1 AS BIGINT) AS pos,
        |  CAST(unnest(qarr) AS BIGINT) AS qv
        |FROM q ORDER BY vec_id, pos""".stripMargin,

    "x_provenance" ->
      """SELECT 'events.parquet' AS src_file, count(*) AS n,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1 ORDER BY src_file""".stripMargin)
}
