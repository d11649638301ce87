package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Regime, Similarity, Training, Upsert}

class CurationSpec extends SparkSuite {

  test("stripHtml: blocks, tags, entities, double-escapes, whitespace") {
    import spark.implicits._
    val html = Seq(
      "<html><head><style>p {color:red}</style></head><body>" +
        "<SCRIPT src=\"x.js\">var a = 1 < 2 && true;</SCRIPT>" +
        "<h1 class=\"t\">Title</h1><p>a &amp;lt; b &nbsp; c&#39;s" +
        " &quot;q&quot;</p>\n\t<br/>tail</body></html>").toDF("h")
    val got = html.select(Curation.stripHtml(col("h"))).as[String].head()
    // &amp;lt; decodes to the LITERAL "&lt;" (amp last), not "<"
    assert(got == "Title a &lt; b c's \"q\" tail")
  }

  test("stripHtml leaves text without markup unchanged modulo ws") {
    import spark.implicits._
    val got = Seq("plain  words   here").toDF("t")
      .select(Curation.stripHtml(col("t"))).as[String].head()
    assert(got == "plain words here")
  }

  test("chunkTokens: stride windows with short tail, exact content") {
    import spark.implicits._
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("id", "text")
    val got = Curation.chunkTokens(df, col("id"), col("text"),
        chunk = 4, stride = 3)
      .select(col("chunk_id"), col("chunk"), col("n_tok"))
      .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0, "w1 w2 w3 w4", 4L), (1, "w4 w5 w6 w7", 4L),
      (2, "w7 w8 w9 w10", 4L), (3, "w10", 1L)))
  }

  test("ngramArray: short docs yield empty, repeats kept in order") {
    import spark.implicits._
    val g = Seq("a b a b", "a b", "").toDF("t")
      .select(Curation.ngramArray(col("t"), 3)).as[Seq[String]]
      .collect().toSeq
    assert(g(0) == Seq("a b a", "b a b"))
    assert(g(1).isEmpty && g(2).isEmpty)
  }

  test("decontaminate counts distinct shared grams once per doc") {
    import spark.implicits._
    // train doc 1 repeats the contaminated gram twice — counted ONCE;
    // doc 2 shares nothing; doc 3 shares two distinct grams
    val train = Seq(
      (1L, "x y z q x y z"), // "x y z" twice
      (2L, "p q r s"),
      (3L, "x y z w a b c")).toDF("id", "text")
    val ev = Seq((9L, "x y z h a b c")).toDF("id", "text")
    val got = Curation.decontaminate(train, ev, col("id"), col("text"), 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 3L -> 2L))
  }

  test("decontaminate broadcasts the eval gram set") {
    import spark.implicits._
    val train = (0L until 100L).map(i => (i, s"a b c d$i")).toDF("id", "text")
    val ev = Seq((0L, "a b c")).toDF("id", "text")
    val df = Curation.decontaminate(train, ev, col("id"), col("text"), 3)
    df.count()
    val bhj = physicalNodes(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj, "eval-set join should be a broadcast hash join")
  }

  test("decontaminateBloom ≡ decontaminate, even with a 64-bit sketch " +
      "full of false positives; never broadcasts the exact gram set") {
    import spark.implicits._
    val train = (0L until 200L)
      .map(i => (i, if (i % 5 == 0) s"x y z tail$i" else s"u$i v$i w$i t$i"))
      .toDF("id", "text")
    val ev = Seq((9L, "x y z")).toDF("id", "text")
    val exact = Curation.decontaminate(train, ev, col("id"), col("text"), 3)
      .as[(Long, Long)].collect().toMap
    val bloom = Curation.decontaminateBloom(train, ev,
      col("id"), col("text"), 3)
    assert(bloom.as[(Long, Long)].collect().toMap == exact)
    // a 64-bit sketch saturates -> nearly every gram is a might-contain
    // hit; the exact confirm join still yields the identical answer
    val tiny = Curation.decontaminateBloom(train, ev,
      col("id"), col("text"), 3, maxItems = 4L, maxBits = 64L)
    assert(tiny.as[(Long, Long)].collect().toMap == exact)
    // the 100 TB posture: the exact eval-gram set is joined
    // shuffle-hash, never broadcast
    val nodes = physicalNodes(bloom)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "bloom path must not broadcast the exact gram set")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]),
      "confirm join should be shuffle-hash")
  }

  test("decontaminateBloom: empty eval set yields the empty answer") {
    import spark.implicits._
    val train = Seq((1L, "a b c d")).toDF("id", "text")
    val ev = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Curation.decontaminateBloom(train, ev,
      col("id"), col("text"), 3).count() == 0)
  }

  test("dropFrequentLines: boilerplate gone, order kept, all-boiler doc " +
      "dropped, narrow and relational arms row-identical") {
    import spark.implicits._
    val docs = (
      (0L until 30L).map(i => (i, s"intro $i\nSUBSCRIBE\ncontent line $i")) :+
        (98L, "SUBSCRIBE") :+ // pure boilerplate -> dropped entirely
        (99L, "keep me\nSUBSCRIBE\nkeep me too")
      ).toDF("id", "text")
    val narrow = Curation.dropFrequentLines(docs, col("id"), col("text"),
      maxDf = 5)
    val got = narrow.as[(Long, String)].collect().toMap
    assert(got.size == 31 && !got.contains(98L))
    assert(got(0L) == "intro 0\ncontent line 0")
    assert(got(99L) == "keep me\nkeep me too")
    assert(!got.values.exists(_.contains("SUBSCRIBE")))
    // relational fallback arm (inlineLimit = 0) answers identically
    val rel = Curation.dropFrequentLines(docs, col("id"), col("text"),
      maxDf = 5, inlineLimit = 0)
    assert(rel.as[(Long, String)].collect().toMap == got)
    // narrow arm's output side is a pure map: no join, no reassembly
    // aggregate — at most the fanOutSmallScan round-robin exchange
    val nNodes = physicalNodes(narrow)
    assert(nNodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) <= 1,
      "inlined-set arm must not reshuffle the corpus beyond fan-out")
    assert(!nNodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
      "inlined-set arm must not join or aggregate the corpus")
  }

  test("dropFrequentLines frequency pass: the corpus-wide exchange " +
      "carries fixed-width hashes; string exchanges only ever carry " +
      "broadcast-prefiltered candidate lines") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types.StringType
    val docs = (0L until 30L)
      .map(i => (i, s"intro $i\nSUBSCRIBE\ncontent line $i"))
      .toDF("id", "text")
    val src = docs.select(col("id"), col("text").as("__t"))
    val freq = Curation.confirmedFrequentLines(src,
      java.util.regex.Pattern.quote("\n"), maxDf = 5)
    // exact per-string df, collision-proof by the string recount
    assert(freq.as[(String, Long)].collect().toMap ==
      Map("SUBSCRIBE" -> 30L))
    def carriesString(e: ShuffleExchangeExec): Boolean =
      e.output.exists(_.dataType == StringType)
    // pass 1 (asserted pre-staging — the staged materialization hides
    // it from the consuming plan): the full-corpus frequency aggregate
    // must exchange 8-byte hashes, never line text (content lines are
    // near-unique — a string-keyed aggregate would push ~the whole
    // corpus through the wire)
    val p1 = physicalNodes(Curation.lineHashFrequencies(src,
        java.util.regex.Pattern.quote("\n"), maxDf = 5))
      .collect { case e: ShuffleExchangeExec => e }
    assert(p1.nonEmpty && p1.forall(e => !carriesString(e)),
      "the frequency pass must exchange only fixed-width hash keys")
    // confirm pass: any string-carrying exchange sits above the
    // broadcast candidate prefilter, never over the raw corpus
    physicalNodes(freq)
      .collect { case e: ShuffleExchangeExec => e }
      .filter(carriesString).foreach { e =>
        assert(graft.pipeline.PlanLint
          .nodes(e: org.apache.spark.sql.execution.SparkPlan)
          .exists(_.isInstanceOf[BroadcastHashJoinExec]),
          "a string-carrying exchange must sit above the broadcast " +
            "candidate-hash prefilter (confirm pass), not over the corpus")
      }
  }

  test("dropFrequentLines: below-threshold repeats survive") {
    import spark.implicits._
    val docs = (0L until 4L).map(i => (i, s"common\nunique $i"))
      .toDF("id", "text")
    val got = Curation.dropFrequentLines(docs, col("id"), col("text"),
        maxDf = 5)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "common\nunique 1")
  }

  test("repetitionStats flags the 50%-duplicate doc, not the unique one") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a b"), (2L, "a b c d e f"))
      .toDF("id", "text")
    val got = Curation.repetitionStats(df, col("id"), col("text"),
        n = 3, dupPctMax = 20)
      .select(col("id"), col("n_grams"), col("n_distinct"),
        col("is_repetitive"))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 2L, true), (2L, 4L, 4L, false)))
  }

  test("weightedBernoulli: weight 0 drops all, weight >= denom keeps all") {
    import spark.implicits._
    val df = (0 until 50).map(i => s"doc number $i").toDF("text")
    assert(Training.weightedBernoulli(df, col("text"), lit(0), 100)
      .count() == 0L)
    assert(Training.weightedBernoulli(df, col("text"), lit(100), 100)
      .count() == 50L)
    // deterministic: same subset both runs
    val a = Training.weightedBernoulli(df, col("text"), lit(37), 100)
      .as[String].collect().sorted.toSeq
    val b = Training.weightedBernoulli(df, col("text"), lit(37), 100)
      .as[String].collect().sorted.toSeq
    assert(a == b)
  }

  test("mixToTarget realizes the exact integer mixture") {
    import spark.implicits._
    val df = ((0 until 10).map(i => (i.toLong, "a")) ++
      (100 until 110).map(i => (i.toLong, "b"))).toDF("id", "s")
    // weights a:2 b:1, P=3; N = min(10*3/2, 10*3/1) = 15; quotas 10/5
    val got = Training.mixToTarget(df, col("s"), col("id"),
        when(col("s") === "a", 2).otherwise(1))
      .groupBy(col("s")).count().as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 10L, "b" -> 5L))
  }

  test("scd2Merge: change versions, no-op passes, new key opens, " +
    "history carried, idempotent on re-run") {
    import spark.implicits._
    val eot = to_date(lit("9999-12-31"))
    val target = Seq(
      // k=1: history row + current row (attr A1)
      (1L, "A0", "2020-01-01", "2021-01-01", false),
      (1L, "A1", "2021-01-01", "9999-12-31", true),
      // k=2: current B, unchanged by the batch
      (2L, "B", "2020-01-01", "9999-12-31", true),
      // k=3: current NULL attr — null-safe change to C
      (3L, null, "2020-01-01", "9999-12-31", true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", to_date(col("valid_from")))
      .withColumn("valid_to", to_date(col("valid_to")))
    val updates = Seq((1L, "A2"), (2L, "B"), (3L, "C"), (4L, "D"))
      .toDF("k", "attr")
    val eff = to_date(lit("2022-06-01"))
    val merged = Upsert.scd2Merge(target, updates, Seq("k"), Seq("attr"),
      eff, eot)
    val rows = merged
      .select(col("k"), col("attr"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(Long, String, String, String, Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(rows == Seq(
      (1L, "A0", "2020-01-01", "2021-01-01", false),
      (1L, "A1", "2021-01-01", "2022-06-01", false),
      (1L, "A2", "2022-06-01", "9999-12-31", true),
      (2L, "B", "2020-01-01", "9999-12-31", true),
      (3L, null, "2020-01-01", "2022-06-01", false),
      (3L, "C", "2022-06-01", "9999-12-31", true),
      (4L, "D", "2022-06-01", "9999-12-31", true)))
    // idempotence: applying the same batch to the merged state changes
    // nothing (every key now current at the update's attributes)
    val again = Upsert.scd2Merge(merged, updates, Seq("k"), Seq("attr"),
      to_date(lit("2023-01-01")), eot)
    assert(again.count() == merged.count())
    assert(again.where(col("valid_from") === "2023-01-01").count() == 0L)
  }

  test("repetitionStats is exchange-free — a pure scan-shaped map") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.operators.Curation.repetitionStats(
      docs, col("doc_id"), col("text"))
    df.count()
    val shuffles = physicalNodes(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(shuffles == 0, s"expected narrow plan, saw $shuffles shuffles")
  }

  test("charTrigramFamiliarity: hand-computed counts on a toy corpus") {
    import spark.implicits._
    // trigrams: doc1 "abcd" -> abc, bcd ; doc2 "abce" -> abc, bce
    // corpus counts: abc=2, bcd=1, bce=1
    val df = Seq((1L, "abcd"), (2L, "abce"), (3L, "xy")).toDF("id", "t")
    val got = graft.operators.Curation.charTrigramFamiliarity(
        df, col("id"), col("t"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 3 (< 3 chars) emits no row; fam(1)=2+1=3, fam(2)=2+1=3
    assert(got == Seq((1L, 2L, 3L), (2L, 2L, 3L)))
  }

  test("charTrigramFamiliarity: wide-charset vocab trips the measured " +
    "gate into the shuffle-join arm, same answer") {
    import spark.implicits._
    // synthetic wide-charset corpus: CJK-range codepoints make every
    // trigram distinct across docs — the vocabulary regime where the
    // broadcast would OOM an executor at 100 TB
    val wide = (0 until 40).map { d =>
      (d.toLong, (0 until 24).map(i =>
        (0x4E00 + d * 31 + i).toChar).mkString)
    }.toDF("id", "t")
    val bArm = Curation.charTrigramFamiliarity(wide, col("id"), col("t"))
    val sArm = Regime.forcing(10L)( // measured vocab (~880) exceeds this
      Curation.charTrigramFamiliarity(wide, col("id"), col("t")))
    val nodes = graft.pipeline.PlanLint.nodes(sArm)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "vocab over the limit must not broadcast the count table")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]))
    val b = bArm.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val s = sArm.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(b == s && b.size == 40)
  }

  test("charTrigramFamiliarity: minCount floors the vocabulary") {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "abce")).toDF("id", "t")
    // counts: abc=2, bcd=1, bce=1; floor 2 keeps only abc
    val got = Curation.charTrigramFamiliarity(df, col("id"), col("t"),
        minCount = 2L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 2L), (2L, 1L, 2L)))
  }

  test("quantizeInt8: known values, zero vector, round-trip error bound") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f))).toDF("id", "v")
      .withColumn("mx", Similarity.maxAbs(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("mx")))
    val got = df.select(col("id"), col("q")).as[(Long, Seq[Int])]
      .collect().toMap
    assert(got(1L) == Seq(127, -63, 32, 0))
    assert(got(2L) == Seq(0, 0))
    // dequantized max abs error <= mx/254 + epsilon (half-step)
    val err = df.where(col("mx") > 0).select(max(aggregate(
      zip_with(col("v"), col("q"),
        (x, q) => abs(x.cast("double") - q * col("mx") / 127.0)),
      lit(0.0), (a, x) => greatest(a, x)))).as[Double].head()
    assert(err <= 1.0 / 254.0 + 1e-9)
  }

  test("withSourceFile stamps each row with its own data file across " +
      "a multi-file layout") {
    import spark.implicits._
    val base = s"/tmp/graft-prov-${System.nanoTime()}"
    // 4 separate append batches -> at least 4 distinct data files
    (0 until 4).foreach { b =>
      (0 until 50).map(i => (b * 50L + i, b))
        .toDF("id", "batch").coalesce(1)
        .write.mode("append").parquet(base)
    }
    val stamped = Curation.withSourceFile(spark.read.parquet(base))
    // every row of a batch came from exactly one file, and distinct
    // batches landed in distinct files
    val perBatch = stamped.groupBy(col("batch"))
      .agg(countDistinct(col("src_file")).as("nf"))
      .as[(Int, Long)].collect().toMap
    assert(perBatch.values.forall(_ == 1L), perBatch.toString)
    val files = stamped.select(col("src_file")).distinct().count()
    assert(files == 4, s"distinct src files: $files")
    // basenames, not URIs
    assert(stamped.select(col("src_file")).as[String].head()
      .endsWith(".parquet"))
    assert(!stamped.select(col("src_file")).as[String].head()
      .contains("/"))
  }
}
