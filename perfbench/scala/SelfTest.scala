package graft.perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.model.Schemas
import graft.pipeline.SwellPipeline

/** Checks of the harness's own rules, run by tests/test_harness.py:
  *
  *  - the digest ignores row order and partitioning but not content;
  *  - the plain-Scala swell arg-max breaks ties to the latest hour,
  *    exactly like SwellPipeline.dailyMax on the same rows;
  *  - the plain-Scala triangle count equals Graph.triangleCounts;
  *  - an op that throws, or whose output is wrong, is recorded as
  *    failed, and its latency is still taken.
  *
  * Usage: SelfTest <run dir>; prints "selftest ok" or exits non-zero.
  */
object SelfTest {
  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0), 2)
    import spark.implicits._

    // digest: order- and partition-insensitive, content-sensitive
    val rows = (1 to 200).map(i => Row(i.toLong, s"v$i", i * 0.5))
    expect(Digest.ofRows(rows) == Digest.ofRows(rows.reverse),
      "digest depends on row order")
    expect(Digest.ofRows(rows) != Digest.ofRows(rows.updated(7, Row(8L, "v8", 4.5))),
      "digest misses a changed row")
    expect(Digest.ofRows(rows :+ rows.head) != Digest.ofRows(rows),
      "digest misses a duplicated row")
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("a", "b", "c")
    expect(Digest.of(df.repartition(7)) == Digest.ofRows(rows),
      "in-task digest differs from the in-memory digest")
    expect(Digest.of(df.orderBy(col("a").desc).coalesce(1)) == Digest.ofRows(rows),
      "digest depends on the result's order")

    // swell arg-max: a tie on the day's maximum goes to the latest hour
    val t = (h: Int) => LocalDateTime.of(2026, 1, 1, h, 0)
    val m = (s: Double, k: Double) => Seq(k, 1.0, 2.0, s, 3.0, 4.0)
    val hours = Seq(Hour(t(3), "a", m(2.0, 0.1)), Hour(t(9), "a", m(2.0, 0.2)),
      Hour(t(5), "a", m(1.0, 0.3)), Hour(t(1), "b", m(0.5, 0.4)),
      Hour(t(9), "a", m(2.0, 0.2)))
    val want = SwellGen.expected(hours)
    expect(want.map(r => (r(1), r(0))) ==
      Set(("a", t(9).toString), ("b", t(1).toString)),
      s"plain-Scala arg-max picked $want")
    val staged = spark.createDataFrame(
      java.util.Arrays.asList(hours.map(h => Row.fromSeq(
        java.sql.Timestamp.valueOf(h.time) +: h.location +: h.metrics :+
          java.sql.Date.valueOf(h.time.toLocalDate))): _*),
      Schemas.staged)
    expect(SwellGen.rows(SwellPipeline.dailyMax(staged).collect()) == want,
      "SwellPipeline.dailyMax disagrees with the plain-Scala arg-max")

    // triangle reference = the batch operator, on a seeded edge set
    val es = EdgeSet.generate(11L, folds = 1)
    val batch = graft.operators.Graph.triangleCounts(
      es.upTo(1).toDF("a", "b"), col("a"), col("b"))
    expect(EdgeSet.rows(batch) == EdgeSet.triangles(es.upTo(1)),
      "plain-Scala triangle counts differ from Graph.triangleCounts")

    // failure accounting
    val rec = new Recorder(traced = false)
    val ctx = new Ctx(spark, rec, args(0), "", 0L)
    expect(ctx.op("passes")(()), "a passing op failed")
    expect(!ctx.op("throws")(throw new IllegalStateException("boom")),
      "a throwing op passed")
    expect(!ctx.op("wrong")(Check(ok = false, "wrong rows")), "a wrong op passed")
    expect(!ctx.op("wrong_on_verify", () => Check(ok = false, "bad"))(()),
      "an op failing verification passed")
    expect(rec.ops.map(o => (o.name, o.ok)) == Seq("passes" -> true,
      "throws" -> false, "wrong" -> false, "wrong_on_verify" -> false),
      s"recorded ${rec.ops}")
    expect(rec.ops.forall(o => o.end >= o.start), "op without a latency")
    expect(rec.ops(1).error.contains("boom"), "error text lost")
    spark.stop()
    println("selftest ok")
  }
}
