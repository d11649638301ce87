package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.{Graph, Stats}

/** Seeded undirected edge set: planted dense clusters (the triangles)
  * plus random edges, split into a base and `folds` later batches.
  */
final case class EdgeSet(base: Seq[(Long, Long)], batches: Seq[Seq[(Long, Long)]]) {
  def upTo(i: Int): Seq[(Long, Long)] = base ++ batches.take(i).flatten
}

object EdgeSet {
  /** `clusters` clusters of `clusterSize` nodes with `clusterEdges`
    * random internal edges each, then random edges up to `edges`
    * distinct edges in all, so every seed gives the same sizes.
    */
  def generate(seed: Long, folds: Int, nodes: Int = 240, clusters: Int = 6,
               clusterSize: Int = 8, clusterEdges: Int = 17,
               edges: Int = 250): EdgeSet = {
    val rnd = new scala.util.Random(seed)
    val set = mutable.LinkedHashSet[(Long, Long)]()
    val ids = rnd.shuffle((0 until nodes).map(_.toLong).toVector)
    for (c <- 0 until clusters) {
      val members = ids.slice(c * clusterSize, (c + 1) * clusterSize)
      val pairs = for (x <- members; y <- members if x < y) yield (x, y)
      set ++= rnd.shuffle(pairs).take(clusterEdges)
    }
    while (set.size < edges) {
      val (a, b) = (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong)
      if (a != b) set += ((math.min(a, b), math.max(a, b)))
    }
    val shuffled = rnd.shuffle(set.toVector)
    val baseN = shuffled.size * 7 / 10
    val batchN = (shuffled.size - baseN) / folds
    EdgeSet(shuffled.take(baseN), (0 until folds).map(i =>
      if (i == folds - 1) shuffled.drop(baseN + i * batchN)
      else shuffled.slice(baseN + i * batchN, baseN + (i + 1) * batchN)))
  }

  /** (id, n_tri) for every node of the edge list, counted in plain
    * Scala: the from-scratch result of Graph.triangleCounts.
    */
  def triangles(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    adj.map { case (v, ns) =>
      v -> ns.toSeq.map(u => (ns & adj(u)).size).sum.toLong / 2
    }.toSet
  }

  def rows(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id"), col("n_tri")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSet
}

/** The `graph` workload: everything that runs `operators.Graph`, as
  * queries and as a store.
  *
  * Query ops are iterative graph queries from `SparkEntry.queries`:
  * build the DataFrame (table resolution, and the rounds, which run
  * eagerly here) + one action that materialises every output column
  * and digests it. The tables are fixed (datagen.py), so each query's
  * rows and digest must equal expected/queries.json.
  *
  * Store ops are calls into the triangle store family's public API on
  * a fresh root per pass and a seeded edge set: base write, one
  * incremental fold, a debt-driven compaction through
  * Stats.maintainStores, a current-view read, an as-of read and a
  * writer-lease round trip. Fold and read results must equal the
  * plain-Scala from-scratch count on the same edges.
  *
  * The seed shuffles the query order and generates the edge set.
  */
final class GraphWorkload(ctx: Ctx, expectedPath: String) extends Workload {
  import GraphWorkload._

  private val spark = ctx.spark
  private val rec = ctx.rec
  private val expectedQueries: Map[String, (Long, String)] = {
    val f = new java.io.File(expectedPath)
    if (expectedPath.isEmpty || !f.exists) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      .fields().asScala.map { e =>
        e.getKey -> ((e.getValue.get("rows").asLong, e.getValue.get("digest").asText))
      }.toMap
  }
  private val order = new scala.util.Random(ctx.seed).shuffle(Queries)
  private val edges = EdgeSet.generate(ctx.seed, folds)
  private val expectedTri = (0 to folds).map(i => EdgeSet.triangles(edges.upTo(i)))

  override def prepare(): Unit =
    Queries.foreach(n => require(graft.SparkEntry.queries.contains(n),
      s"unknown query $n"))

  def pass(p: Int): Unit = {
    order.foreach(query)
    storeLifecycle(s"${ctx.runDir}/stores/pass$p/triangle")
  }

  private def query(name: String): Unit = ctx.op(name) {
    val df = rec.span("queries.build")(
      graft.SparkEntry.queries(name)(spark, ctx.dataDir))
    val (rows, digest) = rec.span("action")(Digest.of(df))
    rec.result(name, rows, Digest.hex(digest))
    expectedQueries.get(name) match {
      case Some((r, d)) => Check(r == rows && d == Digest.hex(digest),
        s"$name: rows $rows digest ${Digest.hex(digest)}, expected $r $d")
      case None => Check(expectedPath.isEmpty, s"$name: no expected value")
    }
  }

  private def df(es: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(es.map { case (a, b) => Row(a, b) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("a BIGINT, b BIGINT"))

  private def checkTri(got: DataFrame, after: Int, what: String): Unit = {
    val rows = EdgeSet.rows(got)
    val want = expectedTri(after)
    Check(rows == want, s"triangle store $what: ${rows.size} rows, " +
      s"${(rows -- want).size} unexpected, ${(want -- rows).size} missing")
  }

  private def storeLifecycle(dir: String): Unit = {
    val (a, b) = (col("a"), col("b"))
    val files = new FileTracker(dir)
    def op(name: String, verify: () => Unit = () => ())(body: => Unit): Unit = {
      ctx.op(s"store.$name", verify)(body)
      if (rec.traced) files.scan()
    }
    op("write")(rec.span("store.write")(
      Graph.writeTriangleStore(df(edges.base), a, b, dir)))
    for (i <- 1 to folds) {
      // the fold's store append is the op; reading back the counts it
      // returns is verification, outside the latency
      var out: DataFrame = null
      op("fold", () => checkTri(out, i, s"fold $i")) {
        out = rec.span("store.fold")(Graph.triangleCountsIncremental(
          df(edges.upTo(i)), a, b, df(edges.batches(i - 1)), a, b, dir,
          i.toLong))
      }
    }
    op("compact") {
      val outcome = rec.span("store.compact")(Stats.maintainStores(spark,
        Seq(dir -> (() => Graph.compactTriangleStore(spark, dir))),
        Stats.MaintenancePolicy(minDebt = 1)))
      Check(outcome.forall(_.action == "compacted"),
        s"maintenance: ${outcome.map(_.action).mkString(",")}")
    }
    op("view_read")(checkTri(
      rec.span("store.view_read")(Graph.triangleStoreCounts(spark, dir)),
      folds, "view"))
    op("asof_read")(checkTri(
      rec.span("store.asof_read")(
        Graph.triangleStoreCountsAsOf(spark, dir, folds.toLong)),
      folds, "as-of"))
    op("lease")(rec.span("store.lease")(
      Stats.withWriterLease(spark, Seq(dir), "perfbench")(())))
    if (rec.traced) {
      val st = Stats.storeStats(spark, Seq(dir)).head
      rec.gauge("store.view_bytes", st.viewBytes.toDouble)
      rec.gauge("store.view_files", st.viewFiles.toDouble)
      rec.gauge("store.bytes_written", files.written.toDouble)
      rec.gauge("store.peak_disk_bytes", files.peak.toDouble)
    }
  }
}

object GraphWorkload {
  /** Iterative graph queries whose rounds run eagerly while the query
    * is built: a synchronous k-core peel and strongly connected
    * components.
    */
  val Queries: Seq[String] = Seq("x_kcore", "x_scc")
  /** Incremental folds per store lifecycle. */
  val folds = 1
}

/** Bytes a store has written and its peak footprint, from file-system
  * listings of its root and sibling dirs taken after every op (traced
  * runs only).
  */
final class FileTracker(dir: String) {
  private val seen = mutable.Set[(String, Long, Long)]()
  var written = 0L
  var peak = 0L

  def scan(): Unit = {
    val d = new java.io.File(dir)
    val files = Option(d.getParentFile.listFiles).toSeq.flatten
      .filter(_.getName.startsWith(d.getName)).flatMap(walk)
    files.foreach { f =>
      if (seen.add((f.getPath, f.length, f.lastModified))) written += f.length
    }
    peak = math.max(peak, files.map(_.length).sum)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else Seq(f)
}
