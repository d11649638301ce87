package graft

import org.apache.spark.sql.functions._
import graft.operators.Stats

/** The scoped manifest fast path ([[Stats.upsertManifestFor]]) must be
  * indistinguishable from a from-scratch [[Stats.writeManifest]] — on
  * first write, on a batch append, and after a RETRY overwrite of a
  * batch dir (which swaps that dir's file names). Equality is on the
  * full manifest contents, so a qualified-path prefix mismatch (stale
  * rows kept, fresh rows duplicated) cannot hide.
  */
class ManifestUpsertSpec extends SparkSuite {
  import spark.implicits._

  private def manifestRows(path: String): Set[String] =
    spark.read.parquet(path)
      .orderBy(col("file"), col("column"))
      .collect().map(_.mkString("|")).toSet

  private def freshRows(dir: String): Set[String] = {
    val ref = java.nio.file.Files
      .createTempDirectory("graft-manref-").toString + "/m"
    Stats.writeManifest(spark, dir, ref)
    manifestRows(ref)
  }

  test("upsertManifestFor ≡ from-scratch writeManifest across " +
      "create, append, and retry-overwrite of a batch dir") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-manup-").toString
    val dir = root + "/store"
    val man = root + "/manifest"

    (1L to 50L).toDF("id").withColumn("v", col("id") * 2)
      .repartition(2).write.parquet(s"$dir/batch=1")
    // no manifest yet: the fall-back full write
    Stats.upsertManifestFor(spark, dir, man, s"$dir/batch=1")
    assert(manifestRows(man) == freshRows(dir))

    // append: only batch=2 may be listed/footer-read, rows for
    // batch=1 carry verbatim — content still ≡ full rebuild
    (51L to 90L).toDF("id").withColumn("v", col("id") * 2)
      .repartition(3).write.parquet(s"$dir/batch=2")
    Stats.upsertManifestFor(spark, dir, man, s"$dir/batch=2")
    assert(manifestRows(man) == freshRows(dir))

    // retry overwrite: batch=2's files are REPLACED (new part names,
    // different contents); the scoped upsert must drop every stale
    // row under the dir and carry none of the old file names
    (51L to 99L).toDF("id").withColumn("v", col("id") * 3)
      .repartition(2).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/batch=2")
    Stats.upsertManifestFor(spark, dir, man, s"$dir/batch=2")
    assert(manifestRows(man) == freshRows(dir))
    val files = spark.read.parquet(man)
      .select("file").distinct().as[String].collect()
    assert(files.forall(f => new java.io.File(
      new java.net.URI(f).getPath).exists()),
      s"manifest names a vanished file: ${files.mkString(", ")}")
  }

  test("a crashed first manifest write (only _temporary left) counts " +
      "as no manifest: a KeyedStore still appends and serves pruned " +
      "probes") {
    import graft.operators.KeyedStore
    val root = java.nio.file.Files
      .createTempDirectory("graft-mancrash-").toString + "/store"
    val store = KeyedStore(root, "crashStore", Seq("id" -> "bigint"),
      Seq("v" -> "bigint"), KeyedStore.NewestWins)
    store.writeBase(spark, "spec", 1)((1L to 20L).toDF("id")
      .withColumn("v", col("id") * 2))
    // replace the manifest by what a crash in its first write leaves
    val man = new java.io.File(root + "_manifest")
    org.apache.commons.io.FileUtils.deleteDirectory(man)
    val tmp = new java.io.File(man, "_temporary/0")
    tmp.mkdirs()
    java.nio.file.Files.write(new java.io.File(tmp, "part-0.parquet")
      .toPath, "PAR1 crashed".getBytes("UTF-8"))
    store.append(spark, "spec", 1L, 1)((21L to 30L).toDF("id")
      .withColumn("v", col("id") * 2))
    assert(spark.read.parquet(root + "_manifest").count() > 0,
      "the append did not write a committed manifest")
    val got = store.pruned(spark, "id", Seq(5L, 25L).toDF("id"))
      .where(col("id").isin(5L, 25L))
      .select(col("id"), col("v")).as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 10L), (25L, 50L)), s"got $got")
  }

  test("a missing or crashed manifest costs pruning, never rows: the " +
      "flat incremental readers and bm25TopKIndexed answer the same " +
      "rows with their manifest, without it, and with only a crashed " +
      "first write") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Curation, Dedup, Multimodal, Resolution,
      Retrieval}
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // what a crash in a manifest's first write leaves behind
    def crash(m: String): Unit = {
      val tmp = new java.io.File(m, "_temporary/0")
      tmp.mkdirs()
      java.nio.file.Files.write(new java.io.File(tmp, "part-0.parquet")
        .toPath, "PAR1 crashed".getBytes("UTF-8"))
    }
    val passage = "the quick brown fox jumps over the lazy dog while " +
      "counting tokens"
    val docs = (0L until 40L).map(i => (i,
        s"history document $i with unique content tail $i" +
          (if (i % 8 == 0) s" and $passage" else "")))
      .toDF("id", "text")
    val newDocs = Seq(
      (1000L, "history document 7 with unique content tail 7"),
      (1001L, s"a new document quoting $passage verbatim"),
      (1002L, "a brand new document that matches nothing at all"))
      .toDF("id", "text")
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian().toFloat)
    }
    val vecs = (0 until 40).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    val newVecs = Seq((1000L, vec(7)), (1001L, vec(9999))).toDF("id", "vec")
    def codes(v: DataFrame) = Dedup.embeddingCodes(v, col("id"),
      col("vec"), planes = 8, tables = 4)
    def spread(i: Long): Long = (i * 0x9E3779B97F4A7C15L) & ((1L << 56) - 1)
    val hashes = (0L until 40L).map(i => (i, spread(i)))
      .toDF("media_id", "dhash")
    val newHashes = Seq((1000L, spread(7L)), (1001L, spread(5000L)))
      .toDF("media_id", "dhash")
    def video(seed: Int): Array[Byte] = Array.tabulate(64 * 3) { j =>
      (j % 64) match {
        case 0 => seed.toByte
        case 2 => (j / 64).toByte
        case _ => 0x5A.toByte
      }
    }
    val media = (0 until 20).map(i => (i.toLong, video(i)))
      .toDF("media_id", "payload")
    val newMedia = Seq((1000L, video(7)), (1001L, video(99)))
      .toDF("media_id", "payload")
    val names = Seq((1L, "acme corp"), (2L, "acme corporation"),
        (3L, "zenith labs"), (4L, "zenith lab"), (5L, "orbit foods"),
        (6L, "delta freight"), (7L, "delta freights"))
      .toDF("rid", "nm")
    val newNames = Seq((10L, "acme corpp"), (11L, "orbit food"),
        (12L, "quartz mining")).toDF("rid", "nm")
    def ents(df: DataFrame) = Resolution.entities(df, col("rid"), col("nm"))
    val sigs = Dedup.minhashSigsNative(docs, col("id"), col("text"))
    val newSigs = Dedup.minhashSigsNative(newDocs, col("id"), col("text"))

    // (reader, store build from (store, manifest), read) — the BM25
    // index keeps two manifests beside its artifacts
    val flat: Seq[(String, (String, String) => Unit,
        (String, String) => DataFrame)] = Seq(
      ("minhashIncrementalCandidatesBanded",
        Dedup.writeBandedSigStore(sigs, _, _, filesOut = 8),
        Dedup.minhashIncrementalCandidatesBanded(newSigs, _, _)),
      ("minhashIncrementalBandedFromSigs",
        Dedup.writeBandedSigStore(sigs, _, _, filesOut = 8),
        Dedup.minhashIncrementalBandedFromSigs(newDocs, col("id"),
          newSigs, _, _)),
      ("embeddingIncrementalStored",
        Dedup.writeCodeStore(codes(vecs), _, _, filesOut = 8),
        Dedup.embeddingIncrementalStored(newVecs, col("id"), col("vec"),
          _, _, vecs, threshold = 0.99, planes = 8, tables = 4,
          multiprobe = 0)),
      ("substringIncremental",
        Curation.writeWindowStore(docs, col("id"), col("text"), _, _,
          filesOut = 8),
        Curation.substringIncremental(newDocs, col("id"), col("text"),
          _, _)),
      ("substringIncrementalPairs",
        Curation.writeWindowStore(docs, col("id"), col("text"), _, _,
          filesOut = 8),
        Curation.substringIncrementalPairs(newDocs, col("id"),
          col("text"), _, _)),
      ("videoFrameDupPairsAgainstStored",
        Multimodal.writeFrameStore(media, _, _, filesOut = 8),
        Multimodal.videoFrameDupPairsAgainstStored(_, _, newMedia)),
      ("dhashPairsAgainstStored",
        Multimodal.writeDhashStore(hashes, _, _, filesOut = 8),
        Multimodal.dhashPairsAgainstStored(_, _, newHashes)),
      ("erIncrementalPairs",
        Resolution.writeEntityStore(ents(names), _, _, filesOut = 4),
        Resolution.erIncrementalPairs(ents(newNames), _, _)))
    val cases = flat.map { case (name, build, read) =>
      val root = java.nio.file.Files
        .createTempDirectory("graft-manloss-").toString
      val (store, man) = (s"$root/store", s"$root/manifest")
      build(store, man)
      (name, Seq(man), () => read(store, man))
    } :+ {
      val idx = java.nio.file.Files
        .createTempDirectory("graft-manloss-").toString + "/idx"
      Retrieval.writeBm25Index(docs, col("id"), col("text"), idx,
        filesOut = 8)
      ("bm25TopKIndexed",
        Seq(s"$idx/postings_manifest", s"$idx/doclen_manifest"),
        () => Retrieval.bm25TopKIndexed(spark, idx,
          Seq("history", "passage", "tail"), k = 10))
    }
    for ((name, manifests, read) <- cases) {
      val want = rows(read())
      assert(want.nonEmpty, s"$name: the fixture must answer rows")
      manifests.foreach(m =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(m)))
      assert(rows(read()) == want, s"$name: manifest deleted")
      manifests.foreach(crash)
      assert(rows(read()) == want, s"$name: crashed manifest")
    }
  }

  test("a missing or crashed manifest costs pruning, never rows: the " +
      "range, conjunctive-range, categorical and bloom point reads " +
      "answer the same rows with their manifest, without it, and with " +
      "only a crashed first write") {
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files
      .createTempDirectory("graft-skiploss-").toString
    val dir = root + "/store"
    (0L until 80L).map(i => (i, i % 7, Seq("de", "en", "es", "fr")(
        (i / 20).toInt))).toDF("id", "x", "lang")
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
      .write.parquet(dir)
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // each reader gets its own manifest, written before its first read
    def footer(tag: String): String = {
      val m = s"$root/$tag"; Stats.writeManifest(spark, dir, m); m
    }
    def bloom(tag: String): String = {
      val m = s"$root/$tag"
      Stats.writeKeyBloomManifest(spark, dir, "id", m); m
    }
    val cases: Seq[(String, String, String => DataFrame)] = Seq(
      ("readSkippingManifest", footer("range"),
        Stats.readSkippingManifest(spark, dir, "id", 10, 20, _)),
      ("readSkippingAndManifest", footer("and"),
        Stats.readSkippingAndManifest(spark, dir,
          Seq(("id", 10.0, 50.0), ("x", 2.0, 3.0)), _)),
      ("readSkippingEqManifest", footer("eq"),
        Stats.readSkippingEqManifest(spark, dir, "lang", "es", _)),
      ("pointLookupKeptFiles", bloom("bloom"),
        Stats.readPointLookup(spark, dir, _, "id",
          Seq(5L, 47L).toDF("id"))))
    for ((name, man, read) <- cases) {
      val want = rows(read(man))
      assert(want.nonEmpty, s"$name: the fixture must answer rows")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(man))
      assert(rows(read(man)) == want, s"$name: manifest deleted")
      val tmp = new java.io.File(man, "_temporary/0")
      tmp.mkdirs()
      java.nio.file.Files.write(new java.io.File(tmp, "part-0.parquet")
        .toPath, "PAR1 crashed".getBytes("UTF-8"))
      assert(rows(read(man)) == want, s"$name: crashed manifest")
    }
  }

  // ---------- the slice protocol: one manifest file per data dir ----------

  import scala.jdk.CollectionConverters._

  private def keyed(root: String) = graft.operators.KeyedStore(root,
    "sliceStore", Seq("id" -> "bigint"), Seq("v" -> "bigint"),
    graft.operators.KeyedStore.NewestWins)

  private def idRows(lo: Long, hi: Long) =
    (lo to hi).toDF("id").withColumn("v", col("id") * 2)

  private def freshRoot(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-slice-$tag-").toString + "/store"

  // reader-visible file names of a manifest dir
  private def manifestFiles(man: String): Set[String] =
    Option(new java.io.File(man).listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  // the data files of `dirs` as local paths
  private def dataFiles(dirs: Seq[String]): Set[String] =
    dirs.flatMap { d =>
      org.apache.commons.io.FileUtils.listFiles(
        new java.io.File(new java.net.URI(d).getPath), Array("parquet"),
        true).asScala.map(_.getPath)
    }.filterNot(_.split("/").exists(c => c.startsWith("_") ||
      c.startsWith("."))).toSet

  private def manifestNames(man: String): Set[String] =
    spark.read.parquet(man).select("file").distinct().as[String]
      .collect().map(f => new java.net.URI(f).getPath).toSet

  test("a data commit whose slice write crashed answers the same rows " +
      "and reads that dir unpruned") {
    val root = freshRoot("crash")
    val store = keyed(root)
    store.writeBase(spark, "spec", 2)(idRows(1L, 40L))
    store.append(spark, "spec", 1L, 1)(idRows(41L, 60L))
    store.append(spark, "spec", 2L, 2)(idRows(61L, 80L))
    val probe = Seq(5L, 70L).toDF("id")
    def answer = store.pruned(spark, "id", probe)
      .where(col("id").isin(5L, 70L)).select("id", "v")
      .as[(Long, Long)].collect().toSet
    val want = answer
    assert(want == Set((5L, 10L), (70L, 140L)), s"got $want")
    // the crash: batch=2 committed, its slice never renamed into place
    val man = root + "_manifest"
    val slice = new java.io.File(man, "slice-batch=2.parquet")
    assert(slice.delete(), s"no slice at $slice")
    new java.io.File(man, ".slice-batch=2.parquet.crc").delete()
    java.nio.file.Files.write(new java.io.File(man,
      ".slice-batch=2.parquet-crashed").toPath, "PAR1".getBytes("UTF-8"))
    assert(answer == want)
    val kept = Stats.touchedFiles(spark, store.committedDirs(spark), man,
      Seq("id"), Seq(5L).toDF("id")).map(f => new java.net.URI(f).getPath)
    val batch2 = dataFiles(Seq(s"$root/batch=2"))
    assert(batch2.size == 2 && batch2.subsetOf(kept.toSet),
      s"uncovered batch=2 files must be read: kept $kept")
    assert(dataFiles(Seq(s"$root/batch=1")).intersect(kept.toSet).isEmpty,
      s"covered batch=1 must still prune: kept $kept")
  }

  test("a retried batch overwrite leaves one slice for that dir, and the " +
      "manifest covers exactly the view's files") {
    val root = freshRoot("retry")
    val store = keyed(root)
    val man = root + "_manifest"
    store.writeBase(spark, "spec", 2)(idRows(1L, 40L))
    store.append(spark, "spec", 1L, 1)(idRows(41L, 50L))
    store.append(spark, "spec", 1L, 3)(idRows(41L, 70L))
    assert(manifestFiles(man) ==
      Set("slice-batch=0.parquet", "slice-batch=1.parquet"),
      manifestFiles(man).mkString(", "))
    assert(manifestNames(man) == dataFiles(store.committedDirs(spark)))
    assert(dataFiles(Seq(s"$root/batch=1")).size == 3)
  }

  test("after compaction no manifest row names a vanished file, and the " +
      "vacuumed dirs' slices are gone") {
    val root = freshRoot("compact")
    val store = keyed(root)
    val man = root + "_manifest"
    store.writeBase(spark, "spec", 2)(idRows(1L, 40L))
    store.append(spark, "spec", 1L, 1)(idRows(41L, 50L))
    assert(store.compact(spark, "spec", 2).contains(1L))
    store.append(spark, "spec", 2L, 1)(idRows(51L, 60L))
    assert(store.compact(spark, "spec", 2).contains(2L))
    // the second fold vacuumed batch=0 and batch=1
    assert(!new java.io.File(s"$root/batch=0").exists())
    val names = manifestNames(man)
    assert(names.forall(f => new java.io.File(f).exists()),
      s"manifest names a vanished file: $names")
    assert(manifestFiles(man) == Set("slice-gen=1.parquet",
      "slice-gen=2.parquet", "slice-batch=2.parquet"),
      manifestFiles(man).mkString(", "))
    assert(dataFiles(store.committedDirs(spark)).subsetOf(names))
    assert(store.current(spark).count() == 60L)
  }

  test("a manifest written as one Spark table (part-* files) still " +
      "prunes and answers; the next refresh replaces it by slices") {
    val root = freshRoot("legacy")
    val store = keyed(root)
    val man = root + "_manifest"
    store.writeBase(spark, "spec", 2)(idRows(1L, 40L))
    store.append(spark, "spec", 1L, 1)(idRows(41L, 60L))
    // the one-table form: every row in Spark-written part files
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(man))
    Stats.parquetFileStats(spark, root).write.parquet(man)
    assert(manifestFiles(man).forall(_.startsWith("part-")))
    val probe = Seq(5L, 45L).toDF("id")
    val kept = Stats.touchedFiles(spark, store.committedDirs(spark), man,
      Seq("id"), Seq(45L).toDF("id")).map(f => new java.net.URI(f).getPath)
    assert(kept.toSet == dataFiles(Seq(s"$root/batch=1")),
      s"the one-table manifest must prune: kept $kept")
    assert(store.pruned(spark, "id", probe).where(col("id").isin(5L, 45L))
      .select("id", "v").as[(Long, Long)].collect().toSet ==
      Set((5L, 10L), (45L, 90L)))
    // a commit adds its slice beside the part files; the answer holds
    store.append(spark, "spec", 2L, 1)(idRows(61L, 70L))
    assert(manifestFiles(man).contains("slice-batch=2.parquet"))
    assert(store.pruned(spark, "id", Seq(65L).toDF("id"))
      .where(col("id") === 65L).count() == 1L)
    // compaction's refresh leaves slices only
    assert(store.compact(spark, "spec", 2).isDefined)
    assert(manifestFiles(man).forall(_.startsWith("slice-")),
      manifestFiles(man).mkString(", "))
    assert(manifestNames(man) == dataFiles(Seq(root)))
  }
}
