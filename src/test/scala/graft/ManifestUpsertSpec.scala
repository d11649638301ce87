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
}
