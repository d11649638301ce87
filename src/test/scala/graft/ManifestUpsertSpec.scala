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
}
