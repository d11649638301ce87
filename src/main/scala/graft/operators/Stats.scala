package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Parquet footer-stats manifest: per-file, per-column row counts,
  * null counts, and min/max — the metadata a scan's row-group skipping
  * runs on, surfaced as a queryable DataFrame.
  *
  * Why it matters at 100 TB: file/row-group skipping is the difference
  * between reading 100 TB and reading 200 GB for a narrow predicate,
  * and whether it CAN fire is a property of the physical layout
  * ([[Layout.compact]] clustering / [[Layout.compactZOrder]]). This
  * manifest is the measurement side of that loop — `skippableFiles`
  * reports exactly which files a predicate would prune, so layout
  * decisions are driven by numbers instead of hope. The same manifest
  * pattern is what table formats (Delta/Iceberg) persist natively;
  * here it is computed from the footers that plain parquet already
  * carries.
  *
  * Scale shape: footers (a few KB each) are read on the driver beside
  * the file listing it already pays; nothing reads data pages, and no
  * metadata work runs as a Spark job. The manifest and every store
  * read declare their schemas (the manifest's columns, or a store
  * file's own footer), so no read here runs Spark's schema-inference
  * job either.
  */
object Stats {

  /** The footer-stats manifest's columns: per (file, leaf column) —
    * file, column (dotted path), ptype (parquet physical type), rows,
    * nulls (-1 when the footer carries no stats), min_str / max_str
    * (string render, null when absent), min_num / max_num (doubles for
    * numeric physical types, null otherwise — usable for
    * range-skipping arithmetic in SQL) and min_int / max_int (exact
    * integral bounds for INT32/INT64 columns).
    */
  private[graft] val ManifestSchema: StructType = StructType(Seq(
    "file" -> StringType, "column" -> StringType, "ptype" -> StringType,
    "rows" -> LongType, "nulls" -> LongType,
    "min_str" -> StringType, "max_str" -> StringType,
    "min_num" -> DoubleType, "max_num" -> DoubleType,
    "min_int" -> LongType, "max_int" -> LongType)
    .map { case (n, t) => StructField(n, t) })

  // the manifest's columns as the parquet schema its slice files carry
  private lazy val sliceType: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
      Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    ManifestSchema.fields.foldLeft[Types.GroupBuilder[MessageType]](
        Types.buildMessage()) { (b, f) =>
      f.dataType match {
        case StringType => b.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case LongType => b.optional(INT64).named(f.name)
        case _ => b.optional(DOUBLE).named(f.name)
      }
    }.named("manifest")
  }

  // one manifest row: a file's leaf column, row groups merged
  private final case class ColumnStats(file: String, column: String,
                                       ptype: String, rows: Long,
                                       nulls: Long,
                                       minStr: Option[String],
                                       maxStr: Option[String],
                                       minNum: Option[Double],
                                       maxNum: Option[Double],
                                       minInt: Option[Long],
                                       maxInt: Option[Long]) {
    def merge(o: ColumnStats): ColumnStats = {
      // strings compare as UTF-8 bytes, the order of parquet's UTF8
      // stats and of Spark's string comparison
      val utf8 = Ordering.fromLessThan[String]((x, y) =>
        java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"),
          y.getBytes("UTF-8")) < 0)
      val dbl = Ordering.Double.TotalOrdering
      copy(rows = rows + o.rows, nulls = nulls + o.nulls,
        minStr = (minStr ++ o.minStr).minOption(utf8),
        maxStr = (maxStr ++ o.maxStr).maxOption(utf8),
        minNum = (minNum ++ o.minNum).minOption(dbl),
        maxNum = (maxNum ++ o.maxNum).maxOption(dbl),
        minInt = (minInt ++ o.minInt).minOption,
        maxInt = (maxInt ++ o.maxInt).maxOption)
    }

    def row: Row = Row(file, column, ptype, rows, nulls, minStr.orNull,
      maxStr.orNull, minNum.orNull, maxNum.orNull, minInt.orNull,
      maxInt.orNull)
  }

  private def readFooter(conf: org.apache.hadoop.conf.Configuration,
                         file: String)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(file), conf))
    try reader.getFooter finally reader.close()
  }

  // `file`'s manifest rows, read from its footer on the driver
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          file: String): Seq[ColumnStats] = {
    val chunks = readFooter(conf, file).getBlocks.asScala
      .flatMap(_.getColumns.asScala)
    chunks.map { cc =>
      val st = cc.getStatistics
      val has = st != null && !st.isEmpty
      val hasVals = has && st.hasNonNullValue
      def bound(v: => Comparable[_]): AnyRef =
        if (hasVals) v.asInstanceOf[AnyRef] else null
      val (mn, mx) = (bound(st.genericGetMin), bound(st.genericGetMax))
      def num(v: AnyRef): Option[Double] = v match {
        case n: java.lang.Number => Some(n.doubleValue())
        case _ => None
      }
      // exact integral bounds: INT32/INT64 stats surface as boxed
      // Integer/Long — kept as Long so 64-bit hash keys (xxhash64
      // buckets) never round through a double, and row groups merge
      // NUMERICALLY (the string min/max merge is lexicographic —
      // correct for UTF8 stats, wrong for decimal renders of integers)
      def intg(v: AnyRef): Option[Long] = v match {
        case n: java.lang.Integer => Some(n.longValue())
        case n: java.lang.Long => Some(n.longValue())
        case _ => None
      }
      ColumnStats(file, cc.getPath.toDotString,
        cc.getPrimitiveType.getPrimitiveTypeName.name(),
        cc.getValueCount, if (has) st.getNumNulls else -1L,
        if (hasVals) Option(st.minAsString) else None,
        if (hasVals) Option(st.maxAsString) else None,
        num(mn), num(mx), intg(mn), intg(mx))
    }.groupBy(s => (s.column, s.ptype)).values.map(_.reduce(_ merge _))
      .toSeq.sortBy(s => (s.column, s.ptype))
  }

  // reader-visible: no path component below `root` starts with `_` or
  // `.` (a crashed write's `_temporary/` attempt dirs, `_SUCCESS`,
  // checksum and hidden files are invisible to Spark's parquet reader)
  private def readerVisible(root: Path, p: Path): Boolean = {
    var cur = p
    while (cur != null && cur != root) {
      val nm = cur.getName
      if (nm.startsWith("_") || nm.startsWith(".")) return false
      cur = cur.getParent
    }
    true
  }

  // the reader-visible parquet data files under `dir`, recursively
  // (partitioned tables nest files under dt=... dirs); none when `dir`
  // is missing
  private def visibleFiles(fs: FileSystem, dir: Path): Seq[LocatedFileStatus] = {
    val q = fs.makeQualified(dir)
    if (!fs.exists(q)) Nil
    else {
      val it = fs.listFiles(q, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(f => isDataFile(f) && readerVisible(q, f.getPath)).toSeq
    }
  }

  private def isDataFile(f: FileStatus): Boolean =
    f.isFile && f.getLen > 0 && f.getPath.getName.endsWith(".parquet")

  /** Recursive data-file listing. Driver-side, O(files) — the same cost
    * any scan's file index already pays.
    */
  private def listParquetFiles(spark: SparkSession,
                               dir: String): Seq[String] =
    listParquetFilesWithSize(spark, dir).map(_._1)

  private def listParquetFilesWithSize(spark: SparkSession,
                                       dir: String)
      : Seq[(String, Long)] = {
    val path = new Path(dir)
    visibleFiles(path.getFileSystem(spark.sparkContext.hadoopConfiguration),
      path).map(f => (f.getPath.toString, f.getLen))
  }

  /** The footer stats of every data file under `dir` ([[ManifestSchema]]
    * rows), read on the driver.
    */
  def parquetFileStats(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    spark.createDataFrame(listParquetFiles(spark, dir)
      .flatMap(footerStats(conf, _)).map(_.row).asJava, ManifestSchema)
  }

  // ---------- store reads: schemas from driver-read footers ----------

  // the Spark row schema Spark's own inference reads from `file`'s
  // footer — the same types, so "*" columns and int widths resolve as
  // an inferring read would resolve them
  private def footerSchema(spark: SparkSession, file: String): StructType =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFooterBridge
      .schema(spark, new org.apache.parquet.hadoop.Footer(new Path(file),
        readFooter(spark.sparkContext.hadoopConfiguration, file)))

  // the first data file by path of each of `dirs` — the order Spark's
  // inference picks its footer by
  private def firstFiles(spark: SparkSession,
                         dirs: Seq[String]): Seq[String] =
    dirs.flatMap(d => listParquetFiles(spark, d).minOption)

  // `paths` read under the schema of the first of `files` (their data
  // files, or one first file per dir), the footer an inferring read
  // would take — with no inference job; no files reads as before
  private def readAs(spark: SparkSession, files: Seq[String],
                     paths: Seq[String]): DataFrame =
    if (files.isEmpty) spark.read.parquet(paths: _*)
    else spark.read.schema(footerSchema(spark, files.min))
      .parquet(paths: _*)

  /** Committed data dirs (a store view's `gen=`/`batch=` dirs, or one
    * cumulative artifact) read under the schema of their first file's
    * footer, the one an inferring read would take — with no inference
    * job.
    */
  private[graft] def readDirs(spark: SparkSession,
                              dirs: Seq[String]): DataFrame =
    readAs(spark, firstFiles(spark, dirs), dirs)

  /** Files a `column BETWEEN lo AND hi` predicate would skip entirely
    * (footer range disjoint from [lo, hi], or the column is all null).
    * The report that licenses a clustered rewrite: on a range-clustered
    * layout most files are skippable for a narrow predicate; on a
    * write-order layout almost none are.
    */
  def skippableFiles(spark: SparkSession, dir: String, column: String,
                     lo: Double, hi: Double): DataFrame =
    skippableFilesFrom(parquetFileStats(spark, dir), column, lo, hi)

  /** [[skippableFiles]] over an already-computed stats table — the
    * form a PERSISTED manifest consumes (no footer sweep).
    */
  def skippableFilesFrom(stats: DataFrame, column: String,
                         lo: Double, hi: Double): DataFrame =
    stats
      .where(col("column") === column)
      .where((col("min_num").isNotNull && col("max_num").isNotNull &&
        (col("max_num") < lo || col("min_num") > hi)) ||
        (col("nulls") >= 0 && col("nulls") === col("rows")))
      .select(col("file"), col("rows"), col("min_num"), col("max_num"))

  /** String twin of [[skippableFiles]]: files a `column = value`
    * predicate skips entirely, decided on the footer's string min/max.
    * Sound because the orderings agree end to end: parquet UTF8 stats,
    * Spark string comparison, and the manifest round trip are all
    * unsigned-byte-lexicographic on UTF-8; writer-side stat truncation
    * only WIDENS the bounds (truncated max is incremented), so a
    * skipped file provably cannot contain the value.
    */
  def skippableFilesEq(spark: SparkSession, dir: String, column: String,
                       value: String): DataFrame =
    skippableFilesEqFrom(parquetFileStats(spark, dir), column, value)

  /** [[skippableFilesEq]] over an already-computed stats table. */
  def skippableFilesEqFrom(stats: DataFrame, column: String,
                           value: String): DataFrame =
    stats
      .where(col("column") === column)
      .where((col("min_str").isNotNull && col("max_str").isNotNull &&
        (lit(value) < col("min_str") || lit(value) > col("max_str"))) ||
        (col("nulls") >= 0 && col("nulls") === col("rows")))
      .select(col("file"), col("rows"), col("min_str"), col("max_str"))

  /** Manifest-driven pruned scan: read ONLY the files whose footer
    * range can intersect `column BETWEEN lo AND hi`, then apply the
    * predicate row-exactly on the survivors. This is the consuming
    * side of [[skippableFiles]] — the poor-man's version of what
    * Delta/Iceberg do from their persisted manifests, available on
    * plain parquet directories.
    *
    * Layout-independent result: pruning only removes files the
    * predicate provably rejects, so the output hash-matches the same
    * predicate over a full scan regardless of clustering. The WIN is
    * layout-dependent: on a range-clustered layout ([[Layout.compact]]
    * with cluster columns) a narrow predicate reads a handful of files
    * instead of the table — at 100 TB the difference between a scan
    * and a lookup.
    *
    * Scope: flat (non-hive-partitioned) directories — for partitioned
    * layouts, partition pruning already does this from the directory
    * structure; this operator covers the clustering WITHIN files that
    * partition columns can't express. Footer reads are distributed;
    * the driver handles only file-name lists.
    */
  def readSkipping(spark: SparkSession, dir: String, column: String,
                   lo: Double, hi: Double): DataFrame =
    scanKept(spark, Seq(dir), unskipped(spark, dir,
        Some(skippableFiles(spark, dir, column, lo, hi))))
      .where(col(column) >= lo && col(column) <= hi)

  /** Categorical twin of [[readSkipping]]: `column = value` over a
    * string column, pruning on footer string ranges — the read path
    * for a corpus clustered by language/source/domain, where a
    * single-category job should touch only that category's files.
    */
  def readSkippingEq(spark: SparkSession, dir: String, column: String,
                     value: String): DataFrame =
    scanKept(spark, Seq(dir), unskipped(spark, dir,
        Some(skippableFilesEq(spark, dir, column, value))))
      .where(col(column) === value)

  /** The files of `dir` the skip report `skippable` does not name —
    * every file when there is no report (no committed manifest). Files
    * the report does not mention are ALWAYS read, so a stale, partial
    * or lost stats source can only lose pruning, never rows.
    */
  private def unskipped(spark: SparkSession, dir: String,
                        skippable: Option[DataFrame]): Seq[String] = {
    val all = listParquetFiles(spark, dir)
    skippable.fold(all) { s =>
      val skip = s.select(col("file")).collect().map(_.getString(0)).toSet
      all.filterNot(skip)
    }
  }

  // the committed manifest at `manifestPath` read under its declared
  // `schema` (the footer manifest's by default); None when none is
  // committed (missing, or only a crashed first write's leftovers)
  private def manifestAt(spark: SparkSession, manifestPath: String,
                         schema: StructType = ManifestSchema)
      : Option[DataFrame] =
    if (hasManifest(spark, manifestPath))
      Some(spark.read.schema(schema).parquet(manifestPath))
    else None

  // ---------- persisted manifest ----------

  /** The footer-stats manifest PERSISTED as a parquet table — what
    * Delta/Iceberg keep natively, maintained here for plain parquet
    * directories. [[parquetFileStats]] recomputed per query is a full
    * footer sweep + listing every time — minutes of metadata work per
    * query at 100 TB; the persisted manifest makes pruning a read of
    * an O(files × columns) table instead.
    *
    * Layout: one flat parquet directory of SLICE files, one per data
    * dir — `slice-<name>.parquet` for each child dir of `dir` (a
    * store's `batch=<id>` / `gen=<tok>`, a table's `dt=...`) and
    * `slice.parquet` for files directly in `dir` — each built from its
    * files' footers, read on the driver, and written under a hidden
    * name then renamed into place. `spark.read.parquet` of the
    * manifest path reads every slice at once ([[ManifestSchema]]).
    *
    * Contract: data files are IMMUTABLE once written (the parquet/data
    * -lake convention — appends add files, compaction writes new ones,
    * a retried batch writes new file names). A commit touches only the
    * slice of the dir it wrote ([[upsertManifestFor]]); no other
    * manifest row is read or rewritten. Consumers treat the manifest as
    * advisory: pruned reads never skip a file the manifest does not
    * cover, so a missing slice (a crash between a data commit and its
    * slice) or a stale one costs pruning, never correctness.
    *
    * This writes every slice from scratch and drops every other file
    * the manifest dir holds (vanished dirs' slices, or the `part-*`
    * files of a manifest written as one Spark table).
    */
  def writeManifest(spark: SparkSession, dir: String,
                    manifestPath: String): Unit =
    syncSlices(spark, dir, manifestPath, rewrite = true)

  /** Bring a persisted manifest up to date after appends / compactions
    * / deletes, slice by slice: a data dir whose slice names exactly
    * its files is left alone; otherwise its slice is rewritten with
    * the rows of its files the slice already covers carried verbatim
    * and footers read only for the files it has not seen. Slices of
    * vanished dirs are deleted — a compaction's refresh writes its
    * generation's slice and drops the slices of the dirs it vacuumed.
    * With no committed manifest this is [[writeManifest]].
    */
  def refreshManifest(spark: SparkSession, dir: String,
                      manifestPath: String): Unit =
    syncSlices(spark, dir, manifestPath, rewrite = false)

  /** The commit path of a `batch=<id>` / `gen=<tok>` write: replace the
    * slice of `changedDir` (a child dir of `dir`) with its files'
    * footer stats — exact under retry overwrites, which swap that
    * dir's files — and nothing else: no other dir is listed,
    * footer-read or rewritten.
    */
  def upsertManifestFor(spark: SparkSession, dir: String,
                        manifestPath: String,
                        changedDir: String): Unit = {
    val changed = new Path(changedDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = changed.getFileSystem(conf)
    writeSlice(fs, conf, slicePath(manifestPath, changed.getName),
      visibleFiles(fs, changed).flatMap(f =>
        footerStats(conf, f.getPath.toString)))
    spark.catalog.refreshByPath(manifestPath)
  }

  // the slice covering child dir `name` of a manifest's data dir ("" =
  // the files directly in it)
  private def slicePath(manifestPath: String, name: String): Path =
    new Path(manifestPath,
      if (name.isEmpty) "slice.parquet" else s"slice-$name.parquet")

  // replace the slice at `to` by `rows` (none: delete it); written
  // under a hidden name and renamed, so a crash leaves the old slice,
  // none, or the whole new one
  private def writeSlice(fs: FileSystem,
                         conf: org.apache.hadoop.conf.Configuration,
                         to: Path, rows: Seq[ColumnStats]): Unit =
    if (rows.isEmpty) fs.delete(to, false): Unit
    else {
      val tmp = new Path(to.getParent,
        s".${to.getName}-${java.util.UUID.randomUUID()}")
      val out = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(tmp, conf))
        .withType(sliceType)
        .withConf(new org.apache.hadoop.conf.Configuration(conf)).build()
      val groups =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(
          sliceType)
      try rows.foreach { r =>
        val g = groups.newGroup()
        ManifestSchema.fieldNames.zip(r.row.toSeq).foreach {
          case (_, null) =>
          case (n, v: String) => g.add(n, v)
          case (n, v: Long) => g.add(n, v)
          case (n, v: Double) => g.add(n, v)
        }
        out.write(g)
      } finally out.close()
      fs.delete(to, false)
      fs.rename(tmp, to): Unit
    }

  // the rows of the slice at `p`, read on the driver
  private def sliceRows(conf: org.apache.hadoop.conf.Configuration,
                        p: Path): Seq[ColumnStats] = {
    val in = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(new org.apache.hadoop.conf.Configuration(conf)).build()
    try Iterator.continually(in.read()).takeWhile(_ != null).map { g =>
      def opt[T](n: String)(get: String => T): Option[T] =
        if (g.getFieldRepetitionCount(n) > 0) Some(get(n)) else None
      def str(n: String) = g.getString(n, 0)
      def long(n: String) = g.getLong(n, 0)
      def dbl(n: String) = g.getDouble(n, 0)
      ColumnStats(str("file"), str("column"), str("ptype"), long("rows"),
        long("nulls"), opt("min_str")(str), opt("max_str")(str),
        opt("min_num")(dbl), opt("max_num")(dbl), opt("min_int")(long),
        opt("max_int")(long))
    }.toVector
    finally in.close()
  }

  // the manifest brought level with `dir`'s data dirs, one slice per
  // dir (all rewritten from footers when `rewrite`); every other
  // reader-visible file of the manifest dir is deleted
  private def syncSlices(spark: SparkSession, dir: String,
                         manifestPath: String, rewrite: Boolean): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val root = fs.makeQualified(new Path(dir))
    val man = new Path(manifestPath)
    val held = if (!fs.exists(man)) Set.empty[String]
      else fs.listStatus(man).map(_.getPath.getName).toSet
    val units: Seq[(String, Seq[FileStatus])] =
      if (!fs.exists(root)) Nil
      else {
        val (subdirs, own) = fs.listStatus(root).toSeq
          .filter(s => readerVisible(root, s.getPath))
          .partition(_.isDirectory)
        ("" -> own.filter(isDataFile)) +:
          subdirs.map(s => s.getPath.getName -> visibleFiles(fs, s.getPath))
      }.filter(_._2.nonEmpty)
    val live = units.map { case (name, files) =>
      val to = slicePath(manifestPath, name)
      val listed = files.map(_.getPath.toString).toSet
      val old =
        if (rewrite || !held(to.getName)) Nil else sliceRows(conf, to)
      val seen = old.map(_.file).toSet
      if (seen != listed)
        writeSlice(fs, conf, to, old.filter(r => listed(r.file)) ++
          (listed -- seen).toSeq.sorted.flatMap(footerStats(conf, _)))
      to.getName
    }.toSet
    held.filterNot(n => live(n) || n.startsWith("_") || n.startsWith("."))
      .foreach(n => fs.delete(new Path(man, n), true))
    spark.catalog.refreshByPath(manifestPath)
  }

  /** True iff a manifest is committed at `manifestPath` — judged by
    * reader-visible parquet ([[hasCommittedParquet]]), so a crashed
    * first write's `_temporary` leftovers count as no manifest, never
    * as one `spark.read.parquet` cannot open.
    */
  private[graft] def hasManifest(spark: SparkSession,
                                 manifestPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && hasCommittedParquet(fs, p)
  }

  // ---------- committed gen=/batch= store protocol ----------

  /** True iff `root` holds at least one READER-VISIBLE committed
    * parquet data file. Files under any path component starting with
    * `_` or `.` (a crashed write's `_temporary/` attempt dirs,
    * `_SUCCESS`, hidden files) are invisible to Spark's parquet
    * reader, so counting them as "committed" would make a bootstrap
    * probe claim a store exists while `spark.read.parquet` finds zero
    * files — permanently poisoning every retry after a first-batch
    * crash.
    */
  def hasCommittedParquet(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Boolean = {
    val qRoot = fs.makeQualified(root)
    val it = fs.listFiles(qRoot, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .exists(f => isDataFile(f) && readerVisible(qRoot, f.getPath))
  }

  /** The committed READ VIEW of a `gen=`/`batch=` store: the newest
    * committed `gen=<t>` compaction (if any) plus committed
    * `batch=<id>` dirs with id > t. Generation selection makes
    * compaction atomic from the reader's side — a reader resolves
    * either the old generation + its batch dirs or the new generation,
    * never a mix. Commit state is judged per sub-directory by
    * reader-visible parquet ([[hasCommittedParquet]]), so a crashed
    * write is ignored until its retry commits it. Empty = no committed
    * store content.
    */
  def committedViewDirs(spark: SparkSession, root: String): Seq[String] =
    viewDirsAt(spark, root, Long.MaxValue)

  /** The committed dirs the view resolved to when the newest committed
    * token was `asOf`: the newest committed `gen=<g>` with g ≤ asOf (if
    * any) plus committed `batch=<id>` dirs with g < id ≤ asOf. No
    * vacuum-floor check — [[committedViewDirsAsOf]] adds it; at
    * `Long.MaxValue` this is [[committedViewDirs]].
    */
  private[graft] def viewDirsAt(spark: SparkSession, root: String,
                                asOf: Long): Seq[String] = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootP)) return Nil
    val dirs = fs.listStatus(rootP).filter(_.isDirectory).map(_.getPath)
      .filter(p => hasCommittedParquet(fs, p))
    val gens = dirs.filter(_.getName.startsWith("gen="))
      .map(p => (p.getName.stripPrefix("gen=").toLong, p))
      .filter(_._1 <= asOf)
    val tok = if (gens.isEmpty) Long.MinValue else gens.map(_._1).max
    val batches = dirs.filter(_.getName.startsWith("batch="))
      .filter { p =>
        val id = p.getName.stripPrefix("batch=").toLong
        id > tok && id <= asOf
      }
    (gens.filter(_._1 == tok).map(_._2) ++ batches)
      .map(_.toString).toSeq
  }

  /** The store's committed (generation token, max batch token) —
    * `Long.MinValue` for whichever side is absent. The read head of
    * the monotone batch sequence every `gen=`/`batch=` store shares.
    */
  def committedTokens(spark: SparkSession, root: String): (Long, Long) = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootP)) return (Long.MinValue, Long.MinValue)
    val dirs = fs.listStatus(rootP).filter(_.isDirectory).map(_.getPath)
      .filter(p => hasCommittedParquet(fs, p))
    def maxOf(prefix: String): Long = {
      val ts = dirs.filter(_.getName.startsWith(prefix))
        .map(_.getName.stripPrefix(prefix).toLong)
      if (ts.isEmpty) Long.MinValue else ts.max
    }
    (maxOf("gen="), maxOf("batch="))
  }

  /** Thrown when an as-of read asks for a snapshot the vacuum has
    * already destroyed — named, with the store's surviving floor, so
    * a reproducibility pipeline fails at the read instead of silently
    * training on a different corpus than the one it recorded.
    */
  final class SnapshotUnavailableException(msg: String)
    extends IllegalStateException(msg)

  /** The oldest batch token whose snapshot is still exactly
    * reconstructible from disk — `Long.MinValue` when ALL history
    * survives. Derived from the compaction protocol's one-cycle
    * vacuum grace, no manifest needed: a fold vacuums only what the
    * PREVIOUS fold superseded, so with fewer than two committed
    * generations nothing has ever been vacuumed (first-fold grace
    * keeps every original batch dir), and with two or more the
    * OLDEST SURVIVING generation token is exactly the horizon — every
    * gen/batch dir above it is still present (the completed cycle
    * that superseded it vacuumed everything at or below it, and a
    * fold crashed before its vacuum leaves an extra old generation,
    * which only LOWERS the floor — still exact, never unsound).
    */
  def snapshotFloor(spark: SparkSession, root: String): Long = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootP)) return Long.MinValue
    val gens = fs.listStatus(rootP).filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("gen=") &&
        hasCommittedParquet(fs, p))
      .map(_.getName.stripPrefix("gen=").toLong)
    if (gens.length < 2) Long.MinValue else gens.min
  }

  /** AS-OF (snapshot) view of a `gen=`/`batch=` store: the committed
    * dirs that reconstruct the store exactly as [[committedViewDirs]]
    * would have resolved it when the newest committed token was
    * `asOf` — the reproducible-training-data read ("train on the
    * corpus as of batch 41", audit a past decision, diff two
    * snapshots). Resolution: the newest committed `gen=<g>` with
    * g ≤ asOf (if any) plus committed `batch=<id>` dirs with
    * g < id ≤ asOf. Throws [[SnapshotUnavailableException]] when
    * `asOf` predates [[snapshotFloor]] — the protocol's one-cycle
    * vacuum grace makes that floor exact, so an answer is either
    * bit-identical to the historical view or a named refusal, never a
    * silent partial corpus.
    *
    * COMPLIANCE: time travel never undoes a takedown. A readout over
    * an as-of view must still anti-join the family's CURRENT deleted
    * set (`<root>_deleted`'s live view) — retraction is retroactive
    * across snapshots, exactly as vacuuming a tombstoned row is.
    */
  def committedViewDirsAsOf(spark: SparkSession, root: String,
                            asOf: Long): Seq[String] = {
    requireSnapshot(spark, root, asOf)
    viewDirsAt(spark, root, asOf)
  }

  /** Throw [[SnapshotUnavailableException]], citing the floor, when
    * `asOf` predates [[snapshotFloor]] — the refusal every floored
    * as-of read makes before it resolves dirs.
    */
  private[graft] def requireSnapshot(spark: SparkSession, root: String,
                                     asOf: Long): Unit = {
    val floor = snapshotFloor(spark, root)
    if (asOf < floor)
      throw new SnapshotUnavailableException(
        s"store at $root cannot serve a snapshot as of $asOf: " +
          s"compaction has vacuumed history below token $floor " +
          "(one-cycle grace keeps exactly the dirs above the " +
          "second-newest generation); re-run against a token >= " +
          s"$floor, or retain more history by compacting less often")
  }

  private def retractionFloorPath(root: String) =
    new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}__retract_floor")

  /** Record that the fold at `tok` applied TOMBSTONES to `root` —
    * i.e. raw dirs below `tok` still on disk (one-cycle grace)
    * contain rows whose tombstones the fold just cleared. A sibling
    * marker file (metadata-only, monotone max, written under the
    * family lease by the compactor) carries the token; snapshot
    * readers refuse below it: after a takedown is folded, the
    * pre-takedown corpus must be unreproducible EVEN WHILE its dirs
    * await the next vacuum — right-to-be-forgotten bounds time
    * travel, not the other way around.
    */
  def recordRetractionFloor(spark: SparkSession, root: String,
                            tok: Long): Unit = {
    val p = retractionFloorPath(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (tok > retractionFloor(spark, root)) {
      val out = fs.create(p, true)
      try out.write(tok.toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The newest token at which a fold applied tombstones to `root` —
    * `Long.MinValue` when no takedown was ever folded (or the marker
    * is unreadable: absent/corrupt reads as "no floor", which is safe
    * only because the NEXT fold's vacuum destroys the dirs anyway;
    * the marker narrows the one-cycle exposure window, it does not
    * carry the whole compliance story).
    */
  def retractionFloor(spark: SparkSession, root: String): Long = {
    val p = retractionFloorPath(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      if (!fs.exists(p)) Long.MinValue
      else {
        val in = fs.open(p)
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          .trim.toLong
        finally in.close()
      }
    } catch { case _: Exception => Long.MinValue }
  }

  /** [[openCommittedStore]]'s as-of twin: snapshot resolution via
    * [[committedViewDirsAsOf]] (named refusal below the vacuum
    * floor), then the same order-insensitive, int-width-equivalent
    * schema assertion — a drifted HISTORICAL dir fails at open too.
    * Empty view (asOf below the first batch) returns None.
    */
  def openCommittedStoreAsOf(spark: SparkSession, root: String,
                             asOf: Long,
                             expected: Seq[(String, String)],
                             who: String): Option[DataFrame] = {
    val dirs = committedViewDirsAsOf(spark, root, asOf)
    if (dirs.isEmpty) None
    else Some(openGuarded(spark, dirs, expected, who,
      s"snapshot of $root as of $asOf", ""))
  }

  /** One store root's health, from FS metadata only — see
    * [[storeStats]]. Tokens are Long.MinValue when absent.
    */
  final case class StoreStats(root: String, newestGen: Long,
                              newestBatch: Long,
                              batchDirsAboveGen: Int,
                              viewFiles: Int, viewBytes: Long)

  /** FS-metadata store health — the signal an OPTIMIZE/vacuum
    * scheduler needs without reading a single data row: per root, the
    * committed sequence head (newest `gen=`/`batch=` token), the
    * COMPACTION DEBT (committed batch dirs above the newest
    * generation — exactly what the next fold would fold), and the
    * committed view's file count and byte size (small-file pressure:
    * debt × files-per-batch is the open() cost every reader pays
    * until someone compacts). Tombstone siblings are their own
    * sequences — pass them explicitly (`<root>_deleted`,
    * `<root>/deleted`) to see the backlog a compaction would fold and
    * clear. Read-only; pairs with [[writerLeaseStatus]] for the
    * who-is-writing half of the console.
    */
  def storeStats(spark: SparkSession, roots: Seq[String])
      : Seq[StoreStats] =
    roots.filter(_.nonEmpty).distinct.map { r =>
      val rootP = new org.apache.hadoop.fs.Path(r)
      val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(rootP))
        StoreStats(r, Long.MinValue, Long.MinValue, 0, 0, 0L)
      else {
        val (gTok, bTok) = committedTokens(spark, r)
        val debt = fs.listStatus(rootP).filter(_.isDirectory)
          .map(_.getPath)
          .filter(p => p.getName.startsWith("batch=") &&
            hasCommittedParquet(fs, p))
          .count(_.getName.stripPrefix("batch=").toLong > gTok)
        val files = committedViewDirs(spark, r).flatMap { d =>
          fs.listStatus(new org.apache.hadoop.fs.Path(d))
            .filter(s => s.isFile &&
              s.getPath.getName.endsWith(".parquet"))
        }
        StoreStats(r, gTok, bTok, debt, files.size,
          files.map(_.getLen).sum)
      }
    }

  /** Thresholds for [[maintainStores]] — a family is DUE when any of:
    * compaction debt (committed batch dirs above the newest
    * generation) ≥ `minDebt`; tombstone backlog (debt of the family's
    * deleted-id set, [[KeyedStore.tombstoneRoots]]) ≥ `minTombstones`
    * (retraction compliance wants physical drops promptly — lower to
    * 1 to fold on every takedown); committed-view file count ≥
    * `minViewFiles` (small-file pressure; disabled by default — debt
    * already tracks it for append-heavy stores).
    * `retainSnapshotsFrom` is the RETENTION PIN: a debt-triggered
    * fold is skipped (`skipped_retention`) when its vacuum would
    * destroy the history a snapshot at or above that token needs —
    * pin the token a training run reads as-of, and OPTIMIZE leaves
    * its corpus reconstructible until the pin lifts. A tombstone
    * backlog folds THROUGH the pin: takedown compliance beats
    * reproducibility (the retraction floor then refuses pre-takedown
    * snapshots by name).
    */
  final case class MaintenancePolicy(minDebt: Int = 8,
                                     minTombstones: Int = 2,
                                     minViewFiles: Int = Int.MaxValue,
                                     retainSnapshotsFrom: Long =
                                       Long.MaxValue)

  /** One [[maintainStores]] decision: what the scheduler saw
    * (`debt` / `tombstoneDebt` / `viewFiles`, from FS metadata only)
    * and what it did — `compacted` (with the new generation token),
    * `skipped_below_threshold`, `skipped_retention` (a debt fold
    * would destroy a pinned snapshot's history — see
    * [[MaintenancePolicy.retainSnapshotsFrom]]), or
    * `skipped_lease_held` (a LIVE writer holds the family — the
    * named conflict is surfaced in `detail`, not thrown: a
    * maintenance sweep over many families must not die because one
    * is mid-ingestion).
    */
  final case class MaintenanceOutcome(root: String, debt: Int,
                                      tombstoneDebt: Int,
                                      viewFiles: Int, action: String,
                                      newGen: Option[Long],
                                      detail: String)

  /** Debt-driven OPTIMIZE scheduler — the consumer half of
    * [[storeStats]]'s console: for each `(root, compact)` family,
    * read the FS-metadata health (no data rows touched), and when the
    * policy says the family is due, run its compactor — the
    * ALREADY-FENCED family compactor (compactNearDupStoreBanded,
    * compactEmbedStore, compactPqCodeStore, …) or a declared
    * [[KeyedStore]]'s `() => store.compact(spark, owner, filesOut)`;
    * the thunk returns the new generation token. Below
    * threshold the family is untouched (not even listed beyond the
    * stats read). A family whose lease is held by a live writer is
    * reported, not thrown — quiesce the gate (or let its own in-sink
    * maintenance run) and sweep again. Tombstone backlog is read from
    * every place the family's deleted-id set can live
    * ([[KeyedStore.tombstoneRoots]]) automatically. Run it from a
    * cron/driver loop with the same policy everywhere; at 100 TB this
    * is the OPTIMIZE scheduler — a metadata-only sweep deciding which
    * few of thousands of store families pay a fold this cycle.
    */
  def maintainStores(spark: SparkSession,
                     families: Seq[(String, () => Option[Long])],
                     policy: MaintenancePolicy = MaintenancePolicy())
      : Seq[MaintenanceOutcome] =
    families.map { case (root, compact) =>
      val s = storeStats(spark, Seq(root)).head
      val tombDebt = storeStats(spark, KeyedStore.tombstoneRoots(root))
        .map(_.batchDirsAboveGen).sum
      val dueCompliance = tombDebt >= policy.minTombstones
      val due = dueCompliance ||
        s.batchDirsAboveGen >= policy.minDebt ||
        s.viewFiles >= policy.minViewFiles
      // a fold's vacuum destroys history below the CURRENT newest
      // generation (snapshotFloor rises to it): a retention pin
      // blocks debt-triggered folds that would unmake a pinned
      // snapshot — but a tombstone backlog folds ANYWAY (takedown
      // compliance beats reproducibility, exactly as the retraction
      // floor refuses pre-takedown snapshots by name afterwards)
      val pinBlocked = !dueCompliance &&
        s.newestGen != Long.MinValue &&
        s.newestGen > policy.retainSnapshotsFrom
      if (!due)
        MaintenanceOutcome(root, s.batchDirsAboveGen, tombDebt,
          s.viewFiles, "skipped_below_threshold", None, "")
      else if (pinBlocked)
        MaintenanceOutcome(root, s.batchDirsAboveGen, tombDebt,
          s.viewFiles, "skipped_retention", None,
          s"fold would vacuum history below gen=${s.newestGen}, " +
            "destroying snapshots pinned from " +
            s"${policy.retainSnapshotsFrom}")
      else
        try {
          val g = compact()
          // None from the compactor = tombstone backlog with nothing
          // foldable on the main sequence (an append-free gate store):
          // the read path's anti-join keeps the retraction in force;
          // the physical drop lands with the next append's fold —
          // reported, not hidden, so a sweep's log shows the deferral
          MaintenanceOutcome(root, s.batchDirsAboveGen, tombDebt,
            s.viewFiles,
            if (g.isDefined) "compacted" else "no_fold_available",
            g, "")
        } catch {
          case e: ConcurrentWriterException =>
            MaintenanceOutcome(root, s.batchDirsAboveGen, tombDebt,
              s.viewFiles, "skipped_lease_held", None, e.getMessage)
        }
    }

  /** The token a SUPERSEDING generation must carry: one above the
    * newest committed gen/batch token across `roots` (a store plus
    * any sibling projection) — writing `gen=<this>` hides every
    * earlier batch in the committed view atomically, the
    * rebuild-on-retract primitive behind the graph stores' deletion
    * path.
    */
  def supersedingToken(spark: SparkSession, roots: Seq[String]): Long = {
    val head = roots.map { r =>
      val (g, b) = committedTokens(spark, r)
      math.max(g, b)
    }.max
    if (head == Long.MinValue) 1L else head + 1L
  }

  /** Guard for the monotone batch-id contract shared by every append
    * AND tombstone delete on a `gen=`/`batch=` store: a write at an id
    * not above the newest generation token would be invisible to
    * [[committedViewDirs]] and vacuumed by the next compaction (silent
    * data loss), and a write below the newest batch token would lose
    * every newest-wins fold to data it is supposed to supersede.
    * Equality with the newest BATCH token is allowed — a retried batch
    * rewrites its own directory (the overwrite-idempotence story).
    * `roots` lists every directory participating in the sequence
    * (e.g. a store plus its `_deleted` sibling).
    */
  def requireMonotoneBatch(spark: SparkSession, roots: Seq[String],
                           batchId: Long, who: String): Unit = {
    val toks = roots.map(r => committedTokens(spark, r))
    val genTok = toks.map(_._1).max
    val batTok = toks.map(_._2).max
    require(batchId > genTok && batchId >= batTok,
      s"$who: batchId=$batchId is not on the store's monotone " +
        s"sequence (newest gen=$genTok, newest batch=$batTok over " +
        s"${roots.mkString(", ")}); a write below the head would be " +
        "invisible after compaction or lose every newest-wins fold — " +
        "resume appends/deletes ABOVE the store's current head")
  }

  /** Thrown when a store's committed view does not carry its family's
    * expected schema: a drifted or corrupted store dir fails LOUDLY at
    * open ("store at PATH: expected/found"), instead of an obscure
    * analysis error mid-query — or worse, a silent cast.
    */
  final class StoreSchemaException(msg: String)
    extends IllegalStateException(msg)

  /** Open a `gen=`/`batch=` store's committed view with the family's
    * schema asserted at open: field (name → type) must match
    * `expected` (order-insensitive; nullability ignored — parquet
    * writers vary it; INTEGER WIDTHS equivalent — key columns carry
    * the corpus's key type, int nationkeys vs bigint doc ids, and the
    * folds widen losslessly, so int-vs-bigint is legitimate variation
    * while string/double/array drift is the corruption this catches).
    * Types are `DataType.simpleString` renders ("bigint", "int",
    * "array<bigint>", …). Empty stores behave exactly as the
    * unguarded read did (the caller's committed-content probe is the
    * emptiness contract, not this). An expected type of `"*"` checks
    * the column's PRESENCE only — for payload columns whose type
    * legitimately follows the corpus (e.g. a label store's label).
    * Every committed dir is checked, on its first file's footer read
    * on the driver, before the read; the read takes the schema of the
    * view's first file — the one Spark's inference would sample — so
    * no inference job runs.
    */
  def openCommittedStore(spark: SparkSession, root: String,
                         expected: Seq[(String, String)],
                         who: String): DataFrame =
    openGuarded(spark, committedViewDirs(spark, root), expected, who,
      s"store at $root", " (a drifted store dir would otherwise " +
        "surface as an unrelated mid-query analysis error, or silently " +
        "cast)")

  // `dirs` read after each dir's first footer passes the guard, under
  // the schema of the first footer of all
  private def openGuarded(spark: SparkSession, dirs: Seq[String],
                          expected: Seq[(String, String)], who: String,
                          subject: String, why: String): DataFrame = {
    val footers = firstFiles(spark, dirs).map(f => f -> footerSchema(spark, f))
    footers.foreach { case (f, schema) =>
      guardSchema(schema, expected, who,
        s"$subject (dir ${new Path(f).getParent.getName})", why)
    }
    if (footers.isEmpty) spark.read.parquet(dirs: _*)
    else spark.read.schema(footers.minBy(_._1)._2).parquet(dirs: _*)
  }

  // the store schema guard: column names as a set, types compared with
  // every integer width equivalent ("*" accepts any type)
  private def guardSchema(schema: StructType,
                          expected: Seq[(String, String)], who: String,
                          subject: String, why: String): Unit = {
    val intWidths = Set("tinyint", "smallint", "int", "bigint")
    def canon(t: String): String =
      if (intWidths(t)) "integral" else t
    val found = schema.fields
      .map(f => f.name -> f.dataType.simpleString).toSeq
    val foundM = found.map { case (n, t) => n -> canon(t) }.toMap
    val ok = foundM.keySet == expected.map(_._1).toSet &&
      expected.forall { case (n, t) =>
        t == "*" || foundM.get(n).contains(canon(t))
      }
    if (!ok)
      throw new StoreSchemaException(
        s"$who: $subject has a drifted schema — expected {" +
          expected.map { case (n, t) => s"$n: $t" }.mkString(", ") +
          "}, found {" +
          found.map { case (n, t) => s"$n: $t" }.mkString(", ") +
          s"}; refusing the read$why")
  }

  // ---------- writer fence (store-family leases) ----------

  /** Thrown when a second concurrent writer tries to claim a store
    * family another sink is still maintaining. The quiesce contract
    * between ingestion gates and retraction sinks — previously a
    * docstring — fails FAST and NAMED here, instead of surfacing later
    * as a monotone-sequence violation in whichever writer loses the
    * interleave.
    */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** The lease marker for a store-family root: a sibling FILE (never a
    * dir under the root — readers glob the root's `gen=`/`batch=`
    * children and must not see it).
    */
  def writerLeasePath(root: String): String =
    s"${root.stripSuffix("/")}__writer_lease"

  /** One lease file's I/O. The body of a `file:` lease is claimed,
    * read, rewritten and deleted through java.nio: the claim is one
    * atomic `CREATE_NEW` (Hadoop's local create checks, creates and
    * then forks `chmod`, which a same-JVM release can race into a stray
    * IOException), and no ChecksumFileSystem `.crc` sidecar can
    * disagree with a body written outside it. Every other scheme goes
    * through its Hadoop FileSystem, whose `create(overwrite = false)`
    * is the arbiter. Existence and mtime (the heartbeat) are read
    * through Hadoop on every scheme; neither touches the body.
    */
  private final class LeaseFile(path: String,
                                conf: org.apache.hadoop.conf.Configuration) {
    import java.nio.file.{Files, StandardOpenOption => Open}
    private val hp = new Path(path)
    private val fs = hp.getFileSystem(conf)
    private val local = if (fs.getScheme != "file") None
      else Some(java.nio.file.Paths.get(fs.makeQualified(hp).toUri))

    def exists: Boolean = fs.exists(hp)
    def modifiedMs: Long = fs.getFileStatus(hp).getModificationTime

    def read(): String = local.fold {
      val in = fs.open(hp)
      try org.apache.commons.io.IOUtils.toString(in, "UTF-8") finally in.close()
    }(p => new String(Files.readAllBytes(p), "UTF-8"))

    /** Create the file holding `body`; false when it already exists. */
    def create(body: String): Boolean = local match {
      case Some(p) =>
        Files.createDirectories(p.getParent) // as Hadoop's create does
        try {
          Files.write(p, body.getBytes("UTF-8"), Open.CREATE_NEW, Open.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case None =>
        val out = try fs.create(hp, false) catch {
          case e: java.io.IOException =>
            if (fs.exists(hp)) return false else throw e
        }
        try out.write(body.getBytes("UTF-8")) finally out.close()
        true
    }

    def overwrite(body: String): Unit = local.fold {
      val out = fs.create(hp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }(Files.write(_, body.getBytes("UTF-8")): Unit)

    def delete(): Unit =
      local.fold(fs.delete(hp, false))(Files.deleteIfExists(_)): Unit
  }

  private def leaseFile(spark: SparkSession, path: String): LeaseFile =
    new LeaseFile(path, spark.sessionState.newHadoopConf())

  // intra-process holder registry: lease file path → the claim id
  // holding it (the streaming query's UUID once it launches; a unique
  // sync-claim id during a fenced batch mutation or a sink's pre-start
  // window; LEASE_STARTING only for direct acquireWriterLease callers
  // that pass no holder). Liveness is checked here, so a lease whose
  // holder terminated — even if the async release listener has not
  // fired yet — is reclaimable without manual intervention.
  private val LEASE_STARTING = new java.util.UUID(0L, 0L)
  private val leaseHolders =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.UUID]()
  // sync-claim ids currently alive in this JVM: a claim id in here is
  // live by definition (its owning scope has not exited) — the batch
  // analogue of a StreamingQuery's isActive.
  private val liveSyncClaims =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  private def leaseIsLive(spark: SparkSession,
                          qid: java.util.UUID): Boolean =
    qid == LEASE_STARTING || liveSyncClaims.contains(qid) ||
      // streaming holders register under q.runId, which is unique PER
      // RUN — a checkpoint resume mints a new runId while q.id stays
      // constant, so a predecessor's late termination event can never
      // pass an ownership check against its successor's registration
      spark.streams.active.exists(q => q.runId == qid && q.isActive)

  /** Mint a claim id that [[leaseIsLive]] reports live until
    * [[dropSyncClaim]] — the holder identity for synchronous (batch
    * mutation / sink pre-start) lease scopes, so their releases are
    * ownership-checked instead of clobbering a successor's claim.
    */
  private[graft] def newSyncClaim(): java.util.UUID = {
    val id = java.util.UUID.randomUUID()
    liveSyncClaims.add(id): Unit
    id
  }
  private[graft] def dropSyncClaim(id: java.util.UUID): Unit = {
    liveSyncClaims.remove(id): Unit
  }

  // test seam: invoked with the lease path right before the atomic
  // cross-process create — lets a spec interleave a foreign process's
  // file into the claim window and observe the named refusal.
  private[graft] var leaseClaimTestHook: String => Unit = _ => ()

  // test seam: invoked with (root, newGenToken) between a
  // compaction's fold write and its vacuum — the crash-injection
  // point for the gen=/batch= recovery spec.
  private[graft] var compactionTestHook: (String, Long) => Unit =
    (_, _) => ()

  /** Heartbeat cadence for held writer leases: a daemon refresher
    * bumps every held lease file's mtime this often, so OTHER
    * processes can tell a live holder from a crashed one. The mtime
    * IS the heartbeat (set by the holder's refresher and by every
    * claim/record write); no file body parsing is involved.
    */
  @volatile var leaseHeartbeatIntervalMs: Long = 60000L

  /** Stale-heartbeat grace: a FOREIGN process's lease file whose
    * mtime is older than this is treated as a crashed holder and
    * reclaimed (the atomic create-if-absent still arbitrates, so two
    * stale-reclaimers resolve to exactly one winner); a fresher
    * foreign file keeps the named refusal. Default = 10 heartbeat
    * intervals — generous against clock skew between writers (local
    * FS mtimes come from each writer's clock) and refresher
    * scheduling jitter. Set to Long.MaxValue to disable cross-process
    * reclaim entirely (the pre-heartbeat behavior: only
    * [[releaseWriterLease]] breaks a crashed foreign holder's lease).
    */
  @volatile var leaseStaleGraceMs: Long = 600000L

  // the refresher needs a Hadoop conf off-thread; captured at claim
  // time (any claimer's conf resolves the same lease paths)
  @volatile private var leaseHadoopConf
      : org.apache.hadoop.conf.Configuration = _
  private val leaseRefresherStarted =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  // mtime-only refresh: setTimes on a path whose lease was released
  // (and file deleted) throws FileNotFound and is skipped — the
  // refresher can never resurrect a released lease file, unlike a
  // rewrite would
  private def refreshHeldLeases(): Unit = {
    val conf = leaseHadoopConf
    if (conf != null) {
      val now = System.currentTimeMillis()
      leaseHolders.keySet().forEach { p =>
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(conf).setTimes(hp, now, -1)
        } catch { case _: Throwable => () }
      }
    }
  }

  private val lastLeaseRefresh =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def ensureLeaseRefresher(): Unit =
    if (leaseRefresherStarted.compareAndSet(false, true)) {
      val ex = java.util.concurrent.Executors
        .newSingleThreadScheduledExecutor { r =>
          val t = new Thread(r, "graft-lease-heartbeat")
          t.setDaemon(true)
          t
        }
      // a fixed 1 s tick with a due-check (instead of scheduling at
      // the interval itself) so interval changes apply from the next
      // tick; a tick with nothing due — or nothing held — is a no-op
      ex.scheduleWithFixedDelay(new Runnable {
        def run(): Unit = {
          val now = System.currentTimeMillis()
          if (now - lastLeaseRefresh.get() >= leaseHeartbeatIntervalMs
              && !leaseHolders.isEmpty) {
            lastLeaseRefresh.set(now)
            refreshHeldLeases()
          }
        }
      }, 1000L, 1000L, java.util.concurrent.TimeUnit.MILLISECONDS): Unit
    }

  /** Claim the writer lease on every store-family root in `roots` for
    * one writer, atomically per root intra-process (the holder
    * registry's putIfAbsent/CAS is the arbiter between two writers of
    * one JVM — the common deployment, one driver per store family) and
    * cross-process (the arbiter is a create-if-absent of the lease
    * file: on a LOCAL filesystem java.nio's atomic `CREATE_NEW`, on
    * HDFS and object stores with conditional create
    * `fs.create(path, overwrite = false)` — see [[LeaseFile]]; a file
    * that appears between the inspection and the create loses us the
    * claim instead of being clobbered).
    * Throws [[ConcurrentWriterException]] when a root is held by a
    * LIVE writer; ANY failure — conflict or I/O — rolls back every
    * registry entry and lease file this call placed, and never touches
    * a file another writer owns. A lease whose in-process holder has
    * terminated is reclaimed by CAS (exactly one of two racing
    * reclaimers wins; covers the async-release race on sequential
    * resume), and the reclaim path re-inspects the lease FILE too.
    * Cross-process liveness is the HEARTBEAT: holders refresh their
    * lease files' mtime every [[leaseHeartbeatIntervalMs]], so a
    * foreign file whose mtime is stale past [[leaseStaleGraceMs]] is
    * a crashed process and is reclaimed (create-if-absent arbitrates
    * racing reclaimers); a fresh foreign file keeps the named refusal
    * — break a wedged one manually with [[releaseWriterLease]].
    * `holder` is the registry identity for this claim (a sync-claim id
    * from [[newSyncClaim]], or the default LEASE_STARTING sentinel)
    * and is stamped into the file body, so the ownership-checked
    * release can tell its own file from a reclaimer's fresh one.
    */
  def acquireWriterLease(spark: SparkSession, roots: Seq[String],
                         owner: String,
                         holder: java.util.UUID = LEASE_STARTING)
      : Unit = {
    val paths = roots.map(writerLeasePath).distinct.sorted
    val appId = spark.sparkContext.applicationId
    // rollback sets: registry entries this call placed; lease files
    // this call created
    val registered = scala.collection.mutable.ArrayBuffer[String]()
    val created = scala.collection.mutable.ArrayBuffer[String]()
    def fail(p: String, heldBy: String): Nothing =
      throw new ConcurrentWriterException(
        s"$owner: store family at ${p.stripSuffix("__writer_lease")} " +
          s"is leased by $heldBy — a second concurrent writer on one " +
          "gen=/batch= sequence interleaves appends and deletes " +
          "(silent data loss); quiesce the holding sink first, or " +
          "break a crashed process's stale lease with " +
          "Stats.releaseWriterLease")
    try {
      paths.foreach { p =>
        // intra-process claim: putIfAbsent is the atomic arbiter
        // between two writers of this JVM; a terminated holder is
        // swapped out by CAS, so two racing reclaimers resolve to
        // exactly one winner (the loser re-reads and either sees the
        // winner — live — or retries on a vacated slot)
        @annotation.tailrec
        def claimRegistry(): Unit = {
          val prev = leaseHolders.putIfAbsent(p, holder)
          if (prev != null) {
            if (leaseIsLive(spark, prev))
              fail(p, s"query $prev (this app)")
            else if (!leaseHolders.replace(p, prev, holder))
              claimRegistry() // registry moved under us: re-read
          }
        }
        claimRegistry()
        registered += p
        val lease = leaseFile(spark, p)
        // cross-process inspection — on EVERY path, including the
        // intra-process reclaim: a lease file from another app is
        // reclaimed ONLY when its heartbeat (mtime) is stale past the
        // grace window — a crashed foreign process no longer wedges
        // the family forever; our own app's stale file (terminated
        // holder, or a file this JVM lost track of after a listener
        // raced a crash) is removed so the create below arbitrates
        // cleanly. A file that VANISHES between the existence check and
        // a read — a same-JVM holder's release deleting it right after
        // dropping its registry entry — is absent, not an unreadable
        // live lease: the create below still arbitrates.
        def inspect[T](read: => T, unreadable: T): Option[T] =
          try Some(read) catch {
            case _: Throwable => if (lease.exists) Some(unreadable) else None
          }
        if (lease.exists) {
          val body = inspect(lease.read(), "")
          body.filterNot(_.contains(s"app=$appId")).foreach { b =>
            val hbAge = inspect(System.currentTimeMillis() -
              lease.modifiedMs, 0L)
            hbAge.filter(_ <= leaseStaleGraceMs).foreach { age =>
              fail(p, if (b.isEmpty) "an unreadable lease"
                else s"$b (heartbeat ${age}ms old — a live " +
                  "process; stale-lease reclaim needs age > " +
                  s"$leaseStaleGraceMs ms)")
            }
          }
          lease.delete()
        }
        leaseClaimTestHook(p)
        // cross-process arbiter: atomic create-if-absent — a file
        // that appeared since the inspection means another process
        // claimed the family first
        if (!lease.create(s"owner=$owner;app=$appId;holder=$holder"))
          fail(p, "a lease file created concurrently by another process")
        created += p
      }
      leaseHadoopConf = spark.sessionState.newHadoopConf()
      ensureLeaseRefresher()
    } catch {
      case t: Throwable =>
        // conflict or I/O failure mid-claim must not leave the family
        // stuck: delete only files this call created, drop only
        // registry entries this call placed (conditional on `holder`,
        // so a successor's claim is never clobbered), then rethrow
        created.foreach { p =>
          try leaseFile(spark, p).delete()
          catch { case _: Throwable => () }
        }
        registered.foreach(p => leaseHolders.remove(p, holder): Unit)
        throw t
    }
  }

  /** Record the streaming query run now holding leases acquired with
    * [[acquireWriterLease]] (`to` = the query's runId — unique per
    * run, so a checkpoint resume's successor never shares an identity
    * with its predecessor) — conditional on the expected pre-start
    * holder, so a lease operator-broken and re-claimed mid-start is
    * never clobbered. Rewrites the lease file body's holder stamp to
    * match, so the ownership-checked release's file-side check stays
    * aligned with the registry. Enables the terminated-holder reclaim.
    */
  def recordLeaseHolder(spark: SparkSession, roots: Seq[String],
                        from: java.util.UUID,
                        to: java.util.UUID): Unit =
    roots.map(writerLeasePath).distinct.foreach { p =>
      if (leaseHolders.replace(p, from, to)) {
        try {
          val lease = leaseFile(spark, p)
          val body = try lease.read() catch { case _: Throwable => "" }
          if (body.contains(s"holder=$from"))
            lease.overwrite(body.replace(s"holder=$from", s"holder=$to"))
        } catch { case _: Throwable => () }
      }
    }

  private def releaseLease(spark: SparkSession, path: String): Unit = {
    leaseHolders.remove(path)
    leaseFile(spark, path).delete()
  }

  /** Release (or operator-break) the writer leases on `roots`.
    * UNCONDITIONAL — the operator's crowbar for a crashed process's
    * stale lease. Idempotent; deleting a missing lease is a no-op.
    * Running writers release through [[releaseWriterLeaseOwned]].
    */
  def releaseWriterLease(spark: SparkSession,
                         roots: Seq[String]): Unit =
    roots.map(writerLeasePath).distinct
      .foreach(p => releaseLease(spark, p))

  /** Ownership-checked release: drop the leases on `roots` only where
    * the registry still names `holder`. A predecessor query's LATE
    * termination event can fire after a successor sink has
    * liveness-reclaimed the family (the sequential-resume story); an
    * unconditional release there would delete the successor's lease
    * and let a third writer in — defeating the fence in exactly the
    * interleave it exists to prevent. The lease FILE is deleted only
    * when the conditional registry remove succeeds AND the file body
    * still carries this holder's stamp — a reclaiming acquirer that
    * slipped into the remove→delete window has already replaced the
    * file with its own stamp, which this release then leaves alone
    * (the residual read→delete gap is best-effort on filesystems
    * without conditional delete; the heartbeat makes any leaked file
    * reclaimable after grace).
    */
  def releaseWriterLeaseOwned(spark: SparkSession, roots: Seq[String],
                              holder: java.util.UUID): Unit =
    roots.map(writerLeasePath).distinct.foreach { p =>
      if (leaseHolders.remove(p, holder)) {
        try {
          val lease = leaseFile(spark, p)
          val body = try lease.read() catch { case _: Throwable => "" }
          if (body.contains(s"holder=$holder")) lease.delete()
        } catch { case _: Throwable => () }
      }
    }

  /** One status row per family root — the operator's read-only
    * console for the fence, the look-before-you-break companion to
    * [[releaseWriterLease]]: `(root, leased, holderLive, holder,
    * leaseFileBody)`. `leased` = a registry entry OR a lease file
    * exists; `holderLive` = this JVM's registry holder is live (a
    * running query or an open sync claim) — false for a terminated
    * holder awaiting reclaim AND for a foreign process's file (whose
    * liveness this JVM cannot see; the body's `owner=…;app=…` says
    * whose it is). Never mutates.
    */
  def writerLeaseStatus(spark: SparkSession, roots: Seq[String])
      : Seq[(String, Boolean, Boolean, String, String)] =
    roots.filter(_.nonEmpty).distinct.map { r =>
      val p = writerLeasePath(r)
      val holder = Option(leaseHolders.get(p))
      val lease = leaseFile(spark, p)
      val body =
        if (!lease.exists) ""
        else try lease.read() catch { case _: Throwable => "<unreadable>" }
      (r, holder.isDefined || body.nonEmpty,
        holder.exists(leaseIsLive(spark, _)),
        holder.map(_.toString).getOrElse(""), body)
    }

  // store-family roots whose lease the current thread's enclosing
  // scope already holds (a leased streaming sink's foreachBatch, or an
  // outer withWriterLease): fenced batch mutators called from such a
  // scope are reentrant no-ops on these roots instead of
  // self-conflicting with the lease their caller holds.
  private val heldByThread = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Mark `roots` as lease-held by the current thread for the duration
    * of `body`, WITHOUT claiming — the bridge a leased streaming
    * sink's foreachBatch uses so the fenced batch mutators it calls
    * (compactions, tombstone deletes, store rebuilds) recognize the
    * enclosing query's lease instead of conflicting with it.
    * Composable: nested scopes add, and restore on exit.
    */
  def withHeldLeases[T](roots: Seq[String])(body: => T): T = {
    val ps = roots.filter(_.nonEmpty).map(writerLeasePath).toSet
    val prev = heldByThread.get()
    heldByThread.set(prev ++ ps)
    try body finally heldByThread.set(prev)
  }

  /** Run one BATCH store-family mutation under the writer fence: claim
    * the lease on every root the enclosing scope does not already
    * hold, run `body`, release (ownership-checked). The batch half of
    * the quiesce contract — a compaction, takedown, or rebuild against
    * a LIVE streaming gate's family throws
    * [[ConcurrentWriterException]] in the caller's thread, exactly
    * like a conflicting sink would; against a quiesced family it
    * claims, mutates, and releases synchronously. Reentrant: called
    * from a leased sink's foreachBatch (under [[withHeldLeases]]) or
    * from an outer withWriterLease, already-held roots are skipped, so
    * in-sink maintenance pays no per-batch lease churn. FAMILY-scoped:
    * a held primary root also covers its tombstone siblings
    * (`<root>_deleted`, `<root>_deleted_nodes`) and any subdirectory
    * (`<root>/codes`, `<root>/vecs`, …) — the sibling dirs the docs
    * already declare covered by the primary root's lease, so in-sink
    * tombstone compaction never claims (and can never leak) a
    * separate sibling lease mid-cycle.
    */
  def withWriterLease[T](spark: SparkSession, roots: Seq[String],
                         owner: String)(body: => T): T = {
    val held = heldByThread.get()
    def coveredByHeld(r: String): Boolean = {
      val n = r.stripSuffix("/")
      held(writerLeasePath(n)) || held.exists { hp =>
        val base = hp.stripSuffix("__writer_lease")
        n.startsWith(base) && {
          val rest = n.substring(base.length)
          rest.startsWith("/") || rest.startsWith("_deleted")
        }
      }
    }
    val toClaim = roots.filter(_.nonEmpty).distinct
      .filterNot(coveredByHeld)
    if (toClaim.isEmpty) return body
    val claim = newSyncClaim()
    try {
      acquireWriterLease(spark, toClaim, owner, claim)
      try withHeldLeases(toClaim)(body)
      finally releaseWriterLeaseOwned(spark, toClaim, claim)
    } finally dropSyncClaim(claim)
  }

  /** Fold a `gen=`/`batch=` store's committed view into one compacted
    * `gen=<maxBatchId>` generation shaped by `shape` (the OPTIMIZE
    * primitive behind every incremental store's compaction path), then
    * vacuum only what a FULL compaction cycle has already superseded:
    * generations and batch dirs folded into the PREVIOUS generation.
    * The one-cycle grace period is the retention story for readers
    * racing the compactor — an in-flight scan that resolved the
    * previous generation still has every file it listed.
    * Overwrite-idempotent: a crashed or retried compaction rewrites
    * the same generation; an uncommitted generation dir is invisible
    * to readers. Returns the new generation token, or None when there
    * was nothing to fold.
    */
  def compactCommittedStore(spark: SparkSession, root: String,
                            shape: DataFrame => DataFrame)
      : Option[Long] = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootP)) return None
    // the OPTIMIZE primitive claims the family lease itself: calling
    // it directly against a LIVE gate's root is exactly the
    // batch-vs-stream interleave the fence refuses, and the directory
    // listing below must see a frozen sequence head. The fenced
    // compactors built on top already hold their root — reentrant
    // no-op there, including tombstone (`_deleted`) and subdir
    // (codes/, vecs/) siblings of a held family root.
    withWriterLease(spark, Seq(root), "compactCommittedStore(batch)") {
      val dirs = fs.listStatus(rootP).filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => hasCommittedParquet(fs, p))
      val gens = dirs.filter(_.getName.startsWith("gen="))
        .map(p => (p.getName.stripPrefix("gen=").toLong, p))
      val prevTok =
        if (gens.isEmpty) Long.MinValue else gens.map(_._1).max
      val foldable = dirs.filter(_.getName.startsWith("batch="))
        .map(p => (p.getName.stripPrefix("batch=").toLong, p))
        .filter(_._1 > prevTok)
      if (foldable.isEmpty) None
      else {
        val newTok = foldable.map(_._1).max
        val viewPaths = (gens.filter(_._1 == prevTok).map(_._2) ++
          foldable.map(_._2)).map(_.toString).toSeq
        shape(readDirs(spark, viewPaths))
          .write.mode("overwrite").parquet(s"$root/gen=$newTok")
        // crash seam: fires between the fold commit and the vacuum —
        // lets a spec kill the compactor at the protocol's most
        // delicate point and machine-check the old-or-new-never-a-mix
        // reader claim plus re-run recovery
        compactionTestHook(root, newTok)
        val stale =
          gens.filter(_._1 < prevTok).map(_._2) ++
            dirs.filter(_.getName.startsWith("batch="))
              .filter(_.getName.stripPrefix("batch=").toLong <= prevTok)
        stale.foreach(p => fs.delete(p, true))
        Some(newTok)
      }
    }
  }

  /** [[readSkipping]] through a persisted manifest: no footer sweep,
    * no listing beyond the one the read itself needs. Files the
    * manifest does not cover (e.g. appended since the last refresh)
    * are read unconditionally.
    */
  def readSkippingManifest(spark: SparkSession, dir: String,
                           column: String, lo: Double, hi: Double,
                           manifestPath: String): DataFrame =
    scanKept(spark, Seq(dir), unskipped(spark, dir,
        manifestAt(spark, manifestPath)
          .map(skippableFilesFrom(_, column, lo, hi))))
      .where(col(column) >= lo && col(column) <= hi)

  /** Conjunctive multi-range pruned read through a persisted manifest:
    * `c₁ BETWEEN lo₁ AND hi₁ AND c₂ BETWEEN lo₂ AND hi₂ AND …`. A file
    * provably disjoint on ANY conjunct cannot satisfy the conjunction,
    * so the skip set is the UNION of the per-column skip sets — this is
    * where a Z-ordered layout ([[Layout.compactZOrder]]) earns its
    * keep: every file covers a small hyper-rectangle, so EVERY
    * predicate column prunes, where a linearly-sorted layout prunes
    * only on its leading column.
    */
  def readSkippingAndManifest(spark: SparkSession, dir: String,
                              ranges: Seq[(String, Double, Double)],
                              manifestPath: String): DataFrame = {
    require(ranges.nonEmpty, "readSkippingAndManifest: need >= 1 range")
    val skippable = manifestAt(spark, manifestPath).map(stats => ranges
      .map { case (c, lo, hi) => skippableFilesFrom(stats, c, lo, hi) }
      .reduce(_ unionByName _))
    scanKept(spark, Seq(dir), unskipped(spark, dir, skippable))
      .where(ranges
        .map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
        .reduce(_ && _))
  }

  /** Categorical twin of [[readSkippingManifest]]. */
  def readSkippingEqManifest(spark: SparkSession, dir: String,
                             column: String, value: String,
                             manifestPath: String): DataFrame =
    scanKept(spark, Seq(dir), unskipped(spark, dir,
        manifestAt(spark, manifestPath)
          .map(skippableFilesEqFrom(_, column, value))))
      .where(col(column) === value)

  // ---------- touched-key pruning (clustered stores) ----------

  /** The files of `dirs` that probe rows over the integer cluster key
    * `keys` — one column, or a (c1, c2) pair — can live in: the one
    * answer every manifest-pruned store read is built on
    * ([[readTouched]], [[Layout.Clustered]], [[KeyedStore.pruned]],
    * [[KeyPruner]]), exposed so tests and maintenance jobs can audit
    * exactly which files a batch's store scan opens.
    *
    * Soundness: a file with footer ranges [a_mn, a_mx] × [b_mn, b_mx]
    * can contain probe (p1, p2) only if p1 ∈ [a_mn, a_mx]; when the
    * file holds a SINGLE c1 value (a_mn = a_mx — the common case for a
    * (c1, c2)-range-clustered layout with more files than c1 values),
    * additionally only if p2 ∈ [b_mn, b_mx]. A file spanning several
    * c1 values is kept on the c1 test alone (its c2 footer range does
    * not bound any single c1 slice); with one key that test is the
    * whole rule. With no committed manifest ([[hasManifest]]) every
    * file is kept, and a file the manifest does not cover, or whose
    * bounds are absent, is ALWAYS kept — stale or lost manifests cost
    * pruning, never rows. Bounds come from the manifest's EXACT
    * integral columns (`min_int`/`max_int` — boxed footer values
    * merged numerically across row groups; `min_num`/`max_num` doubles
    * are lossy past 2^53 for xxhash64 bucket keys, and the string
    * stats merge lexicographically, which is wrong for decimal integer
    * renders).
    */
  def touchedFiles(spark: SparkSession, dirs: Seq[String],
                   manifestPath: String, keys: Seq[String],
                   probes: DataFrame): Seq[String] = {
    val files = dirs.flatMap(d => listParquetFiles(spark, d))
    if (files.isEmpty) files
    else manifestAt(spark, manifestPath)
      .fold(files)(touchedFilesFrom(_, files, keys, probes))
  }

  // the [[touchedFiles]] rule over an already-loaded manifest and file
  // listing (what [[KeyPruner]] pays once per call)
  private def touchedFilesFrom(stats: DataFrame, files: Seq[String],
                               keys: Seq[String],
                               probes: DataFrame): Seq[String] = {
    require(keys.size == 1 || keys.size == 2,
      s"touchedFiles: one or two integer cluster keys, got $keys")
    val tags = Seq("a", "b").take(keys.size)
    def c(t: String, part: String) = col(s"__${t}_$part")
    def ranges(key: String, t: String): DataFrame =
      stats
        .where(col("column") === key &&
          col("ptype").isin("INT32", "INT64"))
        .select(col("file"), col("min_int").as(s"__${t}_mn"),
          col("max_int").as(s"__${t}_mx"),
          (col("nulls") >= 0 && col("nulls") === col("rows"))
            .as(s"__${t}_nul"))
    val withStats = keys.zip(tags)
      .map { case (key, t) => ranges(key, t) }
      .reduce(_.join(_, "file"))
    // all-null cluster columns cannot match any (non-null) probe; a
    // file with absent bounds is unprunable and simply never skipped
    val anyNul = tags.map(c(_, "nul")).reduce(_ || _)
    val bounded = tags
      .map(t => !c(t, "nul") && c(t, "mn").isNotNull &&
        c(t, "mx").isNotNull)
      .reduce(_ && _)
    val prunable = withStats.where(bounded || anyNul)
    val p = probes
      .select(keys.zip(tags).map { case (key, t) =>
        col(key).cast("long").as(s"__p$t") }: _*)
      .where(tags.map(t => col(s"__p$t").isNotNull).reduce(_ && _))
      .distinct()
    def inRange(t: String): Column =
      col(s"__p$t") >= c(t, "mn") && col(s"__p$t") <= c(t, "mx")
    val trailing =
      if (keys.size == 1) Nil
      else Seq(c("a", "mn") < c("a", "mx") || inRange("b"))
    val hit = (!anyNul +: inRange("a") +: trailing).reduce(_ && _)
    // metadata × batch-bounded probe set — never data-sized; collected
    // as file NAMES only (the prunedRead driver-traffic contract)
    val skip = prunable.join(p, hit, "left_anti")
      .select(col("file")).collect().map(_.getString(0)).toSet
    files.filterNot(skip)
  }

  // the committed rows of `keep`; an empty kept set reads as the
  // schema-preserving empty frame of `dirs`
  private def scanKept(spark: SparkSession, dirs: Seq[String],
                       keep: Seq[String]): DataFrame =
    if (keep.isEmpty)
      readDirs(spark, dirs).where(lit(false))
    else readAs(spark, keep, keep)

  /** Store scan of `dirs` opening only the [[touchedFiles]] — the read
    * path of every clustered store (the incremental near-dup, media,
    * substring and entity stores, the BM25 index, [[KeyedStore]]).
    * File-granular: the result is a SUPERSET of the touched rows, so
    * callers keep their exact row-level filter.
    */
  def readTouched(spark: SparkSession, dirs: Seq[String],
                  manifestPath: String, keys: Seq[String],
                  probes: DataFrame): DataFrame = {
    require(dirs.nonEmpty, s"readTouched: no committed dirs to read " +
      s"(manifest $manifestPath)")
    scanKept(spark, dirs,
      touchedFiles(spark, dirs, manifestPath, keys, probes))
  }

  /** [[touchedFiles]] of one directory over the (c1, c2) pair. */
  def touchedPairsKeptFiles(spark: SparkSession, dir: String,
                            manifestPath: String, c1: String, c2: String,
                            probes: DataFrame): Seq[String] =
    touchedFiles(spark, Seq(dir), manifestPath, Seq(c1, c2), probes)

  /** [[touchedFiles]] over the (c1, c2) pair. */
  def touchedPairsKeptFilesUnder(spark: SparkSession, dirs: Seq[String],
                                 manifestPath: String, c1: String,
                                 c2: String,
                                 probes: DataFrame): Seq[String] =
    touchedFiles(spark, dirs, manifestPath, Seq(c1, c2), probes)

  /** [[touchedFiles]] of one directory over one key. */
  def touchedKeysKeptFiles(spark: SparkSession, dir: String,
                           manifestPath: String, c: String,
                           probes: DataFrame): Seq[String] =
    touchedFiles(spark, Seq(dir), manifestPath, Seq(c), probes)

  /** [[touchedFiles]] over one key. */
  def touchedKeysKeptFilesUnder(spark: SparkSession, dirs: Seq[String],
                                manifestPath: String, c: String,
                                probes: DataFrame): Seq[String] =
    touchedFiles(spark, dirs, manifestPath, Seq(c), probes)

  /** Per-CALL cached key pruner: ONE manifest read (staged in memory)
    * and ONE store listing serve every later probe — the form the
    * ITERATIVE incremental operators need. k-core's closure and peel
    * loops probe the member store every round; routing each probe
    * through [[readTouched]] re-reads the manifest parquet and
    * re-lists the store per round, a fixed cost that outweighed the
    * pruning at bench scale (x_kcore_incremental 2.9× in the r11
    * window — root-caused to exactly this). The capture is pinned at
    * construction: build one pruner per operator call, AFTER any
    * store write its probes must observe.
    */
  final class KeyPruner private[operators] (spark: SparkSession,
                                            dirs: Seq[String],
                                            manifestPath: String,
                                            c: String) {
    require(dirs.nonEmpty, "KeyPruner: empty committed view")
    private val sized: Seq[(String, Long)] =
      dirs.flatMap(d => listParquetFilesWithSize(spark, d))
    private val files: Seq[String] = sized.map(_._1)

    /** Total committed data bytes — the regime signal callers gate
      * on: below a threshold a single staged full-view read beats
      * per-probe pruning (each probe is a scheduler round trip), above
      * it pruning is the only shape that scales. Comes from the
      * listing already paid; never a data scan.
      */
    val totalBytes: Long = sized.map(_._2).sum

    private lazy val stats: Option[DataFrame] =
      manifestAt(spark, manifestPath).map(Checkpoints.stage)

    def keptFiles(probes: DataFrame): Seq[String] =
      stats.fold(files)(touchedFilesFrom(_, files, Seq(c), probes))

    /** Pruned store scan for one probe set — [[readTouched]] semantics
      * at per-probe join cost only.
      */
    def read(probes: DataFrame): DataFrame =
      scanKept(spark, dirs, keptFiles(probes))
  }

  def keyPruner(spark: SparkSession, dirs: Seq[String],
                manifestPath: String, c: String): KeyPruner =
    new KeyPruner(spark, dirs, manifestPath, c)

  // ---------- per-file bloom manifest (point-lookup pruning) ----------

  /** Per-file BLOOM manifest over one key column — the pruning index
    * min/max footer stats cannot be for point probes on a
    * hash-distributed key (every file's [min, max] spans the whole id
    * domain, so range stats keep everything; this is the gap Delta's
    * bloom file index fills). One column-pruned scan of `(c,
    * input_file_name)` builds a fixed-size bloom per data file
    * ([[graft.functions.BloomAggregator]] — blobs merge as byte-OR, so
    * partials are map-side and the blob is partitioning-independent);
    * blob size is MEASURED, not guessed: m = nextPow2(bitsPerKey ×
    * largest file's key count), uniform across files so merge never
    * sees mixed widths. Default 16 bits/key ≈ 0.05 % false-positive
    * per probe per file (k = 6): a 20-id lookup over a 100k-file store
    * expects ≈ 1 false file open. Keys are hashed with Spark's
    * `xxhash64` on BOTH build and probe side — callers must probe with
    * the same column TYPE they built with (xxhash64 is type-sensitive).
    * Nulls never enter the bloom and null probes never match. Rebuild
    * after compaction like every manifest; a stale manifest costs
    * pruning, never rows (uncovered files are always read).
    */
  def writeKeyBloomManifest(spark: SparkSession, dir: String, c: String,
                            manifestPath: String, bitsPerKey: Int = 16,
                            numHashes: Int = 6): Unit = {
    import spark.implicits._
    require(bitsPerKey >= 1 && numHashes >= 1)
    val keyed = readAs(spark, firstFiles(spark, Seq(dir)), Seq(dir))
      .where(col(c).isNotNull)
      .select(input_file_name().as("file"), xxhash64(col(c)).as("__h"))
    val maxKeys = keyed.groupBy(col("file"))
      .agg(count(lit(1)).as("n")).agg(max(col("n")))
      .as[Option[Long]].head().getOrElse(0L)
    val mBits =
      graft.functions.BloomFilters.sizeBits(maxKeys * bitsPerKey)
    val bloomAgg = org.apache.spark.sql.functions.udaf(
      new graft.functions.BloomAggregator(mBits, numHashes))
    keyed.groupBy(col("file"))
      .agg(bloomAgg(col("__h")).as("bloom"),
        count(lit(1)).as("n_keys"))
      .withColumn("m", lit(mBits))
      .withColumn("k", lit(numHashes))
      .write.mode("overwrite").parquet(manifestPath)
    spark.catalog.refreshByPath(manifestPath)
  }

  // the bloom manifest's columns, as [[writeKeyBloomManifest]] writes them
  private val BloomManifestSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("bloom", BinaryType),
    StructField("n_keys", LongType), StructField("m", IntegerType),
    StructField("k", IntegerType)))

  /** The data files a POINT-PROBE set over `c` can possibly touch,
    * per the bloom manifest: a file is kept iff some probe's k bit
    * positions are all set in its blob — or the manifest does not
    * cover it (soundness: bloom misses are impossible by construction,
    * manifest gaps always read). Probe hashes are computed by the same
    * `xxhash64` the build used and collected driver-side (point
    * lookups are small by contract — `maxProbes` guards the collect
    * BEFORE it runs); the blob test itself runs distributed over the
    * manifest rows, so blobs never reach the driver. File-granular
    * superset: callers keep their exact row filter.
    */
  def pointLookupKeptFiles(spark: SparkSession, dirs: Seq[String],
                           manifestPath: String, c: String,
                           probes: DataFrame,
                           maxProbes: Int = 65536): Seq[String] = {
    import spark.implicits._
    val pdf = probes.where(col(c).isNotNull)
      .select(xxhash64(col(c)).as("__h")).distinct()
    val guarded = pdf.limit(maxProbes + 1).as[Long].collect()
    require(guarded.length <= maxProbes,
      s"point-lookup probe set exceeds $maxProbes keys — " +
        "use the clustered/manifest range paths for batch probes")
    val hs = guarded
    val files = dirs.flatMap(d => listParquetFiles(spark, d))
    manifestAt(spark, manifestPath, BloomManifestSchema).fold(files) { stats =>
      val man = stats.select(col("file"), col("m"), col("k"), col("bloom"))
        .as[(String, Int, Int, Array[Byte])]
      // `input_file_name()` (build side) renders file:///p, the Hadoop
      // listing (probe side) file:/p — compare through Path, which
      // normalizes both to one form
      def norm(s: String): String =
        new org.apache.hadoop.fs.Path(s).toString
      val covered = man.map(_._1).collect().map(norm).toSet
      val hit = man.filter { r =>
        hs.exists(h =>
          graft.functions.BloomFilters.mightContain(r._4, r._2, r._3, h))
      }.map(_._1).collect().map(norm).toSet
      files.filter(f => !covered(norm(f)) || hit(norm(f)))
    }
  }

  /** Point-lookup read through the bloom manifest: the probed rows of
    * `dir`, opening only the files [[pointLookupKeptFiles]] keeps.
    * Row-exact via a broadcast semi join on the (small, bounded) probe
    * set — bloom false positives cost a file open, never a row.
    */
  def readPointLookup(spark: SparkSession, dir: String,
                      manifestPath: String, c: String,
                      probes: DataFrame,
                      maxProbes: Int = 65536): DataFrame = {
    scanKept(spark, Seq(dir), pointLookupKeptFiles(spark, Seq(dir),
        manifestPath, c, probes, maxProbes))
      .join(broadcast(probes.select(col(c)).distinct()),
        Seq(c), "left_semi")
  }

  // ---------- snapshot diff ----------

  /** Keyed DIFF between two snapshots of the same schema — the audit
    * read behind every store's time travel ("what changed between the
    * corpus batch 3 trained on and batch 7"): one full-outer join on
    * `keys`, each non-key column carried as `old_<c>` / `new_<c>`,
    * classified `added` / `removed` / `changed` (null-safe value
    * compare, so a value going null is a change, not a phantom
    * removal) with unchanged rows dropped. Both inputs must share the
    * exact column set; presence rides explicit flags, never value
    * nullability. One shuffle per side plus the join — the diff of
    * two 100 TB snapshots is a co-partitioned join on the key, and
    * unchanged keys (the overwhelming mass) produce no output rows.
    */
  def keyedDiff(oldSnap: DataFrame, newSnap: DataFrame,
                keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "keyedDiff needs at least one key column")
    require(oldSnap.columns.sorted.sameElements(newSnap.columns.sorted),
      s"snapshot schemas differ: ${oldSnap.columns.mkString(",")} vs " +
        newSnap.columns.mkString(","))
    val vals = oldSnap.columns.filterNot(keys.contains).toSeq
    val a = oldSnap.select(keys.map(col) ++
      vals.map(c => col(c).as(s"old_$c")) :+ lit(true).as("__ina"): _*)
    val b = newSnap.select(keys.map(col) ++
      vals.map(c => col(c).as(s"new_$c")) :+ lit(true).as("__inb"): _*)
    val changed = vals
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .foldLeft(lit(false))(_ || _)
    a.join(b, keys, "full_outer")
      .withColumn("status",
        when(col("__inb").isNull, lit("removed"))
          .when(col("__ina").isNull, lit("added"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("status") =!= "unchanged")
      .select(keys.map(col) ++
        vals.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))) :+
        col("status"): _*)
  }

  // ---------- corpus profile + drift ----------

  /** Long-format exact profile of `cols`: one row per column with
    * (column, n_rows, n_nulls, n_distinct) — all integers, one
    * aggregation pass (count_distinct columns share the same job;
    * Spark plans multi-distinct via expand, map-side partials intact).
    * The measurement half of drift detection.
    */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    // internal aliases are INDEX-based and the long-format rows are
    // built programmatically (structs + inline), never via
    // selectExpr/stack — a column named with quotes, spaces, or
    // reserved words must not reach the SQL parser, and the label
    // rides as a lit(), not an interpolated string literal
    val aggs = count(lit(1)).as("__n") +:
      cols.zipWithIndex.flatMap { case (c, i) => Seq(
        sum(df.col(c).isNull.cast("long")).as(s"__nulls_$i"),
        count_distinct(df.col(c)).as(s"__ndv_$i")) }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nulls_$i").as("n_nulls"),
        col(s"__ndv_$i").as("n_distinct"))
    }: _*)
    one.select(inline(rows))
  }

  /** Drift report between two snapshots of the same schema (the
    * ingest regression alarm: a crawler change that halves a source's
    * language diversity or starts emitting null text shows up here
    * before it poisons training): [[profileTable]] of each side,
    * full-outer joined per column. All integer columns — exact,
    * oracle-checkable; thresholding is the caller's policy.
    */
  def profileDrift(a: DataFrame, b: DataFrame,
                   cols: Seq[String]): DataFrame = {
    val pa = profileTable(a, cols)
      .select(col("column"), col("n_rows").as("n_a"),
        col("n_nulls").as("nulls_a"), col("n_distinct").as("ndv_a"))
    val pb = profileTable(b, cols)
      .select(col("column"), col("n_rows").as("n_b"),
        col("n_nulls").as("nulls_b"), col("n_distinct").as("ndv_b"))
    pa.join(pb, Seq("column"), "full_outer")
  }
}
