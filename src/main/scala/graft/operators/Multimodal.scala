package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads plus
  * typed metadata, with decode / feature-extraction as per-partition
  * batch transforms.
  *
  * IMAGE decode is REAL — JDK `javax.imageio` (PNG/JPEG/GIF/BMP), no
  * external dependency: [[decodeImageMeta]] / [[imageMeta]] yield
  * width, height and an exact integer luma sum per image, dead-lettering
  * undecodable bytes as nulls. AUDIO/VIDEO container METADATA is also
  * REAL — [[decodeWavMeta]] parses WAV/RIFF headers (channels, sample
  * rate, bit depth, frame count, duration) and [[decodeMp4Meta]] walks
  * the MP4 box tree (`moov/mvhd` timescale+duration, `trak/tkhd`
  * dimensions), both pure-JDK byte arithmetic over the container
  * headers. Only the SAMPLE/FRAME decode stays stubbed (`decodeStub` —
  * no codec libs in this container); its Spark-side plumbing is real
  * (schema, `Dataset[T]` encoders, partition-iterator batching, narrow
  * no-shuffle plans), so swapping in a JNI/ffmpeg call is a
  * one-function change.
  */
object Multimodal {

  /** A media row: opaque bytes + typed metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, format: String)

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, brightness: Double)

  /** Deterministic fake "decode": byte stats standing in for a pixel
    * decode. Replace with a real codec at deployment.
    */
  def decodeStub(payload: Array[Byte]): (Long, Double) = {
    var sum = 0L
    var i = 0
    while (i < payload.length) { sum = sum * 31 + (payload(i) & 0xff); i += 1 }
    val brightness =
      if (payload.isEmpty) 0.0
      else payload.iterator.map(b => (b & 0xff).toDouble).sum / payload.length
    (sum, brightness)
  }

  /** Feature extraction as a per-partition batch transform: one iterator
    * pass per partition (no per-row closure dispatch), narrow plan, output
    * schema fixed by the `MediaFeatures` encoder.
    */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (checksum, brightness) = decodeStub(r.payload)
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
          checksum, brightness)
      }
    }
  }

  /** Decoded image metadata row; null fields = undecodable payload. */
  final case class ImageMeta(media_id: Long, width: Option[Int],
                             height: Option[Int], luma_sum: Option[Long])

  /** REAL image decode via JDK `javax.imageio`: width, height, and the
    * integer luma sum Σ ⌊(r+g+b)/3⌋ over all pixels (integer so results
    * are exactly reproducible — no float mean). `None` for bytes no
    * registered reader accepts (dead-letter, never poison-the-task).
    */
  def decodeImageMeta(payload: Array[Byte]): Option[(Int, Int, Long)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16 & 0xff) + (rgb >> 8 & 0xff) + (rgb & 0xff)) / 3
            x += 1
          }
          y += 1
        }
        Some((w, h, sum))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Distributed image-meta extraction over (media_id, payload) — one
    * iterator pass per partition, narrow plan, decode cost rides the
    * scan.
    */
  def imageMeta(spark: SparkSession, media: DataFrame): Dataset[ImageMeta] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeImageMeta(bytes) match {
          case Some((w, h, s)) => ImageMeta(id, Some(w), Some(h), Some(s))
          case None => ImageMeta(id, None, None, None)
        }
      })
  }

  /** Deterministic grayscale PNG for id (spec + oracle fixture):
    * (8 + id mod 9) × (8 + id mod 7), pixel v(x,y) =
    * (31·id + 7x + 13y) mod 256 in all three channels. PNG is lossless
    * and TYPE_INT_RGB skips color-profile conversion, so a decode
    * recovers these exact values on any JVM — which is what lets the
    * DuckDB oracle precompute width/height/luma from id alone.
    */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // ---------- audio/video container metadata (pure JDK) ----------

  /** Decoded WAV metadata; all-None = undecodable (dead-letter). */
  final case class AudioMeta(media_id: Long, channels: Option[Int],
                             sample_rate: Option[Int], bits: Option[Int],
                             n_frames: Option[Long],
                             duration_ms: Option[Long])

  /** Decoded MP4 track metadata; all-None = undecodable. */
  final case class VideoMeta(media_id: Long, width: Option[Int],
                             height: Option[Int],
                             duration_ms: Option[Long])

  /** WAV/RIFF container-header parse — REAL metadata extraction with
    * zero codec dependency: sample rate, channel count, bit depth, and
    * frame count are plain little-endian arithmetic over the `fmt ` and
    * `data` chunk headers (no sample is ever decoded). `duration_ms` is
    * the integer `frames · 1000 / rate` so results are engine-exact.
    * `None` for anything malformed — wrong magic, truncated chunks,
    * zero block-align — never an exception (dead-letter, don't poison
    * the task).
    */
  def decodeWavMeta(payload: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(off: Int): String =
      new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (payload.length < 44 || fourCC(0) != "RIFF" || fourCC(8) != "WAVE")
        return None
      var off = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // ch, rate, align, bits
      var dataSize = -1L
      while (off + 8 <= payload.length && (fmt.isEmpty || dataSize < 0)) {
        val id = fourCC(off)
        val sz = bb.getInt(off + 4).toLong & 0xFFFFFFFFL
        if (id == "fmt " && sz >= 16 && off + 8 + 16 <= payload.length)
          fmt = Some((bb.getShort(off + 10) & 0xFFFF,
            bb.getInt(off + 12), bb.getShort(off + 20) & 0xFFFF,
            bb.getShort(off + 22) & 0xFFFF))
        else if (id == "data")
          dataSize = math.min(sz, (payload.length - off - 8).toLong)
        // Advance in Long: a crafted size near 0xFFFFFFFF would make the
        // Int advance zero/negative and hang the executor task forever
        // (NonFatal can't stop a loop). Truncated trailing chunks clamp
        // to payload end, which terminates the walk.
        val next = off.toLong + 8L + sz + (sz & 1L) // chunks 2-byte aligned
        off = if (next > payload.length) payload.length else next.toInt
      }
      fmt match {
        case Some((ch, rate, align, bits))
            if dataSize >= 0 && ch > 0 && rate > 0 && align > 0 =>
          val frames = dataSize / align
          Some((ch, rate, bits, frames, frames * 1000L / rate))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** MP4 box-tree parse (ISO/IEC 14496-12 subset) — `moov/mvhd` gives
    * timescale+duration, `moov/trak/tkhd` gives the 16.16-fixed track
    * width/height; both versions 0 and 1 of the FullBoxes handled. Big-
    * endian byte arithmetic only; no codec, no frame decode. `None` on
    * malformed input.
    */
  def decodeMp4Meta(payload: Array[Byte]): Option[(Int, Int, Long)] = {
    def be32(off: Int): Long =
      ((payload(off) & 0xFFL) << 24) | ((payload(off + 1) & 0xFFL) << 16) |
        ((payload(off + 2) & 0xFFL) << 8) | (payload(off + 3) & 0xFFL)
    def be64(off: Int): Long = (be32(off) << 32) | be32(off + 4)
    def fourCC(off: Int): String =
      new String(payload, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // find a child box by type within [from, to); returns (payloadOff, end)
    def findBox(from: Int, to: Int, typ: String): Option[(Int, Int)] = {
      var off = from
      while (off + 8 <= to) {
        val sz = be32(off)
        if (sz < 8 || off + sz > to) return None
        if (fourCC(off) == typ) return Some((off + 8, off + sz.toInt))
        off += sz.toInt
      }
      None
    }
    try {
      findBox(0, payload.length, "moov").flatMap { case (mo, mEnd) =>
        val dur = findBox(mo, mEnd, "mvhd").flatMap { case (o, _) =>
          val version = payload(o) & 0xFF
          if (version == 1) Some(be64(o + 24) * 1000L / be32(o + 20))
          else Some((be32(o + 16) * 1000L) / be32(o + 12))
        }
        val wh = findBox(mo, mEnd, "trak").flatMap { case (to, tEnd) =>
          findBox(to, tEnd, "tkhd").map { case (o, _) =>
            val version = payload(o) & 0xFF
            val whOff = o + (if (version == 1) 88 else 76)
            ((be32(whOff) >> 16).toInt, (be32(whOff + 4) >> 16).toInt)
          }
        }
        for (d <- dur; (w, h) <- wh) yield (w, h, d)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Distributed WAV-metadata extraction over (media_id, payload) —
    * same narrow per-partition shape as [[imageMeta]].
    */
  def audioMeta(spark: SparkSession, media: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeWavMeta(bytes) match {
          case Some((ch, rate, bits, frames, ms)) =>
            AudioMeta(id, Some(ch), Some(rate), Some(bits), Some(frames),
              Some(ms))
          case None => AudioMeta(id, None, None, None, None, None)
        }
      })
  }

  /** Distributed MP4-metadata extraction. */
  def videoMeta(spark: SparkSession, media: DataFrame): Dataset[VideoMeta] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeMp4Meta(bytes) match {
          case Some((w, h, ms)) =>
            VideoMeta(id, Some(w), Some(h), Some(ms))
          case None => VideoMeta(id, None, None, None)
        }
      })
  }

  /** Deterministic PCM WAV for id (spec + oracle fixture):
    * rate 8000·(1 + id mod 3), channels 1 + (id mod 2), 16-bit,
    * 200 + id mod 100 frames — so the oracle precomputes every decoded
    * field from id arithmetic alone, and the test round-trips the real
    * RIFF writer/parser pair.
    */
  def syntheticWav(id: Long): Array[Byte] = {
    val rate = 8000 * (1 + (id % 3).toInt)
    val channels = 1 + (id % 2).toInt
    val frames = 200 + (id % 100).toInt
    val align = channels * 2
    val dataSize = frames * align
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort).putInt(rate)
      .putInt(rate * align).putShort(align.toShort).putShort(16.toShort)
    bb.put("data".getBytes).putInt(dataSize)
    var i = 0
    while (i < dataSize) { bb.put(((id * 7 + i) % 256).toByte); i += 1 }
    bb.array()
  }

  /** Deterministic minimal MP4 (ftyp + moov(mvhd + trak(tkhd))) for id:
    * timescale 600, duration 600·(5 + id mod 20) + 60·(id mod 7) ticks,
    * width 320 + 16·(id mod 5), height 240 + 16·(id mod 4).
    */
  def syntheticMp4(id: Long): Array[Byte] = {
    val timescale = 600
    val duration = 600L * (5 + id % 20) + 60L * (id % 7)
    val width = 320 + 16 * (id % 5).toInt
    val height = 240 + 16 * (id % 4).toInt
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes).put(payload)
      bb.array()
    }
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100) // version-0 payload
      bb.putInt(0)                    // version + flags
        .putInt(0).putInt(0)          // creation, modification
        .putInt(timescale).putInt(duration.toInt)
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0.toShort)
      bb.position(bb.position() + 8)  // reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(bb.putInt)           // identity matrix
      bb.position(bb.position() + 24) // pre_defined
      bb.putInt(2)                    // next_track_ID
      bb.array()
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84) // version-0 payload
      bb.putInt(7)                    // version 0, flags=enabled|in-movie
        .putInt(0).putInt(0)          // creation, modification
        .putInt(1).putInt(0)          // track_ID, reserved
        .putInt(duration.toInt)
      bb.position(bb.position() + 8)  // reserved
      bb.putShort(0.toShort).putShort(0.toShort) // layer, alt group
        .putShort(0.toShort).putShort(0.toShort) // volume, reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(bb.putInt)
      bb.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      bb.array()
    }
    val ftyp = box("ftyp", "isom".getBytes ++
      Array[Byte](0, 0, 2, 0) ++ "isomiso2".getBytes)
    val moov = box("moov", box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhd)))
    ftyp ++ moov
  }

  /** Frame sampling: chunk the payload into fixed-size frames and keep
    * every `stride`-th one — the video-frame / audio-window shape. All
    * narrow (chunk expression + posexplode + filter), no shuffle; the
    * per-frame decode below is the stubbed codec call.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val chunks = org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.functions.BinaryChunksExpr(
        org.apache.spark.sql.GraftSqlBridge.toExpression(col("payload")),
        frameBytes))
    media.select(col("media_id"), col("kind"),
      posexplode(chunks).as(Seq("frame_idx", "frame")))
      .where(col("frame_idx") % stride === 0)
      .withColumn("frame_bytes", octet_length(col("frame")).cast("long"))
  }

  /** EXACT shared-frame video near-dup — codec-free container-level
    * duplicate detection (re-uploads, partial re-muxes): payloads
    * chunk into fixed-size frames ([[sampleFrames]]' chunker), each
    * frame hashes to 8 bytes, and two videos pair when they share at
    * least `minShared` DISTINCT frame hashes. Everything after the
    * narrow chunk+hash pass is the engine's standard bucket-join
    * shape: frames shuffle as (hash, id) fixed-width rows, in-bucket
    * pair expansion is `maxBucket`-capped (a frame shared by every
    * video — a constant container prefix — is boilerplate, same
    * adjudication as stop-shingles), and `minShared ≥ 2` screens out
    * single-frame prefix collisions by default.
    */
  def videoFrameDupPairs(media: DataFrame, frameBytes: Int = 64,
                         minShared: Long = 2,
                         maxBucket: Int = 10000): DataFrame = {
    val frames = videoFrameRows(media, frameBytes)
    // (fh, id) rows arrive distinct (the .distinct() above), and the
    // cap binds BEFORE the member array forms (Dedup.
    // boundedBucketMembers) — a frame shared by every video never
    // materializes its full holder list in one aggregation buffer
    val members = Dedup.boundedBucketMembers(frames, Seq("fh"),
      collect_set(col("id")), maxBucket)
    members.select(explode(
      org.apache.spark.sql.GraftSqlBridge.toColumn(
        graft.functions.PairCombinationsExpr(
          org.apache.spark.sql.GraftSqlBridge.toExpression(col("ms")))))
      .as("pr"))
      .select(col("pr.a").as("id_a"), col("pr.b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .where(col("shared_frames") >= minShared)
  }

  /** The (id, fh) DISTINCT frame-hash rows of a media table — one
    * fixed-size chunk pass + one 8-byte hash per frame, the narrow map
    * stage everything on the video axis shares. A payload shorter than
    * one frame yields no rows (undecodable videos carry no evidence —
    * the dead-letter stance).
    */
  private[graft] def videoFrameRows(media: DataFrame,
                                    frameBytes: Int): DataFrame =
    media
      .select(col("media_id"), lit("video").as("kind"), col("payload"))
      .transform(m => sampleFrames(m, frameBytes, stride = 1))
      .select(col("media_id").as("id"), xxhash64(col("frame")).as("fh"))
      .distinct()

  // ---------- persisted frame-hash store (video incremental) ----------

  /** Persist a video corpus's frame hashes as the VIDEO near-dup
    * STORE: (fh, id) rows range-clustered by fh into `filesOut` files
    * plus a footer-stats manifest — MULTI-hash per doc, the substring
    * window-fingerprint store's shape ([[graft.operators.Curation
    * .writeWindowStore]]), not the dhash store's one-hash-per-doc
    * shape, because shared-frame evidence accumulates per frame
    * ([[Layout.VideoFrames]]). A probe batch's manifest-pruned store
    * scan opens only files whose fh range the batch's own frames
    * touch.
    */
  def writeFrameStore(media: DataFrame, storeDir: String,
                      manifestPath: String, filesOut: Int,
                      frameBytes: Int = 64): Unit =
    Stats.withWriterLease(media.sparkSession, Seq(storeDir),
        "writeFrameStore(batch)") {
    Layout.VideoFrames.write(videoFrameRows(media, frameBytes), storeDir,
      manifestPath, filesOut)
  }

  /** Append a batch's frame hashes to an existing frame store
    * (continuous ingestion); the manifest refresh reads footers only
    * for the new files.
    */
  def appendFrameStore(media: DataFrame, storeDir: String,
                       manifestPath: String, filesOut: Int,
                       frameBytes: Int = 64): Unit =
    Stats.withWriterLease(media.sparkSession, Seq(storeDir),
        "appendFrameStore(batch)") {
    Layout.VideoFrames.append(videoFrameRows(media, frameBytes), storeDir,
      manifestPath, filesOut)
  }

  /** [[videoFrameDupPairs]] where the LARGER id side comes from
    * `probeMedia` and history lives in a PERSISTED frame store — the
    * incremental form: the store scan is manifest-pruned to
    * touched-fh FILES, the surviving slice is row-filtered by a semi
    * join on the batch's frame set, and history is never re-chunked,
    * re-hashed, or scanned end to end. Returns (id_a, id_b,
    * shared_frames) with id_b ∈ probe — both store×batch and
    * within-batch pairs, so gate decisions and batch reconciliation
    * read one result. Store ids are smaller by the monotonicity
    * contract.
    */
  def videoFrameDupPairsAgainstStored(storeDir: String,
                                      manifestPath: String,
                                      probeMedia: DataFrame,
                                      frameBytes: Int = 64,
                                      minShared: Long = 2,
                                      maxBucket: Int = 10000)
      : DataFrame = {
    val batchFrames = videoFrameRows(probeMedia, frameBytes)
    val storeSlice = Layout.VideoFrames.touched(Seq(storeDir), manifestPath,
      batchFrames.select(col("fh")).distinct())
    frameDupPairsAgainstRows(storeSlice, batchFrames, minShared,
      maxBucket)
  }

  /** The frame-level pairing core shared by
    * [[videoFrameDupPairsAgainstStored]] and the streaming video gate:
    * `storeFrames` arrives (fh, id) and FILE-pruned by the caller; the
    * row-level touched semi join, the boilerplate-frame cap (counted
    * over the COMBINED store+batch holders, matching the batch twin),
    * and the shared-frame count happen here.
    */
  private[graft] def frameDupPairsAgainstRows(storeFrames: DataFrame,
                                              batchFrames: DataFrame,
                                              minShared: Long,
                                              maxBucket: Int)
      : DataFrame = {
    // the batch frames feed three consumers (the store probe, the
    // union, and the id_b pair side) and the cap table feeds two —
    // stage both so frame hashing and the count pass run once
    val bf = Checkpoints.stage(batchFrames.select(col("fh"), col("id")))
    val sf = storeFrames.select(col("fh"), col("id"))
      .join(bf.select(col("fh")).distinct(), Seq("fh"), "left_semi")
    val all = sf.unionByName(bf)
    val sized = Checkpoints.stage(all.groupBy(col("fh"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1 && col("__n") <= maxBucket)
      .select(col("fh")))
    val kept = all.join(sized, Seq("fh"), "left_semi")
    kept.select(col("fh"), col("id").as("id_a"))
      .join(bf.join(sized, Seq("fh"), "left_semi")
        .select(col("fh"), col("id").as("id_b")), Seq("fh"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .where(col("shared_frames") >= minShared)
  }

  // ---------- acoustic fingerprint (energy-delta) audio near-dup ----

  /** 63-bit acoustic fingerprint (the sign-of-energy-delta scheme of
    * Haitsma & Kalker, "A highly robust audio fingerprinting system",
    * ISMIR 2002, reduced to one band): REAL RIFF/fmt/data parse (16-bit
    * PCM), channel-0 samples split into 64 equal frame blocks
    * [b·n/64, (b+1)·n/64), block energy = Σ |sample| (exact longs),
    * bit b = 1 iff energy(b+1) > energy(b). Integer end to end, so the
    * SQL oracle precomputes it for arithmetic fixtures; gain-robust up
    * to clipping (a constant scale preserves every comparison).
    * `None` for undecodable, non-PCM-16, or < 64-frame payloads.
    */
  def decodeAudioFingerprint(payload: Array[Byte]): Option[Long] = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(off: Int): String =
      new String(payload, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    try {
      if (payload.length < 44 || fourCC(0) != "RIFF" || fourCC(8) != "WAVE")
        return None
      var off = 12
      var fmt: Option[(Int, Int, Int)] = None // audioFormat, align, bits
      var dataOff = -1
      var dataSize = -1L
      while (off + 8 <= payload.length && (fmt.isEmpty || dataOff < 0)) {
        val id = fourCC(off)
        val sz = bb.getInt(off + 4).toLong & 0xFFFFFFFFL
        if (id == "fmt " && sz >= 16 && off + 8 + 16 <= payload.length)
          fmt = Some((bb.getShort(off + 8) & 0xFFFF,
            bb.getShort(off + 20) & 0xFFFF,
            bb.getShort(off + 22) & 0xFFFF))
        else if (id == "data") {
          dataOff = off + 8
          dataSize = math.min(sz, (payload.length - off - 8).toLong)
        }
        // clamped Long advance — see decodeWavMeta
        val next = off.toLong + 8L + sz + (sz & 1L)
        off = if (next > payload.length) payload.length else next.toInt
      }
      fmt match {
        // audioFormat tag 1 = integer PCM: a 16-bit IEEE-float or
        // companded WAV is NOT sample-compatible and must dead-letter
        // (the documented non-PCM-16 stance), not fingerprint garbage
        case Some((audioFormat, align, bits))
            if audioFormat == 1 && bits == 16 && align >= 2 &&
              dataOff >= 0 && dataSize > 0 =>
          val frames = (dataSize / align).toInt
          if (frames < 64) return None
          val energy = new Array[Long](64)
          var b = 0
          while (b < 64) {
            // block bounds in Long: b·frames overflows Int past ~34M
            // frames (a 13-minute 44.1 kHz mono WAV), silently
            // wrapping offsets
            val f0 = (b.toLong * frames / 64).toInt
            val f1 = ((b + 1).toLong * frames / 64).toInt
            var sum = 0L
            var f = f0
            while (f < f1) {
              val s = bb.getShort(dataOff + f * align).toLong // channel 0
              sum += math.abs(s)
              f += 1
            }
            energy(b) = sum
            b += 1
          }
          var bitsOut = 0L
          b = 0
          while (b < 63) {
            if (energy(b + 1) > energy(b)) bitsOut |= 1L << b
            b += 1
          }
          Some(bitsOut)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Distributed acoustic-fingerprint extraction — same narrow
    * partition-iterator shape as [[imageDHash]]; emits (media_id,
    * dhash) so [[dhashPairs]]' blocked Hamming pairing applies
    * unchanged (the pigeonhole bound only needs diffs in the low 56
    * bits ≤ total distance, which holds for any hash width ≥ 56).
    */
  def audioFingerprint(spark: SparkSession, media: DataFrame)
      : Dataset[ImageHash] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageHash(id, decodeAudioFingerprint(bytes))
      })
  }

  // ---------- perceptual hash (dHash) image near-dup ----------

  /** 56-bit difference hash (dHash, the standard perceptual hash for
    * near-identical image detection): decode (REAL codec), pool lumas
    * into an 8×8 grid of integer means (block [c·w/8, (c+1)·w/8) ×
    * [r·h/8, (r+1)·h/8), sum div count — all integer, so the hash is
    * bit-reproducible on any JVM and precomputable by the SQL oracle
    * for arithmetic fixtures), then bit r·7+c = 1 iff cell(c+1,r) >
    * cell(c,r). Robust to re-encoding and brightness shifts (constant
    * offsets cancel in the differences); `None` for undecodable or
    * sub-8×8 payloads (dead-letter).
    */
  def decodeImageDHash(payload: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth < 8 || img.getHeight < 8) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val m = Array.ofDim[Long](8, 8)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            // Long bounds for the same reason as the audio blocks —
            // c·w wraps Int on a ~270M-pixel-wide decode
            val x0 = (c.toLong * w / 8).toInt
            val x1 = ((c + 1).toLong * w / 8).toInt
            val y0 = (r.toLong * h / 8).toInt
            val y1 = ((r + 1).toLong * h / 8).toInt
            var sum = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                sum += ((rgb >> 16 & 0xff) + (rgb >> 8 & 0xff) +
                  (rgb & 0xff)) / 3
                x += 1
              }
              y += 1
            }
            m(r)(c) = sum / ((x1 - x0).toLong * (y1 - y0))
            c += 1
          }
          r += 1
        }
        var bits = 0L
        r = 0
        while (r < 8) {
          var c = 0
          while (c < 7) {
            if (m(r)(c + 1) > m(r)(c)) bits |= 1L << (r * 7 + c)
            c += 1
          }
          r += 1
        }
        Some(bits)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (media_id, dhash) row; null dhash = undecodable payload. */
  final case class ImageHash(media_id: Long, dhash: Option[Long])

  /** Distributed dHash extraction — narrow partition-iterator pass,
    * decode cost rides the scan like [[imageMeta]].
    */
  def imageDHash(spark: SparkSession, media: DataFrame)
      : Dataset[ImageHash] = {
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageHash(id, decodeImageDHash(bytes))
      })
  }

  /** EXACT near-dup image pairs at Hamming ≤ `maxDist` over dHashes:
    * 4 windows of 14 bits block the pair space (equality join, the
    * [[Dedup.simhashCandidates]] scheme), and by pigeonhole any pair
    * within distance ≤ 3 shares an untouched window — so for
    * maxDist ≤ 3 the blocked result EQUALS the brute-force O(n²) scan
    * (oracle-checked), at equality-join cost.
    *
    * `maxBucket` (opt-in) caps the per-(w, wk) join bucket: a
    * DEGENERATE window key — uniform image regions pool to all-zero
    * difference bits, so 0x0000 windows collect corpus-scale member
    * sets — is the perceptual-hash stop-shingle, and its n² join
    * blow-up gets skipped the way [[Dedup.ngramJaccardPairs]] skips
    * boilerplate shingles. Capping trades exactness for the skew
    * bound (a pair whose ONLY untouched shared window was capped is
    * missed), so the default keeps the exact semantics.
    */
  def dhashPairs(hashes: DataFrame, maxDist: Int = 3,
                 maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "maxDist > 3 breaks the 4-window pigeonhole exactness guarantee")
    val windows = cappedWindows(dhashWindows(hashes), maxBucket)
    val l = windows.select(col("id").as("id_a"),
      col("dhash").as("ha"), col("w"), col("wk"))
    val r = windows.select(col("id").as("id_b"),
      col("dhash").as("hb"), col("w"), col("wk"))
    l.join(r, Seq("w", "wk")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("ha"), col("hb")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** Window entries with over-`maxBucket` (w, wk) keys removed — the
    * counts aggregate first (fixed-width, map-side combined) and the
    * semi join filters rows BEFORE any pairing, so the cap bounds the
    * join bucket itself, never materializing the degenerate key's
    * quadratic expansion. `Int.MaxValue` = exact (no extra pass).
    */
  private def cappedWindows(windows: DataFrame,
                            maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) windows
    else {
      val sized = windows.groupBy(col("w"), col("wk"))
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") >= 2 && col("__n") <= maxBucket)
        .select(col("w"), col("wk"))
      windows.join(sized, Seq("w", "wk"), "left_semi")
    }

  /** The 4×14-bit window entries of a (media_id, dhash) table. */
  private def dhashWindows(hashes: DataFrame): DataFrame =
    hashes
      .select(col("media_id").as("id"), col("dhash"))
      .where(col("dhash").isNotNull)
      .select(col("id"), col("dhash"),
        posexplode(array((0 until 4).map(w =>
          shiftrightunsigned(col("dhash"), w * 14)
            .bitwiseAND(0x3FFFL)): _*)))
      .withColumnRenamed("pos", "w").withColumnRenamed("col", "wk")

  /** EXACT near-dup pairs at Hamming ≤ `maxDist` where the LARGER id
    * side comes from `probe` — the incremental form of [[dhashPairs]]:
    * the `store` side is pruned to PROBE-TOUCHED window keys before
    * any pairing (a left-semi join, the banded-store scheme of
    * [[Dedup.bandedCandidateEdges]]), so per-batch cost scales with
    * the batch's window footprint, never store². Exactness is
    * preserved: a qualifying (store, probe) pair shares a window by
    * pigeonhole, and that window key is in the probe's set by
    * construction. Returns (id_a, id_b, dist) with id_b ∈ probe.
    */
  def dhashPairsAgainst(store: DataFrame, probe: DataFrame,
                        maxDist: Int = 3,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "maxDist > 3 breaks the 4-window pigeonhole exactness guarantee")
    val pw = dhashWindows(probe)
    val sw = dhashWindows(store)
      .join(pw.select(col("w"), col("wk")).distinct(),
        Seq("w", "wk"), "left_semi")
    // the cap counts over the FULL joinable side (store slice + probe)
    // so a window degenerate only in combination is still caught
    val l = cappedWindows(sw.unionByName(pw), maxBucket)
      .select(col("id").as("id_a"),
        col("dhash").as("ha"), col("w"), col("wk"))
    val r = pw.select(col("id").as("id_b"),
      col("dhash").as("hb"), col("w"), col("wk"))
    l.join(r, Seq("w", "wk")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("ha"), col("hb")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  // ---------- banded perceptual-hash store (persisted, pruned) ----

  /** Persist (media_id, dhash) hashes as the BANDED media store
    * ([[Layout.MediaWindows]]): window-expanded to (w, wk, id, dhash)
    * rows range-clustered by (w, wk) into `filesOut` files, plus a
    * footer-stats manifest — the [[Dedup.writeBandedSigStore]]
    * treatment applied to perceptual hashes. A probe batch's
    * manifest-pruned store scan OPENS only the files whose (w, wk)
    * range its own windows touch: at 100 TB of history the store is a
    * few hundred GB of 32-byte rows, and per-batch reads shrink to the
    * touched slice. Null dhashes (dead-letters) carry no windows and
    * are never stored.
    */
  def writeDhashStore(hashes: DataFrame, storeDir: String,
                      manifestPath: String, filesOut: Int): Unit =
    Stats.withWriterLease(hashes.sparkSession, Seq(storeDir),
        "writeDhashStore(batch)") {
    Layout.MediaWindows.write(dhashWindows(hashes), storeDir,
      manifestPath, filesOut)
  }

  /** Append a batch's window-expanded hashes to an existing banded
    * media store (continuous ingestion); the manifest refresh reads
    * footers ONLY for the new files.
    */
  def appendDhashStore(hashes: DataFrame, storeDir: String,
                       manifestPath: String, filesOut: Int): Unit =
    Stats.withWriterLease(hashes.sparkSession, Seq(storeDir),
        "appendDhashStore(batch)") {
    Layout.MediaWindows.append(dhashWindows(hashes), storeDir,
      manifestPath, filesOut)
  }

  /** [[dhashPairsAgainst]] against a PERSISTED banded store written by
    * [[writeDhashStore]]: identical semantics (exact for maxDist ≤ 3
    * by the pigeonhole bound; probe ids larger by the monotonicity
    * contract), but the store scan is manifest-pruned to
    * touched-window FILES before the row-level touched semi join — the
    * probe opens a slice of the store, not the store. The store
    * arrives pre-window-expanded, so the per-batch window projection
    * of the flat path disappears too.
    */
  def dhashPairsAgainstStored(storeDir: String, manifestPath: String,
                              probe: DataFrame, maxDist: Int = 3,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    val pw = dhashWindows(probe)
    val sw = Layout.MediaWindows.touched(Seq(storeDir), manifestPath,
      pw.select(col("w"), col("wk")).distinct())
    dhashPairsAgainstBands(sw, pw, maxDist, maxBucket)
  }

  /** The band-level pairing core shared by [[dhashPairsAgainstStored]]
    * and the streaming banded media gate: `storeBands` arrives
    * pre-window-expanded (w, wk, id, dhash) and FILE-pruned by the
    * caller; the row-level touched semi join, the skew cap, and the
    * exact blocked pairing happen here. Probe ids are larger by the
    * monotonicity contract.
    */
  private[graft] def dhashPairsAgainstBands(storeBands: DataFrame,
                                            probeWindows: DataFrame,
                                            maxDist: Int,
                                            maxBucket: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "maxDist > 3 breaks the 4-window pigeonhole exactness guarantee")
    val pw = probeWindows.select(col("w"), col("wk"), col("id"),
      col("dhash"))
    val sw = storeBands
      .join(pw.select(col("w"), col("wk")).distinct(),
        Seq("w", "wk"), "left_semi")
    val l = cappedWindows(sw.unionByName(pw), maxBucket)
      .select(col("id").as("id_a"),
        col("dhash").as("ha"), col("w"), col("wk"))
    val r = pw.select(col("id").as("id_b"),
      col("dhash").as("hb"), col("w"), col("wk"))
    l.join(r, Seq("w", "wk")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hamming(col("ha"), col("hb")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** The (w, wk, id, dhash) window expansion of a hash table — the
    * banded media store's row shape ([[Layout.MediaWindows]]), exposed
    * for the streaming gate's hash-once store appends.
    */
  private[graft] def dhashWindowRows(hashes: DataFrame): DataFrame =
    dhashWindows(hashes).select(Layout.MediaWindows.cols.map(col): _*)

  /** Wrap any table's text column as a synthetic media table — exercises
    * the binary-column path with the data we have.
    */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"), lit("text/utf-8").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      lit(0).as("width"), lit(0).as("height"), lit("raw").as("format"))
      .as[MediaRow]
  }
}
