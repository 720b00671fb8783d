package graft.multimodal

import graft.plans.Materialize.PinOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns for large-scale training-data
  * pipelines: media travels as an opaque `binary` column plus a typed
  * metadata struct; decode/feature-extraction runs batched per partition.
  *
  * Decode is REAL at two levels: format sniffing + image/audio header
  * fields ([[imageDims]]/[[audioMeta]]) are parsed from raw bytes as
  * codegen'd column expressions, and PIXEL decode ([[decodeImage]],
  * [[extractFeatures]], [[resizeImages]]) uses the JDK's own
  * `javax.imageio` codecs (PNG/GIF/BMP/JPEG ship in `java.desktop` — no
  * external library). Formats with no JDK decoder (audio samples, video
  * codecs) fall back to a deterministic byte-histogram feature so the
  * pipeline shape stays total; swapping in a JNI/FFI decoder for those
  * changes one function.
  *
  * Scale notes: media bytes never pass through a driver collect; feature
  * extraction streams row-by-row through mapPartitions (the decoder
  * holds ONE image at a time), so executor memory is bounded by
  * maxMediaBytes regardless of partition row count.
  */
object Multimodal {

  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("n_bytes", LongType),
    StructField("is_supported", BooleanType),
    StructField("width", LongType),
    StructField("height", LongType)
  ))

  /** Sniff media format from magic bytes — pure column expressions (this
    * part needs no codec and is fully real).
    */
  def sniffFormat(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hexPrefix = hex(substring(bin, 1, 4))
    when(hexPrefix.startsWith("89504E47"), "png")
      .when(hexPrefix.startsWith("FFD8FF"), "jpeg")
      .when(hexPrefix.startsWith("47494638"), "gif")
      .when(hexPrefix.startsWith("424D"), "bmp")
      .when(hexPrefix.startsWith("52494646"), "riff") // wav/avi/webp container
      .when(hexPrefix.startsWith("494433"), "mp3")
      .otherwise("unknown")
  }

  // ------------------------------------------- real header decode (no codec)

  /** Big-endian unsigned int from `len` bytes at 1-based `pos`. */
  private def be(bin: org.apache.spark.sql.Column, pos: Int, len: Int): org.apache.spark.sql.Column =
    conv(hex(substring(bin, pos, len)), 16, 10).cast("long")

  /** Little-endian unsigned int from `len` bytes at 1-based `pos`. */
  private def le(bin: org.apache.spark.sql.Column, pos: Int, len: Int): org.apache.spark.sql.Column =
    (0 until len).map(i => be(bin, pos + i, 1) * (1L << (8 * i))).reduce(_ + _)

  final case class Dims(width: Long, height: Long)

  /** JPEG dimensions by scanning segment markers for the first SOF frame
    * header (the one image format whose dims sit at a VARIABLE offset).
    * Bounded by the header segments actually walked — entropy-coded scan
    * data is never touched. Returns None on truncated/non-JPEG bytes.
    */
  private[graft] def jpegDims(b: Array[Byte]): Option[Dims] = {
    if (b == null || b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None
      // runs of 0xFF are legal fill bytes before a marker — skip them
      while (i + 3 < b.length && (b(i + 1) & 0xff) == 0xff) i += 1
      val marker = b(i + 1) & 0xff
      // standalone markers (no length field): RSTn, TEM, another SOI
      if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i += 2
      else if (marker == 0xd9 || marker == 0xda) return None // EOI / start-of-scan: no SOF seen
      else {
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc // excl. DHT/JPG/DAC
        if (isSof) {
          if (i + 8 >= b.length) return None
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          return Some(Dims(w.toLong, h.toLong))
        }
        if (len < 2) return None
        i += 2 + len
      }
    }
    None
  }

  private lazy val jpegDimsUdf = udf((b: Array[Byte]) => jpegDims(b))

  /** Image dimensions decoded from the raw bytes — REAL decode, no codec
    * library: PNG (IHDR, big-endian), GIF (logical screen, little-endian)
    * and BMP (DIB header, little-endian) dims sit at fixed offsets and are
    * pure codegen'd column expressions; JPEG needs a marker walk
    * ([[jpegDims]], the one non-codegen piece, gated to jpeg rows only).
    * Null struct for non-image / truncated input.
    */
  def imageDims(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fmt = sniffFormat(bin)
    when(fmt === "png" && length(bin) >= 24,
        struct(be(bin, 17, 4).as("width"), be(bin, 21, 4).as("height")))
      .when(fmt === "gif" && length(bin) >= 10,
        struct(le(bin, 7, 2).as("width"), le(bin, 9, 2).as("height")))
      .when(fmt === "bmp" && length(bin) >= 26, {
        // BMP height is SIGNED: negative = top-down row order, magnitude =
        // pixel height. Undo two's complement instead of reporting ~2^32.
        val rawH = le(bin, 23, 4)
        val h = when(rawH >= (1L << 31), lit(1L << 32) - rawH).otherwise(rawH)
        struct(le(bin, 19, 4).as("width"), h.as("height"))
      })
      .when(fmt === "jpeg", jpegDimsUdf(bin))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** WAV audio metadata (channels, sample rate, bits per sample) from the
    * canonical RIFF/WAVE layout ("fmt " as the first chunk — how every
    * standard encoder writes it): fixed little-endian offsets, pure
    * codegen'd expressions. Non-canonical chunk orders return null rather
    * than mis-read offsets.
    */
  def audioMeta(bin: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(
      sniffFormat(bin) === "riff" && length(bin) >= 36 &&
        hex(substring(bin, 9, 4)) === "57415645" && // "WAVE"
        hex(substring(bin, 13, 4)) === "666D7420", // "fmt "
      struct(
        le(bin, 23, 2).as("channels"),
        le(bin, 25, 4).as("sample_rate"),
        le(bin, 35, 2).as("bits_per_sample"))
    ).otherwise(lit(null).cast("struct<channels:bigint,sample_rate:bigint,bits_per_sample:bigint>"))

  /** Attach the typed metadata struct for a binary media column. */
  def withMediaMeta(df: DataFrame, mediaCol: String = "media"): DataFrame = {
    val dims = imageDims(col(mediaCol))
    df.withColumn("media_meta", struct(
      sniffFormat(col(mediaCol)).as("format"),
      length(col(mediaCol)).cast("long").as("n_bytes"),
      sniffFormat(col(mediaCol)).isin("png", "jpeg", "gif", "bmp", "riff", "mp3").as("is_supported"),
      dims.getField("width").as("width"),
      dims.getField("height").as("height")
    ))
  }

  /** Fallback feature for media with no JDK decoder (audio/video/unknown
    * bytes): a `dim`-bin byte histogram normalized to [0,1] —
    * deterministic across runs/engines, shaped like a real embedding so
    * downstream operators (ANN, near-dup) run end-to-end regardless of
    * format.
    */
  private[multimodal] def byteHistogram(bytes: Array[Byte], dim: Int): Array[Float] = {
    val hist = new Array[Float](dim)
    if (bytes != null && bytes.nonEmpty) {
      var i = 0
      while (i < bytes.length) { hist((bytes(i) & 0xff) % dim) += 1f; i += 1 }
      var j = 0
      while (j < dim) { hist(j) /= bytes.length.toFloat; j += 1 }
    }
    hist
  }

  /** REAL pixel decode via the JDK's own codecs (`javax.imageio` ships
    * PNG/GIF/BMP/JPEG readers in `java.desktop` — no external library).
    * Returns None for bytes no installed reader accepts.
    */
  // JVM-global ImageIO temp-file cache switch: flip ONCE per executor
  // (lazy val), not per decoded row
  private lazy val imageIoCacheDisabled: Boolean = {
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length < 8) return None
    imageIoCacheDisabled
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }
  }

  /** Luminance histogram over decoded pixels: Rec.601 grey level binned
    * into `dim` buckets, normalized by pixel count. A real, deterministic
    * pixel-level feature (all-dark images load bin 0, all-bright the top
    * bin).
    */
  private[multimodal] def luminanceHistogram(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val hist = new Array[Float](dim)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
        hist(math.min(dim - 1, lum * dim / 256)) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    var j = 0
    while (j < dim) { hist(j) /= n; j += 1 }
    hist
  }

  /** Per-partition feature extraction over a binary media column: rows
    * STREAM through `mapPartitions` one at a time (the decode holds one
    * image in memory at once — bounded regardless of partition size).
    * Image formats get a REAL pixel decode ([[decodeImage]], JDK
    * ImageIO) and a luminance histogram; formats with no JDK decoder
    * fall back to the byte histogram, so every row yields a
    * fixed-`dim` feature either way.
    */
  def extractFeatures(
      df: DataFrame,
      idCol: String = "media_id",
      mediaCol: String = "media",
      dim: Int = 16
  ): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("feature", ArrayType(FloatType, containsNull = false)),
      StructField("decoded", BooleanType)
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](mediaIdx)
        decodeImage(bytes) match {
          case Some(img) => Row(r.getLong(idIdx), luminanceHistogram(img, dim).toSeq, true)
          case None      => Row(r.getLong(idIdx), byteHistogram(bytes, dim).toSeq, false)
        }
      }
    }(enc)
  }

  /** Real image resize: decode (JDK ImageIO), scale with Graphics2D
    * bilinear interpolation, re-encode as PNG. Output column `resized` is
    * null for rows no reader accepts. Same streaming mapPartitions shape
    * as [[extractFeatures]].
    */
  def resizeImages(
      df: DataFrame,
      targetW: Int,
      targetH: Int,
      idCol: String = "media_id",
      mediaCol: String = "media"
  ): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("resized", BinaryType)
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val out = decodeImage(r.getAs[Array[Byte]](mediaIdx)).map { img =>
          val dst = new java.awt.image.BufferedImage(
            targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
          } finally g.dispose()
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", buf)
          buf.toByteArray
        }
        Row(r.getLong(idIdx), out.orNull)
      }
    }(enc)
  }

  /** Real audio PCM decode via JDK `javax.sound.sampled` (no external
    * codec — WAV/AU/AIFF, the formats AudioSystem ships readers for).
    * Returns null for undecodable rows, never a task failure.
    */
  def decodeAudio(bytes: Array[Byte]): Option[(javax.sound.sampled.AudioFormat, Array[Byte])] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try Some((in.getFormat, in.readAllBytes()))
      finally in.close()
    } catch { case _: Exception => None }
  }

  /** Per-row audio sample features from a REAL PCM decode: duration,
    * RMS energy, and peak amplitude over the decoded samples (16-bit
    * PCM; other sample sizes fall back to undecoded). The audio twin of
    * [[extractFeatures]]: same streaming mapPartitions shape, one clip
    * in memory at a time, `decoded = false` rows carry nulls instead of
    * poisoning the partition.
    */
  def audioFeatures(
      df: DataFrame,
      idCol: String = "media_id",
      mediaCol: String = "media"
  ): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("n_samples", LongType),
      StructField("duration_sec", DoubleType),
      StructField("rms", DoubleType),
      StructField("peak", DoubleType),
      StructField("decoded", BooleanType)
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        decodeAudio(r.getAs[Array[Byte]](mediaIdx)) match {
          case Some((fmt, pcm)) if fmt.getSampleSizeInBits == 16 && pcm.length >= 2 =>
            val bb = java.nio.ByteBuffer.wrap(pcm).order(
              if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
            val n = pcm.length / 2
            var i = 0
            var sumSq = 0.0
            var peak = 0.0
            while (i < n) {
              val s = bb.getShort(i * 2) / 32768.0
              sumSq += s * s
              if (math.abs(s) > peak) peak = math.abs(s)
              i += 1
            }
            val perChannel = n.toLong / math.max(fmt.getChannels, 1)
            Row(id, perChannel, perChannel / fmt.getSampleRate.toDouble,
              math.sqrt(sumSq / n), peak, true)
          case _ => Row(id, null, null, null, null, false)
        }
      }
    }(enc)
  }

  /** Fixed-stride frame sampling from a binary stream: emit every `stride`-th
    * window of `frameBytes` bytes as its own row (the Spark-side shape of
    * video frame extraction; the bytes themselves are raw slices since no
    * video codec exists here).
    */
  def sampleFrames(
      df: DataFrame,
      idCol: String = "media_id",
      mediaCol: String = "media",
      frameBytes: Int = 16,
      stride: Int = 2
  ): DataFrame =
    df.select(
        col(idCol),
        posexplode(
          // guard the stop: media shorter than one stride window would make
          // it -1 and sequence(0, -1) counts DOWN — emit no frames instead
          when(length(col(mediaCol)) >= frameBytes * stride,
            transform(
              sequence(lit(0), floor(length(col(mediaCol)) / (frameBytes * stride)).cast("int") - 1),
              k => substring_index_bytes(col(mediaCol), k, frameBytes, stride)
            )
          ).otherwise(array().cast("array<binary>"))
        ).as(Seq("frame_idx", "frame"))
      )
      .filter(length(col("frame")) === frameBytes)

  /** Byte-window slice helper: window k of `frameBytes` at stride `stride`
    * (substring is 1-based; works on binary columns).
    */
  private def substring_index_bytes(
      bin: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column,
      frameBytes: Int, stride: Int): org.apache.spark.sql.Column =
    bin.substr((k * (frameBytes * stride) + 1).cast("int"), lit(frameBytes))

  /** 64-bit perceptual difference hash (dHash) of a decoded image:
    * bilinear-downscale to 9x8, Rec.601 grayscale, then one bit per
    * horizontal luminance gradient (`lum(x,y) > lum(x+1,y)`). Stable
    * under re-encode / resize / mild noise — near-identical images land
    * within a few bits of Hamming distance, which is what makes
    * cross-format image dedup possible without comparing pixels.
    */
  private[multimodal] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val dst = new java.awt.image.BufferedImage(9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 9, 8, null)
    } finally g.dispose()
    def lum(x: Int, y: Int): Int = {
      val rgb = dst.getRGB(x, y)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(x, y) > lum(x + 1, y)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Per-image dHash over a binary media column — same streaming
    * mapPartitions shape as [[extractFeatures]] (one decoded image in
    * memory at a time). Undecodable rows get a null hash, never a task
    * failure, so one corrupt blob can't kill a 100 TB scan.
    */
  def imageDHash(
      df: DataFrame,
      idCol: String = "media_id",
      mediaCol: String = "media"
  ): DataFrame = {
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("dhash", LongType),
      StructField("decoded", BooleanType)
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        decodeImage(r.getAs[Array[Byte]](mediaIdx)) match {
          case Some(img) => Row(r.getLong(idIdx), dHash64(img), true)
          case None      => Row(r.getLong(idIdx), null, false)
        }
      }
    }(enc)
  }

  /** Near-duplicate image pairs from 64-bit dHashes by pigeonhole
    * banding: split the hash into `maxHamming + 1` blocks
    * ([[graft.dedup.Dedup.hammingBlocks]], the text simhash split) — any
    * pair within the radius agrees EXACTLY on at least one block — and
    * pair the media ids within each (block, value) bucket through
    * [[graft.functions.Pairs.bucketPairs]]. Unlike text simhash, a
    * 64-bit signature does not fit the (id | sig) single-long packing,
    * so the candidates join their hashes back by id, twice.
    *
    * Scale: candidates come only from in-bucket pairs (never an
    * all-pairs cross), and degenerate buckets (e.g. millions of
    * identical flat-color thumbnails) are dropped WHOLE once they pass
    * `maxBucketSize` — the honest recall trade the text pipelines make,
    * applied to images. Media ids are unique BIGINTs.
    */
  def dhashNearDupPairs(
      signatures: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      idCol: String = "media_id"
  ): DataFrame = {
    // the buckets and both hash joins read the hashes: pin them, so an
    // upstream image decode runs once, not three times
    val sigs = signatures
      .filter(col("dhash").isNotNull)
      .select(col(idCol).as("id"), col("dhash"))
      .pin(true)
    val banded = sigs
      .select(col("id"), explode(graft.dedup.Dedup.hammingBlocks(col("dhash"), 64, maxHamming)).as("b"))
      .select(col("id"), col("b.blk"), col("b.v"))
    graft.functions.Pairs.bucketPairs(banded, Seq("blk", "v"), col("id"), maxBucketSize, "id_a", "id_b")
      .join(sigs.select(col("id").as("id_a"), col("dhash").as("__ha")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("dhash").as("__hb")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      // radius filter BEFORE the distinct shuffle (same ordering win as
      // the text simhash pipeline: most bucket-mates are not near-dups)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
