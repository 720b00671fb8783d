package graft

import graft.multimodal.Multimodal
import graft.operators.{Tensorize, Tokenize}
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class TensorizeMultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tensorize: dense shapes, masks, truncation and padding") {
    val seqs = Seq(
      (1L, Seq(Double.NaN, 1.5), Seq(Seq(3L, 4L), Seq(5L)), Seq(Seq(0.5, 1.0), Seq(2.0))),
      (2L, Seq(Double.NaN), Seq(Seq(7L)), Seq(Seq(Double.NaN)))
    ).toDF("patient_id", "time_delta_days", "code", "numeric_value")
    val out = Tensorize.toDense(seqs, maxEvents = 3, maxMeasurementsPerEvent = 2)
      .sort("patient_id").collect()

    val p1 = out(0)
    assert(p1.getInt(1) == 2) // n_events
    assert(p1.getSeq[Double](2).length == 3)            // padded to maxEvents
    assert(p1.getSeq[Boolean](3) == Seq(true, true, false)) // event_mask
    assert(p1.getSeq[Seq[Long]](4) == Seq(Seq(3L, 4L), Seq(5L, 0L), Seq(0L, 0L))) // 0-padded codes
    assert(p1.getSeq[Seq[Boolean]](5) == Seq(Seq(true, true), Seq(true, false), Seq(false, false)))
    assert(p1.getSeq[Seq[Double]](6) == Seq(Seq(0.5, 1.0), Seq(2.0, 0.0), Seq(0.0, 0.0)))

    // schema is fixed-shape arrays, ready for collation
    val schema = Tensorize.toDense(seqs, 3, 2).schema
    assert(schema("code").dataType == ArrayType(ArrayType(LongType, false), false))
  }

  test("tensorize composes with tokenize on a literal cohort") {
    val cohort = Seq(
      (1L, Some(ts("2020-01-01 00:00:00")), 10L, Some(1.0)),
      (1L, Some(ts("2020-01-02 00:00:00")), 11L, None),
      (1L, None, 12L, Some(3.0))
    ).toDF("patient_id", "time", "code", "numeric_value")
    val dense = Tensorize.toDense(
      Tokenize.seqOfPatientEvents(cohort.withColumn("numeric_value", col("numeric_value").cast("double"))),
      maxEvents = 4, maxMeasurementsPerEvent = 2)
    val r = dense.collect()(0)
    assert(r.getInt(1) == 2)
    assert(r.getSeq[collection.Seq[Boolean]](7)(0) == Seq(true, false))  // value mask: first event has a value
    assert(r.getSeq[collection.Seq[Boolean]](7)(1) == Seq(false, false)) // second event's value was null
  }

  test("tensorize statics: pad, mask and truncation of staticsAndSchema's lists") {
    val cohort = Seq[(Long, Option[Timestamp], Long, Double)](
      (1L, None, 30L, 3.0), (1L, None, 10L, 1.0), (1L, None, 20L, 2.0),
      (1L, Some(ts("2020-01-01 00:00:00")), 50L, 5.0),
      (2L, None, 40L, 4.0),
      (2L, Some(ts("2020-01-02 00:00:00")), 50L, 6.0)
    ).toDF("patient_id", "time", "code", "numeric_value")
    val dense = Tensorize.staticsToDense(Tokenize.staticsAndSchema(cohort), maxStatic = 2)
    assert(dense.columns.toSeq ==
      Seq("patient_id", "static_code", "static_numeric_value", "static_mask"))
    val got = dense.as[(Long, Seq[Long], Seq[Double], Seq[Boolean])].collect().sortBy(_._1)
    // patient 1: three statics, sorted by code, truncated to the first two
    assert(got(0) == ((1L, Seq(10L, 20L), Seq(1.0, 2.0), Seq(true, true))))
    // patient 2: one static, 0-padded and masked out past it
    assert(got(1) == ((2L, Seq(40L, 0L), Seq(4.0, 0.0), Seq(true, false))))
  }

  test("tensorize: withNarrowedCodes stores codes at the vocabulary's narrowest type") {
    val seqs = Seq(
      (1L, Seq(Double.NaN, 1.5), Seq(Seq(3L, 300L), Seq(5L)), Seq(Seq(0.5, 1.0), Seq(2.0)))
    ).toDF("patient_id", "time_delta_days", "code", "numeric_value")
    val dense = Tensorize.toDense(seqs, maxEvents = 3, maxMeasurementsPerEvent = 2)
    for (vocab <- Seq(300L, 40000L)) {
      val narrowed = Tensorize.withNarrowedCodes(dense, vocab)
      val ArrayType(ArrayType(elem, _), _) = narrowed.schema("code").dataType
      assert(elem == Tensorize.narrowestIndexType(vocab))
      assert(narrowed.select(col("code").cast("array<array<long>>")).as[Seq[Seq[Long]]].collect()
        .toSeq == dense.select("code").as[Seq[Seq[Long]]].collect().toSeq)
    }
  }

  test("multimodal: format sniffing from magic bytes") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9)
    val other = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, png), (2L, jpg), (3L, other)).toDF("media_id", "media")
    val out = Multimodal.withMediaMeta(df)
      .select("media_id", "media_meta.format", "media_meta.n_bytes", "media_meta.is_supported")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "png", 7L, true)))
    assert(out(1) == ((2L, "jpeg", 5L, true)))
    assert(out(2) == ((3L, "unknown", 4L, false)))
  }

  /** Minimal valid headers with known dimensions, built byte-by-byte. */
  private def pngBytes(w: Int, h: Int): Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13) ++ "IHDR".getBytes ++
      Array[Byte]((w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
        (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte, 8, 2, 0, 0, 0)
  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ Array[Byte](w.toByte, (w >> 8).toByte, h.toByte, (h >> 8).toByte, 0, 0, 0)
  private def bmpBytes(w: Int, h: Int): Array[Byte] =
    "BM".getBytes ++ new Array[Byte](12) ++ Array[Byte](40, 0, 0, 0,
      w.toByte, (w >> 8).toByte, (w >> 16).toByte, (w >> 24).toByte,
      h.toByte, (h >> 8).toByte, (h >> 16).toByte, (h >> 24).toByte)
  private def jpegBytes(w: Int, h: Int): Array[Byte] =
    Array[Byte](0xff.toByte, 0xd8.toByte) ++                               // SOI
      (Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16) ++ new Array[Byte](14)) ++ // APP0 len 16
      Array[Byte](0xff.toByte, 0xc0.toByte, 0, 17, 8,                      // SOF0 len 17, precision
        (h >> 8).toByte, h.toByte, (w >> 8).toByte, w.toByte, 3)

  test("multimodal: image dimensions decoded from real PNG/GIF/BMP/JPEG headers") {
    val df = Seq(
      (1L, pngBytes(640, 480)), (2L, gifBytes(320, 200)),
      (3L, bmpBytes(800, 600)), (4L, jpegBytes(123, 456)),
      (5L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    ).toDF("media_id", "media")
    val out = Multimodal.withMediaMeta(df)
      .select("media_id", "media_meta.format", "media_meta.width", "media_meta.height")
      .collect().map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out(1L) == (("png", 640L, 480L)))
    assert(out(2L) == (("gif", 320L, 200L)))
    assert(out(3L) == (("bmp", 800L, 600L)))
    assert(out(4L) == (("jpeg", 123L, 456L)))
    assert(out(5L) == (("unknown", -1L, -1L)))
  }

  test("multimodal: WAV audio metadata from canonical RIFF headers") {
    def leBytes(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
    val wav = "RIFF".getBytes ++ leBytes(100, 4) ++ "WAVE".getBytes ++ "fmt ".getBytes ++
      leBytes(16, 4) ++ leBytes(1, 2) ++ leBytes(2, 2) ++ leBytes(44100, 4) ++
      leBytes(176400, 4) ++ leBytes(4, 2) ++ leBytes(16, 2)
    val avi = "RIFF".getBytes ++ leBytes(100, 4) ++ "AVI ".getBytes ++ new Array[Byte](24)
    val df = Seq((1L, wav), (2L, avi)).toDF("media_id", "media")
    val out = df.select(col("media_id"), Multimodal.audioMeta(col("media")).as("a")).collect()
      .map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s => (s.getLong(0), s.getLong(1), s.getLong(2)))).toMap
    assert(out(1L).contains((2L, 44100L, 16L)))
    assert(out(2L).isEmpty, "non-WAVE RIFF must not parse as audio")
  }

  test("multimodal: REAL audio decode — RMS/duration/peak from synthesized PCM") {
    // 16-bit mono 8kHz WAV: 0.5s of a full-scale square wave (|s|≈1,
    // rms≈1) and 0.5s of silence → rms ≈ sqrt(1/2), peak ≈ 1
    import javax.sound.sampled._
    val rate = 8000f
    val n = 8000
    val samples = new Array[Byte](n * 2)
    val bb = java.nio.ByteBuffer.wrap(samples).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until n / 2) bb.putShort(i * 2, (if (i % 2 == 0) 32767 else -32767).toShort)
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(samples), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wavBytes = bos.toByteArray
    val df = Seq((1L, wavBytes), (2L, Array[Byte](1, 2, 3))).toDF("media_id", "media")
    val out = Multimodal.audioFeatures(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ok = out(1L)
    assert(ok.getBoolean(5), "WAV must decode")
    assert(ok.getLong(1) == n.toLong)
    assert(math.abs(ok.getDouble(2) - 1.0) < 1e-6) // 8000 samples @ 8kHz = 1s
    assert(math.abs(ok.getDouble(3) - math.sqrt(0.5)) < 0.01)
    assert(math.abs(ok.getDouble(4) - 1.0) < 0.01)
    assert(!out(2L).getBoolean(5) && out(2L).isNullAt(3))
  }

  test("multimodal: top-down BMP (negative height) and JPEG fill bytes decode correctly") {
    // height -600 stored two's-complement -> must report 600
    val topDown = "BM".getBytes ++ new Array[Byte](12) ++ Array[Byte](40, 0, 0, 0,
      32, 3, 0, 0, // width 800
      0xA8.toByte, 0xFD.toByte, 0xFF.toByte, 0xFF.toByte) // height -600
    val df = Seq((1L, topDown)).toDF("media_id", "media")
    val out = Multimodal.withMediaMeta(df)
      .select("media_meta.width", "media_meta.height").collect()(0)
    assert(out.getLong(0) == 800L && out.getLong(1) == 600L)
    // fill bytes (extra 0xFFs) before the SOF marker are legal padding
    val padded = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xc0.toByte, 0, 17, 8,
      1, 0xC8.toByte, 0, 0x7B.toByte, 3) // h=456, w=123
    assert(Multimodal.jpegDims(padded).contains(Multimodal.Dims(123, 456)))
  }

  test("multimodal: jpegDims is robust to truncation and missing SOF") {
    assert(Multimodal.jpegDims(null).isEmpty)
    assert(Multimodal.jpegDims(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    // SOI then EOI: no frame header
    assert(Multimodal.jpegDims(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)).isEmpty)
    // truncated mid-segment
    assert(Multimodal.jpegDims(jpegBytes(100, 100).take(10)).isEmpty)
    // garbage after SOI
    assert(Multimodal.jpegDims(Array[Byte](0xff.toByte, 0xd8.toByte, 1, 2, 3, 4)).isEmpty)
  }

  test("multimodal: batched feature extraction is deterministic and shape-stable") {
    val docs = (1L to 200L).map(i => (i, Array.fill(32)((i % 7).toByte))).toDF("media_id", "media")
    val out = Multimodal.extractFeatures(docs, dim = 16)
    assert(out.schema("feature").dataType == ArrayType(FloatType, containsNull = false))
    val feats = out.select("media_id", "feature").as[(Long, Seq[Float])].collect().toMap
    assert(feats.size == 200)
    assert(feats(7L)(0) == 1.0f)  // bytes all 0 -> all mass in bin 0
    assert(feats(8L)(1) == 1.0f)  // bytes all 1 -> all mass in bin 1
    // non-image bytes: fallback path, flagged undecoded
    assert(out.filter(col("decoded")).count() == 0)
    // rerun identical
    val again = Multimodal.extractFeatures(docs, dim = 16)
      .select("media_id", "feature").as[(Long, Seq[Float])].collect().toMap
    assert(feats == again)
  }

  /** Real PNG bytes via the JDK encoder, filled with one grey level. */
  private def pngBytes(w: Int, h: Int, grey: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (grey << 16) | (grey << 8) | grey
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    buf.toByteArray
  }

  test("multimodal: REAL pixel decode — luminance histograms reflect image content") {
    val docs = Seq(
      (1L, pngBytes(8, 6, 0)),    // black -> all mass in bin 0
      (2L, pngBytes(8, 6, 255)),  // white -> all mass in top bin
      (3L, Array.fill(32)(5.toByte)) // not an image -> fallback
    ).toDF("media_id", "media")
    val out = Multimodal.extractFeatures(docs, dim = 16)
      .select("media_id", "feature", "decoded").as[(Long, Seq[Float], Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._2 && out(1L)._1.head == 1.0f, s"black image: ${out(1L)}")
    assert(out(2L)._2 && out(2L)._1.last == 1.0f, s"white image: ${out(2L)}")
    assert(!out(3L)._2, "raw bytes must take the fallback path")
    // header dims agree with the decoded image
    val meta = Multimodal.withMediaMeta(docs).select("media_id", "media_meta.width", "media_meta.height")
      .as[(Long, Option[Long], Option[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(meta(1L) == ((Some(8L), Some(6L))))
  }

  test("multimodal: REAL resize — output decodes to the target dims, bilinear-averaged") {
    val docs = Seq((1L, pngBytes(16, 12, 100)), (2L, Array.fill(16)(9.toByte))).toDF("media_id", "media")
    val out = Multimodal.resizeImages(docs, targetW = 4, targetH = 3)
      .as[(Long, Option[Array[Byte]])].collect().toMap
    assert(out(2L).isEmpty, "non-image rows resize to null")
    val resized = Multimodal.decodeImage(out(1L).get).get
    assert(resized.getWidth == 4 && resized.getHeight == 3)
    // uniform grey stays uniform through bilinear scaling
    val rgb = resized.getRGB(2, 1)
    assert(((rgb >> 16) & 0xff) == 100 && (rgb & 0xff) == 100)
  }

  test("multimodal: frame sampling emits fixed-size strided windows") {
    val media = Array.tabulate(64)(_.toByte)
    val df = Seq((1L, media)).toDF("media_id", "media")
    val frames = Multimodal.sampleFrames(df, frameBytes = 8, stride = 2)
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
    assert(frames.length == 4) // 64 bytes / (8*2) = 4 windows
    assert(frames(0)._3.toSeq == (0 until 8).map(_.toByte))
    assert(frames(1)._3.toSeq == (16 until 24).map(_.toByte))
    // media shorter than one stride window emits zero frames (regression:
    // the unguarded sequence stop went to -1, counting DOWN)
    val short = Seq((2L, Array.tabulate(5)(_.toByte))).toDF("media_id", "media")
    assert(Multimodal.sampleFrames(short, frameBytes = 8, stride = 2).count() == 0)
  }

  test("streaming: windowed counts with watermark over a micro-batch stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.Event]
    val query = Streaming.windowedEventCounts(input.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_counts").outputMode("update").start()
    try {
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:05:00"), "click", 1.0),
        Streaming.Event(2, ts("2024-01-01 10:55:00"), "click", 2.0),
        Streaming.Event(1, ts("2024-01-01 11:05:00"), "view", 5.0))
      query.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)))
      assert(rows.contains((ts("2024-01-01 11:00:00"), "view", 1L, 5.0)))
    } finally query.stop()
  }

  test("streaming: code-metadata aggregation over a MEDS stream matches batch algebra") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Option[Double])]
    val meds = input.toDF().toDF("patient_id", "time", "code", "numeric_value")
    val query = Streaming.streamingCodeMetadata(meds, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("code_meta").outputMode("update").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:10:00"), "HR", Some(60.0)),
        (2L, ts("2024-01-01 10:20:00"), "HR", Some(80.0)),
        (1L, ts("2024-01-01 10:30:00"), "HR", None),
        (1L, ts("2024-01-01 11:10:00"), "RR", Some(18.0)))
      query.processAllAvailable()
      val hr = spark.table("code_meta").filter(col("code") === "HR")
        .select("code/n_occurrences", "values/n_occurrences", "values/sum", "values/min", "values/max")
        .as[(Long, Long, Double, Double, Double)].collect()
      assert(hr.toSeq == Seq((3L, 2L, 140.0, 60.0, 80.0)))
    } finally query.stop()
  }

  test("streaming: sessionization closes sessions after the gap via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.Event]
    val query = Streaming.sessionize(input.toDS(), gapMinutes = 10)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // session 1: two events 5 min apart; then a 30-min gap (new session)
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:00:00"), "click", 1.0),
        Streaming.Event(1, ts("2024-01-01 10:05:00"), "click", 1.0))
      query.processAllAvailable()
      input.addData(Streaming.Event(1, ts("2024-01-01 10:35:00"), "click", 1.0))
      query.processAllAvailable()
      // push the watermark far forward so the open session times out
      input.addData(Streaming.Event(2, ts("2024-01-01 12:00:00"), "click", 1.0))
      query.processAllAvailable()
      input.addData(Streaming.Event(2, ts("2024-01-01 13:00:00"), "click", 1.0))
      query.processAllAvailable()
      val sessions = spark.table("sessions").as[Streaming.Session].collect()
        .filter(_.user_id == 1L).sortBy(_.start.getTime)
      assert(sessions.length == 2)
      assert(sessions(0).start == ts("2024-01-01 10:00:00"))
      assert(sessions(0).end == ts("2024-01-01 10:05:00"))
      assert(sessions(0).n_events == 2)
      assert(sessions(1).start == ts("2024-01-01 10:35:00") && sessions(1).n_events == 1)
    } finally query.stop()
  }

  test("streaming: parquet append sink emits closed windows exactly-once and resumes from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.Event]
    val out = java.nio.file.Files.createTempDirectory("sink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sink_ckpt").toString
    val counts = Streaming.windowedEventCounts(input.toDF(), "1 hour", "30 minutes")
    val query = Streaming.parquetAppendSink(counts, out, ckpt)
    try {
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:05:00"), "click", 1.0),
        Streaming.Event(2, ts("2024-01-01 10:55:00"), "click", 2.0))
      query.processAllAvailable()
      // advance the watermark past 11:00 so the 10:00 window closes
      input.addData(Streaming.Event(1, ts("2024-01-01 11:45:00"), "view", 5.0))
      query.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)))
    } finally query.stop()
    // restart against the same checkpoint: the closed window must NOT re-emit
    val query2 = Streaming.parquetAppendSink(counts, out, ckpt)
    try {
      input.addData(Streaming.Event(1, ts("2024-01-01 13:00:00"), "view", 1.0))
      query2.processAllAvailable()
      val starts = spark.read.parquet(out).select("window_start")
        .as[Timestamp].collect().toSeq
      assert(starts.count(_ == ts("2024-01-01 10:00:00")) == 1, "file sink re-emitted a window after restart")
      assert(starts.contains(ts("2024-01-01 11:00:00"))) // closed by the 13:00 event
    } finally query2.stop()
  }

  test("streaming: end-to-end file source -> windowed agg -> file sink") {
    import org.apache.spark.sql.types._
    val in = java.nio.file.Files.createTempDirectory("fs_in").toString
    val out = java.nio.file.Files.createTempDirectory("fs_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fs_ckpt").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def writeFile(rows: Seq[(Long, Timestamp, String, Double)]): Unit =
      spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)).asJava, schema)
        .coalesce(1).write.mode("append").parquet(in)
    writeFile(Seq((1L, ts("2024-01-01 10:05:00"), "click", 1.0), (2L, ts("2024-01-01 10:55:00"), "click", 2.0)))
    val stream = Streaming.parquetFileStream(spark, in, schema)
    val query = Streaming.parquetAppendSink(
      Streaming.windowedEventCounts(stream, "1 hour", "30 minutes"), out, ckpt)
    try {
      query.processAllAvailable()
      // a later file advances the watermark past 11:00 -> 10:00 window closes
      writeFile(Seq((3L, ts("2024-01-01 11:45:00"), "view", 5.0)))
      query.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set((ts("2024-01-01 10:00:00"), "click", 2L, 3.0)))
    } finally query.stop()
  }

  test("streaming: exact dedup drops in-horizon copies and keeps first occurrences") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = Streaming.streamingExactDedup(docs, "1 hour")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "Hello, world!"),
        (2L, ts("2024-01-01 10:05:00"), "hello world"), // same normalized fp
        (3L, ts("2024-01-01 10:10:00"), "something else"))
      query.processAllAvailable()
      input.addData((4L, ts("2024-01-01 10:20:00"), "HELLO  world")) // still a copy
      query.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L), s"expected first occurrences only, got $ids")
    } finally query.stop()
  }

  test("streaming: snapshot sink overwrites with the full current aggregation state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Option[Double])]
    val meds = input.toDF().toDF("patient_id", "time", "code", "numeric_value")
    val out = java.nio.file.Files.createTempDirectory("snap_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("snap_ckpt").toString
    val query = Streaming.snapshotSink(Streaming.streamingCodeMetadata(meds), out, ckpt)
    try {
      input.addData((1L, ts("2024-01-01 10:10:00"), "HR", Some(60.0)))
      query.processAllAvailable()
      val snap1 = spark.read.parquet(out).filter(col("code") === "HR")
        .select(col("`code/n_occurrences`")).as[Long].collect().toSeq
      assert(snap1 == Seq(1L))
      // a second batch folds in: snapshot is REPLACED with updated totals
      input.addData((2L, ts("2024-01-01 10:20:00"), "HR", Some(80.0)))
      query.processAllAvailable()
      val snap2 = spark.read.parquet(out).filter(col("code") === "HR")
        .select(col("`code/n_occurrences`"), col("`values/sum`")).as[(Long, Double)].collect().toSeq
      assert(snap2 == Seq((2L, 140.0)))
    } finally query.stop()
  }
}
