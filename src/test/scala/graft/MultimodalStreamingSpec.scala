package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.streaming.EventStream

class MultimodalStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
  private lazy val media = Multimodal.mediaFromDocuments(docs)

  test("media table has the canonical multimodal schema") {
    assert(media.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // compare names+types; nullability of literal-built fields differs
    val metaFields = media.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq
    assert(metaFields == Multimodal.MetaSchema.fields
      .map(f => (f.name, f.dataType)).toSeq)
    assert(media.select("kind").distinct().collect().map(_.getString(0)).toSet
      == Set("image", "audio", "video"))
  }

  test("checksums: byte length matches n_chars, sha256 is stable") {
    val out = media.join(docs, col("media_id") === col("doc_id"))
      .select(col("media_id"), length(col("content")).cast("long").as("lb"),
        col("n_chars"))
      .filter(col("lb") =!= col("n_chars"))
    assert(out.count() == 0)
    val c = Multimodal.checksums(media)
    assert(c.select("sha256").distinct().count() == media.count()) // distinct texts
  }

  test("feature extraction: stubbed decode yields normalized 16-bin histogram") {
    val feats = Multimodal.extractFeatures(media.limit(20)).collect()
    assert(feats.length == 20)
    for (f <- feats) {
      assert(f.features.length == Multimodal.FakeDecoder.FeatureDim)
      assert(math.abs(f.features.sum - 1.0) < 1e-9) // histogram normalized
    }
  }

  test("ImageCodec decodes a hand-built 2x2 PNG to exact pixel sums") {
    import Multimodal.ImageCodec
    // pixels: (255,0,0) (0,255,0) / (0,0,255) (10,20,30)
    val px = Map((0, 0) -> 0xff0000, (1, 0) -> 0x00ff00,
      (0, 1) -> 0x0000ff, (1, 1) -> ((10 << 16) | (20 << 8) | 30))
    val bytes = ImageCodec.encodePng(2, 2, (x, y) => px((x, y)))
    // real PNG magic bytes, not a passthrough
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte)
    val d = ImageCodec.decode(bytes).get
    assert((d.width, d.height) == (2, 2))
    assert((d.sumR, d.sumG, d.sumB) == (265L, 275L, 285L))
    assert(d.nPixels == 4L)
  }

  test("ImageCodec rejects non-image bytes; extractFeatures falls back") {
    import Multimodal.ImageCodec
    assert(ImageCodec.decode(null).isEmpty)
    assert(ImageCodec.decode(Array.emptyByteArray).isEmpty)
    assert(ImageCodec.decode("not an image at all".getBytes("UTF-8")).isEmpty)
    // media built from documents carries TEXT payloads under kind=image:
    // no ImageIO reader accepts them, so the histogram fallback keeps
    // the pre-codec behavior byte-for-byte
    val img = Multimodal.extractFeatures(
      media.filter(col("kind") === "image").limit(5)).collect()
    assert(img.nonEmpty)
    for (f <- img) assert(math.abs(f.features.sum - 1.0) < 1e-9)
  }

  test("seededPng roundtrip: decode recovers the closed-form sums and dims") {
    import Multimodal.ImageCodec
    for (seed <- Seq(0L, 1L, 7L, 123L, 99999L)) {
      val w = (seed % 16 + 4).toInt
      val h = (seed % 12 + 4).toInt
      var sr = 0L; var sg = 0L; var sb = 0L
      for (x <- 0 until w; y <- 0 until h) {
        sr += (seed * 31 + x * 7 + y * 13) % 256
        sg += (seed * 17 + x * 11 + y * 3) % 256
        sb += (seed * 5 + x * 3 + y * 29) % 256
      }
      val d = ImageCodec.decode(graft.gen.FakeData.seededPng(seed)).get
      assert((d.width, d.height) == (w, h), s"dims for seed=$seed")
      assert((d.sumR, d.sumG, d.sumB) == (sr, sg, sb), s"sums for seed=$seed")
    }
  }

  test("decodeImageStats over seeded PNGs: real decode through mapPartitions") {
    val imgs = Multimodal.imagesFromDocuments(docs.limit(25))
    val stats = Multimodal.decodeImageStats(imgs).collect()
    assert(stats.length == 25, "every seeded PNG decodes")
    for (r <- stats) {
      val id = r.getLong(0)
      assert(r.getInt(1) == (id % 16 + 4).toInt, s"width of $id")
      assert(r.getInt(2) == (id % 12 + 4).toInt, s"height of $id")
      assert(r.getLong(6) == r.getInt(1).toLong * r.getInt(2))
    }
    // a decoded image routed through extractFeatures reports DECODED
    // dims (not caller metadata) and mean-channel features in [0,1]
    val withMeta = imgs.withColumn("meta", struct(
      lit(-1).as("width"), lit(-1).as("height"),
      lit(0).as("sample_rate"), lit(0).as("duration_ms")))
    val f = Multimodal.extractFeatures(withMeta.limit(5)).collect()
    for (x <- f) {
      assert(x.width > 0 && x.height > 0, "decoded dims override meta")
      assert((0 to 2).forall(i => x.features(i) >= 0.0 && x.features(i) <= 1.0))
      assert(x.features(3) == x.width.toLong * x.height)
    }
  }

  test("AudioCodec decodes a hand-built stereo WAV to exact sample sums") {
    import Multimodal.AudioCodec
    // 3 frames × 2 channels with known signed samples
    val samples = Map((0, 0) -> 100, (0, 1) -> -200, (1, 0) -> 32767,
      (1, 1) -> -32768, (2, 0) -> 0, (2, 1) -> 5)
    val bytes = AudioCodec.encodeWavPcm16(16000, 2, 3,
      (f, c) => samples((f, c)).toShort)
    // real RIFF magic bytes, not a passthrough
    assert(bytes(0) == 'R'.toByte && bytes(1) == 'I'.toByte &&
      bytes(2) == 'F'.toByte && bytes(3) == 'F'.toByte)
    val d = AudioCodec.decode(bytes).get
    assert(d.channels == 2 && d.sampleRate == 16000 && d.nFrames == 3L)
    assert(d.channelSums.toSeq == Seq(100L + 32767L, -200L - 32768L + 5L))
    assert(d.sumAbs == 100L + 200L + 32767L + 32768L + 5L)
  }

  test("AudioCodec rejects non-audio bytes; extractFeatures falls back") {
    import Multimodal.AudioCodec
    assert(AudioCodec.decode(null).isEmpty)
    assert(AudioCodec.decode(Array.emptyByteArray).isEmpty)
    assert(AudioCodec.decode("definitely not a wav".getBytes("UTF-8")).isEmpty)
    // a PNG is not audio either (cross-codec confusion must not decode)
    assert(AudioCodec.decode(graft.gen.FakeData.seededPng(3L)).isEmpty)
    // media built from documents carries TEXT payloads under kind=audio:
    // the histogram fallback keeps the pre-codec behavior byte-for-byte
    val au = Multimodal.extractFeatures(
      media.filter(col("kind") === "audio").limit(5)).collect()
    assert(au.nonEmpty)
    for (f <- au) assert(math.abs(f.features.sum - 1.0) < 1e-9)
  }

  test("AudioCodec preferred-reader hint falls back across formats") {
    import Multimodal.AudioCodec
    // r19: decode() remembers the last-successful SPI reader and tries
    // it first. A WAV decode plants the WaveFileReader hint; an
    // AU-format payload must still decode correctly through the
    // fallback probe (wrong hint throws, next provider accepts), and a
    // corrupt RIFF/WAVE body must still degrade to None.
    val wav = AudioCodec.encodeWavPcm16(8000, 1, 4, (f, _) => (f * 10).toShort)
    assert(AudioCodec.decode(wav).get.channelSums.toSeq == Seq(0L + 10 + 20 + 30))
    // hand-built AU payload via the JDK's own writer
    val raw = Array[Byte](0, 1, 0, 2, 0, 3, 0, 4) // 4 BE PCM16 frames
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, 4L)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AU, baos)
    val auBytes = baos.toByteArray
    assert(auBytes(0) == '.'.toByte && auBytes(1) == 's'.toByte, "AU magic")
    val d = AudioCodec.decode(auBytes).get
    assert(d.nFrames == 4L && d.channelSums.toSeq == Seq(1L + 2 + 3 + 4))
    // corrupt body behind valid RIFF/WAVE magic: still None, and the
    // hint survives for the next well-formed payload
    val corrupt = java.util.Arrays.copyOf(wav, 20)
    assert(AudioCodec.decode(corrupt).isEmpty)
    assert(AudioCodec.decode(wav).nonEmpty)
  }

  test("VideoCodec: MJPEG AVI roundtrip recovers exact gray sums and shape") {
    import Multimodal.VideoCodec
    // hand-built 2-frame clip: solid grays 10 and 200 (q=1.0 JPEG gray
    // frames roundtrip bit-exactly — the property the oracle exploits)
    val frames = Seq(VideoCodec.encodeJpegGray(6, 4, 10),
      VideoCodec.encodeJpegGray(6, 4, 200))
    val avi = VideoCodec.encodeAviMjpeg(6, 4, 10, frames)
    // real RIFF/AVI magic, not a passthrough
    assert(avi(0) == 'R'.toByte && avi(8) == 'A'.toByte &&
      avi(9) == 'V'.toByte && avi(10) == 'I'.toByte)
    val d = VideoCodec.decode(avi).get
    assert((d.width, d.height, d.nFrames) == ((6, 4, 2)))
    val expect = (10L + 200L) * 6 * 4
    assert(d.sumR == expect && d.sumG == expect && d.sumB == expect)
    // fallback contract: non-AVI, truncated AVI, and cross-codec bytes
    assert(VideoCodec.decode(null).isEmpty)
    assert(VideoCodec.decode("plain text payload".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.decode("RIFFxxxxAVI corrupt".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.decode(graft.gen.FakeData.seededPng(3L)).isEmpty)
    assert(VideoCodec.decode(graft.gen.FakeData.seededWav(3L)).isEmpty)
  }

  test("seededAvi roundtrip: decode recovers the closed-form sums across seeds") {
    import Multimodal.VideoCodec
    (0L to 40L).foreach { seed =>
      val d = VideoCodec.decode(graft.gen.FakeData.seededAvi(seed)).get
      val w = (seed % 10 + 4).toInt
      val h = (seed % 7 + 4).toInt
      val n = (seed % 6 + 2).toInt
      val expect = (0 until n).map(i =>
        ((seed * 37 + i * 19) % 256) * w * h).sum
      assert((d.width, d.height, d.nFrames) == ((w, h, n)), s"seed=$seed")
      assert(d.sumR == expect && d.sumG == expect && d.sumB == expect,
        s"seed=$seed: got (${d.sumR},${d.sumG},${d.sumB}), want $expect")
    }
  }

  test("seededWav roundtrip: decode recovers the closed-form shape and sums") {
    import Multimodal.AudioCodec
    for (seed <- Seq(0L, 1L, 2L, 3L, 7L, 123L, 99999L)) {
      val channels = (seed % 2 + 1).toInt
      val frames = (seed % 50 + 20).toInt
      val sums = new Array[Long](channels)
      for (i <- 0 until frames; c <- 0 until channels)
        sums(c) += (seed * 31 + i * 7 + c * 13) % 4096 - 2048
      val d = AudioCodec.decode(graft.gen.FakeData.seededWav(seed)).get
      assert(d.channels == channels && d.nFrames == frames.toLong,
        s"shape for seed=$seed")
      assert(d.sampleRate == (8000 + (seed % 4) * 4000).toInt, s"rate $seed")
      assert(d.channelSums.toSeq == sums.toSeq, s"sums for seed=$seed")
    }
  }

  test("decodeAudioStats over seeded WAVs; extractFeatures uses the real decode") {
    val wavs = Multimodal.audioFromDocuments(docs.limit(25))
    val stats = Multimodal.decodeAudioStats(wavs).collect()
    assert(stats.length == 25, "every seeded WAV decodes")
    for (r <- stats) {
      val id = r.getLong(0)
      assert(r.getInt(1) == (id % 2 + 1).toInt, s"channels of $id")
      assert(r.getLong(3) == id % 50 + 20, s"frames of $id")
      if (r.getInt(1) == 1) assert(r.getLong(5) == 0L, "mono sum_ch1 = 0")
    }
    // routed through extractFeatures: real decode facts in the features
    val withMeta = wavs.withColumn("meta", struct(
      lit(-1).as("width"), lit(-1).as("height"),
      lit(0).as("sample_rate"), lit(0).as("duration_ms")))
    val f = Multimodal.extractFeatures(withMeta.limit(5)).collect()
    for (x <- f) {
      assert(x.kind == "audio")
      assert(x.features(0) >= 0.0 && x.features(0) <= 1.0, "mean |amp|")
      assert(x.features(1) == 1.0 || x.features(1) == 2.0, "channels")
      assert(x.features(3) >= 20.0, "frame count")
    }
  }

  test("frame sampling slices video payloads at stride") {
    val frames = Multimodal.sampleFrames(media, frameLen = 32, stride = 16)
    val one = frames.filter(col("media_id") === 2).orderBy("frame_idx").collect()
    assert(one.nonEmpty)
    assert(one.head.getLong(1) == 0L)
    assert(one.forall(_.getAs[Array[Byte]]("frame_bytes").length <= 32))
    // frames overlap at stride 16 < frameLen 32: frame i starts at i*16
    val content = media.filter(col("media_id") === 2)
      .select("content").collect().head.getAs[Array[Byte]](0)
    assert(one.head.getAs[Array[Byte]]("frame_bytes").toSeq ==
      content.slice(0, 32).toSeq)
    assert(one(1).getAs[Array[Byte]]("frame_bytes").toSeq ==
      content.slice(16, 48).toSeq)
  }

  test("resize truncates or zero-pads to the target length") {
    val out = Multimodal.resize(media, 64)
      .select(length(col("content")).as("l")).distinct().collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(64))
  }

  test("streaming windowed counts equal the batch aggregation") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    // re-write as multiple files so maxFilesPerTrigger yields >1 microbatch
    val dir = Files.createTempDirectory("graft-stream").toString
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    // r.get (not getTimestamp): events.ts has shipped as both TIMESTAMP
    // (java.sql.Timestamp rows) and TIMESTAMP_NTZ (LocalDateTime rows);
    // both sides of the parity check produce the same type either way
    val batch = EventStream.windowedCounts(spark.read.parquet(dir))
      .collect().map(r => (r.getString(0), r.get(1), r.getLong(2),
        r.getDouble(3))).toSet

    val stream = EventStream.readEventStream(spark, dir, ev.schema)
    val q = EventStream.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
        .collect().map(r => (r.getString(0), r.get(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions at the inactivity gap") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val events = Seq(
      EventStream.Event(1, at(0), 7L, "view", 1.0, ""),
      EventStream.Event(2, at(5), 7L, "click", 2.0, ""),
      EventStream.Event(3, at(60), 7L, "view", 3.0, ""),   // new session
      EventStream.Event(4, at(0), 8L, "view", 5.0, "")
    ).toDS()
    val sessions = EventStream.closedAndOpenSessions(events, gapMs = 30 * 60000)
      .collect().map(s => (s.user_id, s.n_events, s.sum_value)).toSet
    assert(sessions == Set((7L, 2L, 3.0), (7L, 1L, 3.0), (8L, 1L, 5.0)))
  }

  test("streaming dedup drops re-delivered event_ids across microbatches") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val dir = Files.createTempDirectory("graft-dedup").toString
    // f1 delivers ids 1,2; f2 re-delivers id 1 (inside the watermark
    // horizon) and delivers id 3 — state must persist between batches
    Seq(EventStream.Event(1, at(0), 7L, "view", 1.0, ""),
      EventStream.Event(2, at(1), 7L, "click", 2.0, ""))
      .toDS().coalesce(1).write.parquet(s"$dir/f1")
    Seq(EventStream.Event(1, at(2), 7L, "view", 1.0, ""),
      EventStream.Event(3, at(3), 8L, "view", 3.0, ""))
      .toDS().coalesce(1).write.parquet(s"$dir/f2")
    val schema = implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = EventStream.dedupEvents(stream, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("deduped")
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts")))
      assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L)) // one row per id
      // the FIRST arrival of id 1 survives, not the re-delivery
      assert(rows.toMap.apply(1L) == at(0))
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to in-horizon views only") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val vDir = Files.createTempDirectory("graft-views").toString
    val cDir = Files.createTempDirectory("graft-clicks").toString
    Seq(EventStream.Event(1, at(0), 7L, "view", 1.0, ""),
      EventStream.Event(2, at(0), 8L, "view", 1.0, ""))
      .toDS().coalesce(1).write.mode("overwrite").parquet(vDir)
    Seq(EventStream.Event(10, at(5), 7L, "click", 1.0, ""),   // in horizon
      EventStream.Event(11, at(30), 7L, "click", 1.0, ""),    // past horizon
      EventStream.Event(12, at(3), 9L, "click", 1.0, ""))     // other user
      .toDS().coalesce(1).write.mode("overwrite").parquet(cDir)
    val schema = implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema
    def rs(dir: String) = spark.readStream.schema(schema).parquet(dir)
    val q = EventStream.clickAttribution(rs(vDir), rs(cDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("attrib").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("view_id"), r.getAs[Long]("click_id")))
      assert(rows.toSeq == Seq((7L, 1L, 10L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization emits closed sessions across batches") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    // two parquet files -> two microbatches (state must persist between)
    val dir = Files.createTempDirectory("graft-sess").toString
    Seq(EventStream.Event(1, at(0), 7L, "view", 1.0, ""),
      EventStream.Event(2, at(5), 7L, "click", 2.0, ""))
      .toDS().coalesce(1).write.parquet(s"$dir/f1")
    Seq(EventStream.Event(3, at(120), 7L, "view", 3.0, ""))
      .toDS().coalesce(1).write.parquet(s"$dir/f2")
    // stream sees f1 then f2; the 120-min gap closes session 1
    val schema = implicitly[org.apache.spark.sql.Encoder[EventStream.Event]].schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[EventStream.Event]
    val q = EventStream.sessionize(stream, gapMs = 30 * 60000)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sessions")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"))).toSet
      assert(closed == Set((7L, 2L, 3.0))) // first session closed by the gap
    } finally q.stop()
  }
}
