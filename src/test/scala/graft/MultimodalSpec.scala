package graft

import org.apache.spark.sql.functions._

import graft.operators.MultimodalOps

/** Multimodal plumbing: the Spark-side batch shapes are real even
  * though the codec bodies are deterministic stubs. */
class MultimodalSpec extends SparkSuite {

  test("resize emits bounded thumbnails, deterministically") {
    val a = MultimodalOps.multimodalResize(spark, sf).collect()
    assert(a.nonEmpty)
    assert(a.forall(_.getInt(1) <= 64)) // thumb_w = byte length ≤ ThumbBytes
    val b = MultimodalOps.multimodalResize(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  // --- REAL image codec path (javax.imageio, bundled with the JDK) ---

  /** Deterministic RGB test image encoded to real PNG bytes. */
  private def pngBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (((x * 7 + seed) % 256) << 16) |
        (((y * 13) % 256) << 8) | ((x + y + seed) % 256))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeImages reads real PNG bytes: dims, channels, exact mean luma") {
    val s = spark
    import s.implicits._
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, pngBytes(40, 25, 0), "image/png", 0L),
      MultimodalOps.MediaRecord(2L, pngBytes(8, 8, 99), "image/png", 0L),
      MultimodalOps.MediaRecord(3L, "not an image".getBytes, "image/png", 0L))
    val got = MultimodalOps.decodeImages(recs.toDS())
      .collect().map(f => f.doc_id -> f).toMap
    // expected luma recomputed here with the same integer arithmetic
    def luma(w: Int, h: Int, seed: Int): Long = {
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w)
        sum += (299 * ((x * 7 + seed) % 256) + 587 * ((y * 13) % 256) +
          114 * ((x + y + seed) % 256)) / 1000
      sum * 1000 / (w.toLong * h * 255)
    }
    assert(got(1L) == MultimodalOps.ImageFeatures(1L, 40, 25, 3, luma(40, 25, 0), ok = true))
    assert(got(2L) == MultimodalOps.ImageFeatures(2L, 8, 8, 3, luma(8, 8, 99), ok = true))
    assert(got(3L) == MultimodalOps.ImageFeatures(3L, 0, 0, 0, 0L, ok = false),
      "corrupt payload must quarantine, not throw")
  }

  test("resizeImages produces real, re-decodable PNG thumbnails ≤ maxDim") {
    val s = spark
    import s.implicits._
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, pngBytes(100, 60, 1), "image/png", 0L),
      MultimodalOps.MediaRecord(2L, pngBytes(16, 16, 2), "image/png", 0L), // already small
      MultimodalOps.MediaRecord(3L, Array[Byte](1, 2, 3), "image/png", 0L))
    val thumbs = MultimodalOps.resizeImages(recs.toDS(), maxDim = 32)
      .collect().map(t => t.doc_id -> t).toMap
    assert(!thumbs.contains(3L), "undecodable payload must be dropped")
    assert((thumbs(1L).thumb_w, thumbs(1L).thumb_h) == (32, 19)) // aspect kept
    assert((thumbs(2L).thumb_w, thumbs(2L).thumb_h) == (16, 16)) // never upscaled
    // the thumbnail is itself a valid PNG with the claimed dims
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(thumbs(1L).thumb))
    assert(back != null && back.getWidth == 32 && back.getHeight == 19)
  }

  // --- REAL audio codec path (javax.sound.sampled, bundled with the JDK) ---

  /** Deterministic 16-bit PCM square wave (±amp → RMS exactly amp),
    * encoded to real WAV or AIFF container bytes. */
  private def pcmBytes(rate: Float, channels: Int, frames: Int, amp: Short,
      aiff: Boolean = false): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
      true, aiff) // AIFF is big-endian, WAV little-endian
    val data = new Array[Byte](frames * channels * 2)
    for (f <- 0 until frames; c <- 0 until channels) {
      val s: Short = if (f % 2 == 0) amp else (-amp).toShort
      val off = (f * channels + c) * 2
      if (aiff) { data(off) = (s >> 8).toByte; data(off + 1) = s.toByte }
      else { data(off) = s.toByte; data(off + 1) = (s >> 8).toByte }
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      if (aiff) javax.sound.sampled.AudioFileFormat.Type.AIFF
      else javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodeAudio reads real WAV/AIFF bytes: rate, channels, frames, exact RMS") {
    val s = spark
    import s.implicits._
    // amp 16384: RMS = 16384 → 16384*1000/32768 = 500 milli exactly
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, pcmBytes(8000f, 1, 8000, 16384), "audio/wav", 0L),
      MultimodalOps.MediaRecord(2L, pcmBytes(44100f, 2, 4410, 8192), "audio/wav", 0L),
      MultimodalOps.MediaRecord(3L, pcmBytes(8000f, 1, 800, 16384, aiff = true), "audio/aiff", 0L),
      MultimodalOps.MediaRecord(4L, "definitely not audio".getBytes, "audio/wav", 0L))
    val got = MultimodalOps.decodeAudio(recs.toDS())
      .collect().map(f => f.doc_id -> f).toMap
    assert(got(1L) == MultimodalOps.AudioFeatures(1L, 8000, 1, 8000, 1000, 500, ok = true))
    assert(got(2L) == MultimodalOps.AudioFeatures(2L, 44100, 2, 4410, 100, 250, ok = true))
    assert(got(3L) == MultimodalOps.AudioFeatures(3L, 8000, 1, 800, 100, 500, ok = true),
      "big-endian AIFF frames must decode sample-exactly too")
    assert(got(4L) == MultimodalOps.AudioFeatures(4L, 0, 0, 0, 0, 0, ok = false),
      "corrupt payload must quarantine, not throw")
  }

  /** WAV container around explicit little-endian samples (interleaved
    * if multi-channel) — the interpolation tests need controlled
    * waveforms, not just the square wave. */
  private def wavOf(rate: Float, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
      true, false)
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = s.toByte; data(2 * i + 1) = (s >> 8).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt,
      (samples.length / channels).toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def shortsOf(pcm: Array[Byte]): Array[Short] =
    pcm.grouped(2).map(p => (((p(1) << 8) | (p(0) & 0xff))).toShort).toArray

  test("resampleAudio: exact linear interpolation, mono fold, quarantine") {
    val s = spark
    import s.implicits._
    val ramp = Array.tabulate(100)(i => (i * 4).toShort) // linear ramp
    val stereo = Array.tabulate(40)(i =>
      if (i % 2 == 0) 100.toShort else 300.toShort) // L=100 R=300
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, wavOf(8000f, 1, ramp), "audio/wav", 0L),
      MultimodalOps.MediaRecord(2L, wavOf(8000f, 2, stereo), "audio/wav", 0L),
      MultimodalOps.MediaRecord(3L, wavOf(16000f, 1, ramp), "audio/wav", 0L),
      MultimodalOps.MediaRecord(4L, "noise".getBytes, "audio/wav", 0L))
    val got = MultimodalOps.resampleAudio(recs.toDS(), 16000)
      .collect().map(r => r.doc_id -> r).toMap

    // 8k → 16k upsample of a linear ramp: even outputs hit sources,
    // odd outputs are exact midpoints
    val up = got(1L)
    assert(up.ok && up.sample_rate == 16000 && up.n_frames == 199)
    val upS = shortsOf(up.pcm)
    (0 until 99).foreach { t =>
      assert(upS(2 * t) == ramp(t))
      assert(upS(2 * t + 1) == ((ramp(t) + ramp(t + 1) + 1) / 2).toShort ||
        upS(2 * t + 1) == ((ramp(t) + ramp(t + 1)) / 2).toShort)
    }
    // stereo folds to per-frame channel average
    val st = got(2L)
    assert(st.ok && shortsOf(st.pcm).forall(_ == 200))
    // 16k → 16k is the identity
    val id = got(3L)
    assert(id.ok && id.n_frames == 100 && shortsOf(id.pcm).sameElements(ramp))
    assert(!got(4L).ok && got(4L).n_frames == 0,
      "corrupt payload must quarantine, not throw")
  }

  // --- REAL video frame path (RIFF/AVI MJPEG demux + JDK JPEG codec) ---

  test("muxMjpegAvi ∘ demuxAviFrames is the identity on the frame list") {
    val frames = Seq(
      Array.tabulate(301)(i => (i * 7).toByte),  // odd length → pad byte
      Array.tabulate(40)(i => (i + 1).toByte),
      Array.tabulate(1024)(i => (i * 3 + 1).toByte))
    val avi = MultimodalOps.muxMjpegAvi(frames, 64, 48, fps = 5)
    val back = MultimodalOps.demuxAviFrames(avi)
    assert(back.isDefined, "well-formed AVI must demux")
    val got = back.get.toSeq
    assert(got.map(_._1) == Seq(0, 1, 2))
    assert(got.map(_._2.toSeq) == frames.map(_.toSeq),
      "frame payloads must survive the container round trip byte-exactly")
    assert(MultimodalOps.demuxAviFrames("not an avi".getBytes).isEmpty)
    assert(MultimodalOps.demuxAviFrames(avi.take(30)).isEmpty ||
      MultimodalOps.demuxAviFrames(avi.take(30)).get.isEmpty,
      "truncated container must not throw")
  }

  test("decodeVideoFrames decodes an engineered MJPEG AVI: dims, count, luma") {
    val s = spark
    import s.implicits._
    val grays = Seq(40, 128, 250, 7)
    val jpegs = grays.map(g => MultimodalOps.grayJpegFrame(48, 32, g))
    val avi = MultimodalOps.muxMjpegAvi(jpegs, 48, 32)
    val recs = Seq(
      MultimodalOps.MediaRecord(1L, avi, "video/x-msvideo", avi.length.toLong),
      MultimodalOps.MediaRecord(2L, "plain text payload".getBytes, "text/plain", 18L))
    val got = MultimodalOps.decodeVideoFrames(recs.toDS(), stride = 1).collect()
    val v1 = got.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(v1.length == grays.length, "every muxed frame must decode")
    v1.zip(grays).foreach { case (f, g) =>
      assert(f.ok && f.width == 48 && f.height == 32)
      // uniform gray survives JPEG DC quantization to within ~2 levels
      assert(math.abs(f.mean_luma_milli - g * 1000L / 255) <= 8,
        s"luma ${f.mean_luma_milli} too far from ${g * 1000 / 255}")
    }
    val v2 = got.filter(_.doc_id == 2L)
    assert(v2.length == 1 && !v2.head.ok && v2.head.frame_idx == -1,
      "non-AVI payload must quarantine as one ok=false row")
  }

  test("decodeVideoFrames: stride sampling and per-frame corrupt quarantine") {
    val s = spark
    import s.implicits._
    val good = (0 until 6).map(g => MultimodalOps.grayJpegFrame(16, 16, g * 40))
    val mixed = good.updated(2, "corrupt jpeg bytes!".getBytes)
    val recs = Seq(
      MultimodalOps.MediaRecord(1L,
        MultimodalOps.muxMjpegAvi(good, 16, 16), "video/x-msvideo", 0L),
      MultimodalOps.MediaRecord(2L,
        MultimodalOps.muxMjpegAvi(mixed, 16, 16), "video/x-msvideo", 0L))
    val got = MultimodalOps.decodeVideoFrames(recs.toDS(), stride = 2).collect()
    val v1 = got.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(v1.map(_.frame_idx).toSeq == Seq(0, 2, 4), "stride=2 samples 0,2,4")
    assert(v1.forall(_.ok))
    val v2 = got.filter(_.doc_id == 2L).sortBy(_.frame_idx)
    assert(v2.map(f => f.frame_idx -> f.ok).toSeq ==
      Seq(0 -> true, 2 -> false, 4 -> true),
      "one corrupt frame quarantines alone; its siblings still decode")
  }

  test("video_framesample matches its closed-form frame plan") {
    val s = spark
    import s.implicits._
    val got = MultimodalOps.videoFrameSample(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val want = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id")).as[Long].collect().toSeq
      .filter(_ % 50 == 7).sorted.flatMap { id =>
        (0L until (2 + id % 4)).map(i =>
          (id, i, 32 + (id % 3) * 16, 24 + (id % 2) * 8))
      }
    assert(got == want)
  }

  test("frame sampling yields every 4th 256-byte frame per document") {
    val s = spark
    import s.implicits._
    val counts = MultimodalOps.multimodalFrameSample(spark, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val expected = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("len"))
      .as[(Long, Int)].collect().toMap.map { case (id, len) =>
        val nFrames = (len + 255) / 256
        id -> ((nFrames - 1) / 4 + 1).toLong
      }
    assert(counts == expected)
  }
}
