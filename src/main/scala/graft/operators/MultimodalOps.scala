package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat media as opaque `binary` columns
  * with typed metadata, and run decode / feature-extraction as
  * distributed per-partition batch transforms.
  *
  * IMAGES decode for real: [[decodeImages]]/[[resizeImages]] use
  * javax.imageio, whose PNG/JPEG/GIF/BMP codecs are part of the JDK —
  * spec-tested end-to-end on real PNG bytes. AUDIO decodes for real
  * too: [[decodeAudio]] parses WAV/AIFF/AU PCM via javax.sound.sampled
  * (also pure JDK) — spec-tested on real generated WAV bytes. VIDEO
  * decodes for real as well (since round 8): [[demuxAviFrames]] walks
  * RIFF/AVI containers byte-level and [[decodeVideoFrames]] decodes
  * MJPEG frames with the JDK's own JPEG codec — no external codecs
  * needed for exactly that format, which is why browsers/OpenCV write
  * it; [[muxMjpegAvi]] is the matching writer, and
  * [[videoFrameSample]] hash-checks the whole mux→demux→decode loop.
  * Compressed inter-frame codecs (H.264/HEVC) are genuinely absent
  * from the JDK and quarantine via `ok=false`, like MP3 on the audio
  * side. The fixture's payloads are text bytes, so the remaining
  * ORACLE-checked fixture queries use the deterministic fakes
  * (`fakeDecode`/`fakeResize`/`fakeFrames`).
  * Everything Spark-side — the binary column, the metadata schema, the
  * typed Dataset mapPartitions batch shape, partitioning — is real and
  * spec-tested in both paths.
  *
  * Scale: decode runs mapPartitions (one codec init per partition, not
  * per row); binary payloads never shuffle — metadata is extracted
  * first and the pipeline carries (id, features), not bytes.
  */
object MultimodalOps {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte],
      mime: String, n_bytes: Long)

  /** Decoded features (what a real image decode would yield). */
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int,
      n_channels: Int, mean_luma: Double)

  /** Fixture → media table: text bytes as the opaque payload. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .as[MediaRecord]
  }

  /** Oracle-checkable metadata projection: byte length + hex header
    * (first 8 bytes) — the "inspect without decoding" path. */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("int").as("n_bytes"),
        hex(substring(col("text"), 1, 8).cast("binary")).as("header_hex"),
        lit("text/plain").as("mime"))
      .orderBy("doc_id")

  /** STUB: deterministic fake decode standing in for an image codec.
    * Derives pseudo-features from the bytes so tests are stable.
    *
    * STATUS (round-16): this stub is the documented ASCII-FIXTURE TWIN
    * — the driver fixture's media payloads are text bytes, which no
    * real codec accepts, so `multimodal_decode`/`multimodal_resize`
    * keep the deterministic pseudo-features as the oracle-checkable
    * plumbing queries (schema, partitioning, batch shape). The REAL
    * codec paths are driver-gated by their own hash-green queries over
    * engineered binary payloads: `image_decode` ([[imageDecode]],
    * javax.imageio on lossless PNG), `audio_decode` ([[audioDecode]],
    * javax.sound on RIFF/WAVE PCM) and `video_framesample`
    * ([[videoFrameSample]], MJPEG AVI mux→demux→decode). */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Int, Double) = {
    // ??? <- real codec goes here (e.g. javax.imageio / ffmpeg bindings)
    val n = payload.length
    val sum = payload.foldLeft(0L)((a, b) => a + (b & 0xff))
    val width = 16 + (n % 64)
    val height = 16 + (sum % 64).toInt
    (width, height, 3, (sum % 256).toDouble / 255.0)
  }

  /** Distributed decode: typed mapPartitions over the media table —
    * batch-shaped (iterator in/out, one decoder init per partition). */
  def decodeFeatures(spark: SparkSession, sfDir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions { rows =>
      // per-partition init of the (stub) codec happens here, once
      rows.map { r =>
        val (w, h, c, luma) = fakeDecode(r.payload)
        MediaFeatures(r.doc_id, w, h, c, luma)
      }
    }
  }

  /** DataFrame view of decodeFeatures for the harness (rows-only check:
    * the stub decode is not SQL-expressible). */
  def multimodalDecode(spark: SparkSession, sfDir: String): DataFrame =
    decodeFeatures(spark, sfDir).toDF().orderBy("doc_id")

  /** A resized thumbnail: payload downsampled to ≤ ThumbBytes. */
  final case class MediaThumb(doc_id: Long, thumb_w: Int, thumb_h: Int,
      thumb: Array[Byte])

  private val ThumbBytes = 64

  /** STUB resize: deterministic stride subsampling of the payload —
    * the byte-level shape of a nearest-neighbor downscale. */
  private def fakeResize(payload: Array[Byte]): Array[Byte] = {
    // ??? <- real resize goes here (decode → scale → re-encode)
    val stride = math.max(1, payload.length / ThumbBytes)
    payload.indices.by(stride).take(ThumbBytes).map(payload).toArray
  }

  /** Distributed resize: typed mapPartitions, one (stub) codec init per
    * partition; emits small thumbnails — the only binary that flows
    * downstream (the full payload dies with the partition, so nothing
    * heavy ever shuffles). */
  def resizeThumbs(spark: SparkSession, sfDir: String): Dataset[MediaThumb] = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions { rows =>
      rows.map { r =>
        val t = fakeResize(r.payload)
        MediaThumb(r.doc_id, t.length, 1, t)
      }
    }
  }

  /** Harness view: thumbnail sizes + content hash (oracle-checked —
    * the stub arithmetic is SQL-expressible over the ASCII fixture).
    * md5() already yields a hex STRING; upper(), not hex(), matches
    * the oracle (hex(md5(..)) would re-encode the hex text itself). */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame =
    resizeThumbs(spark, sfDir).toDF()
      .select(col("doc_id"), col("thumb_w"), col("thumb_h"),
        upper(md5(col("thumb"))).as("thumb_md5"))
      .orderBy("doc_id")

  /** Features decoded from REAL pixels ([[decodeImages]]); integer
    * luma (‰ of full-scale) keeps the value deterministic. */
  final case class ImageFeatures(doc_id: Long, width: Int, height: Int,
      n_channels: Int, mean_luma_milli: Long, ok: Boolean)

  /** REAL image decode — javax.imageio, whose PNG/JPEG/GIF/BMP codecs
    * ship inside the JDK itself (no external libs; this is NOT a
    * stub). The fixture's media payloads are text bytes, so the
    * oracle-checked queries keep the deterministic fake; this is the
    * production decode path, spec-tested on real PNG bytes generated
    * in MultimodalSpec.
    *
    * Robustness: an undecodable payload yields an `ok=false` row
    * instead of throwing — at 100 TB corrupt blobs are a certainty and
    * one bad byte string must never kill a stage (callers route
    * `!ok` rows to a quarantine sink). Same mapPartitions batch shape
    * as the stub form: codecs initialize per partition, payload bytes
    * die with the partition. */
  def decodeImages(images: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      rows.map { r =>
        tryDecode(r.payload) match {
          case None => ImageFeatures(r.doc_id, 0, 0, 0, 0L, ok = false)
          case Some(img) =>
            // pixel extraction guarded too: a payload that DECODES but
            // throws in getRGB/color conversion (exotic ICC/raster via
            // a pluggable reader) must also quarantine, not kill the
            // stage — the invariant is per-ROW containment
            try {
              ImageFeatures(r.doc_id, img.getWidth, img.getHeight,
                img.getColorModel.getNumComponents, lumaMilli(img),
                ok = true)
            } catch {
              case _: Exception => ImageFeatures(r.doc_id, 0, 0, 0, 0L, ok = false)
            }
        }
      }
    }
  }

  /** Mean luma in ‰ of full scale (Rec.601 integer weights) — the one
    * pixel statistic both the image and video decode paths report. */
  private def lumaMilli(img: java.awt.image.BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)) / 1000
        x += 1
      }
      y += 1
    }
    val n = img.getWidth.toLong * img.getHeight
    if (n == 0) 0L else sum * 1000 / (n * 255)
  }

  /** Decode-or-quarantine, the single definition both image ops share.
    * MemoryCacheImageInputStream, NOT ImageIO.read(InputStream): the
    * bare-stream overload defaults to a DISK-backed cache — a temp
    * file created and deleted per image, pure wasted I/O on a path
    * that runs once per row at corpus scale. */
  private def tryDecode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))))
    catch { case _: Exception => None }

  /** REAL image resize: decode → aspect-preserving scale to ≤ maxDim →
    * PNG re-encode, all via the JDK codec. Undecodable payloads are
    * dropped (flatMap — the quarantine split belongs to
    * [[decodeImages]]'s ok flag). Thumbnails are the only binary that
    * flows downstream. */
  def resizeImages(images: Dataset[MediaRecord], maxDim: Int): Dataset[MediaThumb] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      rows.flatMap { r =>
        tryDecode(r.payload).flatMap { img =>
          try {
            val scale = math.min(1.0,
              maxDim.toDouble / math.max(img.getWidth, img.getHeight))
            val w = math.max(1, math.round(img.getWidth * scale).toInt)
            val h = math.max(1, math.round(img.getHeight * scale).toInt)
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            // scale SYNCHRONOUSLY on the BufferedImage: getScaledInstance
            // returns an async ToolkitImage whose production may not have
            // finished when drawImage(.., null observer) returns — a
            // nondeterministically blank thumbnail. Bilinear drawImage of
            // a BufferedImage source completes before returning.
            val g = out.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            Some(MediaThumb(r.doc_id, w, h, bos.toByteArray))
          } catch { case _: Exception => None }
        }
      }
    }
  }

  /** Features decoded from REAL audio frames ([[decodeAudio]]); RMS in
    * integer milli-units of full scale keeps the value deterministic. */
  final case class AudioFeatures(doc_id: Long, sample_rate: Int,
      n_channels: Int, n_frames: Long, duration_ms: Long, rms_milli: Long,
      ok: Boolean)

  /** REAL audio decode — javax.sound.sampled, whose WAV/AIFF/AU
    * parsers ship inside the JDK just like javax.imageio's PNG codec
    * (no external libs; this is NOT a stub). Parses the container
    * header for format metadata and reads the 16-bit signed PCM frames
    * for an exact integer sum-of-squares RMS. Compressed codecs
    * (MP3/AAC) are genuinely absent from the JDK and quarantine via
    * the same `ok=false` path as corrupt blobs — at 100 TB a bad byte
    * string must never kill a stage. Same mapPartitions batch shape as
    * [[decodeImages]]: parser init per partition, payload bytes die
    * with the partition. */
  def decodeAudio(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    val bad = (id: Long) => AudioFeatures(id, 0, 0, 0L, 0L, 0L, ok = false)
    media.mapPartitions { rows =>
      rows.map { r =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          try {
            val fmt = in.getFormat
            // only uncompressed 16-bit signed PCM is sample-exact here;
            // anything else quarantines rather than guessing
            if (fmt.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                fmt.getSampleSizeInBits != 16) bad(r.doc_id)
            else {
              val data = in.readAllBytes()
              var i = 0
              var sumSq = 0L // exact: s² ≤ 2³⁰, overflows only past 2³³ samples
              while (i + 1 < data.length) {
                val s =
                  if (fmt.isBigEndian)
                    ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                  else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
                sumSq += s.toLong * s
                i += 2
              }
              val nSamples = data.length / 2
              val frames = nSamples / fmt.getChannels
              val rate = fmt.getSampleRate.toInt
              val rms = if (nSamples == 0) 0L
                else math.round(
                  math.sqrt(sumSq.toDouble / nSamples) * 1000 / 32768)
              AudioFeatures(r.doc_id, rate, fmt.getChannels, frames,
                frames * 1000L / rate, rms, ok = true)
            }
          } finally in.close()
        } catch { case _: Exception => bad(r.doc_id) }
      }
    }
  }

  /** Output of [[resampleAudio]]: mono 16-bit little-endian PCM at the
    * target rate, with the post-resample RMS for a quick signal
    * check. */
  final case class ResampledAudio(doc_id: Long, sample_rate: Int,
      n_frames: Long, rms_milli: Long, pcm: Array[Byte], ok: Boolean)

  /** REAL audio RESAMPLE to mono at a target rate (default 16 kHz —
    * the standard speech-model input): channel-average to mono, then
    * LINEAR interpolation at exact rational sample positions
    * (srcPos = t·srcRate/dstRate via integer div/mod — no drifting
    * float accumulator). Deliberately NOT AudioSystem's converter:
    * javax rate conversion is service-provider-dependent (output
    * differs across JDK vendors), while a training pipeline needs the
    * same bytes from every worker — this loop is deterministic
    * arithmetic. Accepts exactly what [[decodeAudio]] accepts
    * (uncompressed 16-bit PCM; anything else quarantines with
    * ok=false), same mapPartitions batch shape, payload bytes never
    * shuffle except as the bounded mono output. */
  def resampleAudio(media: Dataset[MediaRecord],
      targetRate: Int = 16000): Dataset[ResampledAudio] = {
    import media.sparkSession.implicits._
    val bad = (id: Long) =>
      ResampledAudio(id, 0, 0L, 0L, Array.emptyByteArray, ok = false)
    media.mapPartitions { rows =>
      rows.map { r =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          try {
            val fmt = in.getFormat
            if (fmt.getEncoding !=
                  javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                fmt.getSampleSizeInBits != 16) bad(r.doc_id)
            else {
              val data = in.readAllBytes()
              val ch = fmt.getChannels
              val srcRate = fmt.getSampleRate.toInt
              val nFrames = data.length / (2 * ch)
              // mono fold: average channels per frame (int sum, /ch)
              val mono = new Array[Double](nFrames)
              var f = 0
              while (f < nFrames) {
                var s = 0L
                var c = 0
                while (c < ch) {
                  val i = (f * ch + c) * 2
                  val v =
                    if (fmt.isBigEndian)
                      ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                    else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
                  s += v; c += 1
                }
                mono(f) = s.toDouble / ch
                f += 1
              }
              if (nFrames == 0 || srcRate <= 0) bad(r.doc_id)
              else {
                val nOut =
                  ((nFrames - 1).toLong * targetRate / srcRate).toInt + 1
                val out = new Array[Byte](nOut * 2)
                var sumSq = 0.0
                var t = 0
                while (t < nOut) {
                  val num = t.toLong * srcRate
                  val i0 = (num / targetRate).toInt
                  val frac = (num % targetRate).toDouble / targetRate
                  val a = mono(i0)
                  val b = if (i0 + 1 < nFrames) mono(i0 + 1) else a
                  val v = math.round(a + (b - a) * frac).toInt
                    .max(Short.MinValue).min(Short.MaxValue)
                  out(2 * t) = (v & 0xff).toByte
                  out(2 * t + 1) = ((v >> 8) & 0xff).toByte
                  sumSq += v.toDouble * v
                  t += 1
                }
                val rms =
                  math.round(math.sqrt(sumSq / nOut) * 1000 / 32768)
                ResampledAudio(r.doc_id, targetRate, nOut.toLong, rms,
                  out, ok = true)
              }
            }
          } finally in.close()
        } catch { case _: Exception => bad(r.doc_id) }
      }
    }
  }

  /** One sampled frame of a "video" payload. */
  final case class MediaFrame(doc_id: Long, frame_idx: Int, frame_md5: String)

  private val FrameBytes = 256
  private val FrameStride = 4

  /** Deterministic FAKE frame chunking for the text-payload fixture
    * (the video sibling of [[fakeDecode]]/[[fakeResize]]): the payload
    * viewed as FrameBytes-sized frames, sampling every FrameStride-th.
    * The REAL frame path is [[demuxAviFrames]] + [[decodeVideoFrames]]
    * below — this fake exists only because the fixture's payloads are
    * text bytes, which the oracle can chunk in SQL. */
  private def fakeFrames(payload: Array[Byte]): Iterator[(Int, Array[Byte])] =
    payload.grouped(FrameBytes).zipWithIndex.collect {
      case (frame, i) if i % FrameStride == 0 => (i, frame)
    }

  /** Distributed frame sampling over the TEXT fixture: mapPartitions
    * flatMap — one input row fans out to its sampled frames
    * (iterator-in/iterator-out, so a long video never materializes all
    * frames at once). Uses the deterministic [[fakeFrames]] chunking
    * because the fixture payloads are text (same contract as the
    * oracle-checked fake decode/resize queries); real video payloads
    * go through [[decodeVideoFrames]], which shares this exact
    * Spark-side shape. */
  def frameSample(spark: SparkSession, sfDir: String): Dataset[MediaFrame] = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions { rows =>
      // per-partition digest instance (MessageDigest is not thread-safe
      // to share, cheap to clone per partition)
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        fakeFrames(r.payload).map { case (i, frame) =>
          val h = digest.digest(frame).map("%02X".format(_)).mkString
          MediaFrame(r.doc_id, i, h)
        }
      }
    }
  }

  /** Harness view (rows-only). */
  def multimodalFrameSample(spark: SparkSession, sfDir: String): DataFrame =
    frameSample(spark, sfDir).toDF().orderBy("doc_id", "frame_idx")

  // ---------------------------------------------------------------
  // REAL video frame decode: RIFF/AVI MJPEG demux + ImageIO JPEG
  // ---------------------------------------------------------------

  /** A decoded video frame's features ([[decodeVideoFrames]]). */
  final case class VideoFrame(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, mean_luma_milli: Long, ok: Boolean)

  /** REAL video frame demux — a pure byte-level RIFF/AVI chunk walk
    * (no external libs). Returns the video stream's frame payloads
    * (`##dc`/`##db` chunks inside the `movi` LIST, including `rec `
    * sub-grouping) in stream order, or None for payloads that are not
    * RIFF-AVI. For MJPEG AVIs each returned payload is a complete JPEG
    * image the JDK's own codec decodes — the format every
    * browser/OpenCV writes for exactly this dependency-free property.
    * RIFF layout: 4cc id, u32-LE size, payload, pad to even; `RIFF`
    * and `LIST` payloads begin with a 4cc form/list type. */
  private[graft] def demuxAviFrames(
      b: Array[Byte]): Option[Iterator[(Int, Array[Byte])]] = {
    def u32(o: Int): Long =
      (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def fourcc(o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (b.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      return None
    // frame chunk ids: 2-digit stream number + dc (compressed) / db
    // (uncompressed bitmap); a multi-stream file interleaves audio
    // (##wb) which the filter skips
    def isVideoChunk(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.substring(2) == "dc" || id.substring(2) == "db")
    val frames = List.newBuilder[Array[Byte]]
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var o = from
      while (o + 8 <= until) {
        val id = fourcc(o)
        val size = u32(o + 4)
        val end = o + 8 + size
        if (end > until || size < 0) return // truncated/corrupt: keep what we have
        if (id == "LIST" && size >= 4) {
          val listType = fourcc(o + 8)
          // descend into movi (the frame data) and its rec groupings;
          // hdrl/odml metadata lists carry no frames
          if (listType == "movi" || (inMovi && listType == "rec "))
            walk(o + 12, end.toInt, inMovi = true)
        } else if (inMovi && isVideoChunk(id) && size > 0) {
          frames += java.util.Arrays.copyOfRange(b, o + 8, end.toInt)
        }
        o = end.toInt + (size.toInt & 1) // word alignment
      }
    }
    try {
      walk(12, b.length, inMovi = false)
      Some(frames.result().iterator.zipWithIndex.map(_.swap))
    } catch { case _: Exception => None }
  }

  /** REAL distributed video frame decode — the production path that
    * replaces the former stub: RIFF/AVI demux ([[demuxAviFrames]]) →
    * sample every `stride`-th frame → JDK JPEG decode ([[tryDecode]])
    * → per-frame features. Non-AVI payloads quarantine as a single
    * ok=false row; a frame whose JPEG bytes fail to decode quarantines
    * as its own ok=false row (per-ROW containment, like every decode
    * path here). mapPartitions flatMap keeps the iterator discipline:
    * a long video's frames stream through, payload bytes die with the
    * partition, only fixed-width features flow downstream. */
  def decodeVideoFrames(media: Dataset[MediaRecord],
      stride: Int = FrameStride): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        demuxAviFrames(r.payload) match {
          case None =>
            Iterator.single(VideoFrame(r.doc_id, -1, 0, 0, 0L, ok = false))
          case Some(frames) =>
            frames.collect { case (i, jpeg) if i % stride == 0 =>
              tryDecode(jpeg) match {
                case Some(img) =>
                  try VideoFrame(r.doc_id, i, img.getWidth, img.getHeight,
                    lumaMilli(img), ok = true)
                  catch { case _: Exception =>
                    VideoFrame(r.doc_id, i, 0, 0, 0L, ok = false)
                  }
                case None => VideoFrame(r.doc_id, i, 0, 0, 0L, ok = false)
              }
            }
        }
      }
    }
  }

  /** MJPEG-in-AVI muxer — the write half of the video lifecycle (a
    * preview-reel / fixture writer): JPEG-encoded frames into a
    * well-formed single-stream AVI (`hdrl` with avih/strh/strf +
    * `movi` with `00dc` chunks), all little-endian, chunks padded to
    * word boundaries. JDK-only like the demux; [[demuxAviFrames]] ∘
    * this is the identity on the frame payload list, which is what
    * MultimodalSpec pins. */
  def muxMjpegAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
      fps: Int = 10): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    def wcc(s: String): Unit = bos.write(
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, 4)
    def chunk(id: String, payload: Array[Byte]): Unit = {
      wcc(id); w32(payload.length.toLong)
      bos.write(payload, 0, payload.length)
      if ((payload.length & 1) == 1) bos.write(0) // pad to even
    }
    def struct(n: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fill(bb); bb.array()
    }
    val maxBytes = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = struct(56) { bb =>
      bb.putInt(1000000 / math.max(1, fps)) // dwMicroSecPerFrame
      bb.putInt(maxBytes * fps)             // dwMaxBytesPerSec
      bb.putInt(0).putInt(0)                // padding, flags
      bb.putInt(frames.length)              // dwTotalFrames
      bb.putInt(0).putInt(1)                // initial frames, streams
      bb.putInt(maxBytes)                   // suggested buffer
      bb.putInt(width).putInt(height)       // dwWidth/dwHeight
    }
    val strh = struct(56) { bb =>
      bb.put("vidsMJPG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.putInt(0).putInt(0).putInt(0)      // flags, prio/lang, initial
      bb.putInt(1).putInt(math.max(1, fps)) // dwScale / dwRate
      bb.putInt(0).putInt(frames.length)    // start, length
      bb.putInt(maxBytes).putInt(-1)        // buffer, quality
      bb.putInt(0)                          // sample size
      bb.putShort(0).putShort(0)            // rcFrame left/top
      bb.putShort(width.toShort).putShort(height.toShort)
    }
    val strf = struct(40) { bb =>            // BITMAPINFOHEADER
      bb.putInt(40).putInt(width).putInt(height)
      bb.putShort(1).putShort(24)           // planes, bpp
      bb.put("MJPG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      bb.putInt(width * height * 3)         // biSizeImage
    }
    // ByteArrayOutputStream has no random access — record the offsets
    // of the placeholder sizes and patch them into the final array
    // (classic single-pass RIFF writer; a nested builder per LIST
    // would double-buffer the frame bytes)
    val patches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def list(listType: String)(body: => Unit): Unit = {
      wcc("LIST")
      val sizeAt = bos.size(); w32(0); wcc(listType)
      body
      patches += ((sizeAt, bos.size() - sizeAt - 4))
    }
    wcc("RIFF"); val riffSizeAt = bos.size(); w32(0); wcc("AVI ")
    list("hdrl") {
      chunk("avih", avih)
      list("strl") { chunk("strh", strh); chunk("strf", strf) }
    }
    list("movi") { frames.foreach(chunk("00dc", _)) }
    patches += ((riffSizeAt, bos.size() - riffSizeAt - 4))
    val out = bos.toByteArray
    patches.foreach { case (at, v) =>
      out(at) = (v & 0xff).toByte; out(at + 1) = ((v >> 8) & 0xff).toByte
      out(at + 2) = ((v >> 16) & 0xff).toByte
      out(at + 3) = ((v >> 24) & 0xff).toByte
    }
    out
  }

  /** JPEG-encode a deterministic uniform-gray frame — the fixture
    * renderer behind [[videoFrameSample]] (uniform pixels survive JPEG
    * DC quantization nearly exactly, keeping luma assertions tight). */
  private[graft] def grayJpegFrame(width: Int, height: Int,
      gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(gray, gray, gray))
    g.fillRect(0, 0, width, height)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** END-TO-END real video query, HASH-CHECKED: per selected doc,
    * render deterministic JPEG frames → mux into a real MJPEG AVI →
    * demux ([[demuxAviFrames]]) → decode every frame with the JDK JPEG
    * codec → report (frame_idx, width, height) from the DECODED
    * pixels. The frame count and dimensions are closed-form functions
    * of doc_id, so DuckDB replays the expected output without a codec
    * — any demux/mux/decode defect (lost frame, wrong chunk bounds,
    * mangled dims) breaks the hash. Luma is asserted in
    * MultimodalSpec (JPEG DC rounding keeps it within ±2‰, too
    * codec-dependent for an exact oracle). Subsampled 1-in-50 by
    * doc_id: the query's point is the codec path, not corpus scan
    * cost; stride=1 so every muxed frame must survive the round trip. */
  def videoFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 50 === 7)
      .as[Long]
    val media = ids.mapPartitions { part =>
      part.map { id =>
        val n = (2 + id % 4).toInt
        val w = (32 + (id % 3) * 16).toInt
        val h = (24 + (id % 2) * 8).toInt
        // gray chain pre-folds the id into the Mersenne field — the
        // identity for ids < 2³¹−1 (every driver fixture: the oracle
        // hash is untouched), but on full-range 64-bit fingerprint
        // doc_ids the raw id·31 wraps int64 NEGATIVE and the AWT Color
        // ctor throws on the negative gray (caught by the round-15
        // 10× real corpus — the same family as round-14's mix_sample/
        // shard_plan ANSI overflow, in silent JVM arithmetic)
        val idF = Math.floorMod(id ^ (id >> 31), 2147483647L)
        val frames = (0 until n).map(i =>
          grayJpegFrame(w, h, ((idF * 31 + i * 17) % 256).toInt))
        MediaRecord(id, muxMjpegAvi(frames, w, h), "video/x-msvideo",
          frames.map(_.length.toLong).sum)
      }
    }
    decodeVideoFrames(media, stride = 1)
      .filter(col("ok"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy("doc_id", "frame_idx")
  }

  /** PNG-encode a deterministic uniform-gray image — the fixture
    * renderer behind [[imageDecode]]. PNG is LOSSLESS, so unlike the
    * JPEG frames the decoded pixels are bit-equal to the rendered ones
    * and the mean luma is exactly closed-form: for r=g=b=g the Rec.601
    * integer luma is (299+587+114)·g/1000 = g per pixel, so
    * mean_luma_milli = g·1000 DIV 255 independent of the dimensions. */
  private[graft] def grayPng(width: Int, height: Int,
      gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(gray, gray, gray))
    g.fillRect(0, 0, width, height)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Handcrafted canonical RIFF/WAVE container around 16-bit signed
    * little-endian PCM — the fixture muxer behind [[audioDecode]]
    * (the [[muxMjpegAvi]] convention: build the container byte for
    * byte so the REAL JDK parser is exercised on real bytes). */
  private[graft] def wavPcm16(samples: Array[Short], rate: Int,
      channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(channels.toShort)
    bb.putInt(rate); bb.putInt(rate * channels * 2)
    bb.putShort((channels * 2).toShort); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** END-TO-END real IMAGE decode query, HASH-CHECKED (round-16: the
    * [[videoFrameSample]] recipe for the javax.imageio path, which was
    * spec-only — a codec-path regression surfaced in sbt test but
    * never in the per-round CORRECTNESS artifact): per selected doc,
    * render a deterministic uniform-gray PNG → decode with the REAL
    * JDK codec ([[decodeImages]]) → report dimensions, channel count
    * and exact mean luma from the DECODED pixels. PNG is lossless, so
    * every reported value is a closed-form function of doc_id and
    * DuckDB replays the expected output without a codec — a decode
    * defect (mangled dims, wrong raster, luma drift) breaks the hash.
    * Subsampled 1-in-50: the point is the codec path, not scan cost.
    * The id fold into the Mersenne field is the [[videoFrameSample]]
    * guard (full-range 64-bit ids stay in [0, 2³¹) for the gray). */
  def imageDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 50 === 11)
      .as[Long]
    val media = ids.mapPartitions { part =>
      part.map { id =>
        val w = (16 + (id % 5) * 8).toInt
        val h = (12 + (id % 3) * 8).toInt
        val idF = Math.floorMod(id ^ (id >> 31), 2147483647L)
        val g = ((idF * 37 + 11) % 256).toInt
        val png = grayPng(w, h, g)
        MediaRecord(id, png, "image/png", png.length.toLong)
      }
    }
    decodeImages(media).filter(col("ok"))
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_channels").cast("long").as("n_channels"),
        col("mean_luma_milli"))
      .orderBy("doc_id")
  }

  /** END-TO-END real AUDIO decode query, HASH-CHECKED (the
    * [[imageDecode]] twin for the javax.sound path): per selected doc,
    * synthesize a deterministic ±A square wave, mux it into a real
    * RIFF/WAVE container ([[wavPcm16]]) → parse + decode with the REAL
    * JDK parser ([[decodeAudio]]) → report format metadata and the
    * exact integer RMS from the DECODED samples. PCM is lossless and
    * the square wave's RMS is exactly A, so every value is closed-form
    * (rms_milli = round(A·1000/32768), computed in exact doubles —
    * A·1000 is integer-exact and /32768 a power-of-two scale) and
    * DuckDB replays the output without an audio stack. A header-parse
    * or sample-decode defect (wrong rate, byte-order flip, truncated
    * data chunk) breaks the hash. */
  def audioDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 50 === 23)
      .as[Long]
    val media = ids.mapPartitions { part =>
      part.map { id =>
        val rate = (8000 + (id % 3) * 4000).toInt
        val n = (400 + (id % 5) * 80).toInt
        val idF = Math.floorMod(id ^ (id >> 31), 2147483647L)
        val amp = (1000 + idF % 20000).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (if (i % 2 == 0) amp else -amp).toShort)
        val wav = wavPcm16(samples, rate)
        MediaRecord(id, wav, "audio/wav", wav.length.toLong)
      }
    }
    decodeAudio(media).filter(col("ok"))
      .select(col("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_channels").cast("long").as("n_channels"),
        col("n_frames"), col("duration_ms"), col("rms_milli"))
      .orderBy("doc_id")
  }

  /** END-TO-END real image RESIZE, HASH-CHECKED (round-16 verdict item
    * 3: the decode halves got CORRECTNESS rows but a resize regression
    * still only surfaced in sbt test): per selected doc, render a
    * uniform-gray PNG WIDER than the thumbnail cap → [[resizeImages]]
    * (real bilinear drawImage + PNG re-encode) → re-decode the emitted
    * THUMB BYTES with the real codec ([[decodeImages]]) and report its
    * dims + exact mean luma. Bilinear interpolation of a CONSTANT
    * image is that constant at every output pixel and PNG is lossless,
    * so the decoded thumb's luma equals the source gray exactly, and
    * the aspect-preserving dims are closed-form per doc_id: the source
    * is always landscape (w0 ∈ [40,72] > h0 ∈ [12,28]) and wider than
    * maxDim=24, so w = 24 and h = round(h0·24/w0) (the Scala
    * math.round and DuckDB ROUND agree — the value is never a
    * negative half). A resize defect — wrong scale rounding, blank
    * async thumbnail, luma drift through the interpolate+re-encode
    * loop — breaks the hash. */
  def imageResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 50 === 31)
      .as[Long]
    val media = ids.mapPartitions { part =>
      part.map { id =>
        val w = (40 + (id % 5) * 8).toInt
        val h = (12 + (id % 3) * 8).toInt
        val idF = Math.floorMod(id ^ (id >> 31), 2147483647L)
        val g = ((idF * 37 + 11) % 256).toInt
        val png = grayPng(w, h, g)
        MediaRecord(id, png, "image/png", png.length.toLong)
      }
    }
    val thumbs = resizeImages(media, maxDim = 24)
      .map(t => MediaRecord(t.doc_id, t.thumb, "image/png",
        t.thumb.length.toLong))
    decodeImages(thumbs).filter(col("ok"))
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_channels").cast("long").as("n_channels"),
        col("mean_luma_milli"))
      .orderBy("doc_id")
  }

  /** END-TO-END real audio RESAMPLE, HASH-CHECKED (the [[imageResize]]
    * twin for [[resampleAudio]]): per selected doc, synthesize a
    * 0/A pulse wave (NOT ±A — every interpolated sample stays
    * non-negative, where Scala's half-up and DuckDB's half-away
    * rounding agree), mux into a real RIFF/WAVE ([[wavPcm16]]) →
    * resample to 16 kHz with the deterministic linear-interp loop →
    * recompute the EXACT integer Σv² from the emitted PCM BYTES. The
    * oracle replays the interpolation sample by sample with the same
    * operation order (a + (b−a)·frac at rational positions, every
    * partial Σv² an exact-in-double integer, so summation order
    * cannot matter), making the output byte stream itself the checked
    * artifact — a rate-math, interpolation or byte-packing defect
    * breaks the hash. rms_milli stays spec-gated (MultimodalSpec): it
    * is a deterministic function of the checked Σv², and its √/round
    * could land on a half-ulp boundary no cross-engine replay should
    * be asked to hit. */
  def audioResample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id")).filter(col("doc_id") % 50 === 37)
      .as[Long]
    val media = ids.mapPartitions { part =>
      part.map { id =>
        val rate = (8000 + (id % 3) * 4000).toInt
        val n = (400 + (id % 5) * 80).toInt
        val idF = Math.floorMod(id ^ (id >> 31), 2147483647L)
        val amp = (1000 + idF % 20000).toInt
        val samples = Array.tabulate[Short](n)(i =>
          (if (i % 2 == 0) amp else 0).toShort)
        val wav = wavPcm16(samples, rate)
        MediaRecord(id, wav, "audio/wav", wav.length.toLong)
      }
    }
    resampleAudio(media).filter(_.ok)
      .map { r =>
        var i = 0
        var s = 0L
        while (i + 1 < r.pcm.length) {
          val v = ((r.pcm(i + 1) << 8) | (r.pcm(i) & 0xff)).toShort
          s += v.toLong * v
          i += 2
        }
        (r.doc_id, r.sample_rate.toLong, r.n_frames, s)
      }
      .toDF("doc_id", "sample_rate", "n_frames", "sum_sq")
      .orderBy("doc_id")
  }
}
