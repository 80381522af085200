package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream,
  AudioSystem}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, batch feature extraction via
  * mapPartitions (the Scala analogue of `mapInPandas` — batched,
  * schema-declared, partition-parallel).
  *
  * IMAGE decode is REAL: payloads whose magic bytes identify a
  * PNG/JPEG/BMP/GIF are decoded with the JDK's built-in `javax.imageio`
  * (no native codecs required) into width/height/luma statistics, and
  * `resize` resamples actual pixels. AUDIO decode is REAL for WAV/PCM:
  * `javax.sound.sampled` parses the RIFF container and streams the
  * frames into duration/RMS/zero-crossing features. Other payloads
  * (and video, for which the container has no codecs) fall back to
  * `decodeStub`'s deterministic byte features, so the batch plumbing
  * stays exercisable on any binary column.
  */
object Multimodal {

  // in-memory decode of small byte arrays — the default disk-backed
  // ImageIO cache would create a temp file per task invocation
  ImageIO.setUseCache(false)

  /** Canonical multimodal schema: payload + typed metadata struct. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))),
      nullable = true)))

  /** Wrap any table with a synthetic binary payload column (UTF-8 bytes
    * of a source column) — used by tests/queries since the driver data
    * has no real media; the downstream operators only see `binary`. */
  def synthesize(df: DataFrame, id: String, src: String): DataFrame =
    df.select(col(id).cast("long").as("media_id"),
      encode(col(src), "UTF-8").as("payload"),
      struct(lit("application/octet-stream").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** Wrap any table with REAL PNG payloads: each row's source text is
    * rendered into a small deterministic RGB image (text bytes cycled
    * through the pixel channels) and PNG-encoded in the executors. This
    * exercises the genuine decode path end-to-end — the driver data has
    * no media, but these payloads are real images, not pseudo-binary.
    * Downstream stats are decode-side, so they are stable even if a JDK
    * swap re-encodes the identical pixels differently (PNG is lossless). */
  def synthesizeImages(df: DataFrame, id: String, src: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long").as("media_id"),
        encode(col(src), "UTF-8").as("__bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (mid, bytes) =>
        val n = if (bytes == null) 0 else bytes.length
        val w = 4 + (n % 9)  // 4..12
        val h = 3 + (n % 6)  // 3..8
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var i = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            def b(k: Int): Int = if (n == 0) 0 else bytes((k + i) % n) & 0xff
            img.setRGB(x, y, (b(0) << 16) | (b(1) << 8) | b(2))
            i += 3; x += 1
          }
          y += 1
        }
        val baos = new ByteArrayOutputStream()
        ImageIO.write(img, "png", baos)
        (mid, baos.toByteArray, w, h)
      })
      .toDF("media_id", "payload", "__w", "__h")
      .select(col("media_id"), col("payload"),
        struct(lit("image/png").as("mime"), col("__w").as("width"),
          col("__h").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta"))
  }

  /** Wrap any table with REAL WAV payloads: a deterministic PCM-16
    * mono waveform is synthesized per row from pure integer arithmetic
    * on the id — sample `i` of row `id` is
    * `((id·31 + i·17) mod 256 − 128)·256`, over
    * `n = 800 + id mod 800` samples at 8 kHz — and encoded through the
    * JDK's `javax.sound.sampled` into a standard RIFF/WAVE container in
    * the executors. The formula (not the bytes) is the contract: any
    * engine can recompute the expected decoded features with plain
    * integer SQL, which is what makes `q_mm_audio` oracle-checkable
    * while the payload round-trips through a REAL audio codec path. */
  def synthesizeAudio(df: DataFrame, id: String,
                      sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long").as("media_id"))
      .as[Long]
      .mapPartitions(_.map { mid =>
        val n = (800 + math.floorMod(mid, 800L)).toInt
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val v = ((math.floorMod(mid * 31 + i.toLong * 17, 256L)).toInt
            - 128) * 256
          pcm(2 * i) = (v & 0xff).toByte // little-endian 16-bit
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new ByteArrayInputStream(pcm), fmt, n.toLong)
        val baos = new ByteArrayOutputStream()
        AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
        (mid, baos.toByteArray, n.toLong * 1000L / sampleRate)
      })
      .toDF("media_id", "payload", "__dur")
      .select(col("media_id"), col("payload"),
        struct(lit("audio/wav").as("mime"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          col("__dur").as("duration_ms")).as("meta"))
  }

  /** Magic-byte sniff for RIFF/WAVE audio containers. */
  def sniffAudioMime(bytes: Array[Byte]): Option[String] =
    if (bytes != null && bytes.length >= 12 &&
        bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
        bytes(10) == 'V' && bytes(11) == 'E') Some("audio/wav")
    else None

  /** Decoded audio features — all integer-exact except `rms`, whose
    * sum-of-squares accumulates in a Long (exact for any realistic
    * clip) before the single double divide+sqrt, so the value is
    * bit-reproducible by any engine doing the same integer sum. */
  case class AudioFeat(sampleRate: Int, channels: Int, nSamples: Long,
                       durationMs: Long, rms: Double, zcr: Long)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/PCM —
    * no native codecs needed, same posture as the imageio image path).
    * Parses the container header for format, streams the frames, and
    * computes duration, RMS, and zero-crossing rate over channel 0.
    * None for non-WAV, compressed, or non-16-bit payloads — callers
    * fall back to the stub byte features. */
  def decodeAudio(bytes: Array[Byte]): Option[AudioFeat] =
    sniffAudioMime(bytes).flatMap { _ =>
      try {
        val ais = AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        val ok = fmt.getEncoding ==
          AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
          fmt.getSampleRate == fmt.getSampleRate.toInt.toFloat
        if (!ok) None
        else {
          val data = ais.readAllBytes()
          val ch = fmt.getChannels
          val stride = 2 * ch
          val frames = data.length / stride
          if (frames == 0) None
          else {
            var sumSq = 0L
            var zcr = 0L
            var prevNonNeg = true
            var f = 0
            while (f < frames) {
              val lo = data(f * stride) & 0xff
              val hi = data(f * stride + 1)
              val s = (hi << 8) | lo // sign-extends through hi
              sumSq += s.toLong * s
              val nonNeg = s >= 0
              if (f > 0 && nonNeg != prevNonNeg) zcr += 1
              prevNonNeg = nonNeg
              f += 1
            }
            val sr = fmt.getSampleRate.toInt
            Some(AudioFeat(sr, ch, frames, frames.toLong * 1000L / sr,
              math.sqrt(sumSq.toDouble / frames), zcr))
          }
        }
      } catch { case NonFatal(_) => None }
    }

  /** Batch audio feature extraction: mapPartitions over the binary
    * payloads — decoded WAVs get real format/duration/RMS/ZCR columns
    * with `decoded=true`; everything else keeps null features so the
    * schema is fixed regardless of content. Partition-parallel, no
    * driver collection. */
  def extractAudioFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeAudio(bytes) match {
          case Some(a) =>
            (id, Some(a.sampleRate), Some(a.channels), Some(a.nSamples),
              Some(a.durationMs), Some(a.rms), Some(a.zcr), true)
          case None =>
            (id, Option.empty[Int], Option.empty[Int], Option.empty[Long],
              Option.empty[Long], Option.empty[Double], Option.empty[Long],
              false)
        }
      })
      .toDF("media_id", "sample_rate", "channels", "n_samples",
        "duration_ms", "rms", "zcr", "decoded")
  }

  /** Motion-JPEG sniff: a JPEG SOI at offset 0 AND a second SOI after
    * the first frame's EOI. One JPEG is an image; two or more
    * concatenated are an MJPEG stream — the classic codec-free video
    * container (each frame is an independent baseline JPEG), which the
    * JDK CAN decode frame-by-frame with `ImageIO`. */
  def sniffMjpeg(bytes: Array[Byte]): Boolean = {
    if (bytes == null || bytes.length < 6) return false
    def u(k: Int) = bytes(k) & 0xff
    if (!(u(0) == 0xff && u(1) == 0xd8 && u(2) == 0xff)) return false
    var j = 2
    while (j + 1 < bytes.length) {
      if (u(j) == 0xff && u(j + 1) == 0xd9) {
        // EOI found — is there another SOI after it?
        var k = j + 2
        while (k + 2 < bytes.length) {
          if (u(k) == 0xff && u(k + 1) == 0xd8 && u(k + 2) == 0xff)
            return true
          k += 1
        }
        return false
      }
      j += 1
    }
    false
  }

  /** Demux a concatenated-JPEG (MJPEG) stream into its frames: each
    * frame spans an SOI marker (FFD8FF) to its EOI (FFD9) — exactly how
    * real MJPEG demuxers delimit frames (JPEG entropy coding
    * byte-stuffs 0xFF as FF00, so EOI cannot occur inside scan data).
    * A truncated tail frame (SOI with no EOI) is dropped. */
  def splitMjpegFrames(bytes: Array[Byte]): Vector[Array[Byte]] = {
    if (bytes == null) return Vector.empty
    val out = Vector.newBuilder[Array[Byte]]
    val n = bytes.length
    def u(k: Int) = bytes(k) & 0xff
    var i = 0
    while (i + 3 < n) {
      if (u(i) == 0xff && u(i + 1) == 0xd8 && u(i + 2) == 0xff) {
        var j = i + 2
        var end = -1
        while (end < 0 && j + 1 < n) {
          if (u(j) == 0xff && u(j + 1) == 0xd9) end = j + 2
          j += 1
        }
        if (end < 0) i = n
        else {
          out += java.util.Arrays.copyOfRange(bytes, i, end)
          i = end
        }
      } else i += 1
    }
    out.result()
  }

  /** Wrap any table with REAL MJPEG payloads: per row,
    * `2 + id mod 3` deterministic frames are rendered (source text
    * bytes cycled through the pixel channels, frame index mixed in so
    * consecutive frames differ) and JPEG-encoded in the executors,
    * then concatenated — a genuine motion-JPEG stream, decodable by
    * any MJPEG consumer. 25 fps nominal (40 ms/frame) in the meta. */
  def synthesizeVideo(df: DataFrame, id: String, src: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long").as("media_id"),
        encode(col(src), "UTF-8").as("__bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (mid, bytes) =>
        val n = if (bytes == null) 0 else bytes.length
        val nFrames = (2 + math.floorMod(mid, 3L)).toInt
        val w = 8 + (n % 5)  // 8..12
        val h = 6 + (n % 4)  // 6..9
        val baos = new ByteArrayOutputStream()
        var f = 0
        while (f < nFrames) {
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var i = f * 7 // frame offset: consecutive frames differ
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              def b(k: Int): Int =
                if (n == 0) (f * 31 + k) & 0xff else bytes((k + i) % n) & 0xff
              img.setRGB(x, y, (b(0) << 16) | (b(1) << 8) | b(2))
              i += 3; x += 1
            }
            y += 1
          }
          ImageIO.write(img, "jpg", baos)
          f += 1
        }
        (mid, baos.toByteArray, w, h, nFrames.toLong * 40L)
      })
      .toDF("media_id", "payload", "__w", "__h", "__dur")
      .select(col("media_id"), col("payload"),
        struct(lit("video/x-motion-jpeg").as("mime"),
          col("__w").as("width"), col("__h").as("height"),
          col("__dur").as("duration_ms")).as("meta"))
  }

  /** Batch VIDEO feature extraction: payloads sniffed as MJPEG are
    * demuxed and every frame REALLY decoded (`ImageIO`, no native
    * codecs); per media the output carries frame count, dimensions,
    * mean luma over all frames, and a motion proxy (mean absolute
    * difference of consecutive per-frame luma means — flat for a
    * static clip, large for scene changes). Non-MJPEG payloads keep
    * null features with `decoded=false`, so the operator is total over
    * any binary column. Partition-parallel mapPartitions, same batch
    * shape as the image/audio paths. */
  def extractVideoFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val frames =
          if (sniffMjpeg(bytes))
            splitMjpegFrames(bytes).flatMap(fb =>
              try Option(ImageIO.read(new ByteArrayInputStream(fb)))
              catch { case NonFatal(_) => None })
          else Vector.empty
        if (frames.isEmpty) {
          (id, Option.empty[Int], Option.empty[Int], Option.empty[Int],
            Option.empty[Double], Option.empty[Double], false)
        } else {
          val lumas = frames.map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            var s = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { s += luma(img.getRGB(x, y)); x += 1 }
              y += 1
            }
            s / (w * h)
          }
          val motion =
            if (lumas.size < 2) 0.0
            else lumas.sliding(2).map(p => math.abs(p(1) - p(0))).sum /
              (lumas.size - 1)
          (id, Some(frames.size), Some(frames.head.getWidth),
            Some(frames.head.getHeight),
            Some(lumas.sum / lumas.size), Some(motion), true)
        }
      })
      .toDF("media_id", "n_frames", "width", "height", "luma_mean",
        "motion", "decoded")
  }

  /** Magic-byte MIME sniff for the formats `javax.imageio` ships decoders
    * for. Sniffing the payload (not trusting `meta.mime`) is the 100 TB
    * posture: crawled corpora lie about content types. */
  def sniffImageMime(bytes: Array[Byte]): Option[String] = {
    if (bytes == null || bytes.length < 4) None
    else {
      val b = bytes
      def u(i: Int) = b(i) & 0xff
      if (u(0) == 0x89 && u(1) == 0x50 && u(2) == 0x4e && u(3) == 0x47)
        Some("image/png")
      else if (u(0) == 0xff && u(1) == 0xd8 && u(2) == 0xff)
        Some("image/jpeg")
      else if (u(0) == 0x42 && u(1) == 0x4d) Some("image/bmp")
      else if (u(0) == 0x47 && u(1) == 0x49 && u(2) == 0x46 && u(3) == 0x38)
        Some("image/gif")
      else None
    }
  }

  /** Real image decode (JDK `ImageIO`, no native codecs): None for
    * non-image or corrupt payloads — callers fall back to the stub. */
  def decodeImage(bytes: Array[Byte]): Option[BufferedImage] =
    sniffImageMime(bytes).flatMap { _ =>
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case NonFatal(_) => None }
    }

  /** Rec.601 luma of a packed ARGB pixel — the deterministic scalar the
    * pixel statistics are computed over. */
  private def luma(argb: Int): Double = {
    val r = (argb >> 16) & 0xff
    val g = (argb >> 8) & 0xff
    val bl = argb & 0xff
    0.299 * r + 0.587 * g + 0.114 * bl
  }

  /** STUB decoder: deterministic pseudo-features from raw bytes (byte
    * length, simple moments, head/tail hash). The fallback for payloads
    * that are neither decodable images nor WAV audio (video has no
    * codecs in this container) — the signature and batch shape are the
    * real contract. */
  private def decodeStub(bytes: Array[Byte]): Array[Double] = {
    if (bytes == null || bytes.isEmpty) Array(0.0, 0.0, 0.0, 0.0)
    else {
      val n = bytes.length
      var s = 0.0; var s2 = 0.0
      var i = 0
      while (i < n) { val v = bytes(i) & 0xff; s += v; s2 += v * v; i += 1 }
      val mean = s / n
      Array(n.toDouble, mean, math.sqrt(math.max(s2 / n - mean * mean, 0)),
        (bytes(0) & 0xff).toDouble)
    }
  }

  /** Batch feature extraction: mapPartitions over the binary payloads,
    * emitting a fixed-width feature row per media row. Partition-
    * parallel; no driver collection.
    *
    * Image payloads (sniffed by magic bytes) get REAL decoded features —
    * pixel dimensions and luma mean/std from `ImageIO` — with
    * `decoded=true`; everything else keeps the stub byte features with
    * null image columns, so the schema is fixed regardless of content. */
  def extractFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val f = decodeStub(bytes)
        decodeImage(bytes) match {
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            var s = 0.0; var s2 = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val l = luma(img.getRGB(x, y)); s += l; s2 += l * l; x += 1
              }
              y += 1
            }
            val n = (w * h).toDouble
            val mean = s / n
            (id, f(0), f(1), f(2), f(3), Some(w), Some(h), Some(mean),
              Some(math.sqrt(math.max(s2 / n - mean * mean, 0))), true)
          case None =>
            (id, f(0), f(1), f(2), f(3), Option.empty[Int],
              Option.empty[Int], Option.empty[Double],
              Option.empty[Double], false)
        }
      })
      .toDF("media_id", "byte_len", "byte_mean", "byte_std", "head_byte",
        "width", "height", "px_mean", "px_std", "decoded")
  }

  /** Nearest-neighbor pixel resample — deliberately manual (no
    * `Graphics2D` rendering pipeline) so the result is bit-deterministic
    * across JVMs and headless configs. */
  private def resamplePixels(img: BufferedImage, w: Int, h: Int)
      : BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val (sw, sh) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      val sy = math.min(y * sh / h, sh - 1)
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB(math.min(x * sw / w, sw - 1), sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Resize: payload → payload' with the target dimensions recorded in
    * meta. Image payloads are REALLY resampled (nearest-neighbor over
    * decoded pixels, re-encoded as PNG, mime updated); non-image payloads
    * keep the deterministic stride-subsample stand-in so the operator is
    * total over any binary column. Batched mapPartitions either way. */
  def resize(df: DataFrame, width: Int, height: Int): DataFrame = {
    // fail at plan-build time, not as a BufferedImage constructor throw
    // deep inside an executor task (only the image path would hit it)
    require(width > 0 && height > 0,
      s"resize dimensions must be positive, got ${width}x$height")
    val spark = df.sparkSession
    import spark.implicits._
    val target = width * height
    df.select(col("media_id"), col("payload"), col("meta.mime").as("__mime"),
        col("meta.duration_ms").as("__dur"))
      .as[(Long, Array[Byte], String, Option[Long])]
      .mapPartitions(_.map { case (id, bytes, mime, dur) =>
        decodeImage(bytes) match {
          case Some(img) =>
            val baos = new ByteArrayOutputStream()
            ImageIO.write(resamplePixels(img, width, height), "png", baos)
            (id, baos.toByteArray, "image/png", dur)
          case None =>
            val out =
              if (bytes == null || bytes.isEmpty) Array.empty[Byte]
              else if (bytes.length <= target) bytes
              else {
                val stride = bytes.length.toDouble / target
                Array.tabulate(target)(i => bytes((i * stride).toInt))
              }
            (id, out, mime, dur)
        }
      })
      .toDF("media_id", "payload", "__mime", "__dur")
      .select(col("media_id"), col("payload"),
        struct(col("__mime").as("mime"), lit(width).as("width"),
          lit(height).as("height"), col("__dur").as("duration_ms"))
          .as("meta"))
  }

  /** Frame sampling plumbing: slice the payload into `frames` fixed
    * windows (a video decoder would substitute real frame extraction);
    * output one row per (media_id, frame_idx, frame_bytes). */
  def sampleFrames(df: DataFrame, frames: Int): DataFrame = {
    val n = length(col("payload"))
    val step = greatest((n / frames).cast("int"), lit(1))
    val idx = sequence(lit(0), lit(frames - 1))
    df.select(col("media_id"), explode(idx).as("frame_idx"),
        col("payload"), step.as("__step"))
      .withColumn("frame_bytes",
        col("payload").substr((col("frame_idx") * col("__step") + 1)
          .cast("int"), lit(16)))
      .drop("payload", "__step")
      .filter(length(col("frame_bytes")) > 0)
  }
}
