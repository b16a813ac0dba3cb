package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize /
  * frame-sample operators.
  *
  * Every operator is a typed row-local `map`, `filter` or `flatMap` over
  * [[Media]] rows: partition-local, no shuffle, a deterministic output
  * schema. The IMAGE path runs a real codec: [[withPngPayload]] encodes
  * deterministic grayscale PNGs and [[decodeImageFeatures]] decodes them
  * with the JDK's `javax.imageio` (graded end-to-end by `mm_decode_real`).
  * The AUDIO path too: [[withWavPayload]] encodes deterministic 16-bit PCM
  * into RIFF/WAVE and [[decodeAudioFeatures]] decodes it with the JDK's
  * `javax.sound.sampled` (graded by `mm_audio_real`). Only the VIDEO codec
  * remains a STUB (`decodeBytes` — no video library ships with the JDK);
  * swapping in a real one changes that ONE function.
  */
object Multimodal {

  case class Media(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      mean_byte: Double, hist0: Int, hist1: Int, hist2: Int, hist3: Int)

  case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Derive a deterministic media table from `documents` (payload = UTF-8
    * bytes of text; kind by doc_id mod 3) — no external data, per the
    * sandbox rule; at production scale this is `spark.read` of real blobs.
    */
  def fromDocuments(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        (pmod(col("doc_id"), lit(64)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod(col("doc_id"), lit(10)) + 1).cast("int").as("n_frames"))
      .as[Media]
  }

  /** STUB decoder for audio/video — ??? in spirit: a real build links a
    * codec here. Deterministic fake: the "decoded samples" are the payload
    * bytes. Images use the REAL codec path below instead.
    */
  private def decodeBytes(payload: Array[Byte]): Array[Int] =
    payload.map(b => b & 0xff)

  /** Mean and 4-bin histogram (bins of 64) of 8-bit samples — the feature
    * pair both [[extractFeatures]] and [[decodeImageFeatures]] report.
    */
  private def meanHist(samples: Array[Int]): (Double, Array[Int]) = {
    val hist = new Array[Int](4)
    samples.foreach(s => hist(s / 64) += 1)
    val n = samples.length
    (if (n == 0) 0.0 else samples.map(_.toLong).sum.toDouble / n, hist)
  }

  /** Deterministic generative pixel — the fixture contract shared with the
    * DuckDB oracle. The oracle cannot decode PNG, so it recomputes expected
    * features from THIS formula; the Spark side goes formula → PNG encode →
    * `ImageIO.read` → pixels → features, so a green `mm_decode_real` row
    * proves the real codec round-trips losslessly (8-bit grayscale PNG is
    * lossless by spec).
    */
  def pixelAt(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** `media` with the payload of every `kind` row replaced by `encode(m)`;
    * rows of other kinds pass through unchanged. Row-local, no shuffle.
    */
  private def withPayload(media: Dataset[Media], kind: String)(
      encode: Media => Array[Byte]): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.map(m => if (m.kind == kind) m.copy(payload = encode(m)) else m)
  }

  /** Replace image payloads with real PNG bytes (grayscale, pixel(x,y) =
    * [[pixelAt]]).
    */
  def withPngPayload(media: Dataset[Media]): Dataset[Media] =
    withPayload(media, "image") { m =>
      val img = new java.awt.image.BufferedImage(
        m.width, m.height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setSamples(0, 0, m.width, m.height, 0,
        Array.tabulate(m.width * m.height)(i => pixelAt(m.media_id, i % m.width, i / m.width)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

  /** Deterministic generative 16-bit PCM sample — the audio fixture
    * contract shared with the DuckDB oracle (the audio analog of
    * [[pixelAt]]): sample i of clip `id` is
    * `(id*37 + i*11) mod 65536 - 32768` ∈ [-32768, 32767].
    */
  def sampleAt(id: Long, i: Int): Int =
    (((id * 37 + i.toLong * 11) % 65536) - 32768).toInt

  val AudioFrameSamples = 160 // 10 ms per metadata frame at the fixture's 16 kHz

  /** Replace audio payloads with REAL RIFF/WAVE bytes (16-bit little-endian
    * mono PCM, sample i = [[sampleAt]], n = n_frames × 160), encoded with
    * the JDK's `javax.sound.sampled` — the audio analog of
    * [[withPngPayload]].
    */
  def withWavPayload(media: Dataset[Media]): Dataset[Media] =
    withPayload(media, "audio") { m =>
      val n = math.max(1, m.n_frames) * AudioFrameSamples
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sampleAt(m.media_id, i)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        m.sample_rate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

  case class AudioFeatures(media_id: Long, n_samples: Int, sum_s: Long,
      min_s: Int, max_s: Int, s0: Int, s_last: Int, n_zero_cross: Int)

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the WAV
    * container (format chunk, frame count, PCM frames are the codec's
    * answer, not the metadata's), then integer-exact signal features —
    * sample count, sum, min/max, positional first/last pins, strict
    * sign-change zero crossings. A green `mm_audio_real` row proves the
    * encode→container→decode round trip against the generative formula.
    */
  def decodeAudioFeatures(media: Dataset[Media]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").map { m =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
        !fmt.isBigEndian, s"unexpected decoded format: $fmt")
      val bytes = ais.readAllBytes()
      val n = bytes.length / 2
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      var zc = 0; var prev = 0; var s0 = 0; var last = 0
      var i = 0
      while (i < n) {
        val s = (((bytes(2 * i + 1) & 0xff) << 8) |
          (bytes(2 * i) & 0xff)).toShort.toInt
        if (i == 0) s0 = s
        last = s
        sum += s; if (s < mn) mn = s; if (s > mx) mx = s
        if (i > 0 && s * prev < 0) zc += 1 // |s| ≤ 2^15 so the product fits an Int
        prev = s
        i += 1
      }
      AudioFeatures(m.media_id, n, sum, mn, mx, s0, last, zc)
    }
  }

  case class ImageFeatures(media_id: Long, width: Int, height: Int,
      n_pixels: Int, mean_px: Double, hist0: Int, hist1: Int, hist2: Int,
      hist3: Int, px00: Int, px_last: Int)

  /** REAL decode: `javax.imageio.ImageIO.read` on the PNG payload, then
    * pixel-derived features. `px00`/`px_last` pin positional (row-major)
    * correctness, not just aggregates. Width/height come from the decoded
    * image, not the metadata columns — the codec is the source of truth.
    */
  def decodeImageFeatures(media: Dataset[Media]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image").map { m =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      val (w, h) = (img.getWidth, img.getHeight)
      val px = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
      val (mean, hist) = meanHist(px)
      ImageFeatures(m.media_id, w, h, w * h, mean,
        hist(0), hist(1), hist(2), hist(3), px(0), px(w * h - 1))
    }
  }

  /** Decode + feature extraction through the stub decoder: byte count,
    * mean byte and 4-bin histogram of every payload.
    */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val samples = decodeBytes(m.payload)
      val (mean, hist) = meanHist(samples)
      MediaFeatures(m.media_id, m.kind, samples.length, mean,
        hist(0), hist(1), hist(2), hist(3))
    }
  }

  /** "Resize": deterministic payload downsample to width*height bytes.
    * Real impl would be the codec's resample; plumbing (typed map,
    * schema-preserving) is the point.
    */
  def resize(media: Dataset[Media], w: Int, h: Int): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val target = math.max(1, w * h)
      val step = math.max(1, m.payload.length / target)
      val out = m.payload.indices.by(step).take(target).map(m.payload).toArray
      m.copy(payload = out, width = w, height = h)
    }
  }

  /** Frame sampling for video: payload chunked into n_frames equal slices,
    * every `every`-th slice emitted — a typed flatMap (1 → N explode).
    */
  def sampleFrames(media: Dataset[Media], every: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val n = math.max(1, m.n_frames)
      val sz = math.max(1, m.payload.length / n)
      (0 until n by every).map { f =>
        Frame(m.media_id, f, m.payload.slice(f * sz, math.min((f + 1) * sz, m.payload.length)))
      }
    }
  }

  /** Embedding width of [[embedFixedPoint]]. */
  private val EmbedDim = 16

  /** Fixed-point per-dimension embedding checksums from the decoded
    * samples — bridges multimodal data into the ANN/similarity operators in
    * an ORACLE-CHECKABLE form. Each (media_id, d) row, d < 16, carries
    * `round(1e6 * Σ_{i ≡ d (mod 16)} samples(i)/255.0)` computed as a
    * sequential left-fold over ascending i in Double: DuckDB's
    * `list_reduce` folds the identical list in the identical order, so the
    * doubles are bit-identical cross-engine and the rounded fixed-point is
    * exactly comparable (see MultimodalPack.oracleSql).
    */
  def embedFixedPoint(media: Dataset[Media]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val s = decodeBytes(m.payload)
      (0 until EmbedDim).map { d =>
        var acc = 0.0
        var i = d
        while (i < s.length) { acc += s(i) / 255.0; i += EmbedDim }
        (m.media_id, d, math.round(acc * 1e6))
      }
    }.toDF("media_id", "d", "fp")
  }
}
