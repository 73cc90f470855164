package graft.ops.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, udf}
import org.apache.spark.sql.types._
import graft.core.Op

/** Real media codecs over the JDK's built-in decoders — no external
  * libraries. `javax.imageio` ships PNG/JPEG/BMP/GIF readers and writers
  * in `java.desktop`; `javax.sound.sampled` parses RIFF/WAVE. This
  * replaces the deterministic decode STUBS of earlier rounds: the byte
  * payload really is parsed, pixel for pixel.
  *
  * Mirrors the reference's vision/speech binary handling
  * (`dataflow/operators/core_vision`, `core_speech`): binary column in,
  * typed metadata / transformed binary out. Each op below is one typed
  * UDF over the payload column, run on the executors, never on the
  * driver, once per row (see `Op.generated`); a cast gives its output
  * struct the field names and types the op declares.
  */
object MediaCodec {
  // Must be set before any java.awt class initializes; BufferedImage and
  // ImageIO are headless-safe, but this keeps executor JVMs from probing
  // for a display on misconfigured hosts.
  System.setProperty("java.awt.headless", "true")
  // ImageIO's default stream cache spools every read/write through a temp
  // FILE on disk — per image, per task. In-memory payloads never need it.
  ImageIO.setUseCache(false)

  final case class Decoded(width: Int, height: Int, channels: Int,
      pixelSum: Long, pixelCount: Long)

  /** Decode any ImageIO-supported payload (png/jpeg/bmp/gif/wbmp) to
    * dimensions + raster statistics. Returns None on undecodable bytes —
    * a 100 TB crawl WILL contain corrupt images, and a poison payload
    * must not fail the task. */
  def decodeImage(bytes: Array[Byte]): Option[Decoded] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val r = img.getRaster
        val (w, h, bands) = (img.getWidth, img.getHeight, r.getNumBands)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < bands) { sum += r.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        Some(Decoded(w, h, bands, sum, w.toLong * h * bands))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode an 8-bit grayscale image via the JDK PNG writer. `pixel`
    * supplies the sample at (x, y); values are masked to 0..255. */
  def encodeGrayPng(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Nearest-neighbor resize with the exact integer mapping
    * `src(x,y) = ((dx*w)/rw, (dy*h)/rh)` and scale
    * `min(1, maxSide/max(w,h))` — deterministic arithmetic on the raster,
    * no Graphics2D rendering (whose interpolation is not pinned across
    * JVMs). Re-encodes PNG. Returns None on undecodable input. */
  def resizeNearestPng(bytes: Array[Byte], maxSide: Int): Option[Array[Byte]] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      val mw = math.max(w, h)
      val (rw, rh) =
        if (mw <= maxSide) (w, h)
        else (math.max(1, w * maxSide / mw), math.max(1, h * maxSide / mw))
      val src = img.getRaster
      val bands = src.getNumBands
      val outType =
        if (bands == 1) BufferedImage.TYPE_BYTE_GRAY
        else if (bands == 4) BufferedImage.TYPE_4BYTE_ABGR
        else BufferedImage.TYPE_3BYTE_BGR
      val out = new BufferedImage(rw, rh, outType)
      val dst = out.getRaster
      val ob = dst.getNumBands
      var y = 0
      while (y < rh) {
        val sy = y * h / rh
        var x = 0
        while (x < rw) {
          val sx = x * w / rw
          var b = 0
          while (b < ob) {
            dst.setSample(x, y, b, src.getSample(sx, sy, math.min(b, bands - 1)))
            b += 1
          }
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode PCM16 little-endian frames as RIFF/WAVE via
    * `javax.sound.sampled.AudioSystem` — the real writer, not a
    * hand-rolled header. `sample(frame, channel)` supplies each 16-bit
    * sample. */
  def encodeWavPcm16(sampleRate: Int, channels: Int, frames: Int,
      sample: (Int, Int) => Int): Array[Byte] = {
    val raw = new Array[Byte](frames * channels * 2)
    var i = 0
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < channels) {
        val s = sample(f, c).toShort
        raw(i) = (s & 0xff).toByte
        raw(i + 1) = ((s >> 8) & 0xff).toByte
        i += 2; c += 1
      }
      f += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(raw), fmt, frames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  final case class WavMeta(sampleRate: Int, channels: Int, bits: Int,
      frames: Long, durationMs: Double)

  /** Parse WAV metadata with the JDK RIFF reader. None on non-audio. */
  def wavMeta(bytes: Array[Byte]): Option[WavMeta] = {
    if (bytes == null || bytes.length == 0) return None
    try {
      val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      val frames = aff.getFrameLength.toLong
      Some(WavMeta(fmt.getSampleRate.toInt, fmt.getChannels,
        fmt.getSampleSizeInBits, frames,
        frames * 1000.0 / fmt.getSampleRate))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** Real image decode (`core_vision` binary handling): one ImageIO parse
  * per row in a typed UDF, emitting dimensions, band count and exact
  * raster sums (from which any mean/normalization downstream is a
  * pure-column expression). Undecodable or null payloads yield a null
  * struct — filter or route them, don't fail the task. */
final case class ImageDecoder(binKey: String = "payload",
    outputKey: String = "decoded") extends Op {
  val name = "image_decoder"
  val inputKeys = Seq(binKey)
  val outputKeys = Seq(outputKey)

  private val decodedType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("pixel_sum", LongType), StructField("pixel_count", LongType)))

  def apply(df: DataFrame): DataFrame = Op.generated(df, struct(
    udf(MediaCodec.decodeImage _).apply(col(binKey)).cast(decodedType).as(outputKey)))
}

/** Real image resize: decode → deterministic nearest-neighbor downscale
  * to `maxSide` → PNG re-encode, one typed UDF call per row. The output
  * is a new binary column, null for undecodable or null input; chain
  * [[ImageDecoder]] after it to read the resized dimensions back out of
  * the actual bytes. */
final case class ImageResizer(binKey: String = "payload",
    outputKey: String = "resized_png", maxSide: Int = 256) extends Op {
  val name = "image_resizer"
  val inputKeys = Seq(binKey)
  val outputKeys = Seq(outputKey)

  def apply(df: DataFrame): DataFrame = {
    val side = maxSide
    Op.generated(df, struct(udf((b: Array[Byte]) =>
      MediaCodec.resizeNearestPng(b, side)).apply(col(binKey)).as(outputKey)))
  }
}

/** WAV audio metadata via the JDK RIFF parser — the typed-metadata side
  * of the reference's speech pipeline (`core_speech`): sample rate,
  * channel count, bit depth, frame count, duration, one typed UDF call
  * per row; null for non-audio or null payloads. */
final case class WavMetadataEvaluator(binKey: String = "payload")
    extends Op {
  val name = "wav_metadata_evaluator"
  val inputKeys = Seq(binKey)
  val outputKeys = Seq("audio_meta")

  private val metaType = StructType(Seq(
    StructField("sample_rate", IntegerType), StructField("channels", IntegerType),
    StructField("bits", IntegerType), StructField("n_frames", LongType),
    StructField("duration_ms", DoubleType)))

  def apply(df: DataFrame): DataFrame = Op.generated(df, struct(
    udf(MediaCodec.wavMeta _).apply(col(binKey)).cast(metaType).as("audio_meta")))
}
