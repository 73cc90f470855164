package graft.ops.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Op

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata. Real decode lives in [[MediaCodec]] ([[ImageDecoder]],
  * [[ImageResizer]], [[WavMetadataEvaluator]] over the JDK's ImageIO and
  * javax.sound readers). The *Double ops below are hermetic test doubles:
  * deterministic fake dims for pipelines that must not depend on codec
  * output (and the swap seam for formats the JDK cannot parse, e.g. video
  * containers). They are NOT the decode implementation — that is
  * [[MediaCodec]].
  */

/** Typed metadata over a binary column: byte length, digest, magic-byte
  * format sniff. Pure expressions — runs at scan speed. */
final case class BinaryMetadataEvaluator(binKey: String = "payload") extends Op {
  val name = "binary_metadata_evaluator"
  val inputKeys = Seq(binKey)
  val outputKeys = Seq("byte_length", "digest", "format")
  def apply(df: DataFrame): DataFrame = {
    val hexPrefix = upper(hex(substring(col(binKey), 1, 4)))
    df.withColumn("byte_length", length(col(binKey)).cast("long"))
      .withColumn("digest", md5(col(binKey)))
      .withColumn("format",
        when(hexPrefix.startsWith("FFD8"), "jpeg")
          .when(hexPrefix.startsWith("89504E47"), "png")
          .when(hexPrefix.startsWith("47494638"), "gif")
          .when(hexPrefix.startsWith("52494646"), "riff")
          .otherwise("unknown"))
  }
}

/** Decode stub: deterministic fake dimensions from the payload's digest
  * ([[ImageDecodeDouble.fakeDims]]), one typed UDF call per row, so the
  * full pipeline — schema, downstream filters — is testable
  * hermetically. A null or empty payload decodes to (0, 0, 0). */
final case class ImageDecodeDouble(binKey: String = "payload",
    outputKey: String = "decoded") extends Op {
  val name = "image_decode_double"
  val inputKeys = Seq(binKey)
  val outputKeys = Seq(outputKey)

  private val decodedType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType)))

  def apply(df: DataFrame): DataFrame = Op.generated(df, struct(
    udf(ImageDecodeDouble.fakeDims _).apply(col(binKey)).cast(decodedType).as(outputKey)))
}

object ImageDecodeDouble {
  /** Deterministic fake decode: dims from the md5 of the payload.
    * SWAP THIS for a real codec (e.g. TwelveMonkeys/ImageIO) in
    * deployments that ship one. */
  def fakeDims(bytes: Array[Byte]): (Int, Int, Int) = {
    if (bytes == null || bytes.isEmpty) return (0, 0, 0)
    val h = graft.serving.MockServing.hash32(new String(bytes.take(64), "ISO-8859-1"))
    (((h % 640) + 640).toInt % 640 + 1, ((h / 640 % 480) + 480).toInt % 480 + 1, 3)
  }
}

/** Audio → transcript via a serving model
  * (`core_speech/generate/speech2text_generator.py:16-59`): the binary
  * payload rides to the ASR service base64-encoded through the same
  * serving kernel ([[graft.serving.LLMMap]]) as every model-backed op. */
final case class Speech2TextGenerator(binKey: String = "payload",
    outputKey: String = "transcript",
    serving: graft.serving.ServingClient) extends Op {
  val name = "speech2text_generator"
  val inputKeys = Seq(binKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    // Spark's base64 emits MIME 76-char line wrapping — strip it for a
    // canonical single-line payload
    val encoded = df.withColumn("__b64",
      regexp_replace(base64(col(binKey)), "[\\r\\n]", ""))
    graft.serving.LLMMap.generated(encoded, "__b64", outputKey, serving, "ASR")
      .drop("__b64")
  }
}

/** Resize/feature-extract stub over decoded dims: pure arithmetic on the
  * struct (the real raster resize is [[ImageResizer]]). */
final case class ImageResizeDouble(decodedKey: String = "decoded",
    maxSide: Int = 256) extends Op {
  val name = "image_resize_double"
  val inputKeys = Seq(decodedKey)
  val outputKeys = Seq("resized")
  def apply(df: DataFrame): DataFrame = {
    val w = col(s"$decodedKey.width"); val h = col(s"$decodedKey.height")
    val scale = least(lit(1.0), lit(maxSide) / greatest(w, h).cast("double"))
    df.withColumn("resized", struct(
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height")))
  }
}

/** Frame sampling for video-ish payloads: every k-th element of an array
  * of binary frames (`explode`-free: keeps the row shape). */
final case class FrameSampler(framesKey: String = "frames", every: Int = 10)
    extends Op {
  val name = "frame_sampler"
  val inputKeys = Seq(framesKey)
  val outputKeys = Seq("sampled_frames")
  def apply(df: DataFrame): DataFrame =
    df.withColumn("sampled_frames",
      filter(col(framesKey), (_, i) => i % every === 0))
}

/** Visual question answering over binary image payloads
  * (`core_vision/generate/prompted_vqa_generator.py:9-60`): the image
  * rides base64-encoded next to the question through the same
  * serving kernel as Speech2Text — one narrow pass, no
  * shuffle, VLM concurrency bounded per executor. */
final case class PromptedVQAGenerator(binKey: String = "payload",
    questionKey: String = "question", outputKey: String = "answer",
    serving: graft.serving.ServingClient,
    systemPrompt: String = "VQA") extends Op {
  val name = "prompted_vqa_generator"
  val inputKeys = Seq(binKey, questionKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    val prompted = df.withColumn("__p",
      concat(regexp_replace(base64(col(binKey)), "[\\r\\n]", ""),
        lit(" <Q> "), col(questionKey)))
    graft.serving.LLMMap.generated(prompted, "__p", outputKey, serving, systemPrompt)
      .drop("__p")
  }
}
