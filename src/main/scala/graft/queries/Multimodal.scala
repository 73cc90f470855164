package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.multimodal._

/** Image, audio and binary-payload operators (`graft.ops.multimodal`). */
object Multimodal {
  def queries: Map[String, Q] = Map(
    "mm_binary_meta" -> oracled(
      s"""SELECT doc_id, octet_length(encode(text)) AS byte_length,
         |  md5(text) AS digest, 'unknown' AS format FROM $D""".stripMargin) {
      (s, dir) =>
        BinaryMetadataEvaluator("payload")(
          t(s, dir, D).withColumn("payload", col("text").cast("binary")))
          .select("doc_id", "byte_length", "digest", "format")
    },
    "mm_decode_double" -> oracled(
      s"""WITH h AS (SELECT doc_id,
         |  ('0x' || substr(md5(substr(text, 1, 64)), 1, 8))::BIGINT AS hv FROM $D)
         |SELECT doc_id, CAST(hv % 640 + 1 AS INT) AS width,
         |  CAST((hv // 640) % 480 + 1 AS INT) AS height, 3 AS channels FROM h""".stripMargin) {
      (s, dir) =>
        ImageDecodeDouble("payload")(
          t(s, dir, D).withColumn("payload", col("text").cast("binary")))
          .select(col("doc_id"), col("decoded.width").as("width"),
            col("decoded.height").as("height"), col("decoded.channels").as("channels"))
    },
    "mm_resize_double" -> oracled(
      s"""WITH h AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(substr(text, 1, 64)), 1, 8))::BIGINT % 640 + 1 AS INT) AS w,
         |  CAST((('0x' || substr(md5(substr(text, 1, 64)), 1, 8))::BIGINT // 640) % 480 + 1 AS INT) AS h
         |  FROM $D)
         |SELECT doc_id,
         |  CAST(floor(w * least(1.0, 256.0 / CAST(greatest(w, h) AS DOUBLE))) AS INT) AS rw,
         |  CAST(floor(h * least(1.0, 256.0 / CAST(greatest(w, h) AS DOUBLE))) AS INT) AS rh
         |FROM h""".stripMargin) { (s, dir) =>
      val decoded = ImageDecodeDouble("payload")(
        t(s, dir, D).withColumn("payload", col("text").cast("binary")))
      ImageResizeDouble("decoded", 256)(decoded)
        .select(col("doc_id"), col("resized.width").as("rw"), col("resized.height").as("rh"))
    },
    "mm_frame_sample" -> oracled(
      s"""SELECT doc_id, array_to_string(
         |  list_filter(${sqlWords("text")}, (x, i) -> (i - 1) % 10 = 0), ' ')
         |  AS sampled_frames FROM $D""".stripMargin) { (s, dir) =>
      FrameSampler("frames", every = 10)(
        t(s, dir, D).withColumn("frames", words(col("text"))))
        .select(col("doc_id"),
          concat_ws(" ", col("sampled_frames")).as("sampled_frames"))
    },
    // REAL codec round trips (JDK ImageIO / javax.sound — no stubs): the
    // query synthesizes a payload whose content is a closed-form function
    // of doc_id, runs the real encoder+decoder, and the oracle computes
    // the same statistics directly from the formula. A hash match proves
    // the bytes were genuinely encoded and parsed, pixel for pixel.
    "mm_decode_png" -> oracled(
      s"""WITH d AS (SELECT doc_id, CAST(doc_id % 24 + 8 AS INT) AS width,
         |    CAST(doc_id % 12 + 4 AS INT) AS height FROM $D),
         |p AS (SELECT d.doc_id, d.width, d.height,
         |    SUM((d.doc_id*31 + x.g*7 + y.g*13) % 256) AS s
         |  FROM d, generate_series(0, 30) AS x(g), generate_series(0, 14) AS y(g)
         |  WHERE x.g < d.width AND y.g < d.height
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, width, height, 1 AS channels,
         |  round(CAST(s AS DOUBLE) / (width * height), 6) AS pixel_mean
         |FROM p""".stripMargin) { (s, dir) =>
      val synth = udf((id: Long) =>
        MediaCodec.encodeGrayPng((id % 24 + 8).toInt, (id % 12 + 4).toInt,
          (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
      ImageDecoder("payload")(t(s, dir, D).select(col("doc_id"))
        .withColumn("payload", synth(col("doc_id"))))
        .select(col("doc_id"), col("decoded.width").as("width"),
          col("decoded.height").as("height"), col("decoded.channels").as("channels"),
          round(col("decoded.pixel_sum").cast("double") / col("decoded.pixel_count"), 6)
            .as("pixel_mean"))
    },
    "mm_resize_png" -> oracled(
      s"""WITH d AS (SELECT doc_id, CAST(doc_id % 24 + 8 AS INT) AS w,
         |    CAST(doc_id % 12 + 4 AS INT) AS h FROM $D),
         |r AS (SELECT doc_id, w, h,
         |    CASE WHEN greatest(w, h) <= 8 THEN w
         |      ELSE greatest(1, w * 8 // greatest(w, h)) END AS rw,
         |    CASE WHEN greatest(w, h) <= 8 THEN h
         |      ELSE greatest(1, h * 8 // greatest(w, h)) END AS rh FROM d),
         |p AS (SELECT r.doc_id, r.rw, r.rh,
         |    SUM((r.doc_id*31 + (x.g * r.w // r.rw)*7 + (y.g * r.h // r.rh)*13) % 256) AS s
         |  FROM r, generate_series(0, 7) AS x(g), generate_series(0, 7) AS y(g)
         |  WHERE x.g < r.rw AND y.g < r.rh
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, rw, rh,
         |  round(CAST(s AS DOUBLE) / (rw * rh), 6) AS pixel_mean
         |FROM p""".stripMargin) { (s, dir) =>
      val synth = udf((id: Long) =>
        MediaCodec.encodeGrayPng((id % 24 + 8).toInt, (id % 12 + 4).toInt,
          (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
      val resized = ImageResizer("payload", "resized_png", maxSide = 8)(
        t(s, dir, D).select(col("doc_id")).withColumn("payload", synth(col("doc_id"))))
      ImageDecoder("resized_png", "rd")(resized)
        .select(col("doc_id"), col("rd.width").as("rw"), col("rd.height").as("rh"),
          round(col("rd.pixel_sum").cast("double") / col("rd.pixel_count"), 6)
            .as("pixel_mean"))
    },
    "mm_wav_meta" -> oracled(
      s"""SELECT doc_id,
         |  CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
         |  CAST(doc_id % 2 + 1 AS INT) AS channels, 16 AS bits,
         |  CAST(doc_id % 100 + 50 AS BIGINT) AS n_frames,
         |  round(CAST(doc_id % 100 + 50 AS DOUBLE) * 1000
         |    / (8000 + (doc_id % 4) * 4000), 6) AS duration_ms
         |FROM $D""".stripMargin) { (s, dir) =>
      val synth = udf((id: Long) =>
        MediaCodec.encodeWavPcm16((8000 + (id % 4) * 4000).toInt, (id % 2 + 1).toInt,
          (id % 100 + 50).toInt, (f, c) => ((id * 7 + f * 11 + c) % 65536 - 32768).toInt))
      WavMetadataEvaluator("payload")(t(s, dir, D).select(col("doc_id"))
        .withColumn("payload", synth(col("doc_id"))))
        .select(col("doc_id"), col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"), col("audio_meta.bits").as("bits"),
          col("audio_meta.n_frames").as("n_frames"),
          round(col("audio_meta.duration_ms"), 6).as("duration_ms"))
    },
    "mm_vqa" -> oracled(
      s"""SELECT doc_id, 'echo[VQA]:' || base64(encode(text)) || ' <Q> what is '
         |  || doc_id AS answer FROM $D""".stripMargin) { (s, dir) =>
      PromptedVQAGenerator("payload", "question", "answer", mock)(
        t(s, dir, D)
          .withColumn("payload", col("text").cast("binary"))
          .withColumn("question", concat(lit("what is "), col("doc_id"))))
        .select("doc_id", "answer")
    },
    "mm_speech2text" -> oracled(
      s"SELECT doc_id, 'echo[ASR]:' || base64(encode(text)) AS transcript FROM $D") {
      (s, dir) =>
        Speech2TextGenerator("payload", "transcript", mock)(
          t(s, dir, D).withColumn("payload", col("text").cast("binary")))
          .select("doc_id", "transcript")
    })
}
