package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.ops.code.{CodeExecutor, CodeSandboxSampleEvaluator, MockCodeExecutor}

/** MockCodeExecutor that counts its runs (tasks run in the test JVM). */
final case class CountingExecutor() extends CodeExecutor {
  def run(code: String, timeoutSec: Int): (Boolean, String) = {
    CountingExecutor.runs.incrementAndGet()
    MockCodeExecutor().run(code, timeoutSec)
  }
}

object CountingExecutor {
  val runs = new AtomicInteger()
}

/** The per-row ops that are typed UDFs — the media codecs and the code
  * sandbox: one call per row, whatever the query reads of their output,
  * and the codec output schema. */
class RowUdfOpsSpec extends SparkSuite {
  test("sandbox evaluator runs each snippet once when status and log are both read and filtered") {
    val df = spark.range(100).select(col("id"),
      when(col("id") % 2 === 0, lit("run ok")).otherwise(lit("fail now")).as("generated_code"))
    CountingExecutor.runs.set(0)
    val out = CodeSandboxSampleEvaluator("generated_code", CountingExecutor())(df)
      .select("id", "sandbox_status", "sandbox_log")
      .filter(col("sandbox_status") === "PASS")
      .collect()
    assert(out.map(_.getLong(0)).toSet == (0L until 100L by 2).toSet)
    assert(out.forall(_.getString(2) == "ok"))
    assert(CountingExecutor.runs.get == 100, s"${CountingExecutor.runs.get} runs for 100 rows")
  }

  test("codec ops keep their output struct fields and types") {
    import graft.ops.multimodal.{ImageDecodeDouble, ImageDecoder, WavMetadataEvaluator}
    val df = spark.range(1).select(lit(Array[Byte](1, 2)).as("payload"))
    def fields(d: org.apache.spark.sql.DataFrame, c: String) =
      d.schema(c).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.map(f => f.name -> f.dataType.simpleString).toSeq
    assert(fields(ImageDecoder()(df), "decoded") == Seq("width" -> "int", "height" -> "int",
      "channels" -> "int", "pixel_sum" -> "bigint", "pixel_count" -> "bigint"))
    assert(fields(WavMetadataEvaluator()(df), "audio_meta") == Seq("sample_rate" -> "int",
      "channels" -> "int", "bits" -> "int", "n_frames" -> "bigint", "duration_ms" -> "double"))
    assert(fields(ImageDecodeDouble()(df), "decoded") ==
      Seq("width" -> "int", "height" -> "int", "channels" -> "int"))
  }

  test("codec ops decode once under a filter on their output") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    import graft.ops.multimodal.{ImageDecodeDouble, ImageDecoder, ImageResizer,
      WavMetadataEvaluator}
    val df = spark.range(4).select(col("id").as("doc_id"),
      lit(Array[Byte](1, 2)).as("payload"))
    Seq(ImageDecoder()(df).filter(col("decoded.width") > 0),
      ImageResizer()(df).filter(col("resized_png").isNotNull),
      WavMetadataEvaluator()(df).filter(col("audio_meta.channels") > 0),
      ImageDecodeDouble()(df).filter(col("decoded.width") > 0)).foreach { q =>
      val plan = q.filter(col("doc_id") > 1).queryExecution.optimizedPlan
      val udfs = plan.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
      assert(udfs.size == 1, s"${udfs.size} UDF calls per row:\n$plan")
      val gen = plan.collectFirst { case g: Generate => g }
      assert(gen.exists(_.child.exists(_.isInstanceOf[Filter])),
        s"doc_id filter not below the Generate:\n$plan")
    }
  }
}
