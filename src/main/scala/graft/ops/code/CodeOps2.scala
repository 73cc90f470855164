package graft.ops.code

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.{FilterOp, Op}
import graft.functions.text._
import graft.serving.Scorer

/** Rule-bundle document-quality filter for code-adjacent text
  * (`code/filter/code_doc_quality_filter.py:15-270`): a battery of
  * cheap statistics, each bounded by a threshold — ALL must pass. The
  * representative subset here covers chars, words, duplicate-line
  * fraction, curly-bracket fraction, all-caps fraction and unigram
  * entropy; every term is a pure Column expression (codegen, no UDF). */
final case class CodeDocumentQualityFilter(inputKey: String = "code",
    minChars: Int = 1, maxChars: Int = 1000000,
    minWords: Int = 1, maxWords: Int = 100000,
    maxFracDuplicateLines: Double = 0.3,
    maxFracCurlyBracket: Double = 0.1,
    maxFracAllCapsWords: Double = 0.3,
    minEntropyUnigram: Double = 1.0) extends FilterOp {
  val name = "code_document_quality_filter"
  val inputKeys = Seq(inputKey)

  private def c = col(inputKey)
  private def ls = lines(c)
  private def ws = words(c)

  /** Shannon entropy of the character unigram distribution — one-pass
    * imperative kernel (the equivalent array expression is
    * O(chars × distinct) inside codegen and dominates the filter). */
  private val entropyUdf = udf { s: String =>
    if (s == null || s.isEmpty) 0.0
    else {
      val counts = new java.util.HashMap[Char, Int]()
      s.foreach(ch => counts.merge(ch, 1, (a, b) => a + b))
      val n = s.length.toDouble
      var e = 0.0
      counts.values.forEach { cnt => val p = cnt / n; e -= p * math.log(p) }
      e
    }
  }
  private def entropy: Column = entropyUdf(c)

  def predicate: Column = {
    val nChars = length(c)
    val nWords = size(ws)
    val dupLines = lit(1.0) -
      size(array_distinct(ls)).cast("double") / size(ls).cast("double")
    val curly = (length(c) - length(translate(c, "{}", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")
    val caps = size(filter(ws, w => upper(w) === w && lower(w) =!= w)).cast("double") /
      greatest(size(ws), lit(1)).cast("double")
    nChars.between(minChars, maxChars) &&
      nWords.between(minWords, maxWords) &&
      dupLines <= maxFracDuplicateLines &&
      curly <= maxFracCurlyBracket &&
      caps <= maxFracAllCapsWords &&
      entropy >= minEntropyUnigram
  }
}

/** File-type-aware content filter
  * (`code/filter/code_file_type_content_filter.py:10-80`): Text/JSON/
  * YAML files above the line cap are dropped, text files need a
  * documentation-style filename, other types pass. */
final case class CodeFileTypeContentFilter(inputKey: String = "code",
    fileTypeKey: String = "file_type", fileNameKey: String = "file_name",
    maxLines: Int = 512) extends FilterOp {
  val name = "code_file_type_content_filter"
  val inputKeys = Seq(inputKey, fileTypeKey, fileNameKey)
  private val sizeCheck = Seq("text", "json", "yaml")
  private val validTextNames = Seq("readme", "license", "changelog", "notice",
    "contributing", "authors", "install", "news", "todo")
  def predicate: Column = {
    val ft = lower(col(fileTypeKey))
    val base = lower(regexp_extract(col(fileNameKey), "([^/]+?)(\\.[^./]*)?$", 1))
    val lineCap = size(lines(col(inputKey))) <= maxLines
    val nameOk = base.isin(validTextNames: _*)
    when(ft.isin(sizeCheck: _*), lineCap && (ft =!= "text" || nameOk))
      .otherwise(lit(true))
  }
}

/** Model-scored code-quality filter (`code/filter/code_quality_score_filter.py`):
  * keep min ≤ score ≤ max through the [[Scorer]] seam. */
final case class CodeQualityScoreFilter(inputKey: String, scorer: Scorer,
    minScore: Double = 1.0, maxScore: Double = 10000.0,
    scoreKey: String = "code_quality_score") extends Op {
  val name = "code_quality_score_filter"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(scoreKey)
  def apply(df: DataFrame): DataFrame =
    graft.serving.LLMMap.scored(df, inputKey, scoreKey, scorer)
      .filter(col(scoreKey) >= minScore && col(scoreKey) <= maxScore)
}

/** Generic model-score filter (`code/filter/code_score_filter.py`). */
final case class CodeGenericScoreFilter(inputKey: String, scorer: Scorer,
    minScore: Double = 0.0, maxScore: Double = 10000.0,
    scoreKey: String = "code_score") extends Op {
  val name = "code_score_filter"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(scoreKey)
  def apply(df: DataFrame): DataFrame =
    graft.serving.LLMMap.scored(df, inputKey, scoreKey, scorer)
      .filter(col(scoreKey) >= minScore && col(scoreKey) <= maxScore)
}

/** Execution seam for the sandbox evaluator: (ok, log). */
trait CodeExecutor extends Serializable {
  def run(code: String, timeoutSec: Int): (Boolean, String)
}

/** Real subprocess execution with a hard timeout — one process per
  * snippet via the configured command (e.g. Seq("python3", "-c") or
  * Seq("/bin/sh", "-c")), stderr captured as the log. */
final case class ProcessCodeExecutor(command: Seq[String]) extends CodeExecutor {
  def run(code: String, timeoutSec: Int): (Boolean, String) = {
    try {
      val pb = new ProcessBuilder((command :+ code): _*)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      proc.getOutputStream.close()
      // drain stdout on a daemon thread: a blocking read on the caller
      // thread would defeat the timeout, and an undrained pipe can
      // deadlock a chatty child
      val buf = new java.io.ByteArrayOutputStream()
      val reader = new Thread(() => {
        try proc.getInputStream.transferTo(buf) catch { case _: Exception => () }
      })
      reader.setDaemon(true)
      reader.start()
      val done = proc.waitFor(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); (false, "TIMEOUT") }
      else {
        reader.join(1000)
        (proc.exitValue() == 0, buf.toString("UTF-8").take(4096))
      }
    } catch { case e: Exception => (false, s"EXEC_ERROR: ${e.getMessage}") }
  }
}

/** Deterministic mock executor: snippets containing "fail" fail. */
final case class MockCodeExecutor() extends CodeExecutor {
  def run(code: String, timeoutSec: Int): (Boolean, String) =
    if (code.contains("fail")) (false, "mock failure") else (true, "ok")
}

/** Sandboxed execution evaluator
  * (`code/eval/code_sandbox_sample_evaluator.py:17-90`): run each code
  * snippet with process isolation + timeout, append PASS/FAIL status and
  * the captured log. One typed UDF returns both, so each snippet runs
  * exactly once per row however many of the two columns a query reads
  * or filters on; executions are distributed over the executors. A null
  * snippet runs as "". */
final case class CodeSandboxSampleEvaluator(inputKey: String = "generated_code",
    executor: CodeExecutor = MockCodeExecutor(), timeoutSec: Int = 15,
    statusKey: String = "sandbox_status", logKey: String = "sandbox_log")
    extends Op {
  val name = "code_sandbox_sample_evaluator"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(statusKey, logKey)
  def apply(df: DataFrame): DataFrame = {
    val (ex, to) = (executor, timeoutSec)
    val sandboxed = udf { code: String =>
      val (ok, log) = ex.run(Option(code).getOrElse(""), to)
      (if (ok) "PASS" else "FAIL", log)
    }
    val outType = StructType(Seq(
      StructField(statusKey, StringType), StructField(logKey, StringType)))
    Op.generated(df, sandboxed(col(inputKey)).cast(outType))
  }
}

/** Score-only twins of the code rule filters (the `code/eval` sample
  * evaluator family): append the statistic columns, keep every row. */
final case class CodeLengthSampleEvaluator(inputKey: String = "code")
    extends graft.core.EvalOp {
  val name = "code_length_sample_evaluator"
  val inputKeys = Seq(inputKey)
  def scores: Seq[(String, Column)] = Seq(
    "n_lines" -> size(lines(col(inputKey))).cast("long"),
    "max_line_length" -> aggregate(lines(col(inputKey)), lit(0),
      (acc, l) => greatest(acc, length(l))).cast("long"))
}

final case class CodeTextCompositionSampleEvaluator(inputKey: String = "code")
    extends graft.core.EvalOp {
  val name = "code_text_composition_sample_evaluator"
  val inputKeys = Seq(inputKey)
  def scores: Seq[(String, Column)] = Seq(
    "alnum_ratio" -> round(
      length(regexp_replace(col(inputKey), "[^A-Za-z0-9]", "")).cast("double") /
        greatest(length(col(inputKey)), lit(1)).cast("double"), 6))
}

final case class CodeAutoGeneratedSampleEvaluator(inputKey: String = "code")
    extends graft.core.EvalOp {
  val name = "code_auto_generated_sample_evaluator"
  val inputKeys = Seq(inputKey)
  def scores: Seq[(String, Column)] = Seq(
    "autogen_flag" -> lower(col(inputKey))
      .rlike("(auto-generated|autogenerated|do not edit|generated by)").cast("int"))
}

final case class CodeEncodedDataSampleEvaluator(inputKey: String = "code",
    maxBlob: Int = 64) extends graft.core.EvalOp {
  val name = "code_encoded_data_sample_evaluator"
  val inputKeys = Seq(inputKey)
  def scores: Seq[(String, Column)] = Seq(
    "encoded_flag" -> (col(inputKey).rlike(s"[A-Za-z0-9+/=]{${maxBlob + 1},}") ||
      col(inputKey).rlike("(0x)?[0-9a-fA-F]{128,}")).cast("int"))
}

/** Code instruction-pair generators (the `code/generate` family) — four
  * named LLM maps sharing the serving bridge:
  * code → instruction (`code_code_to_instruction_generator.py:19`),
  * seed → instruction (`code_gen_instruction.py:19`),
  * instruction → enhanced (`code_instruction_enhancement.py:18`),
  * instruction → code with fenced-block parse
  * (`code_instruction_to_code_generator.py:100-106`). */
final case class CodeToInstructionGenerator(codeKey: String,
    serving: graft.serving.ServingClient,
    outputKey: String = "instruction") extends Op {
  val name = "code_code_to_instruction_generator"
  val inputKeys = Seq(codeKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    graft.serving.LLMMap.generated(df, codeKey, outputKey, serving, "CODE2INST")
}

final case class CodeInstructionGenerator(seedKey: String,
    serving: graft.serving.ServingClient,
    outputKey: String = "instruction") extends Op {
  val name = "code_instruction_generator"
  val inputKeys = Seq(seedKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    graft.serving.LLMMap.generated(df, seedKey, outputKey, serving, "CODEINST")
}

final case class CodeEnhancementInstructionGenerator(instructionKey: String,
    serving: graft.serving.ServingClient,
    outputKey: String = "enhanced_instruction") extends Op {
  val name = "code_enhancement_instruction_generator"
  val inputKeys = Seq(instructionKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    graft.serving.LLMMap.generated(df, instructionKey, outputKey, serving, "CODEENH")
}

final case class CodeInstructionToCodeGenerator(instructionKey: String,
    serving: graft.serving.ServingClient,
    outputKey: String = "generated_code") extends Op {
  val name = "code_instruction_to_code_generator"
  val inputKeys = Seq(instructionKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    val raw = graft.serving.LLMMap.generated(df, instructionKey, "__raw",
      serving, "INST2CODE")
    // fenced block if present, else the stripped response (reference
    // parse at code_instruction_to_code_generator.py:100-106)
    val block = regexp_extract(col("__raw"), "(?s)```(?:python\\n)?(.*)```", 1)
    raw.withColumn(outputKey,
      when(trim(block) =!= "", trim(block)).otherwise(trim(col("__raw"))))
      .drop("__raw")
  }
}

/** Phi-4-style QA synthesis over raw pretrain content
  * (`text_pt/generate/phi4qa_generator.py:55-87`). */
final case class Phi4QAGenerator(inputKey: String = "raw_content",
    serving: graft.serving.ServingClient,
    outputKey: String = "generated_content") extends Op {
  val name = "phi4qa_generator"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    graft.serving.LLMMap.generated(df, inputKey, outputKey, serving, "PHI4QA")
}
