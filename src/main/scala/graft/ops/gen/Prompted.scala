package graft.ops.gen

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import graft.core.Op
import graft.serving.{LLMMap, ServingClient}

/** LLM/model-backed generators — SURVEY §2.8. Every op is a composition
  * of the [[LLMMap]] primitive; prompt construction is plain `Column`
  * expressions so everything before/after the serving call stays in
  * codegen.
  */

/** `output = LLM(system, prompt + input)` — the canonical LLM map
  * (`core_text/generate/prompted_generator.py:11-90`). */
final case class PromptedGenerator(inputKey: String, outputKey: String,
    serving: ServingClient, systemPrompt: String = "",
    promptPrefix: String = "") extends Op {
  val name = "prompted_generator"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    val prompted = df.withColumn("__prompt",
      concat(lit(promptPrefix), col(inputKey)))
    LLMMap.generated(prompted, "__prompt", outputKey, serving, systemPrompt)
      .drop("__prompt")
  }
}

/** `{col}`-placeholder format strings compiled to a codegen'd `concat`
  * expression — shared by every prompted op that accepts a template body
  * (the reference's `PromptABC.build_prompt` format-string contract,
  * `dataflow/core/prompt.py:6-27`). */
object PromptFormat {
  private val Placeholder = "\\{([A-Za-z0-9_]+)\\}".r
  def keys(template: String): Seq[String] =
    Placeholder.findAllMatchIn(template).map(_.group(1)).toSeq
  def column(template: String): Column = {
    // split template on {col} placeholders, build concat(lit, col, lit...)
    val parts = Placeholder.split(template)
    val ks = keys(template)
    val pieces = new scala.collection.mutable.ArrayBuffer[Column]
    parts.zipWithIndex.foreach { case (p, i) =>
      pieces += lit(p)
      if (i < ks.length) pieces += col(ks(i)).cast("string")
    }
    // a template ending in a placeholder splits to fewer parts than keys
    ks.drop(parts.length).foreach(k => pieces += col(k).cast("string"))
    concat(pieces.toSeq: _*)
  }
}

/** Prompt template with {col} placeholders over many columns
  * (`format_str_prompted_generator.py:17`). */
final case class FormatStrPromptedGenerator(template: String, outputKey: String,
    serving: ServingClient, systemPrompt: String = "") extends Op {
  val name = "format_str_prompted_generator"
  val inputKeys: Seq[String] = PromptFormat.keys(template).distinct
  val outputKeys = Seq(outputKey)
  def prompt: Column = PromptFormat.column(template)
  def apply(df: DataFrame): DataFrame = {
    val prompted = df.withColumn("__prompt", prompt)
    LLMMap.generated(prompted, "__prompt", outputKey, serving, systemPrompt)
      .drop("__prompt")
  }
}

/** LLM judges each row; keep positives
  * (`core_text/filter/prompted_filter.py:11-90`). When a `template` body
  * is given it drives prompt construction (the reference's
  * `prompt_template.build_prompt` path), not just the system prompt. */
final case class PromptedFilter(inputKey: String, serving: ServingClient,
    systemPrompt: String = "JUDGE", template: Option[String] = None) extends Op {
  val name = "prompted_filter"
  val inputKeys = template.map(PromptFormat.keys(_).distinct).getOrElse(Seq(inputKey))
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val prompted = df.withColumn("__judge_prompt",
      template.map(PromptFormat.column).getOrElse(col(inputKey)))
    LLMMap.generated(prompted, "__judge_prompt", "__judgment", serving, systemPrompt)
      .filter(lower(col("__judgment")).startsWith("yes"))
      .drop("__judge_prompt", "__judgment")
  }
}

/** LLM rewrites a column in place (`core_text/refine/prompted_refiner.py:10-60`).
  * A `template` body, when given, builds the rewrite prompt; the refined
  * value still lands back in `inputKey`. */
final case class PromptedRefiner(inputKey: String, serving: ServingClient,
    systemPrompt: String = "", template: Option[String] = None) extends Op {
  val name = "prompted_refiner"
  val inputKeys = (inputKey +: template.map(PromptFormat.keys).getOrElse(Nil)).distinct
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val prompted = df.withColumn("__refine_prompt",
      template.map(PromptFormat.column).getOrElse(col(inputKey)))
    LLMMap.generated(prompted, "__refine_prompt", "__rewritten", serving, systemPrompt)
      .withColumn(inputKey, col("__rewritten"))
      .drop("__refine_prompt", "__rewritten")
  }
}

/** Generic prompted numeric score (`core_text/eval/prompted_eval.py:10-97`). */
final case class PromptedEvaluator(inputKey: String, outputKey: String,
    serving: ServingClient, systemPrompt: String = "SCORE") extends Op {
  val name = "prompted_evaluator"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    LLMMap.generated(df, inputKey, "__raw", serving, systemPrompt)
      .withColumn(outputKey, col("__raw").cast("double")).drop("__raw")
}

/** Two-stage critique + rewrite of answers
  * (`text_sft/refine/condor_refiner.py:18-71`): chained LLM maps. */
final case class CondorRefiner(inputKey: String, serving: ServingClient)
    extends Op {
  val name = "condor_refiner"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq("critique")
  def apply(df: DataFrame): DataFrame = {
    val critiqued = LLMMap.generated(df, inputKey, "critique", serving, "CRITIQUE")
    val prompted = critiqued.withColumn("__p2",
      concat(col(inputKey), lit(" <CRIT> "), col("critique")))
    LLMMap.generated(prompted, "__p2", "__rewrite", serving, "REWRITE")
      .withColumn(inputKey, col("__rewrite"))
      .drop("__p2", "__rewrite")
  }
}

/** Split long text into word-chunks, prompt each, concat responses
  * (`chunked_prompted_generator.py:12`), one row at a time: the row's
  * chunks are generated in [[LLMMap]]'s kernel and their responses joined
  * with `" | "` in chunk order into `outputKey`. One narrow stage, no
  * shuffle.
  *
  * Every row is its own record: `df`'s columns and row count are kept,
  * rows that share an `idKey` (null included) are answered separately.
  * A row with null or empty text is one empty chunk. */
final case class ChunkedPromptedGenerator(inputKey: String, idKey: String,
    outputKey: String, serving: ServingClient, chunkWords: Int = 20,
    systemPrompt: String = "") extends Op {
  val name = "chunked_prompted_generator"
  val inputKeys = Seq(inputKey, idKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    // materialize the word array first: ArrayTransform is CodegenFallback,
    // so a split in the lambda body would re-tokenize once per chunk
    val ws = col("__ws")
    val nChunks = ceil(size(ws).cast("double") / chunkWords.toDouble).cast("int")
    val chunked = df
      .withColumn("__ws", graft.functions.text.words(col(inputKey)))
      .withColumn("__chunks",
        transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
          i => concat_ws(" ", slice(ws, i * chunkWords + 1, lit(chunkWords)))))
      .drop("__ws")
    val idx = chunked.schema.fieldIndex("__chunks")
    val (sv, sys) = (serving, systemPrompt)
    LLMMap.appended(chunked, StructField(outputKey, StringType), LLMMap.DefaultBatch)(
      r => r.getSeq[String](idx)) { rows =>
      LLMMap.perRow(rows, LLMMap.DefaultBatch)(sv.generate(_, sys))
        .map(_.filter(_ != null).mkString(" | "))
    }.drop("__chunks")
  }
}

/** Embedding column via serving (`embedding_generator.py:9-54`). */
final case class EmbeddingGenerator(inputKey: String, outputKey: String,
    serving: ServingClient) extends Op {
  val name = "embedding_generator"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    LLMMap.embedded(df, inputKey, outputKey, serving)
}

/** Synthesize rows from nothing: seeds → LLM rows
  * (`random_domain_knowledge_row_generator.py:17-78`). */
object RowGenerator {
  def domainRows(spark: org.apache.spark.sql.SparkSession, n: Long,
      serving: ServingClient, systemPrompt: String = "GEN"): DataFrame = {
    val seeds = spark.range(n).withColumn("__prompt",
      concat(lit("seed-"), col("id")))
    LLMMap.generated(seeds, "__prompt", "content", serving, systemPrompt)
      .drop("__prompt")
  }
}

/** Auto-prompt → question → answer chain over text fragments
  * (`text2qa_generator.py:19`): two chained LLM maps. */
final case class Text2QAGenerator(inputKey: String, serving: ServingClient)
    extends Op {
  val name = "text2qa_generator"
  val inputKeys = Seq(inputKey)
  val outputKeys = Seq("question", "answer")
  def apply(df: DataFrame): DataFrame = {
    val q = LLMMap.generated(df, inputKey, "question", serving, "QGEN")
    LLMMap.generated(q, "question", "answer", serving, "AGEN")
  }
}

/** LLM-judged language filter (`general_text/filter/llm_language_filter.py`):
  * the model identifies the text's language; rows whose detected code is
  * in the allow-list survive. The response parses for the first 2-letter
  * ISO code among the allowed set (robust to chatty responses). */
final case class LLMLanguageFilter(inputKey: String, serving: ServingClient,
    allowed: Seq[String]) extends Op {
  val name = "llm_language_filter"
  val inputKeys = Seq(inputKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val raw = LLMMap.generated(df, inputKey, "__lang_raw", serving, "LANGID")
    val pattern = "\\b(" + allowed.map(java.util.regex.Pattern.quote).mkString("|") + ")\\b"
    raw.filter(regexp_extract(lower(col("__lang_raw")), pattern, 1) =!= "")
      .drop("__lang_raw")
  }
}

/** Condor two-stage SFT synthesis from taxonomy seeds
  * (`text_sft/generate/condor_generator.py`): seed → instruction →
  * response, two chained LLM maps. */
final case class CondorGenerator(seedKey: String, serving: ServingClient)
    extends Op {
  val name = "condor_generator"
  val inputKeys = Seq(seedKey)
  val outputKeys = Seq("instruction", "response")
  def apply(df: DataFrame): DataFrame = {
    val q = LLMMap.generated(df, seedKey, "instruction", serving, "CONDORQ")
    LLMMap.generated(q, "instruction", "response", serving, "CONDORA")
  }
}
