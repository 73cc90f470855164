package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.eval._
import graft.ops.gen._
import graft.ops.reasoning._
import graft.ops.conversations._

/** Reasoning and conversation operators (`graft.ops.reasoning`, `graft.ops.conversations`). */
object Reasoning {
  // synthesized reasoning columns over documents: question carries the id
  // digits, answers are boxed for even ids only
  private def withReasoningCols(df: DataFrame): DataFrame = df
    .withColumn("question", concat(col("text"), lit(" "), col("doc_id")))
    .withColumn("answer",
      when(col("doc_id") % 2 === 0,
        concat(lit("the result is \\boxed{"), col("doc_id"), lit("}")))
        .otherwise(lit("no final value")))
    .withColumn("golden_answer", col("doc_id").cast("string"))

  private val sqlReasoningAnswer =
    """CASE WHEN doc_id % 2 = 0 THEN 'the result is \boxed{' || doc_id || '}'
      |     ELSE 'no final value' END""".stripMargin

  def queries: Map[String, Q] = Map(
    "reasoning_answer_extract" -> oracled(
      s"""WITH r AS (SELECT doc_id, $sqlReasoningAnswer AS ans FROM $D)
         |SELECT doc_id, CASE
         |  WHEN len(regexp_extract_all(ans, '\\\\boxed\\{([^}]*)\\}', 1)) > 0
         |    THEN (regexp_extract_all(ans, '\\\\boxed\\{([^}]*)\\}', 1))[-1]
         |  WHEN len(regexp_extract_all(ans, '-?[0-9]+(\\.[0-9]+)?', 0)) > 0
         |    THEN (regexp_extract_all(ans, '-?[0-9]+(\\.[0-9]+)?', 0))[-1]
         |  ELSE '' END AS extracted
         |FROM r""".stripMargin) { (s, dir) =>
      withReasoningCols(t(s, dir, D))
        .select(col("doc_id"), AnswerExtraction.finalAnswer(col("answer")).as("extracted"))
    },
    "filter_answer_format" -> oracled(
      s"""WITH r AS (SELECT doc_id, n_chars, $sqlReasoningAnswer AS ans FROM $D)
         |SELECT doc_id, n_chars FROM r
         |WHERE regexp_matches(ans, '\\\\boxed\\{[^}]*\\}')
         |   OR regexp_matches(lower(ans), 'answer\\s*(is|:)')""".stripMargin) {
      (s, dir) =>
        AnswerFormatFilter("answer")(withReasoningCols(t(s, dir, D)))
          .select("doc_id", "n_chars")
    },
    "filter_answer_groundtruth" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 2 = 0") { (s, dir) =>
      AnswerGroundTruthFilter("answer", "golden_answer")(
        withReasoningCols(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "filter_answer_ngram" -> oracled(
      s"""WITH r AS (SELECT doc_id, n_chars, text AS question,
         |  CASE WHEN doc_id % 2 = 0 THEN text ELSE lang END AS ans FROM $D),
         |g AS (SELECT doc_id, n_chars,
         |  list_distinct(${sqlWordNgrams("question", 3)}) AS qg,
         |  list_distinct(${sqlWordNgrams("ans", 3)}) AS ag FROM r)
         |SELECT doc_id, n_chars FROM g
         |WHERE len(list_distinct(list_concat(qg, ag))) = 0
         |   OR CAST(len(list_intersect(qg, ag)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(qg, ag))) AS DOUBLE) <= 0.5""".stripMargin) {
      (s, dir) =>
        val df = t(s, dir, D).withColumn("question", col("text"))
          .withColumn("ans",
            when(col("doc_id") % 2 === 0, col("text")).otherwise(col("lang")))
        AnswerNgramFilter("question", "ans", 3, 0.5)(df).select("doc_id", "n_chars")
    },
    "filter_answer_token_length" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE ${sqlWordCount("text")} <= 60") {
      (s, dir) =>
        AnswerTokenLengthFilter("text", 60)(t(s, dir, D)).select("doc_id", "n_chars")
    },
    "gen_reasoning_answer" -> oracled(
      s"""SELECT doc_id, 'echo[ANSWER]:' || text || ' ' || doc_id AS answer,
         |  CAST(doc_id AS VARCHAR) AS extracted_answer FROM $D""".stripMargin) {
      (s, dir) =>
        ReasoningAnswerGenerator("question", mock)(
          withReasoningCols(t(s, dir, D)).drop("answer"))
          .select("doc_id", "answer", "extracted_answer")
    },
    "gen_pseudo_answer" -> oracled(
      s"SELECT doc_id, '0' AS pseudo_answer FROM $D") { (s, dir) =>
      PseudoAnswerGenerator("question", mock, samples = 3)(
        withReasoningCols(t(s, dir, D)))
        .select("doc_id", "pseudo_answer")
    },
    "gen_reasoning_question" -> oracled(
      // seed problem → synthesized question
      // (`reasoning_question_generator.py`)
      s"SELECT doc_id, 'echo[QUESTIONGEN]:' || text AS generated_question FROM $D") {
      (s, dir) =>
        ReasoningQuestionGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "generated_question")
    },
    "conv_build_stats" -> oracled(
      s"""SELECT doc_id, 2::BIGINT AS n_turns, 1::BIGINT AS n_user_turns,
         |  CAST(length(text) + length('echo[ASSIST]:' || text) AS BIGINT)
         |    AS total_content_chars
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = PromptedGenerator("text", "output", mock, "ASSIST")(t(s, dir, D))
      val conv = ConversationBuilder("text", "output")(df)
      ConversationStatsEvaluator()(conv)
        .select("doc_id", "n_turns", "n_user_turns", "total_content_chars")
    },
    "conv_scenario_chain" -> oracled(
      // ScenarioExtract → ScenarioExpand → AtomTask, the first three ops
      // of the 7-op func-call chain (`func_call_generators.py:26-191`)
      s"""SELECT doc_id, 'echo[SCENARIO]:' || text AS scenario,
         |  'echo[EXPAND]:echo[SCENARIO]:' || text AS modified_scenario,
         |  'echo[ATOM]:echo[SCENARIO]:' || text AS atom_task
         |FROM $D""".stripMargin) { (s, dir) =>
      val s1 = ScenarioExtractGenerator("text", mock)(t(s, dir, D))
      val s2 = ScenarioExpandGenerator("scenario", mock)(s1)
      AtomTaskGenerator("scenario", mock)(s2)
        .select("doc_id", "scenario", "modified_scenario", "atom_task")
    },
    "conv_seq_task" -> oracled(
      // section parsing of "### Subsequent Task:" / "### Composition
      // Task:" (`func_call_generators.py:243-256`) — the crafted task
      // carries the sections through the echo
      s"""SELECT doc_id, 'sub-' || doc_id AS subsequent_task,
         |  'comp-' || doc_id AS composition_task FROM $D""".stripMargin) {
      (s, dir) =>
        val withTask = t(s, dir, D).withColumn("atom_task",
          concat(lit("### Subsequent Task: sub-"), col("doc_id"),
            lit("\n### Composition Task: comp-"), col("doc_id")))
        SequentialTaskGenerator("atom_task", mock)(withTask)
          .select("doc_id", "subsequent_task", "composition_task")
    },
    "conv_paraseq_task" -> oracled(
      s"""SELECT doc_id, 'par-' || doc_id AS parallel_task,
         |  'sub-' || doc_id AS subsequent_task,
         |  'comp-' || doc_id AS composition_task FROM $D""".stripMargin) {
      (s, dir) =>
        val withTask = t(s, dir, D).withColumn("atom_task",
          concat(lit("### Parallel Task: par-"), col("doc_id"),
            lit("\n### Subsequent Task: sub-"), col("doc_id"),
            lit("\n### Composition Task: comp-"), col("doc_id")))
        ParaSeqTaskGenerator("atom_task", mock)(withTask)
          .select("doc_id", "parallel_task", "subsequent_task", "composition_task")
    },
    "conv_function_gen" -> oracled(
      s"""SELECT doc_id,
         |  'echo[FUNCGEN]:comp-' || doc_id || ' <SUB> ' || text AS functions
         |FROM $D""".stripMargin) { (s, dir) =>
      val withCols = t(s, dir, D)
        .withColumn("composition_task", concat(lit("comp-"), col("doc_id")))
      FunctionGenerator("composition_task", Seq("text"), mock)(withCols)
        .select("doc_id", "functions")
    },
    "conv_multiturn" -> oracled(
      // multi-turn loop (`func_call_generators.py:479-540`): even rows'
      // task carries <final> → dialog completes after the assistant turn;
      // odd rows' <func_call> is answered by the tool agent
      s"""WITH b AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'do <final>done</final> task ' || doc_id
         |       ELSE 'call <func_call>f' || doc_id || '</func_call> now' END AS task,
         |  'fn-' || doc_id AS fns FROM $D),
         |p AS (SELECT doc_id, task || ' <SUB> ' || fns AS seed FROM b)
         |SELECT doc_id, CASE WHEN doc_id % 2 = 0
         |  THEN 'user: echo[USERGEN]:' || seed || chr(10) ||
         |       'assistant: echo[ASSIST]:user: echo[USERGEN]:' || seed
         |  ELSE 'user: echo[USERGEN]:' || seed || chr(10) ||
         |       'assistant: echo[ASSIST]:user: echo[USERGEN]:' || seed || chr(10) ||
         |       'tool: echo[TOOL]:f' || doc_id
         |END AS conv_text FROM p""".stripMargin) { (s, dir) =>
      val withCols = t(s, dir, D)
        .withColumn("task",
          when(col("doc_id") % 2 === 0,
            concat(lit("do <final>done</final> task "), col("doc_id")))
            .otherwise(concat(lit("call <func_call>f"), col("doc_id"),
              lit("</func_call> now"))))
        .withColumn("functions", concat(lit("fn-"), col("doc_id")))
      MultiTurnConversationGenerator("task", Seq(), "functions", mock,
        maxTurns = 1)(withCols)
        .select(col("doc_id"),
          concat_ws("\n", transform(col("conversations"),
            x => concat(x("role"), lit(": "), x("content")))).as("conv_text"))
    },
    "conv_multiturn2" -> oracled(
      // the UNROLLED loop at maxTurns = 2: even rows complete in turn 1
      // (<final> echoed back) so turn 2's generation is discarded; odd
      // rows take a second assistant+tool turn whose assistant content is
      // ASSIST over the whole turn-1 transcript and whose <func_call>
      // extraction (first match) is the same fN → same tool answer
      s"""WITH b AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'do <final>done</final> task ' || doc_id
         |       ELSE 'call <func_call>f' || doc_id || '</func_call> now' END AS task,
         |  'fn-' || doc_id AS fns FROM $D),
         |p AS (SELECT doc_id, task || ' <SUB> ' || fns AS seed FROM b),
         |l AS (SELECT doc_id,
         |  'user: echo[USERGEN]:' || seed AS u_line,
         |  'assistant: echo[ASSIST]:user: echo[USERGEN]:' || seed AS a1_line,
         |  'tool: echo[TOOL]:f' || doc_id AS t_line FROM p)
         |SELECT doc_id, CASE WHEN doc_id % 2 = 0
         |  THEN u_line || chr(10) || a1_line
         |  ELSE u_line || chr(10) || a1_line || chr(10) || t_line || chr(10) ||
         |    'assistant: echo[ASSIST]:' || u_line || chr(10) || a1_line || chr(10) ||
         |    t_line || chr(10) || t_line
         |END AS conv_text FROM l""".stripMargin) { (s, dir) =>
      val withCols = t(s, dir, D)
        .withColumn("task",
          when(col("doc_id") % 2 === 0,
            concat(lit("do <final>done</final> task "), col("doc_id")))
            .otherwise(concat(lit("call <func_call>f"), col("doc_id"),
              lit("</func_call> now"))))
        .withColumn("functions", concat(lit("fn-"), col("doc_id")))
      MultiTurnConversationGenerator("task", Seq(), "functions", mock,
        maxTurns = 2)(withCols)
        .select(col("doc_id"),
          concat_ws("\n", transform(col("conversations"),
            x => concat(x("role"), lit(": "), x("content")))).as("conv_text"))
    },
    "gen_question_fusion" -> oracled(
      s"""SELECT doc_id,
         |  'echo[FUSION:parallel]:' || text || ' <FUSE> alt ' || doc_id || '#0' AS fused_question_0,
         |  'echo[FUSION:parallel]:' || text || ' <FUSE> alt ' || doc_id || '#1' AS fused_question_1
         |FROM $D""".stripMargin) { (s, dir) =>
      val withP2 = t(s, dir, D)
        .withColumn("problem_2", concat(lit("alt "), col("doc_id")))
      ReasoningQuestionFusionGenerator("text", "problem_2", mock,
        numPrompts = 2)(withP2)
        .select("doc_id", "fused_question_0", "fused_question_1")
    },
    "gen_funccall_chain" -> oracled(
      s"""SELECT doc_id, 'echo[SCENARIO]:' || text AS scenario,
         |  'echo[ATOM]:echo[SCENARIO]:' || text AS atom_task,
         |  'echo[FUNC]:echo[ATOM]:echo[SCENARIO]:' || text AS function
         |FROM $D""".stripMargin) { (s, dir) =>
      FuncCallChainGenerator("text", mock)(t(s, dir, D))
        .select("doc_id", "scenario", "atom_task", "function")
    },
    "pipeline_bench_eval" -> oracled(
      // full bench-eval pipeline: generate → extract → match vs golden →
      // accuracy stats, the BenchDatasetEvaluator end-to-end shape
      s"""SELECT COUNT(*) AS total, COUNT(*) AS valid,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
         |  round(CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) /
         |        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
         |FROM $D""".stripMargin) { (s, dir) =>
      // golden = doc_id for even rows, unanswerable otherwise; the mock
      // answers echo the question (which carries the id digits)
      val qa = withReasoningCols(t(s, dir, D)).drop("answer")
        .withColumn("golden_answer",
          when(col("doc_id") % 2 === 0, col("doc_id").cast("string"))
            .otherwise(lit("impossible")))
      val answered = ReasoningAnswerGenerator("question", mock)(qa)
      val matched = col("extracted_answer") === col("golden_answer")
      DatasetEvaluators.benchAccuracy(answered, matched, lit(true))
    },
    "jdbc_payload_merge" -> oracled(
      s"""SELECT doc_id, to_json(struct_pack(lang := lang, source := source,
         |  n_chars := n_chars)) AS data FROM $D""".stripMargin) { (s, dir) =>
      SystemColumnMerger(Seq("doc_id"), "data")(
        t(s, dir, D).select("doc_id", "lang", "source", "n_chars"))
    },
    "eval_reasoning_category" -> oracled(
      s"""SELECT doc_id, 'cat-' || (doc_id % 4) AS question_category FROM $D""") {
      (s, dir) =>
        val df = t(s, dir, D).withColumn("instruction",
          concat(lit("{\"category\": \"cat-"), col("doc_id") % 4, lit("\"}")))
        ReasoningCategorySampleEvaluator("instruction", mock)(df)
          .select("doc_id", "question_category")
    },
    "eval_reasoning_difficulty" -> oracled(
      s"SELECT doc_id, CAST(doc_id % 10 AS DOUBLE) AS difficulty_score FROM $D") {
      (s, dir) =>
        val df = t(s, dir, D).withColumn("instruction",
          concat(lit("Rating: "), col("doc_id") % 10))
        ReasoningDifficultySampleEvaluator("instruction", mock)(df)
          .select("doc_id", "difficulty_score")
    },
    "eval_reasoning_solvable" -> oracled(
      s"SELECT doc_id, length(text) % 2 = 0 AS solvable FROM $D") { (s, dir) =>
      ReasoningSolvableSampleEvaluator("text", mock)(t(s, dir, D))
        .select("doc_id", "solvable")
    },
    "filter_reasoning_question" -> oracled(
      // mock judge: yes iff even question length
      s"SELECT doc_id, n_chars FROM $D WHERE length(text) % 2 = 0") { (s, dir) =>
      ReasoningQuestionFilter("text", mock)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "filter_answer_model_judge" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE length(text || ' <VS> g' || doc_id) % 2 = 0""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("golden_answer",
        concat(lit("g"), col("doc_id")))
      ReasoningAnswerModelJudgeFilter("text", "golden_answer", mock)(df)
        .select("doc_id", "n_chars")
    })
}
