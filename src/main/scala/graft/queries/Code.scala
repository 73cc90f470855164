package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Code-data filters, evaluators and generators (`graft.ops.code`). */
object Code {
  // synthesized "code": comment header for id%3=0, injected base64 blob
  // for id%3=1, auto-gen marker for id%5=0
  private def withCodeCol(df: DataFrame): DataFrame = df.withColumn("code",
    when(col("doc_id") % 5 === 0, concat(lit("# generated by tool, do not edit\n"), col("text")))
      .when(col("doc_id") % 3 === 0, concat(lit("# header comment\n"), col("text")))
      .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" "), repeat(lit("QWER"), 20)))
      .otherwise(col("text")))

  private val sqlCodeCol =
    """CASE WHEN doc_id % 5 = 0 THEN '# generated by tool, do not edit' || chr(10) || text
      |     WHEN doc_id % 3 = 0 THEN '# header comment' || chr(10) || text
      |     WHEN doc_id % 3 = 1 THEN text || ' ' || repeat('QWER', 20)
      |     ELSE text END""".stripMargin

  def queries: Map[String, Q] = Map(
    "filter_code_length" -> oracled(
      s"""WITH c AS (SELECT doc_id, n_chars, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, n_chars FROM c
         |WHERE len(split(code, chr(10))) <= 10
         |  AND list_max(list_transform(split(code, chr(10)), l -> length(l))) <= 400""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeLengthFilter("code", 10, 400)(
          withCodeCol(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "eval_code_comment_ratio" -> oracled(
      s"""WITH c AS (SELECT doc_id, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, round(
         |  CAST(len(list_filter(split(code, chr(10)),
         |    l -> starts_with(ltrim(l), '#') OR starts_with(ltrim(l), '//'))) AS DOUBLE) /
         |  CAST(len(split(code, chr(10))) AS DOUBLE), 6) AS comment_ratio
         |FROM c""".stripMargin) { (s, dir) =>
      graft.ops.code.CodeCommentRatioEvaluator("code")(
        withCodeCol(t(s, dir, D))).select("doc_id", "comment_ratio")
    },
    "filter_code_encoded" -> oracled(
      s"""WITH c AS (SELECT doc_id, n_chars, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, n_chars FROM c
         |WHERE NOT regexp_matches(code, '[A-Za-z0-9+/=]{65,}')
         |  AND NOT regexp_matches(code, '(0x)?[0-9a-fA-F]{128,}')""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeEncodedDataFilter("code", 64)(
          withCodeCol(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "filter_code_composition" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) /
         |      CAST(length(text) AS DOUBLE) >= 0.83""".stripMargin) { (s, dir) =>
      graft.ops.code.CodeTextCompositionFilter("text", 0.83)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "filter_code_autogen" -> oracled(
      s"""WITH c AS (SELECT doc_id, n_chars, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, n_chars FROM c
         |WHERE NOT regexp_matches(lower(code),
         |  '(auto-generated|autogenerated|do not edit|generated by)')""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeAutoGeneratedFilter("code")(
          withCodeCol(t(s, dir, D))).select("doc_id", "n_chars")
    },
    "text_smiles_extract" -> oracled(
      s"""SELECT doc_id,
         |  coalesce(array_to_string(regexp_extract_all(text, '[A-Za-z0-9@+\\-\\[\\]\\(\\)=#$$%/\\\\]{6,}'), ' '), '')
         |    AS smiles_candidates
         |FROM $D""".stripMargin) { (s, dir) =>
      t(s, dir, D).select(col("doc_id"),
        concat_ws(" ",
          graft.ops.code.SmilesExtract.candidates(col("text"))).as("smiles_candidates"))
    },
    "filter_code_doc_quality" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE ${sqlWordCount("text")} BETWEEN 40 AND 100000
         |  AND CAST(len(list_filter(${sqlWords("text")}, w -> upper(w) = w AND lower(w) <> w)) AS DOUBLE) /
         |      CAST(greatest(${sqlWordCount("text")}, 1) AS DOUBLE) <= 0.3""".stripMargin) {
      (s, dir) =>
        // curly/dup-line/entropy terms are non-selective on this corpus
        // (single-line brace-free text) but still evaluated
        graft.ops.code.CodeDocumentQualityFilter("text", minWords = 40,
          maxFracAllCapsWords = 0.3, minEntropyUnigram = 0.5)(t(s, dir, D))
          .select("doc_id", "n_chars")
    },
    "filter_code_file_type" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE NOT (doc_id % 3 = 0 AND doc_id % 2 = 1)""".stripMargin) { (s, dir) =>
      // type cycles text/json/scala; text files need a doc-style name
      val df = t(s, dir, D)
        .withColumn("file_type",
          when(col("doc_id") % 3 === 0, "text")
            .when(col("doc_id") % 3 === 1, "json").otherwise("scala"))
        .withColumn("file_name",
          when(col("doc_id") % 2 === 0, "README.md").otherwise("notes.md"))
      graft.ops.code.CodeFileTypeContentFilter("text", "file_type", "file_name")(df)
        .select("doc_id", "n_chars")
    },
    "filter_code_quality_score" -> oracled(
      s"""SELECT doc_id, CAST(length(text) % 100 AS DOUBLE) / 10.0 AS code_quality_score
         |FROM $D WHERE CAST(length(text) % 100 AS DOUBLE) / 10.0 BETWEEN 2.0 AND 8.0""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeQualityScoreFilter("text", mockScorer, minScore = 2.0, maxScore = 8.0)(
          t(s, dir, D)).select("doc_id", "code_quality_score")
    },
    "eval_code_sandbox" -> oracled(
      s"""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'PASS' ELSE 'FAIL' END AS sandbox_status
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("generated_code",
        when(col("doc_id") % 2 === 0, lit("run ok")).otherwise(lit("fail now")))
      graft.ops.code.CodeSandboxSampleEvaluator("generated_code")(df)
        .select("doc_id", "sandbox_status")
    },
    "gen_code_chain" -> oracled(
      // code → instruction → enhanced → code, the four-op code-generate
      // family as one chain; the final fence parse falls back to the
      // stripped response (no ``` in the echo)
      s"""SELECT doc_id, 'echo[CODE2INST]:' || text AS instruction,
         |  'echo[CODEENH]:echo[CODE2INST]:' || text AS enhanced_instruction,
         |  'echo[INST2CODE]:echo[CODEENH]:echo[CODE2INST]:' || text AS generated_code
         |FROM $D""".stripMargin) { (s, dir) =>
      val s1 = graft.ops.code.CodeToInstructionGenerator("text", mock)(t(s, dir, D))
      val s2 = graft.ops.code.CodeEnhancementInstructionGenerator("instruction", mock)(s1)
      graft.ops.code.CodeInstructionToCodeGenerator("enhanced_instruction", mock)(s2)
        .select("doc_id", "instruction", "enhanced_instruction", "generated_code")
    },
    "gen_phi4qa" -> oracled(
      s"SELECT doc_id, 'echo[PHI4QA]:' || text AS generated_content FROM $D") {
      (s, dir) =>
        graft.ops.code.Phi4QAGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "generated_content")
    },
    "gen_code_instruction" -> oracled(
      // seed → instruction (`code_gen_instruction.py:19`), the standalone
      // sibling of the gen_code_chain ops
      s"SELECT doc_id, 'echo[CODEINST]:' || text AS instruction FROM $D") {
      (s, dir) =>
        graft.ops.code.CodeInstructionGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "instruction")
    },
    "filter_code_generic_score" -> oracled(
      s"""SELECT doc_id, $sqlMockScore AS code_score
         |FROM $D WHERE $sqlMockScore BETWEEN 2.0 AND 8.0""".stripMargin) {
      (s, dir) =>
        graft.ops.code.CodeGenericScoreFilter("text", mockScorer,
          minScore = 2.0, maxScore = 8.0)(t(s, dir, D))
          .select("doc_id", "code_score")
    },
    "eval_code_encoded" -> oracled(
      // base64-ish blob or long hex run → encoded-data flag
      // (`code_encoded_data_sample_evaluator`); the %3==1 code rows carry
      // an 80-char QWER run that trips the 65+-char blob pattern
      s"""WITH c AS (SELECT doc_id, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, CAST(CASE WHEN regexp_matches(code, '[A-Za-z0-9+/=]{65,}')
         |  OR regexp_matches(code, '(0x)?[0-9a-fA-F]{128,}') THEN 1 ELSE 0 END AS INT)
         |  AS encoded_flag
         |FROM c""".stripMargin) { (s, dir) =>
      graft.ops.code.CodeEncodedDataSampleEvaluator("code")(
        withCodeCol(t(s, dir, D))).select("doc_id", "encoded_flag")
    },
    "eval_code_stats" -> oracled(
      s"""WITH c AS (SELECT doc_id, $sqlCodeCol AS code FROM $D)
         |SELECT doc_id, CAST(len(split(code, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(list_max(list_transform(split(code, chr(10)), l -> length(l))) AS BIGINT)
         |    AS max_line_length,
         |  round(CAST(length(regexp_replace(code, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) /
         |        CAST(greatest(length(code), 1) AS DOUBLE), 6) AS alnum_ratio,
         |  CAST(CASE WHEN regexp_matches(lower(code),
         |    '(auto-generated|autogenerated|do not edit|generated by)') THEN 1 ELSE 0 END AS INT)
         |    AS autogen_flag
         |FROM c""".stripMargin) { (s, dir) =>
      val df = withCodeCol(t(s, dir, D))
      val s1 = graft.ops.code.CodeLengthSampleEvaluator("code")(df)
      val s2 = graft.ops.code.CodeTextCompositionSampleEvaluator("code")(s1)
      graft.ops.code.CodeAutoGeneratedSampleEvaluator("code")(s2)
        .select("doc_id", "n_lines", "max_line_length", "alnum_ratio", "autogen_flag")
    })
}
