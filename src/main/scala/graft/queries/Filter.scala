package graft.queries

import org.apache.spark.sql.functions._
import graft.core.FilterOp
import graft.ops.filter._
import graft.ops.refine._
import graft.ops.dedup._

/** Rule-based and model-scored filters (`graft.ops.filter`). */
object Filter {
  private def filterQ(op: FilterOp, sqlPred: String): Q =
    oracled(s"SELECT doc_id, n_chars FROM $D WHERE $sqlPred") { (s, dir) =>
      op(t(s, dir, D)).select("doc_id", "n_chars")
    }

  private def scoredQ(op: graft.core.Op, scoreKey: String, sqlPred: String): Q =
    oracled(
      s"SELECT doc_id, $sqlMockScore AS $scoreKey FROM $D WHERE $sqlPred") {
      (s, dir) => op(t(s, dir, D)).select("doc_id", scoreKey)
    }

  def queries: Map[String, Q] = Map(
    "filter_word_number" -> filterQ(WordNumberFilter("text", 40, 100000),
      s"${sqlWordCount("text")} >= 40 AND ${sqlWordCount("text")} < 100000"),
    "filter_char_number" -> filterQ(CharNumberFilter("text", 200),
      "length(text) >= 200"),
    "filter_content_null" -> filterQ(ContentNullFilter("text"),
      "text IS NOT NULL AND trim(text) <> ''"),
    "filter_unique_words" -> filterQ(UniqueWordsFilter("text", 0.5),
      s"CAST(len(list_distinct(${sqlWords("text")})) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) >= 0.5"),
    "filter_mean_word_length" -> filterQ(MeanWordLengthFilter("text", 3.0, 10.0),
      s"CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) BETWEEN 3.0 AND 10.0"),
    "filter_stop_word" -> filterQ(StopWordFilter("text", 0.06),
      s"CAST(len(list_filter(${sqlWords("lower(text)")}, w -> list_contains(${sqlLex(Lexicons.englishStopwords)}, w))) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) > 0.06"),
    "filter_language" -> filterQ(LanguageFilter("lang", Seq("en", "fr")),
      "lang IN ('en','fr')"),
    "filter_colon_end" -> filterQ(ColonEndFilter("text"),
      "NOT ends_with(rtrim(text), ':')"),
    "filter_blocklist" -> filterQ(BlocklistFilter("text", Seq("dup", "slow"), 2),
      s"len(list_filter(${sqlWords("lower(text)")}, w -> list_contains(['dup','slow'], w))) < 2"),
    "filter_watermark" -> filterQ(WatermarkFilter("text", Seq("watermark", "copyright")),
      "NOT regexp_matches(lower(text), 'watermark|copyright')"),
    "filter_alpha_words" -> filterQ(AlphaWordsFilter("text", 0.6),
      s"CAST(len(list_filter(${sqlWords("text")}, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) >= 0.6"),
    "filter_ngram" -> filterQ(NgramFilter("text", 5, 0.4, 1.0),
      s"(${sqlNgramUnique("text", 5)}) BETWEEN 0.4 AND 1.0"),
    // documents have no sentence punctuation; map spaces → '.' first so the
    // sentence counter sees real variance (30..60 sentences keeps a subset)
    "filter_sentence_number" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE len(regexp_extract_all(translate(text, ' ', '.'), '[.!?]+'))
         |      BETWEEN 30 AND 60""".stripMargin) { (s, dir) =>
      SentenceNumberFilter("text", 30, 60)(
        t(s, dir, D).withColumn("text", translate(col("text"), " ", ".")))
        .select("doc_id", "n_chars")
    },
    "filter_no_punc" -> filterQ(NoPuncFilter("text", 56),
      s"coalesce(list_max(list_transform(regexp_split_to_array(text, '[.!?,;:]'), " +
        s"s -> len(list_filter(regexp_split_to_array(s, '\\s+'), x -> x <> '')))) <= 56, TRUE)"),
    "filter_symbol_word_ratio" -> filterQ(SymbolWordRatioFilter("text", 0.4),
      s"CAST(length(text) - length(translate(text, '#', '')) + " +
        s"len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) <= 0.4"),
    "filter_html_entity" -> filterQ(HtmlEntityFilter("text"),
      "NOT regexp_matches(text, '&(nbsp|lt|gt|amp|quot|apos|hellip|ndash|mdash|lsquo|rsquo|ldquo|rdquo);')"),
    "filter_id_card" -> filterQ(IDCardFilter("text"),
      "NOT regexp_matches(lower(text), '(id number|id card|idcard|identification number)') " +
        "AND NOT regexp_matches(text, '[0-9]{17}[0-9Xx]')"),
    "filter_special_character" -> filterQ(SpecialCharacterFilter("text"),
      "NOT regexp_matches(text, '[\\x{00A0}\\x{FEFF}\\x{2424}\\x{3000}\\x{FFFD}]|\\{\\{|\\}\\}|&#[0-9]+;')"),
    "filter_lorem_ipsum" -> filterQ(LoremIpsumFilter("text", 3e-8),
      "CAST(len(regexp_extract_all(lower(text), 'lorem ipsum')) AS DOUBLE) / " +
        "CAST(length(text) AS DOUBLE) <= 0.00000003"),
    "filter_capital_words" -> filterQ(CapitalWordsFilter("text", 0.2),
      s"CAST(len(list_filter(${sqlWords("text")}, w -> upper(w) = w AND lower(w) <> w)) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) <= 0.2"),
    "filter_line_ellipsis" -> filterQ(LineEndWithEllipsisFilter("text", 0.3),
      s"CAST(len(list_filter(split(text, chr(10)), l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE) / " +
        s"CAST(len(split(text, chr(10))) AS DOUBLE) <= 0.3"),
    "filter_line_bullet" -> filterQ(LineStartWithBulletpointFilter("text", 0.9),
      s"CAST(len(list_filter(split(text, chr(10)), l -> regexp_matches(ltrim(l), '^([*\\-•‣▶►]|[0-9]+[.)])'))) AS DOUBLE) / " +
        s"CAST(len(split(text, chr(10))) AS DOUBLE) <= 0.9"),
    "filter_line_javascript" -> filterQ(LineWithJavascriptFilter("text", 3),
      "len(list_filter(split(text, chr(10)), l -> contains(lower(l), 'javascript'))) <= 3"),
    "filter_curly_bracket" -> oracled(
      """SELECT event_id FROM events
        |WHERE CAST(length(props) - length(translate(props, '{}', '')) AS DOUBLE) /
        |      CAST(length(props) AS DOUBLE) <= 0.2""".stripMargin) { (s, dir) =>
      CurlyBracketFilter("props", 0.2)(t(s, dir, "events")).select("event_id")
    },
    "filter_general" -> oracled(
      """SELECT event_id, user_id, value FROM events
        |WHERE value > 100 AND event_type IN ('purchase','view')""".stripMargin) {
      (s, dir) =>
        GeneralFilter(Seq(col("value") > 100,
          col("event_type").isin("purchase", "view")), Seq("value", "event_type"))(
          t(s, dir, "events")).select("event_id", "user_id", "value")
    },
    // fused predict-then-filter on RAW text (reference's LanguageFilter
    // shape, language_filter.py:69) — no precomputed lang column
    "filter_language_text" -> oracled(
      s"""SELECT doc_id, n_chars FROM ($sqlLangIdPredict) q
         |WHERE lang_pred IN ('en','fr')""".stripMargin) { (s, dir) =>
      LanguageFilter("text", Seq("en", "fr"), fromText = true)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "filter_presidio_pii" -> oracled(
      // inject emails on id%4=0 rows; the filter must drop exactly those
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 4 <> 0") { (s, dir) =>
      val withPii = t(s, dir, D).withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" contact bob@example.com")))
          .otherwise(col("text")))
      PresidioFilter("text", 0)(withPii).select("doc_id", "n_chars")
    },
    "filter_composition_task" -> oracled(
      // sub-tasks = first 3 words; runnable set = the testdata vocab's
      // frequent words → rows whose head words stray are dropped
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE NOT EXISTS (SELECT 1 FROM unnest(list_slice(${sqlWords("text")}, 1, 3)) u(t)
         |                  WHERE t NOT IN ('the','a','spark','join','filter','data','table','row'))""".stripMargin) {
      (s, dir) =>
        val withTasks = t(s, dir, D).withColumn("sub_tasks",
          slice(words(col("text")), 1, 3))
        CompositionTaskFilter("sub_tasks",
          Seq("the", "a", "spark", "join", "filter", "data", "table", "row"))(withTasks)
          .select("doc_id", "n_chars")
    },
    "pipeline_text_chain" -> oracled(
      // the SURVEY §7.3 minimum slice as one lazy plan: refine →
      // word-filter → order-sensitive dedup (also the representative
      // rows/sec chain recorded per BASELINE.md)
      s"""WITH r AS (SELECT doc_id, n_chars,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text FROM $D),
         |f AS (SELECT * FROM r WHERE ${sqlWordCount("text")} >= 10),
         |d AS (SELECT doc_id, n_chars,
         |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f)
         |SELECT doc_id, n_chars FROM d WHERE rn = 1""".stripMargin) { (s, dir) =>
      val p = graft.core.Pipeline.of(
        LowercaseRefiner("text"),
        RemoveExtraSpacesRefiner("text"),
        WordNumberFilter("text", 10, Int.MaxValue),
        HashDeduplicateFilter(Seq("text"), "doc_id"))
      p(t(s, dir, D)).select("doc_id", "n_chars")
    },
    "filter_lexical_diversity" -> filterQ(LexicalDiversityFilter("text", 0.45, 1.0),
      s"CAST(len(list_distinct(${sqlWords("text")})) AS DOUBLE) / " +
        s"CAST(${sqlWordCount("text")} AS DOUBLE) BETWEEN 0.45 AND 1.0"),
    "filter_pt_fineweb_edu" -> scoredQ(
      FineWebEduFilter("text", mockScorer), "fineweb_edu_score",
      s"$sqlMockScore >= 2.5"),
    "filter_pt_perplexity" -> scoredQ(
      PerplexityFilter("text", mockScorer, minScore = 2.0, maxScore = 8.0),
      "perplexity", s"$sqlMockScore BETWEEN 2.0 AND 8.0"),
    "filter_pt_qurating" -> scoredQ(
      QuratingFilter("text",
        graft.serving.ServingScorer(mock, dimension = "educational_value")),
      "qurating_score", s"$sqlMockScore BETWEEN 0 AND 9"),
    "filter_pt_textbook" -> scoredQ(
      TextbookFilter("text", mockScorer), "textbook_score",
      s"$sqlMockScore BETWEEN 0.99 AND 1.0"),
    "filter_pt_pair_qual" -> scoredQ(
      PairQualFilter("text", mockScorer, minScore = 5.0), "pair_qual_score",
      s"$sqlMockScore >= 5.0"),
    "filter_sft_alpagasus" -> scoredQ(
      AlpagasusFilter("text", mockScorer), "alpagasus_score",
      s"$sqlMockScore BETWEEN 3 AND 5"),
    "filter_sft_deita_quality" -> scoredQ(
      DeitaQualityFilter("text", mockScorer), "deita_quality",
      s"$sqlMockScore >= 2.5"),
    "filter_sft_deita_complexity" -> scoredQ(
      DeitaComplexityFilter("text", mockScorer), "deita_complexity",
      s"$sqlMockScore BETWEEN 3.0 AND 5.0"),
    "filter_sft_rm" -> scoredQ(
      RMFilter("text", mockScorer), "rm_score",
      s"$sqlMockScore BETWEEN 0.2 AND 0.8"),
    "filter_sft_superfiltering" -> scoredQ(
      SuperfilteringFilter("text", mockScorer), "superfiltering_score",
      s"$sqlMockScore BETWEEN 0.0 AND 1.0"),
    "filter_sft_treeinstruct" -> scoredQ(
      TreeinstructFilter("text", mockScorer), "treeinstruct_score",
      s"$sqlMockScore BETWEEN 7 AND 100"),
    "filter_pt_debertav3" -> scoredQ(
      DebertaV3Filter("text", mockScorer), "debertav3_quality",
      s"$sqlMockScore BETWEEN 1.0 AND 2.0"),
    "filter_sft_instag" -> scoredQ(
      InstagFilter("text", mockScorer), "instag_score",
      s"$sqlMockScore BETWEEN 0.0 AND 1.0"),
    "eval_pt_model_score" -> oracled(
      s"SELECT doc_id, $sqlMockScore AS model_score FROM $D") { (s, dir) =>
      ModelScoreEvaluator("text", mockScorer, "model_score")(t(s, dir, D))
        .select("doc_id", "model_score")
    },
    "eval_text2qa" -> oracled(
      s"""SELECT doc_id, CAST(length(text || ' <A> a' || doc_id) % 100 AS DOUBLE) / 10.0
         |  AS qa_score FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("question", col("text"))
        .withColumn("answer", concat(lit("a"), col("doc_id")))
      Text2QASampleEvaluator("question", "answer", mockScorer)(df)
        .select("doc_id", "qa_score")
    },
    "eval_qurating_dims" -> oracled(
      // all four axes score through the same mock → identical values per
      // row; real raters differ per dimension through the Scorer seam
      s"""SELECT doc_id,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_writing_style,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_required_expertise,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_facts_and_trivia,
         |  CAST(length(text) % 100 AS DOUBLE) / 10.0 AS qurating_educational_value
         |FROM $D""".stripMargin) { (s, dir) =>
      QuratingSampleEvaluator("text", mock)(t(s, dir, D))
        .select("doc_id", "qurating_writing_style", "qurating_required_expertise",
          "qurating_facts_and_trivia", "qurating_educational_value")
    },
    "filter_langkit" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE ${sqlWordCount("text")} BETWEEN 30 AND 80
         |  AND length(text) BETWEEN 1 AND 1000000""".stripMargin) { (s, dir) =>
      LangkitFilter("text", minWords = 30, maxWords = 80)(t(s, dir, D))
        .select("doc_id", "n_chars")
    })
}
