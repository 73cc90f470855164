package graft

import graft.core.{Op, Registry}
import graft.ops.filter._
import graft.ops.refine._
import graft.ops.dedup._
import graft.ops.eval._
import graft.ops.text._

/** Name → factory registration for the operator inventory, mirroring the
  * reference's `OPERATOR_REGISTRY` discovery so pipelines are declarable
  * by name (`dataflow/utils/registry.py:257`,
  * `core/operator.py:17-28` get_operator).
  */
object Ops {
  import Registry.Params
  private def key(p: Params) = p.getOrElse("input_key", "text")
  private def i(p: Params, k: String, d: Int) = p.get(k).map(_.toInt).getOrElse(d)
  private def d(p: Params, k: String, dv: Double) = p.get(k).map(_.toDouble).getOrElse(dv)

  @volatile private var registered = false

  /** Resolve a by-name pipeline's `prompt_template` param through
    * [[graft.core.PromptRegistry]], enforcing the op's allow-list —
    * the reference's `PROMPT_REGISTRY` + `prompt_restrict` seam
    * (`utils/registry.py:259`, `core/prompt.py:29-81`). */
  private def template(opName: String, p: Params): Option[graft.core.PromptTemplate] =
    p.get("prompt_template").map(graft.core.PromptRegistry.resolve(opName, _))

  /** Install the module loaders and force-load every module — the
    * original eager behavior, kept for all existing callers. */
  def registerAll(): Unit = {
    installModules()
    Registry.loadAllModules()
  }

  /** Install the per-module lazy loaders without materializing any
    * factory: a later `Registry.get` loads modules in declaration order
    * until the requested name resolves — the reference registry's
    * import-on-demand walk (`dataflow/utils/registry.py:75-121`). */
  def registerLazy(): Unit = installModules()

  private[graft] def resetForTest(): Unit = synchronized { registered = false }

  private def installModules(): Unit = synchronized {
    if (registered) return
    registered = true
    registerPrompts()
    val byName = entries.toMap
    modules.foreach { case (m, names) =>
      Registry.registerModule(m)(names.iterator.map(n => n -> byName(n)).toMap)
    }
  }

  /** name → module partition mirroring the reference's operator package
    * directories (the registry's lazy loader map over the
    * `dataflow.operators` subpackages, `utils/registry.py:66-73`), so a
    * whitelist written against the reference's module layout translates
    * directly. ModulesSpec enforces that this partitions [[entries]]
    * exactly (every name in exactly one module). */
  private[graft] val modules: Seq[(String, Seq[String])] = Seq(
    "general_text" -> Seq(
      "word_number_filter", "colon_end_filter", "sentence_number_filter",
      "line_end_ellipsis_filter", "content_null_filter",
      "symbol_word_ratio_filter", "alpha_words_filter", "html_entity_filter",
      "id_card_filter", "no_punc_filter", "special_character_filter",
      "watermark_filter", "mean_word_length_filter", "stop_word_filter",
      "curly_bracket_filter", "capital_words_filter", "lorem_ipsum_filter",
      "unique_words_filter", "char_number_filter", "line_start_bullet_filter",
      "line_javascript_filter", "blocklist_filter", "ngram_filter",
      "language_filter", "lexical_diversity_filter",
      "remove_emoji_refiner", "remove_extra_spaces_refiner",
      "remove_number_refiner", "remove_punctuation_refiner",
      "remove_repetitions_punctuation_refiner", "remove_stopwords_refiner",
      "remove_image_refs_refiner", "html_entity_refiner",
      "html_url_remover_refiner", "lowercase_refiner",
      "remove_contractions_refiner", "reference_remover_refiner",
      "text_normalization_refiner", "pii_anonymize_refiner", "ner_refiner",
      "stemming_refiner", "remove_emoticons_refiner",
      "spelling_correction_refiner", "stemming_lemmatization_refiner",
      "hash_deduplicate_filter", "ccnet_deduplicate_filter",
      "ngram_hash_deduplicate_filter", "minhash_deduplicate_filter",
      "simhash_deduplicate_filter", "sem_deduplicate_filter",
      "kcenter_greedy_filter",
      "ngram_sample_evaluator", "lexical_diversity_sample_evaluator",
      "qa_f1_sample_evaluator", "bleu_sample_evaluator",
      "langkit_sample_evaluator", "presidio_sample_evaluator",
      "language_id_evaluator", "quality_score_evaluator",
      "token_count_evaluator", "fingerprint_evaluator", "presidio_filter",
      "langkit_filter", "perspective_sample_evaluator", "perspective_filter"),
    "core_text" -> Seq(
      "prompted_generator", "prompted_filter", "prompted_refiner",
      "prompted_evaluator", "llm_language_filter", "llm_output_parser",
      "text2qa_sample_evaluator", "meta_sample_evaluator",
      "bert_sample_evaluator", "condor_generator", "sft_generator_seed",
      "bench_answer_generator"),
    "text_pt" -> Seq(
      "fineweb_edu_filter", "perplexity_filter", "qurating_filter",
      "pair_qual_filter", "textbook_filter", "debertav3_filter",
      "model_score_evaluator", "qurating_sample_evaluator",
      "fineweb_edu_sample_evaluator", "perplexity_sample_evaluator",
      "pair_qual_sample_evaluator", "textbook_sample_evaluator",
      "debertav3_sample_evaluator"),
    "text_sft" -> Seq(
      "alpagasus_filter", "deita_complexity_filter", "deita_quality_filter",
      "instag_filter", "rm_filter", "superfiltering_filter",
      "treeinstruct_filter", "alpagasus_sample_evaluator",
      "deita_quality_sample_evaluator", "deita_complexity_sample_evaluator",
      "instag_sample_evaluator", "rm_sample_evaluator",
      "superfiltering_sample_evaluator", "treeinstruct_sample_evaluator"),
    "text2sql" -> Seq(
      "sql_executability_filter", "sql_component_classifier",
      "sql_execution_filter", "sql_execution_classifier",
      "text2sql_correspondence_filter", "sql_by_column_generator",
      "vec_sql_rewrite_generator", "spider_hardness_classifier",
      "text2sql_cot_generator"),
    "reasoning" -> Seq(
      "answer_format_filter", "answer_groundtruth_filter",
      "answer_ngram_filter", "answer_token_length_filter",
      "reasoning_question_fusion_generator",
      "reasoning_question_category_sample_evaluator",
      "reasoning_question_difficulty_sample_evaluator",
      "reasoning_question_solvable_sample_evaluator",
      "reasoning_question_generator", "reasoning_question_filter",
      "reasoning_answer_model_judge_filter",
      "reasoning_answer_pipeline_root_filter",
      "reasoning_answer_extraction_qwen_math_eval_generator"),
    "conversations" -> Seq(
      "conversation_builder", "conversation_stats_evaluator",
      "system_column_merger", "composition_task_filter",
      "scenario_extract_generator", "scenario_expand_generator",
      "atom_task_generator", "sequential_task_generator",
      "para_seq_task_generator", "function_generator",
      "multi_turn_conversation_generator",
      "func_call_conversation_sample_evaluator"),
    "core_vision" -> Seq(
      "binary_metadata_evaluator", "image_decode_double", "frame_sampler",
      "image_resize_double", "image_decoder", "image_resizer",
      "prompted_vqa_generator", "vqa_formatter"),
    "core_speech" -> Seq("wav_metadata_evaluator", "speech2text_generator"),
    "code" -> Seq(
      "code_length_filter", "code_comment_ratio_evaluator",
      "code_encoded_data_filter", "code_text_composition_filter",
      "code_auto_generated_filter", "code_document_quality_filter",
      "code_file_type_content_filter", "code_quality_score_filter",
      "code_score_filter", "code_sandbox_sample_evaluator",
      "code_length_sample_evaluator", "code_text_composition_sample_evaluator",
      "code_auto_generated_sample_evaluator",
      "code_encoded_data_sample_evaluator",
      "code_code_to_instruction_generator", "code_instruction_generator",
      "code_enhancement_instruction_generator",
      "code_instruction_to_code_generator", "phi4qa_generator",
      "code_length_sample_filter", "code_document_quality_sample_evaluator",
      "code_quality_sample_evaluator"),
    "chemistry" -> Seq(
      "extract_smiles_from_text_generator",
      "smiles_equivalence_dataset_evaluator"),
    "knowledge_cleaning" -> Seq(
      "chunk_splitter", "kbc_chunk_generator_batch", "kbc_text_cleaner",
      "kbc_text_cleaner_batch", "text2multihopqa_generator",
      "kbc_multihop_qa_generator_batch"),
    "agentic_rag" -> Seq(
      "agenticrag_atomic_task_generator", "agenticrag_depth_qa_generator",
      "agenticrag_width_qa_generator"),
    "pdf2vqa" -> Seq(
      "qa_extract_generator", "mathbook_question_extract", "pdf_merger",
      "qa_extractor"))

  private[graft] def entryNames: Seq[String] = entries.map(_._1)

  private def entries: Seq[(String, Params => Op)] = Seq(
      "word_number_filter" -> (p => WordNumberFilter(key(p), i(p, "min", 20), i(p, "max", 100000))),
      "colon_end_filter" -> (p => ColonEndFilter(key(p))),
      "sentence_number_filter" -> (p => SentenceNumberFilter(key(p), i(p, "min", 1), i(p, "max", 1000))),
      "line_end_ellipsis_filter" -> (p => LineEndWithEllipsisFilter(key(p), d(p, "max_ratio", 0.3))),
      "content_null_filter" -> (p => ContentNullFilter(key(p))),
      "symbol_word_ratio_filter" -> (p => SymbolWordRatioFilter(key(p), d(p, "max_ratio", 0.4))),
      "alpha_words_filter" -> (p => AlphaWordsFilter(key(p), d(p, "min_ratio", 0.6))),
      "html_entity_filter" -> (p => HtmlEntityFilter(key(p))),
      "id_card_filter" -> (p => IDCardFilter(key(p))),
      "no_punc_filter" -> (p => NoPuncFilter(key(p), i(p, "max_run", 56))),
      "special_character_filter" -> (p => SpecialCharacterFilter(key(p))),
      "watermark_filter" -> (p => WatermarkFilter(key(p))),
      "mean_word_length_filter" -> (p => MeanWordLengthFilter(key(p), d(p, "min", 3), d(p, "max", 10))),
      "stop_word_filter" -> (p => StopWordFilter(key(p), d(p, "min_ratio", 0.06))),
      "curly_bracket_filter" -> (p => CurlyBracketFilter(key(p), d(p, "max_ratio", 0.025))),
      "capital_words_filter" -> (p => CapitalWordsFilter(key(p), d(p, "max_ratio", 0.2))),
      "lorem_ipsum_filter" -> (p => LoremIpsumFilter(key(p), d(p, "max_ratio", 3e-8))),
      "unique_words_filter" -> (p => UniqueWordsFilter(key(p), d(p, "min_ratio", 0.1))),
      "char_number_filter" -> (p => CharNumberFilter(key(p), i(p, "min_chars", 100))),
      "line_start_bullet_filter" -> (p => LineStartWithBulletpointFilter(key(p), d(p, "max_ratio", 0.9))),
      "line_javascript_filter" -> (p => LineWithJavascriptFilter(key(p), i(p, "max_lines", 3))),
      "blocklist_filter" -> (p => BlocklistFilter(key(p), p.getOrElse("blocklist", "").split(',').toSeq, i(p, "max_hits", 1))),
      "ngram_filter" -> (p => NgramFilter(key(p), i(p, "n", 5), d(p, "min", 0.0), d(p, "max", 1.0))),
      "language_filter" -> (p => LanguageFilter(p.getOrElse("input_key", "lang"), p.getOrElse("allowed", "en").split(',').toSeq)),
      "lexical_diversity_filter" -> (p => LexicalDiversityFilter(key(p), d(p, "min", 0.0), d(p, "max", 1.0))),
      "remove_emoji_refiner" -> (p => RemoveEmojiRefiner(key(p))),
      "remove_extra_spaces_refiner" -> (p => RemoveExtraSpacesRefiner(key(p))),
      "remove_number_refiner" -> (p => RemoveNumberRefiner(key(p))),
      "remove_punctuation_refiner" -> (p => RemovePunctuationRefiner(key(p))),
      "remove_repetitions_punctuation_refiner" -> (p => RemoveRepetitionsPunctuationRefiner(key(p))),
      "remove_stopwords_refiner" -> (p => RemoveStopwordsRefiner(key(p))),
      "remove_image_refs_refiner" -> (p => RemoveImageRefsRefiner(key(p))),
      "html_entity_refiner" -> (p => HtmlEntityRefiner(key(p))),
      "html_url_remover_refiner" -> (p => HtmlUrlRemoverRefiner(key(p))),
      "lowercase_refiner" -> (p => LowercaseRefiner(key(p))),
      "remove_contractions_refiner" -> (p => RemoveContractionsRefiner(key(p))),
      "reference_remover_refiner" -> (p => ReferenceRemoverRefiner(key(p))),
      "text_normalization_refiner" -> (p => TextNormalizationRefiner(key(p))),
      "pii_anonymize_refiner" -> (p => PIIAnonymizeRefiner(key(p))),
      "ner_refiner" -> (p => NERRefiner(key(p))),
      "stemming_refiner" -> (p => StemmingRefiner(key(p))),
      "remove_emoticons_refiner" -> (p => RemoveEmoticonsRefiner(key(p))),
      "spelling_correction_refiner" -> (p => SpellingCorrectionRefiner(key(p))),
      "hash_deduplicate_filter" -> (p => HashDeduplicateFilter(Seq(key(p)), p.getOrElse("order_key", "doc_id"), p.getOrElse("algo", "md5"))),
      "ccnet_deduplicate_filter" -> (p => CCNetDeduplicateFilter(key(p), p.getOrElse("order_key", "doc_id"))),
      "ngram_hash_deduplicate_filter" -> (p => NgramHashDeduplicateFilter(key(p), p.getOrElse("order_key", "doc_id"), i(p, "n", 3))),
      "minhash_deduplicate_filter" -> (p => MinHashDeduplicateFilter(key(p), p.getOrElse("order_key", "doc_id"), i(p, "ngram", 3), i(p, "num_perm", 128), i(p, "bands", 32), d(p, "threshold", 0.9))),
      "simhash_deduplicate_filter" -> (p => SimHashDeduplicateFilter(key(p), p.getOrElse("order_key", "doc_id"), i(p, "hamming_k", 3))),
      "sem_deduplicate_filter" -> (p => SemDeduplicateFilter(p.getOrElse("input_key", "embedding"), p.getOrElse("order_key", "vec_id"), d(p, "eps", 0.05))),
      "kcenter_greedy_filter" -> (p => KCenterGreedyFilter(p.getOrElse("input_key", "embedding"), p.getOrElse("order_key", "vec_id"), i(p, "k", 100))),
      "ngram_sample_evaluator" -> (p => NgramSampleEvaluator(key(p), i(p, "n", 5))),
      "lexical_diversity_sample_evaluator" -> (p => LexicalDiversitySampleEvaluator(key(p))),
      "qa_f1_sample_evaluator" -> (p => QAF1SampleEvaluator(p.getOrElse("pred_key", "pred"), p.getOrElse("gold_key", "gold"))),
      "bleu_sample_evaluator" -> (p => BleuSampleEvaluator(p.getOrElse("pred_key", "pred"), p.getOrElse("ref_key", "ref"))),
      "langkit_sample_evaluator" -> (p => LangkitSampleEvaluator(key(p))),
      "presidio_sample_evaluator" -> (p => PresidioSampleEvaluator(key(p))),
      "language_id_evaluator" -> (p => LanguageIdEvaluator(key(p))),
      "quality_score_evaluator" -> (p => QualityScoreEvaluator(key(p))),
      "token_count_evaluator" -> (p => TokenCountEvaluator(key(p))),
      "fingerprint_evaluator" -> (p => FingerprintEvaluator(key(p))),
      // LLM-backed factories resolve their client through
      // Registry.serving(p): serving=mock (default) | serving=http with
      // endpoint/model params | a host-installed provider
      "prompted_generator" -> (p => template("prompted_generator", p) match {
        case Some(t) => graft.ops.gen.FormatStrPromptedGenerator(
          t.template, p.getOrElse("output_key", "gen"), Registry.serving(p), t.systemPrompt)
        case None => graft.ops.gen.PromptedGenerator(key(p),
          p.getOrElse("output_key", "gen"), Registry.serving(p), p.getOrElse("system_prompt", ""))
      }),
      "prompted_filter" -> (p => template("prompted_filter", p) match {
        case Some(t) => graft.ops.gen.PromptedFilter(key(p), Registry.serving(p),
          t.systemPrompt, Some(t.template))
        case None => graft.ops.gen.PromptedFilter(key(p), Registry.serving(p), "JUDGE")
      }),
      "prompted_refiner" -> (p => template("prompted_refiner", p) match {
        case Some(t) => graft.ops.gen.PromptedRefiner(key(p), Registry.serving(p),
          t.systemPrompt, Some(t.template))
        case None => graft.ops.gen.PromptedRefiner(key(p), Registry.serving(p), "")
      }),
      "prompted_evaluator" -> (p => graft.ops.gen.PromptedEvaluator(key(p), p.getOrElse("output_key", "score"), Registry.serving(p))),
      "sql_executability_filter" -> (p => graft.ops.text2sql.SQLExecutabilityFilter(p.getOrElse("input_key", "sql"))),
      "sql_component_classifier" -> (p => graft.ops.text2sql.SQLComponentClassifier(p.getOrElse("input_key", "sql"))),
      "sql_execution_filter" -> (p => graft.ops.text2sql.SQLExecutionFilter(p.getOrElse("input_key", "sql"), i(p, "timeout_sec", 5))),
      "sql_execution_classifier" -> (p => graft.ops.text2sql.SQLExecutionClassifier(p.getOrElse("prompt_key", "prompt"), p.getOrElse("gold_key", "sql"), Registry.serving(p), numGenerations = i(p, "num_generations", 10))),
      "text2sql_correspondence_filter" -> (p => graft.ops.text2sql.Text2SQLCorrespondenceFilter(p.getOrElse("question_key", "question"), p.getOrElse("sql_key", "sql"), Registry.serving(p))),
      "sql_by_column_generator" -> (p => graft.ops.text2sql.SQLByColumnGenerator(p.getOrElse("db_key", "db_id"), p.getOrElse("ddl_key", "schema_ddl"), Registry.serving(p), i(p, "generate_num", 5))),
      "vec_sql_rewrite_generator" -> (p => graft.ops.text2sql.VecSqlRewriteGenerator(p.getOrElse("input_key", "sql"), p.getOrElse("output_key", "vec_sql"), Registry.serving(p))),
      "fineweb_edu_filter" -> (p => FineWebEduFilter(key(p), Registry.scorer(p), d(p, "min_score", 2.5), d(p, "max_score", 10000))),
      "perplexity_filter" -> (p => PerplexityFilter(key(p), Registry.scorer(p), d(p, "min_score", 10.0), d(p, "max_score", 500.0))),
      "qurating_filter" -> (p => QuratingFilter(key(p), Registry.scorer(p), p.getOrElse("dimension", "educational_value"), d(p, "min_score", 0), d(p, "max_score", 9))),
      "pair_qual_filter" -> (p => PairQualFilter(key(p), Registry.scorer(p), d(p, "min_score", 0), d(p, "max_score", 10000))),
      "textbook_filter" -> (p => TextbookFilter(key(p), Registry.scorer(p), d(p, "min_score", 0.99), d(p, "max_score", 1.0))),
      "debertav3_filter" -> (p => DebertaV3Filter(key(p), Registry.scorer(p), d(p, "min_score", 1.0), d(p, "max_score", 2.0))),
      "alpagasus_filter" -> (p => AlpagasusFilter(key(p), Registry.scorer(p), d(p, "min_score", 3), d(p, "max_score", 5))),
      "deita_complexity_filter" -> (p => DeitaComplexityFilter(key(p), Registry.scorer(p), d(p, "min_score", 3.0), d(p, "max_score", 5.0))),
      "deita_quality_filter" -> (p => DeitaQualityFilter(key(p), Registry.scorer(p), d(p, "min_score", 2.5), d(p, "max_score", 10000.0))),
      "instag_filter" -> (p => InstagFilter(key(p), Registry.scorer(p), d(p, "min_score", 0.0), d(p, "max_score", 1.0))),
      "rm_filter" -> (p => RMFilter(key(p), Registry.scorer(p), d(p, "min_score", 0.2), d(p, "max_score", 0.8))),
      "superfiltering_filter" -> (p => SuperfilteringFilter(key(p), Registry.scorer(p), d(p, "min_score", 0.0), d(p, "max_score", 1.0))),
      "treeinstruct_filter" -> (p => TreeinstructFilter(key(p), Registry.scorer(p), d(p, "min_score", 7), d(p, "max_score", 100))),
      "model_score_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), p.getOrElse("output_key", "model_score"))),
      "answer_format_filter" -> (p => graft.ops.reasoning.AnswerFormatFilter(p.getOrElse("input_key", "answer"))),
      "answer_groundtruth_filter" -> (p => graft.ops.reasoning.AnswerGroundTruthFilter(p.getOrElse("answer_key", "answer"), p.getOrElse("golden_key", "golden_answer"))),
      "answer_ngram_filter" -> (p => graft.ops.reasoning.AnswerNgramFilter(p.getOrElse("question_key", "question"), p.getOrElse("answer_key", "answer"))),
      "answer_token_length_filter" -> (p => graft.ops.reasoning.AnswerTokenLengthFilter(p.getOrElse("input_key", "answer"), i(p, "max_tokens", 8192))),
      "conversation_builder" -> (p => graft.ops.conversations.ConversationBuilder(p.getOrElse("instruction_key", "instruction"), p.getOrElse("output_key", "output"))),
      "conversation_stats_evaluator" -> (p => graft.ops.conversations.ConversationStatsEvaluator()),
      "system_column_merger" -> (p => graft.ops.conversations.SystemColumnMerger(p.getOrElse("system_cols", "doc_id").split(',').toSeq)),
      "binary_metadata_evaluator" -> (p => graft.ops.multimodal.BinaryMetadataEvaluator(p.getOrElse("input_key", "payload"))),
      "image_decode_double" -> (p => graft.ops.multimodal.ImageDecodeDouble(p.getOrElse("input_key", "payload"))),
      "frame_sampler" -> (p => graft.ops.multimodal.FrameSampler(p.getOrElse("input_key", "frames"), i(p, "every", 10))),
      "image_resize_double" -> (p => graft.ops.multimodal.ImageResizeDouble(p.getOrElse("input_key", "decoded"), i(p, "max_side", 256))),
      "image_decoder" -> (p => graft.ops.multimodal.ImageDecoder(p.getOrElse("input_key", "payload"), p.getOrElse("output_key", "decoded"))),
      "image_resizer" -> (p => graft.ops.multimodal.ImageResizer(p.getOrElse("input_key", "payload"), p.getOrElse("output_key", "resized_png"), i(p, "max_side", 256))),
      "wav_metadata_evaluator" -> (p => graft.ops.multimodal.WavMetadataEvaluator(p.getOrElse("input_key", "payload"))),
      "speech2text_generator" -> (p => graft.ops.multimodal.Speech2TextGenerator(p.getOrElse("input_key", "payload"), p.getOrElse("output_key", "transcript"), Registry.serving(p))),
      "presidio_filter" -> (p => PresidioFilter(key(p), i(p, "max_entities", 0))),
      "composition_task_filter" -> (p => CompositionTaskFilter(p.getOrElse("input_key", "sub_tasks"), p.getOrElse("runnable", "").split(',').toSeq)),
      "chunk_splitter" -> (p => graft.ops.gen.ChunkSplitter(key(p), p.getOrElse("id_key", "doc_id"), p.getOrElse("mode", "token"), i(p, "chunk_size", 512), i(p, "min_chunk_tokens", 0))),
      "code_length_filter" -> (p => graft.ops.code.CodeLengthFilter(key(p), i(p, "max_lines", 100000), i(p, "max_line_length", 1000))),
      "code_comment_ratio_evaluator" -> (p => graft.ops.code.CodeCommentRatioEvaluator(key(p))),
      "code_encoded_data_filter" -> (p => graft.ops.code.CodeEncodedDataFilter(key(p), i(p, "max_blob", 64))),
      "code_text_composition_filter" -> (p => graft.ops.code.CodeTextCompositionFilter(key(p), d(p, "min_alnum_ratio", 0.25))),
      "code_auto_generated_filter" -> (p => graft.ops.code.CodeAutoGeneratedFilter(key(p))),
      "scenario_extract_generator" -> (p => graft.ops.conversations.ScenarioExtractGenerator(p.getOrElse("chat_key", "chat"), Registry.serving(p))),
      "scenario_expand_generator" -> (p => graft.ops.conversations.ScenarioExpandGenerator(p.getOrElse("scenario_key", "scenario"), Registry.serving(p))),
      "atom_task_generator" -> (p => graft.ops.conversations.AtomTaskGenerator(p.getOrElse("scenario_key", "scenario"), Registry.serving(p))),
      "sequential_task_generator" -> (p => graft.ops.conversations.SequentialTaskGenerator(p.getOrElse("task_key", "atom_task"), Registry.serving(p))),
      "para_seq_task_generator" -> (p => graft.ops.conversations.ParaSeqTaskGenerator(p.getOrElse("task_key", "atom_task"), Registry.serving(p))),
      "function_generator" -> (p => graft.ops.conversations.FunctionGenerator(p.getOrElse("composition_key", "composition_task"), p.getOrElse("sub_task_keys", "").split(',').filter(_.nonEmpty).toSeq, Registry.serving(p))),
      "multi_turn_conversation_generator" -> (p => graft.ops.conversations.MultiTurnConversationGenerator(p.getOrElse("task_key", "atom_task"), p.getOrElse("sub_task_keys", "").split(',').filter(_.nonEmpty).toSeq, p.getOrElse("functions_key", "functions"), Registry.serving(p), maxTurns = i(p, "max_turns", 5))),
      "prompted_vqa_generator" -> (p => graft.ops.multimodal.PromptedVQAGenerator(p.getOrElse("input_key", "payload"), p.getOrElse("question_key", "question"), p.getOrElse("output_key", "answer"), Registry.serving(p))),
      "reasoning_question_fusion_generator" -> (p => graft.ops.reasoning.ReasoningQuestionFusionGenerator(p.getOrElse("problem_1_key", "problem_1"), p.getOrElse("problem_2_key", "problem_2"), Registry.serving(p), numPrompts = i(p, "num_prompts", 1), style = p.getOrElse("style", "parallel"))),
      "spider_hardness_classifier" -> (p => graft.ops.text2sql.SpiderHardnessClassifier(p.getOrElse("input_key", "sql"))),
      "code_document_quality_filter" -> (p => graft.ops.code.CodeDocumentQualityFilter(key(p))),
      "code_file_type_content_filter" -> (p => graft.ops.code.CodeFileTypeContentFilter(key(p), p.getOrElse("file_type_key", "file_type"), p.getOrElse("file_name_key", "file_name"), i(p, "max_lines", 512))),
      "code_quality_score_filter" -> (p => graft.ops.code.CodeQualityScoreFilter(key(p), Registry.scorer(p), d(p, "min_score", 1.0), d(p, "max_score", 10000.0))),
      "code_score_filter" -> (p => graft.ops.code.CodeGenericScoreFilter(key(p), Registry.scorer(p), d(p, "min_score", 0.0), d(p, "max_score", 10000.0))),
      "code_sandbox_sample_evaluator" -> (p => graft.ops.code.CodeSandboxSampleEvaluator(p.getOrElse("input_key", "generated_code"), timeoutSec = i(p, "timeout_sec", 15))),
      "llm_language_filter" -> (p => graft.ops.gen.LLMLanguageFilter(key(p), Registry.serving(p), p.getOrElse("allowed", "en").split(',').toSeq)),
      "reasoning_question_category_sample_evaluator" -> (p => graft.ops.reasoning.ReasoningCategorySampleEvaluator(p.getOrElse("input_key", "instruction"), Registry.serving(p))),
      "reasoning_question_difficulty_sample_evaluator" -> (p => graft.ops.reasoning.ReasoningDifficultySampleEvaluator(p.getOrElse("input_key", "instruction"), Registry.serving(p))),
      "reasoning_question_solvable_sample_evaluator" -> (p => graft.ops.reasoning.ReasoningSolvableSampleEvaluator(p.getOrElse("input_key", "instruction"), Registry.serving(p))),
      "qa_extract_generator" -> (p => graft.ops.gen.QAExtractGenerator(key(p), p.getOrElse("id_key", "doc_id"))),
      "mathbook_question_extract" -> (p => graft.ops.gen.MathbookQuestionExtract(key(p), p.getOrElse("id_key", "doc_id"))),
      "vqa_formatter" -> (p => graft.ops.gen.VQAFormatter(p.getOrElse("question_key", "question"), p.getOrElse("answer_key", "answer"), p.getOrElse("images_key", "images"))),
      "pdf_merger" -> (p => graft.ops.gen.PDFMerger(p.getOrElse("id_key", "doc_id"), p.getOrElse("page_key", "page"), p.getOrElse("content_key", "content"))),
      "llm_output_parser" -> (p => graft.ops.gen.LLMOutputParser(p.getOrElse("input_key", "raw"))),
      "qurating_sample_evaluator" -> (p => QuratingSampleEvaluator(key(p), Registry.serving(p))),
      "text2qa_sample_evaluator" -> (p => Text2QASampleEvaluator(p.getOrElse("question_key", "question"), p.getOrElse("answer_key", "answer"), Registry.scorer(p))),
      "code_length_sample_evaluator" -> (p => graft.ops.code.CodeLengthSampleEvaluator(key(p))),
      "code_text_composition_sample_evaluator" -> (p => graft.ops.code.CodeTextCompositionSampleEvaluator(key(p))),
      "code_auto_generated_sample_evaluator" -> (p => graft.ops.code.CodeAutoGeneratedSampleEvaluator(key(p))),
      "code_encoded_data_sample_evaluator" -> (p => graft.ops.code.CodeEncodedDataSampleEvaluator(key(p))),
      "fineweb_edu_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "fineweb_edu_score", "fineweb_edu_sample_evaluator")),
      "perplexity_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "perplexity", "perplexity_sample_evaluator")),
      "pair_qual_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "pair_qual_score", "pair_qual_sample_evaluator")),
      "textbook_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "textbook_score", "textbook_sample_evaluator")),
      "debertav3_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "debertav3_quality", "debertav3_sample_evaluator")),
      "meta_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "meta_score", "meta_sample_evaluator")),
      "alpagasus_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "alpagasus_score", "alpagasus_sample_evaluator")),
      "deita_quality_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "deita_quality", "deita_quality_sample_evaluator")),
      "deita_complexity_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "deita_complexity", "deita_complexity_sample_evaluator")),
      "instag_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "instag_score", "instag_sample_evaluator")),
      "rm_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "rm_score", "rm_sample_evaluator")),
      "superfiltering_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "superfiltering_score", "superfiltering_sample_evaluator")),
      "treeinstruct_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "treeinstruct_score", "treeinstruct_sample_evaluator")),
      "code_code_to_instruction_generator" -> (p => graft.ops.code.CodeToInstructionGenerator(key(p), Registry.serving(p))),
      "code_instruction_generator" -> (p => graft.ops.code.CodeInstructionGenerator(key(p), Registry.serving(p))),
      "code_enhancement_instruction_generator" -> (p => graft.ops.code.CodeEnhancementInstructionGenerator(p.getOrElse("input_key", "instruction"), Registry.serving(p))),
      "code_instruction_to_code_generator" -> (p => graft.ops.code.CodeInstructionToCodeGenerator(p.getOrElse("input_key", "instruction"), Registry.serving(p))),
      "phi4qa_generator" -> (p => graft.ops.code.Phi4QAGenerator(p.getOrElse("input_key", "raw_content"), Registry.serving(p))),
      "langkit_filter" -> (p => LangkitFilter(key(p), i(p, "min_chars", 1), i(p, "max_chars", 1000000), i(p, "min_words", 1), i(p, "max_words", 100000), i(p, "min_sentences", 0), i(p, "max_sentences", 100000))),
      "condor_generator" -> (p => graft.ops.gen.CondorGenerator(p.getOrElse("seed_key", "seed"), Registry.serving(p))),
      "reasoning_question_generator" -> (p => graft.ops.reasoning.ReasoningQuestionGenerator(p.getOrElse("seed_key", "instruction"), Registry.serving(p))),
      "reasoning_question_filter" -> (p => graft.ops.reasoning.ReasoningQuestionFilter(p.getOrElse("question_key", "instruction"), Registry.serving(p))),
      "reasoning_answer_model_judge_filter" -> (p => graft.ops.reasoning.ReasoningAnswerModelJudgeFilter(p.getOrElse("answer_key", "answer"), p.getOrElse("golden_key", "golden_answer"), Registry.serving(p))),
      // by-name parity aliases: the reference name resolves to the op that
      // implements the same semantics here
      "reasoning_answer_pipeline_root_filter" -> (p => graft.ops.reasoning.AnswerGroundTruthFilter(p.getOrElse("answer_key", "output"), p.getOrElse("golden_key", "golden_answer"))),
      "reasoning_answer_extraction_qwen_math_eval_generator" -> (p => graft.core.TransformOp("reasoning_answer_extraction_qwen_math_eval_generator", Seq(p.getOrElse("input_key", "answer")), Seq("extracted_answer"), df => df.withColumn("extracted_answer", graft.ops.reasoning.AnswerExtraction.finalAnswer(org.apache.spark.sql.functions.col(p.getOrElse("input_key", "answer")))))),
      "stemming_lemmatization_refiner" -> (p => StemmingRefiner(key(p))),
      "code_length_sample_filter" -> (p => graft.ops.code.CodeLengthFilter(key(p), i(p, "max_lines", 100000), i(p, "max_line_length", 1000))),
      "code_document_quality_sample_evaluator" -> (p => graft.core.TransformOp("code_document_quality_sample_evaluator", Seq(key(p)), Seq("doc_quality_label"), df => df.withColumn("doc_quality_label", graft.ops.code.CodeDocumentQualityFilter(key(p)).predicate.cast("int")))),
      "code_quality_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "code_quality_score", "code_quality_sample_evaluator")),
      "bert_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "bert_score", "bert_sample_evaluator")),
      "perspective_sample_evaluator" -> (p => ModelScoreEvaluator(key(p), Registry.scorer(p), "toxicity", "perspective_sample_evaluator")),
      "perspective_filter" -> (p => graft.ops.code.CodeGenericScoreFilter(key(p), Registry.scorer(p), d(p, "min_score", 0.0), d(p, "max_score", 0.5), "toxicity")),
      "text2sql_cot_generator" -> (p => graft.ops.text2sql.Text2SQLCoTVotingGenerator(p.getOrElse("input_key", "sql"), p.getOrElse("output_key", "cot"), Registry.serving(p), samples = 1)),
      "qa_extractor" -> (p => graft.ops.gen.QAExtractGenerator(key(p), p.getOrElse("id_key", "doc_id"))),
      "extract_smiles_from_text_generator" -> (p => graft.core.TransformOp("extract_smiles_from_text_generator", Seq(key(p)), Seq("smiles_candidates"), df => df.withColumn("smiles_candidates", graft.ops.code.SmilesExtract.candidates(org.apache.spark.sql.functions.col(key(p)))))),
      "func_call_conversation_sample_evaluator" -> (p => graft.ops.conversations.ConversationStatsEvaluator(p.getOrElse("input_key", "conversations"))),
      "kbc_chunk_generator_batch" -> (p => graft.ops.gen.ChunkSplitter(key(p), p.getOrElse("id_key", "doc_id"), p.getOrElse("mode", "token"), i(p, "chunk_size", 512), i(p, "min_chunk_tokens", 0))),
      "kbc_text_cleaner" -> (p => graft.ops.gen.ChunkedPromptedGenerator(key(p), p.getOrElse("id_key", "doc_id"), p.getOrElse("output_key", "cleaned"), Registry.serving(p), i(p, "chunk_words", 30), "CLEAN")),
      "kbc_text_cleaner_batch" -> (p => graft.ops.gen.ChunkedPromptedGenerator(key(p), p.getOrElse("id_key", "doc_id"), p.getOrElse("output_key", "cleaned"), Registry.serving(p), i(p, "chunk_words", 30), "CLEAN")),
      "text2multihopqa_generator" -> (p => graft.ops.gen.Text2MultiHopQAGenerator(p.getOrElse("hop1_key", "t1"), p.getOrElse("hop2_key", "t2"), Registry.serving(p))),
      "kbc_multihop_qa_generator_batch" -> (p => graft.ops.gen.Text2MultiHopQAGenerator(p.getOrElse("hop1_key", "t1"), p.getOrElse("hop2_key", "t2"), Registry.serving(p))),
      "agenticrag_atomic_task_generator" -> (p => graft.ops.gen.AgenticRAGAtomicTaskGenerator(key(p), Registry.serving(p))),
      "agenticrag_depth_qa_generator" -> (p => graft.ops.gen.AgenticRAGDepthQAGenerator(p.getOrElse("task_key", "atomic_task"), Registry.serving(p))),
      "agenticrag_width_qa_generator" -> (p => graft.ops.gen.AgenticRAGWidthQAGenerator(p.getOrElse("qa_key", "depth_qa"), Registry.serving(p))),
      "sft_generator_seed" -> (p => graft.ops.gen.SFTGeneratorSeed(p.getOrElse("seed_key", "seed"), Registry.serving(p))),
      "bench_answer_generator" -> (p => graft.ops.gen.BenchAnswerGenerator(p.getOrElse("question_key", "question"), Registry.serving(p))),
      "smiles_equivalence_dataset_evaluator" -> (p => graft.core.TransformOp("smiles_equivalence_dataset_evaluator", Seq(p.getOrElse("gold_key", "golden_label"), p.getOrElse("synth_key", "synth_smiles")), Seq("total", "equivalent", "accuracy"), SmilesEquivalenceDatasetEvaluator(p.getOrElse("gold_key", "golden_label"), p.getOrElse("synth_key", "synth_smiles")).apply)))

  /** Default prompt templates (the analogue of the `dataflow/prompts`
    * package — core_text / text2qa / kbcleaning families) plus the per-op
    * allow-lists the reference declares with `@prompt_restrict`. */
  private def registerPrompts(): Unit = {
    import graft.core.{PromptRegistry, PromptTemplate}
    Seq(
      PromptTemplate("core_text_generate", "{text}", systemPrompt = "GEN"),
      PromptTemplate("core_text_judge", "{text}", systemPrompt = "JUDGE"),
      PromptTemplate("core_text_refine", "{text}", systemPrompt = "REFINE"),
      PromptTemplate("text2qa_question", "Q({lang}): {text}", systemPrompt = "QGEN"),
      PromptTemplate("kbc_clean", "{text}", systemPrompt = "CLEAN"),
    ).foreach(PromptRegistry.register)
    PromptRegistry.restrict("prompted_generator",
      "core_text_generate", "text2qa_question", "kbc_clean")
    PromptRegistry.restrict("prompted_filter", "core_text_judge")
    PromptRegistry.restrict("prompted_refiner", "core_text_refine", "kbc_clean")
  }
}
