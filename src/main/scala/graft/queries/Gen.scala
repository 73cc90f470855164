package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.gen._

/** Prompted generators, chunking, extraction and retrieval (`graft.ops.gen`). */
object Gen {
  def queries: Map[String, Q] = Map(
    "gen_prompted" -> oracled(
      s"SELECT doc_id, 'echo[SYS]:' || text AS gen FROM $D") { (s, dir) =>
      PromptedGenerator("text", "gen", mock, "SYS")(t(s, dir, D))
        .select("doc_id", "gen")
    },
    "gen_format_str" -> oracled(
      s"SELECT doc_id, 'echo[]:Q(' || lang || '): ' || text AS gen FROM $D") {
      (s, dir) =>
        FormatStrPromptedGenerator("Q({lang}): {text}", "gen", mock)(t(s, dir, D))
          .select("doc_id", "gen")
    },
    "filter_prompted" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE length(text) % 2 = 0") { (s, dir) =>
      PromptedFilter("text", mock)(t(s, dir, D)).select("doc_id", "n_chars")
    },
    "refine_prompted" -> oracled(
      s"SELECT doc_id, 'echo[REWRITE]:' || text AS text FROM $D") { (s, dir) =>
      PromptedRefiner("text", mock, "REWRITE")(t(s, dir, D))
        .select("doc_id", "text")
    },
    "eval_prompted" -> oracled(
      s"SELECT doc_id, CAST(length(text) % 100 AS DOUBLE) / 10.0 AS llm_score FROM $D") {
      (s, dir) =>
        PromptedEvaluator("text", "llm_score", mock)(t(s, dir, D))
          .select("doc_id", "llm_score")
    },
    "refine_condor" -> oracled(
      s"""SELECT doc_id, 'echo[CRITIQUE]:' || text AS critique,
         |  'echo[REWRITE]:' || text || ' <CRIT> echo[CRITIQUE]:' || text AS text
         |FROM $D""".stripMargin) { (s, dir) =>
      CondorRefiner("text", mock)(t(s, dir, D))
        .select("doc_id", "critique", "text")
    },
    "gen_chunked" -> oracled(
      s"""SELECT doc_id, array_to_string(list_transform(
         |  list_transform(range(0, greatest(CAST(ceil(CAST(${sqlWordCount("text")} AS DOUBLE) / 20.0) AS BIGINT), 1)),
         |    i -> array_to_string(list_slice(${sqlWords("text")}, i*20 + 1, i*20 + 20), ' ')),
         |  c -> 'echo[]:' || c), ' | ') AS gen
         |FROM $D""".stripMargin) { (s, dir) =>
      ChunkedPromptedGenerator("text", "doc_id", "gen", mock, chunkWords = 20)(
        t(s, dir, D)).select("doc_id", "gen")
    },
    // emitted as integer thousandths (exact) rather than doubles — string
    // canonicalization that is stable across engines' float formatting
    "gen_embedding" -> oracled(
      s"""SELECT doc_id, array_to_string(list_transform(range(0, 16),
         |  i -> (('0x' || substr(md5(text), 1, 8))::BIGINT + 31*i) % 1000), ',') AS emb
         |FROM $D""".stripMargin) { (s, dir) =>
      EmbeddingGenerator("text", "emb", mock)(t(s, dir, D))
        .select(col("doc_id"),
          concat_ws(",", transform(col("emb"),
            x => round(x * 1000).cast("long"))).as("emb"))
    },
    "gen_rows" -> oracled(
      "SELECT range AS id, 'echo[GEN]:seed-' || range AS content FROM range(100)") {
      (s, _) => RowGenerator.domainRows(s, 100, mock)
    },
    "gen_text2qa" -> oracled(
      s"""SELECT doc_id, 'echo[QGEN]:' || text AS question,
         |  'echo[AGEN]:echo[QGEN]:' || text AS answer FROM $D""".stripMargin) {
      (s, dir) =>
        Text2QAGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "question", "answer")
    },
    "gen_retrieval" -> oracled {
      // RAG chain: mock-embed 3 query docs + a 50-doc corpus, cosine
      // top-1 context (self excluded), answer = LLM(context <SEP> query)
      val emb = (c: String) => s"""list_transform(range(0, 16),
        | i -> CAST((('0x' || substr(md5($c), 1, 8))::BIGINT + 31*i) % 1000 AS DOUBLE) / 1000.0)""".stripMargin
      s"""WITH corpus AS (SELECT doc_id, text, ${emb("text")} AS e FROM $D WHERE doc_id < 50),
         |queries AS (SELECT doc_id, text, e FROM corpus WHERE doc_id < 3),
         |scored AS (SELECT q.doc_id AS qid, c.doc_id AS cid, c.text AS ctx,
         |    ${sqlCosine("q.e", "c.e", 16)} AS cos
         |  FROM queries q, corpus c WHERE c.doc_id <> q.doc_id),
         |ranked AS (SELECT qid, ctx,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |  FROM scored)
         |SELECT q.doc_id, 'echo[RAG]:' || r.ctx || ' <SEP> ' || q.text AS answer
         |FROM queries q JOIN ranked r ON r.qid = q.doc_id AND r.rnk = 1""".stripMargin
    } { (s, dir) =>
      val corpus = t(s, dir, D).filter(col("doc_id") < 50)
      val queries = corpus.filter(col("doc_id") < 3)
      RetrievalGenerator("text", "answer", corpus, "text", "doc_id", mock, k = 1)(
        queries).select("doc_id", "answer")
    },
    "kbc_chunks_semantic" -> oracled(
      // embedding-boundary chunking: mock sentence embeddings, boundary
      // where adjacent cosine < 0.75, chunks re-joined '. ' in order
      s"""WITH c AS (SELECT doc_id, translate(text, ' ', '.') AS t FROM $D),
         |s AS (SELECT doc_id, unnest(list_filter(list_transform(
         |    regexp_split_to_array(t, '[.!?]+'), x -> trim(x)), x -> x <> ''))
         |    AS sent, generate_subscripts(list_filter(list_transform(
         |    regexp_split_to_array(t, '[.!?]+'), x -> trim(x)), x -> x <> ''), 1) - 1 AS sp
         |  FROM c),
         |e AS (SELECT doc_id, sp, sent, list_transform(range(0, 16),
         |    i -> CAST((('0x' || substr(md5(sent), 1, 8))::BIGINT + 31*i) % 1000 AS DOUBLE) / 1000.0) AS emb
         |  FROM s),
         |b AS (SELECT doc_id, sp, sent, emb,
         |    lag(emb) OVER (PARTITION BY doc_id ORDER BY sp) AS prev FROM e),
         |f AS (SELECT doc_id, sp, sent,
         |    CASE WHEN prev IS NULL THEN 1
         |         WHEN ${sqlCosine("prev", "emb", 16)} < 0.75 THEN 1 ELSE 0 END AS bd
         |  FROM b),
         |g AS (SELECT doc_id, sp, sent,
         |    SUM(bd) OVER (PARTITION BY doc_id ORDER BY sp) AS grp FROM f),
         |ch AS (SELECT doc_id, grp, MIN(sp) AS first_sp,
         |    string_agg(sent, '. ' ORDER BY sp) AS raw_chunk
         |  FROM g GROUP BY doc_id, grp)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY first_sp) - 1 AS INT) AS pos,
         |  raw_chunk
         |FROM ch""".stripMargin) { (s, dir) =>
      ChunkSplitter("text", "doc_id", mode = "semantic",
        serving = Some(mock), simThreshold = 0.75)(
        t(s, dir, D).withColumn("text", translate(col("text"), " ", ".")))
    },
    "kbc_chunks_merged" -> oracled(
      // token chunks at 20 with min 12: every full window stands alone,
      // a short tail (< 12 tokens) merges backward into the previous
      // chunk — the reference's min_tokens_per_chunk behavior
      s"""WITH c AS (SELECT doc_id, ${sqlWords("text")} AS ws,
         |  CAST(${sqlWordCount("text")} AS INT) AS wc FROM $D),
         |m AS (SELECT doc_id, ws, wc,
         |  CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) AS n0,
         |  CASE WHEN wc % 20 BETWEEN 1 AND 11
         |        AND CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) > 1
         |       THEN CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) - 1
         |       ELSE CAST(greatest(ceil(CAST(wc AS DOUBLE) / 20.0), 1) AS INT) END AS m
         |  FROM c)
         |SELECT doc_id, CAST(i AS INT) AS pos,
         |  CASE WHEN i < m - 1
         |       THEN array_to_string(list_slice(ws, i*20 + 1, i*20 + 20), ' ')
         |       ELSE array_to_string(list_slice(ws, i*20 + 1, wc), ' ') END AS raw_chunk
         |FROM m, unnest(range(0, m)) u(i)""".stripMargin) { (s, dir) =>
      ChunkSplitter("text", "doc_id", mode = "token", chunkSize = 20,
        minChunkTokens = 12)(t(s, dir, D))
    },
    "kbc_chunks_sentence" -> oracled(
      // sentence-mode chunking (spaces → '.' first so sentences exist)
      s"""WITH c AS (SELECT doc_id, translate(text, ' ', '.') AS t FROM $D)
         |SELECT doc_id, unnest(list_transform(
         |  list_filter(list_transform(regexp_split_to_array(t, '[.!?]+'), s -> trim(s)),
         |    s -> s <> ''),
         |  (x, i) -> struct_pack(pos := CAST(i - 1 AS INT), raw_chunk := x)),
         |  recursive := true)
         |FROM c""".stripMargin) { (s, dir) =>
      ChunkSplitter("text", "doc_id", mode = "sentence")(
        t(s, dir, D).withColumn("text", translate(col("text"), " ", ".")))
    },
    "pretrain_format_convert" -> oracled(
      // SFT → pretrain-format conversion (`reasoning/generate/
      // reasoning_pretrain_format_convert_generator.py`)
      s"""SELECT doc_id, 'Question: ' || text || chr(10) || 'Answer: ' ||
         |  'echo[ANSWER]:' || text AS pretrain_text FROM $D""".stripMargin) {
      (s, dir) =>
        val answered = PromptedGenerator("text", "ans", mock, "ANSWER")(t(s, dir, D))
        answered.select(col("doc_id"),
          concat(lit("Question: "), col("text"), lit("\nAnswer: "), col("ans"))
            .as("pretrain_text"))
    },
    "gen_multihop_qa" -> oracled(
      // multi-hop QA from chunk pairs (`text2multihopqa_generator.py:23`):
      // adjacent-chunk pairing → joint prompt → LLM
      s"""WITH p AS (SELECT a.doc_id, a.text AS t1, b.text AS t2
         |  FROM $D a JOIN $D b ON b.doc_id = a.doc_id + 1)
         |SELECT doc_id, 'echo[MULTIHOP]:' || t1 || ' <HOP> ' || t2 AS qa FROM p""".stripMargin) {
      (s, dir) =>
        val d = t(s, dir, D)
        val pairs = d.select(col("doc_id"), col("text").as("t1"))
          .join(d.select((col("doc_id") - 1).as("doc_id"), col("text").as("t2")),
            Seq("doc_id"))
        Text2MultiHopQAGenerator("t1", "t2", mock)(pairs).select("doc_id", "qa")
    },
    "gen_consistent_chat" -> oracled(
      """SELECT t.i AS topic_id, s.j AS intent_id,
        |  'echo[CHAT]:topic-' || t.i || ':intent-' || s.j AS dialog
        |FROM range(5) t(i), range(4) s(j)""".stripMargin) { (s, _) =>
      ConsistentChatGenerator.grid(s, 5, 4, mock)
    },
    "gen_bench_answer" -> oracled(
      s"""SELECT doc_id, 'echo[ANSWER]:' || text AS answer FROM $D""") {
      (s, dir) =>
        BenchAnswerGenerator("text", mock)(t(s, dir, D))
          .select("doc_id", "answer")
    },
    "gen_sft_seed" -> oracled(
      s"""SELECT doc_id, lang AS instruction, 'ans:' || lang AS output
         |FROM $D""".stripMargin) { (s, dir) =>
      SFTGeneratorSeed("lang", mock)(t(s, dir, D))
        .select("doc_id", "instruction", "output")
    },
    "gen_sft_parse" -> oracled(
      s"""WITH j AS (SELECT doc_id, to_json(struct_pack(instruction := text,
         |  output := 'echo[SFT]:' || text)) AS raw FROM $D)
         |SELECT doc_id, json_extract_string(raw, '$$.instruction') AS instruction,
         |  json_extract_string(raw, '$$.output') AS output FROM j""".stripMargin) {
      (s, dir) =>
        // SFT-from-seed shape (`sft_generator_from_seed.py:32-71`): LLM
        // emits JSON; parse it back into typed columns with from_json
        val raw = t(s, dir, D).withColumn("raw",
          to_json(struct(col("text").as("instruction"),
            concat(lit("echo[SFT]:"), col("text")).as("output"))))
        raw.select(col("doc_id"),
          from_json(col("raw"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("instruction",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("output",
              org.apache.spark.sql.types.StringType)))).as("__p"))
          .select(col("doc_id"), col("__p.instruction").as("instruction"),
            col("__p.output").as("output"))
    },
    "kbc_clean_chunks" -> oracled(
      // KBC chunk-clean chain (`kbc_text_cleaner`): chunk → LLM-clean
      // each chunk → reassemble in order
      s"""SELECT doc_id, array_to_string(list_transform(
         |  list_transform(range(0, greatest(CAST(ceil(CAST(${sqlWordCount("text")} AS DOUBLE) / 30.0) AS BIGINT), 1)),
         |    i -> array_to_string(list_slice(${sqlWords("text")}, i*30 + 1, i*30 + 30), ' ')),
         |  c -> 'echo[CLEAN]:' || c), ' | ') AS cleaned
         |FROM $D""".stripMargin) { (s, dir) =>
      ChunkedPromptedGenerator("text", "doc_id", "cleaned", mock,
        chunkWords = 30, systemPrompt = "CLEAN")(t(s, dir, D))
        .select("doc_id", "cleaned")
    },
    "agentic_rag_chain" -> oracled(
      // AgenticRAG atomic→depth→width task synthesis
      // (`agenticrag_atomic_task_generator.py:36` et seq.)
      s"""SELECT doc_id, 'echo[ATOMIC]:' || text AS atomic_task,
         |  'echo[DEPTH]:echo[ATOMIC]:' || text AS depth_qa,
         |  'echo[WIDTH]:echo[DEPTH]:echo[ATOMIC]:' || text AS width_qa
         |FROM $D""".stripMargin) { (s, dir) =>
      val s1 = AgenticRAGAtomicTaskGenerator("text", mock)(t(s, dir, D))
      val s2 = AgenticRAGDepthQAGenerator("atomic_task", mock)(s1)
      AgenticRAGWidthQAGenerator("depth_qa", mock)(s2)
        .select("doc_id", "atomic_task", "depth_qa", "width_qa")
    },
    "kbc_chunks" -> oracled(
      s"""SELECT doc_id, unnest(list_transform(
         |  range(0, greatest(CAST(ceil(CAST(${sqlWordCount("text")} AS DOUBLE) / 20.0) AS BIGINT), 1)),
         |  i -> struct_pack(pos := CAST(i AS INT),
         |    chunk := array_to_string(list_slice(${sqlWords("text")}, i*20 + 1, i*20 + 20), ' '))),
         |  recursive := true)
         |FROM $D""".stripMargin) { (s, dir) =>
      // materialized word array + outer explode: same single-tokenize
      // plan shape as ChunkSplitter (PlanSpec)
      val ws = col("__ws")
      val nChunks = ceil(size(ws).cast("double") / 20.0).cast("int")
      t(s, dir, D).withColumn("__ws", words(col("text")))
        .withColumn("__chunks",
          transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
            i => concat_ws(" ", slice(ws, i * 20 + 1, lit(20)))))
        .select(col("doc_id"), posexplode_outer(col("__chunks")).as(Seq("pos", "chunk")))
        .where(col("chunk").isNotNull)
    },
    "filter_llm_language" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE lang IN ('en', 'fr')") { (s, dir) =>
      LLMLanguageFilter("lang", mock, Seq("en", "fr"))(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "kbc_qa_extract" -> oracled(
      s"""SELECT doc_id, v.pos, 'q' || doc_id || '-' || (v.pos + 1) AS question,
         |  'a' || doc_id || '-' || (v.pos + 1) AS answer
         |FROM $D, (VALUES (0), (1)) v(pos)""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("text",
        concat(lit("Q: q"), col("doc_id"), lit("-1 A: a"), col("doc_id"),
          lit("-1 Q: q"), col("doc_id"), lit("-2 A: a"), col("doc_id"), lit("-2")))
      QAExtractGenerator("text", "doc_id")(df)
        .select("doc_id", "pos", "question", "answer")
    },
    "kbc_mathbook_extract" -> oracled(
      s"""SELECT doc_id, v.pos,
         |  CASE v.pos WHEN 0 THEN 'solve x' ELSE 'compute y' END AS question,
         |  CASE v.pos WHEN 0 THEN 'img' || doc_id ELSE '' END AS images
         |FROM $D, (VALUES (0), (1)) v(pos)""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("text",
        concat(lit("solve x <image>img"), col("doc_id"),
          lit(".jpg</image><SPACE>compute y")))
      MathbookQuestionExtract("text", "doc_id")(df)
        .select(col("doc_id"), col("pos"), col("question"),
          concat_ws(",", col("images")).as("images"))
    },
    "mm_vqa_format" -> oracled(
      s"""SELECT doc_id, to_json(struct_pack(
         |  messages := [
         |    struct_pack(role := 'user', content := 'what is ' || doc_id),
         |    struct_pack(role := 'assistant', content := text)],
         |  images := ['img' || doc_id || '.jpg'])) AS sharegpt
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D)
        .withColumn("question", concat(lit("what is "), col("doc_id")))
        .withColumn("answer", col("text"))
        .withColumn("images", array(concat(lit("img"), col("doc_id"), lit(".jpg"))))
      VQAFormatter()(df).select("doc_id", "sharegpt")
    },
    "mm_pdf_merge" -> oracled(
      // 3 synthesized pages per doc reassembled in page order
      s"""WITH pages AS (SELECT doc_id, v.p AS page,
         |  'p' || v.p || ':' || lang AS content
         |  FROM $D, (VALUES (0), (1), (2)) v(p))
         |SELECT doc_id, string_agg(content, chr(10) || chr(10) ORDER BY page) AS document
         |FROM pages GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val pages = t(s, dir, D)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(0), lit(2))).as("page"))
        .withColumn("content", concat(lit("p"), col("page"), lit(":"), col("lang")))
      PDFMerger()(pages).select("doc_id", "document")
    },
    "gen_llm_output_parse" -> oracled(
      s"""SELECT doc_id, 'q' || doc_id AS question, 'a' || doc_id AS answer
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("raw",
        concat(lit("Question: q"), col("doc_id"), lit("\nAnswer: a"), col("doc_id")))
      LLMOutputParser("raw")(df).select("doc_id", "question", "answer")
    },
    "gen_condor_pairs" -> oracled(
      s"""SELECT doc_id, 'echo[CONDORQ]:' || lang AS instruction,
         |  'echo[CONDORA]:echo[CONDORQ]:' || lang AS response FROM $D""".stripMargin) {
      (s, dir) =>
        CondorGenerator("lang", mock)(t(s, dir, D))
          .select("doc_id", "instruction", "response")
    })
}
