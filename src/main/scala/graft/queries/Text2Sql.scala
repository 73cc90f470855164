package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.text2sql._

/** Text2SQL operators (`graft.ops.text2sql`) over a synthesized SQL corpus. */
object Text2Sql {
  // The reference ships per-db_id SQLite files; here the SQL corpus is
  // synthesized deterministically from testdata so every step has a
  // value-level oracle.
  private def synthSql = concat(lit("SELECT a FROM t"),
    repeat(lit(" JOIN b ON 1=1"), (col("doc_id") % 7).cast("int")),
    lit(" WHERE x > 0"))

  private val synthSqlSql =
    "'SELECT a FROM t' || repeat(' JOIN b ON 1=1', CAST(doc_id % 7 AS INT)) || ' WHERE x > 0'"

  def queries: Map[String, Q] = Map(
    "t2s_extract" -> oracled(
      s"""SELECT doc_id, trim(regexp_extract(
         |  'intro ```sql SELECT ' || doc_id || ' FROM t ``` outro',
         |  '(?s)```sql\\s*(.*?)```', 1)) AS sql FROM $D""".stripMargin) { (s, dir) =>
      t(s, dir, D).withColumn("raw",
        concat(lit("intro ```sql SELECT "), col("doc_id"), lit(" FROM t ``` outro")))
        .withColumn("sql", SqlExtract(col("raw")))
        .select("doc_id", "sql")
    },
    "t2s_executability" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 2 = 0") { (s, dir) =>
      val withSql = t(s, dir, D).withColumn("sql",
        when(col("doc_id") % 2 === 0,
          concat(lit("-- c\nSELECT "), col("doc_id"), lit(" AS x")))
          .otherwise(concat(lit("DROP TABLE t"), col("doc_id"))))
      SQLExecutabilityFilter("sql")(withSql).select("doc_id", "n_chars")
    },
    "t2s_classify" -> oracled(
      s"""WITH c AS (SELECT doc_id, lower($synthSqlSql) AS s FROM $D),
         |n AS (SELECT doc_id,
         |  len(regexp_extract_all(s, '\\bjoin\\b')) + len(regexp_extract_all(s, '\\bgroup\\s+by\\b'))
         |  + len(regexp_extract_all(s, '\\border\\s+by\\b'))
         |  + len(regexp_extract_all(s, '\\b(sum|avg|min|max|count)\\s*\\('))
         |  + len(regexp_extract_all(s, '\\bwhere\\b'))
         |  + len(regexp_extract_all(s, '\\b(union|intersect|except)\\b'))
         |  + greatest(len(regexp_extract_all(s, '\\bselect\\b')) - 1, 0) AS comp
         |  FROM c)
         |SELECT doc_id, CASE WHEN comp <= 1 THEN 'easy' WHEN comp <= 3 THEN 'medium'
         |  WHEN comp <= 5 THEN 'hard' ELSE 'extra' END AS hardness FROM n""".stripMargin) {
      (s, dir) =>
        SQLComponentClassifier("sql")(t(s, dir, D).withColumn("sql", synthSql))
          .select("doc_id", "hardness")
    },
    "t2s_prompt" -> oracled(
      s"""SELECT d.doc_id,
         |  '-- schema' || chr(10) || 'CREATE TABLE t_' || d.lang || '(x INT)' ||
         |  chr(10) || '-- question: ' || d.text || chr(10) || 'SELECT' AS prompt
         |FROM $D d""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, D)
      val schemas = docs.select(col("lang")).distinct()
        .withColumn("schema_ddl", concat(lit("CREATE TABLE t_"), col("lang"), lit("(x INT)")))
      Text2SQLPromptGenerator("lang", "text", "prompt", schemas)(docs)
        .select("doc_id", "prompt")
    },
    "t2s_variation" -> oracled(
      s"SELECT doc_id, 'echo[VARY]:' || ($synthSqlSql) AS variation FROM $D") {
      (s, dir) =>
        SQLVariationGenerator("sql", "variation", mock)(
          t(s, dir, D).withColumn("sql", synthSql)).select("doc_id", "variation")
    },
    "t2s_question_gen" -> oracled(
      s"SELECT doc_id, 'echo[QUESTION]:' || ($synthSqlSql) AS question FROM $D") {
      (s, dir) =>
        Text2SQLQuestionGenerator("sql", "question", mock)(
          t(s, dir, D).withColumn("sql", synthSql)).select("doc_id", "question")
    },
    "t2s_cot_voting" -> oracled(
      s"SELECT doc_id, 'echo[COT]:' || ($synthSqlSql) || '#0' AS cot FROM $D") {
      (s, dir) =>
        Text2SQLCoTVotingGenerator("sql", "cot", mock, samples = 3)(
          t(s, dir, D).withColumn("sql", synthSql)).select("doc_id", "cot")
    },
    "t2s_execution" -> oracled(
      s"SELECT doc_id, n_chars FROM $D WHERE doc_id % 2 = 0") { (s, dir) =>
      // distinct-statement count bounded by the mod (the reference caps
      // synthesis via generate_num the same way) — exec cost stays flat
      // as the corpus scales. Odd rows carry DDL: the SELECT/WITH guard
      // must reject them WITHOUT executing (a DROP reaching the live
      // session would be a real side effect).
      val withSql = t(s, dir, D).withColumn("sql",
        when(col("doc_id") % 2 === 0,
          concat(lit("SELECT "), col("doc_id") % 1000, lit(" AS x")))
          .otherwise(concat(lit("DROP TABLE IF EXISTS t"), col("doc_id"))))
      SQLExecutionFilter("sql", timeoutSec = 5)(withSql).select("doc_id", "n_chars")
    },
    "t2s_exec_classify" -> oracled(
      // generation-execution agreement difficulty: even rows' gold matches
      // all 10 mock candidates (cnt=10 → easy), odd rows' gold differs
      // (cnt=0 → extra)
      s"""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'easy' ELSE 'extra' END
         |  AS difficulty FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D)
        .withColumn("prompt",
          concat(lit("```sql SELECT "), col("doc_id") % 5, lit(" AS x ```")))
        .withColumn("gold_sql",
          when(col("doc_id") % 2 === 0,
            concat(lit("SELECT "), col("doc_id") % 5, lit(" AS x")))
            .otherwise(concat(lit("SELECT "), (col("doc_id") + 1) % 5, lit(" AS x"))))
      SQLExecutionClassifier("prompt", "gold_sql", mock)(df)
        .select("doc_id", "difficulty")
    },
    "t2s_correspondence" -> oracled(
      s"""SELECT doc_id, n_chars FROM $D
         |WHERE length('question: ' || text || chr(10) || 'sql: SELECT ' || doc_id
         |  || ' AS x' || chr(10) || 'schema: ') % 2 = 0""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("question", col("text"))
        .withColumn("sql", concat(lit("SELECT "), col("doc_id"), lit(" AS x")))
      Text2SQLCorrespondenceFilter("question", "sql", mock)(df)
        .select("doc_id", "n_chars")
    },
    "t2s_by_column" -> oracled(
      """SELECT lang AS db_id,
        |  'echo[SQLGEN]:CREATE TABLE t_' || lang || '(x INT) -- variant ' || v AS sql
        |FROM (SELECT DISTINCT lang FROM documents) d, range(3) r(v)""".stripMargin) {
      (s, dir) =>
        val dbs = t(s, dir, D).select(col("lang").as("db_id")).distinct()
          .withColumn("schema_ddl",
            concat(lit("CREATE TABLE t_"), col("db_id"), lit("(x INT)")))
        SQLByColumnGenerator("db_id", "schema_ddl", mock, generateNum = 3)(dbs)
    },
    "gen_sql" -> oracled(
      s"""SELECT doc_id, trim('echo[SQLGEN]:CREATE TABLE t_' || lang || '(x INT)') AS sql
         |FROM $D""".stripMargin) { (s, dir) =>
      val withSchema = t(s, dir, D).withColumn("schema_ddl",
        concat(lit("CREATE TABLE t_"), col("lang"), lit("(x INT)")))
      SQLGenerator("schema_ddl", "sql", mock)(withSchema).select("doc_id", "sql")
    },
    "t2s_schema_walk" -> oracled(
      // live-catalog schema discovery: one Derby table per document lang,
      // walked back out via DatabaseMetaData into CREATE TABLE DDL
      // (identifiers and types come back Derby-canonical: uppercase,
      // INTEGER, sized VARCHAR)
      """SELECT 'T_' || upper(lang) AS table_name,
        |  'CREATE TABLE T_' || upper(lang) ||
        |  ' (X INTEGER NOT NULL, Y VARCHAR(10), PRIMARY KEY (X))' AS schema_ddl
        |FROM (SELECT DISTINCT lang FROM documents)""".stripMargin) { (s, dir) =>
      // distinct langs is a bounded dim (the catalog itself); collected
      // only to CREATE the tables being discovered
      val langs = t(s, dir, D).select("lang").distinct()
        .collect().map(_.getString(0)).sorted
      val db = s"graft_walk_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        langs.foreach { l =>
          st.execute(s"CREATE TABLE t_$l (x INT NOT NULL, y VARCHAR(10), PRIMARY KEY (x))")
        }
        st.close()
      } finally conn.close()
      val out = SchemaWalk.walk(s, url)
      // in-memory Derby dbs live until dropped; the walk is eager, so the
      // db can go away before the DataFrame is consumed
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
      out
    },
    "t2s_vec_rewrite" -> oracled(
      // lembed('model','text') → vec_f32('[…]') with the mock embedding
      // grid (hash32 + 31i mod 1000, 3-decimal components)
      s"""SELECT doc_id,
         |  'SELECT id FROM items ORDER BY vec_distance_cos(emb, vec_f32(''[' ||
         |  array_to_string(list_transform(range(0, 16),
         |    i -> '0.' || lpad(((('0x' || substr(md5(text), 1, 8))::BIGINT + 31*i)
         |      % 1000)::VARCHAR, 3, '0')), ',') ||
         |  ']'')) LIMIT 5' AS vec_sql
         |FROM $D""".stripMargin) { (s, dir) =>
      val df = t(s, dir, D).withColumn("sql",
        concat(lit("SELECT id FROM items ORDER BY vec_distance_cos(emb, lembed('m1', '"),
          regexp_replace(col("text"), "'", "''"),
          lit("')) LIMIT 5")))
      VecSqlRewriteGenerator("sql", "vec_sql", mock)(df).select("doc_id", "vec_sql")
    },
    "t2s_classify_spider" -> oracled(
      // six structural variants with Spider-hardness ground truth — the
      // oracle pins expected labels per variant rather than re-deriving
      // them, so it checks the classifier's DECISIONS, not its regexes
      s"""SELECT doc_id, CASE doc_id % 6
         |  WHEN 0 THEN 'easy' WHEN 1 THEN 'easy' WHEN 2 THEN 'medium'
         |  WHEN 3 THEN 'hard' WHEN 4 THEN 'hard' ELSE 'extra' END AS hardness
         |FROM $D""".stripMargin) { (s, dir) =>
      val sql = when(col("doc_id") % 6 === 0, lit("SELECT a FROM t"))
        .when(col("doc_id") % 6 === 1, lit("SELECT a FROM t WHERE x > 0"))
        .when(col("doc_id") % 6 === 2,
          lit("SELECT a, b FROM t WHERE x > 0 AND y < 2"))
        .when(col("doc_id") % 6 === 3,
          lit("SELECT a FROM t JOIN u ON t.id = u.id WHERE x > 0 ORDER BY a"))
        .when(col("doc_id") % 6 === 4,
          lit("SELECT a FROM t WHERE x IN (SELECT y FROM u)"))
        .otherwise(lit("SELECT a, count(b), sum(c) FROM t JOIN u ON 1=1 JOIN v ON 1=1 " +
          "WHERE x > 0 OR y < 2 GROUP BY a ORDER BY a LIMIT 5"))
      SpiderHardnessClassifier("sql")(t(s, dir, D).withColumn("sql", sql))
        .select("doc_id", "hardness")
    })
}
