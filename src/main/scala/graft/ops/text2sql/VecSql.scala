package graft.ops.text2sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField}
import graft.core.Op
import graft.serving.{LLMMap, ServingClient}

/** Vector-SQL support: rewrite `lembed([model,] 'text')` calls inside SQL
  * statements into `vec_f32('[…]')` literals using the engine's embedding
  * serving — the analogue of the reference's sqlite-vec/sqlite-lembed
  * connector (`utils/text2sql/database_connector/sqlite_vec_connector.py`),
  * which loads a SQLite extension so `lembed()` embeds in-database. Spark
  * owns the model here, so the corpus's vector SQL becomes portable: after
  * rewriting, any JDBC target that understands `vec_f32('[json array]')`
  * (sqlite-vec's text form) — or any renderer you plug in — can execute it
  * through [[JdbcSqlBackend]] without loading extensions or shipping model
  * files to the database hosts.
  */
object VecSqlRewrite {
  /** `lembed('text')` or `lembed('model', 'text')` — string-literal args
    * only (SQL `''` escapes handled); dynamic args can't be pre-embedded. */
  private[text2sql] val Lembed =
    "(?i)lembed\\s*\\(\\s*'((?:[^']|'')*)'\\s*(?:,\\s*'((?:[^']|'')*)'\\s*)?\\)".r

  private def unescape(s: String) = s.replace("''", "'")

  /** Texts needing embedding, in match order. */
  def texts(sql: String): Seq[String] =
    Lembed.findAllMatchIn(sql).map { m =>
      unescape(if (m.group(2) != null) m.group(2) else m.group(1))
    }.toSeq

  /** Deterministic literal rendering: 3-decimal components (the mock
    * embedding's exact value grid), JSON-array text form. */
  def render(vec: Array[Double]): String =
    vec.map(v => "0." + f"${math.round(v * 1000)}%03d")
      .mkString("vec_f32('[", ",", "]')")

  /** Splice the pre-computed embeddings (match order) back into the SQL. */
  def splice(sql: String, vecs: Seq[Array[Double]]): String = {
    val it = vecs.iterator
    Lembed.replaceAllIn(sql,
      _ => java.util.regex.Matcher.quoteReplacement(render(it.next())))
  }

  /** One-shot rewrite via `serving.embed` (drivers/tests; the distributed
    * path is [[VecSqlRewriteGenerator]]). */
  def rewrite(sql: String, serving: ServingClient): String = {
    val ts = texts(sql)
    if (ts.isEmpty) sql else splice(sql, serving.embed(ts))
  }
}

/** Distributed vector-SQL rewriting over a statement column, in
  * [[LLMMap]]'s kernel: per batch of statements, every `lembed()` text is
  * embedded through [[LLMMap.perRow]] (calls of at most `batchSize`
  * texts) and spliced back into its own statement. Narrow, no shuffle; a
  * null statement rewrites to "". */
final case class VecSqlRewriteGenerator(sqlKey: String = "sql",
    outputKey: String = "vec_sql", serving: ServingClient,
    batchSize: Int = 64) extends Op {
  val name = "vec_sql_rewrite_generator"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Seq(outputKey)

  def apply(df: DataFrame): DataFrame = {
    val (sv, n) = (serving, batchSize)
    LLMMap.appended(df, StructField(outputKey, StringType), n)(LLMMap.text(df, sqlKey)) {
      stmts =>
        val vecs = LLMMap.perRow(stmts.map(VecSqlRewrite.texts), n)(sv.embed)
        stmts.lazyZip(vecs).map(VecSqlRewrite.splice)
    }
  }
}
