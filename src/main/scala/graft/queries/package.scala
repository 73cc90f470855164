package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Storage
import graft.ops.text.LanguageIdEvaluator
import graft.serving.MockServing

/** Registry queries grouped by operator family, one object per family,
  * each query next to its DuckDB oracle SQL. The helpers below are the
  * ones more than one family uses. */
package object queries {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Storage.table(s, dir, name)

  /** Non-empty whitespace tokens of a column. */
  private[queries] def sqlWords(c: String) =
    s"list_filter(regexp_split_to_array($c, '\\s+'), x -> x <> '')"

  private[queries] def sqlWordCount(c: String) = s"len(${sqlWords(c)})"

  private[queries] val D = "documents"

  /** A registry query and its DuckDB oracle SQL, if it has one. */
  private[graft] case class Q(fn: (SparkSession, String) => DataFrame, sql: Option[String])

  private[queries] def oracled(sql: String)(fn: (SparkSession, String) => DataFrame) = Q(fn, Some(sql))

  private[queries] def rowsOnly(fn: (SparkSession, String) => DataFrame) = Q(fn, None)

  /** DuckDB literal string list. */
  private[queries] def sqlLex(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB unique-n-gram ratio (matches text.ngramUniqueRatio). */
  private[queries] def sqlNgramUnique(c: String, n: Int): String = {
    val grams = s"CASE WHEN len(${sqlWords(c)}) < $n THEN [] " +
      s"ELSE list_transform(range(0, len(${sqlWords(c)}) - $n + 1), " +
      s"i -> array_to_string(list_slice(${sqlWords(c)}, i + 1, i + $n), ' ')) END"
    s"CASE WHEN len($grams) = 0 THEN 1.0 ELSE " +
      s"CAST(len(list_distinct($grams)) AS DOUBLE) / CAST(len($grams) AS DOUBLE) END"
  }

  /** DuckDB word n-grams (matches text.wordNgrams). */
  private[queries] def sqlWordNgrams(c: String, n: Int): String =
    s"CASE WHEN len(${sqlWords(c)}) < $n THEN [] " +
      s"ELSE list_transform(range(0, len(${sqlWords(c)}) - $n + 1), " +
      s"i -> array_to_string(list_slice(${sqlWords(c)}, i + 1, i + $n), ' ')) END"

  // MockServing responses are pure functions of (system, prompt), so even
  // the LLM family gets full value-level oracles:
  //   echo  → 'echo[<sys>]:<prompt>' ; JUDGE → yes iff even length ;
  //   SCORE → (len % 100)/10.0 ; embed_i → ((md5_32 + 31 i) % 1000)/1000
  private[graft] val mock = MockServing()

  /** DuckDB twin of [[LanguageIdEvaluator.predict]]: marker-hit argmax
    * with name-order tie-break, 'und' when nothing hits. */
  private[queries] def sqlLangIdPredict: String = {
    def hits(l: String) =
      s"len(list_filter(${sqlWords("lower(text)")}, w -> list_contains(${sqlLex(LanguageIdEvaluator.markers(l))}, w)))"
    s"""WITH s AS (SELECT doc_id, n_chars, ${hits("de")} AS sde, ${hits("en")} AS sen,
       |  ${hits("es")} AS ses, ${hits("fr")} AS sfr FROM $D)
       |SELECT doc_id, n_chars, CASE
       |  WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
       |  WHEN sde >= sen AND sde >= ses AND sde >= sfr THEN 'de'
       |  WHEN sen >= ses AND sen >= sfr THEN 'en'
       |  WHEN ses >= sfr THEN 'es' ELSE 'fr' END AS lang_pred
       |FROM s""".stripMargin
  }

  /** DuckDB sequential-fold cosine over DOUBLE[] (bit-matches
    * Similarity.cosine's fold order). */
  private[queries] def sqlCosine(a: String, b: String, dim: Int): String = {
    def fold(prods: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, $prods), (acc, x) -> acc + x)"
    val dot = fold(s"list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i])")
    val na = s"sqrt(${fold(s"list_transform(range(1, ${dim + 1}), i -> $a[i] * $a[i])")})"
    val nb = s"sqrt(${fold(s"list_transform(range(1, ${dim + 1}), i -> $b[i] * $b[i])")})"
    s"($dot) / (($na) * ($nb))"
  }

  /** DuckDB twin of `kernels.lshBuckets` / `cosine_lsh_buckets`: CTEs
    * `wt` (±1 plane weights from md5-nibble parity, one ORDERED list per
    * plane), `dots` (left-to-right folded dot per (vec, plane) — the same
    * summation order as the kernel, so signs are bit-identical), `codes`
    * and `buckets` ("table:code" keys). Expects a prior CTE `v(vec_id, e)`
    * with e = CAST(embedding AS DOUBLE[]). */
  private[queries] def sqlLshBucketCtes(bits: Int, dim: Int, tables: Int): String = {
    val tb = tables * bits
    // kernel parity on malformed vectors: null/empty vectors emit NO
    // buckets (kernels.lshBuckets returns empty — never a candidate), and
    // a short vector zero-pads the tail terms (adding +0.0 to a
    // left-to-right fold is IEEE-exact, matching the kernel's
    // min-length loop for the sign test)
    s"""wt AS (SELECT p.g AS p,
       |    list(CASE WHEN ('0x' || substr(md5(p.g || ':' || i.g), 1, 1))::INT % 2 = 0
       |              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END ORDER BY i.g) AS w
       |  FROM range(0, $tb) p(g), range(0, $dim) i(g) GROUP BY 1),
       |dots AS (SELECT v.vec_id, wt.p,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, ${dim + 1}),
       |        i -> CASE WHEN i <= len(v.e) THEN v.e[i] * wt.w[i]
       |             ELSE 0.0::DOUBLE END)),
       |      (acc, x) -> acc + x) AS dot
       |  FROM v, wt WHERE v.e IS NOT NULL AND len(v.e) > 0),
       |codes AS (SELECT vec_id, p // $bits AS tbl,
       |    SUM(CASE WHEN dot > 0 THEN (1::BIGINT << (p % $bits)) ELSE 0 END) AS code
       |  FROM dots GROUP BY 1, 2),
       |buckets AS (SELECT vec_id, tbl || ':' || code AS bucket FROM codes)""".stripMargin
  }

  private[queries] def words(c: org.apache.spark.sql.Column) = graft.functions.text.words(c)

  // ServingScorer over MockServing: score = (length(text) % 100) / 10.0 —
  // deterministic and SQL-expressible, so every threshold filter in the
  // family gets a full value-level oracle. Production binds a classifier /
  // reward endpoint through the same Scorer seam.
  private[queries] lazy val mockScorer = graft.serving.ServingScorer(mock)

  private[queries] val sqlMockScore = "CAST(length(text) % 100 AS DOUBLE) / 10.0"
}
