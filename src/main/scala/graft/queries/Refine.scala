package graft.queries

import org.apache.spark.sql.functions._
import graft.core.RefineOp
import graft.ops.filter._
import graft.ops.refine._

/** Refiners (`graft.ops.refine`). */
object Refine {
  private def refineQ(op: RefineOp, sqlExpr: String): Q =
    oracled(s"SELECT doc_id, $sqlExpr AS text FROM $D") { (s, dir) =>
      op(t(s, dir, D)).select("doc_id", "text")
    }

  def queries: Map[String, Q] = Map(
    "refine_remove_extra_spaces" -> refineQ(RemoveExtraSpacesRefiner("text"),
      "trim(regexp_replace(text, '\\s+', ' ', 'g'))"),
    "refine_lowercase" -> refineQ(LowercaseRefiner("text"), "lower(text)"),
    "refine_remove_number" -> refineQ(RemoveNumberRefiner("text"),
      "regexp_replace(text, '[0-9]', '', 'g')"),
    "refine_remove_stopwords" -> refineQ(RemoveStopwordsRefiner("text"),
      s"array_to_string(list_filter(${sqlWords("text")}, " +
        s"w -> NOT list_contains(${sqlLex(Lexicons.englishStopwords)}, lower(w))), ' ')"),
    "refine_remove_punctuation" -> refineQ(RemovePunctuationRefiner("text"),
      """regexp_replace(text, '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', '', 'g')"""),
    "refine_html_url_remover" -> refineQ(HtmlUrlRemoverRefiner("text"),
      "regexp_replace(regexp_replace(text, 'https?://[^\\s]+', '', 'g'), '<[^>]+>', '', 'g')"),
    "refine_remove_emoji" -> refineQ(RemoveEmojiRefiner("text"),
      "regexp_replace(text, '[\\x{1F300}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{FE0F}\\x{1F000}-\\x{1F02F}]', '', 'g')"),
    "refine_remove_repetitions_punct" -> refineQ(
      RemoveRepetitionsPunctuationRefiner("text"),
      RemoveRepetitionsPunctuationRefiner.punct.foldLeft("text") { (acc, ch) =>
        val esc = ch match {
          case c if "\\^$.|?*+()[]{}".contains(c) => "\\" + c
          case '\'' => "''"
          case c => c.toString
        }
        val rep = if (ch == '\'') "''" else ch.toString
        s"regexp_replace($acc, '$esc{2,}', '$rep', 'g')"
      }),
    "refine_remove_image_refs" -> refineQ(RemoveImageRefsRefiner("text"),
      """regexp_replace(regexp_replace(text, '!\[[^\]]*\]\([^)]*\)', '', 'g'), '<img[^>]*>', '', 'g')"""),
    "refine_html_entity" -> refineQ(HtmlEntityRefiner("text"),
      "replace(replace(replace(replace(replace(replace(text, '&nbsp;', ' '), " +
        "'&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&apos;', '''')"),
    "refine_remove_contractions" -> refineQ(RemoveContractionsRefiner("text"),
      "replace(replace(replace(replace(replace(replace(replace(replace(replace(" +
        "text, 'can''t', 'cannot'), 'won''t', 'will not'), 'n''t', ' not'), " +
        "'''re', ' are'), '''ve', ' have'), '''ll', ' will'), '''m', ' am'), " +
        "'it''s', 'it is'), 'let''s', 'let us')"),
    "refine_reference_remover" -> refineQ(ReferenceRemoverRefiner("text"),
      """regexp_replace(text, '\[[0-9]+(,\s*[0-9]+)*\]', '', 'g')"""),
    "refine_text_normalization" -> refineQ(TextNormalizationRefiner("text"),
      """regexp_replace(regexp_replace(text, '\$\s*([0-9]+(\.[0-9]+)?)', '\1 dollars', 'g'), """ +
        """'([0-9]{1,2})/([0-9]{1,2})/([0-9]{4})', '\3-\1-\2', 'g')"""),
    "refine_pii_anonymize" -> refineQ(PIIAnonymizeRefiner("text"),
      """regexp_replace(regexp_replace(regexp_replace(text, """ +
        """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), """ +
        """'\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}', '<PHONE>', 'g'), """ +
        """'\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g')"""),
    "refine_ner" -> refineQ(NERRefiner("text"),
      """regexp_replace(text, '([a-z],? )([A-Z][a-z]+( [A-Z][a-z]+)+)', '\1<ENTITY>', 'g')"""),
    "refine_stemming" -> refineQ(StemmingRefiner("text"),
      s"""array_to_string(list_transform(${sqlWords("text")}, w ->
         | CASE WHEN length(w) > 5 AND ends_with(w, 'ing') THEN substr(w, 1, length(w)-3)
         |      WHEN length(w) > 4 AND ends_with(w, 'ed') THEN substr(w, 1, length(w)-2)
         |      WHEN length(w) > 3 AND ends_with(w, 's') AND NOT ends_with(w, 'ss')
         |        THEN substr(w, 1, length(w)-1)
         |      ELSE w END), ' ')""".stripMargin),
    "refine_remove_emoticons" -> refineQ(RemoveEmoticonsRefiner("text"),
      s"array_to_string(list_filter(${sqlWords("text")}, w -> NOT list_contains(" +
        RemoveEmoticonsRefiner.table
          .map(e => "'" + e.replace("\\", "\\\\").replace("'", "''") + "'")
          .mkString("[", ",", "]") + ", w)), ' ')"),
    "refine_spelling" -> refineQ(SpellingCorrectionRefiner("text"),
      s"array_to_string(list_transform(${sqlWords("text")}, w -> CASE " +
        SpellingCorrectionRefiner.defaults.toSeq.sortBy(_._1)
          .map { case (k, v) => s"WHEN w = '$k' THEN '$v'" }.mkString(" ") +
        " ELSE w END), ' ')"))
}
