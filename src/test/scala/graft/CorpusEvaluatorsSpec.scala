package graft

import graft.ops.eval.CorpusEvaluators

/** Null and degenerate-input semantics of the corpus-IDF evaluators. */
class CorpusEvaluatorsSpec extends SparkSuite {
  import spark.implicits._

  /** Reference CIDEr unigram score: idf = ln(n / dfreq) with dfreq
    * counted over every pair's ref tokens, null text = no tokens. */
  private def reference(pairs: Seq[(Long, String, String)]): Map[Long, Double] = {
    def toks(s: String) = Option(s).toSeq.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val n = pairs.size.toDouble
    val dfreq = pairs.flatMap(p => toks(p._3).distinct).groupBy(identity)
      .view.mapValues(_.size).toMap
    pairs.collect { case (id, p, r) if (toks(p) ++ toks(r)).nonEmpty =>
      def w(ts: Seq[String]) = ts.groupBy(identity).map { case (t, xs) =>
        t -> xs.size * dfreq.get(t).map(d => math.log(n / d)).getOrElse(0.0)
      }
      val (wp, wr) = (w(toks(p)), w(toks(r)))
      val dot = wp.map { case (t, x) => x * wr.getOrElse(t, 0.0) }.sum
      val (np, nr) = (math.sqrt(wp.values.map(x => x * x).sum),
        math.sqrt(wr.values.map(x => x * x).sum))
      id -> (if (np == 0 || nr == 0) 0.0
             else BigDecimal(dot / (np * nr)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("ciderUnigram: a null-pred pair keeps its ref tokens in dfreq and scores 0") {
    val pairs = Seq[(Long, String, String)]((1L, null, "a b"),
      (2L, "a b", "a c"), (3L, "b c", "b c d"))
    val got = CorpusEvaluators.ciderUnigram(pairs.toDF("id", "pred", "ref"),
      "pred", "ref", "id").as[(Long, Double)].collect().toMap
    assert(got == reference(pairs))
    assert(got(1L) == 0.0)
    // the check discriminates: dropping pair 1 moves pair 2's score
    assert(reference(pairs.tail)(2L) != got(2L))
    // a null ref side keeps the pred's id too
    val nullRef = Seq[(Long, String, String)]((1L, "a b", null), (2L, "a b", "a c"))
    val got2 = CorpusEvaluators.ciderUnigram(nullRef.toDF("id", "pred", "ref"),
      "pred", "ref", "id").as[(Long, Double)].collect().toMap
    assert(got2 == reference(nullRef))
  }
}
