package graft


/** The hash kernels agree with their DuckDB replay forms and with the
  * slow per-gram computation they replace. */
class KernelsSpec extends SparkSuite {
  import spark.implicits._

  test("md5Prefix60 equals the DuckDB replay form (first 15 md5 hex chars as BIGINT)") {
    // the oracle recomputes the gram key as
    // ('0x' || substr(md5(g), 1, 15))::BIGINT — the kernel's bit
    // arithmetic must match that hex-parse definition exactly
    val samples = Seq("", "a", "alpha beta", "four gram token run",
      "naïve café 日本語", "", "x" * 500)
    samples.foreach { s =>
      val viaHex = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(
          s.getBytes("UTF-8")).substring(0, 15), 16)
      assert(graft.functions.kernels.md5Prefix60(s) == viaHex, s"input: $s")
    }
  }

  test("PairNgramTfGen matches a per-gram md5Prefix60 count done the slow way") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      ("a b c a b", "b c d"),
      ("naïve café 日本語 naïve café", "naïve café"),
      ("solo", ""),
      ("x x x x x", "x x"),
      (null, "only ref side"),
      ("only pred side", null)
    ).toDF("pred", "gold").withColumn("id", monotonically_increasing_id())
    val got = docs.select(col("id"), graft.functions.hashExpressions.pairNgramTf(
        graft.functions.text.words(col("pred")),
        graft.functions.text.words(col("gold")), 4))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getLong(2)), (r.getLong(3), r.getLong(4))))
      .toMap
    // slow-way expectation: String-joined grams through md5Prefix60
    def grams(s: String): Seq[(Int, Long)] =
      if (s == null) Nil
      else {
        val ws = graft.functions.kernels.splitWords(s)
        for (k <- 1 to 4; i <- 0 to ws.length - k)
          yield (k, graft.functions.kernels.md5Prefix60(ws.slice(i, i + k).mkString(" ")))
      }
    val expected = docs.select("id", "pred", "gold").collect().flatMap { r =>
      val id = r.getLong(0)
      val p = grams(r.getString(1)).groupBy(identity).view.mapValues(_.size.toLong)
      val g = grams(r.getString(2)).groupBy(identity).view.mapValues(_.size.toLong)
      (p.keySet ++ g.keySet).map { case key @ (n, h) =>
        ((id, n, h), (p.getOrElse(key, 0L), g.getOrElse(key, 0L)))
      }
    }.toMap
    assert(got == expected)
  }
}
