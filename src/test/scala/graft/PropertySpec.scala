package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.Storage
import graft.ops.dedup._
import graft.ops.refine._

/** Property tests — SURVEY §5's planned upgrade over the reference's
  * ad-hoc assertions: dedup idempotence, refiner fixpoints, metric
  * invariants. Uses ScalaCheck generators directly (fixed seeds →
  * reproducible samples) inside scalatest.
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
    "the", "cat", "sat", "on", "a", "mat", "42", "hello!", "  ", "…", "{x}"
  )).map(_.mkString(" "))

  private def samples(n: Int): Seq[Seq[String]] =
    (0 until n).map(i => Gen.listOfN(20, textGen)
      .apply(Gen.Parameters.default, Seed(i.toLong)).get)

  test("exact dedup is idempotent and keeps the min-id of each group") {
    val docs = Storage.table(spark, sf, "documents")
    val op = HashDeduplicateFilter(Seq("text"), "doc_id")
    val once = op(docs).cache()
    assert(op(once).count() == once.count())
    val mins = docs.groupBy(md5(col("text"))).agg(min("doc_id").as("m"))
      .select("m").as[Long].collect().toSet
    val kept = once.select("doc_id").as[Long].collect().toSet
    assert(kept == mins)
  }

  test("refiners are fixpoints on their own output") {
    samples(5).foreach { texts =>
      val df = texts.toDF("text")
      Seq(RemoveExtraSpacesRefiner("text"), LowercaseRefiner("text"),
        RemoveNumberRefiner("text"), RemovePunctuationRefiner("text"),
        RemoveRepetitionsPunctuationRefiner("text"))
        .foreach { op =>
          val once = op(df).select("text").as[String].collect().toSeq
          val twice = op(op(df)).select("text").as[String].collect().toSeq
          assert(once == twice, s"${op.name} not a fixpoint")
        }
    }
  }

  test("word count is invariant under extra-space removal") {
    samples(5).foreach { texts =>
      val df = texts.toDF("text")
      val before = df.select(graft.functions.text.wordCount(col("text")))
        .as[Int].collect().toSeq
      val after = RemoveExtraSpacesRefiner("text")(df)
        .select(graft.functions.text.wordCount(col("text"))).as[Int].collect().toSeq
      assert(before == after)
    }
  }

  test("minhash survivors shrink as the threshold loosens") {
    val docs = Storage.table(spark, sf, "documents")
    val strict = MinHashDeduplicateFilter("text", "doc_id", threshold = 1.0)(docs).count()
    val loose = MinHashDeduplicateFilter("text", "doc_id", threshold = 0.5)(docs).count()
    assert(loose <= strict)
  }

  test("registry inventory instantiates every registered op") {
    Ops.registerAll()
    assert(graft.core.Registry.known.size >= 70)
    graft.core.Registry.known.foreach { n =>
      val op = graft.core.Registry.get(n,
        Map("blocklist" -> "x,y", "allowed" -> "en"))
      assert(op.name.nonEmpty)
    }
  }
}
