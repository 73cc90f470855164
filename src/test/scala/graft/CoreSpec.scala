package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.ops.filter._
import graft.ops.refine._
import graft.ops.dedup._

class CoreSpec extends SparkSuite {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("pipeline validates key flow") {
    val p = Pipeline.of(WordNumberFilter("nope", 1, 10))
    val docs = Storage.table(spark, sf, "documents")
    val e = intercept[IllegalArgumentException](p(docs))
    assert(e.getMessage.contains("nope"))
  }

  test("keepFirst keeps smallest order key per group") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "k")
    val out = Dedup.keepFirst(df, col("k"), col("id"))
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 5L))
  }

  test("word count handles empty and multi-space strings") {
    import spark.implicits._
    val df = Seq("", "  ", "a b", " a  b  c ").toDF("text")
    val got = df.select(graft.functions.text.wordCount(col("text"))).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 2, 3))
  }

  test("refiner chain composes lazily into one plan") {
    val docs = Storage.table(spark, sf, "documents")
    val p = Pipeline.of(
      LowercaseRefiner("text"),
      RemoveExtraSpacesRefiner("text"),
      WordNumberFilter("text", 1, 1000000))
    val out = p(docs)
    assert(out.count() > 0)
    // whole pipeline is one plan: no intermediate InMemoryRelation/scan split
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("InMemoryRelation"))
  }

  test("minhash dedup drops near-duplicates and is idempotent") {
    val docs = Storage.table(spark, sf, "documents")
    val op = MinHashDeduplicateFilter("text", "doc_id", ngram = 3, threshold = 0.9)
    val once = op(docs).cache()
    val n1 = once.count()
    assert(n1 > 0 && n1 <= docs.count())
    assert(op(once).count() == n1) // idempotent
  }

  test("simhash exact-band candidates match brute-force hamming") {
    val docs = Storage.table(spark, sf, "documents").limit(100)
    val op = SimHashDeduplicateFilter("text", "doc_id", hammingK = 3)
    val kept = op(docs).count()
    // brute force: compute sigs, all pairs
    val sigs = docs.select(col("doc_id"), op.simhash(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val dropped = sigs.indices.flatMap { j =>
      val (idj, sj) = sigs(j)
      if (sigs.take(j).exists { case (_, si) =>
        java.lang.Long.bitCount(si ^ sj) <= 3 }) Some(idj) else None
    }.toSet
    assert(kept == sigs.length - dropped.size)
  }

  test("registry resolves and errors helpfully") {
    Registry.register("word_number_filter")(p =>
      WordNumberFilter(p.getOrElse("key", "text"), p.getOrElse("min", "20").toInt,
        p.getOrElse("max", "100000").toInt))
    assert(Registry.get("word_number_filter").name == "word_number_filter")
    val e = intercept[NoSuchElementException](Registry.get("zzz"))
    assert(e.getMessage.contains("zzz"))
  }

  test("kcenter greedy keeps exactly k diverse rows") {
    val emb = Storage.table(spark, sf, "embeddings")
    val out = KCenterGreedyFilter("embedding", "vec_id", k = 50)(emb)
    assert(out.count() == 50)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("query families are disjoint and together hold every query") {
    // `++` would let a later family silently replace an earlier one's query
    val keys = SparkEntry.families.map(_.keySet)
    for (Seq(a, b) <- keys.combinations(2))
      assert((a & b).isEmpty, s"in two families: ${a & b}")
    assert(keys.map(_.size).sum == 205)
    assert(keys.reduce(_ ++ _) == SparkEntry.queries.keySet)
  }
}
