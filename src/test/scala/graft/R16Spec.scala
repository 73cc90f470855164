package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 pins — the r15 ADVICE closures on the gate plumbing (the
  * cache-boundary width cases live in PartitioningSpec).
  *
  * 1. `oneJobCount` shuffle safety: `toRdd` on a shuffle-lineage input
  *    finalizes its exchanges under AQE as non-reusable jobs (the same
  *    hazard class on the ivfTopK QUERY side that `scanWidth` guards on
  *    the corpus side). Pins: exchange-free input still costs exactly
  *    one job; a shuffle-lineage input returns the correct count via the
  *    AQE-managed fallback (no contract violation, no wrong number).
  * 2. `sideCounts` (via lshTopK bits=0) accepts a shuffle-lineage corpus:
  *    the tagged union then carries an exchange, and the old direct
  *    runJob would have driven it through toRdd — the fallback must
  *    yield the same auto-bits/gate decisions, i.e. the same plan shape
  *    and rows as a narrow corpus of identical content.
  */
class R16Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Jobs started inside `body` (R15Spec's probe: attribution via an
    * exclusive job group; the status store is async, so poll to rest). */
  private def jobsDuring(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    var spins = 0
    while (cur != last && spins < 20) {
      last = cur; Thread.sleep(200)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
      spins += 1
    }
    cur
  }

  private def vecs(n: Int): DataFrame = {
    val dims = (1 to 64).map(d => sin((col("id") + 1) * d))
    spark.range(n).select(col("id").as("vec_id"),
      array(dims: _*).as("embedding"))
  }

  // ── oneJobCount: shuffle safety (ADVICE low #2) ──

  test("oneJobCount costs exactly one job on an exchange-free input") {
    import graft.ops.sim.Similarity
    var c = -1L
    val n = jobsDuring("r16-onejob-narrow") {
      c = Similarity.oneJobCount(vecs(123))
    }
    assert(c == 123L)
    assert(n == 1, s"exchange-free fast path must stay one job, saw $n")
  }

  test("oneJobCount on a shuffle-lineage input is correct via the fallback") {
    import graft.ops.sim.Similarity
    // groupBy lineage: the narrow projection still carries the exchange,
    // and toRdd would finalize it under AQE — the ivfTopK query-side
    // hazard. The fallback must return the right number.
    val grouped = vecs(200)
      .groupBy((col("vec_id") % 7).as("g")).count()
    assert(Similarity.oneJobCount(grouped) == 7L)
  }

  test("ivfTopK accepts a shuffle-lineage query set on a starved corpus") {
    import graft.ops.sim.Similarity
    val corpus = vecs(400).coalesce(1) // 1 split: gate consults qCount
    // a query set with an exchange in its lineage (repartition) and
    // enough rows to clear MinHealQueries — before r16 the gate drove
    // its exchanges through toRdd; now it must both heal and be correct
    val queries = vecs(1200).repartition(4, col("vec_id"))
    val res = Similarity.ivfTopK(corpus, queries, "embedding",
      "vec_id", k = 3, nLists = 4, nProbe = 4)
    val plan = res.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("roundrobin"),
      s"the heal must still fire for a shuffled 1200-row query set:\n$plan")
    assert(res.count() == 1200 * 3)
  }

  // ── sideCounts fallback: lshTopK bits=0 over a shuffled corpus ──

  test("lshTopK auto-bits works over a shuffle-lineage corpus") {
    import graft.ops.sim.Similarity
    val narrow = vecs(400)
    val shuffled = vecs(400).repartition(2, col("vec_id"))
    val queries = vecs(20)
    // bits=0 ⇒ sideCounts sees corpus+queries; the shuffled corpus puts
    // an exchange in the tagged union, taking the r16 fallback. Same
    // content ⇒ same auto-bits ⇒ same rows as the narrow corpus.
    val a = Similarity.lshTopK(narrow, queries, "embedding", "vec_id", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.lshTopK(shuffled, queries, "embedding", "vec_id", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b, s"narrow vs shuffled corpus disagree: ${a.size} vs ${b.size}")
  }
}
