package graft

import graft.core.Storage
import graft.ops.dedup.MinHashDeduplicateFilter
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.execution.{ProjectExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Plan-quality assertions: the 100 TB story is only real if the plans
  * hold — pruned scans, pushed filters, broadcast dims, bucketed joins
  * without exchanges.
  */
class PlanSpec extends SparkSuite {
  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1 scan prunes to the four needed columns") {
    val plan = physicalPlan("q1_pricing")
    assert(plan.contains("l_returnflag"))
    assert(!plan.contains("l_shipdate"), "unused column not pruned from scan")
  }

  test("q3/q5 broadcast every dimension side") {
    Seq("q3_revenue_by_customer", "q5_region_revenue").foreach { q =>
      val plan = physicalPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q: no broadcast join")
      assert(!plan.contains("SortMergeJoin"), s"$q: dim join fell back to SMJ")
    }
  }

  test("language filter pushes the IN predicate to the parquet scan") {
    val plan = physicalPlan("filter_language")
    assert(plan.contains("PushedFilters: [") &&
      (plan.contains("In(lang") || plan.contains("EqualTo(lang")),
      s"lang predicate not pushed:\n${plan.take(800)}")
  }

  test("exact dedup is a single shuffle") {
    // other suites cache the same dedup result; a cache hit would splice
    // an InMemoryRelation (with its own captured Exchange) into the plan
    spark.sharedState.cacheManager.clearCache()
    val plan = physicalPlan("dedup_hash")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges")
  }

  /** The nodes of `df`'s final physical plan after running it: through
    * AQE query stages, but not into a reused exchange, whose work runs
    * once under its first use. */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  /** Projections in `nodes` that compute an expression matching `f`. */
  private def computing(nodes: Seq[SparkPlan])(
      f: PartialFunction[Expression, Boolean]): Seq[ProjectExec] = nodes.collect {
    case p: ProjectExec if p.projectList.exists(_.exists(f.applyOrElse(_, (_: Expression) => false))) => p
  }

  test("simhash dedup plan has no sort-merge join and hashes text once") {
    val nodes = executedNodes(SparkEntry.queries("dedup_simhash")(spark, sf))
    val smj = nodes.collect { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"sort-merge joins in the simhash plan:\n${nodes.head}")
    val hashing = computing(nodes) { case _: graft.functions.SimHash60 => true }
    assert(hashing.size == 1,
      s"simhash60 computed in ${hashing.size} projections:\n${nodes.head}")
  }

  test("minhash dedup plan shingles text once and reads no cache or checkpoint") {
    spark.sharedState.cacheManager.clearCache()
    val nodes = executedNodes(SparkEntry.queries("dedup_minhash")(spark, sf))
    val shingling = computing(nodes) {
      case u: ScalaUDF => u.udfName.contains(MinHashDeduplicateFilter.ShingleUdf)
    }
    assert(shingling.size == 1,
      s"shingles computed in ${shingling.size} projections:\n${nodes.head}")
    val stored = nodes.collect {
      case s: InMemoryTableScanExec => s
      case s: RDDScanExec => s
    }
    assert(stored.isEmpty, s"materialized inputs in the minhash plan:\n${nodes.head}")
  }

  test("narrow text ops have no shuffle at all") {
    Seq("refine_lowercase", "filter_word_number", "eval_langkit").foreach { q =>
      val plan = physicalPlan(q)
      assert(!plan.contains("Exchange"), s"$q shuffles unexpectedly")
    }
  }

  test("model-scored filters and LLM maps stay narrow") {
    Seq("filter_pt_fineweb_edu", "filter_sft_rm", "eval_pt_model_score",
      "mm_vqa", "gen_question_fusion").foreach { q =>
      val plan = physicalPlan(q)
      assert(!plan.contains("Exchange"), s"$q shuffles unexpectedly")
    }
  }

  test("semantic chunking has one exchange, the id spread, and no window or aggregate") {
    val plan = physicalPlan("kbc_chunks_semantic")
    val exchanges = "\\bExchange\\b".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(doc_id"), s"not spread by id:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Aggregate"), s"re-assembly left:\n$plan")
  }

  test("chunked prompting has no exchange and no join") {
    val plan = physicalPlan("gen_chunked")
    assert(!plan.contains("Exchange") && !plan.contains("Join"), s"gen_chunked:\n$plan")
  }

  test("per-row codec and sandbox ops skip the Row round trip") {
    Seq("mm_decode_png", "eval_code_sandbox").foreach { q =>
      val plan = physicalPlan(q)
      assert(!plan.contains("DeserializeToObject"), s"$q:\n$plan")
    }
  }

  test("join_bucketed query plan is exchange-free end to end") {
    val plan = physicalPlan("join_bucketed")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join/groupBy still shuffles:\n${plan.take(1200)}")
  }

  test("bucketed tables join without any exchange") {
    val s2 = spark // same session; tables land in its warehouse
    val li = Storage.table(s2, sf, "lineitem")
    val o = Storage.table(s2, sf, "orders")
    graft.core.Partitioning.writeBucketed(
      li.select("l_orderkey", "l_quantity"), "li_b", "l_orderkey", 8)
    graft.core.Partitioning.writeBucketed(
      o.select("o_orderkey", "o_totalprice").withColumnRenamed("o_orderkey", "l_orderkey"),
      "o_b", "l_orderkey", 8)
    try {
      val joined = s2.table("li_b").join(s2.table("o_b"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${plan.take(800)}")
      assert(joined.count() > 0)
    } finally {
      s2.sql("DROP TABLE IF EXISTS li_b")
      s2.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("token chunker tokenizes each document exactly once in the plan") {
    val d = core.Storage.table(spark, sf, "documents")
    val plan = graft.ops.gen.ChunkSplitter("text", "doc_id",
      mode = "token", chunkSize = 20)(d)
      .queryExecution.optimizedPlan.toString
    val splits = "split\\(".r.findAllIn(plan).length
    // one split() for the materialized __ws column - an inner posexplode
    // used to infer a size()>0 filter that re-inlined the chunk transform
    // (and its tokenize) below the projections
    assert(splits == 1, s"expected exactly 1 split() in plan, found $splits:\n$plan")
  }
}
