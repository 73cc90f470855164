package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions._
import graft.core.Partitioning
import graft.ops.sim.Similarity

/** The parallelism policy in [[Partitioning]] and the operators that use
  * it: the width probe never executes anything, a narrow input is spread
  * to session width only when worth it, and results never depend on
  * width. */
class PartitioningSpec extends SparkSuite {
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.toLowerCase

  // ── scanWidth: zero jobs, None whenever answering would execute ──

  test("scanWidth reads a narrow plan's width with zero jobs") {
    val narrow = vecs(100).coalesce(1)
    var got: Option[Int] = None
    val n = jobsDuring("scan-width-narrow") { got = Partitioning.scanWidth(narrow) }
    assert(got.contains(1), s"expected Some(1) for a coalesced scan, got $got")
    assert(n == 0, s"width probe of a narrow plan ran $n job(s)")
  }

  test("scanWidth refuses a shuffle-lineage plan with zero jobs") {
    // hash repartition → Exchange → AQE wraps the plan; building its RDD
    // would materialize the shuffle
    val shuffled = vecs(100).repartition(2, col("vec_id"))
    var got: Option[Int] = Some(-1)
    val n = jobsDuring("scan-width-shuffle") { got = Partitioning.scanWidth(shuffled) }
    assert(got.isEmpty, s"expected None for shuffle lineage, got $got")
    assert(n == 0, s"the width probe must run zero jobs; saw $n")
  }

  test("scanWidth refuses an unbuilt cache with zero jobs") {
    // the scan node is an InMemoryTableScanExec, not an Exchange, but
    // building its RDD would run the cache build and its shuffle
    val cached = vecs(100).repartition(2, col("vec_id")).cache()
    try {
      var got: Option[Int] = Some(-1)
      val n = jobsDuring("scan-width-unbuilt-cache") {
        got = Partitioning.scanWidth(cached)
      }
      assert(got.isEmpty,
        s"expected None for a cached-but-unbuilt shuffle lineage, got $got")
      assert(n == 0, s"the width probe must run zero jobs; saw $n")
    } finally cached.unpersist(true)
  }

  test("scanWidth answers a built cache's width with zero jobs") {
    val cached = vecs(100).repartition(2, col("vec_id")).cache()
    try {
      cached.count() // materialize outside the probed window
      var got: Option[Int] = None
      val n = jobsDuring("scan-width-built-cache") {
        got = Partitioning.scanWidth(cached)
      }
      assert(got.contains(2),
        s"a built cache's width is metadata (2 cached partitions), got $got")
      assert(n == 0, s"reading a built cache's width ran $n job(s)")
    } finally cached.unpersist(true)
  }

  test("scanWidth refuses coalesce and union over a built cache") {
    val c = vecs(1000).repartition(8).cache()
    try {
      c.count() // materialize: the cache scan alone answers Some(8)
      assert(Partitioning.scanWidth(c.select(col("vec_id"))) == Some(8),
        "width-preserving narrow chain over a built cache must still answer")
      assert(Partitioning.scanWidth(c.coalesce(1)).isEmpty,
        "coalesce over a built cache must refuse — root width ≠ scan width")
      assert(Partitioning.scanWidth(c.union(c)).isEmpty,
        "union over built caches must refuse — root width ≠ scan width")
    } finally { c.unpersist(); () }
  }

  // ── spread and widthFor ──

  test("spread evaluates worthIt only on a narrow scan") {
    val width = Partitioning.sessionWidth(spark)
    // wide or shuffle-lineage input: the by-name gate must never run (a
    // throwing thunk is the strongest pin on that order)
    val wide = vecs(400).coalesce(width)
    assert(Partitioning.spread("test", wide)(
      sys.error("worthIt evaluated on a wide input")) eq wide)
    val shuffled = vecs(400).repartition(2, col("vec_id"))
    assert(Partitioning.spread("test", shuffled)(
      sys.error("worthIt evaluated on shuffle lineage")) eq shuffled)
    // narrow input: worthIt decides; the target is the session width
    val starved = vecs(400).coalesce(1)
    assert(Partitioning.spread("test", starved)(false) eq starved)
    Partitioning.spread("test", starved)(true).queryExecution.logical match {
      case r: Repartition => assert(r.numPartitions == width && r.shuffle)
      case other => fail(s"expected a round-robin repartition, got $other")
    }
    Partitioning.spread("test", starved, col("vec_id"))(true).queryExecution.logical match {
      case r: RepartitionByExpression =>
        assert(r.numPartitions == width && r.partitionExpressions.size == 1)
      case other => fail(s"expected a keyed repartition, got $other")
    }
  }

  test("widthFor: floor at session width, cap at 8x slots") {
    val base = Partitioning.sessionWidth(spark)
    val cap = math.max(base, 8 * spark.sparkContext.defaultParallelism)
    // tiny input: never plan coarser than the session
    assert(Partitioning.widthFor(2000, spark) == base)
    // huge input: bounded by the slot-derived cap
    assert(Partitioning.widthFor(100_000_000L, spark) == cap)
    // monotone non-decreasing across the range
    val ns = Seq(0L, 2000L, 200000L, 2000000L, 100000000L)
    val ps = ns.map(Partitioning.widthFor(_, spark))
    assert(ps == ps.sorted)
    assert(ps.forall(p => p >= base && p <= cap))
  }

  // ── the operators ──

  test("lshTopK spreads a narrow corpus on the broadcast path") {
    val corpus = vecs(400).coalesce(1)
    val queries = vecs(1200)
    assert(1200 >= Similarity.MinHealQueries)
    val spread = Similarity.lshTopK(corpus, queries, "embedding",
      "vec_id", k = 3, bits = 6)
    assert(plan(spread).contains("roundrobin"),
      s"expected a round-robin corpus repartition in:\n${plan(spread)}")
    assert(plan(spread).contains("broadcast"),
      s"the spread must keep the query-side broadcast:\n${plan(spread)}")
    // same rows as the forced shuffle fallback, bit for bit
    val fallback = Similarity.lshTopK(corpus, queries, "embedding",
      "vec_id", k = 3, bits = 6, maxBroadcastQueries = 0L)
    val a = spread.orderBy("query_id", "rank").collect().toSeq
    val b = fallback.orderBy("query_id", "rank").collect().toSeq
    assert(a == b, s"spread/fallback disagree: ${a.size} vs ${b.size} rows")
  }

  test("lshTopK does not spread below the query floor") {
    val res = Similarity.lshTopK(vecs(400).coalesce(1), vecs(10), "embedding",
      "vec_id", k = 3, bits = 6)
    assert(!plan(res).contains("roundrobin"),
      s"a 10-query top-k must not pay a corpus repartition:\n${plan(res)}")
    assert(res.count() == 10 * 3)
  }

  test("lshTopK gate runs one job for a shuffle-lineage corpus") {
    // explicit bits: the gate counts only the ids-only query projection
    // (one runJob); the width probe adds no job and refuses the corpus
    val corpus = vecs(400).repartition(2, col("vec_id"))
    val queries = vecs(1200)
    var p = ""
    val n = jobsDuring("lsh-gate-shuffle-corpus") {
      p = plan(Similarity.lshTopK(corpus, queries, "embedding",
        "vec_id", k = 3, bits = 6))
    }
    assert(n == 1, s"the gate must cost exactly the one count job, saw $n")
    assert(!p.contains("roundrobin"),
      s"a shuffle-lineage corpus must not be spread:\n$p")
  }

  test("ivfTopK spreads a narrow corpus under a large query set") {
    val corpus = vecs(400).coalesce(1)
    val queries = vecs(1200)
    assert(1200 >= Similarity.MinHealQueries)
    // nProbe = nLists ⇒ every list is probed ⇒ exact ranking whatever
    // the centroids, so the row comparison cannot be perturbed by
    // training-row order
    val spread = Similarity.ivfTopK(corpus, queries, "embedding",
      "vec_id", k = 3, nLists = 4, nProbe = 4)
    assert(plan(spread).contains("roundrobin"),
      s"expected a round-robin corpus repartition in:\n${plan(spread)}")
    assert(plan(spread).contains("broadcast"),
      s"the spread must keep the query-side broadcast:\n${plan(spread)}")
    // identical rows to a corpus already at session width (its own
    // exchange), which is not spread
    val wide = Similarity.ivfTopK(
      corpus.repartition(Partitioning.sessionWidth(spark)),
      queries, "embedding", "vec_id", k = 3, nLists = 4, nProbe = 4)
    val a = spread.orderBy("query_id", "rank").collect().toSeq
    val b = wide.orderBy("query_id", "rank").collect().toSeq
    assert(a == b, s"spread/unspread disagree: ${a.size} vs ${b.size} rows")
  }

  test("ivfTopK does not spread below the query floor") {
    val res = Similarity.ivfTopK(vecs(400).coalesce(1), vecs(10), "embedding",
      "vec_id", k = 3, nLists = 4, nProbe = 4)
    assert(!plan(res).contains("roundrobin"),
      s"a 10-query ivf top-k must not pay a corpus repartition:\n${plan(res)}")
    assert(res.count() == 10 * 3)
  }

  test("semantic chunking spreads only a 1-split sentence table") {
    import graft.ops.gen.ChunkSplitter
    val width = Partitioning.sessionWidth(spark)
    def docs(parts: Int) = spark.range(0, 40, 1, parts).select(
      col("id").as("doc_id"),
      concat_ws(". ", array((1 to 6).map(j => concat(lit(s"s$j w"), col("id") % j)): _*))
        .as("text"))
    val chunk = ChunkSplitter("text", "doc_id", mode = "semantic",
      serving = Some(graft.serving.MockServing()), simThreshold = 0.75)
    def spreads(df: DataFrame) = df.queryExecution.logical.exists {
      case _: RepartitionByExpression => true
      case _ => false
    }
    val narrow = chunk(docs(1))
    val wide = chunk(docs(width))
    assert(spreads(narrow), "a 1-split sentence table must be spread by id")
    assert(!spreads(wide), "a session-wide sentence table must be left as is")
    def rows(df: DataFrame) = df.orderBy("doc_id", "pos").collect().toSeq
    assert(rows(narrow) == rows(wide) && rows(narrow).nonEmpty)
  }

  test("similarityJoin pairs match at two session shuffle widths") {
    def pairsAt(width: Int): Seq[(Long, Long)] = {
      // a sibling session scopes the width; the shared session is untouched
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", width.toLong)
      // 300 vectors plus a near-copy of each: the copies always match,
      // other pairs only above the threshold
      val base = col("id") % 300 + 1
      val dims = (1 to 64).map(d =>
        sin(base * d) + floor(col("id") / 300) * 0.05 * cos(col("id") * d))
      val emb = s.range(600).select(col("id").as("vec_id"), array(dims: _*).as("embedding"))
      val joined = Similarity.similarityJoin(emb, "embedding", "vec_id", 0.3,
        bits = 8, tables = 16)
      val out = joined.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // both exploded sides canonicalize to the same subtree, so the
      // final adaptive plan reuses a single exchange
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("ReusedExchange"), s"no exchange reuse in:\n$p")
      out
    }
    val a = pairsAt(Partitioning.sessionWidth(spark))
    assert(a.size > 300, s"expected the 300 copies and more, got ${a.size} pairs")
    assert(pairsAt(7) == a)
  }
}
