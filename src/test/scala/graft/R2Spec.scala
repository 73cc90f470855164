package graft

import org.apache.spark.sql.functions._
import graft.core.Storage
import graft.ops.text2sql._
import graft.ops.dedup.{KCenterGreedyFilter, MinHashDeduplicateFilter,
  SemDeduplicateFilter, SimHashDeduplicateFilter}
import graft.ops.filter.AlpagasusFilter
import graft.serving.{MockServing, ServingScorer}

/** Round-2 seams: JDBC executor-side SQL execution, the SELECT guard,
  * model-scored filters, skew-hardened banding, and plan shape of the
  * LSH semantic dedup. */
class R2Spec extends SparkSuite {
  import spark.implicits._

  private lazy val derbyUrl =
    derby("CREATE TABLE t(x INT)", "INSERT INTO t VALUES (1), (2), (3)")

  test("JdbcSqlBackend executes distinct statements executor-side") {
    val df = Seq(
      (1L, "SELECT x FROM t WHERE x > 1"),
      (2L, "SELECT x FROM t WHERE x > 1"), // duplicate statement
      (3L, "SELECT * FROM missing_table"), // select, but fails execution
      (4L, "DROP TABLE t")                 // guard must reject WITHOUT running
    ).toDF("id", "sql")
    val kept = SQLExecutionFilter("sql", timeoutSec = 5,
      backend = JdbcSqlBackend(derbyUrl))(df)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
    // the DROP must not have executed: table still answers
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM t")
    rs.next()
    assert(rs.getInt(1) == 3)
    conn.close()
  }

  test("JdbcSqlBackend result hashes distinguish result sets") {
    val stmts = Seq("SELECT x FROM t", "SELECT x FROM t WHERE x > 1",
      "SELECT x FROM t ORDER BY x DESC").toDF("sql")
    val v = JdbcSqlBackend(derbyUrl).execute(stmts, "sql", 5)
      .select("sql", "__ok", "__hash").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(v.values.forall(_._1))
    // same rows in different order → same sorted-encoding hash
    assert(v("SELECT x FROM t")._2 == v("SELECT x FROM t ORDER BY x DESC")._2)
    assert(v("SELECT x FROM t")._2 != v("SELECT x FROM t WHERE x > 1")._2)
  }

  test("sql execution classifier labels by generation agreement") {
    val df = Seq(
      (0L, "```sql SELECT 1 AS x ```", "SELECT 1 AS x"), // all 10 match → easy
      (1L, "```sql SELECT 1 AS x ```", "SELECT 2 AS x")  // none match → extra
    ).toDF("doc_id", "prompt", "gold")
    val out = SQLExecutionClassifier("prompt", "gold", MockServing())(df)
      .select("doc_id", "difficulty").as[(Long, String)].collect().toMap
    assert(out(0L) == "easy" && out(1L) == "extra")
  }

  test("minhash banding survives a 10k-copy skew cluster") {
    val clones = (0L until 10000L).map(i => (i, "the same duplicated text " +
      "appears many times in this corpus with identical shingles"))
    val uniques = (10000L until 10050L).map(i =>
      (i, s"unique document number $i with its own words ${i * 31} and ${i * 7}"))
    val df = (clones ++ uniques).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val survivors = MinHashDeduplicateFilter("text", "doc_id")(df).count()
    val secs = (System.nanoTime() - t0) / 1e9
    // 1 representative of the clone cluster + the 50 uniques
    assert(survivors == 51L, s"got $survivors")
    assert(secs < 120, s"skew smoke took ${secs}s — hot-bucket blowup?")
  }

  test("simhash pigeonhole holds when (k+1) does not divide 60") {
    val docs = Storage.table(spark, sf, "documents").limit(120)
      .select("doc_id", "text")
    val k = 6 // 7 segments over 60 bits → remainder 4 absorbed by the last
    val op = SimHashDeduplicateFilter("text", "doc_id", hammingK = k)
    val sigs = docs.select(col("doc_id"), op.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect()
    val bruteDups = (for {
      (i, si) <- sigs; (j, sj) <- sigs
      if i < j && java.lang.Long.bitCount(si ^ sj) <= k
    } yield j).toSet
    val kept = op(docs).select("doc_id").as[Long].collect().toSet
    val dropped = sigs.map(_._1).toSet -- kept
    assert(dropped == bruteDups,
      s"banding missed ${(bruteDups -- dropped).size} / extra ${(dropped -- bruteDups).size}")
  }

  test("model-scored filter keeps rows inside the threshold band") {
    val df = Seq((1L, "x" * 30), (2L, "y" * 55), (3L, "z" * 99))
      .toDF("doc_id", "text")
    // mock score = (len % 100) / 10 → 3.0, 5.5, 9.9
    val kept = AlpagasusFilter("text", ServingScorer(MockServing()))(df)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L)) // 3.0 in [3,5]; 5.5 out; 9.9 out
  }

  test("sem dedup default plan has no cartesian product") {
    val emb = Storage.table(spark, sf, "embeddings")
    val plan = SemDeduplicateFilter("embedding", "vec_id", eps = 0.05)(emb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("Cross"),
      s"LSH mode must not cross-join:\n${plan.take(800)}")
    val planExact = SemDeduplicateFilter("embedding", "vec_id", eps = 0.05,
      mode = "exact")(emb).queryExecution.executedPlan.toString
    // the small-n twin is O(n²) by design (CartesianProduct, or BNLJ-Cross
    // when one side fits a broadcast)
    assert(planExact.contains("CartesianProduct") || planExact.contains("Cross"))
  }

  test("sem dedup LSH recall on near-identical vectors") {
    val exact = SemDeduplicateFilter("embedding", "vec_id", eps = 0.05,
      mode = "exact")(Storage.table(spark, sf, "embeddings"))
      .select("vec_id").as[Long].collect().toSet
    val lsh = SemDeduplicateFilter("embedding", "vec_id", eps = 0.05)(
      Storage.table(spark, sf, "embeddings"))
      .select("vec_id").as[Long].collect().toSet
    // LSH keeps a superset (missed candidate pairs → fewer drops)
    assert(exact.subsetOf(lsh))
  }

  test("kcenter distributed pre-selection bounds the driver pool") {
    // maxCandidates = 50, k = 10 → 5 range partitions, each reduced to
    // its own 10 local centers (ALL rows covered — no prefix truncation),
    // driver merges 50 candidates down to k
    val emb = Storage.table(spark, sf, "embeddings")
    def run() = KCenterGreedyFilter("embedding", "vec_id", k = 10,
      maxCandidates = 50)(emb).select("vec_id").as[Long].collect().sorted
    val out = run()
    assert(out.length == 10)
    // the greedy seed is the global min id (partition 1's local seed
    // always survives into the merge, and the merge seeds at its min)
    assert(out.contains(0L))
    // candidates span the whole id range, not just a prefix
    assert(out.exists(_ >= 50L))
    // deterministic across runs
    assert(run().toSeq == out.toSeq)
  }

  test("registry threads serving params into LLM-backed factories") {
    Ops.registerAll()
    val op = graft.core.Registry.get("prompted_generator",
      Map("input_key" -> "text", "output_key" -> "gen", "serving" -> "mock"))
    val out = op(Seq((1L, "hi")).toDF("doc_id", "text"))
      .select("gen").as[String].head()
    assert(out == "echo[]:hi")
    val scored = graft.core.Registry.get("fineweb_edu_filter",
      Map("input_key" -> "text", "min_score" -> "0.0"))
    assert(scored(Seq((1L, "hello")).toDF("doc_id", "text")).count() == 1)
  }

  test("process code executor runs real subprocesses with timeout") {
    import graft.ops.code.ProcessCodeExecutor
    val ex = ProcessCodeExecutor(Seq("/bin/sh", "-c"))
    assert(ex.run("exit 0", 5)._1)
    assert(!ex.run("exit 3", 5)._1)
    val (ok, log) = ex.run("sleep 30", 1)
    assert(!ok && log == "TIMEOUT")
  }

  test("spider hardness classifier follows the spider decision tree") {
    import graft.ops.text2sql.SpiderHardnessClassifier
    val cases = Seq(
      ("SELECT a FROM t", "easy"),
      ("SELECT a FROM t WHERE x > 0", "easy"),
      ("SELECT a, b FROM t WHERE x > 0 AND y < 2", "medium"),
      ("SELECT a FROM t JOIN u ON t.id = u.id WHERE x > 0 ORDER BY a", "hard"),
      ("SELECT a FROM t WHERE x IN (SELECT y FROM u)", "hard"),
      ("SELECT a FROM t UNION SELECT b FROM u WHERE x > 0 GROUP BY b", "extra"))
    val df = cases.zipWithIndex.map { case ((q, _), i) => (i.toLong, q) }
      .toDF("id", "sql")
    val got = SpiderHardnessClassifier("sql")(df)
      .select("id", "hardness").as[(Long, String)].collect().toMap
    cases.zipWithIndex.foreach { case ((q, want), i) =>
      assert(got(i.toLong) == want, s"$q: got ${got(i.toLong)} want $want")
    }
  }

  test("similarity join recovers planted near-duplicate pairs") {
    // 60 well-separated base vectors + 20 planted near-clones (tiny
    // perturbation -> cos ~ 0.999); multi-table LSH must recover most
    // planted pairs and the exact verify must admit no false positives
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian())))
    val clones = (0 until 20).map { i =>
      val (id, v) = base(i)
      (100L + id, v.map(x => x + rnd.nextGaussian() * 0.01))
    }
    val df = (base ++ clones).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val pairs = graft.ops.sim.Similarity
      .similarityJoin(df, "embedding", "vec_id", threshold = 0.98)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val planted = (0 until 20).map(i => (i.toLong, 100L + i)).toSet
    val found = pairs.count(planted.contains)
    assert(pairs.subsetOf(planted), s"false positives: ${pairs -- planted}")
    assert(found >= 15, s"recall too low: $found/20") // 8 bits x 4 tables
  }
}
