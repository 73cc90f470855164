package graft

import org.apache.spark.sql.functions._

/** Round-11 regressions: the cluster-safe scratch-budget gate (driver
  * statfs must not size executor disks), the Long-code-width bits cap,
  * the lshTopK query-side broadcast guard, and the per-statement REFUSED
  * verdict (ok ∧ null-hash ≠ error) in both SQL backends. */
class R11Spec extends SparkSuite {
  test("autoScratchBudget statfs-sizes only in local mode; cluster falls back") {
    import graft.ops.dedup.MinHashDeduplicateFilter._
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    // local: tracks the real dir (half usable space, same as FromDirs)
    assert(autoScratchBudgetImpl(isLocal = true, tmp) ==
      autoScratchBudgetFromDirs(tmp))
    // non-local: the driver's free space says NOTHING about executor
    // volumes (YARN/K8s LOCAL_DIRS override the conf) — must be the
    // ×1000-proven constant, not a driver statfs
    assert(autoScratchBudgetImpl(isLocal = false, tmp) ==
      FallbackScratchBudgetBytes)
    // and the local path still has the statfs-unavailable fallback
    assert(autoScratchBudgetImpl(isLocal = true, "/nonexistent_dir_xyz") ==
      FallbackScratchBudgetBytes)
  }

  test("bits >= 64 is refused everywhere; 63 is accepted") {
    import graft.ops.sim.Similarity
    import graft.ops.dedup.SemDeduplicateFilter
    import spark.implicits._
    val df = (0L until 10L)
      .map(i => (i, Seq.tabulate(8)(j => (i % 3 + j).toDouble)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.similarityJoin(df, "embedding", "vec_id", 0.9, bits = 64)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(df, df.limit(1), "embedding", "vec_id", 3, bits = 64)
    }
    intercept[IllegalArgumentException] {
      SemDeduplicateFilter("embedding", "vec_id", bits = 64)
    }
    // kernel boundary guards the SQL-registered surface too
    intercept[IllegalArgumentException] {
      graft.functions.kernels.lshBuckets(Seq(1.0, 2.0), 64, 2, 1)
    }
    // 63 bits = the full Long width, legal and distinct per table
    val keys = graft.functions.kernels.lshBuckets(Seq(1.0, -2.0), 63, 2, 2)
    assert(keys.length == 2 && keys.distinct.length == 2)
  }

  test("lshTopK past maxBroadcastQueries drops the broadcast and still ranks identically") {
    import graft.ops.sim.Similarity
    val emb = core.Storage.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    def run(maxB: Long) = Similarity.lshTopK(emb, q, "embedding", "vec_id",
      k = 5, bits = 8, maxBroadcastQueries = maxB)
    val guarded = run(2)       // 5 queries > 2 → shuffle fallback
    val broadcasted = run(100) // default posture for a small query set
    val planG = guarded.queryExecution.executedPlan.toString
    val planB = broadcasted.queryExecution.executedPlan.toString
    assert(!planG.contains("BroadcastHashJoin"),
      "guarded plan must not broadcast a corpus-sized query side")
    assert(planB.contains("BroadcastHashJoin"),
      "small query sets must keep the single-corpus-pass broadcast")
    def s(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(s(guarded) == s(broadcasted) && s(guarded).nonEmpty)
  }

  test("SparkSessionBackend: a mixed batch yields three distinct verdicts") {
    import graft.ops.text2sql.SparkSessionBackend
    import spark.implicits._
    val okQ = "SELECT id FROM range(3)"
    val errQ = "SELECT x FROM nonexistent_table_r11"
    val bigQ = "SELECT id FROM range(10)"
    val stmts = Seq(okQ, errQ, bigQ).toDF("sql")
    val v = SparkSessionBackend(maxHashRows = 5).execute(stmts, "sql", 30)
      .collect().map(r => r.getString(0) -> (r.getBoolean(1),
        Option(r.getString(2)))).toMap
    assert(v(okQ)._1 && v(okQ)._2.isDefined)          // ok: ran + hash
    assert(!v(errQ)._1 && v(errQ)._2.isEmpty)         // error: failed
    assert(v(bigQ)._1 && v(bigQ)._2.isEmpty)          // refused: ran, no hash
    // under-cap hash is the cap-free hash (the cap must be invisible
    // below the ceiling)
    val free = SparkSessionBackend().execute(Seq(okQ).toDF("sql"), "sql", 30)
      .collect().head.getString(2)
    assert(v(okQ)._2.contains(free))
  }

  test("SQLExecutionFilter keeps a refused (over-cap) statement — it DID run") {
    import graft.ops.text2sql.{SQLExecutionFilter, SparkSessionBackend}
    import spark.implicits._
    val df = Seq("SELECT id FROM range(10)", "SELECT x FROM no_such_r11")
      .toDF("sql")
    val kept = SQLExecutionFilter("sql",
      backend = SparkSessionBackend(maxHashRows = 5))(df)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("SELECT id FROM range(10)"))
  }

  test("JdbcSqlBackend.run refuses over-cap results executor-side, same tri-state") {
    import graft.ops.text2sql.JdbcSqlBackend
    val conn = java.sql.DriverManager.getConnection(derby(
      "CREATE TABLE t (i INT)" +: (1 to 10).map(i => s"INSERT INTO t VALUES ($i)"): _*))
    try {
      val (okBig, hBig) = JdbcSqlBackend.run(conn, "SELECT i FROM t", 5, maxRows = 3)
      assert(okBig && hBig == null)                   // refused
      val (okSmall, hSmall) =
        JdbcSqlBackend.run(conn, "SELECT i FROM t WHERE i <= 2", 5, maxRows = 3)
      assert(okSmall && hSmall != null)               // fingerprinted
      val (okErr, hErr) = JdbcSqlBackend.run(conn, "SELECT nope FROM t", 5)
      assert(!okErr && hErr == null)                  // failed
    } finally conn.close()
  }

  test("minhashBandKeysPacked packs exactly the string kernel's (band, hash)") {
    import graft.functions.kernels
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "a completely different document with other words entirely here",
      "the quick brown fox jumps over the lazy dog again and again", // clone
      "", "one two")
    val pooled = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for (d <- docs; (np, nb) <- Seq((128, 16), (128, 32), (64, 8))) {
      val ws = d.split("\\s+").toSeq.filter(_.nonEmpty)
      val hs = kernels.shingleHashes(ws, 3).toSeq
      val str = kernels.minhashBandKeys(hs, np, nb)
      val packed = kernels.minhashBandKeysPacked(hs, np, nb)
      assert(packed.length == str.length)
      str.zip(packed).foreach { case (s, p) =>
        val Array(band, hash) = s.split(":", 2)
        assert((p >>> 32) == band.toLong, s"band of $s vs $p")
        assert((p & 0xffffffffL) == (hash.toInt.toLong & 0xffffffffL),
          s"hash of $s vs $p")
        pooled += ((s, p))
      }
    }
    // the string→packed mapping must be a bijection over the POOLED set
    // (across docs and parameterizations — within one doc every key has a
    // distinct band prefix, so a per-doc distinct-count check is vacuous):
    // one packed value per string, and distinct strings → distinct longs
    val byStr = pooled.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(byStr.values.forall(_.size == 1), "a string mapped to 2+ longs")
    assert(byStr.size == pooled.map(_._2).distinct.size,
      "distinct strings collided in packed space")
    // and the pool genuinely exercises cross-doc collisions (the clone doc)
    assert(byStr.size < pooled.size)
  }
}
