package graft

import org.apache.spark.sql.functions._

/** Round-10 regressions: auto-sized LSH widths as the DEFAULT posture
  * (fixed widths were the measured ×1000 scale trap), lineage-scoped
  * wave shuffle reclamation, the disk-derived scratch budget, and the
  * hashedImpl driver-collect cap. */
class R10Spec extends SparkSuite {
  test("lshTopK default (bits=0) equals the old bits=8 below the floor") {
    import graft.ops.sim.Similarity
    val emb = core.Storage.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    def ranks(bits: Int) =
      Similarity.lshTopK(emb, q, "embedding", "vec_id", k = 5, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ranks(0) == ranks(8))
    assert(ranks(0).nonEmpty)
  }

  test("SemDeduplicateFilter default (bits=0) equals the old bits=8 below the floor") {
    import graft.ops.dedup.SemDeduplicateFilter
    val emb = core.Storage.table(spark, sf, "embeddings")
    def kept(op: SemDeduplicateFilter) =
      op(emb).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept(SemDeduplicateFilter("embedding", "vec_id")) ==
      kept(SemDeduplicateFilter("embedding", "vec_id", bits = 8)))
  }

  test("explicit bits past the auto cap are honored; negatives refused consistently") {
    import graft.ops.sim.Similarity
    import graft.ops.dedup.SemDeduplicateFilter
    import spark.implicits._
    val df = (0L until 20L)
      .map(i => (i, Seq.tabulate(8)(j => (i % 3 + j).toDouble)))
      .toDF("vec_id", "embedding")
    // the 24-bit cap bounds the AUTO key space only — a caller may go
    // wider deliberately (the pre-round-9 accepted surface)
    val wide = Similarity
      .similarityJoin(df, "embedding", "vec_id", 0.99, bits = 30, dim = 8)
      .collect()
    assert(wide.forall(_.getDouble(2) >= 0.99))
    intercept[IllegalArgumentException] {
      Similarity.similarityJoin(df, "embedding", "vec_id", 0.99, bits = -1)
    }
    intercept[IllegalArgumentException] {
      SemDeduplicateFilter("embedding", "vec_id", bits = -1)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(df, df.limit(1), "embedding", "vec_id", 3, bits = -1)
    }
  }

  test("lineageShuffleIds scopes cleanup to the owning query's shuffles") {
    import org.apache.spark.graftbridge.ShuffleCleanup
    val sc = spark.sparkContext
    // a CONCURRENT query's shuffle, registered in the same window a
    // snapshot-delta cleanup would claim — it must survive
    val bystander = spark.range(5000).toDF("id")
      .withColumn("g", col("id") % 11)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(bystander.count() == 11) // materialize: its shuffle is now live
    val bystanderIds =
      ShuffleCleanup.lineageShuffleIds(bystander.queryExecution.toRdd)
    assert(bystanderIds.nonEmpty)
    // the "wave": derive its own ids from lineage, checkpoint, remove
    val wave = spark.range(5000).toDF("id")
      .withColumn("g", col("id") % 7)
      .groupBy("g").agg(count(lit(1)).as("n"))
    val waveIds = ShuffleCleanup.lineageShuffleIds(wave.queryExecution.toRdd)
    assert(waveIds.nonEmpty && (waveIds & bystanderIds).isEmpty)
    val ck = wave.localCheckpoint()
    ShuffleCleanup.removeShuffles(sc, waveIds)
    val live = ShuffleCleanup.liveShuffleIds(sc)
    assert((live & waveIds).isEmpty, "wave shuffles must be gone")
    assert(bystanderIds.subsetOf(live),
      "a concurrent query's shuffles must survive a wave cleanup")
    // the bystander's plan still executes against its (intact) shuffle
    assert(bystander.count() == 11)
    assert(ck.count() == 7)
  }

  test("scratch budget tracks the real disk, with the measured-constant fallback") {
    import graft.ops.dedup.MinHashDeduplicateFilter
    // unmeasurable dir (statfs impossible) → the ×1000-proven constant
    assert(MinHashDeduplicateFilter.autoScratchBudgetFromDirs(
      "/nonexistent/graft/scratch/dir") ==
      MinHashDeduplicateFilter.FallbackScratchBudgetBytes)
    // a real dir → half its usable space (conservative: spills and
    // checkpoint blocks share the volume and sit outside the estimate)
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    val budget = MinHashDeduplicateFilter.autoScratchBudgetFromDirs(tmp)
    val usable = new java.io.File(tmp).getUsableSpace
    assert(budget > 0 && budget <= usable,
      s"budget $budget vs usable $usable")
    // multi-dir config uses the first entry
    assert(MinHashDeduplicateFilter.autoScratchBudgetFromDirs(
      s"$tmp,/nonexistent/other") == budget)
  }

  test("hashedImpl refuses loudly past the row cap, hashes identically under it") {
    import graft.ops.text2sql.SqlExecutor
    val sql20 = "SELECT id FROM range(20)"
    // over-cap: a refused measurement, not a silent error verdict
    intercept[SqlExecutor.ResultCapExceededException] {
      SqlExecutor.hashedImpl(spark, sql20, timeoutSec = 60, maxRows = 10)
    }
    // under-cap: limit(maxRows+1) over a smaller result is the full
    // result — the fingerprint is bit-identical to the uncapped one
    val capped = SqlExecutor.hashedImpl(spark, sql20, timeoutSec = 60,
      maxRows = 100)
    val roomy = SqlExecutor.hashedImpl(spark, sql20, timeoutSec = 60)
    assert(capped.isDefined && capped == roomy)
  }
}
