package graft

import org.apache.spark.sql.functions._

/** Deterministic shuffle reclamation (`ShuffleCleanup`) on failure: a
  * wave that dies before any shuffle lands reclaims nothing, and a
  * failing cleanup never hides the error that caused it. */
class ShuffleCleanupSpec extends SparkSuite {
  test("map-stage death before any shuffle lands: reclamation is a no-op") {
    import org.apache.spark.graftbridge.ShuffleCleanup
    val sc = spark.sparkContext
    // poison BEFORE the exchange: the map stage itself dies, so no
    // complete shuffle output is ever registered — the other half of
    // the failure space R13Spec's post-exchange poison covers
    val poison = udf((x: Long) => {
      if (x == 7L) throw new RuntimeException("poisoned map side"); x
    })
    val df = spark.range(1000).toDF("id")
      .withColumn("p", poison(col("id")))
      .repartition(8, col("p"))
    val before = ShuffleCleanup.liveShuffleIds(sc)
    intercept[Exception] {
      // mirror of the wave caller's exact shape: under AQE the map
      // stage materializes inside toRdd, so the death happens AT the
      // `created` computation — before the checkpoint ever runs
      val created =
        ShuffleCleanup.lineageShuffleIds(df.queryExecution.toRdd) -- before
      graft.ops.dedup.MinHashDeduplicateFilter()
        .checkpointReclaimingOnFailure(df, sc, created)
    }
    // whatever the failed attempt registered (a ShuffleDependency
    // registers with the tracker at plan time, even if its map stage
    // never completes) must be removable without error, and nothing of
    // it may survive — a no-op-or-clean sweep, never a second failure
    val leftover = ShuffleCleanup.liveShuffleIds(sc) -- before
    ShuffleCleanup.removeShuffles(sc, leftover)
    assert((ShuffleCleanup.liveShuffleIds(sc) intersect leftover).isEmpty,
      "map-stage death left unreclaimable shuffle state")
  }

  test("a throwing cleanup is suppressed, never replaces the root cause") {
    val sc = spark.sparkContext
    val poison = udf((x: Long) => {
      if (x == 42L) throw new RuntimeException("original failure"); x
    })
    val df = spark.range(100).toDF("id")
      .withColumn("p", poison(col("id")))
    val thrown = intercept[Exception] {
      graft.ops.dedup.MinHashDeduplicateFilter()
        .checkpointReclaimingOnFailure(df, sc, Set.empty,
          cleanup = (_, _) => throw new IllegalStateException("cleanup died"))
    }
    // the root cause propagates (Spark wraps task failures, so match on
    // the message chain rather than the top-level type) ...
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(thrown).exists(c =>
      String.valueOf(c.getMessage).contains("original failure")),
      s"root cause lost: $thrown")
    // ... and the cleanup error rides along as suppressed on the thrown
    // throwable itself (addSuppressed happens at the catch site)
    assert(thrown.getSuppressed.exists(s =>
      String.valueOf(s.getMessage).contains("cleanup died")),
      "cleanup failure was not attached as suppressed")
  }
}
