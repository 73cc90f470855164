package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 pins.
  *
  * 1. Wave-failure symmetry (r13 verdict stretch #7): R13Spec poisons
  *    the RESULT stage after the exchange (files landed, must be
  *    reclaimed); this round pins the symmetric case — the MAP stage
  *    dies before any complete shuffle output exists — asserting the
  *    reclamation path is a clean no-op, not a second error.
  * 2. Cleanup-failure suppression (r13 advice): when the reclamation
  *    itself throws (plausible under the same executor-loss/disk-full
  *    conditions that killed the checkpoint), the ORIGINAL failure must
  *    propagate, with the cleanup error attached as suppressed — never
  *    replaced.
  * 3. `oneJobCount` (r13 verdict #5, the sideCounts rule applied to the
  *    last 2-job gate count): equals count() and costs exactly one job.
  */
class R14Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Jobs started inside `body` (same shape as R13Spec's probe: jobs
    * are attributed via an exclusive job group; the status store is fed
    * asynchronously, so poll until stable). */
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

  // ── wave failure, symmetric case: map-stage death, nothing landed ──

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

  // ── cleanup failure must not mask the original error (r13 advice) ──

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

  // ── oneJobCount: correct and exactly one job (sideCounts rule) ──

  test("oneJobCount equals count() and costs exactly one job") {
    import graft.ops.sim.Similarity
    val emb: DataFrame =
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.schema // scan-infra outside the probe (read() already ran its job)
    val expected = emb.where(col("vec_id") % 3 === 0).count()
    var got = -1L
    val n = jobsDuring("r14-one-job-count") {
      got = Similarity.oneJobCount(emb.where(col("vec_id") % 3 === 0))
    }
    assert(got == expected, s"oneJobCount $got != count() $expected")
    assert(n == 1, s"expected exactly 1 job, saw $n")
  }

  // ── stealJiffies: the r14 noisy-neighbor attribution field ──

  test("stealJiffies parses field 8 of the aggregate cpu line only") {
    // user nice system idle iowait irq softirq STEAL guest guest_nice
    assert(Bench.stealJiffies("cpu  10 20 30 40 50 60 70 80 90 100")
      .contains(80L))
    assert(Bench.stealJiffies("cpu 10 20 30 40 50 60 70 80").contains(80L))
    assert(Bench.stealJiffies("cpu0 10 20 30 40 50 60 70 80").isEmpty)
    assert(Bench.stealJiffies("intr 12345").isEmpty)
    // 7-field line (no steal column): None, never a throw
    assert(Bench.stealJiffies("cpu 10 20 30 40 50 60 70").isEmpty)
    assert(Bench.stealJiffies("cpu 10 20 30 40 50 60 70 xyz").isEmpty)
  }

  test("stealJiffies is a subset of busyJiffies on the same line") {
    val line = "cpu 100 2 300 4000 50 6 7 80 9 10"
    val steal = Bench.stealJiffies(line).get
    val busy = Bench.busyJiffies(line).get
    assert(steal == 80L && busy == 100 + 2 + 300 + 6 + 7 + 80,
      s"steal $steal must be one of busy $busy's addends")
  }
}
