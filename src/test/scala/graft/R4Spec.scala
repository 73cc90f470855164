package graft

import org.apache.spark.sql.functions._

/** Round-4 regressions: the bench harness must be failure-honest (a
  * throwing query is reported as an error, never silently timed). */
class R4Spec extends SparkSuite {
  test("bench records a deliberately-broken query as an error, not a time") {
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "ok" -> ((s, _) => s.range(10).toDF("id")),
      "boom" -> ((_, _) => throw new IllegalStateException("deliberately broken")),
      "lazy_boom" -> ((s, _) =>
        s.range(10).toDF("id").filter(
          udf((_: Long) => throw new IllegalStateException("fails at execution")).apply(col("id"))))
    )
    val out = Bench.runQueries(spark, sf, queries.toSeq).toMap
    assert(out("ok").error.isEmpty && out("ok").seconds >= 0)
    assert(out("boom").error.exists(_.contains("deliberately broken")))
    // a query that only fails when the plan RUNS must also be caught
    assert(out("lazy_boom").error.isDefined)
    val errors = out.count(_._2.error.isDefined)
    assert(errors == 2)
  }

  test("bench runs every pass (warmup + measured), per the passes knob") {
    // a query with a side-effecting counter: all passes must execute
    R4Spec.passCounter.set(0)
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "counted" -> ((s, _) => { R4Spec.passCounter.incrementAndGet(); s.range(5).toDF("id") }))
    val out = Bench.runQueries(spark, sf, queries.toSeq).toMap
    assert(out("counted").error.isEmpty)
    // default = 3 (1 discarded warmup + min of 2 measured), plus any
    // legitimate noise re-measures the harness performed. For this
    // microsecond query a retry additionally requires co-load to push
    // BOTH measured passes past the 100 ms floor (Bench's retry gate
    // needs times.min >= 0.1 s) — rare, but it did happen in CI, and
    // asserting a bare 3 made this test fail exactly when the retry
    // logic was doing its job
    assert(R4Spec.passCounter.get() == 3 + out("counted").retried)
    // the two measured passes yield a max/min noise ratio ≥ 1
    assert(out("counted").spread >= 1.0)
    R4Spec.passCounter.set(0)
    Bench.runQueries(spark, sf, queries.toSeq, passes = 2, isolate = false)
    assert(R4Spec.passCounter.get() == 2)
  }

  test("bench re-measures a query whose passes disagree >1.3x and keeps the min") {
    // Simulates a one-off co-load spike: the first measured pass is 4x
    // slower than every later pass. The harness must (a) retry, (b)
    // report the reproducible min, (c) certify the two best passes.
    R4Spec.passCounter.set(0)
    val queries = Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "noisy" -> ((s, _) => {
        val n = R4Spec.passCounter.incrementAndGet()
        Thread.sleep(n match { case 1 => 0L; case 2 => 600L; case _ => 150L })
        s.range(5).toDF("id")
      }))
    val out = Bench.runQueries(spark, sf, queries.toSeq).toMap
    val r = out("noisy")
    assert(r.error.isEmpty)
    assert(r.retried >= 1, "600ms vs 150ms disagreement must trigger a retry")
    assert(r.seconds < 0.5, "reported figure is the reproducible min, not the spike")
    assert(r.retried <= 2, "retries are bounded")
  }
}

object R4Spec {
  val passCounter = new java.util.concurrent.atomic.AtomicInteger(0)
}
