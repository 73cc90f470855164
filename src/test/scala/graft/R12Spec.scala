package graft


/** Round-12 regressions: the steady-co-load bench tripwire (external-CPU
  * accounting from /proc/stat — the signal the co-loaded r11 recorded
  * bench proved `pass_noise` cannot provide) and the k-center greedy
  * equivalence that backs dedup_kcenter's new full-replay DuckDB oracle. */
class R12Spec extends SparkSuite {
  test("busyJiffies parses the aggregate cpu line and rejects others") {
    // user nice system idle iowait irq softirq steal → busy excludes
    // idle(40) and iowait(50)
    assert(Bench.busyJiffies("cpu  10 20 30 40 50 60 70 80 90 100")
      .contains(10L + 20 + 30 + 60 + 70 + 80))
    // per-core lines, malformed lines, short lines: all rejected
    assert(Bench.busyJiffies("cpu0 10 20 30 40 50 60 70 80").isEmpty)
    assert(Bench.busyJiffies("intr 12345").isEmpty)
    assert(Bench.busyJiffies("cpu 10 20 xyz 40 50 60 70 80").isEmpty)
    assert(Bench.busyJiffies("cpu 10 20").isEmpty)
    // the steal-less 7-field boundary: must be None, never a throw (a
    // swallowed exception would silently disable the co-load gate)
    assert(Bench.busyJiffies("cpu 10 20 30 40 50 60 70").isEmpty)
    assert(Bench.busyJiffies("cpu 10 20 30 40 50 60 70 80").contains(
      10L + 20 + 30 + 60 + 70 + 80))
  }

  test("busyJiffies reads this machine's real /proc/stat and is monotone") {
    def readBusy(): Long = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Bench.busyJiffies(src.getLines().next()).get finally src.close()
    }
    val b0 = readBusy()
    // burn a little CPU so busy time must advance even on an idle box
    var x = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) x += 1
    val b1 = readBusy()
    assert(x > 0)
    assert(b1 > b0, s"busy jiffies did not advance: $b0 -> $b1")
  }

  test("externalCores attributes machine CPU minus this JVM over wall") {
    // the r11 hole, in numbers: a 60 s bench window on a 32-core box
    // where OTHER processes burned 29 cores — busy 35 cores total
    // (35*60*100 jiffies), this JVM 6 cores (360 cpu-s)
    val ext = Bench.externalCores(
      busyDeltaJiffies = 35L * 60 * 100, jvmCpuSec = 6.0 * 60, wallSec = 60.0)
    assert(math.abs(ext - 29.0) < 1e-9)
    assert(ext > Bench.MaxExternalCores) // r11's co-load WOULD have flagged
    // a quiet machine: 0.3 external cores stays under the gate
    val quiet = Bench.externalCores(
      busyDeltaJiffies = (6.3 * 60 * 100).toLong, jvmCpuSec = 6.0 * 60,
      wallSec = 60.0)
    assert(math.abs(quiet - 0.3) < 1e-6)
    assert(quiet < Bench.MaxExternalCores)
    // clock skew between the two reads can make jvmCpu exceed machine
    // busy by a hair — clamp at zero, never negative
    assert(Bench.externalCores(100, jvmCpuSec = 2.0, wallSec = 1.0) == 0.0)
    assert(Bench.externalCores(100, jvmCpuSec = 0.5, wallSec = 0.0) == 0.0)
  }

  test("KCenterGreedyFilter equals the naive sequential greedy at sf0.001") {
    import graft.ops.dedup.KCenterGreedyFilter
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val rows = emb.selectExpr("vec_id", "cast(embedding as array<double>)")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val n = rows.length
    val k = 10
    assert(n > k, s"fixture too small: $n rows")
    // naive reference greedy, written independently of the operator
    val dist = Array.fill(n)(Double.MaxValue)
    val expected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var next = 0
    var c = 0
    while (c < k) {
      expected += rows(next)._1
      val cv = rows(next)._2
      var best = -1; var bestD = -1.0; var i = 0
      while (i < n) {
        var s = 0.0; var j = 0
        while (j < cv.length) {
          val d = rows(i)._2(j) - cv(j); s += d * d; j += 1
        }
        if (s < dist(i)) dist(i) = s
        if (dist(i) > bestD) { bestD = dist(i); best = i }
        i += 1
      }
      next = best
      c += 1
    }
    val got = KCenterGreedyFilter("embedding", "vec_id", k = k)(emb)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == expected.sorted.toSeq)
    // the oracle's validity precondition at verify scale: the distributed
    // pre-selection must pass EVERY row through (each range partition
    // ≤ k rows), so the driver greedy sees the full corpus exactly like
    // the SQL replay does. Asserted DIRECTLY on the operator's own
    // partitioning (repartitionByRange is SAMPLE-based, so a total-count
    // bound like n ≤ 64k guards a weaker invariant: near the bound a
    // sampled split can still put > k rows in one partition — r12
    // advice). preParts = min(64, 200000/100) = 64, the query's shape.
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.col
    val sf001 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").cast("long").as("__id"))
      .repartitionByRange(64, col("__id"))
    val maxPart = sf001.mapPartitions(it => Iterator(it.size))(Encoders.scalaInt)
      .collect().max
    assert(maxPart <= 100,
      s"sf0.01 range partition exceeds k=100 rows ($maxPart): full-replay oracle invalid")
  }
}
