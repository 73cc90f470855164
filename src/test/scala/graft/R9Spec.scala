package graft

import org.apache.spark.sql.functions._

/** Round-9 regressions: deterministic (non-GC) wave shuffle reclamation,
  * the emit-once bucket-uniqueness invariant, and the oracled
  * streaming-dedup query. */
class R9Spec extends SparkSuite {
  test("ShuffleCleanup removes exactly the snapshot-delta shuffles, synchronously") {
    import org.apache.spark.graftbridge.ShuffleCleanup
    val sc = spark.sparkContext
    val before = ShuffleCleanup.liveShuffleIds(sc)
    // a query with a real exchange, lineage-truncated so removal is safe
    val out = spark.range(10000).toDF("id")
      .withColumn("g", col("id") % 7)
      .groupBy("g").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    assert(out.count() == 7)
    val created = ShuffleCleanup.liveShuffleIds(sc) -- before
    assert(created.nonEmpty, "expected the groupBy to register a shuffle")
    ShuffleCleanup.removeShuffles(sc, created)
    // doCleanupShuffle(blocking=true) returns only after unregistration:
    // the ids must be gone NOW, with no GC in between
    val after = ShuffleCleanup.liveShuffleIds(sc)
    assert((after & created).isEmpty,
      s"shuffles ${after & created} survived a blocking removal")
    // and the checkpointed result is still readable (its lineage no
    // longer references the removed shuffles)
    assert(out.count() == 7)
  }

  test("waved minhash leaves no wave shuffles registered and matches single-pass") {
    import org.apache.spark.graftbridge.ShuffleCleanup
    val docs = core.Storage.table(spark, sf, "documents")
    val op = graft.ops.dedup.MinHashDeduplicateFilter()
    val withSh = op.shingled(docs).persist()
    try {
      val single = op.duplicateIds(withSh).collect().map(_.getLong(0)).toSet
      // live shuffles after the shared prologue (index 0) and after each
      // wave: every wave must reclaim ALL of its own shuffles, so no
      // post-wave snapshot holds a shuffle the prologue's lacks — one
      // stranded wave shuffle fails. (The prologue's own shuffles may
      // go earlier, through ContextCleaner, so the check is a subset.)
      val before = ShuffleCleanup.liveShuffleIds(spark.sparkContext)
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
      val waved = op.groupedDuplicateIds(withSh, groups = 3, afterWave = g => {
        assert(g == snaps.length)
        snaps += ShuffleCleanup.liveShuffleIds(spark.sparkContext) -- before
      })
      val got = waved.collect().map(_.getLong(0)).toSet
      assert(got == single, "waved ids diverge from single-pass")
      assert(snaps.length == 4, s"expected prologue + 3 wave snapshots: $snaps")
      snaps.zipWithIndex.tail.foreach { case (s, g) =>
        assert((s -- snaps.head).isEmpty, s"wave $g left shuffles " +
          s"${s -- snaps.head} registered (prologue: ${snaps.head})")
      }
    } finally withSh.unpersist(false)
  }

  test("CosineLsh bucket arrays are per-row duplicate-free (emit-once invariant)") {
    // similarityJoin's emit-once pair production assumes a row's bucket
    // array has one DISTINCT key per table (the "t:code" namespace): a
    // duplicate key would make "first shared bucket" non-unique and
    // duplicate (a,b) output pairs with no downstream dedup to catch it.
    val emb = core.Storage.table(spark, sf, "embeddings")
    val b = emb.select(
      graft.ops.sim.CosineLsh.buckets(col("embedding").cast("array<double>"),
        bits = 8, dim = 64, tables = 4).as("bkts"))
    val offending = b.filter(size(array_distinct(col("bkts"))) =!= size(col("bkts")))
    assert(offending.count() == 0)
    // and the namespace prefix is actually present
    val prefixes = b.select(explode(col("bkts")).as("k"))
      .select(split(col("k"), ":").getItem(0).as("t")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(prefixes == Set("0", "1", "2", "3"))
  }

  test("similarityJoin bits=0 auto-sizes buckets and floors at the default") {
    import graft.ops.sim.{CosineLsh, Similarity}
    // the formula: constant-occupancy sizing with floor 8 / cap 24
    assert(CosineLsh.autoBits(1000) == 8)        // small corpus → floor
    assert(CosineLsh.autoBits(200000) == 8)      // ×100 scale → still 8
    assert(CosineLsh.autoBits(2000000) == 11)    // ×1000 → ceil(log2(1953))
    assert(CosineLsh.autoBits(2000000000L) == 21)
    assert(CosineLsh.autoBits(Long.MaxValue) == 24) // cap
    // below the floor, auto ≡ the bits=8 default: identical pair sets
    val emb = core.Storage.table(spark, sf, "embeddings")
    def pairs(bits: Int) =
      Similarity.similarityJoin(emb, "embedding", "vec_id", 0.4, bits = bits,
        tables = 16).select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(0) == pairs(8))
  }

  test("stream_dedup_horizon query matches its batch replay") {
    val q = SparkEntry.queries("stream_dedup_horizon")
    val got = q(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val events = core.Storage.table(spark, sf, "events")
    val ns = graft.streaming.Streaming.tsEpochNanos(events)
    val bounds = events.agg(min(ns), max(ns)).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val want = events.withColumn("__ns", ns)
      .select(expr(s"least((__ns - ${lo}L) * 3 div ${hi - lo + 1}L, 2L)").as("tier"),
        col("user_id"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
