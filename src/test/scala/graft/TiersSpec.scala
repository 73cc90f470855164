package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.ops.gen._
import graft.ops.sim.Similarity
import graft.ops.text2sql._
import graft.serving.MockServing
import graft.streaming.Streaming

class TiersSpec extends SparkSuite {
  val mock = MockServing()

  test("prompted generator appends deterministic mock output") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("bb", 2L)).toDF("text", "id")
    val out = PromptedGenerator("text", "gen", mock, "S")(df)
      .orderBy("id").select("gen").as[String].collect()
    assert(out.toSeq == Seq("echo[S]:a", "echo[S]:bb"))
  }

  test("prompted filter keeps LLM-approved rows only") {
    import spark.implicits._
    val df = Seq("ab", "abc", "abcd").toDF("text") // even lengths pass
    val out = PromptedFilter("text", mock)(df).select("text").as[String].collect()
    assert(out.toSet == Set("ab", "abcd"))
  }

  test("chunked generator reassembles chunks in order") {
    import spark.implicits._
    val df = Seq((1L, (1 to 45).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val out = ChunkedPromptedGenerator("text", "id", "gen", mock, chunkWords = 20)(df)
      .select("gen").as[String].head()
    val parts = out.split(" \\| ")
    assert(parts.length == 3)
    assert(parts(0).startsWith("echo[]:w1 ") && parts(2).contains("w45"))
  }

  test("cot voting picks the modal response") {
    import spark.implicits._
    val df = Seq("SELECT 1").toDF("sql")
    val out = Text2SQLCoTVotingGenerator("sql", "cot", mock, samples = 3)(df)
      .select("cot").as[String].head()
    assert(out == "echo[COT]:SELECT 1#0") // suffixes 0,1,0 → #0 wins 2:1
  }

  test("sql execution filter keeps runnable statements") {
    import spark.implicits._
    val df = Seq("SELECT 1 AS x", "SELECT * FROM no_such_table_zz").toDF("sql")
    val out = SQLExecutionFilter("sql")(df).select("sql").as[String].collect()
    assert(out.toSeq == Seq("SELECT 1 AS x"))
  }

  test("lsh topk recall vs brute force is high on testdata") {
    val emb = Storage.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, q, "embedding", "vec_id", 5, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"recall $recall") // 4-bit buckets on 500 vecs
  }

  test("streaming windowed agg matches batch semantics") {
    val events = Storage.table(spark, sf, "events")
    val batch = Streaming.windowedEventStats(events, 300)
      .orderBy("window_start", "event_type").collect()
    assert(batch.nonEmpty)
    // streaming run over the same data through a memory sink
    // (file stream source requires a directory → stage a copy)
    val dir = tempDir("graft_ev")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = events.schema
    val stream = spark.readStream.schema(schema)
      .parquet(dir.toString)
    val q = Streaming.windowedEventStatsStreaming(stream, 300, "0 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_test").count()
      assert(got == batch.length.toLong)
    } finally q.stop()
  }

  test("chunked streaming pipeline processes files with checkpointing") {
    val tmp = tempDir("graft_stream").toString
    val srcDir = tempDir("graft_docs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      srcDir.resolve("documents.parquet"))
    val docs = Storage.table(spark, sf, "documents")
    val pipeline = Pipeline.of(
      graft.ops.refine.LowercaseRefiner("text"),
      graft.ops.filter.CharNumberFilter("text", 1))
    val q = Streaming.chunkedPipeline(spark, srcDir.toString,
      docs.schema, pipeline, s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out/batch=0")
    assert(out.count() == docs.count())
  }

  test("typed aggregators: accuracy and moments match direct computation") {
    import spark.implicits._
    val data = Seq((true, true), (false, true), (true, false), (true, true))
    val acc = data.toDS().select(
      new graft.ops.eval.Aggregators.AccuracyAggregator().toColumn).head()
    assert(acc == 0.5) // 2 matched-and-valid of 4
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    val (mean, variance) = xs.toDS().select(
      new graft.ops.eval.Aggregators.MomentsAggregator().toColumn).head()
    assert(math.abs(mean - 2.5) < 1e-12)
    assert(math.abs(variance - 5.0 / 3.0) < 1e-12)
  }

  test("vendi score of identical vectors is ~1, of orthogonal vectors is ~n") {
    import spark.implicits._
    val same = Seq.fill(8)(Seq(1.0, 0.0, 0.0)).toDF("embedding")
    assert(math.abs(graft.ops.eval.Vendi.score(same, "embedding") - 1.0) < 1e-6)
    val ortho = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
      .toDF("embedding")
    assert(math.abs(graft.ops.eval.Vendi.score(ortho, "embedding") - 3.0) < 1e-6)
  }

  test("checkpointed pipeline run + resume from step") {
    val tmp = tempDir("graft_ckpt").toString
    val docs = Storage.table(spark, sf, "documents")
    val pipeline = Pipeline.of(
      graft.ops.refine.LowercaseRefiner("text"),
      graft.ops.filter.WordNumberFilter("text", 5, 100000),
      graft.ops.dedup.HashDeduplicateFilter(Seq("text"), "doc_id"))
    val full = pipeline.runCheckpointed(docs, tmp)
    val n = full.count()
    assert(n > 0)
    // resume after step 0 must reproduce the same result
    val resumed = pipeline.resume(spark, tmp, 0)
    assert(resumed.count() == n)
    // all three step checkpoints exist
    assert(new java.io.File(tmp).listFiles().count(_.getName.startsWith("step")) == 3)
  }

  test("cosine_sim is callable from SQL via GraftExtensions") {
    // injectFunction path (new session sharing the same context)
    // getOrCreate reuses the suite session, so extensions can't be added
    // at build time here; register the same builder into a child session
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.createOrReplaceTempFunction("cosine_sim",
      exprs => graft.functions.CosineSimilarity(exprs.head, exprs(1)), "built-in")
    val got = s2.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("salted aggregation matches plain aggregation") {
    val li = Storage.table(spark, sf, "lineitem")
    val plain = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(20,2)")).as("s"))
      .collect().map(r => (r.getString(0), r.getDecimal(1))).toMap
    val salted = graft.core.Partitioning.saltedAgg(li, "l_returnflag", 8,
      Seq(sum(col("l_quantity").cast("decimal(20,2)")).as("ps")),
      Seq(sum(col("ps")).as("s")))
      .collect().map(r => (r.getString(0), r.getDecimal(1))).toMap
    assert(plain.keySet == salted.keySet)
    plain.foreach { case (k, v) => assert(salted(k).compareTo(v) == 0) }
  }

  test("salted broadcast join matches plain join") {
    val li = Storage.table(spark, sf, "lineitem")
    val sup = Storage.table(spark, sf, "supplier")
      .withColumnRenamed("s_suppkey", "l_suppkey")
    val plain = li.join(sup, Seq("l_suppkey")).count()
    val salted = graft.core.Partitioning.saltedBroadcastJoin(li, sup, "l_suppkey", 4).count()
    assert(plain == salted)
  }

  test("streaming dedup drops cross-chunk duplicates") {
    val dir = tempDir("graft_sd")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val events = Storage.table(spark, sf, "events")
    val stream = spark.readStream.schema(events.schema).parquet(dir.toString)
    val deduped = Streaming.streamingDedup(stream, col("user_id"), "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_test").count()
      val want = events.select("user_id").distinct().count()
      assert(got == want)
    } finally q.stop()
  }

  test("streaming dedup state is bounded by the watermark horizon") {
    import spark.implicits._
    // Three micro-batches (maxFilesPerTrigger=1), each with 50 FRESH
    // distinct keys, event times 1 hour apart under a 10-minute
    // watermark: by the time batch k processes, the watermark has passed
    // batch k-1's event times, so its keys' state must be EVICTED. With
    // the unbounded form (dropDuplicates on the hash alone) state grows
    // monotonically with every distinct key ever seen — exactly the
    // defect this pins: numRowsTotal at the last batch would be ~150.
    val dir = tempDir("graft_sdb")
    val keysPerBatch = 50
    def batch(i: Int) = (0 until keysPerBatch).map { j =>
      (i.toLong * keysPerBatch + j,
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
          .plusSeconds(i * 3600L)))
    }.toDF("k", "ts")
    // write batch files up front as PLAIN files (the stream source lists
    // files, not write-output directories); AvailableNow +
    // maxFilesPerTrigger=1 replays them as ordered micro-batches
    (0 to 2).foreach { i =>
      val tmp = tempDir(s"graft_sdb_w$i")
      batch(i).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator()
      val it = scala.jdk.CollectionConverters.IteratorHasAsScala(part).asScala
      val f = it.find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Files.copy(f, dir.resolve(f"b$i%02d.parquet"))
      // the file source replays oldest-mtime-first: pin strictly
      // increasing mtimes so batch order (hence watermark advance) is
      // deterministic, not copy-timing-dependent
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    val stream = spark.readStream.schema(batch(0).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val deduped = Streaming.streamingDedup(stream, col("k").cast("string"),
      watermark = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_bounded")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      // every key is distinct → all 150 rows pass through
      assert(spark.table("dedup_bounded").count() == 3L * keysPerBatch)
      val stateTotals = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
        .filter(_ > 0)
      assert(stateTotals.nonEmpty)
      // bounded: the store never holds all three batches' keys at once
      assert(stateTotals.max < 3L * keysPerBatch,
        s"state grew unbounded: $stateTotals")
      // and eviction actually happened: the final state is one horizon's
      // worth of keys, not an accumulation
      assert(stateTotals.last <= 2L * keysPerBatch,
        s"no eviction observed: $stateTotals")
    } finally q.stop()
  }

  test("multimodal decode stub yields bounded dims") {
    import spark.implicits._
    val docs = Storage.table(spark, sf, "documents")
      .withColumn("payload", col("text").cast("binary"))
    val out = graft.ops.multimodal.ImageDecodeDouble("payload")(docs)
    val dims = out.select(col("decoded.width"), col("decoded.height")).as[(Int, Int)].collect()
    assert(dims.forall { case (w, h) => w >= 1 && w <= 640 && h >= 1 && h <= 480 })
  }
}
