package graft

import org.apache.spark.sql.functions._
import graft.core.Storage
import graft.ops.text2sql._
import graft.serving.MockServing

/** Round-3 regressions: the cross-backend result-hash contract, set-op
  * clause tracking in the Spider classifier, stable row ids in the
  * execution classifier, early-termination connection cleanup, and the
  * similarity join demonstrated at a threshold the test data can meet. */
class R3Spec extends SparkSuite {
  import spark.implicits._

  private lazy val derbyUrl = derby("CREATE TABLE r3t(x INT, s VARCHAR(16))",
    "INSERT INTO r3t VALUES (1, 'a'), (2, 'b'), (3, NULL)")

  test("identical result sets hash identically across both SqlBackends") {
    // same rows via the Spark catalog and via Derby — multi-column so the
    // cell separator itself is exercised (the r2 bug joined Spark-side
    // cells with the 6-char literal "\\u0001", not the control char)
    Seq((1, "a"), (2, "b"), (3, null.asInstanceOf[String]))
      .toDF("x", "s").createOrReplaceTempView("r3t")
    val stmts = Seq("SELECT x, s FROM r3t", "SELECT x, s FROM r3t WHERE x > 1")
      .toDF("sql")
    def hashes(b: SqlBackend) = b.execute(stmts, "sql", 5)
      .select("sql", "__ok", "__hash").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val viaSpark = hashes(SparkSessionBackend())
    val viaJdbc = hashes(JdbcSqlBackend(derbyUrl))
    viaSpark.keys.foreach { q =>
      assert(viaSpark(q)._1 && viaJdbc(q)._1, s"$q failed to execute")
      assert(viaSpark(q)._2 == viaJdbc(q)._2,
        s"$q: spark=${viaSpark(q)._2} jdbc=${viaJdbc(q)._2}")
    }
  }

  test("JdbcSqlBackend survives an early-terminating consumer") {
    val stmts = (1 to 50).map(i => s"SELECT x FROM r3t WHERE x <= ${i % 4}")
      .toDF("sql")
    // limit() stops draining the partition iterators; the task-completion
    // listener must still close every per-partition connection (no hang,
    // and the database stays usable)
    val one = JdbcSqlBackend(derbyUrl).execute(stmts, "sql", 5).limit(1).collect()
    assert(one.length == 1)
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM r3t")
    rs.next(); assert(rs.getInt(1) == 3)
    conn.close()
  }

  test("spider classifier resets the clause tracker after a set operator") {
    // pre-fix, UNION left clause=="from", so the second SELECT's column
    // comma counted as an implicit join (comp1) instead of a select column
    // (others) — hard instead of extra
    val got = SpiderHardnessClassifier("sql")(
      Seq("SELECT a FROM t UNION SELECT b, c FROM u").toDF("sql"))
      .select("hardness").as[String].head()
    assert(got == "extra", s"got $got")
    // and a set-op query that IS plain stays below extra
    val simple = SpiderHardnessClassifier("sql")(
      Seq("SELECT a FROM t UNION SELECT b FROM u").toDF("sql"))
      .select("hardness").as[String].head()
    assert(simple == "hard", s"got $simple") // comp2 = 1, all else 0
  }

  test("execution classifier labels survive shuffled, multi-partition input") {
    // row ids are materialized once (localCheckpoint); a repartitioned
    // input must still attach each difficulty to its own row
    val rows = (0 until 16).map { i =>
      if (i % 2 == 0) (i.toLong, "```sql SELECT 1 AS x ```", "SELECT 1 AS x")
      else (i.toLong, "```sql SELECT 1 AS x ```", "SELECT 2 AS x")
    }
    val df = rows.toDF("doc_id", "prompt", "gold").repartition(7, col("gold"))
    val out = SQLExecutionClassifier("prompt", "gold", MockServing())(df)
      .select("doc_id", "difficulty").as[(Long, String)].collect().toMap
    rows.foreach { case (id, _, gold) =>
      val want = if (gold.endsWith("1 AS x")) "easy" else "extra"
      assert(out(id) == want, s"row $id: got ${out(id)} want $want")
    }
  }

  test("SQL-registered hash functions match the operator kernels") {
    val s2 = spark.newSession()
    GraftExtensions.register(s2)
    s2.sql("SELECT 'the quick brown fox jumps over the lazy dog' AS text")
      .createOrReplaceTempView("r3_txt")
    // simhash60 == the SimHash op's internal fingerprint
    val viaSql = s2.sql("SELECT simhash60(text) AS s FROM r3_txt")
      .head().getLong(0)
    val op = graft.ops.dedup.SimHashDeduplicateFilter("text", "doc_id")
    val viaOp = s2.table("r3_txt").select(op.simhash(col("text")).as("s"))
      .head().getLong(0)
    assert(viaSql == viaOp)
    assert(viaSql == graft.functions.kernels.simhash60(
      "the quick brown fox jumps over the lazy dog".split(" ").toSeq))
    // minhash_bands == the kernel over the same text
    val bands = s2.sql("SELECT minhash_bands(text, 3, 128, 16) AS b FROM r3_txt")
      .head().getSeq[String](0)
    val hs = graft.functions.kernels.shingleHashes(
      "the quick brown fox jumps over the lazy dog".split(" ").toSeq, 3)
    assert(bands == graft.functions.kernels
      .minhashBandKeys(hs.toSeq, 128, 16).toSeq)
    assert(bands.length == 16 && bands.head.startsWith("0:"))
    // cosine_lsh_buckets over a float array (implicit cast in the builder)
    val buckets = s2.sql(
      "SELECT cosine_lsh_buckets(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 8, 2, 4) AS b")
      .head().getSeq[String](0)
    assert(buckets == graft.functions.kernels
      .lshBuckets(Seq(0.5, -0.25), 8, 2, 4).toSeq)
    // and the registered cosine_sim still answers
    val cos = s2.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("multi-turn generator unrolls a second turn for incomplete dialogs") {
    import graft.ops.conversations.MultiTurnConversationGenerator
    val df = Seq(
      (0L, "do <final>done</final> now", "fn-0"),   // completes in turn 1
      (1L, "call <func_call>f1</func_call> go", "fn-1") // loops twice
    ).toDF("doc_id", "task", "functions")
    val out = MultiTurnConversationGenerator("task", Seq(), "functions",
      MockServing(), maxTurns = 2)(df)
      .select(col("doc_id"), transform(col("conversations"),
        x => x("role")).as("roles"))
      .as[(Long, Seq[String])].collect().toMap
    // final row: user + assistant only, turn 2 discarded
    assert(out(0L) == Seq("user", "assistant"))
    // looping row: user + (assistant, tool) × 2
    assert(out(1L) == Seq("user", "assistant", "tool", "assistant", "tool"))
  }

  test("top-k aggregation matches window ranking and avoids the window shuffle") {
    import org.apache.spark.sql.expressions.Window
    val emb = Storage.table(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val got = graft.ops.sim.Similarity
      .bruteForceTopK(emb, queries, "embedding", "vec_id", k = 7)
    // reference ranking via window row_number (what the oracle computes)
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("ce"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qe"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val want = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", graft.ops.sim.Similarity.cosine(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 7)
      .select("query_id", "neighbor_id", "rank")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(canon(got) == canon(want))
    // the plan must rank via partial-aggregatable ObjectHashAggregate
    // (map-side combine bounds the shuffle at k per task per query), with
    // no Window exchange of the full scored set
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(600))
    assert(!plan.contains("Window"), plan.take(600))
    assert(plan.contains("partial_topkaggregator") ||
      plan.toLowerCase.contains("partial_topk"), plan.take(600))
  }

  test("IVF top-k with all lists probed equals exact brute force") {
    // probe-all is centroid-agnostic: every posting list is scanned, so
    // ranking must match brute force EXACTLY regardless of k-means quality
    val emb = Storage.table(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val brute = canon(graft.ops.sim.Similarity
      .bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5))
    val ivfAll = canon(graft.ops.sim.Similarity
      .ivfTopK(emb, queries, "embedding", "vec_id", k = 5,
        nLists = 8, nProbe = 8))
    assert(ivfAll == brute)
    // partial probing returns a subset ranking: every hit it reports must
    // also be a true brute-force neighbor id for that query
    val ivf2 = graft.ops.sim.Similarity
      .ivfTopK(emb, queries, "embedding", "vec_id", k = 5,
        nLists = 8, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(ivf2.nonEmpty)
  }

  test("similarity join finds real pairs in the synthetic embeddings") {
    // max pairwise cosine in the synthetic table is ~0.5; at 0.4 there are
    // ~66 true pairs at sf0.001 — the 6-bit × 8-table configuration must
    // surface a meaningful (deterministic) subset, and the exact verify
    // guarantees zero false positives
    val emb = Storage.table(spark, sf, "embeddings")
    val pairs = graft.ops.sim.Similarity
      .similarityJoin(emb, "embedding", "vec_id", threshold = 0.4,
        bits = 6, tables = 8)
      .select("a", "b", "cos").as[(Long, Long, Double)].collect()
    assert(pairs.length > 0, "LSH similarity join found nothing at 0.4")
    assert(pairs.forall(_._3 >= 0.4))
  }

  test("xlsx round-trips typed columns through Storage dispatch") {
    val dir = tempDir("xlsx").toString
    val path = s"$dir/out.xlsx"
    val df = Seq(
      (1L, "alpha", 1.5, true, "x & <y> \"z\""),
      (2L, "beta", -0.25, false, "plain"),
      (3L, "gamma", 1e6, true, "ünïcode ✓")
    ).toDF("id", "name", "score", "flag", "note")
    Storage.write(df, path)
    val back = Storage.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "score", "flag", "note"))
    // numeric columns come back as double (xlsx has one numeric type),
    // booleans as boolean, text as string
    assert(back.schema("id").dataType.typeName == "double")
    assert(back.schema("flag").dataType.typeName == "boolean")
    assert(back.schema("note").dataType.typeName == "string")
    val got = back.orderBy("id")
      .as[(Double, String, Double, Boolean, String)].collect().toSeq
    assert(got == Seq(
      (1.0, "alpha", 1.5, true, "x & <y> \"z\""),
      (2.0, "beta", -0.25, false, "plain"),
      (3.0, "gamma", 1e6, true, "ünïcode ✓")))
  }

  test("xlsx reader handles nulls, shared-string-free sheets, wide columns") {
    val dir = tempDir("xlsx2").toString
    val path = s"$dir/nulls.xlsx"
    val df = Seq(
      (Some("a"), Option.empty[Double], 1),
      (None, Some(2.5), 2),
      (Some("c"), Some(3.5), 3)
    ).toDF("s", "d", "i")
    Storage.write(df, path)
    val back = Storage.read(spark, path).orderBy("i")
    val rows = back.select("s", "d").collect()
    assert(rows(1).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(2).getString(0) == "c" && rows(2).getDouble(1) == 3.5)
    // 27+ columns exercises two-letter A1 references (AA…)
    val wide = spark.range(1).select((0 until 30).map(i => lit(i).as(s"c$i")): _*)
    val wpath = s"$dir/wide.xlsx"
    Storage.write(wide, wpath)
    val wback = Storage.read(spark, wpath)
    assert(wback.columns.length == 30)
    assert(wback.head().getDouble(29) == 29.0)
  }

  test("pickle codec round-trips typed rows with nulls") {
    val dir = tempDir("pkl1").toString
    val df = Seq(
      (1L, Some("alpha"), Some(1.5), Some(true)),
      (2L, None, Some(-0.25), Some(false)),
      (3L, Some("ünïcode ✓"), None, None)
    ).toDF("id", "s", "d", "b")
    val path = s"$dir/t.pkl"
    Storage.write(df, path)
    val back = Storage.read(spark, path).orderBy("id")
    assert(back.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.DoubleType,
        org.apache.spark.sql.types.BooleanType))
    val rows = back.collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha"
      && rows(0).getDouble(2) == 1.5 && rows(0).getBoolean(3))
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))
    assert(rows(2).getString(1) == "ünïcode ✓")
  }

  test("pickle interop with Python's own pickler (both directions)") {
    val python = Seq("/usr/bin/python3", "/usr/local/bin/python3")
      .find(p => new java.io.File(p).exists())
      .getOrElse("python3")
    val dir = tempDir("pkl2").toString
    // Python writes protocols 2 AND 5 (memoized strings, frames); we read
    val script =
      s"""import pickle
         |rows = [{'id': i, 'tag': 'dup' if i % 2 else 'dup', 'v': i / 4}
         |        for i in range(6)]
         |pickle.dump(rows, open('$dir/p2.pkl', 'wb'), protocol=2)
         |pickle.dump(rows, open('$dir/p5.pkl', 'wb'), protocol=5)
         |""".stripMargin
    val wr = new ProcessBuilder(python, "-c", script).inheritIO().start()
    assume(wr.waitFor() == 0, "python3 unavailable; interop skipped")
    for (f <- Seq("p2.pkl", "p5.pkl")) {
      val df = Storage.read(spark, s"$dir/$f").orderBy("id")
      assert(df.count() == 6)
      val r = df.collect()
      assert(r(5).getLong(0) == 5 && r(5).getString(1) == "dup"
        && r(5).getDouble(2) == 1.25)
    }
    // we write, Python reads back and checks values
    Seq((1L, "x", 2.5), (2L, "y", -1.0)).toDF("id", "s", "v")
      .coalesce(1).sortWithinPartitions("id")
      .transform { d => Storage.write(d, s"$dir/ours.pkl"); d }
    val check = new ProcessBuilder(python, "-c",
      s"""import pickle
         |rows = pickle.load(open('$dir/ours.pkl', 'rb'))
         |rows.sort(key=lambda r: r['id'])
         |assert rows == [{'id': 1, 's': 'x', 'v': 2.5},
         |                {'id': 2, 's': 'y', 'v': -1.0}], rows
         |""".stripMargin).inheritIO().start()
    assert(check.waitFor() == 0, "python3 rejected our pickle")
  }

  test("pickle reader refuses object-reconstruction opcodes") {
    val dir = tempDir("pkl3").toString
    val evil = new ProcessBuilder("python3", "-c",
      s"""import pickle, os
         |class Evil:
         |    def __reduce__(self):
         |        return (os.getcwd, ())
         |pickle.dump([{'x': Evil()}], open('$dir/evil.pkl', 'wb'), protocol=2)
         |""".stripMargin).inheritIO().start()
    assume(evil.waitFor() == 0, "python3 unavailable; skipped")
    val e = intercept[Exception](Storage.read(spark, s"$dir/evil.pkl").collect())
    assert(e.getMessage.contains("unsupported opcode"))
  }

  test("ImageIO codec round-trips pixels exactly (gray and RGB)") {
    import graft.ops.multimodal.MediaCodec
    val png = MediaCodec.encodeGrayPng(5, 3, (x, y) => (x * 50 + y * 7) % 256)
    val d = MediaCodec.decodeImage(png).get
    assert((d.width, d.height, d.channels) == (5, 3, 1))
    val expected = (for { y <- 0 until 3; x <- 0 until 5 }
      yield (x * 50 + y * 7) % 256).sum
    assert(d.pixelSum == expected && d.pixelCount == 15)
    // an RGB image through the same decoder: 3 bands, exact channel sums
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for { y <- 0 until 2; x <- 0 until 4 }
      img.setRGB(x, y, (x << 16) | (y << 8) | 200)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rgb = MediaCodec.decodeImage(bos.toByteArray).get
    assert(rgb.channels == 3 && rgb.pixelCount == 24)
    val rgbSum = (for { y <- 0 until 2; x <- 0 until 4 } yield x + y + 200).sum
    assert(rgb.pixelSum == rgbSum)
    // corrupt payloads must decode to None, not throw
    assert(MediaCodec.decodeImage("not an image".getBytes).isEmpty)
    assert(MediaCodec.decodeImage(Array.empty[Byte]).isEmpty)
  }

  test("nearest-neighbor resize uses the exact integer mapping") {
    import graft.ops.multimodal.MediaCodec
    // 8x4 gray, pixel = x*10 + y; downscale to maxSide 4 → 4x2,
    // src(x,y) = (x*8/4, y*4/2) = (2x, 2y)
    val png = MediaCodec.encodeGrayPng(8, 4, (x, y) => x * 10 + y)
    val out = MediaCodec.resizeNearestPng(png, 4).get
    val d = MediaCodec.decodeImage(out).get
    assert((d.width, d.height) == (4, 2))
    val expected = (for { y <- 0 until 2; x <- 0 until 4 }
      yield (2 * x) * 10 + (2 * y)).sum
    assert(d.pixelSum == expected)
    // already small enough → byte-identical dims, identical pixels
    val same = MediaCodec.resizeNearestPng(png, 8).get
    val ds = MediaCodec.decodeImage(same).get
    assert((ds.width, ds.height, ds.pixelSum) == (8, 4,
      MediaCodec.decodeImage(png).get.pixelSum))
  }

  test("WAV encode/parse round trip via javax.sound") {
    import graft.ops.multimodal.MediaCodec
    val wav = MediaCodec.encodeWavPcm16(16000, 2, 120, (f, c) => f * 3 - c)
    val m = MediaCodec.wavMeta(wav).get
    assert(m.sampleRate == 16000 && m.channels == 2 && m.bits == 16)
    assert(m.frames == 120)
    assert(math.abs(m.durationMs - 7.5) < 1e-9)
    assert(MediaCodec.wavMeta("RIFFgarbage".getBytes).isEmpty)
  }

  test("ImageDecoder/ImageResizer ops: null struct for corrupt rows") {
    import graft.ops.multimodal.{ImageDecoder, ImageResizer, MediaCodec}
    val rows = Seq(
      (1L, MediaCodec.encodeGrayPng(6, 6, (x, y) => x + y)),
      (2L, "corrupt".getBytes),
      (3L, null.asInstanceOf[Array[Byte]]))
    val df = rows.toDF("id", "payload")
    val dec = ImageDecoder("payload")(df).orderBy("id").collect()
    assert(dec(0).getStruct(2).getInt(0) == 6)
    assert(dec(1).isNullAt(2) && dec(2).isNullAt(2))
    val res = ImageResizer("payload", "rp", 3)(df).orderBy("id").collect()
    val rp = res(0).getAs[Array[Byte]]("rp")
    val rd = MediaCodec.decodeImage(rp).get
    assert((rd.width, rd.height) == (3, 3))
    assert(res(1).isNullAt(2) && res(2).isNullAt(2))
  }
}
