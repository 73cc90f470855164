package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.sim.Similarity

/** Similarity search (`graft.ops.sim`): brute-force, LSH and IVF top-k
  * and the similarity join — exactness against references, the IVF
  * quantizer (a driver-side, seeded k-means over a bounded, collected
  * sample), the per-task top-k bound, LSH key widths, the jobs the
  * eager gates cost, and semantics on degenerate vectors. */
class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  /** `n` seeded gaussian rows of width `dim` as (vec_id, embedding). */
  private def corpus(n: Int, dim: Int, seed: Long = 1L) = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  private def sample(df: DataFrame, nLists: Int,
      maxTrain: Int = 100000) =
    Similarity.ivfSample(df.select(col("embedding").cast("array<double>")),
      "embedding", nLists, maxTrain)

  test("the same seed trains identical centres; another seed differs") {
    val s = sample(corpus(500, 8), nLists = 8)
    val a = Similarity.trainIvf(s, 8, seed = 7L)
    val b = Similarity.trainIvf(s, 8, seed = 7L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val c = Similarity.trainIvf(s, 8, seed = 8L)
    assert(a.map(_.toSeq).toSeq != c.map(_.toSeq).toSeq)
  }

  test("exactly nLists centres from enough distinct rows, fewer without") {
    val s = sample(corpus(300, 8), nLists = 16)
    val cs = Similarity.trainIvf(s, 16, seed = 42L)
    assert(cs.length == 16 && cs.forall(_.length == 8))
    assert(cs.map(_.toSeq).distinct.length == 16)
    // 3 distinct vectors repeated: seeding runs out of D² mass at 3
    val three = (0L until 90L).map(i =>
      (i, Seq.tabulate(4)(d => if (d == (i % 3).toInt) 1.0 else 0.0)))
      .toDF("vec_id", "embedding")
    val few = Similarity.trainIvf(sample(three, 16), 16, seed = 42L)
    assert(few.length == 3)
    assert(few.map(_.toSeq).toSet == (0 until 3).map(j =>
      Seq.tabulate(4)(d => if (d == j) 1.0 else 0.0)).toSet)
    // and the operator still ranks: every query finds its 29 twins
    val res = Similarity.ivfTopK(three, three.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 5, nLists = 16, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(res.length == 15 && res.forall { case (q, n) => n % 3 == q % 3 })
  }

  test("all-zero, null and NaN vectors leave finite centres") {
    val zeros = (0L until 50L).map(i => (i, Seq.fill(4)(0.0)))
      .toDF("vec_id", "embedding")
    val cs = Similarity.trainIvf(sample(zeros, 4), 4, seed = 42L)
    assert(cs.nonEmpty && cs.forall(_.forall(x => !x.isNaN && !x.isInfinite)))
    assert(Similarity.ivfTopK(zeros, zeros.filter(col("vec_id") < 2),
      "embedding", "vec_id", k = 3, nLists = 4, nProbe = 1).count() == 6)
    // null rows are skipped by the sample, NaN rows dropped from it
    val mixed = (Seq[(Long, Seq[Double])]((0L, null),
        (1L, Seq(Double.NaN, 1.0, 0.0, 0.0))) ++
      (2L until 20L).map(i => (i, Seq(i.toDouble, 1.0, 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    val s = sample(mixed, 4)
    assert(s.length == 18)
    val ms = Similarity.trainIvf(s, 4, seed = 42L)
    assert(ms.length == 4 && ms.forall(_.forall(x => !x.isNaN && !x.isInfinite)))
    // every top-k: a null corpus vector is never a neighbour, a null
    // query vector gets no rows, an all-null corpus gives no rows
    val withNull = (Seq[(Long, Seq[Double])]((0L, null)) ++
      (1L until 20L).map(i => (i, Seq(i.toDouble, 1.0, 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    val allNull = (0L until 5L).map(i => (i, null: Seq[Double]))
      .toDF("vec_id", "embedding")
    val qs = withNull.filter(col("vec_id") < 3)
    type TopK = (DataFrame, DataFrame) => DataFrame
    val ops = Seq[(String, TopK, Boolean)](
      ("bruteForceTopK", Similarity.bruteForceTopK(_, _, "embedding", "vec_id", 3), true),
      // nProbe = nLists: exact, so the non-null queries find neighbours
      ("ivfTopK", Similarity.ivfTopK(_, _, "embedding", "vec_id", 3,
        nLists = 2, nProbe = 2), true),
      ("lshTopK", Similarity.lshTopK(_, _, "embedding", "vec_id", 3, bits = 4), false))
    ops.foreach { case (name, op, finds) =>
      val res = op(withNull, qs).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect()
      assert(res.forall { case (q, n) => q != 0L && n != 0L }, s"$name: ${res.toSeq}")
      if (finds) assert(res.map(_._1).toSet == Set(1L, 2L), s"$name: ${res.toSeq}")
      assert(op(allNull, qs).collect().isEmpty, name)
    }
  }

  test("an empty corpus gives an empty top-k without throwing") {
    val empty = corpus(10, 4).filter(lit(false))
    assert(sample(empty, 16).isEmpty)
    assert(Similarity.trainIvf(Array.empty, 16, seed = 42L).isEmpty)
    val res = Similarity.ivfTopK(empty, corpus(10, 4).filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 5)
    assert(res.collect().isEmpty)
  }

  test("the training sample never exceeds min(maxTrain, 256 x nLists) rows") {
    val df = corpus(5000, 4)
    assert(Similarity.MaxTrainPerList == 256)
    assert(sample(df, nLists = 4).length == 1024)
    assert(sample(df, nLists = 16).length == 4096)
    assert(sample(df, nLists = 64).length == 5000)
    assert(sample(df, nLists = 16, maxTrain = 100).length == 100)
    // rows come back L2-normalized
    assert(sample(df, nLists = 1).forall { v =>
      math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-12
    })
  }

  /** Synthetic scored candidate stream: `q` queries × `rowsPerQ`
    * candidates across `parts` partitions, scores quantized to 2
    * decimals so ties are plentiful and the id tiebreak must decide. */
  private def scored(q: Int, rowsPerQ: Int, parts: Int): DataFrame =
    spark.range(q.toLong * rowsPerQ).repartition(parts)
      .select((col("id") % q).as("query_id"), col("id").as("neighbor_id"),
        (round(sin(col("id") * 7919) * 100) / 100).as("cos"))

  test("partialTopK emits at most k rows per query per task") {
    val k = 5
    val pre = Similarity.partialTopK(scored(300, 40, 8), k)
    val maxPer = pre
      .groupBy(spark_partition_id().as("__p"), col("query_id"))
      .count().agg(max("count")).first().getLong(0)
    assert(maxPer <= k, s"per-task per-query bound violated: $maxPer > $k")
    // and it is a pure reduction: total rows ≤ parts × queries × k
    assert(pre.count() <= 8L * 300 * k)
  }

  test("rankTopK equals the window row_number reference at 200 query " +
      "keys on the DEFAULT fallbackThreshold, ties included") {
    // this test MUST run on the default threshold (128 — getOption
    // answers registered defaults) — the whole point is that the
    // pre-reduce makes the default harmless
    assert(spark.conf.getOption(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      .forall(_ == "128"))
    val k = 7
    val df = scored(200, 50, 8)
    val got = Similarity.rankTopK(df, k)
    val want = df
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "pre-reduced rankTopK diverged from the row_number total-order reference")
  }

  test("bruteForceTopK end-to-end at 200 queries on the DEFAULT threshold") {
    val emb = vecs(400)
    val res = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 200), "embedding", "vec_id", 3)
    // every query present, exactly k ranks each, ranks dense 1..k
    val perQ = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.count() == 200)
    assert(perQ.where(col("n") =!= 3 || col("mx") =!= 3 || col("mn") =!= 1)
      .isEmpty)
  }

  test("partialTopK preserves the query_id column type") {
    val df = scored(10, 5, 2)
      .withColumn("query_id", concat(lit("q"), col("query_id")))
    val pre = Similarity.partialTopK(df, 3)
    assert(pre.schema("query_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(pre.where(col("query_id").startsWith("q")).count() == pre.count())
  }

  test("ivfTopK exportDir writes one centroid row per list, keyed by corpus count") {
    val dim = 16
    val rows = (0L until 300L).map { i =>
      (i, (0 until dim).map(d => math.sin(i * dim + d)))
    }.toDF("vec_id", "embedding")
    val out = tempDir("graft_ivf_test").toString
    graft.ops.sim.Similarity.ivfTopK(rows, rows.filter(col("vec_id") < 3),
      "embedding", "vec_id", k = 3, nLists = 8, nProbe = 2,
      exportDir = Some(out)).count()
    val exported = spark.read.parquet(s"$out/rows_300")
    assert(exported.count() == 8)
    assert(exported.columns.sorted.toSeq == Seq("center", "list_id", "sf_rows"))
    assert(exported.select("sf_rows").distinct().as[Long].head() == 300L)
    // centers carry the training dimensionality
    assert(exported.select(size(col("center"))).distinct().as[Int].head() == dim)
  }

  test("ivfTopK over an all-NaN corpus returns no rows and no error") {
    // no finite corpus vector → an empty training sample → no centres
    val corpus = (0L until 50L).map(i => (i, Seq.fill(8)(Double.NaN)))
      .toDF("vec_id", "embedding")
    val queries = (100L until 105L).map(i => (i, Seq.tabulate(8)(d => math.sin(i + d))))
      .toDF("vec_id", "embedding")
    val out = graft.ops.sim.Similarity.ivfTopK(corpus, queries, "embedding",
      "vec_id", k = 3, nLists = 4, nProbe = 2)
    assert(out.collect().isEmpty)
  }

  test("ivfTopK accepts a shuffle-lineage query set on a starved corpus") {
    import graft.ops.sim.Similarity
    val corpus = vecs(400).coalesce(1) // 1 split: gate consults qCount
    // a query set with an exchange in its lineage (repartition) and
    // enough rows to clear MinHealQueries — before r16 the gate drove
    // its exchanges through toRdd; now it must both heal and be correct
    val queries = vecs(1200).repartition(4, col("vec_id"))
    val res = Similarity.ivfTopK(corpus, queries, "embedding",
      "vec_id", k = 3, nLists = 4, nProbe = 4)
    val plan = res.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("roundrobin"),
      s"the heal must still fire for a shuffled 1200-row query set:\n$plan")
    assert(res.count() == 1200 * 3)
  }

  test("lshTopK auto-bits works over a shuffle-lineage corpus") {
    import graft.ops.sim.Similarity
    val narrow = vecs(400)
    val shuffled = vecs(400).repartition(2, col("vec_id"))
    val queries = vecs(20)
    // bits=0 ⇒ the gate counts corpus+queries; the shuffled corpus puts
    // an exchange in the tagged union, taking the aggregation fallback.
    // Same content ⇒ same auto-bits ⇒ same rows as the narrow corpus.
    val a = Similarity.lshTopK(narrow, queries, "embedding", "vec_id", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.lshTopK(shuffled, queries, "embedding", "vec_id", k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b, s"narrow vs shuffled corpus disagree: ${a.size} vs ${b.size}")
  }

  test("lshTopK emits each (query, neighbor) pair at most once under " +
      "multi-table collisions (emit-once replaced dropDuplicates)") {
    // clone clusters: groups of identical vectors collide in EVERY
    // table, the maximal multi-collision shape — if a pair could leak
    // once per table, a neighbor would appear several times in a top-k
    val base = vecs(40)
    val corpus = (0 until 4).map(i =>
      base.select((col("vec_id") + lit(i * 1000)).as("vec_id"),
        col("embedding"))).reduce(_ unionAll _)
    val res = Similarity.lshTopK(corpus, base.filter(col("vec_id") < 8),
      "embedding", "vec_id", k = 6, bits = 8)
    val dup = res.groupBy("query_id", "neighbor_id").count()
      .where(col("count") > 1)
    assert(dup.isEmpty, "a candidate pair was emitted more than once")
    // and ranks stay dense 1..k per query
    val bad = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .where(col("n") =!= col("mx"))
    assert(bad.isEmpty, "rank sequence not dense — duplicate or lost rows")
  }

  test("oneJobCount equals count() and costs exactly one job") {
    import graft.core.Partitioning
    val emb: DataFrame =
      spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb.schema // scan-infra outside the probe (read() already ran its job)
    val expected = emb.where(col("vec_id") % 3 === 0).count()
    var got = -1L
    val n = jobsDuring("r14-one-job-count") {
      got = Partitioning.rowCounts(emb.where(col("vec_id") % 3 === 0)).head
    }
    assert(got == expected, s"oneJobCount $got != count() $expected")
    assert(n == 1, s"expected exactly 1 job, saw $n")
  }

  test("oneJobCount costs exactly one job on an exchange-free input") {
    import graft.core.Partitioning
    var c = -1L
    val n = jobsDuring("r16-onejob-narrow") {
      c = Partitioning.rowCounts(vecs(123)).head
    }
    assert(c == 123L)
    assert(n == 1, s"exchange-free fast path must stay one job, saw $n")
  }

  test("oneJobCount on a shuffle-lineage input is correct via the fallback") {
    import graft.core.Partitioning
    // groupBy lineage: the narrow projection still carries the exchange,
    // and toRdd would finalize it under AQE — the ivfTopK query-side
    // hazard. The fallback must return the right number.
    val grouped = vecs(200)
      .groupBy((col("vec_id") % 7).as("g")).count()
    assert(Partitioning.rowCounts(grouped).head == 7L)
  }
}
