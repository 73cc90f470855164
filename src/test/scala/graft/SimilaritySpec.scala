package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.sim.Similarity

/** The IVF quantizer behind [[Similarity.ivfTopK]] (a driver-side,
  * seeded k-means over a bounded, collected sample) and the top-k
  * operators' semantics on degenerate vectors. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
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
}
