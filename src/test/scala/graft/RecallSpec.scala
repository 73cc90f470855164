package graft

import org.apache.spark.sql.functions._

/** Round-6 gate: LSH/IVF recall quantified as DATA, not comments.
  *
  * Everything here is deterministic — the corpus is seeded, the LSH
  * hyperplanes derive from md5 nibbles, and IVF's driver-side k-means
  * runs with a fixed seed — so the measured recalls are exact
  * reproducible numbers. The asserted bands allow only for harmless
  * re-measurement drift (e.g. a different Spark row order feeding the
  * k-means sample); the
  * measured values are recorded in COVERAGE.md.
  *
  * Theory for the LSH paths (8 sign-bits x 4 OR-amplified tables):
  * a pair at cosine c collides in one table with p^bits where
  * p = 1 - arccos(c)/pi, so recall = 1 - (1 - p^8)^4 ~= 0.89 at c = 0.95.
  */
class RecallSpec extends SparkSuite {
  import spark.implicits._

  /** `n` seeded unit vectors of dimension `dim`. */
  private def unitVecs(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
  }

  /** A partner of `v` at EXACTLY cosine `c` (rotate toward a seeded
    * orthogonal direction). */
  private def partnerAt(v: Array[Double], c: Double, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val r = Array.fill(v.length)(rnd.nextGaussian())
    val dot = r.zip(v).map { case (a, b) => a * b }.sum
    val perp = r.zip(v).map { case (a, b) => a - dot * b }
    val pn = math.sqrt(perp.map(x => x * x).sum)
    val s = math.sqrt(1 - c * c)
    v.zip(perp).map { case (vi, pi) => c * vi + s * pi / pn }
  }

  test("similarity-join recall at cos>=0.95 matches the 8-bit x 4-table theory (~0.89)") {
    val nPairs = 300
    val dim = 64
    val bases = unitVecs(nPairs, dim, seed = 1L)
    // planted ground truth: pair (i, i+nPairs) at cosine exactly 0.95;
    // accidental cross-pairs at >=0.95 are impossible for seeded Gaussian
    // vectors in 64-d (cos concentrates near 0 with sd ~ 1/8)
    val rows = bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      bases.zipWithIndex.map { case (v, i) =>
        ((i + nPairs).toLong, partnerAt(v, 0.95, seed = 1000L + i).toSeq)
      }
    val df = rows.toSeq.toDF("id", "emb")
    // threshold a hair under the planted cosine: the pairs sit at 0.95
    // EXACTLY, so `cos >= 0.95` would knife-edge on float rounding and
    // measure threshold jitter, not LSH recall
    val found = graft.ops.sim.Similarity
      .similarityJoin(df, "emb", "id", threshold = 0.9499, bits = 8, dim = dim, tables = 4)
      .select("a", "b").as[(Long, Long)].collect()
      .count { case (a, b) => math.abs(a - b) == nPairs }
    val recall = found.toDouble / nPairs
    info(f"measured similarity-join recall at cos=0.95: $recall%.3f (theory 0.891)")
    assert(recall >= 0.82 && recall <= 0.97, s"pair recall $recall outside [0.82, 0.97]")
  }

  test("lsh top-1 recall on planted nearest neighbors matches theory (~0.89)") {
    val nPairs = 300
    val dim = 64
    val bases = unitVecs(nPairs, dim, seed = 2L)
    val corpus = bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      bases.zipWithIndex.map { case (v, i) =>
        ((i + nPairs).toLong, partnerAt(v, 0.95, seed = 2000L + i).toSeq)
      }
    val df = corpus.toSeq.toDF("id", "emb")
    // each base vector's true nearest neighbor is its planted partner
    val queries = df.filter(col("id") < nPairs)
    val got = graft.ops.sim.Similarity
      .lshTopK(df, queries, "emb", "id", k = 1, bits = 8, dim = dim, tables = 4)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .count { case (q, n) => n == q + nPairs }
    val recall = got.toDouble / nPairs
    info(f"measured lsh top-1 recall at cos=0.95: $recall%.3f (theory 0.891)")
    assert(recall >= 0.82 && recall <= 0.97, s"top-1 recall $recall outside [0.82, 0.97]")
  }

  test("ivf recall@10 vs brute force at nProbe=4/16, and exactness at nProbe=16/16") {
    val n = 2000
    val dim = 32
    val nQ = 100
    val vecs = unitVecs(n, dim, seed = 3L)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq.toDF("id", "emb")
    val queries = df.filter(col("id") < nQ)
    // exact ground truth, computed driver-side (2000 x 100 dots)
    val truth: Map[Long, Set[Long]] = (0 until nQ).map { qi =>
      val q = vecs(qi)
      val top = vecs.zipWithIndex
        .filter(_._2 != qi)
        .map { case (v, i) => (v.zip(q).map { case (a, b) => a * b }.sum, i.toLong) }
        .sortBy { case (cos, i) => (-cos, i) }
        .take(10).map(_._2).toSet
      qi.toLong -> top
    }.toMap
    def recallAt(nProbe: Int): Double = {
      val got = graft.ops.sim.Similarity
        .ivfTopK(df, queries, "emb", "id", k = 10, nLists = 16, nProbe = nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      truth.map { case (q, t) =>
        (t & got.getOrElse(q, Set.empty)).size.toDouble / t.size
      }.sum / truth.size
    }
    // probe-all degrades to exact brute force: recall must be 1.0
    assert(recallAt(16) == 1.0, "nProbe = nLists must equal brute force")
    val r4 = recallAt(4)
    info(f"measured ivf recall@10 at nProbe=4/16: $r4%.3f (nProbe=16: 1.0)")
    // random uniform corpus is the HARD case for IVF (true neighbors
    // scatter across lists)
    assert(r4 >= 0.60 && r4 <= 0.98, s"recall@10 $r4 outside [0.60, 0.98] at nProbe=4")
  }

  test("similarityJoin recall and bucket occupancy on a biased corpus") {
    // Unit vectors concentrated around the all-ones direction (the
    // post-ReLU / sentence-encoder embedding shape), planted pairs at
    // cosine exactly 0.95, fixed bits = 8 / tables = 4.
    val nPairs = 300
    val dim = 64
    val rnd = new scala.util.Random(7L)
    def biased(): Array[Double] = {
      // mean 2/sqrt(dim) per component vs gaussian sd 1: strongly
      // positive corpus, cosines between unrelated rows ~0.8 — codes
      // collapse into a few hot buckets
      val v = Array.fill(dim)(2.0 + rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val bases = Array.fill(nPairs)(biased())
    val rows = bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      bases.zipWithIndex.map { case (v, i) =>
        ((i + nPairs).toLong, partnerAt(v, 0.95, seed = 7000L + i).toSeq)
      }
    val df = rows.toSeq.toDF("id", "emb")
    // threshold a hair under the planted cosine (same reasoning as the
    // recall test above); biased corpora DO have accidental >= 0.95
    // pairs, so recall counts planted pairs only
    val found = graft.ops.sim.Similarity
      .similarityJoin(df, "emb", "id", threshold = 0.9499,
        bits = 8, dim = dim, tables = 4)
      .select("a", "b").as[(Long, Long)].collect()
      .count { case (a, b) => math.abs(a - b) == nPairs }
    val rOff = found.toDouble / nPairs
    // the largest single bucket — candidate work per bucket is
    // C(occupancy, 2)
    val maxBucket = df
      .select(explode(graft.ops.sim.CosineLsh.buckets(
        col("emb").cast("array<double>"), 8, dim, 4)).as("b"))
      .groupBy("b").count().agg(max("count")).as[Long].head()
    info(f"recall $rOff%.3f  max-bucket $maxBucket (600 rows x 4 tables)")
    // Measured (recorded in COVERAGE.md): 0.873 recall with a 205-row
    // hottest bucket. Bands allow re-measurement drift only.
    assert(rOff >= 0.78 && rOff <= 1.0, s"uncentered recall $rOff outside [0.78, 1.0]")
  }
}
