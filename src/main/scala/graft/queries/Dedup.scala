package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.dedup._

/** Exact, near-duplicate and semantic dedup (`graft.ops.dedup`). */
object Dedup {
  private def dedupOracle(hashExpr: String): String =
    s"""SELECT doc_id, n_chars FROM (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (PARTITION BY $hashExpr ORDER BY doc_id) AS rn
       |  FROM $D) WHERE rn = 1""".stripMargin

  /** DuckDB twin of `Dedup.sqDist`: Σ (a_i − b_i)², folded left-to-right
    * in ascending index order — the same IEEE summation order as the
    * Scala loop, so the doubles (and therefore every greedy argmax
    * comparison built on them) are bit-identical. */
  private def sqlSqDist(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  def queries: Map[String, Q] = Map(
    "dedup_hash" -> oracled(dedupOracle("md5(text)")) { (s, dir) =>
      HashDeduplicateFilter(Seq("text"), "doc_id")(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_sha256" -> oracled(dedupOracle("sha256(text)")) { (s, dir) =>
      HashDeduplicateFilter(Seq("text"), "doc_id", algo = "sha256")(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_ccnet" -> oracled(dedupOracle("substr(md5(text), 1, 16)")) { (s, dir) =>
      CCNetDeduplicateFilter("text", "doc_id")(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_ngram_hash" -> oracled(dedupOracle(
      s"md5(array_to_string(list_sort(list_distinct(${sqlWordNgrams("text", 3)})), ''))")) {
      (s, dir) =>
        NgramHashDeduplicateFilter("text", "doc_id", 3)(t(s, dir, D))
          .select("doc_id", "n_chars")
    },
    "dedup_minhash" -> oracled(
      s"""WITH sh AS (SELECT doc_id, list_distinct(${sqlWordNgrams("text", 3)}) AS g FROM $D)
         |SELECT d.doc_id, d.n_chars FROM $D d WHERE NOT EXISTS (
         |  SELECT 1 FROM sh a, sh b
         |  WHERE b.doc_id = d.doc_id AND a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.9)
         |""".stripMargin) { (s, dir) =>
      MinHashDeduplicateFilter("text", "doc_id", ngram = 3, threshold = 0.9)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    "dedup_sem" -> oracled(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT d.vec_id, d.label FROM embeddings d WHERE NOT EXISTS (
        |  SELECT 1 FROM v a, v b
        |  WHERE b.vec_id = d.vec_id AND a.vec_id < b.vec_id
        |    AND list_dot_product(a.e, b.e) /
        |        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.95)
        |""".stripMargin) { (s, dir) =>
      // mode=exact: the oracle is the full pairwise matrix; the operator's
      // DEFAULT is the LSH path (dedup_sem_lsh below)
      SemDeduplicateFilter("embedding", "vec_id", eps = 0.05, mode = "exact")(
        t(s, dir, "embeddings"))
        .select("vec_id", "label")
    },
    // the LSH default path, fully oracled: the md5-parity hyperplanes are
    // reproduced in SQL (sqlLshBucketCtes), candidates = any shared
    // bucket, exact cosine >= 1-eps verifies — recall < 1 vs the exact
    // twin above is BY DESIGN, but the bucket assignment itself is
    // deterministic and the oracle replays it bit for bit
    "dedup_sem_lsh" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${sqlLshBucketCtes(bits = 8, dim = 64, tables = 4)},
         |cand AS (SELECT DISTINCT l.vec_id AS i, r.vec_id AS j
         |  FROM buckets l JOIN buckets r
         |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
         |dups AS (SELECT DISTINCT c.j FROM cand c
         |  JOIN v a ON a.vec_id = c.i JOIN v b ON b.vec_id = c.j
         |  WHERE ${sqlCosine("a.e", "b.e", 64)} >= (1.0::DOUBLE - 0.05::DOUBLE))
         |SELECT d.vec_id, d.label FROM embeddings d
         |WHERE d.vec_id NOT IN (SELECT j FROM dups)""".stripMargin) { (s, dir) =>
      // bits pinned to the oracle's CTE width (the operator DEFAULT is
      // bits = 0 → auto-sized from the corpus count)
      SemDeduplicateFilter("embedding", "vec_id", eps = 0.05, bits = 8)(
        t(s, dir, "embeddings"))
        .select("vec_id", "label")
    },
    // exact brute-force twin of the banded simhash dedup: per-word 60-bit
    // md5-prefix hash, ±1 bit votes → signature, then keep a row iff it is
    // its signature's first holder AND no earlier representative is within
    // Hamming distance 3 (the pigeonhole banding finds exactly these pairs
    // when buckets fit under maxBandBucket, so banded ≡ brute force here)
    "dedup_simhash" -> oracled(
      s"""WITH w AS (
         |  SELECT doc_id, (('0x' || substr(md5(u.w), 1, 16))::UBIGINT >> 4) AS h
         |  FROM $D, unnest(${sqlWords("text")}) AS u(w)),
         |bits AS (
         |  SELECT doc_id, b.k,
         |    SUM(CASE WHEN ((h >> b.k) & 1) = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM w, range(60) AS b(k) GROUP BY doc_id, b.k),
         |sigagg AS (
         |  SELECT doc_id, SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << k) ELSE 0 END) AS sig
         |  FROM bits GROUP BY doc_id),
         |sigs AS (
         |  SELECT d.doc_id, d.n_chars, COALESCE(s.sig, 0)::UBIGINT AS sig
         |  FROM $D d LEFT JOIN sigagg s USING (doc_id)),
         |reps AS (SELECT *, row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
         |  FROM sigs)
         |SELECT r.doc_id, r.n_chars FROM reps r
         |WHERE r.rn = 1 AND NOT EXISTS (
         |  SELECT 1 FROM reps p WHERE p.rn = 1 AND p.doc_id < r.doc_id
         |    AND bit_count(xor(p.sig, r.sig)) <= 3)""".stripMargin) { (s, dir) =>
      SimHashDeduplicateFilter("text", "doc_id", hammingK = 3)(t(s, dir, D))
        .select("doc_id", "n_chars")
    },
    // Full value oracle (round 12, closing the longest-standing
    // no_oracle): greedy k-center is deterministic — seed at the
    // smallest id, running min-dist, argmax ties toward the smallest
    // id — so DuckDB replays the ENTIRE selection with a recursive CTE
    // whose state is (step, per-point running min-dist); each step's
    // argmax comes from a scalar subquery over the previous step's
    // working table (DuckDB permits the second recursive reference).
    // Distances use sqlSqDist's ascending left-to-right fold =
    // Dedup.sqDist's loop, so argmax comparisons are bit-identical.
    // Validity precondition, R12Spec-pinned: at verify scale every
    // range partition holds ≤ k rows (500 ≤ 64×100 at sf0.01), so the
    // operator's distributed pre-selection passes ALL rows to the
    // driver greedy and the full-corpus replay is exact.
    "dedup_kcenter" -> oracled(
      s"""WITH RECURSIVE pts AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |sel AS (
         |  SELECT 1 AS step, p.id, p.e,
         |    ${sqlSqDist("p.e", "c.e", 64)} AS mindist, c.id AS chosen_id
         |  FROM pts p, (SELECT id, e FROM pts ORDER BY id LIMIT 1) c
         |  UNION ALL
         |  SELECT s.step + 1, s.id, s.e,
         |    least(s.mindist, ${sqlSqDist("s.e", "nx.e", 64)}) AS mindist,
         |    nx.id AS chosen_id
         |  FROM sel s,
         |    (SELECT id, e FROM sel ORDER BY mindist DESC, id LIMIT 1) nx
         |  WHERE s.step < 100)
         |SELECT e.vec_id, e.label FROM embeddings e
         |JOIN (SELECT DISTINCT chosen_id FROM sel) c ON c.chosen_id = e.vec_id""".stripMargin) {
      (s, dir) =>
        KCenterGreedyFilter("embedding", "vec_id", k = 100)(t(s, dir, "embeddings"))
          .select("vec_id", "label")
    })
}
