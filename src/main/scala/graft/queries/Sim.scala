package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.sim.Similarity

/** Top-k search and similarity join (`graft.ops.sim`). */
object Sim {
  /** Where sim_ivf_topk exports its trained centroids for the DuckDB
    * oracle to read back (absolute so the static oracle SQL can name
    * it; under the system temp dir, never inside the read-only
    * testdata). */
  private val IvfCentroidDir = "/tmp/graft_ivf_centroids"

  /** Export only when an oracle replay will actually read it: Verify
    * sets `graft.ivf.export` (and a manual run can set the env var).
    * A bench pass must NOT pay the coalesce(1) parquet write inside the
    * timed query — it's oracle plumbing, not operator work. */
  private def ivfExportDir: Option[String] =
    if (sys.props.get("graft.ivf.export").contains("true") ||
        sys.env.contains("GRAFT_IVF_EXPORT")) Some(IvfCentroidDir)
    else None

  /** DuckDB sequential-fold dot product over DOUBLE[] (bit-matches the
    * `dot += ct(j) * v(j)` loop in Similarity.ivfTopK's centroid
    * ranking). */
  private def sqlDot(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, " +
      s"list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  def queries: Map[String, Q] = Map(
    "sim_topk_brute" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${sqlCosine("q.e", "c.e", 64)} AS cos
         |  FROM v q, v c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 5)
    },
    // LSH top-k, fully oracled: same md5-parity bucket replay as
    // dedup_sem_lsh; candidates = shared bucket, exact cosine, rank ties
    // by neighbor_id (the bounded top-k aggregator's ordering)
    "sim_lsh_topk" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${sqlLshBucketCtes(bits = 8, dim = 64, tables = 4)},
         |pairs AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |scored AS (SELECT p.query_id, p.neighbor_id,
         |    ${sqlCosine("a.e", "b.e", 64)} AS cos
         |  FROM pairs p JOIN v a ON a.vec_id = p.query_id
         |  JOIN v b ON b.vec_id = p.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      // bits pinned to the oracle's CTE width (the operator DEFAULT is
      // bits = 0 → auto-sized from the corpus count)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 5, bits = 8)
    },
    // Full value oracle despite the driver-side k-means: training (a
    // seeded k-means++ + Lloyd over a collected sample) isn't
    // SQL-replayable, but the RUN exports its trained centroids
    // (ivfTopK exportDir) and everything downstream — raw-dot argmax
    // assignment (normalization provably drops out of the argsort),
    // top-nProbe probing with the same (dot DESC, list_id) tie-break as
    // the stable sortBy, exact in-list cosine rank — replays bit for
    // bit. Export is keyed by corpus row count so the sf0.01 verify
    // export and the sf0.1 bench export coexist.
    "sim_ivf_topk" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |cent AS (SELECT list_id, center FROM read_parquet('$IvfCentroidDir/*/*.parquet')
         |  WHERE sf_rows = (SELECT count(*) FROM embeddings)),
         |ranked AS (SELECT vec_id, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, list_id) AS rn
         |  FROM (SELECT v.vec_id, c.list_id, ${sqlDot("c.center", "v.e", 64)} AS dot
         |        FROM v CROSS JOIN cent c)),
         |assign AS (SELECT vec_id, list_id FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, list_id FROM ranked WHERE rn <= 4 AND vec_id < 5),
         |scored AS (SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    ${sqlCosine("vq.e", "va.e", 64)} AS cos
         |  FROM probes q JOIN assign a ON a.list_id = q.list_id AND a.vec_id <> q.vec_id
         |  JOIN v vq ON vq.vec_id = q.vec_id JOIN v va ON va.vec_id = a.vec_id)
         |SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 5, nLists = 16, nProbe = 4,
        exportDir = ivfExportDir)
    },
    // The synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.51
    // at sf0.01), so a 0.9 threshold correctly returns zero pairs; 0.4 has
    // real matches (59 at sf0.01). 8 bits × 16 tables: per-bit collision
    // p = 1 - arccos(0.4)/π ≈ 0.63 → recall ≈ 1-(1-p^8)^16 ≈ 0.33 at the
    // threshold (rising steeply for closer pairs) with ~half the candidate
    // pairs of a 6-bit table set — more tables beats wider buckets.
    "sim_join" -> oracled(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${sqlLshBucketCtes(bits = 8, dim = 64, tables = 16)},
         |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM buckets l JOIN buckets r
         |    ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT c.a, c.b, ${sqlCosine("va.e", "vb.e", 64)} AS cos
         |FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
         |WHERE ${sqlCosine("va.e", "vb.e", 64)} >= 0.4::DOUBLE""".stripMargin) {
      (s, dir) =>
        Similarity.similarityJoin(t(s, dir, "embeddings"),
          "embedding", "vec_id", threshold = 0.4, bits = 8, tables = 16)
    })
}
