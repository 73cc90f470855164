package graft

import graft.ops.dedup.MinHashDeduplicateFilter

/** Round-6 gates for the minhash verify restructure: the exact Jaccard
  * check runs INSIDE the band self-join (score-before-shuffle), so no
  * exchange ever carries candidate-pair rows with both shingle arrays —
  * the shape that ran a ×100 scale run (100-way NEAR-dup clusters,
  * where the identical-set collapse cannot fire) out of heap.
  */
class R6Spec extends SparkSuite {
  import spark.implicits._

  /** A cluster of near-duplicates that are NOT identical: member i drops
    * token i of a shared base text, so every pairwise Jaccard is high but
    * every shingle set is distinct — the identical-set collapse fast path
    * never fires and all pair work goes through the band join. */
  private def nearDupCluster(n: Int, baseTokens: Int = 80): Seq[(Long, String)] = {
    val base = (0 until baseTokens).map(t => s"tok$t")
    (0L until n.toLong).map { i =>
      val drop = (i % baseTokens).toInt
      (i, base.zipWithIndex.collect { case (w, p) if p != drop => w }.mkString(" "))
    }
  }

  private def uniques(from: Long, n: Int): Seq[(Long, String)] =
    (from until from + n).map(i =>
      (i, s"unique document $i about ${i * 31} and ${i * 7} and ${i * 13}"))

  /** Reference keep-first pairwise semantics over the SAME shingle kernel:
    * j is dropped iff some i < j has exact Jaccard ≥ threshold. */
  private def brutePairwiseDrops(rows: Seq[(Long, String)],
      ngram: Int, threshold: Double): Set[Long] = {
    val sh = rows.map { case (id, text) =>
      id -> graft.functions.kernels.shingleHashes(
        text.split("\\s+").toSeq, ngram)
    }.sortBy(_._1)
    (for {
      ((i, si), xi) <- sh.zipWithIndex
      (j, sj) <- sh.drop(xi + 1)
      if jaccard(si, sj) >= threshold
    } yield j).toSet
  }

  private def jaccard(x: Array[Long], y: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1 else j += 1
    }
    val union = x.length + y.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  test("minhash matches brute-force pairwise keep-first on a near-dup cluster") {
    val rows = nearDupCluster(200) ++ uniques(1000L, 60)
    val df = rows.toDF("doc_id", "text")
    val op = MinHashDeduplicateFilter("text", "doc_id", threshold = 0.9)
    val kept = op(df).select("doc_id").as[Long].collect().toSet
    val expectDrops = brutePairwiseDrops(rows, op.ngram, op.threshold)
    assert(kept == rows.map(_._1).toSet -- expectDrops,
      s"kept ${kept.size}, expected ${rows.size - expectDrops.size}")
  }

  test("minhash big-bucket path (cnt > cap) still drops the whole cluster") {
    // force every cluster band bucket over the cap: member-vs-bucket-min
    // must carry the verify alone
    val rows = nearDupCluster(120) ++ uniques(5000L, 40)
    val df = rows.toDF("doc_id", "text")
    val op = MinHashDeduplicateFilter("text", "doc_id", threshold = 0.9,
      maxBandBucket = 16)
    val kept = op(df).select("doc_id").as[Long].collect().toSet
    // all cluster members are pairwise-similar to the cluster minimum, so
    // even the capped (min-only) candidate set drops everything but doc 0
    assert(kept == (Set(0L) ++ uniques(5000L, 40).map(_._1)),
      s"kept ${kept.toSeq.sorted.take(10)}... (${kept.size})")
  }

  test("corpus-sized joins never plan as broadcast from static estimates") {
    // On tiny test inputs Catalyst's static size estimates make EVERY
    // join broadcast-eligible — exactly the condition under which the
    // scale hazard hides. The merge hints must hold regardless: the
    // band/bucket self-joins and the sig-fetch joins
    // pair corpus-sized sides (a ×100 run OOM'd broadcasting the minhash
    // stats aggregate, whose static estimate stays small at any scale).
    // The one legitimate broadcast candidate is the final left_anti
    // (dup-ids side, bounded in the checkpointed minhash path).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def joins(df: org.apache.spark.sql.DataFrame, allowedBroadcasts: Int): Unit = {
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val bhj = root.collect { case j: BroadcastHashJoinExec => j }
      val bnl = root.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnl.isEmpty, s"nested-loop broadcast join in plan: $bnl")
      assert(bhj.size <= allowedBroadcasts,
        s"${bhj.size} broadcast joins (allowed $allowedBroadcasts): " +
          bhj.map(_.leftKeys.mkString(",")).mkString(" | "))
    }
    val docs = (nearDupCluster(30) ++ uniques(900L, 10)).toDF("doc_id", "text")
    val mh = MinHashDeduplicateFilter("text", "doc_id")
    joins(mh.duplicateIds(mh.shingled(docs)), allowedBroadcasts = 0)
    joins(graft.ops.dedup.SimHashDeduplicateFilter("text", "doc_id")(docs),
      allowedBroadcasts = 1) // the final left_anti only
    val embs = (0L until 50L).map(i =>
      (i, Array.tabulate(64)(d => math.sin(i * 64 + d))))
      .toDF("vec_id", "embedding")
    joins(graft.ops.dedup.SemDeduplicateFilter("embedding", "vec_id")(embs),
      allowedBroadcasts = 1) // the final left_anti only
    joins(graft.ops.sim.Similarity.similarityJoin(
      embs, "embedding", "vec_id", 0.95), allowedBroadcasts = 0)
  }

  test("no exchange carries candidate pairs with both shingle arrays") {
    val df = (nearDupCluster(50) ++ uniques(9000L, 20)).toDF("doc_id", "text")
    val op = MinHashDeduplicateFilter("text", "doc_id")
    // lint the pre-checkpoint dup-id plan — apply()'s eager localCheckpoint
    // would erase the interesting exchanges from the final join's plan
    val dups = op.duplicateIds(op.shingled(df))
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val root = dups.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // AQE hides its tree
      case p => p
    }
    val exchanges = root.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, "expected shuffles in the dedup plan")
    exchanges.foreach { e =>
      val arrayCols = e.output.count(a => a.dataType == ArrayType(LongType))
      assert(arrayCols <= 1,
        s"exchange moves $arrayCols shingle arrays per row (pairs+arrays " +
          s"shuffle — quadratic in cluster size): ${e.output.map(_.name)}")
    }
  }
}
