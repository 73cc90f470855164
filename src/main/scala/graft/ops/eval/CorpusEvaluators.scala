package graft.ops.eval

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Partitioning
import graft.functions.text._

/** Corpus-dependent evaluators — the two-pass family. */
object CorpusEvaluators {

  /** CIDEr-style TF-IDF unigram similarity
    * (`cider_sample_evaluator.py:17-86`, corpus-IDF at `bleu/cider` impl):
    * pass 1 aggregates document frequencies over the REFERENCE corpus;
    * pass 2 scores each (pred, ref) pair as the cosine of their
    * idf-weighted unigram tf vectors. Two Spark jobs, one broadcast of the
    * (vocab-sized) idf map — the distributed shape of every corpus-IDF
    * metric. The idf join is an explode → broadcast-join → re-agg; at
    * 100 TB the idf table is bounded by vocab, not corpus, so it stays
    * broadcastable.
    */
  def ciderUnigram(pairs: DataFrame, predKey: String, refKey: String,
      idKey: String, outputKey: String = "cider"): DataFrame = {
    // priced cost: count() = 2 AQE jobs, kept deliberately — `pairs` may
    // carry exchanges (the callers self-join), so the one-job toRdd path
    // would forfeit AQE on a real plan to save two ~55 ms job floors
    val n = pairs.count().toDouble
    // ONE tagged explode+aggregate yields both tf vectors per (id, tok).
    // The pair rows are exchanged by id, at [[Partitioning.widthFor]] the
    // pair count, BEFORE the explode: HashPartitioning(id) satisfies both
    // the (id, tok) aggregate and the final per-id cosine aggregate, so
    // the corpus is exchanged once, as text, and the explode runs at
    // that width rather than the scan's.
    val parted = pairs.repartition(
      Partitioning.widthFor(n.toLong, pairs.sparkSession), col(idKey))
    // the side tag is POSITIONAL (pos < |pred words| = pred side), not a
    // per-token struct/string: one concat of the two existing token
    // arrays and an int compare per token — a struct-wrapping variant
    // measured ~2× the per-token CPU at ×10. A null text is an empty
    // token list, so a null-pred pair still adds its ref tokens to
    // dfreq and scores 0 (concat of a null side would be null and drop
    // the whole pair).
    val none = array().cast("array<string>")
    val tagged = parted
      .select(col(idKey), coalesce(words(col(predKey)), none).as("__wp"),
        coalesce(words(col(refKey)), none).as("__wr"))
      .select(col(idKey), size(col("__wp")).as("__np"),
        posexplode(concat(col("__wp"), col("__wr"))).as(Seq("__pos", "tok")))
    val tf = tagged.groupBy(idKey, "tok").agg(
      sum(when(col("__pos") < col("__np"), 1).otherwise(0)).as("tf_p"),
      sum(when(col("__pos") >= col("__np"), 1).otherwise(0)).as("tf_r"))
    // document frequency over refs, derived from the same grouped pass
    val df = tf.filter(col("tf_r") > 0)
      .groupBy("tok").agg(count(lit(1)).as("dfreq"))
      .withColumn("idf", log(lit(n) / col("dfreq")))
    // idf weights; cosine over the sparse dims
    val joined = tf
      .join(broadcast(df), Seq("tok"), "left")
      .withColumn("wp", col("tf_p") * coalesce(col("idf"), lit(0.0)))
      .withColumn("wr", col("tf_r") * coalesce(col("idf"), lit(0.0)))
    val scored = joined.groupBy(idKey).agg(
      sum(col("wp") * col("wr")).as("dot"),
      sqrt(sum(col("wp") * col("wp"))).as("np"),
      sqrt(sum(col("wr") * col("wr"))).as("nr"))
    scored.withColumn(outputKey,
      when(col("np") === 0 || col("nr") === 0, 0.0)
        .otherwise(round(col("dot") / (col("np") * col("nr")), 6)))
      .select(col(idKey), col(outputKey))
  }

  /** Full CIDEr-D (`general_text/eval/cider/cider.py:10-120`): n-grams
    * 1..4, idf = ln(corpus size) − ln(max(1, df)) with df counted over
    * the reference side, per-n clipped similarity
    * Σ min(wp, wr)·wr / (‖wp‖·‖wr‖), a gaussian length penalty
    * e^(−δ²/2σ²) with σ=6 and δ = bigram-count difference (the
    * reference's `length` accumulates term frequencies at n==1, i.e.
    * bigrams), mean over the four n, ×10.
    *
    * Distributed shape: one native generator pass for both tf vectors at
    * every n, document frequency as a window aggregate inside the
    * (n, gram) exchange, re-aggregation per (id, n) then per id —
    * corpus size never touches the driver. */
  def ciderD(pairs: DataFrame, predKey: String, refKey: String,
      idKey: String, outputKey: String = "cider_d",
      sigma: Double = 6.0): DataFrame = {
    // priced cost: 2-job count() kept — same reasoning as ciderUnigram
    // (pairs may shuffle; AQE matters more than two job floors here)
    val nDocs = pairs.count().toDouble
    val maxN = 4
    // Both sides' per-pair tf vectors stream out of ONE native Generator
    // ([[graft.functions.PairNgramTfGen]]): grams are 60-bit md5
    // prefixes, not strings (8-byte exchange keys; the DuckDB oracle
    // recomputes the identical hash — a collision merges two grams' tf
    // counts IDENTICALLY on both sides, ~n²/2⁶⁰ of the vocab affected:
    // metric perturbation, never an oracle divergence), and because each
    // pairs row is its own scoring unit the generator's output IS the
    // final per-(id, n, gram) tf table — the exploded ~2.3x-wider tagged
    // stream of earlier forms never enters the plan.
    //
    // The pair rows are exchanged by id, at [[Partitioning.widthFor]]
    // the pair count, BEFORE the generator:
    //  - the exchange carries the pair texts, ~10× fewer bytes than the
    //    generated gram stream;
    //  - the md5-per-gram CPU runs at that width, not at the scan's, and
    //    AQE's byte-based coalescing cannot narrow it;
    //  - HashPartitioning(id) satisfies the groupBy(id, n, gram), and
    //    `lens` below derives from the same child, so one exchange (and
    //    one pairs evaluation, via ReuseExchange) serves tf and lens.
    // Ids are uniform, so every pass is balanced; the dfreq window below
    // re-exchanges by (n, gram).
    val parted = pairs.repartition(
      Partitioning.widthFor(nDocs.toLong, pairs.sparkSession), col(idKey))
    val tf = parted.select(col(idKey),
      graft.functions.hashExpressions.pairNgramTf(
        words(col(predKey)), words(col(refKey)), maxN))
      .groupBy(idKey, "n", "gram").agg(
        sum(col("tf_p")).as("tf_p"), sum(col("tf_r")).as("tf_r"))
    // Document frequency as a window aggregate in the SAME (n, gram)
    // hashpartitioning the idf weighting consumes — the minhash band
    // rework's trick. The earlier shape (separate `groupBy(n, gram)`
    // dfreq aggregate merge-joined back onto tf) paid one extra
    // corpus-sized (n, gram) exchange and kept alive the static-estimate
    // broadcast hazard on the stats join (an aggregate's narrow static
    // size estimate picks a broadcast before AQE ever sees the real
    // size — the mechanism that OOM'd the minhash ×100 run); the window
    // computes dfreq inside the one exchange and there is no stats join
    // left to mis-plan. ~1.2× faster at ×100 (see BASELINE.md) and two
    // fewer corpus-sized Exchanges in the plan.
    //
    // KNOWN CLUSTER-SCALE HAZARD (accepted): WindowExec buffers each
    // (n, gram) group in full before emitting, and a zipf-head unigram's
    // group is corpus-sized — one task's spill-backed buffer that AQE
    // skew handling cannot split. The skew-free alternative (dfreq as a
    // partial (n, gram) aggregate merge-joined back onto tf, which
    // streams the skewed side and buffers nothing group-sized) gives the
    // same rows but ran ~1.27× slower at ×100 (79.2 vs 61.8 s). If a
    // cluster run stalls on a head-gram window task, switch to it.
    val w = tf
      .withColumn("dfreq", sum(when(col("tf_r") > 0, 1L).otherwise(0L))
        .over(Window.partitionBy("n", "gram")))
      .withColumn("idfw",
        lit(math.log(nDocs)) - log(greatest(lit(1.0), col("dfreq").cast("double"))))
      .withColumn("wp", col("tf_p") * col("idfw"))
      .withColumn("wr", col("tf_r") * col("idfw"))
    val perN = w.groupBy(idKey, "n").agg(
      sum(least(col("wp"), col("wr")) * col("wr")).as("dot"),
      sqrt(sum(col("wp") * col("wp"))).as("np"),
      sqrt(sum(col("wr") * col("wr"))).as("nr"))
    val lens = parted.select(col(idKey),
      greatest(wordCount(col(predKey)) - 1, lit(0)).cast("double").as("lp"),
      greatest(wordCount(col(refKey)) - 1, lit(0)).cast("double").as("lr"))
    val delta = col("lp") - col("lr")
    val penalty = exp(-(delta * delta) / lit(2.0 * sigma * sigma))
    val valN = perN.join(lens.hint("merge"), Seq(idKey))
      .withColumn("val",
        when(col("np") === 0 || col("nr") === 0, 0.0)
          .otherwise(col("dot") / (col("np") * col("nr"))) * penalty)
    valN.groupBy(idKey)
      .agg(round(sum(col("val")) / maxN * 10.0, 6).as(outputKey))
  }

  /** MMD² with RBF kernel between two embedding sets
    * (`text_sft/eval/mmd_dataset_evaluator.py:14`) — driver-side over
    * collected vectors (deterministic summation order; sample-capped). */
  def mmdRbf(df: DataFrame, embKey: String, splitCol: Column,
      gamma: Double = 0.01, cap: Int = 500): Double = {
    val rows = df.select(splitCol.cast("boolean"), col(embKey).cast("array<double>"))
      .limit(cap).collect()
      .map(r => (r.getBoolean(0), r.getSeq[Double](1).toArray))
    val xs = rows.filter(_._1).map(_._2)
    val ys = rows.filterNot(_._1).map(_._2)
    def k(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.exp(-gamma * s)
    }
    def meanK(as: Array[Array[Double]], bs: Array[Array[Double]]): Double = {
      var s = 0.0
      for (a <- as; b <- bs) s += k(a, b)
      s / (as.length.toDouble * bs.length.toDouble)
    }
    meanK(xs, xs) + meanK(ys, ys) - 2 * meanK(xs, ys)
  }
}
