package graft.ops.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Partitioning

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus: one narrow pass over the corpus, per-partition
  * top-k via window. Scale path: [[CosineLsh]] random-hyperplane buckets
  * (or an IVF variant via k-means-ish centroids) so the join touches only
  * same-bucket candidates — candidate count, not n×m.
  */
object Similarity {

  /** Query-side broadcast ceiling for [[lshTopK]]: 100k rows × (64-dim
    * double vector + tables bucket keys) ≈ 60 MB built once per executor
    * — the comfortable upper edge for a broadcast build. Above it the
    * join falls back to a shuffle (see the gate in [[lshTopK]]).
    *
    * This default is a per-deployment tuning surface. On a single node
    * (BASELINE.md, digests identical on both branches):
    *   - 200k vectors, 50k queries: broadcast+spread 110.7 s vs merge
    *     fallback 116.4 s — a wash.
    *   - 2M vectors, 50k queries: broadcast+spread 434.8 s vs fallback
    *     224.5 s — the FALLBACK wins 1.94× locally (shared-heap GC +
    *     hash-probe overhead at near-dup match multiplicity; the corpus
    *     shuffle it pays costs only local disk).
    * The default still stands for the 100 TB design point: on a
    * multi-executor cluster the fallback shuffles the ENTIRE corpus
    * across the network while the broadcast ships ~tens of MB of
    * queries and touches the corpus in place — local[32] charges
    * nothing for exactly the cost that dominates at scale. Single-node
    * users with compact corpora and big query sets should LOWER this
    * ceiling (forcing the merge fallback earlier); cluster users can
    * raise it as far as executor memory tolerates the query build. */
  val MaxBroadcastQueries: Long = 100000L

  /** Query-count floor below which [[lshTopK]] and [[ivfTopK]] never
    * [[Partitioning.spread]] a narrow corpus: with few queries the probe
    * work per corpus row is lighter than one extra corpus shuffle. Above
    * it, probe work (queries × collisions per corpus row) dominates: at
    * 50k queries on a 2-split 500k-vector corpus the probe stage ran
    * 546 s at scan width vs 78 s at full width (32 cores). */
  val MinHealQueries: Long = 1024L

  /** [[ivfTopK]] training rows per list (FAISS's
    * `max_points_per_centroid`): the sample is capped at
    * `MaxTrainPerList × nLists` rows, which bounds driver memory. */
  private[graft] val MaxTrainPerList: Int = 256

  /** Most Lloyd rounds after k-means++ seeding in [[trainIvf]]. A round
    * costs m × nLists × dim multiply-adds on the driver (4.2 M at
    * 4096 × 16 × 64). Over 12 seeds of RecallSpec's uniform corpus,
    * 20 rounds lifted the mean nProbe=4/16 recall@10 from 0.642 (5
    * rounds) to 0.661. */
  private[graft] val IvfLloydRounds: Int = 20

  /** Sequential-fold cosine via the native codegen'd expression — same
    * IEEE op order as a left-fold SQL oracle, bit-reproducible. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.expressions.cosineSim(a, b)

  /** Rank-explode a TopK aggregate: groupBy(query_id).agg(top-k) →
    * (query_id, neighbor_id, rank). Map-side partial aggregation bounds
    * the shuffle at k rows per task per query — a window row_number here
    * would shuffle every scored candidate.
    *
    * The typed TopK aggregate plans as ObjectHashAggregate, and Spark
    * falls back to SORT-BASED aggregation once a task's hash map exceeds
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (default 128 distinct keys) — NOT a memory limit. Fed the raw
    * candidate stream, that fallback sorts every scored candidate on disk
    * (2M vectors × 10k queries spilled 5e9 rows and died ENOSPC, although
    * the TopK buffers need only ~200 B per query). Invariant:
    * [[partialTopK]] pre-reduces each partition to ≤ k rows per query
    * with a bounded JVM heap BEFORE this aggregation, so the aggregate —
    * and any sort-based fallback it takes — sees ≤ k rows per query per
    * task, and no session conf can turn this operator into a
    * corpus-candidate disk sort. The default threshold is therefore
    * harmless; at 2M vectors it gives digests bit-identical to a raised
    * one (BASELINE.md). */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    partialTopK(scored, k).groupBy("query_id")
      .agg(TopK.column(k, col("cos"), col("neighbor_id")).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__pos", "__s")))
      .select(col("query_id"), col("__s.id").as("neighbor_id"),
        (col("__pos") + 1).cast("int").as("rank"))

  /** Bounded per-query per-partition top-k pre-reduction: one narrow
    * `mapPartitions` pass holding a k-bounded heap per query key, so
    * each task emits ≤ k rows per query it saw. The memory this costs
    * (~k × 32 B per distinct query per task) is exactly what the
    * downstream TopK aggregation's hash map needed anyway — paid in a
    * plain JVM map that has no sort-based fallback to fall into.
    *
    * Exactness: the heap's keep/evict predicate is the SAME total order
    * as [[TopK.TopKAggregator]] — (score desc, id asc) — and top-k of a
    * union equals top-k of the union of per-part top-ks under a total
    * order, so the final result (and its oracle hash) is bit-identical
    * to the un-reduced plan; SimilaritySpec pins both the per-task bound
    * and the equality. `neighbor_id` is cast to long here exactly as the
    * aggregator's input encoder already did, and `query_id` passes
    * through untouched (its type is part of the output schema). The
    * `mapPartitions` is narrow — it runs at the probe stage's own
    * width, so a [[Partitioning.spread]] above it still applies. */
  private[graft] def partialTopK(scored: DataFrame, k: Int): DataFrame = {
    val slim = scored.select(col("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"),
      col("cos").cast("double").as("cos"))
    val enc = org.apache.spark.sql.Encoders.row(slim.schema)
    slim.mapPartitions { (it: Iterator[org.apache.spark.sql.Row]) =>
      // worst-first min-heap under the (score desc, id asc) total
      // order: peek() is the entry a better candidate evicts
      val worstFirst = new java.util.Comparator[TopK.Scored] {
        def compare(a: TopK.Scored, b: TopK.Scored): Int = {
          val c = java.lang.Double.compare(a.score, b.score)
          if (c != 0) c else java.lang.Long.compare(b.id, a.id)
        }
      }
      val heaps =
        new java.util.HashMap[Any, java.util.PriorityQueue[TopK.Scored]]()
      while (it.hasNext) {
        val r = it.next()
        val q = r.get(0); val id = r.getLong(1); val s = r.getDouble(2)
        var h = heaps.get(q)
        if (h == null) {
          h = new java.util.PriorityQueue[TopK.Scored](k, worstFirst)
          heaps.put(q, h)
        }
        if (h.size < k) h.add(TopK.Scored(s, id))
        else {
          val w = h.peek() // same keep predicate as TopKAggregator.better
          if (s > w.score || (s == w.score && id < w.id)) {
            h.poll(); h.add(TopK.Scored(s, id))
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      val eit = heaps.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val hit = e.getValue.iterator()
        while (hit.hasNext) {
          val x = hit.next()
          out += org.apache.spark.sql.Row(e.getKey, x.id, x.score)
        }
      }
      out.iterator
    }(enc)
  }

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows (excluding itself), ties broken by corpus id. A null corpus
    * vector is never a neighbour and a null query vector gets no rows
    * (the semantics of every top-k here).
    *
    * The probe stage runs at the corpus scan's width and is never
    * spread: the gate would need a query count (one more job), and brute
    * force is the small-query exact baseline — a big query set belongs on
    * [[lshTopK]] or [[ivfTopK]]. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, embKey: String,
      idKey: String, k: Int): DataFrame = {
    val c = corpus.select(col(idKey).as("neighbor_id"),
      col(embKey).cast("array<double>").as("__ce")).where(col("__ce").isNotNull)
    val q = queries.select(col(idKey).as("query_id"),
      col(embKey).cast("array<double>").as("__qe")).where(col("__qe").isNotNull)
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("__qe"), col("__ce")))
    rankTopK(scored, k)
  }

  /** LSH top-k over [[CosineLsh]] buckets (`bits` sign bits per table,
    * OR-amplified across `tables`): same-bucket candidates rank exactly.
    * Recall < 1 by construction — the 100 TB path where brute force is
    * off the table.
    *
    * `bits = 0` (the default) auto-sizes the bucket width from the CORPUS
    * row count (see [[CosineLsh.autoBits]]): with bits held fixed,
    * per-table bucket occupancy is n/2^bits — linear in corpus size — so
    * every query's candidate scan grows linearly with the corpus and the
    * corpus side has no occupancy cap at all. Auto keeps per-bucket
    * density constant; the floor makes small corpora identical to
    * bits=8. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, embKey: String,
      idKey: String, k: Int, bits: Int = 0, dim: Int = 64,
      tables: Int = 4,
      maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame = {
    CosineLsh.checkBits(bits)
    val q0 = queries.select(col(idKey).as("query_id"),
      col(embKey).cast("array<double>").as("__qe"))
    // The broadcast below is the operator's contract — top-k for a SMALL
    // query set against a big corpus, one narrow corpus pass, no corpus
    // shuffle. A corpus-sized query set would build a multi-GB broadcast
    // and die on the driver/executors, so the hint is gated on a cheap
    // ids-only count: above the threshold we fall back to a shuffle join
    // (merge hint — both sides corpus-scale, a static-estimate broadcast
    // must not resurface) and say so loudly.
    //
    // ONE job feeds both auto knobs; when `bits` is explicit the corpus
    // side isn't scanned at all (and `width` never reads counts.head).
    val counts = Partitioning.rowCounts(
      (if (bits == 0) Seq(corpus, q0) else Seq(q0)): _*)
    val qCount = counts.last
    val b = CosineLsh.width(bits, counts.head)
    val broadcastPath = qCount <= maxBroadcastQueries
    // On the broadcast path the probe stage runs at the corpus scan's
    // width and its work grows with queries × collisions, so a large
    // query set spreads a narrow corpus before the explode (pre-explode
    // bytes, 1/tables of the exploded rows). The query floor is checked
    // first: the width probe runs no job but still plans the corpus. The
    // merge fallback's own exchange already runs at full width.
    val c0 = corpus.select(col(idKey).as("neighbor_id"),
      col(embKey).cast("array<double>").as("__ce"))
    val cPre =
      if (broadcastPath && qCount >= MinHealQueries) Partitioning.spread("lshTopK", c0)(true)
      else c0
    val c = CosineLsh.explodeKeys(cPre, col("__ce"), b, dim, tables, Some("__ba"))
    val q = CosineLsh.explodeKeys(q0, col("__qe"), b, dim, tables, Some("__bb"))
    val qSide =
      if (broadcastPath) broadcast(q)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"lshTopK: $qCount query rows exceed maxBroadcastQueries=" +
            s"$maxBroadcastQueries — falling back to a shuffle join " +
            "(broadcast of a corpus-sized query side would OOM)")
        q.hint("merge")
      }
    // Both sides carry their key array (tables × ~12 B — noise next to
    // the vector) for the emit-once check, so with rankTopK's partialTopK
    // pre-reduce the broadcast path's ONLY exchange is the k-bounded
    // groupBy — nothing candidate-stream-sized ever shuffles.
    val scored = c.join(qSide, Seq(CosineLsh.Key))
      .where(col("neighbor_id") =!= col("query_id"))
      .where(CosineLsh.firstShared(col("__ba"), col("__bb")))
      .withColumn("cos", cosine(col("__qe"), col("__ce")))
      .select("query_id", "neighbor_id", "cos")
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN top-k: a k-means coarse quantizer assigns
    * every corpus vector to its nearest centroid (one narrow pass —
    * centroids are tiny and live in the task closure); each query probes
    * its `nProbe` nearest centroids and ranks exactly within those
    * posting lists. The 100 TB shape: the corpus join key is the
    * centroid id, so a query touches nProbe/nLists of the data instead
    * of all of it; `nProbe = nLists` degrades to exact brute force
    * (the recall test's invariant).
    *
    * Training runs on the driver: the first
    * `min(maxTrain, MaxTrainPerList × nLists)` non-null corpus vectors
    * are collected in ONE job as primitive `double[]` rows, L2-normalized
    * in place, seeded with k-means++ (`scala.util.Random(seed)`) and
    * refined by [[IvfLloydRounds]] Lloyd rounds (see [[trainIvf]]).
    * Driver memory is bounded by the sample: at most
    * `nLists × 256 × dim × 8` bytes — 2 MiB at 16 lists × 64 dims —
    * whatever the corpus size. The cap follows FAISS's
    * `max_points_per_centroid`, which subsamples k-means input to 256
    * rows per centroid. Any centroid set gives
    * exact-ranked results inside the probed lists; centroid quality only
    * shapes recall at a given `nProbe`. A sample with fewer distinct
    * vectors than `nLists` yields fewer lists; an empty one yields none
    * and an empty result, with no error — as for a corpus whose every
    * vector is NaN, since non-finite rows never enter the sample. A null
    * corpus vector is never a neighbour and a null query vector gets no
    * rows.
    *
    * `exportDir`: when set, the trained centroids are written to
    * `$exportDir/rows_<corpusCount>` as (list_id, center, sf_rows) —
    * k-means training is not SQL-replayable, but given the centers the
    * rest of the query (argmax-dot assignment, probing, exact in-list
    * cosine rank) IS, so a DuckDB oracle can replay it bit for bit.
    * Keyed by corpus row count so runs at different scale factors don't
    * clobber each other's export. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, embKey: String,
      idKey: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
      seed: Long = 42L, maxTrain: Int = 100000,
      exportDir: Option[String] = None): DataFrame = {
    require(nLists >= 1 && maxTrain >= 1,
      s"nLists and maxTrain must be positive, got $nLists and $maxTrain")
    val c = corpus.select(col(idKey).as("neighbor_id"),
      col(embKey).cast("array<double>").as("__ce"))
    val q = queries.select(col(idKey).as("query_id"),
      col(embKey).cast("array<double>").as("__qe")).where(col("__qe").isNotNull)
    // trained on the unspread c: `limit` over a repartitioned corpus
    // would pick different rows, and centroids must not depend on width
    val centers = trainIvf(ivfSample(c, "__ce", nLists, maxTrain), nLists, seed)
    exportDir.foreach { base =>
      val spark = corpus.sparkSession
      import spark.implicits._
      // rowCounts, not count(): one job on an exchange-free projection;
      // every corpus row counts, matching the oracle's count(*)
      val nRows = Partitioning.rowCounts(c).head
      centers.zipWithIndex.toSeq
        .map { case (ct, i) => (i, ct.toSeq, nRows) }
        .toDF("list_id", "center", "sf_rows")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/rows_$nRows")
    }
    // Ranks raw (unnormalized) dots: normalizing the input vector scales
    // every dot by the same positive 1/||v||, so its argsort over the
    // centroids — hence the assigned list AND the probe set — is
    // unchanged (zero vector: all dots 0 either way). Skipping the
    // normalization saves a per-row pass and makes the oracle replay a
    // plain dot-product fold.
    val nearestLists = udf { (v: Seq[Double], probes: Int) =>
      val arr = v.toArray
      centers.zipWithIndex.map { case (ct, i) =>
        var dot = 0.0
        var j = 0
        val m = math.min(ct.length, arr.length)
        while (j < m) { dot += ct(j) * arr(j); j += 1 }
        (dot, i)
      }.sortBy(-_._1).take(probes).map(_._2)
    }
    // The broadcast-probe stage runs at the corpus scan's width (the
    // rankTopK exchange below parallelizes only the aggregation), so a
    // large query set spreads a narrow corpus; the query count is one
    // job, paid only when the corpus is narrow.
    val cProbe = Partitioning.spread("ivfTopK", c.where(col("__ce").isNotNull))(
      Partitioning.rowCounts(q).head >= MinHealQueries)
    // get, not (0): with no centres the list is empty and the row joins nothing
    val assigned = cProbe.withColumn("__list",
      get(nearestLists(col("__ce"), lit(1)), lit(0)))
    val probed = q.withColumn("__list",
      explode(nearestLists(col("__qe"), lit(nProbe))))
    val scored = assigned.join(broadcast(probed), Seq("__list"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("__qe"), col("__ce")))
    rankTopK(scored, k)
  }

  /** The [[ivfTopK]] training sample: the first
    * `min(maxTrain, MaxTrainPerList × nLists)` non-null vectors of
    * `c(key)`, collected in one job through a primitive `double[]`
    * encoder and L2-normalized in place. Rows whose squared norm is not
    * finite are dropped; shorter rows are zero-padded to the longest
    * row's width. */
  private[graft] def ivfSample(c: DataFrame, key: String, nLists: Int,
      maxTrain: Int): Array[Array[Double]] = {
    val spark = c.sparkSession
    import spark.implicits._
    val cap = math.min(maxTrain.toLong, MaxTrainPerList.toLong * nLists).toInt
    val rows = c.select(col(key)).where(col(key).isNotNull).limit(cap)
      .as[Array[Double]].collect()
      .filter { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        if (s > 0 && !s.isInfinite) {
          val n = math.sqrt(s)
          i = 0; while (i < v.length) { v(i) /= n; i += 1 }
        }
        !s.isNaN && !s.isInfinite
      }
    val dim = if (rows.isEmpty) 0 else rows.map(_.length).max
    rows.map(v => if (v.length < dim) java.util.Arrays.copyOf(v, dim) else v)
  }

  /** Seeded k-means over equal-width rows: k-means++ seeding (each next
    * centre drawn with probability ∝ squared distance to the nearest
    * chosen one), then up to [[IvfLloydRounds]] Lloyd rounds under
    * squared Euclidean distance, stopping early once no row changes
    * list. An empty cluster keeps its previous centre. Returns
    * `min(nLists, distinct rows)` centres — none for an empty sample. */
  private[graft] def trainIvf(pts: Array[Array[Double]], nLists: Int,
      seed: Long): Array[Array[Double]] = {
    val m = pts.length
    if (m == 0) return Array.empty
    val dim = pts(0).length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    val seeded = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(m)).clone())
    val d2 = pts.map(sq(_, seeded(0)))
    var total = d2.sum
    while (seeded.length < nLists && total > 0) {
      // walk the D² mass; `last` absorbs rounding past the final row
      var r = rnd.nextDouble() * total
      var pick = -1; var last = -1; var i = 0
      while (pick < 0 && i < m) {
        if (d2(i) > 0) { last = i; if (r < d2(i)) pick = i else r -= d2(i) }
        i += 1
      }
      val ct = pts(if (pick < 0) last else pick).clone()
      seeded += ct
      i = 0; while (i < m) { d2(i) = math.min(d2(i), sq(pts(i), ct)); i += 1 }
      total = d2.sum
    }
    val cs = seeded.toArray
    val k = cs.length
    val assign = Array.fill(m)(-1)
    var round = 0; var moved = true
    while (moved && round < IvfLloydRounds) {
      moved = false
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      var i = 0
      while (i < m) {
        var best = 0; var bd = sq(pts(i), cs(0)); var j = 1
        while (j < k) {
          val d = sq(pts(i), cs(j)); if (d < bd) { bd = d; best = j }; j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        counts(best) += 1
        val s = sums(best); val v = pts(i)
        j = 0; while (j < dim) { s(j) += v(j); j += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) cs(j) = sums(j).map(_ / counts(j))
        j += 1
      }
      round += 1
    }
    cs
  }

  /** Cosine-similarity join: all pairs (a, b) with cos ≥ threshold, via
    * multi-table LSH buckets (candidates only, then exact check).
    * `bits = 0` (the DEFAULT — fixed widths are the measured scale trap:
    * at bits=8 the ×1000 probe's candidate work was ~1.2e11 rows)
    * auto-sizes the bucket width from the corpus row count (see
    * [[CosineLsh.autoBits]]) — the knob that keeps candidate work linear
    * in corpus size at a fixed per-bucket density. Explicit `bits` values
    * are honored as given, including > 24, up to 63
    * ([[CosineLsh.checkBits]]).
    *
    * Pairs stream straight from the join: [[CosineLsh.firstShared]]
    * passes each qualifying pair exactly once, so no pair-dedup exchange
    * exists. The output of this operator IS the pair set —
    * by-construction quadratic in duplicate-cluster size — and a pair
    * dedup would shuffle up to tables× that output (2M vectors with ~10⁹
    * qualifying pairs die writing that shuffle scratch). */
  def similarityJoin(df: DataFrame, embKey: String, idKey: String,
      threshold: Double, bits: Int = 0, dim: Int = 64,
      tables: Int = 4): DataFrame = {
    CosineLsh.checkBits(bits)
    // one ids-only count job sizes both the key width (bits = 0) and the
    // enumerate stage's partition count
    val corpusN = Partitioning.rowCounts(df).head
    val v = CosineLsh.explodeKeys(
      df.select(col(idKey), col(embKey).cast("array<double>").as("__v")),
      col("__v"), CosineLsh.width(bits, corpusN), dim, tables, Some("__bkts"))
    val l = v.select(col(idKey).as("a"), col("__v").as("va"),
      col("__bkts").as("__ba"), col(CosineLsh.Key))
    val r = v.select(col(idKey).as("b"), col("__v").as("vb"),
      col("__bkts").as("__bb"), col(CosineLsh.Key))
    // merge hint: both sides are corpus-sized and carry the vector — a
    // small static size estimate must never pick a corpus broadcast.
    // The enumerate stage's work is quadratic per bucket while its
    // shuffle bytes are linear, so AQE can neither skew-split nor
    // coalesce it sensibly: both sides are repartitioned by bucket to
    // [[Partitioning.widthFor]] the corpus, which keeps a few buckets per
    // task and bounds the straggler tail by the largest single bucket.
    // Identical subtrees share one exchange (ReusedExchange).
    val width = Partitioning.widthFor(corpusN, df.sparkSession)
    l.repartition(width, col(CosineLsh.Key))
      .join(r.repartition(width, col(CosineLsh.Key)).hint("merge"), Seq(CosineLsh.Key))
      .where(col("a") < col("b"))
      .where(CosineLsh.firstShared(col("__ba"), col("__bb")))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }
}
