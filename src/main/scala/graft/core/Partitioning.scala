package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

/** Partitioning and skew utilities for the 100 TB tier, and the one
  * parallelism policy every CPU-heavy operator uses.
  *
  * AQE (on by default in Spark 4) already handles runtime skew-join
  * splitting and partition coalescing; these helpers cover the cases
  * AQE can't: salted aggregation for heavy-hitter keys feeding non-join
  * operators, and CPU-bound stages whose width AQE sizes by bytes.
  *
  * The parallelism policy: a lazy plan runs a narrow CPU-heavy stage at
  * the width of the scan that feeds it, and AQE sizes exchanges by
  * bytes, not by work. An operator whose stage work is not proportional
  * to its input bytes therefore either [[spread]]s a narrow input to
  * [[sessionWidth]] (zero jobs to decide, results unchanged) or sizes its
  * own exchange with [[widthFor]].
  */
object Partitioning {

  /** The session's parallelism: `spark.sql.shuffle.partitions`. Every
    * session this project creates (`LocalSpark`, the test session, the
    * benchmark) sets it to the core count, which there also equals
    * `defaultParallelism`. */
  def sessionWidth(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Partition count for a stage whose work is superlinear in its rows
    * (per-bucket or per-group enumeration): ~512 rows per partition,
    * clamped to [[[sessionWidth]], 8 × `defaultParallelism`]. The floor
    * never plans coarser than the session; the cap bounds the task count
    * on a small cluster. Clamped in Long before narrowing, so a huge
    * `rows` scales up instead of overflowing to the floor. */
  def widthFor(rows: Long, spark: SparkSession): Int = {
    val base = sessionWidth(spark)
    val cap = math.max(base, 8 * spark.sparkContext.defaultParallelism)
    math.min(cap.toLong, math.max(base.toLong, rows / 512L)).toInt
  }

  /** `df` repartitioned to [[sessionWidth]] — by `keys`, or round-robin
    * without keys — when its [[scanWidth]] is known and narrower than the
    * session and `worthIt` holds; otherwise `df` unchanged. `worthIt` is
    * evaluated only for a narrow scan, so a gate job it carries is never
    * paid on a wide or shuffle-lineage input. Logs one INFO line naming
    * `caller` when it repartitions. */
  def spread(caller: String, df: DataFrame, keys: Column*)(
      worthIt: => Boolean): DataFrame = {
    val target = sessionWidth(df.sparkSession)
    scanWidth(df) match {
      case Some(w) if w < target && worthIt =>
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"$caller: input width $w < session width $target, repartitioning to $target")
        if (keys.isEmpty) df.repartition(target) else df.repartition(target, keys: _*)
      case _ => df
    }
  }

  /** Partition count of `df`'s root, read from planning alone (zero
    * jobs); `None` when that would execute something:
    *   - shuffle lineage: building the RDD of a plan AQE wrapped
    *     finalizes the adaptive plan, which materializes every exchange;
    *   - an unbuilt cache: building its RDD runs the cache build;
    *   - `coalesce`, `union` or a cartesian product over a built cache:
    *     the root's width differs from the cached RDD's.
    * AQE wraps only plans with an exchange, a subquery or a cache scan,
    * so building the RDD of any other plan is planning alone. A built
    * cache under width-preserving narrow nodes answers with the cached
    * RDD's partition count. A shuffle that AQE later coalesces to a few
    * partitions stays narrow; callers with such an input repartition it
    * themselves. */
  def scanWidth(df: DataFrame): Option[Int] = {
    def unbuilt(p: SparkPlan): Boolean = p match {
      case s: InMemoryTableScanExec => !s.relation.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }
    df.queryExecution.executedPlan match {
      // AQE wraps a plan over a cache scan even without an exchange; the
      // input plan is inspected, never finalized
      case a: AdaptiveSparkPlanExec =>
        val in = a.inputPlan
        val hazard = !exchangeFree(in) || in.exists {
          case _: CoalesceExec | _: UnionExec | _: CartesianProductExec => true
          case p => unbuilt(p)
        }
        if (hazard) None
        else in.collectFirst { case s: InMemoryTableScanExec =>
          s.relation.cacheBuilder.cachedColumnBuffers.getNumPartitions
        } // no cache: AQE wrapped it for a subquery
      case p =>
        if (!exchangeFree(p) || p.exists(unbuilt)) None
        else Some(df.queryExecution.toRdd.getNumPartitions)
    }
  }

  /** True iff `plan` is non-adaptive and exchange-free, the precondition
    * for driving its RDD directly: `toRdd` on an adaptive plan
    * materializes every exchange in the lineage as jobs the later query
    * cannot reuse. */
  private[graft] def exchangeFree(plan: SparkPlan): Boolean =
    !plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case _ => false
    }

  /** Row counts of `dfs`, in order, from ONE Spark job: an ids-only
    * union tagged by position (`__side`), driven through one `runJob`. A
    * DataFrame `count()` runs 2+ jobs under AQE (shuffle-stage
    * materialization, then the final stage), each a ~55 ms scheduling
    * floor in local mode — the measurable cost of an eager gate at bench
    * scale. When an input carries shuffle lineage, where `toRdd` would
    * finalize its exchanges under AQE (see [[exchangeFree]]), the union
    * is counted by one AQE-managed aggregation instead. */
  private[graft] def rowCounts(dfs: DataFrame*): IndexedSeq[Long] = {
    val sides = dfs.length
    val tagged = dfs.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("__side")) }
      .reduce(_ unionAll _)
    val parts: Array[Array[Long]] =
      if (exchangeFree(tagged.queryExecution.executedPlan))
        tagged.sparkSession.sparkContext.runJob(tagged.queryExecution.toRdd,
          (it: Iterator[InternalRow]) => {
            val c = new Array[Long](sides)
            it.foreach(r => c(r.getInt(0)) += 1L)
            c
          })
      else tagged.groupBy(col("__side")).count().collect().map { r =>
        val c = new Array[Long](sides); c(r.getInt(0)) = r.getLong(1); c
      }
    (0 until sides).map(i => parts.map(_(i)).sum)
  }

  /** Salted two-phase aggregation: groupBy(key, salt) partial → groupBy
    * key final. Caps per-task input for heavy-hitter keys at
    * 1/saltBuckets of the key's rows. `partialAggs` must be mergeable by
    * the matching `finalAggs` (e.g. sum→sum, count→sum, max→max). */
  def saltedAgg(df: DataFrame, key: String, saltBuckets: Int,
      partialAggs: Seq[Column], finalAggs: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partial = salted.groupBy(col(key), col("__salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
    partial.groupBy(col(key)).agg(finalAggs.head, finalAggs.tail: _*)
      .drop("__salt")
  }

  /** Salted broadcast join for a skewed fact side against a small dim:
    * explode the dim `saltBuckets`× with a salt column, salt the fact
    * rows, join on (key, salt) — spreads one hot key over many tasks. */
  def saltedBroadcastJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val saltedDim = dim
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    saltedFact.join(broadcast(saltedDim), Seq(key, "__salt")).drop("__salt")
  }

  /** Persist bucketed by key — co-located scan-side joins with zero
    * shuffle for every later consumer of the same key. Written as an
    * EXTERNAL table (explicit path at the default warehouse location):
    * managed CTAS refuses any pre-existing non-empty location
    * (LOCATION_ALREADY_EXISTS) — a landmine when a previous session, a
    * crashed run, or an unchecked filesystem delete leaves the directory
    * behind — while external + overwrite owns the directory lifecycle
    * itself, making the write idempotent without a manual delete. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").option("path", loc.toString).saveAsTable(table)
  }
}
