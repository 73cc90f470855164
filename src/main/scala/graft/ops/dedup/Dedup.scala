package graft.ops.dedup

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import graft.core.{Op, Partitioning}
import graft.functions.text._
import graft.ops.sim.{CosineLsh, Similarity}

/** Deduplication family — SURVEY §2.3.
  *
  * Reference semantics are order-dependent: first occurrence in file order
  * wins (`general_text/filter/hash_deduplicate_filter.py:78-88`). We make
  * that explicit and distributed-safe with a stable `orderKey` column: the
  * row with the smallest `orderKey` in each duplicate group is kept.
  *
  * Exact dedup is ONE hash-partitioned shuffle on the digest (window over
  * hash). Near-dup (MinHash/SimHash) avoids the O(n²) pairwise pass of the
  * reference via LSH banding: identical signatures collapse first
  * ([[Dedup.collapseIdentical]]), then one exchange on the band key feeds
  * the per-bucket witness walk ([[Dedup.witnessDups]]), which verifies
  * candidates EXACTLY (Jaccard / Hamming) — banding only prunes; with 128
  * perms / 32 bands the probability of missing a true pair at threshold
  * 0.9 is ~1e-15.
  */

/** Exact dedup on the digest of one or more columns
  * (`hash_deduplicate_filter.py:10-88`: md5/sha256/xxh3 over concat). */
final case class HashDeduplicateFilter(cols: Seq[String] = Seq("text"),
    orderKey: String = "doc_id", algo: String = "md5") extends Op {
  val name = "hash_deduplicate_filter"
  val inputKeys = cols :+ orderKey
  val outputKeys = Nil
  def digest: Column = {
    val c = concat_ws("\u0001", cols.map(col): _*)
    algo match {
      case "md5"    => md5(c)
      case "sha256" => sha2(c, 256)
      case "xxh64"  => xxhash64(c).cast("string")
      case other    => throw new IllegalArgumentException(s"algo $other")
    }
  }
  def apply(df: DataFrame): DataFrame =
    Dedup.keepFirst(df, digest, col(orderKey))
}

/** CCNet-style dedup on the first 64 bits of a digest
  * (`text_pt/filter/ccnet_deduplicate_filter.py:43-78`; sha1 there, md5
  * prefix here — same hash-prefix semantics, portable oracle). */
final case class CCNetDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id") extends Op {
  val name = "ccnet_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame =
    Dedup.keepFirst(df, hashPrefix64(col(inputKey)), col(orderKey))
}

/** Dedup on the hash of the SORTED DISTINCT word n-gram set — robust to
  * reordering/small shifts (`ngramhash_deduplicate_filter.py:10-53`). */
final case class NgramHashDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id", n: Int = 3) extends Op {
  val name = "ngram_hash_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    // imperative kernel building the identical digest input (sorted
    // distinct n-grams concatenated) -- same grouping as the expression
    // form, ~5x faster than the nested array expression tree
    val nn = n
    val digest = udf { ws: Seq[String] =>
      val set = new java.util.TreeSet[String]()
      if (ws != null && ws.length >= nn) {
        var i = 0
        while (i <= ws.length - nn) { set.add(ws.slice(i, i + nn).mkString(" ")); i += 1 }
      }
      val sb = new StringBuilder
      set.forEach(g => sb.append(g))
      org.apache.commons.codec.digest.DigestUtils.md5Hex(sb.toString)
    }
    Dedup.keepFirst(df, digest(words(col(inputKey))), col(orderKey))
  }
}

/** MinHash + LSH-banding near-dedup
  * (`minhash_deduplicate_filter.py:9-88`: datasketch MinHash 128 perms,
  * threshold 0.9). Pipeline: shingle → 128-perm minhash signature → 32
  * band keys → ONE band-keyed exchange + per-bucket witness walk with
  * the EXACT Jaccard verify (ids-only output) → drop the later row of
  * every similar pair. */
final case class MinHashDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id", ngram: Int = 3, numPerm: Int = 128,
    bands: Int = 32, threshold: Double = 0.9,
    maxBandBucket: Int = 1024,
    scratchBudgetBytes: Long = 0L) extends Op {
  require(numPerm % bands == 0, "bands must divide numPerm")
  require(scratchBudgetBytes >= 0,
    "scratchBudgetBytes must be >= 0 (0 = auto-size from spark.local.dir)")
  val name = "minhash_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil

  /** Sorted distinct 64-bit shingle hashes per doc — hashed ONCE per
    * document, so the pair-verify below is a cheap merge-walk instead of
    * per-pair string hashing. 64-bit: the chance any pair's Jaccard is
    * perturbed by a collision is ~|shingles|²/2⁶⁴ ≈ 1e-13 — the
    * exact-string SQL oracle still reproduces decisions.
    * Kernel shared with the SQL-registered `minhash_bands`
    * ([[graft.functions.kernels]]). */
  private val shingleHashes = {
    val nn = ngram
    udf { ws: Seq[String] => graft.functions.kernels.shingleHashes(ws, nn) }
      .withName(MinHashDeduplicateFilter.ShingleUdf)
  }

  /** Band bucket keys from the hashed shingle set (LSH pruning only) —
    * the PACKED long form ([[graft.functions.kernels.minhashBandKeysPacked]]):
    * identical grouping to the SQL-surface "band:hash" strings (the
    * packing is injective), but the corpus-sized band-key stage
    * allocates one long[] per row instead of `bands` strings + a
    * copyOfRange each, and every banded row / band SMJ sort key carries
    * 8 fixed bytes instead of a ~14-char string. The 8 GiB/32-thread
    * ×1000 heap probe died of GC-overhead in exactly this stage's
    * DISK_ONLY cache build (band-key UDF churn feeding the columnar
    * serializer); packed keys cut that stage's allocation ~8×. */
  private val bandKeys = {
    val (np, nb) = (numPerm, bands)
    udf { hs: Seq[Long] => graft.functions.kernels.minhashBandKeysPacked(hs, np, nb) }
  }

  /** Single wave ⇒ lazy plan. When the banded table fits the scratch
    * budget in one wave, the result is `df ⋉̸ duplicateIds(shingled(df))`
    * (left anti join on `orderKey`): a plan built with no Spark job, no
    * cache and no checkpoint, so a [[graft.core.Pipeline]] runs it inside
    * its one action. The wave decision comes from [[bandedBytesBound]]
    * (file metadata, no job) when the plan can be bounded, and otherwise
    * from [[bandGroupCount]] (one agg job over the shingle table); a single
    * measured wave returns the same lazy plan.
    *
    * Wave regime only: the shingle table is persisted DISK_ONLY (it feeds
    * the identical-set collapse and every wave) and
    * [[groupedDuplicateIds]] materializes the ids wave by wave. Memory
    * there: the identical-set window's sort pages fill the unified pool
    * (~0.6 × heap) on top of ~85 MB per executor thread of untracked
    * buffers (DISK_ONLY batch builders, shuffle fetch buffers), so size
    * the heap to ≳ 3.3 × threads × 85 MB or cap the pool with
    * `spark.memory.fraction` (a 5M-doc, 378M-shingle corpus died of GC
    * overhead at 8 GiB / 32 threads and completed at 12 GiB, or at 8 GiB
    * with `spark.memory.fraction=0.35`). */
  def apply(df: DataFrame): DataFrame =
    if (bandedBytesBound(df, scratchBudget(df.sparkSession)).isDefined)
      lazyPlan(df)
    else {
      val groups = bandGroupCount(shingled(df))
      if (groups <= 1) lazyPlan(df)
      else {
        val withSh = shingled(df)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        // the wave ids are checkpointed, so the result outlives the cache
        try df.join(groupedDuplicateIds(withSh, groups), Seq(orderKey),
          "left_anti")
        finally withSh.unpersist(false)
      }
    }

  private def lazyPlan(df: DataFrame): DataFrame =
    df.join(duplicateIds(shingled(df)), Seq(orderKey), "left_anti")

  /** The budget a wave's scratch must fit: `scratchBudgetBytes`, or by
    * default half the free space of the shuffle disk
    * ([[MinHashDeduplicateFilter.autoScratchBudget]]) — waves trade wall
    * for bounded scratch, so the default tracks the disk they protect. */
  private def scratchBudget(spark: org.apache.spark.sql.SparkSession): Long =
    if (scratchBudgetBytes > 0) scratchBudgetBytes
    else MinHashDeduplicateFilter.autoScratchBudget(spark)

  /** On-disk bytes of the banded table: 8 B per shingle hash plus ~48 B
    * per row of band key, id and row headers, once per band, ×2 because a
    * wave holds the band exchange's shuffle files and the reduce-side
    * (band, orderKey) sort's spill of them at once. */
  private def bandedBytes(shEntries: Long, rows: Long): Long =
    (shEntries * 8L + rows * 48L) * bands * 2L

  /** An upper bound on [[bandedBytes]] read from the scanned files'
    * metadata, with no Spark job; None when the plan cannot be bounded or
    * the bound passes `limit` (the footer reads stop there).
    *
    * Plan walk: from `inputKey` down the analyzed plan, through the nodes
    * that never add rows or values — Project, Filter, Sort, Window,
    * Repartition, Distinct, Deduplicate, Limit, SubqueryAlias, hints and
    * the left side of a left-semi/anti join — to one string column of a
    * parquet scan. A projection on the way may rewrite the key only with a
    * deterministic expression of that one column and no UDF, `repeat`,
    * `lpad` or `rpad`. Anything else — a non-file leaf, Generate, Union,
    * Expand, Aggregate, any other join — cannot be bounded.
    *
    * Bound: a row's shingles are at most its words, and a text of c bytes
    * holds at most (c + 1) / 2 words, so the banded shingles are at most
    * G × B / 2 + R, where R is the footers' row count and B the column's
    * uncompressed bytes. G = [[MinHashDeduplicateFilter.TextGrowth]] = 2
    * is the assumed growth: all rewrites together lengthen the text at
    * most ×2. The refiners strip, unescape, collapse or case-fold (a
    * case-fold can double a character's bytes; a contraction expands by
    * half). Only identical-set representatives are banded, one per
    * distinct shingle set, and the key is a deterministic function of one
    * column, so a dictionary page that stores each distinct value once
    * still covers them. A DELTA_BYTE_ARRAY chunk, which stores shared
    * prefixes once, cannot be bounded. */
  private[graft] def bandedBytesBound(df: DataFrame,
      limit: Long = Long.MaxValue): Option[Long] = {
    def bound(rows: Long, bytes: Long): Long =
      bandedBytes(bytes * MinHashDeduplicateFilter.TextGrowth / 2 + rows, rows)
    MinHashDeduplicateFilter.textSource(df, inputKey)
      .flatMap { case (fs, c) =>
        MinHashDeduplicateFilter.parquetTextBytes(fs, c, bound(_, _) > limit)
      }
      .map { case (rows, bytes) => bound(rows, bytes) }
  }

  /** How many sequential band waves to split the LSH pass into, from the
    * measured shingle volume ([[bandedBytes]] over the budget, clamped to
    * [1, bands]). The band exchange replicates each doc's shingle array
    * once per band, so the banded table is ~bands × corpus-shingle bytes;
    * splitting the band set into waves divides the PEAK footprint by the
    * wave count at unchanged total bytes. Every band bucket lives wholly
    * inside one wave, so the union of the waves' verified pairs is
    * EXACTLY the single-pass candidate set. One agg job over `withSh`. */
  private[graft] def bandGroupCount(withSh: DataFrame): Int = {
    val row = withSh.agg(
      sum(size(col("__sh"))).cast("long"), count(lit(1))).first()
    val shEntries = if (row.isNullAt(0)) 0L else row.getLong(0)
    val rows = row.getLong(1)
    val budget = scratchBudget(withSh.sparkSession)
    val banded = bandedBytes(shEntries, rows)
    val groups = math.max(1L, math.min(bands.toLong, (banded + budget - 1) / budget)).toInt
    // scale-evidence breadcrumb: when waves engage, record the estimate
    // that sized them (stdout JSON so bench harnesses that keep only
    // "metric" lines capture it; silent in the common single-pass case)
    if (groups > 1) println(s"""{"metric":"minhash_waves","rows":$rows,""" +
      s""""shingle_entries":$shEntries,"estimated_scratch_bytes":$banded,""" +
      s""""budget_bytes":$budget,"groups":$groups}""")
    groups
  }

  /** (orderKey, sorted distinct shingle hashes) per row. */
  private[graft] def shingled(df: DataFrame): DataFrame =
    df.select(col(orderKey), shingleHashes(words(col(inputKey))).as("__sh"))

  /** The ids to drop, as a lazily-planned single-column DataFrame: the
    * single-wave plan's dup-id side. */
  private[graft] def duplicateIds(withSh: DataFrame): DataFrame = {
    val (identDups, reps) = collapseIdentical(withSh)
    val banded = reps.withColumn("__band", explode(bandKeys(col("__sh"))))
      .select(col(orderKey), col("__sh"), col("__band"))
    identDups.union(bandVerifyDups(banded)).distinct()
  }

  /** Identical shingle sets have J=1 ≥ any threshold, so they collapse to
    * their min-orderKey representative before banding
    * ([[Dedup.collapseIdentical]]). Empty shingle sets produce no bands
    * (never candidates) and are left alone. */
  private def collapseIdentical(withSh: DataFrame): (DataFrame, DataFrame) =
    Dedup.collapseIdentical(withSh.filter(size(col("__sh")) > 0), "__sh",
      orderKey)

  /** The shared witness walk over a banded table (orderKey, __sh, __band)
    * with the exact Jaccard verify ([[graft.functions.kernels.jaccardSorted]],
    * the merge walk the SQL oracle's decisions reproduce). */
  private def bandVerifyDups(banded: DataFrame): DataFrame = {
    val th = threshold
    Dedup.witnessDups(banded, "__band", orderKey, "__sh", maxBandBucket)(
      { r =>
        val s = r.getSeq[Long](2)
        val a = new Array[Long](s.length)
        var i = 0; while (i < a.length) { a(i) = s(i); i += 1 }
        a
      },
      (a: Array[Long], b: Array[Long]) =>
        graft.functions.kernels.jaccardSorted(a, b) >= th)
  }

  /** `localCheckpoint()` that reclaims the wave's own shuffles before
    * rethrowing when the materializing job DIES mid-run (executor loss,
    * disk-full, a poisoned row). Without this the failed wave's
    * registered shuffle files are stranded until ContextCleaner's
    * eventual GC path — scratch held on the next attempt's disk budget
    * exactly when the machine is already in trouble. `created` is scoped
    * to the wave's OWN executed-RDD lineage (see the caller), so a
    * concurrent query's shuffles are never swept; the map stages that
    * already completed wrote real files, so there is real scratch to
    * reclaim even though the action failed.
    *
    * Coverage boundary: this guards the CHECKPOINT action. A wave that
    * instead dies during AQE stage materialization (inside the caller's
    * `toRdd`, BEFORE `created` can be computed — the lineage walk needs
    * the final RDD) leaves any earlier completed stages' files to
    * ContextCleaner's eventual GC path: bounded-scratch degrades for
    * that wave, it does not break, and a delta-scoped sweep there would
    * re-open the concurrent-query deletion hazard lineage-scoping exists
    * to close. ShuffleCleanupSpec pins the map-stage-death case (nothing
    * landed → reclamation is a no-op). */
  private[graft] def checkpointReclaimingOnFailure(idsDf: DataFrame,
      sc: org.apache.spark.SparkContext, created: Set[Int],
      cleanup: (org.apache.spark.SparkContext, Set[Int]) => Unit =
        org.apache.spark.graftbridge.ShuffleCleanup.removeShuffles): DataFrame =
    try idsDf.localCheckpoint()
    catch { case t: Throwable =>
      // The cleanup itself can plausibly fail under the SAME conditions
      // that killed the checkpoint (executor loss, disk-full): never let
      // its exception REPLACE the original failure — the caller needs
      // the root cause, and the cleanup error rides along as suppressed.
      // (`cleanup` is injectable for exactly that test; production
      // callers always use the default ShuffleCleanup.removeShuffles.)
      try cleanup(sc, created)
      catch { case cleanupErr: Throwable => t.addSuppressed(cleanupErr) }
      throw t
    }

  /** Bounded-scratch variant of [[duplicateIds]]: the 128-perm signature
    * is computed ONCE into a per-doc band-key array, then the band set is
    * processed in `groups` sequential waves, each wave's surviving dup
    * ids eagerly materialized (localCheckpoint) so the previous wave's
    * shuffle files can be reclaimed before the next wave shuffles. Peak
    * scratch ≈ single-pass footprint / groups; the result is EXACTLY the
    * single-pass result (bands partition into waves; every band bucket —
    * hence every candidate pair — lives wholly inside one wave).
    * `afterWave` is called with 0 once the shared inputs are
    * materialized and with g once wave g's shuffles are removed (a test
    * probe of the per-wave reclamation; production callers omit it). */
  private[graft] def groupedDuplicateIds(withSh: DataFrame,
      groups: Int, afterWave: Int => Unit = _ => ()): DataFrame = {
    val sc = withSh.sparkSession.sparkContext
    val (identDups, reps) = collapseIdentical(withSh)
    // DISK_ONLY, deliberately: this cache exists only when the corpus
    // already blew the scratch budget, i.e. it is far bigger than the
    // heap — a MEMORY_AND_DISK unroll of corpus-sized columnar blocks
    // across 32 tasks GC-thrashed an 8 GiB ×1000 run to death before
    // the first wave even shuffled, while straight-to-disk writes the
    // blocks through a bounded serialization buffer with no unroll
    // pressure on the heap at all
    val repsB = reps.withColumn("__bands", bandKeys(col("__sh")))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      // materialize the shared inputs BEFORE the first per-wave shuffle
      // snapshot: their backing shuffles (the identical-set window) must
      // never be classified as wave scratch — repsB's cached blocks are
      // all that survives for later waves to read
      val identIds = identDups.localCheckpoint() // eager
      repsB.count()
      afterWave(0)
      val per = bands / groups
      val extra = bands % groups
      // wave g covers [start, start+len) of the band-key array
      val ranges = (0 until groups).scanLeft((0, 0)) { case ((s, l), g) =>
        (s + l, per + (if (g < extra) 1 else 0))
      }.tail
      val waves = ranges.zipWithIndex.map { case ((start, len), g) =>
        val before = org.apache.spark.graftbridge.ShuffleCleanup.liveShuffleIds(sc)
        // slice() is 1-based
        val banded = repsB.withColumn("__band",
          explode(slice(col("__bands"), start + 1, len)))
          .select(col(orderKey), col("__sh"), col("__band"))
        // distinct() BEFORE the checkpoint, not only after the union:
        // the witness walk emits ≤ one id per (row, band-in-wave) and
        // localCheckpoint MATERIALIZES its input. The distinct's
        // map-side combine collapses the remaining band multiplicity
        // inside the wave's own exchange, so the checkpoint stores ≤ one
        // id per corpus row (~40 MB). The cross-wave distinct below
        // still collapses ids found by several waves.
        val idsDf = bandVerifyDups(banded).distinct()
        // Attribute the wave's shuffles from the wave's OWN executed RDD
        // lineage (toRdd also materializes the AQE stages), not from a
        // global registered-ids delta: a delta would sweep up — and
        // delete mid-job — shuffles any CONCURRENT query on this session
        // registered during the wave. `-- before` additionally shields
        // the shared prologue (identical-set window behind repsB's cached
        // blocks, reachable through the cache's recompute lineage), which
        // later waves still depend on if a DISK_ONLY block is lost.
        val created =
          org.apache.spark.graftbridge.ShuffleCleanup.lineageShuffleIds(
            idsDf.queryExecution.toRdd) -- before
        val ids = checkpointReclaimingOnFailure(idsDf, sc, created) // eager
        // Reclaim the wave's shuffle scratch NOW, synchronously: the
        // localCheckpoint above truncated the ids' lineage, so the
        // shuffles this wave created are unreachable by any plan.
        // Waiting for ContextCleaner's weak-ref GC path (even behind a
        // System.gc() nudge) is not a guarantee — explicit GC may be
        // disabled (-XX:+DisableExplicitGC) and the cleaner's shuffle
        // handling is async by default — and the bounded-scratch contract
        // is exactly that wave g's files are gone before wave g+1
        // shuffles.
        org.apache.spark.graftbridge.ShuffleCleanup.removeShuffles(sc, created)
        println(s"""{"metric":"minhash_wave","wave":${g + 1},"of":$groups,""" +
          s""""bands":$len,"shuffles_removed":${created.size}}""")
        afterWave(g + 1)
        ids
      }
      (identIds +: waves).reduce(_ union _).distinct()
    } finally repsB.unpersist(false)
  }
}

object MinHashDeduplicateFilter {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
    StringLPad, StringRPad, StringRepeat, UserDefinedExpression}
  import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
  import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Distinct,
    Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Repartition,
    RepartitionByExpression, ResolvedHint, Sort, SubqueryAlias,
    Window => WindowNode}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
    LogicalRelation, PartitioningAwareFileIndex}
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.types.StringType

  /** How much the projections between the scan and the dedup may
    * lengthen the key's text in total, as assumed by
    * `bandedBytesBound`. */
  private[graft] val TextGrowth: Long = 2L

  /** The shingle UDF's name in plans. */
  private[graft] val ShingleUdf = "minhash_shingles"

  /** The parquet relation and data column that `key` of `df` is computed
    * from, walking the analyzed plan through the nodes `bandedBytesBound`
    * lists; None when the walk meets any other node. */
  private def textSource(df: DataFrame,
      key: String): Option[(HadoopFsRelation, String)] = {
    val plan = df.queryExecution.analyzed
    plan.output.find(a => SQLConf.get.resolver(a.name, key))
      .flatMap(source(plan, _))
  }

  private def source(plan: LogicalPlan,
      key: Attribute): Option[(HadoopFsRelation, String)] = plan match {
    case Project(list, child) => list.find(_.exprId == key.exprId).flatMap {
      case a: Attribute => source(child, a)
      case Alias(e, _) if e.deterministic && !e.exists {
          case _: UserDefinedExpression | _: StringRepeat | _: StringLPad |
              _: StringRPad => true
          case _ => false
        } => e.references.toSeq match {
          case Seq(a) => source(child, a)
          case _ => None
        }
      case _ => None
    }
    case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
      through(j.left, key)
    case _: Filter | _: Sort | _: WindowNode | _: Repartition |
        _: RepartitionByExpression | _: Distinct | _: Deduplicate |
        _: GlobalLimit | _: LocalLimit | _: SubqueryAlias | _: ResolvedHint =>
      through(plan.children.head, key)
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
          key.dataType == StringType && r.output.exists(_.exprId == key.exprId) &&
          !fs.partitionSchema.exists(f => SQLConf.get.resolver(f.name, key.name)) =>
        Some((fs, key.name))
      case _ => None
    }
    case _ => None
  }

  private def through(child: LogicalPlan,
      key: Attribute): Option[(HadoopFsRelation, String)] =
    if (child.outputSet.contains(key)) source(child, key) else None

  /** (rows, uncompressed bytes of `column`) summed over the footers of
    * `fs`'s files, read on the driver. None when the file list is not
    * already in memory, a chunk of the column is DELTA_BYTE_ARRAY-encoded,
    * or `stop(rows, bytes)` holds for a running total. */
  private def parquetTextBytes(fs: HadoopFsRelation, column: String,
      stop: (Long, Long) => Boolean): Option[(Long, Long)] = fs.location match {
    case index: PartitioningAwareFileIndex =>
      import scala.jdk.CollectionConverters._
      val conf = fs.getHadoopConf(fs.sparkSession, fs.options)
      var rows = 0L
      var bytes = 0L
      val files = index.allFiles().iterator
      var ok = true
      while (ok && files.hasNext) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(files.next(), conf))
        try reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { chunk =>
            val path = chunk.getPath.toArray
            if (path.length == 1 && SQLConf.get.resolver(path(0), column)) {
              if (chunk.getEncodings.contains(
                  org.apache.parquet.column.Encoding.DELTA_BYTE_ARRAY)) ok = false
              bytes += chunk.getTotalUncompressedSize
            }
          }
        } finally reader.close()
        ok = ok && !stop(rows, bytes)
      }
      if (ok) Some((rows, bytes)) else None
    case _ => None
  }

  /** Used when the shuffle-dir free space can't be measured (statfs
    * unavailable, misconfigured dir); 24 GiB completes the ×1000 corpus. */
  val FallbackScratchBudgetBytes: Long = 24L << 30

  /** LOCAL MODE ONLY: half the usable space of the FIRST spark.local.dir
    * at plan time — conservative (other tasks' spills, temp_ sort files
    * and rdd_ checkpoint blocks share the same volume and sit OUTSIDE the
    * banded estimate), yet it tracks the actual resource the waves
    * protect. Multiple local dirs: Spark round-robins blocks across them,
    * so the first dir's free space is a lower-bound proxy, which only
    * ever errs toward MORE protection.
    *
    * CLUSTER CAVEAT: wave shuffle scratch lives on EXECUTOR disks, and on
    * YARN/K8s the executors' actual dirs come from LOCAL_DIRS /
    * emptyDir volumes that override the conf — a statfs of the DRIVER's
    * dir can grossly oversize the budget and silently re-enable the
    * disk-full failure the waves exist to prevent. So auto-sizing only
    * happens when the context is local (driver disk == executor disk by
    * construction); any non-local master falls back to the ×1000-proven
    * 24 GiB constant, and cluster operators should set
    * `scratchBudgetBytes` explicitly to (executor scratch volume)/2. */
  private[dedup] def autoScratchBudget(
      spark: org.apache.spark.sql.SparkSession): Long =
    autoScratchBudgetImpl(spark.sparkContext.isLocal,
      spark.sparkContext.getConf.get(
        "spark.local.dir", System.getProperty("java.io.tmpdir", "/tmp")))

  private[graft] def autoScratchBudgetImpl(isLocal: Boolean,
      dirs: String): Long =
    if (isLocal) autoScratchBudgetFromDirs(dirs)
    else FallbackScratchBudgetBytes

  private[graft] def autoScratchBudgetFromDirs(dirs: String): Long = {
    val first = dirs.split(",").head.trim
    val usable =
      try new java.io.File(first).getUsableSpace
      catch { case _: Throwable => 0L }
    if (usable <= 0L) FallbackScratchBudgetBytes else usable / 2
  }
}

/** SimHash near-dedup (`simhash_deduplicate_filter.py:15-85`): 60-bit
  * simhash over word hashes; pairs within Hamming distance k are dups.
  * The reference does O(n²) pairwise; here identical fingerprints
  * collapse to their min-orderKey row ([[Dedup.collapseIdentical]]), the
  * fingerprint is cut into k+1 segments (pigeonhole: hamming ≤ k ⇒ at
  * least one segment equal), and the shared witness walk
  * ([[Dedup.witnessDups]]) verifies `bitCount(a ^ b) <= k` within each
  * segment bucket:
  *  - a bucket of ≤ maxBandBucket rows drops a row when ANY earlier member
  *    is within distance k;
  *  - a larger bucket tests every row against its min-orderKey row(s)
  *    only. With duplicate orderKeys several rows can share the minimum;
  *    all of them (up to maxBandBucket+1) are witnesses.
  * A null text has a null fingerprint: null fingerprints collapse with
  * each other like any identical value but never enter the walk.
  *
  * Scale note: the segment explode replicates only the 8-byte
  * fingerprint k+1 ways, never a per-doc array, so no scratch-budget
  * waves are needed. */
final case class SimHashDeduplicateFilter(inputKey: String = "text",
    orderKey: String = "doc_id", hammingK: Int = 3,
    maxBandBucket: Int = 4096) extends Op {
  val name = "simhash_deduplicate_filter"
  val inputKeys = Seq(inputKey, orderKey)
  val outputKeys = Nil
  private val BITS = 60
  private val SEGS = hammingK + 1
  private val segBits = BITS / SEGS
  // when (k+1) doesn't divide 60, the LAST segment absorbs the remainder
  // bits — otherwise the top bits fall in no segment and the pigeonhole
  // guarantee (hamming ≤ k ⇒ some segment equal) silently breaks
  private def segWidth(s: Int): Int =
    if (s == SEGS - 1) BITS - s * segBits else segBits

  /** 60-bit simhash via the native expression shared with the
    * SQL-registered `simhash60` — per-word 60-bit hash (md5 prefix),
    * ±1 bit votes, sign → fingerprint ([[graft.functions.kernels]]). */
  def simhash(c: Column): Column = graft.functions.hashExpressions.simhash60(c)

  /** Segment s's bucket key, `(s << 32) | bits`, null for a null
    * fingerprint. Injective for k < 60: with two or more segments each is
    * at most 30 bits wide. (For k ≥ 60 every pair is within distance k.) */
  private def segKey(s: Int): Column =
    shiftleft(lit(s.toLong), 32).bitwiseOR(
      shiftright(col("__sig"), s * segBits).bitwiseAND((1L << segWidth(s)) - 1))

  def apply(df: DataFrame): DataFrame = {
    val withSig = df.select(col(orderKey), simhash(col(inputKey)).as("__sig"))
    val (identDups, reps) = Dedup.collapseIdentical(withSig, "__sig", orderKey)
    val banded = reps
      .withColumn("__seg", explode(array((0 until SEGS).map(segKey): _*)))
      .filter(col("__seg").isNotNull) // null fingerprint: no segments
    val k = hammingK
    val bandDups = Dedup.witnessDups(banded, "__seg", orderKey, "__sig",
      maxBandBucket)(_.getLong(2),
      (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b) <= k)
    val dups = identDups.union(bandDups).distinct()
    // shuffle_hash: dups is 8-byte ids but CAN be corpus-sized (dup-heavy
    // corpora), while its narrow static estimate invites a broadcast that
    // would OOM at scale; hashing the id side beats sorting the full df
    df.join(dups.hint("shuffle_hash"), Seq(orderKey), "left_anti")
  }
}

/** Semantic (embedding-cosine) near-dedup
  * (`sem_deduplicate_filter.py:63-155`: BERT embeddings, full cosine
  * matrix, drop later row of any pair with cos ≥ 1-eps).
  *
  * Default mode "lsh" is the 100 TB path: multi-table random-hyperplane
  * buckets generate candidates (work ∝ candidates, not n²), then the
  * EXACT cosine verifies — recall < 1 by construction (pairs whose
  * vectors land in different buckets in every table are missed; with
  * 8 bits × 4 tables at cos ≥ 0.95 recall ≈ 0.89). Mode "exact"
  * reproduces the reference's full pairwise matrix — O(n²), only for
  * small-n verification runs, never at scale.
  *
  * The LSH verify is a streaming per-bucket walk (one exchange + sort
  * by (bucket, orderKey), then a bounded-memory pass), not a bucket
  * self-join: dedup only needs ONE earlier witness per dropped row, so
  * the walk early-exits on the first hit — a bucket of m mutual
  * duplicates costs ~m cosines instead of the join's C(m,2). A ×1000
  * probe (2M vectors whose duplicate clusters the bucket join scored
  * all-pairs) ran the join form in 862 s; the witness walk removes the
  * by-construction quadratic verify while producing the identical drop
  * set (every pair the join would test is tested unless a dup is
  * already proven). Witness checks per row are capped at the first
  * `maxBucket` bucket members — exact for buckets ≤ maxBucket; larger
  * buckets check later members against that prefix pool only, a
  * documented approximation (superset of the keep set; same class as
  * MinHashDeduplicateFilter's maxBandBucket, strictly better recall
  * than its min-only star since the pool holds 4096 earlier members,
  * not one). `maxBucket = Int.MaxValue` restores the exact
  * every-pair-verified semantics of the pre-cap self-join form, and the
  * approximation is observable at runtime: rows that overflowed their
  * bucket's pool are counted in the `graft.semdedup.cappedRows`
  * accumulator (visible in the Spark UI / status API; 0 ⇒ the run was
  * exact). In both modes rows sharing an orderKey never pair (the
  * reference's strict i < j). This walk stays separate from
  * [[Dedup.witnessWalk]] because its rule past the cap differs: the pool
  * is the bucket's first `maxBucket` members, not its minimum. */
final case class SemDeduplicateFilter(embKey: String = "embedding",
    orderKey: String = "vec_id", eps: Double = 0.05, mode: String = "lsh",
    bits: Int = 0, tables: Int = 4, dim: Int = 64,
    maxBucket: Int = 4096) extends Op {
  require(mode == "lsh" || mode == "exact", s"mode $mode")
  CosineLsh.checkBits(bits)
  require(maxBucket > 0, "maxBucket must be positive")
  val name = "sem_deduplicate_filter"
  val inputKeys = Seq(embKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val v = df.select(col(orderKey), col(embKey).cast("array<double>").as("__v"))
    val dups =
      if (mode == "exact") {
        val cos = Similarity.cosine(col("vi"), col("vj"))
        val l = v.select(col(orderKey).as("i"), col("__v").as("vi"))
        val r = v.select(col(orderKey).as("j"), col("__v").as("vj"))
        l.crossJoin(r).where(col("i") < col("j")).where(cos >= 1.0 - eps)
          .select(col("j").as(orderKey)).distinct()
      } else {
        // bits = 0 (default) → auto-size from the corpus count: a fixed
        // width is linear occupancy growth, and here overflow past
        // maxBucket silently costs RECALL (rows checked against the capped
        // pool only) — auto keeps buckets at the density the cap assumes.
        val b = CosineLsh.width(bits, Partitioning.rowCounts(v).head)
        // One hash exchange on the bucket key + in-partition sort groups
        // each bucket's members in orderKey order; the walk then streams
        // rows, keeping a pool of the bucket's first maxBucket vectors.
        // A row similar to ANY pool member is a dup (dropped rows stay
        // in the pool: the reference drops the later row of every
        // similar pair, so an already-dropped row still witnesses).
        // The cosine is the same strict left fold as the codegen'd
        // CosineSimilarity expression — decisions are bit-identical to
        // the SQL oracle's replay.
        val bucketed = CosineLsh.explodeKeys(v, col("__v"), b, dim, tables)
          .select(col(CosineLsh.Key), col(orderKey), col("__v"))
        val parted = bucketed.repartition(col(CosineLsh.Key))
          .sortWithinPartitions(col(CosineLsh.Key), col(orderKey))
        val outSchema = StructType(
          Seq(parted.schema(orderKey)))
        val (mb, th) = (maxBucket, 1.0 - eps)
        // observable cap (see scaladoc): counts rows that arrived after
        // their bucket's pool was full — 0 means the run was exact
        val capped = df.sparkSession.sparkContext
          .longAccumulator("graft.semdedup.cappedRows")
        parted.mapPartitions { it =>
          val pool = new ArrayBuffer[Array[Double]]()
          val poolIds = new ArrayBuffer[Any]()
          var cur: Any = null
          it.flatMap { row =>
            val key = row.get(0)
            if (key != cur) { cur = key; pool.clear(); poolIds.clear() }
            val id = row.get(1)
            val vec = row.getSeq[Double](2).toArray
            var dup = false
            var k = 0
            while (!dup && k < pool.length) {
              if (Dedup.cosineFold(pool(k), vec) >= th && poolIds(k) != id)
                dup = true
              k += 1
            }
            if (pool.length < mb) { pool += vec; poolIds += id }
            else capped.add(1)
            if (dup) Iterator.single(Row(id)) else Iterator.empty
          }
        }(Encoders.row(outSchema)).distinct()
      }
    // see SimHashDeduplicateFilter: id-side shuffle_hash, never broadcast
    df.join(dups.hint("shuffle_hash"), Seq(orderKey), "left_anti")
  }
}

/** Greedy k-center coreset selection over embeddings
  * (`kcentergreedy_filter.py:14-218`): keep k maximally-diverse rows.
  * The final selection is sequential-greedy on the driver (the reference
  * does the same in numpy), but the driver pool is built by a
  * DISTRIBUTED pre-selection — greedy k-center is composable, so each
  * range partition reduces its slice to its own ≤ k local centers
  * (covering ALL rows, unlike a truncating prefix cap), and the driver
  * merges ≤ preParts × k ≤ maxCandidates candidates. Driver memory is
  * bounded by maxCandidates regardless of n.
  *
  * Deterministic given the same input: range partitioning by orderKey,
  * each greedy pass starts from its smallest id, distance ties break
  * toward the smallest id. */
final case class KCenterGreedyFilter(embKey: String = "embedding",
    orderKey: String = "vec_id", k: Int = 100,
    maxCandidates: Int = 200000) extends Op {
  require(k <= maxCandidates, "k must be ≤ maxCandidates")
  val name = "kcenter_greedy_filter"
  val inputKeys = Seq(embKey, orderKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val preParts = math.max(1, math.min(64, maxCandidates / k))
    val slim = df.select(col(orderKey).cast("long").as("__id"),
      col(embKey).cast("array<double>").as("__v"))
    val parted =
      if (preParts > 1) slim.repartitionByRange(preParts, col("__id")) else slim
    val kk = k
    val candidates = parted.mapPartitions { it =>
      val rows = it.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .toArray.sortBy(_._1)
      if (rows.length <= kk) rows.iterator.map(r => Row(r._1, r._2.toSeq))
      else {
        val ids = KCenterGreedyFilter.greedy(rows, kk).toSet
        rows.iterator.filter(r => ids(r._1)).map(r => Row(r._1, r._2.toSeq))
      }
    }(Encoders.row(parted.schema))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (candidates.length <= k) return df
    val chosen = KCenterGreedyFilter.greedy(candidates, k)
    val keepDf = df.sparkSession
      .createDataset(chosen.toSeq)(org.apache.spark.sql.Encoders.scalaLong)
      .toDF(orderKey)
    df.join(broadcast(keepDf), Seq(orderKey), "left_semi")
  }
}

object KCenterGreedyFilter {
  /** Greedy 2-approx k-center over (id, vec) rows SORTED by id: seed at
    * the smallest id, then repeatedly add the point with the largest
    * min-distance to the chosen set (ties → smallest id via scan order).
    * Returns min(k, n) chosen ids in selection order. */
  private[dedup] def greedy(rows: Array[(Long, Array[Double])],
      k: Int): Array[Long] = {
    val n = rows.length
    val dist = Array.fill(n)(Double.MaxValue)
    val chosen = new ArrayBuffer[Long](k)
    var next = 0
    var c = 0
    while (c < k && c < n) {
      chosen += rows(next)._1
      val cv = rows(next)._2
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < n) {
        val d = Dedup.sqDist(rows(i)._2, cv)
        if (d < dist(i)) dist(i) = d
        if (dist(i) > bestD) { bestD = dist(i); best = i }
        i += 1
      }
      next = best
      c += 1
    }
    chosen.toArray
  }
}

object Dedup {
  /** Collapse rows whose `key` values are IDENTICAL to the min-orderKey
    * row of each value: (dropped ids, surviving representatives). A
    * cluster of m identical rows shares every band bucket, so without
    * this the walk would test O(m²) pairs per cluster; identical rows are
    * interchangeable under keep-first semantics, so keeping only the
    * representative is exact — any row the walk would drop via a
    * collapsed member it also drops via that member's (earlier)
    * representative. A null key is one group like any other value.
    *
    * Both outputs filter one marked table, so their plans share one key
    * computation and one exchange (the second branch reuses it). The
    * first row is marked by a null `lag`, not by `row_number() === 1`:
    * Spark adds a group limit below a rank-like filter on that branch
    * only, the two exchanges then differ, and the key is computed and
    * shuffled twice. Rows tied on orderKey carry the same id and key, so
    * which of them is marked first changes neither output. */
  private[graft] def collapseIdentical(df: DataFrame, key: String,
      orderKey: String): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col(key)).orderBy(col(orderKey))
    val marked = df.withColumn("__first", lag(lit(1), 1).over(w).isNull)
    (marked.filter(!col("__first")).select(col(orderKey)),
      marked.filter(col("__first")).drop("__first"))
  }

  /** The ids of rows `similar` to an earlier row in a shared bucket — the
    * verifier of every banded near-duplicate filter. `banded` carries a
    * Long `bucket` key, the `orderKey` and a `payload` column that `read`
    * extracts from column 2 of the walk's (bucket, orderKey, payload)
    * rows. One hash exchange on the bucket and an in-partition sort by
    * (bucket, orderKey) feed [[witnessWalk]]; only ids leave it, one per
    * (dropped row, bucket). */
  private[graft] def witnessDups[P](banded: DataFrame, bucket: String,
      orderKey: String, payload: String, cap: Int)(read: Row => P,
      similar: (P, P) => Boolean): DataFrame = {
    val parted = banded.select(col(bucket), col(orderKey), col(payload))
      .repartition(col(bucket))
      .sortWithinPartitions(col(bucket), col(orderKey))
    parted.mapPartitions(witnessWalk(cap, read, similar))(
      Encoders.row(StructType(Seq(banded.schema(orderKey)))))
  }

  /** The witness walk over one partition of (bucket, orderKey, payload)
    * rows sorted by (bucket, orderKey); emits Row(orderKey) per drop.
    *  - A bucket of ≤ cap rows: row j drops iff SOME earlier row of the
    *    bucket, dropped or not, is `similar`. The scan of earlier rows
    *    stops at the first witness, so m mutual duplicates cost ~m tests.
    *  - A bucket of > cap rows: every row is tested against the pool of
    *    the bucket's min-orderKey rows only. The pool holds at most cap+1
    *    rows: min-key rows streamed after the first cap+1 are never
    *    pooled, so a later row matching only such a row survives.
    *  - Rows sharing an orderKey never pair, in both kinds of bucket.
    *  - Memory: at most cap+1 payloads are buffered. Whether a bucket is
    *    small is known after its first cap+1 rows; from then on each drop
    *    is emitted as soon as it is found, and a big bucket's remaining
    *    rows are read and tested one at a time. */
  private[graft] def witnessWalk[P](cap: Int, read: Row => P,
      similar: (P, P) => Boolean): Iterator[Row] => Iterator[Row] = in =>
    new Iterator[Row] {
      private val rows = in.buffered
      private val ids = new ArrayBuffer[Any]()
      private val pay = new ArrayBuffer[P]()
      private var bucket = 0L
      private var pool = 0 // > 0: big bucket, witnesses are rows 0 until pool
      private var j = 0 // next buffered row to test
      private var ready: Row = null

      /** Some row in 0 until upTo with another orderKey is similar to p. */
      private def witnessed(id: Any, p: P, upTo: Int): Boolean = {
        var i = 0
        while (i < upTo) {
          if (ids(i) != id && similar(pay(i), p)) return true
          i += 1
        }
        false
      }

      private def step(): Unit =
        if (j < ids.length) { // a buffered row: all earlier rows, or the pool
          if (witnessed(ids(j), pay(j), if (pool > 0) pool else j))
            ready = Row(ids(j))
          j += 1
        } else if (pool > 0 && rows.head.getLong(0) == bucket) {
          val r = rows.next() // big bucket: stream against the pool
          if (witnessed(r.get(1), read(r), pool)) ready = Row(r.get(1))
        } else { // next bucket: buffer up to cap+1 rows
          ids.clear(); pay.clear(); pool = 0; j = 0
          bucket = rows.head.getLong(0)
          do { val r = rows.next(); ids += r.get(1); pay += read(r) }
          while (ids.length <= cap && rows.hasNext &&
            rows.head.getLong(0) == bucket)
          if (ids.length > cap) {
            pool = 1
            while (pool < ids.length && ids(pool) == ids(0)) pool += 1
            j = pool
          }
        }

      def hasNext: Boolean = {
        while (ready == null && (j < ids.length || rows.hasNext)) step()
        ready != null
      }

      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException("empty walk")
        val r = ready
        ready = null
        r
      }
    }

  /** Keep the row with the smallest orderKey per group — ONE shuffle
    * (hash partition by groupExpr), window row_number. */
  def keepFirst(df: DataFrame, groupExpr: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(groupExpr).orderBy(order)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The same strict left fold as [[graft.functions.CosineSimilarity]]
    * (single loop accumulating dot and both norms, then one divide) over
    * plain arrays — for imperative kernels whose decisions must be
    * bit-identical to the expression's and to the SQL oracle's. */
  def cosineFold(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = a(i); val yi = b(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private[dedup] def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
