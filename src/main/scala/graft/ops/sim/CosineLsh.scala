package graft.ops.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The cosine LSH key, owned here and nowhere else: its width, its
  * format and the join predicate over it. [[Similarity.lshTopK]],
  * [[Similarity.similarityJoin]] and
  * [[graft.ops.dedup.SemDeduplicateFilter]] build their candidates from
  * these pieces.
  *
  * Random-hyperplane bucketing: a row's code in one table is `bits` sign
  * bits of dot products with fixed pseudo-random planes (deterministic
  * seed), and its key is that code namespaced by table, "t:code", so
  * tables never cross-match. Exploding the key array and joining on
  * [[Key]] OR-amplifies across the `tables` independent plane sets: a
  * pair is a candidate when it collides in ANY table, so recall ≈
  * 1-(1-p^bits)^tables instead of single-probe p^bits.
  */
object CosineLsh {

  /** The exploded key column [[explodeKeys]] adds: the join key. */
  val Key: String = "__bucket"

  /** Rejects a `bits` outside [0, 63]. 0 asks for [[autoBits]]; 63 is the
    * Long code width, and a wider shift would wrap and silently COARSEN
    * the buckets. */
  def checkBits(bits: Int): Unit =
    require(bits >= 0 && bits <= 63,
      s"bits must be in [0, 63] (Long bucket-code width), got $bits")

  /** The code width over a corpus of `corpusRows` rows: `bits` as given,
    * or [[autoBits]] of the row count when `bits = 0`. `corpusRows` is
    * evaluated on the auto path only, so an explicit width counts
    * nothing. */
  def width(bits: Int, corpusRows: => Long): Int =
    if (bits == 0) autoBits(corpusRows) else bits

  /** Bucket-width auto-sizing: with bits held FIXED, per-table bucket
    * occupancy is n/2^bits — linear in corpus size — so the candidate
    * stream (Σ C(occupancy, 2) per code) grows QUADRATICALLY with n: at
    * bits=8, 2M vectors gave ~1.2e11 candidate rows where 200k gave
    * ~1.25e9. Sizing bits ≈ log₂(n / targetBucket) keeps occupancy —
    * hence per-code candidate work — constant as the corpus grows; recall
    * per table falls (p_bit^bits), which the `tables` OR-amplification
    * offsets for high-cosine pairs (a cos 0.95 pair collides per 14-bit
    * table w.p. ~0.63 vs ~0.77 at 8 bits; across 16 tables both round to
    * ~1). Floor 8 keeps small corpora on the well-tested default; cap 24
    * bounds the key space. The cap applies to the AUTO path only —
    * explicit `bits` values are taken as given (a caller may deliberately
    * go wider). */
  private[graft] def autoBits(n: Long, targetBucket: Int = 1024): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(24, math.max(8, needed))
  }

  /** The per-row key array, one "t:code" key per table. Imperative
    * kernel with a cached precomputed weight matrix — the equivalent
    * expression tree (tables × bits × dim terms) blows up codegen. Shared
    * with the SQL-registered `cosine_lsh_buckets`
    * ([[graft.functions.kernels]]), which the DuckDB oracles replay. */
  def buckets(v: Column, bits: Int, dim: Int, tables: Int): Column =
    graft.functions.hashExpressions.lshBuckets(v, bits, dim, tables)

  /** `df` with one row per table for each row: [[Key]] holds the row's
    * key in that table. When `keys` is given, the column of that name
    * also carries the row's whole key array, which [[firstShared]] reads.
    * A null or empty vector has no keys, so its row drops out. */
  def explodeKeys(df: DataFrame, vec: Column, bits: Int, dim: Int,
      tables: Int, keys: Option[String] = None): DataFrame = keys match {
    case Some(k) =>
      df.withColumn(k, buckets(vec, bits, dim, tables))
        .withColumn(Key, explode(col(k)))
    case None => df.withColumn(Key, explode(buckets(vec, bits, dim, tables)))
  }

  /** Emit-once predicate for a join on [[Key]] of two [[explodeKeys]]
    * sides whose key arrays are `keysA` and `keysB`: true only in the
    * pair's FIRST shared bucket in table order, so each candidate pair
    * leaves the join exactly once. No pair-dedup exchange is needed — one
    * would move the whole candidate stream, and could not collapse a
    * pair's cross-table copies map-side because they surface in
    * different partitions.
    *
    * Invariant: "first shared bucket" is unique per pair only because
    * keys are namespaced by table, so a row's key array has `tables`
    * DISTINCT entries (R9Spec pins per-row duplicate-freeness). A key
    * scheme in which two tables could yield the same key would pass a
    * pair in both copies — duplicate output rows, with nothing
    * downstream to catch them.
    *
    * Apply it before the cosine: a `tables`-element array intersect is
    * cheaper than the dot product it skips on the other tables' copies of
    * a multi-collision pair. */
  def firstShared(keysA: Column, keysB: Column): Column =
    element_at(filter(keysA, x => array_contains(keysB, x)), 1) === col(Key)
}
