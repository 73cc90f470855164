package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Manual input-type validation — `ExpectsInputTypes.inputTypes` returns
  * the sql-private `AbstractDataType`, unavailable outside the spark.sql
  * package, so these expressions check types at analysis time themselves. */
private[functions] object HashExprChecks {
  def check(name: String, expected: Seq[DataType],
      actual: Seq[DataType]): TypeCheckResult =
    if (expected.zip(actual).forall { case (e, a) =>
        DataType.equalsStructurally(a, e, ignoreNullability = true) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${expected.mkString(", ")}), got (${actual.mkString(", ")})")
}

/** SQL-callable wrappers over the shared [[kernels]] — registered into the
  * function registry by [[graft.GraftExtensions]] so `spark.sql` users can
  * compute the same fingerprints/bucket keys the dedup operators use:
  *
  *   SELECT simhash60(text)                        -- 60-bit fingerprint
  *   SELECT minhash_bands(text, 3, 128, 16)        -- LSH band keys
  *   SELECT cosine_lsh_buckets(embedding, 8, 64, 4) -- hyperplane buckets
  *
  * The kernels are imperative (a minhash signature is 128 modular
  * reductions per shingle — an expression TREE of that blows up codegen),
  * so these are CodegenFallback scalar calls: one virtual call per row,
  * same cost profile as the operators' internal UDFs, but visible to SQL
  * and free of UDF closure serialization. */
final case class SimHash60(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def prettyName: String = "simhash60"
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.check(prettyName, Seq(StringType), Seq(child.dataType))
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any =
    kernels.simhash60(kernels.splitWords(s.toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhash_bands(text, ngram, numPerm, bands) → array<string> of LSH band
  * bucket keys; [] when the text has fewer than `ngram` words. */
final case class MinHashBands(text: Expression, ngram: Expression,
    numPerm: Expression, bands: Expression) extends Expression
    with CodegenFallback {
  override def prettyName: String = "minhash_bands"
  override def children: Seq[Expression] = Seq(text, ngram, numPerm, bands)
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.check(prettyName,
      Seq(StringType, IntegerType, IntegerType, IntegerType),
      children.map(_.dataType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    val n = ngram.eval(input)
    val np = numPerm.eval(input)
    val nb = bands.eval(input)
    if (t == null || n == null || np == null || nb == null) null
    else {
      val ws = kernels.splitWords(t.toString).toSeq
      val hs = kernels.shingleHashes(ws, n.asInstanceOf[Int])
      new GenericArrayData(
        kernels.minhashBandKeys(hs.toSeq, np.asInstanceOf[Int],
          nb.asInstanceOf[Int]).map(UTF8String.fromString(_): AnyRef))
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

/** cosine_lsh_buckets(vec, bits, dim, tables) → array<string> of
  * random-hyperplane sign-bucket keys, one per table ("t:code"). */
final case class CosineLshBuckets(vec: Expression, bits: Expression,
    dim: Expression, tables: Expression) extends Expression
    with CodegenFallback {
  override def prettyName: String = "cosine_lsh_buckets"
  override def children: Seq[Expression] = Seq(vec, bits, dim, tables)
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.check(prettyName,
      Seq(ArrayType(DoubleType), IntegerType, IntegerType, IntegerType),
      children.map(_.dataType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    val b = bits.eval(input)
    val d = dim.eval(input)
    val tb = tables.eval(input)
    if (v == null || b == null || d == null || tb == null) null
    else {
      val arr = v.asInstanceOf[ArrayData].toDoubleArray()
      new GenericArrayData(
        kernels.lshBuckets(arr.toSeq, b.asInstanceOf[Int],
          d.asInstanceOf[Int], tb.asInstanceOf[Int])
          .map(UTF8String.fromString(_): AnyRef))
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3))
}

/** pair_ngram_tf(predWords, refWords, maxN) — GENERATOR: one
  * (n, gram, tf_p, tf_r) row per DISTINCT word n-gram (n = 1..maxN) of a
  * (prediction, reference) pair, gram = [[kernels.md5Prefix60]] of the
  * space-joined gram, tf_* = that side's term frequency.
  *
  * Two costs of the udf → transform(struct) → explode → groupBy form
  * this replaces vanish:
  *  - the md5 runs directly over the words' UTF-8 bytes (UTF-8 of a
  *    space-join IS the byte concatenation with 0x20 separators), so no
  *    gram String / tuple / gram array is ever materialized — that
  *    SerDe/boxing plumbing measured ~11.5 µs of CPU per gram row at
  *    ×100 sf0.1 while the md5 itself prices at ~0.2 µs;
  *  - both sides count into ONE per-pair hash map, so the generator
  *    emits final per-pair tf rows and the corpus-sized
  *    groupBy(id, n, gram) exchange + 90M-group hash aggregate that
  *    used to merge the exploded stream disappears from the plan.
  *
  * Contract: the caller owns one generator row per scoring unit (the
  * reference metric scores each sample independently) — emitted rows
  * are final tf vectors for THAT row, never merged across rows.
  * Oracle form unchanged: `('0x' || substr(md5(g), 1, 15))::BIGINT`. */
final case class PairNgramTfGen(pred: Expression, ref: Expression, maxN: Int)
    extends Expression with Generator with CodegenFallback {
  require(maxN >= 1 && maxN <= 4, s"maxN must be in 1..4, got $maxN")
  override def prettyName: String = "pair_ngram_tf"
  override def children: Seq[Expression] = Seq(pred, ref)
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.check(prettyName,
      Seq(ArrayType(StringType), ArrayType(StringType)),
      children.map(_.dataType))
  override def elementSchema: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("gram", LongType, nullable = false),
    StructField("tf_p", LongType, nullable = false),
    StructField("tf_r", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    // composite key: (n-1) in bits 60-61 above the 60-bit gram hash —
    // stays positive in a signed long for n <= 4
    val counts = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
    def side(e: Expression, idx: Int): Unit = {
      val arr = e.eval(input).asInstanceOf[ArrayData]
      if (arr != null) {
        val nw = arr.numElements()
        val words = new Array[Array[Byte]](nw)
        var i = 0
        while (i < nw) { words(i) = arr.getUTF8String(i).getBytes; i += 1 }
        var k = 1
        while (k <= maxN) {
          var s = 0
          while (s <= nw - k) {
            val key = java.lang.Long.valueOf(
              ((k - 1).toLong << 60) | kernels.md5Prefix60Gram(words, s, k))
            var c = counts.get(key)
            if (c == null) { c = new Array[Long](2); counts.put(key, c) }
            c(idx) += 1L
            s += 1
          }
          k += 1
        }
      }
    }
    side(pred, 0)
    side(ref, 1)
    val rows = new Array[InternalRow](counts.size)
    val it = counts.entrySet().iterator()
    var r = 0
    while (it.hasNext) {
      val e = it.next()
      val key = e.getKey.longValue()
      rows(r) = new GenericInternalRow(Array[Any](
        (key >>> 60).toInt + 1, key & ((1L << 60) - 1),
        e.getValue()(0), e.getValue()(1)))
      r += 1
    }
    rows
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(pred = newChildren(0), ref = newChildren(1))
}

/** Column builders for the hash expressions (the operators call these;
  * SQL callers go through [[graft.GraftExtensions]]). */
object hashExpressions {
  def simhash60(text: Column): Column =
    SparkBridge.toColumn(SimHash60(SparkBridge.toExpression(text)))

  def lshBuckets(vec: Column, bits: Int, dim: Int, tables: Int): Column =
    SparkBridge.toColumn(CosineLshBuckets(
      SparkBridge.toExpression(vec.cast("array<double>")),
      Literal(bits), Literal(dim), Literal(tables)))

  /** Generator column: select alongside other columns to get `n`,
    * `gram`, `tf_p`, `tf_r` output columns (Catalyst plans a Generate
    * node from it). */
  def pairNgramTf(predWords: Column, refWords: Column, maxN: Int): Column =
    SparkBridge.toColumn(PairNgramTfGen(SparkBridge.toExpression(predWords),
      SparkBridge.toExpression(refWords), maxN))
}
