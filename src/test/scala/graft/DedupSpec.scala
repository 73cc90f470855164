package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Op, Pipeline}
import graft.ops.dedup.{Dedup, HashDeduplicateFilter, MinHashDeduplicateFilter,
  SemDeduplicateFilter, SimHashDeduplicateFilter}
import graft.ops.filter.{MeanWordLengthFilter, SpecialCharacterFilter,
  WatermarkFilter, WordNumberFilter}
import graft.ops.refine.{HtmlEntityRefiner, HtmlUrlRemoverRefiner,
  LowercaseRefiner, RemoveExtraSpacesRefiner, RemoveStopwordsRefiner}

/** Dedup (`graft.ops.dedup`): the shared witness walk and identical-set
  * collapse in [[Dedup]], and the MinHash, SimHash and semantic filters
  * built on them.
  *
  * Walk invariants pinned here:
  *  1. Small buckets (≤ cap): j drops iff SOME earlier i in a shared
  *     bucket is similar, including witnesses that were themselves dropped.
  *  2. Big buckets (> cap): rows are tested against the bucket's
  *     min-orderKey rows only — later members that match each other but
  *     not the minimum survive, even when the bucket overflows mid-stream.
  *  3. Equal-orderKey rows never pair, in small buckets and past a big
  *     bucket's pool alike.
  *  4. Buckets are independent within and across partitions.
  *  5. Memory: the walk reads at most cap+1 rows (plus one lookahead)
  *     before a big bucket's first id comes out, then streams.
  */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  /** Synthetic banded table (doc_id, __sh, __band) — full control over
    * bucket membership, unlike text fixtures where banding is implicit. */
  private def banded(rows: Seq[(Long, Array[Long], Long)]) =
    rows.toDF("doc_id", "__sh", "__band")

  /** Sorted shingle array with `n` elements starting at `from`. */
  private def sh(from: Long, n: Int): Array[Long] =
    Array.tabulate(n)(i => from + i)

  /** The shared walk with MinHash's Jaccard ≥ 0.9 verify. */
  private def walk(df: DataFrame, cap: Int = 1024): Set[Long] =
    Dedup.witnessDups(df, "__band", "doc_id", "__sh", cap)(
      r => r.getSeq[Long](2).toArray,
      (a: Array[Long], b: Array[Long]) =>
        graft.functions.kernels.jaccardSorted(a, b) >= 0.9)
      .as[Long].collect().toSet

  private def keptIds(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("witness walk: all-pairs small-bucket semantics, dropped rows still witness") {
    // bucket 7: a=base, b≈a (dup), c≈b but NOT ≈a — c must drop via the
    // already-dropped b (witnesses are earlier rows, dropped or not).
    // 100-element sets, k replacements → J = (100−k)/(100+k):
    // J(a,b)=97/103≈0.942 ≥ 0.9; J(a,c)=94/106≈0.887 < 0.9;
    // J(b,c)=97/103≈0.942 ≥ 0.9.
    val a = sh(0, 100) // {0..99}
    val b = sh(0, 100).patch(0, (1000L to 1002L), 3).sorted
    val c = sh(0, 100).patch(0, (1000L to 1005L), 6).sorted
    val rows = Seq((1L, a, 7L), (2L, b, 7L), (3L, c, 7L),
      (9L, sh(5000, 50), 7L)) // dissimilar bucket-mate survives
    assert(walk(banded(rows)) == Set(2L, 3L))
  }

  test("witness walk: j with no earlier match survives even when a LATER row matches") {
    // keep-first: similarity to a LATER row never drops the earlier one
    val rows = Seq((5L, sh(0, 100), 1L), (6L, sh(0, 100), 1L))
    assert(walk(banded(rows)) == Set(6L))
  }

  test("witness walk: big-bucket min-only approximation is preserved") {
    // cap 3, bucket of 5: min m=0 is dissimilar to everything; x,y are
    // mutually similar later members. Under all-pairs y would drop via
    // x; under the min-only big-bucket rule NEITHER drops.
    val m = sh(0, 50)
    val x = sh(10000, 100)
    val y = sh(10000, 100).patch(0, Seq(99999L), 1).sorted // ~0.98 vs x
    val filler1 = sh(20000, 40)
    val filler2 = sh(30000, 40)
    val rows = Seq((0L, m, 4L), (1L, x, 4L), (2L, y, 4L),
      (3L, filler1, 4L), (4L, filler2, 4L))
    assert(walk(banded(rows), cap = 3) == Set.empty[Long])
    // control: the same bucket under the cap drops y via x
    assert(walk(banded(rows), cap = 1024) == Set(2L))
    // and a big bucket still drops members similar to the MIN: replace
    // the min with x's twin
    val rows2 = Seq((0L, x, 4L), (1L, y, 4L), (2L, m, 4L),
      (3L, filler1, 4L), (4L, filler2, 4L))
    assert(walk(banded(rows2), cap = 3) == Set(1L))
  }

  test("witness walk: equal orderKey values never pair") {
    val a = sh(0, 100)
    val rows = Seq((1L, a, 2L), (1L, a, 2L)) // identical id, identical set
    assert(walk(banded(rows)) == Set.empty[Long])
    // but a later distinct id still drops against either equal-key row
    val rows2 = Seq((1L, a, 2L), (1L, a, 2L), (2L, a, 2L))
    assert(walk(banded(rows2)) == Set(2L))
  }

  test("witness walk: equal minimum orderKeys never pair in a big bucket") {
    // cap 3: the first cap+1 rows (all key 1) overflow the buffer and
    // freeze the pool; the two key-1 rows streamed after it must be
    // skipped, not tested against their equal-key pool
    val a = sh(0, 100)
    val rows = Seq.fill(6)((1L, a, 3L)) :+ ((2L, a, 3L))
    assert(walk(banded(rows), cap = 3) == Set(2L))
  }

  test("witness walk: buckets are independent across and within partitions") {
    // same pair of similar docs split across two bands: dup emitted in
    // both buckets, distinct-able; a third doc alone in its bucket never
    // sees a witness from another bucket
    val a = sh(0, 100); val b = sh(0, 100)
    val rows = Seq((1L, a, 10L), (2L, b, 10L), (1L, a, 11L), (2L, b, 11L),
      (3L, a, 12L))
    val ids = walk(banded(rows))
    assert(ids == Set(2L)) // 3 has no bucket-mate; 2 drops (bands collapse via Set)
  }

  test("witness walk streams a big bucket: first id after at most cap+2 rows") {
    // one min row plus 1,000 rows matching it, all in one bucket; the
    // walk is driven without Spark through a counting source iterator
    val cap = 3
    var consumed = 0
    val source = (Iterator.single(Row(1L, 0L, 7L)) ++
      (1L to 1000L).iterator.map(i => Row(1L, i, 7L))).map { r =>
      consumed += 1; r
    }
    val out = Dedup.witnessWalk[Long](cap, _.getLong(2), _ == _)(source)
    assert(out.hasNext)
    assert(consumed <= cap + 2, s"$consumed rows read before the first id")
    assert(out.next() == Row(1L))
    assert(1 + out.size == 1000)
    assert(consumed == 1001)
  }

  test("walked minhash still matches brute-force pairwise keep-first end to end") {
    // near-dup cluster (distinct shingle sets) + uniques
    val base = (0 until 80).map(t => s"tok$t")
    val rows = (0L until 150L).map { i =>
      val drop = (i % 80).toInt
      (i, base.zipWithIndex.collect { case (w, p) if p != drop => w }.mkString(" "))
    } ++ (1000L until 1040L).map(i =>
      (i, s"unique document $i about ${i * 31} and ${i * 7} and ${i * 13}"))
    val df = rows.toDF("doc_id", "text")
    val kept = keptIds(MinHashDeduplicateFilter("text", "doc_id", threshold = 0.9)(df))
    val shs = rows.map { case (id, text) =>
      id -> graft.functions.kernels.shingleHashes(text.split("\\s+").toSeq, 3)
    }.sortBy(_._1)
    val drops = (for {
      ((i, si), xi) <- shs.zipWithIndex
      (j, sj) <- shs.drop(xi + 1)
      if graft.functions.kernels.jaccardSorted(si, sj) >= 0.9
    } yield j).toSet
    assert(kept == rows.map(_._1).toSet -- drops)
  }

  test("an exact-clone cluster collapses to its first row in minhash and simhash") {
    // 200-way exact-clone cluster + distinct docs: the identical-set
    // collapse keeps doc 0 and drops 1..199 before the walk ever runs
    val clone = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((0L until 200L).map(i => (i, clone)) ++
      Seq((500L, "completely different words about databases and engines here"),
          (501L, "yet another unrelated sentence mentioning spark catalyst tungsten")))
      .toDF("doc_id", "text")
    assert(keptIds(MinHashDeduplicateFilter("text", "doc_id")(docs)) ==
      Set(0L, 500L, 501L))
    assert(keptIds(SimHashDeduplicateFilter("text", "doc_id")(docs)) ==
      Set(0L, 500L, 501L))
  }

  /** Brute-force replica of SimHash's bucket rule: identical fingerprints
    * keep the smallest id; a segment bucket of ≤ cap representatives
    * checks every pair, a larger one each row against its smallest id. */
  private def simhashReplica(sigs: Seq[(Long, Long)], cap: Int, k: Int): Set[Long] = {
    val sorted = sigs.sortBy(_._1)
    val reps = sorted.groupBy(_._2).values.map(_.head).toSeq.sortBy(_._1)
    val identical = sorted.map(_._1).toSet -- reps.map(_._1)
    val close = (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b) <= k
    val banded = (0 until k + 1).flatMap { s =>
      val width = if (s == k) 60 - s * (60 / (k + 1)) else 60 / (k + 1)
      reps.groupBy { case (_, sig) =>
        (s, (sig >>> (s * (60 / (k + 1)))) & ((1L << width) - 1))
      }.values.map(_.sortBy(_._1))
    }
    identical ++ banded.flatMap { members =>
      if (members.size > cap)
        members.tail.collect { case (j, sj) if close(members.head._2, sj) => j }
      else
        members.indices.collect {
          case b if (0 until b).exists(a => close(members(a)._2, members(b)._2)) =>
            members(b)._1
        }
    }
  }

  test("simhash big buckets test each row against the bucket minimum only") {
    // clusters of edits of a base text: the first member carries several
    // edits, the later ones one each, so later members are close to each
    // other but often not to the first; their fingerprints share most
    // segments, so at maxBandBucket = 2 most buckets are big
    val rnd = new scala.util.Random(5)
    val vocab = Vector.tabulate(400)(i => s"w$i")
    val rows = (0 until 10).flatMap { c =>
      val base = Vector.fill(30)(vocab(rnd.nextInt(vocab.size)))
      (0 until 6).map { m =>
        val edits = if (m == 0) 3 + c % 3 else 1
        val text = (0 until edits).foldLeft(base)((t, _) =>
          t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(vocab.size))))
        ((c * 100 + m).toLong, text.mkString(" "))
      }
    }
    val df = rows.toDF("doc_id", "text")
    val sigs = rows.map { case (id, t) =>
      id -> graft.functions.kernels.simhash60(t.split(" ").toSeq)
    }
    val star = simhashReplica(sigs, cap = 2, k = 3)
    // the corpus exercises the rule: the star and all-pairs drop sets differ
    assert(star != simhashReplica(sigs, cap = Int.MaxValue, k = 3))
    val op = SimHashDeduplicateFilter("text", "doc_id", maxBandBucket = 2)
    assert(keptIds(op(df)) == rows.map(_._1).toSet -- star)
  }

  // docs 1–2 null, 3 empty, 4 and 5 equal, 6 whitespace-only
  private def degenerate = Seq[(Long, String)]((1L, null), (2L, null), (3L, ""),
    (4L, "alpha beta gamma delta"), (5L, "alpha beta gamma delta"), (6L, "   "))
    .toDF("doc_id", "text")

  test("simhash on null, empty and whitespace-only text") {
    // null fingerprints collapse with each other; "" and "   " share the
    // all-zero fingerprint
    assert(keptIds(SimHashDeduplicateFilter("text", "doc_id")(degenerate)) ==
      Set(1L, 3L, 4L))
  }

  test("minhash on null, empty and whitespace-only text") {
    // no shingles: never a candidate, never collapsed
    assert(keptIds(MinHashDeduplicateFilter("text", "doc_id")(degenerate)) ==
      Set(1L, 2L, 3L, 4L, 6L))
  }

  // duplicate doc_ids: 1 twice (different texts), 2 a clone of one of them,
  // 3 a one-word edit of the other (it drops via doc 1's second row),
  // 4 unrelated, 5 twice with equal text.
  // The identical collapse ranks doc 5's two rows against each other, so
  // doc 5 is dropped entirely; the walk never pairs equal keys.
  private val text1a = "one two three four five six seven eight nine ten eleven twelve"
  private val text1b = (1 to 30).map(i => s"colour$i").mkString(" ")
  private def duplicateKeys = Seq[(Long, String)]((1L, text1a), (1L, text1b),
    (2L, text1a), (3L, text1b.replace("colour30", "teal")),
    (4L, "a completely unrelated sentence about parquet scans and joins"),
    (5L, "fifty fifty fifty words repeated in a row here"),
    (5L, "fifty fifty fifty words repeated in a row here"))
    .toDF("doc_id", "text")

  test("simhash with duplicate doc_ids") {
    assert(keptIds(SimHashDeduplicateFilter("text", "doc_id")(duplicateKeys)) ==
      Set(1L, 4L))
  }

  test("minhash with duplicate doc_ids") {
    assert(keptIds(MinHashDeduplicateFilter("text", "doc_id")(duplicateKeys)) ==
      Set(1L, 4L))
  }

  test("sem dedup (lsh and exact) never pairs rows that share a vec_id") {
    val v = Seq.tabulate(64)(d => math.sin(d + 1.0))
    val w = Seq.tabulate(64)(d => math.cos(d * 3.0))
    val df = Seq((5L, v), (5L, v), (7L, w)).toDF("vec_id", "embedding")
    Seq("lsh", "exact").foreach { mode =>
      val kept = SemDeduplicateFilter("embedding", "vec_id", mode = mode)(df)
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(5L, 5L, 7L), s"mode $mode kept $kept")
    }
  }

  test("sem dedup lsh builds with one count job for auto bits and none for explicit bits") {
    val src = vecs(300)
    val kept = Seq(0 -> 1, 8 -> 0).map { case (bits, jobs) =>
      var out: DataFrame = null
      val n = jobsDuring(s"sem-dedup-gate-bits-$bits") {
        out = SemDeduplicateFilter("embedding", "vec_id", bits = bits)(src)
      }
      assert(n == jobs, s"bits=$bits: expected $jobs build jobs, saw $n")
      out.select("vec_id").as[Long].collect().sorted.toSeq
    }
    // 300 rows auto-size to the 8-bit floor: the same drop set
    assert(kept(0) == kept(1))
  }

  /** A parquet corpus with a near-duplicate cluster, exact clones and
    * unique documents, some with markup the refiners strip; read back so
    * the dedup sees a file scan. */
  private lazy val curateInput: DataFrame = {
    val base = (0 until 80).map(t => s"tok$t")
    val nearDups = (0L until 60L).map { i =>
      (i, base.zipWithIndex.collect { case (w, p) if p != (i % 80).toInt => w }
        .mkString(if (i % 2 == 0) " " else " &amp; "))
    }
    val clones = (100L until 140L).map(i =>
      (i, "the same exact text with http://example.org/x links " * 6))
    val uniques = (200L until 260L).map(i =>
      (i, (0 until 30).map(k => s"word${i * 31 + k * 7}").mkString(" ")))
    val path = tempDir("graft_curate").resolve("docs.parquet").toString
    (nearDups ++ clones ++ uniques).toDF("doc_id", "text")
      .coalesce(2).write.parquet(path)
    spark.read.parquet(path)
  }

  /** The ops of a pretrain-curation pipeline: refiners, rule filters,
    * exact, MinHash and SimHash dedup. */
  private val curateOps: Seq[Op] = Seq(HtmlUrlRemoverRefiner(),
    HtmlEntityRefiner(), RemoveStopwordsRefiner(), LowercaseRefiner(),
    RemoveExtraSpacesRefiner(), WordNumberFilter(minWords = 20),
    WatermarkFilter(), MeanWordLengthFilter(minLen = 3.0, maxLen = 10.0),
    SpecialCharacterFilter(), HashDeduplicateFilter(Seq("text"), "doc_id"),
    MinHashDeduplicateFilter("text", "doc_id"),
    SimHashDeduplicateFilter("text", "doc_id"))

  /** The plan reads a cache or a checkpoint. */
  private def materialized(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _ => false
    }

  test("minhash single-wave plan builds with no job, alone and in a 12-op pipeline") {
    val src = curateInput
    val op = MinHashDeduplicateFilter("text", "doc_id")
    var out: DataFrame = null
    assert(jobsDuring("minhash-lazy-op") { out = op(src) } == 0)
    assert(!materialized(out), out.queryExecution.optimizedPlan)
    var piped: DataFrame = null
    assert(jobsDuring("minhash-lazy-pipeline") { piped = Pipeline(curateOps)(src) } == 0)
    assert(!materialized(piped))
    assert(keptIds(out).size < 160 && keptIds(piped).nonEmpty)
    // the footer bound covers the measured banded bytes, raw and refined
    Seq(src, Pipeline(curateOps.take(9))(src)).foreach { in =>
      val r = op.shingled(in).agg(sum(size(col("__sh"))).cast("long"),
        count(lit(1))).first()
      val measured = (r.getLong(0) * 8L + r.getLong(1) * 48L) * op.bands * 2L
      val bound = op.bandedBytesBound(in)
      assert(bound.exists(_ >= measured), s"bound $bound < measured $measured")
    }
  }

  test("minhash with a one-byte scratch budget runs the waves and keeps the lazy plan's ids") {
    val src = curateInput
    val op = MinHashDeduplicateFilter("text", "doc_id")
    val lazyKept = keptIds(op(src))
    val tight = op.copy(scratchBudgetBytes = 1L)
    var waved: DataFrame = null
    assert(jobsDuring("minhash-waves") { waved = tight(src) } > tight.bands)
    assert(materialized(waved), "no wave checkpoint in the plan")
    assert(keptIds(waved) == lazyKept)
  }

  test("minhash over an explode or a union upstream measures, stays lazy and keeps the same ids") {
    val src = curateInput
    val op = MinHashDeduplicateFilter("text", "doc_id")
    val lazyKept = keptIds(op(src))
    val inputs = Seq(
      "explode" -> src.withColumn("__x", explode(array(lit(1)))).drop("__x"),
      "union" -> src.union(src.limit(0)))
    inputs.foreach { case (name, in) =>
      assert(op.bandedBytesBound(in).isEmpty, name)
      var out: DataFrame = null
      assert(jobsDuring(s"minhash-measured-$name") { out = op(in) } >= 1, name)
      assert(!materialized(out), name)
      assert(keptIds(out) == lazyKept, name)
    }
  }
}
