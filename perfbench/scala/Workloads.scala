package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Op, Pipeline, Storage}
import graft.ops.dedup._
import graft.ops.eval.CorpusEvaluators
import graft.ops.filter._
import graft.ops.gen.{ChunkSplitter, PromptedEvaluator, PromptedGenerator}
import graft.ops.refine._
import graft.ops.sim.Similarity
import graft.ops.text2sql.SQLExecutionFilter
import graft.serving.{HttpServing, MockServing}

/** What one workload runs. A pass builds the workload's pipeline and runs
  * actions that consume every output column; [[check]] compares what a
  * pass returned with the truth the generator planted. */
trait Workload {
  /** Input rows of one pass: the numerator of rows_per_s. */
  def rows: Long
  /** The input directories, whose scans must read the text or embedding. */
  def inputs: Seq[String]
  def pass(tr: Tracer): AnyRef
  /** Problems found in a pass's output; empty when it is correct. */
  def check(out: AnyRef): Seq[String]
  /** Per-layer metrics from each layer run alone on a cached copy of its
    * input (trace mode only). */
  def isolated(): Map[String, Double]
  /** Per-layer metrics read off a checked pass output (trace mode only). */
  def outputMetrics(out: AnyRef): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, scratch: String,
      stub: Option[Stub]): Workload = name match {
    case "pretrain_curate" => new Pretrain(spark, data, scratch, stepwise = false)
    case "pretrain_stepwise" => new Pretrain(spark, data, scratch, stepwise = true)
    case "embed_search" => new EmbedSearch(spark, data)
    case "llm_synth" => new LlmSynth(spark, data, stub.get)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Consumes every column of `df` into Spark's no-op sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    noop(c)
    c
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(x => dirBytes(x.getPath)).sum else f.length()
  }

  def diff[T](what: String, got: Set[T], want: Set[T]): Seq[String] = {
    val extra = got -- want
    val missing = want -- got
    (if (extra.nonEmpty) Seq(s"$what: ${extra.size} unexpected, e.g. ${extra.take(3).mkString(",")}") else Nil) ++
      (if (missing.nonEmpty) Seq(s"$what: ${missing.size} missing, e.g. ${missing.take(3).mkString(",")}") else Nil)
  }
}

import Workload._

/** pretrain_curate: one lazy Pipeline of refiners, rule filters and the
  * three dedup ops, written out through Storage. pretrain_stepwise: the
  * same ops on the first half of the same corpus, run step by step through
  * Pipeline.runCheckpointed and then resumed from the middle step. */
final class Pretrain(spark: SparkSession, data: String, scratch: String, stepwise: Boolean)
    extends Workload {
  private val docs = s"$data/docs.parquet"
  val inputs = Seq(docs)
  private val stopwords = scala.io.Source.fromFile(s"$data/stopwords.txt").getLines().filter(_.nonEmpty).toList

  val ops: Seq[Op] = Seq(
    HtmlUrlRemoverRefiner(), HtmlEntityRefiner(), RemoveStopwordsRefiner(stopwords = stopwords),
    LowercaseRefiner(), RemoveExtraSpacesRefiner(),
    WordNumberFilter(minWords = 20), WatermarkFilter(), MeanWordLengthFilter(minLen = 3.0, maxLen = 10.0),
    SpecialCharacterFilter(),
    HashDeduplicateFilter(Seq("text"), "doc_id"), MinHashDeduplicateFilter("text", "doc_id"),
    SimHashDeduplicateFilter("text", "doc_id"))
  private val resumeFrom = ops.length / 2

  private val (kinds, want) = {
    import spark.implicits._
    val k = spark.read.parquet(s"$data/truth_kind.parquet").as[(Long, Byte)].collect().toMap
    val w = spark.read.parquet(s"$data/truth_kept.parquet").as[(Long, String)].collect().toMap
    (k, w)
  }
  val rows: Long = kinds.size.toLong
  private val kindName = Map[Byte, String](0.toByte -> "base", 1.toByte -> "source", 2.toByte -> "exact",
    3.toByte -> "near", 4.toByte -> "decoy", 5.toByte -> "simhash", 6.toByte -> "filter")

  private def digest(df: DataFrame): Map[Long, String] =
    df.select(col("doc_id"), md5(col("text"))).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** curate returns the written path, read back only by [[check]];
    * stepwise returns the digests its actions collected. */
  def pass(tr: Tracer): AnyRef = {
    val src = tr.span("core.storage.read", "build")(Storage.read(spark, docs))
    if (!stepwise) {
      val out = tr.span("core.pipeline", "build")(Pipeline(ops.map(tr.op))(src))
      val path = s"$scratch/curated.parquet"
      tr.span("core.storage.write", "action")(Storage.write(out, path))
      path
    } else {
      val pipe = Pipeline(ops.map(tr.op))
      val dir = s"$scratch/checkpoints"
      val out = tr.span("core.pipeline.checkpointed", "build")(pipe.runCheckpointed(src, dir))
      val first = tr.span("action", "action")(digest(out))
      val resumed = tr.span("core.pipeline.resume", "build")(pipe.resume(spark, dir, resumeFrom))
      Seq(first, tr.span("action", "action")(digest(resumed)))
    }
  }

  def check(out: AnyRef): Seq[String] = (out match {
    case path: String => Seq(digest(spark.read.parquet(path)))
    case digests => digests.asInstanceOf[Seq[Map[Long, String]]]
  }).zipWithIndex.flatMap {
    case (got, i) =>
      val label = if (i == 0) "output" else "resumed output"
      val extra = (got.keySet -- want.keySet).groupBy(id => kindName(kinds(id)))
      val missing = (want.keySet -- got.keySet).groupBy(id => kindName(kinds(id)))
      val wrongText = got.count { case (id, h) => want.get(id).exists(_ != h) }
      extra.map { case (k, ids) => s"$label: ${ids.size} '$k' rows kept that must be dropped, e.g. ${ids.take(3).mkString(",")}" }.toSeq ++
        missing.map { case (k, ids) => s"$label: ${ids.size} '$k' rows dropped that must be kept, e.g. ${ids.take(3).mkString(",")}" } ++
        (if (wrongText > 0) Seq(s"$label: $wrongText rows with wrongly refined text") else Nil)
  }

  def isolated(): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val near = kinds.collect { case (id, k) if kindName(k) == "near" => id }.toSeq
    def nearIn(df: DataFrame): Long = df.filter(col("doc_id").isin(near: _*)).count()
    var cur = cached(Storage.read(spark, docs))
    var beforeFilters = 0L
    ops.zipWithIndex.foreach { case (op, i) =>
      val layer = Layers.of(op)
      m(s"$layer.s") += timed(noop(op(cur)))._2
      val in = cur.count()
      if (layer == "filter" && beforeFilters == 0) beforeFilters = in
      val next = cached(op(cur))
      val out = next.count()
      if (layer == "filter") m("filter.keep_frac") = out.toDouble / beforeFilters
      if (layer.startsWith("dedup.")) m(s"$layer.drop_frac") = 1.0 - out.toDouble / in
      if (layer == "dedup.minhash") {
        val before = nearIn(cur)
        m("dedup.minhash.planted_recall") = if (before == 0) 1.0 else 1.0 - nearIn(next).toDouble / before
      }
      // Storage alone: each step's output where every step is written
      // (the checkpointed run), the final output where only that is
      if (stepwise || i == ops.length - 1) {
        val path = s"$scratch/isolated_$i.parquet"
        m("core.storage.write_s") += timed(Storage.write(next, path))._2
        m("core.storage.read_s") += timed(noop(Storage.read(spark, path)))._2
        m("core.storage.written_mb") += dirBytes(path) / 1048576.0
      }
      cur.unpersist(false)
      cur = next
    }
    spark.catalog.clearCache()
    m.toMap
  }
}

/** embed_search: semantic dedup, then LSH and IVF top-k for a query set
  * over the kept vectors, and a similarity self-join of the corpus. */
final class EmbedSearch(spark: SparkSession, data: String) extends Workload {
  private val vectors = s"$data/vectors.parquet"
  private val queries = s"$data/queries.parquet"
  val inputs = Seq(vectors, queries)
  val K = 10
  val JoinThreshold = 0.97
  /** Recall@10 floors against bruteForceTopK over the first 50 queries. */
  val LshRecallFloor = 0.25
  val IvfRecallFloor = 0.8
  val SampleQueries = 50

  private val (twins, ids) = {
    import spark.implicits._
    (spark.read.parquet(s"$data/truth_twins.parquet").as[(Long, Long)].collect().toSeq,
      spark.read.parquet(vectors).select("vec_id").as[Long].collect().toSet)
  }
  val rows: Long = ids.size.toLong
  private val wantKept = ids -- twins.map(_._2)
  private val sample = {
    import spark.implicits._
    spark.read.parquet(queries).select("vec_id").as[Long].collect().sorted.take(SampleQueries).toSet
  }
  private lazy val reference: Map[Long, Set[Long]] = {
    val corpus = Storage.read(spark, vectors).filter(!col("vec_id").isin(twins.map(_._2): _*))
    val qs = Storage.read(spark, queries).filter(col("vec_id").isin(sample.toSeq: _*))
    topK(Similarity.bruteForceTopK(corpus, qs, "embedding", "vec_id", K).collect())
  }

  private def topK(rs: Array[Row]): Map[Long, Set[Long]] =
    rs.groupBy(_.getAs[Long]("query_id")).map { case (q, r) => q -> r.map(_.getAs[Long]("neighbor_id")).toSet }

  final case class Out(kept: Set[Long], lsh: Array[Row], ivf: Array[Row], pairs: Array[Row])

  def pass(tr: Tracer): AnyRef = {
    val corpus = tr.span("core.storage.read", "build")(Storage.read(spark, vectors))
    val qs = Storage.read(spark, queries)
    val kept = tr.span("dedup.sem", "build")(SemDeduplicateFilter("embedding", "vec_id", dim = 64)(corpus))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val keptRows = tr.span("action", "action")(
        kept.select(col("vec_id"), xxhash64(col("embedding"))).collect())
      val lsh = tr.span("sim.lsh", "build")(Similarity.lshTopK(kept, qs, "embedding", "vec_id", K))
      val lshRows = tr.span("action", "action")(lsh.collect())
      val ivf = tr.span("sim.ivf", "build")(Similarity.ivfTopK(kept, qs, "embedding", "vec_id", K))
      val ivfRows = tr.span("action", "action")(ivf.collect())
      val join = tr.span("sim.join", "build")(Similarity.similarityJoin(corpus, "embedding", "vec_id", JoinThreshold))
      val pairs = tr.span("action", "action")(join.collect())
      Out(keptRows.map(_.getLong(0)).toSet, lshRows, ivfRows, pairs)
    } finally kept.unpersist(false)
  }

  def recall(rs: Array[Row]): Double = {
    val got = topK(rs)
    sample.toSeq.map(q => (got.getOrElse(q, Set.empty) & reference(q)).size.toDouble / reference(q).size).sum / sample.size
  }

  def check(out: AnyRef): Seq[String] = {
    val o = out.asInstanceOf[Out]
    val pairSet = o.pairs.map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b))
    }.toSet
    val lowCos = o.pairs.count(_.getDouble(2) < JoinThreshold)
    // LSH may find fewer than K candidates for a query; neither op may
    // return more than K neighbours or repeat one
    def malformed(rs: Array[Row]) = rs.groupBy(_.getLong(0)).count { case (_, r) =>
      r.length > K || r.map(_.getLong(1)).distinct.length != r.length
    }
    val bad = (malformed(o.lsh), malformed(o.ivf))
    diff("semantic dedup kept ids", o.kept, wantKept) ++
      (twins.count { case (a, b) => !pairSet.contains((math.min(a, b), math.max(a, b))) } match {
        case 0 => Nil
        case n => Seq(s"similarityJoin missed $n planted twins")
      }) ++
      (if (lowCos > 0) Seq(s"similarityJoin emitted $lowCos pairs below $JoinThreshold") else Nil) ++
      (if (bad._1 + bad._2 > 0) Seq(s"queries with more than $K or repeated neighbours: lsh ${bad._1}, ivf ${bad._2}") else Nil) ++
      Seq("lsh" -> (recall(o.lsh), LshRecallFloor), "ivf" -> (recall(o.ivf), IvfRecallFloor)).collect {
        case (n, (r, floor)) if r < floor => f"$n recall@$K $r%.3f below floor $floor"
      }
  }

  override def outputMetrics(out: AnyRef): Map[String, Double] = {
    val o = out.asInstanceOf[Out]
    Map("sim.lsh.recall_at_k" -> recall(o.lsh), "sim.ivf.recall_at_k" -> recall(o.ivf))
  }

  def isolated(): Map[String, Double] = {
    val corpus = cached(Storage.read(spark, vectors))
    val qs = cached(Storage.read(spark, queries))
    val m = mutable.Map.empty[String, Double]
    m("dedup.sem.s") = timed(noop(SemDeduplicateFilter("embedding", "vec_id", dim = 64)(corpus)))._2
    val kept = cached(SemDeduplicateFilter("embedding", "vec_id", dim = 64)(corpus))
    val (lsh, lshBuild) = timed(Similarity.lshTopK(kept, qs, "embedding", "vec_id", K))
    m("sim.lsh.build_s") = lshBuild
    m("sim.lsh.s") = lshBuild + timed(noop(lsh))._2
    val (ivf, ivfBuild) = timed(Similarity.ivfTopK(kept, qs, "embedding", "vec_id", K))
    m("sim.ivf.build_s") = ivfBuild
    m("sim.ivf.s") = ivfBuild + timed(noop(ivf))._2
    m("sim.join.s") = timed(noop(Similarity.similarityJoin(corpus, "embedding", "vec_id", JoinThreshold)))._2
    spark.catalog.clearCache()
    m.toMap
  }
}

/** llm_synth: semantic chunking (embeddings over HTTP), a prompted
  * generator and evaluator over the chunks, CIDEr-D of each summary
  * against its chunk, and an execution filter over generated SQL. Every
  * LLM call goes through HttpServing to the in-process stub. */
final class LlmSynth(spark: SparkSession, data: String, stub: Stub) extends Workload {
  private val docs = s"$data/docs.parquet"
  val inputs = Seq(docs)
  private val serving = HttpServing(stub.endpoint, "stub")
  private val mock = MockServing()
  val SimThreshold = 0.75

  spark.read.parquet(s"$data/items.parquet").createOrReplaceTempView("bench_items")
  private val (sentMd5, sqlOk) = {
    val t = spark.read.parquet(s"$data/truth_docs.parquet").collect()
    (t.map(r => r.getLong(0) -> r.getString(1)).toMap, t.filter(_.getBoolean(2)).map(_.getLong(0)).toSet)
  }
  val rows: Long = sentMd5.size.toLong

  final case class Out(gen: Array[Row], cider: Array[Row], sql: Array[Row])

  private def chunks(df: DataFrame): DataFrame =
    ChunkSplitter("text", "doc_id", mode = "semantic", serving = Some(serving), simThreshold = SimThreshold)(df)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("pos"))
  private def prompted(df: DataFrame): DataFrame =
    PromptedEvaluator("summary", "score", serving, "SCORE")(
      PromptedGenerator("raw_chunk", "summary", serving, "SUMMARIZE")(df))
  private def cider(df: DataFrame): DataFrame = CorpusEvaluators.ciderD(df, "summary", "raw_chunk", "chunk_id")
  private def sql(df: DataFrame): DataFrame = SQLExecutionFilter("sql")(df.select("doc_id", "sql"))

  def pass(tr: Tracer): AnyRef = {
    stub.newPass()
    val src = tr.span("core.storage.read", "build")(Storage.read(spark, docs))
    val ch = tr.span("gen.chunk", "build")(chunks(src))
    val gen = tr.span("gen.prompted", "build")(prompted(ch)).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val genRows = tr.span("action", "action")(gen.collect())
      val cd = tr.span("eval.cider_d", "build")(cider(gen))
      val cdRows = tr.span("action", "action")(cd.collect())
      val kept = tr.span("text2sql.exec", "build")(sql(src))
      Out(genRows, cdRows, tr.span("action", "action")(kept.collect()))
    } finally gen.unpersist(false)
  }

  def check(out: AnyRef): Seq[String] = {
    val o = out.asInstanceOf[Out]
    val byDoc = o.gen.groupBy(_.getAs[Long]("doc_id"))
    val badChunks = sentMd5.count { case (id, h) =>
      val text = byDoc.getOrElse(id, Array.empty[Row]).sortBy(_.getAs[Int]("pos")).map(_.getAs[String]("raw_chunk")).mkString(". ")
      org.apache.commons.codec.digest.DigestUtils.md5Hex(text) != h
    }
    val badGen = o.gen.count { r =>
      val s = r.getAs[String]("summary")
      s != mock.generate(Seq(r.getAs[String]("raw_chunk")), "SUMMARIZE").head ||
        r.getAs[Double]("score") != mock.generate(Seq(s), "SCORE").head.toDouble
    }
    val chunkIds = o.gen.map(_.getAs[Long]("chunk_id")).toSet
    val ciderIds = o.cider.map(_.getAs[Long]("chunk_id"))
    val badCider = o.cider.count { r =>
      val i = r.fieldIndex("cider_d")
      r.isNullAt(i) || r.getDouble(i).isNaN || r.getDouble(i) < 0
    }
    (if (badChunks > 0) Seq(s"$badChunks documents whose chunks do not rejoin to their sentences") else Nil) ++
      (if (badGen > 0) Seq(s"$badGen chunks whose summary or score differ from MockServing") else Nil) ++
      diff("cider_d chunk ids", ciderIds.toSet, chunkIds) ++
      (if (ciderIds.length != ciderIds.distinct.length) Seq("cider_d repeats chunk ids") else Nil) ++
      (if (badCider > 0) Seq(s"$badCider cider_d scores null, NaN or negative") else Nil) ++
      diff("SQLExecutionFilter kept doc ids", o.sql.map(_.getAs[Long]("doc_id")).toSet, sqlOk)
  }

  def isolated(): Map[String, Double] = {
    stub.newPass()
    val src = cached(Storage.read(spark, docs))
    val m = mutable.Map.empty[String, Double]
    m("gen.chunk.s") = timed(noop(chunks(src)))._2
    val ch = cached(chunks(src))
    m("gen.prompted.s") = timed(noop(prompted(ch)))._2
    val gen = cached(prompted(ch))
    m("eval.cider_d.s") = timed(noop(cider(gen)))._2
    m("text2sql.exec.s") = timed(noop(sql(src)))._2
    spark.catalog.clearCache()
    m.toMap
  }
}
