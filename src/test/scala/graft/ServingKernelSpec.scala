package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import graft.ops.gen.{ChunkSplitter, ChunkedPromptedGenerator}
import graft.serving.{LLMMap, MockServing, ServingClient, ServingScorer}

/** Every call returns one output too few. */
final case class ShortServing() extends ServingClient {
  private val mock = MockServing()
  def generate(prompts: Seq[String], systemPrompt: String): Seq[String] =
    mock.generate(prompts, systemPrompt).drop(1)
  def embed(texts: Seq[String]): Seq[Array[Double]] = mock.embed(texts).drop(1)
}

/** Zero vectors: every cosine between them is NaN. */
final case class ZeroServing() extends ServingClient {
  def generate(prompts: Seq[String], systemPrompt: String): Seq[String] =
    MockServing().generate(prompts, systemPrompt)
  def embed(texts: Seq[String]): Seq[Array[Double]] = texts.map(_ => Array.fill(16)(0.0))
}

/** MockServing that records the size of every call (tasks run in the
  * test JVM, so the queues see every executor call). */
final case class RecordingServing() extends ServingClient {
  private val mock = MockServing()
  def generate(prompts: Seq[String], systemPrompt: String): Seq[String] = {
    RecordingServing.generateCalls.add(prompts.length)
    mock.generate(prompts, systemPrompt)
  }
  def embed(texts: Seq[String]): Seq[Array[Double]] = {
    RecordingServing.embedCalls.add(texts.length)
    mock.embed(texts)
  }
}

object RecordingServing {
  val generateCalls = new ConcurrentLinkedQueue[Int]()
  val embedCalls = new ConcurrentLinkedQueue[Int]()
}

/** [[LLMMap]]'s kernel and the ops that serve a list of texts per row:
  * the output-count check, the per-row list split, and the one-row-is-
  * one-document rules of semantic chunking and chunked prompting. */
class ServingKernelSpec extends SparkSuite {
  import SparkTestSession.spark.implicits._

  private val mock = MockServing()
  private val th = 0.75

  private def assertCountFailure(df: => DataFrame): Unit = {
    val e = intercept[Exception](df.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("serving returned 1 outputs for 2 inputs")),
      s"no count failure in: ${msgs.mkString(" / ")}")
  }

  test("kernel fails every serving op whose client returns one output too few") {
    val texts = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text").coalesce(1)
    assertCountFailure(LLMMap.generated(texts, "text", "out", ShortServing(), "GEN"))
    assertCountFailure(LLMMap.scored(texts, "text", "out", ServingScorer(ShortServing())))
    assertCountFailure(LLMMap.embedded(texts, "text", "out", ShortServing()))
    val stmts = Seq((1L, "SELECT lembed('a')"), (2L, "SELECT lembed('b')"))
      .toDF("id", "sql").coalesce(1)
    assertCountFailure(graft.ops.text2sql.VecSqlRewriteGenerator(
      "sql", "vec_sql", ShortServing())(stmts))
  }

  test("perRow serves lists in flat order, in calls of at most batchSize") {
    val lists = Seq(Seq("a", "b", "c"), Seq.empty, Seq("d"), Seq("e", "f", "g", "h", "i"))
    val calls = Seq.newBuilder[Seq[String]]
    val out = LLMMap.perRow(lists, 2) { texts => calls += texts; texts.map(_.toUpperCase) }
    assert(out == Seq(Seq("A", "B", "C"), Nil, Seq("D"), Seq("E", "F", "G", "H", "I")))
    assert(calls.result() == Seq("a", "b", "c", "d", "e", "f", "g", "h", "i").grouped(2).toSeq)
  }

  // ── semantic chunking, one document per row ─────────────────────────────

  test("semanticChunks opens a chunk where the adjacent cosine drops below the threshold") {
    val (x, y) = (Array(1.0, 0.0), Array(0.0, 1.0))
    val near = Array(0.9, 0.1)
    assert(ChunkSplitter.semanticChunks(Seq("a", "b", "c", "d"), Seq(x, near, y, y), 0.5) ==
      Seq("a. b", "c. d"))
    assert(ChunkSplitter.semanticChunks(Seq("a", "b", "c"), Seq(x, y, x), 0.5) == Seq("a", "b", "c"))
    assert(ChunkSplitter.semanticChunks(Seq("only"), Seq(x), 0.5) == Seq("only"))
    assert(ChunkSplitter.semanticChunks(Nil, Nil, 0.5).isEmpty)
    // a zero vector makes the cosine NaN, and NaN < threshold is false
    val zero = Array(0.0, 0.0)
    assert(ChunkSplitter.semanticChunks(Seq("a", "b", "c"), Seq(zero, x, zero), 0.5) == Seq("a. b. c"))
  }

  private def semantic(serving: ServingClient) =
    ChunkSplitter("text", "doc_id", mode = "semantic", serving = Some(serving), simThreshold = th)

  private def sentencesOf(text: String): Seq[String] =
    text.split("[.!?]+").map(_.trim).filter(_.nonEmpty).toSeq

  /** The chunks one document must get, from one embed call over all of
    * its sentences. */
  private def expectedChunks(text: String, serving: ServingClient = mock): Seq[String] = {
    val s = sentencesOf(text)
    ChunkSplitter.semanticChunks(s, serving.embed(s), th)
  }

  private def chunkRows(df: DataFrame): Seq[(Option[Long], Int, String)] =
    df.collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getInt(1), r.getString(2))).sorted

  private def expectedRows(rows: Seq[(Option[Long], String)],
      serving: ServingClient = mock): Seq[(Option[Long], Int, String)] =
    rows.flatMap { case (id, text) =>
      expectedChunks(text, serving).zipWithIndex.map { case (c, i) => (id, i, c) }
    }.sorted

  private def docs(rows: Seq[(Option[Long], String)]): DataFrame =
    rows.map { case (id, t) => (id.map(Long.box).orNull, t) }.toDF("doc_id", "text")

  private val docA = (1 to 9).map(i => s"alpha $i x${i % 3}").mkString(". ")
  private val docB = (1 to 7).map(i => s"beta $i y${i % 2}").mkString("! ")

  test("semantic chunking: rows that share an id are chunked separately") {
    val rows = Seq(Some(1L) -> docA, Some(1L) -> docB, Some(2L) -> docA)
    val got = chunkRows(semantic(mock)(docs(rows)))
    assert(got == expectedRows(rows))
    assert(got.count(r => r._1.contains(1L) && r._2 == 0) == 2, "each row restarts at pos 0")
    assert(expectedChunks(docA).length > 1 && expectedChunks(docB).length > 1,
      "the fixture must cut each document into several chunks")
  }

  test("semantic chunking: a null id is a document of its own") {
    val rows = Seq(None -> docA, None -> docB, Some(3L) -> docB,
      Some(4L) -> null, Some(5L) -> "", Some(6L) -> " . ! ")
    val got = chunkRows(semantic(mock)(docs(rows)))
    assert(got == expectedRows(rows.filter(_._2 != null)))
    assert(got.exists(_._1.isEmpty))
    assert(!got.exists(r => r._1.exists(_ >= 4L)), "sentence-free text yields no chunk")
  }

  test("semantic chunking: a document with more sentences than a serving call") {
    val big = (1 to 150).map(i => s"sentence $i w${i % 11}").mkString(". ")
    RecordingServing.embedCalls.clear()
    val rows = Seq(Some(1L) -> docA, Some(2L) -> big, Some(3L) -> docB)
    val got = chunkRows(semantic(RecordingServing())(docs(rows).coalesce(1)))
    assert(got == expectedRows(rows))
    val n = expectedChunks(big).length
    assert(n > 1 && n < 150, s"$n chunks: the fixture must cut inside the document")
    val calls = RecordingServing.embedCalls.toArray.map(_.asInstanceOf[Int]).toSeq
    assert(calls.sum == 9 + 150 + 7 && calls.forall(_ <= LLMMap.DefaultBatch) &&
      calls.length > 1, s"embed calls $calls")
  }

  test("semantic chunking: all-zero embeddings keep each document in one chunk") {
    val rows = Seq(Some(1L) -> docA, Some(2L) -> docB)
    val got = chunkRows(semantic(ZeroServing())(docs(rows)))
    assert(got == Seq((Some(1L), 0, sentencesOf(docA).mkString(". ")),
      (Some(2L), 0, sentencesOf(docB).mkString(". "))))
  }

  // ── chunked prompting, one record per row ───────────────────────────────

  private def prompted(serving: ServingClient = mock) =
    ChunkedPromptedGenerator("text", "id", "gen", serving, chunkWords = 3)

  /** The output one row must get: its 3-word chunks' responses in order. */
  private def expectedGen(text: String): String = {
    val ws = Option(text).map(_.split("\\s+").filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val chunks = if (ws.isEmpty) Seq("") else ws.grouped(3).map(_.mkString(" ")).toSeq
    mock.generate(chunks, "").mkString(" | ")
  }

  private def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")

  test("chunked prompting: every row keeps its columns and gets its own output") {
    val rows = Seq((Some(1L), words(7, "a"), "x"), (Some(1L), words(4, "b"), "y"),
      (None, words(5, "c"), "z"), (Some(2L), "", "w"), (Some(3L), null, "v"))
    val df = rows.map { case (id, t, tag) => (id.map(Long.box).orNull, t, tag) }
      .toDF("id", "text", "tag")
    val out = prompted()(df)
    assert(out.columns.toSeq == Seq("id", "text", "tag", "gen"))
    val got = out.collect().map(r => r.getString(2) -> r.getString(3)).toMap
    assert(got == rows.map { case (_, t, tag) => tag -> expectedGen(t) }.toMap)
  }

  test("chunked prompting: a row with more chunks than a serving call") {
    val long = words(3 * 150, "w")
    RecordingServing.generateCalls.clear()
    val df = Seq((1L, words(8, "a")), (2L, long), (3L, words(2, "b"))).toDF("id", "text").coalesce(1)
    val got = prompted(RecordingServing())(df).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> expectedGen(words(8, "a")), 2L -> expectedGen(long),
      3L -> expectedGen(words(2, "b"))))
    val calls = RecordingServing.generateCalls.toArray.map(_.asInstanceOf[Int]).toSeq
    assert(calls.sum == 3 + 150 + 1 && calls.forall(_ <= LLMMap.DefaultBatch), s"generate calls $calls")
  }

  test("chunker drops empty-document null rows and keeps real chunks") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val out = graft.ops.gen.ChunkSplitter("text", "doc_id",
      mode = "sentence")(df)
    val got = out.as[(Long, Int, String)].collect().toSet
    assert(got == Set((1L, 0, "a b c d")))
  }
}
