package graft.ops.gen

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField}
import graft.core.{Op, Partitioning}
import graft.functions.text._
import graft.serving.LLMMap

/** Document chunking — the KBC chunk generator's four modes
  * (`knowledge_cleaning/generate/kbc_chunk_generator.py:21-107`:
  * token/sentence/semantic/recursive, chunk_size 512, min 100). Explodes
  * one row per chunk (the reference's row-multiplying UDTF shape).
  *
  * `minChunkTokens > 0` greedily MERGES forward: sentences/windows
  * accumulate into the current chunk until it reaches the minimum (the
  * reference's min_tokens_per_chunk merge — short chunks are not
  * dropped, they coalesce with their successor; a short tail joins the
  * previous chunk).
  *
  * Mode "semantic" mirrors the reference's embedding-boundary chunker,
  * one document at a time: the document's sentences are embedded through
  * the `serving` seam ([[LLMMap]]'s kernel) and cut into chunks by
  * [[ChunkSplitter.semanticChunks]], in the same narrow stage. The only
  * exchange is the spread of a narrow document table by id.
  *
  * Every row is its own document: rows that share an `idKey` (null
  * included) are chunked separately, each with positions from 0, and a
  * row with null, empty or sentence-free text yields no chunk. */
final case class ChunkSplitter(inputKey: String = "text",
    idKey: String = "doc_id", mode: String = "token", chunkSize: Int = 512,
    minChunkTokens: Int = 0,
    serving: Option[graft.serving.ServingClient] = None,
    simThreshold: Double = 0.5) extends Op {
  val name = "chunk_splitter"
  val inputKeys = Seq(inputKey, idKey)
  val outputKeys = Seq("pos", "raw_chunk")

  private def chunksExpr: Column = mode match {
    case "token" =>
      // words() is materialized into its own column first (see apply):
      // ArrayTransform is CodegenFallback, so a split embedded in the
      // lambda body would re-tokenize the document once PER CHUNK.
      val ws = col("__ws")
      val n = ceil(size(ws).cast("double") / chunkSize.toDouble).cast("int")
      transform(sequence(lit(0), greatest(n - 1, lit(0))),
        i => concat_ws(" ", slice(ws, i * chunkSize + 1, lit(chunkSize))))
    case "sentence" =>
      // split on sentence punctuation, drop empty segments
      filter(transform(split(col(inputKey), "[.!?]+"), s => trim(s)), s => s =!= "")
    case "recursive" =>
      // paragraph → line → token fallback: split on blank lines first,
      // then oversized paragraphs by token windows
      val paras = filter(transform(split(col(inputKey), "\n\n+"), s => trim(s)),
        s => s =!= "")
      flatten(transform(paras, p => {
        val ws = filter(split(p, "\\s+"), w => w =!= "")
        val n = ceil(size(ws).cast("double") / chunkSize.toDouble).cast("int")
        transform(sequence(lit(0), greatest(n - 1, lit(0))),
          i => concat_ws(" ", slice(ws, i * chunkSize + 1, lit(chunkSize))))
      }))
    case other => throw new IllegalArgumentException(s"chunk mode $other")
  }

  /** Greedy forward merge to the token minimum, tail merged backward. */
  private val mergeShort = {
    val minT = minChunkTokens
    udf { chunks: Seq[String] =>
      if (chunks == null) Seq.empty[String]
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var curTokens = 0
        chunks.foreach { c =>
          if (curTokens > 0) cur.append(' ')
          cur.append(c)
          curTokens += c.split("\\s+").count(_.nonEmpty)
          if (curTokens >= minT) { out += cur.toString; cur.clear(); curTokens = 0 }
        }
        if (curTokens > 0) {
          if (out.nonEmpty) out(out.length - 1) = out.last + " " + cur.toString
          else out += cur.toString
        }
        out.toSeq
      }
    }
  }

  private def semanticChunks(df: DataFrame): DataFrame = {
    val client = serving.getOrElse(throw new IllegalArgumentException(
      "mode=semantic requires a serving client for sentence embeddings"))
    // the embeddings are the stage's work and the scan's width says
    // nothing about it: a narrow document table is spread by id first
    val parted = Partitioning.spread("ChunkSplitter",
      df.select(col(idKey), col(inputKey)), col(idKey))(true)
    val sentences = parted.select(col(idKey),
      filter(transform(split(col(inputKey), "[.!?]+"), s => trim(s)), s => s =!= "")
        .as("__sents"))
    val th = simThreshold
    val chunked = LLMMap.appended(sentences,
      StructField("__chunks", ArrayType(StringType)), LLMMap.DefaultBatch)(
      r => if (r.isNullAt(1)) Nil else r.getSeq[String](1)) { docs =>
      val embs = LLMMap.perRow(docs, LLMMap.DefaultBatch)(client.embed)
      docs.lazyZip(embs).map(ChunkSplitter.semanticChunks(_, _, th))
    }
    chunked.select(col(idKey), posexplode(col("__chunks")).as(Seq("pos", "raw_chunk")))
  }

  def apply(df: DataFrame): DataFrame = {
    if (mode == "semantic") return semanticChunks(df)
    val tokenized =
      if (mode == "token") df.withColumn("__ws", words(col(inputKey)))
      else df
    val base = tokenized.withColumn("__chunks", chunksExpr)
    val merged =
      if (minChunkTokens > 0) base.withColumn("__chunks", mergeShort(col("__chunks")))
      else base
    // posexplode_OUTER, then drop the null rows of empty arrays: an inner
    // posexplode makes InferFiltersFromGenerate push a `size(chunks) > 0`
    // filter below the projections, re-inlining (and re-evaluating) the
    // whole chunk expression once more per document
    merged.select(col(idKey), posexplode_outer(col("__chunks")).as(Seq("pos", "raw_chunk")))
      .where(col("raw_chunk").isNotNull)
  }
}

object ChunkSplitter {
  /** One document's semantic chunks, in sentence order: a chunk opens at
    * the first sentence and before every sentence whose cosine
    * ([[graft.ops.dedup.Dedup.cosineFold]]) with its predecessor's
    * embedding is below `threshold`; a NaN cosine (a zero vector)
    * continues the chunk. A chunk's sentences are joined with ". ". */
  def semanticChunks(sentences: Seq[String], embeddings: Seq[Array[Double]],
      threshold: Double): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    sentences.indices.foreach { i =>
      if (i > 0) {
        if (graft.ops.dedup.Dedup.cosineFold(embeddings(i - 1), embeddings(i)) < threshold) {
          out += cur.toString; cur.clear()
        } else cur.append(". ")
      }
      cur.append(sentences(i))
    }
    if (sentences.nonEmpty) out += cur.toString
    out.result()
  }
}
