package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Storage
import graft.ops.filter.{FineWebEduFilter, WordNumberFilter}
import graft.ops.refine.RemoveExtraSpacesRefiner
import graft.ops.dedup.{HashDeduplicateFilter, MinHashDeduplicateFilter, SimHashDeduplicateFilter}
import graft.ops.text.{LanguageIdEvaluator, QualityScoreEvaluator, TokenCountEvaluator}
import graft.queries._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent oracle where the semantics are
  * SQL-expressible. Column names are aligned between the Spark result and
  * the oracle SQL (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the minimum end-to-end slice of SURVEY §7.3 — refine → filter →
    * order-sensitive dedup over the documents table. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = Storage.table(spark, "/root/testdata/sf0.001", "documents")
    val pipeline = graft.core.Pipeline.of(
      RemoveExtraSpacesRefiner("text"),
      WordNumberFilter("text", 5, 100000),
      HashDeduplicateFilter(Seq("text"), "doc_id"),
      MinHashDeduplicateFilter("text", "doc_id", threshold = 0.9),
      SimHashDeduplicateFilter("text", "doc_id"),
      // model-scored pretrain filter through the Scorer seam (mock
      // deterministic; min 0 keeps the smoke non-empty at sf0.001)
      FineWebEduFilter("text", graft.serving.ServingScorer(mock), minScore = 0.0),
      QualityScoreEvaluator("text"),
      LanguageIdEvaluator("text"),
      TokenCountEvaluator("text"))
    pipeline(docs)
  }

  /** One map per operator family. Their key sets are disjoint: `++` would
    * silently let a later family replace an earlier one's query. */
  private[graft] lazy val families: Seq[Map[String, Q]] = Seq(
    Relational.queries, Filter.queries, Refine.queries, Dedup.queries,
    Sim.queries, Eval.queries, Gen.queries, Reasoning.queries,
    Text2Sql.queries, Code.queries, Multimodal.queries)

  private lazy val registry: Map[String, Q] = families.reduce(_ ++ _)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
