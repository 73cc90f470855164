package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Core operator abstraction.
  *
  * The reference (OpenDCAI/DataFlow) models an operator as
  * `run(storage, input_key(s)…, output_key(s)…)` reading and fully
  * materializing a pandas table per step (`dataflow/core/operator.py:5`).
  * Here an operator is a lazy `DataFrame => DataFrame` transform: a whole
  * pipeline composes into ONE Catalyst plan, so predicate pushdown, column
  * pruning and whole-stage codegen span operator boundaries — no per-step
  * disk materialization at 100 TB.
  */
trait Op extends Serializable {
  def name: String

  /** Columns this op reads — used for pre-flight key-flow validation,
    * mirroring the reference's `PipelineABC.compile()` key check
    * (`dataflow/pipeline/Pipeline.py:100-135`). */
  def inputKeys: Seq[String]

  /** Columns this op adds (may be empty). */
  def outputKeys: Seq[String]

  def apply(df: DataFrame): DataFrame
}

object Op {
  /** `df` plus one column per field of the struct `out`, computed in a
    * Generate over a one-element array (one output row per input row).
    * A filter on a generated column stays above the Generate, so a UDF
    * in `out` runs once per row; as a projected column, Catalyst would
    * inline it into the pushed-down filter and run it again for every
    * row the filter keeps. Filters on `df`'s own columns still go below.
    * A field named like a column of `df` replaces it in place, as
    * `withColumn` does. */
  private[graft] def generated(df: DataFrame, out: Column): DataFrame = {
    val g = df.select(col("*"), explode(array(out)).as("__generated"))
    g.schema("__generated").dataType.asInstanceOf[StructType].fieldNames
      .foldLeft(g)((d, k) => d.withColumn(k, col(s"__generated.`$k`")))
      .drop("__generated")
  }
}

/** Filter family (§2.2 of SURVEY): compute per-row predicate, optionally
  * materialize it as a 0/1 label column, keep passing rows. Pure `Column`
  * expressions — stays inside whole-stage codegen, pushes down to scans.
  */
trait FilterOp extends Op {
  /** The keep-row predicate over the input columns. */
  def predicate: Column

  /** Label column name; reference filters record 1/0 before dropping rows
    * (e.g. `general_text/filter/rule_based_filter.py:47`). */
  def labelKey: String = s"${name}_label"

  def keepLabel: Boolean = false

  override def outputKeys: Seq[String] = if (keepLabel) Seq(labelKey) else Nil

  override def apply(df: DataFrame): DataFrame = {
    val labeled = df.withColumn(labelKey, predicate.cast("int"))
    val kept = labeled.filter(col(labelKey) === 1)
    if (keepLabel) kept else kept.drop(labelKey)
  }
}

/** Refine family (§2.4): rewrite a text column in place. */
trait RefineOp extends Op {
  def inputKey: String
  def refined: Column
  override def inputKeys: Seq[String] = Seq(inputKey)
  override def outputKeys: Seq[String] = Nil // in-place rewrite
  override def apply(df: DataFrame): DataFrame =
    df.withColumn(inputKey, refined)
}

/** Arbitrary `DataFrame => DataFrame` escape hatch — the analogue of the
  * reference's PandasOperator (`core_text/refine/pandas_operator.py:8-52`,
  * user lambdas for sort/assign/rename). Declared keys keep pipeline
  * validation honest. */
final case class TransformOp(name: String, inputKeys: Seq[String],
    outputKeys: Seq[String], f: DataFrame => DataFrame) extends Op {
  override def apply(df: DataFrame): DataFrame = f(df)
}

/** Sample-level evaluator (§2.5): append score column(s). */
trait EvalOp extends Op {
  def scores: Seq[(String, Column)]
  override def outputKeys: Seq[String] = scores.map(_._1)
  override def apply(df: DataFrame): DataFrame =
    scores.foldLeft(df) { case (d, (k, c)) => d.withColumn(k, c) }
}
