package graft.serving

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** The one serving→DataFrame bridge: every model call of the engine runs
  * in [[appended]], a narrow per-partition kernel that appends one output
  * column.
  *
  * Invariants:
  *   - one serving client per partition, reused by every call of the
  *     task; no shuffle, so executors scale the call rate linearly with
  *     bounded concurrency each (the Spark analogue of the reference's
  *     per-op ThreadPoolExecutor fan-out,
  *     `serving/api_llm_serving_request.py:234-251`);
  *   - rows are served `batchSize` at a time and every input row gets
  *     exactly one output, in input order; a serving call that returns
  *     any other count fails the task;
  *   - an op whose rows each carry a list of texts serves the batch's
  *     lists through [[perRow]]: flattened in row order, in calls of at
  *     most `batchSize`, split back per row.
  */
object LLMMap {

  /** Rows (or texts) per serving call unless an op says otherwise. */
  private[graft] val DefaultBatch = 64

  /** df + outputKey = serving.generate(prompt(row), systemPrompt). */
  def generated(df: DataFrame, promptKey: String, outputKey: String,
      serving: ServingClient, systemPrompt: String,
      batchSize: Int = DefaultBatch): DataFrame =
    appended(df, StructField(outputKey, StringType), batchSize)(
      text(df, promptKey))(serving.generate(_, systemPrompt))

  /** df + outputKey = scorer.score(text(row)) as double — the bridge for
    * the model-scored filter/eval families. */
  def scored(df: DataFrame, inputKey: String, outputKey: String,
      scorer: Scorer, batchSize: Int = DefaultBatch): DataFrame =
    appended(df, StructField(outputKey, DoubleType), batchSize)(
      text(df, inputKey))(scorer.score)

  /** df + outputKey = serving.embed(text(row)) as array<double>. */
  def embedded(df: DataFrame, inputKey: String, outputKey: String,
      serving: ServingClient, batchSize: Int = DefaultBatch): DataFrame =
    appended(df,
      StructField(outputKey, ArrayType(DoubleType, containsNull = false)), batchSize)(
      text(df, inputKey))(serving.embed(_).map(_.toSeq))

  /** The kernel: `df` plus `field`, whose value for each row is `serve`'s
    * output at that row's position in its batch of `batchSize` rows. */
  private[graft] def appended[A, B](df: DataFrame, field: StructField,
      batchSize: Int)(read: Row => A)(serve: Seq[A] => Seq[B]): DataFrame =
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val outs = checked(serve(batch.map(read)), batch.length)
        batch.lazyZip(outs).map { (r, o) => Row.fromSeq(r.toSeq :+ o) }
      }
    }(Encoders.row(df.schema.add(field)))

  /** `serve` over every list of `lists` in one flat order, in calls of at
    * most `batchSize` texts, split back into one output list per input
    * list. */
  private[graft] def perRow[B](lists: Seq[Seq[String]], batchSize: Int)(
      serve: Seq[String] => Seq[B]): Seq[Seq[B]] = {
    val outs = lists.flatten.grouped(batchSize)
      .flatMap(call => checked(serve(call), call.length)).toIndexedSeq
    val ends = lists.scanLeft(0)(_ + _.length)
    ends.lazyZip(ends.tail).map((from, until) => outs.slice(from, until))
  }

  /** A row's string at `key`, null read as "". */
  private[graft] def text(df: DataFrame, key: String): Row => String = {
    val idx = df.schema.fieldIndex(key)
    r => Option(r.getString(idx)).getOrElse("")
  }

  private def checked[B](outs: Seq[B], inputs: Int): Seq[B] = {
    require(outs.length == inputs,
      s"serving returned ${outs.length} outputs for $inputs inputs")
    outs
  }
}
