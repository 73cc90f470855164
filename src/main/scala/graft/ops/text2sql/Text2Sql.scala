package graft.ops.text2sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Op
import graft.serving.{LLMMap, ServingClient}

/** Text2SQL suite — SURVEY §2.10. */

/** Extract the first ```sql fenced block (fallback: whole string) —
  * the parse step of `text2sql/generate/sql_generator.py:56-67`. */
object SqlExtract {
  def apply(c: Column): Column = {
    val block = regexp_extract(c, "(?s)```sql\\s*(.*?)```", 1)
    when(block =!= "", trim(block)).otherwise(trim(c))
  }
}

/** LLM synthesizes SQL per schema then parses the fenced block
  * (`sql_generator.py:19-67`). */
final case class SQLGenerator(schemaKey: String, outputKey: String,
    serving: ServingClient, generateNum: Int = 0) extends Op {
  val name = "sql_generator"
  val inputKeys = Seq(schemaKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    val capped = if (generateNum > 0) df.limit(generateNum) else df
    val raw = LLMMap.generated(capped, schemaKey, "__raw", serving, "SQLGEN")
    raw.withColumn(outputKey, SqlExtract(col("__raw"))).drop("__raw")
  }
}

/** LLM produces variations of existing SQL (`sql_variation_generator.py:20-77`). */
final case class SQLVariationGenerator(sqlKey: String, outputKey: String,
    serving: ServingClient) extends Op {
  val name = "sql_variation_generator"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    LLMMap.generated(df, sqlKey, outputKey, serving, "VARY")
}

/** NL question for each SQL (`text2sql_question_generator.py:19-116`). */
final case class Text2SQLQuestionGenerator(sqlKey: String, outputKey: String,
    serving: ServingClient) extends Op {
  val name = "text2sql_question_generator"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    LLMMap.generated(df, sqlKey, outputKey, serving, "QUESTION")
}

/** Builds the training prompt by joining the per-`db_id` schema dimension
  * onto each row (`text2sql_prompt_generator.py:17-58`). The schema table
  * is small → broadcast-hash join, no shuffle of the fact side. */
final case class Text2SQLPromptGenerator(dbKey: String, questionKey: String,
    outputKey: String, schemas: DataFrame, schemaKey: String = "schema_ddl")
    extends Op {
  val name = "text2sql_prompt_generator"
  val inputKeys = Seq(dbKey, questionKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame =
    df.join(broadcast(schemas), Seq(dbKey), "left")
      .withColumn(outputKey,
        concat(lit("-- schema\n"), coalesce(col(schemaKey), lit("")),
          lit("\n-- question: "), col(questionKey), lit("\nSELECT")))
}

/** Keep SELECT-only statements after comment stripping
  * (`sql_executability_filter.py:14-49`). */
final case class SQLExecutabilityFilter(sqlKey: String) extends Op {
  val name = "sql_executability_filter"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Nil
  def stripped: Column = SqlGuard.stripped(col(sqlKey))
  def apply(df: DataFrame): DataFrame =
    df.filter(SqlGuard.isSelect(col(sqlKey)))
}

/** Spider-style hardness classification (easy/medium/hard/extra) — a
  * rule-count port of `sql_component_classifier.py:42-741`'s component
  * counting, as pure string expressions. */
final case class SQLComponentClassifier(sqlKey: String,
    outputKey: String = "hardness") extends Op {
  val name = "sql_component_classifier"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Seq(outputKey)
  def components: Column = {
    val s = lower(col(sqlKey))
    val count = (p: String) => size(regexp_extract_all(s, lit(p), lit(0)))
    count("\\bjoin\\b") + count("\\bgroup\\s+by\\b") + count("\\border\\s+by\\b") +
      count("\\b(sum|avg|min|max|count)\\s*\\(") + count("\\bwhere\\b") +
      count("\\b(union|intersect|except)\\b") +
      // nested selects: every select beyond the first
      greatest(count("\\bselect\\b") - 1, lit(0))
  }
  def apply(df: DataFrame): DataFrame =
    df.withColumn(outputKey,
      when(components <= 1, "easy")
        .when(components <= 3, "medium")
        .when(components <= 5, "hard")
        .otherwise("extra"))
}

/** Execute each DISTINCT SQL with a timeout and keep rows whose SQL runs
  * (`sql_execution_filter.py:13-80`, `database_manager.py:110-113`
  * query_timeout=5s).
  *
  * Statement-type guard first (reference filter_select_sql): anything
  * that is not SELECT/WITH after comment stripping fails WITHOUT being
  * executed — corpus-derived DDL/DML must never run against a live
  * catalog. Execution happens through the [[SqlBackend]] seam: the
  * default [[SparkSessionBackend]] is driver-pooled and bounded by
  * maxDistinct; [[JdbcSqlBackend]] keeps distinct statements fully
  * distributed (mapPartitions, per-partition connection) for unbounded
  * corpora. */
final case class SQLExecutionFilter(sqlKey: String, timeoutSec: Int = 5,
    backend: SqlBackend = SparkSessionBackend()) extends Op {
  val name = "sql_execution_filter"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val distinct = df.filter(SqlGuard.isSelect(col(sqlKey)))
      .select(sqlKey).distinct()
    val verdicts = backend.execute(distinct, sqlKey, timeoutSec)
    // merge hint: verdicts is one row per distinct statement — it scales
    // with the corpus, and its narrow static estimate invites a broadcast
    df.join(verdicts.select(col(sqlKey), col("__ok")).hint("merge"),
        Seq(sqlKey), "left")
      .filter(coalesce(col("__ok"), lit(false)))
      .drop("__ok")
  }
}

/** Difficulty labeling by generation-execution agreement
  * (`sql_execution_classifier.py:15-243`): sample `numGenerations`
  * candidate SQLs per row from the LLM, execute each against the gold
  * SQL's database, count result-set matches, map the count through the
  * thresholds (≤2 extra, ≤5 hard, ≤9 medium, else easy). Candidate and
  * gold result sets compare by sha256 fingerprint via [[SqlBackend]];
  * every DISTINCT statement executes exactly once regardless of how many
  * rows or samples share it. */
final case class SQLExecutionClassifier(promptKey: String, goldKey: String,
    serving: ServingClient, backend: SqlBackend = SparkSessionBackend(),
    numGenerations: Int = 10, thresholds: Seq[Int] = Seq(2, 5, 9),
    labels: Seq[String] = Seq("extra", "hard", "medium", "easy"),
    timeoutSec: Int = 5, outputKey: String = "difficulty") extends Op {
  require(thresholds.length == labels.length - 1,
    "thresholds and labels configuration mismatch")
  val name = "sql_execution_classifier"
  val inputKeys = Seq(promptKey, goldKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    // monotonically_increasing_id is nondeterministic: re-evaluating it on
    // both sides of the self-join below (after a shuffle or task retry)
    // could assign different ids and attach labels to the wrong rows.
    // localCheckpoint (eager) materializes the assignment exactly once;
    // input volume here is generation-bounded, not corpus-bounded.
    val withId = df.withColumn("__rid", monotonically_increasing_id())
      .localCheckpoint()
    val sampled = (0 until numGenerations).foldLeft(withId) { (d, i) =>
      val p = d.withColumn("__p", concat(col(promptKey), lit(s"#$i")))
      LLMMap.generated(p, "__p", s"__g$i", serving, "SQLGEN").drop("__p")
    }
    val parsed = (0 until numGenerations).foldLeft(sampled) { (d, i) =>
      d.withColumn(s"__g$i", SqlExtract(col(s"__g$i")))
    }
    val cands = parsed.select(col("__rid"), col(goldKey),
      explode(array((0 until numGenerations).map(i => col(s"__g$i")): _*)).as("__cand"))
    val stmts = cands.select(col("__cand").as("__stmt"))
      .union(parsed.select(col(goldKey).as("__stmt")))
      .filter(SqlGuard.isSelect(col("__stmt")))
      .distinct()
    val verdicts = backend.execute(stmts, "__stmt", timeoutSec)
    val gv = verdicts.select(col("__stmt").as(goldKey),
      col("__ok").as("__gok"), col("__hash").as("__ghash"))
    val cv = verdicts.select(col("__stmt").as("__cand"),
      col("__ok").as("__cok"), col("__hash").as("__chash"))
    // merge hints: gv/cv/counted all scale with the statement corpus but
    // carry aggregate-derived (small) static size estimates
    val counted = cands
      .join(gv.hint("merge"), Seq(goldKey), "left")
      .join(cv.hint("merge"), Seq("__cand"), "left")
      .groupBy("__rid")
      .agg(sum(when(col("__gok") && col("__cok") &&
        col("__chash") === col("__ghash"), 1).otherwise(0)).as("__cnt"))
    val cnt = coalesce(col("__cnt"), lit(0))
    val label = thresholds.zip(labels).foldRight(lit(labels.last): Column) {
      case ((t, l), acc) => when(cnt <= t, l).otherwise(acc)
    }
    withId.join(counted.hint("merge"), Seq("__rid"), "left")
      .withColumn(outputKey, label)
      .drop("__rid", "__cnt")
  }
}

/** LLM-judged question↔SQL correspondence filter
  * (`text2sql_correspondence_filter.py:17-122`): prompt the judge with
  * question + SQL (+ the db's schema DDL via a broadcast dim join), keep
  * rows whose response says yes (the reference scans fenced ``` blocks
  * for 'yes'; bare yes/no responses are accepted as a fallback). */
final case class Text2SQLCorrespondenceFilter(questionKey: String,
    sqlKey: String, serving: ServingClient,
    schemas: Option[DataFrame] = None, dbKey: String = "db_id",
    schemaKey: String = "schema_ddl") extends Op {
  val name = "text2sql_correspondence_filter"
  val inputKeys = Seq(questionKey, sqlKey)
  val outputKeys = Nil
  def apply(df: DataFrame): DataFrame = {
    val hadSchema = df.columns.contains(schemaKey)
    val withSchema = schemas match {
      case Some(sdf) => df.join(broadcast(sdf), Seq(dbKey), "left")
      case None if hadSchema => df
      case None => df.withColumn(schemaKey, lit(""))
    }
    val prompted = withSchema.withColumn("__p",
      concat(lit("question: "), col(questionKey), lit("\nsql: "), col(sqlKey),
        lit("\nschema: "), coalesce(col(schemaKey), lit(""))))
    val judged = LLMMap.generated(prompted, "__p", "__resp", serving, "JUDGE")
    val blocks = regexp_extract_all(lower(col("__resp")),
      lit("```\\s*([\\s\\S]*?)\\s*```"), lit(1))
    val hit = exists(blocks, b => b.contains("yes")) ||
      lower(trim(col("__resp"))).startsWith("yes")
    val kept = judged.filter(hit).drop("__p", "__resp")
    if (hadSchema) kept else kept.drop(schemaKey)
  }
}

/** Per-database SQL synthesis (`sql_by_column_generator.py:20-118`): for
  * each database row, special_column_count × generateNum prompts built
  * from its CREATE/INSERT statements, each answered by the LLM and parsed
  * for the fenced ```sql block. Spark shape: explode the per-db slot
  * range (narrow), then one LLMMap pass — generation volume scales with
  * databases × columns, never with corpus rows. */
final case class SQLByColumnGenerator(dbKey: String, ddlKey: String,
    serving: ServingClient, generateNum: Int = 5,
    specialColsKey: String = "", outputKey: String = "sql") extends Op {
  val name = "sql_by_column_generator"
  val inputKeys = Seq(dbKey, ddlKey)
  val outputKeys = Seq(outputKey)
  def apply(databases: DataFrame): DataFrame = {
    val nCols =
      if (specialColsKey.nonEmpty) col(specialColsKey).cast("int") else lit(1)
    val n = greatest(nCols * generateNum, lit(1))
    val seeded = databases
      .withColumn("__slot", explode(sequence(lit(0), n - 1)))
      .withColumn("__p", concat(col(ddlKey), lit(" -- variant "), col("__slot")))
    LLMMap.generated(seeded, "__p", "__raw", serving, "SQLGEN")
      .withColumn(outputKey, SqlExtract(col("__raw")))
      .select(col(dbKey), col(outputKey))
  }
}

/** CoT generation with majority voting over n samples
  * (`text2sql_cot_voting_generator.py:86`): n LLM samples per row →
  * the modal answer wins (ties break lexicographically). */
final case class Text2SQLCoTVotingGenerator(sqlKey: String, outputKey: String,
    serving: ServingClient, samples: Int = 3) extends Op {
  val name = "text2sql_cot_voting_generator"
  val inputKeys = Seq(sqlKey)
  val outputKeys = Seq(outputKey)
  def apply(df: DataFrame): DataFrame = {
    val sampled = (0 until samples).foldLeft(df) { (d, i) =>
      val p = d.withColumn("__p", concat(col(sqlKey), lit("#"), lit(i % 2)))
      LLMMap.generated(p, "__p", s"__s$i", serving, "COT").drop("__p")
    }
    val votes = array((0 until samples).map(i => col(s"__s$i")): _*)
    // modal element: for each candidate count occurrences; keep max count,
    // lexicographically smallest on ties
    val counted = transform(array_distinct(votes),
      v => struct(size(filter(votes, x => x === v)).as("n"), v.as("v")))
    val winner = aggregate(counted,
      struct(lit(0).as("n"), lit("").as("v")),
      (acc, s) => when(acc("n") === 0, s)
        .when(s("n") > acc("n"), s)
        .when(s("n") === acc("n") && s("v") < acc("v"), s)
        .otherwise(acc))
    (0 until samples).foldLeft(
      sampled.withColumn(outputKey, winner("v")))((d, i) => d.drop(s"__s$i"))
  }
}

/** Driver-side SQL execution with timeout — the engine-native analogue of
  * the reference's pooled `DatabaseManager` timed execution. */
object SqlExecutor {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.CatalystTypeConverters

  /** Dedicated executor for timed statement work (fold sweeps and live
    * collects). A cached pool — NOT the shared global EC — so a
    * pathological statement whose thread outlives its timeout (eval
    * cannot be interrupted) only leaks its own thread: the next statement
    * always gets a fresh one instead of queueing behind stuck work and
    * timing out before its Future even starts. */
  private lazy val timedEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val c = new java.util.concurrent.atomic.AtomicInteger()
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-sqltimed-${c.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))
  import org.apache.spark.sql.catalyst.plans.logical.{Command, DeleteFromTable,
    InsertIntoStatement, LocalRelation, MergeIntoTable, OneRowRelation,
    ParsedStatement, Project, UpdateTable}

  /** Parse-level query guard: true iff the statement parses to a PURE
    * query plan. spark.sql() executes commands (DDL and DML) EAGERLY, so
    * they must be rejected before any analysis — and a textual
    * SELECT/WITH prefix check misses WITH-prefixed DML like
    * `WITH s AS (...) INSERT INTO t SELECT * FROM s`. Parsing is ~0.2 ms
    * and runs no catalog lookups. */
  private[text2sql] def parsesAsQuery(spark: SparkSession, sql: String): Boolean =
    try {
      val plan = spark.sessionState.sqlParser.parsePlan(sql)
      plan.collectFirst {
        case c: Command => c
        case p: ParsedStatement => p
        case i: InsertIntoStatement => i
        case u: UpdateTable => u
        case d: DeleteFromTable => d
        case m: MergeIntoTable => m
      }.isEmpty
    } catch { case _: Throwable => false }

  /** Constant-statement fast path: a statement whose plan is a fully
    * foldable projection over OneRowRelation (or an already-computed
    * LocalRelation) is evaluated directly on the driver — no physical
    * planning, no whole-stage codegen. Synthesized SQL corpora are full of
    * one-shot constant statements, and each distinct statement otherwise
    * pays a fresh Janino compile (~40 ms measured) because its literals
    * are embedded in the generated source, defeating the codegen cache.
    * Returns the canonical cell encodings, or None when the statement
    * needs real execution. */
  private def foldedRows(spark: SparkSession, sql: String): Option[Seq[String]] = {
    val qe = spark.sql(sql).queryExecution
    // Alias.foldable is hardcoded false in Catalyst — look through to the
    // aliased child when deciding constancy.
    def constant(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => constant(a.child)
        case other => other.foldable
      }
    // Check the ANALYZED plan first — for a plain constant SELECT it
    // already has the Project/OneRowRelation shape and foldable exprs
    // eval directly, skipping the optimizer entirely (about half the
    // per-statement driver cost). Fall back to the optimized plan for
    // shapes the optimizer reduces to a LocalRelation.
    val plan = qe.analyzed match {
      case p @ Project(exprs, _: OneRowRelation) if exprs.forall(constant) => p
      case _ => qe.optimizedPlan
    }
    plan match {
      case p @ Project(exprs, _: OneRowRelation) if exprs.forall(constant) =>
        val cells = p.output.zip(exprs).map { case (attr, e) =>
          val conv = CatalystTypeConverters.createToScalaConverter(attr.dataType)
          SqlBackend.cell(conv(e.eval(InternalRow.empty)))
        }
        Some(Seq(cells.mkString(SqlBackend.CellSep)))
      case lr: LocalRelation =>
        val convs = lr.output.map(a =>
          CatalystTypeConverters.createToScalaConverter(a.dataType))
        Some(lr.data.map(row =>
          convs.zipWithIndex.map { case (c, i) =>
            SqlBackend.cell(c(row.get(i, lr.output(i).dataType)))
          }.mkString(SqlBackend.CellSep)))
      case _ => None
    }
  }

  /** Three-way fast-path verdict for [[SparkSessionBackend]]'s serial
    * sweep: Some(Some(hash)) = constant-folded result, Some(None) =
    * definitive failure (non-query statement or parse/analysis error —
    * pooled execution would fail identically), None = needs real
    * execution. Runs under the statement timeout: a pathological
    * constant expression (e.g. repeat('x', 2e9)) must yield a timeout
    * verdict, not stall the sweep. */
  private[graft] def foldedHash(spark: SparkSession, sql: String,
      timeoutSec: Int): Option[Option[String]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = timedEc
    if (!parsesAsQuery(spark, sql)) return Some(None)
    try {
      Await.result(Future {
        try foldedRows(spark, sql).map(rows => Some(SqlBackend.resultSetHash(rows)))
        catch {
          case _: org.apache.spark.sql.AnalysisException |
              _: org.apache.spark.sql.catalyst.parser.ParseException =>
            Some(None)
          case _: Throwable => None
        }
      }, timeoutSec.seconds)
    } catch {
      // Only a genuine fold timeout is a definitive failure verdict (a
      // pathological constant would time out identically under pooled
      // execution). A thread interrupt is a CANCELLATION — restore the
      // flag and propagate so the sweep aborts instead of executing the
      // remaining corpus. Any other Await failure is an environment
      // hiccup, not a property of the statement: route to pooled real
      // execution.
      case _: java.util.concurrent.TimeoutException => Some(None)
      case ie: InterruptedException =>
        Thread.currentThread().interrupt(); throw ie
      case _: Throwable => None
    }
  }

  /** Result-row ceiling for [[hashedImpl]]'s driver collect. The
    * fingerprint needs every result row on the driver (sorted canonical
    * encoding), and the statements are DATA-DEPENDENT SQL TEXT — one
    * synthesized `SELECT * FROM <factTable>` would otherwise materialize
    * a corpus-scale result and OOM the driver at 100× data. Same
    * loud-refusal idiom as [[SparkSessionBackend]]'s `maxDistinct`:
    * refuse with a named limit instead of dying silently. 4M rows ≈
    * hundreds of MB of encodings — generous for fingerprinting, safe for
    * a driver. */
  val MaxHashRows: Int = 4 << 20

  /** Thrown (NOT swallowed into the None error-verdict) when a statement's
    * result exceeds [[MaxHashRows]]: an over-cap result is a refused
    * measurement, not a failed statement — silently classifying it as an
    * execution error would corrupt the compare. [[SparkSessionBackend]]
    * catches it PER STATEMENT and emits the refused verdict
    * `(__ok = true, __hash = null)` (see the [[SqlBackend]] tri-state
    * contract), so one over-cap statement in a batch degrades only
    * itself; direct callers of [[hashedImpl]] still see the typed throw. */
  final class ResultCapExceededException(msg: String)
    extends RuntimeException(msg)

  /** Timed result fingerprint for execution-compare classification
    * (`sql_execution_classifier.py:15-243`): Some(sha256 of the sorted
    * canonical row encoding) or None on error/timeout. sha256 — a 32-bit
    * hash would false-match pairs at corpus scale. Rejects non-query
    * statements without executing them (spark.sql runs commands eagerly).
    * Runs the statement: [[SparkSessionBackend]] calls it only for what
    * [[foldedHash]] could not fold. */
  private[graft] def hashedImpl(spark: SparkSession, sql: String,
      timeoutSec: Int, maxRows: Int = MaxHashRows): Option[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = timedEc
    if (!parsesAsQuery(spark, sql)) return None
    try {
      Await.result(Future {
        try {
          // limit(maxRows + 1): under the cap this is the full result
          // set (LIMIT over a superset count returns every row), so
          // the hash is unchanged; over the cap it bounds what ever
          // reaches the driver to one row past the limit
          val rows = spark.sql(sql).limit(maxRows + 1).collect()
          if (rows.length > maxRows)
            throw new ResultCapExceededException(
              s"statement result exceeds $maxRows rows — refusing to " +
                "fingerprint on the driver; raise maxRows or compare " +
                "on a bounded projection")
          // U+0001 cell separator — the same one JdbcSqlBackend.run
          // appends, so both backends emit one canonical row encoding
          // and cross-backend hash comparison is meaningful.
          Some(SqlBackend.resultSetHash(rows.toSeq.map(r =>
            r.toSeq.map(SqlBackend.cell).mkString(SqlBackend.CellSep))))
        } catch {
          case e: ResultCapExceededException => throw e
          case _: Throwable => None
        }
      }, timeoutSec.seconds)
    } catch {
      case e: ResultCapExceededException => throw e
      case _: Throwable => None
    }
  }
}
