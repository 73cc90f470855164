package graft.ops.text2sql

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL-over-comments stripping + statement-type guard, shared by every op
  * that executes corpus-derived SQL. The reference restricts execution to
  * SELECT statements first (`text2sql/filter/sql_execution_filter.py`
  * filter_select_sql) — LLM- or corpus-derived DDL/DML (DROP TABLE,
  * INSERT OVERWRITE …) must fail the filter WITHOUT running. */
object SqlGuard {
  def stripped(c: Column): Column =
    regexp_replace(regexp_replace(c, "--[^\n]*", " "), "(?s)/\\*.*?\\*/", " ")

  /** True iff the comment-stripped statement starts with SELECT or WITH.
    *
    * This is the REFERENCE-SEMANTICS filter (`sql_executability_filter.py`
    * filter_select_sql keeps SELECT-prefixed statements) and is
    * deliberately textual so the DuckDB oracle can replay it — it is NOT
    * the execution-safety guard. Safety is enforced separately by
    * [[SqlExecutor.parsesAsQuery]], the single parse-level check every
    * execution path runs before touching a statement: a string like
    * `SELECT 1; DROP TABLE t` passes this textual filter (as it does in
    * the reference) but fails the parse guard and is never executed.
    * GuardSpec pins that division of labor. */
  def isSelect(c: Column): Column =
    lower(stripped(c)).rlike("^\\s*(select|with)\\b")
}

/** Statement-execution seam for SQLExecutionFilter / SQLExecutionClassifier
  * — the engine-side analogue of the reference's pooled DatabaseManager
  * (`utils/text2sql/database_manager.py:110-113`, query_timeout 5s).
  *
  * `execute` maps a DataFrame of DISTINCT statements (column `sqlKey`) to
  * (sqlKey, __ok: boolean, __hash: string) where __hash is the sha256 hex
  * of the sorted canonical row encoding of the result set. sha256 — not
  * 32-bit hashCode — so execution-compare classification cannot
  * false-match on collisions at corpus scale.
  *
  * The two columns encode THREE per-statement verdicts:
  *  - `(true, hash)` — executed, result fingerprinted;
  *  - `(false, null)` — failed (parse guard, error, timeout);
  *  - `(true, null)` — REFUSED: executed fine, but the result exceeded
  *    the fingerprint row ceiling ([[SqlExecutor.MaxHashRows]]). Kept
  *    distinct from failure so one over-cap statement degrades only
  *    itself: execution filters (which read `__ok`) still keep it, while
  *    execution-compare (which reads `__hash`) sees null ≠ anything and
  *    never counts unverifiable agreement.
  */
trait SqlBackend extends Serializable {
  def execute(distinct: DataFrame, sqlKey: String, timeoutSec: Int): DataFrame
}

object SqlBackend {
  /** Cell separator in the canonical row encoding, shared by every
    * execution path (JDBC, live-session collect, constant fold). Named —
    * and written in escaped form — because a raw U+0001 literal in source
    * is invisible and one formatter pass away from deletion. */
  val CellSep: String = "\u0001"

  /** Canonical cell encoding shared by EVERY execution path (JDBC, live
    * session collect, constant fold): byte arrays (and JDBC Blob/array
    * wrappers) hex- or element-encode — their toString is identity-based,
    * so String.valueOf would hash nondeterministically across runs.
    * Spark's collect path delivers array columns as scala Seq, map
    * columns as scala Map (iteration order is hash-order, so entries are
    * sorted), and struct columns as Row — each gets the same
    * element-encoded form as its JDBC counterpart so cross-backend hash
    * comparison stays meaningful. Everything else is String.valueOf. */
  def cell(v: Any): String = v match {
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
    case b: java.sql.Blob => "0x" + b.getBytes(1, b.length.toInt).map(x => f"$x%02x").mkString
    case a: java.sql.Array => cell(a.getArray)
    case arr: Array[_] => arr.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v2) => cell(k) + ":" + cell(v2) }
        .sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  /** sha256 hex of the sorted row encodings — the canonical result-set
    * fingerprint both backends emit. */
  def resultSetHash(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Fully distributed execution over JDBC: `mapPartitions` with ONE
  * connection per partition and a per-statement `setQueryTimeout` — the
  * 100 TB path, mirroring the reference's per-db SQLite pools but without
  * any driver-side collection: distinct statements stay partitioned end
  * to end. Works with any serializable-configurable JDBC database
  * (embedded Derby in tests; server-side MySQL/Postgres by URL in
  * production). */
final case class JdbcSqlBackend(url: String, driverClass: String = "",
    props: Map[String, String] = Map.empty) extends SqlBackend {
  def execute(distinct: DataFrame, sqlKey: String, timeoutSec: Int): DataFrame = {
    val idx = distinct.schema.fieldIndex(sqlKey)
    val outSchema = distinct.schema
      .add(StructField("__ok", BooleanType, nullable = false))
      .add(StructField("__hash", StringType, nullable = true))
    val (u, dc, pr, to) = (url, driverClass, props, timeoutSec)
    distinct.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        if (dc.nonEmpty) Class.forName(dc)
        val p = new java.util.Properties()
        pr.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = java.sql.DriverManager.getConnection(u, p)
        var closed = false
        def closeOnce(): Unit = if (!closed) {
          closed = true; try conn.close() catch { case _: Throwable => () }
        }
        // Close on EVERY task exit path — an early-terminating consumer
        // (limit/take) or a task failure/kill never drains the iterator,
        // which would leak the connection on long-lived executors.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        val mapped = rows.map { r =>
          val sql = r.getString(idx)
          val (ok, hash) = JdbcSqlBackend.run(conn, sql, to)
          Row.fromSeq(r.toSeq :+ ok :+ hash)
        }
        new Iterator[Row] {
          def hasNext: Boolean = { val h = mapped.hasNext; if (!h) closeOnce(); h }
          def next(): Row = mapped.next()
        }
      }
    }(Encoders.row(outSchema))
  }
}

object JdbcSqlBackend {
  private[graft] def run(conn: java.sql.Connection, sql: String,
      timeoutSec: Int,
      maxRows: Int = SqlExecutor.MaxHashRows): (Boolean, String) = {
    val st = conn.createStatement()
    try {
      st.setQueryTimeout(timeoutSec)
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) {
        // Same result-row ceiling as the driver-side path
        // (SqlExecutor.MaxHashRows), same tri-state verdict: the encodings
        // buffer is per-TASK executor memory, and the statements are
        // data-dependent SQL text — one `SELECT * FROM <factTable>` must
        // produce a REFUSED (ok, null-hash) verdict, not an executor OOM.
        if (buf.length >= maxRows) return (true, null)
        val sb = new StringBuilder
        var i = 1
        while (i <= n) {
          if (i > 1) sb.append(SqlBackend.CellSep)
          sb.append(SqlBackend.cell(rs.getObject(i)))
          i += 1
        }
        buf += sb.toString
      }
      (true, SqlBackend.resultSetHash(buf.toSeq))
    } catch { case _: Exception => (false, null) }
    finally st.close()
  }
}

/** Execution on the LIVE SparkSession (engine-native queries over temp
  * views / catalog tables). `spark.sql` only exists on the driver, so the
  * distinct statements are collected — bounded by `maxDistinct`, refusing
  * loudly rather than OOMing silently. For unbounded SQL corpora use
  * [[JdbcSqlBackend]]; this backend is for corpora whose distinct
  * statement count is capped by construction (the reference caps synthesis
  * via generate_num the same way). */
final case class SparkSessionBackend(maxDistinct: Int = 100000,
    maxWorkers: Int = 16,
    maxHashRows: Int = SqlExecutor.MaxHashRows) extends SqlBackend {
  def execute(distinct: DataFrame, sqlKey: String, timeoutSec: Int): DataFrame = {
    val spark = distinct.sparkSession
    val stmts = distinct.select(sqlKey).limit(maxDistinct + 1)
      .collect().map(_.getString(0)).toSeq
    require(stmts.length <= maxDistinct,
      s"SparkSessionBackend: > $maxDistinct distinct statements; " +
        "use JdbcSqlBackend (distributed) or raise maxDistinct")
    import scala.jdk.CollectionConverters._
    // Serial constant-fold sweep: synthesized corpora are mostly one-shot
    // constant statements, and concurrent spark.sql calls CONTEND on the
    // shared session's analyzer (pooling them measures ~5x slower than a
    // serial sweep). Only statements that need real execution go to the
    // worker pool, where parallel job scheduling does pay off.
    // Statement-type safety lives INSIDE foldedHash (parsesAsQuery, the
    // parse-level guard): spark.sql() executes DDL/DML eagerly on the
    // live catalog, so non-query statements get a definitive failure
    // verdict without running. No textual pre-filter here — a
    // SELECT-prefix regex wrongly fails query-first forms like
    // `VALUES (1)`, `(SELECT 1)` or `TABLE t` that JdbcSqlBackend's
    // executeQuery accepts, and the parse guard classifies correctly.
    val swept: Seq[(String, Option[Option[String]])] = stmts.map { q =>
      q -> SqlExecutor.foldedHash(spark, q, timeoutSec)
    }
    val tasks = swept.collect { case (q, None) =>
      new java.util.concurrent.Callable[(String, Boolean, String)] {
        def call(): (String, Boolean, String) =
          // the sweep already tried (and failed) the fold for q
          try SqlExecutor.hashedImpl(spark, q, timeoutSec,
            maxHashRows) match {
            case Some(h) => (q, true, h)
            case None    => (q, false, null)
          } catch {
            // Per-statement REFUSED verdict (ok=true, hash=null): the
            // statement executed fine — only its result was too large to
            // fingerprint on the driver. Letting the typed exception
            // escape here would surface from invokeAll(...).get() as an
            // opaque ExecutionException and zero the WHOLE batch — one
            // synthesized `SELECT * FROM <factTable>` in a 500-statement
            // classify must degrade that one statement, not the run.
            // The tri-state is schema-free: ok ∧ hash = fingerprinted,
            // ¬ok = failed execution, ok ∧ null = ran but unfingerprinted
            // — hash consumers (execution-compare) see null ≠ anything,
            // so a refused statement can never count as agreement, while
            // execution filters still correctly keep it.
            case e: SqlExecutor.ResultCapExceededException =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"refusing to fingerprint one statement: ${e.getMessage}")
              (q, true, null)
          }
      }
    }
    // per-call pool, shut down on exit: thread creation is noise next to
    // statement execution, and a keyed-forever pool map would leak one
    // executor per distinct maxWorkers for the JVM's lifetime
    val pool = SparkSessionBackend.newPool(maxWorkers)
    val pooled =
      try pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      finally pool.shutdown()
    val verdicts = swept.collect {
      case (q, Some(Some(h))) => (q, true, h)
      case (q, Some(None))    => (q, false, null)
    } ++ pooled
    spark.createDataFrame(verdicts).toDF(sqlKey, "__ok", "__hash")
  }
}

object SparkSessionBackend {
  private def newPool(k: Int): java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(k,
      new java.util.concurrent.ThreadFactory {
        private val c = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-sqlexec-$k-${c.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
}
