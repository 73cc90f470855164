package graft

import org.apache.spark.sql.functions._

/** Text2SQL execution (`graft.ops.text2sql`): the statement guards, the
  * result-hash cell encoding, and the constant-fold path against the
  * collect path.
  *
  * Division of labor (see SqlGuard scaladoc): `SqlGuard.isSelect` is the
  * REFERENCE-SEMANTICS textual filter (oracle-replayable in DuckDB);
  * `SqlExecutor.parsesAsQuery` is the single parse-level SAFETY guard on
  * every execution path. These tests pin both the division and the
  * backend-agreement fix: the sweep no longer textually pre-filters, so
  * query-first forms that are not SELECT/WITH-prefixed execute instead of
  * being definitively failed.
  */
class GuardSpec extends SparkSuite {
  import spark.implicits._

  test("query-first non-SELECT forms execute through SparkSessionBackend") {
    spark.sql("CREATE OR REPLACE TEMP VIEW guard_t AS SELECT 7 AS x")
    val forms = Seq("VALUES (1)", "(SELECT 1)", "TABLE guard_t",
      "FROM guard_t SELECT x")
    val out = graft.ops.text2sql.SparkSessionBackend()
      .execute(forms.toDF("sql"), "sql", 5)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    forms.foreach(f => assert(out(f), s"query-first form failed: $f"))
    // and the two row-producing forms over guard_t agree on the result hash
    val hashes = graft.ops.text2sql.SparkSessionBackend()
      .execute(Seq("TABLE guard_t", "SELECT x FROM guard_t").toDF("sql"), "sql", 5)
      .collect().map(_.getString(2)).distinct
    assert(hashes.length == 1)
  }

  test("multi-statement string passes the textual filter but never executes") {
    spark.sql("CREATE TABLE IF NOT EXISTS guard_victim3 (x INT) USING parquet")
    try {
      val sneaky = "SELECT 1; DROP TABLE guard_victim3"
      // reference-semantics textual filter keeps it (as the reference would)
      val kept = Seq(sneaky).toDF("sql")
        .filter(graft.ops.text2sql.SqlGuard.isSelect(col("sql"))).count()
      assert(kept == 1L)
      // …but the parse-level guard fails it on every execution path,
      // without touching the catalog
      assert(graft.ops.text2sql.SqlExecutor.foldedHash(spark, sneaky, 5) == Some(None))
      assert(graft.ops.text2sql.SqlExecutor.hashedImpl(spark, sneaky, 5).isEmpty)
      val out = graft.ops.text2sql.SparkSessionBackend()
        .execute(Seq(sneaky).toDF("sql"), "sql", 5)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(!out(sneaky))
      assert(spark.catalog.tableExists("guard_victim3"),
        "multi-statement string executed its DROP against the live catalog")
    } finally spark.sql("DROP TABLE IF EXISTS guard_victim3")
  }

  test("JDBC Blob and array wrappers encode deterministically in cell()") {
    import graft.ops.text2sql.SqlBackend
    val blob = new javax.sql.rowset.serial.SerialBlob(Array[Byte](10, -1))
    assert(SqlBackend.cell(blob) == SqlBackend.cell(Array[Byte](10, -1)))
    assert(SqlBackend.cell(blob) == "0x0aff")
    val arr = new javax.sql.rowset.serial.SerialArray(
      new java.sql.Array {
        def getArray: AnyRef = Array[AnyRef]("a", java.lang.Integer.valueOf(2))
        def getArray(map: java.util.Map[String, Class[_]]): AnyRef = getArray
        def getArray(index: Long, count: Int): AnyRef = getArray
        def getArray(index: Long, count: Int,
            map: java.util.Map[String, Class[_]]): AnyRef = getArray
        def getBaseType: Int = java.sql.Types.VARCHAR
        def getBaseTypeName: String = "VARCHAR"
        def getResultSet: java.sql.ResultSet = null
        def getResultSet(map: java.util.Map[String, Class[_]]): java.sql.ResultSet = null
        def getResultSet(index: Long, count: Int): java.sql.ResultSet = null
        def getResultSet(index: Long, count: Int,
            map: java.util.Map[String, Class[_]]): java.sql.ResultSet = null
        def free(): Unit = ()
      })
    assert(SqlBackend.cell(arr) == "[a,2]")
    // two Blob instances over the same bytes hash identically (the old
    // String.valueOf fallback was identity-based, differing per instance)
    val blob2 = new javax.sql.rowset.serial.SerialBlob(Array[Byte](10, -1))
    assert(SqlBackend.cell(blob) == SqlBackend.cell(blob2))
  }

  test("Spark collect-path values encode like their JDBC counterparts") {
    import graft.ops.text2sql.SqlBackend
    // Spark's Row.toSeq delivers array columns as scala Seq — it must
    // match JDBC's java.sql.Array element encoding, not toString
    // ("ArraySeq(a, 2)"), or cross-backend hash comparison silently
    // breaks for any array-typed result column
    assert(SqlBackend.cell(scala.collection.mutable.ArraySeq.make(
      Array[Any]("a", 2))) == "[a,2]")
    assert(SqlBackend.cell(Seq("a", 2)) == "[a,2]")
    // map columns: entry iteration order is hash-order — the encoding
    // sorts entries so two equal maps always hash identically
    assert(SqlBackend.cell(Map("b" -> 2, "a" -> 1)) ==
      SqlBackend.cell(Map("a" -> 1, "b" -> 2)))
    assert(SqlBackend.cell(Map("b" -> 2, "a" -> 1)) == "{a:1,b:2}")
    // struct columns arrive as Row
    assert(SqlBackend.cell(org.apache.spark.sql.Row("a", Seq(1, 2))) ==
      "[a,[1,2]]")
  }

  /** The slow path's encoding, replicated literally: collect(), cell-
    * encode (arrays/maps/structs element-encode, not toString), join
    * cells with the U+0001 separator, sha256 over sorted rows. */
  private def slowHash(sql: String): Option[String] =
    try {
      val rows = spark.sql(sql).collect()
      Some(graft.ops.text2sql.SqlBackend.resultSetHash(rows.toSeq.map(r =>
        r.toSeq.map(graft.ops.text2sql.SqlBackend.cell)
          .mkString(graft.ops.text2sql.SqlBackend.CellSep))))
    } catch { case _: Throwable => None }

  /** The statement's hash through the backend the execution filters use
    * (fold sweep first, then the collect path); None when it fails. */
  private def backendHash(sql: String): Option[String] =
    graft.ops.text2sql.SparkSessionBackend().execute(Seq(sql).toDF("sql"), "sql", 5)
      .collect().collectFirst { case r if r.getBoolean(1) => r.getString(2) }

  test("foldable statements hash identically to collect()-based execution") {
    val stmts = Seq(
      "SELECT 42 AS x",
      "SELECT 1 + 1 AS x, 'a' || 'b' AS s",
      "SELECT 1.5 AS d",                       // decimal
      "SELECT CAST(2.5 AS DOUBLE) AS d",
      "SELECT NULL AS n",
      "SELECT DATE'2026-01-01' AS dt",
      "SELECT TIMESTAMP'2026-01-01 12:00:00' AS ts",
      "SELECT ARRAY(1, 2, 3) AS a",
      "SELECT upper('mixed') AS u, length('abc') AS l",
      "SELECT CAST(7 AS BIGINT) AS b, true AS t")
    stmts.foreach { q =>
      val fast = graft.ops.text2sql.SqlExecutor.foldedHash(spark, q, 5)
      assert(fast == Some(slowHash(q)), s"fold path diverged for: $q")
    }
  }

  test("non-foldable and invalid statements behave as before") {
    Seq((1, "a"), (2, "b")).toDF("x", "s").createOrReplaceTempView("fold_t")
    val viaView = backendHash("SELECT x, s FROM fold_t")
    assert(viaView == slowHash("SELECT x, s FROM fold_t"))
    assert(backendHash("SELECT FROM nowhere !!").isEmpty)
    // multi-row constant relations take the LocalRelation branch
    val values = "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(x, s)"
    assert(graft.ops.text2sql.SqlExecutor.foldedHash(spark, values, 5) ==
      Some(slowHash(values)))
  }

  test("SparkSessionBackend never executes non-SELECT statements") {
    import spark.implicits._
    spark.sql("CREATE TABLE IF NOT EXISTS guard_victim (x INT) USING parquet")
    try {
      val stmts = Seq("DROP TABLE guard_victim", "SELECT 1 AS x").toDF("sql")
      val out = graft.ops.text2sql.SparkSessionBackend().execute(stmts, "sql", 5)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      // the DDL must FAIL the verdict (executeQuery parity with the JDBC
      // backend) and, critically, must not have run on the live catalog
      assert(!out("DROP TABLE guard_victim"))
      assert(out("SELECT 1 AS x"))
      assert(spark.catalog.tableExists("guard_victim"),
        "backend executed corpus DDL against the live session")
    } finally spark.sql("DROP TABLE IF EXISTS guard_victim")
  }

  test("WITH-prefixed DML cannot reach the live session through any path") {
    import spark.implicits._
    spark.sql("CREATE TABLE IF NOT EXISTS guard_victim2 (x INT) USING parquet")
    spark.sql("INSERT INTO guard_victim2 VALUES (1)")
    try {
      val sneaky = "WITH s AS (SELECT 2 AS x) INSERT INTO guard_victim2 SELECT x FROM s"
      // direct executor entry points: the fold sweep and the collect path
      assert(graft.ops.text2sql.SqlExecutor.foldedHash(spark, sneaky, 5) == Some(None))
      assert(graft.ops.text2sql.SqlExecutor.hashedImpl(spark, sneaky, 5).isEmpty)
      // backend sweep (a textual SELECT/WITH prefix check alone would
      // pass the WITH prefix; the parse-level guard must catch it)
      val stmts = Seq(sneaky, "SELECT 1 AS x").toDF("sql")
      val out = graft.ops.text2sql.SparkSessionBackend().execute(stmts, "sql", 5)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(!out(sneaky))
      assert(out("SELECT 1 AS x"))
      assert(spark.sql("SELECT COUNT(*) FROM guard_victim2").head().getLong(0) == 1L,
        "WITH-prefixed INSERT executed against the live session")
    } finally spark.sql("DROP TABLE IF EXISTS guard_victim2")
  }

  test("binary cells hash deterministically and identically on both paths") {
    val q = "SELECT X'0AFF' AS b, 'tag' AS s"
    val h1 = graft.ops.text2sql.SqlExecutor.foldedHash(spark, q, 5).flatten
    val h2 = graft.ops.text2sql.SqlExecutor.hashedImpl(spark, q, 5)
    assert(h1.isDefined && h1 == h2)
    // the canonical cell encoding is hex, never Array.toString identity
    assert(graft.ops.text2sql.SqlBackend.cell(Array[Byte](10, -1)) == "0x0aff")
  }
}
