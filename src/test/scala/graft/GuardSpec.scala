package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 gates for the SQL statement guards.
  *
  * Division of labor (see SqlGuard scaladoc): `SqlGuard.isSelect` is the
  * REFERENCE-SEMANTICS textual filter (oracle-replayable in DuckDB);
  * `SqlExecutor.parsesAsQuery` is the single parse-level SAFETY guard on
  * every execution path. These tests pin both the division and the
  * backend-agreement fix: the sweep no longer textually pre-filters, so
  * query-first forms that are not SELECT/WITH-prefixed execute instead of
  * being definitively failed.
  */
class GuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
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
      assert(graft.ops.text2sql.SqlExecutor.hashed(spark, sneaky, 5).isEmpty)
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
}
