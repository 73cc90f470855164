package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one local SparkSession every suite in the test JVM shares. */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}

/** Shared fixture of the Spark suites: the session, the sf0.001 test
  * data, a scratch root deleted after the suite, and the helpers more
  * than one suite uses. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private var scratchRoot: java.nio.file.Path = null

  /** A fresh directory under the suite's scratch root. The root is made
    * on first use and deleted, with everything under it, after the
    * suite's last test. */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    if (scratchRoot == null)
      scratchRoot = java.nio.file.Files.createTempDirectory("graft_suite")
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)
  }

  override protected def afterAll(): Unit =
    try synchronized {
      if (scratchRoot != null) {
        org.apache.commons.io.FileUtils.deleteQuietly(scratchRoot.toFile)
        scratchRoot = null
      }
    } finally super.afterAll()

  /** Jobs started inside `body`, attributed via an exclusive job group
    * (gate jobs run eagerly in the calling thread, so they inherit it).
    * The status store is fed asynchronously off the listener bus, so
    * poll until the count is stable. */
  def jobsDuring(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    var spins = 0
    while (cur != last && spins < 20) {
      last = cur; Thread.sleep(200)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
      spins += 1
    }
    cur
  }

  /** Deterministic synthetic vectors: 64 dims of sin((id+1) * dim). The
    * +1 keeps id 0 off the all-zero vector, whose NaN cosines would rank
    * in arrival order and make two correct plans disagree. */
  def vecs(n: Int): DataFrame = {
    val dims = (1 to 64).map(d => sin((col("id") + 1) * d))
    spark.range(n).select(col("id").as("vec_id"),
      array(dims: _*).as("embedding"))
  }

  /** Deterministic embedding corpus with planted duplicate clusters:
    * `clusters` groups of `size` near-identical vectors plus `loose`
    * unrelated ones. */
  def plantedEmbeddings(clusters: Int, size: Int,
      loose: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(7)
    val bases = (0 until clusters).map(_ => Array.fill(64)(rnd.nextGaussian()))
    val members = for {
      c <- 0 until clusters; m <- 0 until size
    } yield ((c * size + m).toLong,
      bases(c).map(_ + rnd.nextGaussian() * 0.001).toSeq)
    val singles = (0 until loose).map(i =>
      ((100000 + i).toLong, Array.fill(64)(rnd.nextGaussian()).toSeq))
    members ++ singles
  }

  /** A fresh embedded Derby database (Derby ships with Spark — a real
    * JDBC database, so executor-side connection paths run end to end)
    * with `ddl` run in it; returns its JDBC url. */
  def derby(ddl: String*): String = {
    val dir = tempDir("graft_derby")
    val url = s"jdbc:derby:${dir.toString}/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    ddl.foreach(st.execute)
    st.close(); conn.close()
    url.replace(";create=true", "")
  }
}
