package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Storage
import graft.streaming.Streaming

/** TPC-H, sort, join, set-operation, window, streaming and source queries: plain Spark SQL plans with no operator family of their own. */
object Relational {
  /** Best-effort recursive delete for the tiny temp trees the streaming
    * query stages (a handful of parquet files) — failures are swallowed:
    * cleanup must never fail the query that produced a correct result. */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
                      catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  def queries: Map[String, Q] = Map(
    // DECIMAL sums are canonicalized to round(CAST(.. AS DOUBLE), 2) in the
    // final projection on BOTH sides: Spark widens sum(decimal(20,2)) to
    // decimal(30,2) while DuckDB widens to decimal(38,2), and the driver's
    // value hash sees the differing physical type (r1 hash_match=false).
    "q1_pricing" -> oracled(
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_base_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum(col("l_quantity").cast("decimal(20,2)")).cast("double"), 2).as("sum_qty"),
            round(sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double"), 2).as("sum_base_price"),
            count(lit(1)).as("count_order"))
    },
    "q3_revenue_by_customer" -> oracled(
      """SELECT c_custkey, c_name,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders"); val l = t(s, dir, "lineitem")
      // No forced broadcast: customer grows linearly with SF (TPC-H sf100 ≈
      // 15M rows) — let AQE's size threshold pick broadcast vs shuffle join;
      // orders⋈lineitem co-shuffles on the orderkey either way.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,4)")).cast("double"), 4).as("revenue"))
    },
    "q5_region_revenue" -> oracled(
      """SELECT r_name, n_name,
        |  round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE), 4) AS revenue
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier"); val l = t(s, dir, "lineitem")
      // region/nation/supplier are genuinely bounded dims (25 nations, 5
      // regions; supplier = 0.01×customer) → broadcast all; single shuffle
      // for the final agg.
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(20,4)")).cast("double"), 4).as("revenue"))
    },
    "sort_topk_orders" -> oracled(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice").limit(10)
    },
    "join_bucketed" -> oracled(
      // co-located join: both sides persisted bucketed on the join key →
      // zero Exchange in the join AND the downstream groupBy (PlanSpec
      // asserts it); the pattern that amortizes one shuffle across every
      // later consumer at 100 TB
      """SELECT l_orderkey, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey""".stripMargin) { (s, dir) =>
      graft.core.Partitioning.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        "graft_li_bucketed", "l_orderkey", 16)
      graft.core.Partitioning.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey")),
        "graft_o_bucketed", "l_orderkey", 16)
      s.table("graft_li_bucketed").join(s.table("graft_o_bucketed"), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(20,2)")).cast("double"), 2).as("sum_qty"))
    },
    "source_xlsx_roundtrip" -> oracled(
      // end-to-end codec gate: write a slice through the xlsx sink, read
      // it back through the xlsx source, oracle against the parquet
      // original (xlsx numerics are untyped → DOUBLE on both sides)
      """SELECT CAST(doc_id AS DOUBLE) AS doc_id, md5(text) AS digest,
        |  CAST(n_chars AS DOUBLE) AS n_chars
        |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)""".stripMargin) {
      (s, dir) =>
        val src = t(s, dir, D).orderBy("doc_id").limit(50)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
            col("n_chars"))
        val path = java.nio.file.Files.createTempDirectory("graft_xlsx")
          .toString + "/docs.xlsx"
        Storage.write(src, path)
        Storage.read(s, path)
    },
    "source_pickle_roundtrip" -> oracled(
      // end-to-end codec gate like the xlsx one; pickle is typed, so
      // longs and strings survive exactly (no DOUBLE coercion)
      """SELECT doc_id, md5(text) AS digest, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 50)""".stripMargin) {
      (s, dir) =>
        val src = t(s, dir, D).orderBy("doc_id").limit(50)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"),
            col("n_chars").cast("long").as("n_chars"))
        val path = java.nio.file.Files.createTempDirectory("graft_pkl")
          .toString + "/docs.pkl"
        Storage.write(src, path)
        Storage.read(s, path)
    },
    "setop_union_users" -> oracled(
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |UNION
        |SELECT user_id FROM events WHERE value > 150""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "purchase").select("user_id")
        .union(e.filter(col("value") > 150).select("user_id"))
        .distinct()
    },
    "stream_window_agg" -> oracled(
      """SELECT CAST(epoch_ns(ts) // 300000000000 AS BIGINT) * 300 AS window_start,
        |  event_type, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Streaming.windowedEventStats(t(s, dir, "events"), widthSec = 300)
    },
    // streamingDedup (dropDuplicatesWithinWatermark) as an oracled query:
    // the events table is split into 3 time tiers replayed as ordered
    // micro-batches (pinned ascending mtimes, maxFilesPerTrigger=1), and
    // the dedup key is TIER-scoped (tier:user_id), so every key's
    // duplicates live inside one micro-batch — the kept-row SET is then
    // exactly DISTINCT (tier, user_id) regardless of intra-batch row
    // order, i.e. deterministic and SQL-replayable, while the query still
    // exercises the real streaming machinery end-to-end: file-source
    // batch ordering, watermark advance across a 10-day tier gap ≫ the
    // 10-minute delay (so earlier tiers' state is evicted — TiersSpec
    // pins the numRowsTotal bound), and no late-row loss (tiers ascend in
    // event time, so no batch ever starts below the watermark).
    "stream_dedup_horizon" -> oracled(
      """WITH b AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi FROM events)
        |SELECT DISTINCT CAST(least(((epoch_ns(ts) - lo) * 3) // (hi - lo + 1), 2) AS BIGINT) AS tier,
        |  user_id
        |FROM events, b""".stripMargin) { (s, dir) =>
      val events = t(s, dir, "events")
      val ns = Streaming.tsEpochNanos(events)
      val bounds = events.agg(min(ns), max(ns)).head()
      // empty events table: no bounds row values — the kept set is empty
      // (guard, or getLong NPEs on the null aggregate)
      if (bounds.isNullAt(0))
        events.select(lit(0L).as("tier"), col("user_id")).limit(0)
      else {
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        // integer `div` throughout: epoch nanos exceed 2^53, and tier
        // boundaries must match the oracle's BIGINT arithmetic bit for bit
        val tiered = events.withColumn("__ns", ns).withColumn("tier",
          expr(s"least((__ns - ${lo}L) * 3 div ${hi - lo + 1}L, 2L)")).drop("__ns")
        val dirP = java.nio.file.Files.createTempDirectory("graft_sdh")
        val qn = "sdh_" + java.util.UUID.randomUUID().toString.replace("-", "")
        // One hash-repartition on the tier value + partitionBy writes all
        // three tier files in one job: the scan stays parallel, and each
        // tier lands wholly in one task, so each __pt dir holds exactly
        // one file (one filter+coalesce(1) write per tier would scan
        // events three times, single-threaded).
        var ss: SparkSession = null
        try {
          val w = java.nio.file.Files.createTempDirectory("graft_sdh_w")
          try {
            tiered.withColumn("__pt", col("tier"))
              .repartition(col("__pt"))
              .write.mode("overwrite").partitionBy("__pt").parquet(w.toString)
            (0 to 2).foreach { i =>
              val td = w.resolve(s"__pt=$i")
              // an empty tier writes no directory (tiny-SF correctness
              // runs) — same as the old find-none behavior: stage nothing
              if (java.nio.file.Files.isDirectory(td)) {
                val parts = java.nio.file.Files.list(td).iterator()
                scala.jdk.CollectionConverters.IteratorHasAsScala(parts).asScala
                  .filter(_.getFileName.toString.endsWith(".parquet")).toSeq match {
                    case Seq(f) =>
                      val dst = java.nio.file.Files.copy(f, dirP.resolve(f"b$i%02d.parquet"))
                      // file source replays oldest-mtime-first: pin batch order
                      java.nio.file.Files.setLastModifiedTime(dst,
                        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
                    case fs => throw new IllegalStateException(
                      s"tier $i staged ${fs.size} files (hash repartition must " +
                        "place one tier in one task)")
                  }
              }
            }
          } finally deleteRecursively(w)
          // State width derived from the staged volume: a stateful
          // streaming query pins its state width to
          // spark.sql.shuffle.partitions at start, and every micro-batch
          // pays a per-partition state-store load + commit (delta file +
          // fsync) regardless of rows, so a wide state on a small input is
          // almost pure commit overhead. Width is one partition per 32 MiB
          // of the largest staged tier file (one micro-batch), capped at
          // the session width so a big corpus keeps the deployment's
          // parallelism. The kept SET is state-width-invariant (DISTINCT
          // keys), so the oracle hash is unchanged.
          val maxFileBytes = (0 to 2).map(i => dirP.resolve(f"b$i%02d.parquet"))
            .filter(p => java.nio.file.Files.exists(p))
            .map(java.nio.file.Files.size(_)).foldLeft(0L)(math.max)
          val sessionW = graft.core.Partitioning.sessionWidth(s)
          val stateW = math.max(1L, math.min(sessionW.toLong,
            (maxFileBytes + (32 << 20) - 1) / (32 << 20))).toInt
          // a sibling session scopes the width to THIS streaming query —
          // the caller's session conf is never mutated
          ss = s.newSession()
          ss.conf.set("spark.sql.shuffle.partitions", stateW)
          val stream = ss.readStream.schema(tiered.schema)
            .option("maxFilesPerTrigger", 1).parquet(dirP.toString)
          val out = Streaming.streamingDedup(stream,
              concat_ws(":", col("tier"), col("user_id")), watermark = "10 minutes")
            .select(col("tier"), col("user_id"))
          val q = out.writeStream.outputMode("append").format("memory").queryName(qn)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          // Materialize the kept set OFF the memory sink so the sink's
          // driver-held rows and temp view don't outlive the query across
          // repeated bench passes. Driver footprint class is unchanged:
          // the memory sink already held exactly these rows (the distinct
          // (tier, user_id) key set — bounded by key cardinality, not by
          // the event count).
          val rows = ss.table(qn).collect()
          val schema = ss.table(qn).schema
          s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        } finally {
          if (ss != null) ss.catalog.dropTempView(qn)
          deleteRecursively(dirP)
        }
      }
    },
    // array outputs are emitted as canonical strings: the driver's oracle
    // checker cannot sort/hash array-typed cells (r1 err rows)
    "agg_collect_docs" -> oracled(
      s"SELECT lang, array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids FROM $D GROUP BY lang") {
      (s, dir) =>
        t(s, dir, D).groupBy("lang")
          .agg(concat_ws(",", array_sort(collect_list(col("doc_id")))).as("doc_ids"))
    },
    // l_quantity is the LAST ordering key: the synthetic lineitem carries
    // full (suppkey, shipdate, orderkey, linenumber) duplicates with
    // different quantities at sf0.1, and a ROWS-frame running sum between
    // such peers is otherwise physical-order-dependent (engines disagree)
    "window_running_sum" -> oracled(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER w AS rn,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) OVER w AS DOUBLE), 2) AS run_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, dir) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        t(s, dir, "lineitem").select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"),
          round(sum(col("l_quantity").cast("decimal(20,2)")).over(w).cast("double"), 2).as("run_qty"))
    })
}
