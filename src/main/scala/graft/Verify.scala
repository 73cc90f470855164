package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // this run feeds the DuckDB oracle, which replays sim_ivf_topk from
    // the exported centroids — so the export must happen HERE (and only
    // here: bench passes skip it, see graft.queries.Sim.ivfExportDir)
    sys.props("graft.ivf.export") = "true"
    val spark = LocalSpark.session()
    new java.io.File(outDir).mkdirs()
    // comma-separated name filter for targeted oracle iteration (dev
    // only — the driver's recorded verify always dumps everything)
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must fail loudly, not silently select zero queries
    // and leave a stale outDir for check_oracle to "mismatch" against
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"GRAFT_VERIFY_ONLY names not in the registry: ${unknown.mkString(",")}")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // A tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
