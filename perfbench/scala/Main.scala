package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.OperatingSystemMXBean
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, one cold pass, then warm passes for
  * `--seconds`, every pass checked against the planted truth. Prints the
  * result as one JSON object on the last line of stdout.
  *
  * Load model: a closed loop with one client. This thread submits one
  * pipeline pass at a time; the next starts when the previous completes.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --scratch DIR */
object Main {
  /** Warm passes at least, whatever `--seconds` says, so a median exists. */
  val MinWarm = 2
  /** Untraced and traced warm passes of a trace run. */
  val TracePasses = 2

  /** One pass: wall, process CPU, heap allocated and the old generation's
    * peak (both MiB), its output, and the problems its check found. */
  final case class PassResult(wall: Double, cpu: Double, allocMb: Double, oldPeakMb: Double,
      out: Option[AnyRef], problems: Seq[String])

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The old generation: what outlives young collections, such as
    * operator buffers, cached blocks and broadcasts. */
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*")).get

  final class Env(val spark: SparkSession, val stub: Option[Stub]) {
    def stop(): Unit = { stub.foreach(_.stop()); spark.stop() }
  }

  /** What a user's job pays before its first pipeline call: the Spark
    * session, one trivial job that starts the scheduler, and for llm_synth
    * the serving endpoint. */
  def setUp(cpus: Int, withStub: Boolean): Env = {
    val spark = graft.LocalSpark.session(cpus.toString)
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    new Env(spark, if (withStub) Some(new Stub(cpus)) else None)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val scratch = args("scratch")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

    // timed from JVM start, so setup_s includes class loading and JIT of
    // the session code, as a one-shot job pays them
    val env = setUp(cpus, workload == "llm_synth")
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = env.spark
    val w = Workload(workload, spark, args("data"), scratch, env.stub)
    println(f"[perfbench] workload=$workload seed=$seed rows=${w.rows} cpus=$cpus setup=$setupS%.3f s")

    val off = new Tracer(spark, enabled = false)
    // every pass starts from a collected heap, so no pass pays for the
    // garbage of the one before it, and the old generation's peak within a
    // pass is what that pass kept alive
    def run(tr: Tracer): PassResult = {
      System.gc()
      oldGen.resetPeakUsage()
      val alloc0 = threads.getTotalThreadAllocatedBytes
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val out = try Right(tr.span("pass", "pass")(w.pass(tr))) catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val allocMb = (threads.getTotalThreadAllocatedBytes - alloc0) / 1048576.0
      val oldPeakMb = oldGen.getPeakUsage.getUsed / 1048576.0
      val problems = out match {
        case Left(e) => Seq(s"pass threw $e")
        case Right(o) => try w.check(o) catch { case e: Exception => Seq(s"check threw $e") }
      }
      problems.foreach(p => println(s"[perfbench] CHECK FAILED: $p"))
      PassResult(wall, cpu, allocMb, oldPeakMb, out.toOption, problems)
    }

    // cold pass, with the plan check: some scan of the inputs must read the
    // text or embedding (a timed action over pruned columns measures nothing)
    val scans = new ScanRecorder(spark)
    val firstPass = run(off)
    scans.close()
    val inputScans = scans.scans.filter(s => s._1.exists(p => w.inputs.exists(i => p.endsWith(i.stripPrefix(".")))))
    val planProblems =
      if (inputScans.exists(_._2.exists(c => c == "text" || c == "embedding"))) Nil
      else Seq("no scan of the inputs reads the text or embedding column")
    planProblems.foreach(p => println(s"[perfbench] CHECK FAILED: $p"))
    val cold = firstPass.copy(problems = firstPass.problems ++ planProblems)
    println(s"[perfbench] read schemas: ${inputScans.map(_._2.mkString("[", ",", "]")).distinct.mkString(" ")}")

    val passes = mutable.ArrayBuffer(cold)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val warm = mutable.ArrayBuffer.empty[PassResult]
      while (warm.length < MinWarm || warm.map(_.wall).sum < seconds) warm += run(off)
      passes ++= warm
      val failed = passes.count(_.problems.nonEmpty)
      metrics("rows_per_s") = (w.rows / median(warm.map(_.wall).toSeq), "rows/s")
      metrics("cold_pass_s") = (cold.wall, "s")
      metrics("setup_s") = (setupS, "s")
      metrics("cpu_s") = (median(warm.map(_.cpu).toSeq), "s")
      metrics("alloc_mb") = (median(warm.map(_.allocMb).toSeq), "MiB")
      metrics("ok_frac") = (1.0 - failed.toDouble / passes.length, "ratio")
      println(f"[perfbench] warm passes: ${warm.map(p => f"${p.wall}%.3f").mkString(" ")} s")
    } else {
      // untraced and traced passes run in ABBA order (u t t u ...), so the
      // JIT's warm-up trend does not favour either side of the overhead
      val tr = new Tracer(spark, enabled = true)
      val zero = (0L, 0L, 0L, 0.0, 0L)
      var served = zero
      def runTraced(): PassResult = {
        val b = env.stub.map(_.snapshot()).getOrElse(zero)
        val t = run(tr)
        val a = env.stub.map(_.snapshot()).getOrElse(zero)
        served = (served._1 + a._1 - b._1, served._2 + a._2 - b._2, served._3 + a._3 - b._3,
          served._4 + a._4 - b._4, served._5 + a._5 - b._5)
        t
      }
      val (untraced, traced) = (0 until TracePasses).map { i =>
        if (i % 2 == 0) { val u = run(off); (u, runTraced()) }
        else { val t = runTraced(); (run(off), t) }
      }.unzip
      passes ++= untraced ++ traced
      val root = tr.all.filter(_.kind == "pass").last
      val (buildS, buildJobs) = tr.phase(root, "build")
      val (actionS, _) = tr.phase(root, "action")
      val eng = tr.engineUnder(root)
      val lay = mutable.LinkedHashMap.empty[String, Double]
      lay("build.s") = buildS
      lay("build.jobs") = buildJobs
      lay("action.s") = actionS
      val iso = w.isolated()
      lay ++= iso
      val opSum = iso.collect { case (k, v) if k.endsWith(".s") && !k.startsWith("core.") => v }.sum
      lay("core.pipeline.fusion_ratio") = if (opSum > 0) root.seconds / opSum else 0.0
      traced.last.out.foreach(o => lay ++= w.outputMetrics(o))
      if (env.stub.nonEmpty) {
        val s = traced.map(_.wall).sum
        lay("serving.requests") = served._1.toDouble / traced.length
        lay("serving.req_per_s") = served._1 / s
        lay("serving.inflight_mean") = served._4 / (s * 1e9)
        lay("serving.busy_frac") = served._5 / (s * 1e9)
        lay("serving.retries") = served._2.toDouble / traced.length
        lay("serving.failed") = served._3.toDouble / traced.length
      }
      lay("jvm.peak_old_gen_mb") = traced.map(_.oldPeakMb).max
      lay("engine.tasks") = eng.tasks.toDouble
      lay("engine.exec_cpu_s") = eng.cpuNs / 1e9
      lay("engine.shuffle_write_mb") = eng.shuffleWrite / 1048576.0
      lay("engine.shuffle_read_mb") = eng.shuffleRead / 1048576.0
      lay("engine.spill_mb") = eng.spill / 1048576.0
      lay("engine.gc_s") = eng.gcMs / 1e3
      lay("engine.task_skew") = if (eng.stageSkew.isEmpty) 0.0 else eng.stageSkew.max
      lay("engine.exchanges") = eng.exchanges.toDouble
      val rpsUntraced = w.rows / median(untraced.map(_.wall))
      val rpsTraced = w.rows / median(traced.map(_.wall))
      lay("trace.rows_per_s") = rpsTraced
      lay("trace.overhead_frac") = rpsUntraced / rpsTraced - 1.0
      val path = s"$scratch/trace-$workload-s$seed.json"
      tr.writeTrace(path, s"""{"workload":"$workload","seed":$seed,"cpus":$cpus,"rows":${w.rows}}""")
      println(s"[perfbench] trace file: $path")
      println(f"[perfbench] tracing overhead: untraced $rpsUntraced%.1f rows/s, traced $rpsTraced%.1f rows/s (${(rpsUntraced / rpsTraced - 1) * 100}%+.1f%%)")
      Metrics.perLayer.foreach { case (name, unit) => metrics(name) = (lay.getOrElse(name, 0.0), unit) }
    }
    val failed = passes.count(_.problems.nonEmpty)
    val correct = failed == 0
    metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-32s $v%14.4f $u") }
    println(s"[perfbench] output check: ${if (correct) "ok" else "FAILED"}")
    val body = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    env.stop()
    println(s"""{"correct":$correct,"attempted":${passes.length},"failed":$failed,"metrics":{$body}}""")
  }
}

/** The per-layer metric names and units, printed in this order. */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    "build.s" -> "s", "build.jobs" -> "count", "action.s" -> "s",
    "refine.s" -> "s", "filter.s" -> "s", "filter.keep_frac" -> "ratio",
    "dedup.exact.s" -> "s", "dedup.minhash.s" -> "s", "dedup.simhash.s" -> "s",
    "dedup.exact.drop_frac" -> "ratio", "dedup.minhash.drop_frac" -> "ratio",
    "dedup.simhash.drop_frac" -> "ratio", "dedup.minhash.planted_recall" -> "ratio",
    "core.pipeline.fusion_ratio" -> "ratio",
    "core.storage.write_s" -> "s", "core.storage.read_s" -> "s", "core.storage.written_mb" -> "MiB",
    "dedup.sem.s" -> "s", "sim.lsh.s" -> "s", "sim.lsh.build_s" -> "s", "sim.ivf.s" -> "s",
    "sim.ivf.build_s" -> "s", "sim.join.s" -> "s", "sim.lsh.recall_at_k" -> "ratio",
    "sim.ivf.recall_at_k" -> "ratio",
    "gen.chunk.s" -> "s", "gen.prompted.s" -> "s", "eval.cider_d.s" -> "s", "text2sql.exec.s" -> "s",
    "serving.requests" -> "count", "serving.req_per_s" -> "1/s", "serving.inflight_mean" -> "count",
    "serving.busy_frac" -> "ratio", "serving.retries" -> "count", "serving.failed" -> "count",
    "engine.tasks" -> "count", "engine.exec_cpu_s" -> "s", "engine.shuffle_write_mb" -> "MiB",
    "engine.shuffle_read_mb" -> "MiB", "engine.spill_mb" -> "MiB", "engine.gc_s" -> "s",
    "engine.task_skew" -> "ratio", "engine.exchanges" -> "count", "jvm.peak_old_gen_mb" -> "MiB",
    "trace.rows_per_s" -> "rows/s", "trace.overhead_frac" -> "ratio")
}
