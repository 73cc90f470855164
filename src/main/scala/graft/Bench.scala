package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** One query's measurement: seconds for the best measured pass, the
    * ratio between the two BEST measured passes (1.0 when only one pass
    * is measured), the number of noise retries taken, or an error.
    *
    * `spread` certifies the reported min: passes run the same plan on
    * the same data back-to-back, so the second-best pass landing close
    * to the best means the figure is reproducible. (With exactly two
    * measured passes this is the same max/min ratio rounds ≤6 reported;
    * with retries it deliberately ignores a transient co-load spike
    * that a later pass disproved.) A query that throws (any pass) is
    * recorded as an error, never silently timed.
    *
    * `cpuRatio` = this JVM's process-CPU seconds consumed during the
    * reported pass / its wall seconds — the co-load attribution signal
    * (round 7's artifact could flag itself untrendable but not say
    * WHICH numbers to disbelieve). On an otherwise-idle machine a
    * parallel query runs ≫ 1 (up to the core count) and even a
    * scheduler-bound one sits near 1; wall time stolen by an external
    * process is time this JVM is descheduled, so cpu accrues but wall
    * keeps running and the ratio drops. A query whose wall is inflated
    * vs its standalone number while its cpuRatio fell proportionally is
    * externally stolen time, not code. */
  final case class Result(seconds: Double, spread: Double, error: Option[String],
      retried: Int = 0, cpuRatio: Double = -1.0)

  /** Locale-fixed decimal formatting for the artifact's JSON: Scala's
    * `f` interpolator uses the JVM default locale, so a comma-decimal default
    * (e.g. de_DE) would emit `0,40` and break every JSON consumer.
    * All emitted numbers go through here. */
  private[graft] def jnum(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Process-CPU clock (ns across all JVM threads, GC included); -1 when
    * the platform bean doesn't expose it (never on HotSpot). */
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def processCpuNanos(): Long =
    osBean.map(_.getProcessCpuTime).getOrElse(-1L)

  /** USER_HZ jiffy rate for every `/proc/stat` consumer — busy (ext)
    * AND steal, the two quietness metrics that are compared against
    * each other, so the rate must live in exactly one place (r15
    * advice; 100 is the universal Linux value — `getconf CLK_TCK` on
    * this box concurs). */
  private[graft] val UserHz = 100.0

  /** Busy jiffies from a `/proc/stat` aggregate "cpu " line: user + nice
    * + system + irq + softirq + steal (idle and iowait excluded — iowait
    * is idle-with-pending-IO, not compute). None when the line isn't the
    * aggregate cpu line (non-Linux, or a malformed read). */
  private[graft] def busyJiffies(statLine: String): Option[Long] = {
    val t = statLine.trim.split("\\s+")
    // 9 tokens = "cpu" + 8 fields through steal (f(7)); a 7-field line
    // (no steal column) must return None, not throw — a swallowed throw
    // would silently disable the co-load gate
    if (t.length < 9 || t(0) != "cpu") None
    else try {
      val f = t.drop(1).map(_.toLong)
      Some(f(0) + f(1) + f(2) + f(5) + f(6) + f(7)) // skip idle f(3), iowait f(4)
    } catch { case _: NumberFormatException => None }
  }

  /** One raw read of the aggregate cpu line — busy and steal deltas for
    * a window must parse the SAME snapshot, never two reads a few
    * statements apart (r15 advice: steal is a subset of busy, and a
    * skewed window makes the subset claim drift). */
  private def readStatCpuLine(): Option[String] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().nextOption()
      finally src.close()
    } catch { case _: Exception => None }

  private def readBusyJiffies(): Option[Long] =
    readStatCpuLine().flatMap(busyJiffies)

  /** Steal jiffies alone (field 8 of the aggregate cpu line) — the
    * hypervisor withholding this guest's vCPUs. Steal is already INSIDE
    * busyJiffies (so ext_cpu_cores gates on it), but reporting it
    * separately attributes a dirty window: ext≈steal means a contended
    * HOST (nothing on this box to kill), ext>>steal means another local
    * process. Motivated by the r14 canary investigation, where a
    * noisy-neighbor day produced 2x CPU-seconds on memory-bound queries
    * while ext read 0.00 over the full loop (per-query bursts dilute in
    * a run-level average; 7,183 core-s of cumulative steal told the
    * real story). */
  private[graft] def stealJiffies(statLine: String): Option[Long] = {
    val t = statLine.trim.split("\\s+")
    if (t.length < 9 || t(0) != "cpu") None
    else try Some(t(8).toLong)
    catch { case _: NumberFormatException => None }
  }


  private def loadAvg1(): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().nextOption().map(_.split("\\s+")(0).toDouble)
      finally src.close()
    } catch { case _: Exception => None }

  /** Average CPU cores consumed by OTHER processes during the run:
    * machine-wide busy CPU seconds (jiffies at USER_HZ=100 — the
    * universal Linux value; `getconf CLK_TCK` on this box concurs)
    * minus this JVM's process-CPU seconds, over the run's wall span.
    * This is the signal the round-11 artifact lacked: a STEADY co-load
    * inflates every pass equally, so the pass-to-pass `pass_noise`
    * tripwire (spread-based) cannot see it — r11's recorded bench ran
    * under a 29-core campaign JVM and self-certified p90=1.184 "clean".
    * External CPU is absolute, not differential: that run would have
    * read ~26-29 external cores against a quiet-machine floor of
    * well under 0.5. */
  private[graft] def externalCores(busyDeltaJiffies: Long, jvmCpuSec: Double,
      wallSec: Double, hz: Double = UserHz): Double =
    if (wallSec <= 0) 0.0
    else math.max(0.0, busyDeltaJiffies / hz - jvmCpuSec) / wallSec

  /** Sustained external load above this many cores marks the run
    * untrendable. Quiet-machine background (kernel threads, the round
    * driver's poller) measures well under 0.5 cores over a multi-minute
    * run; any concurrent JVM/compile job blows past 1.5 immediately. */
  private[graft] val MaxExternalCores = 1.5

  /** Max tolerated pre/post calibration-bracket ratio before the run
    * self-flags `cal_drift`: quiet same-regime runs measure ≤ 1.05
    * (r14's clean sf0.1: 0.5%; its ×10 canary: 3.6%), while the r15
    * split-regime attempts read 1.38-1.62. 1.15 sits well above
    * re-measurement noise and well below any drift that would move a
    * day-adjusted trend materially. */
  private[graft] val MaxCalDrift = 1.15

  /** Measure each query.
    *
    * Methodology (round 6 — the recorded mode): `passes` total runs per
    * query; when `passes >= 3` the FIRST pass is a discarded warmup (it
    * absorbs JIT/codegen/scan-infra setup for that plan shape) and the
    * reported figure is the min of the remaining passes — a min over two
    * post-warmup passes actually rejects a one-off GC/code-cache spike,
    * which min-of-2-including-cold could not. When `isolate` is set, the
    * session is quiesced before each query: cached/persisted data from
    * earlier queries is dropped and a full GC runs (also triggering
    * Spark's ContextCleaner, so broadcast/shuffle state from prior
    * queries is reclaimed OUTSIDE any timed region). Without this, a
    * 200-query session smears accumulated memory pressure randomly
    * across queries — individual queries measured 2-5x their standalone
    * time, and identical-code session totals swung 1.25-1.5x between
    * rounds 3-5. */
  private[graft] def runQueries(
      spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      passes: Int = 3, isolate: Boolean = true): Seq[(String, Result)] =
    queries.map { case (name, fn) =>
      val r =
        try {
          if (isolate) {
            spark.catalog.clearCache()
            System.gc()
          }
          // (wall seconds, cpu/wall ratio) per measured pass
          val measuredPasses =
            scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
          def times = measuredPasses.map(_._1)
          def onePass(): (Double, Double) = {
            val c0 = processCpuNanos()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            val c1 = processCpuNanos()
            val ratio =
              if (c0 >= 0 && c1 >= 0 && wall > 0) (c1 - c0) / 1e9 / wall
              else -1.0
            (wall, ratio)
          }
          var p = 0
          val warmups = if (passes >= 3) 1 else 0
          while (p < passes) {
            val s = onePass()
            if (p >= warmups) measuredPasses += s
            p += 1
          }
          // spread over the two best passes; 1.0 with a single pass
          def spreadOf(ts: Seq[Double]): Double = {
            val srt = ts.sorted
            if (srt.size >= 2 && srt.head > 0) srt(1) / srt.head else 1.0
          }
          // Noise retry (round 7): when the two best passes disagree
          // >1.3x, the larger one is almost certainly external co-load
          // (the r5/r6 recorded artifacts each misstated 1-2 queries by
          // 5-12x this way while the code was provably fine). Re-measure
          // — bounded at 2 extra passes — so a transient spike has to
          // recur to survive into the artifact. Sub-100ms queries are
          // skipped: their ratio is scheduler jitter, and the noise
          // aggregate already excludes them. Warmup-less modes
          // (passes < 3) are also skipped: without a discarded warmup
          // the first measured pass carries plan compilation/codegen,
          // so a >1.3x gap there is expected, not co-load — and those
          // modes promise an exact pass count to their caller.
          var retried = 0
          while (warmups > 0 && times.size >= 2 && times.min >= 0.1 &&
                 spreadOf(times.toSeq) > 1.3 && retried < 2) {
            if (isolate) { spark.catalog.clearCache(); System.gc() }
            measuredPasses += onePass()
            retried += 1
          }
          // the cpu ratio reported is the one of the pass whose wall is
          // reported — attribution must describe the recorded number
          val best = measuredPasses.minBy(_._1)
          Result(best._1, spreadOf(times.toSeq), None, retried, best._2)
        } catch {
          case e: Throwable =>
            Result(-1.0, 1.0, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"))
        }
      name -> r
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // "isolated" (default) = the recorded methodology: quiesce + warmup +
    // min-of-2-measured. "session" = fast smoke: no quiesce, min-of-2.
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "isolated")
    val isolate = mode != "session"
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt)
      .getOrElse(if (isolate) 3 else 2)
    // passes=0 would skip every measurement and record total=Infinity
    // with errors=0 — a garbage run that looks valid
    require(passes >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $passes")
    // comma-separated query-name filter, for standalone (fresh-JVM)
    // per-query measurement — tools/standalone_bench.sh
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = LocalSpark.session()
    // warm the session (codegen, scan infra) so the first measured query
    // doesn't absorb one-time JVM/session init
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val selected = only match {
      case Some(names) => SparkEntry.queries.toSeq.filter(kv => names(kv._1))
      case None        => SparkEntry.queries.toSeq
    }
    // Day-calibration probe (r12 verdict #3): every recorded artifact
    // carries its own machine-day figure — the ×20 amortized chain
    // rows/s, trended against the r7/r11/r12 pins (208k / 236.7k /
    // 206.8k) — so a cross-round wall comparison can be day-adjusted
    // from the artifact alone. ALWAYS probed at the fixed sf0.1 dir
    // (never the bench's own SF: calibration must be the same workload
    // every time, and a ×1000 bench would otherwise build a 100M-row
    // probe replica). Runs BEFORE the quietness bracket so its CPU
    // never counts against the measured loop. SPARK_GRAFT_CALIBRATE=0
    // skips it (smoke runs), and a query-filtered run (SPARK_GRAFT_ONLY
    // — the fresh-JVM single-query paths, standalone_bench.sh /
    // run_query_debug.sh) skips it by default: those JVMs exist to
    // measure ONE query in a clean room, and a probe that caches and
    // times a 100k-row replica first changes the JVM/page-cache state
    // every prior round's standalone numbers were taken without.
    // SPARK_GRAFT_CALIBRATE=1 forces it back on for a filtered run.
    val calibrateEnabled =
      !sys.env.get("SPARK_GRAFT_CALIBRATE").contains("0") &&
      (only.isEmpty || sys.env.get("SPARK_GRAFT_CALIBRATE").contains("1"))
    // Round 14 (r13 verdict #4 + advice): the probe is now (a) bracketed
    // by its OWN /proc/stat busy delta — it used to run before the
    // quietness bracket, so co-load DURING the probe was invisible and a
    // perturbed chain_rows_per_sec entered the artifact unflagged, with
    // bench_compare's day-adjusted ratios silently inheriting it — and
    // (b) run TWICE, before and after the measurement loop: a single
    // point is itself ±25% (199k–258k rows/s measured within one quiet
    // day on identical code), so the artifact now carries its own
    // intra-run drift bracket instead of one noisy point. A probe whose
    // own external CPU exceeds the run gate is suppressed from the
    // total line (its ext figure still rides, so the artifact says WHY
    // the field is missing).
    def calibrationProbe(when: String): (Option[Long], Option[Double]) =
      if (!calibrateEnabled) (None, None)
      else try {
        val calDir = sys.env.getOrElse("SPARK_GRAFT_CALIBRATE_DIR",
          "/root/testdata/sf0.1")
        val pb0 = readBusyJiffies()
        val pj0 = processCpuNanos()
        val pw0 = System.nanoTime()
        val (_, rps) = ThroughputBench.x20RowsPerSec(spark, calDir)
        val probeWall = (System.nanoTime() - pw0) / 1e9
        val ext = for {
          b0 <- pb0; b1 <- readBusyJiffies()
          if pj0 >= 0
        } yield externalCores(b1 - b0, (processCpuNanos() - pj0) / 1e9, probeWall)
        spark.catalog.clearCache()
        val extF = ext.map(e => s""","ext_cpu_cores":${jnum(e, 2)}""").getOrElse("")
        println(s"""{"metric":"calibrate","when":"$when","rows_per_sec":$rps$extF}""")
        (Some(rps), ext)
      } catch {
        case e: Throwable =>
          // same sanitation as query_error: quotes, backslashes, and
          // control chars (Spark analysis messages are multi-line)
          // would otherwise break the single-line JSON artifact
          val msg = String.valueOf(e.getMessage).take(80)
            .replace("\"", "'").replace("\\", "/")
            .replaceAll("[\\x00-\\x1F]", " ")
          println(s"""{"metric":"calibrate_error","when":"$when","error":"$msg"}""")
          (None, None)
      }
    def cleanRps(rps: Option[Long], ext: Option[Double]): Option[Long] =
      rps.filter(_ => !ext.exists(_ > MaxExternalCores))
    val (chainRpsPreRaw, calExtPre) = calibrationProbe("pre")
    val chainRps = cleanRps(chainRpsPreRaw, calExtPre)
    // machine-quietness span brackets the ENTIRE measurement loop (the
    // co-load that matters is co-load during any timed pass)
    val stat0 = readStatCpuLine() // ONE snapshot feeds busy AND steal
    val busy0 = stat0.flatMap(busyJiffies)
    val steal0 = stat0.flatMap(stealJiffies)
    val jvmCpu0 = processCpuNanos()
    val runWall0 = System.nanoTime()
    val measured = runQueries(spark, sfDir, selected, passes, isolate)
    val runWallSec = (System.nanoTime() - runWall0) / 1e9
    val stat1 = readStatCpuLine() // same-instant close of both windows
    val extCores: Option[Double] = for {
      b0 <- busy0; b1 <- stat1.flatMap(busyJiffies)
      if jvmCpu0 >= 0
    } yield externalCores(b1 - b0, (processCpuNanos() - jvmCpu0) / 1e9, runWallSec)
    // steal share of the same window (subset of ext — attribution only)
    val stealCores: Option[Double] = for {
      s0 <- steal0; s1 <- stat1.flatMap(stealJiffies)
      if runWallSec > 0
    } yield (s1 - s0) / UserHz / runWallSec
    // post-loop calibration probe — AFTER the run's quietness bracket is
    // closed, so the probe's CPU never counts against the measured loop
    val (chainRpsPostRaw, calExtPost) = calibrationProbe("post")
    val chainRpsPost = cleanRps(chainRpsPostRaw, calExtPost)
    val results = measured.collect { case (n, Result(s, _, None, _, _)) => n -> s }.toMap
    val spreads = measured.collect { case (n, Result(_, sp, None, _, _)) => n -> sp }
    val errors = measured.collect { case (n, Result(_, _, Some(e), _, _)) => n -> e }
    val cpuRatios = measured.collect {
      case (n, Result(_, _, None, _, cr)) if cr >= 0 => n -> cr }.toMap

    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The driver captures only the last ~2000 chars of output, so the
    // metric line must stay well under that: report every query's time
    // in a separate (truncation-tolerant) line, and keep the one parsed
    // JSON line to the headline subset.
    val qsAll = results.map { case (k, v) => s"\"" + k + "\":" + jnum(v, 3) }
      .mkString("{", ",", "}")
    // cpu_ratio rides the same line (it describes the same reported
    // passes) as a sibling key, so bench_compare's `queries` parse is
    // untouched: process-cpu/wall of each query's reported pass —
    // co-load steals wall but not this JVM's cpu, so an inflated query
    // whose ratio dropped proportionally is machine-readably stolen
    // time, not code (see Result.cpuRatio).
    val crAll = cpuRatios.map { case (k, v) => s"\"" + k + "\":" + jnum(v, 2) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"all_queries","queries":$qsAll,"cpu_ratio":$crAll}""")
    // In-run noise estimate from each query's two BEST measured passes
    // (same plan, same data, back-to-back): the median and p90 of that
    // per-query ratio certify a single run's self-consistency without
    // needing a second full run. Queries under 100 ms are excluded from
    // the aggregate (their ratio is dominated by scheduler jitter, not
    // measurement drift); the worst offenders above that floor are
    // listed so a spike is attributable. `retried` counts queries whose
    // initial passes disagreed >1.3x and were re-measured.
    val ratios = spreads.collect {
      case (n, sp) if results.getOrElse(n, 0.0) >= 0.1 => n -> sp
    }.sortBy(-_._2)
    val retriedCount = measured.count(_._2.retried > 0)
    val noiseP90: Option[Double] =
      if (ratios.nonEmpty && passes >= 2) {
        val sorted = ratios.map(_._2).sorted
        val med = sorted(sorted.size / 2)
        val p90 = sorted(math.min(sorted.size - 1, (sorted.size * 9) / 10))
        val worst = ratios.take(5).map { case (n, sp) =>
          s"\"" + n + "\":" + jnum(sp, 2) }.mkString("{", ",", "}")
        println(s"""{"metric":"pass_noise","median":${jnum(med, 3)},"p90":${jnum(p90, 3)},"nqueries":${ratios.size},"retried":$retriedCount,"worst":$worst}""")
        Some(p90)
      } else None
    errors.foreach { case (n, e) =>
      println(s"""{"metric":"query_error","query":"$n","error":"${e.replace("\"", "'").replace("\\", "/").replaceAll("[\\x00-\\x1F]", " ")}"}""")
    }
    val headline = Vector(
      "q1_pricing", "q3_revenue_by_customer", "q5_region_revenue",
      "join_bucketed", "sort_topk_orders", "window_running_sum",
      "stream_window_agg", "dedup_hash", "dedup_ccnet", "dedup_minhash",
      "dedup_simhash", "dedup_sem_lsh",
      "dedup_kcenter", "sim_topk_brute", "sim_lsh_topk", "sim_ivf_topk",
      "sim_join", "eval_bleu", "eval_cider_d", "kbc_chunks",
      "t2s_execution", "t2s_exec_classify", "text_quality_score",
      "text_fingerprint")
    val qs = headline.flatMap(k => results.get(k).map(v =>
      s"\"" + k + "\":" + jnum(v, 3))).mkString("{", ",", "}")
    // methodology markers ("mode","passes","stat") — rounds 1-3: single
    // cold pass; round 4: last-of-two; round 5: min-of-two; round 6+:
    // isolated warmup + min-of-two-measured — so cross-round totals are
    // only compared like-for-like
    val stat = if (passes >= 3) "min_after_warmup" else "min"
    // Even after per-query retries, a run whose noise p90 exceeds 1.2
    // is flagged untrendable IN the artifact of record: a co-loaded
    // machine can still inflate the total, but it can no longer do so
    // silently — any consumer trending totals must skip flagged runs.
    // Round 12 adds the second, independent gate the r11 artifact
    // proved necessary: pass_noise only sees pass-to-pass SPREAD, so a
    // STEADY external load (r11: a 29-core campaign JVM for the whole
    // bench) inflates every pass equally and sails through. External
    // CPU — machine busy minus this JVM — is absolute and catches it.
    val noisy = noiseP90.exists(_ > 1.2)
    val coLoaded = extCores.exists(_ > MaxExternalCores)
    // Third gate (r15): the pre/post calibration BRACKET. Two r15 ×10
    // canary attempts passed both gates above while their brackets read
    // 149.8k→207.1k and 144.5k→233.8k rows/s — the machine sped up
    // MID-RUN (host contention clearing), so no single day factor
    // describes the run and day-adjusted per-query ratios compare two
    // regimes, not code. Pass-noise can miss it (each query's passes
    // run back-to-back inside one regime) and ext/steal can miss it
    // (bandwidth contention bills as guest cpu). A drifting bracket is
    // exactly the "no single calibration is honest" signal, so it
    // flags the artifact itself.
    val calDrift = (for (a <- chainRps; b <- chainRpsPost)
      yield math.max(a, b).toDouble / math.max(1L, math.min(a, b)))
      .exists(_ > MaxCalDrift)
    // r16 (ADVICE): a missing bracket endpoint used to DISABLE the
    // drift check silently — a probe suppressed by its own co-load gate
    // (cleanRps) or a probe error left the run trendable with no
    // bracket at all, the exact "no honest calibration" condition
    // cal_drift exists to flag (r15's artifact of record passed it
    // vacuously: its post-probe was suppressed by a 2.69-core burst).
    // A calibrated run now requires BOTH endpoints to be trendable.
    val calMissing = calibrateEnabled && (chainRps.isEmpty || chainRpsPost.isEmpty)
    val untrendable = noisy || coLoaded || calDrift || calMissing
    val reason = Seq(if (noisy) Some("pass_noise") else None,
      if (coLoaded) Some("co_load") else None,
      if (calDrift) Some("cal_drift") else None,
      if (calMissing) Some("cal_missing") else None).flatten.mkString("+")
    val untrendableField =
      if (untrendable) s""""untrendable":true,"untrendable_reason":"$reason","""
      else ""
    // machine-state evidence rides the artifact unconditionally, so a
    // clean run proves it was clean and a dirty one names its thief
    val machineField =
      extCores.map(e => s""""ext_cpu_cores":${jnum(e, 2)},""").getOrElse("") +
      stealCores.map(s => s""""steal_cores":${jnum(s, 2)},""").getOrElse("") +
      loadAvg1().map(l => s""""loadavg1":${jnum(l, 2)},""").getOrElse("") +
      chainRps.map(r => s""""chain_rows_per_sec":$r,""").getOrElse("") +
      chainRpsPost.map(r => s""""chain_rows_per_sec_post":$r,""").getOrElse("") +
      calExtPre.map(e => s""""cal_ext_pre":${jnum(e, 2)},""").getOrElse("") +
      calExtPost.map(e => s""""cal_ext_post":${jnum(e, 2)},""").getOrElse("") +
      // calibration-methodology marker (r16, ADVICE): r15 switched the
      // probe statistic from min-of-3 to run-to-convergence, which
      // changes what chain_rows_per_sec MEANS (old quiet-day figures
      // were JIT-capped); without a marker, bench_compare's day factor
      // silently divides a converged number by a min-of-3 one across
      // rounds. Artifacts before this field are "min3" by default.
      (if (calibrateEnabled) s""""cal_stat":"converged",""" else "")
    println(s"""{"metric":"total","value":${jnum(total, 3)},"unit":"sec","mode":"$mode","passes":$passes,"stat":"$stat",$untrendableField$machineField"nqueries":${measured.size},"errors":${errors.size},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
    // failure-honest: any query that threw makes the bench itself red
    if (errors.nonEmpty) sys.exit(1)
  }
}
