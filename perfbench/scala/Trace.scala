package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Op

/** One timed call into a layer. `kind` is "build" (a call that returns a
  * DataFrame, including any jobs it runs eagerly), "action" (a call that
  * consumes one), or "pass" (the root of one pipeline pass). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job-group tag. */
final class EngineStats {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var exchanges = 0
  /** max/median task duration of each stage with at least two tasks. */
  val stageSkew = mutable.ArrayBuffer.empty[Double]

  def add(o: EngineStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; gcMs += o.gcMs; exchanges += o.exchanges
    stageSkew ++= o.stageSkew
  }

  def toJson: String =
    f"""{"jobs":$jobs,"tasks":$tasks,"exec_run_s":${runMs / 1e3}%.3f,""" +
      f""""exec_cpu_s":${cpuNs / 1e9}%.3f,"shuffle_write_mb":${shuffleWrite / 1048576.0}%.3f,""" +
      f""""shuffle_read_mb":${shuffleRead / 1048576.0}%.3f,"spill_mb":${spill / 1048576.0}%.3f,""" +
      f""""gc_s":${gcMs / 1e3}%.3f,"exchanges":$exchanges,""" +
      f""""task_skew":${if (stageSkew.isEmpty) 0.0 else stageSkew.max}%.3f}"""
}

/** Span recorder. Disabled, it runs the wrapped call and nothing else, so
  * the untraced passes measure the program alone. Enabled, it tags every
  * Spark job with the innermost open span (job group = span id) and a
  * SparkListener plus a QueryExecutionListener attribute stage metrics and
  * plan exchanges to spans. The listeners are registered only while a root
  * span is open, so untraced passes in the same session never run them.
  * Spans stay in memory until [[writeTrace]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private val stats = mutable.Map.empty[Int, EngineStats]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val sc = spark.sparkContext

  private def statsOf(span: Int): EngineStats = synchronized(stats.getOrElseUpdate(span, new EngineStats))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(-1)
      Tracer.this.synchronized {
        e.stageIds.foreach(s => stageSpan(s) = span)
        statsOf(span).jobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = statsOf(stageSpan.getOrElse(e.stageId, -1))
      st.tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageTasks.remove(id).filter(_.length >= 2).foreach { ds =>
        val sorted = ds.sorted
        val med = sorted(sorted.length / 2).max(1L)
        statsOf(stageSpan.getOrElse(id, -1)).stageSkew += sorted.last.toDouble / med
      }
    }
  }

  /** The span a query ran under is the one open when it finished: queries
    * run synchronously on the thread that holds the span. */
  private val qel = new QueryExecutionListener {
    private def count(qe: QueryExecution): Unit = {
      val n = Plans.exchanges(qe.executedPlan)
      Tracer.this.synchronized(statsOf(if (stack.isEmpty) -1 else stack.top).exchanges += n)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = count(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = count(qe)
  }

  /** Runs `f` inside a span named after a layer of the program. */
  def span[T](name: String, kind: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        if (stack.isEmpty) {
          sc.addSparkListener(listener)
          spark.listenerManager.register(qel)
        }
        val s = Span(spans.length, if (stack.isEmpty) -1 else stack.top, name, kind, System.nanoTime())
        spans += s
        stack.push(s.id)
        s
      }
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        Plans.drain(spark)
        val closedRoot = synchronized {
          s.endNs = System.nanoTime()
          stack.pop()
          if (stack.nonEmpty) sc.setJobGroup(s"span-${stack.top}", spans(stack.top).name, interruptOnCancel = false)
          stack.isEmpty
        }
        // outside the lock: removing a listener may wait for the bus thread,
        // which takes the lock in onTaskEnd
        if (closedRoot) {
          sc.clearJobGroup()
          sc.removeSparkListener(listener)
          spark.listenerManager.unregister(qel)
        }
      }
    }

  /** The op itself when disabled; a delegate that spans `apply` otherwise. */
  def op(o: Op): Op = if (!enabled) o else new Op {
    val name: String = o.name
    def inputKeys: Seq[String] = o.inputKeys
    def outputKeys: Seq[String] = o.outputKeys
    def apply(df: DataFrame): DataFrame = span(Layers.of(o), "build")(o(df))
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Engine stats of `root` and every span below it. */
  def engineUnder(root: Span): EngineStats = synchronized {
    val under = mutable.Set(root.id)
    spans.foreach(s => if (under.contains(s.parent)) under += s.id)
    val total = new EngineStats
    under.foreach(id => stats.get(id).foreach(total.add))
    total
  }

  /** Summed wall of the outermost `kind` spans below `root`, and their jobs. */
  def phase(root: Span, kind: String): (Double, Int) = synchronized {
    val kids = spans.filter(s => s.kind == kind && s.parent == root.id)
    (kids.map(_.seconds).sum, kids.map(s => engineUnder(s).jobs).sum)
  }

  def writeTrace(path: String, meta: String): Unit = {
    val sb = new StringBuilder(s"""{"meta":$meta,"spans":[\n""")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","kind":"${s.kind}",""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,""" +
        s""""engine":${synchronized(stats.get(s.id)).map(_.toJson).getOrElse("{}")}}""")
    }
    sb.append("\n]}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

/** Layer names of the Pipeline ops, after this repository's module names;
  * the other workloads name their spans at the call site. */
object Layers {
  def of(o: Op): String = o.getClass.getName match {
    case n if n.startsWith("graft.ops.refine.") => "refine"
    case n if n.startsWith("graft.ops.filter.") => "filter"
    case n if n.endsWith(".HashDeduplicateFilter") => "dedup.exact"
    case n if n.endsWith(".MinHashDeduplicateFilter") => "dedup.minhash"
    case n if n.endsWith(".SimHashDeduplicateFilter") => "dedup.simhash"
    case n => n
  }
}

/** Plan inspection: exchanges and the columns each file scan reads. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Every node of `plan`, through adaptive stages, subqueries and the
    * plans of cached relations it reads. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) {
      case c: InMemoryTableScanExec => c +: nodes(c.relation.cachedPlan)
      case p => Seq(p)
    }.flatten

  def exchanges(plan: SparkPlan): Int = nodes(plan).count(_.isInstanceOf[ShuffleExchangeLike])

  /** (scanned root paths, ReadSchema column names) of every file scan. */
  def scans(plan: SparkPlan): Seq[(Seq[String], Seq[String])] = nodes(plan).collect {
    case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toString), s.requiredSchema.fieldNames.toSeq)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Records the file scans of every query while installed. */
final class ScanRecorder(spark: SparkSession) extends QueryExecutionListener {
  val scans = mutable.ArrayBuffer.empty[(Seq[String], Seq[String])]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(scans ++= Plans.scans(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  spark.listenerManager.register(this)
  def close(): Unit = { Plans.drain(spark); spark.listenerManager.unregister(this) }
}
