package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did on behalf of one span: filled by the listeners below. */
final class SpanCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  /** Call site of each job ("head at Tables.scala:118"). */
  val jobSites = ArrayBuffer.empty[String]
  /** (launch, finish) epoch ms of every task, for idle-core time. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = {
    jobs = 0; stages = 0; tasks = 0; taskRunMs = 0; taskCpuNs = 0; gcMs = 0
    shuffleWriteBytes = 0; shuffleReadBytes = 0; spillBytes = 0; scanBytes = 0
    jobSites.clear(); taskIntervals.clear()
  }
}

/** Catalyst work of every Dataset action in one operation. */
final class CatalystCounters {
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var planNodes = 0L
}

final class Span(
    val id: Int,
    val name: String,
    val parent: Int,
    val op: Int,
    val startNs: Long,
    val startMs: Long) {
  var endNs = -1L
  var endMs = -1L
  val counters = new SpanCounters
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into graft's layers, with Spark's
  * work attributed to them exactly: the benchmark thread sets the span
  * id as a local property before each call, every job submitted from
  * that thread carries it, and the listener maps job → stages → tasks
  * back to the span. Catalyst phases arrive through a
  * QueryExecutionListener and are charged to the operation that is
  * running; the listener bus is drained at the end of each operation,
  * so nothing leaks into the next one. Spans stay in memory until the
  * run ends. When disabled every method is a plain pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Key

  val spans = ArrayBuffer.empty[Span]
  val catalyst = TrieMap.empty[Int, CatalystCounters]
  private val byId = TrieMap.empty[Int, Span]
  private val stageSpan = TrieMap.empty[Int, Span]
  /** SQL execution id → call site of the Dataset action that started it. */
  private val execSite = TrieMap.empty[Long, String]
  private var stack = List.empty[Span]
  @volatile private var currentOp = -1
  /** Time the benchmark thread spent in tracing bookkeeping. */
  var overheadNs = 0L

  private val sc = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSite(x.executionId) = x.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        spanOf(e.properties).foreach { s =>
          s.counters.jobs += 1
          // adaptive query stages run on a pool thread, so their own call
          // site is the pool's; the SQL execution's is the action's
          val exec = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => execSite.get(id.toLong))
          s.counters.jobSites += exec.getOrElse(
            if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
          e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        spanOf(e.properties).orElse(stageSpan.get(e.stageInfo.stageId))
          .foreach { s =>
            s.counters.stages += 1
            stageSpan(e.stageInfo.stageId) = s
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageSpan.get(e.stageId).foreach { s =>
          val c = s.counters
          c.tasks += 1
          c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          val m = e.taskMetrics
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
            c.scanBytes += m.inputMetrics.bytesRead
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (currentOp >= 0) {
          val c = catalyst.getOrElseUpdate(currentOp, new CatalystCounters)
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
          c.analysisMs += ms("analysis")
          c.optimizationMs += ms("optimization")
          c.planningMs += ms("planning")
          c.planNodes += qe.optimizedPlan.collectWithSubqueries { case p => p }.size
        }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def spanOf(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(x => Option(x.getProperty(Key))).flatMap(id =>
      byId.get(id.toInt))

  /** Run `f` inside a span named `name`. A span with `op >= 0` opens an
    * operation: Catalyst work is charged to it until it closes.
    */
  def span[A](name: String, op: Int = -1)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val parent = stack.headOption
      val opId = if (op >= 0) op else parent.map(_.op).getOrElse(-1)
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), opId,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      byId(s.id) = s
      stack = s :: stack
      if (op >= 0) currentOp = op
      sc.setLocalProperty(Key, s.id.toString)
      overheadNs += System.nanoTime() - t0
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
        overheadNs += System.nanoTime() - s.endNs
      }
    }

  /** Make every event of the operation that just ended visible, then stop
    * charging Catalyst work to it.
    */
  def endOp(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.ListenerDrain(sc)
    currentOp = -1
    overheadNs += System.nanoTime() - t0
  }

  /** Deliver pending events (work done outside any span) before the next
    * operation starts charging Catalyst work to itself.
    */
  def quiesce(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.ListenerDrain(sc)
    overheadNs += System.nanoTime() - t0
  }

  /** Spans named `name`, in start order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counters summed over `ss`. */
  def total(ss: Seq[Span])(f: SpanCounters => Long): Long =
    ss.map(s => f(s.counters)).sum

  /** Forget Spark work seen so far (keeps the spans themselves). */
  def resetCounters(): Unit = {
    spans.foreach(_.counters.reset())
    catalyst.clear()
  }

  /** Time inside `s` when no task was running. Operations run one at a
    * time, so every task seen in the window is the operation's own.
    */
  def noTaskMs(s: Span): Long = {
    val iv = spans.toSeq.flatMap(_.counters.taskIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
    (s.endMs - s.startMs) - Tracer.covered(iv)
  }

  /** Span duration minus the part its children cover. */
  def selfNs(s: Span): Long =
    s.durNs - Tracer.covered(
      spans.toSeq.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)))

  /** The spans as JSON-ready maps (written to the trace file). */
  def dump(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val c = s.counters
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.durNs / 1e6, "self_ms" -> selfNs(s) / 1e6,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_run_ms" -> c.taskRunMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "scan_bytes" -> c.scanBytes, "job_sites" -> c.jobSites.toSeq)
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Length of the union of half-open intervals `[a, b)`. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }
}
