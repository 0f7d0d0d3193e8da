package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span (or, under [[Counters.Total]], to the
  * whole run). */
final class Work {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunNs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val outputBytes = new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "task_run_ns" -> taskRunNs.get,
    "task_cpu_ns" -> taskCpuNs.get, "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "output_bytes" -> outputBytes.get)
}

/** Job and task accounting from outside the engine. Each job is charged to
  * the span that submitted it, read from the [[Counters.SpanKey]] local
  * property of the submitting thread (threads the engine spawns inherit
  * it); each task to the span of its stage's job. */
final class Counters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val bySpan = new ConcurrentHashMap[String, Work]()

  def work(span: String): Work = bySpan.computeIfAbsent(span, _ => new Work)
  def total: Work = work(Counters.Total)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.SpanKey)))
      .getOrElse(Counters.Unattributed)
    e.stageIds.foreach(stageSpan.put(_, span))
    work(span).jobs.incrementAndGet()
    total.jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val span = stageSpan.getOrDefault(e.stageId, Counters.Unattributed)
      Seq(work(span), total).foreach { w =>
        w.tasks.incrementAndGet()
        w.taskRunNs.addAndGet(m.executorRunTime * 1000000L)
        w.taskCpuNs.addAndGet(m.executorCpuTime)
        w.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }
}

object Counters {
  val SpanKey = "perfbench.span"
  val Total = "total"
  val Unattributed = "none"
}

/** Query executions and their planning time (analysis, optimization and
  * physical planning phases of each execution's tracker). */
final class Plans extends QueryExecutionListener {
  val executions = new AtomicLong
  val planNs = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    planNs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** One traced call into a layer. Times are nanoseconds since the run's
  * start; `parent` is -1 for the run span itself. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, var end: Long = -1L)

/** Span recorder for the traced run. Spans stay in memory and are written
  * once, at the end; the untraced run gets a tracer that only runs bodies.
  * Spans nest on the driver thread; the current span id is published as a
  * Spark local property so the jobs it causes are charged to it. */
final class Tracer(val enabled: Boolean, sc: SparkContext, t0: Long) {
  private val spans = mutable.ArrayBuffer(Span(0, -1, "run", "harness", 0L))
  private var stack = List(0)
  if (enabled) sc.setLocalProperty(Counters.SpanKey, "0")

  def apply[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.head, name, layer, System.nanoTime() - t0)
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Counters.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime() - t0
        stack = stack.tail
        sc.setLocalProperty(Counters.SpanKey, stack.head.toString)
      }
    }

  def close(): Unit = spans.head.end = System.nanoTime() - t0

  def all: Seq[Span] = spans.toSeq

  /** Duration of each span minus the durations of its direct children. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    spans.map(s => s.id -> (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }
}

/** Process-level context: CPU, GC and JIT time of this JVM. */
object Host {
  private val os = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])

  def processCpuNs: Long = os.getProcessCpuTime
  def gcNs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum * 1000000L
  def jitNs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L
  def cpus: Int = Runtime.getRuntime.availableProcessors
}
