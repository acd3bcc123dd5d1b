package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted at one attribution key. */
final class Work {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planningMs = new AtomicLong

  def snapshot: WorkSnap = WorkSnap(jobs.get, stages.get, tasks.get, runMs.get,
    shuffleBytes.get, spillBytes.get, planningMs.get)
}

final case class WorkSnap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    shuffleBytes: Long, spillBytes: Long, planningMs: Long) {
  def -(o: WorkSnap): WorkSnap = WorkSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, planningMs - o.planningMs)
  def +(o: WorkSnap): WorkSnap = WorkSnap(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, planningMs + o.planningMs)
}
object WorkSnap { val zero: WorkSnap = WorkSnap(0, 0, 0, 0, 0, 0, 0) }

/** Counts Spark work from the benchmark's side of the API: a SparkListener
  * for jobs/stages/tasks and task metrics, and a QueryExecutionListener for
  * the QueryPlanningTracker phases. Jobs are attributed to the span open on
  * the submitting thread through the `perfbench.span` local property; work
  * without a span lands on key 0. `total` counts everything. */
final class WorkCounter(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  val total = new Work
  private val bySpan = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  @volatile var enabled = true

  private def at(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)
  def spanWork(span: Long): WorkSnap =
    Option(bySpan.get(span)).map(_.snapshot).getOrElse(WorkSnap.zero)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    total.jobs.incrementAndGet(); at(span).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    // skipped stages never complete, so only stages that ran are counted
    total.stages.incrementAndGet(); at(span).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val m = e.taskMetrics
    Seq(total, at(span)).foreach { w =>
      w.tasks.incrementAndGet()
      if (m != null) {
        w.runMs.addAndGet(m.executorRunTime)
        w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def planning(qe: QueryExecution): Unit = if (enabled) {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    total.planningMs.addAndGet(ms)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planning(qe)

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)
}

/** One timed region: name, wall interval, parent and the request trace id. */
final case class Span(id: Long, name: String, traceId: Long, parent: Long,
    startNs: Long, var endNs: Long = 0L)

/** In-memory spans, written out when the run ends. A span's Spark work is
  * what jobs submitted while it was the innermost open span on its thread
  * did; self time is its duration minus its children's. */
final class Trace(sc: SparkContext, val counter: WorkCounter) {
  private val nextId = new AtomicLong(1)
  private val nextTrace = new AtomicInteger(1)
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val open = new ThreadLocal[List[Span]] { override def initialValue = Nil }

  def newTraceId(): Long = nextTrace.getAndIncrement().toLong

  def span[T](name: String, traceId: Long = 0L)(body: => T): (T, Span) = {
    val stack = open.get
    val parent = stack.headOption
    val s = Span(nextId.getAndIncrement(), name,
      if (traceId != 0L) traceId else parent.map(_.traceId).getOrElse(0L),
      parent.map(_.id).getOrElse(0L), System.nanoTime())
    open.set(s :: stack)
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try {
      val r = body
      (r, s)
    } finally {
      s.endNs = System.nanoTime()
      open.set(stack)
      sc.setLocalProperty(Trace.SpanKey, parent.map(_.id.toString).orNull)
      spans.synchronized(spans += s)
    }
  }

  def ms(s: Span): Double = (s.endNs - s.startNs) / 1e6
  def children(s: Span): Seq[Span] = spans.synchronized(spans.filter(_.parent == s.id).toSeq)
  def selfMs(s: Span): Double = ms(s) - children(s).map(ms).sum

  /** Spark work of a span and all its descendants (call after drain). */
  def work(s: Span): WorkSnap =
    children(s).foldLeft(counter.spanWork(s.id))((acc, c) => acc + work(c))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    counter.drain()
    val lines = spans.synchronized(spans.sortBy(_.id).toSeq).map { s =>
      val w = counter.spanWork(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "trace" -> s.traceId,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> selfMs(s), "jobs" -> w.jobs, "stages" -> w.stages,
        "tasks" -> w.tasks))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "perfbench.span"
}
