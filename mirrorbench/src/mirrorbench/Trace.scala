package mirrorbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One layer call: name, id, parent span, request, start and end (ns). */
final case class Span(name: String, id: Long, parent: Long, req: Long, start: Long, end: Long)

/** In-memory span recorder. Spans are taken around the benchmark's calls
  * into each program module, parented per thread, and tagged with the
  * request the calling thread is serving. Off by default: the end-to-end
  * runs record nothing, and the traced run's wall time against theirs is
  * the tracing overhead. */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counts = new ConcurrentHashMap[(String, Long), LongAdder]
  private val parent = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run `f` as request `req` of the current thread. */
  def asRequest[A](req: Long)(f: => A): A = {
    val before = request.get
    request.set(req)
    try f finally request.set(before)
  }

  def span[A](name: String)(f: => A): A = spanAs(f)(_ => name)

  /** A span whose name depends on the call's result, such as a cache
    * lookup that turns out a hit or a miss. */
  def spanAs[A](f: => A)(name: A => String): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val up = parent.get
      parent.set(id)
      val t0 = System.nanoTime()
      var out: Option[A] = None
      try { val a = f; out = Some(a); a }
      finally {
        spans.add(Span(out.map(name).getOrElse("error"), id, up, request.get, t0, System.nanoTime()))
        parent.set(up)
      }
    }

  /** Record a span whose interval was measured by the caller. */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(name, ids.incrementAndGet(), parent.get, request.get, start, end))

  /** Add to a named count of the current request. */
  def count(name: String, n: Long): Unit =
    if (enabled) counts.computeIfAbsent((name, request.get), _ => new LongAdder).add(n)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  /** A named count summed over the requests `keep` accepts. */
  def counter(name: String, keep: Long => Boolean): Long =
    counts.asScala.collect { case ((n, req), v) if n == name && keep(req) => v.sum }.sum
}

/** Spark-side counts per request, from a SparkListener. Jobs carry the
  * request id as a local property of the submitting thread; stages, tasks
  * and SQL executions inherit it through their job. Planning time and rows
  * scanned come from the QueryExecution of each SQL execution's end event:
  * unlike a QueryExecutionListener callback, that event carries the
  * execution id its jobs are tagged with. */
final class SparkCollector extends SparkListener {
  final class Acc {
    val jobs, tasks, runMs, bytesRead, shuffleBytes, gcMs, planMs, rowsRead = new LongAdder
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  }
  private val byReq = new ConcurrentHashMap[Long, Acc]
  private val stageReq = new ConcurrentHashMap[Int, Long]
  private val execReq = new ConcurrentHashMap[Long, Long]
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]
  private val queries = new ConcurrentLinkedQueue[(Long, Long, Seq[(Long, Long)])]

  def acc(req: Long): Acc = byReq.computeIfAbsent(req, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val req = props.flatMap(p => Option(p.getProperty(SparkCollector.ReqKey))).map(_.toLong).getOrElse(0L)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execReq.put(x.toLong, req))
    e.stageIds.foreach(s => stageReq.put(s, req))
    jobStart.put(e.jobId, (req, e.time))
    acc(req).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (req, t0) => acc(req).jobSpans.add((t0, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageReq.getOrDefault(e.stageId, 0L))
    a.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      a.runMs.add(m.executorRunTime)
      a.gcMs.add(m.jvmGCTime)
      a.bytesRead.add(m.inputMetrics.bytesRead)
      a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.mirrorbench.Bridge.queryExecution(end).foreach { qe =>
        val plan = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        queries.add((end.executionId, plan, SparkCollector.scanRows(qe.executedPlan)))
      }
    case _ =>
  }

  /** Fold SQL executions into their requests; call after the listener
    * bus has drained. A scan's row metric is counted once even when a
    * cached relation replays it under a second action. */
  def settle(): Unit = {
    val seen = scala.collection.mutable.Set.empty[Long]
    queries.asScala.foreach { case (exec, planMs, scans) =>
      val a = acc(execReq.getOrDefault(exec, 0L))
      a.planMs.add(planMs)
      scans.foreach { case (metricId, rows) => if (seen.add(metricId)) a.rowsRead.add(rows) }
    }
    queries.clear()
  }

  /** Milliseconds request `req` had at least one job running. */
  def jobBusyMs(req: Long): Long = {
    val xs = acc(req).jobSpans.asScala.toSeq.sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    xs.foreach { case (s, e) =>
      if (s >= end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    busy
  }
}

object SparkCollector {
  val ReqKey = "mirrorbench.request"

  private object Plans extends AdaptiveSparkPlanHelper

  /** (metric id, rows) of every file scan in an executed plan, including
    * scans inside cached relations. */
  def scanRows(plan: SparkPlan): Seq[(Long, Long)] =
    Plans.flatMap(plan) {
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(m => m.id -> m.value).toSeq
      case m: InMemoryTableScanExec => scanRows(m.relation.cachedPlan)
      case _ => Nil
    }
}
