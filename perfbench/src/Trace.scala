package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrument. A `SparkListener` records every job
  * (its interval, the SQL execution it belongs to, and its tasks'
  * metrics); a `QueryExecutionListener` records each query's Catalyst
  * phase intervals. The client thread brackets each public engine call
  * in a named [[span]]. Everything stays in memory until [[report]].
  *
  * A span's counters are attributed by time: a job or planning phase
  * belongs to the span whose interval holds its start (spans run one at
  * a time on the single client thread, so the attribution is exact for
  * jobs the span's call submitted, including its streaming and
  * broadcast threads). `driver_ms` is the span's self time: its length
  * minus the union of its planning phases and job intervals. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private final class Job(val start: Long, val execId: Long, val site: String) {
    @volatile var end: Long = -1L
    var tasks, cpuNs, gcMs, shuffleBytes, spillBytes, rowsOut = 0L
  }
  private final case class Qe(qe: QueryExecution, func: String,
                              phases: Seq[(Long, Long)], scanRows: Long) {
    def execId: Long = Option(qeExec.get(qe)).map(_.longValue).getOrElse(-1L)
  }
  private final case class Span(name: String, start: Long, end: Long, nanos: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Job]
  private val execSite = new ConcurrentHashMap[Long, String]
  private val qes = new ConcurrentLinkedQueue[Qe]
  // a query's execution id is known only to the execution-end event,
  // which carries the same QueryExecution object the listener receives
  private val qeExec = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long])
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits until every event posted so far is delivered, then detaches. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def span[T](name: String)(f: => T): T = {
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally spans += Span(name, s, System.currentTimeMillis(), System.nanoTime() - n0)
  }

  /** A per-call value measured by the benchmark itself (file counts,
    * ratios); reported as its mean over the run. */
  def record(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  // ---- listener callbacks (listener-bus threads) ----------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val stageSite = e.stageInfos.headOption
      .map(si => si.name + "\n" + si.details).getOrElse("")
    val j = new Job(e.time, exec, stageSite)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.rowsOut += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.description + "\n" + s.details)
    case x: SparkListenerSQLExecutionEnd =>
      val q = org.apache.spark.sql.PerfbenchSql.queryExecution(x)
      if (q != null) qeExec.put(q, x.executionId)
    case _ =>
  }

  private def phases(qe: QueryExecution): Seq[(Long, Long)] =
    qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    // rows a count() read from a checkpointed frame: the edge-set size
    // at each connected-components count
    val rows =
      if (func != "count") 0L
      else collect(qe.executedPlan) { case s: RDDScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    qes.add(Qe(qe, func, phases(qe), rows))
  }

  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    qes.add(Qe(qe, func, phases(qe), 0L))

  // ---- aggregation ----------------------------------------------------

  private def site(j: Job): String =
    if (j.execId >= 0) Option(execSite.get(j.execId)).getOrElse(j.site) else j.site

  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    cl.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** The jobs and queries attributed to one span call. */
  private final case class Slice(start: Long, end: Long, nanos: Long,
                                 jobs: Seq[Job], qes: Seq[Qe])

  /** Jobs and queries starting inside [start, end]; with `pick`, only
    * the picked jobs and the queries they executed. */
  private def sliceOf(start: Long, end: Long, nanos: Long,
                      pick: Option[Job => Boolean]): Slice = {
    val js = jobs.values.asScala.toSeq.filter(j =>
      j.start >= start && j.start <= end && pick.forall(_(j)))
    val ids = js.map(_.execId).toSet
    val qs = qes.asScala.toSeq.filter(q =>
      q.phases.exists { case (a, _) => a >= start && a <= end } &&
        (pick.isEmpty || ids.contains(q.execId)))
    Slice(start, end, nanos, js, qs)
  }

  /** The base counters of a slice, plus the write counters. */
  private def counters(w: Slice, write: Boolean): Seq[(String, Double)] = {
    val jobIv = w.jobs.map(j => (j.start, if (j.end < 0) w.end else j.end))
    val planIv = w.qes.flatMap(_.phases)
    val planning = planIv.map { case (a, b) =>
      math.max(0L, math.min(b, w.end) - math.max(a, w.start)) }.sum
    val busy = covered(jobIv ++ planIv, w.start, w.end)
    def sum(f: Job => Long): Double = w.jobs.map(j => j.synchronized(f(j))).sum.toDouble
    Seq("ms" -> w.nanos / 1e6, "planning_ms" -> planning.toDouble,
      "driver_ms" -> math.max(0L, (w.end - w.start) - busy).toDouble,
      "jobs" -> w.jobs.size.toDouble, "tasks" -> sum(_.tasks),
      "cpu_ms" -> sum(_.cpuNs) / 1e6) ++
      (if (write) Seq("gc_ms" -> sum(_.gcMs), "shuffle_bytes" -> sum(_.shuffleBytes),
        "spill_bytes" -> sum(_.spillBytes), "rows_out" -> sum(_.rowsOut))
      else Nil)
  }

  private def mean(rows: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    if (rows.isEmpty) Nil
    else rows.head.map(_._1).map(k => k -> rows.map(_.toMap.apply(k)).sum / rows.size)

  /** Mean per call of `name`'s counters; zeros when the span never ran. */
  def spanCounters(name: String, write: Boolean): Seq[(String, Double)] = {
    val ws = spans.toSeq.filter(_.name == name)
      .map(s => counters(sliceOf(s.start, s.end, s.nanos, None), write))
    val keys = Tracer.baseCounters ++ (if (write) Tracer.writeCounters else Nil)
    if (ws.isEmpty) keys.map(_ -> 0.0) else mean(ws)
  }

  /** Counters of the jobs inside `parent` spans whose recorded call site
    * contains `siteMarker`, per parent call: the sub-span runs from the
    * first such job's start to the last one's end. */
  def siteCounters(parent: String, siteMarker: String): Seq[(String, Double)] = {
    val pick: Job => Boolean = j => site(j).contains(siteMarker)
    val ws = spans.toSeq.filter(_.name == parent).flatMap { s =>
      val inner = sliceOf(s.start, s.end, 0L, Some(pick))
      if (inner.jobs.isEmpty) None
      else {
        val a = inner.jobs.map(_.start).min
        val b = inner.jobs.map(j => if (j.end < 0) s.end else j.end).max
        Some(counters(inner.copy(start = a, end = b, nanos = (b - a) * 1000000L),
          write = false))
      }
    }
    if (ws.isEmpty) Tracer.baseCounters.map(_ -> 0.0) else mean(ws)
  }

  /** Per `parent` call, the row counts of the count() queries issued
    * from `siteMarker`, in order. */
  def siteCounts(parent: String, siteMarker: String): Seq[Seq[Long]] =
    spans.toSeq.filter(_.name == parent).map { s =>
      qes.asScala.toSeq
        .filter(q => q.func == "count" &&
          q.phases.exists { case (a, _) => a >= s.start && a <= s.end } &&
          Option(execSite.get(q.execId)).exists(_.contains(siteMarker)))
        .sortBy(_.execId).map(_.scanRows)
    }

  def recorded(name: String): Double =
    values.get(name).filter(_.nonEmpty).map(v => v.sum / v.size).getOrElse(0.0)
}

object Tracer {
  /** Counters every span reports. */
  val baseCounters: Seq[String] = Seq("ms", "planning_ms", "driver_ms", "jobs", "tasks", "cpu_ms")
  /** Counters the write spans and the funnel add. */
  val writeCounters: Seq[String] = Seq("gc_ms", "shuffle_bytes", "spill_bytes", "rows_out")
}
