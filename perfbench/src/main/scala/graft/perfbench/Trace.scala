package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine module, plus the
  * engine telemetry underneath them.
  *
  * Every span sets the `perfbench.span` local property while it is open,
  * so each job (and its stages and tasks) is attributed to exactly the
  * span that launched it: Spark copies a thread's local properties to
  * the jobs it submits, including those of broadcast and subquery
  * threads. Within a span, jobs are further attributed to the engine
  * file that launched them through the job's call site: its SQL
  * execution's, else the result stage's name (e.g. `collect at
  * Conform.scala:98`). Catalyst phase times come from each executed
  * query's `QueryExecution.tracker` and go to the span open when the
  * phase started. Everything stays in memory until the run ends. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phase]

  /** Run `f` inside a span named `name`, nested under the open span. */
  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open.push(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  private val listener = new SparkListener {
    // only jobs launched inside a span are recorded: untraced ops run
    // with the listener registered but record nothing
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach(s => onSpanJob(e, s.toInt))
    }
    private def onSpanJob(e: SparkListenerJobStart, span: Int): Unit = {
      // AQE submits a query's jobs from its own threads, whose stacks
      // hold no engine frame; the SQL execution keeps the caller's site
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = exec.flatMap(execSite.get).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = Job(e.jobId, span, callSiteFile(site), e.time)
      e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execSite(s.executionId) =
          s.rootExecutionId.flatMap(execSite.get).getOrElse(s.description)
      }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      val m = e.taskMetrics
      if (m != null) tasks += Task(
        job.map(_.span).getOrElse(-1),
        m.executorRunTime / 1e3,
        m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def sec(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3)
        .getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phases += Phase(start, sec("analysis"), sec("optimization"), sec("planning"))
    }
  }

  /** Register the listeners for the whole window. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every pending event, then stop listening. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The span open at wall-clock `ms` whose interval is innermost. */
  def spanAt(ms: Long): Int = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
    .maxByOption(_.startNs).map(_.id).getOrElse(-1)

  /** `id` and every span nested under it. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))(_ ++ subtree(_))
  }

  /** Span wall minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Span wall minus the union of the intervals of the jobs launched in
    * it: driver time between jobs (planning, decode, sinks, harness). */
  def driverGapSeconds(s: Span): Double = {
    val ids = subtree(s.id)
    val iv = jobs.values.filter(j => ids(j.span) && j.endMs > 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(p => p._2 > p._1).toSeq.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    math.max(0.0, s.seconds - covered / 1e3)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      startNs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class Job(id: Int, span: Int, file: String, startMs: Long) {
    var endMs: Long = -1L
    var stages: Int = 0
  }
  final case class Task(span: Int, runS: Double, cpuS: Double,
      gcS: Double, records: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)
  final case class Phase(startMs: Long, analysisS: Double,
      optimizationS: Double, planningS: Double)

  /** `collect at Conform.scala:98` → `Conform.scala`. */
  def callSiteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    loc.takeWhile(_ != ':')
  }
}
