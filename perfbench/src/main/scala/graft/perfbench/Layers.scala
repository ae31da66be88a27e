package graft.perfbench

import java.io.{File, PrintWriter}

import graft.perfbench.Main.{median, Op}

/** Per-layer metrics of a traced window. Counts and times are per op
  * (per query execution in query_mix), so they do not depend on how
  * many ops fit in the window. A layer the workload does not call
  * reads 0. */
object Layers {

  def apply(t: Trace, ops: Seq[Op], wl: Workload, cores: Int): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val opSpans = t.spans.filter(_.name.startsWith("op:")).toSeq
    val inOps = opSpans.flatMap(s => t.subtree(s.id)).toSet
    val jobs = t.jobs.values.filter(j => inOps(j.span)).toSeq
    val tasks = t.tasks.filter(x => inOps(x.span)).toSeq
    def spansNamed(name: String) = t.spans.filter(_.name == name).toSeq
    def wall(name: String) = spansNamed(name).map(_.seconds).sum
    def under(name: String): Set[Int] =
      spansNamed(name).flatMap(s => t.subtree(s.id)).toSet
    def phasesIn(ids: Set[Int]) = t.phases.filter(p => ids(t.spanAt(p.startMs))).toSeq
    val opPhases = phasesIn(inOps)
    val summaryPhases = phasesIn(under("vat.summary"))
    val conform = under("vat.conform")
    val runs = tasks.map(_.runS).sorted
    val mb = 1024.0 * 1024.0

    // tracing overhead: traced against untraced walls of the same op
    // kinds, each kind's median, summed over kinds seen in both halves
    val kinds = traced.map(_.kind).distinct.filter(k => ops.exists(o => !o.traced && o.kind == k))
    def mix(tr: Boolean) = kinds.map(k =>
      median(ops.filter(o => o.traced == tr && o.kind == k).map(_.seconds))).sum
    val overhead = if (kinds.isEmpty || mix(false) <= 0) 0.0
      else mix(true) / mix(false) - 1

    val perModule = QueryMix.List.map(_._1).distinct.map { m =>
      val qs = wl.moduleOf.filter(_._2 == m).keySet
      s"$m.s" -> qs.toSeq.map(q => median(traced.filter(_.kind == q).map(_.seconds))).sum
    }

    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.stages).sum / n,
      "spark.tasks" -> tasks.size / n,
      "catalyst.analysis_s" -> opPhases.map(_.analysisS).sum / n,
      "catalyst.optimization_s" -> opPhases.map(_.optimizationS).sum / n,
      "catalyst.planning_s" -> opPhases.map(_.planningS).sum / n,
      "driver.gap_s" -> opSpans.map(t.driverGapSeconds).sum / n,
      "sources.xlsx.decode_s" -> wall("sources.xlsx.decode") / n,
      "vat.conform.task_s" -> tasks.filter(x => conform(x.span)).map(_.runS).sum / n,
      "vat.conform.jobs" -> jobs.count(_.file == "Conform.scala") / n,
      "api.pipeline.jobs" -> jobs.count(_.file == "Graft.scala") / n,
      "vat.summary.s" -> wall("vat.summary") / n,
      "vat.summary.plan_s" -> summaryPhases.map(p =>
        p.analysisS + p.optimizationS + p.planningS).sum / n,
      "api.sink.s" -> wall("api.sink") / n,
      "spark.cpu_s" -> tasks.map(_.cpuS).sum / n,
      "spark.busy_frac" -> runs.sum / math.max(1e-9, opSpans.map(_.seconds).sum * cores),
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb / n,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb / n,
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / mb / n,
      "spark.gc_s" -> tasks.map(_.gcS).sum / n,
      "spark.task_max_s" -> runs.lastOption.getOrElse(0.0),
      "spark.task_p50_s" -> median(runs),
      "spark.tasks_empty_frac" ->
        (if (tasks.isEmpty) 0.0 else tasks.count(_.records == 0) / tasks.size.toDouble),
      "tracing.overhead_frac" -> overhead
    ) ++ perModule
  }

  /** Every span with its wall, self time, and the jobs and task time
    * attributed to it, as one JSON array. */
  def writeSpans(t: Trace, f: File): Unit = {
    val tasksBySpan = t.tasks.groupBy(_.span)
    val jobsBySpan = t.jobs.values.groupBy(_.span)
    val w = new PrintWriter(f, "UTF-8")
    try w.println(Json.write(t.spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "seconds" -> s.seconds,
      "self_s" -> t.selfSeconds(s),
      "jobs" -> jobsBySpan.get(s.id).map(_.size).getOrElse(0),
      "job_files" -> jobsBySpan.get(s.id).map(_.groupBy(_.file)
        .map { case (k, v) => k -> v.size }).getOrElse(Map.empty),
      "task_s" -> tasksBySpan.get(s.id).map(_.map(_.runS).sum).getOrElse(0.0)))))
    finally w.close()
  }
}
