package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one client in a closed loop against the engine
  * on `local[<cores>]`.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <tablesDir> <workDir>
  *
  * Order of a run: session start, input generation (untimed, built once
  * per seed), set-up passes, then the measured window. With trace on,
  * half the rounds run traced, so the run reports tracing overhead
  * beside the per-layer numbers.
  * Outputs are written under `workDir` for the correctness check that
  * `run.py` makes after the JVM exits; `workDir/result.json` holds the
  * timings and counts.
  */
object Main {

  /** One measured operation. `input` names what it read, so the checker
    * can compare its output with the expected one. */
  final case class Op(kind: String, input: String, seconds: Double,
      traced: Boolean, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, tablesDir, workDir) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = new File(workDir)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      case "vat_upload" => new VatUpload(spark, tablesDir, work, seed)
      case "query_mix" => new QueryMix(spark, tablesDir, work)
      case other => sys.error(s"unknown workload '$other'")
    }
    // set-up is measured several times and the median reported, each
    // pass from cold standing state; a failed pass fails the run
    val passes = (1 to SetupPasses).map { k =>
      val s = System.nanoTime()
      wl.setupPass(k)
      (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(passes) + warmS

    // the window ends on a whole round (query_mix: every query once);
    // traced, rounds come in pairs on the same inputs, one untraced and
    // one traced, in the order untraced-traced, then traced-untraced, so
    // the overhead estimate is not a warm-up trend
    val tracer = if (trace) Some(new Trace(spark)) else None
    val rounds = if (trace) 2 * wl.roundSize else wl.roundSize
    val ops = mutable.ArrayBuffer.empty[Op]
    tracer.foreach(_.start())
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end || ops.size % rounds != 0) {
      val i = ops.size
      val pick = if (trace) i / rounds * wl.roundSize + i % wl.roundSize else i
      val traced = (i / wl.roundSize + i / rounds) % 2 == 1
      ops += wl.op(i, pick, tracer.filter(_ => traced))
    }
    tracer.foreach(_.stop())
    ops.filter(_.error.isDefined).foreach(o =>
      log(s"FAILED op ${o.kind} on ${o.input}: ${o.error.get}"))
    wl.afterWindow()

    val layers = tracer.map(t => Layers(t, ops.toSeq, wl, cores)).getOrElse(Map.empty)
    val out = new PrintWriter(new File(work, "result.json"), "UTF-8")
    try out.println(Json.write(Map(
      "workload" -> workload,
      "cores" -> cores,
      "session_s" -> sessionS,
      "setup_passes_s" -> passes,
      "warmup_s" -> warmS,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "input" -> o.input,
        "seconds" -> o.seconds, "traced" -> o.traced,
        "error" -> o.error.orNull)),
      "per_layer" -> layers)))
    finally out.close()
    tracer.foreach(t => Layers.writeSpans(t, new File(work, "spans.json")))
    spark.stop()
  }

  val SetupPasses = 3

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** High-water resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Time `f`, turning an exception into a failed op (logged by the
    * caller, counted by the checker). */
  def timed(kind: String, input: String, tracer: Option[Trace])
      (f: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { span(tracer, s"op:$kind")(f); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    Op(kind, input, (System.nanoTime() - t0) / 1e9, tracer.isDefined, err)
  }

  /** `f` inside a span when tracing, bare otherwise. */
  def span[A](tracer: Option[Trace], name: String)(f: => A): A =
    tracer match {
      case Some(t) => t.span(name)(f)
      case None => f
    }
}
