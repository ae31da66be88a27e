package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.VatPipeline
import graft.perfbench.Main.{span, timed, Op}

/** A workload: inputs built in the constructor (untimed), a set-up pass
  * that can be repeated from cold, a warm-up, and the op the measured
  * loop repeats. */
trait Workload {
  def setupPass(k: Int): Unit
  def warmup(): Unit
  /** The `i`-th op of the window, on the `pick`-th input. Traced, a
    * round and the round after it read the same inputs, so traced and
    * untraced ops are compared on the same inputs. */
  def op(i: Int, pick: Int, tracer: Option[Trace]): Op
  /** Ops per round; the window ends on a whole round, so every op
    * kind is sampled equally often. */
  def roundSize: Int = 1
  /** Write what the correctness check reads. */
  def afterWindow(): Unit
  /** Op kind → declaring module, for per-module times. */
  def moduleOf: Map[String, String] = Map.empty
}

/** The interactive upload (fianl2.py:212-255): one workbook of a few
  * monthly sheets per op, decoded on the driver, conformed, summarised
  * and written to both reference sinks. Ops rotate through a pool of
  * distinct workbooks. */
final class VatUpload(spark: SparkSession, tablesDir: String, work: File,
    seed: Long) extends Workload {
  import VatUpload._
  private val inputs = new File(work.getParentFile, s"inputs/upload-s$seed-${Pool.tag}")
  private val pool = Workbooks.ensure(spark, tablesDir, inputs, seed, Pool, 1996)
  private val small = Workbooks.ensure(spark, tablesDir,
    new File(inputs, "small"), seed + 1, Workbooks.Shape(1, Pool.sheets, 500), 2000)
  private val pipeline = new VatPipeline(spark)
  private val out = new File(work, "upload"); out.mkdirs()
  /** One JSON line per op with its summary rows, warnings, failed
    * sheets and sink read-back, kept in memory and written after the
    * window for the checker to compare with the ledgers. */
  private val outputs = mutable.ArrayBuffer.empty[String]
  private var db = ""

  /** A fresh embedded Derby database per pass, and a first upload of a
    * small book into it: the database's creation is part of what an
    * upload's first JDBC write pays, and the passes warm the code the
    * window runs. The book is small to keep the run short. In memory,
    * so the sink's cost is the engine's JDBC write, not the host
    * disk's fsync. */
  def setupPass(k: Int): Unit = {
    db = s"jdbc:derby:memory:db$k;create=true"
    upload(small.head, new File(out, s"setup$k.xlsx").getPath, None)
  }

  def warmup(): Unit = ()

  private def upload(path: String, xlsxOut: String,
      tracer: Option[Trace]): (VatPipeline.VatResult, Array[org.apache.spark.sql.Row]) = {
    val res = tracer match {
      // processWorkbook is decode + processSheets; traced, the two are
      // called separately so decode gets its own span
      case Some(t) =>
        val tmp = java.nio.file.Files.createTempDirectory("perfbench_xlsx").toString
        val sheets = t.span("sources.xlsx.decode")(graft.sources.Xlsx.toCsv(path, tmp))
        t.span("vat.conform")(pipeline.processSheets(sheets))
      case None => pipeline.processWorkbook(path)
    }
    val rows = span(tracer, "vat.summary")(res.summary.collect())
    span(tracer, "api.sink") {
      res.writeXlsx(xlsxOut)
      res.writeJdbc(db, "VAT_SUMMARY")
    }
    require(res.failures.isEmpty, s"failed sheets: ${res.failures.mkString("; ")}")
    (res, rows)
  }

  def op(i: Int, pick: Int, tracer: Option[Trace]): Op = {
    val path = pool(pick % pool.size)
    val xlsx = new File(out, s"op$i.xlsx").getPath
    var got: Option[(VatPipeline.VatResult, Array[org.apache.spark.sql.Row])] = None
    val o = timed("upload", path, tracer) {
      got = Some(upload(path, xlsx, tracer))
    }
    got.foreach { case (res, rows) =>
      // read both sinks back, outside the timed op
      val sheet = graft.sources.Xlsx.readSheet(xlsx, "VAT Summary")
      val conn = java.sql.DriverManager.getConnection(db)
      val dbRows = try {
        val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM VAT_SUMMARY")
        rs.next(); rs.getLong(1)
      } finally conn.close()
      outputs += Json.write(Map(
        "op" -> i, "input" -> o.input,
        "summary" -> rows.toSeq.map(r => Seq(r.getAs[String]("period"),
          r.getAs[String]("fta_box"), r.getAs[Any]("net_value"),
          r.getAs[Any]("vat_value"), r.getAs[Any]("net_vat_payable"))),
        "warnings" -> res.warnings,
        "failures" -> res.failures.map(f => s"${f.sheet}: ${f.error}"),
        "sink" -> Map("xlsx_rows" -> (sheet.size - 1), "jdbc_rows" -> dbRows,
          "bytes" -> new File(xlsx).length())))
    }
    o
  }

  def afterWindow(): Unit = {
    val w = new PrintWriter(new File(work, "vat_outputs.jsonl"), "UTF-8")
    try outputs.foreach(w.println) finally w.close()
  }
}

object VatUpload {
  /** Four distinct workbooks of two monthly sheets. */
  val Pool = Workbooks.Shape(books = 4, sheets = 2, rows = 10000)
}

/** A fixed list of declared queries over the benchmark's tables, run in
  * interleaved rounds: every query once per round, in list order. Each
  * op is `fn(spark, dir).count()`; intermediates a query cached are
  * released after it, outside the timer. The warm-up round writes every
  * query's output for the oracle check, and each measured op must count
  * the same number of rows. */
final class QueryMix(spark: SparkSession, tablesDir: String, work: File)
    extends Workload {
  import QueryMix._
  private val fns = graft.SparkEntry.queries
  private val outDir = new File(work, "queries")
  private val rows = mutable.Map.empty[String, Long]
  private var dir = ""

  override val moduleOf: Map[String, String] = List.map(_.swap).toMap

  /** A cold copy of the tables under a cold memo root, then every
    * standing build the listed queries read. */
  def setupPass(k: Int): Unit = {
    val d = new File(work, s"tables$k")
    d.mkdirs()
    new File(tablesDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, new File(d, f.getName).toPath))
    val memo = new File(work, s"memo$k"); memo.mkdirs()
    System.setProperty("graft.memo.root", memo.getAbsolutePath)
    dir = d.getAbsolutePath
    Standing.foreach { case (name, build) =>
      try build(spark, dir)
      catch { case e: Throwable =>
        throw new IllegalStateException(s"standing build '$name' failed", e) }
    }
  }

  /** One round that writes each query's output: JIT warm-up for the
    * measured rounds, and the output the oracle check reads. */
  def warmup(): Unit = List.foreach { case (_, q) =>
    val path = new File(outDir, q).getAbsolutePath
    fns(q)(spark, dir).write.mode("overwrite").parquet(path)
    spark.catalog.clearCache()
    rows(q) = spark.read.parquet(path).count()
  }

  def op(i: Int, pick: Int, tracer: Option[Trace]): Op = {
    val q = List(pick % List.size)._2
    val o = timed(q, q, tracer) {
      val n = fns(q)(spark, dir).count()
      require(n == rows(q), s"counted $n rows, the checked output has ${rows(q)}")
    }
    spark.catalog.clearCache()
    o
  }

  override def roundSize: Int = List.size

  def afterWindow(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    // beside the outputs, the layout tools/check_oracle.py reads
    val w = new PrintWriter(new File(outDir, "oracle_sql.json"), "UTF-8")
    try w.println(Json.write(List.map { case (_, q) => q -> oracle.get(q).orNull }.toMap))
    finally w.close()
    val t = new PrintWriter(new File(work, "tables_dir.txt"), "UTF-8")
    try t.println(dir) finally t.close()
  }
}

object QueryMix {
  /** (declaring module, query). The rule: one query for each of the
    * engine's open optimisation targets whose standing state builds in
    * about a second at this scale (the graph fold width of pagerank,
    * DistributedRank's range partitions, the Similarity serving scan
    * over a standing index, the Dedup and Spans gram windows, the
    * bucketed ZOrder layout), plus the flagship `vat_summary` and one
    * plain relational query (`window_nth_value`, the Windows module's
    * median wall in the committed sf0.1 sweep). Together they cover the
    * `rel`, `ext` and `core` modules that the VAT workloads bypass. */
  val List: Seq[(String, String)] = Seq(
    "vat.Summary" -> "vat_summary",
    "rel.Graph" -> "graph_pagerank",
    "rel.RelQueries" -> "agg_quantile_cont_scalable",
    "rel.Windows" -> "window_nth_value",
    "ext.Similarity" -> "simsearch_mips_indexed",
    "ext.Dedup" -> "dedup_allpairs",
    "ext.Spans" -> "dedup_spans",
    "core.ZOrder" -> "layout_bucketed")

  /** Standing state the listed queries read, built in set-up. */
  val Standing: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "graph adjacency" -> ((s, d) => graft.rel.Graph.ensureAdjacency(s, d): Unit),
    "mips index" -> ((s, d) => graft.ext.Similarity.ensureMipsIndex(s, d): Unit),
    "shingle table" -> ((s, d) => graft.ext.Dedup.shingleTable(s, d).count(): Unit),
    "bucketed facts" -> ((s, d) => graft.core.ZOrder.ensureBucketedFacts(s, d): Unit))
}
