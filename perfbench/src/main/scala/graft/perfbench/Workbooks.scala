package graft.perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Seeded messy monthly VAT workbooks, rendered from the benchmark's
  * `lineitem` table and written with the engine's own JDK-only
  * `Xlsx.write`. Each `book_NNNN.xlsx` gets its clean ledger beside it
  * (`book_NNNN.ledger.csv`): one line per data row with the source
  * currency amounts, the box letter (empty for a null box) and whether
  * the row was planted as a rate outlier, which is everything an
  * independent summary and the expected warnings are computed from.
  *
  * What makes the sheets messy, per the reference uploads:
  *  - junk preamble rows above the header;
  *  - synonym, NBSP-padded and space-padded headers;
  *  - every currency symbol the engine converts, as prefix or suffix,
  *    with thousands separators and `(123)` negatives;
  *  - ISO, day-first (`/`, `-`, `.`) and Excel-serial dates;
  *  - box variants (case, padding) and planted null-box and rate-outlier
  *    rows.
  *
  * Books are a pure function of (tables, seed, shape) and are built once:
  * a finished directory carries a `_DONE` marker.
  */
object Workbooks {

  final case class Shape(books: Int, sheets: Int, rows: Int) {
    def tag: String = s"${books}x${sheets}x$rows"
  }

  private val MonthAbbr = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val MonthFull = Seq("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November", "December")

  /** (symbol, rate in thousandths, symbol contains a dot). A dotted
    * symbol's dot survives the engine's digit filter, so those amounts
    * are written as whole, non-negative numbers after the figure. */
  private val Currencies: Seq[(String, Int, Boolean)] = Seq(
    ("AED", 1000, false), ("د.إ", 1000, true), ("USD", 3670, false),
    ("$", 3670, false), ("EUR", 3980, false), ("€", 3980, false),
    ("GBP", 4620, false), ("£", 4620, false), ("SAR", 980, false),
    ("ر.س", 980, true), ("INR", 44, false), ("₹", 44, false))

  private val Preambles = Seq(
    Seq("Falcon Trading LLC"), Seq("TRN: 100234567800003"),
    Seq("VAT workings", "prepared by finance"), Seq.empty)

  /** Build (or reuse) `shape.books` workbooks under `dir`; returns their
    * paths in order. */
  def ensure(spark: SparkSession, tablesDir: String, dir: File, seed: Long,
      shape: Shape, firstYear: Int): Seq[String] = {
    val paths = (0 until shape.books).map(b =>
      new File(dir, f"book_$b%04d.xlsx").getAbsolutePath)
    val done = new File(dir, "_DONE")
    if (done.exists()) return paths
    dir.mkdirs()
    val byMonth = lineitemByMonth(spark, tablesDir)
    val rnd = new Random(seed * 1000003L + shape.tag.hashCode)
    paths.zipWithIndex.foreach { case (path, b) =>
      // books walk forward through the months, wrapping within the
      // table's six whole years of ship dates
      val first = (firstYear - 1995) * 12 + b * shape.sheets
      val sheets = (0 until shape.sheets).map { i =>
        val k = (first + i) % 72
        render(rnd, 1995 + k / 12, k % 12 + 1, shape.rows, byMonth)
      }
      graft.sources.Xlsx.write(path, sheets.map(s => s.name -> s.cells))
      val w = new PrintWriter(path.replaceAll("\\.xlsx$", ".ledger.csv"), "UTF-8")
      try {
        w.println("sheet,year,month_num,box,currency,net,vat,rate_outlier")
        sheets.foreach(_.ledger.foreach(l => w.println(l.mkString(","))))
      } finally w.close()
    }
    new PrintWriter(done).close()
    paths
  }

  /** (orderkey, extendedprice in cents, returnflag, day of month) per
    * (year, month) of ship date. */
  private def lineitemByMonth(spark: SparkSession,
      tablesDir: String): Map[(Int, Int), IndexedSeq[(Long, Long, String, Int)]] = {
    val rows = spark.read.parquet(s"$tablesDir/lineitem.parquet")
      .selectExpr("l_orderkey", "cast(round(l_extendedprice * 100) as bigint)",
        "l_returnflag", "year(l_shipdate)", "month(l_shipdate)",
        "day(l_shipdate)")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey")
      .collect()
    rows.toIndexedSeq
      .map(r => ((r.getInt(3), r.getInt(4)),
        (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(5))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private final case class Sheet(name: String, cells: Seq[Seq[String]],
      ledger: Seq[Seq[Any]])

  private def render(rnd: Random, year: Int, month: Int, n: Int,
      byMonth: Map[(Int, Int), IndexedSeq[(Long, Long, String, Int)]]): Sheet = {
    val name = rnd.nextInt(3) match {
      case 0 => s"${MonthAbbr(month - 1)} $year"
      case 1 => s"${MonthFull(month - 1)}-$year"
      case _ => f"$year-$month%02d"
    }
    def pick(xs: String*): String = xs(rnd.nextInt(xs.length))
    val header = Seq(
      "Supply Type",
      pick("#", "Invoice #", "Invoice No."),
      pick("Date", "Date\u00A0"),
      pick("Customer Name", "Supplier Name", "Customer/supplier Name"),
      pick("Net", "Net ", "Net\u00A0"),
      pick("Tax", " Tax"),
      "Gross",
      "Recoverable",
      pick("Box", "Box "))
    val preamble = Preambles.take(1 + rnd.nextInt(Preambles.length))
    val src = byMonth((year, month))
    // planted rows: at least one of each kind per sheet
    val nullBox = math.max(1, n / 250)
    val outliers = math.max(1, n / 200)
    val special = rnd.shuffle((0 until n).toVector).take(nullBox + outliers)
    val nullRows = special.take(nullBox).toSet
    val outlierCandidates = special.drop(nullBox).toSet
    val body = (0 until n).map { r =>
      val (okey, cents0, flag, day) = src(rnd.nextInt(src.length))
      val nullRow = nullRows(r)
      val letter = flag match { case "A" => "A"; case "N" => "B"; case _ => "C" }
      val outlier = !nullRow && outlierCandidates(r)
      val box = if (outlier) "A" else letter
      val (sym, rate, dotted) =
        if (outlier) Currencies.head else Currencies(rnd.nextInt(Currencies.length))
      val negative = !dotted && !outlier && rnd.nextInt(33) == 0
      // whole units in multiples of 20 for dotted symbols, so 5 % VAT
      // stays whole too
      var net = if (dotted) math.max(20L, cents0 / 2000 * 20) * 100
        else math.max(10000L, cents0)
      def vatOf(c: Long): Long =
        if (outlier) c / 10
        else if (box == "B") 0L
        else BigDecimal(c * 5, 2).setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toLong
      // keep converted amounts off exact half-cent ties, whose
      // rounding an independent engine may resolve differently
      def tie(c: Long): Boolean = math.abs(c * rate) % 1000 == 500
      while (tie(net) || tie(vatOf(net))) net += (if (dotted) 2000 else 1)
      val vat = vatOf(net)
      val sign = if (negative) -1 else 1
      val date = LocalDate.of(year, month, day)
      val cells = Seq(
        box match { case "A" => "Standard Rated Supplies"
          case "B" => "Zero Rated Supplies"; case _ => "Standard Rated Expenses" },
        f"INV-$year$month%02d-$r%06d",
        renderDate(rnd, date),
        s"Customer#${okey % 1500}",
        money(rnd, net, sign, sym, dotted),
        money(rnd, vat, sign, sym, dotted),
        money(rnd, net + vat, sign, sym, dotted),
        if (box == "C") "Yes" else "No",
        if (nullRow) "" else pick(box, box.toLowerCase, s" $box", s"$box "))
      val ledger = Seq(name, year, month, if (nullRow) "" else box,
        currencyCode(sym),
        BigDecimal(sign * net, 2).toString, BigDecimal(sign * vat, 2).toString,
        if (outlier) 1 else 0)
      (cells, ledger)
    }
    Sheet(name, preamble ++ (header +: body.map(_._1)), body.map(_._2))
  }

  private def currencyCode(sym: String): String = sym match {
    case "AED" | "د.إ" => "AED"
    case "USD" | "$" => "USD"
    case "EUR" | "€" => "EUR"
    case "GBP" | "£" => "GBP"
    case "SAR" | "ر.س" => "SAR"
    case _ => "INR"
  }

  private def money(rnd: Random, cents: Long, sign: Int, sym: String,
      dotted: Boolean): String = {
    if (dotted) return s"${cents / 100} $sym"
    val units = f"${cents / 100}%,d.${cents % 100}%02d"
    val plain = if (rnd.nextBoolean()) units.replace(",", "") else units
    val fig = if (sign < 0) s"($plain)" else plain
    if (sym == "AED") rnd.nextInt(3) match {
      case 0 => (if (sign < 0) "-" else "") + BigDecimal(cents, 2).toString
      case 1 => s"AED $fig"
      case _ => fig
    }
    else if (rnd.nextBoolean()) s"$sym$fig" else s"$fig $sym"
  }

  private def renderDate(rnd: Random, d: LocalDate): String = rnd.nextInt(5) match {
    case 0 => d.toString
    case 1 => s"${d.getDayOfMonth}/${d.getMonthValue}/${d.getYear}"
    case 2 => f"${d.getDayOfMonth}%02d-${d.getMonthValue}%02d-${d.getYear}"
    case 3 => f"${d.getDayOfMonth}%02d.${d.getMonthValue}%02d.${d.getYear}"
    case _ => (d.toEpochDay - LocalDate.of(1899, 12, 30).toEpochDay).toString
  }
}
