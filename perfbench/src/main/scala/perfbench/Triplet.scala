package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** One expected output row of the flagship plan: a (Store, Dept, week)
  * group with the aggregates the oracle recomputes. */
final case class ExpectedRow(store: Int, dept: Int, week: LocalDate,
    weeklySales: Double, holidaySales: Double, avgTemp: Double,
    storeType: String, storeSize: Long)

/** The generated sales/features/stores CSVs and the oracle's answer. */
final case class Triplet(sales: Path, features: Path, stores: Path,
    expected: IndexedSeq[ExpectedRow]) {
  def inputBytes: Long = Seq(sales, features, stores).map(Files.size).sum
}

/** Seeded generator for the flagship CSV triplet, shaped like the public
  * Walmart weekly-sales tables: 45 stores, 143 weekly sales dates and 182
  * weekly feature dates, but about 16 departments per store where Walmart
  * has about 65. The expected output
  * is computed here in plain Scala from the generated values, not by Spark.
  */
object Triplet {
  val Stores = 45
  val SalesWeeks = 143
  val FeatureWeeks = 182
  // 14 to 18 departments per store: a quarter of the Walmart table's rows
  private val DeptsMin = 14
  private val DeptsMax = 18
  private val firstFriday = LocalDate.of(2010, 2, 5)
  private val mdy = DateTimeFormatter.ofPattern("MM/dd/yyyy")
  private val holidays = Set(
    "2010-02-12", "2010-09-10", "2010-11-26", "2010-12-31",
    "2011-02-11", "2011-09-09", "2011-11-25", "2011-12-30",
    "2012-02-10", "2012-09-07", "2012-11-23", "2012-12-28",
    "2013-02-08", "2013-09-06", "2013-11-29", "2013-12-27")
    .map(LocalDate.parse)

  def generate(dir: Path, seed: Long): Triplet = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * rnd.nextDouble()
    def cents(v: Double): Double = math.rint(v * 100) / 100
    val weeks = IndexedSeq.tabulate(FeatureWeeks)(w => firstFriday.plusWeeks(w))

    val typeMix = Array("A", "A", "B", "B", "C")
    val types = Array.fill(Stores)(typeMix(rnd.nextInt(typeMix.length)))
    val sizes = types.map {
      case "A" => 150000L + rnd.nextInt(70000)
      case "B" => 35000L + rnd.nextInt(105000)
      case _   => 35000L + rnd.nextInt(10000)
    }
    val stores = new StringBuilder("Store,Type,Size\n")
    for (s <- 0 until Stores) stores ++= s"${s + 1},${types(s)},${sizes(s)}\n"

    val temps = Array.ofDim[Double](Stores, FeatureWeeks)
    val features = new StringBuilder("Store,Date,Temperature,Fuel_Price," +
      "MarkDown1,MarkDown2,MarkDown3,MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday\n")
    for (s <- 0 until Stores; w <- 0 until FeatureWeeks) {
      temps(s)(w) = cents(uniform(-5, 100))
      val markdowns = Seq.fill(5)(
        if (w < 92 || rnd.nextInt(10) == 0) "NA" else cents(uniform(0, 20000)).toString)
      features ++= s"${s + 1},${weeks(w).format(mdy)},${temps(s)(w)}," +
        s"${cents(uniform(2.4, 4.5))},${markdowns.mkString(",")}," +
        s"${cents(uniform(126, 228))},${cents(uniform(3.8, 14.4))}," +
        s"${if (holidays(weeks(w))) "TRUE" else "FALSE"}\n"
    }

    // rows are written in (Store, Dept, Date) order, which is also the
    // plan's ORDER BY, so the oracle's rows come out already sorted
    val sales = new StringBuilder("Store,Dept,Date,Weekly_Sales,IsHoliday\n")
    val expected = IndexedSeq.newBuilder[ExpectedRow]
    for (s <- 0 until Stores) {
      val depts = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle((1 to 99).toIndexedSeq).take(DeptsMin + rnd.nextInt(DeptsMax - DeptsMin + 1)).sorted
      for (d <- depts) {
        val base = uniform(500, 40000)
        for (w <- 0 until SalesWeeks) {
          val date = weeks(w)
          val holiday = holidays(date)
          // 10% of dates take the fallback format of the COALESCE chain
          val dateText = if (rnd.nextInt(10) == 0) date.toString else date.format(mdy)
          // 2% of sales are the NA null sentinel, which the plan reads as 0.0
          val sale = if (rnd.nextInt(50) == 0) None
            else Some(cents(base * uniform(0.7, if (holiday) 1.8 else 1.3)))
          sales ++= s"${s + 1},$d,$dateText,${sale.fold("NA")(_.toString)}," +
            s"${if (holiday) "TRUE" else "FALSE"}\n"
          val v = sale.getOrElse(0.0)
          expected += ExpectedRow(s + 1, d, date.minusDays(date.getDayOfWeek.getValue - 1L),
            v, if (holiday) v else 0.0, temps(s)(w), types(s), sizes(s))
        }
      }
    }

    def write(name: String, body: StringBuilder): Path = {
      val p = dir.resolve(name)
      Files.write(p, body.toString.getBytes(UTF_8))
      p
    }
    Triplet(write("sales.csv", sales), write("features.csv", features),
      write("stores.csv", stores), expected.result())
  }

  /** Compares the plan's CSV output with the oracle row by row; returns
    * the first difference, or None when every row matches. */
  def checkOutput(out: Path, expected: IndexedSeq[ExpectedRow]): Option[String] = {
    if (!Files.exists(out)) return Some(s"no output at $out")
    val lines = Files.readAllLines(out, UTF_8)
    val header = "Store,Dept,week,weekly_sales,avg_weekly_sales,holiday_sales," +
      "avg_temp,avg_fuel,avg_cpi,avg_unemployment,Type,Store_Size"
    if (lines.isEmpty || lines.get(0) != header)
      return Some(s"header: ${if (lines.isEmpty) "<empty>" else lines.get(0)}")
    if (lines.size - 1 != expected.size)
      return Some(s"rows: ${lines.size - 1} != ${expected.size}")
    def close(a: Double, b: Double): Boolean =
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    var i = 0
    while (i < expected.size) {
      val e = expected(i)
      val f = lines.get(i + 1).split(",", -1)
      val ok = f.length == 12 && f(0).toInt == e.store && f(1).toInt == e.dept &&
        f(2) == e.week.toString && close(f(3).toDouble, e.weeklySales) &&
        close(f(4).toDouble, e.weeklySales) && close(f(5).toDouble, e.holidaySales) &&
        close(f(6).toDouble, e.avgTemp) && f(10) == e.storeType &&
        f(11).toLong == e.storeSize
      if (!ok) return Some(s"row ${i + 1}: ${lines.get(i + 1)} != $e")
      i += 1
    }
    None
  }
}
