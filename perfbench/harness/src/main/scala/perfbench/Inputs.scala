package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seed-generated inputs. The engine sees only what these produce: a
  * symbols CSV in the reference's processed-screener layout, and daily
  * price batches in the store's schema. */
object Inputs {

  private val sectors = Seq("Technology", "Health Care", "Finance", "Energy",
    "Industrials", "Utilities", "Real Estate", "Consumer Services",
    "Consumer Durables", "Basic Materials", "Telecommunications")

  /** `n` distinct tickers of 1-5 capital letters, in generation order. */
  def tickers(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n)
      out += Seq.fill(1 + r.nextInt(5))(('A' + r.nextInt(26)).toChar).mkString
    out.toSeq
  }

  /** Writes `company_tick_symbols_processed.csv`-shaped rows for `syms`:
    * IPO_Year blank for about two thirds of the rows, as in the reference. */
  def writeSymbolsCsv(path: String, seed: Long, syms: Seq[String]): Unit = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    val header = "Symbol,Company_Name,Sector,Data_Exising,History_Existing,IPO_Year,Country,Industry"
    val rows = syms.map { s =>
      val ipo = if (r.nextInt(3) == 0) (1980 + r.nextInt(40)).toString else ""
      Seq(s, s"$s Holdings Inc.", sectors(r.nextInt(sectors.size)), "True",
        s"${5000 + r.nextInt(2000)}.0", ipo, "United States", "Miscellaneous").mkString(",")
    }
    Files.write(Paths.get(path), (header +: rows).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  /** Monday-to-Friday dates in [start, start + days). */
  def tradingDays(start: LocalDate, days: Int): Seq[LocalDate] =
    (0 until days).map(i => start.plusDays(i.toLong)).filter(_.getDayOfWeek.getValue <= 5)

  /** The first `n` trading days strictly after `after`. */
  def nextTradingDays(after: LocalDate, n: Int): Seq[LocalDate] =
    Iterator.iterate(after.plusDays(1))(_.plusDays(1))
      .filter(_.getDayOfWeek.getValue <= 5).take(n).toSeq

  /** The store's schema, as `spark.read.parquet` returns it. */
  val storeSchema: StructType = StructType(Seq(
    StructField("Date", TimestampType), StructField("Open", DoubleType),
    StructField("High", DoubleType), StructField("Low", DoubleType),
    StructField("Close", DoubleType), StructField("Adj Close", DoubleType),
    StructField("Volume", LongType), StructField("company", StringType),
    StructField("year", IntegerType)))

  val storeCols: Seq[String] = storeSchema.fieldNames.toSeq

  /** One day's update: a valid OHLCV row for every symbol on `day`,
    * drawn from `seed`. */
  def dailyBatch(spark: SparkSession, seed: Long, syms: Seq[String], day: LocalDate): DataFrame = {
    val r = new Random(seed * 1000003L + day.toEpochDay)
    val ts = Timestamp.from(day.atStartOfDay().toInstant(ZoneOffset.UTC))
    def cents(x: Double) = math.round(x * 100.0) / 100.0
    val rows = syms.map { s =>
      val open = cents(20.0 + r.nextDouble() * 200.0)
      val close = cents(open * (0.95 + r.nextDouble() * 0.1))
      val high = cents(math.max(open, close) + r.nextDouble() * 2.0)
      val low = cents(math.max(0.01, math.min(open, close) - r.nextDouble() * 2.0))
      Row(ts, open, high, low, close, cents(close * 0.98), 100L + r.nextInt(1000000),
        s, day.getYear)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), storeSchema)
  }
}
