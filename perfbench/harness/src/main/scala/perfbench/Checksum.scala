package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content checksum of a frame: the row count and the
  * exact (decimal, so it cannot overflow) sum of each row's xxhash64 over
  * `cols`, taken in the given order. Equal multisets of rows give equal
  * checksums whatever their order or partitioning; a changed, missing or
  * duplicated row changes it. Sums add, so the checksum of a union of
  * disjoint parts is the sum of the parts' checksums. */
final case class Checksum(rows: Long, hashSum: BigDecimal) {
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, hashSum + o.hashSum)
  override def toString: String = s"rows=$rows hashsum=$hashSum"
}

object Checksum {
  def of(df: DataFrame, cols: Seq[String]): Checksum = {
    val r = df.select(xxhash64(cols.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    Checksum(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
