package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Checksum equality on a known frame:
  * cd perfbench/harness && sbt "harness/test" */
class ChecksumSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val cols = Seq("company", "day", "Adj Close")
  private val rows = Seq(("AAA", 1, 10.5), ("AAA", 2, 11.0), ("BBB", 1, 7.25), ("CCC", 3, 0.0))

  private def frame(rs: Seq[(String, Int, Double)], parts: Int) = {
    import spark.implicits._
    rs.toDF(cols: _*).repartition(parts)
  }

  test("order and partitioning do not change the checksum") {
    val a = Checksum.of(frame(rows, 1), cols)
    assert(a == Checksum.of(frame(rows.reverse, 3), cols))
    assert(a.rows == 4)
  }

  test("a changed, missing or duplicated row changes it") {
    val a = Checksum.of(frame(rows, 2), cols)
    assert(a != Checksum.of(frame(rows.updated(1, ("AAA", 2, 11.01)), 2), cols))
    assert(a != Checksum.of(frame(rows.tail, 2), cols))
    assert(a != Checksum.of(frame(rows :+ rows.head, 2), cols))
  }

  test("the checksum of a union of disjoint parts is the sum of the parts") {
    val (x, y) = rows.splitAt(2)
    assert(Checksum.of(frame(rows, 2), cols) ==
      Checksum.of(frame(x, 1), cols) + Checksum.of(frame(y, 1), cols))
  }

  test("an empty frame has the zero checksum") {
    assert(Checksum.of(frame(Nil, 1), cols) == Checksum(0L, BigDecimal(0)))
  }
}
