package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Sessionize

/** Incremental WAU/MAU maintenance: after every micro-batch the
  * store-backed dashboard must EQUAL the batch (q_sess4) computation over
  * the union of all events ingested so far, and replays must converge.
  */
class StreamingEngagementSpec extends SparkSpec {
  import spark.implicits._

  private def ev(user: Long, day: String) =
    (user, Timestamp.valueOf(s"$day 12:00:00"))

  private def events(rows: Seq[(Long, Timestamp)]): DataFrame =
    rows.toDF("user_id", "ts")

  private def batchTwin(all: Seq[(Long, Timestamp)]): Seq[Row] =
    Sessionize.engagementFromUserWeeks(
        Sessionize.userWeeks(events(all), "user_id", "ts"))
      .orderBy("week").collect().toSeq
  private type Row = org.apache.spark.sql.Row

  private val b1 = Seq(ev(1, "2024-01-01"), ev(2, "2024-01-02"), ev(1, "2024-01-09"))
  private val b2 = Seq(ev(2, "2024-01-10"), ev(3, "2024-01-16"), ev(1, "2024-01-03"))
  private val b3 = Seq(ev(4, "2024-02-06"), ev(1, "2024-02-07"))

  test("store-backed dashboard equals the batch recompute after every micro-batch") {
    val dir = Files.createTempDirectory("eng_store").toString + "/store"
    val r1 = StreamingEngagement.processBatch(events(b1), dir, batchId = 0L)
      .orderBy("week").collect().toSeq
    assert(r1 === batchTwin(b1))
    val r2 = StreamingEngagement.processBatch(events(b2), dir, batchId = 1L)
      .orderBy("week").collect().toSeq
    assert(r2 === batchTwin(b1 ++ b2))
    val r3 = StreamingEngagement.processBatch(events(b3), dir, batchId = 2L)
      .orderBy("week").collect().toSeq
    assert(r3 === batchTwin(b1 ++ b2 ++ b3))
    // sanity: the fixture really exercises the trailing window (a week
    // whose MAU exceeds its WAU)
    assert(r3.exists(r => r.getLong(2) > r.getLong(1)))
  }

  test("replaying a batch id leaves the store and the dashboard unchanged") {
    val dir = Files.createTempDirectory("eng_store").toString + "/store"
    StreamingEngagement.processBatch(events(b1), dir, batchId = 0L)
    val before = StreamingEngagement.processBatch(events(b2), dir, batchId = 1L)
      .orderBy("week").collect().toSeq
    // at-least-once delivery: batch 1 fires again
    val after = StreamingEngagement.processBatch(events(b2), dir, batchId = 1L)
      .orderBy("week").collect().toSeq
    assert(after === before)
    assert(spark.read.parquet(dir).select("user_id", "wk").distinct().count() ===
      Sessionize.userWeeks(events(b1 ++ b2), "user_id", "ts").count())
  }
}
