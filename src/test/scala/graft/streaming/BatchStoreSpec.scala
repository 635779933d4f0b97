package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The per-batch store protocol on its own, with a probe that returns the
  * stored side it was handed. */
class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store(): String =
    Files.createTempDirectory("graft_batchstore").toString + "/s"

  private def stored(fresh: DataFrame, dir: String, batchId: Long): DataFrame =
    BatchStore.step(fresh, dir, batchId)((_, s) => s)

  test("an absent store yields zero rows with the fresh rows' schema") {
    val fresh = Seq(("a-1", 3L), ("b-2", 4L)).toDF("doc_id", "v")
    val out = stored(fresh, store(), 0L)
    assert(out.count() === 0L)
    assert(out.schema === fresh.schema, "a string id stays a string")
  }

  test("the stored side excludes only the caller's own batch, not its ids") {
    val dir = store()
    stored(Seq(("a", 1L), ("b", 2L)).toDF("doc_id", "v"), dir, 0L)
    stored(Seq(("c", 3L)).toDF("doc_id", "v"), dir, 1L)
    // batch 2 repeats id "a": batch 0's row for it stays on the stored side
    val seen = stored(Seq(("a", 9L)).toDF("doc_id", "v"), dir, 2L)
      .as[(String, Long)].collect().toSet
    assert(seen === Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // a replay of batch 1 sees every other batch's rows and not its own
    val replay = stored(Seq(("c", 3L)).toDF("doc_id", "v"), dir, 1L)
      .as[(String, Long)].collect().toSet
    assert(replay === Set(("a", 1L), ("b", 2L), ("a", 9L)))
  }

  test("replaying a batch id leaves one copy and returns the same result") {
    val dir = store()
    def run(rows: Seq[(Long, Long)], id: Long): Set[(Long, Long)] =
      BatchStore.step(rows.toDF("k", "v"), dir, id) { (fresh, s) =>
        fresh.unionByName(s).groupBy("k").sum("v")
      }.as[(Long, Long)].collect().toSet
    run(Seq((1L, 10L), (2L, 20L)), 0L)
    val first = run(Seq((1L, 5L), (3L, 30L)), 1L)
    val replay = run(Seq((1L, 5L), (3L, 30L)), 1L)
    assert(replay === first)
    assert(first === Set((1L, 15L), (2L, 20L), (3L, 30L)))
    assert(spark.read.parquet(dir).count() === 4L)
    assert(spark.read.parquet(s"$dir/batch=1").count() === 2L)
  }
}
