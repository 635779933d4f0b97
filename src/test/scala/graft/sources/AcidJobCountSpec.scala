package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.operators.AcidTable

/** Spark job counts of every graft-acid connector entry point: a batch
  * read, time travel, the metadata-only aggregate, the `.history` and
  * `.detail` metadata tables, a DSv2 append, a streaming epoch, SQL
  * DELETE / MERGE INTO on a keyed (delta-based) and an unkeyed
  * (group-based) table, and CTAS. A refactor that adds a planning or
  * collect job to any of them fails here. */
class AcidJobCountSpec extends SparkSpec {
  import spark.implicits._

  private val base = Files.createTempDirectory("graft_acidjobs").toString
  spark.conf.set("spark.sql.catalog.jc", "graft.sources.AcidCatalog")
  spark.conf.set("spark.sql.catalog.jc.root", base)

  private def kv(pairs: (Long, Long)*) = pairs.toDF("k", "v").coalesce(1)

  /** Three single-file appends of k = 1..30, stats and sums on k; with
    * `key`, k is the declared merge key (the delta-based DML path). */
  private def mk(name: String, key: Boolean = false): String = {
    val root = s"$base/$name"
    AcidTable.setSumCols(spark, root, Seq("k"))
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach { r =>
      AcidTable.commitAppend(kv(r.map(i => i -> i * 10): _*), root,
        statsCols = Seq("k"))
    }
    if (key) AcidTable.setMergeKey(spark, root, "k")
    root
  }

  private def pin(expected: Int)(body: => Any): Unit = {
    val (jobs, _) = countingJobs(body)
    assert(jobs === expected)
  }

  private def load(root: String) =
    spark.read.format("graft-acid").option("root", root)

  test("a batch read") {
    val root = mk("read")
    pin(1) { load(root).load().collect() }
  }

  test("an asOfVersion read") {
    val root = mk("asof")
    pin(1) { load(root).option("asOfVersion", "1").load().collect() }
  }

  test("a metadata-only count(*)/min/max/sum") {
    val root = mk("agg")
    val served = AcidSource.metadataAggs.get()
    // the one job runs the constant-row scan; no data file is opened
    pin(1) {
      load(root).load().agg(count(lit(1)), min("k"), max("k"), sum("k"))
        .collect()
    }
    assert(AcidSource.metadataAggs.get() > served)
  }

  test("the .history and .detail metadata tables") {
    mk("meta")
    pin(1) { spark.sql("SELECT * FROM jc.meta.history").collect() }
    pin(1) { spark.sql("SELECT * FROM jc.meta.detail").collect() }
  }

  test("a DSv2 append") {
    val root = mk("append")
    val batch = kv((31L to 40L).map(i => i -> i * 10): _*)
    pin(4) { batch.write.format("graft-acid").option("root", root)
      .mode("append").save() }
  }

  test("a streaming epoch: graft-acid source into graft-acid sink") {
    val src = mk("stream_src")
    val dst = mk("stream_dst")
    val ckpt = Files.createTempDirectory("graft_acidjobs_ck").toString
    pin(4) {
      spark.readStream.format("graft-acid").option("root", src)
        .option("startingVersion", "3").load()
        .writeStream.format("graft-acid").option("root", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  test("SQL DELETE and MERGE INTO on a keyed (delta-path) table") {
    mk("keyed", key = true)
    pin(1) { spark.sql("DELETE FROM jc.keyed WHERE k BETWEEN 13 AND 17") }
    kv(5L -> 0L, 50L -> 500L).createOrReplaceTempView("jc_src_keyed")
    pin(6) {
      spark.sql(
        """MERGE INTO jc.keyed t USING jc_src_keyed s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  test("SQL DELETE and MERGE INTO on an unkeyed (group-path) table") {
    mk("unkeyed")
    pin(6) { spark.sql("DELETE FROM jc.unkeyed WHERE k BETWEEN 13 AND 17") }
    kv(5L -> 0L, 50L -> 500L).createOrReplaceTempView("jc_src_unkeyed")
    pin(9) {
      spark.sql(
        """MERGE INTO jc.unkeyed t USING jc_src_unkeyed s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  test("CTAS") {
    pin(1) {
      spark.sql("CREATE TABLE jc.ctas AS SELECT id AS k, id * 10 AS v " +
        "FROM range(20)")
    }
  }
}
