package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.operators.AcidTable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Round 14: the ACID table's DSv2 WRITE surface —
  * `df.write.format("graft-acid")` batch commits and the exactly-once
  * `writeStream` sink (epoch id == idempotency token). */
class AcidWriteSpec extends SparkSpec {
  import spark.implicits._

  private def kv(pairs: (Long, Long)*) = pairs.toDF("k", "v").coalesce(1)

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_acidw_$tag").toString + "/tbl"

  private def readAll(root: String): Set[(Long, Long)] =
    AcidTable.read(spark, root).select("k", "v").as[(Long, Long)]
      .collect().toSet

  test("batch append lands a manifest version; overwrite truncates") {
    val root = fresh("b")
    AcidTable.commitAppend(kv(1L -> 10L), root) // bootstrap (schema source)
    kv(2L -> 20L, 3L -> 30L).write.format("graft-acid")
      .option("root", root).mode("append").save()
    assert(AcidTable.history(spark, root).map(h => (h._1, h._2)) ===
      Seq((1L, "append"), (2L, "append")))
    assert(readAll(root) === Set(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // overwrite replaces the whole state as one 'overwrite' version
    kv(9L -> 90L).write.format("graft-acid")
      .option("root", root).mode("overwrite").save()
    assert(AcidTable.actionOf(spark, root, 3L) === "overwrite")
    assert(readAll(root) === Set(9L -> 90L))
    // time travel still sees the pre-overwrite state
    assert(AcidTable.readAsOf(spark, root, 2L).count() === 3L)
  }

  test("statsCols write option records manifest stats the pushdown uses") {
    val root = fresh("st")
    AcidTable.commitAppend(kv((1L to 10L).map(i => i -> i): _*), root,
      statsCols = Seq("k"))
    kv((101L to 110L).map(i => i -> i): _*).write.format("graft-acid")
      .option("root", root).option("statsCols", "k").mode("append").save()
    val e = AcidTable.entriesOf(spark, root, 2L)
    assert(e.exists(_.statFor("k").exists(s => s.min == 101L && s.max == 110L)),
      s"DSv2-written entries should carry k stats, got $e")
    // and the DSv2 read prunes on them
    val pruned = spark.read.format("graft-acid").option("root", root).load()
      .where($"k" >= 105L)
    assert(pruned.rdd.getNumPartitions === 1)
    assert(pruned.count() === 6L)
  }

  test("a zero-row append publishes NO version; a zero-row overwrite " +
      "keeps one schema-bearing file") {
    val root = fresh("z")
    AcidTable.commitAppend(kv(1L -> 10L), root)
    kv().where($"k" > 0L).write.format("graft-acid")
      .option("root", root).mode("append").save()
    assert(AcidTable.versions(spark, root) === Seq(1L),
      "no rows, no version")
    kv(2L -> 20L).where($"k" === 99L).write.format("graft-acid")
      .option("root", root).mode("overwrite").save()
    assert(AcidTable.currentVersion(spark, root) === 2L)
    assert(AcidTable.read(spark, root).count() === 0L,
      "empty overwrite reads as an empty, schema-bearing table")
  }

  test("the round-trip: DSv2 write, DSv2 pushdown read, MOR delete, " +
      "DSv2 masked read") {
    val root = fresh("rt")
    AcidTable.commitAppend(kv((1L to 20L).map(i => i -> (i * 10)): _*),
      root, statsCols = Seq("k"))
    kv((21L to 40L).map(i => i -> (i * 10)): _*).write
      .format("graft-acid").option("root", root).option("statsCols", "k")
      .mode("append").save()
    AcidTable.deleteMor(spark, root, "k", 25L, 30L)
    val got = spark.read.format("graft-acid").option("root", root).load()
      .where($"k" between(21L, 40L)).select("k").as[Long].collect().toSet
    assert(got === ((21L to 40L).toSet -- (25L to 30L)))
  }

  test("writeStream is an exactly-once sink: per-epoch token commits, " +
      "restart appends only new batches") {
    val root = fresh("s")
    AcidTable.commitAppend(kv(0L -> 0L), root) // bootstrap schema
    val ck = Files.createTempDirectory("graft_acidw_ck").toString
    val mem = MemoryStream[(Long, Long)](spark)
    def drain(): Unit = {
      val q = mem.toDF().toDF("k", "v").writeStream
        .format("graft-acid").option("root", root)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(1L -> 10L, 2L -> 20L)
    drain()
    assert(readAll(root) === Set(0L -> 0L, 1L -> 10L, 2L -> 20L))
    val vAfterFirst = AcidTable.currentVersion(spark, root)
    // restart from the same checkpoint: already-committed epochs are not
    // re-delivered; only new data lands
    mem.addData(3L -> 30L)
    drain()
    assert(readAll(root) ===
      Set(0L -> 0L, 1L -> 10L, 2L -> 20L, 3L -> 30L))
    assert(AcidTable.currentVersion(spark, root) === vAfterFirst + 1)
  }

  test("a REPLAYED epoch no-ops on its token and drops its re-written " +
      "files (crash between sink commit and offset log)") {
    val root = fresh("rp")
    AcidTable.commitAppend(kv(1L -> 10L), root)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val sink = new AcidStreamingWrite(root, schema, Nil, "q-replay")
    def writeEpoch(epoch: Long, taskId: Long,
                   rows: Seq[(Long, Long)]): AcidWriteMessage = {
      val w = new AcidDataWriterFactory(root, "data/dsv2-q-replay",
        schema).createWriter(0, taskId, epoch)
      rows.foreach { case (k, v) =>
        w.write(InternalRow(k, v))
      }
      w.commit().asInstanceOf[AcidWriteMessage]
    }
    sink.commit(7L, Array(writeEpoch(7L, 1L, Seq(2L -> 20L))))
    val v1 = AcidTable.currentVersion(spark, root)
    // the replay: same epoch id, fresh task attempt => fresh file name
    val replayed = writeEpoch(7L, 2L, Seq(2L -> 20L))
    sink.commit(7L, Array(replayed))
    assert(AcidTable.currentVersion(spark, root) === v1,
      "replayed epoch must not publish a second version")
    assert(readAll(root) === Set(1L -> 10L, 2L -> 20L))
    // and the replay's orphan file was cleaned up
    val orphan = new org.apache.hadoop.fs.Path(s"$root/${replayed.relPath}")
    assert(!orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(orphan))
  }

  test("primitive write surface round-trips through the Group encoder " +
      "(strings, dates, timestamps, binary)") {
    val root = fresh("t")
    // the DSv2 surface speaks micros TIMESTAMP; Spark's legacy INT96
    // default would make the bootstrap file unreadable through it
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try testTimestampRoundTrip(root)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
  }

  private def testTimestampRoundTrip(root: String): Unit = {
    val df = Seq((1L, 7, 1.5, 2.5f, true, "héllo",
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        Array[Byte](1, 2, 3)))
      .toDF("l", "i", "d", "f", "b", "s", "dt", "ts", "bin").coalesce(1)
    AcidTable.commitAppend(df, root) // bootstrap with the same schema
    df.write.format("graft-acid").option("root", root)
      .mode("append").save()
    val back = spark.read.format("graft-acid").option("root", root).load()
    assert(back.count() === 2L)
    val rows = back.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("l") === 1L && r.getAs[Int]("i") === 7 &&
        r.getAs[Double]("d") === 1.5 && r.getAs[Float]("f") === 2.5f &&
        r.getAs[Boolean]("b") === true && r.getAs[String]("s") === "héllo" &&
        r.getAs[java.sql.Date]("dt").toString === "2024-02-29" &&
        r.getAs[java.sql.Timestamp]("ts").toString ===
          "2024-02-29 12:34:56.789" &&
        r.getAs[Array[Byte]]("bin").toSeq === Seq[Byte](1, 2, 3))
    }
    // nulls round-trip too
    val withNull = spark.sql(
      "SELECT CAST(null AS BIGINT) l, 8 i, CAST(null AS DOUBLE) d, " +
        "CAST(2.5 AS FLOAT) f, false b, CAST(null AS STRING) s, " +
        "CAST(null AS DATE) dt, CAST(null AS TIMESTAMP) ts, " +
        "CAST(null AS BINARY) bin")
    withNull.write.format("graft-acid").option("root", root)
      .mode("append").save()
    val n = spark.read.format("graft-acid").option("root", root).load()
      .where($"i" === 8)
    val nr = n.head()
    assert(nr.isNullAt(nr.fieldIndex("l")) && nr.isNullAt(nr.fieldIndex("s")))
  }

  test("a task-level abort deletes its file; an uncommitted attempt " +
      "file stays invisible either way") {
    val root = fresh("ab")
    AcidTable.commitAppend(kv(1L -> 10L), root)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType)))
    val factory = new AcidDataWriterFactory(root, "data/dsv2-abort", schema)
    // attempt 1 writes then ABORTS: its file must be deleted
    val w1 = factory.createWriter(0, 1L)
    w1.write(InternalRow(7L, 70L))
    w1.abort()
    val p1 = new org.apache.hadoop.fs.Path(
      s"$root/data/dsv2-abort/part-00000-1.parquet")
    val fs = p1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(p1), "abort must delete the attempt's file")
    // attempt 2 commits its message but the JOB never publishes: the
    // file exists on disk yet no reader can see it (manifest-invisible)
    val w2 = factory.createWriter(0, 2L)
    w2.write(InternalRow(8L, 80L))
    w2.commit()
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/data/dsv2-abort/part-00000-2.parquet")))
    assert(readAll(root) === Set(1L -> 10L),
      "an unpublished task file is invisible to every reader")
  }

  test("concurrent DSv2 appends both land (the rebase gate holds for " +
      "the write path)") {
    val root = fresh("c")
    AcidTable.commitAppend(kv(0L -> 0L), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            kv(i.toLong -> i * 10L).write.format("graft-acid")
              .option("root", root).mode("append").save()
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    assert(readAll(root) ===
      (0L to 4L).map(i => i -> i * 10L).toSet)
    assert(AcidTable.versions(spark, root).length === 5)
  }
}
