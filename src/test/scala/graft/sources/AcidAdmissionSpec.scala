package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.operators.AcidTable
import org.apache.spark.sql.streaming.Trigger

/** Round 15: file/byte admission control on the streaming source — one
  * giant version drains in capped micro-batches (offsets split at file
  * granularity), exactly-once across restarts preserved. */
class AcidAdmissionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_acidadm_$tag").toString

  // (batchId, rows, plannedFilePartitions) per micro-batch — the
  // partition count IS the number of scan units the offset admitted
  private def drain(root: String, ckpt: String,
                    extra: Map[String, String] = Map.empty)
      : Seq[(Long, Set[Long], Int)] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Set[Long], Int)]()
    val reader = spark.readStream.format("graft-acid").option("root", root)
    val q = extra.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got.add((id, df.select("k").as[Long].collect().toSet,
          df.rdd.getNumPartitions))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    got.asScala.toSeq.sortBy(_._1)
  }

  test("a many-file version drains in maxFilesPerBatch-capped batches; " +
      "union exact, no overlap") {
    val root = fresh("f") + "/tbl"
    val ckpt = fresh("fc")
    // ONE append that lands as many files — the compaction-era shape
    // (AQE may coalesce the requested 12; assert against the ACTUAL
    // file count the manifest records)
    AcidTable.commitAppend(
      spark.range(12).select($"id".as("k"), ($"id" * 10).as("v"))
        .repartition(12), root, statsCols = Seq("k"))
    val nFiles = AcidTable.entriesOf(spark, root, 1L).length
    assert(nFiles > 5, s"fixture needs >5 files, got $nFiles")
    val batches = drain(root, ckpt, Map("maxFilesPerBatch" -> "5"))
    val planned = batches.filter(_._3 > 0)
    assert(planned.length === (nFiles + 4) / 5,
      s"$nFiles files at 5/batch, got $batches")
    assert(planned.forall(_._3 <= 5), s"a batch exceeded the cap: $batches")
    assert(planned.map(_._3).sum === nFiles,
      "every file planned exactly once")
    // no row delivered twice, nothing lost
    assert(batches.flatMap(_._2).toSet === (0L until 12L).toSet)
    assert(batches.map(_._2.size).sum === 12)
  }

  test("exactly-once across a restart mid-split: the checkpointed " +
      "file-granular offset resumes where it stopped") {
    val root = fresh("r") + "/tbl"
    val ckpt = fresh("rc")
    AcidTable.commitAppend(
      spark.range(9).select($"id".as("k"), $"id".as("v"))
        .repartition(9), root, statsCols = Seq("k"))
    // maxVersionsPerBatch=1 with file cap: AvailableNow still drains
    // all; run once, then RESTART on the same checkpoint — nothing may
    // be redelivered, then a new commit arrives alone
    val first = drain(root, ckpt, Map("maxFilesPerBatch" -> "4"))
    assert(first.flatMap(_._2).toSet === (0L until 9L).toSet)
    assert(first.filter(_._3 > 0).forall(_._3 <= 4))
    assert(drain(root, ckpt, Map("maxFilesPerBatch" -> "4"))
      .flatMap(_._2).isEmpty)
    AcidTable.commitAppend(
      Seq((100L, 1L)).toDF("k", "v").coalesce(1), root,
      statsCols = Seq("k"))
    assert(drain(root, ckpt, Map("maxFilesPerBatch" -> "4"))
      .flatMap(_._2).toSet === Set(100L))
  }

  test("maxBytesPerBatch splits by size and a single over-cap file " +
      "still ships alone (progress guarantee)") {
    val root = fresh("b") + "/tbl"
    val ckpt = fresh("bc")
    AcidTable.commitAppend(
      spark.range(4).select($"id".as("k"), $"id".as("v"))
        .repartition(4), root, statsCols = Seq("k"))
    val nFiles = AcidTable.entriesOf(spark, root, 1L).length
    // every parquet file here is ~1KB — a 1-byte cap forces one file
    // per batch, proving both the split and the progress guarantee
    val batches = drain(root, ckpt, Map("maxBytesPerBatch" -> "1"))
      .filter(_._3 > 0)
    assert(batches.length === nFiles,
      s"a 1-byte cap must ship one (over-cap) file per batch: $batches")
    assert(batches.forall(_._3 === 1))
    assert(batches.flatMap(_._2).toSet === (0L until 4L).toSet)
  }

  test("a capped drain opens as many manifests for a 24-file version " +
      "as for a 6-file one") {
    def opens(nFiles: Int): Long = {
      val root = fresh(s"o$nFiles") + "/tbl"
      AcidTable.commitAppend(spark.range(0, nFiles, 1, nFiles)
        .select($"id".as("k"), $"id".as("v")), root, statsCols = Seq("k"))
      assert(AcidTable.entriesOf(spark, root, 1L).length === nFiles)
      val before = AcidTable.manifestOpens.get()
      // a cap far above the file count: one batch either way, but the
      // admission walk sizes every unit
      val batches = drain(root, fresh(s"oc$nFiles"),
        Map("maxFilesPerBatch" -> "1000000"))
      assert(batches.flatMap(_._2).toSet === (0L until nFiles.toLong).toSet)
      AcidTable.manifestOpens.get() - before
    }
    assert(opens(24) === opens(6))
  }

  test("legacy {version:N} offsets deserialize as (N, 0)") {
    val s = new AcidMicroBatchStream("/tmp/none", null,
      startingVersion = 1L, maxVersionsPerBatch = Long.MaxValue)
    assert(s.deserializeOffset("""{"version":7}""") === AcidOffset(7L, 0L))
    assert(s.deserializeOffset("""{"version":7,"fileIdx":3}""") ===
      AcidOffset(7L, 3L))
  }
}
