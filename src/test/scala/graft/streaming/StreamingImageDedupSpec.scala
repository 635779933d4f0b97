package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.multimodal.Multimodal

/** Media dedup-on-arrival: a duplicate IMAGE landing in a later batch is
  * caught against the dHash store built from earlier batches — stored
  * media is never rescanned (only its 8-byte hashes are read back).
  */
class StreamingImageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def png(seed: Long): Array[Byte] = {
    val rgb = new Array[Int](256)
    var h = seed * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    var i = 0
    while (i < rgb.length) {
      h = h * 6364136223846793005L + 1442695040888963407L
      rgb(i) = ((h >>> 40) & 0xFFFFFF).toInt
      i += 1
    }
    Multimodal.encodePng(16, 16, rgb)
  }

  test("late-arriving duplicate image is flagged against the persisted hash store") {
    val incoming = Files.createTempDirectory("graft_simg_in").toString
    val store = Files.createTempDirectory("graft_simg_store").toString + "/h"
    val cands = Files.createTempDirectory("graft_simg_cands").toString + "/c"
    val ckpt = Files.createTempDirectory("graft_simg_ckpt").toString
    val schema = Seq((0L, Array.empty[Byte])).toDF("doc_id", "payload").schema

    // batch 1: two visually distinct images
    Seq((0L, png(100)), (1L, png(200))).toDF("doc_id", "payload")
      .write.parquet(s"$incoming/f1")
    StreamingDedup.runImages(spark, s"$incoming/*", schema, store, cands, ckpt)
    assert(spark.read.parquet(cands).count() === 0, "no dups yet")

    // batch 2: an exact re-encode of image 0's pixels + a fresh image
    Seq((2L, png(100)), (3L, png(300))).toDF("doc_id", "payload")
      .write.parquet(s"$incoming/f2")
    StreamingDedup.runImages(spark, s"$incoming/*", schema, store, cands, ckpt)
    val pairs = spark.read.parquet(cands)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)),
      s"late dup must pair with the stored original, got $pairs")
    assert(!pairs.exists(p => Set(p._1, p._2).contains(3L)),
      "unrelated image must not be a candidate")

    // hash store covers all four ids, one row each
    assert(spark.read.parquet(store).select("doc_id").distinct().count() === 4)

    // replayed micro-batch: identical candidates, no duplicate store rows
    val replayed = StreamingDedup.processImageBatch(
        Seq((2L, png(100)), (3L, png(300))).toDF("doc_id", "payload"),
        store, batchId = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(replayed === Set((0L, 2L)),
      s"replay must re-emit exactly the original pairs, got $replayed")
    assert(spark.read.parquet(store).count() === 4,
      "hash store has no duplicate rows after replay")
  }

  test("corrupt payload in a micro-batch is quarantined, not fatal (quarantineDir set)") {
    val store = Files.createTempDirectory("graft_simgq_store").toString + "/h"
    val qdir = Files.createTempDirectory("graft_simgq_q").toString + "/q"
    // batch 2 mixes a dup of a stored image, garbage bytes, and a fresh one
    StreamingDedup.processImageBatch(
      Seq((0L, png(100)), (1L, png(200))).toDF("doc_id", "payload"),
      store, batchId = 0L, quarantineDir = Some(qdir))
    val pairs = StreamingDedup.processImageBatch(
        Seq((2L, png(100)), (3L, "junk bytes".getBytes("UTF-8")), (4L, png(400)))
          .toDF("doc_id", "payload"),
        store, batchId = 1L, quarantineDir = Some(qdir))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 2L)), s"good rows still dedup, got $pairs")
    val quar = spark.read.parquet(qdir)
      .select("doc_id", "reason").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(quar.map(_._1).toSeq === Seq(3L), "exactly the corrupt row quarantined")
    assert(quar.head._2.nonEmpty)
    // the store holds only decodable ids; replaying the batch rewrites,
    // never duplicates, the quarantine rows
    assert(spark.read.parquet(store).select("doc_id").as[Long].collect().toSet ===
      Set(0L, 1L, 2L, 4L))
    StreamingDedup.processImageBatch(
      Seq((2L, png(100)), (3L, "junk bytes".getBytes("UTF-8")), (4L, png(400)))
        .toDF("doc_id", "payload"),
      store, batchId = 1L, quarantineDir = Some(qdir))
    assert(spark.read.parquet(qdir).count() === 1, "replay rewrites the quarantine batch")
  }

  test("without a quarantineDir a corrupt payload stays fail-fast by contract") {
    val store = Files.createTempDirectory("graft_simgf_store").toString + "/h"
    intercept[org.apache.spark.SparkException] {
      StreamingDedup.processImageBatch(
        Seq((0L, "junk".getBytes("UTF-8"))).toDF("doc_id", "payload"),
        store, batchId = 0L)
    }
  }
}
