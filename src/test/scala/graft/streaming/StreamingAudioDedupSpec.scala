package graft.streaming

import java.nio.file.Files
import graft.SparkSpec
import graft.multimodal.AudioWav

/** Audio dedup-on-arrival (round 7, the WAV twin of
  * StreamingImageDedupSpec): a duplicate CLIP landing in a later batch is
  * caught against the fingerprint store built from earlier batches —
  * stored audio is never rescanned (only its 8-byte hashes are read back).
  */
class StreamingAudioDedupSpec extends SparkSpec {
  import spark.implicits._

  /** A seeded broadband clip with a seeded per-frame amplitude walk —
    * generic clips hash far apart; identical seeds hash identically. */
  private def wav(seed: Long): Array[Byte] = {
    var h = seed * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    val samples = Array.tabulate[Short](3600) { i =>
      val t = math.min(i * 9 / 3600, 8)
      val amp = 4000 + 3000 * (((seed + t * 7) % 9).toInt)
      h = h * 6364136223846793005L + 1442695040888963407L
      (((h >>> 48).toShort.toInt * amp) / 32768).toShort
    }
    AudioWav.encodeWavPcm16(16000, samples)
  }

  test("late-arriving duplicate clip is flagged against the persisted fingerprint store") {
    val incoming = Files.createTempDirectory("graft_saud_in").toString
    val store = Files.createTempDirectory("graft_saud_store").toString + "/h"
    val cands = Files.createTempDirectory("graft_saud_cands").toString + "/c"
    val ckpt = Files.createTempDirectory("graft_saud_ckpt").toString
    val schema = Seq((0L, Array.empty[Byte])).toDF("doc_id", "payload").schema

    // batch 1: two acoustically distinct clips
    Seq((0L, wav(100)), (1L, wav(200))).toDF("doc_id", "payload")
      .write.parquet(s"$incoming/f1")
    StreamingDedup.runAudio(spark, s"$incoming/*", schema, store, cands, ckpt)
    assert(spark.read.parquet(cands).count() === 0, "no dups yet")

    // batch 2: a bit-identical copy of clip 0 + a fresh clip
    Seq((2L, wav(100)), (3L, wav(300))).toDF("doc_id", "payload")
      .write.parquet(s"$incoming/f2")
    StreamingDedup.runAudio(spark, s"$incoming/*", schema, store, cands, ckpt)
    val pairs = spark.read.parquet(cands)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)),
      s"late dup must pair with the stored original, got $pairs")
    assert(!pairs.exists(p => Set(p._1, p._2).contains(3L)),
      "unrelated clip must not be a candidate")

    // hash store covers all four ids, one row each
    assert(spark.read.parquet(store).select("doc_id").distinct().count() === 4)

    // replayed micro-batch: identical candidates, no duplicate store rows
    val replayed = StreamingDedup.processAudioBatch(
        Seq((2L, wav(100)), (3L, wav(300))).toDF("doc_id", "payload"),
        store, batchId = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(replayed === Set((0L, 2L)),
      s"replay must re-emit exactly the original pairs, got $replayed")
    assert(spark.read.parquet(store).count() === 4,
      "hash store has no duplicate rows after replay")
  }

  test("spectral=true runs the constant-Q fingerprint through the same store machinery") {
    val store = Files.createTempDirectory("graft_scq_store").toString + "/h"
    StreamingDedup.processAudioBatch(
      Seq((0L, wav(100)), (1L, wav(200))).toDF("doc_id", "payload"),
      store, batchId = 0L, spectral = true)
    val pairs = StreamingDedup.processAudioBatch(
        Seq((2L, wav(100)), (3L, wav(300))).toDF("doc_id", "payload"),
        store, batchId = 1L, spectral = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 2L)),
      s"bit-identical late dup must pair under the cq fingerprint, got $pairs")
    // the stored values really are cq hashes, not Haar time hashes
    val stored = spark.read.parquet(store)
      .select("doc_id", "ahash").as[(Long, Long)].collect().toMap
    val expectCq = AudioWav.constantQHash64(
      AudioWav.decodeWavPcm16(wav(100))._2)
    assert(stored(0L) === expectCq, "store must hold the constant-Q value")
  }

  test("corrupt clip in a micro-batch is quarantined, not fatal (quarantineDir set)") {
    val store = Files.createTempDirectory("graft_saudq_store").toString + "/h"
    val qdir = Files.createTempDirectory("graft_saudq_q").toString + "/q"
    StreamingDedup.processAudioBatch(
      Seq((0L, wav(100)), (1L, wav(200))).toDF("doc_id", "payload"),
      store, batchId = 0L, quarantineDir = Some(qdir))
    val pairs = StreamingDedup.processAudioBatch(
        Seq((2L, wav(100)), (3L, "not audio".getBytes("UTF-8")), (4L, wav(400)))
          .toDF("doc_id", "payload"),
        store, batchId = 1L, quarantineDir = Some(qdir))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 2L)), s"good rows still dedup, got $pairs")
    assert(spark.read.parquet(qdir).select("doc_id").as[Long].collect().toSeq === Seq(3L))
    assert(spark.read.parquet(store).select("doc_id").as[Long].collect().toSet ===
      Set(0L, 1L, 2L, 4L), "only decodable ids reach the store")
  }
}
