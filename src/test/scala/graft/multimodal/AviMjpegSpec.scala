package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The AVI/MJPEG container (VERDICT r7 "What's missing" #3 — the video
  * modality's step from the PNG-clip stand-in to a real format). Pins:
  * the encode→demux round-trip byte-exact for any frame sizes (including
  * RIFF's odd-size padding rule), the header cross-check, fail-fast on
  * truncation/grammar violations, and the end-to-end clip pipeline
  * (q_mm16's operator chain) recovering the planted shot structure
  * through the lossy JPEG codec. */
class AviMjpegSpec extends SparkSpec {
  import spark.implicits._

  private def jpeg(seed: Long, w: Int = 8, h: Int = 8): Array[Byte] = {
    val rgb = new Array[Int](w * h)
    var x = seed * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    var i = 0
    while (i < rgb.length) {
      x = x * 6364136223846793005L + 1442695040888963407L
      rgb(i) = ((x >>> 40) & 0xFFFFFF).toInt
      i += 1
    }
    Multimodal.encodeJpeg(w, h, rgb)
  }

  test("encode -> decodeFrames round-trips every frame byte-exact (odd sizes padded)") {
    val frames = (0 until 5).map(i => jpeg(i))
    // JPEG sizes vary; force at least one odd-length frame so the RIFF
    // even-padding path is exercised regardless of encoder luck
    val withOdd = frames :+ (frames.head :+ 0x55.toByte)
    val avi = AviMjpeg.encode(withOdd, 8, 8)
    assert(AviMjpeg.isAvi(avi))
    val back = AviMjpeg.decodeFrames(avi)
    assert(back.size === withOdd.size)
    withOdd.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "frame bytes must round-trip exactly")
    }
  }

  test("decoded frames re-enter the sniffing image path as real JPEGs") {
    val avi = AviMjpeg.encode(Seq(jpeg(7, 16, 12)), 16, 12)
    val img = Multimodal.decodePng(AviMjpeg.decodeFrames(avi).head)
    assert(img.getWidth === 16 && img.getHeight === 12)
  }

  test("truncation and grammar violations fail fast with a reason") {
    val avi = AviMjpeg.encode((0 until 3).map(i => jpeg(i)), 8, 8)
    // mid-header truncation (q_mm16's planted fault): magic survives,
    // the declared RIFF size cannot
    val short = avi.take(40).toArray
    assert(AviMjpeg.isAvi(short), "sniff must still recognize the magic")
    val e1 = intercept[IllegalArgumentException](AviMjpeg.decodeFrames(short))
    assert(e1.getMessage.contains("RIFF declares"))
    // frame-count mismatch: drop the last movi chunk bytes but keep avih
    val e2 = intercept[IllegalArgumentException](
      AviMjpeg.decodeFrames(java.util.Arrays.copyOf(avi, avi.length - 16)))
    assert(e2.getMessage != null)
    // not RIFF at all
    assert(!AviMjpeg.isAvi("plainly not a movie".getBytes))
  }

  test("clip pipeline on AVI recovers the planted shot structure (q_mm16 chain)") {
    val docs = spark.range(0, 20).select(col("id").as("doc_id"))
    val clips = Multimodal.syntheticAviClip(docs, "doc_id",
      nFrames = 6, width = 8, height = 8, shotLen = 2)
    val (stats, quar) = Multimodal.clipShotStatsQuarantined(clips, cutThreshold = 10)
    assert(quar.count() === 0L)
    val got = stats.collect().map(s => s.doc_id -> ((s.n_frames, s.n_shots))).toMap
    assert(got.size === 20)
    got.values.foreach { case (nf, ns) =>
      assert(nf === 6L, "every movi frame demuxed")
      assert(ns === 3L, "planted 2-frame scenes -> exactly 3 shots despite lossy JPEG")
    }
    // and the truncated (or null) variant quarantines whole
    val broken = clips.withColumn("payload",
      when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 40)"))
        .when(col("doc_id") === 3, lit(null).cast("binary"))
        .otherwise(col("payload")))
    val (okStats, quar2) = Multimodal.clipShotStatsQuarantined(broken)
    val q2 = quar2.collect().map(m => m.doc_id -> m.n_bytes).toMap
    assert(q2.keySet === Set(0L, 3L, 7L, 14L))
    assert(q2(3L) === 0L, "a null payload quarantines with n_bytes = 0")
    assert(okStats.count() === 16L)
  }

  test("within-scene dHash distance is exactly zero through the lossy codec") {
    // the property q_mm16's oracle leans on: identical JPEG BYTES decode
    // identically, so within-shot hamming is 0 no matter what the codec
    // did to the pixels
    val f = jpeg(3)
    val avi = AviMjpeg.encode(Seq(f, f, jpeg(4)), 8, 8)
    val hs = AviMjpeg.decodeFrames(avi)
      .map(b => Multimodal.dHash64(Multimodal.decodePng(b)))
    assert(hs(0) === hs(1))
    assert(java.lang.Long.bitCount(hs(1) ^ hs(2)) > 10,
      "distinct scenes must clear the cut threshold")
  }
}
