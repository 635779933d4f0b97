package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The JPEG (mixed-format) path, round 8: real crawls are mostly JPEG;
  * these pin (1) that the one sniffing decode path really decodes JPEG,
  * (2) that dHash survives the lossy round-trip with bounded drift —
  * dHash is DESIGNED to survive re-encoding, proved here rather than
  * assumed, (3) that a truncated JPEG quarantines instead of killing the
  * batch, and (4) that a JPEG re-encode of a stored PNG is still caught
  * by the near-dup join at the operating Hamming bound. */
class JpegPathSpec extends SparkSpec {
  import spark.implicits._

  /** Smooth doc-seeded gradient: band structure with ±160 luma contrast
    * and a +3/px tie-breaking slope — adjacent dHash samples are never
    * near-equal, so every comparison has margin far above JPEG-at-0.9
    * reconstruction error. (Pure noise pixels are the known worst case
    * for any perceptual hash under lossy re-encode; crawls hash natural
    * images, which have local structure like this.) */
  private def gradientRgb(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w
      val band = if (((id >> (x * 9 / w)) & 1L) == 1L) 160 else 0
      val v = math.min(255, 40 + band + 3 * x)
      v * 0x010101
    }

  test("ImageIO sniffs and really decodes JPEG through the same entry as PNG") {
    val rgb = gradientRgb(7L, 32, 24)
    val jpeg = Multimodal.encodeJpeg(32, 24, rgb)
    assert(Multimodal.sniffFormat(jpeg) === "jpeg")
    assert(Multimodal.sniffFormat(Multimodal.encodePng(32, 24, rgb)) === "png")
    val img = Multimodal.decodePng(jpeg) // the sniffing entry, despite the name
    assert(img.getWidth === 32 && img.getHeight === 24)
  }

  test("dHash survives the lossy JPEG round-trip within the near-dup bound") {
    // 40 doc-seeded structured images: hamming(dHash(png), dHash(jpeg))
    // must stay within the operating near-dup bound (<= 3) for every one
    val drifts = (0L until 40L).map { id =>
      val rgb = gradientRgb(id, 32, 24)
      val hp = Multimodal.dHash64(Multimodal.decodePng(Multimodal.encodePng(32, 24, rgb)))
      val hj = Multimodal.dHash64(Multimodal.decodePng(Multimodal.encodeJpeg(32, 24, rgb)))
      java.lang.Long.bitCount(hp ^ hj)
    }
    assert(drifts.max <= 3, s"dHash drift under JPEG: $drifts")
    // and the hashes are doc-specific, not degenerate
    val hashes = (0L until 40L).map { id =>
      Multimodal.dHash64(Multimodal.decodePng(
        Multimodal.encodeJpeg(32, 24, gradientRgb(id, 32, 24))))
    }
    // non-degeneracy: distinct descent patterns of the 9 band columns
    // (different band sequences can share a descent pattern, so distinct
    // hashes < distinct ids — 18/40 observed; anything > 10 proves the
    // fixture isn't collapsing to a constant)
    assert(hashes.distinct.size > 10, "fixture hashes must vary by doc")
  }

  test("truncated JPEG quarantines with a reason; good JPEGs are untouched") {
    val rows = (0L until 6L).map { id =>
      val full = Multimodal.encodeJpeg(24, 24, gradientRgb(id, 24, 24))
      (id, if (id == 2L) full.take(12) else full)
    }
    val (feats, quar) = Multimodal.imageFeaturesQuarantined(
      rows.toDF("doc_id", "payload"))
    val q = quar.collect().map(m => m.doc_id -> m).toMap
    assert(q.keySet === Set(2L))
    assert(q(2L).n_bytes === 12L && q(2L).reason.nonEmpty)
    assert(feats.collect().map(_.doc_id).sorted === Array(0L, 1L, 3L, 4L, 5L))
  }

  test("a JPEG re-encode of a stored PNG is caught by the near-dup join") {
    // ids 0..9: PNG originals; ids 100..109: JPEG re-encodes of the same
    // pixels. Every (i, 100+i) pair must surface at maxHamming = 3, and
    // the pigeonhole join must equal brute force over these hashes.
    val rows = (0L until 10L).flatMap { id =>
      val rgb = gradientRgb(id, 32, 24)
      Seq((id, Multimodal.encodePng(32, 24, rgb)),
        (id + 100L, Multimodal.encodeJpeg(32, 24, rgb)))
    }
    val hashes = Multimodal.imageDHashes(rows.toDF("doc_id", "payload"))
      .localCheckpoint()
    val pairs = graft.operators.NearDup.fingerprintPairs(hashes, "doc_id", "dhash", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 10L).foreach { id =>
      assert(pairs.contains((id, id + 100L)),
        s"planted PNG/JPEG pair ($id, ${id + 100L}) missed; got $pairs")
    }
    // exactness vs brute force over the same hash table
    val hs = hashes.as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(pairs === brute)
  }
}
