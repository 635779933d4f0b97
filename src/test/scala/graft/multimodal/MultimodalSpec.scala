package graft.multimodal

import graft.SparkSpec
import graft.operators.NearDup

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("binary metadata: byte length and content hash over the payload") {
    val df = Multimodal.withBinaryMeta(Seq((1L, "abc")).toDF("doc_id", "text"), "text")
    val r = df.select("n_bytes", "content_sha").head()
    assert(r.getLong(0) === 3L)
    assert(r.getString(1) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad") // sha256("abc")
  }

  test("frame sampling: stride/frameSize arithmetic and deterministic features") {
    // payload of 100 bytes, stride 40, frame 10 -> frames at 0, 40, 80
    val payload = ("x" * 100)
    val df = Multimodal.withBinaryMeta(Seq((7L, payload)).toDF("doc_id", "text"), "text")
    val frames = Multimodal.sampleFrames(df, stride = 40, frameSize = 10)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 1, 2))
    assert(frames.forall(_.n_bytes === 10))
    assert(frames.forall(_.mean_byte === 'x'.toInt.toDouble))
  }

  test("ragged tail frame is truncated, not padded") {
    val df = Multimodal.withBinaryMeta(Seq((7L, "a" * 25)).toDF("doc_id", "text"), "text")
    val frames = Multimodal.sampleFrames(df, stride = 10, frameSize = 10)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.n_bytes).toSeq === Seq(10, 10, 5))
  }

  // -------------------------------------------------------------------
  // Real PNG codec path
  // -------------------------------------------------------------------

  test("encodePng/decodePng round-trip exact pixels through a genuine PNG file") {
    val rgb = Array(0xFF0000, 0x00FF00, 0x0000FF, 0x123456)
    val png = Multimodal.encodePng(2, 2, rgb)
    // a real PNG container: magic signature + IHDR chunk
    assert(png.take(8).map(_ & 0xFF).toSeq === Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
    assert(new String(png.slice(12, 16), "US-ASCII") === "IHDR")
    val img = Multimodal.decodePng(png)
    assert((img.getWidth, img.getHeight) === ((2, 2)))
    assert(Multimodal.rgbPixels(img).map(_ & 0xFFFFFF).toSeq === rgb.toSeq)
  }

  test("decodePng fails fast on non-image bytes") {
    intercept[IllegalArgumentException] {
      Multimodal.decodePng("definitely not a png".getBytes("UTF-8"))
    }
  }

  test("imageFeatures computes channel means from actually decoded pixels") {
    // 2x1 image: pure red + pure blue. mean_r = mean_b = 127.5, mean_g = 0;
    // integer BT.601 luma: red 299*255/1000=76, blue 114*255/1000=29
    val png = Multimodal.encodePng(2, 1, Array(0xFF0000, 0x0000FF))
    val f = Multimodal.imageFeatures(Seq((3L, png)).toDF("doc_id", "payload")).head()
    assert((f.width, f.height) === ((2, 1)))
    assert(f.mean_r === 127.5 && f.mean_g === 0.0 && f.mean_b === 127.5)
    assert(f.mean_luma === (76 + 29) / 2.0)
  }

  test("pngLumaFrames frames the decoded luma plane, not the container bytes") {
    // 4x4 uniform mid-gray: luma = (299+587+114)*128/1000 = 128 exactly
    val png = Multimodal.encodePng(4, 4, Array.fill(16)(0x808080))
    val frames = Multimodal.pngLumaFrames(
      Seq((5L, png)).toDF("doc_id", "payload"), stride = 8, frameSize = 8)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(f => (f.frame_idx, f.n_bytes, f.mean_byte)).toSeq ===
      Seq((0, 8, 128.0), (1, 8, 128.0)))
  }

  test("resizePng nearest-neighbor picks exact source pixels and re-encodes") {
    // 4x4 with distinct pixels 0..15; factor 2 keeps (0,0) (2,0) (0,2) (2,2)
    val rgb = Array.tabulate(16)(i => i * 0x010101)
    val out = Multimodal.resizePng(
      Seq((9L, Multimodal.encodePng(4, 4, rgb))).toDF("doc_id", "payload"), factor = 2)
    val r = out.select("out_width", "out_height", "resized").head()
    assert((r.getInt(0), r.getInt(1)) === ((2, 2)))
    val resized = Multimodal.decodePng(r.getAs[Array[Byte]]("resized"))
    assert(Multimodal.rgbPixels(resized).map(_ & 0xFFFFFF).toSeq ===
      Seq(rgb(0), rgb(2), rgb(8), rgb(10)))
  }

  test("resizePng ragged edge: width not divisible by factor keeps the first pixel of the tail") {
    // 3x1: factor 2 -> out width ceil(3/2)=2, picks x=0 and x=2
    val rgb = Array(0x111111, 0x222222, 0x333333)
    val out = Multimodal.resizePng(
      Seq((1L, Multimodal.encodePng(3, 1, rgb))).toDF("doc_id", "payload"), factor = 2)
    val r = out.select("out_width", "out_height", "resized").head()
    assert((r.getInt(0), r.getInt(1)) === ((2, 1)))
    assert(Multimodal.rgbPixels(Multimodal.decodePng(r.getAs[Array[Byte]]("resized")))
      .map(_ & 0xFFFFFF).toSeq === Seq(0x111111, 0x333333))
  }

  test("imageFeaturesQuarantined isolates corrupt payloads; good rows identical to the fail-fast path") {
    val good = Multimodal.syntheticPng(
      spark.range(10).toDF("doc_id"), "doc_id", width = 16, height = 16)
    // plant four corruption shapes among the good payloads
    import org.apache.spark.sql.functions.{expr, lit, when}
    val mixed = good.withColumn("payload",
      when($"doc_id" === 2, expr("substring(payload, 1, 20)"))
        .when($"doc_id" === 3, lit(null).cast("binary"))
        .when($"doc_id" === 5, lit("not a png".getBytes("UTF-8")))
        .when($"doc_id" === 7, lit(Array.empty[Byte]))
        .otherwise($"payload"))
    val corrupt = Set(2L, 3L, 5L, 7L)
    val clean = good.where(!$"doc_id".isin(corrupt.toSeq: _*))
    val (feats, quar) = Multimodal.imageFeaturesQuarantined(mixed)
    val q = quar.collect().map(m => m.doc_id -> m).toMap
    assert(q.keySet === corrupt, s"exactly the corrupt rows quarantined: ${q.keySet}")
    assert(q.values.forall(_.reason.nonEmpty))
    assert(q(5L).n_bytes === 9L)
    assert(q(3L).n_bytes === 0L, "a null payload quarantines with n_bytes = 0")
    // good rows: bit-identical to the fail-fast operator over the same media
    assert(feats.collect().toSet === Multimodal.imageFeatures(clean).collect().toSet,
      "quarantine path must not perturb good rows")
    // the dHash operator runs the same split
    val (hashes, hquar) = Multimodal.imageDHashesQuarantined(mixed)
    assert(hquar.collect().map(m => m.doc_id -> m.n_bytes).toMap ===
      q.map { case (id, m) => id -> m.n_bytes })
    assert(hashes.collect().toSet === Multimodal.imageDHashes(clean).collect().toSet)
  }

  test("dHash64: gradient bits from decoded luma, invariant to re-encoding, edit-sensitive") {
    // 9x8 image with luma strictly DECREASING left-to-right in every row:
    // every comparison luma(x,y) > luma(x+1,y) holds -> all 64 bits set
    val dec = Array.tabulate(72) { i => val x = i % 9; (200 - 20 * x) * 0x010101 }
    assert(Multimodal.dHash64(Multimodal.decodePng(Multimodal.encodePng(9, 8, dec))) === -1L)
    // strictly increasing -> no bit set
    val inc = Array.tabulate(72) { i => val x = i % 9; (40 + 20 * x) * 0x010101 }
    assert(Multimodal.dHash64(Multimodal.decodePng(Multimodal.encodePng(9, 8, inc))) === 0L)
    // flipping one cell's gradient flips exactly that bit
    val one = inc.clone(); one(0) = 255 * 0x010101 // (0,0) now > (1,0)
    assert(Multimodal.dHash64(Multimodal.decodePng(Multimodal.encodePng(9, 8, one))) === 1L)
    // resize-invariance of the fingerprint: the same pattern at 18x16
    // (2x NN upscale) must hash identically
    val up = Array.tabulate(18 * 16) { i => val x = (i % 18) / 2; (40 + 20 * x) * 0x010101 }
    assert(Multimodal.dHash64(Multimodal.decodePng(Multimodal.encodePng(18, 16, up))) === 0L)
  }

  test("imageNearDupPairs finds EXACTLY the brute-force Hamming<=3 pairs on planted dups") {
    val media = Multimodal.syntheticPngNearDups(
      spark.range(40).toDF("doc_id"), "doc_id", width = 16, height = 16)
    val hashes = Multimodal.imageDHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val pairs = Multimodal.imageNearDupPairs(media, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === truth, "pigeonhole banding must be exact at hamming<=3")
    // every planted (2k, 2k+1) pair is present (the one-pixel edit moves <=1 bit)
    val planted = (0L until 40L by 2).map(k => (k, k + 1)).toSet
    assert(planted.subsetOf(pairs), s"missing planted pairs: ${planted -- pairs}")
  }

  test("image near-dup wide band tables emit identical pairs to the narrow form") {
    val media = Multimodal.syntheticPngNearDups(
      spark.range(40).toDF("doc_id"), "doc_id", width = 16, height = 16)
      .localCheckpoint()
    val sh = Multimodal.imageDHashes(media).withColumnRenamed("dhash", "simhash")
      .localCheckpoint()
    val narrow = NearDup.simhashPairs(sh, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wide = NearDup.simhashPairsWide(sh, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(narrow === wide,
      "both band tables are exact pigeonholes at hamming<=3 — outputs must match")
    assert(narrow.nonEmpty, "planted pairs must be present in both")
    // incremental twin: same equality over a new-vs-stored split
    val all = Multimodal.imageDHashes(media).localCheckpoint()
    val (oldH, newH) = (all.where($"doc_id" < 21), all.where($"doc_id" >= 21))
    val incNarrow = NearDup.incrementalPigeonholePairs(newH, oldH, "doc_id", "dhash",
        maxHamming = 3, NearDup.DefaultMaxBucketSize, wide = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incWide = NearDup.incrementalPigeonholePairs(newH, oldH, "doc_id", "dhash",
        maxHamming = 3, NearDup.DefaultMaxBucketSize, wide = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incNarrow === incWide && incNarrow.nonEmpty)
  }

  test("image near-dup entry points reject maxHamming > 3 (pigeonhole exactness bound)") {
    val media = Multimodal.syntheticPngNearDups(
      spark.range(4).toDF("doc_id"), "doc_id", width = 16, height = 16)
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(media, maxHamming = 4)
    }
    val h = Seq((1L, 0L)).toDF("doc_id", "dhash")
    intercept[IllegalArgumentException] {
      NearDup.incrementalFingerprintPairs(h, h, "doc_id", "dhash", maxHamming = 4)
    }
  }

  test("readBinaryDir bridges real files on disk to the codec operators") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media_").toFile
    try {
      // two real PNGs + one non-image file the glob must exclude
      java.nio.file.Files.write(new java.io.File(dir, "a.png").toPath,
        Multimodal.encodePng(2, 1, Array(0xFF0000, 0x0000FF)))
      java.nio.file.Files.write(new java.io.File(dir, "b.png").toPath,
        Multimodal.encodePng(4, 4, Array.fill(16)(0x808080)))
      java.nio.file.Files.write(new java.io.File(dir, "notes.txt").toPath,
        "not an image".getBytes("UTF-8"))
      val files = Multimodal.readBinaryDir(spark, dir.getAbsolutePath, "*.png")
      val feats = Multimodal.imageFeatures(files).collect()
        .map(f => (f.width, f.height, f.mean_luma)).toSet
      assert(feats === Set((2, 1, (76 + 29) / 2.0), (4, 4, 128.0)))
      // ids are stable path hashes: re-reading yields identical keys
      val ids1 = files.select("doc_id").collect().map(_.getLong(0)).toSet
      val ids2 = Multimodal.readBinaryDir(spark, dir.getAbsolutePath, "*.png")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids1 === ids2 && ids1.size === 2)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("incremental image near-dups against a persisted dHash store equal the full recompute") {
    val media = Multimodal.syntheticPngNearDups(
      spark.range(30).toDF("doc_id"), "doc_id", width = 16, height = 16)
    val all = Multimodal.imageDHashes(media).cache()
    // day-1 corpus: ids < 21 — the planted pair (20, 21) straddles the
    // boundary, so the probe must find old x new pairs, not just new x new
    val (oldH, newH) = (all.where($"doc_id" < 21), all.where($"doc_id" >= 21))
    val root = java.nio.file.Files.createTempDirectory("graft_dhash_store_").toString
    graft.operators.IndexStore.writeDHashes(oldH, root)
    val stored = graft.operators.IndexStore.readDHashes(spark, root)
    assert(stored.collect().map(_.toSeq).toSet === oldH.collect().map(_.toSeq).toSet,
      "dhash table round-trips exactly")
    val got = NearDup.incrementalFingerprintPairs(newH, stored, "doc_id", "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hm = all.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      x <- hm.keys; y <- hm.keys if x < y && (x >= 21 || y >= 21)
      if java.lang.Long.bitCount(hm(x) ^ hm(y)) <= 3
    } yield (x, y)).toSet
    assert(got === truth, "incremental-vs-store != full recompute restricted to new ids")
    assert(got.contains((20L, 21L)), "the boundary-straddling planted pair must be found")
    all.unpersist()
  }

  test("incremental near-dups: recurring doc_id never self-pairs, crowded buckets capped over the union") {
    // id 5 exists in BOTH tables with the identical hash (a re-crawled
    // image): it must not pair with itself, but id 6's matching hash in
    // the new batch must still pair with the stored id 5
    val stored = Seq((5L, 0x1234L), (1L, 0x00FFL)).toDF("doc_id", "dhash")
    val fresh = Seq((5L, 0x1234L), (6L, 0x1234L)).toDF("doc_id", "dhash")
    val pairs = NearDup.incrementalFingerprintPairs(fresh, stored, "doc_id", "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 == p._2), s"no self-pairs, got $pairs")
    assert(pairs === Set((5L, 6L)), s"recurring id still pairs with others, got $pairs")

    // union-side cap: 3 stored + 1 new share every chunk of hash 0; with
    // maxBucketSize=3 the union count (4) exceeds the cap, so the full
    // recompute AND the incremental probe must both drop the bucket
    val crowdStored = Seq((10L, 0L), (11L, 0L), (12L, 0L)).toDF("doc_id", "dhash")
    val crowdNew = Seq((13L, 0L)).toDF("doc_id", "dhash")
    val capped = NearDup.incrementalFingerprintPairs(crowdNew, crowdStored, "doc_id", "dhash",
      maxHamming = 3, maxBucketSize = 3)
      .collect()
    assert(capped.isEmpty,
      "a bucket crowded across new+stored must be dropped, as the full recompute drops it")
  }

  test("splitPngFrames recovers the exact concatenated frame payloads") {
    val f1 = Multimodal.encodePng(2, 2, Array(1, 2, 3, 4))
    val f2 = Multimodal.encodePng(2, 2, Array(5, 6, 7, 8))
    val f3 = Multimodal.encodePng(3, 1, Array(9, 10, 11))
    val clip = f1 ++ f2 ++ f3
    val frames = Multimodal.splitPngFrames(clip)
    assert(frames.map(_.toSeq) === Seq(f1.toSeq, f2.toSeq, f3.toSeq))
    intercept[IllegalArgumentException] {
      Multimodal.splitPngFrames("no png here".getBytes("UTF-8"))
    }
    // the raw-concat fallback also routes through splitClipFrames
    assert(Multimodal.splitClipFrames(clip).map(_.toSeq) ===
      Seq(f1.toSeq, f2.toSeq, f3.toSeq))
  }

  test("splitClipFrames: length-prefixed container is exact even when a frame embeds the PNG signature") {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val f1 = Multimodal.encodePng(2, 2, Array(1, 2, 3, 4))
    // adversarial frame: the PNG signature appears INSIDE its bytes — the
    // signature-scan splitter would mis-split here; the index must not
    val tricky = f1 ++ sig ++ Array[Byte](9, 9, 9)
    val f2 = Multimodal.encodePng(3, 1, Array(9, 10, 11))
    val clip = Multimodal.encodeClip(Seq(f1, tricky, f2))
    assert(Multimodal.splitClipFrames(clip).map(_.toSeq) ===
      Seq(f1.toSeq, tricky.toSeq, f2.toSeq))
    // a truncated container fails fast instead of returning wrong frames
    intercept[IllegalArgumentException] {
      Multimodal.splitClipFrames(clip.take(clip.length - 3))
    }
    // round-trip through the synthetic fixture: indexed container, exact
    // frame boundaries, every frame decodable
    val payload = Multimodal.syntheticPngClip(
        Seq(1L).toDF("doc_id"), "doc_id", nFrames = 4,
        width = 8, height = 8, shotLen = 2)
      .select("payload").head().getAs[Array[Byte]](0)
    val back = Multimodal.splitClipFrames(payload)
    assert(back.length === 4)
    back.foreach(f => Multimodal.decodePng(f))
    assert(back(0).toSeq === back(1).toSeq, "frames within a shot are identical")
    assert(back(1).toSeq !== back(2).toSeq, "scene change at the shot boundary")
  }

  test("shotBoundaries flags exactly the planted scene changes") {
    // 12 frames, scene change every 4 -> cuts at frames 4 and 8
    val clips = Multimodal.syntheticPngClip(
      Seq(1L, 2L).toDF("doc_id"), "doc_id", nFrames = 12,
      width = 16, height = 16, shotLen = 4)
    val rows = Multimodal.shotBoundaries(clips, cutThreshold = 10).collect()
    assert(rows.length === 24)
    for (doc <- Seq(1L, 2L)) {
      val cuts = rows.filter(r => r.doc_id == doc && r.is_cut).map(_.frame_idx).sorted
      assert(cuts.toSeq === Seq(4, 8), s"doc $doc cuts")
      // within a shot, identical frames -> hamming 0
      val within = rows.filter(r => r.doc_id == doc && r.frame_idx % 4 != 0)
      assert(within.forall(_.hamming_prev.contains(0L)))
      // frame 0 has no predecessor
      val first = rows.find(r => r.doc_id == doc && r.frame_idx == 0).get
      assert(first.hamming_prev.isEmpty && !first.is_cut)
    }
  }

  test("keyframes: exactly one per shot, at the shot's first frame") {
    val clips = Multimodal.syntheticPngClip(
      Seq(1L, 2L).toDF("doc_id"), "doc_id", nFrames = 12,
      width = 16, height = 16, shotLen = 4)
    val kf = Multimodal.keyframes(clips, cutThreshold = 10).collect()
    for (doc <- Seq(1L, 2L)) {
      val ks = kf.filter(_.doc_id == doc).sortBy(_.shot_idx)
      assert(ks.map(k => (k.shot_idx, k.frame_idx)).toSeq ===
        Seq((0, 0), (1, 4), (2, 8)),
        s"doc $doc: one keyframe per shot, at the shot start")
    }
    // each keyframe's payload is the actual frame at that index
    val frames = Multimodal.splitClipFrames(
      clips.where($"doc_id" === 1L).select("payload").head().getAs[Array[Byte]](0))
    val k1 = kf.filter(_.doc_id == 1L).sortBy(_.shot_idx)
    assert(k1.map(_.payload.toSeq) === Seq(frames(0).toSeq, frames(4).toSeq, frames(8).toSeq))
  }

  test("keyframe near-dup finds exactly the planted cross-clip duplicate scenes") {
    // shared scene pool: clip id's shots 0..2 carry scenes (id+k) % 6
    val clips = Multimodal.syntheticPngClip(
      spark.range(8).toDF("doc_id"), "doc_id", nFrames = 6,
      width = 8, height = 8, shotLen = 2, scenePool = 6L)
    val kf = Multimodal.keyframes(clips, cutThreshold = 10).toDF()
      .select(($"doc_id" * 100 + $"shot_idx").as("doc_id"), $"payload")
    val got = Multimodal.imageNearDupPairs(kf, maxHamming = 3)
      .where($"hamming" === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 0L until 8L; i <- 0 until 3
      b <- 0L until 8L; j <- 0 until 3
      ida = a * 100 + i; idb = b * 100 + j
      if ida < idb && (a + i) % 6 == (b + j) % 6
    } yield (ida, idb)).toSet
    assert(got === expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty)
  }

  test("clipNearDups: shared-scene counting, threshold, and the viral-scene cap") {
    // pool of 6 scenes over 8 clips: clip a's scenes are {(a+k)%6, k<3},
    // so consecutive clips share exactly 2 scenes, a and a+2 share 1
    val clips = Multimodal.syntheticPngClip(
      spark.range(8).toDF("doc_id"), "doc_id", nFrames = 6,
      width = 8, height = 8, shotLen = 2, scenePool = 6L)
    val got = Multimodal.clipNearDups(clips, minSharedShots = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = (for {
      a <- 0L until 8L; b <- 0L until 8L if a < b
      shared = ((0 until 3).map(k => (a + k) % 6).toSet
        intersect (0 until 3).map(k => (b + k) % 6).toSet).size
      if shared >= 2
    } yield (a, b) -> shared.toLong).toMap
    assert(got === expected,
      s"missing=${(expected.keySet -- got.keySet).take(5)} extra=${(got.keySet -- expected.keySet).take(5)}")
    // viral-scene cap: with every clip sharing the whole 3-scene pool,
    // each scene's bucket holds all 8 clips; cap 4 drops them all
    val viral = Multimodal.syntheticPngClip(
      spark.range(8).toDF("doc_id"), "doc_id", nFrames = 6,
      width = 8, height = 8, shotLen = 2, scenePool = 1L)
    assert(Multimodal.clipNearDups(viral, minSharedShots = 1,
      maxBucketSize = 4).collect().isEmpty,
      "a scene crowding past the cap must be dropped, not joined quadratically")
  }

  test("syntheticPng: deterministic genuine PNGs, decodable, stable across runs") {
    val media = Multimodal.syntheticPng(Seq(1L, 2L).toDF("doc_id"), "doc_id",
      width = 16, height = 16)
    val rows = media.as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L))
    rows.foreach { case (_, payload) =>
      val img = Multimodal.decodePng(payload) // real decode must succeed
      assert((img.getWidth, img.getHeight) === ((16, 16)))
    }
    assert(rows(0)._2.toSeq !== rows(1)._2.toSeq, "different ids -> different pixels")
    // same seed -> same bytes (stable across runs and partitionings)
    val again = Multimodal.syntheticPng(Seq(1L).toDF("doc_id"), "doc_id",
      width = 16, height = 16).as[(Long, Array[Byte])].head()._2
    assert(again.toSeq === rows.head._2.toSeq)
    // end-to-end: luma frames over the real decode, 256 px / stride 64 = 4
    val frames = Multimodal.pngLumaFrames(media, stride = 64, frameSize = 16).collect()
    assert(frames.count(_.doc_id == 1L) === 4)
    assert(frames.forall(f => f.mean_byte >= 0.0 && f.mean_byte <= 255.0))
  }
}
