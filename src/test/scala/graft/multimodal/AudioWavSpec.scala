package graft.multimodal

import graft.SparkSpec
import graft.operators.NearDup

class AudioWavSpec extends SparkSpec {
  import spark.implicits._

  test("encode/decode round-trips exact PCM16 samples through a genuine WAV container") {
    val samples = Array[Short](0, 1000, -1000, Short.MaxValue, Short.MinValue, 7)
    val wav = AudioWav.encodeWavPcm16(22050, samples)
    // a real RIFF/WAVE container
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val (rate, back) = AudioWav.decodeWavPcm16(wav)
    assert(rate === 22050)
    assert(back.toSeq === samples.toSeq)
  }

  test("canonical fast parse and JDK codec decode identically; non-canonical falls back") {
    val samples = Array.tabulate[Short](300)(i => ((i * 7919) % 65536 - 32768).toShort)
    val wav = AudioWav.encodeWavPcm16(44100, samples)
    val fast = AudioWav.parseCanonicalRiffPcm16(wav)
    val jdk = AudioWav.decodeWavPcm16Jdk(wav)
    assert(fast.isDefined, "canonical layout must take the direct parse")
    assert(fast.get._1 === jdk._1 && fast.get._2.toSeq === jdk._2.toSeq,
      "both parsers must agree bit-for-bit")
    // a stereo header is non-canonical: direct parse declines (JDK path
    // would handle a real stereo file; this one only flips the field)
    val stereo = wav.clone(); stereo(22) = 2
    assert(AudioWav.parseCanonicalRiffPcm16(stereo).isEmpty)
    // truncated data chunk declines rather than reading out of bounds
    val truncated = wav.take(wav.length - 2)
    assert(AudioWav.parseCanonicalRiffPcm16(truncated).isEmpty)
    // a crafted dataLen near Int.MaxValue must decline cleanly (Long
    // bounds compare), not overflow the check and OOM allocating samples
    val overflow = wav.clone()
    overflow(40) = 0xFE.toByte; overflow(41) = 0xFF.toByte
    overflow(42) = 0xFF.toByte; overflow(43) = 0x7F.toByte // dataLen = 0x7FFFFFFE
    assert(AudioWav.parseCanonicalRiffPcm16(overflow).isEmpty)
  }

  test("decode fails fast on non-audio bytes") {
    intercept[Exception] {
      AudioWav.decodeWavPcm16("definitely not a wav file".getBytes("UTF-8"))
    }
  }

  test("audioFeatures computes rms/peak/zero-crossings from decoded samples") {
    // constant 1000: rms = 1000 exactly, no crossings
    val const = AudioWav.encodeWavPcm16(16000, Array.fill[Short](100)(1000))
    // alternating +2000/-2000: rms = 2000, a crossing at every step
    val alt = AudioWav.encodeWavPcm16(16000,
      Array.tabulate[Short](100)(i => if (i % 2 == 0) 2000 else -2000))
    // silence: rms 0, peak 0
    val silent = AudioWav.encodeWavPcm16(16000, Array.fill[Short](50)(0))
    val f = AudioWav.audioFeatures(
        Seq((1L, const), (2L, alt), (3L, silent)).toDF("doc_id", "payload"))
      .collect().map(a => a.doc_id -> a).toMap
    assert(f(1L).sample_rate === 16000 && f(1L).n_samples === 100)
    assert(f(1L).rms === 1000.0 && f(1L).peak === 1000 && f(1L).zero_crossings === 0L)
    assert(f(2L).rms === 2000.0 && f(2L).peak === 2000 && f(2L).zero_crossings === 99L)
    assert(f(3L).rms === 0.0 && f(3L).peak === 0 && f(3L).zero_crossings === 0L)
  }

  test("audioFeaturesQuarantined isolates corrupt payloads; good rows identical to the fail-fast path") {
    import org.apache.spark.sql.functions.{expr, lit, when, col}
    val good = AudioWav.syntheticWav(spark.range(8).toDF("doc_id"), "doc_id", nSamples = 400)
    val mixed = good.withColumn("payload",
      when(col("doc_id") === 1, expr("substring(payload, 1, 30)"))
        .when(col("doc_id") === 3, lit(null).cast("binary"))
        .when(col("doc_id") === 4, lit("not audio at all".getBytes("UTF-8")))
        .otherwise(col("payload")))
    val corrupt = Set(1L, 3L, 4L)
    val clean = good.where(!col("doc_id").isin(corrupt.toSeq: _*))
    val (feats, quar) = AudioWav.audioFeaturesQuarantined(mixed)
    val q = quar.collect().map(m => m.doc_id -> m).toMap
    assert(q.keySet === corrupt, s"exactly the corrupt rows quarantined: ${q.keySet}")
    assert(q.values.forall(_.reason.nonEmpty))
    assert(q(3L).n_bytes === 0L, "a null payload quarantines with n_bytes = 0")
    assert(feats.collect().toSet === AudioWav.audioFeatures(clean).collect().toSet,
      "quarantine path must not perturb good rows")
    // the fingerprint operator runs the same split
    val (hashes, hquar) = AudioWav.audioHashesQuarantined(mixed)
    assert(hquar.collect().map(m => m.doc_id -> m.n_bytes).toMap ===
      q.map { case (id, m) => id -> m.n_bytes })
    assert(hashes.collect().toSet === AudioWav.audioHashes(clean).collect().toSet)
  }

  test("downsample2x: box-filter pair average in truncating integer math, re-encoded at rate/2") {
    val wav = AudioWav.encodeWavPcm16(16000, Array[Short](0, 2, -3, 5, 7))
    val out = AudioWav.downsample2x(Seq((1L, wav)).toDF("doc_id", "payload"))
      .as[(Long, Array[Byte])].head()._2
    val (rate, s) = AudioWav.decodeWavPcm16(out) // genuine WAV round-trip
    assert(rate === 8000)
    // (0+2)/2 = 1; (-3+5)/2 = 1; the odd trailing 7 is dropped
    assert(s.toSeq === Seq[Short](1, 1))
    // negative odd sums TRUNCATE toward zero (the SQL `//` convention)
    val neg = AudioWav.downsample2x(Seq(
        (2L, AudioWav.encodeWavPcm16(16000, Array[Short](-3, 0)))).toDF("doc_id", "payload"))
      .as[(Long, Array[Byte])].head()._2
    assert(AudioWav.decodeWavPcm16(neg)._2.toSeq === Seq[Short](-1))
  }

  test("trimSilenceStats: exact kept span, data-dependent edges, all-quiet convention") {
    val clip = AudioWav.encodeWavPcm16(16000,
      Array[Short](0, 0, 50, 2000, 0, 3000, 80, 0))
    val silent = AudioWav.encodeWavPcm16(16000, Array.fill[Short](6)(90))
    val m = AudioWav.trimSilenceStats(
        Seq((1L, clip), (2L, silent)).toDF("doc_id", "payload"), threshold = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // loud span is [3, 5]: 3 kept, 3 leading + 2 trailing trimmed (the
    // quiet 0 inside the span is KEPT — only edges trim)
    assert(m(1L) === ((8L, 3L, 3L, 2L)))
    assert(m(2L) === ((6L, 0L, 6L, 0L)), "all-quiet: keep nothing, lead = n_in")
  }

  test("syntheticWav silence padding surrounds the noise exactly") {
    val wav = AudioWav.syntheticWav(Seq(1L).toDF("doc_id"), "doc_id",
      nSamples = 100, leadSilence = 7, tailSilence = 9)
      .as[(Long, Array[Byte])].head()._2
    val s = AudioWav.decodeWavPcm16(wav)._2
    assert(s.length === 116)
    assert(s.take(7).forall(_ == 0) && s.takeRight(9).forall(_ == 0))
    // the noise body is unchanged vs the unpadded fixture
    val plain = AudioWav.decodeWavPcm16(AudioWav.syntheticWav(
      Seq(1L).toDF("doc_id"), "doc_id", nSamples = 100)
      .as[(Long, Array[Byte])].head()._2)._2
    assert(s.slice(7, 107).toSeq === plain.toSeq)
  }

  // -------------------------------------------------------------------
  // Perceptual fingerprint + near-dup (round 7)
  // -------------------------------------------------------------------

  /** 512 seeded pseudo-noise base samples, full Short range. */
  private def basePattern(seed: Long): Array[Short] = {
    var h = seed * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    Array.fill[Short](512) {
      h = h * 6364136223846793005L + 1442695040888963407L
      (h >>> 48).toShort
    }
  }

  /** 9 frames of the SAME base pattern at the given amplitudes. */
  private def clipWithAmps(amps: Seq[Int], base: Array[Short]): Array[Short] =
    amps.flatMap(a => base.map(s => ((s.toInt * a) / 32768).toShort)).toArray

  test("audioHash64: band-energy sign bits track per-frame energy order exactly") {
    val base = basePattern(42L)
    // strictly decreasing frame energies: every comparison true in every
    // band (energies scale ~A^2 across ALL Haar bands for the same
    // broadband pattern) -> all 64 bits set
    val dec = clipWithAmps((0 until 9).map(t => 28000 - 3000 * t), base)
    assert(AudioWav.audioHash64(dec) === -1L)
    // strictly increasing -> no bit set
    val inc = clipWithAmps((0 until 9).map(t => 4000 + 3000 * t), base)
    assert(AudioWav.audioHash64(inc) === 0L)
    // silence and too-short clips hash to 0
    assert(AudioWav.audioHash64(Array.fill[Short](4608)(0)) === 0L)
    assert(AudioWav.audioHash64(Array[Short](1, 2, 3)) === 0L)
    // deterministic
    assert(AudioWav.audioHash64(dec) === AudioWav.audioHash64(dec.clone()))
  }

  test("audioHash64 is robust to small noise, sensitive to a different clip") {
    val base = basePattern(7L)
    val amps = Seq(28000, 4000, 25000, 7000, 22000, 10000, 19000, 13000, 16000)
    val clean = clipWithAmps(amps, base)
    val noisy = clean.map(s => (s + (s % 3) - 1).toShort) // tiny per-sample jitter
    val d = java.lang.Long.bitCount(
      AudioWav.audioHash64(clean) ^ AudioWav.audioHash64(noisy))
    assert(d <= 3, s"near-identical clip drifted $d bits")
    // ascending amplitudes: every adjacent-frame comparison flips to <,
    // clearing the ~32 alternating bits the zigzag pattern sets
    val other = clipWithAmps(amps.sorted, basePattern(8L))
    val far = java.lang.Long.bitCount(
      AudioWav.audioHash64(clean) ^ AudioWav.audioHash64(other))
    assert(far > 10, s"different clip unexpectedly close: $far bits")
  }

  test("audioNearDupPairs finds EXACTLY the brute-force Hamming<=3 pairs on planted dups") {
    val media = AudioWav.syntheticWavNearDups(
      spark.range(40).toDF("doc_id"), "doc_id", nSamples = 3600)
      .localCheckpoint()
    val hashes = AudioWav.audioHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val pairs = AudioWav.audioNearDupPairs(media, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === truth, "pigeonhole banding must be exact at hamming<=3")
    val planted = (0L until 40L by 2).map(k => (k, k + 1)).toSet
    assert(planted.subsetOf(pairs), s"missing planted pairs: ${planted -- pairs}")
    // wide band tables emit identical pairs
    val wide = NearDup.simhashPairsWide(
        AudioWav.audioHashes(media).withColumnRenamed("ahash", "simhash"), "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === pairs)
  }

  test("spectral hash keeps planted pairs and drops envelope-only collisions; refined == brute force") {
    val media = AudioWav.syntheticWavNearDups(
      spark.range(500).toDF("doc_id"), "doc_id", nSamples = 3600)
      .localCheckpoint()
    val fp = AudioWav.audioFingerprints(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every planted pair is near-identical on BOTH hashes
    (0L until 500L by 2).foreach { k =>
      val (a1, s1) = fp(k); val (a2, s2) = fp(k + 1)
      assert(java.lang.Long.bitCount(a1 ^ a2) <= 3, s"time hash drifted for pair $k")
      assert(java.lang.Long.bitCount(s1 ^ s2) <= 8, s"spectral hash drifted for pair $k")
    }
    // refined pairs == brute force over BOTH conditions
    val got = AudioWav.audioNearDupPairsRefined(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a)._1 ^ fp(b)._1) <= 3
      if java.lang.Long.bitCount(fp(a)._2 ^ fp(b)._2) <= 8
    } yield (a, b)).toSet
    assert(got === truth)
    val planted = (0L until 500L by 2).map(k => (k, k + 1)).toSet
    assert(planted.subsetOf(got), s"missing planted: ${(planted -- got).take(3)}")
    // the decorrelation claim: time-hash-only admits envelope collisions
    // (clips sharing a loudness contour); the spectral filter drops them
    val timeOnly = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a)._1 ^ fp(b)._1) <= 3
    } yield (a, b)).toSet
    val extrasBefore = (timeOnly -- planted).size
    val extrasAfter = (got -- planted).size
    assert(extrasAfter < extrasBefore,
      s"spectral filter must drop envelope collisions: $extrasBefore -> $extrasAfter")
  }

  test("incremental audio near-dups against a persisted hash store equal the full recompute") {
    val media = AudioWav.syntheticWavNearDups(
      spark.range(30).toDF("doc_id"), "doc_id", nSamples = 3600)
    val all = AudioWav.audioHashes(media).cache()
    // ids < 21: the planted pair (20, 21) straddles the boundary
    val (oldH, newH) = (all.where($"doc_id" < 21), all.where($"doc_id" >= 21))
    val root = java.nio.file.Files.createTempDirectory("graft_ahash_store_").toString
    graft.operators.IndexStore.writeAudioHashes(oldH, root)
    val stored = graft.operators.IndexStore.readAudioHashes(spark, root)
    assert(stored.collect().map(_.toSeq).toSet === oldH.collect().map(_.toSeq).toSet,
      "audio hash table round-trips exactly")
    val got = NearDup.incrementalFingerprintPairs(newH, stored, "doc_id", "ahash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hm = all.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      x <- hm.keys; y <- hm.keys if x < y && (x >= 21 || y >= 21)
      if java.lang.Long.bitCount(hm(x) ^ hm(y)) <= 3
    } yield (x, y)).toSet
    assert(got === truth, "incremental-vs-store != full recompute restricted to new ids")
    assert(got.contains((20L, 21L)), "the boundary-straddling planted pair must be found")
    // recurring id never self-pairs; maxHamming guard enforced
    val rec = NearDup.incrementalFingerprintPairs(
        Seq((5L, 0x1234L)).toDF("doc_id", "ahash"),
        Seq((5L, 0x1234L), (6L, 0x1234L)).toDF("doc_id", "ahash"), "doc_id", "ahash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rec === Set((5L, 6L)))
    intercept[IllegalArgumentException] {
      NearDup.incrementalFingerprintPairs(oldH, stored, "doc_id", "ahash", maxHamming = 4)
    }
    all.unpersist()
  }

  test("syntheticWav: deterministic genuine WAVs, decodable end-to-end") {
    val media = AudioWav.syntheticWav(Seq(1L, 2L).toDF("doc_id"), "doc_id", nSamples = 400)
    val rows = media.as[(Long, Array[Byte])].collect().sortBy(_._1)
    rows.foreach { case (_, payload) =>
      val (rate, s) = AudioWav.decodeWavPcm16(payload) // real codec parse
      assert(rate === 16000 && s.length === 400)
    }
    assert(rows(0)._2.toSeq !== rows(1)._2.toSeq)
    val again = AudioWav.syntheticWav(Seq(1L).toDF("doc_id"), "doc_id", nSamples = 400)
      .as[(Long, Array[Byte])].head()._2
    assert(again.toSeq === rows.head._2.toSeq, "same seed -> same bytes")
    // end-to-end distributed features over the generated corpus
    val feats = AudioWav.audioFeatures(media).collect()
    assert(feats.length === 2)
    assert(feats.forall(a => a.n_samples === 400 && a.rms > 0.0))
  }

  test("constantQ: planted pairs all recovered, envelope collisions decorrelated, banding exact") {
    val media = AudioWav.syntheticWavNearDups(
      spark.range(500).toDF("doc_id"), "doc_id", nSamples = 3600)
      .localCheckpoint()
    val hashes = AudioWav.constantQHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val pairs = AudioWav.audioNearDupPairsCq(media, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === truth, "pigeonhole banding must be exact at hamming<=3")
    // every planted (2k, 2k+1) near-dup survives the ±8-noise variant
    val planted = (0L until 500L by 2).map(k => (k, k + 1)).toSet
    assert(planted.subsetOf(pairs), s"missing planted pairs: ${planted -- pairs}")
    // the selling point vs the Haar time hash: this fixture's amplitude-
    // RANK construction leaves the Haar hash mostly envelope entropy (it
    // emits thousands of envelope-collision pairs here); the log-spaced
    // correlators read seed-specific narrowband content, so the cq pair
    // list stays within a small multiple of the planted set
    val haarPairs = AudioWav.audioNearDupPairs(media, maxHamming = 3).count()
    assert(pairs.size < planted.size * 2,
      s"cq pair list ${pairs.size} should stay near the 250 planted")
    assert(haarPairs > pairs.size * 5,
      s"expected the Haar hash to collide far more on this fixture (haar=$haarPairs cq=${pairs.size})")
  }

  test("constantQHash64: deterministic, partitioning-invariant, near-bound magnitudes stay in Long") {
    val media = AudioWav.syntheticWavNearDups(
      spark.range(30).toDF("doc_id"), "doc_id", nSamples = 3600)
    val a = AudioWav.constantQHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = AudioWav.constantQHashes(media.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "hash is a pure function of the payload")
    // worst-case full-scale alternating signal: |re|,|im| bounded by
    // 2^15 * 2^14 * frameLen — exercise the extreme and check no wrap
    val extreme = Array.fill(3600)(Short.MinValue)
    val h = AudioWav.constantQHash64(extreme)
    val mags = AudioWav.constantQMags(extreme)
    assert(mags.flatten.forall(m => m >= 0L && m < (1L << 42)),
      "magnitudes must stay far from Long overflow")
    assert(h === AudioWav.constantQHash64(extreme))
  }

  test("normalizePeak: peak lands exactly on target, signs survive, silence passes through") {
    import org.apache.spark.sql.functions.col
    val loud = AudioWav.encodeWavPcm16(16000,
      Array[Short](-16000, 8000, 0, 4000))
    val quiet = AudioWav.encodeWavPcm16(16000, Array[Short](0, 0, 0, 0))
    val df = Seq((1L, loud), (2L, quiet)).toDF("doc_id", "payload")
    val out = AudioWav.normalizePeak(df, targetPeak = 30000)
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    val (_, s1) = AudioWav.decodeWavPcm16(out(0)._2)
    // gain 30000/16000: sign-split truncating scale of each sample
    assert(s1.toSeq === Seq[Short](-30000, 15000, 0, 7500))
    val (_, s2) = AudioWav.decodeWavPcm16(out(1)._2)
    assert(s2.toSeq === Seq[Short](0, 0, 0, 0), "silence must pass through")
  }
}
