package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4

  // 0/1 identical, 2 near-dup of 0 (one word changed), 3 unrelated.
  private val docs = Seq(
    (0L, base),
    (1L, base),
    (2L, base.replace("lazy", "sleepy")),
    (3L, "completely different content about spark query engines and columnar io " * 4)
  ).toDF("doc_id", "text")

  test("exact dedup keeps the min-tie-break survivor and is idempotent") {
    val once = Dedup.exactByExpr(docs, Dedup.contentHash(col("text")), "h", Seq("doc_id"))
    val ids = once.select("doc_id").as[Long].collect().sorted
    assert(ids === Seq(0L, 2L, 3L)) // doc 1 (dup of 0) removed, min id kept
    val twice = Dedup.exactByExpr(once, Dedup.contentHash(col("text")), "h2", Seq("doc_id"))
    assert(twice.count() === once.count())
  }

  test("MinHash LSH: exact duplicates always collide; unrelated docs don't") {
    val pairs = NearDup.lshCandidatePairs(docs, "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair must be a candidate")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      "near-dup (1-word edit) should share at least one band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("MinHash estimated Jaccard is 1.0 for identical docs") {
    val sig = NearDup.minhashSignatures(docs, "doc_id", col("text"), 3, 32)
    val a = sig.where(col("__id") === 0).select("__sig")
    val b = sig.where(col("__id") === 1).select(col("__sig").as("__sig2"))
    val est = a.crossJoin(b)
      .select(NearDup.estJaccard(col("__sig"), col("__sig2"), 32).as("j"))
      .as[Double].head()
    assert(est === 1.0)
  }

  test("derived MinHash family matches the direct per-permutation family's accuracy") {
    // minhashSignatures derives its k permutation hashes from one 8-byte
    // base hash (O(len+k) per shingle) instead of re-hashing the string k
    // times (O(len*k)). This locks in that the derived family kept its
    // estimator quality: on planted near-dups both families' Jaccard
    // estimates track the TRUE shingle Jaccard with comparable error.
    val n = 3; val k = 64
    val corpus = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(200)
    // direct family: k independent hashes of the shingle STRING
    val sh = NearDup.withShingles(
        corpus.select(col("doc_id").as("__id"), col("text").as("__t")), col("__t"), n)
      .select(col("__id"), explode(col("__sh")).as("__s"))
    val directSig = sh.groupBy("__id")
      .agg(array((0 until k).map(h => min(xxhash64(col("__s"), lit(h)))): _*).as("__sig"))
    val derivedSig = NearDup.minhashSignatures(corpus, "doc_id", col("text"), n, k)
    // true Jaccard over the same shingle sets, exact
    val truth = NearDup.exactJaccardPairs(corpus, "doc_id", col("text"),
      block = lit(0), shingleN = n, minSim = 0.0)
    def estOf(sig: org.apache.spark.sql.DataFrame) = truth
      .join(sig.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a")
      .join(sig.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        NearDup.estJaccard(col("__sa"), col("__sb"), k).as("est"))
    val err = estOf(derivedSig).select(avg(abs(col("est") - col("jaccard"))))
      .as[Double].head()
    val errDirect = estOf(directSig).select(avg(abs(col("est") - col("jaccard"))))
      .as[Double].head()
    info(f"mean |est - true|: derived $err%.4f, direct $errDirect%.4f (k=$k)")
    // both families behave like k-permutation MinHash (std ~ sqrt(J(1-J)/k))
    assert(err < 0.08, f"derived family error $err%.4f too large")
    assert(err <= errDirect + 0.02,
      f"derived $err%.4f materially worse than direct $errDirect%.4f")
    // and identical docs still estimate exactly 1.0 under the derived family
    val idDup = Seq((0L, base), (1L, base)).toDF("doc_id", "text")
    val s = NearDup.minhashSignatures(idDup, "doc_id", col("text"), n, k)
    val est = s.where(col("__id") === 0).select(col("__sig").as("__sa"))
      .crossJoin(s.where(col("__id") === 1).select(col("__sig").as("__sb")))
      .select(NearDup.estJaccard(col("__sa"), col("__sb"), k)).as[Double].head()
    assert(est === 1.0)
  }

  test("SimHash: identical docs get hamming 0 and are guaranteed candidates") {
    val sh = NearDup.simhash(docs, "doc_id", col("text"))
    val sigs = sh.as[(Long, Long)].collect().toMap
    assert(sigs(0L) === sigs(1L), "identical text -> identical simhash")
    val nearDupHamming = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    val unrelatedHamming = java.lang.Long.bitCount(sigs(0L) ^ sigs(3L))
    assert(nearDupHamming < unrelatedHamming,
      s"1-word edit ($nearDupHamming bits) must be closer than unrelated text ($unrelatedHamming bits)")
    // the pigeonhole candidate join must surface the exact-dup pair
    val pairs = NearDup.simhashPairs(sh, "doc_id", maxHamming = 3)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((0L, 1L)) === 0L)
  }

  test("incremental LSH candidates equal the full recompute restricted to new ids") {
    val corpus = graft.Tables.load(spark, sf, "documents").select("doc_id", "text")
    val isNew = col("doc_id") % 5 === 0
    val oldBands = NearDup.lshBandTable(corpus.where(!isNew), "doc_id", col("text"))
    val newBands = NearDup.lshBandTable(corpus.where(isNew), "doc_id", col("text"))
    val inc = NearDup.incrementalLshCandidates(newBands, oldBands)
    val expected = NearDup.lshCandidatePairs(corpus, "doc_id", col("text"))
      .where(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
    assert(inc.count() > 0, "fixture plants dups across the split")
    assert(inc.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(inc).count() === 0)
    // the planted exact dup of a new doc against an old one must surface
    val newOldOnly = inc.where((col("id_a") % 5 === 0) =!= (col("id_b") % 5 === 0))
    assert(newOldOnly.count() > 0, "new x old candidates expected")
  }

  test("incremental cap equals the capped full recompute (union-population semantics)") {
    // an over-cap bucket whose population only exceeds the cap when the
    // stored and new halves are COMBINED: both paths must drop it
    val flood = pathological(60) // 60 boilerplate + 2 planted dups
    val isNew = col("doc_id") % 2 === 0
    val obs = org.apache.spark.sql.Observation("inc_cap")
    val inc = NearDup.incrementalLshCandidates(
        NearDup.lshBandTable(flood.where(isNew), "doc_id", col("text")),
        NearDup.lshBandTable(flood.where(!isNew), "doc_id", col("text")),
        maxBucketSize = 50, capObs = Some(obs))
      .as[(Long, Long)].collect().toSet
    // observability parity with dropCrowdedBuckets: 60 boilerplate docs x
    // 8 bands all land in one over-cap bucket per band
    val m = obs.get
    assert(m("dropped_buckets") === 8L, m.toString)
    assert(m("dropped_rows") === 480L, m.toString)
    val full = NearDup.lshCandidatePairs(flood, "doc_id", col("text"), maxBucketSize = 50)
      .as[(Long, Long)].collect().toSet
      .filter(p => p._1 % 2 == 0 || p._2 % 2 == 0)
    assert(inc === full)
    assert(inc.contains((100000L, 100001L)), "planted pair spans the split and survives the cap")
    assert(!inc.exists(p => p._1 < 60L), "combined-population bucket must be dropped on both paths")
  }

  test("connected components: chains merge, clusters get min-id labels, dedup keeps representatives") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = NearDup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    val allDocs = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val kept = NearDup.dedupByComponents(allDocs, "doc_id", pairs)
      .as[Long].collect().sorted
    assert(kept === Seq(1L, 5L, 9L)) // reps of both clusters + untouched 9
  }

  /** Force the distributed star-contraction loop (r16: small edge lists
    * take the size-adaptive local union-find path, which follows
    * autoBroadcastJoinThreshold — these tests pin the LOOP's contract). */
  private def withLoopForced[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("connected components: a 10k-vertex path converges under the default cap (O(log n) rounds)") {
    // The worst case for label propagation: one path-shaped component of
    // 10 001 vertices (diameter 10 000). The old O(diameter) min-label
    // propagation fail-fasted here at maxIter=20; large-star/small-star
    // roughly halves component height per round, so the default cap
    // converges it with room to spare.
    val chain = (1L to 10000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = withLoopForced {
      NearDup.connectedComponents(chain).as[(Long, Long)].collect()
    }
    assert(cc.length === 10001)
    assert(cc.forall(_._2 == 1L), "every path vertex must reach the min label")
  }

  test("connected components: unproven convergence at maxIter fails fast, never returns split clusters") {
    // maxIter=1 cannot finish a 64-vertex path; silently returning the
    // half-merged labels would mean extra dedup survivors downstream.
    val chain = (1L to 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    withLoopForced {
      assertThrows[IllegalStateException] {
        NearDup.connectedComponents(chain, maxIter = 1).collect()
      }
      val cc = NearDup.connectedComponents(chain).as[(Long, Long)]
        .collect().toMap
      assert(cc === (1L to 64L).map(_ -> 1L).toMap)
    }
  }

  test("connected components: local union-find path equals the distributed loop (random graphs)") {
    // r16 LAW: the size-adaptive local contraction must be output-
    // identical to the star-contraction loop on arbitrary graphs —
    // chains, forests, dup edges, reversed orientation, self-loops,
    // isolated self-loop-only vertices.
    val rnd = new scala.util.Random(20260819L)
    (1 to 4).foreach { trial =>
      val n = 40 + trial * 30
      val edges = (1 to n).map { _ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
      } ++ Seq((7L, 7L)) // a self-loop-only vertex stays its own component
      val df = edges.toDF("id_a", "id_b")
      val local = NearDup.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      val loop = withLoopForced {
        NearDup.connectedComponents(df).as[(Long, Long)].collect().toMap
      }
      assert(local === loop, s"trial $trial: local path diverged from loop")
    }
  }

  test("connected components: string ids take the distributed loop and label by min id") {
    // Non-integral ids would not survive the local path's long round-trip,
    // so the gate sends them to the star-contraction loop. maxIter bounds
    // only that loop: maxIter = 0 throws there, while integral ids of the
    // same small graph take the local union-find and never read it.
    val pairs = Seq(("b", "a"), ("c", "b"), ("x", "y"), ("q", "q"))
      .toDF("id_a", "id_b")
    val cc = NearDup.connectedComponents(pairs).as[(String, String)].collect().toMap
    assert(cc === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "q" -> "q"))
    assertThrows[IllegalStateException] {
      NearDup.connectedComponents(pairs, maxIter = 0).collect()
    }
    val ints = Seq((2L, 1L), (3L, 2L), (8L, 9L)).toDF("id_a", "id_b")
    assert(NearDup.connectedComponents(ints, maxIter = 0).as[(Long, Long)]
      .collect().toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("dedupByComponentsBest keeps the highest-quality member, not the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val docs = Seq((1L, 10L), (2L, 99L), (3L, 99L), (5L, 7L), (6L, 50L), (9L, 1L))
      .toDF("doc_id", "quality")
    val kept = NearDup.dedupByComponentsBest(docs, "doc_id", pairs,
        Seq(col("quality").desc, col("doc_id").asc))
      .as[(Long, Long)].collect().sortBy(_._1)
    // cluster {1,2,3}: 2 and 3 tie at 99 -> id tie-break keeps 2 (NOT min
    // id 1); cluster {5,6}: 6 wins on quality; 9 unclustered passes
    assert(kept === Seq((2L, 99L), (6L, 50L), (9L, 1L)))
  }

  test("exact n-gram Jaccard: dup pair scores 1.0, near-dup high, cross-block excluded") {
    val blocked = docs.withColumn("blk", when(col("doc_id") < 3, "a").otherwise("b"))
    val out = NearDup.exactJaccardPairs(blocked, "doc_id", col("text"), col("blk"), 3, 0.01)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((0L, 1L)) === 1.0)
    assert(out((0L, 2L)) > 0.5 && out((0L, 2L)) < 1.0)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L), "blocking must exclude doc 3")
  }

  // 10k copies of one boilerplate template (every band lands in one giant
  // bucket — the web-text skew-killer: uncapped that is ~10^8 candidate
  // rows PER BAND) plus one distinct planted near-dup pair.
  private def pathological(n: Int) = {
    val template = "breaking news subscribe to our newsletter terms privacy cookie policy " * 6
    spark.range(n).select(col("id").as("doc_id"), lit(template).as("text"))
      .unionByName(Seq(
        (100000L, base), // exact-dup pair: collides in every sketch family
        (100001L, base)).toDF("doc_id", "text"))
  }

  test("bucket cap: 10k-doc boilerplate bucket is dropped, planted near-dup pair survives") {
    // the cap's cost is OBSERVED, not silent: all 8 bands of the 10k
    // identical boilerplate docs land in one over-cap bucket each, so the
    // run must report exactly 8 dropped buckets / 80k dropped band rows
    val obs = org.apache.spark.sql.Observation("lsh_cap")
    val pairs = NearDup.lshCandidatePairs(pathological(10000), "doc_id", col("text"),
        maxBucketSize = 100, capObs = Some(obs))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((100000L, 100001L)),
      "pair in small buckets must survive the cap")
    assert(pairs.size <= 100 * 100 * 8 && !pairs.exists(p => p._1 < 10000L),
      s"boilerplate bucket must be dropped, got ${pairs.size} pairs")
    val m = obs.get
    assert(m("dropped_buckets") === 8L, m.toString)
    assert(m("dropped_rows") === 80000L, m.toString)
  }

  test("simhashPairsWide equals the 4-chunk form (both exact pigeonhole + exact filter)") {
    // planted corpus with exact dups, near-dups and noise: both candidate
    // generators must reduce to the same exact hamming<=3 pair list
    val corpus = docs.unionByName( // shift ids clear of docs' 0..3
      pathological(60).withColumn("doc_id", col("doc_id") + 100L))
    val sh = NearDup.simhash(corpus, "doc_id", col("text")).localCheckpoint()
    def pairs(f: => org.apache.spark.sql.DataFrame) =
      f.select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val classic = pairs(NearDup.simhashPairs(sh, "doc_id", maxHamming = 3))
    val wide = pairs(NearDup.simhashPairsWide(sh, "doc_id", maxHamming = 3))
    assert(classic.nonEmpty, "plant must produce hamming<=3 pairs")
    assert(wide === classic,
      s"missing=${(classic -- wide).take(3)} extra=${(wide -- classic).take(3)}")
  }

  test("fingerprint band mode: narrow below the row threshold, wide from it; maxHamming > 3 rejected") {
    // the threshold is 100k rows: one row below it stays on the 16-bit
    // chunk table, the threshold itself switches to the 3-of-6-block tables
    assert(!NearDup.wideBands(99999L))
    assert(NearDup.wideBands(100000L))
    val h = Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "dhash")
    assert(NearDup.fingerprintPairs(h, "doc_id", "dhash").count() === 1L)
    intercept[IllegalArgumentException] {
      NearDup.fingerprintPairs(h, "doc_id", "dhash", maxHamming = 4)
    }
    intercept[IllegalArgumentException] {
      NearDup.incrementalFingerprintPairs(h, h, "doc_id", "dhash", maxHamming = 4)
    }
    Seq(false, true).foreach { wide =>
      intercept[IllegalArgumentException] {
        NearDup.incrementalPigeonholePairs(h, h, "doc_id", "dhash", 4,
          NearDup.DefaultMaxBucketSize, wide)
      }
    }
    intercept[IllegalArgumentException] {
      NearDup.simhashPairsWide(h.withColumnRenamed("dhash", "simhash"), "doc_id", maxHamming = 4)
    }
  }

  test("incremental fingerprint pairs reject a bucket cap below 2, as the full recompute does") {
    val h = Seq((1L, 0L), (2L, 0L)).toDF("doc_id", "dhash")
    val full = intercept[IllegalArgumentException] {
      NearDup.fingerprintPairs(h, "doc_id", "dhash", maxBucketSize = 1).count()
    }
    val inc = intercept[IllegalArgumentException] {
      NearDup.incrementalFingerprintPairs(h, h, "doc_id", "dhash", maxBucketSize = 1).count()
    }
    assert(full.getMessage.contains("maxBucketSize") && inc.getMessage.contains("maxBucketSize"),
      s"${full.getMessage} / ${inc.getMessage}")
  }

  test("cap observation reports zero drops when no bucket is crowded") {
    val obs = org.apache.spark.sql.Observation("lsh_cap_zero")
    NearDup.lshCandidatePairs(docs, "doc_id", col("text"), capObs = Some(obs)).count()
    val m = obs.get
    assert(m("dropped_buckets") === 0L, m.toString)
    assert(m("dropped_rows") === 0L, m.toString)
  }

  test("bucket cap above every bucket's population changes nothing") {
    val uncapped = NearDup.lshCandidatePairs(docs, "doc_id", col("text"),
        maxBucketSize = Int.MaxValue).as[(Long, Long)].collect().toSet
    val defaulted = NearDup.lshCandidatePairs(docs, "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    assert(defaulted === uncapped)
  }

  test("SimHash bucket cap: identical-fingerprint flood dropped, distinct pair kept") {
    val sh = NearDup.simhash(pathological(2000), "doc_id", col("text"))
    val pairs = NearDup.simhashPairs(sh, "doc_id", maxHamming = 3, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100000L, 100001L)))
    assert(!pairs.exists(p => p._1 < 2000L), "flooded chunk buckets must be dropped")
  }

  test("exactJaccardPairs fails fast when a block exceeds maxBlockSize") {
    val flood = pathological(50).withColumn("blk", lit("one"))
    val e = intercept[IllegalArgumentException] {
      NearDup.exactJaccardPairs(flood, "doc_id", col("text"), col("blk"),
        maxBlockSize = 10)
    }
    assert(e.getMessage.contains("maxBlockSize"), e.getMessage)
    // same corpus under a sufficient bound still runs
    assert(NearDup.exactJaccardPairs(flood, "doc_id", col("text"), col("blk"),
      maxBlockSize = 100).count() > 0)
  }
}
