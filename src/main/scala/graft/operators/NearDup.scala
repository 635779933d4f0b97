package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection sketches for document corpora: MinHash+LSH
  * banding, SimHash, and exact n-gram Jaccard (the verifier). North-star
  * dedup surface (BASELINE.json; SURVEY.md §2.B Q-DEDUP2).
  *
  * Scale shape: everything is expression-level (codegen'd HOFs) followed by
  * ONE shuffle on (band, bucket) — the classic LSH plan that avoids the
  * all-pairs O(n^2) join. Candidate verification joins only within buckets.
  * All hash seeds are fixed constants => fully deterministic re-runs.
  */
object NearDup {

  /** Distinct word n-gram shingles built from a pre-materialized tokens
    * ATTRIBUTE. The lambda references the tokens column 3x per gram — if
    * handed an inline tokens *expression* instead of an attribute, Column
    * tree construction duplicates the whole split/filter chain into every
    * reference, re-tokenizing each document ~3x per shingle (measured 16s
    * vs <1s to shingle 5k docs). Hence the private builder + the
    * `withShingles` two-projection shape below. */
  private def shinglesOf(toks: Column, n: Int): Column = {
    val idx = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(idx, i =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
  }

  /** Adds `__sh` (distinct word n-gram shingles of `text`) to `df`,
    * tokenizing each row exactly once; rows with fewer than `n` tokens are
    * dropped (they have no shingles). */
  def withShingles(df: DataFrame, text: Column, n: Int): DataFrame =
    df.withColumn("__toks", TextOps.tokens(text))
      .where(size(col("__toks")) >= n)
      .withColumn("__sh", shinglesOf(col("__toks"), n))
      .drop("__toks")

  /** Back-compat expression form — fine for single-reference use. */
  def shingles(text: Column, n: Int): Column = shinglesOf(TextOps.tokens(text), n)

  /** k-permutation MinHash signatures, computed as an exploded aggregation:
    * explode shingles once, hash each shingle STRING once to a 64-bit
    * base, then k parallel `min(xxhash64(base, k))` partial aggregates —
    * ONE shuffle on doc id, map-side combined. Deriving the k permutation
    * hashes from the 8-byte base instead of re-hashing the string per
    * permutation makes the hash stage O(len + k) per shingle, not
    * O(len * k); the derived family is still uniform and seed-fixed.
    * (A nested lambda formulation — transform over transform per row —
    * re-evaluates the shingle expression per hash and falls out of
    * codegen; measured ~200x slower. This shape scales to arbitrarily
    * long documents.) */
  def minhashSignatures(docs: DataFrame, idCol: String, text: Column,
                        shingleN: Int, numHashes: Int): DataFrame = {
    val sh = withShingles(docs.select(col(idCol).as("__id"), text.as("__text")),
      col("__text"), shingleN)
      .select(col("__id"), explode(col("__sh")).as("__s"))
      .select(col("__id"), xxhash64(col("__s")).as("__h"))
    val sigCols = (0 until numHashes).map(h => min(xxhash64(col("__h"), lit(h))).as(s"__m$h"))
    sh.groupBy("__id").agg(sigCols.head, sigCols.tail: _*)
      .select(col("__id"), array((0 until numHashes).map(h => col(s"__m$h")): _*).as("__sig"))
  }

  /** The LSH band table `(__band, __bucket, __id)` — one row per doc per
    * band. This is the PERSISTABLE dedup index: a doc's rows depend only
    * on its own text (MinHash is corpus-independent), so the table of a
    * corpus is the union of the tables of its parts — which is what makes
    * [[incrementalLshCandidates]] exact, not approximate. */
  def lshBandTable(
      docs: DataFrame, idCol: String, text: Column,
      shingleN: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val numBands = numHashes / rowsPerBand
    val sig = minhashSignatures(docs, idCol, text, shingleN, numHashes)
    sig.select(col("__id"),
      posexplode(array((0 until numBands).map(b =>
        xxhash64(slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
  }

  /** Default bucket-population cap for the LSH-family candidate joins —
    * far above any per-bucket population the test fixtures produce (their
    * whole corpora are <= 5k docs), so capped and uncapped results are
    * identical there; at corpus scale it is the knob that bounds the join. */
  val DefaultMaxBucketSize: Int = 10000

  /** Drops every bucket (equality-key group) whose population exceeds
    * `cap` BEFORE a candidate self-join. A bucket of size s contributes
    * s² candidate rows, so one boilerplate/near-empty-document bucket of
    * 100k docs is 10^10 pairs — the classic LSH skew-killer on web text.
    * An over-common band value carries no similarity signal (it matches
    * everything), so dropping it trades a bounded sliver of recall for a
    * sum(min(s, cap)²) join bound; pairs sharing any OTHER band survive.
    * One map-side-combined count aggregation; the over-cap key list is
    * tiny (<= n/cap keys) so AQE broadcasts the anti-join.
    *
    * The cap's cost is OBSERVABLE, not silent: pass an `Observation` and
    * the run reports `dropped_buckets` / `dropped_rows` (rows = band-table
    * rows anti-joined away). The metrics ride the bucket-count aggregate
    * the anti-join needs anyway; in the observed mode the (tiny, <= n/cap
    * keys) crowded list is materialized eagerly, which (a) publishes the
    * metrics at operator-build time — a lazily-planned CollectMetrics dies
    * two ways: callers self-join the result, duplicating the observed node
    * (duplicate-name metrics don't publish), and on a zero-drop run AQE's
    * empty-relation propagation prunes the empty broadcast side, metrics
    * node included — and (b) stops the self-joining callers re-running the
    * count aggregate once per join side. */
  private[graft] def dropCrowdedBuckets(
      banded: DataFrame, keys: Seq[String], cap: Int,
      obs: Option[Observation] = None): DataFrame = {
    require(cap > 1, s"maxBucketSize must be > 1, got $cap")
    val counts = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))
    val crowded = obs match {
      case Some(o) => counts.observe(o,
          coalesce(sum(when(col("__bn") > cap, lit(1L))), lit(0L)).as("dropped_buckets"),
          coalesce(sum(when(col("__bn") > cap, col("__bn"))), lit(0L)).as("dropped_rows"))
        .where(col("__bn") > cap).select(keys.map(col): _*)
        .localCheckpoint()
      case None => counts.where(col("__bn") > cap).select(keys.map(col): _*)
    }
    banded.join(crowded, keys, "left_anti")
  }

  /** LSH banding: candidate pairs are doc pairs sharing >= 1 identical band
    * of `rowsPerBand` consecutive signature values. Buckets holding more
    * than `maxBucketSize` docs are dropped before the self-join (see
    * [[dropCrowdedBuckets]] — the default never triggers on the fixtures).
    * Returns (id_a, id_b) with id_a < id_b, distinct. */
  def lshCandidatePairs(
      docs: DataFrame, idCol: String, text: Column,
      shingleN: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 4,
      maxBucketSize: Int = DefaultMaxBucketSize,
      capObs: Option[Observation] = None): DataFrame =
    bandJoin(lshBandTable(docs, idCol, text, shingleN, numHashes, rowsPerBand),
      LshKeys, maxBucketSize, capObs, None)

  /** Incremental dedup candidates when a batch of NEW docs arrives: every
    * candidate pair touching a new doc, WITHOUT recomputing the corpus —
    * the 100 TB shape (a full-corpus re-sketch per daily batch is the
    * scale-killer). The (small) new band table is joined against the
    * persisted corpus index and against itself ([[incrementalBandJoin]]).
    * Exactly equals the full recompute restricted to pairs involving a new
    * id (property-tested), including the bucket cap, which is counted over
    * the union of new + stored bands — so a boilerplate bucket that grew
    * past the cap in the store stops joining against every future batch.
    * Robust to `storedBands` already containing (some of) the new ids —
    * e.g. a replayed micro-batch whose previous append survived. */
  def incrementalLshCandidates(newBands: DataFrame, storedBands: DataFrame,
                               maxBucketSize: Int = DefaultMaxBucketSize,
                               capObs: Option[Observation] = None): DataFrame =
    incrementalBandJoin(newBands, storedBands, LshKeys, maxBucketSize, capObs, None)

  /** The bucket key of the LSH band table. */
  private val LshKeys = Seq("__band", "__bucket")

  /** The banded candidate self-join every full-recompute generator runs
    * (here and `Similarity.lshBucketedPairsAboveThreshold`): materialize the band table (`keys` + `__id`, plus the 64-bit
    * `__h64` payload when `maxHamming` is given), drop crowded buckets
    * ([[dropCrowdedBuckets]]), self-join on the bucket key keeping
    * id_a < id_b, and keep pairs within `maxHamming` bits ([[pairsOf]]).
    * The band table is materialized first because it is usually the
    * whole sketch pipeline (scan -> tokenize -> minhash -> band): a lazy
    * self-join would plan it ONCE PER SIDE. */
  private[operators] def bandJoin(bands: DataFrame, keys: Seq[String], maxBucketSize: Int,
                                  capObs: Option[Observation],
                                  maxHamming: Option[Int]): DataFrame = {
    val banded = dropCrowdedBuckets(bands.localCheckpoint(), keys, maxBucketSize, capObs)
    def side(s: String) = banded.select(keys.map(col) ++ Seq(col("__id").as(s"id_$s")) ++
      maxHamming.map(_ => col("__h64").as(s"__h_$s")): _*)
    pairsOf(side("a").join(side("b"), keys).where(col("id_a") < col("id_b")), maxHamming)
  }

  /** The incremental twin of [[bandJoin]]: pairs TOUCHING the new band
    * rows — new×stored plus new×new — without re-pairing the stored
    * corpus. One join of the new rows against the whole capped union
    * keeps per-batch work at |new ∩ bucket| × |bucket|; a self-join of
    * the union filtered on "touches new" would build every stored×stored
    * bucket pair first, on every batch. The bucket cap counts the UNION
    * of new + stored rows (the populations the full recompute sees) with
    * one window count on the SAME bucket partitioning the join needs; the
    * capped table is materialized ONCE (it feeds both join sides, and
    * left lazy each would replan the new batch's sketch pipeline).
    * `capObs` reports the dropped rows and buckets (one `__rn == 1` row
    * per bucket) at that materialization. An id on both sides (a replayed
    * batch) never self-pairs, and its duplicate cross pairs collapse in
    * the `distinct`. */
  private def incrementalBandJoin(newBands: DataFrame, storedBands: DataFrame,
                                  keys: Seq[String], maxBucketSize: Int,
                                  capObs: Option[Observation],
                                  maxHamming: Option[Int]): DataFrame = {
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    val cols = ((keys :+ "__id") ++ maxHamming.map(_ => "__h64")).map(col)
    val tagged = newBands.select(cols: _*).withColumn("__isnew", lit(true))
      .unionByName(storedBands.select(cols: _*).withColumn("__isnew", lit(false)))
    val w = Window.partitionBy(keys.map(col): _*)
    val counted = tagged.withColumn("__bn", count(lit(1)).over(w))
    val observed = capObs match {
      case Some(o) => counted
        .withColumn("__rn", row_number().over(w.orderBy("__id", "__isnew")))
        .observe(o,
          coalesce(sum(when(col("__bn") > maxBucketSize && col("__rn") === 1, lit(1L))),
            lit(0L)).as("dropped_buckets"),
          coalesce(sum(when(col("__bn") > maxBucketSize, lit(1L))), lit(0L))
            .as("dropped_rows"))
        .drop("__rn")
      case None => counted
    }
    val kept = observed
      .where(col("__bn") <= maxBucketSize)
      .drop("__bn")
      .localCheckpoint()
    def side(rows: DataFrame, id: String, h: String, extra: Column*) =
      rows.select(keys.map(col) ++ Seq(col("__id").as(id)) ++
        maxHamming.map(_ => col("__h64").as(h)) ++ extra: _*)
    val pairs = side(kept.where(col("__isnew")), "__new", "__h_a")
      .join(side(kept, "__any", "__h_b", col("__isnew")), keys)
      // new×new once (strict order); new×stored whenever the ids differ
      .where(col("__new") < col("__any") || (!col("__isnew") && col("__new") > col("__any")))
      .select(Seq(least(col("__new"), col("__any")).as("id_a"),
        greatest(col("__new"), col("__any")).as("id_b")) ++
        maxHamming.toSeq.flatMap(_ => Seq(col("__h_a"), col("__h_b"))): _*)
    pairsOf(pairs, maxHamming)
  }

  /** The candidate pairs of a band join, distinct: (id_a, id_b), or with
    * `maxHamming` (id_a, id_b, hamming) over the `__h_a`/`__h_b`
    * fingerprints, keeping hamming <= maxHamming. hamming is a pure
    * function of the pair, so filtering BEFORE the dedup is equivalent —
    * and shrinks the distinct's shuffle input by the filter's selectivity
    * (most bucket-collision pairs fail it). */
  private def pairsOf(pairs: DataFrame, maxHamming: Option[Int]): DataFrame =
    (maxHamming match {
      case Some(m) => pairs.select(col("id_a"), col("id_b"),
          bit_count(col("__h_a").bitwiseXOR(col("__h_b"))).cast("long").as("hamming"))
        .where(col("hamming") <= m)
      case None => pairs.select("id_a", "id_b")
    }).distinct()

  /** Estimated Jaccard from MinHash signatures: fraction of equal slots. */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), e => e)).cast("double") / numHashes

  /** 64-bit SimHash of a token multiset: bit b is the sign of
    * sum(tf * (hash bit b ? +1 : -1)). Computed as an exploded aggregation
    * over token OCCURRENCES — summing ±1 per occurrence is identical to
    * tf-weighting per distinct token, so no intermediate (doc, token, tf)
    * aggregation level exists: ONE map-side-combined shuffle on doc id,
    * whatever the doc length. */
  def simhash(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"), explode(TextOps.tokens(text)).as("__tok"))
      .select(col("__id"), xxhash64(col("__tok")).as("__h"))
    val bitSums = (0 until 64).map { bb =>
      sum(when(col("__h").bitwiseAND(lit(1L << bb)) =!= 0, lit(1L))
        .otherwise(lit(-1L))).as(s"__b$bb")
    }
    val sums = toks.groupBy("__id").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).foldLeft(lit(0L)) { (acc, bb) =>
      acc.bitwiseOR(when(col(s"__b$bb") > 0, lit(1L << bb)).otherwise(lit(0L)))
    }
    sums.select(col("__id").as(idCol), sh.as("simhash"))
  }

  /** The 4x16-bit chunk explosion the narrow pigeonhole joins bucket on —
    * shared by the text SimHash pairs and the media fingerprint pairs (the
    * pair machinery is hash-agnostic over any 64-bit fingerprint column). */
  private def hashChunks16(h: DataFrame, idCol: String, hashCol: String): DataFrame =
    h.select(col(idCol).as("__id"), col(hashCol).as("__h64"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col(hashCol), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "__chunk").withColumnRenamed("col", "__cv")

  /** Corpus size at which the 16-bit-chunk pigeonhole's 2^16 buckets per
    * chunk start crowding (collision volume ~ n²/2^16 — measured
    * superlinear past ~10^5 docs, ScaleBench round 5) and the
    * ~2^32-bucket 3-of-6-block tables ([[hashCombos20]]) take over
    * ([[wideBands]]). */
  private val WideHashThreshold: Long = 100000L

  /** The Manku 3-of-6-block combination explosion the wide pigeonhole
    * buckets on. Blocks of 11/11/11/11/10/10 bits; a pair within Hamming
    * 3 agrees on >= 3 blocks, hence collides in >= 1 of the C(6,3)=20
    * combinations. Output shape matches [[hashChunks16]] — (__chunk =
    * combo id, __cv = hashed 3-block key, __id, __h64) — so every
    * consumer is band-mode-agnostic. */
  private def hashCombos20(h: DataFrame, idCol: String, hashCol: String): DataFrame = {
    val offsets = Seq(0, 11, 22, 33, 44, 54)
    val widths = Seq(11, 11, 11, 11, 10, 10)
    def blockVal(i: Int) =
      shiftright(col(hashCol), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val combos = offsets.indices.combinations(3).toSeq // 20 of them
    val keys = combos.zipWithIndex.map { case (c, ci) =>
      // combo id + the three block values, hashed into one 64-bit key —
      // width-independent and collision-negligible at these key counts
      xxhash64(lit(ci), blockVal(c(0)), blockVal(c(1)), blockVal(c(2)))
    }
    h.select(col(idCol).as("__id"), col(hashCol).as("__h64"),
      posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "__chunk").withColumnRenamed("col", "__cv")
  }

  /** The bucket key of both fingerprint band tables. */
  private val ChunkKeys = Seq("__chunk", "__cv")

  /** SimHash near-dup candidates: pigeonhole on 16-bit chunks — any pair
    * with hamming distance <= 3 must agree on >= 1 of 4 chunks, so a
    * bucket join on (chunk_idx, chunk) finds ALL such pairs without
    * O(n^2). A `maxHamming` above 3 still filters the candidates it sees
    * but is recall-lossy (pairs differing in every chunk are never
    * candidates) — that's the LSH trade, not a bug. Chunk buckets holding
    * more than `maxBucketSize` docs are dropped before the self-join
    * ([[dropCrowdedBuckets]]) — on web text, near-empty docs collapse into
    * a few giant all-zero-ish chunks. Returns (id_a, id_b, hamming). */
  def simhashPairs(sh: DataFrame, idCol: String, maxHamming: Int = 3,
                   maxBucketSize: Int = DefaultMaxBucketSize,
                   capObs: Option[Observation] = None): DataFrame =
    bandJoin(hashChunks16(sh, idCol, "simhash"), ChunkKeys, maxBucketSize, capObs,
      Some(maxHamming))

  /** SimHash near-dup candidates at CORPUS scale — the multi-block
    * refinement of [[simhashPairs]] (the design of Manku/Jain/Sarma's
    * web-crawl dedup paper): split the 64-bit fingerprint into 6 blocks
    * (11/11/11/11/10/10 bits); a pair with hamming distance <= 3 differs
    * in at most 3 blocks, so it AGREES on >= 3 — hence it collides in at
    * least one of the C(6,3) = 20 three-block combinations. Keying each
    * combination table on the (~32-bit) concatenated block values gives a
    * ~2^32 bucket space per table vs the 4-chunk form's 2^16 — collision
    * volume ~ n²/2^32 stays dup-group-bound for corpora where the 16-bit
    * chunks have already collapsed (measured: the 4-chunk form goes
    * superlinear past ~10^5 docs — ScaleBench round 5). Cost: 20 rows per
    * doc in the band table instead of 4 — the classic rows-for-buckets
    * LSH trade.
    *
    * Output is IDENTICAL to [[simhashPairs]] at maxHamming <= 3 (both are
    * exact-pigeonhole candidate generators followed by the exact hamming
    * filter; spec-asserted); larger bounds are rejected. */
  def simhashPairsWide(sh: DataFrame, idCol: String, maxHamming: Int = 3,
                       maxBucketSize: Int = DefaultMaxBucketSize,
                       capObs: Option[Observation] = None): DataFrame =
    bandJoin(pigeonholeBands(sh, idCol, "simhash", maxHamming, wide = true), ChunkKeys,
      maxBucketSize, capObs, Some(maxHamming))

  /** The one band-mode decision for the fingerprint pair functions: the
    * wide 3-of-6-block tables from [[WideHashThreshold]] rows on, the
    * 16-bit chunk table below it. Outputs are identical either way; only
    * the join's collision volume changes. */
  private[operators] def wideBands(rows: Long): Boolean = rows >= WideHashThreshold

  /** The exact pigeonhole band table of a 64-bit fingerprint column in the
    * given mode. Both tables are exact only for maxHamming <= 3 (a pair
    * differing in every band would be silently missed above it), so a
    * larger bound is rejected here. */
  private def pigeonholeBands(h: DataFrame, idCol: String, hashCol: String,
                              maxHamming: Int, wide: Boolean): DataFrame = {
    require(maxHamming <= 3,
      s"the pigeonhole band tables are exact only for maxHamming <= 3, got $maxHamming")
    if (wide) hashCombos20(h, idCol, hashCol) else hashChunks16(h, idCol, hashCol)
  }

  /** Near-dup pairs over any 64-bit fingerprint column (image dHash, audio
    * hashes): EVERY pair at Hamming distance <= `maxHamming` (at most 3)
    * shares a band bucket, so the join is bucket-local, never all-pairs.
    * The band mode follows the row count ([[wideBands]]). `hashes` should
    * be materialized: it is counted, then read again by the band
    * explosion. Returns (id_a, id_b, hamming). */
  def fingerprintPairs(hashes: DataFrame, idCol: String, hashCol: String,
                       maxHamming: Int = 3,
                       maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bandJoin(pigeonholeBands(hashes, idCol, hashCol, maxHamming, wideBands(hashes.count())),
      ChunkKeys, maxBucketSize, None, Some(maxHamming))

  /** Dedup-on-arrival over a 64-bit fingerprint column: the pairs of
    * [[fingerprintPairs]] TOUCHING the new batch — new×new plus new×stored
    * — against a persisted hash table, without rescanning the stored
    * corpus' media. Equals the full recompute over stored ∪ new restricted
    * to pairs with at least one new id (spec-asserted), bucket cap
    * included ([[incrementalBandJoin]]). The band mode follows the union's
    * row count ([[wideBands]]); both inputs should be materialized (the
    * stored side is usually a parquet hash table — counting it reads
    * 8-byte rows, never stored media). */
  def incrementalFingerprintPairs(newHashes: DataFrame, storedHashes: DataFrame,
                                  idCol: String, hashCol: String,
                                  maxHamming: Int = 3,
                                  maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    incrementalPigeonholePairs(newHashes, storedHashes, idCol, hashCol, maxHamming,
      maxBucketSize, wideBands(newHashes.count() + storedHashes.count()))

  /** [[incrementalFingerprintPairs]] in the given band mode. */
  private[graft] def incrementalPigeonholePairs(
      newHashes: DataFrame, storedHashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucketSize: Int, wide: Boolean): DataFrame = {
    def bands(h: DataFrame) = pigeonholeBands(h, idCol, hashCol, maxHamming, wide)
    incrementalBandJoin(bands(newHashes), bands(storedHashes), ChunkKeys, maxBucketSize,
      None, Some(maxHamming))
  }

  /** Exact n-gram Jaccard similarity for all pairs within a blocking key —
    * the ground-truth verifier for the sketches above, and an
    * oracle-checkable query (Q-DEDUP4).
    *
    * Formulation: block-self-join + `array_intersect`, i.e. exactly ONE row
    * of bounded work per candidate pair. The alternative — explode shingles
    * and join on (block, shingle) — costs sum(per-shingle doc-count^2),
    * which degenerates catastrophically when documents share vocabulary
    * (measured 28s vs ~2s on 5k near-duplicate docs). Use
    * [[exactJaccardVerify]] with LSH candidates instead of blocking when no
    * natural block exists: sketch-candidates + per-pair exact verify is the
    * 100 TB composition.
    *
    * Guarded: a block of s rows joins into s² candidate rows, so a block
    * above `maxBlockSize` FAILS FAST (before the quadratic join runs)
    * rather than silently degenerating ~10,000x at a 100x block scale-up.
    * The operator is exact by contract, so it never auto-falls back to the
    * recall-lossy LSH path — the error message points there instead. The
    * guard's count rides the localCheckpoint'ed shingle table (which the
    * self-join reuses, halving the dominant shingle pass as a side effect). */
  def exactJaccardPairs(
      docs: DataFrame, idCol: String, text: Column, block: Column,
      shingleN: Int = 3, minSim: Double = 0.1,
      maxBlockSize: Int = DefaultMaxBucketSize): DataFrame = {
    // Shingles are hashed to 64-bit longs and SORTED before the pairwise
    // intersect, so the custom two-pointer codegen expression
    // (SortedLongIntersectCount) counts the overlap with zero allocation.
    // 64-bit collisions are negligible => Jaccard values are identical to
    // the string formulation the oracle runs.
    val sh = withShingles(
        docs.select(block.as("__blk"), col(idCol), text.as("__text")),
        col("__text"), shingleN)
      .select(col("__blk"), col(idCol),
        sort_array(array_distinct(transform(col("__sh"), s => xxhash64(s)))).as("__shh"))
      .localCheckpoint()
    val biggest = sh.groupBy("__blk").agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head()
    val maxBlock = if (biggest.isNullAt(0)) 0L else biggest.getLong(0)
    require(maxBlock <= maxBlockSize,
      s"exactJaccardPairs: a block holds $maxBlock rows (> maxBlockSize=$maxBlockSize); " +
      s"the exact pair join would generate ~${maxBlock}^2 candidates — route through " +
      "lshCandidatePairs + exactJaccardVerify for unbounded blocks, or raise maxBlockSize")
    val a = sh.select(col("__blk"), col(idCol).as("id_a"), col("__shh").as("__sha"))
    val b = sh.select(col("__blk"), col(idCol).as("id_b"), col("__shh").as("__shb"))
    a.join(b, Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.SortedLongIntersectCount(col("__sha"), col("__shb")).as("__inter"),
        size(col("__sha")).as("__sza"), size(col("__shb")).as("__szb"))
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          (col("__sza") + col("__szb") - col("__inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minSim)
  }

  /** Block-local variant of [[exactJaccardPairs]]: splits each block into
    * tile tasks ([[tileRouted]]), decodes every shingle array ONCE, and
    * runs the quadratic pair loop over in-memory primitive arrays — no
    * per-pair row materialization (the join form copies both arrays into
    * each of the ~n^2/2 joined rows; measured ~3x). Requires each block's
    * arrays to fit in task memory (fine for language/label blocks; use the
    * join form for unbounded blocks). Identical output to the join form.
    */
  def exactJaccardPairsBlocked(
      docs: DataFrame, idCol: String, text: Column, block: Column,
      shingleN: Int = 3, minSim: Double = 0.1,
      maxBlockSize: Int = DefaultMaxBucketSize): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = withShingles(
        docs.select(block.cast("string").as("__blk"), col(idCol).cast("long").as("__id"),
          text.as("__text")),
        col("__text"), shingleN)
      .select(col("__blk"), col("__id"),
        sort_array(array_distinct(transform(col("__sh"), s => xxhash64(s)))).as("__shh"))
      // block size rides along so the quadratic guard (a BLOCK-level
      // contract) stays exact inside tile-level tasks
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__blk")))
    val tiles = tileRouted(sh, Seq("__blk", "__n"), "__shh")
      .as[(String, Long, Int, Int, Int, Long, Array[Long])]
    tiles.groupByKey(t => (t._1, t._3, t._4)).flatMapGroups { (key, it) =>
      val (blk, ti, tj) = key
      val all = it.toArray
      all.headOption.foreach { h =>
        require(h._2 <= maxBlockSize,
          s"exactJaccardPairsBlocked: block '$blk' holds ${h._2} rows " +
          s"(> maxBlockSize=$maxBlockSize); route through lshCandidatePairs + exactJaccardVerify")
      }
      val out = Seq.newBuilder[(Long, Long, Double)]
      forEachTilePair(all, ti, tj)(_._5, _._6) { (a, b) =>
        val aa = a._7; val ab = b._7
        var x = 0; var y = 0; var c = 0
        while (x < aa.length && y < ab.length) {
          val u = aa(x); val v = ab(y)
          if (u == v) { c += 1; x += 1; y += 1 }
          else if (u < v) x += 1 else y += 1
        }
        val jac = c.toDouble / (aa.length + ab.length - c).toDouble
        if (jac >= minSim)
          out += (if (a._6 < b._6) (a._6, b._6, jac) else (b._6, a._6, jac))
      }
      out.result().iterator
    }.toDF("id_a", "id_b", "jaccard")
  }

  /** TRIANGULAR TILING of a quadratic within-block pair kernel (r15): one
    * task per block serializes the whole quadratic loop on the dominant
    * block (one language owns most of a real corpus — 1 of 32 cores
    * busy). Each block's rows are chunked by `__id` mod G and routed to
    * one task per unordered chunk pair (ti <= tj): the n²/2 comparisons
    * split into G(G+1)/2 tiles of ~(n/G)² each. Each row is shuffled G
    * times (its chunk meets every other chunk once), so G =
    * ceil(sqrt(2·parallelism)) is capped at 16 to bound the duplication
    * on big clusters; past the cap extra parallelism buys less than the
    * G× shuffle volume costs. Returns `lead`, `__ti`, `__tj`, `__c`
    * (the row's chunk), `__id`, `payload` — group on the lead block key
    * plus (`__ti`, `__tj`) and pair with [[forEachTilePair]]. */
  private[operators] def tileRouted(rows: DataFrame, lead: Seq[String],
                                    payload: String): DataFrame = {
    val g = math.min(16, math.max(1, math.ceil(
      math.sqrt(2.0 * rows.sparkSession.sparkContext.defaultParallelism)).toInt))
    rows.withColumn("__c", pmod(col("__id"), lit(g.toLong)).cast("int"))
      .withColumn("__t", explode(sequence(lit(0), lit(g - 1))))
      // each copy lands in a distinct tile (t varies, c fixed): chunk-ti
      // rows reach tile (ti, tj) via t = tj and chunk-tj rows via t = ti —
      // exactly once each, no double-counting
      .select(lead.map(col) ++ Seq(least(col("__c"), col("__t")).as("__ti"),
        greatest(col("__c"), col("__t")).as("__tj"), col("__c"), col("__id"),
        col(payload)): _*)
  }

  /** Calls `pair` once for every unordered pair of tile (ti, tj)'s rows:
    * the pairs within chunk ti when ti == tj, else chunk ti × chunk tj.
    * Rows are visited in id order within a chunk. */
  private[operators] def forEachTilePair[T](all: Array[T], ti: Int, tj: Int)(
      chunk: T => Int, id: T => Long)(pair: (T, T) => Unit): Unit = {
    def side(c: Int) = all.filter(chunk(_) == c).sortBy(id)
    if (ti == tj) {
      val items = side(ti)
      var i = 0
      while (i < items.length) {
        var j = i + 1
        while (j < items.length) { pair(items(i), items(j)); j += 1 }
        i += 1
      }
    } else {
      val a = side(ti); val b = side(tj)
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) { pair(a(i), b(j)); j += 1 }
        i += 1
      }
    }
  }

  /** Connected components over a candidate-pair edge list — the final
    * stage of a dedup pipeline: near-dup pairs form clusters, and exactly
    * one document per cluster survives. Alternating LARGE-STAR/SMALL-STAR
    * rounds (the Kiveris et al. "Connected Components in MapReduce and
    * Beyond" scheme, also what GraphFrames ships): each round rewires every
    * edge toward its neighborhood minimum, so component HEIGHT roughly
    * halves per round and a path of n vertices finishes in O(log n) rounds
    * — where plain min-label propagation needs O(diameter) rounds and
    * fail-fasts on exactly the chain-shaped clusters (template pages
    * A~B~C~…) a web-scale near-dup graph produces. `localCheckpoint` per
    * round truncates the growing lineage, which is what keeps iterative
    * DataFrame algorithms viable at scale.
    * Returns (v, component) for every vertex mentioned in `pairs`, where
    * component = min vertex id reachable.
    *
    * `maxIter` bounds only the distributed star-contraction loop, which
    * throws when it runs out of rounds. An edge list small enough for the
    * local union-find (see the size-adaptive branch below) is solved
    * exactly in one pass: that path always converges and never reads
    * `maxIter`. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Orient every edge hi→lo; self-loops drop out of the iteration (their
    // vertices are restored by the final vertex join).
    val init = pairs
      .select(col(idA).as("u"), col(idB).as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()

    // LARGE-STAR: per vertex u over the SYMMETRIZED adjacency, m =
    // min(N(u) ∪ {u}); every strictly-larger neighbor v > u re-points to m.
    // Min is algebraic, so the hot component-root key collapses map-side;
    // the join back duplicates one mins row per adjacency row (AQE splits
    // the skewed partition).
    def largeStar(e: DataFrame, eCount: Long): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u").as("__u"), least(col("__mn"), col("u")).as("__m"))
      // mins has one row per distinct u of sym: <= 2·|e| (size-adaptive
      // broadcast: the rounds' checkpointed frames carry no statistics)
      sym.join(SizeAdaptive.maybeBroadcast(mins, 2 * eCount), col("u") === col("__u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v")) // m <= u < v: stays hi→lo
        .distinct()
    }

    // SMALL-STAR: per vertex u over its SMALLER neighbors (input is
    // oriented hi→lo, so they are exactly the v column), m = min; every
    // smaller neighbor and u itself re-point to m.
    def smallStar(e: DataFrame, eBound: Long): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("__m"))
        .select(col("u").as("__u"), col("__m"))
      e.join(SizeAdaptive.maybeBroadcast(mins, eBound), col("u") === col("__u"))
        .select(col("v").as("a"), col("__m").as("b"))
        .where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .unionByName(mins.select(col("__u").as("u"), col("__m").as("v")))
        .distinct()
    }

    var cur = init
    var prevCount = cur.count()

    // Fixpoint edges are (member, root). Every endpoint of the ORIGINAL
    // pair list gets a label; vertices no fixpoint edge mentions (isolated
    // self-loops) are their own component.
    val verts = pairs.select(col(idA).as("v"))
      .unionAll(pairs.select(col(idB).as("v"))).distinct()
    def labelled(members: DataFrame): DataFrame =
      verts.join(members, col("v") === col("__mv"), "left_outer")
        .select(col("v"), coalesce(col("__comp"), col("v")).as("component"))

    // SIZE-ADAPTIVE LOCAL CONTRACTION: when the deduplicated edge list
    // fits the session's broadcast budget, the star-contraction rounds
    // are pure scheduling overhead — each round ALREADY pulls a mins
    // table of comparable size to the driver to broadcast it, plus 4+
    // exchanges and 2 actions, for O(log n) rounds. Collecting the edges
    // ONCE and running the min-label union-find locally moves strictly
    // less data to the driver than one round's broadcast builds, and the
    // resulting label table (≤ 2·|E| rows) re-enters the plan as a
    // broadcast — the decision the planner itself would make for a
    // relation this size. A graph over the threshold, or with
    // non-integral ids (the long round-trip would be lossy), keeps the
    // distributed loop (spec-pinned equal on random graphs).
    SizeAdaptive.localLongPairs(init, Some(prevCount)).map { edges =>
      // union-to-min: the larger root is always re-pointed at the smaller,
      // so each tree's final root IS the component's minimum id (the same
      // min-reachable-vertex fixpoint the star contraction converges to).
      val parent = new java.util.HashMap[Long, Long](edges.length * 2)
      def add(x: Long): Unit =
        if (!parent.containsKey(x)) parent.put(x, x)
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      edges.foreach { case (a, b) =>
        add(a); add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val vType = init.schema("u").dataType
      val labels = {
        val it = parent.keySet().iterator()
        val buf = Seq.newBuilder[(Long, Long)]
        while (it.hasNext) { val v = it.next(); buf += ((v, find(v))) }
        buf.result()
      }
      val members = labels.toDF("__mv", "__comp")
        .select(col("__mv").cast(vType).as("__mv"),
          col("__comp").cast(vType).as("__comp"))
      labelled(SizeAdaptive.maybeBroadcast(members, 2 * prevCount))
    }.getOrElse {
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        // large-star emits <= |sym| = 2·|cur| rows pre-distinct, so the
        // small-star mins bound is 2·prevCount
        val next = smallStar(largeStar(cur, prevCount), 2 * prevCount)
          .localCheckpoint()
        val nextCount = next.count()
        // Exact set-equality convergence (both sides are distinct): equal
        // cardinality + empty next∖cur ⇒ identical edge sets. At the
        // fixpoint the graph is a forest of stars centered at each
        // component's minimum — no probabilistic hash compare, a false
        // "converged" would silently split clusters.
        converged = nextCount == prevCount && next.exceptAll(cur).isEmpty
        prevCount = nextCount
        cur = next
        i += 1
      }
      // Fail fast rather than return half-merged clusters: un-converged
      // labels would flow into dedupByComponents* as SPLIT clusters — extra
      // survivors, i.e. silently incomplete dedup. O(log n) rounds cover
      // even a path-shaped component of 2^maxIter vertices, so hitting the
      // cap at the default means something pathological, and the caller
      // must decide, not inherit wrong labels.
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter large-star/" +
          "small-star rounds; raise maxIter (the edge set was still moving)")
      labelled(cur.select(col("u").as("__mv"), col("v").as("__comp")))
    }
  }

  /** Keep one representative (min id) per near-dup cluster; documents in
    * no cluster pass through untouched. */
  def dedupByComponents(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("v") =!= col("component")).select(col("v"))
    docs.join(losers, docs(idCol) === losers("v"), "left_anti")
  }

  /** Keep the BEST document per near-dup cluster — the production form of
    * [[dedupByComponents]]: min-id survival is arbitrary, a real pipeline
    * keeps the highest-quality member (longest, best quality score,
    * freshest). `order` ranks WITHIN a cluster (make it total — end with
    * the id — or survival is nondeterministic); documents in no cluster
    * survive untouched. One window over the component key on top of the
    * component labels; skew bounded by the largest dup cluster. */
  def dedupByComponentsBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                            order: Seq[Column]): DataFrame =
    dedupByComponentsBestFrom(docs, idCol, connectedComponents(pairs), order)

  /** [[dedupByComponentsBest]] over an ALREADY-COMPUTED (v, component)
    * label table — the entry point when the component table is
    * persisted/memoized and shared by several consumers (the
    * cluster-scale shape: contraction runs once, every downstream pass
    * reads the labels). */
  def dedupByComponentsBestFrom(docs: DataFrame, idCol: String,
                                components: DataFrame,
                                order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "need a within-cluster ranking; end it with the id")
    val comp = components.withColumnRenamed("v", "__v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__comp")).orderBy(order: _*)
    docs.join(comp, docs(idCol) === comp("__v"), "left_outer")
      .withColumn("__comp", coalesce(col("component"), docs(idCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__v", "component", "__comp", "__rn")
  }

  /** Exact Jaccard verification of a candidate-pair list (e.g. from
    * [[lshCandidatePairs]]): joins each (id_a, id_b) to its shingle set and
    * scores it — work is O(|candidates|), independent of corpus size. */
  def exactJaccardVerify(
      candidates: DataFrame, docs: DataFrame, idCol: String, text: Column,
      shingleN: Int = 3): DataFrame = {
    val sh = withShingles(docs.select(col(idCol).as("__id"), text.as("__text")),
        col("__text"), shingleN)
      .select(col("__id"),
        sort_array(array_distinct(transform(col("__sh"), s => xxhash64(s)))).as("__sh"))
    candidates
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.SortedLongIntersectCount(col("__sha"), col("__shb")).as("__i"),
        size(col("__sha")).as("__sza"), size(col("__shb")).as("__szb"))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") /
          (col("__sza") + col("__szb") - col("__i")).cast("double")).as("jaccard"))
  }
}
