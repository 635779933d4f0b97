package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Similarity search over embedding columns (north star, BASELINE.json;
  * SURVEY.md §2.B Q-SIM1/2).
  *
  * Baseline: brute-force cosine top-k — a single scan, no shuffle until the
  * final TakeOrderedAndProject. Scale path: random-hyperplane LSH bucketing
  * — probe only matching buckets, turning top-k from O(n) scans per query
  * into O(n/2^bits) with recall traded via `numPlanes`/multi-probe.
  */
object Similarity {

  /** Sentinel for "derive the plane count from the corpus size" — the
    * default for every hyperplane-LSH entry point below. */
  val AutoPlanes: Int = 0

  /** Plane count from corpus size: enough planes that the EXPECTED bucket
    * population stays near `targetBucketLoad` — `ceil(log2(n / load))`,
    * floored at `minPlanes`. With 2^planes buckets per band, per-band
    * candidate volume ~ n * load (LINEAR in n); a fixed plane count is
    * ~n²/2^planes (measured 13.8x wall at 10x data in ScaleBench r4).
    * The recall trade is the caller's to manage: raising planes by Δ
    * multiplies a θ-angle pair's per-band collision probability by
    * (1-θ/π)^Δ, so holding the miss bound (1-(1-θ/π)^planes)^bands while
    * n grows needs `numBands` scaled by ~(1/(1-θ/π))^Δ. At fixture sizes
    * (n <= ~2k at load 128) this picks the round-4 default of 4, so the
    * oracle-checked results are unchanged there. */
  def autoPlanesPerBand(n: Long, targetBucketLoad: Int = 128,
                        minPlanes: Int = 4): Int = {
    require(targetBucketLoad > 0 && minPlanes > 0)
    if (n <= targetBucketLoad) minPlanes
    else {
      // ceil(log2(ceil(n / load))) in exact integer math — a floating
      // log2 is one ulp from the wrong plane count at powers of two
      val ratio = (n + targetBucketLoad - 1) / targetBucketLoad
      math.max(minPlanes, 64 - java.lang.Long.numberOfLeadingZeros(ratio - 1))
    }
  }

  /** The band count that holds a target miss probability as planes grow —
    * the OTHER half of the [[autoPlanesPerBand]] trade, as code instead of
    * an operating rule. A pair at angle θ collides in one band with
    * probability p = (1 - θ/π)^planes, so it is missed in every band with
    * probability (1-p)^bands; holding miss <= `targetMissProb` needs
    * bands >= ln(miss)/ln(1-p). At the round-4 defaults (planes=4,
    * θ=60° ⇒ p=(2/3)^4, realized miss 0.51%) this returns the shipped
    * numBands=24, and growing planes by Δ multiplies the requirement by
    * ~(3/2)^Δ: the honest cost of constant recall at scale (sketch work
    * per vector = bands·planes dot products). Callers choose which side
    * to hold: fixed bands (cheap, recall decays on borderline pairs —
    * planted near-dups at cosine ~1 have p ≈ 1 and barely decay) or
    * fixed recall via this helper. */
  def bandsForRecall(planesPerBand: Int, targetMissProb: Double = 0.006,
                     thetaRadians: Double = math.Pi / 3): Int = {
    require(planesPerBand > 0 && targetMissProb > 0 && targetMissProb < 1)
    require(thetaRadians > 0 && thetaRadians < math.Pi)
    val p = math.pow(1.0 - thetaRadians / math.Pi, planesPerBand)
    math.ceil(math.log(targetMissProb) / math.log1p(-p)).toInt
  }

  /** The single-query operators below broadcast ONE query vector and take a
    * global top-k; a multi-row query would silently merge every query's
    * neighbors into one ranked list. Assert the contract (a bounded
    * `limit(2)` probe, never a full count) — batches go through
    * [[topKForQueries]], which carries the query id and ranks per query. */
  private[operators] def requireSingleRow(query: DataFrame, op: String): DataFrame = {
    // One bounded evaluation serves both the check and the broadcast: the
    // collected row is rebuilt into a local DataFrame, so the query-side
    // subplan never runs a second time (and the probe is limit(2), never a
    // full count).
    val rows = query.limit(2).collect()
    require(rows.length == 1,
      s"$op expects exactly 1 query row, got ${if (rows.length < 2) rows.length else "2+"};" +
      " use Similarity.topKForQueries for query batches")
    query.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), query.schema)
  }

  /** Brute-force cosine top-k against a 1-row query DataFrame (broadcast —
    * never collected to the driver). Ties broken by id for determinism. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    val sim = VectorOps.cosine(col(vecCol), col("__qv"))
    emb.crossJoin(broadcast(
        requireSingleRow(query, "bruteForceTopK").select(col(queryVecCol).as("__qv"))))
      .select(col(idCol), round(sim, 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batched brute-force top-k: every query row keeps its id and gets its
    * OWN ranked top-k (row_number per query id => WindowGroupLimit, no
    * global merge). The scale shape for query batches: one broadcast of the
    * whole batch, one corpus scan for ALL queries. */
  def topKForQueries(emb: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qIdCol: String, qVecCol: String,
                     k: Int): DataFrame = {
    val scored = emb.crossJoin(broadcast(
        queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))))
      .select(col("query_id"), col(idCol),
        round(VectorOps.cosine(col(vecCol), col("__qv")), 6).as("sim"))
    topKPerGroup(scored, Seq("query_id"), Seq(col("sim").desc, col(idCol).asc), k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * top-k most-SIMILAR vectors with a DIFFERENT label — the examples a
    * retrieval model most confuses, which is what makes them the valuable
    * negatives. Same one-corpus-scan, broadcast-anchor-batch,
    * rank-per-query shape as [[topKForQueries]]; the label inequality is
    * applied before ranking so negatives never crowd out of the window. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchors: DataFrame, k: Int): DataFrame = {
    val scored = emb.crossJoin(broadcast(
        anchors.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
          col(labelCol).as("__ql"))))
      .where(col(labelCol) =!= col("__ql"))
      .select(col("query_id"), col(idCol),
        round(VectorOps.cosine(col(vecCol), col("__qv")), 6).as("sim"))
    topKPerGroup(scored, Seq("query_id"), Seq(col("sim").desc, col(idCol).asc), k)
  }

  /** All pairs with cosine >= minSim within a blocking column. O(block²):
    * this is the GROUND-TRUTH verifier (and stays correct for any block
    * size), not the pipeline path — a skewed block degenerates
    * quadratically. The scale path is [[lshBucketedPairsAboveThreshold]],
    * which touches only bucket-collision pairs. */
  def allPairsAboveThreshold(emb: DataFrame, idCol: String, vecCol: String,
                             block: Column, minSim: Double): DataFrame = {
    val a = emb.select(block.as("__blk"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = emb.select(block.as("__blk"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.cosine(col("__va"), col("__vb")), 6).as("sim"))
      .where(col("sim") >= minSim)
  }

  /** EXACT-INTEGER cosine-threshold pair list — [[allPairsAboveThreshold]]
    * with the float arithmetic replaced end-to-end by integers, so the
    * pair set AND the emitted sim are hash-exact on any fixture at any
    * scale (round-10 hardening of the one [1e5,1e6)-ulp thin family):
    *
    *  - inputs quantize by an exact power-of-two scale: x·2^scaleBits is
    *    an EXACT double (power-of-two multiply never rounds a float32),
    *    truncated toward zero — trunc of an exact value is mathematics,
    *    not float rounding, so there is NO boundary hazard at all (the
    *    r7 failure class needs a rounded inexact value near a boundary);
    *  - the threshold cos ≥ thrNum/thrDen becomes the exact integer
    *    cross-multiplication dot ≥ 0 ∧ thrDen²·dot² ≥ thrNum²·na·nb in
    *    DECIMAL (all products exact: operands are bounded to 13 digits,
    *    well under DECIMAL(38) cross-multiplied);
    *  - the emitted `sim` is the raw quotient dot/(√na·√nb) of EXACT
    *    integer-valued doubles — four correctly-rounded IEEE ops, never
    *    rounded again (the q_sim13 centroid discipline).
    *
    * This is also the honest production shape: large-scale embedding
    * stores quantize (int8) anyway, and the quantized cosine is the
    * similarity actually served. Validity bounds (documented, generous):
    * |x| ≤ 2 and dim ≤ 512 keep |q_i| ≤ 2^14, na/|dot| ≤ 2^37 < 13
    * digits (DECIMAL products exact) and < 2^53 (double casts exact).
    * `thrNum/thrDen` must be non-negative (dot ≥ 0 is part of the
    * predicate). Zero-norm vectors pair with nothing (cosine undefined).
    * Per-pair cost is ONE codegen'd integer fold
    * (graft.functions.DotProductLong); norms are per-ROW, not per-pair. */
  def allPairsAboveThresholdExact(emb: DataFrame, idCol: String, vecCol: String,
                                  block: Column, thrNum: Int, thrDen: Int,
                                  scaleBits: Int = 13): DataFrame = {
    require(thrNum >= 0 && thrDen > 0, s"threshold must be >= 0: $thrNum/$thrDen")
    require(scaleBits > 0 && scaleBits < 20, s"scaleBits out of range: $scaleBits")
    val scale = math.pow(2.0, scaleBits) // exact
    val qv = transform(col(vecCol), x => (x.cast("double") * lit(scale)).cast("long"))
    // Runtime enforcement of the documented validity bounds (|x| ≤ 2,
    // dim ≤ 512 ⇒ norms ≤ 2^37): with ANSI off, an out-of-bounds input
    // would make the decimal(13,0) casts below return NULL and the
    // threshold predicate SILENTLY DROP pairs. Since |dot| ≤ √(na·nb)
    // ≤ max(na,nb), guarding the per-ROW norm to 13 digits bounds every
    // casted quantity — cost is one comparison per row, never per pair.
    val maxDec13 = 9999999999999L
    val guardedN2 = {
      val n2 = graft.functions.DotProductLong(col("__q"), col("__q"))
      when(n2 > maxDec13 || n2 < 0, raise_error(concat(
          lit("allPairsAboveThresholdExact: quantized norm "), n2.cast("string"),
          lit(" exceeds the exact-DECIMAL bound (inputs must satisfy |x|<=2, dim<=512)"))))
        .otherwise(n2)
    }
    val base = emb.select(block.as("__blk"), col(idCol).as("__id"), qv.as("__q"))
      .withColumn("__n2", guardedN2)
    val a = base.select(col("__blk"), col("__id").as("id_a"),
      col("__q").as("__qa"), col("__n2").as("__na"))
    val b = base.select(col("__blk"), col("__id").as("id_b"),
      col("__q").as("__qb"), col("__n2").as("__nb"))
    def dec(c: Column) = c.cast("decimal(13,0)")
    a.join(b, Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("__dot", graft.functions.DotProductLong(col("__qa"), col("__qb")))
      .where(col("__na") > 0 && col("__nb") > 0 && col("__dot") >= 0 &&
        dec(col("__dot")) * dec(col("__dot")) * lit(thrDen.toLong * thrDen) >=
          dec(col("__na")) * dec(col("__nb")) * lit(thrNum.toLong * thrNum))
      .select(col("id_a"), col("id_b"),
        (col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
          .as("sim"))
  }

  /** LSH-bucketed cosine-threshold pair list — the scale shape of
    * [[allPairsAboveThreshold]]: candidates come from equality joins on
    * (block, band, bucket) under `numBands` independent hyperplane sign
    * buckets (the embedding mirror of `NearDup.lshCandidatePairs`'
    * MinHash banding), then ONLY the collision pairs are exactly re-scored
    * and thresholded. Never all-pairs: per band the join touches
    * sum(bucket_size²) rows, driven down by `planesPerBand` (buckets per
    * band = 2^planesPerBand), and a skewed block no longer degenerates —
    * its rows still spread over buckets. Precision is exact (every emitted
    * pair is re-scored); recall is the LSH trade — a qualifying pair is
    * missed iff some hyperplane splits it in EVERY band, with probability
    * (1-(1-θ/π)^planesPerBand)^numBands (θ = the pair's angle), driven
    * toward 0 by `numBands`. At the defaults and minSim 0.5 (θ ≤ 60°,
    * per-band collision ≥ (2/3)^4 ≈ 0.20) a qualifying pair is missed
    * with probability ≤ 0.8^24 ≈ 0.5% — and the fixed seed makes any
    * given corpus's result deterministic (recall 1.0 on the test fixtures
    * is asserted in the spec and by the q_sim2 oracle). Pass `lit(0)` as
    * `block` for an unblocked corpus. Buckets holding more than
    * `maxBucketSize` vectors are dropped before the self-join
    * (`NearDup.dropCrowdedBuckets` — zero/duplicate embeddings collapse
    * into giant sign buckets the way boilerplate text does in MinHash LSH;
    * the default never triggers on the fixtures).
    *
    * `planesPerBand` defaults to [[AutoPlanes]]: derived from ONE cheap
    * corpus count (column-pruned to nothing — parquet serves it from
    * row-group metadata) via [[autoPlanesPerBand]], so the bucket count
    * grows with the corpus instead of freezing at a fixture-tuned value.
    * Pass an explicit positive value to pin it. `capObs`, when given, is
    * wired to the crowded-bucket drop so the run reports what the cap
    * cost (see `NearDup.dropCrowdedBuckets`). */
  def lshBucketedPairsAboveThreshold(
      emb: DataFrame, idCol: String, vecCol: String, block: Column,
      minSim: Double, dim: Int, numBands: Int = 24, planesPerBand: Int = AutoPlanes,
      seed: Long = 42L,
      maxBucketSize: Int = NearDup.DefaultMaxBucketSize,
      capObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val base = emb.select(block.as("__blk"), col(idCol).as("__id"), col(vecCol).as("__v"))
    val planes =
      if (planesPerBand > 0) planesPerBand else autoPlanesPerBand(base.count())
    // all band buckets in ONE tight-loop expression: the equivalent
    // Column fold (bands × planes DotProduct nodes) blows past codegen
    // limits once auto-planes grows, and tree interpretation is the real
    // cost — see graft.functions.HyperplaneBuckets (equality spec-pinned
    // to the Column formulation)
    val bandBuckets =
      graft.functions.HyperplaneBuckets(col("__v"), numBands, planes, dim, seed)
    val candidates = NearDup.bandJoin(
      base.select(col("__blk"), col("__id"), posexplode(bandBuckets))
        .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket"),
      Seq("__blk", "__band", "__bucket"), maxBucketSize, capObs, None)
    // exact re-score of candidates only — O(|collisions|), not O(block²)
    candidates
      .join(base.select(col("__id").as("id_a"), col("__v").as("__va")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__v").as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(VectorOps.cosine(col("__va"), col("__vb")), 6).as("sim"))
      .where(col("sim") >= minSim)
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed) as a literal
    * array<array<double>> column — broadcast by constant folding. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    array((0 until numPlanes).map { _ =>
      array((0 until dim).map(_ => lit(rnd.nextGaussian())): _*)
    }: _*)
  }

  /** Sign-bit LSH bucket id of a vector under the given hyperplanes. */
  def lshBucket(vec: Column, planes: Column, numPlanes: Int): Column =
    (0 until numPlanes).foldLeft(lit(0L)) { (acc, p) =>
      acc.bitwiseOR(
        when(VectorOps.dot(vec, element_at(planes, p + 1)) > 0,
          lit(1L << p)).otherwise(lit(0L)))
    }

  /** Resolves an explicit-or-[[AutoPlanes]] plane count for the single-probe
    * ANN paths: auto targets a bucket load of 128 (>= any sane top-k) with
    * a floor of 2 planes, from one column-pruned corpus count. */
  private def resolveTopKPlanes(emb: DataFrame, numPlanes: Int): Int =
    if (numPlanes > 0) numPlanes
    else autoPlanesPerBand(emb.count(), targetBucketLoad = 128, minPlanes = 2)

  /** LSH-bucketed ANN top-k: probe only the query's bucket. Recall < 1 by
    * construction; the unit test measures it against brute force.
    * `numPlanes` = [[AutoPlanes]] derives the bucket count from the corpus
    * size (see [[resolveTopKPlanes]]) so probe cost stays ~constant as the
    * corpus grows instead of the bucket load growing linearly. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String,
              k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val nPlanes = resolveTopKPlanes(emb, numPlanes)
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.withColumn("__bucket", lshBucket(col(vecCol), planes, nPlanes))
    val q = requireSingleRow(query, "lshTopK")
      .select(col(queryVecCol).as("__qv"),
        lshBucket(col(queryVecCol), planes, nPlanes).as("__qbucket"))
    bucketed.join(broadcast(q), col("__bucket") === col("__qbucket"))
      .select(col(idCol), round(VectorOps.cosine(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Multi-probe LSH ANN top-k: probes the query's bucket PLUS every
    * bucket at Hamming distance 1 (one sign bit flipped) — the classic
    * recall knob for hyperplane LSH. A vector near a hyperplane lands on
    * its far side with probability ∝ its distance to the plane, so the
    * 1-flip buckets hold most of the neighbors single-probe misses;
    * recall rises from ~bucket-hit-rate to near-1 while still scanning
    * only (numPlanes+1)/2^numPlanes of the corpus. Each doc lives in ONE
    * bucket and probe ids are distinct, so no result dedup is needed. */
  def lshTopKMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
                        query: DataFrame, queryVecCol: String,
                        k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val nPlanes = resolveTopKPlanes(emb, numPlanes)
    val planes = hyperplanes(nPlanes, dim)
    val bucketed = emb.withColumn("__bucket", lshBucket(col(vecCol), planes, nPlanes))
    val qb = lshBucket(col(queryVecCol), planes, nPlanes)
    val probes = array(qb +: (0 until nPlanes).map(p =>
      qb.bitwiseXOR(lit(1L << p))): _*)
    val q = requireSingleRow(query, "lshTopKMultiProbe")
      .select(col(queryVecCol).as("__qv"), explode(probes).as("__qbucket"))
    bucketed.join(broadcast(q), col("__bucket") === col("__qbucket"))
      .select(col(idCol), round(VectorOps.cosine(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Brute-force EXACT-L2 top-k — the ground truth for the distance-based
    * ANN paths (PQ/ADC ranks by approximate squared L2, so its recall is
    * measured against exact L2, not cosine). Same one-scan broadcast shape
    * as [[bruteForceTopK]]. */
  def bruteForceTopKByL2(emb: DataFrame, idCol: String, vecCol: String,
                         query: DataFrame, queryVecCol: String, k: Int): DataFrame =
    emb.crossJoin(broadcast(
        requireSingleRow(query, "bruteForceTopKByL2").select(col(queryVecCol).as("__qv"))))
      .select(col(idCol), round(VectorOps.l2(col(vecCol), col("__qv")), 6).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)

  /** Annotates an ANN result with its recall against a ground-truth
    * top-k: |result ∩ truth| / |truth|, emitted as a constant `recall`
    * column so ANN quality lands in the verify/bench artifacts instead of
    * only in test logs. Computed in-plan: the truth ids collapse into ONE
    * array row (collect_set over k rows) broadcast onto the (<= k)-row
    * result, and the global window runs over those k rows only — a
    * deliberately bounded single partition, never data-scale. */
  def withRecallAgainst(approx: DataFrame, truth: DataFrame, idCol: String): DataFrame = {
    val tset = truth.agg(collect_set(col(idCol)).as("__tids"))
    val w = Window.partitionBy(lit(1))
    approx.crossJoin(broadcast(tset))
      .withColumn("__hit", when(array_contains(col("__tids"), col(idCol)), 1).otherwise(0))
      .withColumn("recall",
        round(sum(col("__hit")).over(w).cast("double") /
          size(col("__tids")).cast("double"), 6))
      .drop("__tids", "__hit")
  }

  /** Embedding-space outlier scoring: each vector's cosine to its own
    * class centroid — the embedding-quality gate that flags mislabeled /
    * off-distribution rows before training (low cosine = the vector does
    * not belong where its label says).
    *
    * Exactness (unique in the sim family — every other aggregate over
    * floats is order-dependent): components are snapped ONCE to integer
    * micro-units (round(x·1e6), exact for the float inputs), then every
    * aggregate is an exact integer sum — and because cosine is invariant
    * to scaling of either argument, the UNNORMALIZED per-class component
    * sum stands in for the centroid (cos(x, Σv) = cos(x, Σv/n)): no
    * division, no float accumulation, bit-identical across engines. Dot
    * products accumulate in DECIMAL(38,0) (the `Anomaly.zScores` policy):
    * exact up to ~1e9 rows per class at unit-scale components.
    *
    * Scale shape: posexplode to (row, dim) — 64x row inflation, but the
    * centroid aggregate is (numClasses × dim)-sized and broadcast back via
    * an equi-join on (label, pos); one shuffle for the centroid, one for
    * the per-vector rollup. No pairwise anything. */
  def cosineToClassCentroid(emb: DataFrame, idCol: String, vecCol: String,
                            labelCol: String): DataFrame = {
    val e = emb.select(col(idCol), col(labelCol),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      // trunc(x·2^20): the power-of-two product is EXACT (never rounds a
      // float32) and trunc of an exact value has no boundary hazard —
      // round(x·1e6) left a thin fragility margin (round 10).
      .withColumn("__xm", (col("__x").cast("double") * lit(1048576.0)).cast("long"))
    // materialized once: cent feeds BOTH the per-vector dot join and its
    // own norm rollup — lazy would rescan + re-explode the whole corpus
    // for cnorm (a third full scan); the table is (numClasses × dim) rows
    val cent = e.groupBy(col(labelCol), col("__pos"))
      .agg(sum(col("__xm")).cast("decimal(18,0)").as("__cs"))
      .localCheckpoint()
    val cnorm = cent.groupBy(col(labelCol))
      .agg(sum(col("__cs") * col("__cs")).as("__c2"))
    e.join(cent, Seq(labelCol, "__pos"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum(col("__xm").cast("decimal(18,0)") * col("__cs")).as("__dot"),
        sum(col("__xm") * col("__xm")).as("__x2"))
      .join(cnorm, Seq(labelCol))
      .select(col(idCol), col(labelCol),
        (col("__dot").cast("double") /
          (sqrt(col("__x2").cast("double")) * sqrt(col("__c2").cast("double"))))
          .as("cos_centroid"))
  }

  /** Per-label embedding-centroid drift between two halves of a corpus —
    * the embedding-space distribution-shift check run before a retrain
    * (the numeric twin of the PSI gate): cosine between each label's
    * half-A and half-B centroids, from the SAME exact-integer machinery
    * as [[cosineToClassCentroid]] (micro-unit components, DECIMAL sums,
    * unnormalized sums stand in for centroids — cosine is scale-invariant;
    * sqrt/division are single correctly-rounded IEEE ops => hash-exact).
    * Labels present in only one half drop out (no drift of nothing).
    *
    * Shape: one posexplode scan, one (label, half, dim) aggregate
    * (2 · numClasses × dim rows), dim-sized join between the halves —
    * nothing pairwise, nothing driver-side. */
  def centroidDrift(emb: DataFrame, vecCol: String, labelCol: String,
                    halfCol: Column): DataFrame = {
    val e = emb.select(col(labelCol), halfCol.cast("int").as("__h"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      // exact trunc ×2^20 quantization — see cosineToClassCentroid
      .withColumn("__xm", (col("__x").cast("double") * lit(1048576.0)).cast("long"))
    val cent = e.groupBy(col(labelCol), col("__h"), col("__pos"))
      .agg(sum(col("__xm")).cast("decimal(18,0)").as("__cs"))
    val a = cent.where(col("__h") === 0)
      .select(col(labelCol), col("__pos"), col("__cs").as("__ca"))
    val b = cent.where(col("__h") === 1)
      .select(col(labelCol), col("__pos"), col("__cs").as("__cb"))
    a.join(b, Seq(labelCol, "__pos"))
      .groupBy(col(labelCol))
      .agg(sum(col("__ca") * col("__cb")).as("__dot"),
        sum(col("__ca") * col("__ca")).as("__a2"),
        sum(col("__cb") * col("__cb")).as("__b2"))
      .select(col(labelCol),
        (col("__dot").cast("double") /
          (sqrt(col("__a2").cast("double")) * sqrt(col("__b2").cast("double"))))
          .as("centroid_cos"))
  }

  /** Per-group top-k (SURVEY.md Q-TOP2 shape): row_number over a windowed
    * sort, kept <= k — Spark 4 plans this as WindowGroupLimit (no full
    * per-group materialization). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCols: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .withColumn("rn", col("rn").cast("long"))
  }
}
