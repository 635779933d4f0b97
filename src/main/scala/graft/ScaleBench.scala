package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.operators.{Binning, Bm25, BpeOps, GraphOps, IntervalJoin, IvfAnn, MarkupOps, NearDup, NswAnn, Sessionize, Similarity, SpanDedup, TechnicalIndicators, TextOps}

/** Scale-evidence bench for the dedup/ANN candidate families: runs each
  * operator at 1x (~sf0.1 corpus size), 10x, and — for the linear families
  * — 100x, on DETERMINISTIC synthetic corpora generated in-plan
  * (spark.range + xxhash64 — no driver data), and reports wall time +
  * emitted pair counts so near-linear growth is measured, not argued.
  * At these corpus sizes the 1x rows are half fixed overhead (job setup,
  * codegen), which deflates 10x/1x ratios; the 100x/10x ratio is the one
  * that pins the asymptote the 100 TB claim rests on.
  *
  * Each corpus plants a ~10% duplicate rate as neighbor pairs (bounded
  * dup-group size), so the TRUE pair count grows linearly by construction
  * and any superlinear growth in work or output is the operator's fault:
  * - MinHash bands hash into an unbounded key space => bucket populations
  *   track dup-group size, not corpus size => linear. Same for SimHash
  *   (2^16 chunk buckets) and positional span shingles at these sizes.
  * - Hyperplane-LSH buckets are FIXED at 2^planesPerBand per band, so at a
  *   PINNED plane count collision volume grows ~n^2/2^planes (measured
  *   13.8x wall at 10x data in round 4): the bench runs 10x at the pinned
  *   1x planes AND at the default AutoPlanes (which derives the plane
  *   count from a corpus count — `Similarity.autoPlanesPerBand`, the
  *   round-4 operating rule made code) to show auto restoring
  *   near-linearity.
  * - Equi-depth boundary pass: the single-task ntile sample is ROW-capped
  *   (round 5), so its wall must stay FLAT as the corpus grows.
  * - Skew rows: one hot key owns ~10% of all rows (bot user / hot cohort).
  *   Sessionization work is per-user-linear and the interval join is
  *   bucket-bounded, so wall must stay ~linear — not quadratic — under
  *   the hot key; AQE (on by default) handles the shuffle-partition skew.
  *
  * One JSON line per (op, scale) row; final summary lines report the
  * consecutive wall-time ratios (pure-linear = 10).
  *
  * Run with `SPARK_DRIVER_MEM=16g` or more: the 100x duplicated-spans row
  * localCheckpoints a ~36M-row positional-shingle table in local-mode
  * storage memory and OOMs the default 8g heap while building a
  * broadcast (observed round 6).
  */
object ScaleBench {

  private val V = 200 // vocabulary size; 3-gram space V^3 >> shingle count

  /** n synthetic docs, ~80 tokens each; ids with id % 10 == 1 duplicate
    * doc id-1 exactly (bounded dup groups of 2, 10% dup rate). */
  def syntheticDocs(spark: SparkSession, n: Long): DataFrame = {
    val vocab = array((0 until V).map(i => lit(s"w$i")): _*)
    val seed = when(pmod(col("id"), lit(10)) === 1, col("id") - 1).otherwise(col("id"))
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(80)),
        j => element_at(vocab, (pmod(xxhash64(seed, j), lit(V.toLong)) + 1).cast("int"))))
        .as("text"))
  }

  /** Wide-vocabulary variant for tokenizer induction: words are
    * "w<hash mod vocabSize>", so the word-frequency table saturates at
    * `vocabSize` rows regardless of corpus size — the property the BPE
    * driver-fold's vocab-bound cost claim rests on. Same 10% dup plant. */
  def syntheticDocsWideVocab(spark: SparkSession, n: Long, vocabSize: Long): DataFrame = {
    val seed = when(pmod(col("id"), lit(10)) === 1, col("id") - 1).otherwise(col("id"))
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(80)),
        j => concat(lit("w"), pmod(xxhash64(seed, j), lit(vocabSize)))))
        .as("text"))
  }

  /** n synthetic 64-dim vectors in [-1,1]; same 10% neighbor-dup plant. */
  def syntheticEmbeddings(spark: SparkSession, n: Long): DataFrame = {
    val seed = when(pmod(col("id"), lit(10)) === 1, col("id") - 1).otherwise(col("id"))
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        j => (pmod(xxhash64(seed, j), lit(2000001L)).cast("double") / 1e6 - lit(1.0))
          .cast("float")).as("embedding"))
  }

  /** n intervals of fixed `span` µs at CONSTANT density: starts uniform
    * over a horizon that grows with n (more data = more days, not a denser
    * day), 25 cohort keys. True overlap count then grows linearly. */
  def syntheticIntervals(spark: SparkSession, n: Long, span: Long,
                         tag: String): DataFrame =
    spark.range(n).select(col("id").as(s"${tag}_id"),
      pmod(xxhash64(col("id"), lit(tag)), lit(n * 100L)).as(s"${tag}_s"),
      (pmod(xxhash64(col("id"), lit(tag)), lit(n * 100L)) + lit(span)).as(s"${tag}_e"),
      pmod(xxhash64(col("id"), lit(tag + "k")), lit(25L)).cast("long").as(s"${tag}_k"))

  /** Skewed variant: key 0 owns ~10% of all intervals (hot cohort); the
    * rest spread over n/1000 keys. Horizon still grows with n. */
  def syntheticIntervalsSkewed(spark: SparkSession, n: Long, span: Long,
                               tag: String): DataFrame = {
    val nKeys = math.max(2L, n / 1000L)
    val hot = pmod(xxhash64(col("id"), lit(tag + "h")), lit(10L)) === 0
    spark.range(n).select(col("id").as(s"${tag}_id"),
      pmod(xxhash64(col("id"), lit(tag)), lit(n * 100L)).as(s"${tag}_s"),
      (pmod(xxhash64(col("id"), lit(tag)), lit(n * 100L)) + lit(span)).as(s"${tag}_e"),
      when(hot, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(tag + "k")), lit(nKeys)) + 1L)
        .as(s"${tag}_k"))
  }

  /** n events with ONE bot user owning ~10% of them; everyone else is one
    * of n/1000 normal users. Timestamps spread over an n-proportional
    * horizon (constant density), ~100 µs-scale gaps so sessions form. */
  def syntheticEventsSkewed(spark: SparkSession, n: Long): DataFrame = {
    val nUsers = math.max(2L, n / 1000L)
    val hot = pmod(xxhash64(col("id"), lit("h")), lit(10L)) === 0
    spark.range(n).select(
      col("id").as("event_id"),
      when(hot, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit("u")), lit(nUsers)) + 1L)
        .as("user_id"),
      timestamp_micros(pmod(xxhash64(col("id"), lit("t")), lit(n * 60000000L)))
        .as("ts"),
      (pmod(xxhash64(col("id"), lit("v")), lit(10000L)).cast("double") / 100.0)
        .as("value"))
  }

  /** n random edges over n/8 vertices (avg degree 8) — the PageRank
    * corpus. Per-iteration work is linear in edges by construction. */
  def syntheticEdges(spark: SparkSession, n: Long): DataFrame = {
    val nV = math.max(2L, n / 8L)
    spark.range(n).select(
      pmod(xxhash64(col("id"), lit("s")), lit(nV)).as("src"),
      pmod(xxhash64(col("id"), lit("d")), lit(nV)).as("dst"))
  }

  /** [[syntheticEdges]] plus a power-law hub: vertex 0 additionally links
    * to ~n/10 distinct vertices. The triangle-counting stress shape —
    * id-orientation generates C(n/10, 2) wedges AT THE HUB (vertex 0 is
    * the minimum id, so every hub edge points outward); degree
    * orientation points every hub edge INTO the hub and the hub generates
    * none. */
  def syntheticEdgesHub(spark: SparkSession, n: Long): DataFrame = {
    val nV = math.max(2L, n / 8L)
    syntheticEdges(spark, n).union(
      spark.range(n / 10L).select(lit(0L).as("src"),
        (pmod(xxhash64(col("id"), lit("h")), lit(nV - 1L)) + 1L).as("dst")))
  }

  /** Viral-image corpus: every id with id % 10 == 0 renders THE SAME
    * image (the viral meme — ~10% of the corpus is one exact duplicate
    * group); everyone else is unique. All viral copies share one dHash,
    * so they collapse into a single bucket per band — the media skew
    * shape that tests the crowded-bucket cap. */
  def syntheticPngViral(spark: SparkSession, n: Long,
                        width: Int, height: Int): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val seed = if (id % 10L == 0L) -1L else id
        (id, graft.multimodal.Multimodal.encodePng(width, height,
          graft.multimodal.Multimodal.seededRgb(seed, width * height)))
      }
    }.toDF("doc_id", "payload")
  }

  /** Spectrally-diverse WAV corpus for the audio scale rows: each of the 9
    * frames is a sum of 8 Haar-ALIGNED square waves (band b flips every
    * 2^b samples — orthogonal under `AudioWav.bandEnergies`' cascade, so
    * band b's energy is a pure function of its own amplitude), with
    * per-(clip, frame, band) seeded amplitudes drawn from parity-disjoint
    * lattices (even frames {256k}, odd frames {256k + 128}) so consecutive
    * frames can never tie. Result: all 64 time-hash sign comparisons have
    * margins the ±8 dup noise cannot flip AND are ~independent across
    * (frame, band) — the hash is near-uniform over clips, like real
    * spectra. The envelope-rank fixture (`AudioWav.syntheticWavNearDups`,
    * kept SQL-replicable for the q_mm8/q_dedup17 oracles) collapses to
    * ~envelope entropy and floods the pair join at corpus scale — the
    * flood row below quantifies that failure mode and the cap knob that
    * bounds it. Same 10% (2k, 2k+1) near-identical plant.
    * `nSamples` must be a multiple of 9 (exact frame alignment). */
  def syntheticWavDiverse(spark: SparkSession, n: Long, nSamples: Int = 3600): DataFrame = {
    require(nSamples % 9 == 0, s"nSamples must be a multiple of 9, got $nSamples")
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val seed = id >> 1
        // murmur3 fmix64 finalizer: the AudioWav fixture's pure-LCG mix is
        // AFFINE in (seed, tag), so `mod 6` of it collapses to seed mod 6
        // and every clip would draw one of only six amplitude matrices
        // (genuine mass duplicates — observed 336k pairs at 5k clips).
        // The xorshift steps break the affinity; no SQL-replication
        // constraint applies to this bench-only corpus.
        def mix(a: Long, b: Long): Long = {
          var x = a * -7046029254386353131L + b
          x ^= x >>> 33; x *= -49064778989728563L
          x ^= x >>> 33; x *= -4265267296055464877L
          x ^ (x >>> 33)
        }
        val frameLen = nSamples / 9
        val samples = new Array[Short](nSamples)
        var noise = mix(id, 3L)
        var t = 0
        while (t < 9) {
          val amps = Array.tabulate(8) { b =>
            256 * (1 + java.lang.Long.remainderUnsigned(
              mix(seed, 7000L + t * 8 + b), 6L).toInt) + (t % 2) * 128
          }
          val start = t * frameLen
          var i = start
          while (i < start + frameLen) {
            val j = i - start
            var v = 0
            var b = 0
            while (b < 8) {
              v += (if (((j >> b) & 1) == 0) amps(b) else -amps(b))
              b += 1
            }
            if ((id & 1L) == 1L) {
              noise = noise * 6364136223846793005L + 1442695040888963407L
              v += (((noise >>> 48) & 0xF).toInt - 8)
            }
            samples(i) = v.toShort
            i += 1
          }
          t += 1
        }
        (id, graft.multimodal.AudioWav.encodeWavPcm16(16000, samples))
      }
    }.toDF("doc_id", "payload")
  }

  /** Daily price panel: nKeys series × nDays days, one strictly-positive
    * integer-cent value per (key, day) — deterministic hash noise around
    * 100.00 (positive: the return quantization divides by the previous
    * value). */
  def syntheticPanel(spark: SparkSession, nKeys: Long, nDays: Long): DataFrame =
    spark.range(nKeys * nDays).select(
      pmod(col("id"), lit(nKeys)).as("k"),
      expr(s"id div $nKeys").as("day_ord"),
      (lit(10000L) + pmod(xxhash64(col("id")), lit(2001L)) - lit(1000L))
        .as("cents"))

  /** Orders-shaped numeric fact for the equi-depth boundary pass. */
  def syntheticValues(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("k"),
      (pmod(xxhash64(col("id")), lit(60000000L)).cast("double") / 100.0).as("v"))

  private val rows = scala.collection.mutable.ArrayBuffer[(String, Long, Double)]()

  private def timed(op: String, n: Long, extra: String = "")(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val out = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"op":"$op$extra","n":$n,"rows":$out,"sec":$sec%.2f}""")
    rows += ((s"$op$extra", n, sec))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // untimed warm-up at 1/10th of 1x: pays janino codegen + JIT once, so
    // the 1x rows measure the operator, not first-plan compilation (the
    // same reasoning as Bench's warm-up pass)
    locally {
      val d = syntheticDocs(spark, 500L).localCheckpoint()
      NearDup.lshCandidatePairs(d, "doc_id", col("text")).count()
      NearDup.simhashPairs(NearDup.simhash(d, "doc_id", col("text")), "doc_id", 3).count()
      NearDup.simhashPairsWide(NearDup.simhash(d, "doc_id", col("text")), "doc_id", 3).count()
      SpanDedup.duplicatedSpans(d, "doc_id", col("text"), 8, 16).count()
      TextOps.surprisalScores(d, "doc_id", col("text"),
        col("doc_id") % 10 =!= 0).count()
      BpeOps.learnMerges(d, col("text"), numMerges = 2)._1.length
      BpeOps.learnMerges(syntheticDocsWideVocab(spark, 500L, 20000L),
        col("text"), numMerges = 2)._1.length
      val wm = Multimodal.syntheticPngNearDups(
        spark.range(200L).toDF("doc_id"), "doc_id", 16, 16).localCheckpoint()
      Multimodal.imageDHashes(wm).count()
      Multimodal.imageNearDupPairs(wm, maxHamming = 3).count()
      wm.unpersist()
      graft.multimodal.AudioWav.audioFeatures(graft.multimodal.AudioWav.syntheticWav(
        spark.range(100L).toDF("doc_id"), "doc_id", nSamples = 800)).count()
      val wd = graft.multimodal.AudioWav.syntheticWavNearDups(
        spark.range(40L).toDF("doc_id"), "doc_id", nSamples = 3600).localCheckpoint()
      graft.multimodal.AudioWav.audioNearDupPairs(wd, maxHamming = 3).count()
      graft.multimodal.AudioWav.audioNearDupPairsRefined(wd, maxHamming = 3).count()
      wd.unpersist()
      Multimodal.imageNearDupPairs(
        syntheticPngViral(spark, 100L, 16, 16), maxHamming = 3).count()
      Multimodal.shotBoundaries(Multimodal.syntheticPngClip(
        spark.range(50L).toDF("doc_id"), "doc_id", 6, 8, 8, 2)).count()
      Multimodal.clipShotStatsQuarantined(Multimodal.syntheticAviClip(
        spark.range(50L).toDF("doc_id"), "doc_id", 6, 8, 8, 2))._1.count()
      val pd = d.select(col("doc_id"),
        concat(lit("<p>"), col("text"), lit("</p>")).as("h"))
      pd.select(Seq(col("doc_id"), MarkupOps.extractText(col("h")).as("t")) ++
        MarkupOps.markupStats(col("h")).map { case (n, c) => c.as(n) }: _*).count()
      Bm25.topK(Bm25.scoreMicro(Bm25.postings(d, "doc_id", col("text")),
        Seq((1L, "w1")).toDF("query_id", "term")), 10).count()
      Bm25.phraseSearch(d, "doc_id", col("text"), Seq(1L -> "w1 w2")).count()
      d.unpersist()
      GraphOps.pageRank(syntheticEdges(spark, 2000L), "src", "dst", 2).count()
      val wg = syntheticEdgesHub(spark, 2000L).localCheckpoint()
      GraphOps.triangleCounts(wg, "src", "dst").count()
      GraphOps.labelPropagation(wg, "src", "dst", rounds = 2).count()
      GraphOps.kCore(wg, "src", "dst", k = 3).count()
      wg.unpersist()
      val e = syntheticEmbeddings(spark, 200L).localCheckpoint()
      Similarity.lshBucketedPairsAboveThreshold(e, "vec_id", "embedding", lit(0), 0.5, 64,
        planesPerBand = 4).count()
      Similarity.lshBucketedPairsAboveThreshold(e, "vec_id", "embedding", lit(0), 0.5, 64).count()
      e.unpersist()
      val wa = syntheticIntervals(spark, 2000L, 5000L, "a").localCheckpoint()
      val wb = syntheticIntervals(spark, 2000L, 2000L, "b").localCheckpoint()
      IntervalJoin.overlapJoin(wa.withColumnRenamed("a_k", "k"),
        wb.withColumnRenamed("b_k", "k"),
        "k", "a_s", "a_e", "b_s", "b_e", 5000L).count()
      wa.join(wb, col("a_k") === col("b_k") &&
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e")).count()
      wa.unpersist(); wb.unpersist()
      Sessionize.sessionStats(syntheticEventsSkewed(spark, 2000L),
        "user_id", "ts", 1800L, "value", "event_id").count()
      Sessionize.engagementFromUserWeeks(Sessionize.userWeeks(
        syntheticEventsSkewed(spark, 2000L), "user_id", "ts")).count()
      val cd = syntheticDocs(spark, 400L)
        .withColumn("src", concat(lit("s"), pmod(col("doc_id"), lit(20L))))
      TextOps.domainClassify(cd.where(pmod(col("doc_id"), lit(2)) === 0),
          cd.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", "src")
        .where(col("predicted") =!= "unknown").count() // same guard as the
        // timed row: a bare count() join-eliminates the whole classifier
      NearDup.connectedComponents(
        spark.range(200L).select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))).count()
      Binning.boundariesFromSample(syntheticValues(spark, 10000L),
        "v", "k", fraction = 0.05, n = 8, maxSampleRows = 2000L).count()
    }

    // ---- linear families: 1x / 10x / 100x --------------------------------
    for (scale <- Seq(1L, 10L, 100L)) {
      val nDocs = 5000L * scale
      val docs = syntheticDocs(spark, nDocs).localCheckpoint()
      timed("minhash_lsh_candidates", nDocs) {
        NearDup.lshCandidatePairs(docs, "doc_id", col("text")).count()
      }
      // the sketch is shared; what's compared is the candidate structure:
      // 4x16-bit chunks (2^16 buckets — collapses past ~10^5 docs) vs the
      // Manku 3-of-6-block tables (~2^32 buckets — stays dup-group-bound)
      val sh = NearDup.simhash(docs, "doc_id", col("text")).localCheckpoint()
      timed("simhash_pairs", nDocs) {
        NearDup.simhashPairs(sh, "doc_id", maxHamming = 3).count()
      }
      timed("simhash_pairs_wide", nDocs) {
        NearDup.simhashPairsWide(sh, "doc_id", maxHamming = 3).count()
      }
      sh.unpersist()
      timed("duplicated_spans", nDocs) {
        SpanDedup.duplicatedSpans(docs, "doc_id", col("text"),
          shingleN = 8, minSpanTokens = 16).count()
      }
      // unigram-LM family (round 5): one tokenize pass + a vocab-sized
      // rollup + one term join — work ~ tokens, output ~ docs/sources
      timed("surprisal_scores", nDocs) {
        TextOps.surprisalScores(docs, "doc_id", col("text"),
          col("doc_id") % 10 =!= 0).count()
      }
      // r7 search + markup families: extraction is a pure per-row map (no
      // shuffle — must be flat per doc); postings build ~ tokens; scoring
      // broadcast-joins a fixed query set onto the postings, so work ~
      // matching postings and the top-10 is a group limit, never a global
      // sort; phrase search ~ positions of the phrases' terms only.
      timed("html_extract_stats", nDocs) {
        val paged = docs.select(col("doc_id"), concat(
          lit("<html><head><title>d</title><script>var x = 1; " +
            "if (x < 2) { x = 3; }</script></head><body>" +
            "<nav><a href=\"/\">home portal</a></nav><p>"),
          col("text"), lit(" &amp; tail</p></body></html>")).as("h"))
        // aggregate over the extracted/derived columns: a bare count()
        // would let Catalyst prune the whole projection and time nothing
        paged.select(Seq(col("doc_id"),
            MarkupOps.extractText(col("h")).as("t")) ++
            MarkupOps.markupStats(col("h")).map { case (n, c) => c.as(n) }: _*)
          .agg(count(lit(1)).as("n"),
            sum(col("text_chars") + col("n_tags") + col("anchor_chars")),
            sum(length(col("t"))))
          .head().getLong(0)
      }
      timed("bm25_score_top10", nDocs) {
        val q = Seq((1L, "w1"), (1L, "w2"), (1L, "w3"), (2L, "w4"), (2L, "w5"),
            (3L, "w6"), (3L, "w7"), (3L, "w8"))
          .toDF("query_id", "term")
        Bm25.topK(Bm25.scoreMicro(
          Bm25.postings(docs, "doc_id", col("text")), q), 10).count()
      }
      timed("phrase_search", nDocs) {
        Bm25.phraseSearch(docs, "doc_id", col("text"),
          Seq(1L -> "w1 w2", 2L -> "w3 w4 w5")).count()
      }
      // BPE induction: ONE corpus scan into the vocab-sized word-freq
      // table; the r6 driver fold then learns ALL merges in 2 Spark jobs
      // with incrementally-maintained pair counts — wall is vocab-bound,
      // corpus-independent past the scan
      if (scale <= 10L)
        timed("bpe_learn12", nDocs) {
          BpeOps.learnMerges(docs, col("text"), numMerges = 12)._1.length.toLong
        }
      docs.unpersist()

      // r6: realistic tokenizer-induction shape — 20k-word vocabulary
      // (saturated at both scales), 200 merges via the driver fold. The
      // corpus scan is the only data-sized stage; the fold's cost tracks
      // the 20k-row vocab, so wall must grow FAR slower than 10x.
      if (scale <= 10L) {
        val wide = syntheticDocsWideVocab(spark, nDocs, 20000L).localCheckpoint()
        timed("bpe_learn200_fold", nDocs) {
          BpeOps.learnMerges(wide, col("text"), numMerges = 200)._1.length.toLong
        }
        wide.unpersist()
      }

      // r6 image-codec family: genuine PNG payloads (encode paid untimed at
      // checkpoint), then REAL ImageIO decode -> dHash per row; per-image
      // constant work => wall must track images linearly. The near-dup
      // pair pass adds the 16-bit-chunk pigeonhole join — planted pairs
      // grow linearly by construction, so output and wall must too.
      val media = Multimodal.syntheticPngNearDups(
        spark.range(nDocs).toDF("doc_id"), "doc_id",
        width = 16, height = 16).localCheckpoint()
      timed("png_decode_dhash", nDocs) {
        Multimodal.imageDHashes(media).count()
      }
      // auto-routes narrow below the wide-band row threshold, WIDE at 100x
      // (500k docs): the 2^16-bucket chunk ceiling BASELINE names is
      // escaped by the same 3-of-6-block tables the text path uses
      timed("image_neardup_pairs", nDocs) {
        Multimodal.imageNearDupPairs(media, maxHamming = 3).count()
      }
      media.unpersist()

      // viral-image skew: ~10% of the corpus is ONE exact duplicate group.
      // Below the bucket cap the pair list is quadratic in the viral count
      // BY CONTRACT (those are all real duplicate pairs — 1x/10x rows);
      // at 100x the 50k-copy group exceeds the cap, its buckets drop, and
      // the join stays bounded instead of detonating at ~1.25e9 pairs —
      // the knob that survives a viral meme at crawl scale.
      val viral = syntheticPngViral(spark, nDocs, width = 16, height = 16)
        .localCheckpoint()
      timed("image_neardup_pairs_viral", nDocs) {
        Multimodal.imageNearDupPairs(viral, maxHamming = 3).count()
      }
      viral.unpersist()

      // r7 audio fingerprint family: encode paid untimed at checkpoint;
      // the timed pass is 500k real container parses + Haar band hashes +
      // the pigeonhole pair join (auto-wide at 100x, like images).
      // Planted (2k, 2k+1) near-identical pairs grow linearly; the
      // spectrally-diverse corpus keeps unrelated hashes ~uniform, so the
      // rows measure the OPERATOR, not fixture degeneracy.
      val wavdups = syntheticWavDiverse(spark, nDocs).localCheckpoint()
      timed("audio_neardup_pairs", nDocs) {
        graft.multimodal.AudioWav.audioNearDupPairs(wavdups, maxHamming = 3).count()
      }
      timed("audio_neardup_pairs_refined", nDocs) {
        graft.multimodal.AudioWav.audioNearDupPairsRefined(wavdups, maxHamming = 3).count()
      }
      // Constant-Q fingerprint (round 9): 8 log-spaced integer
      // correlators x 9 frames per clip — per-clip work is a constant
      // multiple of the sample count (like the Haar rows), so the shape
      // must stay linear in clips; the extra cost over the Haar hash is
      // the 16 extra multiply-accumulate passes per sample.
      timed("audio_neardup_pairs_cq", nDocs) {
        graft.multimodal.AudioWav.audioNearDupPairsCq(wavdups, maxHamming = 3).count()
      }
      wavdups.unpersist()

      // Envelope-collision FLOOD (10x only — the audio twin of the viral
      // image row): the SQL-replicable oracle fixture's amplitude-rank
      // construction gives the time hash ~envelope entropy, so unrelated
      // clips collide en masse (~50M true Hamming<=3 pairs at 50k clips;
      // the output itself is quadratic-ish — at 100x it detonates to
      // ~686M pairs / ~4 min). The production knob is the crowded-bucket
      // cap: at maxBucketSize=200 the join is BOUNDED and the wall
      // collapses, exactly like a viral meme under the image cap.
      if (scale == 10L) {
        val flood = graft.multimodal.AudioWav.syntheticWavNearDups(
          spark.range(nDocs).toDF("doc_id"), "doc_id", nSamples = 3600)
          .localCheckpoint()
        timed("audio_neardup_pairs_flood", nDocs, "@uncapped") {
          graft.multimodal.AudioWav.audioNearDupPairs(flood, maxHamming = 3).count()
        }
        timed("audio_neardup_pairs_flood", nDocs, "@cap200") {
          graft.multimodal.AudioWav.audioNearDupPairs(flood, maxHamming = 3,
            maxBucketSize = 200).count()
        }
        flood.unpersist()
      }

      // r6 audio codec: real WAV container parse per row; per-clip
      // constant work => wall tracks clips linearly
      val wavs = graft.multimodal.AudioWav.syntheticWav(
        spark.range(nDocs).toDF("doc_id"), "doc_id", nSamples = 800)
        .localCheckpoint()
      timed("wav_decode_features", nDocs) {
        graft.multimodal.AudioWav.audioFeatures(wavs).count()
      }
      wavs.unpersist()

      // r6 video stand-in, now to 100x (r7): 6-frame indexed clips, every
      // frame really decoded + dHashed; per-clip constant work => linear
      // in clips (3M real frame decodes at the 100x row)
      val clips = Multimodal.syntheticPngClip(
        spark.range(nDocs).toDF("doc_id"), "doc_id",
        nFrames = 6, width = 8, height = 8, shotLen = 2).localCheckpoint()
      timed("clip_shot_boundaries", nDocs) {
        Multimodal.shotBoundaries(clips, cutThreshold = 10).count()
      }
      clips.unpersist()

      // REAL AVI/MJPEG container (round 9): the same 6-frame clip volume
      // through the RIFF chunk-walk demux + lossy JPEG decode. Per-clip
      // cost must stay the codec volume — same linear shape as the
      // PNG-container row above, proving the container upgrade costs
      // container parsing only (JPEG decode is the dominant term).
      val aviClips = Multimodal.syntheticAviClip(
        spark.range(nDocs).toDF("doc_id"), "doc_id",
        nFrames = 6, width = 8, height = 8, shotLen = 2).localCheckpoint()
      timed("avi_clip_shot_stats", nDocs) {
        Multimodal.clipShotStatsQuarantined(aviClips, cutThreshold = 10)._1.count()
      }
      aviClips.unpersist()

      // PageRank (round 5): 5 iterations, each ONE shuffle linear in the
      // edge count; lineage checkpoint-truncated per iteration, so wall
      // must track edges ~linearly at any iteration count
      val nEdge = 40000L * scale
      val g = syntheticEdges(spark, nEdge).localCheckpoint()
      timed("pagerank_5iter", nEdge) {
        GraphOps.pageRank(g, "src", "dst", iterations = 5).count()
      }
      g.unpersist()

      // triangle counting under a power-law hub (round 7): the operator's
      // DEGREE orientation must stay ~edge-linear — the hub generates no
      // wedges. The id-oriented naive (what the simple SQL form does)
      // wedges the hub quadratically: C(n/10, 2) pairs, ~8e6 at 1x and
      // ~8e8 at 10x — run at 1x only as the contrast row.
      val hg = syntheticEdgesHub(spark, nEdge).localCheckpoint()
      timed("triangles_degree_oriented_hub", nEdge) {
        GraphOps.triangleCounts(hg, "src", "dst").count()
      }
      if (scale == 1L)
        timed("triangles_id_oriented_hub", nEdge) {
          val canon = GraphOps.canonicalUndirected(hg, "src", "dst")
            .localCheckpoint()
          val w = canon.select(col("__lo").as("a"), col("__hi").as("b"))
            .join(canon.select(col("__lo").as("a"), col("__hi").as("c")), Seq("a"))
            .where(col("b") < col("c"))
          w.join(canon.select(col("__lo").as("b"), col("__hi").as("c")),
            Seq("b", "c")).count()
        }
      // label propagation + k-core on the same hub graph: per-round work
      // is edge-linear (two partial-aggregated shuffles / one degree agg
      // + semi-joins), so wall must track edges across decades
      timed("label_propagation_4r", nEdge) {
        GraphOps.labelPropagation(hg, "src", "dst", rounds = 4).count()
      }
      timed("kcore_3", nEdge) {
        GraphOps.kCore(hg, "src", "dst", k = 3).count()
      }
      hg.unpersist()

      // interval-overlap join: bucketized (the operator) at all scales; the
      // naive inequality join Spark would otherwise plan only to 10x (its
      // per-key product grows ~100x per decade — ~1.6e11 comparisons at
      // 100x is not worth the electricity).
      val nInt = 20000L * scale
      val ia = syntheticIntervals(spark, nInt, span = 5000L, tag = "a").localCheckpoint()
      val ib = syntheticIntervals(spark, nInt, span = 2000L, tag = "b").localCheckpoint()
      timed("interval_join_bucketized", nInt) {
        IntervalJoin.overlapJoin(
          ia.withColumnRenamed("a_k", "k"), ib.withColumnRenamed("b_k", "k"),
          "k", "a_s", "a_e", "b_s", "b_e", bucketWidth = 5000L).count()
      }
      if (scale <= 10L)
        timed("interval_join_naive", nInt) {
          ia.join(ib, col("a_k") === col("b_k") &&
            col("a_s") <= col("b_e") && col("b_s") <= col("a_e")).count()
        }
      ia.unpersist(); ib.unpersist()

      // row-capped equi-depth boundary pass: wall must stay FLAT (the
      // sample is capped at 20k rows whatever the corpus size; the only
      // growing cost is the column-pruned count + hash filter scan)
      val nVal = 200000L * scale
      val vals = syntheticValues(spark, nVal).localCheckpoint()
      timed("equi_depth_boundaries", nVal) {
        Binning.boundariesFromSample(vals, "v", "k",
          fraction = 0.05, n = 8, maxSampleRows = 20000L).count()
      }
      vals.unpersist()

      // skew: hot key owns 10% of rows; wall must track the hot key
      // LINEARLY (sessionization sorts the bot user's events in one task;
      // the interval join spreads even the hot cohort over time buckets)
      val nEv = 100000L * scale
      val ev = syntheticEventsSkewed(spark, nEv).localCheckpoint()
      timed("sessionization_skewed", nEv) {
        Sessionize.sessionStats(ev, "user_id", "ts", 1800L, "value", "event_id").count()
      }
      // WAU/MAU (round 7): events reduce to the distinct (user, week)
      // pairs first — the sufficient statistic — and the trailing-window
      // fan-out is a constant 4x of THAT table, so wall tracks events
      // ~linearly at any history length (and the bot user costs nothing
      // extra: distinct collapses its volume)
      timed("wau_mau_stickiness", nEv) {
        Sessionize.engagementFromUserWeeks(
          Sessionize.userWeeks(ev, "user_id", "ts")).count()
      }
      ev.unpersist()

      // integer token-voting classifier (round 7): one tokenize pass per
      // side, the weight table saturates at vocabulary x #classes, and the
      // scoring join is TOKEN-keyed — corpus-linear. The count MUST
      // touch `predicted`: a bare count() of the left-outer output lets
      // Spark 4's distinct-key propagation ELIMINATE the aggregation-
      // unique join and skip the classifier entirely (observed: 0.14 s
      // "classifying" 500k docs).
      val cdocs = syntheticDocs(spark, nDocs)
        .withColumn("src", concat(lit("s"), pmod(col("doc_id"), lit(20L))))
        .localCheckpoint()
      timed("domain_classify", nDocs) {
        TextOps.domainClassify(
          cdocs.where(pmod(col("doc_id"), lit(2)) === 0),
          cdocs.where(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", "src")
          .where(col("predicted") =!= "unknown").count()
      }
      cdocs.unpersist()
      val sa = syntheticIntervalsSkewed(spark, nInt, span = 5000L, tag = "a").localCheckpoint()
      val sb = syntheticIntervalsSkewed(spark, nInt, span = 2000L, tag = "b").localCheckpoint()
      timed("interval_join_bucketized_skewed", nInt) {
        IntervalJoin.overlapJoin(
          sa.withColumnRenamed("a_k", "k"), sb.withColumnRenamed("b_k", "k"),
          "k", "a_s", "a_e", "b_s", "b_e", bucketWidth = 5000L).count()
      }
      sa.unpersist(); sb.unpersist()
    }

    // ---- connected components on the worst-case shape: ONE path --------
    // Diameter = n, the exact graph O(diameter) label propagation
    // fail-fasted on (round-5 verdict). Large-star/small-star runs
    // O(log n) rounds of ~constant shuffle count, so wall growth per
    // decade must be ~(10x data) x ((log n + 3.3)/log n) — near-linear,
    // NOT the 10x-more-rounds blowup of propagation. maxIter=40 headroom
    // only because 2^20 ~ the 100x path length sits at the default cap.
    for (scale <- Seq(1L, 10L, 100L)) {
      val nCh = 10000L * scale
      val chain = spark.range(nCh)
        .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
        .localCheckpoint()
      timed("connected_components_chain", nCh) {
        NearDup.connectedComponents(chain, maxIter = 40).count()
      }
      chain.unpersist()
    }

    // ---- hyperplane-LSH: pinned planes vs AutoPlanes, 1x / 10x ----------
    for (scale <- Seq(1L, 10L)) {
      val nVec = 2000L * scale
      val emb = syntheticEmbeddings(spark, nVec).localCheckpoint()
      timed("embedding_lsh_pairs", nVec, "@planes4") {
        Similarity.lshBucketedPairsAboveThreshold(
          emb, "vec_id", "embedding", lit(0), minSim = 0.5, dim = 64,
          planesPerBand = 4).count()
      }
      timed("embedding_lsh_pairs", nVec, "@auto") {
        Similarity.lshBucketedPairsAboveThreshold(
          emb, "vec_id", "embedding", lit(0), minSim = 0.5, dim = 64).count()
      }
      emb.unpersist()
    }

    // ---- r9 feature/panel family: 1x / 10x / 100x ------------------------
    // The price-panel chains behind q_ta8/q_ta12/q_feat2/q_feat6: growth
    // axis is the KEY dimension (panel width) — at warehouse scale the day
    // count is bounded (~decades of trading days) while the series
    // universe is not. Key-window chains shuffle once on the key and sort
    // within partitions (work ~ n log(rows-per-key), rows-per-key FIXED);
    // the cross-sectional rank shuffles once on the day with per-day
    // sorts of exactly the panel width. Both must stay ~linear in keys.
    // Every timed body aggregates over the DERIVED columns (the r7
    // classifier lesson: a bare count() lets Catalyst prune the operator
    // under test out of the plan).
    //
    // Measured (r9, 24g driver): 1x->10x ratios 1.0-1.5 (fixed overhead
    // dominates at 1M rows); 10x->100x ratios 14.7/21.8/19.0 vs
    // pure-linear 10 — the sort's n·log(n) term (~12 at these partition
    // sizes) plus single-box memory hierarchy at 3M-row per-partition
    // sorts. A/B at 100x: raising shuffle partitions 32->128 (the
    // production rule — size partitions to data, ~2M rows each) cut the
    // key-window chain 56s->25s, restoring ~linear; the day-window rank
    // is noise-bound either way. On a real cluster the partition count
    // grows with the data and this knob is exactly what scales it.
    locally { // warm-up pays codegen once
      val wp = syntheticPanel(spark, 100L, 100L).localCheckpoint()
      TechnicalIndicators.rollingVolMicro(wp, "k", "day_ord", "cents", window = 30)
        .agg(count(col("vol_micro"))).head()
      wp.unpersist()
    }
    for (scale <- Seq(1L, 10L, 100L)) {
      val nKeys = 2000L * scale
      val nDays = 500L
      val nRows = nKeys * nDays
      val panel = syntheticPanel(spark, nKeys, nDays).localCheckpoint()
      timed("panel_returns_vol30", nRows) {
        TechnicalIndicators.rollingVolMicro(panel, "k", "day_ord", "cents",
            window = 30)
          .agg(count(col("vol_micro")), sum(col("r_micro"))).head().getLong(0)
      }
      timed("panel_lag_matrix", nRows) {
        val wk = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("day_ord")
        val lagged = (1 to 5).foldLeft(panel.withColumn("l0", col("cents"))) {
          case (df, i) => df.withColumn(s"l$i", lag(col("l0"), i).over(wk))
        }
        lagged.withColumn("t", lead(col("l0"), 1).over(wk))
          .agg(count(col("l5") + col("l4") + col("l3") + col("l2") +
            col("l1") + col("t"))).head().getLong(0)
      }
      // the serial-per-key recurrence at panel width: repartition(key) +
      // in-partition sort + constant-memory pass — wall must track rows,
      // not series count × history (the q_ts8/S-STRMTA scale claim)
      timed("panel_holt_level_trend", nRows) {
        TechnicalIndicators.holtMicro(panel, "k", "day_ord", "cents",
            unitsScale = 2, alphaNum = 1, alphaDen = 5,
            betaNum = 1, betaDen = 10)
          .agg(count(col("level_micro")), sum(col("trend_micro")))
          .head().getLong(0)
      }
      timed("panel_xsection_decile", nRows) {
        val wd = org.apache.spark.sql.expressions.Window.partitionBy("day_ord")
        panel
          .withColumn("rnk", row_number().over(
            wd.orderBy(col("cents").desc, col("k"))).cast("long"))
          .withColumn("nn", count(lit(1)).over(wd))
          .agg(sum(expr("((rnk - 1) * 10) div nn"))).head()
        nRows
      }
      panel.unpersist()
    }

    // ---- NSW entry hierarchy: edges ~ cells·kUp, probe scored FLAT ------
    // (r11, VERDICT r10 #3) The r10 entry mesh was cells² edges and every
    // probe scored every entry. The HNSW upper layers must show: (a) edge
    // count O(kUp·cells) — we report edges/cells, which must stay ~constant
    // as cells grow 16x; (b) the per-probe scored-candidate count of the
    // top-down descent FLAT (log-ish) in cells — the r10 design scored all
    // of them. Entry vectors are dim-16 synthetic; the hierarchy is the
    // budget-guarded driver fold buildGraph uses.
    for (cells <- Seq(1024, 4096, 16384)) {
      val rnd = new scala.util.Random(1L)
      val evecs = (0 until cells).map(i =>
        i.toLong -> Array.fill(16)(rnd.nextGaussian().toFloat))
      var edges: Seq[(Long, Long, Double, Int)] = Seq.empty
      var levels: Map[Long, Int] = Map.empty
      timed("nsw_hier_build", cells.toLong) {
        val (e, l) = NswAnn.buildHierarchy(evecs, kUp = 4, efBuild = 16)
        edges = e; levels = l
        e.length.toLong
      }
      val entriesDf = levels.toSeq.toDF("entry_id", "level")
      val hierDf = edges.toDF("src", "dst", "sim", "layer")
      val embDf = evecs.toDF("entry_id", "embedding")
        .select(col("entry_id").as("vec_id"), col("embedding"))
      val scored = NswAnn.descendEntries(entriesDf, hierDf, embDf,
        "vec_id", "embedding", embDf.where(col("vec_id") === 7L),
        "embedding", entryBeam = 8).count()
      println(f"""{"op":"nsw_hier","cells":$cells,"edges":${edges.length},""" +
        f""""edges_per_cell":${edges.length.toDouble / cells}%.2f,""" +
        f""""probe_scored":$scored,"scored_frac":${scored.toDouble / cells}%.4f}""")
    }

    // ---- NSW batched probe: per-QUERY cost flat in the batch size -------
    // (r12, VERDICT r11 #4) probeBatch serves the whole batch with one
    // shared adjacency lookup and one shared vector fetch per level and
    // per hop (the job count is flat in the batch), so the wall must grow
    // far slower than the batch; the wall_ratio rows below print 4x-batch
    // ratios that must stay well under 4.
    locally {
      val rnd = new scala.util.Random(7L)
      val corpus = (0 until 20000).map(i =>
          (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding").localCheckpoint()
      val (indexed, centers) = IvfAnn.buildIndex(corpus, "embedding", 64)
      val (nb0, en0, hr0) = NswAnn.buildGraph(indexed, centers,
        "vec_id", "embedding", m = 8)
      val (nb, en, hr) =
        (nb0.localCheckpoint(), en0.localCheckpoint(), hr0.localCheckpoint())
      // warm-up pays the plan/codegen once
      NswAnn.probeBatch(nb, en, hr, corpus, "vec_id", "embedding",
        corpus.where(col("vec_id") === 0), "vec_id", "embedding",
        k = 10, beamWidth = 16, rounds = 3).count()
      for (batch <- Seq(4, 16, 64)) {
        val qb = corpus.where(col("vec_id") < batch)
        timed("nsw_probe_batch", batch.toLong) {
          NswAnn.probeBatch(nb, en, hr, corpus, "vec_id", "embedding",
            qb, "vec_id", "embedding", k = 10, beamWidth = 16,
            rounds = 3).count()
        }
      }
    }

    // ---- ACID change feed: wall ~ DELTA, never table --------------------
    // (r12 cont.) changesBetween must read only the files the two
    // manifests disagree on: a FIXED-size COW upsert against tables of
    // 16x growing file counts must cost ~flat wall and a ~constant
    // files-read count while files_total grows 16x. The wall_ratio rows
    // below must stay near 1 as n (table files) grows.
    locally {
      import graft.operators.AcidTable
      for (files <- Seq(8, 32, 128)) {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_scale_cdf/" +
          s"${spark.sparkContext.applicationId}/f$files"
        val perFile = 2000L
        // one commit per contiguous key block => one stats-bearing file each
        (0 until files).foreach { i =>
          AcidTable.commitAppend(
            spark.range(i * perFile, (i + 1) * perFile).toDF("k")
              .withColumn("v", col("k") * 3).coalesce(1),
            root, statsCols = Seq("k", "v"))
        }
        val baseV = files.toLong
        // fixed-size upsert touching ONE block regardless of table size
        AcidTable.mergeCow(
          spark.range(0L, 100L).toDF("k").withColumn("v", lit(-1L)),
          root, "k", statsCols = Seq("k", "v"))
        val t0 = System.nanoTime()
        val (chg, read, total) = AcidTable.changesBetween(spark, root,
          baseV, baseV + 1, Seq("k"), Seq("v"))
        val n = chg.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"acid_cdf_fixed_delta","n":$files,"rows":$n,""" +
          f""""files_read":$read,"files_total":$total,"sec":$sec%.2f}""")
        rows += (("acid_cdf_fixed_delta", files.toLong, sec))
      }
    }

    // ---- ACID merge-on-read: WRITE ~ DELTA, never table ------------------
    // (r13) a FIXED 100-key MOR upsert against tables of 16x growing file
    // counts must cost ~flat wall, mask exactly ONE file, rewrite ZERO,
    // and write only the kilobyte key mask plus the new rows — the
    // write-amplification contract deletion vectors buy (a COW upsert's
    // cost grows with the touched FILE's size; MOR's grows with the
    // DELTA's). The read answer through the mask stays exact.
    locally {
      import graft.operators.AcidTable
      for (files <- Seq(8, 32, 128)) {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_scale_mor/" +
          s"${spark.sparkContext.applicationId}/f$files"
        val perFile = 2000L
        (0 until files).foreach { i =>
          AcidTable.commitAppend(
            spark.range(i * perFile, (i + 1) * perFile).toDF("k")
              .withColumn("v", col("k") * 3).coalesce(1),
            root, statsCols = Seq("k", "v"))
        }
        val t0 = System.nanoTime()
        val (v, masked, rewritten) = AcidTable.mergeMor(
          spark.range(0L, 100L).toDF("k").withColumn("v", lit(-1L)),
          root, "k", statsCols = Seq("k", "v"))
        val sec = (System.nanoTime() - t0) / 1e9
        val dvBytes = AcidTable.entriesOf(spark, root, v)
          .flatMap(_.dv.map(_.paths).getOrElse(Nil)).distinct
          .map(p => new java.io.File(root, p).length()).sum
        val hit = AcidTable.read(spark, root)
          .where(col("v") === -1L).count()
        println(f"""{"op":"acid_mor_fixed_delta","n":$files,""" +
          f""""masked":$masked,"rewritten":$rewritten,"dv_bytes":$dvBytes,""" +
          f""""rows_hit":$hit,"sec":$sec%.2f}""")
        rows += (("acid_mor_fixed_delta", files.toLong, sec))
      }
    }

    // ---- DSv2 surface: planning ~ MANIFEST, aggregates ~ METADATA -------
    // (r14) through spark.read.format("graft-acid") against 16x growing
    // file counts: (a) count(*) is served from manifest row counts — the
    // wall must stay ~flat milliseconds while the table grows (a scan
    // would grow 16x); (b) a FIXED one-block predicate plans exactly ONE
    // input partition regardless of table size (files_scanned is the
    // partition count — the structural prune through the standard API).
    locally {
      import graft.operators.AcidTable
      for (files <- Seq(8, 32, 128)) {
        val root = s"${System.getProperty("java.io.tmpdir")}/graft_scale_dsv2/" +
          s"${spark.sparkContext.applicationId}/f$files"
        val perFile = 2000L
        (0 until files).foreach { i =>
          AcidTable.commitAppend(
            spark.range(i * perFile, (i + 1) * perFile).toDF("k")
              .withColumn("v", col("k") * 3).coalesce(1),
            root, statsCols = Seq("k"))
        }
        def loaded = spark.read.format("graft-acid")
          .option("root", root).load()
        val t0 = System.nanoTime()
        val n = loaded.count() // Count(lit) -> metadata fold, no scan
        val metaSec = (System.nanoTime() - t0) / 1e9
        val pruned = loaded.where(col("k") >= perFile && col("k") < 2 * perFile)
        val t1 = System.nanoTime()
        val parts = pruned.rdd.getNumPartitions
        val hit = pruned.count()
        val pruneSec = (System.nanoTime() - t1) / 1e9
        println(f"""{"op":"acid_dsv2_meta","n":$files,"rows":$n,""" +
          f""""sec":$metaSec%.2f}""")
        println(f"""{"op":"acid_dsv2_prune","n":$files,"parts":$parts,""" +
          f""""rows_hit":$hit,"sec":$pruneSec%.2f}""")
        rows += (("acid_dsv2_meta", files.toLong, metaSec))
        rows += (("acid_dsv2_prune", files.toLong, pruneSec))
      }
    }

    // ---- SQL DML economics: a fixed delta is O(delta), not O(table) ----
    // (r15) SQL DELETE via SupportsDelta on a merge-keyed table at 16x
    // growing file counts: the pushed range prunes the operation scan to
    // the ONE overlapping file, only it gets a deletion-vector mask
    // (kilobytes), no data file is rewritten, and the wall must stay
    // ~flat while the table grows — the delete pays for its delta, never
    // for the table. files_masked / rewritten / mask bytes printed as
    // facts, not assumptions.
    locally {
      import graft.operators.AcidTable
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_scale_sdml/" +
        spark.sparkContext.applicationId
      spark.conf.set("spark.sql.catalog.sdml", "graft.sources.AcidCatalog")
      spark.conf.set("spark.sql.catalog.sdml.root", base)
      for (files <- Seq(8, 32, 128)) {
        val root = s"$base/f$files"
        val perFile = 2000L
        (0 until files).foreach { i =>
          AcidTable.commitAppend(
            spark.range(i * perFile, (i + 1) * perFile).toDF("k")
              .withColumn("v", col("k") * 3).coalesce(1),
            root, statsCols = Seq("k"))
        }
        AcidTable.setMergeKey(spark, root, "k")
        val before = AcidTable.entriesOf(spark, root,
          AcidTable.currentVersion(spark, root)).map(_.path).toSet
        val t0 = System.nanoTime()
        spark.sql(s"DELETE FROM sdml.f$files " +
          s"WHERE k >= $perFile AND k < $perFile + 50")
        val sec = (System.nanoTime() - t0) / 1e9
        val after = AcidTable.entriesOf(spark, root,
          AcidTable.currentVersion(spark, root))
        val masked = after.count(_.dv.isDefined)
        val rewritten = after.count(e => !before.contains(e.path))
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val dvBytes = after.flatMap(_.dv.map(_.paths).getOrElse(Nil))
          .distinct.map(p => fsys.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/$p")).getLen).sum
        val hit = spark.sql(s"SELECT count(*) FROM sdml.f$files")
          .head().getLong(0)
        println(f"""{"op":"acid_sql_delete_fixed","n":$files,""" +
          f""""masked":$masked,"rewritten":$rewritten,""" +
          f""""dv_bytes":$dvBytes,"rows_after":$hit,"sec":$sec%.2f}""")
        rows += (("acid_sql_delete_fixed", files.toLong, sec))
      }
    }

    // ---- consecutive-scale wall ratios ----------------------------------
    val byOp = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq)
    for ((op, rs) <- byOp.toSeq.sortBy(_._1); Seq((_, n1, t1), (_, n2, t2)) <- rs.sliding(2)
         if rs.length > 1) {
      val factor = n2 / n1
      println(f"""{"metric":"wall_ratio","op":"$op","from_n":$n1,"to_n":$n2,""" +
        f""""data_factor":$factor,"wall_ratio":${t2 / t1}%.1f}""")
    }
    spark.stop()
  }
}
