package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.multimodal.Multimodal
import graft.operators.{NearDup, Similarity}

/** Similarity search over embeddings + multimodal binary columns
  * (north star, BASELINE.json; SURVEY.md §2.B Q-SIM1–2).
  */
object SimMmQueries extends QueryModule {

  import Shared.cosSql

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q-SIM1: brute-force cosine top-k against the vec_id=0 query vector.
    "q_sim1" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "embedding", k = 11)
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Q-SIM2: all pairs above threshold within a label block (shared,
    // memoized intermediate — q_dedup6 consumes the same pair list).
    "q_sim2" -> ((s, d) =>
      Shared.cosinePairs(s, d).orderBy("id_a", "id_b")),

    // Q-SIM14: two-stage retrieval through a JL SIGN projection — the
    // 64-dim corpus is projected to 16 dims by ONE codegen'd expression
    // (native SignProject: ±1 Achlioptas matrix from an arithmetic rule,
    // so the oracle spells the identical matrix as literal ± terms),
    // coarse top-50 by 16-dim cosine via TakeOrderedAndProject (never a
    // global-sort window), then the 50 survivors exact-reranked in the
    // full space. 4x fewer flops + 4x less bandwidth per coarse scan —
    // the memory-bound trade PQ makes with codes, made with dimensions.
    "q_sim14" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val proj = emb.select(col("vec_id"), col("embedding"),
        graft.functions.SignProject(col("embedding"), 64, 16).as("__p"))
      val qrow = proj.where(col("vec_id") === 0)
        .select(col("__p").as("__qp"), col("embedding").as("__qe"))
      val coarse = proj.crossJoin(broadcast(qrow))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"), col("__qe"),
          round(graft.functions.VectorOps.cosine(col("__p"), col("__qp")), 6)
            .as("sim16"))
      val cands = coarse.orderBy(col("sim16").desc, col("vec_id").asc).limit(50)
      val rer = cands.select(col("vec_id"), col("sim16"),
        round(graft.functions.VectorOps.cosine(col("embedding"), col("__qe")), 6)
          .as("sim64"))
      // BOUND: structural — limit(50) sits upstream, so this global
      // rerank window sorts ≤ 50 rows (whitelisted in
      // GlobalWindowSweepSpec)
      rer.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("sim64").desc, col("vec_id").asc)).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "vec_id", "sim16", "sim64")
        .orderBy("rank")
    }),

    // LSH-bucketed ANN top-k (rows-only: approximate by construction).
    // Emits recall-vs-brute-force as a column, so ANN quality is visible
    // in the verify artifacts; the floor is spec-asserted. AutoPlanes:
    // the bucket count derives from the corpus size (round-5 hardening —
    // a fixture-pinned plane count under-buckets any larger corpus).
    "q_sim3" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0)
      Similarity.withRecallAgainst(
          Similarity.lshTopK(emb, "vec_id", "embedding", q, "embedding",
            k = 11, numPlanes = Similarity.AutoPlanes, dim = 64),
          Shared.bruteCosineTruth(s, d),
          "vec_id")
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Q-SIM16 (round 10; hierarchical entries round 11): graph-based ANN
    // (HNSW-class) — the recall/probe-count frontier next to IVF (memory)
    // and PQ (bandwidth): the probe descends the entry HIERARCHY top-down
    // (O(levels·entryBeam·kUp) entry scores — flat in the cell count),
    // then runs the greedy beam over the stored layer-0 proximity graph,
    // probe cost O(rounds·beam·M) independent of corpus size. Graph built
    // within the shared IVF cells (partitioned kNN build), served from
    // the IndexStore reload. Rows-only (approximate by design — the
    // q_sim3 contract): recall vs brute force emitted as data, floors
    // spec-asserted.
    "q_sim16" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val (neighbors, entries, hier) = Shared.storedNsw(s, d)
      Similarity.withRecallAgainst(
          graft.operators.NswAnn.probe(neighbors, entries, hier, emb,
            "vec_id", "embedding", emb.where(col("vec_id") === 0),
            "embedding", k = 11, beamWidth = 32, rounds = 5),
          Shared.bruteCosineTruth(s, d),
          "vec_id")
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Q-SIM17 (round 11): day-2 graph-index maintenance — new vectors
    // (vec_id % 5 == 0) are assigned with the STORED day-1 centroids
    // (never refit), linked into the stored adjacency (NswAnn.linkBatch:
    // new-src lists = the restricted rebuild, forward edges mirrored for
    // navigability), and the probe runs over stored ∪ new edges: the
    // query (vec 0, itself a day-2 arrival) must surface through the
    // incremental links alone. Rows-only (approximate by design — the
    // q_sim3 contract); recall vs the full-corpus brute truth emitted as
    // data; incremental==restricted-recompute + two-batch replay are
    // spec-asserted (NswAnnSpec, StreamingDedupSpec).
    "q_sim17" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val (nb, en, hr, _, _) = Shared.storedNswDay1(s, d)
      // stored ∪ incremental edges, MATERIALIZED once per session — the
      // in-process stand-in for the edge-store append processGraphBatch
      // performs (probing a lazy link plan would re-run the top-k kNN
      // pipeline on every beam hop)
      val augmented = nb.unionByName(Shared.nswDay2Edges(s, d))
      Similarity.withRecallAgainst(
          graft.operators.NswAnn.probe(augmented, en, hr, emb,
            "vec_id", "embedding", emb.where(col("vec_id") === 0),
            "embedding", k = 11, beamWidth = 32, rounds = 5),
          Shared.bruteCosineTruth(s, d),
          "vec_id")
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Q-SIM18 (round 12): BATCHED NSW serving — a 16-query batch probes
    // the same stored graph through q_sim16's walk, with the 16 beams held
    // on the driver and every level and hop sharing ONE adjacency lookup
    // and ONE vector fetch for the whole batch (each query scores only its
    // own candidates), instead of 16 descent+beam loops. Emits per-query
    // recall vs the batched brute truth (one corpus scan for all 16
    // queries). Rows-only (approximate by design — the q_sim3 contract);
    // per-query agreement with the serial probe and recall floors are
    // spec-asserted (NswAnnSpec).
    "q_sim18" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val qb = emb.where(col("vec_id") < 16)
      val (neighbors, entries, hier) = Shared.storedNsw(s, d)
      val approx = graft.operators.NswAnn.probeBatch(neighbors, entries,
        hier, emb, "vec_id", "embedding", qb, "vec_id", "embedding",
        k = 11, beamWidth = 32, rounds = 5)
      val truth = Similarity.topKForQueries(emb, "vec_id", "embedding",
        qb, "vec_id", "embedding", k = 11)
      val tsets = truth.groupBy("query_id").agg(
        collect_set(col("vec_id")).as("__tids"), count(lit(1)).as("__tn"))
      approx.join(broadcast(tsets), Seq("query_id"))
        .withColumn("__hit",
          when(array_contains(col("__tids"), col("vec_id")), 1L).otherwise(0L))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_results"),
          round(sum(col("__hit")).cast("double") /
            max(col("__tn")).cast("double"), 6).as("recall"))
        .orderBy("query_id")
    }),

    // Multi-probe LSH ANN top-k: query bucket + all Hamming-1 buckets
    // (rows-only: approximate; recall >= single-probe's spec-asserted on
    // the emitted column). AutoPlanes, as q_sim3.
    "q_sim6" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0)
      Similarity.withRecallAgainst(
          Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", q, "embedding",
            k = 11, numPlanes = Similarity.AutoPlanes, dim = 64),
          Shared.bruteCosineTruth(s, d),
          "vec_id")
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // IVF-quantized ANN top-k (rows-only: k-means is approximate by
    // construction; recall vs brute force is unit-tested). Index build and
    // probe are separate stages, as in a real IVF deployment: the cached
    // index (built at most once per corpus) is the persisted cluster
    // assignment, and this query is probe-only against it.
    "q_sim4" -> ((s, d) => {
      val (indexed, centers) = graft.operators.IvfAnn.cachedIndex(
        s, d, "embedding", numClusters = 16)(Tables.load(s, d, "embeddings"))
      graft.operators.IvfAnn.probe(indexed, centers, "vec_id", "embedding",
        Tables.load(s, d, "embeddings").where(col("vec_id") === 0), "embedding",
        k = 11, nprobe = 4)
        .orderBy(col("sim").desc, col("vec_id"))
    }),

    // Incremental ANN arrival path: assign a NEW vector batch to the
    // existing IVF index's cells without refitting — the ANN mirror of
    // q_dedup8 (rows-only; agreement with the quantizer's own assignment
    // is property-tested). Centroids come from the ON-DISK index store
    // (written once per session, reloaded from parquet).
    "q_sim7" -> ((s, d) => {
      val (_, centers) = Shared.storedIvf(s, d)
      graft.operators.IvfAnn.assignToIndex(
        Tables.load(s, d, "embeddings").where(col("vec_id") % 5 === 0),
        "vec_id", "embedding", centers)
        .select(col("vec_id"), col("__cluster").cast("long").as("cluster"))
        .orderBy("vec_id")
    }),

    // Batched-query brute-force top-k: one corpus scan serves the whole
    // query batch, ranked per query id (WindowGroupLimit) — the correct
    // multi-query shape (a global limit would mix queries). Oracle-checked.
    "q_sim5" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.topKForQueries(emb, "vec_id", "embedding",
        emb.where(col("vec_id").isin(0, 1, 2)), "vec_id", "embedding", k = 5)
        .select("query_id", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    }),

    // Int8-quantized brute-force top-k: similarity search directly over
    // 4x-compressed vectors — cosine is scale-invariant so the per-vector
    // quantization scale cancels; no dequantize pass (rows-only; max
    // cosine error and top-k overlap property-tested).
    "q_sim8" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.load(s, d, "embeddings")
        .withColumn("__q8", VectorOps.quantizeInt8(col("embedding")))
      emb.crossJoin(broadcast(emb.where(col("vec_id") === 0)
          .select(VectorOps.quantizeInt8(col("embedding")).as("__qv8"))))
        .select(col("vec_id"),
          round(VectorOps.cosineInt8(col("__q8"), col("__qv8")), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(11)
    }),

    // Product-quantized ANN (ADC probe): vectors stored as m=8 one-byte
    // codes (32x compression — what makes a 100 TB embedding corpus
    // scannable); query-time scoring sums per-subspace distance-table
    // entries over a broadcast m*k table, corpus never decoded. Probe-only
    // against the ON-DISK codebooks+codes (written once per session,
    // reloaded from parquet), like q_sim12's IVF reload. Rows-only:
    // k-means-approximate; recall, determinism, and ADC-error are
    // property-tested (PqAnnSpec); store round-trip in IndexStoreSpec.
    "q_sim9" -> ((s, d) => {
      val (books, codes) = Shared.storedPq(s, d)
      val emb = Tables.load(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0)
      Similarity.withRecallAgainst(
          graft.operators.PqAnn.probe(codes, books, "vec_id", q, "embedding",
            dim = 64, m = 8, k = 11),
          Shared.bruteL2Truth(s, d),
          "vec_id")
        .orderBy(col("adc_dist").asc, col("vec_id"))
    }),

    // Batched IVF probe: one pass serves the whole query batch against
    // the RELOADED on-disk index (write -> reload -> probe, zero refit) —
    // per-query nprobe cells via ranked broadcast, corpus touched only
    // where some query probes (rows-only: IVF approx; agreement with the
    // single-query probe is property-tested).
    "q_sim12" -> ((s, d) => {
      val (indexed, centers) = Shared.storedIvf(s, d)
      graft.operators.IvfAnn.probeBatch(indexed, centers, "vec_id", "embedding",
        Tables.load(s, d, "embeddings").where(col("vec_id").isin(0, 7, 42)),
        "vec_id", "embedding", k = 5, nprobe = 4)
        .orderBy("query_id", "rn")
    }),

    // Hard-negative mining for contrastive training: per anchor, the top-5
    // most-similar vectors with a DIFFERENT label. One corpus scan serves
    // the whole anchor batch (broadcast), ranked per query. Oracle-checked.
    "q_sim11" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        emb.where(col("vec_id").isin(0, 1, 2)), k = 5)
        .select("query_id", "vec_id", "sim", "rn")
        .orderBy("query_id", "rn")
    }),

    // IVF-PQ (the canonical billion-scale ANN layout): the cached IVF
    // coarse quantizer restricts the scan to the query's nprobe cells;
    // ADC scores only those cells' 8-byte codes. Both index stages come
    // prebuilt from SparkEntry.prepare. Rows-only: doubly approximate;
    // cell-membership + full-scan-consistency property-tested.
    "q_sim10" -> ((s, d) => {
      val (indexed, centers) = graft.operators.IvfAnn.cachedIndex(
        s, d, "embedding", numClusters = 16)(Tables.load(s, d, "embeddings"))
      val (books, codes) = graft.operators.PqAnn.cachedCodes(
        s, d, "vec_id", "embedding", dim = 64, m = 8, k = 16)(
        Tables.load(s, d, "embeddings"))
      val emb = Tables.load(s, d, "embeddings")
      val q = emb.where(col("vec_id") === 0)
      Similarity.withRecallAgainst(
          graft.operators.PqAnn.probeIvf(codes, books, indexed, centers, "vec_id",
            q, "embedding", dim = 64, m = 8, k = 11, nprobe = 4),
          Shared.bruteL2Truth(s, d),
          "vec_id")
        .orderBy(col("adc_dist").asc, col("vec_id"))
    }),

    // Q-SIM13: embedding-space outlier score — cosine of every vector to
    // its own class centroid (mislabel / off-distribution gate). The ONLY
    // exact aggregate in the sim family: micro-unit integer components,
    // exact integer/DECIMAL sums, and the unnormalized class sum stands in
    // for the centroid (cosine is scale-invariant) => hash-exact.
    "q_sim13" -> ((s, d) =>
      Similarity.cosineToClassCentroid(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy("vec_id")),

    // Q-SIM15 (round 7): per-label centroid drift between the even and
    // odd vec_id halves — the embedding-space distribution-shift gate
    // (PSI's numeric twin). Same exact-integer centroid machinery as
    // q_sim13 => hash-exact.
    "q_sim15" -> ((s, d) =>
      Similarity.centroidDrift(Tables.load(s, d, "embeddings"),
          "embedding", "label", pmod(col("vec_id"), lit(2)))
        .orderBy("label")),

    // Q-DQ9 (round 11): embedding-distribution drift — PSI between the
    // stored corpus's norm distribution and a new batch whose norms carry
    // a planted 20% inflation (the classic silent failure when an
    // encoder VERSION changes under a pipeline: vectors remain valid
    // floats, similarities silently shift). Same sampled-boundary PSI
    // machinery as q_diff2, driven by the exact in-order norm fold (the
    // cosSql discipline ⇒ bitwise-identical doubles feed the buckets).
    "q_dq9" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.load(s, d, "embeddings")
      val nrm = VectorOps.norm2(col("embedding"))
      val prev = emb.where(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), nrm.as("nrm"))
      val next = emb.where(col("vec_id") % 5 === 0)
        .select(col("vec_id"), (nrm * lit(1.2)).as("nrm"))
      graft.operators.Binning.psiReport(prev, next, "nrm", "vec_id",
          fraction = 0.5, n = 8)
        .orderBy("bucket")
    }),

    // Multimodal: opaque binary payload + typed metadata (oracle-checked).
    "q_mm1" -> ((s, d) =>
      Multimodal.withBinaryMeta(Tables.load(s, d, "documents"), "text")
        .select("doc_id", "n_bytes", "content_sha")
        .orderBy("doc_id")),

    // Multimodal: REAL image decode (round 6) — per-doc genuine PNG
    // payloads (encoded through javax.imageio on the executors), decoded
    // back with ImageIO.read, projected to the BT.601 luma plane, then
    // frame-sampled. Features come from actually decoded pixels. Rows-only
    // (codec bytes have no SQL twin); pixel math is spec-asserted against
    // hand-crafted fixtures.
    "q_mm2" -> ((s, d) =>
      Multimodal.pngLumaFrames(
        Multimodal.syntheticPng(Tables.load(s, d, "documents"), "doc_id",
          width = 16, height = 16),
        stride = 64, frameSize = 16)
        .toDF().orderBy("doc_id", "frame_idx")),

    // Multimodal REAL resize (round 6; ORACLE-CHECKED as of round 9):
    // decode each PNG, nearest-neighbor downsample 4x in exact integer
    // math, re-encode PNG, then RE-DECODE the resized payload and emit
    // every output pixel — the whole decode→transform→encode→decode
    // pipeline is pinned against the planted pixel chain (the old form
    // compared a sha of the ENCODER's bytes, which is zlib-build-specific
    // and so could never be oracle-checked; the re-decoded pixels pin
    // strictly more of the pipeline and are exact SQL facts, PNG being
    // lossless). Resize picks stay spec-asserted too.
    "q_mm3" -> ((s, d) => {
      import s.implicits._
      Multimodal.resizePng(
          Multimodal.syntheticPng(Tables.load(s, d, "documents"), "doc_id",
            width = 16, height = 16),
          factor = 4)
        .select(col("doc_id"), col("out_width"), col("out_height"), col("resized"))
        .as[(Long, Int, Int, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, ow, _, bytes) =>
          val px = Multimodal.rgbPixels(Multimodal.decodePng(bytes))
          px.indices.map(i => (id, ow.toLong, (px.length / ow).toLong,
            (i / ow).toLong, (i % ow).toLong, (px(i) & 0xFFFFFF).toLong))
        })
        .toDF("doc_id", "out_width", "out_height", "y", "x", "v")
        .orderBy("doc_id", "y", "x")
    }),

    // Multimodal image features (round 6): real per-image channel stats —
    // ImageIO decode per row on the executors, exact integer channel sums.
    // Rows-only; channel means are spec-asserted on crafted fixtures.
    "q_mm4" -> ((s, d) =>
      Multimodal.imageFeatures(
        Multimodal.syntheticPng(Tables.load(s, d, "documents"), "doc_id",
          width = 16, height = 16))
        .toDF().orderBy("doc_id")),

    // Image perceptual fingerprint (round 6): 64-bit dHash from real
    // decoded pixels — the image-modality twin of the text SimHash.
    // Rows-only; hash bits spec-asserted on crafted gradient fixtures.
    "q_mm5" -> ((s, d) =>
      Multimodal.imageDHashes(
        Multimodal.syntheticPng(Tables.load(s, d, "documents"), "doc_id",
          width = 16, height = 16))
        .orderBy("doc_id")),

    // Image near-dup pairs (round 6): dHash + the SimHash 16-bit-chunk
    // pigeonhole join over a planted-pair PNG corpus — (2k, 2k+1) differ
    // by one blacked-out pixel, so each planted pair is <= 1 Hamming bit
    // apart. Bucket-local join, never all-pairs. Rows-only; exactness of
    // the banding vs brute-force Hamming is spec-asserted.
    "q_dedup15" -> ((s, d) =>
      Multimodal.imageNearDupPairs(
        Multimodal.syntheticPngNearDups(Tables.load(s, d, "documents"),
          "doc_id", width = 16, height = 16), maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // Media dedup-on-arrival (round 6): the day-2 image batch
    // (doc_id % 5 == 0) dHashed and probed against the ON-DISK day-1 hash
    // store (written once per session, RELOADED from parquet — the full
    // index lifecycle). new×new plus new×stored pairs only; the old
    // corpus' media is never rescanned. Rows-only; exactness vs the full
    // recompute restricted to new ids is spec-asserted.
    "q_dedup16" -> ((s, d) => {
      val newMedia = Multimodal.syntheticPngNearDups(
        Tables.load(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", width = 16, height = 16)
      NearDup.incrementalFingerprintPairs(Multimodal.imageDHashes(newMedia).localCheckpoint(),
          Shared.storedDHashes(s, d), "doc_id", "dhash")
        .orderBy("id_a", "id_b")
    }),

    // Audio modality (round 6): genuine RIFF/WAVE PCM16 payloads decoded
    // through the JDK's real audio codec; rms / peak / zero-crossing
    // features from actually-decoded samples. Rows-only; feature math
    // spec-asserted on crafted clips (constant, alternating, silence).
    "q_mm6" -> ((s, d) =>
      graft.multimodal.AudioWav.audioFeatures(
        graft.multimodal.AudioWav.syntheticWav(
          Tables.load(s, d, "documents"), "doc_id", nSamples = 800))
        .toDF().orderBy("doc_id")),

    // Q-MM14 (round 7): peak normalization — decode, gain every clip to
    // peak 30000 by the sign-split integer rule, re-encode, and verify
    // via the feature stats of the RE-DECODED result. Oracle re-derives
    // the seeded PCM chain in SQL (the q_mm6 pattern) and applies the
    // identical scaling — hash-exact through a real codec round-trip.
    "q_mm14" -> ((s, d) =>
      graft.multimodal.AudioWav.audioFeatures(
        graft.multimodal.AudioWav.normalizePeak(
          graft.multimodal.AudioWav.syntheticWav(
            Tables.load(s, d, "documents"), "doc_id", nSamples = 800),
          targetPeak = 30000))
        .toDF().orderBy("doc_id")),

    // Audio perceptual fingerprint (round 7): 64-bit band-energy sign hash
    // from REALLY-decoded PCM16 samples — the audio twin of q_mm5's dHash
    // (9 time frames x 8 integer Haar octave bands, bit = sign of the
    // adjacent-frame energy difference). Rows-only; hash bits, noise
    // robustness, and determinism spec-asserted on crafted clips.
    "q_mm8" -> ((s, d) =>
      graft.multimodal.AudioWav.audioHashes(
        graft.multimodal.AudioWav.syntheticWavNearDups(
          Tables.load(s, d, "documents"), "doc_id", nSamples = 3600))
        .orderBy("doc_id")),

    // Audio near-dup pairs (round 7): band-energy hash + the hash-agnostic
    // pigeonhole join over a planted-pair WAV corpus — (2k, 2k+1) differ
    // by small per-sample noise, so each planted pair is ~0 Hamming bits
    // apart. Bucket-local join, never all-pairs; band tables auto-route
    // wide past the 16-bit-chunk crowding threshold. Rows-only; exactness
    // vs brute-force Hamming<=3 is spec-asserted.
    "q_dedup17" -> ((s, d) =>
      graft.multimodal.AudioWav.audioNearDupPairs(
        graft.multimodal.AudioWav.syntheticWavNearDups(
          Tables.load(s, d, "documents"), "doc_id", nSamples = 3600),
        maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // Q-DEDUP22 (round 9): audio near-dup over the CONSTANT-Q spectral
    // fingerprint — log-spaced fixed-point correlators in exact integer
    // math (the industry-standard spectral geometry, replacing the Haar
    // octaves' dyadic bands for this path) through the same pigeonhole
    // band join. Oracle-checked end to end: the SQL re-derives the PCM
    // chain, the quadrature correlations against the SAME fixed-point
    // cosine table, the |re|+|im| magnitudes, the frame-derivative bits,
    // and the brute-force Hamming<=3 pair set the banding must equal.
    "q_dedup22" -> ((s, d) =>
      graft.multimodal.AudioWav.audioNearDupPairsCq(
        graft.multimodal.AudioWav.syntheticWavNearDups(
          Tables.load(s, d, "documents"), "doc_id", nSamples = 3600),
        maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // Audio dedup-on-arrival (round 7): the day-2 clip batch
    // (doc_id % 5 == 0) fingerprinted and probed against the ON-DISK day-1
    // hash store (written once per session, RELOADED from parquet). new×new
    // plus new×stored pairs only; stored audio is never rescanned.
    // Rows-only; exactness vs the full recompute restricted to new ids is
    // spec-asserted, plus a fresh-JVM store proof (StoreLifecycleCheck).
    "q_dedup18" -> ((s, d) => {
      val newMedia = graft.multimodal.AudioWav.syntheticWavNearDups(
        Tables.load(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", nSamples = 3600)
      NearDup.incrementalFingerprintPairs(
          graft.multimodal.AudioWav.audioHashes(newMedia).localCheckpoint(),
          Shared.storedAudioHashes(s, d), "doc_id", "ahash")
        .orderBy("id_a", "id_b")
    }),

    // Media quarantine (round 7): crawl-scale fault isolation — a corpus
    // where every 7th payload is truncated mid-container decodes with the
    // corrupt rows routed to a quarantine status (reason attached) and the
    // good rows' features untouched; the job completes. The media twin of
    // R6's error-skip / readCsvWithQuarantine. Rows-only; good-rows-
    // unchanged and corrupt-rows-quarantined are spec-asserted.
    "q_mm9" -> ((s, d) => {
      val good = Multimodal.syntheticPng(Tables.load(s, d, "documents"),
        "doc_id", width = 16, height = 16)
      val mixed = good.withColumn("payload",
        when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 20)"))
          .otherwise(col("payload")))
      val (feats, quar) = Multimodal.imageFeaturesQuarantined(mixed)
      feats.toDF()
        .select(col("doc_id"), lit("ok").as("status"), col("width").cast("long").as("detail"))
        .unionByName(quar.toDF()
          .select(col("doc_id"), lit("quarantined").as("status"), col("n_bytes").as("detail")))
        .orderBy("doc_id")
    }),

    // Q-MM15 (round 8): MIXED-FORMAT ingestion — real crawls are mostly
    // JPEG, and every prior fixture was PNG. A corpus of 2/3 real JPEG +
    // 1/3 real PNG payloads at doc-id-dependent dimensions, every 7th
    // truncated after the magic bytes, goes through ONE format-agnostic
    // decode path (ImageIO sniffs the container): format detected from
    // the payload's OWN magic bytes (codegen'd substring/hex, no UDF),
    // truncated payloads quarantined, decoded dimensions emitted. Every
    // compared value is a structural fact (format, status, dims) — exact
    // functions of doc_id — so the oracle genuinely checks that the real
    // codec decoded every good JPEG/PNG and failed every truncated one;
    // lossy pixel content never reaches the compare (JpegPathSpec bounds
    // dHash drift under the JPEG round-trip instead).
    "q_mm15" -> ((s, d) => {
      val mixed = Multimodal.syntheticMixedFormat(
          Tables.load(s, d, "documents"), "doc_id")
        .localCheckpoint() // one fixture pass feeds the sniff AND the decode
      val tagged = mixed.select(col("doc_id"),
        when(hex(substring(col("payload"), 1, 2)) === lit("FFD8"), "jpeg")
          .when(hex(substring(col("payload"), 1, 4)) === lit("89504E47"), "png")
          .otherwise("unknown").as("fmt"))
      val (feats, quar) = Multimodal.imageFeaturesQuarantined(mixed)
      feats.toDF()
        .select(col("doc_id"), lit("ok").as("status"),
          col("width").cast("long").as("w"), col("height").cast("long").as("h"))
        .unionByName(quar.toDF()
          .select(col("doc_id"), lit("quarantined").as("status"),
            lit(null).cast("long").as("w"), lit(null).cast("long").as("h")))
        .join(tagged, Seq("doc_id"))
        .select("doc_id", "fmt", "status", "w", "h")
        .orderBy("doc_id")
    }),

    // Q-MM16 (round 9): REAL VIDEO CONTAINER — the clip pipeline on
    // genuine AVI/MJPEG files (RIFF chunk-walk demux → sniffing ImageIO
    // JPEG decode → dHash cuts), with every 7th container truncated
    // mid-header to drive the per-clip quarantine. Every compared value
    // is a structural/planted fact: frame count = the container's movi
    // chunk count cross-checked against avih, shot count = the planted
    // scene structure (within-scene frames are bit-identical JPEG bytes,
    // so the lossy codec cannot blur the planted cut positions —
    // AviMjpegSpec pins the round-trip). The PNG-container stand-in
    // (q_mm7/q_pipe4) keeps its SQL-replicated pixel oracle; this query
    // is the reality upgrade on the container axis.
    "q_mm16" -> ((s, d) => {
      val clips = Multimodal.syntheticAviClip(
          Tables.load(s, d, "documents"), "doc_id",
          nFrames = 6, width = 8, height = 8, shotLen = 2)
        .withColumn("payload",
          when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 40)"))
            .otherwise(col("payload")))
      val (stats, quar) = Multimodal.clipShotStatsQuarantined(clips, cutThreshold = 10)
      stats.toDF()
        .select(col("doc_id"), lit("ok").as("status"),
          col("n_frames"), col("n_shots"))
        .unionByName(quar.toDF()
          .select(col("doc_id"), lit("quarantined").as("status"),
            lit(null).cast("long").as("n_frames"),
            lit(null).cast("long").as("n_shots")))
        .orderBy("doc_id")
    }),

    // Q-MM17 (round 10): REAL MP4 — the q_mm16 pipeline on genuine
    // ISO-BMFF files: atom-walk demux through the stsd/stsz/stsc/stco
    // sample tables, every 7th payload truncated to 40 bytes so the
    // per-clip quarantine branch fires on real grammar violations. Same
    // planted structure (6 frames / 3 two-frame scenes per good clip) —
    // the compare certifies the real demux+decode chain recovers exactly
    // that from MP4 bytes.
    "q_mm17" -> ((s, d) => {
      val clips = Multimodal.syntheticMp4Clip(
          Tables.load(s, d, "documents"), "doc_id",
          nFrames = 6, width = 8, height = 8, shotLen = 2)
        .withColumn("payload",
          when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 40)"))
            .otherwise(col("payload")))
      val (stats, quar) = Multimodal.clipShotStatsQuarantined(clips, cutThreshold = 10)
      stats.toDF()
        .select(col("doc_id"), lit("ok").as("status"),
          col("n_frames"), col("n_shots"))
        .unionByName(quar.toDF()
          .select(col("doc_id"), lit("quarantined").as("status"),
            lit(null).cast("long").as("n_frames"),
            lit(null).cast("long").as("n_shots")))
        .orderBy("doc_id")
    }),

    // Audio twin of q_mm9: truncated WAVs quarantined, good clips decoded.
    "q_mm10" -> ((s, d) => {
      val good = graft.multimodal.AudioWav.syntheticWav(
        Tables.load(s, d, "documents"), "doc_id", nSamples = 800)
      val mixed = good.withColumn("payload",
        when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 30)"))
          .otherwise(col("payload")))
      val (feats, quar) = graft.multimodal.AudioWav.audioFeaturesQuarantined(mixed)
      feats.toDF()
        .select(col("doc_id"), lit("ok").as("status"), col("n_samples").cast("long").as("detail"))
        .unionByName(quar.toDF()
          .select(col("doc_id"), lit("quarantined").as("status"), col("n_bytes").as("detail")))
        .orderBy("doc_id")
    }),

    // Image resize chain pinned end-to-end (round 7): real PNG decode ->
    // exact nearest-neighbor 4x downsample -> real re-encode -> decode
    // AGAIN -> channel stats. The oracle replicates the seeded pixel
    // chain and the resample picks in SQL, so the whole
    // decode->resize->encode->decode path is value-checked (the mirror
    // of q_mm11's audio chain).
    "q_mm13" -> ((s, d) =>
      Multimodal.imageFeatures(
        Multimodal.resizePng(
            Multimodal.syntheticPng(Tables.load(s, d, "documents"), "doc_id",
              width = 16, height = 16),
            factor = 4)
          .select(col("doc_id"), col("resized").as("payload")))
        .toDF().orderBy("doc_id")),

    // Audio rate normalization (round 7): REAL decode -> box-filter 2x
    // decimation in exact truncating integer math -> REAL re-encode at
    // rate/2, then features of the re-decoded result — the whole
    // decode->resample->encode->decode chain is pinned by the oracle,
    // which replicates the seeded generation + the pair averaging in SQL.
    "q_mm11" -> ((s, d) =>
      graft.multimodal.AudioWav.audioFeatures(
        graft.multimodal.AudioWav.downsample2x(
          graft.multimodal.AudioWav.syntheticWav(
            Tables.load(s, d, "documents"), "doc_id", nSamples = 800)))
        .toDF().orderBy("doc_id")),

    // Audio silence trim (round 7): strip leading/trailing |v| <= 100
    // samples — the quality gate before a clip enters a training corpus.
    // The fixture pads 40/60 exact-zero samples around the noise; the
    // oracle re-derives the exact kept span from the replicated chain
    // (noise samples can themselves fall under the threshold, so the
    // trim edges are data-dependent, not just the padding).
    "q_mm12" -> ((s, d) =>
      graft.multimodal.AudioWav.trimSilenceStats(
        graft.multimodal.AudioWav.syntheticWav(
          Tables.load(s, d, "documents"), "doc_id", nSamples = 800,
          leadSilence = 40, tailSilence = 60), threshold = 100)
        .orderBy("doc_id")),

    // Video-modality stand-in (round 6): 6-frame PNG clips (scene change
    // every 2 frames — 3 scenes, cuts at frames 2 and 4), every frame
    // REALLY decoded and dHashed; cuts = consecutive-frame Hamming >
    // threshold — keyframe selection's first stage. Frame count/size kept
    // small: the registered query's cost is pure codec volume (frames x
    // docs), and the operator itself is exercised identically. Rows-only;
    // exact cut positions spec-asserted.
    "q_mm7" -> ((s, d) =>
      Multimodal.shotBoundaries(
        Multimodal.syntheticPngClip(Tables.load(s, d, "documents"), "doc_id",
          nFrames = 6, width = 8, height = 8, shotLen = 2),
        cutThreshold = 10)
        .toDF().orderBy("doc_id", "frame_idx")),
    // Clip-level near-dup (round 7, the stage after q_pipe4): two clips
    // are near-dups when they share >= 2 identical-scene shots (keyframe
    // dHash equality) — one hash join over per-clip distinct scene hashes,
    // viral scenes capped like boilerplate shingles. Oracle-checked: the
    // shared-scene plant makes the exact pair set + shared counts a pure
    // function of doc_id.
    "q_dedup19" -> ((s, d) =>
      Multimodal.clipNearDupsFromHashes(Shared.clipKeyframeHashes(s, d),
          minSharedShots = 2)
        .orderBy("id_a", "id_b")),

    // Envelope-collision-resistant audio near-dup (round 7): time-hash
    // pigeonhole candidates filtered on the spectral-tilt hash — clips
    // sharing only a loudness contour drop, genuine near-copies pass
    // both. Oracle-checked: both fingerprints AND the two-condition
    // brute-force pair set re-derived from the replicated clip chains.
    "q_dedup20" -> ((s, d) =>
      graft.multimodal.AudioWav.audioNearDupPairsRefined(
        graft.multimodal.AudioWav.syntheticWavNearDups(
          Tables.load(s, d, "documents"), "doc_id", nSamples = 3600))
        .orderBy("id_a", "id_b")),

    // Video-curation pipeline end-to-end (round 7, the q_pipe1 pattern for
    // media): clips -> shot detection -> ONE keyframe per shot -> dHash
    // near-dup over the keyframes only — cross-clip duplicate SCENES found
    // while paying the fingerprint pass on ~1/shotLen of the frames. The
    // fixture draws scenes from a shared pool, so different clips really
    // contain bit-identical scenes; keyframe ids pack (clip, shot).
    // Rows-only; planted cross-clip duplicates and the per-shot
    // exactly-one-keyframe contract are spec-asserted.
    "q_pipe4" -> ((s, d) => {
      val kf = Shared.clipKeyframeHashes(s, d)
        .select((col("doc_id") * 100 + col("shot_idx")).as("doc_id"), col("dhash"))
      NearDup.fingerprintPairs(kf, "doc_id", "dhash", maxHamming = 3)
        .where(col("hamming") === 0) // duplicate scenes, not near-misses
        .orderBy("id_a", "id_b")
    }),
  )

  /** Shared SQL prefix re-deriving the `syntheticWavNearDups` clips and
    * their [[graft.multimodal.AudioWav.audioHash64]] band-energy hashes
    * from scratch: the LCG-composed mix (every multiplier < 2^63, so
    * HUGEINT holds the products), the per-frame amplitude rank walk, the
    * base + noise sample chains, and the 8-level Haar detail energies
    * expressed as signed block sums over the 400-sample frames (the
    * level ladder 400/400/400/400/384/384/384/256 encodes the integer
    * halving truncation of the wavelet recursion). Ends with
    * `dh(doc_id, ahash)`. */
  private val audioHashChainSql: String =
    """WITH RECURSIVE fk AS (
      |  SELECT d.doc_id, tt.t,
      |    ((((CAST(d.doc_id // 2 AS HUGEINT) * 1000003 + 1000 + tt.t)
      |        % 18446744073709551616)
      |       * 6364136223846793005 + 1442695040888963407) % 18446744073709551616) AS k1
      |  FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS t) tt),
      |amps AS (
      |  SELECT doc_id, t,
      |    4000 + 3000 * (rank() OVER (PARTITION BY doc_id ORDER BY
      |      CASE WHEN ((k1 * 6364136223846793005 + 1442695040888963407)
      |                 % 18446744073709551616) >= CAST(1 AS HUGEINT) << 63
      |           THEN CAST(((k1 * 6364136223846793005 + 1442695040888963407)
      |                 % 18446744073709551616) - (CAST(1 AS HUGEINT) << 64) AS BIGINT)
      |           ELSE CAST(((k1 * 6364136223846793005 + 1442695040888963407)
      |                 % 18446744073709551616) AS BIGINT) END, t) - 1) AS amp
      |  FROM fk),
      |gen AS (
      |  SELECT doc_id, 0 AS i,
      |    (((((CAST(doc_id // 2 AS HUGEINT) * 1000003 + 2) % 18446744073709551616)
      |       * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |       * 6364136223846793005 + 1442695040888963407) % 18446744073709551616) AS h,
      |    (((((CAST(doc_id AS HUGEINT) * 1000003 + 3) % 18446744073709551616)
      |       * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |       * 6364136223846793005 + 1442695040888963407) % 18446744073709551616) AS hn
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, i + 1,
      |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616,
      |    (hn * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
      |  FROM gen WHERE i < 3600),
      |smp AS (
      |  SELECT g.doc_id, (g.i - 1) // 400 AS t, (g.i - 1) % 400 AS q,
      |    (CASE WHEN g.h // 281474976710656 >= 32768
      |          THEN CAST(g.h // 281474976710656 AS BIGINT) - 65536
      |          ELSE CAST(g.h // 281474976710656 AS BIGINT) END * a.amp) // 32768
      |    + CASE WHEN g.doc_id % 2 = 1
      |           THEN CAST((g.hn // 281474976710656) % 16 AS BIGINT) - 8
      |           ELSE 0 END AS v
      |  FROM gen g JOIN amps a ON g.doc_id = a.doc_id AND a.t = (g.i - 1) // 400
      |  WHERE g.i >= 1),
      |levels AS (SELECT * FROM (VALUES (0, 400, 1, 2), (1, 400, 2, 4),
      |  (2, 400, 4, 8), (3, 400, 8, 16), (4, 384, 16, 32), (5, 384, 32, 64),
      |  (6, 384, 64, 128), (7, 256, 128, 256)) AS t(L, nl, hs, bs)),
      |det AS (
      |  SELECT s.doc_id, s.t, lv.L, s.q // lv.bs AS blk,
      |    SUM(s.v * CASE WHEN (s.q // lv.hs) % 2 = 0 THEN 1 ELSE -1 END) AS dd
      |  FROM smp s JOIN levels lv ON s.q < lv.nl
      |  GROUP BY s.doc_id, s.t, lv.L, s.q // lv.bs),
      |en AS (SELECT doc_id, t, L, SUM(dd * dd) AS e FROM det GROUP BY doc_id, t, L),
      |abits AS (
      |  SELECT a.doc_id,
      |    SUM(CASE WHEN a.e > b.e THEN CAST(1 AS HUGEINT) << (a.L * 8 + a.t)
      |        ELSE CAST(0 AS HUGEINT) END) AS uh
      |  FROM en a JOIN en b ON a.doc_id = b.doc_id AND a.L = b.L AND b.t = a.t + 1
      |  WHERE a.t < 8
      |  GROUP BY a.doc_id),
      |dh AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
      |         THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS ahash
      |  FROM abits)
      |""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // q_sim14's twin spells the SAME ±1 matrix (shared arithmetic rule)
    // as literal add/subtract chains in the same fold order.
    "q_sim14" -> {
      def projList(e: String): String =
        (0 until 16).map { i =>
          "(0.0 " + (0 until 64).map { j =>
            val op = if (graft.functions.SignProject.signAt(i, j, 64) > 0) "+" else "-"
            s"$op CAST($e[${j + 1}] AS DOUBLE) "
          }.mkString + ")"
        }.mkString("[", ", ", "]")
      s"""WITH p AS (SELECT vec_id, embedding,
         |    ${projList("embedding")} AS p16 FROM embeddings),
         |q AS (SELECT p16 AS qp, embedding AS qe FROM p WHERE vec_id = 0),
         |coarse AS (SELECT p.vec_id, p.embedding, q.qe,
         |    round(${cosSql("p.p16", "q.qp")}, 6) AS sim16
         |  FROM p, q WHERE p.vec_id <> 0),
         |cand AS (SELECT * FROM coarse ORDER BY sim16 DESC, vec_id LIMIT 50),
         |rer AS (SELECT vec_id, sim16,
         |    round(${cosSql("embedding", "qe")}, 6) AS sim64 FROM cand)
         |SELECT rank, vec_id, sim16, sim64 FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY sim64 DESC, vec_id) AS BIGINT)
         |      AS rank, vec_id, sim16, sim64
         |  FROM rer)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    },
    // Audio fingerprint family: the full clip synthesis + Haar band-energy
    // hash re-derived in SQL (see audioHashChainSql); pairs are the
    // brute-force Hamming<=3 sets the pigeonhole banding must equal.
    "q_mm8" -> (audioHashChainSql +
      "SELECT doc_id, ahash FROM dh ORDER BY doc_id"),
    "q_dedup17" -> (audioHashChainSql +
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    "q_dedup18" -> (audioHashChainSql +
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
        |  AND bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    // q_dedup22: same PCM chain (smp), then the constant-Q quadrature
    // correlations against the operator's OWN fixed-point cosine cycle
    // (the 400 table values below are interpolated from
    // AudioWav.CqTable, so both engines correlate against identical
    // integers), |re|+|im| magnitudes, frame-derivative bits, and the
    // brute-force pair set. The unused Haar CTEs (det/en/abits/dh) prune
    // away — plain CTEs cost nothing unreferenced.
    "q_dedup22" -> {
      val cqt = graft.multimodal.AudioWav.CqTable.zipWithIndex
        .map { case (v, m) => s"($m, $v)" }.mkString(", ")
      val cyc = graft.multimodal.AudioWav.CqCycles.zipWithIndex
        .map { case (c, b) => s"($b, $c)" }.mkString(", ")
      audioHashChainSql +
      s""", cqt AS MATERIALIZED (SELECT * FROM (VALUES $cqt) AS t(m, c)),
         |cyc AS (SELECT * FROM (VALUES $cyc) AS t(b, c)),
         |corr AS (
         |  SELECT s.doc_id, s.t, cy.b,
         |    SUM(s.v * ct.c) AS re, SUM(s.v * st.c) AS im
         |  FROM smp s
         |  JOIN cyc cy ON TRUE
         |  JOIN cqt ct ON ct.m = (cy.c * s.q) % 400
         |  JOIN cqt st ON st.m = (cy.c * s.q + 300) % 400
         |  GROUP BY s.doc_id, s.t, cy.b),
         |cmag AS (SELECT doc_id, t, b, abs(re) + abs(im) AS mag FROM corr),
         |cbits AS (
         |  SELECT a.doc_id,
         |    SUM(CASE WHEN a.mag > x.mag THEN CAST(1 AS HUGEINT) << (a.b * 8 + a.t)
         |        ELSE CAST(0 AS HUGEINT) END) AS uh
         |  FROM cmag a JOIN cmag x ON a.doc_id = x.doc_id AND a.b = x.b AND x.t = a.t + 1
         |  WHERE a.t < 8
         |  GROUP BY a.doc_id),
         |cqh AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
         |         THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS cqhash
         |  FROM cbits)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.cqhash, b.cqhash)) AS BIGINT) AS hamming
         |FROM cqh a JOIN cqh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.cqhash, b.cqhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },
    // the spectral-tilt hash reads the SAME en energies: bit (t*7 + L) =
    // sign of the band-adjacent difference within a frame (63 bits, so
    // the value never reaches the sign bit)
    "q_dedup20" -> (audioHashChainSql +
      """, sbits AS (
        |  SELECT a.doc_id,
        |    SUM(CASE WHEN a.e > b.e THEN CAST(1 AS HUGEINT) << (a.t * 7 + a.L)
        |        ELSE CAST(0 AS HUGEINT) END) AS suh
        |  FROM en a JOIN en b ON a.doc_id = b.doc_id AND a.t = b.t AND b.L = a.L + 1
        |  WHERE a.L < 7
        |  GROUP BY a.doc_id),
        |fp AS (
        |  SELECT dh.doc_id, dh.ahash, CAST(sbits.suh AS BIGINT) AS shash
        |  FROM dh JOIN sbits ON dh.doc_id = sbits.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming,
        |  CAST(bit_count(xor(a.shash, b.shash)) AS BIGINT) AS spectral_hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |  AND bit_count(xor(a.shash, b.shash)) <= 8
        |ORDER BY id_a, id_b""".stripMargin),
    "q_sim1" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(${cosSql("embedding", "qe")}, 6) AS sim
         |FROM embeddings, q
         |ORDER BY sim DESC, vec_id LIMIT 11""".stripMargin,
    // exact quantized-cosine pair replay (Shared.cosinePairsCtes); the
    // emitted sim is the raw quotient of exact integer-valued doubles —
    // four correctly-rounded IEEE ops, no round site anywhere.
    "q_sim2" ->
      s"""WITH ${Shared.cosinePairsCtes}
         |SELECT id_a, id_b,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
         |    AS sim
         |FROM cpairs ORDER BY id_a, id_b""".stripMargin,
    "q_sim5" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2))
         |SELECT query_id, vec_id, sim, rn FROM (
         |  SELECT q.query_id, e.vec_id, round(${cosSql("e.embedding", "qe")}, 6) AS sim,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY round(${cosSql("e.embedding", "qe")}, 6) DESC, e.vec_id) AS BIGINT) AS rn
         |  FROM embeddings e, q)
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    "q_mm1" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS content_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The quarantine splits ARE oracle-checkable: status and detail are
    // exact functions of doc_id (every 7th payload truncated to 20/30
    // bytes; good images are 16 px wide, good clips 800 samples) — so the
    // oracle genuinely checks that the REAL codec decoded every good
    // payload and failed every truncated one.
    "q_mm9" ->
      """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 20 ELSE 16 END AS BIGINT) AS detail
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mm10" ->
      """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 30 ELSE 800 END AS BIGINT) AS detail
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_mm15's structural facts are exact functions of doc_id: the sniffed
    // format must equal the planted encoder choice, the truncated rows
    // must quarantine, and the decoded dimensions must equal the planted
    // ones — real-codec evidence for both JPEG and PNG through the one
    // sniffing decode path.
    "q_mm15" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 16 + 8*(doc_id % 3) END AS BIGINT) AS w,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 16 + 4*(doc_id % 5) END AS BIGINT) AS h
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_mm16's facts are planted: 6 movi frames and 3 two-frame scenes
    // per good clip, quarantine for the truncated 7ths. The real work the
    // compare certifies is the demux+decode chain recovering exactly that
    // structure from genuine AVI/MJPEG bytes.
    "q_mm16" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 6 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 3 END AS BIGINT) AS n_shots
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_mm17: identical planted facts through the MP4 container — the
    // compare certifies the atom-walk demux (stsd/stsz/stsc/stco) + JPEG
    // decode chain recovers the same structure from ISO-BMFF bytes.
    "q_mm17" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 6 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 3 END AS BIGINT) AS n_shots
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_mm6's oracle replicates the seeded PCM16 generation in SQL — the
    // payload BYTES never reach DuckDB (no binary fixture table), but the
    // generator is a 64-bit LCG chain, expressible exactly in HUGEINT
    // modular arithmetic (h < 2^64 times A < 2^63 fits 2^127): a
    // recursive CTE walks the per-doc chain, reproduces each sample as
    // (h >> 48) reinterpreted int16, and aggregates the same exact
    // integer sums Spark computes from the DECODED samples. The WAV
    // encode -> decode round-trip this treats as identity is pinned
    // bit-for-bit by AudioWavSpec; everything else — seed, chain, sample
    // extraction, peak/rms/zero-crossing math — is genuinely re-derived.
    "q_mm6" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 800),
        |samples AS (
        |  SELECT doc_id, i,
        |    CASE WHEN h // 281474976710656 >= 32768
        |         THEN CAST(h // 281474976710656 AS BIGINT) - 65536
        |         ELSE CAST(h // 281474976710656 AS BIGINT) END AS v
        |  FROM gen WHERE i >= 1),
        |lagged AS (
        |  SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM samples)
        |SELECT doc_id, 16000 AS sample_rate, 800 AS n_samples,
        |  CAST(MAX(abs(v)) AS INTEGER) AS peak,
        |  sqrt(CAST(SUM(v * v) AS DOUBLE) / 800) AS rms,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM lagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_mm14" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 800),
        |samples AS (
        |  SELECT doc_id, i,
        |    CASE WHEN h // 281474976710656 >= 32768
        |         THEN CAST(h // 281474976710656 AS BIGINT) - 65536
        |         ELSE CAST(h // 281474976710656 AS BIGINT) END AS v
        |  FROM gen WHERE i >= 1),
        |pk AS (SELECT doc_id, MAX(abs(v)) AS peak FROM samples GROUP BY 1),
        |nv AS (
        |  SELECT s.doc_id, s.i,
        |    CASE WHEN pk.peak = 0 THEN s.v
        |         WHEN s.v < 0 THEN -CAST((abs(s.v) * 30000) // pk.peak AS BIGINT)
        |         ELSE CAST((s.v * 30000) // pk.peak AS BIGINT) END AS v
        |  FROM samples s JOIN pk ON pk.doc_id = s.doc_id),
        |lagged AS (
        |  SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM nv)
        |SELECT doc_id, 16000 AS sample_rate, 800 AS n_samples,
        |  CAST(MAX(abs(v)) AS INTEGER) AS peak,
        |  sqrt(CAST(SUM(v * v) AS DOUBLE) / 800) AS rms,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
        |       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM lagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q_mm2/q_mm4/q_mm5/q_mm13: the image twin of the audio chain
    // replication — syntheticPng's pixels are the same 64-bit LCG walk
    // (pixel = bits 40..63 of the state, split RGB), so luma frames,
    // channel statistics, the dHash bit pattern, and the post-resize
    // stats are all re-derivable in exact SQL. The PNG encode->decode
    // round-trip the oracles treat as identity is spec-pinned bitwise
    // (MultimodalSpec); everything else is genuinely re-computed.
    "q_mm4" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CAST((h // 1099511627776) % 16777216 AS BIGINT) AS v
        |  FROM gen WHERE i >= 1),
        |ch AS (
        |  SELECT doc_id, p, v // 65536 AS r, (v // 256) % 256 AS g, v % 256 AS b,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px)
        |SELECT doc_id, 16 AS width, 16 AS height,
        |  CAST(SUM(r) AS DOUBLE) / 256 AS mean_r,
        |  CAST(SUM(g) AS DOUBLE) / 256 AS mean_g,
        |  CAST(SUM(b) AS DOUBLE) / 256 AS mean_b,
        |  CAST(SUM(y) AS DOUBLE) / 256 AS mean_luma
        |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q_mm3: the resize picks are pixels p = 64y + 4x of the 16x16 chain
    // (NN picks row y*4, col x*4); the oracle re-derives each picked
    // pixel's packed value — what the query emits after a full
    // encode->decode round-trip of the resized image.
    "q_mm3" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CAST((h // 1099511627776) % 16777216 AS BIGINT) AS v
        |  FROM gen WHERE i >= 1)
        |SELECT doc_id, CAST(4 AS BIGINT) AS out_width, CAST(4 AS BIGINT) AS out_height,
        |  CAST(p // 64 AS BIGINT) AS y, CAST((p % 64) // 4 AS BIGINT) AS x, v
        |FROM px WHERE p % 64 < 16 AND p % 4 = 0
        |ORDER BY doc_id, y, x""".stripMargin,
    "q_mm2" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CAST((h // 1099511627776) % 16777216 AS BIGINT) AS v
        |  FROM gen WHERE i >= 1),
        |ch AS (
        |  SELECT doc_id, p,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px)
        |SELECT doc_id, CAST(p // 64 AS INTEGER) AS frame_idx, 16 AS n_bytes,
        |  CAST(SUM(y) AS DOUBLE) / 16 AS mean_byte
        |FROM ch WHERE p % 64 < 16
        |GROUP BY doc_id, p // 64
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_mm5" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CAST((h // 1099511627776) % 16777216 AS BIGINT) AS v
        |  FROM gen WHERE i >= 1),
        |ch AS (
        |  SELECT doc_id, p,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px),
        |xmap AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 3), (3, 5), (4, 7),
        |  (5, 8), (6, 10), (7, 12), (8, 14)) AS t(gx, x)),
        |lum AS (
        |  SELECT ch.doc_id, m.gx, g.gy, ch.y
        |  FROM ch
        |  JOIN (SELECT unnest(generate_series(0, 7)) AS gy) g ON TRUE
        |  JOIN xmap m ON ch.p = 32 * g.gy + m.x),
        |bits AS (
        |  SELECT a.doc_id,
        |    SUM(CASE WHEN a.y > b.y THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |        ELSE CAST(0 AS HUGEINT) END) AS uh
        |  FROM lum a JOIN lum b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8
        |  GROUP BY a.doc_id)
        |SELECT doc_id,
        |  CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |       THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS dhash
        |FROM bits ORDER BY doc_id""".stripMargin,
    "q_mm13" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CAST((h // 1099511627776) % 16777216 AS BIGINT) AS v
        |  FROM gen WHERE i >= 1),
        |picked AS (
        |  SELECT doc_id, v // 65536 AS r, (v // 256) % 256 AS g, v % 256 AS b,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px WHERE (p % 16) % 4 = 0 AND (p // 16) % 4 = 0)
        |SELECT doc_id, 4 AS width, 4 AS height,
        |  CAST(SUM(r) AS DOUBLE) / 16 AS mean_r,
        |  CAST(SUM(g) AS DOUBLE) / 16 AS mean_g,
        |  CAST(SUM(b) AS DOUBLE) / 16 AS mean_b,
        |  CAST(SUM(y) AS DOUBLE) / 16 AS mean_luma
        |FROM picked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q_mm7: the clip fixture's frames are per-(doc, scene) pixel chains,
    // so the oracle rebuilds every frame's dHash (8x8 grid) and re-derives
    // the consecutive-frame hammings and cut flags with bit_count(xor) —
    // the full shot-boundary pipeline re-computed in SQL.
    "q_mm7" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, f, 0 AS i,
        |    (CAST(doc_id * 1000 + f // 2 AS HUGEINT) * 11400714819323198485
        |      + 13787848793156543929) % 18446744073709551616 AS h
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS f) fr
        |  UNION ALL
        |  SELECT doc_id, f, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 64),
        |px AS (
        |  SELECT doc_id, f, i - 1 AS p,
        |    CAST((h // 1099511627776) % 16777216 AS BIGINT) AS v
        |  FROM gen WHERE i >= 1),
        |ch AS (
        |  SELECT doc_id, f, p,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px),
        |xmap AS (SELECT * FROM (VALUES (0, 0), (1, 0), (2, 1), (3, 2), (4, 3),
        |  (5, 4), (6, 5), (7, 6), (8, 7)) AS t(gx, x)),
        |lum AS (
        |  SELECT ch.doc_id, ch.f, m.gx, g.gy, ch.y
        |  FROM ch
        |  JOIN (SELECT unnest(generate_series(0, 7)) AS gy) g ON TRUE
        |  JOIN xmap m ON ch.p = 8 * g.gy + m.x),
        |bits AS (
        |  SELECT a.doc_id, a.f,
        |    SUM(CASE WHEN a.y > b.y THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |        ELSE CAST(0 AS HUGEINT) END) AS uh
        |  FROM lum a JOIN lum b
        |    ON a.doc_id = b.doc_id AND a.f = b.f AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8
        |  GROUP BY a.doc_id, a.f),
        |dh AS (
        |  SELECT doc_id, f,
        |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |         THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS dhash
        |  FROM bits),
        |lagged AS (
        |  SELECT doc_id, f, dhash,
        |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS pd
        |  FROM dh)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CASE WHEN pd IS NULL THEN NULL
        |       ELSE CAST(bit_count(xor(dhash, pd)) AS BIGINT) END AS hamming_prev,
        |  coalesce(bit_count(xor(dhash, pd)) > 10, FALSE) AS is_cut
        |FROM lagged ORDER BY doc_id, frame_idx""".stripMargin,
    // q_dedup15/q_dedup16: the planted near-dup PNGs hash from the SAME
    // chain (seed = doc_id // 2, odd ids black out pixel 0), so the
    // oracle computes every dHash and takes the brute-force Hamming<=3
    // pairs — which the pigeonhole banding must equal exactly (its spec
    // contract, now also oracle-enforced per run). q_dedup16 restricts to
    // pairs touching the day-2 batch (doc_id % 5 = 0).
    "q_dedup15" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id // 2 AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CASE WHEN doc_id % 2 = 1 AND i = 1 THEN 0
        |         ELSE CAST((h // 1099511627776) % 16777216 AS BIGINT) END AS v
        |  FROM gen WHERE i >= 1),
        |ch AS (
        |  SELECT doc_id, p,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px),
        |xmap AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 3), (3, 5), (4, 7),
        |  (5, 8), (6, 10), (7, 12), (8, 14)) AS t(gx, x)),
        |lum AS (
        |  SELECT ch.doc_id, m.gx, g.gy, ch.y
        |  FROM ch
        |  JOIN (SELECT unnest(generate_series(0, 7)) AS gy) g ON TRUE
        |  JOIN xmap m ON ch.p = 32 * g.gy + m.x),
        |bits AS (
        |  SELECT a.doc_id,
        |    SUM(CASE WHEN a.y > b.y THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |        ELSE CAST(0 AS HUGEINT) END) AS uh
        |  FROM lum a JOIN lum b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8
        |  GROUP BY a.doc_id),
        |dh AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |         THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS dhash
        |  FROM bits)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup16" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id // 2 AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 256),
        |px AS (
        |  SELECT doc_id, i - 1 AS p,
        |    CASE WHEN doc_id % 2 = 1 AND i = 1 THEN 0
        |         ELSE CAST((h // 1099511627776) % 16777216 AS BIGINT) END AS v
        |  FROM gen WHERE i >= 1),
        |ch AS (
        |  SELECT doc_id, p,
        |    (299 * (v // 65536) + 587 * ((v // 256) % 256) + 114 * (v % 256)) // 1000 AS y
        |  FROM px),
        |xmap AS (SELECT * FROM (VALUES (0, 0), (1, 1), (2, 3), (3, 5), (4, 7),
        |  (5, 8), (6, 10), (7, 12), (8, 14)) AS t(gx, x)),
        |lum AS (
        |  SELECT ch.doc_id, m.gx, g.gy, ch.y
        |  FROM ch
        |  JOIN (SELECT unnest(generate_series(0, 7)) AS gy) g ON TRUE
        |  JOIN xmap m ON ch.p = 32 * g.gy + m.x),
        |bits AS (
        |  SELECT a.doc_id,
        |    SUM(CASE WHEN a.y > b.y THEN CAST(1 AS HUGEINT) << (a.gy * 8 + a.gx)
        |        ELSE CAST(0 AS HUGEINT) END) AS uh
        |  FROM lum a JOIN lum b
        |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8
        |  GROUP BY a.doc_id),
        |dh AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |         THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS dhash
        |  FROM bits)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM dh a JOIN dh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
        |  AND bit_count(xor(a.dhash, b.dhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // q_mm11: same chain replication as q_mm6, then the box-filter pair
    // average in truncating integer division (DuckDB's `//` and Scala's
    // Int `/` both truncate toward zero) and the same feature math over
    // the resampled signal.
    "q_mm11" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 800),
        |samples AS (
        |  SELECT doc_id, i,
        |    CASE WHEN h // 281474976710656 >= 32768
        |         THEN CAST(h // 281474976710656 AS BIGINT) - 65536
        |         ELSE CAST(h // 281474976710656 AS BIGINT) END AS v
        |  FROM gen WHERE i >= 1),
        |resampled AS (
        |  SELECT a.doc_id, (a.i + 1) // 2 AS j, (a.v + b.v) // 2 AS w
        |  FROM samples a JOIN samples b
        |    ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  WHERE a.i % 2 = 1),
        |lagged AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY j) AS pw
        |  FROM resampled)
        |SELECT doc_id, 8000 AS sample_rate, 400 AS n_samples,
        |  CAST(MAX(abs(w)) AS INTEGER) AS peak,
        |  sqrt(CAST(SUM(w * w) AS DOUBLE) / 400) AS rms,
        |  CAST(SUM(CASE WHEN pw IS NOT NULL AND ((w >= 0) <> (pw >= 0))
        |       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM lagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q_mm12: noise sample i sits at padded position i + 40 (40 lead + 60
    // tail exact-zero samples, always under the threshold); the kept span
    // runs from the first to the last |v| > 100 noise sample.
    "q_mm12" ->
      """WITH RECURSIVE gen AS (
        |  SELECT doc_id, 0 AS i,
        |    (CAST(doc_id AS HUGEINT) * 11400714819323198485 + 13787848793156543929)
        |      % 18446744073709551616 AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    (h * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
        |  FROM gen WHERE i < 800),
        |samples AS (
        |  SELECT doc_id, i,
        |    CASE WHEN h // 281474976710656 >= 32768
        |         THEN CAST(h // 281474976710656 AS BIGINT) - 65536
        |         ELSE CAST(h // 281474976710656 AS BIGINT) END AS v
        |  FROM gen WHERE i >= 1),
        |loud AS (
        |  SELECT doc_id, min(i) AS fi, max(i) AS li
        |  FROM samples WHERE abs(v) > 100 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(900 AS BIGINT) AS n_in,
        |  CAST(coalesce(li - fi + 1, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(fi + 39, 900) AS BIGINT) AS lead_trimmed,
        |  CAST(CASE WHEN fi IS NULL THEN 0 ELSE 860 - li END AS BIGINT) AS tail_trimmed
        |FROM documents d LEFT JOIN loud ON d.doc_id = loud.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q_pipe4's plant is a pure function of doc_id (clip id's shots 0..2
    // carry scenes (id+k) % 1000), so the oracle genuinely checks the
    // whole pipeline: shot detection found exactly 3 shots per clip,
    // keyframes are one-per-shot, and the dHash near-dup found exactly
    // the shared-scene keyframe pairs (identical scenes -> hamming 0).
    "q_dedup19" ->
      """WITH s AS (
        |  SELECT d.doc_id, (d.doc_id + k.k) % 1000 AS scene
        |  FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k) k)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared_shots
        |FROM s a JOIN s b ON a.scene = b.scene AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q_pipe4" ->
      """WITH kf AS (
        |  SELECT d.doc_id * 100 + s.k AS kid, (d.doc_id + s.k) % 1000 AS scene
        |  FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k) s)
        |SELECT a.kid AS id_a, b.kid AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM kf a JOIN kf b ON a.scene = b.scene AND a.kid < b.kid
        |ORDER BY id_a, id_b""".stripMargin,
    "q_sim13" ->
      """WITH e AS (
        |  SELECT vec_id, label, pos,
        |    CAST(trunc(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT) AS xm
        |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) g),
        |cent AS (SELECT label, pos, CAST(SUM(xm) AS DECIMAL(18,0)) AS cs
        |         FROM e GROUP BY 1, 2),
        |cn AS (SELECT label, SUM(cs * cs) AS c2 FROM cent GROUP BY 1),
        |d AS (SELECT e.vec_id, e.label,
        |    SUM(CAST(e.xm AS DECIMAL(18,0)) * cent.cs) AS dot,
        |    SUM(e.xm * e.xm) AS x2
        |  FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
        |  GROUP BY 1, 2)
        |SELECT d.vec_id, d.label,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(x2 AS DOUBLE)) * sqrt(CAST(c2 AS DOUBLE)))
        |    AS cos_centroid
        |FROM d JOIN cn ON d.label = cn.label
        |ORDER BY d.vec_id""".stripMargin,
    "q_dq9" -> {
      val normSql =
        "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
      s"""WITH pn AS (
         |  SELECT vec_id, $normSql AS nrm
         |  FROM embeddings WHERE vec_id % 5 <> 0),
         |nx AS (
         |  SELECT vec_id, $normSql * 1.2 AS nrm
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |s AS (SELECT nrm, vec_id FROM pn
         |  WHERE ((vec_id % 1000000) * 2654435761) % 1000000 < 500000),
         |t AS (SELECT nrm, ntile(8) OVER (ORDER BY nrm, vec_id) AS b FROM s),
         |bounds AS (SELECT b, max(nrm) AS hi FROM t WHERE b < 8 GROUP BY b),
         |pa AS (SELECT 1 + (SELECT COUNT(*) FROM bounds WHERE hi < p.nrm) AS bucket,
         |    COUNT(*) AS n_prev FROM pn p GROUP BY 1),
         |pb AS (SELECT 1 + (SELECT COUNT(*) FROM bounds WHERE hi < q.nrm) AS bucket,
         |    COUNT(*) AS n_next FROM nx q GROUP BY 1),
         |na AS (SELECT COUNT(*) AS na FROM pn),
         |nb AS (SELECT COUNT(*) AS nb FROM nx),
         |bk AS (SELECT unnest(range(1, 9)) AS bucket),
         |w AS (SELECT bk.bucket,
         |    COALESCE(n_prev, 0) AS n_prev, COALESCE(n_next, 0) AS n_next,
         |    CAST(round((CAST(COALESCE(n_next, 0) + 1 AS DOUBLE) / CAST(nb + 8 AS DOUBLE)
         |        - CAST(COALESCE(n_prev, 0) + 1 AS DOUBLE) / CAST(na + 8 AS DOUBLE))
         |      * ln((CAST(COALESCE(n_next, 0) + 1 AS DOUBLE) / CAST(nb + 8 AS DOUBLE))
         |          / (CAST(COALESCE(n_prev, 0) + 1 AS DOUBLE) / CAST(na + 8 AS DOUBLE)))
         |      * 1e6, 0) AS BIGINT) AS term_micro
         |  FROM bk LEFT JOIN pa USING (bucket) LEFT JOIN pb USING (bucket)
         |    CROSS JOIN na CROSS JOIN nb)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_prev AS BIGINT) AS n_prev,
         |  CAST(n_next AS BIGINT) AS n_next, term_micro,
         |  CAST((SELECT SUM(term_micro) FROM w) AS DOUBLE) / 1e6 AS psi
         |FROM w ORDER BY bucket""".stripMargin
    },

    "q_sim15" ->
      """WITH e AS (
        |  SELECT vec_id % 2 AS h, label, pos,
        |    CAST(trunc(CAST(embedding[pos] AS DOUBLE) * 1048576.0) AS BIGINT) AS xm
        |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) g),
        |cent AS (SELECT label, h, pos, CAST(SUM(xm) AS DECIMAL(18,0)) AS cs
        |         FROM e GROUP BY 1, 2, 3),
        |a AS (SELECT label, pos, cs AS ca FROM cent WHERE h = 0),
        |b AS (SELECT label, pos, cs AS cb FROM cent WHERE h = 1),
        |j AS (SELECT a.label, SUM(ca * cb) AS dot,
        |    SUM(ca * ca) AS a2, SUM(cb * cb) AS b2
        |  FROM a JOIN b ON a.label = b.label AND a.pos = b.pos
        |  GROUP BY 1)
        |SELECT label,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE)))
        |    AS centroid_cos
        |FROM j ORDER BY label""".stripMargin,
    "q_sim11" ->
      s"""WITH a AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |           FROM embeddings WHERE vec_id IN (0, 1, 2))
         |SELECT query_id, vec_id, sim, rn FROM (
         |  SELECT a.query_id, e.vec_id, round(${cosSql("e.embedding", "qe")}, 6) AS sim,
         |    CAST(row_number() OVER (PARTITION BY a.query_id
         |      ORDER BY round(${cosSql("e.embedding", "qe")}, 6) DESC, e.vec_id) AS BIGINT) AS rn
         |  FROM embeddings e JOIN a ON e.label <> a.ql)
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
  )
}
