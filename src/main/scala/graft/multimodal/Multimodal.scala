package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north star, BASELINE.json): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode / feature-extract / resize / frame-sample as
  * distributed partition-level transforms — no driver collect, executor
  * batches.
  *
  * The IMAGE path is a real codec: payloads are genuine PNG files
  * (encoded and decoded with the JDK's `javax.imageio`, zero extra
  * dependencies), and every downstream feature is computed from actually
  * decoded pixels. The byte-stream path ([[sampleFrames]]) stays
  * codec-free by design: it models modalities whose payload is already a
  * decoded sample stream (PCM audio, sensor traces), where framing and
  * feature math are the whole operator.
  */
object Multimodal {

  // ImageIO defaults to spilling scratch buffers to temp FILES; executors
  // decode thousands of small images, so keep the scratch in memory.
  ImageIO.setUseCache(false)

  /** One sampled "frame" with its extracted features. */
  case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, mean_byte: Double)

  /** Per-image metadata + channel statistics from REAL decoded pixels. */
  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double, mean_b: Double,
                           mean_luma: Double)

  /** One quarantined media payload: the id, the byte length (0 for a null
    * payload), and WHY the decode failed — enough to triage or re-fetch
    * without carrying the broken bytes through the pipeline. */
  case class QuarantinedMedia(doc_id: Long, n_bytes: Long, reason: String)

  // ---------------------------------------------------------------------
  // Payload stage: every operator over (doc_id, payload) rows runs its
  // per-row kernel through one of these, so a kernel is written once and
  // serves both the fail-fast and the quarantine form of its operator.
  // ---------------------------------------------------------------------

  /** Fail-fast payload stage for kernels emitting any number of rows per
    * payload (frames, shots, keyframes): `kernel` runs inside
    * `mapPartitions` on the executors — no driver collect — and its first
    * failure fails the job. */
  private[graft] def flatMapPayloads[T <: Product : TypeTag](binDf: DataFrame)(
      kernel: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] =
    binDf.select(col("doc_id").cast("long"), col("payload"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions(_.flatMap { case (id, payload) => kernel(id, payload) })(Encoders.product[T])

  /** [[flatMapPayloads]] for a kernel emitting one row per payload. */
  private[graft] def mapPayloads[T <: Product : TypeTag](binDf: DataFrame)(
      kernel: (Long, Array[Byte]) => T): Dataset[T] =
    flatMapPayloads(binDf)((id, payload) => Iterator.single(kernel(id, payload)))

  /** Crawl-scale fault isolation for every media decode path — the media
    * twin of `IngestEgress.readCsvWithQuarantine` (R6 semantics): a row
    * whose kernel throws (a corrupt or null payload) is routed to the
    * quarantine frame with a reason instead of killing the job, and good
    * rows are exactly what [[mapPayloads]] emits for them. Returns (clean,
    * quarantined). ONE decode pass: the parsed frame is materialized by
    * `localCheckpoint` and split — the two outputs would otherwise
    * re-decode every payload. Not `persist`: a persisted frame is pinned
    * by the CacheManager until an explicit unpersist, which a
    * per-micro-batch caller (StreamingDedup) never gets to do, while the
    * checkpoint's blocks free with the frame's GC. */
  private[graft] def quarantineSplit[T <: Product : TypeTag](binDf: DataFrame)(
      kernel: (Long, Array[Byte]) => T): (Dataset[T], Dataset[QuarantinedMedia]) = {
    val parsed = mapPayloads(binDf) { (id, payload) =>
      try (Some(kernel(id, payload)): Option[T], None: Option[QuarantinedMedia])
      catch {
        case NonFatal(e) =>
          (None, Some(QuarantinedMedia(id, if (payload == null) 0L else payload.length.toLong,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")))
      }
    }.localCheckpoint()
    (parsed.flatMap(_._1)(Encoders.product[T]),
      parsed.flatMap(_._2)(Encoders.product[QuarantinedMedia]))
  }

  /** Frame-sample a binary column holding an ALREADY-DECODED sample stream
    * (PCM audio, sensor bytes): every `stride` bytes take a `frameSize`
    * window and extract features. Runs as `mapPartitions` over the
    * executor partitions — no driver collect, batch-at-a-time. For images
    * use [[pngLumaFrames]], which really decodes first. */
  def sampleFrames(binDf: DataFrame, stride: Int, frameSize: Int): Dataset[Frame] =
    flatMapPayloads(binDf)(frames(_, _, stride, frameSize))

  private def frames(id: Long, samples: Array[Byte], stride: Int, frameSize: Int): Iterator[Frame] =
    samples.indices.by(stride).iterator.map { off =>
      val frame = samples.slice(off, math.min(off + frameSize, samples.length))
      val mean = if (frame.isEmpty) 0.0
                 else frame.map(b => (b & 0xFF).toLong).sum.toDouble / frame.length
      Frame(id, off / stride, frame.length, mean)
    }

  /** Read a DIRECTORY of media files as (doc_id, path, n_bytes, payload)
    * via Spark's native `binaryFile` source — the bridge from real files
    * on object storage to every operator in this module (all of them key
    * on `doc_id` + `payload`). `doc_id` is the xxhash64 of the file path:
    * stable across runs and partitionings, no driver-side id assignment.
    * Partition parallelism, predicate pushdown on path/size, and the
    * usual file-listing scale-out come from the built-in source. */
  def readBinaryDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(xxhash64(col("path")).as("doc_id"), col("path"),
        col("length").as("n_bytes"), col("content").as("payload"))

  /** Typed metadata for an opaque binary payload — pure Column exprs
    * (byte length + content hash), oracle-checkable. */
  def withBinaryMeta(df: DataFrame, textToBinary: String): DataFrame =
    df.withColumn("payload", col(textToBinary).cast("binary"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("content_sha", sha2(col("payload"), 256))

  // ---------------------------------------------------------------------
  // Real PNG codec path (javax.imageio — JDK-only, no added dependencies)
  // ---------------------------------------------------------------------

  /** Encode a packed 0xRRGGBB pixel array as a real PNG file. The JDK PNG
    * writer is deterministic for fixed pixels (fixed chunk layout + zlib
    * settings), so payload hashes are stable across runs. */
  def encodePng(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == width * height,
      s"pixel array has ${rgb.length} entries for ${width}x$height")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, rgb, 0, width)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL decode: parse the container format and return the image. Fails
    * fast on non-image bytes instead of propagating nulls. Despite the
    * historical name, `ImageIO.read` SNIFFS the container from the magic
    * bytes — JPEG/GIF/BMP payloads decode through this same entry (pinned
    * by JpegPathSpec), which is why the dedup/feature/quarantine
    * operators above it are format-agnostic. */
  def decodePng(payload: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    img
  }

  /** Encode a packed 0xRRGGBB pixel array as a real JPEG (round 8 — real
    * crawls are mostly JPEG, and every prior fixture was PNG). The
    * quality factor is pinned explicitly so the lossy round-trip is
    * deterministic for fixed pixels within a JDK; cross-engine exactness
    * is never claimed for decoded JPEG pixels (the format is lossy), so
    * only structural facts (dimensions, decodability, sniffed format)
    * feed oracle-checked output — pixel-derived values after a JPEG trip
    * are spec-bounded instead (dHash stability, JpegPathSpec). */
  def encodeJpeg(width: Int, height: Int, rgb: Array[Int],
                 quality: Float = 0.9f): Array[Byte] = {
    require(rgb.length == width * height,
      s"pixel array has ${rgb.length} entries for ${width}x$height")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, rgb, 0, width)
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** Container sniff from magic bytes — the same dispatch `ImageIO.read`
    * performs, surfaced as a cheap Column-side fact (works on truncated
    * payloads too, where a decode would fail). */
  def sniffFormat(payload: Array[Byte]): String =
    if (payload.length >= 8 && (payload(0) & 0xFF) == 0x89 &&
      payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G') "png"
    else if (payload.length >= 2 && (payload(0) & 0xFF) == 0xFF &&
      (payload(1) & 0xFF) == 0xD8) "jpeg"
    else "unknown"

  /** Packed 0xRRGGBB pixels of a decoded image, row-major. */
  def rgbPixels(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  /** Integer BT.601 luma plane of a decoded image — one byte per pixel,
    * (299r + 587g + 114b)/1000 in exact integer math (deterministic on
    * every JVM, unlike a float formula). */
  def lumaPlane(img: BufferedImage): Array[Byte] =
    rgbPixels(img).map { p =>
      val (r, g, b) = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
      ((299 * r + 587 * g + 114 * b) / 1000).toByte
    }

  /** The fixture stage every `synthetic*` generator shares: per input row,
    * `render(id)` builds the payload on the executors, emitted as
    * (doc_id, payload) — stands in for reading media files off object
    * storage. */
  private[multimodal] def synthesize(df: DataFrame, idCol: String)(
      render: Long => Array[Byte]): DataFrame =
    df.select(col(idCol).cast("long")).as(Encoders.scalaLong)
      .mapPartitions(_.map(id => (id, render(id))))(Encoders.product[(Long, Array[Byte])])
      .toDF("doc_id", "payload")

  /** `n` seeded pseudo-random 0xRRGGBB pixels (splitmix-seeded LCG chain —
    * stable across runs and partitionings): the pixel source of every
    * synthetic image, clip and scene fixture. */
  private[graft] def seededRgb(seed: Long, n: Int): Array[Int] = {
    val rgb = new Array[Int](n)
    var h = seed * 0x9E3779B97F4A7C15L + 0xBF58476D1CE4E5B9L
    var i = 0
    while (i < n) {
      h = h * 6364136223846793005L + 1442695040888963407L
      rgb(i) = ((h >>> 40) & 0xFFFFFF).toInt
      i += 1
    }
    rgb
  }

  /** Deterministic REAL-PNG payloads: per input row, doc-id-seeded pseudo
    * pixels ([[seededRgb]]) are encoded through the actual PNG writer on
    * the executors; everything downstream decodes genuine PNG bytes. */
  def syntheticPng(df: DataFrame, idCol: String, width: Int, height: Int): DataFrame =
    synthesize(df, idCol)(id => encodePng(width, height, seededRgb(id, width * height)))

  /** Deterministic MIXED-FORMAT crawl fixture (round 8): per input row,
    * doc-id-seeded pseudo pixels at doc-id-dependent dimensions
    * (w = 16 + 8·(id mod 3), h = 16 + 4·(id mod 5)), encoded as REAL PNG
    * when id mod 3 = 0 and REAL JPEG otherwise — and every 7th payload
    * truncated to its first 12 bytes (magic intact, body gone), the
    * corrupt-crawl case. Every structural fact (format, dimensions,
    * corruptness) is an exact function of doc_id, so the ingestion query
    * over this fixture is fully oracle-checkable even though JPEG pixel
    * content is lossy. */
  def syntheticMixedFormat(df: DataFrame, idCol: String): DataFrame =
    synthesize(df, idCol) { id =>
      val (w, h) = (16 + 8 * (id % 3).toInt, 16 + 4 * (id % 5).toInt)
      val rgb = seededRgb(id, w * h)
      val full = if (id % 3 == 0) encodePng(w, h, rgb) else encodeJpeg(w, h, rgb)
      if (id % 7 == 0) full.take(12) else full
    }

  /** Per-channel pixel statistics of one really-decoded image — the
    * kernel of [[imageFeatures]] and [[imageFeaturesQuarantined]]. */
  private def channelStats(id: Long, payload: Array[Byte]): ImageFeatures = {
    val img = decodePng(payload)
    val px = rgbPixels(img)
    var (sr, sg, sb, sy) = (0L, 0L, 0L, 0L)
    px.foreach { p =>
      val (r, g, b) = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
      sr += r; sg += g; sb += b; sy += (299 * r + 587 * g + 114 * b) / 1000
    }
    val n = px.length.toDouble
    ImageFeatures(id, img.getWidth, img.getHeight, sr / n, sg / n, sb / n, sy / n)
  }

  /** Decode every payload (really — `ImageIO.read` per row, on the
    * executors) and extract per-channel pixel statistics. */
  def imageFeatures(binDf: DataFrame): Dataset[ImageFeatures] =
    mapPayloads(binDf)(channelStats)

  /** [[imageFeatures]] with decode-failure quarantine ([[quarantineSplit]]):
    * [[imageFeatures]] is fail-fast by contract, but one corrupt payload
    * in a 100 TB crawl must not cost the whole pass. Returns (clean
    * features, quarantined). */
  def imageFeaturesQuarantined(binDf: DataFrame)
      : (Dataset[ImageFeatures], Dataset[QuarantinedMedia]) =
    quarantineSplit(binDf)(channelStats)

  /** Frame-sample the DECODED luma plane of real PNG payloads: decode on
    * the executors, project to BT.601 luma, then the same framing math as
    * [[sampleFrames]] — features come from actual pixels, not container
    * bytes. */
  def pngLumaFrames(binDf: DataFrame, stride: Int, frameSize: Int): Dataset[Frame] =
    flatMapPayloads(binDf)((id, payload) =>
      frames(id, lumaPlane(decodePng(payload)), stride, frameSize))

  /** 64-bit difference hash (dHash) of a decoded image — the classic
    * perceptual fingerprint for image near-dup detection: nearest-neighbor
    * resample the BT.601 luma plane to a 9x8 grid (exact integer picks,
    * any input size), then bit (y*8+x) = 1 iff luma(x,y) > luma(x+1,y).
    * Robust to re-encoding and small edits; Hamming distance between
    * hashes tracks visual difference. All-integer math — bitwise
    * deterministic on every JVM. */
  def dHash64(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val px = rgbPixels(img)
    def lumaAt(gx: Int, gy: Int): Int = {
      val p = px(math.min(gy * h / 8, h - 1) * w + math.min(gx * w / 9, w - 1))
      val (r, g, b) = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
      (299 * r + 587 * g + 114 * b) / 1000
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lumaAt(x, y) > lumaAt(x + 1, y)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  private def dHashRow(id: Long, payload: Array[Byte]): (Long, Long) =
    (id, dHash64(decodePng(payload)))

  /** Per-image dHash table (doc_id, dhash) — real decode per row on the
    * executors. */
  def imageDHashes(binDf: DataFrame): DataFrame =
    mapPayloads(binDf)(dHashRow).toDF("doc_id", "dhash")

  /** [[imageDHashes]] with decode-failure quarantine ([[quarantineSplit]])
    * — the fingerprint stage of dedup-on-arrival run against crawl
    * payloads. */
  def imageDHashesQuarantined(binDf: DataFrame)
      : (DataFrame, Dataset[QuarantinedMedia]) = {
    val (good, quar) = quarantineSplit(binDf)(dHashRow)
    (good.toDF("doc_id", "dhash"), quar)
  }

  /** Image near-duplicate pairs: dHash + the fingerprint pigeonhole join
    * (`NearDup.fingerprintPairs` — exact at Hamming <= 3, bucket-local,
    * band mode chosen by corpus size). The hash table is materialized, so
    * payloads decode exactly once. Callers holding a persisted (doc_id,
    * dhash) table call `NearDup.fingerprintPairs` on it directly, and
    * `NearDup.incrementalFingerprintPairs` probes a new batch against a
    * stored table (`IndexStore.writeDHashes`/`readDHashes`). Returns
    * (id_a, id_b, hamming). */
  def imageNearDupPairs(binDf: DataFrame, maxHamming: Int = 3): DataFrame =
    graft.operators.NearDup.fingerprintPairs(imageDHashes(binDf).localCheckpoint(),
      "doc_id", "dhash", maxHamming)

  /** Deterministic near-dup PNG fixture: consecutive ids (2k, 2k+1) render
    * the SAME seeded pixels except the odd id blacks out pixel (0,0) — a
    * one-cell luma change, so the planted pair's dHash distance is <= 1
    * while unrelated images sit near the ~32-bit random-hash expectation.
    * The planted structure mirrors `ScaleBench.syntheticDocs`' text dups. */
  def syntheticPngNearDups(df: DataFrame, idCol: String,
                           width: Int, height: Int): DataFrame =
    synthesize(df, idCol) { id =>
      val rgb = seededRgb(id >> 1, width * height)
      if ((id & 1L) == 1L) rgb(0) = 0x000000
      encodePng(width, height, rgb)
    }

  // Clip container magic: "GCLP" + u32 frame count + u32 frame lengths +
  // concatenated frame payloads (all big-endian).
  private val ClipMagic = Array('G', 'C', 'L', 'P').map(_.toByte)

  /** Write a multi-frame clip container with an EXPLICIT frame-length
    * index — what any real demuxer reads (an MP4's sample-size table, an
    * AVI's index chunk): magic, frame count, one u32 length per frame,
    * then the frame payloads back-to-back. Splitting is exact for ANY
    * frame bytes — no signature scanning, so compressed frame data
    * containing magic-like byte strings cannot mis-split. */
  def encodeClip(frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty, "a clip needs at least one frame")
    // Long-sum the sizes first: an Int sum would wrap for ~2 GB of frames
    // and hand ByteBuffer.allocate a meaningless negative size
    val total = 8L + 4L * frames.length + frames.map(_.length.toLong).sum
    require(total <= Int.MaxValue,
      s"clip payload would be $total bytes; a single payload is capped at 2 GB")
    val bb = java.nio.ByteBuffer.allocate(total.toInt)
    bb.put(ClipMagic).putInt(frames.length)
    frames.foreach(f => bb.putInt(f.length))
    frames.foreach(bb.put)
    bb.array()
  }

  /** Split a clip payload into its frames, in order, routing on the
    * container's own magic: a REAL RIFF/AVI payload goes through the
    * [[AviMjpeg]] chunk-walking demuxer (round 8 — so the whole clip
    * pipeline runs on genuine AVI/MJPEG files), a length-prefixed
    * [[encodeClip]] container reads its index — exact for any frame
    * content — and raw concatenated PNG files (a directory of real media
    * with no index) fall back to scanning for the 8-byte PNG signature
    * via [[splitPngFrames]], which carries that path's documented
    * caveat. */
  def splitClipFrames(payload: Array[Byte]): Seq[Array[Byte]] =
    if (AviMjpeg.isAvi(payload)) AviMjpeg.decodeFrames(payload)
    else if (Mp4Mjpeg.isMp4(payload)) Mp4Mjpeg.decodeFrames(payload)
    else if (payload.length >= 8 && ClipMagic.indices.forall(i => payload(i) == ClipMagic(i))) {
      val bb = java.nio.ByteBuffer.wrap(payload)
      bb.position(4)
      val n = bb.getInt
      require(n > 0 && payload.length.toLong >= 8L + 4L * n,
        s"clip header declares $n frames but holds ${payload.length} bytes")
      val lens = Array.fill(n)(bb.getInt)
      require(lens.forall(_ >= 0) &&
        lens.foldLeft(8L + 4L * n)(_ + _) == payload.length,
        "clip frame lengths do not tile the payload exactly")
      lens.map { len =>
        val f = new Array[Byte](len)
        bb.get(f)
        f
      }.toSeq
    } else splitPngFrames(payload)

  /** Signature-scan split of RAW concatenated PNG files (no container
    * index — e.g. a motion-JPEG-style dump). A signature byte-string
    * inside a frame's compressed data would mis-split — a ~2^-64-per-
    * kilobyte event; media WITH an index should use [[encodeClip]] /
    * [[splitClipFrames]], which is exact for any frame content. */
  def splitPngFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    def isSigAt(i: Int): Boolean = {
      var k = 0
      while (k < 8 && payload(i + k) == sig(k)) k += 1
      k == 8
    }
    val starts = (0 to payload.length - 8).filter(isSigAt)
    require(starts.nonEmpty && starts.head == 0, "payload is not a PNG clip")
    starts.zipAll(starts.drop(1), 0, payload.length)
      .map { case (s, e) => payload.slice(s, e) }
  }

  /** A per-frame row of [[shotBoundaries]]: Hamming distance of this
    * frame's dHash to the previous frame's (null for frame 0), and the
    * cut flag. */
  case class ShotFrame(doc_id: Long, frame_idx: Int, hamming_prev: Option[Long],
                       is_cut: Boolean)

  /** One demuxed clip frame with its dHash, its Hamming distance to the
    * previous frame's hash (None for frame 0) and whether that distance
    * exceeds the cut threshold. */
  private case class CutFrame(payload: Array[Byte], dhash: Long,
                              hammingPrev: Option[Long], isCut: Boolean)

  /** The clip kernel of [[shotBoundaries]], [[keyframes]] and
    * [[clipShotStatsQuarantined]]: demux the clip, REALLY decode and
    * dHash every frame, and run the cut test against the previous frame. */
  private def clipCuts(payload: Array[Byte], cutThreshold: Int): IndexedSeq[CutFrame] = {
    val frames = splitClipFrames(payload).toIndexedSeq
    val hashes = frames.map(f => dHash64(decodePng(f)))
    frames.indices.map { i =>
      val d = if (i == 0) None
              else Some(java.lang.Long.bitCount(hashes(i) ^ hashes(i - 1)).toLong)
      CutFrame(frames(i), hashes(i), d, d.exists(_ > cutThreshold))
    }
  }

  /** Shot-boundary (scene-cut) detection over clip payloads: flag frames
    * whose dHash Hamming distance to the previous frame exceeds
    * `cutThreshold` — the classic first stage of a video-curation
    * pipeline (sample one keyframe per shot instead of every frame).
    * Per-clip sequential work inside `mapPartitions`; clips fan out
    * across executors, so a corpus of clips scales with the clip count. */
  def shotBoundaries(binDf: DataFrame, cutThreshold: Int = 10): Dataset[ShotFrame] =
    flatMapPayloads(binDf)((id, payload) =>
      clipCuts(payload, cutThreshold).zipWithIndex.map { case (f, i) =>
        ShotFrame(id, i, f.hammingPrev, f.isCut)
      })

  /** Deterministic clip fixture: `nFrames` real PNG frames in a
    * length-prefixed [[encodeClip]] container, with a new scene (fresh
    * seeded pixels) every `shotLen` frames and identical frames within a
    * scene — so the true cut positions are exactly the multiples of
    * `shotLen`. With `scenePool > 0`, scene seeds draw from a SHARED pool
    * of `scenePool` scenes (seed = (id + shotNo) % scenePool), so
    * different clips contain bit-identical scenes — the planted structure
    * for cross-clip duplicate-shot detection; the default 0 keeps every
    * clip's scenes unique (the shot-boundary fixture). */
  def syntheticPngClip(df: DataFrame, idCol: String, nFrames: Int,
                       width: Int, height: Int, shotLen: Int,
                       scenePool: Long = 0L): DataFrame = {
    require(nFrames >= 1 && shotLen >= 1, "need nFrames >= 1 and shotLen >= 1")
    synthesize(df, idCol) { id =>
      encodeClip((0 until nFrames).map { f =>
        val scene = if (scenePool > 0L) (id + f / shotLen) % scenePool
                    else id * 1000L + f / shotLen
        encodePng(width, height, seededRgb(scene, width * height))
      })
    }
  }

  /** The planted scene frames both synthetic clip fixtures share: a fresh
    * seeded JPEG every `shotLen` frames, bit-identical bytes within a
    * scene (so within-shot dHash distance is exactly 0 despite JPEG's
    * lossiness — the property the q_mm16/q_mm17 oracles lean on). */
  private def sceneJpegFrames(id: Long, nFrames: Int, width: Int, height: Int,
                              shotLen: Int): Seq[Array[Byte]] = {
    val sceneJpeg = scala.collection.mutable.LongMap.empty[Array[Byte]]
    (0 until nFrames).map { f =>
      val scene = id * 1000L + f / shotLen
      sceneJpeg.getOrElseUpdate(scene,
        encodeJpeg(width, height, seededRgb(scene, width * height)))
    }
  }

  /** Deterministic REAL AVI/MJPEG clip fixture — [[syntheticPngClip]]'s
    * container-upgrade twin (the declared "video stand-in" gap): the same
    * planted scene structure ([[sceneJpegFrames]]) ships inside a
    * spec-conformant [[AviMjpeg]] RIFF container. Downstream the full
    * real-media path runs: RIFF chunk-walk demux → ImageIO sniffing JPEG
    * decode → dHash. */
  def syntheticAviClip(df: DataFrame, idCol: String, nFrames: Int,
                       width: Int, height: Int, shotLen: Int,
                       fps: Int = 25): DataFrame = {
    require(nFrames >= 1 && shotLen >= 1, "need nFrames >= 1 and shotLen >= 1")
    synthesize(df, idCol)(id => AviMjpeg.encode(
      sceneJpegFrames(id, nFrames, width, height, shotLen), width, height, fps))
  }

  /** Deterministic REAL MP4 clip fixture (round 10) — [[syntheticAviClip]]
    * with the ISO-BMFF container instead of RIFF: the same planted scene
    * structure ships inside a spec-conformant [[Mp4Mjpeg]] file, so the
    * full real-media path runs: atom-walk demux through the
    * stsd/stsz/stsc/stco sample tables → ImageIO sniffing JPEG decode →
    * dHash. */
  def syntheticMp4Clip(df: DataFrame, idCol: String, nFrames: Int,
                       width: Int, height: Int, shotLen: Int,
                       fps: Int = 25): DataFrame = {
    require(nFrames >= 1 && shotLen >= 1, "need nFrames >= 1 and shotLen >= 1")
    synthesize(df, idCol)(id => Mp4Mjpeg.encode(
      sceneJpegFrames(id, nFrames, width, height, shotLen), width, height, fps))
  }

  /** Per-clip structural rollup of [[shotBoundaries]]'s rows. */
  case class ClipShotStats(doc_id: Long, n_frames: Long, n_shots: Long)

  /** The clip pipeline's quarantine entry: demux + decode + cut-count per
    * clip with per-CLIP fault isolation ([[quarantineSplit]]) — a clip
    * whose container grammar or any frame payload fails to parse
    * quarantines whole, with the reason. Good clips emit (n_frames,
    * n_shots = 1 + cuts past `cutThreshold`). Scale shape: clips fan out
    * across executors; per-clip work is the codec volume. */
  def clipShotStatsQuarantined(binDf: DataFrame, cutThreshold: Int = 10)
      : (Dataset[ClipShotStats], Dataset[QuarantinedMedia]) =
    quarantineSplit(binDf) { (id, payload) =>
      val cuts = clipCuts(payload, cutThreshold)
      ClipShotStats(id, cuts.length.toLong, cuts.count(_.isCut) + 1L)
    }

  /** One selected keyframe: the clip, the shot's ordinal within it, the
    * frame index the keyframe came from, the frame payload, and the
    * frame's dHash (already computed by the cut detection — carrying it
    * saves downstream fingerprint stages a second decode of every
    * keyframe). */
  case class Keyframe(doc_id: Long, shot_idx: Int, frame_idx: Int,
                      payload: Array[Byte], dhash: Long)

  /** Keyframe selection — the stage after [[shotBoundaries]] in a
    * video-curation pipeline: detect the cuts (same decode + dHash +
    * threshold as shotBoundaries), then emit exactly ONE frame per shot
    * (the shot's first frame — deterministic), shrinking the frame volume
    * every downstream stage pays by ~the mean shot length. The emitted
    * payloads are real PNG frames, so the output feeds
    * [[imageNearDupPairs]] (cross-clip duplicate-scene detection, q_pipe4)
    * or any other image operator directly. Per-clip sequential work inside
    * `mapPartitions`; clips fan out across executors. */
  def keyframes(binDf: DataFrame, cutThreshold: Int = 10): Dataset[Keyframe] =
    flatMapPayloads(binDf)((id, payload) =>
      clipCuts(payload, cutThreshold).zipWithIndex
        .filter { case (f, i) => i == 0 || f.isCut }
        .zipWithIndex.map { case ((f, i), shot) => Keyframe(id, shot, i, f.payload, f.dhash) })

  /** Clip-level near-duplicate pairs via keyframe fingerprints — the
    * stage after [[keyframes]] in the video-dedup pipeline: two clips are
    * near-dups when they share at least `minSharedShots` identical-scene
    * shots (keyframe dHash equality — re-encoded copies of a scene hash
    * identically, like the image path). ONE hash-equality join over the
    * per-clip DISTINCT scene-hash table, grouped into per-pair shared
    * counts — bucket-local on the 64-bit hash space, never all-pairs; a
    * viral scene crowding past `maxBucketSize` clips is dropped by the
    * same cap the text/image band joins use (its equality carries no
    * clip-similarity signal, exactly like a boilerplate shingle).
    * Returns (id_a, id_b, shared_shots). */
  def clipNearDups(binDf: DataFrame, minSharedShots: Int = 2,
                   cutThreshold: Int = 10,
                   maxBucketSize: Int = graft.operators.NearDup.DefaultMaxBucketSize)
      : DataFrame =
    clipNearDupsFromHashes(
      keyframeHashes(binDf, cutThreshold).localCheckpoint(),
      minSharedShots, maxBucketSize)

  /** Per-keyframe fingerprint table (doc_id, shot_idx, dhash) — the
    * persistable artifact of the keyframe pipeline: both the cross-clip
    * scene near-dup (q_pipe4) and the clip-level near-dup (q_dedup19)
    * read it, so one decode pass serves both (Memo'd in queries.Shared,
    * a stored table at cluster scale). */
  def keyframeHashes(binDf: DataFrame, cutThreshold: Int = 10): DataFrame =
    keyframes(binDf, cutThreshold).toDF()
      .select(col("doc_id"), col("shot_idx"), col("dhash"))

  /** [[clipNearDups]] over an already-computed [[keyframeHashes]] table
    * (materialized — it feeds both join sides). */
  def clipNearDupsFromHashes(kfHashes: DataFrame, minSharedShots: Int = 2,
                             maxBucketSize: Int = graft.operators.NearDup.DefaultMaxBucketSize)
      : DataFrame = {
    val scenes = graft.operators.NearDup.dropCrowdedBuckets(
      kfHashes.select(col("doc_id"), col("dhash"))
        .distinct(), // a clip revisiting a scene counts it once
      Seq("dhash"), maxBucketSize)
    val a = scenes.select(col("doc_id").as("id_a"), col("dhash"))
    val b = scenes.select(col("doc_id").as("id_b"), col("dhash"))
    a.join(b, Seq("dhash"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_shots"))
      .where(col("shared_shots") >= minSharedShots)
  }

  /** REAL resize: decode, nearest-neighbor downsample by `factor` (exact
    * integer pixel picks — no interpolation, so bitwise deterministic on
    * every JVM), re-encode as PNG. Emits the resized payload with its new
    * dimensions and byte size; same distributed shape (binary in, smaller
    * binary out, per-partition batches). */
  def resizePng(binDf: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    mapPayloads(binDf) { (id, payload) =>
      val img = decodePng(payload)
      val (w, h) = (img.getWidth, img.getHeight)
      val (ow, oh) = ((w + factor - 1) / factor, (h + factor - 1) / factor)
      val in = rgbPixels(img)
      val out = new Array[Int](ow * oh)
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) { out(y * ow + x) = in(y * factor * w + x * factor) & 0xFFFFFF; x += 1 }
        y += 1
      }
      val resized = encodePng(ow, oh, out)
      (id, ow, oh, resized, resized.length)
    }.toDF("doc_id", "out_width", "out_height", "resized", "n_bytes_resized")
  }
}
