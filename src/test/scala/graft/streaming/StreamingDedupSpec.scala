package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Dedup-on-arrival: a duplicate landing in a LATER batch is caught
  * against the band store built from earlier batches — no corpus
  * recompute. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs of one warm [[StreamingDedup.processBatch]] step on an existing
    * band store (measured on local[2]). */
  private val StepJobs = 8

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away " * 4

  test("late-arriving duplicate is flagged against the persisted band index") {
    val incoming = Files.createTempDirectory("graft_sdedup_in").toString
    val bands = Files.createTempDirectory("graft_sdedup_bands").toString + "/b"
    val cands = Files.createTempDirectory("graft_sdedup_cands").toString + "/c"
    val ckpt = Files.createTempDirectory("graft_sdedup_ckpt").toString
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema

    // batch 1: two distinct docs
    Seq((0L, base), (1L, "completely different content about spark engines " * 4))
      .toDF("doc_id", "text").write.parquet(s"$incoming/f1")
    StreamingDedup.run(spark, s"$incoming/*", schema, bands, cands, ckpt)
    assert(spark.read.parquet(cands).count() === 0, "no dups yet")

    // batch 2: an exact dup of doc 0 and a fresh doc
    Seq((2L, base), (3L, "yet another unrelated document body entirely " * 4))
      .toDF("doc_id", "text").write.parquet(s"$incoming/f2")
    StreamingDedup.run(spark, s"$incoming/*", schema, bands, cands, ckpt)
    def candidatePairs: Set[(Long, Long)] = spark.read.parquet(cands)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairs = candidatePairs
    assert(pairs.contains((0L, 2L)),
      s"late dup must pair with the stored original, got $pairs")
    assert(!pairs.exists(p => Set(p._1, p._2).contains(3L)),
      "unrelated doc must not be a candidate")

    // band store grew to cover all four docs
    assert(spark.read.parquet(bands).select("__id").distinct().count() === 4)

    // replayed micro-batch (store already holds this batch's bands, writes
    // re-target the same batch subdirs): identical candidates, no
    // self-pairs, no duplicate band rows
    val batch2 = Seq((2L, base), (3L, "yet another unrelated document body entirely " * 4))
      .toDF("doc_id", "text")
    val replayed = StreamingDedup.processBatch(batch2, bands,
        batchId = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(replayed === Set((0L, 2L)), s"replay must re-emit exactly the original pairs, got $replayed")
    assert(!replayed.exists(p => p._1 == p._2), "no self-pairs on replay")
    assert(spark.read.parquet(bands).select("__id").distinct().count() === 4)
    assert(spark.read.parquet(bands).count() ===
      spark.read.parquet(bands).distinct().count(), "band store has no duplicate rows after replay")
  }

  test("embedding batch: store-served semantic pairs equal the restricted " +
    "full recompute, and a replayed batch is idempotent") {
    val cells = Files.createTempDirectory("graft_sdedup_cells").toString + "/s"
    def vecs(rows: (Long, Long, Array[Float])*) =
      rows.toSeq.toDF("__cluster", "vec_id", "embedding")
        .select(col("__cluster"), col("vec_id"), col("embedding"))
    val day1 = vecs(
      (0L, 1L, Array(1f, 0f, 0f, 0f)),
      (0L, 2L, Array(1f, 0.01f, 0f, 0f)),   // ~parallel to id 1
      (1L, 3L, Array(0f, 1f, 0f, 0f)))
    val day2 = vecs(
      (0L, 4L, Array(0.9f, 0.1f, 0f, 0f)),  // near ids 1 and 2
      (1L, 5L, Array(0f, -1f, 0f, 0f)),     // anti-parallel to id 3
      (0L, 6L, Array(0f, 0f, 1f, 0f)))      // orthogonal to cell 0
    val c1 = StreamingDedup.processEmbeddingBatch(day1, cells, batchId = 0L)
      .as[(Long, Long)].collect().toSet
    assert(c1 === Set((1L, 2L)), s"day-1 new×new only, got $c1")
    val c2 = StreamingDedup.processEmbeddingBatch(day2, cells, batchId = 1L)
      .as[(Long, Long)].collect().toSet
    assert(c2 === Set((1L, 4L), (2L, 4L)), s"new×stored pairs, got $c2")

    // incremental == full recompute restricted to pairs touching day 2
    val full = graft.operators.SemDedup.pairsWithinCells(
        day1.unionByName(day2).localCheckpoint(), "vec_id", "embedding", 0.5)
      .as[(Long, Long)].collect().toSet
    val day2Ids = Set(4L, 5L, 6L)
    assert(c2 === full.filter(p => day2Ids(p._1) || day2Ids(p._2)))

    // replay of batch 1 (same batchId): identical output, store unchanged
    val replay = StreamingDedup.processEmbeddingBatch(day2, cells, batchId = 1L)
      .as[(Long, Long)].collect().toSet
    assert(replay === c2, "replay must emit the original candidate set")
    assert(spark.read.parquet(cells).count() === 6,
      "replay must overwrite its own subdirectory, never append a second copy")
  }

  test("graph batch: day-2 links append-only, stored adjacency untouched, " +
    "replay idempotent") {
    val cells = Files.createTempDirectory("graft_sgraph_cells").toString + "/s"
    val edges = Files.createTempDirectory("graft_sgraph_edges").toString + "/e"
    def vecs(rows: (Long, Long, Array[Float])*) =
      rows.toSeq.toDF("__cluster", "vec_id", "embedding")
    val day1 = vecs(
      (0L, 1L, Array(1f, 0f, 0f, 0f)),
      (0L, 2L, Array(1f, 0.01f, 0f, 0f)),
      (1L, 3L, Array(0f, 1f, 0f, 0f)))
    val day2 = vecs(
      (0L, 4L, Array(0.9f, 0.1f, 0f, 0f)),   // cell 0: links to 1, 2
      (1L, 5L, Array(0.01f, 1f, 0f, 0f)))    // cell 1: links to 3
    val e1 = StreamingDedup.processGraphBatch(day1, cells, edges, m = 2,
      batchId = 0L)
    // batch 0 on an empty store: within-batch links only
    assert(e1.select("src", "dst").as[(Long, Long)].collect().toSet ===
      Set((1L, 2L), (2L, 1L)), "cell-0 pair links both ways; singleton cell 1 has none")
    val e2 = StreamingDedup.processGraphBatch(day2, cells, edges, m = 2,
        batchId = 1L)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    // new-src lists hit stored members; every forward edge is mirrored
    assert(e2 === Set((4L, 1L), (4L, 2L), (1L, 4L), (2L, 4L),
      (5L, 3L), (3L, 5L)), s"got $e2")
    // replay of batch 1: identical edges, stores unchanged (no second copy)
    val replay = StreamingDedup.processGraphBatch(day2, cells, edges, m = 2,
        batchId = 1L)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(replay === e2, "replay must emit the original edge set")
    assert(spark.read.parquet(cells).count() === 5)
    assert(spark.read.parquet(edges).select("src", "dst").distinct().count() ===
      spark.read.parquet(edges).count(), "edge store has no duplicate rows after replay")
    // incremental == restricted full recompute for the NEW-src lists
    val all = day1.unionByName(day2)
      .select(col("__cluster"), col("vec_id").as("__id"), col("embedding").as("__vec"))
    val fullNew = graft.operators.NswAnn.linkBatch(
        all.where(col("__id") >= 4L).limit(0), all, m = 2) // empty batch sanity
    assert(fullNew.count() === 0)
  }

  test("doc id recurring in a later batch keeps the stored version's pairs") {
    // Exclusion is keyed by BATCH, not doc id: when id 5 legitimately
    // recurs in batch 1 with different text, batch 1's other docs must
    // still pair against the batch-0 (stored) version of id 5.
    val bands = Files.createTempDirectory("graft_sdedup_rebands").toString + "/b"
    val other = "completely different content about spark engines " * 4
    StreamingDedup.processBatch(
      Seq((5L, base), (6L, other)).toDF("doc_id", "text"), bands, batchId = 0L)
    val pairs = StreamingDedup.processBatch(
      Seq((5L, "a totally rewritten second version of this document " * 4),
          (7L, base)).toDF("doc_id", "text"), bands, batchId = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 7L)),
      s"new doc must pair with the STORED version of the recurring id, got $pairs")
  }

  test("a warm dedup step on an existing band store reads it without schema inference") {
    val bands = Files.createTempDirectory("graft_sdedup_jobs").toString + "/b"
    def docs(id: Long, text: String) = Seq((id, text * 4)).toDF("doc_id", "text")
    StreamingDedup.processBatch(docs(0L, base), bands, 0L)
    StreamingDedup.processBatch(docs(1L, "another body of text entirely apart "), bands, 1L)
    val (jobs, out) = countingJobs(
      StreamingDedup.processBatch(docs(2L, base), bands, 2L))
    assert(out.select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((0L, 2L)))
    assert(jobs <= StepJobs, s"a warm step ran $jobs jobs, expected $StepJobs (a step that " +
      s"infers the stored schema ran ${StepJobs + 1})")
  }
}
