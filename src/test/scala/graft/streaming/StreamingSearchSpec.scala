package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Bm25

/** Search-index maintenance under ingestion: after every micro-batch the
  * merged index must EQUAL a from-scratch index of the union corpus —
  * scores byte-identical, replays convergent. */
class StreamingSearchSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark joins data fast"),
    (2L, "slow scans read data"),
    (3L, "spark spark everywhere"),
    (4L, "joins and more joins"),
    (5L, "unrelated prose entirely"),
    (6L, "data data data spark"))

  private val queries = Seq((1L, "spark"), (1L, "data"), (2L, "joins"))
    .toDF("query_id", "term")

  private def scoresOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSet

  private def fullScores(ids: Set[Long]): Set[(Long, Long, Long)] =
    scoresOf(Bm25.scoreMicro(
      Bm25.postings(corpus.filter(c => ids(c._1)).toDF("doc_id", "text"),
        "doc_id", col("text")), queries))

  test("per-batch scores equal a from-scratch index of the union corpus") {
    val store = Files.createTempDirectory("graft_ssearch").toString + "/p"
    val b1 = corpus.take(3).toDF("doc_id", "text")
    val b2 = corpus.drop(3).toDF("doc_id", "text")

    val s1 = scoresOf(StreamingSearch.processBatch(b1, store, queries,
      batchId = 0L))
    assert(s1 === fullScores(Set(1L, 2L, 3L)))

    val s2 = scoresOf(StreamingSearch.processBatch(b2, store, queries,
      batchId = 1L))
    assert(s2 === fullScores(corpus.map(_._1).toSet),
      "after batch 2 the merged index must equal indexing all six docs")
  }

  test("batch replay converges: identical scores, no doubled postings") {
    val store = Files.createTempDirectory("graft_ssearch_rp").toString + "/p"
    val b1 = corpus.take(3).toDF("doc_id", "text")
    val b2 = corpus.drop(3).toDF("doc_id", "text")
    StreamingSearch.processBatch(b1, store, queries, batchId = 0L)
    val first = scoresOf(StreamingSearch.processBatch(b2, store, queries,
      batchId = 1L))
    // crash-after-write replay: same batch id again
    val replay = scoresOf(StreamingSearch.processBatch(b2, store, queries,
      batchId = 1L))
    assert(replay === first)
    // the store holds each (doc, term) posting exactly once
    val stored = spark.read.parquet(store)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).count()
    assert(stored === 0L)
  }
}
