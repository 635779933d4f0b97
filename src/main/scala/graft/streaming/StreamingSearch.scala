package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Bm25

/** Search-index maintenance under continuous ingestion: the streaming
  * composition of `Bm25.incrementalPostings` (q_srch4's batch form). Each
  * micro-batch of documents is (1) tokenized into postings — batch-local
  * work, the indexed corpus is never re-read; (2) scored against the
  * standing query set over the merged index; (3) written to the postings
  * store.
  * Because tf/dl are per-(doc, term) local and df/N/avgdl re-derive from
  * the merged postings at query time (`Bm25.scoreMicro`), the merged index
  * EQUALS a full rebuild after every batch — the spec asserts scores
  * byte-identical to a from-scratch index of the union corpus.
  *
  * The postings store follows the [[BatchStore]] protocol, so
  * at-least-once delivery converges to exactly-once index state and
  * exactly-once score output. At cluster scale the store is bucketed by
  * `term` (the inverted-index layout), and per-query scoring prunes to the
  * query terms' buckets.
  */
object StreamingSearch {

  /** One micro-batch: writes the batch's postings to the store as batch
    * `batchId` and returns (query_id, doc_id, score_micro) over the merged
    * index. `queries`: the standing (query_id, term) set — tiny, broadcast
    * by the scorer. */
  def processBatch(newDocs: DataFrame, postingsDir: String, queries: DataFrame,
                   batchId: Long,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    BatchStore.step(Bm25.postings(newDocs, idCol, col(textCol)), postingsDir, batchId) {
      (newPost, stored) => Bm25.scoreMicro(stored.unionByName(newPost), queries)
    }
}
