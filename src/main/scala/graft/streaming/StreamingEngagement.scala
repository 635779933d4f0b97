package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.Sessionize

/** Engagement-dashboard maintenance under continuous ingestion: the
  * streaming composition of q_sess4 (WAU / trailing-4-week MAU /
  * stickiness). Each micro-batch of raw events is reduced to its distinct
  * (user_id, wk) pairs — the SUFFICIENT STATISTIC for every engagement
  * metric, tiny next to the events — which are written to a store; the
  * dashboard recomputes from the merged pair set. Raw events are read
  * once, at arrival, and never again.
  *
  * WAU and MAU are COUNT(DISTINCT user) aggregates, which duplicate
  * (user, wk) pairs CANNOT change, so the merged store equals a full
  * recompute over the union of all ingested events by construction (the
  * spec asserts it); the [[BatchStore]] protocol keeps replayed batches
  * from growing the store. At cluster scale the store is partitioned by
  * `wk`, and a dashboard refresh prunes to the weeks the new batch
  * touched (each batch can only change weeks in [min wk, max wk + 3]).
  */
object StreamingEngagement {

  /** One micro-batch: writes the batch's (user_id, wk) pairs to the store
    * as batch `batchId` and returns the full (week, wau, mau, stickiness)
    * table over the merged activity set. */
  def processBatch(newEvents: DataFrame, storeDir: String, batchId: Long,
                   userCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    BatchStore.step(Sessionize.userWeeks(newEvents, userCol, tsCol), storeDir, batchId) {
      (uw, stored) => Sessionize.engagementFromUserWeeks(stored.unionByName(uw))
    }
}
