package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.operators.AcidTable

/** Streaming ingestion INTO the manifest-versioned ACID table (round 11)
  * — the composition the reference's Airflow DAG actually wants: a feed
  * lands continuously, every micro-batch becomes one atomic table
  * version, and readers (batch or other streams) see each version's
  * complete state or nothing.
  *
  * Exactly-once table state under at-least-once delivery comes from
  * [[AcidTable.commitAppendOnce]]'s idempotency token: the token is the
  * micro-batch id, recorded in the published manifest, so a replayed
  * batch (failure after the commit, before the checkpoint advanced)
  * finds its own token and no-ops instead of double-appending. This is
  * the manifest-layer mirror of [[BatchStore]]'s per-batch-id
  * subdirectory overwrite — there the STORE layout is the idempotency
  * record, here the MANIFEST is (data files are never overwritten, so
  * the replayed batch's orphan files stay invisible until a vacuum).
  *
  * Snapshot isolation does the rest: a long analytical read planned from
  * version N's file list is untouched by any number of commits landing
  * mid-read. */
object StreamingAcid {

  /** Drain an incoming parquet directory into the table: one committed
    * version per micro-batch. AvailableNow + checkpoint — re-runnable as
    * new files land. */
  def run(spark: SparkSession, incomingDir: String, schema: StructType,
          tableRoot: String, checkpoint: String): Unit =
    BatchStore.drain(spark, incomingDir, schema, checkpoint) { (batch, batchId) =>
      AcidTable.commitAppendOnce(batch, tableRoot, s"stream-batch-$batchId")
    }

  /** [[run]] with write-time EXPECTATIONS (round 13 — the Delta Live
    * Tables composition: streaming ingestion + CHECK expectations +
    * ACID): each micro-batch splits at the commit gate — passing rows
    * become one atomic table version, violating rows one atomic
    * `tableRoot/_quarantine` version tagged `__violations` — and BOTH
    * splits are replay-idempotent under the batch-id token (separate
    * roots ⇒ independent token spaces; a crash between the two commits
    * replays the batch, the landed split no-ops, the other completes). */
  def runExpect(spark: SparkSession, incomingDir: String, schema: StructType,
                tableRoot: String, checkpoint: String,
                expectations: Seq[(String, org.apache.spark.sql.Column)])
      : Unit =
    BatchStore.drain(spark, incomingDir, schema, checkpoint) { (batch, batchId) =>
      AcidTable.commitAppendExpect(batch, tableRoot, expectations,
        onViolation = "quarantine",
        token = Some(s"stream-batch-$batchId"))
    }
}
