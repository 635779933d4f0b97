package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}
import graft.util.ForklessLocalFs

/** The per-batch incremental store every streaming operator here keeps:
  * a parquet directory with one `batch=<id>` subdirectory per
  * micro-batch, each written with overwrite.
  *
  * Replay idempotence (failure after a write, before the checkpoint
  * advanced): the stored side excludes only the replayed batch's OWN
  * earlier write, keyed by the `batch` partition column — rows that share
  * ids with the batch but came from other batches stay — and the write
  * re-targets the same subdirectory. A replay therefore sees the same
  * stored side, returns the same result and leaves one copy of the batch:
  * at-least-once delivery converges to exactly-once state and output.
  */
object BatchStore {

  private[streaming] def exists(spark: SparkSession, dir: String): Boolean =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(dir))

  /** Overwrite `dir/batch=<batchId>` with `rows`, through the local file
    * system that sets file modes without a `chmod` process per file and
    * directory ([[ForklessLocalFs]]). */
  def write(rows: DataFrame, dir: String, batchId: Long): Unit =
    rows.write.options(ForklessLocalFs.writeOptions).mode("overwrite")
      .parquet(s"$dir/batch=$batchId")

  /** One micro-batch against the store at `dir`: materializes `fresh`
    * (the probe and the write both read it), reads every other batch's
    * rows projected to `fresh.columns` (zero rows of `fresh`'s schema when
    * the store does not exist yet) with the store's known schema —
    * `fresh`'s columns plus the `batch` partition column, so no step runs
    * a schema-inference job — runs `probe(fresh, stored)`, then
    * writes `fresh` as batch `batchId`. The probe's result is materialized
    * before the write: on replay the overwrite replaces files its lazy
    * plan would still read. */
  def step(fresh: DataFrame, dir: String, batchId: Long)
          (probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = fresh.sparkSession
    val batch = fresh.localCheckpoint()
    val stored =
      if (exists(spark, dir))
        spark.read.schema(fresh.schema.add("batch", LongType)).parquet(dir)
          .where(!(col("batch") <=> lit(batchId)))
          .select(batch.columns.map(col): _*)
      else batch.limit(0)
    val out = probe(batch, stored).localCheckpoint()
    write(batch, dir, batchId)
    out
  }

  /** Drain `incomingDir` once: every file not yet in `checkpoint` is read
    * as `schema`, and `body(batch, batchId)` runs per micro-batch
    * (AvailableNow — process the backlog, then stop). Re-runnable as new
    * files land. */
  def drain(spark: SparkSession, incomingDir: String, schema: StructType,
            checkpoint: String)(body: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema).parquet(incomingDir)
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
