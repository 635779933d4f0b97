package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.IngestEgress

/** The reference's own stated future: "daily stock data updates"
  * (`README.md:49`). New files of price rows land in an incoming
  * directory; each micro-batch MERGES them into the company/year-
  * partitioned store (`stock_data_airflow_local_aws_s3.py:53-63`'s
  * layout) — an upsert, not an append, so a re-delivered or corrected day
  * replaces the old row instead of duplicating it.
  *
  * Effective exactly-once WITHOUT a transactional table format: the
  * foreachBatch body is IDEMPOTENT. Per batch it (1) reads only the
  * partitions the batch touches, by path, (2) upserts new over old keyed
  * by `keyCols`, (3) rewrites only those partitions via dynamic partition
  * overwrite. Replaying a batch (failure after a complete or partial
  * write, before the checkpoint advanced) re-derives byte-identical
  * partition contents — incoming rows upsert over their own previous merge
  * — so at-least-once delivery converges to exactly-once state. (Contrast
  * a bare `append` in foreachBatch, which duplicates rows on replay; the
  * production-grade alternative is a format with a commit log — see
  * [[StreamOps.sinkPartitioned]] for the append-shaped native file sink.)
  *
  * The rewrite reads the partitions it replaces, with no lineage break:
  * dynamic partition overwrite stages its files and deletes and replaces
  * the target partitions only at job commit, after every task has read
  * its input.
  *
  * Scale shape: a daily update touches ~one (company, current-year)
  * partition per symbol, so the per-batch read+rewrite is bounded by the
  * update's partition footprint, never the store size. The shuffles are
  * one hash partition on `keyCols` for the upsert window and the sized
  * write repartition of [[IngestEgress.writePartitioned]].
  */
object IncrementalUpdate {

  /** Last-writer-wins upsert: rows from `incoming` replace same-key rows
    * of `existing`; unmatched rows pass through. One shuffle (window on
    * the key). `keyCols` must be unique within each input. */
  def upsert(existing: DataFrame, incoming: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__src").asc)
    incoming.withColumn("__src", lit(0))
      .unionByName(existing.withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__src", "__rn")
  }

  /** The distinct partition tuples of `incoming`: columns 0 until n are
    * the typed values, columns n until 2n the same values cast to string
    * as the partitioned writer renders them into directory names. One row
    * per TOUCHED PARTITION (a daily batch touches ≤ one (company, year) per
    * symbol) — bounded metadata, the same driver-side partition listing a
    * metastore does, not a data collect. One job and no exchange: each
    * task deduplicates its own tuples, so the driver receives at most
    * (input partitions × touched tuples) rows and deduplicates those. */
  private def touchedPartitions(incoming: DataFrame, partitionCols: Seq[String]): Seq[Row] = {
    val tuples = incoming.select(
      partitionCols.map(col) ++ partitionCols.map(col(_).cast("string")): _*)
    tuples.mapPartitions(_.distinct)(Encoders.row(tuples.schema)).collect().toSeq.distinct
  }

  /** Static partition predicate selecting exactly the partitions present
    * in `incoming`, which the scan planner folds into `PartitionFilters`
    * (plan-asserted in the spec). A runtime semi join on the partition key
    * does NOT prune here — DPP declines the shape (no selective predicate
    * on the build side) and the store scan would read every partition.
    *
    * Shape matters at wide fan-out: a full-universe batch touches 1k+
    * partitions, and an OR of per-partition AND-equalities builds a
    * left-deep Column tree that overflows the analyzer's stack around a
    * thousand terms (measured). Non-null tuples therefore become ONE flat
    * IN over the partition-column struct; only tuples containing a null
    * keep the null-safe `<=>` AND form (IN's equality would never match
    * the store's default partition), and those are rare by construction. */
  def touchedPartitionFilter(incoming: DataFrame, partitionCols: Seq[String]): Column = {
    val touched = touchedPartitions(incoming, partitionCols)
    val (withNull, noNull) =
      touched.partition(r => partitionCols.indices.exists(r.isNullAt))
    val inClause =
      if (noNull.isEmpty) None
      else if (partitionCols.lengthCompare(1) == 0)
        Some(col(partitionCols.head).isin(noNull.map(_.get(0)): _*))
      else Some(struct(partitionCols.map(col): _*).isin(noNull.map(r =>
        struct(partitionCols.indices.map(i => lit(r.get(i))): _*)): _*))
    val nullClauses = withNull.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }
    (inClause.toSeq ++ nullClauses).reduceOption(_ || _).getOrElse(lit(false))
  }

  /** Merge one batch into the partitioned store at `storeDir`. Idempotent
    * — see class doc.
    *
    * Reads ONLY the partitions present in `incoming`, by path: each touched
    * tuple becomes its directory, escaped as the writer escapes it (a null
    * or empty value is `__HIVE_DEFAULT_PARTITION__`), and only directories
    * that exist are read (a new company or year has none yet). The read
    * carries the known schema — `incoming`'s data columns, then the
    * partition columns, typed as in `incoming` — so it runs no schema
    * inference and lists no untouched partition. The rewrite goes through
    * [[IngestEgress.writePartitioned]] with dynamic partition overwrite:
    * its explicit repartition count spreads the touched partitions over
    * the cores (AQE would coalesce an unsized one into a single writing
    * task, see [[IngestEgress.compactPartitioned]]), and its exchange
    * separates the scan stage from the write stage. */
  def mergeBatch(incoming: DataFrame, storeDir: String,
                 partitionCols: Seq[String], keyCols: Seq[String]): Unit = {
    val spark = incoming.sparkSession
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = partitionCols.size
    val paths = touchedPartitions(incoming, partitionCols)
      .map(r => partitionCols.indices.map(i =>
        ExternalCatalogUtils.getPartitionPathString(partitionCols(i), r.getString(n + i)))
        .mkString(s"$storeDir/", "/", ""))
      .filter(p => fs.exists(new Path(p)))
    val merged = if (paths.isEmpty) incoming else {
      val schema = StructType(incoming.schema.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(incoming.schema(_)))
      val existing = spark.read.schema(schema).option("basePath", storeDir).parquet(paths: _*)
      upsert(existing, incoming, keyCols)
    }
    IngestEgress.writePartitioned(merged, storeDir, partitionCols, dynamic = true)
  }

  /** Drain the incoming directory into the store ([[BatchStore.drain]]),
    * one [[mergeBatch]] per micro-batch. Re-runnable: the checkpoint
    * remembers which files were consumed, and the merge itself is
    * idempotent under replay. */
  def run(spark: SparkSession, incomingDir: String, schema: StructType,
          storeDir: String, checkpoint: String,
          partitionCols: Seq[String] = Seq("company", "year"),
          keyCols: Seq[String] = Seq("company", "Date")): Unit =
    BatchStore.drain(spark, incomingDir, schema, checkpoint) { (batch, _) =>
      mergeBatch(batch, storeDir, partitionCols, keyCols)
    }
}
