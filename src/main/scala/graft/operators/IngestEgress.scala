package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.ForklessLocalFs

/** Faithful-core ingest/egress (SURVEY.md §2.A R1/R10/R13, §2.B Q-SCAN3 /
  * Q-SINK1): declared-schema CSV with dirty-typed casts, and the
  * Hive-partitioned Snappy Parquet sink — without the reference's
  * 26.5k-tiny-files anti-pattern (`README.md:66` flags it itself).
  */
object IngestEgress {

  /** Schema-declared CSV scan (reference: inferred `pd.read_csv`,
    * `stock_data_airflow_local_aws_s3.py:98-100`; we declare instead —
    * inference at 100 TB means a second full pass over the data). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** R6 fault isolation at the FILE level: permissive CSV read that routes
    * malformed lines to a quarantine frame instead of failing the job or
    * silently dropping them — the ingest-side twin of
    * `StockPipeline.validateSplit` (the reference swallows per-symbol
    * failures with a print, `...py:44-46`). Returns (clean, quarantined
    * raw lines). The scan is persisted once: Spark disallows querying ONLY
    * the internal corrupt-record column of a streaming-parsed CSV, and the
    * two outputs would otherwise re-parse the file. */
  def readCsvWithQuarantine(spark: SparkSession, path: String,
                            schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    val raw = spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).csv(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (raw.where(col("_corrupt_record").isNull).drop("_corrupt_record"),
      raw.where(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw_line")))
  }

  /** Dirty-typed numeric parse for screener-export columns
    * (`company_symbols.csv:2`: `$146.865`, `0.208%`, `1,234,567`):
    * strip currency/percent/thousands markers, then ANSI-safe cast
    * (try_cast semantics via regexp guard -> null, never a runtime error). */
  def parseDirtyNumber(c: Column): Column = {
    val cleaned = regexp_replace(trim(c), "[$,%\\s]", "")
    when(cleaned.rlike("^-?[0-9]+(\\.[0-9]+)?$"), cleaned.cast("double"))
  }

  /** `"True"/"False"` string -> boolean (processed-CSV `Data_Exising` col). */
  def parseDirtyBool(c: Column): Column =
    when(lower(trim(c)) === "true", lit(true))
      .when(lower(trim(c)) === "false", lit(false))

  /** Hive-partitioned Snappy Parquet sink — the reference's physical design
    * (`...py:53-63`, `README.md:9,63`) minus its per-(company,year)
    * 250-row files: we hash-repartition by the partition columns first so
    * each partition directory lands in one task and gets one well-sized
    * file, and rely on the commit protocol instead of the reference's
    * manual temp-dir cleanup (R12).
    *
    * The repartition count is explicit (the session's shuffle partitions,
    * i.e. its cores): AQE coalesces an unsized repartition of a few
    * thousand rows into ONE partition, and one task then writes every
    * partition file in series (the trap [[compactPartitioned]] notes too).
    * A sized repartition is never coalesced, so the files spread over the
    * cores. `dynamic` (the daily merge) replaces only the partitions
    * written; otherwise the whole `path` is overwritten.
    *
    * A local `path` is written through [[graft.util.ForklessLocalFileSystem]]:
    * Hadoop's default local file system starts a `chmod` process for each
    * directory and file the write creates, four per partition file. With
    * the files spread over every core those spawns ran concurrently, took
    * most of the write stage's time and made it follow the host's load. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       dynamic: Boolean = false): Unit =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        partitionCols.map(col): _*)
      .write.mode("overwrite")
      .options(ForklessLocalFs.writeOptions)
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy(partitionCols: _*)
      .option("compression", "snappy")
      .parquet(path)

  /** Relational shadow of the partitioned write: the per-partition manifest
    * (Q-SINK1) — what the driver can hash-check without filesystem access. */
  def partitionManifest(df: DataFrame, partitionCols: Seq[Column]): DataFrame =
    df.groupBy(partitionCols: _*).agg(count(lit(1)).as("n_rows"))

  /** Small-files compaction — the remediation for the reference's ~26.5k
    * 250-row files (`README.md:66` flags the problem itself). Rewrites a
    * parquet dataset into ~`targetRowsPerFile`-row files; at cluster scale
    * this is the periodic maintenance job that keeps NameNode/listing and
    * task-scheduling overhead proportional to data, not to history. Writes
    * to a fresh path — compacting in place while reading is unsafe. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetRowsPerFile: Long): Unit = {
    val df = spark.read.parquet(inPath)
    val n = df.count()
    val files = math.max(1L, math.ceil(n.toDouble / targetRowsPerFile).toLong)
    df.repartition(files.toInt)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(outPath)
  }

  /** Partition-PRESERVING compaction: like [[compact]] but keeps the Hive
    * directory layout (so partition pruning keeps working) and sizes file
    * counts PER PARTITION — a hot date gets several files, a cold one gets
    * exactly one. Shape: one count aggregation over the partition keys, a
    * broadcast of the (partition -> file target) table, then ONE shuffle on
    * (partition cols, deterministic row-hash bucket) so each partition
    * directory receives ~its target file count. No driver-side file
    * listing, no per-partition loop — the 100 TB maintenance-job shape. */
  def compactPartitioned(spark: SparkSession, inPath: String, outPath: String,
                         partitionCols: Seq[String],
                         targetRowsPerFile: Long): Unit = {
    val df = spark.read.parquet(inPath)
    val pcols = partitionCols.map(col)
    val targets = df.groupBy(pcols: _*).agg(count(lit(1)).as("__n"))
      .withColumn("__files",
        greatest(lit(1L), ceil(col("__n") / lit(targetRowsPerFile.toDouble))))
      .drop("__n")
    val dataCols = df.columns.filterNot(partitionCols.contains).map(col).toSeq
    // Null-safe equality (<=>) per partition column: a NULL partition value
    // is a legal Hive partition (__HIVE_DEFAULT_PARTITION__, read back as
    // null), and a plain equi-join would silently drop those rows — data
    // loss in a job whose contract is a lossless rewrite. The target table
    // carries renamed keys so the join stays a broadcast hash join on the
    // null-safe condition and the output keeps df's original columns.
    val renamedTargets = broadcast(partitionCols.foldLeft(targets) {
      (t, c) => t.withColumnRenamed(c, s"__t_$c")
    })
    val joinCond = partitionCols.map(c => col(c) <=> col(s"__t_$c")).reduce(_ && _)
    val bucketed = df.join(renamedTargets, joinCond)
      .drop(partitionCols.map(c => s"__t_$c"): _*)
      .withColumn("__bucket", pmod(xxhash64(dataCols: _*), col("__files")))
      .drop("__files")
    // explicit count (sum of per-partition targets — a bounded metadata
    // aggregate, like the other dimension-scale collects): an unsized
    // repartition lets AQE coalesce small outputs back into shared tasks,
    // re-fragmenting directories; range partitioning gives each
    // (partition, bucket) group its own task => exact file counts.
    val nOut = targets.agg(sum(col("__files"))).head.getLong(0).toInt
    bucketed.repartitionByRange(math.max(1, nOut), (pcols :+ col("__bucket")): _*)
      .drop("__bucket")
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .option("compression", "snappy")
      .parquet(outPath)
  }

  /** COUNT/MIN/MAX served from parquet FOOTER STATISTICS — the scan reads
    * row-group metadata, not rows (on a 100 TB table: thousands of footer
    * reads instead of a full-table scan). Spark only pushes aggregates
    * through the DataSourceV2 parquet path, so the read runs in a child
    * session with parquet taken off `useV1SourceList` — the engine-wide V1
    * read path (and every other query's plan) is untouched. Pushdown is
    * plan-asserted in the spec (`PushedAggregation` in the scan node);
    * supported aggregates: COUNT(*)/COUNT(col), MIN/MAX on non-string
    * atomic columns, no filter, no non-partition grouping. */
  def footerStatsScan(spark: SparkSession, path: String)
                     (aggs: Seq[Column]): DataFrame = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.read.parquet(path).agg(aggs.head, aggs.tail: _*)
  }
}
