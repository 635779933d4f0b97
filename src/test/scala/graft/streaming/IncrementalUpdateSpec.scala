package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.StockPipeline

/** The reference's stated future — "daily stock data updates"
  * (`README.md:49`) — end-to-end: new price files stream into the
  * company/year-partitioned store as idempotent upserts. */
class IncrementalUpdateSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs of one merge into an existing store (measured on local[2]):
    * the touched-partition collect (1: per-task deduplication, no
    * shuffle), the upsert window's shuffle stage, the write repartition's
    * shuffle stage and the write. */
  private val MergeJobs = 4

  test("daily update: new day inserts, late correction replaces, no duplicates") {
    val symbols = Seq("AAA", "BBB").toDF("Symbol")
    def prices(start: String, days: Int) =
      StockPipeline.syntheticPrices(spark, symbols, start, days)
    val store = Files.createTempDirectory("graft_store").toString + "/store"
    val incoming = Files.createTempDirectory("graft_incoming").toString
    val ckpt = Files.createTempDirectory("graft_merge_ckpt").toString

    // seed the store: Mon 2024-01-01 .. Fri 2024-01-05 for 2 symbols
    val seed = prices("2024-01-01", 5)
    IncrementalUpdate.mergeBatch(seed, store, Seq("company", "year"), Seq("company", "Date"))
    val n0 = spark.read.parquet(store).count()
    assert(n0 === 10)

    // a new trading day (Mon 2024-01-08) arrives as a file
    prices("2024-01-08", 1).write.parquet(s"$incoming/f1")
    IncrementalUpdate.run(spark, s"$incoming/*", seed.schema, store, ckpt)
    assert(spark.read.parquet(store).count() === n0 + 2)

    // a LATE corrected file for 2024-01-03 arrives: same keys, new Close —
    // the merge must replace the old rows, not append next to them
    prices("2024-01-03", 1).withColumn("Close", lit(999.99))
      .write.parquet(s"$incoming/f2")
    IncrementalUpdate.run(spark, s"$incoming/*", seed.schema, store, ckpt)
    val after = spark.read.parquet(store)
    assert(after.count() === n0 + 2, "correction must upsert, not duplicate")
    val corrected = after
      .where(col("company") === "AAA" &&
        col("Date") === lit("2024-01-03").cast("timestamp"))
      .select("Close").as[Double].collect()
    assert(corrected.toSeq === Seq(999.99))

    // replaying the same merge body (simulated batch retry) is idempotent
    IncrementalUpdate.mergeBatch(
      prices("2024-01-03", 1).withColumn("Close", lit(999.99)),
      store, Seq("company", "year"), Seq("company", "Date"))
    assert(spark.read.parquet(store).count() === n0 + 2)

    // layout is the reference's company=/year= tree (...py:53-63)
    val top = new java.io.File(store).listFiles().filter(_.isDirectory).map(_.getName)
    assert(top.nonEmpty && top.forall(_.startsWith("company=")))
  }

  test("store read during merge is statically partition-pruned to touched partitions") {
    val symbols = Seq("AAA", "BBB").toDF("Symbol")
    val store = Files.createTempDirectory("graft_prune_store").toString + "/s"
    StockPipeline.syntheticPrices(spark, symbols, "2023-12-15", 40)
      .write.partitionBy("company", "year").parquet(store)
    // an update touching ONLY (AAA, 2024) — read it back so the plan has
    // no static filters of its own (the streaming micro-batch case)
    val incDir = Files.createTempDirectory("graft_prune_inc").toString + "/f1"
    StockPipeline.syntheticPrices(spark, Seq("AAA").toDF("Symbol"), "2024-01-08", 5)
      .write.parquet(incDir)
    val incoming = spark.read.parquet(incDir)
    val pruned = spark.read.parquet(store)
      .where(IncrementalUpdate.touchedPartitionFilter(incoming, Seq("company", "year")))
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), p.take(600))
    assert(p.contains("AAA"), "touched partition value must appear in PartitionFilters:\n" +
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString)
    assert(pruned.select("company", "year").distinct().count() === 1)
  }

  test("touchedPartitionFilter at 1k+ touched partitions: plan-time sane, pruning fires") {
    // a full-universe daily batch (the reference's ~1,062 symbols) touches
    // 1k+ (company, year) partitions — the OR-of-ANDs predicate must not
    // blow up analysis/planning, and must still reach PartitionFilters
    val store = Files.createTempDirectory("graft_fanout_store").toString + "/s"
    spark.range(60).select(
        concat(lit("C"), format_string("%03d", col("id") % 30)).as("company"),
        (lit(2023) + col("id").divide(30).cast("int")).as("year"),
        col("id").as("v"))
      .write.partitionBy("company", "year").parquet(store)
    val incoming = spark.range(1050).select(
      concat(lit("C"), format_string("%03d", col("id") % 525)).as("company"),
      (lit(2023) + col("id").divide(525).cast("int")).as("year"))
    val t0 = System.nanoTime()
    val pruned = spark.read.parquet(store)
      .where(IncrementalUpdate.touchedPartitionFilter(incoming, Seq("company", "year")))
    val plan = pruned.queryExecution.executedPlan.toString // forces full planning
    val planSec = (System.nanoTime() - t0) / 1e9
    info(f"planned 1050-partition predicate in $planSec%.1f s")
    assert(planSec < 30.0, f"planning took $planSec%.1f s — fall back to an IN-tuple filter")
    assert(plan.contains("PartitionFilters: ["), plan.take(600))
    // every store partition is inside the touched set (C000-C029 x both years)
    assert(pruned.select("company", "year").distinct().count() === 60)
    // a disjoint 1k-partition batch prunes the scan to nothing
    val disjoint = spark.range(1000).select(
      concat(lit("X"), col("id").cast("string")).as("company"),
      lit(2023).as("year"))
    val none = spark.read.parquet(store)
      .where(IncrementalUpdate.touchedPartitionFilter(disjoint, Seq("company", "year")))
    assert(none.count() === 0)
  }

  private val partCols = Seq("company", "year")
  private val keys = Seq("company", "Date")

  private def day(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")

  private def priceRows(rows: (String, Int, String, Double)*) =
    rows.map { case (c, y, d, close) => (day(d), close, c, y) }
      .toDF("Date", "Close", "company", "year")

  /** Rows as a sorted multiset, in a fixed column order. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("company", "year", "Date", "Close").collect().map(_.toString).toSeq.sorted

  private def storeRows(dir: String): Seq[String] = rowsOf(spark.read.parquet(dir))

  /** company=/year= directory -> its part files' (name, size). */
  private def partFiles(dir: String): Map[String, Seq[(String, Long)]] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).toSeq.flatMap { c =>
      c.listFiles().filter(_.isDirectory).toSeq.map { y =>
        s"${c.getName}/${y.getName}" -> y.listFiles()
          .filter(f => f.getName.startsWith("part-")).map(f => (f.getName, f.length())).toSeq
      }
    }.toMap

  test("mergeBatch path-built read: existing, new company, new year, escaped and null partitions") {
    val store = Files.createTempDirectory("graft_edge_store").toString + "/s"
    val old = priceRows(("AAA", 2023, "2023-12-29", 10.0), ("AAA", 2024, "2024-01-02", 11.0),
      ("BBB", 2024, "2024-01-02", 20.0))
    IncrementalUpdate.mergeBatch(old, store, partCols, keys)
    assert(partFiles(store).keySet === Set("company=AAA/year=2023", "company=AAA/year=2024",
      "company=BBB/year=2024"))
    val untouched = partFiles(store).filter(_._1 != "company=AAA/year=2024")

    val batch = priceRows(
      ("AAA", 2024, "2024-01-02", 11.5), // correction in an existing partition
      ("AAA", 2024, "2024-01-03", 12.0), // new day in the same partition
      ("CCC", 2024, "2024-01-03", 30.0), // new company
      ("BBB", 2025, "2025-01-02", 21.0), // new year of an existing company
      ("BRK/B", 2024, "2024-01-03", 40.0), // needs path escaping
      (null, 2024, "2024-01-03", 50.0)) // default partition
    val expected = rowsOf(IncrementalUpdate.upsert(old, batch, keys))
    IncrementalUpdate.mergeBatch(batch, store, partCols, keys)
    assert(storeRows(store) === expected)
    val files = partFiles(store)
    assert(files.keySet.contains("company=BRK%2FB/year=2024"), files.keySet)
    assert(files.keySet.contains("company=__HIVE_DEFAULT_PARTITION__/year=2024"), files.keySet)
    assert(files.size === 7)
    assert(files.forall(_._2.size == 1), s"one part file per partition dir: $files")
    assert(untouched.forall { case (d, fs) => files(d) == fs },
      s"untouched partitions rewritten: $untouched -> $files")

    // replay: the same rows, still one file per directory
    IncrementalUpdate.mergeBatch(batch, store, partCols, keys)
    assert(storeRows(store) === expected)
    assert(partFiles(store).forall(_._2.size == 1))

    // the escaped and the default partition are READ back by path: a next
    // day there keeps their earlier rows
    val next = priceRows(("BRK/B", 2024, "2024-01-04", 41.0), (null, 2024, "2024-01-04", 51.0))
    val expectedNext = rowsOf(IncrementalUpdate.upsert(spark.read.parquet(store), next, keys))
    IncrementalUpdate.mergeBatch(next, store, partCols, keys)
    assert(storeRows(store) === expectedNext)
    assert(storeRows(store).size === expected.size + 2)
  }

  test("mergeBatch job and write-task guard: no inference or checkpoint job, spread write") {
    val store = Files.createTempDirectory("graft_guard_store").toString + "/s"
    IncrementalUpdate.mergeBatch(priceRows(("AAA", 2024, "2024-01-02", 1.0),
      ("BBB", 2024, "2024-01-02", 2.0), ("CCC", 2024, "2024-01-02", 3.0)), store, partCols, keys)
    val batch = priceRows(("AAA", 2024, "2024-01-03", 1.5), ("BBB", 2024, "2024-01-03", 2.5),
      ("CCC", 2024, "2024-01-03", 3.5))
    // tasks of every stage, keyed by stage id: the write stage is the last
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.put(s.stageInfo.stageId, s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    val (jobs, _) = try countingJobs(IncrementalUpdate.mergeBatch(batch, store, partCols, keys))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs <= MergeJobs, s"a merge into an existing store ran $jobs jobs, expected " +
      s"$MergeJobs: touched-partition collect 1, window stage 1, write repartition stage 1, " +
      "write 1 (a distinct() collect of the touched partitions ran 2: a shuffle stage and its " +
      "result; a merge that infers the store schema and checkpoints the upsert ran 6)")
    import scala.jdk.CollectionConverters._
    val writeStage = stageTasks.asScala.maxBy(_._1)
    assert(writeStage._2 > 1, s"write stage ran in one task: $stageTasks")
    assert(storeRows(store).size === 6)
    assert(partFiles(store).forall(_._2.size == 1))
  }

  test("upsert is last-writer-wins and passes unmatched rows through") {
    val existing = Seq((1L, "old"), (2L, "keep")).toDF("k", "v")
    val incoming = Seq((1L, "new"), (3L, "ins")).toDF("k", "v")
    val out = IncrementalUpdate.upsert(existing, incoming, Seq("k"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
  }
}
