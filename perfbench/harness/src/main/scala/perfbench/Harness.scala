package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.pipeline.StockPipeline
import graft.streaming.IncrementalUpdate

/** One benchmark run in one JVM: set-up, a closed loop with one client for
  * `--seconds`, then untimed correctness checks. Writes JSON lines to
  * `<work>/events.jsonl`; `perfbench/run.py` turns them into metrics.
  *
  * Usage: Harness --workload daily_merge|query_mix --seed N --seconds S
  *   --trace 0|1 --work DIR --cpus N
  */
object Harness {

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: String = apply("work")
  }

  // Workload sizes; perfbench/notes.json records why.
  val Symbols = 32
  val Days = 300
  val Fixture = "/root/testdata/sf0.01"
  val Queries = Seq("q_sim16", "q_sim4", "q_dedup9", "q_graph1", "q_agg18", "q_ta17",
    "q_feat2", "q_join9")

  val start: LocalDate = LocalDate.of(2000, 1, 1)
  val partitionCols = Seq("company", "year")
  val keyCols = Seq("company", "Date")
  val WarmMerges = 10
  val MinPasses = 2
  val UniverseSeed = 1062L

  def main(argv: Array[String]): Unit = {
    val o = Opts(argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val ev = new Events(s"${o.work}/events.jsonl")
    ev.emit("ev" -> "jvm_start", "epoch_ms" ->
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    // The engine's session config, as graft.Bench builds it.
    val cpus = o("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ev.emit("ev" -> "session_ready", "epoch_ms" -> System.currentTimeMillis())
    // Every workload names the query list: the trace run of each reports the
    // per-query layer metrics, 0 where it runs no queries. run.py checks the
    // query_mix results against DuckDB over the same fixture.
    ev.emit("ev" -> "queries", "fixture" -> Fixture, "queries" -> Queries)
    val rec = new Recorder(spark, ev)
    var crashed = false
    try {
      o("workload") match {
        case "daily_merge" => dailyMerge(o, spark, rec, ev)
        case "query_mix" => queryMix(o, spark, rec, ev)
        case w => sys.error(s"unknown workload $w")
      }
    } catch { case NonFatal(e) =>
      crashed = true
      e.printStackTrace()
      ev.emit("ev" -> "crash", "err" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    } finally {
      ev.emit("ev" -> "end", "peak_rss_mb" -> peakRssMb())
      spark.stop()
      ev.close()
    }
    sys.exit(if (crashed) 1 else 0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Heap still in use after a full collection at the end of the timed
    * loop: what the run retains (caches, memoized intermediates, session
    * state), in MB. Unlike peak RSS it does not depend on when the
    * collector happened to run. */
  private def liveHeap(ev: Events): Unit = {
    // Spark's ContextCleaner frees unreferenced broadcasts and shuffles
    // asynchronously after a collection; give it time before the last one.
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(300)
    }
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    ev.emit("ev" -> "live_heap", "mb" -> used / 1048576.0)
  }

  private def setupDone(ev: Events, fields: (String, Any)*): Unit =
    ev.emit(Seq[(String, Any)]("ev" -> "setup_done", "epoch_ms" -> System.currentTimeMillis(),
      "cpu_ticks" -> Recorder.cpuTicks()) ++ fields: _*)

  /** Parquet part files below `dir`, as (path, bytes). */
  def partFiles(dir: String): Seq[(String, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => p.toString -> Files.size(p)).toVector
    finally s.close()
  }

  /** company=/year= leaf directories below `dir`. */
  def partitionDirs(dir: String): Int =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("company="))
      .map(d => Option(d.listFiles()).toSeq.flatten.count(_.getName.startsWith("year="))).sum

  private def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Inputs.storeSchema).parquet(dir)

  /** Set-up: the reference's own job (symbols CSV -> acquisition ->
    * validate/screen -> company/year Snappy Parquet) builds the store the
    * merges update. Recorded as a `backfill` op so the trace run counts
    * its layers; checked against the independent expression path
    * (`syntheticPrices`) rather than the DSv2 source that wrote it.
    * Returns the reference checksum the store must equal. */
  private def backfill(o: Opts, spark: SparkSession, rec: Recorder, ev: Events, csv: String,
                       syms: Seq[String], store: String): Checksum = {
    val trading = Inputs.tradingDays(start, Days)
    val done = rec.op("backfill", "store", o.trace) { _ =>
      StockPipeline.runFromSource(spark, csv, store, start.toString, Days)
    }
    val result = done.value.getOrElse(sys.error("backfill failed"))
    // The checks below run inside set-up; their time is reported as
    // untimed so that setup_s leaves it out.
    val c0 = System.nanoTime()
    val expRows = syms.size.toLong * trading.size
    val expParts = syms.size * trading.map(_.getYear).distinct.size
    val stored = Checksum.of(readStore(spark, store), Inputs.storeCols)
    val reference = Checksum.of(StockPipeline.syntheticPrices(spark,
      StockPipeline.loadSymbols(spark, csv), start.toString, Days), Inputs.storeCols)
    val quarantined = result.quarantined.count()
    val files = partFiles(store)
    rec.note(done.id, "files_written" -> files.size, "store_bytes" -> files.map(_._2).sum,
      "rows" -> stored.rows)
    rec.check("backfill.rows", stored.rows == expRows, s"rows ${stored.rows} != $expRows")
    rec.check("backfill.partitions", partitionDirs(store) == expParts,
      s"partitions ${partitionDirs(store)} != $expParts")
    rec.check("backfill.quarantine", quarantined == 0L, s"$quarantined quarantined rows")
    rec.check("backfill.checksum", stored == reference, s"store $stored != syntheticPrices $reference")
    ev.emit("ev" -> "untimed", "s" -> (System.nanoTime() - c0) / 1e9)
    if (o.trace) {
      // The source layer alone: the same acquisition scan into a sink that
      // discards rows.
      rec.op("acquire", "noop", traced = true) { _ =>
        StockPipeline.acquirePrices(spark, syms, start.toString, Days)
          .write.format("noop").mode("overwrite").save()
      }
    }
    reference
  }

  // ------------------------------------------------------------- daily_merge

  /** Consecutive trading-day batches, one row per symbol, each merged into
    * the backfilled company/year store after the previous merge returns. */
  def dailyMerge(o: Opts, spark: SparkSession, rec: Recorder, ev: Events): Unit = {
    // The symbol universe is fixed, as the reference's symbols CSV is; the
    // seed draws the daily batches. (With a few dozen symbols hashed onto
    // nproc shuffle partitions, a per-seed universe changes the task
    // balance, and with it the merge time, from seed to seed.)
    val syms = Inputs.tickers(UniverseSeed, Symbols)
    val csv = s"${o.work}/symbols.csv"
    Inputs.writeSymbolsCsv(csv, UniverseSeed, syms)
    val store = s"${o.work}/store"
    val base = backfill(o, spark, rec, ev, csv, syms, store)
    // Warm merges: the first merges pay codegen and JIT costs; merge time
    // falls over about the first ten merges of a JVM (1.4 s to 1.0 s).
    val days = Inputs.nextTradingDays(Inputs.tradingDays(start, Days).last, 2000)
    // Batches merged without error; the store must hold them on top of the
    // backfill. Their checksum is taken after the timed loop.
    var merged = Vector.empty[DataFrame]
    for (day <- days.take(WarmMerges)) {
      val batch = Inputs.dailyBatch(spark, o.seed, syms, day)
      IncrementalUpdate.mergeBatch(batch, store, partitionCols, keyCols)
      merged :+= batch
    }
    var last = merged.last
    setupDone(ev)

    val t0 = System.nanoTime()
    var k = WarmMerges
    while ((System.nanoTime() - t0) / 1e9 < o.seconds && k < days.size) {
      val batch = Inputs.dailyBatch(spark, o.seed, syms, days(k))
      // The trace run alternates traced and untraced merges.
      val traced = o.trace && k % 2 == 1
      val filterS = if (!traced) 0.0 else {
        val f0 = System.nanoTime()
        IncrementalUpdate.touchedPartitionFilter(batch, partitionCols)
        (System.nanoTime() - f0) / 1e9
      }
      val before = if (traced) partFiles(store).map(_._1).toSet else Set.empty[String]
      val done = rec.op("merge", days(k).toString, traced) { _ =>
        IncrementalUpdate.mergeBatch(batch, store, partitionCols, keyCols)
      }
      if (traced) {
        val added = partFiles(store).filterNot(f => before.contains(f._1))
        rec.note(done.id, "partition_filter_s" -> filterS, "files_written" -> added.size,
          "store_bytes" -> added.map(_._2).sum)
      }
      if (done.value.isDefined) merged :+= batch
      last = batch
      k += 1
    }
    liveHeap(ev)

    // Untimed checks over the whole store: exact content (backfilled
    // history plus every merged day), unique keys, idempotent replay.
    val expected = base + Checksum.of(merged.reduce(_ union _), Inputs.storeCols)
    val after = Checksum.of(readStore(spark, store), Inputs.storeCols)
    rec.check("daily_merge.content", after == expected,
      s"store $after != backfill + batches $expected")
    val keys = readStore(spark, store).select(keyCols.map(col): _*).distinct().count()
    rec.check("daily_merge.unique_keys", keys == after.rows, s"$keys distinct keys for ${after.rows} rows")
    IncrementalUpdate.mergeBatch(last, store, partitionCols, keyCols)
    val replayed = Checksum.of(readStore(spark, store), Inputs.storeCols)
    rec.check("daily_merge.replay", replayed == after, s"replay changed the store: $after -> $replayed")
  }

  // --------------------------------------------------------------- query_mix

  /** The named queries, each pass in a seed-permuted order, after one
    * untimed warm pass. */
  def queryMix(o: Opts, spark: SparkSession, rec: Recorder, ev: Events): Unit = {
    val dir = Fixture
    val names = Queries
    val registry = SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")

    // SparkEntry.prepare (the IVF index and PQ codes) costs about as much
    // as the rest of the set-up, and only the trace run can afford it
    // within the benchmark's time budget. Untraced runs skip it: the first
    // query that needs the IVF index builds it during the warm pass.
    val prepareS = if (!o.trace) 0.0 else {
      val p0 = System.nanoTime()
      SparkEntry.prepare(spark, dir)
      (System.nanoTime() - p0) / 1e9
    }
    // Warm pass in name order: Memo builds and codegen. It also dumps each
    // result for run.py's DuckDB and recall checks; its row counts are what
    // every timed execution must reproduce.
    val out = s"${o.work}/results"
    val warmRows = names.sorted.map { q =>
      val w0 = System.nanoTime()
      val n = try {
        registry(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        spark.read.parquet(s"$out/$q").count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] warm $q failed: $e"); -1L }
      ev.emit("ev" -> "warm", "query" -> q, "wall_s" -> (System.nanoTime() - w0) / 1e9)
      q -> n
    }.toMap
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    setupDone(ev, "prepare_s" -> prepareS, "cached_bytes" -> cachedBytes)
    names.foreach(q => rec.check(s"query_mix.warm.$q", warmRows(q) >= 0, "threw in the warm pass"))
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Events.json(oracle))

    // Whole passes only, so each pass weighs every query once. At least
    // MinPasses in every run: pass time keeps falling over the first passes
    // of a JVM (JIT of the query builders), so a pass count that followed
    // the host's speed mixed colder and warmer samples from run to run. The
    // trace run alternates traced and untraced executions of each query,
    // which also takes two passes.
    val rnd = new Random(o.seed)
    val t0 = System.nanoTime()
    var pass = 0
    while ((System.nanoTime() - t0) / 1e9 < o.seconds || pass < MinPasses) {
      rnd.shuffle(names).foreach { q =>
        val traced = o.trace && (pass + names.indexOf(q)) % 2 == 0
        val done = rec.op("query", q, traced) { mark =>
          val df = registry(q)(spark, dir)
          mark("build_s")
          df.count()
        }
        done.value.foreach(n => rec.check(s"query_mix.rows.$q", n == warmRows(q),
          s"$n rows, warm pass had ${warmRows(q)}", Some(done.id)))
      }
      pass += 1
    }
    liveHeap(ev)
  }
}
