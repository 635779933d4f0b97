package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args
  * restrict the dump to the named queries (fast local re-checks; the
  * driver passes none and dumps everything). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Written FIRST so a time-boxed (truncated) run still leaves the
    // oracle map on disk — the compare can then grade whatever subset of
    // query directories landed before the cutoff.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val todo = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val total = todo.size
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // Parallel dump: the 280-query serial loop spends most of its wall on
    // per-query plan/codegen latency, not cluster work — at sf0.01 each
    // result is tiny. Overlapping 8 queries keeps local[32] busy and cuts
    // the dump ~4-5x; every action is thread-safe (Spark's scheduler is
    // concurrent by design, Memo serializes shared-intermediate builds,
    // and each query writes its own directory). coalesce(1) stays: the
    // compare reads rows in emitted order, and one file per query keeps
    // that order deterministic.
    val threads = math.min(8, cpus.toInt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    todo.foreach { case (name, fn) =>
      pool.execute(() =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val n = done.incrementAndGet()
          System.err.println(
            f"[verify] $name done ($n/$total, ${(System.nanoTime() - t0) / 1e9}%.1fs)")
        } catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        })
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    // Terminal self-diagnosis line (stdout): an empty/short correctness
    // artifact is now attributable — the driver log shows exactly how far
    // the dump got and what failed.
    println(s"dumped=${done.get()}/$total failed=${failed.size}" +
      (if (failed.isEmpty) "" else " failing=" +
        failed.toArray.mkString("[", ",", "]")))
    spark.stop()
  }
}
