package graft.operators

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.util.{ForklessLocalFileSystem, ForklessLocalFs, ForklessRawLocalFileSystem}

class IngestEgressSpec extends SparkSpec {
  import spark.implicits._

  test("dirty-typed numeric parse: $/%/comma/space strip, invalid -> null") {
    val in = Seq("$146.865", "0.208%", "1,234,567", " 42 ", "", "N/A", "-$3.50")
      .toDF("raw")
    val out = in.select(IngestEgress.parseDirtyNumber(col("raw")).as("v"))
      .as[Option[Double]].collect()
    assert(out === Seq(Some(146.865), Some(0.208), Some(1234567.0),
      Some(42.0), None, None, Some(-3.5)))
  }

  test("dirty bool parse: True/False strings, else null") {
    val out = Seq("True", "false", "TRUE", "yes", "")
      .toDF("raw").select(IngestEgress.parseDirtyBool(col("raw")).as("b"))
      .as[Option[Boolean]].collect()
    assert(out === Seq(Some(true), Some(false), Some(true), None, None))
  }

  test("declared-schema CSV ingest of the reference's screener shape") {
    // symbols_raw shape (FIXTURES.md §B): dirty-typed strings incl. spaces
    // in column names; mirrors company_symbols.csv:1-2.
    val csv = Files.createTempDirectory("graft_csv").resolve("symbols.csv")
    Files.writeString(csv,
      """Symbol,Name,Last Sale,% Change,IPO Year
        |AAPL,Apple Inc.,$146.865,0.208%,1980
        |NOIPO,No Ipo Corp,$10.00,-1.5%,
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("Symbol", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("Name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("Last Sale", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("% Change", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("IPO Year", org.apache.spark.sql.types.StringType)))
    val df = IngestEgress.readCsv(spark, csv.toString, schema)
      .select(col("Symbol"),
        IngestEgress.parseDirtyNumber(col("Last Sale")).as("last_sale"),
        IngestEgress.parseDirtyNumber(col("% Change")).as("pct_change"),
        IngestEgress.parseDirtyNumber(col("IPO Year")).as("ipo_year"))
    val rows = df.as[(String, Option[Double], Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(rows(0) === (("AAPL", Some(146.865), Some(0.208), Some(1980.0))))
    assert(rows(1) === (("NOIPO", Some(10.0), Some(-1.5), None)))
  }

  test("permissive CSV ingest quarantines malformed lines, keeps the rest") {
    import org.apache.spark.sql.types._
    val f = Files.createTempDirectory("graft_quar").resolve("in.csv")
    Files.writeString(f,
      """sym,ipo
        |AAPL,1980
        |BROKEN,"unterminated
        |MSFT,1986
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("sym", StringType), StructField("ipo", IntegerType)))
    val (clean, quarantined) =
      IngestEgress.readCsvWithQuarantine(spark, f.toString, schema)
    assert(clean.select("sym").as[String].collect().sorted.toSeq
      === Seq("AAPL", "MSFT"))
    val bad = quarantined.as[String].collect()
    assert(bad.length === 1 && bad.head.contains("BROKEN"))
  }

  test("compaction rewrites a many-small-files dataset into few well-sized files") {
    val in = Files.createTempDirectory("graft_small").toString
    val out = Files.createTempDirectory("graft_compact").toString
    val df = spark.range(0, 10000).toDF("id")
    df.repartition(50).write.mode("overwrite").parquet(in)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in) === 50)
    IngestEgress.compact(spark, in, out, targetRowsPerFile = 5000)
    assert(parquetFiles(out) === 2)
    assert(spark.read.parquet(out).count() === 10000)
    assert(spark.read.parquet(out).agg(sum(col("id"))).head.getLong(0) ===
      df.agg(sum(col("id"))).head.getLong(0))
  }

  test("partition-preserving compaction: per-partition file targets, layout kept") {
    val in = Files.createTempDirectory("graft_frag").toString
    val out = Files.createTempDirectory("graft_compact_part").toString
    // skewed partitions: y=0 -> 9000 rows (hot), y=1 -> 900, y=2 -> 100
    val df = spark.range(0, 10000).select(col("id"),
      when(col("id") < 9000, 0).when(col("id") < 9900, 1).otherwise(2).as("y"))
    df.repartition(20).write.mode("overwrite").partitionBy("y").parquet(in)
    def filesIn(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesIn(s"$in/y=2") >= 10, "fragmented input expected")
    IngestEgress.compactPartitioned(spark, in, out, Seq("y"),
      targetRowsPerFile = 3000)
    // hot partition gets ceil(9000/3000)=3 buckets (range sampling can
    // merge adjacent groups), cold partitions collapse to 1 file
    assert(filesIn(s"$out/y=0") >= 2 && filesIn(s"$out/y=0") <= 3)
    assert(filesIn(s"$out/y=1") === 1)
    assert(filesIn(s"$out/y=2") === 1)
    val back = spark.read.parquet(out)
    assert(back.count() === 10000)
    assert(back.select(sum(col("id"))).head.getLong(0) ===
      df.select(sum(col("id"))).head.getLong(0))
    assert(back.groupBy("y").count().as[(Int, Long)].collect().toSet ===
      Set((0, 9000L), (1, 900L), (2, 100L)))
  }

  test("partition-preserving compaction keeps NULL-partition rows (lossless contract)") {
    // a NULL partition value is a legal Hive partition
    // (__HIVE_DEFAULT_PARTITION__): the per-partition target join must be
    // null-safe or these rows silently vanish from a "lossless" rewrite
    val in = Files.createTempDirectory("graft_nullpart_in").toString
    val out = Files.createTempDirectory("graft_nullpart_out").toString
    val df = spark.range(0, 1000).select(col("id"),
      when(col("id") % 4 === 0, lit(null).cast("int")).otherwise(lit(1)).as("y"))
    df.repartition(8).write.mode("overwrite").partitionBy("y").parquet(in)
    IngestEgress.compactPartitioned(spark, in, out, Seq("y"), targetRowsPerFile = 500)
    val back = spark.read.parquet(out)
    assert(back.count() === 1000, "null-partition rows must survive compaction")
    assert(back.where(col("y").isNull).count() === 250)
    assert(back.select(sum(col("id"))).head.getLong(0) ===
      df.select(sum(col("id"))).head.getLong(0))
  }

  test("partitioned parquet write: reference layout, one file per partition, round-trip") {
    // prices shape (FIXTURES.md §B) incl. the `Adj Close` space-in-name col.
    val prices = Seq(
      ("AAPL", 2023, Timestamp.valueOf("2023-06-01 00:00:00"), 1.0, 2.0, 0.5, 1.5, 1.45, 100L),
      ("AAPL", 2024, Timestamp.valueOf("2024-06-03 00:00:00"), 2.0, 3.0, 1.5, 2.5, 2.45, 200L),
      ("MSFT", 2024, Timestamp.valueOf("2024-06-03 00:00:00"), 9.0, 9.5, 8.5, 9.2, 9.15, 300L)
    ).toDF("company", "year", "Date", "Open", "High", "Low", "Close", "Adj Close", "Volume")
    val dir = Files.createTempDirectory("graft_prices").toString
    IngestEgress.writePartitioned(prices, dir, Seq("company", "year"))

    val d = new java.io.File(s"$dir/company=AAPL/year=2024")
    assert(d.isDirectory, "Hive-style company=/year= layout expected")
    assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
      "repartition-by-partition-cols must yield ONE file per partition dir")

    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    assert(back.where(col("company") === "AAPL" && col("year") === 2024)
      .select("Adj Close").as[Double].head() === 2.45)

    val manifest = IngestEgress.partitionManifest(prices, Seq(col("company"), col("year")))
      .as[(String, Int, Long)].collect().toSet
    assert(manifest === Set(("AAPL", 2023, 1L), ("AAPL", 2024, 1L), ("MSFT", 2024, 1L)))
  }

  test("partitioned write: same file and directory modes as Hadoop's default local file system") {
    val prices = Seq(("AAPL", 2023, 1.0), ("AAPL", 2024, 2.0), ("MSFT", 2024, 3.0))
      .toDF("company", "year", "Close")
    // unix:mode carries the permission bits and the sticky bit; part file
    // names differ only by write id and task number
    def modes(root: String): Map[String, Int] = {
      val base = Paths.get(root)
      val s = Files.walk(base)
      try s.iterator().asScala.map { p =>
        base.relativize(p).toString.replaceAll("part-[0-9]+-[0-9a-f-]+", "part") ->
          Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
      }.toMap
      finally s.close()
    }
    // each forkless writer against the same write through the default
    // local file system
    val writers: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("IngestEgress.writePartitioned",
        dir => IngestEgress.writePartitioned(prices, dir, Seq("company", "year")),
        dir => prices.repartition(4, col("company"), col("year"))
          .write.mode("overwrite").partitionBy("company", "year").parquet(dir)),
      ("BatchStore.write",
        dir => graft.streaming.BatchStore.write(prices, dir, 7L),
        dir => prices.write.mode("overwrite").parquet(s"$dir/batch=7")))
    for ((name, forklessWrite, defaultWrite) <- writers) {
      val forkless = Files.createTempDirectory("graft_forkless").toString
      val default = Files.createTempDirectory("graft_default").toString
      forklessWrite(forkless)
      defaultWrite(default)
      val got = modes(forkless)
      assert(got.keySet.exists(_.endsWith(".parquet")) && got.keySet.exists(_.endsWith(".crc")),
        name)
      assert(got === modes(default), name)
    }

    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    ForklessLocalFs.writeOptions.foreach { case (k, v) => conf.set(k, v) }
    assert(new Path(Files.createTempDirectory("graft_forkless").toString)
      .getFileSystem(conf).isInstanceOf[ForklessLocalFileSystem])
  }

  test("ForklessRawLocalFileSystem.setPermission sets the requested mode, sticky bit included") {
    val fs = new ForklessRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("graft_chmod")
    val file = Files.createFile(dir.resolve("f"))
    for ((p, mode) <- Seq(file -> "640", file -> "604", file -> "751", file -> "000",
                          file -> "777", dir -> "700", dir -> "1777")) {
      fs.setPermission(new Path(p.toUri), new FsPermission(mode))
      assert((Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff) ===
        Integer.parseInt(mode, 8), s"$p $mode")
    }
  }

  test("footerStatsScan pushes COUNT/MIN/MAX into the parquet scan and matches a row-level agg") {
    val stats = IngestEgress.footerStatsScan(spark, s"$sf/lineitem.parquet")(Seq(
      count(lit(1)).as("n_rows"),
      min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key")))
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"aggregate not pushed to the scan:\n$plan")
    assert(plan.contains("COUNT(*)") && plan.contains("MIN(l_orderkey)"),
      s"expected pushed COUNT/MIN in:\n$plan")
    // pushed answer == row-level answer
    val expected = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
      .as[(Long, Long, Long)].head()
    assert(stats.as[(Long, Long, Long)].head() === expected)
  }
}
