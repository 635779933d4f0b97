package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.operators.AcidTable
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Round 13: the ACID table as a real Structured Streaming source —
  * offsets are table versions, batches are manifest-diff file sets,
  * exactly-once across restarts rides Spark's own offset checkpoint. */
class AcidSourceSpec extends SparkSpec {
  import spark.implicits._

  private def kv(pairs: (Long, Long)*) =
    pairs.toDF("k", "v").coalesce(1)

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_acidsrc_$tag").toString

  // foreachBatch, not the memory sink: only foreachBatch supports
  // RESTARTING from an existing checkpoint (the memory sink refuses
  // recovery), and restart-exactly-once is precisely what these tests pin.
  // Returns the rows drained by THIS run, tagged with their batch ids.
  private def drain(root: String, ckpt: String,
                    extra: Map[String, String] = Map.empty)
      : Seq[(Long, Set[(Long, Long)])] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Set[(Long, Long)])]()
    val reader = spark.readStream.format("graft-acid").option("root", root)
    val q = extra.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got.add(id -> df.select("k", "v").as[(Long, Long)].collect().toSet)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    got.asScala.toSeq.sortBy(_._1)
  }

  private def rowsOf(batches: Seq[(Long, Set[(Long, Long)])]): Set[(Long, Long)] =
    batches.flatMap(_._2).toSet

  test("readStream drains a 3-commit chain == AcidTail's increments; " +
      "restart delivers only new versions") {
    val root = fresh("t") + "/tbl"
    val ckpt = fresh("ck")
    AcidTable.commitAppend(kv(1L -> 10L), root)
    AcidTable.commitAppend(kv(2L -> 20L), root)
    AcidTable.commitAppend(kv(3L -> 30L), root)
    val first = drain(root, ckpt)
    // the drained rows equal the driver-loop tail's union of increments
    val viaTail = (1L to 3L)
      .flatMap(graft.streaming.AcidTail.readAdded(spark, root, _))
      .map(_.select("k", "v").as[(Long, Long)].collect().toSet)
      .reduce(_ ++ _)
    assert(rowsOf(first) === viaTail)
    assert(rowsOf(first) === Set(1L -> 10L, 2L -> 20L, 3L -> 30L))

    // restart on the SAME checkpoint: nothing redelivered without a commit
    assert(rowsOf(drain(root, ckpt)) === Set.empty,
      "a fully-drained checkpoint restarts to an empty run")
    // a new commit lands; only ITS rows arrive (exactly-once across restart)
    AcidTable.commitAppend(kv(4L -> 40L), root)
    assert(rowsOf(drain(root, ckpt)) === Set(4L -> 40L))
  }

  test("maxVersionsPerBatch paces the drain; startingVersion skips history") {
    val root = fresh("p") + "/tbl"
    val ckpt = fresh("ck")
    (1L to 5L).foreach(i => AcidTable.commitAppend(kv(i -> i * 10), root))
    // batch cap 2: AvailableNow still drains everything, in >= 3 batches
    val paced = drain(root, ckpt, Map("maxVersionsPerBatch" -> "2"))
    assert(rowsOf(paced) === (1L to 5L).map(i => i -> i * 10).toSet)
    assert(paced.count(_._2.nonEmpty) >= 3,
      s"5 versions at cap 2 need >= 3 batches, got ${paced.map(_._2.size)}")
    assert(spark.streams.active.isEmpty) // AvailableNow stopped the query
    // startingVersion: a consumer that only wants versions >= 4
    assert(rowsOf(drain(root, fresh("ck2"), Map("startingVersion" -> "4"))) ===
      Set(4L -> 40L, 5L -> 50L))
  }

  test("startingTimestamp skips history by wall clock; exclusive with " +
      "startingVersion") {
    val root = fresh("stts") + "/tbl"
    AcidTable.commitAppend(kv(1L -> 10L), root)
    Thread.sleep(5)
    val cut = AcidTable.commitTimestamp(spark, root, 1L) + 1
    Thread.sleep(5)
    AcidTable.commitAppend(kv(2L -> 20L), root)
    val got = drain(root, fresh("sttsck"),
      Map("startingTimestamp" -> cut.toString))
    assert(rowsOf(got) === Set(2L -> 20L),
      "only the commit at-or-after the cut is delivered")
    val e = intercept[Exception] {
      drain(root, fresh("sttsck2"),
        Map("startingTimestamp" -> cut.toString, "startingVersion" -> "1"))
    }
    assert(e.getMessage.contains("exclusive") ||
      e.getCause.getMessage.contains("exclusive"))
  }

  test("a non-append commit fails the stream unless the consumer opts in") {
    val root = fresh("na") + "/tbl"
    AcidTable.commitAppend(kv(1L -> 10L), root)
    AcidTable.commitOverwrite(kv(9L -> 90L), root)
    val e = intercept[StreamingQueryException] {
      drain(root, fresh("ck"))
    }
    assert(e.getCause.getMessage.contains("'overwrite'"))
    assert(e.getCause.getMessage.contains("changesBetween"))
    // opted in: rewritten files delivered verbatim
    assert(rowsOf(drain(root, fresh("ck2"), Map("allowNonAppend" -> "true"))) ===
      Set(1L -> 10L, 9L -> 90L))
  }

  test("batch read: current snapshot, time travel, and decode-time DV masks") {
    val root = fresh("b") + "/tbl"
    AcidTable.commitAppend(kv((1L to 10L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    AcidTable.commitAppend(kv((11L to 20L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    def batch(opts: (String, String)*): Set[(Long, Long)] =
      opts.foldLeft(spark.read.format("graft-acid").option("root", root)) {
        case (r, (k, v)) => r.option(k, v)
      }.load().select("k", "v").as[(Long, Long)].collect().toSet
    assert(batch() === (1L to 20L).map(i => i -> i * 10).toSet)
    assert(batch("asOfVersion" -> "1") ===
      (1L to 10L).map(i => i -> i * 10).toSet, "time travel through DSv2")
    // a MOR delete: the batch reader must apply the mask at decode time
    AcidTable.deleteMor(spark, root, "k", 3L, 5L)
    assert(batch() === ((1L to 20L).toSet -- (3L to 5L)).map(i => i -> i * 10))
    // and the pre-delete version still reads unmasked
    assert(batch("asOfVersion" -> "2") ===
      (1L to 20L).map(i => i -> i * 10).toSet)
    // string-keyed masks decode-filter too
    import spark.implicits._
    val root2 = fresh("bs") + "/tbl"
    AcidTable.commitAppend(
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("name", "v").coalesce(1),
      root2, statsCols = Seq("name"))
    AcidTable.mergeMor(Seq(("b", 22L)).toDF("name", "v").coalesce(1),
      root2, "name", statsCols = Seq("name"))
    assert(spark.read.format("graft-acid").option("root", root2).load()
      .select("name", "v").as[(String, Long)].collect().toSet ===
      Set("a" -> 1L, "b" -> 22L, "c" -> 3L))
  }

  test("column pruning reaches the decode; DV masks survive pruning") {
    val root = fresh("pr") + "/tbl"
    AcidTable.commitAppend(kv((1L to 8L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 2L, 3L)
    // select ONLY v: the mask is keyed on k, which the projection must
    // retain internally even though the query never asked for it
    val df = spark.read.format("graft-acid").option("root", root).load()
      .select("v")
    assert(df.queryExecution.executedPlan.toString.contains("v#") &&
      df.schema.fieldNames.toSeq === Seq("v"))
    assert(df.as[Long].collect().toSet ===
      ((1L to 8L).toSet -- (2L to 3L)).map(_ * 10))
    // count(*) (zero required columns) still counts masked-out rows right
    assert(spark.read.format("graft-acid").option("root", root).load()
      .count() === 6L)
  }

  test("filter pushdown prunes input partitions via manifest stats " +
      "(round 14) and answers stay equal to the unpruned read") {
    val root = fresh("fp") + "/tbl"
    // three single-file commits with DISJOINT k ranges and stats
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach { r =>
      AcidTable.commitAppend(kv(r.map(i => i -> i * 10): _*), root,
        statsCols = Seq("k"))
    }
    def loaded = spark.read.format("graft-acid").option("root", root).load()
    // range hitting only the middle file: exactly 1 partition planned
    val mid = loaded.where($"k" >= 13L && $"k" <= 17L)
    assert(mid.rdd.getNumPartitions === 1,
      "stats should prune 2 of 3 files at planInputPartitions")
    assert(mid.select("k", "v").as[(Long, Long)].collect().toSet ===
      (13L to 17L).map(i => i -> i * 10).toSet)
    // equality and IN prune to one file too
    assert(loaded.where($"k" === 25L).rdd.getNumPartitions === 1)
    assert(loaded.where($"k".isin(3L, 7L)).rdd.getNumPartitions === 1)
    assert(loaded.where($"k".isin(3L, 7L)).select("v").as[Long]
      .collect().toSet === Set(30L, 70L))
    // a provably-empty range plans ZERO partitions and returns no rows
    val none = loaded.where($"k" > 1000L)
    assert(none.rdd.getNumPartitions === 0 && none.count() === 0L)
    // a filter on a stat-less column prunes nothing (safety over savings)
    assert(loaded.where($"v" === 150L).rdd.getNumPartitions === 3)
    assert(loaded.where($"v" === 150L).select("k").as[Long]
      .collect().toSeq === Seq(15L))
    // pushdown composes with DV masks: delete 14..15 merge-on-read, the
    // pruned single-partition read still applies the mask at decode
    AcidTable.deleteMor(spark, root, "k", 14L, 15L)
    val masked = loaded.where($"k" >= 13L && $"k" <= 17L)
    assert(masked.rdd.getNumPartitions === 1)
    assert(masked.select("k").as[Long].collect().toSet ===
      Set(13L, 16L, 17L))
  }

  test("DATE-typed pushdown prunes files via epoch-day stats — the " +
      "ship_date-style predicate every scan carries") {
    val root = fresh("dt") + "/tbl"
    Seq("2024-01", "2024-02", "2024-03").foreach { m =>
      AcidTable.commitAppend(
        (1 to 10).map(d => (java.sql.Date.valueOf(f"$m-$d%02d"), d.toLong))
          .toDF("dt", "v").coalesce(1),
        root, statsCols = Seq("dt"))
    }
    val loaded = spark.read.format("graft-acid").option("root", root).load()
    val feb = loaded.where($"dt" >= java.sql.Date.valueOf("2024-02-01") &&
      $"dt" <= java.sql.Date.valueOf("2024-02-28"))
    assert(feb.rdd.getNumPartitions === 1,
      "date range must prune to the February file")
    assert(feb.count() === 10L)
    assert(loaded.where($"dt" === java.sql.Date.valueOf("2024-03-05"))
      .select("v").as[Long].collect().toSeq === Seq(5L))
  }

  test("string-stat pushdown prunes files on equality and IN") {
    val root = fresh("sp") + "/tbl"
    Seq(Seq("alpha", "beta"), Seq("mike", "nina"), Seq("yara", "zulu"))
      .foreach { names =>
        AcidTable.commitAppend(
          names.zipWithIndex.map { case (n, i) => (n, i.toLong) }
            .toDF("name", "v").coalesce(1),
          root, statsCols = Seq("name"))
      }
    val loaded = spark.read.format("graft-acid").option("root", root).load()
    assert(loaded.where($"name" === "mike").rdd.getNumPartitions === 1)
    assert(loaded.where($"name" === "mike").select("v").as[Long]
      .collect().toSeq === Seq(0L))
    assert(loaded.where($"name".isin("beta", "alpha")).rdd
      .getNumPartitions === 1)
  }

  test("asOfTimestamp option time-travels by wall clock (millis and " +
      "date-string forms); too-early fails fast") {
    val root = fresh("ts") + "/tbl"
    AcidTable.commitAppend(kv(1L -> 10L), root)
    val t1 = AcidTable.commitTimestamp(spark, root, 1L)
    Thread.sleep(5)
    AcidTable.commitAppend(kv(2L -> 20L), root)
    def at(ts: String) = spark.read.format("graft-acid")
      .option("root", root).option("asOfTimestamp", ts).load().count()
    assert(at(t1.toString) === 1L, "millis form pins v1")
    assert(at("2200-01-01") === 2L, "future date sees the head")
    val e = intercept[Exception] { at("2000-01-01 12:00:00") }
    assert(e.getMessage.contains("no version committed"))
  }

  test("batch snapshot is pinned per load(): a commit landing between " +
      "two actions does not split the DataFrame's view (ADVICE r13)") {
    val root = fresh("pin") + "/tbl"
    AcidTable.commitAppend(kv(1L -> 10L, 2L -> 20L), root)
    val df = spark.read.format("graft-acid").option("root", root).load()
    assert(df.count() === 2L) // resolves + pins the version
    AcidTable.commitAppend(kv(3L -> 30L), root)
    assert(df.count() === 2L, "same DataFrame, same pinned snapshot")
    assert(spark.read.format("graft-acid").option("root", root).load()
      .count() === 3L, "a fresh load() sees the new head")
  }

  test("schema inference covers the primitive surface; strings round-trip") {
    val root = fresh("sc") + "/tbl"
    val df = Seq((1L, 7, 1.5, 2.5f, true, "héllo"))
      .toDF("l", "i", "d", "f", "b", "s").coalesce(1)
    AcidTable.commitAppend(df, root)
    val q = spark.readStream.format("graft-acid").option("root", root).load()
      .writeStream.format("memory").queryName("acidschema")
      .option("checkpointLocation", fresh("ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("acidschema")
    assert(out.schema.map(f => f.name -> f.dataType.typeName).toMap ===
      Map("l" -> "long", "i" -> "integer", "d" -> "double",
        "f" -> "float", "b" -> "boolean", "s" -> "string"))
    val r = out.head()
    assert(r.getAs[Long]("l") === 1L && r.getAs[Int]("i") === 7 &&
      r.getAs[Double]("d") === 1.5 && r.getAs[Float]("f") === 2.5f &&
      r.getAs[Boolean]("b") === true && r.getAs[String]("s") === "héllo")
  }
}
