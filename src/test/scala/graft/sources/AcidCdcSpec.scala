package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.operators.AcidTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Round 14: the CHANGE DATA FEED — commit-time change files
  * (`#cdc` header), the changeFeedOf batch reader, and the streaming
  * source's readChangeFeed mode (the logical delta as a real
  * readStream, exactly-once across restarts). */
class AcidCdcSpec extends SparkSpec {
  import spark.implicits._

  private def kv(pairs: (Long, Long)*) = pairs.toDF("k", "v").coalesce(1)

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_acidcdc_$tag").toString + "/tbl"

  private def feed(root: String, v: Long): Set[(Long, Long, String)] =
    AcidTable.changeFeedOf(spark, root, v).get
      .select("k", "v", "_change_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  /** An append + MOR merge + MOR delete chain with CDC enabled. */
  private def chain(root: String): Unit = {
    AcidTable.enableCdc(spark, root)
    AcidTable.commitAppend(kv((1L to 6L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))                                  // v1
    AcidTable.mergeMor(kv(2L -> 222L, 9L -> 999L), root, "k",
      statsCols = Seq("k"))                                  // v2
    AcidTable.deleteMor(spark, root, "k", 4L, 5L)            // v3
  }

  test("merge and delete commits write change files; changeFeedOf " +
      "serves each version's logical delta") {
    val root = fresh("cf")
    chain(root)
    assert(AcidTable.cdcPathsOf(spark, root, 1L).isEmpty,
      "appends need no CDC file — their added files ARE the delta")
    assert(AcidTable.cdcPathsOf(spark, root, 2L).nonEmpty)
    assert(AcidTable.cdcPathsOf(spark, root, 3L).nonEmpty)
    assert(feed(root, 1L) ===
      (1L to 6L).map(i => (i, i * 10, "insert")).toSet)
    assert(feed(root, 2L) === Set(
      (2L, 20L, "update_preimage"), (2L, 222L, "update_postimage"),
      (9L, 999L, "insert")))
    assert(feed(root, 3L) === Set(
      (4L, 40L, "delete"), (5L, 50L, "delete")))
  }

  test("COW merge/delete write the SAME logical delta as their MOR twins") {
    val cow = fresh("cow")
    AcidTable.enableCdc(spark, cow)
    AcidTable.commitAppend(kv((1L to 6L).map(i => i -> i * 10): _*), cow,
      statsCols = Seq("k"))
    AcidTable.mergeCow(kv(2L -> 222L, 9L -> 999L), cow, "k",
      statsCols = Seq("k"))
    AcidTable.deleteCow(spark, cow, "k", 4L, 5L, statsCols = Seq("k"))
    val mor = fresh("mor")
    chain(mor)
    (2L to 3L).foreach { v =>
      assert(feed(cow, v) === feed(mor, v),
        s"v$v: COW and MOR must publish identical change feeds")
    }
  }

  test("a DV fold is a logical no-op in the feed; a pre-CDC rewrite " +
      "has no feed") {
    val root = fresh("nf")
    chain(root)
    AcidTable.compactDvs(spark, root, Seq("k"))              // v4
    assert(AcidTable.changeFeedOf(spark, root, 4L).get.count() === 0L)
    // a table rewritten BEFORE enableCdc cannot serve a delta
    val old = fresh("old")
    AcidTable.commitAppend(kv(1L -> 10L, 2L -> 20L), old, Seq("k"))
    AcidTable.deleteMor(spark, old, "k", 1L, 1L)
    assert(AcidTable.changeFeedOf(spark, old, 2L).isEmpty)
  }

  test("every producer's change feed equals the snapshot diff against " +
      "its predecessor, over a seeded random chain") {
    val root = fresh("law")
    val rnd = new scala.util.Random(8)
    AcidTable.enableCdc(spark, root)
    AcidTable.commitAppend(kv((1L to 12L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    // every written value is fresh, so an update always changes `v`
    var next = 1000L
    def updates() = kv(rnd.shuffle((1L to 20L).toList)
      .take(1 + rnd.nextInt(4)).map { k => next += 1; k -> next }: _*)
    def lo() = 1L + rnd.nextInt(20)
    val producers = Seq("mergeCow", "mergeMor", "deleteCow", "deleteMor",
      "compact", "compactSmall", "compactDvs")
    val chain = rnd.shuffle(producers ++
      Seq.fill(8)(producers(rnd.nextInt(producers.length))))
    chain.foreach {
      case "mergeCow" => AcidTable.mergeCow(updates(), root, "k", Seq("k"))
      case "mergeMor" => AcidTable.mergeMor(updates(), root, "k", Seq("k"))
      case "deleteCow" =>
        val l = lo(); AcidTable.deleteCow(spark, root, "k", l, l + 2, Seq("k"))
      case "deleteMor" =>
        val l = lo(); AcidTable.deleteMor(spark, root, "k", l, l + 2)
      case "compact" => AcidTable.compact(spark, root, 2, Seq("k"))
      case "compactSmall" =>
        AcidTable.compactSmall(spark, root, 1L << 30, 2, Seq("k"))
      case "compactDvs" => AcidTable.compactDvs(spark, root, Seq("k"))
    }
    val vs = AcidTable.versions(spark, root)
    assert(vs.length > producers.length, s"chain $chain published $vs")
    vs.sliding(2).foreach { case Seq(prev, v) =>
      // SnapshotDiff vocabulary mapped onto the CDF one
      val diff = AcidTable.changesBetween(spark, root, prev, v, Seq("k"),
          Seq("v"))._1.collect().toSeq.flatMap { r =>
        val k = r.getLong(r.fieldIndex("k"))
        def old = r.getLong(r.fieldIndex("old_v"))
        def neu = r.getLong(r.fieldIndex("new_v"))
        r.getString(r.fieldIndex("change_type")) match {
          case "added" => Seq((k, neu, "insert"))
          case "removed" => Seq((k, old, "delete"))
          case "changed" =>
            Seq((k, old, "update_preimage"), (k, neu, "update_postimage"))
        }
      }.sorted
      val feedRows = AcidTable.changeFeedOf(spark, root, v).get
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
      assert(feedRows === diff,
        s"v$v (${AcidTable.actionOf(spark, root, v)}) in chain $chain")
    }
  }

  private def drainCdc(root: String, ck: String)
      : Seq[(Long, Set[(Long, Long, String)])] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Set[(Long, Long, String)])]()
    val q = spark.readStream.format("graft-acid").option("root", root)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        got.add(id -> df.select("k", "v", "_change_type").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    got.asScala.toSeq.sortBy(_._1)
  }

  test("readChangeFeed streams the logical delta == the tailChanges " +
      "feed, exactly-once across restart") {
    val root = fresh("st")
    val ck = Files.createTempDirectory("graft_acidcdc_ck").toString
    chain(root)
    val drained = drainCdc(root, ck).flatMap(_._2).toSet
    assert(drained === feed(root, 1L) ++ feed(root, 2L) ++ feed(root, 3L))
    // equivalence with the driver-loop CDC tail: map SnapshotDiff shape
    // (added/removed/changed with old_/new_) onto the Delta CDF shape
    val viaTail = scala.collection.mutable.Set.empty[(Long, Long, String)]
    graft.streaming.AcidTail.tailChanges(spark, root,
      Files.createTempDirectory("graft_acidcdc_tl").toString,
      keys = Seq("k"), tracked = Seq("v")) { (df, _) =>
      df.collect().foreach { r =>
        val k = r.getLong(r.fieldIndex("k"))
        r.getString(r.fieldIndex("change_type")) match {
          case "added" =>
            viaTail += ((k, r.getLong(r.fieldIndex("new_v")), "insert"))
          case "removed" =>
            viaTail += ((k, r.getLong(r.fieldIndex("old_v")), "delete"))
          case "changed" =>
            viaTail += ((k, r.getLong(r.fieldIndex("old_v")),
              "update_preimage"))
            viaTail += ((k, r.getLong(r.fieldIndex("new_v")),
              "update_postimage"))
        }
      }
      ()
    }
    assert(drained === viaTail.toSet,
      "the streamed CDC rows must equal the tailChanges logical delta")
    // restart on the same checkpoint: only a NEW commit's delta arrives
    AcidTable.deleteMor(spark, root, "k", 6L, 6L)
    val second = drainCdc(root, ck).flatMap(_._2).toSet
    assert(second === Set((6L, 60L, "delete")))
  }

  test("round 15: a SQL MERGE on a keyed table feeds the CDC stream == " +
      "tailChanges, exactly-once across restart") {
    val root = fresh("sq")
    val ck = Files.createTempDirectory("graft_acidcdc_sqck").toString
    spark.conf.set("spark.sql.catalog.cdcsq", "graft.sources.AcidCatalog")
    spark.conf.set("spark.sql.catalog.cdcsq.root",
      new java.io.File(root).getParent)
    val t = s"cdcsq.`${new java.io.File(root).getName}`"
    AcidTable.enableCdc(spark, root)
    AcidTable.commitAppend(kv((1L to 6L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    AcidTable.setMergeKey(spark, root, "k")
    Seq((2L, 222L), (9L, 90L)).toDF("k", "v")
      .createOrReplaceTempView("cdcsq_src")
    spark.sql(
      s"""MERGE INTO $t x USING cdcsq_src s ON x.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    // the delta-based commit rewrote nothing — and still fed the stream
    assert(AcidTable.entriesOf(spark, root, 2L).map(_.path).toSet
      .intersect(AcidTable.entriesOf(spark, root, 1L).map(_.path).toSet)
      .size === AcidTable.entriesOf(spark, root, 1L).length)
    val drained = drainCdc(root, ck).flatMap(_._2).toSet
    val expected = (1L to 6L).map(i => (i, i * 10, "insert")).toSet ++
      Set((2L, 20L, "update_preimage"), (2L, 222L, "update_postimage"),
        (9L, 90L, "insert"))
    assert(drained === expected)
    // tailChanges law over the SQL-MERGE version
    val viaTail = scala.collection.mutable.Set.empty[(Long, Long, String)]
    graft.streaming.AcidTail.tailChanges(spark, root,
      Files.createTempDirectory("graft_acidcdc_sqtl").toString,
      keys = Seq("k"), tracked = Seq("v")) { (df, _) =>
      df.collect().foreach { r =>
        val k = r.getLong(r.fieldIndex("k"))
        r.getString(r.fieldIndex("change_type")) match {
          case "added" =>
            viaTail += ((k, r.getLong(r.fieldIndex("new_v")), "insert"))
          case "removed" =>
            viaTail += ((k, r.getLong(r.fieldIndex("old_v")), "delete"))
          case "changed" =>
            viaTail += ((k, r.getLong(r.fieldIndex("old_v")),
              "update_preimage"))
            viaTail += ((k, r.getLong(r.fieldIndex("new_v")),
              "update_postimage"))
        }
      }
      ()
    }
    assert(drained === viaTail.toSet)
    // restart: a second SQL DELETE arrives alone (exactly-once)
    spark.sql(s"DELETE FROM $t WHERE k = 4")
    assert(drainCdc(root, ck).flatMap(_._2).toSet ===
      Set((4L, 40L, "delete")))
  }

  test("round 15: a group-path SQL MERGE (no key) states its delta as " +
      "delete+insert — same logical rows, unpairable without identity") {
    val root = fresh("gq")
    spark.conf.set("spark.sql.catalog.cdcgq", "graft.sources.AcidCatalog")
    spark.conf.set("spark.sql.catalog.cdcgq.root",
      new java.io.File(root).getParent)
    val t = s"cdcgq.`${new java.io.File(root).getName}`"
    AcidTable.enableCdc(spark, root)
    AcidTable.commitAppend(kv((1L to 4L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    Seq((3L, 333L)).toDF("k", "v").createOrReplaceTempView("cdcgq_src")
    spark.sql(
      s"""MERGE INTO $t x USING cdcgq_src s ON x.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val f = feed(root, 2L)
    assert(f === Set((3L, 30L, "delete"), (3L, 333L, "insert")),
      s"unkeyed group rewrite states the delta bag-style, got $f")
  }

  test("a rewrite without change files fails the CDC stream fast with " +
      "the enableCdc pointer") {
    val root = fresh("ff")
    AcidTable.commitAppend(kv(1L -> 10L, 2L -> 20L), root, Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 1L, 1L) // CDC never enabled
    val e = intercept[StreamingQueryException] {
      drainCdc(root, Files.createTempDirectory("graft_acidcdc_ffck").toString)
    }
    assert(e.getCause.getMessage.contains("enableCdc"))
  }

  test("vacuum keeps retained versions' change files and retires " +
      "expired ones") {
    val root = fresh("vc")
    chain(root) // v1 append, v2 merge(+cdc), v3 delete(+cdc)
    val v2cdc = AcidTable.cdcPathsOf(spark, root, 2L)
    val v3cdc = AcidTable.cdcPathsOf(spark, root, 3L)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(rel: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"$root/$rel"))
    AcidTable.vacuum(spark, root, retainLast = 1)
    assert(v2cdc.forall(!exists(_)), "expired version's CDC files retire")
    assert(v3cdc.forall(exists), "retained version's CDC files survive")
    // the retained feed still reads
    assert(feed(root, 3L).nonEmpty)
  }
}
