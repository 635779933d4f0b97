package graft

import org.apache.spark.sql.functions._
import graft.operators.Batching
import graft.util.Det

/** Property-style checks (SURVEY.md §5.2.3) over seeded random data:
  * algebraic laws the oracle can't see.
  */
class DeterminismSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private lazy val money = Seq.fill(5000)(
    (rnd.nextInt(100), math.round(rnd.nextDouble() * 1e6) / 100.0))
    .toDF("k", "v")

  test("fixedSum is exact: equals BigDecimal sum regardless of partitioning") {
    val expected = money.select("v").as[Double].collect()
      .map(BigDecimal(_)).sum.toDouble
    for (parts <- Seq(1, 2, 7)) {
      val got = money.repartition(parts).agg(Det.fixedSum(col("v"), 2).as("s"))
        .as[Double].head()
      assert(got === expected, s"parts=$parts")
    }
  }

  test("window cumulative sum at the last row equals the group sum") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      .orderBy("v").rowsBetween(Long.MinValue, 0)
    val lastCum = money
      .withColumn("cum", Det.fixedSumOver(col("v"), 2, w))
      .groupBy("k").agg(max("cum").as("cum_last"))
    val grp = money.groupBy("k").agg(Det.fixedSum(col("v"), 2).as("total"))
    val diff = lastCum.join(grp, "k")
      .where(col("cum_last") =!= col("total")).count()
    assert(diff === 0)
  }

  test("union-all count additivity") {
    val a = money.where(col("k") < 50)
    val b = money.where(col("k") >= 50)
    assert(a.unionByName(b).count() === money.count())
  }

  test("batch assignment: every batch full-size except possibly the last") {
    val sizes = Batching.withBatchNum(
        money.select(monotonically_increasing_id().as("id")), "id", 100)
      .groupBy("batch_num").count()
      .orderBy("batch_num").as[(Long, Long)].collect()
    assert(sizes.dropRight(1).forall(_._2 === 100L))
    assert(sizes.last._2 <= 100L)
    assert(sizes.map(_._2).sum === 5000L)
  }

  test("percentile_approx at accuracy above group size equals the exact median") {
    val orders = Tables.load(spark, sf, "orders")
    val both = orders.groupBy("o_orderstatus")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("approx"),
        expr("percentile(o_totalprice, 0.5)").as("exact"),
        count(lit(1)).as("n"))
      .as[(String, Double, Double, Long)].collect()
    both.foreach { case (st, a, e, n) =>
      assert(n < 10000, "fixture group must be under the sketch accuracy")
      // GK with accuracy >= n retains every value => approx is an exact
      // data value at the target rank; exact interpolates between ranks,
      // so allow the one-rank interpolation gap
      assert(math.abs(a - e) <= math.abs(e) * 0.05 + 1.0,
        s"$st: approx $a vs exact $e (n=$n)")
    }
  }

  test("round-4 operators are invariant under input repartitioning") {
    import graft.operators.{SpanDedup, UrlOps}
    val docs = Seq(
      (0L, (1 to 20).map(i => s"a$i").mkString(" ") + " " +
        (1 to 20).map(i => s"s$i").mkString(" ")),
      (1L, (1 to 5).map(i => s"b$i").mkString(" ") + " " +
        (1 to 20).map(i => s"s$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val urls = Seq((3L, "HTTPS://A.com:443/x?utm_source=f&p=1#s"),
      (1L, "https://a.com/x?p=1"), (2L, "https://b.com/y")).toDF("id", "raw")
    def spanSet(parts: Int) = SpanDedup.duplicatedSpans(
        docs.repartition(parts), "doc_id", col("text"), shingleN = 8, minSpanTokens = 16)
      .collect().map(_.toSeq).toSet
    def urlSet(parts: Int) = UrlOps.dedupByUrl(
        urls.repartition(parts), col("raw"), "url", Seq("id"))
      .collect().map(_.toSeq).toSet
    assert(spanSet(1) === spanSet(7))
    assert(urlSet(1) === urlSet(7))
    assert(urlSet(1).map(_.head) === Set(1L, 2L), "min-id survivor independent of layout")
  }

  test("operational operators are invariant under input repartitioning") {
    import graft.operators.{Anomaly, Binning, IntervalJoin, Sessionize, SnapshotDiff}
    val ev = (0 until 200).map { i =>
      (i.toLong % 7, i.toLong, new java.sql.Timestamp(i * 900L * 1000), (i % 13) / 4.0)
    }.toDF("user_id", "event_id", "ts", "value")
    val snapA = (0 until 100).map(i => (i.toLong, s"s${i % 3}", i * 1.5)).toDF("k", "st", "p")
    val snapB = (5 until 105).map(i => (i.toLong, s"s${i % 4}", i * 1.5)).toDF("k", "st", "p")
    val ints = (0 until 60).map(i => (i.toLong % 5, i.toLong, i * 100L, i * 100L + 450L))
      .toDF("k", "iid", "s", "e")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def all(parts: Int): Seq[Set[Seq[Any]]] = Seq(
      rows(Sessionize.sessionStats(ev.repartition(parts), "user_id", "ts",
        1200, "value", "event_id")),
      rows(SnapshotDiff.diff(snapA.repartition(parts), snapB.repartition(parts),
        Seq("k"), Seq("st", "p"))),
      rows(IntervalJoin.overlapJoin(ints.repartition(parts),
        ints.withColumnsRenamed(Map("iid" -> "jid", "s" -> "s2", "e" -> "e2"))
          .repartition(parts), "k", "s", "e", "s2", "e2", 500L)),
      rows(Anomaly.zScores(ev.repartition(parts), "user_id", "value", 2, 2.0)),
      rows(Binning.fixedWidthHistogram(ev.repartition(parts), "value", 0.0, 1.0, 4)),
      rows(Binning.boundariesFromSample(ev.repartition(parts), "value", "event_id", 1.0, 4)))
    all(1).zip(all(7)).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"operator #$i diverged under repartitioning")
    }
  }

  test("round-5 numeric operators are invariant under input repartitioning") {
    import graft.operators.{Anomaly, Trend}
    val ev = (0 until 200).map { i =>
      (i.toLong % 7, i.toLong, (i % 13) / 4.0 + (if (i % 50 == 0) 100.0 else 0.0))
    }.toDF("k", "x", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def all(parts: Int): Seq[Set[Seq[Any]]] = Seq(
      rows(Anomaly.robustOutliers(ev.repartition(parts), "k", "v", 2, 3.0)),
      rows(Trend.slopes(ev.repartition(parts), "k", col("x"), "v", 2)))
    all(1).zip(all(7)).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"operator #$i diverged under repartitioning")
    }
  }

  test("round-6 codec operators are invariant under input repartitioning") {
    import graft.multimodal.{AudioWav, Multimodal}
    val ids = spark.range(24).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def all(parts: Int): Seq[Set[Seq[Any]]] = {
      val media = Multimodal.syntheticPngNearDups(
        ids.repartition(parts), "doc_id", 16, 16)
      Seq(
        rows(Multimodal.imageDHashes(media)),
        rows(Multimodal.imageNearDupPairs(media, maxHamming = 3)),
        rows(Multimodal.imageFeatures(
          Multimodal.syntheticPng(ids.repartition(parts), "doc_id", 16, 16)).toDF()),
        rows(AudioWav.audioFeatures(
          AudioWav.syntheticWav(ids.repartition(parts), "doc_id", 200)).toDF()),
        rows(Multimodal.shotBoundaries(
          Multimodal.syntheticPngClip(ids.repartition(parts), "doc_id", 6, 8, 8, 2))
          .toDF()))
    }
    all(1).zip(all(7)).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"operator #$i diverged under repartitioning")
    }
  }

  test("batchByRange ids are independent of the range-partition count") {
    val src = Tables.load(spark, sf, "orders").select("o_orderkey")
    def ids(parts: Int) =
      Batching.batchByRange(src, col("o_orderkey"), size = 500, partitions = parts)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(ids(3) === ids(7), "rank (hence batch id) must not depend on parallelism")
  }

  test("round-11 operators are partition-invariant (seeded random inputs)") {
    val r = new scala.util.Random(7)
    // cross-listing alignment: random sparse two-sided series — ONE row
    // per (k, side, day), the operator's documented input contract (a
    // per-key daily frame, not raw facts)
    val sides = Seq.tabulate(400) { i =>
      (i % 5L, if (r.nextBoolean()) "a" else "b",
        (r.nextInt(60) + 10).toLong, (r.nextInt(1000) + 1).toLong)
    }.groupBy(t => (t._1, t._2, t._3)).map(_._2.head).toSeq
      .toDF("k", "side", "day_ord", "px")
    def align(parts: Int) = graft.operators.TradingCalendar
      .alignCrossListed(sides.repartition(parts), Seq("k"), "side", "day_ord", "px")
      .collect().map(_.toString).sorted.toSeq
    assert(align(1) === align(7), "alignCrossListed diverged under repartitioning")
    // frontier schedule: random per-host priorities
    val urls = Seq.tabulate(500)(i =>
      (i.toLong, s"h${i % 13}", (r.nextInt(5000) + 1).toLong))
      .toDF("doc_id", "host", "pri")
    def sched(parts: Int) = graft.operators.UrlOps
      .frontierSchedule(urls.repartition(parts), col("host"), 3,
        Seq(col("pri").desc, col("doc_id").asc))
      .collect().map(_.toString).sorted.toSeq
    assert(sched(1) === sched(7), "frontierSchedule diverged under repartitioning")
    // corporate-action classification: random walk with planted jumps
    val px = Seq.tabulate(300) { i =>
      val c = 1000L + (i % 97)
      val mult = if (i % 50 < 10) 6L else if (i % 50 < 30) 3L else 1L
      (i % 3L, i.toLong, c * mult, c)
    }.toDF("k", "ord", "raw", "adj")
    def cls(parts: Int) = graft.operators.CorporateActions
      .classifyEvents(px.repartition(parts), Seq("k"), "ord", "raw", "adj")
      .collect().map(_.toString).sorted.toSeq
    assert(cls(1) === cls(7), "classifyEvents diverged under repartitioning")
    // day-2 graph link: random cells/vectors
    val vecs = Seq.tabulate(200)(i =>
      (i % 4L, i.toLong, Array.fill(8)(r.nextGaussian().toFloat)))
      .toDF("__cluster", "__id", "__vec")
    def link(parts: Int) = graft.operators.NswAnn
      .linkBatch(vecs.where(col("__id") % 3 === 0).repartition(parts),
        vecs.where(col("__id") % 3 =!= 0).repartition(parts), m = 4)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(link(1) === link(7), "linkBatch diverged under repartitioning")
  }

  test("round-12 operators: COW model equivalence + pruning over random inputs") {
    import graft.operators.AcidTable
    val r = new scala.util.Random(12)
    // random table with NEGATIVE keys too (the z fixtures are nonneg, the
    // core stats/prune/COW logic must not assume it)
    val rows = Seq.fill(600)((r.nextLong() % 5000L, r.nextInt(100000).toLong))
      .groupBy(_._1).map(_._2.head).toSeq // unique keys (upsert semantics)
    val updates = rows.take(80).map { case (k, _) => (k, -7L) } ++
      Seq.fill(20)((6000L + r.nextInt(1000), 99L)).groupBy(_._1).map(_._2.head)
    def buildAndMerge(parts: Int): Set[(Long, Long)] = {
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_det_cow_${parts}_${System.nanoTime()}").getAbsolutePath
      // several commits so the table has real file structure + stats
      rows.grouped(150).foreach { g =>
        AcidTable.commitAppend(g.toDF("k", "v").coalesce(1), root,
          statsCols = Seq("k"))
      }
      AcidTable.mergeCow(updates.toDF("k", "v").repartition(parts), root, "k",
        statsCols = Seq("k"))
      AcidTable.read(spark, root).as[(Long, Long)].collect().toSet
    }
    val model = (rows.toMap ++ updates.toMap).toSet
    val got1 = buildAndMerge(1)
    assert(got1 === model, "mergeCow diverged from the anti-join ∪ updates model")
    assert(buildAndMerge(7) === model,
      "mergeCow diverged under update repartitioning")
    // deleteCow == filter model on a random range
    locally {
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_det_del_${System.nanoTime()}").getAbsolutePath
      rows.grouped(150).foreach { g =>
        AcidTable.commitAppend(g.toDF("k", "v").coalesce(1), root,
          statsCols = Seq("k"))
      }
      val (lo, hi) = (-2000L, 1500L)
      AcidTable.deleteCow(spark, root, "k", lo, hi, statsCols = Seq("k"))
      assert(AcidTable.read(spark, root).as[(Long, Long)].collect().toSet ===
        rows.filterNot { case (k, _) => k >= lo && k <= hi }.toSet,
        "deleteCow diverged from the filter model")
      // pruning never drops: 40 random ranges vs the full-scan filter
      val v = AcidTable.currentVersion(spark, root)
      (1 to 40).foreach { _ =>
        val a = r.nextLong() % 6000L
        val b = a + r.nextInt(3000)
        val pr = AcidTable.readWhere(spark, root, v,
          Seq(AcidTable.ColRange("k", a, b)))
        val got = pr.df.where(col("k").between(a, b))
          .as[(Long, Long)].collect().toSet
        val want = AcidTable.read(spark, root).where(col("k").between(a, b))
          .as[(Long, Long)].collect().toSet
        assert(got === want, s"pruned read dropped rows on [$a,$b]")
      }
    }
    // streaming drift audit in batch mode is partition-invariant
    val inv = Seq.tabulate(120) { i =>
      ((i % 6).toLong + 1, s"c${i % 10}",
        Seq("int", "bigint", "double", "string")(r.nextInt(4)))
    }.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    def drift(parts: Int) = graft.streaming.StreamOps
      .schemaDriftOnArrival(inv.toDS().repartition(parts))
      .collect().map(_.toString).sorted.toSeq
    assert(drift(1) === drift(7),
      "schemaDriftOnArrival diverged under repartitioning")
  }

  test("change feed model equivalence + CDC fold over a random commit chain") {
    import graft.operators.AcidTable
    val r = new scala.util.Random(13)
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_det_cdf_${System.nanoTime()}").getAbsolutePath
    val rows = Seq.fill(500)((r.nextLong() % 4000L, r.nextInt(100000).toLong))
      .groupBy(_._1).map(_._2.head).toSeq
    rows.grouped(120).foreach { g =>
      AcidTable.commitAppend(g.toDF("k", "v").coalesce(1), root,
        statsCols = Seq("k"))
    }
    // a random chain exercising every commit kind after the appends
    AcidTable.mergeCow(
      rows.take(60).map { case (k, _) => (k, -7L) }.toDF("k", "v"),
      root, "k", statsCols = Seq("k"))
    AcidTable.deleteCow(spark, root, "k", -500L, 700L, statsCols = Seq("k"))
    AcidTable.commitAppend(
      Seq((9001L, 1L), (9002L, 2L)).toDF("k", "v").coalesce(1),
      root, statsCols = Seq("k"))
    val vs = AcidTable.versions(spark, root)
    // law 1: the file-granularity feed equals the full-snapshot diff for
    // EVERY consecutive version pair (including plain appends)
    vs.sliding(2).foreach { case Seq(a, b) =>
      val feed = AcidTable.changesBetween(spark, root, a, b,
          Seq("k"), Seq("v"))._1
        .select("k", "change_type", "old_v", "new_v").collect()
        .map(x => (x.getLong(0), x.getString(1),
          Option(x.get(2)), Option(x.get(3)))).toSet
      val full = AcidTable.diffVersions(spark, root, a, b,
          Seq("k"), Seq("v"))
        .select("k", "change_type", "old_v", "new_v").collect()
        .map(x => (x.getLong(0), x.getString(1),
          Option(x.get(2)), Option(x.get(3)))).toSet
      assert(feed === full, s"feed != snapshot diff for v$a -> v$b")
    }
    // law 2: folding the CDC feeds from nothing reconstructs the snapshot
    val state = scala.collection.mutable.Map.empty[Long, Long]
    graft.streaming.AcidTail.tailChanges(spark, root,
      new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_det_cdf_ck_${System.nanoTime()}").getAbsolutePath,
      Seq("k"), Seq("v")) { (df, _) =>
      df.select("k", "change_type", "new_v").collect().foreach { x =>
        x.getString(1) match {
          case "removed" => state.remove(x.getLong(0))
          case _ => state(x.getLong(0)) = x.getLong(2)
        }
      }
    }
    assert(state.toSet ===
      AcidTable.read(spark, root).as[(Long, Long)].collect().toSet,
      "CDC feeds folded from empty diverged from the final snapshot")
  }

  test("mergeCowStr equals the map-update model on multi-byte string keys") {
    import graft.operators.AcidTable
    val r = new scala.util.Random(14)
    // keys mixing ASCII with 2- and 3-byte UTF-8 so footer stats, the
    // locate join, and the prune comparator all exercise byte order
    // beyond the ASCII plane
    val alphabet = "abzé日"
    def key() = (0 until 4).map(_ =>
      alphabet(r.nextInt(alphabet.length))).mkString
    val rows = Seq.fill(300)((key(), r.nextInt(10000).toLong))
      .groupBy(_._1).map(_._2.head).toSeq
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_det_cowstr_${System.nanoTime()}").getAbsolutePath
    rows.sortBy(_._1).grouped(80).foreach { g =>
      AcidTable.commitAppend(g.toDF("name", "v").coalesce(1), root,
        statsCols = Seq("name"))
    }
    val updates = rows.take(40).map { case (n, _) => (n, -3L) } ++
      Seq(("zzzz" + key(), 77L))
    val (_, rewritten, kept) = AcidTable.mergeCow(
      updates.toDF("name", "v"), root, "name", statsCols = Seq("name"))
    assert(rewritten + kept ==
      AcidTable.entriesOf(spark, root,
        AcidTable.currentVersion(spark, root) - 1).length)
    val model = (rows.toMap ++ updates.toMap).toSet
    assert(AcidTable.read(spark, root).as[(String, Long)].collect().toSet
      === model, "mergeCowStr diverged from the map-update model")
  }
}
