package graft.operators

import java.io.File
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round 13: merge-on-read deletion vectors (DV commits rewrite ZERO
  * data files; reads mask them in; OPTIMIZE folds them away) and
  * row-group-granularity data skipping. */
class AcidMorSpec extends SparkSpec {

  private def freshRoot(tag: String): String =
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_acid_mor_${tag}_${System.nanoTime()}").getAbsolutePath

  private def kv(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("k", "v").coalesce(1)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("deleteMor masks without rewriting; snapshot isolation holds") {
    val root = freshRoot("dm")
    AcidTable.commitAppend(kv((1L to 10L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    AcidTable.commitAppend(kv((11L to 20L).map(i => i -> i * 10): _*), root,
      statsCols = Seq("k"))
    val v2Files = AcidTable.entriesOf(spark, root, 2L).map(_.path).toSet
    val (v, masked, rewritten) = AcidTable.deleteMor(spark, root, "k", 3L, 5L)
    assert(v === 3L && masked === 1 && rewritten === 0,
      "only the file whose range holds 3..5 is masked; NOTHING is rewritten")
    // the DV version references the SAME data files, one now carrying a mask
    val v3 = AcidTable.entriesOf(spark, root, 3L)
    assert(v3.map(_.path).toSet === v2Files)
    assert(v3.count(_.dv.isDefined) === 1)
    assert(asSet(AcidTable.read(spark, root)) ===
      ((1L to 20L).toSet -- (3L to 5L)).map(i => i -> i * 10))
    // pre-delete snapshot untouched
    assert(asSet(AcidTable.readAsOf(spark, root, 2L)) ===
      (1L to 20L).map(i => i -> i * 10).toSet)
    // a second MOR delete layers onto the same file's mask list
    val (v4, m2, r2) = AcidTable.deleteMor(spark, root, "k", 7L, 7L)
    assert(v4 === 4L && m2 === 1 && r2 === 0)
    assert(AcidTable.entriesOf(spark, root, 4L)
      .find(_.dv.isDefined).get.dv.get.paths.length === 2)
    assert(asSet(AcidTable.read(spark, root)) ===
      ((1L to 20L).toSet -- (3L to 5L) - 7L).map(i => i -> i * 10))
  }

  test("mergeMor == mergeCow answer, with zero files rewritten") {
    val rootM = freshRoot("mor")
    val rootC = freshRoot("cow")
    val base = (1L to 10L).map(i => i -> i * 10)
    Seq(rootM, rootC).foreach { r =>
      AcidTable.commitAppend(kv(base.take(5): _*), r, statsCols = Seq("k"))
      AcidTable.commitAppend(kv(base.drop(5): _*), r, statsCols = Seq("k"))
    }
    val updates = kv(2L -> 99L, 12L -> 120L) // one replace, one insert
    val (vm, masked, rw) = AcidTable.mergeMor(updates, rootM, "k",
      statsCols = Seq("k"))
    val _ = AcidTable.mergeCow(updates, rootC, "k", statsCols = Seq("k"))
    assert(rw === 0 && masked === 1,
      "only the file whose range can hold k=2 is masked (k=12 is an insert)")
    assert(asSet(AcidTable.read(spark, rootM)) ===
      asSet(AcidTable.read(spark, rootC)), "MOR read == the COW answer")
    assert(AcidTable.actionOf(spark, rootM, vm) === "merge")
    // a COW on the MOR table must NOT resurrect masked rows
    AcidTable.mergeCow(kv(1L -> 11L), rootM, "k", statsCols = Seq("k"))
    assert(AcidTable.read(spark, rootM).where(col("k") === 2L)
      .select("v").head().getLong(0) === 99L)
  }

  test("mergeMorStr locates by string stats in UTF-8 order, rewrites nothing") {
    import spark.implicits._
    val root = freshRoot("str")
    // two bands; the second holds multi-byte keys that sort ABOVE every
    // ASCII key in UTF-8 byte order (Scala's UTF-16 compare would agree
    // here, but the stats and locate join must be byte-order end-to-end)
    AcidTable.commitAppend(
      Seq(("alpha", 1L), ("beta", 2L)).toDF("name", "v").coalesce(1),
      root, statsCols = Seq("name"))
    AcidTable.commitAppend(
      Seq(("é-key", 3L), ("😀-key", 4L)).toDF("name", "v").coalesce(1),
      root, statsCols = Seq("name"))
    val (v, masked, rewritten) = AcidTable.mergeMor(
      Seq(("beta", 22L), ("zeta", 5L)).toDF("name", "v").coalesce(1),
      root, "name", statsCols = Seq("name"))
    assert(rewritten === 0)
    // "beta" can only live in band 1 ([alpha, beta]); "zeta" falls inside
    // band 2's UTF-8 range [é-key … 😀-key] (0x7a < 0xc3 is FALSE — 'z'
    // sorts BELOW 'é' in byte order), so only band 1 is provably touched…
    // unless band 2's range admits "zeta": 'z' (0x7a) < 'é' (0xc3a9), so
    // zeta < é-key in byte order and band 2 is NOT touched. masked == 1.
    assert(masked === 1)
    assert(AcidTable.read(spark, root).select("name", "v")
      .as[(String, Long)].collect().toSet ===
      Set("alpha" -> 1L, "beta" -> 22L, "é-key" -> 3L, "😀-key" -> 4L,
        "zeta" -> 5L))
    assert(AcidTable.actionOf(spark, root, v) === "merge")
    // and folding restores a mask-free manifest with the same answer
    AcidTable.compactDvs(spark, root, statsCols = Seq("name"))
    assert(AcidTable.entriesOf(spark, root,
      AcidTable.currentVersion(spark, root)).forall(_.dv.isEmpty))
    assert(AcidTable.read(spark, root).count() === 5L)
  }

  test("compactDvs folds masks into clean files; vacuum then retires them") {
    val root = freshRoot("fold")
    AcidTable.commitAppend(kv((1L to 10L).map(i => i -> i): _*), root,
      statsCols = Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 2L, 4L)
    val expect = asSet(AcidTable.read(spark, root))
    val (v, folded, kept) = AcidTable.compactDvs(spark, root,
      statsCols = Seq("k"))
    assert(v === 3L && folded === 1 && kept === 0)
    val entries = AcidTable.entriesOf(spark, root, v)
    assert(entries.forall(_.dv.isEmpty), "no entry references a mask anymore")
    assert(asSet(AcidTable.read(spark, root)) === expect)
    // idempotent: nothing left to fold ⇒ no new version
    assert(AcidTable.compactDvs(spark, root) === ((3L, 0, entries.length)))
    // vacuum with only the folded version retained reclaims mask + old data
    val (_, files) = AcidTable.vacuum(spark, root, retainLast = 1)
    assert(files >= 2, "the masked data file AND its DV parquet are retired")
    assert(asSet(AcidTable.read(spark, root)) === expect)
  }

  test("vacuum never drops a DV file a retained manifest references") {
    val root = freshRoot("vdv")
    AcidTable.commitAppend(kv(1L -> 1L, 2L -> 2L), root, statsCols = Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 2L, 2L)
    AcidTable.vacuum(spark, root, retainLast = 1)
    assert(asSet(AcidTable.read(spark, root)) === Set(1L -> 1L),
      "the mask survived vacuum: the masked read still answers")
  }

  test("changesBetween sees a MOR delete as removed rows (same-path entries)") {
    val root = freshRoot("cdc")
    AcidTable.commitAppend(kv(1L -> 1L, 2L -> 2L, 3L -> 3L), root,
      statsCols = Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 2L, 2L)
    val (chg, read, total) = AcidTable.changesBetween(spark, root, 1L, 2L,
      keys = Seq("k"), tracked = Seq("v"))
    val m = chg.select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(2L -> "removed"),
      "path identity alone would call the versions identical; render " +
        "identity sees the new mask")
    assert(read === 1 && total === 1)
  }

  test("a cross-column MOR folds the conflicting masks on demand " +
      "(round 14 — was a fail-fast requiring a manual compactDvs)") {
    val root = freshRoot("col")
    import spark.implicits._
    AcidTable.commitAppend(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1), root,
      statsCols = Seq("k", "v"))
    AcidTable.deleteMor(spark, root, "k", 1L, 1L)
    // the v-keyed delete finds a k-masked file: fold first, then mask
    val (v, masked, rewritten) = AcidTable.deleteMor(spark, root, "v", 20L, 20L)
    assert(rewritten === 0 && masked >= 1)
    // the fold landed as its own 'compact' commit between the deletes
    assert(AcidTable.history(spark, root).map(_._2) ===
      Seq("append", "delete", "compact", "delete"))
    assert(asSet(AcidTable.read(spark, root)) === Set(3L -> 30L))
    // stats survive the fold (re-collected for the folded files)
    val folded = AcidTable.entriesOf(spark, root, v)
    assert(folded.exists(e => e.statFor("k").isDefined &&
      e.statFor("v").isDefined))

    // an alternating-column MOR chain completes without manual folds,
    // and answers equal the COW twin applied to a parallel table
    val morRoot = freshRoot("alt_mor")
    val cowRoot = freshRoot("alt_cow")
    val basePairs = (1L to 30L).map(i => i -> i * 100)
    Seq(morRoot, cowRoot).foreach { r =>
      AcidTable.commitAppend(kv(basePairs: _*), r, statsCols = Seq("k", "v"))
    }
    val steps: Seq[(String, Long, Long)] = Seq(
      ("k", 3L, 5L), ("v", 900L, 1100L), ("k", 20L, 22L), ("v", 2500L, 2700L))
    steps.foreach { case (c, lo, hi) =>
      val (_, _, rw) = AcidTable.deleteMor(spark, morRoot, c, lo, hi)
      assert(rw === 0, "MOR steps never rewrite data files")
      AcidTable.deleteCow(spark, cowRoot, c, lo, hi,
        statsCols = Seq("k", "v"))
      assert(asSet(AcidTable.read(spark, morRoot)) ===
        asSet(AcidTable.read(spark, cowRoot)),
        s"MOR == COW after alternating delete on $c [$lo,$hi]")
    }
  }

  test("detail reports mask debt; folding clears it") {
    val root = freshRoot("det")
    AcidTable.commitAppend(kv((1L to 10L).map(i => i -> i): _*), root,
      statsCols = Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 2L, 4L)
    val d = AcidTable.detail(spark, root).head()
    assert(d.getAs[Long]("version") === 2L &&
      d.getAs[String]("last_action") === "delete")
    assert(d.getAs[Long]("n_versions") === 2L &&
      d.getAs[Long]("n_files") === 1L)
    assert(d.getAs[Long]("n_masked_files") === 1L &&
      d.getAs[Long]("n_masks") === 1L)
    assert(d.getAs[Long]("data_bytes") > 0L &&
      d.getAs[Long]("mask_bytes") > 0L)
    AcidTable.compactDvs(spark, root, statsCols = Seq("k"))
    val d2 = AcidTable.detail(spark, root).head()
    assert(d2.getAs[Long]("n_masked_files") === 0L &&
      d2.getAs[Long]("mask_bytes") === 0L,
      "OPTIMIZE cleared the mask debt the detail row surfaced")
  }

  test("law: a random MOR chain answers exactly like the COW chain") {
    // seeded randomized workloads: the same logical upsert/delete chain
    // applied merge-on-read on one root and copy-on-write on another must
    // agree after EVERY op, after folding the masks away, and after
    // vacuum — the whole-space backing behind the fixture-pinned
    // q_acid15/17 (union-mask safety, stat-conservative touching, and
    // DV-aware rewrites all get exercised on shapes no fixture pins)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rootM = freshRoot(s"lawm$seed")
      val rootC = freshRoot(s"lawc$seed")
      def randKv(keys: Seq[Long]) =
        kv(keys.map(k => k -> (rnd.nextInt(1000).toLong + 1L)): _*)
      // base: 2 chunked appends over a random key subset
      val baseKeys = rnd.shuffle((0L until 40L).toVector)
        .take(20 + rnd.nextInt(15)).sorted
      val (k1, k2) = baseKeys.splitAt(baseKeys.length / 2)
      // draw each chunk ONCE and commit the same frame to both roots
      val chunk1 = randKv(k1)
      val chunk2 = randKv(k2)
      Seq(rootM, rootC).foreach { r =>
        AcidTable.commitAppend(chunk1, r, statsCols = Seq("k"))
        AcidTable.commitAppend(chunk2, r, statsCols = Seq("k"))
      }
      (1 to 3).foreach { _ =>
        if (rnd.nextBoolean()) {
          // upsert: mix of existing and brand-new keys
          val ks = rnd.shuffle((0L until 50L).toVector)
            .take(1 + rnd.nextInt(6))
          val ups = randKv(ks)
          AcidTable.mergeMor(ups, rootM, "k", statsCols = Seq("k"))
          AcidTable.mergeCow(ups, rootC, "k", statsCols = Seq("k"))
        } else {
          val lo = rnd.nextInt(50).toLong
          val hi = lo + rnd.nextInt(12)
          AcidTable.deleteMor(spark, rootM, "k", lo, hi)
          AcidTable.deleteCow(spark, rootC, "k", lo, hi, statsCols = Seq("k"))
        }
        assert(asSet(AcidTable.read(spark, rootM)) ===
          asSet(AcidTable.read(spark, rootC)), s"seed=$seed mid-chain")
      }
      val expect = asSet(AcidTable.read(spark, rootC))
      AcidTable.compactDvs(spark, rootM, statsCols = Seq("k"))
      assert(asSet(AcidTable.read(spark, rootM)) === expect,
        s"seed=$seed after fold")
      AcidTable.vacuum(spark, rootM, retainLast = 1)
      assert(asSet(AcidTable.read(spark, rootM)) === expect,
        s"seed=$seed after vacuum")
    }
  }

  test("readWhereRowGroups prunes blocks inside a packed file") {
    val root = freshRoot("rg")
    import spark.implicits._
    // one sorted file, forced into many small row groups
    val df = spark.range(0, 50000).select(col("id").as("k"),
        (col("id") * 7).as("v"))
      .sortWithinPartitions("k").coalesce(1)
    AcidTable.commitOverwrite(df, root, statsCols = Seq("k"),
      writeOptions = Map("parquet.block.size" -> "16384",
        "parquet.page.size" -> "4096"))
    val pr = AcidTable.readWhereRowGroups(spark, root, 1L,
      Seq(AcidTable.ColRange("k", 100L, 300L)))
    assert(pr.filesScanned === 1 && pr.filesTotal === 1)
    assert(pr.rowGroupsTotal > 3, "the write produced several row groups")
    assert(pr.rowGroupsScanned >= 1 && pr.rowGroupsScanned < pr.rowGroupsTotal,
      s"a narrow predicate skips blocks: ${pr.rowGroupsScanned}/${pr.rowGroupsTotal}")
    // and the answer is exact — the predicate rides the DataFrame
    assert(pr.df.count() === 201L)
    assert(pr.df.agg(sum("v")).head().getLong(0) === (100L to 300L).map(_ * 7).sum)
    // a range past every row group scans zero blocks and yields zero rows
    val none = AcidTable.readWhereRowGroups(spark, root, 1L,
      Seq(AcidTable.ColRange("k", 900000L, 900001L)))
    assert(none.filesScanned === 0 && none.rowGroupsScanned === 0)
    assert(none.df.count() === 0L)
  }

  test("readWhereRowGroups masks DVs and counts only kept files' blocks") {
    val root = freshRoot("rgdv")
    AcidTable.commitAppend(kv((1L to 100L).map(i => i -> i): _*), root,
      statsCols = Seq("k"))
    AcidTable.commitAppend(kv((1001L to 1100L).map(i => i -> i): _*), root,
      statsCols = Seq("k"))
    AcidTable.deleteMor(spark, root, "k", 10L, 90L)
    val pr = AcidTable.readWhereRowGroups(spark, root, 3L,
      Seq(AcidTable.ColRange("k", 1L, 200L)))
    assert(pr.filesScanned === 1 && pr.filesTotal === 2,
      "the 1001.. file never enters the scan OR the row-group count")
    assert(pr.rowGroupsTotal === 1)
    assert(pr.df.count() === 100L - 81L, "masked rows stay deleted")
  }
}
