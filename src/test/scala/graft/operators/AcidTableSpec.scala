package graft.operators

import java.io.File
import graft.SparkSpec
import org.apache.spark.sql.functions._

class AcidTableSpec extends SparkSpec {

  private def freshRoot(tag: String): String =
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_acid_spec_${tag}_${System.nanoTime()}").getAbsolutePath

  private def kv(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("k", "v")
  }

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("overwrite commits version; read-as-of survives a later overwrite") {
    val root = freshRoot("rw")
    val v1 = AcidTable.commitOverwrite(kv(1L -> 10L, 2L -> 20L), root)
    assert(v1 === 1L)
    val v2 = AcidTable.commitOverwrite(kv(2L -> 99L, 3L -> 30L), root)
    assert(v2 === 2L)
    // snapshot isolation: v1's state is byte-identical after the overwrite
    assert(asSet(AcidTable.readAsOf(spark, root, 1)) === Set(1L -> 10L, 2L -> 20L))
    assert(asSet(AcidTable.read(spark, root)) === Set(2L -> 99L, 3L -> 30L))
    assert(AcidTable.currentVersion(spark, root) === 2L)
  }

  test("append publishes prev-live union new files") {
    val root = freshRoot("ap")
    AcidTable.commitOverwrite(kv(1L -> 10L), root)
    AcidTable.commitAppend(kv(2L -> 20L, 3L -> 30L), root)
    assert(asSet(AcidTable.read(spark, root)) ===
      Set(1L -> 10L, 2L -> 20L, 3L -> 30L))
    assert(asSet(AcidTable.readAsOf(spark, root, 1)) === Set(1L -> 10L))
    val h = AcidTable.history(spark, root)
    assert(h.map(x => (x._1, x._2)) === Seq((1L, "overwrite"), (2L, "append")))
    // the append manifest references MORE files than v1 (v1's plus its own)
    assert(h(1)._3 > h(0)._3)
  }

  test("a concurrent writer claiming the same version fails fast (Conflict)") {
    val root = freshRoot("cf")
    AcidTable.commitOverwrite(kv(1L -> 1L), root)
    // the real race: both writers read current=1 and try to publish v2 —
    // the create-exclusive manifest write lets exactly one win
    AcidTable.publish(spark, root, 2L, "overwrite", Seq("data/x/f.parquet"))
    val e = intercept[AcidTable.Conflict] {
      AcidTable.publish(spark, root, 2L, "overwrite", Seq("data/y/f.parquet"))
    }
    assert(e.version === 2L)
    // and the loser's state is untouched: v2 is the winner's file list
    assert(AcidTable.versions(spark, root) === Seq(1L, 2L))
    // a full commit retried after the loss lands on the NEXT version
    assert(AcidTable.commitOverwrite(kv(9L -> 9L), root) === 3L)
  }

  test("diffVersions composes SnapshotDiff over two snapshots") {
    val root = freshRoot("df")
    AcidTable.commitOverwrite(kv(1L -> 10L, 2L -> 20L, 3L -> 30L), root)
    AcidTable.commitOverwrite(kv(2L -> 21L, 3L -> 30L, 4L -> 40L), root)
    val d = AcidTable.diffVersions(spark, root, 1, 2, Seq("k"), Seq("v"))
      .select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "removed", 2L -> "changed", 4L -> "added"))
  }

  test("vacuum keeps files any retained manifest references, drops the rest") {
    val root = freshRoot("vc")
    AcidTable.commitOverwrite(kv(1L -> 10L), root)            // v1
    AcidTable.commitAppend(kv(2L -> 20L), root)               // v2 refs v1's files
    val (mDel, fDel) = AcidTable.vacuum(spark, root, retainLast = 1)
    assert(mDel === 1)
    assert(fDel === 0, "v1's files are referenced by the retained v2 append")
    assert(asSet(AcidTable.read(spark, root)) === Set(1L -> 10L, 2L -> 20L))
    intercept[IllegalArgumentException] { AcidTable.readAsOf(spark, root, 1) }

    // an overwrite strands the old files; vacuum then reclaims them
    AcidTable.commitOverwrite(kv(9L -> 90L), root)            // v3
    val (mDel2, fDel2) = AcidTable.vacuum(spark, root, retainLast = 1)
    assert(mDel2 === 1 && fDel2 > 0)
    assert(asSet(AcidTable.read(spark, root)) === Set(9L -> 90L))
  }

  test("compact rewrites the current state into numFiles, data identical") {
    val root = freshRoot("cp")
    AcidTable.commitOverwrite(kv((1L to 50L).map(i => i -> i * 2): _*), root)
    AcidTable.commitAppend(kv((51L to 99L).map(i => i -> i * 2): _*), root)
    val v3 = AcidTable.compact(spark, root, numFiles = 2)
    assert(v3 === 3L)
    val h = AcidTable.history(spark, root)
    assert(h.map(_._2) === Seq("overwrite", "append", "compact"))
    assert(h(2)._3 === 2, "compacted version lists exactly numFiles files")
    assert(h(2)._3 < h(1)._3, "compaction must shrink the file count")
    // identical data, and the pre-compaction version is untouched
    assert(asSet(AcidTable.read(spark, root)) ===
      (1L to 99L).map(i => i -> i * 2).toSet)
    assert(asSet(AcidTable.readAsOf(spark, root, 2)) ===
      asSet(AcidTable.readAsOf(spark, root, 3)))
  }

  test("commitAppendOnce: a seen token no-ops; a stranger's token is honored") {
    val root = freshRoot("tok")
    AcidTable.commitOverwrite(kv(1L -> 1L), root)
    assert(AcidTable.commitAppendOnce(kv(2L -> 2L), root, "t-1") === 2L)
    // replay: same token, different (even bogus) data — must be a no-op
    assert(AcidTable.commitAppendOnce(kv(99L -> 99L), root, "t-1") === 2L)
    assert(AcidTable.versions(spark, root) === Seq(1L, 2L))
    assert(asSet(AcidTable.read(spark, root)) === Set(1L -> 1L, 2L -> 2L))
    // a version published elsewhere with the token short-circuits the
    // commit entirely (the crashed-own-attempt recovery shape)
    AcidTable.publish(spark, root, 3L, "append",
      Seq("data/none/x.parquet"), Some("t-2"))
    assert(AcidTable.commitAppendOnce(kv(5L -> 5L), root, "t-2") === 3L)
    assert(AcidTable.versions(spark, root) === Seq(1L, 2L, 3L))
  }

  test("time travel by wall clock picks the latest commit at-or-before") {
    val root = freshRoot("ts")
    AcidTable.commitOverwrite(kv(1L -> 10L), root)
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    AcidTable.commitOverwrite(kv(2L -> 20L), root)
    assert(asSet(AcidTable.readAsOfTimestamp(spark, root, mid)) ===
      Set(1L -> 10L), "mid-window timestamp must resolve to v1")
    assert(asSet(AcidTable.readAsOfTimestamp(spark, root,
      System.currentTimeMillis())) === Set(2L -> 20L))
    val e = intercept[IllegalArgumentException] {
      AcidTable.readAsOfTimestamp(spark, root,
        AcidTable.commitTimestamp(spark, root, 1) - 1)
    }
    assert(e.getMessage.contains("at or before"))
  }

  test("an empty table fails with a clear message, not an empty scan") {
    val root = freshRoot("em")
    val e = intercept[IllegalArgumentException] { AcidTable.read(spark, root) }
    assert(e.getMessage.contains("no committed version"))
  }

  // ---- round 12: file stats + data skipping -------------------------------

  /** Three single-file commits with disjoint key ranges [1,10], [11,20],
    * [21,30] — the pruning fixture. */
  private def statsTable(tag: String): String = {
    val root = freshRoot(tag)
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach { r =>
      AcidTable.commitAppend(kv(r.map(i => i -> i * 100): _*).coalesce(1),
        root, statsCols = Seq("k", "v"))
    }
    root
  }

  test("readWhere prunes by manifest stats and never drops a matching row") {
    val root = statsTable("pr")
    val v = AcidTable.currentVersion(spark, root)
    // strictly inside file 2's range: one file scanned
    val mid = AcidTable.readWhere(spark, root, v,
      Seq(AcidTable.ColRange("k", 12, 15)))
    assert(mid.filesTotal === 3 && mid.filesScanned === 1)
    assert(asSet(mid.df.where(col("k").between(12, 15))) ===
      (12L to 15L).map(i => i -> i * 100).toSet)
    // ADVERSARIAL BOUNDARIES: predicate endpoints exactly on file min/max
    // must keep those files (inclusive on both sides)
    val edge = AcidTable.readWhere(spark, root, v,
      Seq(AcidTable.ColRange("k", 10, 11)))
    assert(edge.filesScanned === 2, "k=10 is file1's max, k=11 is file2's min")
    assert(asSet(edge.df.where(col("k").between(10, 11))) ===
      Set(10L -> 1000L, 11L -> 1100L))
    // a range matching nothing: zero files planned, empty-but-schema'd scan
    val none = AcidTable.readWhere(spark, root, v,
      Seq(AcidTable.ColRange("k", 1000, 2000)))
    assert(none.filesScanned === 0 && none.df.count() === 0)
    assert(none.df.columns.toSeq === Seq("k", "v"))
    // two-column conjunction: k says files 1-2, v says files 2-3 => file 2
    val both = AcidTable.readWhere(spark, root, v, Seq(
      AcidTable.ColRange("k", 5, 15), AcidTable.ColRange("v", 1100, 2500)))
    assert(both.filesScanned === 1)
    // the exhaustive prune-never-drops check over sliding ranges
    val full = AcidTable.read(spark, root)
    (0L to 31L by 3L).foreach { lo =>
      val pr = AcidTable.readWhere(spark, root, v,
        Seq(AcidTable.ColRange("k", lo, lo + 4)))
      assert(asSet(pr.df.where(col("k").between(lo, lo + 4))) ===
        asSet(full.where(col("k").between(lo, lo + 4))), s"range [$lo,${lo + 4}]")
    }
  }

  test("a file without stats for the predicate column is never pruned") {
    val root = freshRoot("ns")
    AcidTable.commitAppend(kv(1L -> 10L), root, statsCols = Seq("k"))
    AcidTable.commitAppend(kv(50L -> 500L), root) // no stats recorded
    val pr = AcidTable.readWhere(spark, root, 2L,
      Seq(AcidTable.ColRange("k", 40, 60)))
    assert(pr.filesTotal === 2 && pr.filesScanned === 1,
      "stats file pruned, stat-less file conservatively kept")
    assert(asSet(pr.df.where(col("k").between(40, 60))) === Set(50L -> 500L))
  }

  test("compactZOrder restores data skipping after clustering is lost") {
    val root = freshRoot("zc")
    // one commit partitioned by k % 4 (residue classes): every file holds
    // keys {r, r+4, ...} spanning the whole range, so the 4-wide predicate
    // DETERMINISTICALLY prunes nothing
    AcidTable.commitOverwrite(
      kv((1L to 64L).map(i => i -> i * 100): _*)
        .repartition(4, pmod(col("k"), lit(4L))),
      root, statsCols = Seq("k", "v"))
    val before = AcidTable.readWhere(spark, root, 1L,
      Seq(AcidTable.ColRange("k", 5, 8)))
    assert(before.filesScanned === before.filesTotal,
      "interleaved layout: every file's range covers the predicate")
    // OPTIMIZE ZORDER: same data, re-clustered — skipping bites again
    val v2 = AcidTable.compactZOrder(spark, root, numFiles = 4, bits = 6,
      Seq(col("k")), statsCols = Seq("k", "v"))
    val after = AcidTable.readWhere(spark, root, v2,
      Seq(AcidTable.ColRange("k", 5, 8)))
    assert(after.filesScanned < after.filesTotal,
      s"z-ordered layout must skip: ${after.filesScanned}/${after.filesTotal}")
    assert(asSet(after.df.where(col("k").between(5, 8))) ===
      (5L to 8L).map(i => i -> i * 100).toSet)
    assert(asSet(AcidTable.readAsOf(spark, root, v2)) ===
      (1L to 64L).map(i => i -> i * 100).toSet, "rewrite is data-identical")
    assert(AcidTable.history(spark, root).last._2 === "compact")
  }

  test("compactSmall packs only sub-threshold files; big files carried verbatim") {
    val root = freshRoot("cs")
    // one big file (5000 rows) + three small appends (1 row each)
    AcidTable.commitOverwrite(
      kv((1L to 5000L).map(i => i -> i): _*).coalesce(1), root,
      statsCols = Seq("k"))
    Seq(9001L, 9002L, 9003L).foreach { i =>
      AcidTable.commitAppend(kv(i -> i).coalesce(1), root, statsCols = Seq("k"))
    }
    val bigLen = {
      val e = AcidTable.entriesOf(spark, root, 1L).head
      new File(root, e.path).length()
    }
    val (v, packed, kept) =
      AcidTable.compactSmall(spark, root, bigLen, targetFiles = 1,
        statsCols = Seq("k"))
    assert(v === 5L && packed === 3 && kept === 1)
    // the big file's manifest line (path AND stats) carried byte-identical
    assert(manifestLines(root, 4L).toSet.intersect(
      manifestLines(root, 5L).toSet).size === 1)
    assert(AcidTable.entriesOf(spark, root, 5L).length === 2,
      "three small files packed into one + the big file")
    // data identical, pre-compaction version untouched
    assert(AcidTable.read(spark, root).count() === 5003)
    assert(AcidTable.readAsOf(spark, root, 4L).count() === 5003)
    // packed files got fresh stats: a probe past the packed range prunes
    val pr = AcidTable.readWhere(spark, root, 5L,
      Seq(AcidTable.ColRange("k", 9001, 9003)))
    assert(pr.filesScanned === 1 && pr.filesTotal === 2)
    // nothing left to pack: NO new version published
    val (v2, packed2, kept2) =
      AcidTable.compactSmall(spark, root, bigLen / 100, targetFiles = 1)
    assert(v2 === 5L && packed2 === 0 && kept2 === 2)
    assert(AcidTable.currentVersion(spark, root) === 5L)
  }

  // ---- round 12: copy-on-write merge / delete -----------------------------

  private def manifestLines(root: String, v: Long): Seq[String] = {
    val p = new File(root,
      f"_manifests/v$v%08d.manifest").getAbsolutePath
    scala.io.Source.fromFile(p).getLines().toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  test("mergeCow rewrites only key-overlapping files; untouched lines are byte-identical") {
    val root = statsTable("mg")
    val updates = kv(12L -> 9999L, 31L -> 3100L) // touch file 2; insert key 31
    val (v, rewritten, kept) =
      AcidTable.mergeCow(updates, root, "k", statsCols = Seq("k", "v"))
    assert(v === 4L && rewritten === 1 && kept === 2)
    // the files-by-reference proof: the two untouched lines appear VERBATIM
    val before = manifestLines(root, 3L)
    val after = manifestLines(root, 4L)
    assert(before.toSet.intersect(after.toSet).size === 2,
      "both untouched manifest lines (path AND stats) carried byte-identical")
    // upsert semantics
    val got = asSet(AcidTable.read(spark, root))
    val want = (1L to 30L).map(i => i -> i * 100).toMap ++
      Map(12L -> 9999L, 31L -> 3100L)
    assert(got === want.toSet)
    // snapshot isolation: v3 still serves the pre-merge state
    assert(asSet(AcidTable.readAsOf(spark, root, 3L)) ===
      (1L to 30L).map(i => i -> i * 100).toSet)
  }

  test("deleteCow removes a key range rewriting only overlapping files") {
    val root = statsTable("dl")
    val (v, rewritten, kept) =
      AcidTable.deleteCow(spark, root, "k", 18, 23, statsCols = Seq("k", "v"))
    assert(v === 4L && rewritten === 2 && kept === 1, "range spans files 2 and 3")
    assert(manifestLines(root, 3L).toSet.intersect(
      manifestLines(root, 4L).toSet).size === 1)
    assert(asSet(AcidTable.read(spark, root)) ===
      ((1L to 17L) ++ (24L to 30L)).map(i => i -> i * 100).toSet)
    assert(asSet(AcidTable.readAsOf(spark, root, 3L)) ===
      (1L to 30L).map(i => i -> i * 100).toSet)
  }

  test("mergeCow on a never-committed table fails fast (seed with a commit first)") {
    val root = freshRoot("m0")
    intercept[IllegalArgumentException] {
      AcidTable.mergeCow(kv(1L -> 1L), root, "k")
    }
  }

  // ---- round 12 cont.: change data feed at file granularity ---------------

  test("changesBetween reads only the files the versions disagree on") {
    val root = statsTable("cdf")
    // COW upsert touching file 2 only, plus an insert past every range
    AcidTable.mergeCow(kv(12L -> 9999L, 31L -> 3100L), root, "k",
      statsCols = Seq("k", "v"))
    // COW delete inside file 3's range
    AcidTable.deleteCow(spark, root, "k", 25, 27, statsCols = Seq("k", "v"))
    val (chg, filesRead, filesTotal) =
      AcidTable.changesBetween(spark, root, 3L, 5L, Seq("k"), Seq("v"))
    val got = chg.select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(12L -> "changed", 31L -> "added",
      25L -> "removed", 26L -> "removed", 27L -> "removed"),
      "COW-carried unchanged rows must cancel; only the logical delta appears")
    // the file-skipping fact: file 1 ([1,10]) is referenced by both
    // manifests and must never be opened
    assert(filesRead < filesTotal,
      s"feed must skip carried files: read $filesRead of $filesTotal")
    // a pure append's feed is exactly the appended rows, prev side empty
    AcidTable.commitAppend(kv(100L -> 1L).coalesce(1), root,
      statsCols = Seq("k", "v"))
    val (chg2, read2, _) =
      AcidTable.changesBetween(spark, root, 5L, 6L, Seq("k"), Seq("v"))
    assert(chg2.select("k", "change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet === Set(100L -> "added"))
    assert(read2 === 1, "append feed reads the one new file only")
    // identical versions: empty feed, zero files read
    val (chg3, read3, _) =
      AcidTable.changesBetween(spark, root, 6L, 6L, Seq("k"), Seq("v"))
    assert(chg3.count() === 0 && read3 === 0)
    assert(chg3.columns.contains("change_type"), "empty feed keeps the shape")
  }

  test("changesBetween agrees with the full-snapshot diffVersions") {
    val root = statsTable("cda")
    AcidTable.mergeCow(kv(5L -> 55L, 21L -> 2222L, 40L -> 4000L), root, "k",
      statsCols = Seq("k", "v"))
    val fromFeed = AcidTable.changesBetween(spark, root, 3L, 4L,
      Seq("k"), Seq("v"))._1
      .select("k", "change_type", "old_v", "new_v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val fromFull = AcidTable.diffVersions(spark, root, 3L, 4L,
      Seq("k"), Seq("v"))
      .select("k", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fromFeed === fromFull)
  }

  // ---- round 12 cont.: string file stats + string-range skipping ----------

  /** Three single-file commits clustered by a zero-padded string id. */
  private def strTable(tag: String): String = {
    import spark.implicits._
    val root = freshRoot(tag)
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach { r =>
      AcidTable.commitAppend(
        r.map(i => (f"id#$i%04d", i)).toDF("name", "k").coalesce(1),
        root, statsCols = Seq("name", "k"))
    }
    root
  }

  test("StrRange prunes by lexicographic string stats, boundaries inclusive") {
    import spark.implicits._
    val root = strTable("sp")
    val v = AcidTable.currentVersion(spark, root)
    val mid = AcidTable.readWhere(spark, root, v,
      Seq(AcidTable.StrRange("name", "id#0012", "id#0015")))
    assert(mid.filesTotal === 3 && mid.filesScanned === 1)
    assert(mid.df.where(col("name").between("id#0012", "id#0015")).count() === 4)
    // endpoints exactly on file min/max must keep both files
    val edge = AcidTable.readWhere(spark, root, v,
      Seq(AcidTable.StrRange("name", "id#0010", "id#0011")))
    assert(edge.filesScanned === 2)
    // no match: zero files, schema preserved
    val none = AcidTable.readWhere(spark, root, v,
      Seq(AcidTable.StrRange("name", "zz", "zzz")))
    assert(none.filesScanned === 0 && none.df.count() === 0)
    // string + long conjunction: name says files 1-2, k says files 2-3
    val both = AcidTable.readWhere(spark, root, v, Seq(
      AcidTable.StrRange("name", "id#0001", "id#0015"),
      AcidTable.ColRange("k", 11, 25)))
    assert(both.filesScanned === 1)
    // prune-never-drops sweep across every band boundary
    val full = AcidTable.read(spark, root)
    (0L to 31L by 3L).foreach { lo =>
      val (slo, shi) = (f"id#$lo%04d", f"id#${lo + 4}%04d")
      val pr = AcidTable.readWhere(spark, root, v,
        Seq(AcidTable.StrRange("name", slo, shi)))
      assert(pr.df.where(col("name").between(slo, shi)).count() ===
        full.where(col("name").between(slo, shi)).count(), s"[$slo,$shi]")
    }
  }

  test("mergeCowStr rewrites only string-range-overlapping files") {
    import spark.implicits._
    val root = strTable("sm")
    // update one band-2 name; insert a name past every band's max
    val updates = Seq(("id#0012", 999L), ("id#9999", 31L)).toDF("name", "k")
    val (v, rewritten, kept) =
      AcidTable.mergeCow(updates, root, "name", statsCols = Seq("name", "k"))
    assert(v === 4L && rewritten === 1 && kept === 2,
      "only file 2 ([id#0011,id#0020]) can contain the touched names")
    val got = AcidTable.read(spark, root)
      .select("name", "k").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("id#0012") === 999L && got("id#9999") === 31L)
    assert(got.size === 31 && got("id#0011") === 11L, "neighbours carried")
    // untouched manifest lines byte-identical (paths AND stats)
    assert(manifestLines(root, 3L).toSet
      .intersect(manifestLines(root, 4L).toSet).size === 2)
    // snapshot isolation across the string-keyed COW commit
    assert(AcidTable.readAsOf(spark, root, 3L).count() === 30)
  }

  test("a string bound longer than the cap drops the stat (file never pruned)") {
    import spark.implicits._
    val root = freshRoot("sl")
    val long = "x" * 100 // past MaxStrStatBytes: stat dropped, never pruned
    AcidTable.commitAppend(Seq((long, 1L)).toDF("name", "k").coalesce(1),
      root, statsCols = Seq("name", "k"))
    AcidTable.commitAppend(Seq(("abc", 2L)).toDF("name", "k").coalesce(1),
      root, statsCols = Seq("name", "k"))
    val pr = AcidTable.readWhere(spark, root, 2L,
      Seq(AcidTable.StrRange("name", "aaa", "abz")))
    assert(pr.filesTotal === 2 && pr.filesScanned === 2,
      "the capped file has no stat and must be conservatively kept")
    // and the stats survive a manifest round-trip byte-exactly, separators
    // included (hex encoding)
    val root2 = freshRoot("sx")
    AcidTable.commitAppend(
      Seq(("a|b:c,d", 1L)).toDF("name", "k").coalesce(1),
      root2, statsCols = Seq("name", "k"))
    val e = AcidTable.entriesOf(spark, root2, 1L).head
    assert(e.strStatFor("name").contains(
      AcidTable.StrStat("name", "a|b:c,d", "a|b:c,d")))
  }

  // ---- round 12: schema-reconciled reads ----------------------------------

  test("readReconciled widens drifted appends and quarantines conflicts") {
    import spark.implicits._
    val root = freshRoot("sr")
    AcidTable.commitAppend(
      Seq((1, 10, "x")).toDF("k", "v", "tag")
        .select(col("k").cast("int").as("k"), col("v").cast("int").as("v"), col("tag")),
      root)
    AcidTable.commitAppend(
      Seq((2L, 20L, "y")).toDF("k", "v", "tag")
        .select(col("k").cast("bigint").as("k"), col("v").cast("bigint").as("v"), col("tag")),
      root)
    AcidTable.commitAppend(
      Seq((3L, 30.0, 7L)).toDF("k", "v", "tag")
        .select(col("k").cast("bigint").as("k"), col("v").cast("double").as("v"),
          col("tag").cast("bigint").as("tag")),
      root)
    val (df, quarantined, reader) = AcidTable.readReconciled(spark, root, 3L)
    assert(quarantined === Seq("tag"), "string->bigint is a cross-kind conflict")
    assert(reader.toMap === Map("k" -> "bigint", "v" -> "double"))
    val rows = df.select("__gen", "k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows === Set((1L, 1L, 10.0), (2L, 2L, 20.0), (3L, 3L, 30.0)))
    assert(!df.columns.contains("tag"))
  }

  // ---- round 12: vacuum retention guard -----------------------------------

  test("deleteCow that removes every row leaves a readable empty version") {
    val root = statsTable("de")
    val (v, rewritten, kept) =
      AcidTable.deleteCow(spark, root, "k", 1, 30, statsCols = Seq("k", "v"))
    assert(rewritten === 3 && kept === 0)
    // the current version must stay readable (schema preserved), not brick
    val cur = AcidTable.readAsOf(spark, root, v)
    assert(cur.count() === 0)
    assert(cur.columns.toSeq === Seq("k", "v"))
    assert(asSet(AcidTable.readAsOf(spark, root, 3L)) ===
      (1L to 30L).map(i => i -> i * 100).toSet, "pre-delete snapshot intact")
  }

  test("vacuum horizon anchors to SUPERSESSION time, not the version's own age") {
    val root = freshRoot("vs")
    AcidTable.commitOverwrite(kv(1L -> 1L), root)
    // age v1's own commit timestamp two hours into the past (manifests are
    // text; the spec edits what a long-idle table would have written)
    val p = new File(root, f"_manifests/v${1L}%08d.manifest")
    val text = scala.io.Source.fromFile(p).getLines().mkString("\n")
    val aged = text.replaceAll("#ts:\\d+",
      s"#ts:${System.currentTimeMillis() - 2 * 3600 * 1000L}")
    java.nio.file.Files.write(p.toPath, (aged + "\n").getBytes)
    // drop the Hadoop LocalFileSystem checksum sidecar the raw edit broke
    new File(p.getParentFile, s".${p.getName}.crc").delete()
    // v2 lands NOW: v1 only stopped being current this instant — a reader
    // that resolved v1 a second ago is inside any sane horizon
    AcidTable.commitOverwrite(kv(2L -> 2L), root)
    val (m, fdel) = AcidTable.vacuum(spark, root, retainLast = 1,
      minAgeMillis = 3600 * 1000L)
    assert(m === 0 && fdel === 0,
      "a version superseded a moment ago must survive the horizon even if " +
        "its own commit is ancient")
    assert(asSet(AcidTable.readAsOf(spark, root, 1L)) === Set(1L -> 1L))
  }

  test("vacuum never expires a manifest younger than minAgeMillis") {
    val root = freshRoot("vg")
    AcidTable.commitOverwrite(kv(1L -> 1L), root)
    AcidTable.commitOverwrite(kv(2L -> 2L), root)
    AcidTable.commitOverwrite(kv(3L -> 3L), root)
    // all three commits are milliseconds old: a 1-hour horizon refuses all
    val (m0, f0) = AcidTable.vacuum(spark, root, retainLast = 1,
      minAgeMillis = 3600 * 1000L)
    assert(m0 === 0 && f0 === 0)
    assert(asSet(AcidTable.readAsOf(spark, root, 1L)) === Set(1L -> 1L),
      "a reader mid-scan on v1 is safe inside the horizon")
    // horizon elapsed (0ms): the guard releases, retainLast applies
    val (m1, _) = AcidTable.vacuum(spark, root, retainLast = 1, minAgeMillis = 0L)
    assert(m1 === 2)
    intercept[IllegalArgumentException] { AcidTable.readAsOf(spark, root, 1L) }
    assert(asSet(AcidTable.read(spark, root)) === Set(3L -> 3L))
  }

  test("expectations: fail mode aborts with per-name counts, publishes nothing") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot("exf")
    AcidTable.commitOverwrite(kv(1L -> 10L), root)
    val e = intercept[AcidTable.ExpectationViolation] {
      AcidTable.commitAppendExpect(
        kv(2L -> 20L, 3L -> -1L, 4L -> -2L, 5L -> 500L), root,
        Seq("positive_v" -> (col("v") > 0), "small_k" -> (col("k") < 5)))
    }
    assert(e.counts === Map("positive_v" -> 2L, "small_k" -> 1L))
    assert(AcidTable.versions(spark, root) === Seq(1L),
      "a failed expectation publishes NOTHING")
    // all-pass commits normally; NULL predicates pass (SQL CHECK semantics)
    import spark.implicits._
    val withNull = Seq((2L, Some(20L)), (3L, None))
      .toDF("k", "v").coalesce(1)
    val (v, rejected, qv) = AcidTable.commitAppendExpect(withNull, root,
      Seq("positive_v" -> (col("v") > 0)))
    assert(v === 2L && rejected === 0L && qv.isEmpty)
    assert(AcidTable.read(spark, root).count() === 3L)
  }

  test("expectations: quarantine mode tiles the input, names what failed") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot("exq")
    val (v, rejected, qv) = AcidTable.commitAppendExpect(
      kv(1L -> 10L, 2L -> -1L, 9L -> 90L, 10L -> -5L), root,
      Seq("positive_v" -> (col("v") > 0), "small_k" -> (col("k") < 10)),
      onViolation = "quarantine")
    assert(rejected === 2L && qv === Some(1L))
    assert(asSet(AcidTable.readAsOf(spark, root, v)) ===
      Set(1L -> 10L, 9L -> 90L))
    val q = AcidTable.readAsOf(spark, s"$root/_quarantine", qv.get)
      .select("k", "__violations").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(q === Map(2L -> "positive_v", 10L -> "positive_v,small_k"),
      "a doubly-violating row joins both names in declaration order")
    // accepted ∪ quarantined == input, nothing silently dropped
    assert(AcidTable.read(spark, root).count() +
      AcidTable.read(spark, s"$root/_quarantine").count() === 4L)
    // an all-rejected batch publishes no version (and no empty data
    // file); the current version comes back
    val (v2, rejected2, qv2) = AcidTable.commitAppendExpect(kv(2L -> -1L),
      root, Seq("positive_v" -> (col("v") > 0)), onViolation = "quarantine")
    assert(AcidTable.versions(spark, root) === Seq(v),
      "an all-rejected append must not publish an empty version")
    assert(v2 === v && rejected2 === 1L && qv2 === Some(2L))
  }
}
