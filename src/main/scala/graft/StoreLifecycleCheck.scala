package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.multimodal.{AudioWav, Multimodal}
import graft.operators.{IndexStore, NearDup}

/** Fresh-PROCESS proof of the IndexStore lifecycle (round-5 hardening):
  * the q_dedup8/q_sim7/q_sim9/q_sim12 queries prove write -> reload ->
  * probe within one session; this main proves the true warehouse cycle —
  * the store written by one SparkSession is probed by a COMPLETELY NEW
  * SparkSession (the first is `stop()`ed and its context torn down before
  * the second starts), with nothing carried over but the parquet on disk.
  *
  * Day-1: sketch a corpus prefix, persist the LSH band table. Day-2 (new
  * session): a fresh doc batch arrives; `incrementalLshCandidates` probes
  * the RELOADED store and must equal the full recompute over old ∪ new
  * restricted to pairs touching a new id — the exactness contract the
  * incremental operator claims. Both corpora are rebuilt deterministically
  * from `ScaleBench.syntheticDocs` (fixed seeds), so the check needs no
  * state but the store.
  *
  * Run: `sbt "runMain graft.StoreLifecycleCheck /tmp/some/root"`, exits 0
  * on success; StoreLifecycleSpec spawns it as a separate JVM.
  */
object StoreLifecycleCheck {

  // split at 301 so the planted pair (300, 301) straddles the old/new
  // boundary: the probe must find old x new pairs, not just new x new
  private val NOld = 301L
  private val NAll = 400L

  private def session(appName: String): SparkSession =
    GraftSession.builder(4).appName(appName).getOrCreate()

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: StoreLifecycleCheck <storeRoot>")
    val root = args(0)

    // ---- day 1: its own session writes the stores, then fully stops ----
    locally {
      val s1 = session("graft-store-writer")
      s1.sparkContext.setLogLevel("ERROR")
      val oldDocs = ScaleBench.syntheticDocs(s1, NAll).where(col("doc_id") < NOld)
      IndexStore.writeLshBands(
        NearDup.lshBandTable(oldDocs, "doc_id", col("text")), root)
      // media twin: dHash table of the day-1 image slice (same id plant —
      // 2k/2k+1 near-dups — so pairs straddle the boundary here too)
      IndexStore.writeDHashes(
        Multimodal.imageDHashes(Multimodal.syntheticPngNearDups(
          s1.range(NAll).toDF("doc_id").where(col("doc_id") < NOld),
          "doc_id", width = 16, height = 16)), root)
      // audio twin: band-energy fingerprints of the day-1 clip slice
      IndexStore.writeAudioHashes(
        AudioWav.audioHashes(AudioWav.syntheticWavNearDups(
          s1.range(NAll).toDF("doc_id").where(col("doc_id") < NOld),
          "doc_id", nSamples = 3600)), root)
      // ACID twin: commit two versions (overwrite then append); the day-2
      // session must time-travel to BOTH with nothing carried over but the
      // manifests + data files on disk.
      import graft.operators.AcidTable
      AcidTable.commitOverwrite(
        s1.range(NOld).toDF("k").withColumn("v", col("k") * 2), s"$root/acid",
        statsCols = Seq("k"))
      AcidTable.commitAppend(
        s1.range(NOld, NAll).toDF("k").withColumn("v", col("k") * 2),
        s"$root/acid", statsCols = Seq("k"))
      // r12 cont.: day-1 TAILS the two appends (marker checkpoint on
      // disk) BEFORE the merge lands — day 2 must resume from the
      // markers alone and see only what came after
      val t1 = graft.streaming.AcidTail.tailChanges(s1, s"$root/acid",
        s"$root/acid_ck", Seq("k"), Seq("v")) { (_, _) => () }
      require(t1 == Seq(1L, 2L), s"day-1 tail processed $t1, want [1,2]")
      // r12: a copy-on-write upsert whose stats + kept-by-reference lines
      // the day-2 session must prune on with nothing but the manifests
      AcidTable.mergeCow(
        s1.range(10).toDF("k").withColumn("v", lit(-5L)), s"$root/acid",
        "k", statsCols = Seq("k"))
      // r13: a merge-on-read DELETE — the DV mask parquet + dv-annotated
      // manifest lines must serve the masked read in a fresh process
      val (_, masked13, rw13) = AcidTable.deleteMor(s1, s"$root/acid",
        "k", 20L, 24L)
      require(rw13 == 0 && masked13 >= 1, "MOR delete should mask, not rewrite")
      s1.stop()
    }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // ---- day 2: a brand-new session (new SparkContext) probes it ----
    val s2 = session("graft-store-prober")
    s2.sparkContext.setLogLevel("ERROR")
    try {
      val all = ScaleBench.syntheticDocs(s2, NAll)
      val newDocs = all.where(col("doc_id") >= NOld)
      val stored = IndexStore.readLshBands(s2, root)
      require(stored.count() > 0, "reloaded band store is empty")

      val incremental = NearDup.incrementalLshCandidates(
          NearDup.lshBandTable(newDocs, "doc_id", col("text")), stored)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = NearDup.lshCandidatePairs(all, "doc_id", col("text"))
        .where(col("id_a") >= NOld || col("id_b") >= NOld)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      require(incremental == full,
        s"incremental-vs-store != full recompute: missing=${(full -- incremental).take(3)} " +
        s"extra=${(incremental -- full).take(3)}")
      // the planted dup structure (id%10==1 duplicates id-1) guarantees
      // cross-boundary pairs exist, so the equality above is not vacuous
      require(incremental.nonEmpty, "probe found no candidate pairs — plant failed")
      println(s"store-lifecycle OK: ${incremental.size} pairs from the reloaded store")

      // ---- media store: same fresh-process probe over the dHash table ----
      val allMedia = Multimodal.syntheticPngNearDups(
        s2.range(NAll).toDF("doc_id"), "doc_id", width = 16, height = 16)
      val newHashes = Multimodal.imageDHashes(
        allMedia.where(col("doc_id") >= NOld)).localCheckpoint()
      val storedH = IndexStore.readDHashes(s2, root)
      require(storedH.count() == NOld, "reloaded dhash store has wrong row count")
      val incImg = NearDup.incrementalFingerprintPairs(newHashes, storedH, "doc_id", "dhash")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val allH = Multimodal.imageDHashes(allMedia).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fullImg = (for {
        x <- allH.keys; y <- allH.keys
        if x < y && (x >= NOld || y >= NOld)
        if java.lang.Long.bitCount(allH(x) ^ allH(y)) <= 3
      } yield (x, y)).toSet
      require(incImg == fullImg,
        s"media incremental-vs-store != full recompute: " +
        s"missing=${(fullImg -- incImg).take(3)} extra=${(incImg -- fullImg).take(3)}")
      require(incImg.nonEmpty, "media probe found no pairs — plant failed")
      println(s"media-store-lifecycle OK: ${incImg.size} pairs from the reloaded dhash store")

      // ---- audio store: same fresh-process probe over the fingerprints ----
      val allAudio = AudioWav.syntheticWavNearDups(
        s2.range(NAll).toDF("doc_id"), "doc_id", nSamples = 3600)
      val newAHashes = AudioWav.audioHashes(
        allAudio.where(col("doc_id") >= NOld)).localCheckpoint()
      val storedA = IndexStore.readAudioHashes(s2, root)
      require(storedA.count() == NOld, "reloaded audio hash store has wrong row count")
      val incAud = NearDup.incrementalFingerprintPairs(newAHashes, storedA, "doc_id", "ahash")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val allA = AudioWav.audioHashes(allAudio).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fullAud = (for {
        x <- allA.keys; y <- allA.keys
        if x < y && (x >= NOld || y >= NOld)
        if java.lang.Long.bitCount(allA(x) ^ allA(y)) <= 3
      } yield (x, y)).toSet
      require(incAud == fullAud,
        s"audio incremental-vs-store != full recompute: " +
        s"missing=${(fullAud -- incAud).take(3)} extra=${(incAud -- fullAud).take(3)}")
      require(incAud.nonEmpty, "audio probe found no pairs — plant failed")
      println(s"audio-store-lifecycle OK: ${incAud.size} pairs from the reloaded fingerprint store")

      // ---- ACID table: a brand-new session time-travels both versions ----
      import graft.operators.AcidTable
      require(AcidTable.versions(s2, s"$root/acid") == Seq(1L, 2L, 3L, 4L),
        "acid store lost a version across the process boundary")
      val asOf1 = AcidTable.readAsOf(s2, s"$root/acid", 1)
      val latest = AcidTable.read(s2, s"$root/acid")
      require(asOf1.count() == NOld && latest.count() == NAll - 5,
        s"acid snapshot counts wrong: v1=${asOf1.count()} latest=${latest.count()}")
      // v2 (pre-merge) is untouched; v3 carries the upsert
      val sumV2 = AcidTable.readAsOf(s2, s"$root/acid", 2)
        .agg(sum(col("v"))).head().getLong(0)
      require(sumV2 == NAll * (NAll - 1), s"acid v2 content wrong: sum(v)=$sumV2")
      val expectedMerged = NAll * (NAll - 1) - (0L until 10L).map(_ * 2).sum - 50L
      val sumV3 = AcidTable.readAsOf(s2, s"$root/acid", 3)
        .agg(sum(col("v"))).head().getLong(0)
      require(sumV3 == expectedMerged,
        s"acid merged content wrong: sum(v)=$sumV3 expected $expectedMerged")
      // r13: v4 is the MOR delete of k=20..24 — the RELOADED session must
      // apply the DV mask it has never seen built (keys 20..24 carry
      // v = 2k, summing 220)
      val sumV = latest.agg(sum(col("v"))).head().getLong(0)
      require(sumV == expectedMerged - 220L,
        s"reloaded DV mask not applied: sum(v)=$sumV " +
          s"expected ${expectedMerged - 220L}")
      // r12: data skipping off the RELOADED manifest stats — the pruned
      // read must plan fewer files and still answer exactly
      val pr = AcidTable.readWhere(s2, s"$root/acid", 3L,
        Seq(AcidTable.ColRange("k", NAll - 50, NAll - 1)))
      require(pr.filesScanned < pr.filesTotal,
        s"reloaded stats pruned nothing: ${pr.filesScanned}/${pr.filesTotal}")
      val tail = pr.df.where(col("k") >= NAll - 50).count()
      require(tail == 50, s"pruned read answered $tail rows, want 50")
      println(s"acid-lifecycle OK: v1=${NOld} rows, merged v3 sum=$sumV, " +
        s"pruned read ${pr.filesScanned}/${pr.filesTotal} files from reloaded manifests")

      // r12 cont.: the CDC tail RESUMES across the process boundary — the
      // day-1 markers survive, so the new session delivers ONLY the
      // commits after the checkpoint, each as its logical row delta
      // (incl. the MOR delete: same-path-new-mask entries feed 'removed')
      var feeds = Map.empty[Long, Map[String, Long]]
      val t2 = graft.streaming.AcidTail.tailChanges(s2, s"$root/acid",
        s"$root/acid_ck", Seq("k"), Seq("v")) { (df, v) =>
        feeds += v -> df.groupBy("change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      require(t2 == Seq(3L, 4L),
        s"resumed tail processed $t2, want the post-checkpoint [3, 4]")
      require(feeds(3L) == Map("changed" -> 10L),
        s"v3's delta must be exactly the 10 upserted keys, got ${feeds(3L)}")
      require(feeds(4L) == Map("removed" -> 5L),
        s"v4's delta must be the 5 MOR-masked keys, got ${feeds(4L)}")
      println(s"acid-tail-lifecycle OK: resumed at v3+v4, deltas=$feeds")
    } finally s2.stop()
  }
}
