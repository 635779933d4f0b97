package graft

import org.apache.spark.sql.functions._
import graft.operators.{IndexStore, NearDup}

/** Fresh-PROCESS index-store probe: launched by `IndexStoreSpec` as a
  * separate JVM (its own SparkContext, cold JVM, nothing shared with the
  * writer) to prove the on-disk store round-trips across the true
  * warehouse lifecycle — write in one application, serve in the next.
  * Exits 0 iff the cold reload matches the writer's recorded state and an
  * incremental probe against the reloaded bands still finds the planted
  * duplicate.
  *
  * args: [storeRoot, expectedBandRows, dupDocId, dupText] */
object StoreProbeMain {
  def main(args: Array[String]): Unit = {
    val Array(root, expectedRows, dupId, dupText) = args
    val spark = GraftSession.builder(2).appName("graft-store-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val bands = IndexStore.readLshBands(spark, root)
      val n = bands.count()
      if (n != expectedRows.toLong) {
        System.err.println(s"[probe] band rows $n != expected $expectedRows")
        sys.exit(2)
      }
      // dedup-on-arrival against the COLD store: the planted duplicate of
      // an already-indexed doc must collide
      val arriving = Seq((dupId.toLong, dupText)).toDF("doc_id", "text")
      val newBands = NearDup.lshBandTable(arriving, "doc_id", col("text"))
      val hits = NearDup.incrementalLshCandidates(newBands, bands).count()
      if (hits < 1L) {
        System.err.println("[probe] planted duplicate found no stored candidate")
        sys.exit(3)
      }
      sys.exit(0)
    } finally spark.stop()
  }
}
