package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("within-cell pairs are a subset of the exact threshold pairs (precision 1.0)") {
    // the raw fixture has (almost) no 0.5-similar pairs, so plant exact
    // duplicates to make the property non-vacuous
    val copies = emb.where(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(copies)
    val (indexed, _) = IvfAnn.buildIndex(corpus, "embedding", numClusters = 8)
    val got = SemDedup.pairsWithinCells(indexed.localCheckpoint(),
      "vec_id", "embedding", minSim = 0.5)
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.allPairsAboveThreshold(
      corpus.withColumn("__blk", lit(1)), "vec_id", "embedding", col("__blk"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), s"${(got -- exact).take(5)} not truly similar")
    assert(got.nonEmpty, "planted dups must surface")
    info(s"recall vs exact all-pairs: ${got.size}/${exact.size}")
  }

  test("planted identical vectors are always caught (same cell, cosine 1)") {
    val copies = emb.where(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(copies)
    val (indexed, _) = IvfAnn.buildIndex(corpus, "embedding", numClusters = 8)
    val pairs = SemDedup.pairsWithinCells(indexed.localCheckpoint(),
      "vec_id", "embedding", minSim = 0.99)
      .as[(Long, Long)].collect().toSet
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, i + 100000L)), s"planted dup of $i missed")
    }
  }

  test("pairsWithinCellsBlocked == pairsWithinCells (tile kernel law, r16)") {
    // Exercise every kernel branch: planted exact dups (cosine 1), a
    // zero vector (null cosine -> dropped), and thresholds low enough
    // that near-boundary rounding is live. Compare as SETS of pairs —
    // both forms emit each unordered qualifying pair exactly once.
    val zero = Seq((777777L, Array.fill(64)(0.0f), 0L))
      .toDF("vec_id", "embedding", "label")
    val copies = emb.where(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = emb.unionByName(copies).unionByName(zero)
    val (indexed0, _) = IvfAnn.buildIndex(corpus, "embedding", numClusters = 8)
    val indexed = indexed0.localCheckpoint()
    Seq(0.3, 0.5, 0.99).foreach { thr =>
      val joinForm = SemDedup.pairsWithinCells(indexed, "vec_id", "embedding", thr)
        .as[(Long, Long)].collect().toSet
      val blocked = SemDedup.pairsWithinCellsBlocked(indexed, "vec_id", "embedding", thr)
        .as[(Long, Long)].collect().toSet
      assert(blocked === joinForm, s"thr=$thr: tile kernel diverged from join form")
      if (thr <= 0.5) assert(blocked.nonEmpty, s"thr=$thr vacuous")
    }
  }

  private val e1 = Array(1f, 0f, 0f, 0f)
  private val e2 = Array(0f, 1f, 0f, 0f)

  test("pairsWithinCellsBlocked: string ids run the join form") {
    // the tile kernel carries ids as longs; a string id cannot ride it
    val byName = Seq(("b", 0, e1), ("a", 0, e1), ("c", 0, e2), ("y", 1, e2), ("x", 1, e2))
      .toDF("doc", "__cluster", "vec")
    val pairs = SemDedup.pairsWithinCellsBlocked(byName, "doc", "vec", 0.9)
      .as[(String, String)].collect().sorted.toSeq
    assert(pairs === Seq(("a", "b"), ("x", "y")))
  }

  test("pairsWithinCellsBlocked: a repeated id never pairs with itself") {
    // every other row pair is emitted once, exactly as the join form's
    // strict id_a < id_b does
    val repeated = Seq((5L, 0, e1), (5L, 0, e1), (7L, 0, e1), (9L, 0, e2))
      .toDF("vec_id", "__cluster", "vec")
    val blocked = SemDedup.pairsWithinCellsBlocked(repeated, "vec_id", "vec", 0.9)
      .as[(Long, Long)].collect().sorted.toSeq
    val joinForm = SemDedup.pairsWithinCells(repeated, "vec_id", "vec", 0.9)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(blocked === Seq((5L, 7L), (5L, 7L)))
    assert(blocked === joinForm)
  }

  test("survivors: losers removed, exactly one survivor per component") {
    val (indexed0, _) = IvfAnn.buildIndex(emb, "embedding", numClusters = 8)
    val indexed = indexed0.localCheckpoint()
    val pairs = SemDedup.pairsWithinCells(indexed, "vec_id", "embedding", 0.5)
    val comp = NearDup.connectedComponents(pairs)
    val nLosers = comp.where(col("v") =!= col("component")).count()
    val out = SemDedup.survivors(indexed, "vec_id", "embedding", 0.5)
    assert(out.count() === emb.count() - nLosers)
    // every component's min id survives
    val survivors = out.select("vec_id").as[Long].collect().toSet
    comp.groupBy("component").agg(min("v").as("m")).select("m").as[Long]
      .collect().foreach(m => assert(survivors.contains(m)))
  }
}
