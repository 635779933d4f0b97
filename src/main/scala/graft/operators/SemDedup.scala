package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space with a k-means coarse
  * quantizer and compare vectors only WITHIN each cluster — the published
  * recipe for semantic dedup of web-scale pretraining corpora, and the
  * third near-dup scale path here next to hyperplane-LSH bucketing
  * (`Similarity.lshBucketedPairsAboveThreshold`) and MinHash-LSH
  * (`NearDup.lshCandidatePairs`).
  *
  * Scale shape: the candidate set is Σ cell² instead of corpus² — pick
  * `numClusters` ∝ corpus size and the expected cell stays constant-sized,
  * so total pair work is LINEAR in the corpus. The cluster assignment is
  * the SAME artifact the IVF ANN index persists (`IvfAnn.cachedIndex`):
  * one k-means fit serves both search and dedup, which is how production
  * curation pipelines amortize it. Exact duplicates can never be missed
  * (identical vectors get identical assignments); near-dups straddling a
  * cell boundary are the approximation, as in the paper.
  */
object SemDedup {

  /** Exact-cosine pairs >= `minSim` within each cell of an assigned
    * corpus (`__cluster` column, e.g. from `IvfAnn.buildIndex` /
    * `cachedIndex`). Callers must pass a MATERIALIZED assignment (the
    * cached index is persisted) — a lazy one would recompute the k-means
    * pipeline under both sides of the self-join. */
  def pairsWithinCells(indexed: DataFrame, idCol: String, vecCol: String,
                       minSim: Double): DataFrame = {
    val a = indexed.select(col("__cluster"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = indexed.select(col("__cluster"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, Seq("__cluster"))
      .where(col("id_a") < col("id_b") &&
        round(VectorOps.cosine(col("__va"), col("__vb")), 6) >= lit(minSim))
      .select("id_a", "id_b")
  }

  /** Tile-parallel twin of [[pairsWithinCells]] (r16 — the q_dedup4
    * triangular tiling applied to the embedding kernel): IDENTICAL output,
    * different execution shape. The join form materializes ~Σ cell²/2
    * candidate rows, copying both embedding arrays into every candidate
    * row before the cosine filter, and runs each cell's quadratic work
    * wherever the hash partitioning lands it; here each cell is tiled by
    * [[NearDup.tileRouted]] (the [[NearDup.exactJaccardPairsBlocked]]
    * routing) and one task per tile scores its pairs over in-memory
    * primitive float arrays: each vector is shuffled G times instead of
    * being copied into ~cell/2 joined rows, and the dominant cell
    * parallelizes over G(G+1)/2 tile tasks instead of serializing.
    * Cosine accumulation order (in-order left fold, double widening),
    * the 6-dp HALF_UP round, and the zero-norm / length-mismatch null
    * semantics replicate [[graft.functions.CosineSimilarity]] + Spark's
    * `round` BIT-EXACTLY (java.math.BigDecimal.valueOf + HALF_UP is
    * Spark's own double-round codegen); law-spec'd blocked == join form.
    * Requires each cell's vectors to fit in task memory — the
    * [[pairsWithinCells]] bounded-cell contract, unchanged. The kernel
    * carries ids as longs, so non-integral ids (strings, decimals) run
    * the join form instead; rows sharing an id never pair with each
    * other, as in the join form's strict `id_a < id_b`. */
  def pairsWithinCellsBlocked(indexed: DataFrame, idCol: String,
                              vecCol: String, minSim: Double): DataFrame = {
    val idType = indexed.schema(idCol).dataType
    if (!SizeAdaptive.integral(idType))
      return pairsWithinCells(indexed, idCol, vecCol, minSim)
    val spark = indexed.sparkSession
    import spark.implicits._
    val rows = NearDup.tileRouted(indexed.select(col("__cluster").cast("long").as("__blk"),
        col(idCol).cast("long").as("__id"), col(vecCol).as("__vec")), Seq("__blk"), "__vec")
      .as[(Long, Int, Int, Int, Long, Array[Float])]
    val pairs = rows.groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key, it) =>
        val (_, ti, tj) = key
        val out = Seq.newBuilder[(Long, Long)]
        NearDup.forEachTilePair(it.toArray, ti, tj)(_._4, _._5) { (a, b) =>
          val ia = a._5; val va = a._6; val ib = b._5; val vb = b._6
          if (ia != ib && va != null && vb != null && va.length == vb.length) {
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < va.length) {
              val u = va(i).toDouble; val v = vb(i).toDouble
              dot += u * v; na += u * u; nb += v * v; i += 1
            }
            if (na != 0.0 && nb != 0.0) {
              val c = dot / (math.sqrt(na) * math.sqrt(nb))
              val r = java.math.BigDecimal.valueOf(c)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (r >= minSim)
                out += (if (ia < ib) (ia, ib) else (ib, ia))
            }
          }
        }
        out.result().iterator
      }.toDF("id_a", "id_b")
    pairs.select(col("id_a").cast(idType).as("id_a"),
      col("id_b").cast(idType).as("id_b"))
  }

  /** Incremental within-cell pairs for a NEW vector batch against a
    * stored assignment (round 8 — the embedding twin of
    * `NearDup.incrementalFingerprintPairs`): candidate pairs touching the batch
    * are new×new plus new×stored, found by a cell-local join — the
    * stored corpus is never re-paired against itself. Contract (the
    * q_dedup16 discipline, oracle-enforced by q_dedup21): the output
    * equals the FULL `pairsWithinCells` recompute over stored ∪ new,
    * restricted to pairs with at least one new id. Pairs are normalized
    * id_a < id_b regardless of which side is stored.
    *
    * Both inputs carry (`__cluster`, idCol, vecCol); ids must be
    * disjoint between the two sides (the store layer excludes a replayed
    * batch's own prior append before calling this). */
  def incrementalPairsWithinCells(newAssigned: DataFrame, stored: DataFrame,
                                  idCol: String, vecCol: String,
                                  minSim: Double): DataFrame = {
    // Drive the join from the NEW side only: per batch the join output is
    // |new ∩ cell| × |cell|, never the stored corpus against itself (a
    // tagged-union self-join filtered on "touches new" would materialize
    // every stored×stored candidate row per cell before discarding it —
    // the full quadratic the incremental path exists to avoid).
    val a = newAssigned.select(col("__cluster"), col(idCol).as("__id_n"),
      col(vecCol).as("__vn"))
    val b = newAssigned.select(col("__cluster"), col(idCol).as("__id_o"),
        col(vecCol).as("__vo"), lit(true).as("__isnew"))
      .unionByName(stored.select(col("__cluster"), col(idCol).as("__id_o"),
        col(vecCol).as("__vo"), lit(false).as("__isnew")))
    a.join(b, Seq("__cluster"))
      // new×new once (strict order); new×stored always (stored ids are
      // disjoint from the batch by the store-layer contract)
      .where((col("__isnew") && col("__id_n") < col("__id_o")) || !col("__isnew"))
      .where(round(VectorOps.cosine(col("__vn"), col("__vo")), 6) >= lit(minSim))
      .select(least(col("__id_n"), col("__id_o")).as("id_a"),
        greatest(col("__id_n"), col("__id_o")).as("id_b"))
  }

  /** End-to-end semantic dedup: within-cell pairs -> connected components
    * -> keep each component's minimum id (deterministic survivor), plus
    * all never-matched rows. `indexed` as in [[pairsWithinCells]]. */
  def survivors(indexed: DataFrame, idCol: String, vecCol: String,
                minSim: Double): DataFrame = {
    // r16: pairs come from the tile-parallel kernel (identical output,
    // spec-pinned) — the within-cell row join was the last quadratic
    // row-join kernel in the dedup family
    val comp = NearDup.connectedComponents(
      pairsWithinCellsBlocked(indexed, idCol, vecCol, minSim))
    val losers = comp.where(col("v") =!= col("component")).select("v")
    indexed.join(losers, indexed(idCol) === losers("v"), "left_anti")
      .drop("__cluster")
  }
}
