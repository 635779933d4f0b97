package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Graph-based ANN (HNSW-class, round 10; hierarchical entry layers round
  * 11): completes the ANN family at the recall-vs-probe-count frontier next
  * to IVF (memory/partition axis, [[IvfAnn]]) and PQ (bandwidth axis,
  * [[PqAnn]]). A query greedily walks a proximity GRAPH instead of scanning
  * cells: per hop it expands the current beam's neighbor lists, rescores
  * only those candidates, and keeps the best `beamWidth` — probe cost is
  * O(rounds · beamWidth · M) similarity evaluations, independent of the
  * corpus size.
  *
  * BUILD (offline, partitioned — the 100 TB shape): an exact kNN graph is
  * O(n²), so LAYER-0 neighbor lists are built WITHIN IVF cells (the
  * `SemDedup.pairsWithinCells` bounded-block contract: the within-cell
  * self-join is the declared cost, parallel across cells). Cross-cell
  * routing is provided by a HIERARCHY over the cell ENTRY POINTS (each
  * cell's vector nearest its centroid) — the r10 design meshed every entry
  * to every other (≤ cells² edges, every probe scored every entry), which
  * is fine at sqrt(n) cells on a fixture but at the 3×10^4-cell operating
  * point of a 10^9-vector corpus is ~10^9 edges and 3×10^4 seed scores per
  * query. Round 11 replaces it with HNSW's upper layers:
  *
  *  - each entry gets a geometric level from the trailing zero bits of
  *    xxhash64(entry_id) (P(level ≥ l) = 2^{1-l}, capped) — deterministic,
  *    no RNG state;
  *  - inserts run top-level-first; a node at level λ links to its `kUp`
  *    nearest AT EACH layer 1..λ, found by the standard HNSW descent over
  *    the already-built upper structure; reverse edges are degree-pruned
  *    to 2·kUp — total hierarchy edges O(kUp · entries), vs entries²;
  *  - the hierarchy is built in a DRIVER fold over the ENTRY SET ONLY
  *    (one vector per cell — sqrt(corpus)-bounded by construction), behind
  *    a fail-fast byte-budget probe, the same discipline as the BPE /
  *    unigram-LM vocabulary folds: the CORPUS never enters the loop, only
  *    the dimension-scale index metadata does.
  *
  * PROBE: descend the entry hierarchy top-down (per layer: expand the best
  * `entryBeam` nodes' layer-l edges, rescore only the new candidates —
  * O(levels · entryBeam · kUp) entry scores, FLAT in the cell count), then
  * run the greedy beam over the layer-0 lists. One walk serves one query
  * ([[probe]]) and a query batch ([[probeBatch]]): each query's beam lives
  * in driver maps, while the graph and corpus stay distributed — per level
  * and per hop the batch shares one pruned adjacency lookup and one pruned
  * vector fetch. Deterministic (ties → lower id).
  *
  * Approximate by design ⇒ rows-only query (the q_sim3 contract): recall
  * is EMITTED AS DATA via [[Similarity.withRecallAgainst]] and floors are
  * spec-asserted against the brute-force truth. */
object NswAnn {

  /** Budget for the driver-side hierarchy fold: entry count × per-entry
    * bytes must fit (fail fast, never OOM). 256 MB ≈ 10^6 entries at
    * dim 64 — a 10^12-vector corpus at sqrt(n) cells. Past it, shard the
    * entry set by IVF super-cell and build one hierarchy per shard. */
  val HierBudgetBytes: Long = 256L << 20

  private[operators] def levelOf(id: Long, maxLevel: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L)
    if (h == 0L) maxLevel
    else math.min(maxLevel, 1 + java.lang.Long.numberOfTrailingZeros(h))
  }

  private def cosine(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double = {
    var dot = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / (na * nb)
  }

  private def norm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Build the HNSW upper layers over the entry set: returns bidirectional
    * (src, dst, sim, layer) edges for layers 1..maxLevel plus each entry's
    * level. Pure driver fold — deterministic insert order (level desc,
    * id asc), deterministic tie-breaks (sim desc, id asc). */
  private[graft] def buildHierarchy(
      entryVecs: Seq[(Long, Array[Float])], kUp: Int, efBuild: Int):
      (Seq[(Long, Long, Double, Int)], Map[Long, Int]) = {
    require(kUp >= 1 && efBuild >= kUp)
    val n = entryVecs.length
    if (n == 0) return (Seq.empty, Map.empty)
    val maxLevel = math.max(1, 63 - java.lang.Long.numberOfLeadingZeros(n.toLong).toInt)
    val levels = entryVecs.map { case (id, _) => id -> levelOf(id, maxLevel) }.toMap
    val vecs = entryVecs.toMap
    val norms = entryVecs.map { case (id, v) => id -> norm(v) }.toMap
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)
    // (layer, src) -> links sorted best-first (sim desc, id asc)
    val adj = mutable.Map.empty[(Int, Long), mutable.ArrayBuffer[(Long, Double)]]
    def addEdge(layer: Int, src: Long, dst: Long, sim: Double): Unit = {
      val buf = adj.getOrElseUpdate((layer, src), mutable.ArrayBuffer.empty)
      if (!buf.exists(_._1 == dst)) {
        buf += ((dst, sim))
        if (buf.length > 2 * kUp) {
          val pruned = buf.sortBy { case (d, s) => (-s, d) }.take(2 * kUp)
          buf.clear(); buf ++= pruned
        }
      }
    }
    def searchLayer(q: Array[Float], nq: Double, eps: Seq[Long], layer: Int,
                    ef: Int): Seq[(Long, Double)] = {
      val visited = mutable.Set.empty[Long]
      // both ordered best-first: (sim desc, id asc); results is TRIMMED to
      // the ef best so far (standard HNSW bounded result set), so `last`
      // is the current worst and every operation is O(log ef)
      val candidates = mutable.TreeSet.empty[(Double, Long)]
      val results = mutable.TreeSet.empty[(Double, Long)]
      def push(id: Long, s: Double): Unit = {
        candidates += ((s, id)); results += ((s, id))
        if (results.size > ef) results -= results.last
      }
      eps.distinct.foreach { id =>
        if (visited.add(id)) push(id, cosine(q, nq, vecs(id), norms(id)))
      }
      while (candidates.nonEmpty) {
        val c @ (cSim, cId) = candidates.head
        candidates -= c
        if (results.size >= ef && cSim < results.last._1) candidates.clear()
        else adj.getOrElse((layer, cId), Nil).foreach { case (nb, _) =>
          if (visited.add(nb)) {
            val s = cosine(q, nq, vecs(nb), norms(nb))
            if (results.size < ef || s > results.last._1) push(nb, s)
          }
        }
      }
      results.toSeq.map { case (s, id) => (id, s) }
    }

    val order = entryVecs.map(_._1).sortBy(id => (-levels(id), id))
    var entryPoint = order.head
    order.tail.foreach { id =>
      val q = vecs(id); val nq = norms(id); val lv = levels(id)
      var eps: Seq[Long] = Seq(entryPoint)
      var l = levels(entryPoint)
      while (l > lv) { eps = searchLayer(q, nq, eps, l, 1).map(_._1); l -= 1 }
      var layer = math.min(levels(entryPoint), lv)
      while (layer >= 1) {
        val cand = searchLayer(q, nq, eps, layer, efBuild)
        cand.take(kUp).foreach { case (nid, sim) =>
          addEdge(layer, id, nid, sim); addEdge(layer, nid, id, sim)
        }
        eps = cand.map(_._1)
        layer -= 1
      }
      if (lv > levels(entryPoint)) entryPoint = id
    }
    val edges = adj.toSeq.flatMap { case ((layer, src), links) =>
      links.map { case (dst, sim) => (src, dst, sim, layer) }
    }.sortBy(e => (e._4, e._1, e._2))
    (edges, levels)
  }

  /** Build the navigable graph over an IVF-assigned corpus
    * (`indexed` = corpus + `__cluster`, `centers` = (__cluster, __center)).
    * Returns (neighbors(src, dst, sim),
    *          entries(__cluster, entry_id, level),
    *          hier(src, dst, sim, layer)):
    * per-vector top-`m` within-cell layer-0 lists, each cell's entry point
    * with its hierarchy level, and the HNSW upper-layer edges. */
  def buildGraph(indexed: DataFrame, centers: DataFrame, idCol: String,
                 vecCol: String, m: Int, kUp: Int = 4, efBuild: Int = 16):
      (DataFrame, DataFrame, DataFrame) = {
    require(m >= 1, s"m must be >= 1, got $m")
    val spark = indexed.sparkSession
    import spark.implicits._
    val base = indexed.select(col("__cluster"), col(idCol).as("__id"),
      col(vecCol).as("__v"))
    val a = base.select(col("__cluster"), col("__id").as("src"), col("__v").as("__va"))
    val b = base.select(col("__cluster"), col("__id").as("dst"), col("__v").as("__vb"))
    val withinCell = Similarity.topKPerGroup(
      a.join(b, Seq("__cluster")).where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          VectorOps.cosine(col("__va"), col("__vb")).as("sim")),
      Seq("src"), Seq(col("sim").desc, col("dst").asc), m)
      .drop("rn")
    // entry point per cell: the vector nearest its own centroid
    val entryPts = Similarity.topKPerGroup(
      base.join(broadcast(centers), Seq("__cluster"))
        .select(col("__cluster"), col("__id"),
          VectorOps.cosine(col("__v"), col("__center")).as("__cs")),
      Seq("__cluster"), Seq(col("__cs").desc, col("__id").asc), 1)
      .select(col("__cluster"), col("__id").as("entry_id"))
    // ---- driver hierarchy fold over the ENTRY SET ONLY ----
    // Budget probe BEFORE the collect (the UnigramLm discipline): entries
    // are one-per-cell, so the count is the (already known dimension-scale)
    // cell count — fail fast if someone raises it past the budget.
    val dim = base.select(size(col("__v"))).limit(1).as[Int].head()
    val nEntries = entryPts.count()
    val bytes = nEntries * (4L * dim + 32L)
    require(bytes <= HierBudgetBytes,
      s"NswAnn.buildGraph: $nEntries entries x dim $dim = $bytes bytes exceeds " +
        s"the $HierBudgetBytes driver budget for the hierarchy fold — shard " +
        "the entry set by IVF super-cell and build one hierarchy per shard")
    val entryVecs = entryPts.join(base, entryPts("entry_id") === base("__id"))
      .select(col("entry_id"), col("__v"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
    val (edges, levels) = buildHierarchy(entryVecs, kUp, efBuild)
    val hier = edges.toDF("src", "dst", "sim", "layer")
    val levelDf = levels.toSeq.toDF("entry_id", "level")
    val entries = entryPts.join(broadcast(levelDf), Seq("entry_id"))
      .select(col("__cluster"), col("entry_id"), col("level"))
    (withinCell, entries, hier)
  }

  /** Day-2 arrival: link a batch of NEW vectors into the stored layer-0
    * graph WITHOUT rebuilding it — the HNSW insert, batched (round 11,
    * VERDICT r10 #7: every other index family has an incremental twin;
    * the adjacency was rebuilt from scratch).
    *
    * `batch` and `storedCells` both carry (__cluster, __id, __vec) — the
    * cell-store shape `StreamingDedup.processEmbeddingBatch` maintains;
    * assignment comes from the PERSISTED quantizer (`IvfAnn.assignToIndex`
    * against the stored centroids), never a refit. Returns new
    * (src, dst, sim) edge rows to APPEND to the adjacency:
    *
    *  - new-src lists are EXACTLY the full rebuild restricted to new
    *    srcs (top-`m` within the cell over stored ∪ batch — the
    *    q_dedup21 incremental == restricted-recompute contract,
    *    spec-asserted);
    *  - each forward edge is mirrored (dst → src) so STORED nodes can
    *    route into day-2 content; stored lists are never re-ranked —
    *    their degree grows by reverse edges only (the standard HNSW
    *    insert behavior: probes can only improve).
    *
    * The entry hierarchy is cell-level metadata and is untouched by
    * arrivals (cells change only on re-clustering — rebuild it then).
    * Per batch, work is |batch| × cell occupancy, never a corpus
    * re-pair; at cluster scale the cell store is bucketBy(__cluster) so
    * the member join co-locates. */
  def linkBatch(batch: DataFrame, storedCells: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val cols = Seq("__cluster", "__id", "__vec").map(col)
    val members = storedCells.select(cols: _*)
      .unionByName(batch.select(cols: _*))
    val a = batch.select(col("__cluster"), col("__id").as("src"),
      col("__vec").as("__va"))
    val b = members.select(col("__cluster"), col("__id").as("dst"),
      col("__vec").as("__vb"))
    val fwd = Similarity.topKPerGroup(
      a.join(b, Seq("__cluster")).where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          VectorOps.cosine(col("__va"), col("__vb")).as("sim")),
      Seq("src"), Seq(col("sim").desc, col("dst").asc), m)
      .drop("rn")
    val rev = fwd.select(col("dst").as("src"), col("src").as("dst"), col("sim"))
    fwd.unionByName(rev).groupBy("src", "dst").agg(max(col("sim")).as("sim"))
  }

  /** Rows of driver-held state the module accepts: 8M rows of
    * (long, long, double) is ~200 MB of driver heap. */
  private val DriverRowCeiling = 8000000L

  private def vectors(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))

  /** One query's walk, held on the driver: every node scored so far (id ->
    * cosine) and the layer-0 nodes already expanded. The state is
    * O(levels · entryBeam · kUp + rounds · beamWidth · M) BY CONSTRUCTION,
    * so the driver is the honest place for it: a DataFrame beam pays
    * materialization jobs every hop for a few thousand rows. */
  private final class Walk(val qv: Array[Float]) {
    val nq: Double = norm(qv)
    val scored = mutable.Map.empty[Long, Double]
    val expanded = mutable.Set.empty[Long]
    /** Scored nodes best-first: (sim desc, id asc). */
    def ranked: Seq[(Long, Double)] = scored.toSeq.sortBy { case (id, s) => (-s, id) }
    def best(n: Int, skip: Long => Boolean = _ => false): Seq[Long] =
      ranked.iterator.map(_._1).filterNot(skip).take(n).toSeq
  }

  /** Fetch-and-score for a batch of walks: ONE pruned vector fetch for the
    * union of every walk's unscored `ids` (isin pushes to the parquet
    * reader; at cluster scale the id-bucketed corpus serves these as point
    * lookups), then each walk scores only its OWN ids, so a walk's result
    * is the same whatever else is in the batch. Same in-order double fold
    * as the codegen'd CosineSimilarity ⇒ bitwise-identical sims. */
  private def score(walks: Seq[Walk], ids: Seq[Seq[Long]], vecs: DataFrame): Unit = {
    val fresh = walks.zip(ids).map { case (w, is) => is.distinct.filterNot(w.scored.contains) }
    val union = fresh.flatten.distinct
    if (union.nonEmpty) {
      val spark = vecs.sparkSession
      import spark.implicits._
      val fetched = vecs.where(col("__id").isin(union: _*))
        .as[(Long, Array[Float])].collect()
        .map { case (id, v) => id -> (v, norm(v)) }.toMap
      walks.zip(fresh).foreach { case (w, is) =>
        is.foreach(id => fetched.get(id).foreach { case (v, nv) =>
          w.scored(id) = cosine(w.qv, w.nq, v, nv)
        })
      }
    }
  }

  /** Expand each walk's `frontier` over `edges` (src, dst): ONE pruned
    * adjacency lookup for the union of the frontiers, then [[score]] each
    * walk's own destinations. */
  private def expand(walks: Seq[Walk], frontiers: Seq[Seq[Long]],
                     edges: DataFrame, vecs: DataFrame): Unit = {
    val srcs = frontiers.flatten.distinct
    if (srcs.nonEmpty) {
      val spark = vecs.sparkSession
      import spark.implicits._
      val adj = edges.where(col("src").isin(srcs: _*))
        .select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect().toSeq.groupMap(_._1)(_._2)
      score(walks, frontiers.map(_.flatMap(adj.getOrElse(_, Nil))), vecs)
    }
  }

  /** Top-down descent of the entry hierarchy for every walk: score the
    * top-level entries, then per layer expand each walk's best `entryBeam`
    * nodes over that layer's edges — O(levels · entryBeam · kUp) scores per
    * query, FLAT in the cell count. */
  private def descend(walks: Seq[Walk], entries: DataFrame, hier: DataFrame,
                      vecs: DataFrame, entryBeam: Int): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val topLevel = entries.agg(max("level")).head().getInt(0)
    val tops = entries.where(col("level") === topLevel)
      .select(col("entry_id").cast("long")).as[Long].collect().toSeq
    score(walks, walks.map(_ => tops), vecs)
    for (l <- topLevel to 1 by -1)
      expand(walks, walks.map(_.best(entryBeam)), hier.where(col("layer") === l), vecs)
  }

  /** The probe for a batch of (query id, vector): descend the entry
    * hierarchy, then run `rounds` layer-0 hops, each expanding the best
    * `beamWidth` of a walk's visited-but-unexpanded nodes (a poor hop
    * cannot shrink the beam). Per level and per hop the whole batch shares
    * one adjacency lookup and one vector fetch, so the job count does not
    * grow with the batch. Returns each query's walk, in batch order. */
  private def walk(neighbors: DataFrame, entries: DataFrame, hier: DataFrame,
                   emb: DataFrame, idCol: String, vecCol: String,
                   batch: Seq[(Long, Array[Float])], beamWidth: Int, rounds: Int,
                   entryBeam: Int): Seq[(Long, Walk)] = {
    val ids = batch.map(_._1)
    require(ids.distinct.length == ids.length,
      s"NswAnn: duplicate query ids ${ids.diff(ids.distinct).distinct.take(5)} — " +
        "each query needs its own id, or their walks would merge")
    // Fail before the walk's first job: each walk expands at most rounds x
    // beamWidth layer-0 nodes, and those frontiers are the keys of the
    // union lookups and the source of every visited row (x the graph's
    // out-degree, which is not known before a job). The per-query Long
    // product is < 2^62 and is compared with the ceiling split over the
    // batch, so no product can overflow.
    val perQuery = rounds.toLong * beamWidth
    require(perQuery <= DriverRowCeiling / math.max(1, batch.length),
      s"NswAnn: ${batch.length} queries x $rounds rounds x beam $beamWidth " +
        s"exceeds the $DriverRowCeiling-row driver ceiling for walk state — " +
        "split the query batch or lower rounds/beamWidth")
    val walks = batch.map { case (_, qv) => new Walk(qv) }
    // pin the corpus and adjacency for the loop: descent + every hop is a
    // pruned lookup into them — one cache build, cached lookups after
    val vecs = vectors(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nbr = neighbors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally (r16 — ADVICE r15): a throw mid-descent/beam must not
    // leave the corpus/adjacency cached for the rest of the session
    try {
      descend(walks, entries, hier, vecs, entryBeam)
      for (_ <- 1 to rounds) {
        val frontiers = walks.map(w => w.best(beamWidth, w.expanded.contains))
        expand(walks, frontiers, nbr, vecs)
        walks.zip(frontiers).foreach { case (w, f) => w.expanded ++= f }
      }
    } finally {
      vecs.unpersist(false)
      nbr.unpersist(false)
    }
    ids.zip(walks)
  }

  /** Top-down descent of the entry hierarchy for ONE query: returns every
    * entry node scored on the way down as (`__id`, `sim`), best-first the
    * caller takes seeds from. Exposed so ScaleBench can measure the
    * scored-candidate count (the quantity that must stay FLAT as cells
    * grow). The probe's own descent; per level, one pruned adjacency
    * lookup + one pruned vector fetch. */
  def descendEntries(entries: DataFrame, hier: DataFrame, emb: DataFrame,
                     idCol: String, vecCol: String, query: DataFrame,
                     queryVecCol: String, entryBeam: Int = 8): DataFrame = {
    require(entryBeam >= 1)
    val spark = entries.sparkSession
    import spark.implicits._
    val w = new Walk(Similarity.requireSingleRow(query, "NswAnn.descendEntries")
      .select(col(queryVecCol)).as[Array[Float]].head())
    descend(Seq(w), entries, hier, vectors(emb, idCol, vecCol), entryBeam)
    w.ranked.toDF("__id", "sim")
  }

  /** Greedy beam probe for ONE query: descend the entry hierarchy to pick
    * the seed entries, then expand `rounds` best-first hops over the
    * layer-0 within-cell lists (each hop expands the best `beamWidth` of
    * everything visited-but-unexpanded — a poor hop cannot shrink the
    * beam); return the top `k` visited by query similarity, unrounded.
    * `query` must be a single row (asserted); ids must be integral. Per
    * level and per hop: one pruned adjacency lookup + one pruned vector
    * fetch — the graph and corpus stay distributed, only the bounded beam
    * state lives on the driver. */
  def probe(neighbors: DataFrame, entries: DataFrame, hier: DataFrame,
            emb: DataFrame, idCol: String, vecCol: String, query: DataFrame,
            queryVecCol: String, k: Int, beamWidth: Int = 16,
            rounds: Int = 3, entryBeam: Int = 8): DataFrame = {
    require(k >= 1 && beamWidth >= 1 && rounds >= 1 && entryBeam >= 1)
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = Similarity.requireSingleRow(query, "NswAnn.probe")
      .select(col(queryVecCol)).as[Array[Float]].head()
    val w = walk(neighbors, entries, hier, emb, idCol, vecCol,
      Seq(0L -> qv), beamWidth, rounds, entryBeam).head._2
    w.ranked.take(k).toDF(idCol, "sim")
  }

  /** Batched probe (round 12 — VERDICT r11 #4): serve a whole QUERY BATCH
    * through the same walk as [[probe]] — identical seeds, frontier rule
    * and tie-breaks per query, so each query's rows equal [[probe]] on
    * that query alone (spec-asserted) — with every level and hop of the
    * batch sharing ONE adjacency lookup and ONE vector fetch: the job
    * count is flat in the batch size, and per-query work is
    * O(rounds · beamWidth · M) scores. Query ids must be distinct. The
    * batch is collected to the driver. Output: (query_id, idCol, sim) —
    * each query's top `k`, sims rounded to 6 decimals. */
  def probeBatch(neighbors: DataFrame, entries: DataFrame, hier: DataFrame,
                 emb: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, queryIdCol: String, queryVecCol: String,
                 k: Int, beamWidth: Int = 16, rounds: Int = 3,
                 entryBeam: Int = 8): DataFrame = {
    require(k >= 1 && beamWidth >= 1 && rounds >= 1 && entryBeam >= 1)
    val spark = emb.sparkSession
    import spark.implicits._
    val batch = queries.select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Array[Float])].collect().toSeq
    walk(neighbors, entries, hier, emb, idCol, vecCol, batch, beamWidth,
        rounds, entryBeam)
      .flatMap { case (qid, w) => w.ranked.take(k).map { case (id, s) => (qid, id, s) } }
      .toDF("query_id", idCol, "sim")
      .withColumn("sim", round(col("sim"), 6))
  }
}
