package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-analytics operators over edge lists — the authority-scoring leg
  * of a web-curation pipeline (a page's rank is the classic quality prior
  * used to weight crawled documents before training; reference computes no
  * graph metrics, this is the scale-path extension).
  *
  * Design: vertices and edges stay distributed end-to-end; each PageRank
  * iteration is ONE shuffle (group contributions by destination) plus an
  * equi-join on the source — no driver-side adjacency, no collect. The
  * per-iteration plan is truncated with `localCheckpoint` so the lineage
  * (and the optimizer's input) stays O(1) in the iteration count — the
  * standard guard for iterative DataFrame jobs.
  */
object GraphOps {

  // Fail fast on null endpoints: a null id would silently vanish from
  // every equi-join in the iteration — a truncated graph, not an error
  // (the same silent-drop class as the compactPartitioned null-partition
  // fix). Shared by both rank variants.
  private def checkedEdges(edges: DataFrame, srcCol: String,
                           dstCol: String): DataFrame = {
    def nonNull(c: Column, name: String) =
      when(c.isNull, raise_error(lit(s"null $name edge endpoint"))).otherwise(c)
    edges.select(nonNull(col(srcCol).cast("long"), srcCol).as("__src"),
      nonNull(col(dstCol).cast("long"), dstCol).as("__dst"))
  }

  /** Deterministic integer-arithmetic PageRank: ranks carried in micro
    * units (BIGINT), initialized at 1e6 per vertex, updated for a FIXED
    * number of iterations as
    *
    *   pr'(v) = (100-d)·1e4  +  (d · Σ_{u→v} (pr(u) div outdeg(u))) div 100
    *
    * with damping d expressed in percent. Every operation is integer
    * (truncating division on non-negative values), so the result is
    * bitwise identical in any engine — no float accumulation anywhere.
    * Dangling vertices (no out-edges) leak their mass, the standard
    * simplification when ranks are used as a RELATIVE quality signal.
    * Self-loops and parallel edges are honored as given; dedup edges
    * upstream if multiplicity should not count.
    *
    * Returns (vertex, pr_micro) for every vertex appearing in the edge
    * list. Convergence for relative ordering is fast (5–10 iterations);
    * the caller picks the count, which the oracle twin unrolls. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e0 = checkedEdges(edges, srcCol, dstCol).localCheckpoint()
    val base = (100L - dampingPct) * 10000L
    // SIZE-ADAPTIVE LOCAL EVALUATION (the connectedComponents rationale
    // applied to the rank loop): when the WHOLE edge list fits the
    // session's broadcast budget, every iteration already pulls a
    // vertex-sized table to the driver to broadcast it — collecting the
    // edges ONCE and running the exact integer recurrence locally is
    // bit-identical (integer sums are order-independent; Long wrap and
    // truncating div match Spark's non-ANSI semantics) and strictly less
    // driver traffic. Bigger graphs keep the distributed loop; -1
    // disables the local path (law-spec'd equal on random graphs).
    SizeAdaptive.localLongPairs(e0)
      .map(localRank(e0.sparkSession, _, iterations, dampingPct,
        Set.empty, _ => base, _ => 1000000L))
      .getOrElse {
        // only the distributed loop reads the vertex table; its size
        // decides the per-iteration join strategy (a checkpointed RDD
        // reports no stats, so the planner can never pick the broadcast
        // itself)
        val verts = e0.select(col("__src").as("vertex"))
          .union(e0.select(col("__dst").as("vertex")))
          .distinct().localCheckpoint()
        rankLoop(e0, verts.withColumn("__base", lit(base)),
          lit(1000000L), verts.count(), iterations, dampingPct)
      }
  }

  /** The distributed iteration behind [[pageRank]] and
    * [[personalizedPageRank]]: `teleport` is (vertex, __base) over the
    * whole vertex set (nV rows), `init` the starting rank per teleport
    * row; each iteration computes
    * pr'(v) = __base(v) + (d · Σ_{u→v} (pr(u) div outdeg(u))) div 100. */
  private def rankLoop(e0: DataFrame, teleport: DataFrame, init: Column,
                       nV: Long, iterations: Int, dampingPct: Int): DataFrame = {
    // outdeg is static across iterations — join it into the edge table
    // ONCE (window count on the materialized edges: no second join per
    // iteration, the per-iteration plan is edge⋈pr + one aggregation)
    val e = e0.withColumn("__outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__src")))
      .localCheckpoint()
    var pr = teleport.select(col("vertex"), init.as("pr_micro"))
    for (_ <- 1 to iterations) {
      // contributions: pr(u) div outdeg(u) routed along each edge, then
      // partially aggregated map-side by groupBy(dst) — one shuffle/iter
      // (broadcast rank side when it fits: the edge table is then never
      // sorted or shuffled inside the loop)
      val contrib = e
        .join(SizeAdaptive.maybeBroadcast(
          pr.select(col("vertex").as("__src"), col("pr_micro")), nV), Seq("__src"))
        .select(col("__dst"), expr("pr_micro div __outdeg").as("__c"))
        .groupBy("__dst").agg(sum(col("__c")).as("__s"))
      pr = teleport
        .join(SizeAdaptive.maybeBroadcast(
          contrib.withColumnRenamed("__dst", "vertex"), nV), Seq("vertex"), "left_outer")
        .select(col("vertex"),
          (col("__base") + expr(s"($dampingPct * coalesce(__s, 0L)) div 100"))
            .cast("long").as("pr_micro"))
      // shuffle path: truncate lineage so the per-iteration plan stays
      // O(1). Broadcast path: skip it — each pr_i appears exactly once
      // (inside iteration i+1's broadcast build), so the unrolled plan is
      // linear with no recomputation, and the materialization barrier per
      // iteration costs more than it saves.
      if (nV > SizeAdaptive.broadcastRowCap(pr)) pr = pr.localCheckpoint()
    }
    pr
  }

  /** Driver-local twin of [[rankLoop]] over a collected edge array —
    * bit-identical to the distributed loop: contributions are
    * `pr div outdeg` per edge row, summed per destination (Long sums —
    * order-independent), update `base + (d·Σ) div 100` with the same Long
    * wrap and truncating-div semantics. The vertex set is the edge
    * endpoints plus `seeds`. */
  private def localRank(spark: org.apache.spark.sql.SparkSession,
                        edges: Array[(Long, Long)], iterations: Int,
                        dampingPct: Int, seeds: Set[Long],
                        base: Long => Long, init: Long => Long): DataFrame = {
    import spark.implicits._
    val outdeg = new java.util.HashMap[Long, Long]()
    edges.foreach { case (s, _) => outdeg.merge(s, 1L, (a, b) => a + b) }
    val vertSet = collection.mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (s, d) => vertSet += s; vertSet += d }
    vertSet ++= seeds
    val verts = vertSet.toArray.sorted
    val pr = new java.util.HashMap[Long, Long]()
    verts.foreach(v => pr.put(v, init(v)))
    for (_ <- 1 to iterations) {
      val contrib = new java.util.HashMap[Long, Long]()
      edges.foreach { case (s, d) =>
        contrib.merge(d, pr.get(s) / outdeg.get(s), (a, b) => a + b)
      }
      verts.foreach { v =>
        pr.put(v, base(v) + dampingPct * contrib.getOrDefault(v, 0L) / 100L)
      }
    }
    verts.map(v => (v, pr.get(v))).toSeq.toDF("vertex", "pr_micro")
  }

  /** Canonical undirected simple-graph edge list: each edge once as
    * (lo, hi) with lo < hi, self-loops dropped, parallel edges collapsed.
    * The shared normalization under every undirected metric below. */
  def canonicalUndirected(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame =
    checkedEdges(edges, srcCol, dstCol)
      .select(least(col("__src"), col("__dst")).as("__lo"),
        greatest(col("__src"), col("__dst")).as("__hi"))
      .where(col("__lo") < col("__hi"))
      .distinct()

  private def undirectedDegrees(canon: DataFrame): DataFrame =
    canon.select(col("__lo").as("vertex"))
      .union(canon.select(col("__hi").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("__deg"))

  /** Per-vertex triangle counts over the undirected simple graph — the
    * cohesion metric under clustering coefficients and community quality
    * scores. Exact and all-integer => hash-exact against a three-way
    * self-join oracle.
    *
    * Scale design: edges are ORIENTED BY DEGREE (from the lower-(degree,id)
    * endpoint to the higher) before the wedge join, the classic
    * O(m^1.5)-work triangle enumeration: every wedge is generated at its
    * lowest-ranked apex, whose out-degree under this orientation is
    * O(sqrt(m)) — a power-law hub with 10^6 neighbors generates wedges
    * only from the ~sqrt(m) edges pointing INTO higher-ranked vertices,
    * not the hub's full neighborhood squared. Id-orientation (the oracle's
    * simpler form — same result) would square the hub. Two shuffles on
    * vertex keys + one edge-keyed join; no driver state.
    *
    * Returns (vertex, triangles) for EVERY vertex of the graph, zeros
    * included. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    triangleCountsFromCanon(canon, undirectedDegrees(canon).localCheckpoint())
  }

  /** [[triangleCounts]] core over ALREADY canonical/materialized frames —
    * shared with [[clusteringCoefficients]] so the canon distinct and the
    * degree aggregation are never paid twice. */
  private def triangleCountsFromCanon(canon: DataFrame,
                                      deg: DataFrame): DataFrame = {
    // orient: a -> b where (deg(a), a) < lexicographically (deg(b), b);
    // lo < hi always, so equal degrees orient lo -> hi.
    val oriented = canon
      .join(deg.select(col("vertex").as("__lo"), col("__deg").as("__dl")), Seq("__lo"))
      .join(deg.select(col("vertex").as("__hi"), col("__deg").as("__dh")), Seq("__hi"))
      .select(
        when(col("__dl") <= col("__dh"), col("__lo")).otherwise(col("__hi")).as("__a"),
        when(col("__dl") <= col("__dh"), col("__hi")).otherwise(col("__lo")).as("__b"),
        when(col("__dl") <= col("__dh"), col("__dh")).otherwise(col("__dl")).as("__degb"))
      .localCheckpoint()
    // wedges at apex a between out-neighbors b < c in (degree, id) rank,
    // closed by the oriented edge b -> c (which exists iff {b,c} is an
    // edge, because rank(b) < rank(c) fixes its orientation).
    val o2 = oriented.select(col("__a"), col("__b").as("__c"), col("__degb").as("__degc"))
    val wedges = oriented.join(o2, Seq("__a"))
      .where(col("__degb") < col("__degc") ||
        (col("__degb") === col("__degc") && col("__b") < col("__c")))
    val closing = oriented.select(col("__a").as("__b"), col("__b").as("__c"))
    val triangles = wedges.select("__a", "__b", "__c")
      .join(closing.hint("shuffle_hash"), Seq("__b", "__c"))
    val perVertex = triangles
      .select(explode(array(col("__a"), col("__b"), col("__c"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("triangles"))
    deg.select(col("vertex"))
      .join(perVertex, Seq("vertex"), "left_outer")
      .select(col("vertex"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient per vertex, in exact micro units:
    * lcc_micro = (2 · triangles(v) · 1e6) div (deg(v) · (deg(v)-1)),
    * 0 for degree < 2. Integer arithmetic end-to-end (non-negative
    * operands, so truncating and flooring division agree) => hash-exact. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = undirectedDegrees(canon).localCheckpoint()
    val tri = triangleCountsFromCanon(canon, deg)
    deg.withColumnRenamed("__deg", "degree")
      .join(tri, Seq("vertex"))
      .select(col("vertex"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** k-core: the maximal subgraph where every vertex has degree >= k,
    * by iterative peeling (drop vertices with degree < k, recompute,
    * repeat to fixpoint). The standard corpus-pruning metric — a page
    * with fewer than k well-connected neighbors is peripheral no matter
    * how the rest of the graph looks.
    *
    * Each round is one degree aggregation + one semi-join edge filter;
    * lineage is truncated per round. The driver reads ONE scalar per
    * round (the surviving-edge count) to detect the fixpoint — a setup
    * decision like the BPE argmax, not data movement; rounds are bounded
    * by the peel depth (O(log n) on real graphs, `maxRounds` hard cap).
    *
    * Returns (vertex, core_degree): survivors with their degree INSIDE
    * the k-core. Empty when the graph has no k-core.
    *
    * Convergence contract (round 8, ADVICE r7): a deep graph (e.g. a
    * long chain peels ~2 vertices/round) can exhaust `maxRounds` before
    * the fixpoint, in which case the survivor set is a SUPERSET of the
    * true k-core and core_degree counts edges to not-yet-peeled
    * vertices. With `requireConverged = true` (default) that state
    * THROWS instead of returning silently-partial results. Pass
    * `requireConverged = false` only when the partial peel is the
    * declared semantic — q_graph5 does, because its DuckDB oracle
    * unrolls exactly `maxRounds` levels, so both sides emit the
    * identical partial on any deeper-than-budget input (twin-parity,
    * see the query's comment). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 64, requireConverged: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var cur = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    var n = cur.count()
    // size-adaptive local evaluation (see [[pageRank]]): the peel loop
    // over a collected edge array, identical round semantics including
    // the maxRounds fail-fast and the partial-peel contract
    val (done, remaining, cores) = SizeAdaptive.localLongPairs(cur, Some(n)).map { edges0 =>
      val spark = cur.sparkSession
      import spark.implicits._
      def degrees(a: Array[(Long, Long)]): java.util.HashMap[Long, Long] = {
        val m = new java.util.HashMap[Long, Long]()
        a.foreach { case (lo, hi) =>
          m.merge(lo, 1L, (x, y) => x + y); m.merge(hi, 1L, (x, y) => x + y)
        }
        m
      }
      var es = edges0
      var localDone = es.isEmpty
      var r = 0
      while (!localDone && r < maxRounds) {
        val deg = degrees(es)
        val next = es.filter { case (lo, hi) => deg.get(lo) >= k && deg.get(hi) >= k }
        localDone = next.length == es.length
        es = next
        r += 1
      }
      val out = collection.mutable.ArrayBuffer.empty[(Long, Long)]
      degrees(es).forEach { (v, d) => if (d >= k) out += ((v, d)) }
      (localDone, es.length.toLong, out.sortBy(_._1).toSeq.toDF("vertex", "core_degree"))
    }.getOrElse {
      var done = n == 0L
      var rounds = 0
      while (!done && rounds < maxRounds) {
        val keep = undirectedDegrees(cur).where(col("__deg") >= k)
          .select(col("vertex")).localCheckpoint()
        // keep has at most 2n rows (one per edge endpoint) — size-adaptive
        // broadcast keeps the edge table unshuffled inside the peel loop
        val next = cur
          .join(SizeAdaptive.maybeBroadcast(keep.withColumnRenamed("vertex", "__lo"), 2 * n),
            Seq("__lo"), "left_semi")
          .join(SizeAdaptive.maybeBroadcast(keep.withColumnRenamed("vertex", "__hi"), 2 * n),
            Seq("__hi"), "left_semi")
          .localCheckpoint()
        val m = next.count()
        done = m == n // no edge removed => every remaining degree >= k
        cur = next
        n = m
        rounds += 1
      }
      (done, n, undirectedDegrees(cur).where(col("__deg") >= k)
        .select(col("vertex"), col("__deg").as("core_degree")))
    }
    if (!done && requireConverged)
      throw new IllegalStateException(
        s"kCore did not converge within maxRounds = $maxRounds (edges still " +
          s"shrinking: $remaining remain). The partial peel is a SUPERSET of the " +
          "k-core; raise maxRounds, or pass requireConverged = false if the " +
          s"$maxRounds-round partial peel is the intended semantic.")
    cores
  }

  /** Link prediction over the undirected simple graph: for every
    * NON-adjacent distance-2 pair, the two classic integer scores —
    * common-neighbor count and preferential attachment deg(a)·deg(b) —
    * ranked (cn desc, pa desc, a, b), top `k`. The "suggest an edge"
    * primitive (related-products, co-citation discovery); kept ln-free
    * (no Adamic-Adar) so it is hash-exact.
    *
    * Work is Σ_w deg(w)² over wedge centers — the hub-quadratic shape.
    * `maxCenterDegree` is the crowded-bucket knob: hubs above the cap
    * stop generating candidate pairs (a mega-hub's neighborhood² is
    * exactly the q_dedup crowded-bucket blowup, and a pair whose ONLY
    * evidence is co-membership in a huge neighborhood is weak anyway).
    * Uncapped by default: caps change answers, callers opt in. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     k: Int, maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = undirectedDegrees(canon).localCheckpoint()
    val nbrs = canon.select(col("__lo").as("__c"), col("__hi").as("__v"))
      .union(canon.select(col("__hi").as("__c"), col("__lo").as("__v")))
    val centers =
      if (maxCenterDegree == Int.MaxValue) nbrs
      else nbrs.join(
        deg.where(col("__deg") <= maxCenterDegree)
          .select(col("vertex").as("__c")), Seq("__c"), "left_semi")
    val wedges = centers.select(col("__c"), col("__v").as("__a"))
      .join(centers.select(col("__c"), col("__v").as("__b")), Seq("__c"))
      .where(col("__a") < col("__b"))
    val cn = wedges.groupBy("__a", "__b").agg(count(lit(1)).as("common_neighbors"))
    val nonAdj = cn.join(
      canon.select(col("__lo").as("__a"), col("__hi").as("__b")),
      Seq("__a", "__b"), "left_anti")
    nonAdj
      .join(deg.select(col("vertex").as("__a"), col("__deg").as("__da")), Seq("__a"))
      .join(deg.select(col("vertex").as("__b"), col("__deg").as("__db")), Seq("__b"))
      .select(col("__a").as("a"), col("__b").as("b"), col("common_neighbors"),
        (col("__da") * col("__db")).as("pref_attachment"))
      .orderBy(col("common_neighbors").desc, col("pref_attachment").desc,
        col("a"), col("b"))
      .limit(k)
  }

  /** Per-vertex mean neighbor degree, in exact micro units:
    * annd_micro(v) = (1e6 · Σ_{u∈N(v)} deg(u)) div deg(v) — the local
    * assortativity profile (is this vertex connected to hubs or to the
    * periphery — the crawl-frontier prioritization signal). Two joins on
    * the degree table + one aggregation; all integer => hash-exact. */
  def avgNeighborDegree(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = undirectedDegrees(canon).localCheckpoint()
    val nbrs = canon.select(col("__lo").as("vertex"), col("__hi").as("__nbr"))
      .union(canon.select(col("__hi").as("vertex"), col("__lo").as("__nbr")))
    nbrs
      .join(deg.select(col("vertex").as("__nbr"), col("__deg").as("__nd")),
        Seq("__nbr"))
      .groupBy("vertex")
      .agg(sum(col("__nd")).as("__snd"), count(lit(1)).as("degree"))
      .select(col("vertex"), col("degree"),
        expr("(1000000 * __snd) div degree").as("annd_micro"))
  }

  /** Degree assortativity: Pearson correlation of the endpoint degrees
    * over every edge (both orientations — the standard symmetric form).
    * One number: positive = hubs link to hubs (social-graph shape),
    * negative = hub-and-spoke (web/infrastructure shape). Rounded to 6dp
    * (the q_agg9 correlation convention). */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val canon = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = undirectedDegrees(canon)
    val both = canon.select(col("__lo").as("__a"), col("__hi").as("__b"))
      .union(canon.select(col("__hi").as("__a"), col("__lo").as("__b")))
    both
      .join(deg.select(col("vertex").as("__a"), col("__deg").as("__da")), Seq("__a"))
      .join(deg.select(col("vertex").as("__b"), col("__deg").as("__db")), Seq("__b"))
      .agg(round(corr(col("__da").cast("double"), col("__db").cast("double")), 6)
        .as("assortativity"),
        count(lit(1)).as("n_endpoints"))
  }

  /** Synchronous label propagation for a FIXED number of rounds —
    * deterministic community detection. Init label(v) = v; each round
    * every vertex adopts the most frequent label among its neighbors
    * (ties -> smallest label; isolated vertices cannot occur, the vertex
    * set is induced by the edges). Fixed rounds + min-label tie-break
    * make the result engine-independent and all-integer => hash-exact
    * against an unrolled-CTE oracle, same contract as [[pageRank]].
    *
    * One neighbor-join + one (vertex, label) count + one per-vertex
    * arg-max window per round; lineage truncated per round. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val canon = canonicalUndirected(edges, srcCol, dstCol)
    val nbrs = canon.select(col("__lo").as("vertex"), col("__hi").as("__nbr"))
      .union(canon.select(col("__hi").as("vertex"), col("__lo").as("__nbr")))
      .localCheckpoint()
    // size-adaptive local evaluation (see [[pageRank]]): the synchronous
    // update rule over a collected adjacency is deterministic (argmax =
    // max over (count, −label), exactly the aggregation below)
    SizeAdaptive.localLongPairs(nbrs).map { adjArr =>
      val spark = nbrs.sparkSession
      import spark.implicits._
      val verts = {
        val s = collection.mutable.LinkedHashSet.empty[Long]
        adjArr.foreach { case (v, n) => s += v; s += n }
        s.toArray.sorted
      }
      val lab = new java.util.HashMap[Long, Long]()
      verts.foreach(v => lab.put(v, v))
      for (_ <- 1 to rounds) {
        val next = new java.util.HashMap[Long, Long]()
        val counts = new java.util.HashMap[(Long, Long), Long]()
        adjArr.foreach { case (v, n) =>
          counts.merge((v, lab.get(n)), 1L, (a, b) => a + b)
        }
        val best = new java.util.HashMap[Long, (Long, Long)]() // v -> (cnt, -label)
        counts.forEach { (k, c) =>
          val (v, l) = k
          val cand = (c, -l)
          val cur = best.get(v)
          if (cur == null || Ordering[(Long, Long)].gt(cand, cur))
            best.put(v, cand)
        }
        verts.foreach { v =>
          val b = best.get(v)
          next.put(v, if (b == null) lab.get(v) else -b._2)
        }
        lab.clear(); lab.putAll(next)
      }
      verts.map(v => (v, lab.get(v))).toSeq.toDF("vertex", "label")
    }.getOrElse {
      var labels = nbrs.select(col("vertex")).distinct()
        .select(col("vertex"), col("vertex").as("label")).localCheckpoint()
      val nV = labels.count() // size-adaptive join pick
      for (_ <- 1 to rounds) {
        // arg-max as a second AGGREGATION, not a window: max of the struct
        // (count, -label) is exactly (count desc, label asc) — two partial-
        // aggregated shuffles per round instead of a shuffle + per-vertex
        // sort. (Labels are vertex ids >= 0, so negation cannot overflow.)
        labels = nbrs
          .join(SizeAdaptive.maybeBroadcast(
            labels.select(col("vertex").as("__nbr"), col("label")), nV), Seq("__nbr"))
          .groupBy("vertex", "label").agg(count(lit(1)).as("__cnt"))
          .groupBy("vertex")
          .agg(max(struct(col("__cnt"), (-col("label")).as("__nl"))).as("__m"))
          .select(col("vertex"), (-col("__m.__nl")).as("label"))
          .localCheckpoint()
      }
      labels
    }
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass pinned to
    * a SEED set instead of spread uniformly: scores become graph proximity
    * to the seeds (the data-discovery op: "expand this curated set" —
    * rank everything by closeness to the documents/domains you already
    * trust). Same integer arithmetic, same per-iteration shape; the only
    * change is the base term:
    *
    *   base(v) = ((100-d)·1e4 · |V|) div |S|   if v ∈ seeds, else 0
    *
    * (total teleport mass matches [[pageRank]]'s (100-d)% of |V|·1e6, so
    * scores are comparable across the two). Init is the teleport vector
    * itself. The two counts are driver-side scalars — a setup decision
    * like the BPE argmax, not per-row data movement. Seeds not present in
    * the edge list still emit (isolated seeds keep their base mass). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e0 = checkedEdges(edges, srcCol, dstCol).localCheckpoint()
    val sd = seeds.select(col(seedCol).cast("long").as("vertex"))
      .distinct().localCheckpoint()
    val verts = e0.select(col("__src").as("vertex"))
      .union(e0.select(col("__dst").as("vertex")))
      .union(sd.select(col("vertex")))
      .distinct().localCheckpoint()
    val nV = verts.count()
    val nS = sd.count()
    require(nS > 0, "seed set must be non-empty")
    val base = ((100L - dampingPct) * 10000L * nV) / nS
    // size-adaptive local evaluation and the shared loop — see [[pageRank]]
    SizeAdaptive.localLongPairs(e0).map { edgeArr =>
      val seedSet = sd.as(org.apache.spark.sql.Encoders.scalaLong).collect().toSet
      def seedBase(v: Long) = if (seedSet.contains(v)) base else 0L
      localRank(e0.sparkSession, edgeArr, iterations, dampingPct, seedSet,
        seedBase, seedBase)
    }.getOrElse {
      val teleport = verts
        .join(sd.withColumn("__isSeed", lit(1)), Seq("vertex"), "left_outer")
        .select(col("vertex"),
          when(col("__isSeed").isNotNull, lit(base)).otherwise(lit(0L))
            .as("__base"))
        .localCheckpoint()
      rankLoop(e0, teleport, col("__base"), nV, iterations, dampingPct)
    }
  }
}
