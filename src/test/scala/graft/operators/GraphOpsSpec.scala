package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hub of a star out-ranks its spokes, ranks are exact integers") {
    // star: 1..4 all point at 0; 0 points back at 1 (so 0 is not dangling
    // for mass purposes on the return path)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(pr(0L) > pr(1L), s"hub must out-rank the returned-to spoke: $pr")
    assert(pr(1L) > pr(2L), s"spoke with an in-edge out-ranks pure sources: $pr")
    assert(pr(2L) === pr(3L) && pr(3L) === pr(4L),
      "symmetric pure-source spokes must tie exactly")
    // pure sources receive nothing after iteration 1: exactly the base mass
    assert(pr(2L) === 150000L)
  }

  test("pageRank: a symmetric cycle fixes every vertex at the initial mass") {
    // 3-cycle, outdeg 1 everywhere: pr'(v) = 150000 + 85*pr(u)/100 keeps
    // 1e6 a fixed point (150000 + 850000) — exact under integer division
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(cyc, "src", "dst", iterations = 7)
      .collect().map(r => r.getLong(1))
    assert(pr.toSeq === Seq(1000000L, 1000000L, 1000000L))
  }

  test("personalizedPageRank: mass decays with distance from the seed; isolated seeds keep base") {
    // chain 0 -> 1 -> 2 -> 3, seed {0}: proximity must order 1 > 2 > 3;
    // vertex 9 is an isolated seed (no edges) and must still emit its base
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(0L, 9L).toDF("v")
    val pr = GraphOps.personalizedPageRank(edges, "src", "dst", seeds, "v",
        iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.keySet === Set(0L, 1L, 2L, 3L, 9L), "isolated seed present")
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L),
      s"rank must decay along the chain: $pr")
    // base = 15 * 10000 * 5 vertices / 2 seeds = 375000; non-seeds get 0 base
    assert(pr(0L) === 375000L && pr(9L) === 375000L)
    assert(pr(3L) > 0L, "reachable vertex accumulates seed mass")
  }

  test("pageRank: zero iterations returns the uniform init; determinism across runs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val init = GraphOps.pageRank(edges, "src", "dst", iterations = 0)
      .collect().map(_.getLong(1)).toSet
    assert(init === Set(1000000L))
    val a = GraphOps.pageRank(edges, "src", "dst", iterations = 6)
      .orderBy("vertex").collect().toSeq
    val b = GraphOps.pageRank(edges, "src", "dst", iterations = 6)
      .orderBy("vertex").collect().toSeq
    assert(a === b, "integer arithmetic must be bitwise repeatable")
  }

  test("pageRank: the local branch is gated on the edge count, not the vertex count") {
    // A perfect matching has |V| = 2·|E|. With a broadcast budget between
    // the two (cap = threshold / ~100 B per row = 75 rows against 50 edges
    // and 100 vertices) the edge list fits, so the local branch must run:
    // its Spark jobs are the set-up counts and one collect, the same for
    // any iteration count, where the distributed loop adds jobs per round.
    val edges = (0L until 50L).map(i => (2 * i, 2 * i + 1)).toDF("src", "dst")
    def ranks(iterations: Int): Map[Long, Long] =
      GraphOps.pageRank(edges, "src", "dst", iterations)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "7500")
      val (jobs1, _) = countingJobs(ranks(1))
      val (jobs8, local8) = countingJobs(ranks(8))
      assert(jobs1 === jobs8,
        s"local branch expected: jobs grew with iterations ($jobs1 -> $jobs8)")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(local8 === ranks(8), "local branch diverged from the distributed loop")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("triangleCounts: K4 + pendant, direction/duplicate/self-loop insensitive") {
    // K4 on 0..3 (4 triangles, 3 per vertex) with a pendant 4-0 (0 tris).
    // Edges fed in mixed direction, with duplicates and a self-loop, to
    // prove canonicalization: the metric is over the undirected SIMPLE
    // graph however the edge list arrives.
    val k4 = Seq((0L, 1L), (2L, 0L), (0L, 3L), (1L, 2L), (3L, 1L), (2L, 3L))
    val edges = (k4 ++ Seq((1L, 0L), (0L, 4L), (2L, 2L))).toDF("src", "dst")
    val t = GraphOps.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 0L))
  }

  test("triangleCounts: degree orientation matches brute force on a skewed graph") {
    // hub 0 connected to 1..9, plus a sparse ring among the spokes — the
    // shape where id-orientation would square the hub. Brute-force count
    // from the canonical edge set is the ground truth.
    val ring = (1L to 9L).map(i => (i, if (i == 9L) 1L else i + 1))
    val star = (1L to 9L).map(i => (0L, i))
    val edges = (star ++ ring).toDF("src", "dst")
    val canon = (star ++ ring).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val vs = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    for {
      a <- vs; b <- vs if a < b && canon((a, b))
      c <- vs if b < c && canon((b, c)) && canon((a, c))
    } Seq(a, b, c).foreach(v => brute(v) += 1)
    val got = GraphOps.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === vs.map(v => v -> brute(v)).toMap)
  }

  test("clusteringCoefficients: triangle is 1.0, path center is 0, pendant is 0") {
    // triangle {0,1,2} + pendant 3-0: lcc(0) = 2*1*1e6 div (3*2) = 333333
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L)).toDF("src", "dst")
    val rows = GraphOps.clusteringCoefficients(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(0L) === ((3L, 1L, 333333L)))
    assert(rows(1L) === ((2L, 1L, 1000000L)))
    assert(rows(2L) === ((2L, 1L, 1000000L)))
    assert(rows(3L) === ((1L, 0L, 0L)))
  }

  test("kCore: peels the chain off a triangle; too-high k yields empty") {
    // triangle {0,1,2} + chain 2-3-4: 2-core = the triangle (two peel
    // rounds: 4 falls, then 3), core degrees all 2.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val core = GraphOps.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    assert(GraphOps.kCore(edges, "src", "dst", k = 3).count() === 0L)
  }

  test("kCore: cap-hit non-convergence throws by default, returns the " +
    "partial peel when declared") {
    // chain 0-1-...-9 + triangle {20,21,22}: the 2-core is the triangle,
    // but a chain peels only its two endpoints per round — 1 round is
    // not enough, and the partial would be a SUPERSET of the core
    val edges = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      GraphOps.kCore(edges, "src", "dst", k = 2, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // declared-partial semantic: superset of the true core after 1 round
    val partial = GraphOps.kCore(edges, "src", "dst", k = 2, maxRounds = 1,
      requireConverged = false).collect().map(_.getLong(0)).toSet
    assert(Set(20L, 21L, 22L).subsetOf(partial) && partial.size > 3)
    // enough rounds: converges to exactly the triangle, no throw
    val full = GraphOps.kCore(edges, "src", "dst", k = 2, maxRounds = 10)
      .collect().map(_.getLong(0)).toSet
    assert(full === Set(20L, 21L, 22L))
  }

  test("avgNeighborDegree and assortativity: a star is maximally disassortative") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val annd = GraphOps.avgNeighborDegree(star, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(annd(0L) === ((3L, 1000000L)), "hub sees three degree-1 spokes")
    assert(annd(1L) === ((1L, 3000000L)) && annd(2L) === ((1L, 3000000L)))
    val a = GraphOps.degreeAssortativity(star, "src", "dst").collect()(0)
    assert(a.getDouble(0) === -1.0, "pure hub-and-spoke correlates degrees at -1")
    assert(a.getLong(1) === 6L)
  }

  test("labelPropagation: zero rounds is the identity; a triangle converges to the min label") {
    val tri = Seq((5L, 6L), (6L, 7L), (7L, 5L)).toDF("src", "dst")
    val id = GraphOps.labelPropagation(tri, "src", "dst", rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(id === Map(5L -> 5L, 6L -> 6L, 7L -> 7L))
    // round 1: 5 -> min(6,7)=6; 6 -> min(5,7)=5; 7 -> min(5,6)=5
    // round 2: 5 -> min over {5,5}=5; 6 -> {6,5} tie -> 5; 7 -> {6,5} -> 5
    val two = GraphOps.labelPropagation(tri, "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two === Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("linkPrediction: square's diagonals rank first; adjacent pairs never appear") {
    // square 0-1-2-3-0 plus pendant 4-0: diagonals (0,2),(1,3) have cn=2;
    // (1,4),(3,4) share the neighbor 0 (cn=1, pa=2); (2,4) shares nothing.
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 4L))
      .toDF("src", "dst")
    val rows = GraphOps.linkPrediction(sq, "src", "dst", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.take(2).toSet === Set((0L, 2L, 2L, 6L), (1L, 3L, 2L, 4L)))
    assert(rows(0) === ((0L, 2L, 2L, 6L)), "pa tie-break ranks the hub pair first")
    assert(rows.drop(2).toSet === Set((1L, 4L, 1L, 2L), (3L, 4L, 1L, 2L)))
    val pairs = rows.map(r => (r._1, r._2)).toSet
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (0L, 4L)).foreach(e =>
      assert(!pairs(e), s"adjacent pair $e must not be suggested"))
  }

  test("linkPrediction: the center-degree cap silences hub-mediated candidates") {
    // star: 0 connected to 1..5. Every spoke pair is a candidate through
    // the hub; capping center degree below 5 must erase them all.
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(GraphOps.linkPrediction(star, "src", "dst", k = 100).count() === 10L)
    assert(GraphOps.linkPrediction(star, "src", "dst", k = 100,
      maxCenterDegree = 4).count() === 0L)
  }

  test("labelPropagation: bridged cliques match the synchronous brute-force rule exactly") {
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L), (2L, 10L))
    val nbrs = (raw ++ raw.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    def step(lab: Map[Long, Long]): Map[Long, Long] =
      nbrs.map { case (v, ns) =>
        val counts = ns.groupBy(lab).map { case (l, g) => (l, g.size) }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    for (rounds <- Seq(1, 4)) {
      val expected = (1 to rounds)
        .foldLeft(nbrs.keys.map(v => v -> v).toMap)((l, _) => step(l))
      val got = GraphOps.labelPropagation(raw.toDF("src", "dst"), "src", "dst", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"rounds=$rounds")
    }
  }
}
