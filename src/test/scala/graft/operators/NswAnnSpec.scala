package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class NswAnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
  private lazy val built = {
    val (indexed, centers) = IvfAnn.buildIndex(emb, "embedding", 16)
    NswAnn.buildGraph(indexed, centers, "vec_id", "embedding", m = 8)
  }

  private def truth(k: Int): Set[Long] =
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "embedding", k)
      .select("vec_id").as[Long].collect().toSet

  test("graph shape: bounded layer-0 out-degree, O(kUp·entries) hierarchy") {
    val (nb, en, hr) = built
    val nEntries = en.count()
    assert(nEntries === 16L, "one entry per cell")
    // layer-0 out-degree bound: m within-cell edges
    val maxDeg = nb.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max("d")).as[Long].head()
    assert(maxDeg <= 8, s"layer-0 out-degree $maxDeg exceeds m")
    // the hierarchy replaces the r10 cells² mesh: per (layer, src) degree
    // is pruned to 2·kUp, so total edges are O(kUp · entries · levels),
    // NOT entries² — the fix for the 3×10^4-cell operating point
    val kUp = 4
    val maxHierDeg = hr.groupBy("layer", "src").agg(count(lit(1)).as("d"))
      .agg(max("d")).as[Long].head()
    assert(maxHierDeg <= 2 * kUp, s"hierarchy degree $maxHierDeg exceeds 2·kUp")
    assert(hr.count() < nEntries * (nEntries - 1),
      "hierarchy must be sparser than the full mesh")
    // every entry is reachable: each appears in the hierarchy (level >= 1
    // nodes insert at layer 1 minimum) unless it is the single top seed
    val inHier = hr.select(col("src").as("entry_id")).distinct()
    assert(en.join(inHier, Seq("entry_id"), "left_anti").count() <= 1,
      "every entry (except possibly the first insert) must carry hierarchy edges")
    // levels are geometric: level >= 1 everywhere, max level > 1 at 16 entries
    val lvls = en.select("level").as[Int].collect()
    assert(lvls.forall(_ >= 1))
  }

  test("probe: the query's own vector surfaces with sim 1, recall floor holds") {
    val (nb, en, hr) = built
    val res = NswAnn.probe(nb, en, hr, emb, "vec_id", "embedding",
      emb.where(col("vec_id") === 0), "embedding", k = 11,
      beamWidth = 32, rounds = 5)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    assert(res.head._1 === 0L && res.head._2 > 0.999999,
      "query must be its own nearest neighbor")
    val recall = (res.map(_._1).toSet & truth(11)).size / 11.0
    // measured 11/11 at this operating point on the fixture; pin a floor
    // with slack for future fixture regeneration
    assert(recall >= 0.9, s"recall $recall under the 0.9 floor")
    // the cheap operating point still clears half — the knob trades
    // probe cost for recall as designed
    val cheap = NswAnn.probe(nb, en, hr, emb, "vec_id", "embedding",
      emb.where(col("vec_id") === 0), "embedding", k = 11,
      beamWidth = 16, rounds = 3)
      .select("vec_id").as[Long].collect().toSet
    assert((cheap & truth(11)).size / 11.0 >= 0.5)
  }

  test("descent scores a bounded slice of the entry set, not all of it") {
    val (_, en, hr) = built
    // entryBeam 2 with kUp 4 over 16 entries: the descent must touch
    // fewer entries than the full set (the r10 mesh scored ALL of them)
    val scored = NswAnn.descendEntries(en, hr, emb, "vec_id", "embedding",
      emb.where(col("vec_id") === 0), "embedding", entryBeam = 2).count()
    assert(scored < 16, s"descent scored $scored of 16 entries — not sub-linear")
    assert(scored >= 1)
  }

  test("probe is deterministic and the store round-trips it bit-for-bit") {
    val (nb, en, hr) = built
    def run(n: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame,
            h: org.apache.spark.sql.DataFrame) =
      NswAnn.probe(n, e, h, emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "embedding", k = 11,
        beamWidth = 32, rounds = 5)
        .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    val a = run(nb, en, hr)
    assert(a === run(nb, en, hr), "probe must be deterministic")
    val root = java.nio.file.Files.createTempDirectory("nsw_store").toString
    IndexStore.writeNsw(nb, en, hr, root)
    val (nb2, en2, hr2) = IndexStore.readNsw(spark, root)
    assert(a === run(nb2, en2, hr2), "reloaded store must probe identically")
  }

  test("probeBatch on a singleton batch agrees with the serial probe") {
    val (nb, en, hr) = built
    val serial = NswAnn.probe(nb, en, hr, emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "embedding", k = 11,
        beamWidth = 32, rounds = 5)
      .select(col("vec_id"), round(col("sim"), 6).as("sim"))
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, s) => (-s, id) }
    val batch = NswAnn.probeBatch(nb, en, hr, emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 11,
        beamWidth = 32, rounds = 5)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
      .sortBy { case (id, s) => (-s, id) }
    assert(batch === serial,
      "a batch of one must visit and rank exactly what the serial probe does")
  }

  test("probeBatch: 16 queries in one pass — self-surfacing and recall floors") {
    val (nb, en, hr) = built
    val qb = emb.where(col("vec_id") < 16)
    def serial(q: Long) =
      NswAnn.probe(nb, en, hr, emb, "vec_id", "embedding",
          emb.where(col("vec_id") === q), "embedding", k = 11,
          beamWidth = 32, rounds = 5)
        .select(col("vec_id"), round(col("sim"), 6))
        .as[(Long, Double)].collect().toSeq
    def batched() =
      NswAnn.probeBatch(nb, en, hr, emb, "vec_id", "embedding",
          qb, "vec_id", "embedding", k = 11, beamWidth = 32, rounds = 5)
        .select("query_id", "vec_id", "sim").as[(Long, Long, Double)].collect()
    serial(0L); batched() // warm both paths before counting jobs
    val (serialJobs, _) = countingJobs(serial(0L))
    val (batchJobs, rows) = countingJobs(batched())
    // the batch shares each level's and hop's lookup and fetch: 16
    // queries cost no more jobs than one
    assert(batchJobs <= serialJobs,
      s"probeBatch on 16 queries ran $batchJobs jobs, probe on one ran $serialJobs")
    // the shared union fetch leaks nothing across queries: each query's
    // rows are exactly the serial probe's on that query alone
    val byQuery = rows.groupBy(_._1).view
      .mapValues(_.toSeq.map { case (_, id, s) => (id, s) }
        .sortBy { case (id, s) => (-s, id) }).toMap
    (0L until 16L).foreach(q => assert(byQuery.get(q) === Some(serial(q)),
      s"query $q: batched rows differ from the serial probe"))
    val res = byQuery.view.mapValues(_.map(_._1).toSet).toMap
    val tru = Similarity.topKForQueries(emb, "vec_id", "embedding",
        qb, "vec_id", "embedding", k = 11)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(res.keySet === (0L until 16L).toSet, "every query answered")
    // every query is its own nearest neighbor
    (0L until 16L).foreach(q => assert(res(q).contains(q), s"query $q lost itself"))
    val recalls = (0L until 16L).map(q => (res(q) & tru(q)).size / 11.0)
    assert(recalls.forall(_ >= 0.5),
      s"per-query recall floor broken: ${recalls.zipWithIndex.filter(_._1 < 0.5)}")
    assert(recalls.sum / 16.0 >= 0.8, s"mean recall ${recalls.sum / 16.0} under 0.8")
    // query 0 matches the serial probe's pinned operating point
    assert(recalls.head >= 0.9)
  }

  test("probeBatch rejects duplicate query ids and an over-ceiling walk before any job") {
    val (nb, en, hr) = built
    val Array(v0, v1) = emb.where(col("vec_id") < 2).orderBy("vec_id")
      .select("embedding").as[Array[Float]].collect()
    // two different vectors under one id would merge into one walk
    val dup = Seq((5L, v0), (5L, v1)).toDF("qid", "embedding")
    val (dupJobs, dupErr) = countingJobs(intercept[IllegalArgumentException] {
      NswAnn.probeBatch(nb, en, hr, emb, "vec_id", "embedding",
        dup, "qid", "embedding", k = 10)
    })
    assert(dupErr.getMessage.contains("duplicate query ids"))
    assert(dupJobs === 0, s"duplicate ids caught after $dupJobs jobs")
    // the walk-state bound is checked before the first job, in Long
    // arithmetic (rounds x beamWidth here overflows an Int)
    val one = Seq((0L, v0)).toDF("qid", "embedding")
    val (boundJobs, boundErr) = countingJobs(intercept[IllegalArgumentException] {
      NswAnn.probeBatch(nb, en, hr, emb, "vec_id", "embedding",
        one, "qid", "embedding", k = 10, rounds = Int.MaxValue)
    })
    assert(boundErr.getMessage.contains("driver ceiling"))
    assert(boundJobs === 0, s"state bound checked after $boundJobs jobs")
    intercept[IllegalArgumentException] {
      NswAnn.probe(nb, en, hr, emb, "vec_id", "embedding",
        one, "embedding", k = 10, rounds = Int.MaxValue)
    }
  }

  test("planted near-duplicate: a perturbed copy of the query is found") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 120).map(i => (i.toLong, vec()))
    val q = bases.head._2
    val nearDup = q.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val corpus = (bases :+ (999L, nearDup)).toDF("vec_id", "embedding")
    val (indexed, centers) = IvfAnn.buildIndex(corpus, "embedding", 4)
    val (nb, en, hr) = NswAnn.buildGraph(indexed, centers, "vec_id", "embedding", m = 8)
    val got = NswAnn.probe(nb, en, hr, corpus, "vec_id", "embedding",
      corpus.where(col("vec_id") === 0), "embedding", k = 2,
      beamWidth = 16, rounds = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(0L, 999L), s"planted near-dup missed: $got")
  }

  test("linkBatch == forward(restricted full rebuild) plus its mirror") {
    val assigned = emb.select(pmod(col("vec_id"), lit(4L)).as("__cluster"),
      col("vec_id").as("__id"), col("embedding").as("__vec"))
    val stored = assigned.where(col("__id") % 5 =!= 0)
    val batch = assigned.where(col("__id") % 5 === 0)
    val linked = NswAnn.linkBatch(batch, stored, m = 8)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    // full rebuild over stored ∪ batch with the same cells: the top-8
    // within-cell lists, restricted to NEW srcs
    val a = assigned.select(col("__cluster"), col("__id").as("src"),
      col("__vec").as("__va"))
    val b = assigned.select(col("__cluster"), col("__id").as("dst"),
      col("__vec").as("__vb"))
    val expectedFwd = Similarity.topKPerGroup(
        a.join(b, Seq("__cluster")).where(col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            graft.functions.VectorOps.cosine(col("__va"), col("__vb")).as("sim")),
        Seq("src"), Seq(col("sim").desc, col("dst").asc), 8)
      .where(col("src") % 5 === 0)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(expectedFwd.nonEmpty && expectedFwd.exists { case (_, d) => d % 5 != 0 },
      "fixture must exercise new->stored links")
    assert(linked === expectedFwd ++ expectedFwd.map(_.swap),
      "linkBatch must be exactly the restricted rebuild plus its mirror")
  }

  test("day-2 arrival: probe over stored ∪ incremental edges reaches new content") {
    val day1 = emb.where(col("vec_id") % 5 =!= 0).select("vec_id", "embedding")
    val (indexed, centers) = IvfAnn.buildIndex(day1, "embedding", 16)
    val (nb, en, hr) = NswAnn.buildGraph(indexed, centers, "vec_id", "embedding", m = 8)
    val assigned2 = IvfAnn.assignToIndex(
        emb.where(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
        "vec_id", "embedding", centers)
      .select(col("__cluster"), col("vec_id").as("__id"), col("embedding").as("__vec"))
    val storedCells = indexed.select(col("__cluster"),
      col("vec_id").as("__id"), col("embedding").as("__vec"))
    val augmented = nb.unionByName(NswAnn.linkBatch(assigned2, storedCells, m = 8))
    // vec 0 is itself a day-2 arrival: reachable ONLY through the
    // incremental links (the stored graph has no day-2 node)
    val res = NswAnn.probe(augmented, en, hr, emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "embedding", k = 11,
        beamWidth = 32, rounds = 5)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    assert(res.head._1 === 0L && res.head._2 > 0.999999,
      "day-2 query must find itself through the incremental links")
    val recall = (res.map(_._1).toSet & truth(11)).size / 11.0
    assert(recall >= 0.7, s"day-2 recall $recall under the 0.7 floor")
  }

  test("hierarchy fold: deterministic edges, geometric levels, budget guard") {
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 200L).map(i => i -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val (e1, l1) = NswAnn.buildHierarchy(vecs, kUp = 4, efBuild = 16)
    val (e2, l2) = NswAnn.buildHierarchy(vecs, kUp = 4, efBuild = 16)
    assert(e1 === e2 && l1 === l2, "hierarchy fold must be deterministic")
    // geometric levels: roughly half the nodes at level 1, counts shrink
    val byLevel = l1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLevel.getOrElse(1, 0) > byLevel.getOrElse(2, 0))
    // degree pruning: no (layer, src) exceeds 2·kUp
    val deg = e1.groupBy(e => (e._4, e._1)).view.mapValues(_.size)
    assert(deg.values.forall(_ <= 8))
    // edges live only on layers the BOTH endpoints reach
    assert(e1.forall { case (s, d, _, layer) => l1(s) >= layer && l1(d) >= layer })
  }
}
