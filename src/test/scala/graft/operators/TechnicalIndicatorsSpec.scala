package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TechnicalIndicatorsSpec extends SparkSpec {
  import spark.implicits._

  test("serial pass: a key's first row resets the state for any key value, " +
    "Long.MinValue and 0 included, at 1 and 4 partitions") {
    // each key set puts a different key first in its partition: a key
    // sentinel (Long.MinValue) or a zero-initialised current key without
    // the started flag would carry state into that key's first row
    val keySets = Seq(Seq(0L), Seq(Long.MinValue), Seq(Long.MinValue, 0L, 7L))
    val units = Seq(1000L, 1250L, 1100L, 1575L, 1425L, 1300L, 900L, 1800L)
    def series(k: Long) = units.map(_ + (k % 97).abs)
    // operator name -> (run over a frame, per-key reference rows or None)
    type Run = org.apache.spark.sql.DataFrame => Seq[(Long, Seq[Long])]
    def rows(out: org.apache.spark.sql.DataFrame, cols: String*): Seq[(Long, Seq[Long])] =
      out.orderBy("k", "ord").select((Seq("k") ++ cols).map(col): _*).collect().toSeq
        .map(r => (r.getLong(0), cols.indices.map(i => r.getLong(i + 1))))
    val ops: Seq[(String, Run, Option[Long => Seq[Seq[Long]]])] = Seq(
      ("emaMicro",
        df => rows(TechnicalIndicators.emaMicro(df, "k", "ord", "c", 2, 1, 5), "ema_micro"),
        Some(k => TechnicalIndicators.emaMicroReference(series(k), 1, 5, 2).map(Seq(_)))),
      ("emaMicroMulti",
        df => rows(TechnicalIndicators.emaMicroMulti(df.withColumn("d", col("c") * 3),
          "k", "ord", Seq("c", "d"), 2, 1, 14), "c_s", "d_s"),
        Some(k => TechnicalIndicators.emaMicroReference(series(k), 1, 14, 2)
          .zip(TechnicalIndicators.emaMicroReference(series(k).map(_ * 3), 1, 14, 2))
          .map { case (a, b) => Seq(a, b) })),
      ("holtMicro",
        df => rows(TechnicalIndicators.holtMicro(df, "k", "ord", "c", 2, 1, 5, 1, 10),
          "level_micro", "trend_micro"),
        Some(k => TechnicalIndicators.holtMicroReference(series(k), 1, 5, 1, 10, 2)
          .map { case (l, b) => Seq(l, b) })),
      ("cusumMicro",
        df => rows(TechnicalIndicators.cusumMicro(df.withColumn("c", col("c") - 1300L),
            "k", "ord", "c", kMicro = 20L, hMicro = 300L)
          .withColumn("alarm_code", coalesce(
            when(col("alarm") === "up", 1L).when(col("alarm") === "down", -1L), lit(0L))),
          "sp_micro", "sn_micro", "alarm_code"),
        Some(k => TechnicalIndicators.cusumReference(series(k).map(_ - 1300L), 20L, 300L)
          .map { case (sp, sn, a) =>
            Seq(sp, sn, a.map(x => if (x == "up") 1L else -1L).getOrElse(0L)) })),
      ("sarMicro",
        df => rows(TechnicalIndicators.sarMicro(df, "k", "ord", "c", 2), "sar_micro", "dir"),
        None))
    for (keys <- keySets; (name, run, reference) <- ops) {
      val df = keys.flatMap(k => series(k).zipWithIndex.map { case (c, i) => (k, i.toLong, c) })
        .toDF("k", "ord", "c")
      val single = run(df.repartition(1))
      for (parts <- Seq(1, 4)) {
        val got = run(df.repartition(parts))
        reference match {
          case Some(ref) =>
            for (k <- keys)
              assert(got.filter(_._1 == k).map(_._2) === ref(k), s"$name key $k at $parts parts")
          case None =>
            assert(got === single, s"$name at $parts parts")
            // with no reference, a key's rows must equal its series run
            // alone under key 1, which no reset rule can mistake for a
            // continuation
            for (k <- keys) {
              val alone = run(df.where(col("k") === k).withColumn("k", lit(1L)))
              assert(got.filter(_._1 == k).map(_._2) === alone.map(_._2), s"$name key $k")
            }
        }
      }
    }
  }

  test("emaMicro matches the integer reference, is partition-invariant, " +
    "and tracks the real-valued EMA within the quantization bound") {
    val cents = Seq(1000L, 1250L, 1100L, 1575L, 1425L, 1300L)
    val rows = for {
      k <- Seq(1L, 2L); (c, i) <- cents.zipWithIndex
    } yield (k, i.toLong, c + k)
    val df = rows.toDF("k", "ord", "c")
    for (parts <- Seq(1, 3)) {
      val out = TechnicalIndicators.emaMicro(df.repartition(parts), "k", "ord", "c",
          unitsScale = 2, alphaNum = 1, alphaDen = 5)
        .orderBy("k", "ord").select("k", "ema_micro").as[(Long, Long)].collect()
      for (k <- Seq(1L, 2L)) {
        val series = cents.map(_ + k)
        val expected = TechnicalIndicators.emaMicroReference(series, 1, 5, 2)
        val got = out.filter(_._1 == k).map(_._2).toSeq
        assert(got == expected)
        // the integer recurrence stays within 0.5/alpha micro-units of
        // the real-valued EMA (steady-state quantization bound)
        val real = TechnicalIndicators.emaReference(series.map(_ / 100.0), 0.2)
        got.zip(real).foreach { case (g, r) =>
          assert(math.abs(g - r * 1e6) <= 0.5 / 0.2 + 1e-6,
            s"micro $g vs real ${r * 1e6}")
        }
      }
    }
  }

  test("emaMicroMulti == one emaMicro per column, on every column, " +
    "partition-invariant (the q_ta17 Wilder-smoothing fold)") {
    val rows = for {
      k <- Seq(1L, 2L, 3L); i <- 0L until 7L
    } yield (k, i, 100L * k + i * 13L % 47L, (i * 29L + k) % 53L, 7L + i * k)
    val df = rows.toDF("k", "ord", "a", "b", "c")
    for (parts <- Seq(1, 4)) {
      val multi = TechnicalIndicators.emaMicroMulti(df.repartition(parts),
          "k", "ord", Seq("a", "b", "c"), unitsScale = 2,
          alphaNum = 1, alphaDen = 14)
        .orderBy("k", "ord")
        .select("k", "ord", "a", "b", "c", "a_s", "b_s", "c_s")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
      for (c <- Seq("a", "b", "c")) {
        val single = TechnicalIndicators.emaMicro(df, "k", "ord", c,
            unitsScale = 2, alphaNum = 1, alphaDen = 14)
          .orderBy("k", "ord").select("ema_micro").as[Long].collect().toSeq
        val idx = Seq("a", "b", "c").indexOf(c)
        val got = multi.map(t => Seq(t._6, t._7, t._8)(idx))
        assert(got == single, s"column $c diverged from the single-column pass")
        val units = multi.map(t => Seq(t._3, t._4, t._5)(idx))
        val in = rows.sortBy(r => (r._1, r._2)).map(r => Seq(r._3, r._4, r._5)(idx))
        assert(units == in, s"column $c units not carried through")
      }
    }
  }

  test("emaMicro round-half-away step is exact on negative series (MACD signal path)") {
    // alpha = 2/10 over an alternating-sign micro series: reference fold
    // must reproduce rhaDiv semantics on both signs
    val micro = Seq(-1000001L, 999999L, -3L, 7L, -999997L)
    val df = micro.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("k", "ord", "m")
    val got = TechnicalIndicators.emaMicro(df, "k", "ord", "m",
        unitsScale = 6, alphaNum = 2, alphaDen = 10)
      .orderBy("ord").select("ema_micro").as[Long].collect().toSeq
    val expected = TechnicalIndicators.emaMicroReference(micro, 2, 10, 6)
    assert(got == expected)
    // spot-check one step by hand: e1 = rha(2*999999 + 8*(-1000001), 10)
    val a = 2L * 999999L + 8L * -1000001L
    assert(expected(1) == -((-2 * a + 10) / 20))
  }

  test("holtMicro matches the coupled-recurrence reference, tracks trends, " +
    "and is partition-invariant") {
    // rising then falling series: trend must go positive then negative
    val cents = Seq(1000L, 1100L, 1200L, 1300L, 1200L, 1000L, 800L, 600L)
    val rows = for { k <- Seq(1L, 2L); (c, i) <- cents.zipWithIndex }
      yield (k, i.toLong, c + k)
    val df = rows.toDF("k", "ord", "c")
    for (parts <- Seq(1, 3)) {
      val out = TechnicalIndicators.holtMicro(df.repartition(parts), "k", "ord",
          "c", unitsScale = 2, alphaNum = 1, alphaDen = 5,
          betaNum = 1, betaDen = 10)
        .orderBy("k", "ord").select("k", "level_micro", "trend_micro")
        .as[(Long, Long, Long)].collect()
      for (k <- Seq(1L, 2L)) {
        val expected = TechnicalIndicators.holtMicroReference(
          cents.map(_ + k), 1, 5, 1, 10, 2)
        val got = out.filter(_._1 == k).map(r => (r._2, r._3)).toSeq
        assert(got == expected, s"key $k: $got vs $expected")
        // trend sign follows the series shape
        assert(got(3)._2 > 0L, "rising leg must carry positive trend")
        assert(got.last._2 < 0L, "falling leg must carry negative trend")
      }
    }
    // hand-check step 1 (key offset 0): l1 = rha(1100*1e4 + 4*(1000*1e4), 5),
    // b1 = rha(l1 - 1000*1e4 + 9*0, 10)
    val l1 = TechnicalIndicators.rhaDiv(1100L * 10000 + 4L * 10000000, 5)
    val b1 = TechnicalIndicators.rhaDiv(l1 - 10000000L, 10)
    val ref = TechnicalIndicators.holtMicroReference(cents, 1, 5, 1, 10, 2)
    assert(ref(1) == (l1, b1))
  }

  test("cusumMicro fires on sustained shifts, resets after alarm, " +
    "both sides, partition-invariant") {
    // k=2, h=5: +4 steps accumulate (0+4-2=2, 4, 6>h ALARM+reset, ...);
    // -4 steps drive the negative side symmetrically
    val xs = Seq(4L, 4L, 4L, 0L, -4L, -4L, -4L, -4L)
    val expect = TechnicalIndicators.cusumReference(xs, kMicro = 2, hMicro = 5)
    assert(expect.map(_._1) === Seq(2L, 4L, 6L, 0L, 0L, 0L, 0L, 0L))
    assert(expect(2)._3.contains("up"), "third +4 crosses h")
    assert(expect(3)._1 === 0L, "post-alarm reset restarts detection")
    // negative side: sn accumulates x+k = -2 per step from step 4,
    // crossing -h on the THIRD -4 (index 6), then resets
    assert(expect(6)._3.contains("down"), s"got ${expect(6)}")
    assert(expect.last === ((0L, -2L, None)), "post-down-alarm reset")
    // a single outlier below h fires nothing; a sustained shift does
    val calm = TechnicalIndicators.cusumReference(
      Seq(0L, 4L, 0L, 0L), kMicro = 2, hMicro = 5)
    assert(calm.forall(_._3.isEmpty))
    // Spark operator == reference, any partitioning
    val rows = for { k <- Seq(1L, 2L); (x, i) <- xs.zipWithIndex }
      yield (k, i.toLong, x)
    val df = rows.toDF("k", "ord", "x")
    for (parts <- Seq(1, 3)) {
      val out = TechnicalIndicators.cusumMicro(df.repartition(parts),
          "k", "ord", "x", kMicro = 2, hMicro = 5)
        .orderBy("k", "ord").select("k", "sp_micro", "sn_micro", "alarm")
        .collect().filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2), Option(r.getString(3))))
      assert(out.toSeq === expect)
    }
  }

  test("rollingVolMicro: exact micro returns, sample stddev, partition-invariant") {
    // hand-checkable series: 1000 -> 1500 (+50%), -> 1200 (-20%), -> 1200 (0%)
    val cents = Seq(1000L, 1500L, 1200L, 1200L)
    val rows = for { k <- Seq(1L, 2L); (c, i) <- cents.zipWithIndex }
      yield (k, i.toLong, c)
    val df = rows.toDF("k", "ord", "c")
    for (parts <- Seq(1, 3)) {
      val out = TechnicalIndicators.rollingVolMicro(
          df.repartition(parts), "k", "ord", "c", window = 3)
        .orderBy("k", "ord")
        .select("k", "r_micro", "vol_micro")
        .collect().filter(_.getLong(0) == 1L)
        .map(r => (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getDouble(2)))
      assert(out.map(_._1).toSeq === Seq(None, Some(500000L), Some(-200000L), Some(0L)),
        "micro returns must be the exact rhaDiv quanta")
      assert(out(0)._2 === 0.0 && out(1)._2 === 0.0, "fewer than 2 returns -> 0")
      // window rows 1..2: returns {500000, -200000}: sample sd = |a-b|/sqrt(2)
      val sd2 = math.abs(500000.0 - (-200000.0)) / math.sqrt(2.0)
      assert(math.abs(out(2)._2 - sd2) < 1e-6, s"got ${out(2)._2}, want $sd2")
      // rows 1..3: {500000, -200000, 0}
      val xs = Seq(500000.0, -200000.0, 0.0)
      val m = xs.sum / 3.0
      val sd3 = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / 2.0)
      assert(math.abs(out(3)._2 - sd3) < 1e-6)
    }
    // round-half-away on the negative branch: 1000 -> 999 is -0.1% = -1000 micro;
    // 3 -> 2 is -1/3 = -333333.33 micro, rounds away to -333333? half-away:
    // rhaDiv(-1000000, 3) = -(2000000+3)/6 = -333333 (truncation of .83 -> 333333)
    assert(TechnicalIndicators.rhaDiv(-1000000L, 3L) === -333333L)
    assert(TechnicalIndicators.rhaDiv(1L, 2L) === 1L, "half rounds away from zero")
  }

  test("drawdown/VWAP query math: hand-checked quanta (q_ta9/q_ta10 kernels)") {
    // drawdown: peak carries 1000, 1500, 1500; only the dip draws down
    val dd = Seq((1L, 0L, 1000L), (1L, 1L, 1500L), (1L, 2L, 1200L))
      .toDF("l_suppkey", "day_ord", "cents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey").orderBy("day_ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val got = dd.withColumn("peak", max(col("cents")).over(w))
      .withColumn("__a", (col("cents") - col("peak")) * lit(1000000L))
      .withColumn("ddm", -expr("(-2 * __a + peak) div (2 * peak)"))
      .orderBy("day_ord").select("ddm").as[Long].collect().toSeq
    assert(got === Seq(0L, 0L, -200000L), s"got $got")
    // the rhaDiv identity the SQL CASE mirrors
    assert(TechnicalIndicators.rhaDiv((1200L - 1500L) * 1000000L, 1500L) === -200000L)
    // VWAP: (10*2 + 20*1) / 3 cents
    val vw = Seq((10L, 2L), (20L, 1L))
    val expect = vw.map { case (p, q) => p * q }.sum.toDouble / vw.map(_._2).sum
    assert(expect === 40.0 / 3.0)
  }

  test("returnsMicro: exact quanta, null-preserving clamp, global series, " +
    "partition-invariant") {
    // 1000 -> 1500 (+50%) -> 3 (-99.8%) -> 600 (+19900%, clamps at +1e7)
    val cents = Seq(1000L, 1500L, 3L, 600L)
    val rows = for { k <- Seq(1L, 2L); (c, i) <- cents.zipWithIndex }
      yield (k, i.toLong, c)
    val df = rows.toDF("k", "ord", "c")
    for (parts <- Seq(1, 3)) {
      val out = TechnicalIndicators.returnsMicro(
          df.repartition(parts), Seq("k"), "ord", "c", clampMicro = 10000000L)
        .orderBy("k", "ord").collect().filter(_.getLong(0) == 1L)
        .map(r => Option(r.get(3)).map(_.asInstanceOf[Long])).toSeq
      // the clamp must NOT collapse the first-row null (Spark's
      // greatest/least skip nulls — the explicit branch guards that)
      assert(out === Seq(None, Some(500000L),
        Some(TechnicalIndicators.rhaDiv((3L - 1500L) * 1000000L, 1500L)),
        Some(10000000L)), s"got $out")
    }
    // empty key list = one global series (the market index path)
    val g = TechnicalIndicators.returnsMicro(
        cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("ord", "c"),
        Seq.empty, "ord", "c", clampMicro = 10000000L)
      .orderBy("ord").collect()
      .map(r => Option(r.get(2)).map(_.asInstanceOf[Long])).toSeq
    assert(g.head.isEmpty && g(1).contains(500000L) && g(3).contains(10000000L))
  }

  test("crossover sign test and beta/LOO kernels are exact (q_ta13/q_ta12/q_feat1)") {
    // sign(s10*n50 - s50*n10) == sign(s10/n10 - s50/n50) for positive counts
    for ((s10, n10, s50, n50) <- Seq((10L, 2L, 24L, 5L), (9L, 3L, 15L, 5L),
        (7L, 2L, 18L, 5L))) {
      val lhs = (s10 * n50 - s50 * n10).sign
      val rhs = (s10.toDouble / n10 - s50.toDouble / n50).sign.toLong
      assert(lhs == rhs, s"($s10/$n10 vs $s50/$n50)")
    }
    // beta from sufficient stats: y = 2x exactly => beta = cov/var(mkt)
    val xs = Seq(2L, -1L, 3L, -4L) // supplier returns; market y = x/2 idea inverted:
    val ys = xs.map(_ * 2)         // x = beta*y + e with beta = 0.5, e = 0
    val n = xs.size.toLong
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val syy = ys.map(y => y * y).sum
    val beta = (n.toDouble * sxy - sx.toDouble * sy) /
      (n.toDouble * syy - sy.toDouble * sy)
    assert(math.abs(beta - 0.5) < 1e-15)
    // LOO target encoding: (sum - x) / (n - 1) excludes self exactly
    val t = Seq(10L, 20L, 30L)
    val loo = t.map(x => (t.sum - x).toDouble / (t.size - 1))
    assert(loo === Seq(25.0, 20.0, 15.0))
  }

  test("triple-barrier and IC kernels are exact (q_feat3/q_feat5/q_feat2)") {
    import org.apache.spark.sql.expressions.Window
    // first-touch barrier semantics on a hand series: 100 -> 90 -> 210 ->
    // 40 -> 41 -> 42 -> 43. Day 0: c2=210 >= 200 -> up@2 (the day-1 dip
    // does NOT trigger: 2*90=180 > 100). Day 1: c1=210 >= 180 -> up@1.
    // Day 2: c2=41, 2*41=82 <= 210 -> down@2 (c1=40 already: 80<=210 ->
    // down@1). Day 3: 40 -> 41,42,43 none double/halve -> timeout@3.
    val cents = Seq(100L, 90L, 210L, 40L, 41L, 42L, 43L)
    val df = cents.zipWithIndex.map { case (c, i) => (1L, i.toLong, c) }
      .toDF("l_suppkey", "day_ord", "cents")
    val w = Window.partitionBy("l_suppkey").orderBy("day_ord")
    def up(c: org.apache.spark.sql.Column) = c >= lit(2L) * col("cents")
    def dn(c: org.apache.spark.sql.Column) = lit(2L) * c <= col("cents")
    val got = df
      .withColumn("c1", lead(col("cents"), 1).over(w))
      .withColumn("c2", lead(col("cents"), 2).over(w))
      .withColumn("c3", lead(col("cents"), 3).over(w))
      .where(col("c3").isNotNull)
      .withColumn("label",
        when(up(col("c1")), lit("up")).when(dn(col("c1")), lit("down"))
          .when(up(col("c2")), lit("up")).when(dn(col("c2")), lit("down"))
          .when(up(col("c3")), lit("up")).when(dn(col("c3")), lit("down"))
          .otherwise(lit("timeout")))
      .withColumn("dte",
        when(up(col("c1")) || dn(col("c1")), lit(1L))
          .when(up(col("c2")) || dn(col("c2")), lit(2L)).otherwise(lit(3L)))
      .orderBy("day_ord").select("label", "dte").as[(String, Long)]
      .collect().toSeq
    assert(got === Seq(("up", 2L), ("up", 1L), ("down", 1L), ("timeout", 3L)),
      s"got $got")
    // barriers are mutually exclusive on positive series: c>=2c_t and
    // 2c<=c_t together force 4c_t <= c_t, impossible for c_t > 0
    for (ct <- Seq(1L, 7L, 1000L); c <- Seq(1L, 2 * ct, ct / 2, 5000L))
      assert(!(c >= 2 * ct && 2 * c <= ct))
    // Spearman IC from integer-rank sufficient stats: perfect monotone
    // agreement -> +1, perfect inversion -> -1 (n=5)
    def ic(rs: Seq[Long], rf: Seq[Long]): Double = {
      val n = rs.size.toDouble
      val (srs, srf) = (rs.sum.toDouble, rf.sum.toDouble)
      val srsrf = rs.zip(rf).map { case (a, b) => a * b }.sum.toDouble
      val srs2 = rs.map(r => r * r).sum.toDouble
      val srf2 = rf.map(r => r * r).sum.toDouble
      (n * srsrf - srs * srf) /
        (math.sqrt(n * srs2 - srs * srs) * math.sqrt(n * srf2 - srf * srf))
    }
    val r = Seq(1L, 2L, 3L, 4L, 5L)
    assert(math.abs(ic(r, r) - 1.0) < 1e-15)
    assert(math.abs(ic(r, r.reverse) + 1.0) < 1e-15)
    // dow: epoch day 0 = Thursday, so (day_ord + 3) % 7 puts Monday at 0
    assert((0L + 3) % 7 === 3L) // 1970-01-01 Thu -> 3
    assert((4L + 3) % 7 === 0L) // 1970-01-05 Mon -> 0
  }

  test("walk-forward CV segments and train-fitted z kernels (q_sample12/q_feat4)") {
    // segment arithmetic: w = 50 days from lo = 100 -> 5 blocks of 10;
    // block s spans day-lo in [ceil(s*50/5), ceil((s+1)*50/5)-1] = [10s, 10s+9]
    def seg(d: Long, lo: Long, w: Long) = ((d - lo) * 5) / w
    def blockStart(s: Long, w: Long) = (s * w + 4) / 5
    val (lo, w) = (100L, 50L)
    assert((0L until 50L).map(t => seg(lo + t, lo, w)).toSeq ===
      (0L until 50L).map(_ / 10))
    assert((0L to 4L).map(blockStart(_, w)) === Seq(0L, 10L, 20L, 30L, 40L))
    // roles for round r=1: train = segs 0..1 (days 0-19), embargo = first
    // 5 days of seg 2 (20-24), test = 25-29, segs 3-4 absent
    def role(d: Long, r: Long): Option[String] = {
      val s = seg(d, lo, w)
      if (s <= r) Some("train")
      else if (s == r + 1)
        Some(if (d - lo < blockStart(s, w) + 5) "embargo" else "test")
      else None
    }
    assert(role(lo + 19, 1).contains("train"))
    assert(role(lo + 20, 1).contains("embargo") && role(lo + 24, 1).contains("embargo"))
    assert(role(lo + 25, 1).contains("test") && role(lo + 29, 1).contains("test"))
    assert(role(lo + 30, 1).isEmpty)
    // every round's train end strictly precedes its embargo, which
    // strictly precedes its test — the no-future-leakage invariant
    for (r <- 0L to 3L) {
      val byRole = (0L until 50L).flatMap(t => role(lo + t, r).map(_ -> t))
      val train = byRole.collect { case ("train", t) => t }
      val emb = byRole.collect { case ("embargo", t) => t }
      val test = byRole.collect { case ("test", t) => t }
      assert(train.max < emb.min && emb.max < test.min)
    }
    // train-fitted z: stats from train rows only; applying train moments
    // to a test point reproduces the hand z-score
    val train = Seq(10L, 20L, 30L)
    val (n, sx, sxx) = (train.size.toLong, train.sum,
      train.map(x => x * x).sum)
    val vr = (n.toDouble * sxx - sx.toDouble * sx) / (n.toDouble * (n - 1L))
    val mu = sx.toDouble / n
    assert(mu === 20.0 && math.abs(vr - 100.0) < 1e-12) // sample var of 10,20,30
    val z = (50.0 - mu) / math.sqrt(vr)
    assert(math.abs(z - 3.0) < 1e-12) // test point 50 is 3 train-sds out
  }

  test("decile floor arithmetic and LOCF position kernels (q_feat6/7, q_bt1)") {
    // floor deciles partition any n into sizes differing by at most 1,
    // in rank order (ntile-equivalent sizes, engine-pinned arithmetic)
    for (n <- Seq(10L, 23L, 95L, 100L, 7L)) {
      val deciles = (1L to n).map(r => ((r - 1) * 10) / n)
      assert(deciles.head == 0 && deciles.last == 9 || n < 10 && deciles.last < 10)
      assert(deciles == deciles.sorted)
      val sizes = deciles.groupBy(identity).values.map(_.size).toSeq
      assert(sizes.max - sizes.min <= 1, s"n=$n sizes=$sizes")
    }
    // LOCF position via last(ignoreNulls) over a running frame == the
    // count-grp/max SQL twin, on a signal stream with leading nulls
    val sig = Seq[Option[Long]](None, None, Some(1L), None, Some(0L), None, Some(1L), None)
    val expectPos = Seq(0L, 0L, 1L, 1L, 0L, 0L, 1L, 1L)
    val df = sig.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("k", "ord", "sig")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("ord")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val spark_ = df.withColumn("p",
        coalesce(last(col("sig"), ignoreNulls = true).over(w), lit(0L)))
      .orderBy("ord").select("p").as[Long].collect().toSeq
    assert(spark_ === expectPos)
    // the SQL twin's semantics replayed in Scala: grp = running count of
    // non-null sig; position = the grp's unique non-null value (or 0)
    val grps = sig.scanLeft(0L)((c, v) => c + (if (v.isDefined) 1 else 0)).tail
    val byGrp = sig.zip(grps).groupBy(_._2).view
      .mapValues(_.flatMap(_._1).headOption.getOrElse(0L)).toMap
    assert(grps.map(byGrp) === expectPos)
    // Sharpe tree: constant-return window -> zero variance -> null branch;
    // alternating ±x -> mean 0 -> sharpe 0
    val xs = Seq(5L, -5L, 5L, -5L)
    val (n2, s2, sq2) = (xs.size.toDouble, xs.sum.toDouble,
      xs.map(x => x * x).sum.toDouble)
    val vr = (sq2 - s2 * s2 / n2) / (n2 - 1.0)
    assert(vr > 0.0 && (s2 / n2) / math.sqrt(vr) === 0.0)
  }

  test("windowed exact mean/sd agrees with direct computation") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 12.0), (1L, 3L, 14.0)).toDF("k", "o", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("o")
      .rowsBetween(Long.MinValue, 0)
    val (mean, sd) = TechnicalIndicators.meanSd(col("v"), w)
    val last = df.select(mean.as("m"), sd.as("s")).orderBy(desc("m")).head()
    assert(math.abs(last.getDouble(0) - 12.0) < 1e-12)
    assert(math.abs(last.getDouble(1) - 2.0) < 1e-12) // sd of 10,12,14
  }

  test("sarMicro: hand-traced state machine — acceleration, both reversals") {
    import spark.implicits._
    // units = cents, unitsScale 2 ⇒ micro = cents·1e4. Series engineered
    // to rise (af accelerates), crash through the SAR (long→short
    // reversal), then rip back (short→long reversal).
    val series = Seq(100L, 110L, 125L, 90L, 140L)
    val df = series.zipWithIndex.map { case (c, i) => (1L, i.toLong, c) }
      .toDF("k", "o", "c")
    val got = TechnicalIndicators.sarMicro(df, "k", "o", "c", unitsScale = 2)
      .orderBy("o").select("sar_micro", "dir")
      .as[(Long, Long)].collect().toSeq
    // t0: init sar=ep=1_000_000, dir +1, af 2
    // t1: sar += rha(2·(1_000_000−1_000_000)/100)=0 → sar 1_000_000;
    //     c=110 > ep → ep 1_100_000, af 4
    // t2: sar += rha(4·100_000/100)=4_000 → 1_004_000; c=125 > ep →
    //     ep 1_250_000, af 6
    // t3: sar += rha(6·246_000/100)=14_760 → 1_018_760; c=90 (900_000)
    //     < sar → REVERSE: dir −1, sar = 1_250_000, ep 900_000, af 2
    // t4: sar += rha(2·(900_000−1_250_000)/100)=−7_000 → 1_243_000;
    //     c=140 (1_400_000) > sar → REVERSE: dir +1, sar = 900_000
    assert(got === Seq(
      (1000000L, 1L), (1000000L, 1L), (1004000L, 1L),
      (1250000L, -1L), (900000L, 1L)))
    // keys never share state: two keys give the same per-key trace
    val two = TechnicalIndicators.sarMicro(
        df.unionByName(df.withColumn("k", lit(2L))), "k", "o", "c", 2)
      .where(col("k") === 2).orderBy("o")
      .select("sar_micro", "dir").as[(Long, Long)].collect().toSeq
    assert(two === got)
  }
}
