package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Technical indicators over per-key price series — the feature
  * engineering the reference's partitioned OHLCV layout exists to feed
  * (SURVEY.md §2.B [ANA]; `README.md:46`).
  *
  * Numerics: windowed mean/variance are computed from EXACT integer-cent
  * window sums (sum, sum-of-squares, count are exact longs; the final
  * double formula is the same op sequence on both engines), so Bollinger
  * and RSI are bit-deterministic and DuckDB-oracle-checkable with no
  * rounding.
  *
  * The serial recurrences (EMA, Holt, CUSUM, parabolic SAR) have no
  * window built-in, so all of them run through ONE keyed serial pass,
  * [[serialPass]]: the key, ord and input columns are cast to long, ONE
  * hash exchange on the key plus a sort on (key, ord) makes every key's
  * rows contiguous and ordered, and one fold over each partition carries
  * a fixed-width long state. An operator's `reset` seeds the state on a
  * key's first row and its `step` advances it on every later row; the
  * leading state slots are emitted under the operator's output names.
  * A key's first row is told by an explicit started flag, never a
  * key sentinel: a generic key column may hold any long, Long.MinValue
  * included. One shuffle, constant memory per series, serial per key and
  * never across keys — the scalable shape for recursive state at 100 TB.
  * Each operator below names only its state and step.
  */
object TechnicalIndicators {

  /** Exact windowed mean/stddev of a 2dp column over `w`, as
    * (mean, sd) columns built from integer-cent sums. `sd` uses the
    * sample variance with a >=0 clamp (fp can dip epsilon-negative). */
  def meanSd(c: Column, w: WindowSpec): (Column, Column) = {
    val cents = round(c * 100.0).cast("long")
    val s = sum(cents).over(w).cast("double")
    val sq = sum(cents * cents).over(w).cast("double")
    val n = count(lit(1)).over(w).cast("double")
    val mean = s / n / 100.0
    // n=1 => sample variance undefined AND (n-1)=0 would trip ANSI's
    // divide-by-zero (which applies to doubles too) — guard to 0.
    val varCents2 = when(n > 1.0,
      greatest((sq - s * s / n) / (n - lit(1.0)), lit(0.0))).otherwise(lit(0.0))
    val sd = sqrt(varCents2) / 100.0
    (mean, sd)
  }

  /** SQL twin of [[meanSd]] — keep the op sequence in lockstep. */
  def sqlMeanSd(x: String, windowText: String): (String, String) = {
    val s = s"CAST(SUM(CAST(round(($x)*100.0,0) AS BIGINT)) OVER $windowText AS DOUBLE)"
    val sq = s"CAST(SUM(CAST(round(($x)*100.0,0) AS BIGINT)*CAST(round(($x)*100.0,0) AS BIGINT)) OVER $windowText AS DOUBLE)"
    val n = s"CAST(COUNT(*) OVER $windowText AS DOUBLE)"
    (s"$s / $n / 100.0",
      s"sqrt(CASE WHEN $n > 1.0 THEN greatest(($sq - $s * $s / $n) / ($n - 1.0), 0.0) ELSE 0.0 END) / 100.0")
  }

  /** Relative Strength Index over `period` rows: exact cent gains/losses,
    * explicit zero-loss guard (RSI=100) so no engine-specific inf/NaN. */
  def rsi(valueCol: Column, w: WindowSpec, frame: WindowSpec): Column = {
    val cents = round(valueCol * 100.0).cast("long")
    val diff = cents - lag(cents, 1).over(w)
    val gain = when(diff > 0, diff).otherwise(0L)
    val loss = when(diff < 0, -diff).otherwise(0L)
    val avgGain = sum(gain).over(frame).cast("double") / count(lit(1)).over(frame)
    val avgLoss = sum(loss).over(frame).cast("double") / count(lit(1)).over(frame)
    when(avgLoss === 0.0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss))
  }

  /** The one keyed serial pass (see the object doc). `inputs` pairs each
    * source column with its output name; per row the fold hands `reset`
    * (a key's first row) or `step` (every later row) the row's inputs as
    * longs and the `stateWidth`-slot state, whose first `outputs.size`
    * slots are emitted as `outputs`. Output: (keyCol, ordCol, inputs...,
    * outputs...), all non-nullable longs. */
  private def serialPass(df: DataFrame, keyCol: String, ordCol: String,
                         inputs: Seq[(String, String)], outputs: Seq[String],
                         stateWidth: Int)
                        (reset: (Array[Long], Array[Long]) => Unit,
                         step: (Array[Long], Array[Long]) => Unit): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nOut = outputs.size
    // every slot is present, but an array read is nullable by type: the
    // coalesce keeps the emitted longs non-nullable
    def slot(arr: String, i: Int) = coalesce(col(arr)(i), lit(0L))
    df.select(col(keyCol).cast("long").as("key"), col(ordCol).cast("long").as("ord"),
        array(inputs.map { case (c, _) => col(c).cast("long") }: _*).as("in"))
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("ord"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        var started = false
        var curKey = 0L
        val st = new Array[Long](stateWidth)
        it.map { case (k, o, in) =>
          if (!started || k != curKey) reset(in, st) else step(in, st)
          started = true
          curKey = k
          (k, o, in, java.util.Arrays.copyOf(st, nOut))
        }
      }
      .select(Seq(col("_1").as(keyCol), col("_2").as(ordCol)) ++
        inputs.zipWithIndex.map { case ((_, name), i) => slot("_3", i).as(name) } ++
        outputs.zipWithIndex.map { case (name, i) => slot("_4", i).as(name) }: _*)
  }

  /** In-memory reference EMA for tests. */
  def emaReference(values: Seq[Double], alpha: Double): Seq[Double] =
    values.tail.scanLeft(values.head)((prev, x) => alpha * x + (1 - alpha) * prev)

  /** Round-half-away-from-zero integer division, b > 0 — the exact
    * quantization step of [[emaMicro]]; mirrored literally by the oracle
    * CTEs (CASE on sign + nonnegative floor division on both engines). */
  def rhaDiv(a: Long, b: Long): Long =
    if (a >= 0) (2 * a + b) / (2 * b) else -((-2 * a + b) / (2 * b))

  /** The one Holt level/trend step over micro-unit state (see
    * [[holtMicro]]): folds the observation `xMicro` into (level, trend). */
  private[graft] def holtStep(level: Long, trend: Long, xMicro: Long,
                              alphaNum: Long, alphaDen: Long,
                              betaNum: Long, betaDen: Long): (Long, Long) = {
    val l = rhaDiv(alphaNum * xMicro + (alphaDen - alphaNum) * (level + trend), alphaDen)
    (l, rhaDiv(betaNum * (l - level) + (betaDen - betaNum) * trend, betaDen))
  }

  /** The one exact micro-unit return of unit column `u` over its lag `p`
    * (plain column names): rhaDiv((u − p)·1e6, p) as a Column, null where
    * `p` is null (a key's first row). Both rounding branches divide
    * non-negative operands, so floor == truncate on any engine (the
    * emaMicro oracle convention). `clampMicro > 0` clips the return to
    * ±clampMicro, null-preserving — Spark's greatest/least SKIP nulls, so
    * the clamp must branch explicitly or a first-row null would collapse
    * to -clampMicro and survive downstream null filters. */
  private[operators] def exactReturn(u: String, p: String, clampMicro: Long): Column = {
    val r = when(col(p).isNull, lit(null).cast("long"))
      .when((col(u) - col(p)) * lit(1000000L) >= 0,
        expr(s"(2 * (($u - $p) * 1000000) + $p) div (2 * $p)"))
      .otherwise(-expr(s"(-2 * (($u - $p) * 1000000) + $p) div (2 * $p)"))
    if (clampMicro > 0)
      when(r.isNull, lit(null).cast("long"))
        .otherwise(least(greatest(r, lit(-clampMicro)), lit(clampMicro)))
    else r
  }

  /** ENGINE-VERSION-EXACT exponential moving average (round-8 hardening;
    * the fragility audit measured the double-recurrence q_ta3/q_ta4
    * outputs within 2 ulps of a 6dp rounding boundary — bit-identical
    * inputs, but one round-IMPLEMENTATION difference between builds
    * (Spark's exact BigDecimal HALF_UP vs a float-scaled libc round)
    * from flipping). The recurrence itself is integer arithmetic:
    *
    * The caller supplies the series as EXACT integers in `unitsCol`
    * (`unitsScale` dp of the natural value — e.g. cents = 2):
    *
    *   state e_0 = c_0 · 10^(6−unitsScale)     (micro-units of the value)
    *   e_t = rhaDiv(aNum·c_t·10^(6−uS) + (aDen−aNum)·e_{t−1}, aDen)
    *
    * i.e. the classic ema_t = α·x_t + (1−α)·ema_{t−1} with α = aNum/aDen,
    * re-quantized to 1e-6 of the value unit at every step (steady-state
    * drift vs the real-valued EMA ≤ 0.5/α micro — invisible at 6dp-1
    * precision, and DETERMINISTIC: every engine computes the identical
    * integers).
    *
    * The one-column case of [[emaMicroMulti]]. Overflow: needs
    * aDen·|value|·1e6 < 2^63, i.e. |value| < 9.2e12/aDen — widen the
    * state to BigInt past that (same recurrence, wider carrier).
    *
    * Output: (key, ord, value_units = c_t, ema_micro = e_t). */
  def emaMicro(df: DataFrame, keyCol: String, ordCol: String,
               unitsCol: String, unitsScale: Int,
               alphaNum: Long, alphaDen: Long): DataFrame =
    emaMicroMulti(df, keyCol, ordCol, Seq(unitsCol), unitsScale, alphaNum, alphaDen)
      .toDF(keyCol, ordCol, "value_units", "ema_micro")

  /** Multi-column [[emaMicro]]: the IDENTICAL per-column recurrence run
    * over several unit columns in ONE serial pass (r15 — q_ta17's Wilder
    * system smoothed +DM, −DM and TR as three separate emaMicro passes
    * and paid two extra exchanges plus two joins to put the results back
    * side-by-side; the recurrences are per-column independent, so one
    * fold carries all the state). State: one micro EMA per column.
    * Output: (key, ord, <c> = input units, <c>_s = ema micro) per
    * column. */
  def emaMicroMulti(df: DataFrame, keyCol: String, ordCol: String,
                    unitsCols: Seq[String], unitsScale: Int,
                    alphaNum: Long, alphaDen: Long): DataFrame = {
    require(unitsCols.nonEmpty, "need at least one units column")
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      s"alpha must be in (0,1]: $alphaNum/$alphaDen")
    require(unitsScale >= 0 && unitsScale <= 6,
      s"unitsScale must be in [0,6], got $unitsScale")
    val up = math.pow(10.0, 6 - unitsScale).toLong
    val n = unitsCols.length
    serialPass(df, keyCol, ordCol, unitsCols.map(c => c -> c),
        unitsCols.map(c => s"${c}_s"), n)(
      (cs, e) => { var i = 0; while (i < n) { e(i) = cs(i) * up; i += 1 } },
      (cs, e) => {
        var i = 0
        while (i < n) {
          e(i) = rhaDiv(alphaNum * cs(i) * up + (alphaDen - alphaNum) * e(i), alphaDen)
          i += 1
        }
      })
  }

  /** ENGINE-VERSION-EXACT Holt double-exponential smoothing (level +
    * trend) — the forecasting primitive the reference domain's
    * prediction purpose actually calls for: a forecast h steps out is
    * level + h·trend. Same integer-recurrence discipline as [[emaMicro]]
    * (no IEEE result ever enters state):
    *
    *   l_0 = c_0·10^(6−uS),  b_0 = 0
    *   l_t = rhaDiv(aNum·c_t·10^(6−uS) + (aDen−aNum)·(l_{t−1} + b_{t−1}), aDen)
    *   b_t = rhaDiv(bNum·(l_t − l_{t−1}) + (bDen−bNum)·b_{t−1}, bDen)
    *
    * State: (level, trend), stepped by [[holtStep]]. Both values can be
    * negative (a falling level drives trend below zero); rhaDiv carries
    * both sign branches.
    *
    * Output: (key, ord, value_units, level_micro, trend_micro). */
  def holtMicro(df: DataFrame, keyCol: String, ordCol: String,
                unitsCol: String, unitsScale: Int,
                alphaNum: Long, alphaDen: Long,
                betaNum: Long, betaDen: Long): DataFrame = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen &&
      betaDen > 0 && betaNum > 0 && betaNum <= betaDen,
      s"alpha/beta must be in (0,1]: $alphaNum/$alphaDen, $betaNum/$betaDen")
    require(unitsScale >= 0 && unitsScale <= 6,
      s"unitsScale must be in [0,6], got $unitsScale")
    val up = math.pow(10.0, 6 - unitsScale).toLong
    serialPass(df, keyCol, ordCol, Seq(unitsCol -> "value_units"),
        Seq("level_micro", "trend_micro"), 2)(
      (c, lb) => { lb(0) = c(0) * up; lb(1) = 0L },
      (c, lb) => {
        val (l, b) = holtStep(lb(0), lb(1), c(0) * up, alphaNum, alphaDen, betaNum, betaDen)
        lb(0) = l; lb(1) = b
      })
  }

  /** Page CUSUM change-point detector over an EXACT integer micro series
    * (round 9) — the control chart that fires on a sustained mean SHIFT
    * rather than a single outlier (the q_anom1 z-score's blind spot):
    *
    *   s⁺_t = max(0, s⁺_{t−1} + x_t − k)   alarm 'up'   when s⁺ > h
    *   s⁻_t = min(0, s⁻_{t−1} + x_t + k)   alarm 'down' when s⁻ < −h
    *
    * with the textbook post-alarm reset to 0 (detection restarts). k is
    * the drift allowance, h the decision threshold, both in micro. The
    * two alarms are mutually exclusive per step (up needs x > k, down
    * needs x < −k). Pure integer arithmetic — engine-exact; emitted
    * s⁺/s⁻ are the PRE-reset values (what the alarm fired on).
    * State: the emitted pre-reset (s⁺, s⁻); each step first applies the
    * previous row's post-alarm reset, and a key starts from (0, 0). The
    * alarm is a Column over the emitted values. */
  def cusumMicro(df: DataFrame, keyCol: String, ordCol: String,
                 microCol: String, kMicro: Long, hMicro: Long): DataFrame = {
    require(kMicro >= 0 && hMicro > 0, s"need k >= 0 < h: $kMicro, $hMicro")
    val step: (Array[Long], Array[Long]) => Unit = (x, s) => {
      s(0) = math.max(0L, (if (s(0) > hMicro) 0L else s(0)) + x(0) - kMicro)
      s(1) = math.min(0L, (if (s(1) < -hMicro) 0L else s(1)) + x(0) + kMicro)
    }
    serialPass(df, keyCol, ordCol, Seq(microCol -> "x"),
        Seq("sp_micro", "sn_micro"), 2)(
      (x, s) => { s(0) = 0L; s(1) = 0L; step(x, s) }, step)
      .withColumn("alarm", when(col("sp_micro") > hMicro, lit("up"))
        .when(col("sn_micro") < -hMicro, lit("down")))
  }

  /** In-memory reference of [[cusumMicro]] for tests. */
  def cusumReference(xs: Seq[Long], kMicro: Long, hMicro: Long)
      : Seq[(Long, Long, Option[String])] = {
    var sp = 0L; var sn = 0L
    xs.map { x =>
      sp = math.max(0L, sp + x - kMicro)
      sn = math.min(0L, sn + x + kMicro)
      val alarm =
        if (sp > hMicro) Some("up")
        else if (sn < -hMicro) Some("down") else None
      val out = (sp, sn, alarm)
      if (sp > hMicro) sp = 0L
      if (sn < -hMicro) sn = 0L
      out
    }
  }

  /** In-memory reference of [[holtMicro]] for tests. */
  def holtMicroReference(units: Seq[Long], alphaNum: Long, alphaDen: Long,
                         betaNum: Long, betaDen: Long,
                         unitsScale: Int): Seq[(Long, Long)] = {
    val up = math.pow(10.0, 6 - unitsScale).toLong
    units.headOption.map { h =>
      units.tail.scanLeft((h * up, 0L)) { case ((l, b), c) =>
        val nl = rhaDiv(alphaNum * c * up + (alphaDen - alphaNum) * (l + b),
          alphaDen)
        val nb = rhaDiv(betaNum * (nl - l) + (betaDen - betaNum) * b, betaDen)
        (nl, nb)
      }
    }.getOrElse(Seq.empty)
  }

  /** Rolling volatility over EXACT micro-unit returns (round 9 — the
    * flagship risk feature of the reference's domain, in the q_ta1/q_ta3
    * numeric discipline): per key, the period-over-period return is
    * quantized ONCE to exact integer micro by [[returnsMicro]]
    * (r_micro = rhaDiv((c_t − c_{t−1})·1e6, c_{t−1}), the emaMicro
    * rounding rule — no IEEE division survives into state), then the
    * rolling sample standard deviation comes from exact BIGINT window
    * sums (Σr, Σr², n) with the double formula applied once at the end —
    * the meanSd pattern, so the emitted vol is a bit-identical chain on
    * every engine (casts of exact integers, same-order arithmetic, one
    * correctly-rounded sqrt).
    *
    * All windowed — one shuffle on the key, no serial pass (unlike the
    * genuinely recursive EMA). Requires positive `unitsCol` values
    * (returns are undefined at c ≤ 0; revenue/price series by
    * construction). Overflow: |r_micro| ≤ 1e6·max-swing — the window sum
    * of squares needs window·r² < 2^63, i.e. a 100x daily swing (r =
    * 1e8) holds to window ≈ 900.
    *
    * Output: (key, ord, value_units, r_micro — null on each key's first
    * row, vol_micro — sample stddev of the window's returns in micro
    * units, 0.0 when fewer than 2 returns are in frame). */
  def rollingVolMicro(df: DataFrame, keyCol: String, ordCol: String,
                      unitsCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val wv = Window.partitionBy(col(keyCol)).orderBy(col(ordCol))
      .rowsBetween(-(window - 1), 0)
    val n = count(col("r_micro")).over(wv).cast("double")
    val s = sum(col("r_micro")).over(wv).cast("double")
    val sq = sum(col("r_micro") * col("r_micro")).over(wv).cast("double")
    returnsMicro(df, Seq(keyCol), ordCol, unitsCol)
      .withColumn("vol_micro",
        when(n > 1.0, sqrt(greatest((sq - s * s / n) / (n - lit(1.0)), lit(0.0))))
          .otherwise(lit(0.0)))
  }

  /** Per-key exact micro-unit returns — the r_micro quantization step of
    * [[rollingVolMicro]], also serving the CROSS-series features (rolling
    * beta q_ta12, lead-lag correlation q_corr2). Emits
    * (keyCols..., ordCol, value_units, r_micro) with r_micro the
    * [[exactReturn]] expression, null on each key's first row; `keyCols`
    * may be empty for a single global series (the market index — one row
    * per period, so the unpartitioned window is a non-issue).
    * `clampMicro > 0` clips the return to ±clampMicro — both the
    * robust-feature practice for ratio features and the OVERFLOW BOUND
    * for downstream sums of products: with |r| ≤ C and window n,
    * Σr² ≤ n·C² must stay under 2^63 (C = 1e7, n = 2500 ⇒ 2.5e17 ✓). */
  def returnsMicro(df: DataFrame, keyCols: Seq[String], ordCol: String,
                   unitsCol: String, clampMicro: Long = 0L): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(ordCol))
    df.select(keyCols.map(col) :+ col(ordCol) :+ col(unitsCol).cast("long").as("__u"): _*)
      .withColumn("__prev", lag(col("__u"), 1).over(w))
      .select(keyCols.map(col) :+ col(ordCol) :+ col("__u").as("value_units") :+
        exactReturn("__u", "__prev", clampMicro).as("r_micro"): _*)
  }

  /** In-memory reference of [[emaMicro]] for tests (inputs already in
    * `unitsScale`-dp units). */
  def emaMicroReference(units: Seq[Long], alphaNum: Long, alphaDen: Long,
                        unitsScale: Int): Seq[Long] = {
    val up = math.pow(10.0, 6 - unitsScale).toLong
    units.tail.scanLeft(units.head * up)((prev, c) =>
      rhaDiv(alphaNum * c * up + (alphaDen - alphaNum) * prev, alphaDen))
  }

  /** ENGINE-VERSION-EXACT parabolic SAR (round 11) — Wilder's stop-and-
    * reverse trail, the classic trend-following stop: the SAR accelerates
    * toward the extreme point (EP) of the current trend and REVERSES when
    * price crosses it. Close-only adaptation (the daily frame carries no
    * intraday high/low; close stands in for both — documented, not
    * hidden). Four-field integer state (sar, dir, ep, af) per key, the
    * [[emaMicro]] discipline (no IEEE result ever enters state):
    *
    *   init (first bar):    dir = +1, sar = ep = c₀·10^(6−uS), af = afStart
    *   each later bar:      sar += rhaDiv(af·(ep − sar), afDen)
    *     long  (dir = +1):  c < sar ⇒ reverse (dir = −1, sar = ep,
    *                        ep = c, af = afStart); else a new high bumps
    *                        ep and af (af = min(af + afStep, afMax))
    *     short (dir = −1):  mirror image.
    *
    * Overflow: af·|ep − sar| ≤ afMax·2·maxMicro — at cents scale and
    * afMax 20 that is ~1.6e13 « 2^63.
    * Output: (key, ord, value_units, sar_micro, dir ∈ {−1, +1}). */
  def sarMicro(df: DataFrame, keyCol: String, ordCol: String,
               unitsCol: String, unitsScale: Int,
               afStart: Long = 2L, afStep: Long = 2L, afMax: Long = 20L,
               afDen: Long = 100L): DataFrame = {
    require(afDen > 0 && afStart > 0 && afStep > 0 && afMax >= afStart &&
      afMax <= afDen, s"af ladder out of range: $afStart/$afStep/$afMax/$afDen")
    require(unitsScale >= 0 && unitsScale <= 6,
      s"unitsScale must be in [0,6], got $unitsScale")
    val up = math.pow(10.0, 6 - unitsScale).toLong
    serialPass(df, keyCol, ordCol, Seq(unitsCol -> "value_units"),
        Seq("sar_micro", "dir"), 4)(
      (c, s) => { s(0) = c(0) * up; s(1) = 1L; s(2) = s(0); s(3) = afStart },
      (c, s) => {
        val cm = c(0) * up
        var sar = s(0) + rhaDiv(s(3) * (s(2) - s(0)), afDen)
        var dir = s(1); var ep = s(2); var af = s(3)
        if (dir == 1L) {
          if (cm < sar) { dir = -1L; sar = ep; ep = cm; af = afStart }
          else if (cm > ep) { ep = cm; af = math.min(af + afStep, afMax) }
        } else {
          if (cm > sar) { dir = 1L; sar = ep; ep = cm; af = afStart }
          else if (cm < ep) { ep = cm; af = math.min(af + afStep, afMax) }
        }
        s(0) = sar; s(1) = dir; s(2) = ep; s(3) = af
      })
  }
}
