package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the latest right row with
  * `right.time <= left.time` on the same key (tie rule: at-or-before,
  * matching DuckDB `ASOF JOIN`; SURVEY.md §2.B Q-JOIN7, §7.4.5).
  *
  * Spark has no native as-of join. The scalable formulation is
  * union-then-window: tag both sides, sort each key's timeline once, and
  * carry the last-seen right payload forward with
  * `last(_, ignoreNulls).over(running frame)`. This costs ONE shuffle on the
  * key (both inputs hash-partitioned together) and never materializes the
  * (left x earlier-rights) blow-up that a range-join + row_number
  * formulation would — the property that matters at 100 TB where a hot key
  * can have millions of right rows.
  */
object AsOfJoin {

  /** @param tieBreak right-side columns that make (key, time) unique; among
    *                 equal-time right rows the max tieBreak wins
    *                 (deterministic).
    * @return left rows + `asof_<c>` for each requested right value column
    *         (null when no right row is at-or-before).
    */
  def lastAtOrBefore(
      left: DataFrame,
      right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightValueCols: Seq[String],
      tieBreak: Seq[String]): DataFrame = {

    val payloadCols = (rightTime +: tieBreak) ++ rightValueCols
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val r = right.select(
      col(rightKey).as("__k"),
      col(rightTime).as("__t"),
      struct(payloadCols.distinct.map(col): _*).as("__rv"))
      .withColumn("__side", lit(0))

    // Right rows sort before left rows at equal time => "at-or-before" is
    // inclusive. Among equal-time right rows the struct (time, tieBreak...)
    // ordering makes `last` deterministic.
    val w = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__side").asc, col("__rv").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val joined = l.unionByName(r.withColumn("__lpad", lit(null)), allowMissingColumns = true)
      .drop("__lpad")
      .withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    val valueSel = rightValueCols.map(c => col("__asof").getField(c).as(s"asof_$c"))
    val timeSel = col("__asof").getField(rightTime).as(s"asof_$rightTime")
    joined.select(left.columns.toIndexedSeq.map(col) ++ (timeSel +: valueSel): _*)
  }

  /** Range-join formulation of [[lastAtOrBefore]] — the cheaper plan when
    * the right side is SMALL (a dimension / calibration table): broadcast
    * equi-join on the key with the `right.time <= left.time` residual,
    * then reduce each left row's matches with a max-aggregation on
    * (time, payload) — map-side combined, so the (left × earlier-rights)
    * expansion never shuffles. The left side is never sorted and never
    * co-shuffled with the right, which also sidesteps the hot-key skew a
    * single key-partitioned timeline sort would hit. Identical output to
    * [[lastAtOrBefore]] (same at-or-before inclusivity, same max-tieBreak
    * rule — spec-asserted, and q_join8 runs it against q_join7's oracle).
    * Wrong shape for a LARGE right side: the join expansion is
    * O(left × earlier-rights-per-key) rows before the partial aggregate.
    * [[lastAtOrBeforeAuto]] picks by estimated size. */
  def lastAtOrBeforeViaRangeJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightValueCols: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val payloadCols = (rightTime +: tieBreak) ++ rightValueCols
    // unique per-row grouping handle; dropped before returning, so the
    // nondeterministic id values never reach the output
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val r = broadcast(right.select(col(rightKey).as("__rk"), col(rightTime).as("__rt"),
      struct(payloadCols.distinct.map(col): _*).as("__rv")))
    val joined = l.join(r,
      col(leftKey) === col("__rk") && col("__rt") <= col(leftTime), "left_outer")
    // max of (time, payload-struct) == the union-window's last-over-
    // (time asc, payload asc) frame: latest time wins, then max tieBreak
    // (payload struct leads with rightTime, then tieBreak). Unmatched left
    // rows aggregate only nulls => null asof columns.
    val agg = joined
      .groupBy((col("__lid") +: left.columns.toIndexedSeq.map(col)): _*)
      .agg(max(when(col("__rt").isNotNull,
        struct(col("__rt"), col("__rv")))).as("__m"))
    val asof = col("__m").getField("__rv")
    val valueSel = rightValueCols.map(c => asof.getField(c).as(s"asof_$c"))
    val timeSel = asof.getField(rightTime).as(s"asof_$rightTime")
    agg.select(left.columns.toIndexedSeq.map(col) ++ (timeSel +: valueSel): _*)
  }

  /** Picks the [[lastAtOrBefore]] formulation by the optimizer's size
    * estimate of the right side: under the session's broadcast threshold
    * => broadcast range-join + max-aggregation; otherwise the
    * single-shuffle union+window (scales to any right size). */
  def lastAtOrBeforeAuto(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightValueCols: Seq[String], tieBreak: Seq[String]): DataFrame = {
    val raw = right.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    // the conf accepts both plain longs ("-1" disables) and byte strings ("10MB")
    val threshold = raw.toLongOption.getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    val sizeEst = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && sizeEst <= threshold)
      lastAtOrBeforeViaRangeJoin(left, right, leftKey, leftTime, rightKey, rightTime,
        rightValueCols, tieBreak)
    else
      lastAtOrBefore(left, right, leftKey, leftTime, rightKey, rightTime,
        rightValueCols, tieBreak)
  }

  /** Forward as-of: EARLIEST right row with `right.time >= left.time` per
    * key (the "next event after" direction — e.g. first fill after an
    * order). Same union+window shape, mirrored: descending time order,
    * left rows sort before right at equal time so ties are inclusive. */
  def firstAtOrAfter(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightValueCols: Seq[String], tieBreak: Seq[String]): DataFrame = {

    val payloadCols = (rightTime +: tieBreak) ++ rightValueCols
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val r = right.select(
      col(rightKey).as("__k"),
      col(rightTime).as("__t"),
      struct(payloadCols.distinct.map(col): _*).as("__rv"))
      .withColumn("__side", lit(0))

    // Descending time: "first at-or-after" = last right row seen walking
    // backwards. Among equal-time right rows the MIN tieBreak wins
    // (struct desc => last in frame is the smallest).
    val w = Window.partitionBy("__k")
      .orderBy(col("__t").desc, col("__side").asc, col("__rv").desc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val joined = l.unionByName(r.withColumn("__lpad", lit(null)), allowMissingColumns = true)
      .drop("__lpad")
      .withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    val valueSel = rightValueCols.map(c => col("__asof").getField(c).as(s"asof_$c"))
    val timeSel = col("__asof").getField(rightTime).as(s"asof_$rightTime")
    joined.select(left.columns.toIndexedSeq.map(col) ++ (timeSel +: valueSel): _*)
  }

  /** As-of with a maximum lookback: right row must be within `maxLookback`
    * (a Column interval, e.g. `expr("INTERVAL 7 DAYS")`) of the left time. */
  def lastWithin(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightValueCols: Seq[String], tieBreak: Seq[String],
      maxLookback: Column): DataFrame = {
    val joined = lastAtOrBefore(left, right, leftKey, leftTime, rightKey, rightTime,
      rightValueCols, tieBreak)
    val keep = col(s"asof_$rightTime").isNotNull &&
      col(s"asof_$rightTime") >= (col(leftTime) - maxLookback)
    val cleared = rightValueCols.foldLeft(
      joined.withColumn(s"asof_$rightTime", when(keep, col(s"asof_$rightTime")))) {
      (df, c) => df.withColumn(s"asof_$c", when(keep, col(s"asof_$c")))
    }
    cleared
  }

  /** Nearest as-of (pandas `merge_asof(direction='nearest')`, round 9 —
    * the third direction completing at-or-before / at-or-after): per left
    * row, whichever of the latest at-or-before and earliest at-or-after
    * right rows is CLOSER in time; equal distance → the at-or-before
    * match (a deterministic pin, mirrored literally by the oracle).
    *
    * Distance is |unix_micros| of the two times, so left/right time
    * columns must be timestamp-castable (dates land on UTC midnight
    * under the session's UTC timezone) — exact integer micros, no float
    * anywhere in the comparison.
    *
    * ONE shuffle: both inputs hash-partition on the key once; the two
    * carried values are windows over the SAME partitioning in opposite
    * sort orders (Spark re-sorts within partitions for the second
    * window — a partition-local sort, not another exchange), then the
    * closer match is picked per row. Never materializes the left ×
    * candidates blow-up. */
  def nearest(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightValueCols: Seq[String], tieBreak: Seq[String]): DataFrame = {

    val payloadCols = (rightTime +: tieBreak) ++ rightValueCols
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val r = right.select(
      col(rightKey).as("__k"),
      col(rightTime).as("__t"),
      struct(payloadCols.distinct.map(col): _*).as("__rv"))
      .withColumn("__side", lit(0))

    // same frames as lastAtOrBefore / firstAtOrAfter, over one partitioning
    val wB = Window.partitionBy("__k")
      .orderBy(col("__t").asc, col("__side").asc, col("__rv").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wA = Window.partitionBy("__k")
      .orderBy(col("__t").desc, col("__side").asc, col("__rv").desc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val lt = unix_micros(col("__t").cast("timestamp"))
    def rt(c: Column) = unix_micros(c.getField(rightTime).cast("timestamp"))
    val joined = l.unionByName(r.withColumn("__lpad", lit(null)), allowMissingColumns = true)
      .drop("__lpad")
      .withColumn("__before", last(col("__rv"), ignoreNulls = true).over(wB))
      .withColumn("__after", last(col("__rv"), ignoreNulls = true).over(wA))
      .where(col("__side") === 1)
      .withColumn("__asof",
        // A null left time has no distance to anything: pandas
        // merge_asof(direction='nearest') yields no match there, and
        // without this branch all three distance conditions evaluate
        // null/false and fall through to __after (round-9 advice).
        when(col("__t").isNull, lit(null))
          .when(col("__before").isNull, col("__after"))
          .when(col("__after").isNull, col("__before"))
          .when(lt - rt(col("__before")) <= rt(col("__after")) - lt, col("__before"))
          .otherwise(col("__after")))

    val valueSel = rightValueCols.map(c => col("__asof").getField(c).as(s"asof_$c"))
    val timeSel = col("__asof").getField(rightTime).as(s"asof_$rightTime")
    joined.select(left.columns.toIndexedSeq.map(col) ++ (timeSel +: valueSel): _*)
  }
}
