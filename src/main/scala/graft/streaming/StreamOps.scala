package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.util.Det

/** Structured-Streaming layer (SURVEY.md §2.B Q-STRM1–3, S-STRM4/5): the
  * reference's own stated future is "daily stock data updates"
  * (`README.md:49`); here the same `events` schema is consumed
  * incrementally. Each windowed transform below is ONE function applied to
  * either a batch DataFrame or a streaming DataFrame — identical column
  * expressions, so the batch twin registered in `SparkEntry.queries` is
  * oracle-checked while the streaming path reuses the exact logic
  * (MemoryStream unit tests cover watermark/dedup behavior).
  */
object StreamOps {

  /** Tumbling 1-hour aggregation. Works on batch and streaming inputs. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_ev"), Det.fixedSum(col("value"), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("n_ev"), col("sum_value"))

  /** Sliding 1-hour window, 15-minute slide; window start as epoch seconds
    * (BIGINT) so the oracle compares integers, not timestamps. */
  def slidingHourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("window.start").cast("long").as("ws"), col("n_ev"))

  /** Session windows with a 30-minute gap, per user. Session semantics
    * (verified against Spark 4.1 by MemoryStream test): an event MERGES
    * into the session iff its gap to the previous event is <= 30 min —
    * the boundary-equal event is inclusive, so the SQL twin must use
    * `<= INTERVAL 30 MINUTE`, not `<`. */
  def sessionized(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_ev"), Det.fixedSum(col("value"), 2).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_ev"), col("sum_value"))

  /** S-STRM4: watermarked tumbling agg — events later than 10 minutes
    * behind the max seen ts are dropped (streaming-only; MemoryStream test). */
  def watermarkedTumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("window.start").as("ws"), col("n_ev"))

  /** S-STRMRECON (round 10): streaming maintenance of the q_dq7
    * reconciliation checksums — per key-bucket row counts + XOR-of-
    * xxhash64(key, value). XOR is incremental BY NATURE (commutative,
    * associative, self-inverse), so the streaming state after any prefix
    * of micro-batches is EXACTLY the batch answer over the rows seen —
    * the replication-audit side (`DataQuality.reconcile`) maintained
    * continuously instead of recomputed per run. One stateful aggregate,
    * nBuckets rows of state total, batch/stream parity by construction
    * (spec-asserted on the fixture). */
  def reconcileChecksums(rows: DataFrame, keyCol: String, valueCol: String,
                         nBuckets: Int = 64): DataFrame =
    rows.select(pmod(col(keyCol).cast("long"), lit(nBuckets.toLong)).as("bucket"),
        xxhash64(col(keyCol).cast("long"), col(valueCol).cast("long")).as("__h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("checksum"))

  /** S-STRM8: streaming distribution-drift monitor — per tumbling hour,
    * total-variation distance between the window's categorical mix and a
    * fixed reference distribution (yesterday's snapshot, the contract
    * mix), with a drift flag. The data-quality twin of the batch KL
    * diagnostics (`TextOps.sourceKlDivergence`), shaped for a stream: the
    * reference categories are KNOWN, so per-category counts are columns of
    * ONE watermark-bounded windowed aggregation (a single stateful
    * operator — no second normalization agg, no unbounded state).
    * Categories outside the reference contribute their full mass as
    * drift. Works on batch frames too (spec parity). */
  def driftMonitor(events: DataFrame, catCol: String,
                   reference: Seq[(String, Double)],
                   threshold: Double = 0.25): DataFrame = {
    require(reference.nonEmpty, "reference distribution must be non-empty")
    require(math.abs(reference.map(_._2).sum - 1.0) < 1e-9,
      "reference distribution must sum to 1")
    val catCounts = reference.zipWithIndex.map { case ((c, _), i) =>
      sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"__c$i") }
    val agg = events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), catCounts: _*)
    val nd = col("n").cast("double")
    val knownDrift = reference.zipWithIndex.map { case ((_, p), i) =>
      abs(col(s"__c$i").cast("double") / nd - lit(p)) }.reduce(_ + _)
    val unseenMass =
      (nd - reference.indices.map(i => col(s"__c$i")).reduce(_ + _).cast("double")) / nd
    agg.select(col("window.start").as("ws"), col("n"),
        ((knownDrift + unseenMass) / 2).as("tvd"))
      .withColumn("drifted", col("tvd") > threshold)
  }

  /** S-STRM5: stateful stream dedup on event_id, state bounded by the
    * watermark (streaming-only; MemoryStream test). */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: for each left event, right events of the
    * same user within [left.ts, left.ts + 30 min]. Watermarks on BOTH
    * sides bound the join state (without them state grows forever — the
    * classic stream-join scale failure). Works on batch frames too. */
  def streamStreamJoin(left: DataFrame, right: DataFrame): DataFrame =
    left.withWatermark("ts", "10 minutes").alias("l")
      .join(right.withWatermark("ts", "10 minutes").alias("r"),
        expr("""l.user_id = r.user_id AND
                r.ts BETWEEN l.ts AND l.ts + INTERVAL 30 MINUTES"""))
      .select(col("l.event_id").as("left_id"), col("r.event_id").as("right_id"),
        col("l.user_id").as("user_id"), col("l.ts").as("left_ts"), col("r.ts").as("right_ts"))

  /** One schema change point surfaced by [[schemaDriftOnArrival]]. */
  case class SchemaDriftChange(col_name: String, gen: Long, prev_type: String,
                               data_type: String, change: String)

  /** S-DRIFT (round 12): streaming twin of the q_dq8 schema-drift audit —
    * generations ARRIVE in a real lake, so the (gen, col_name, data_type)
    * inventory is maintained incrementally and every NEW change point is
    * flagged in the micro-batch where it lands, instead of re-auditing
    * the whole lake per run. Input rows are the same footers-only
    * inventory `SchemaEvolution.generationSchemas` reads (at arrival time
    * the ingest trigger reads ONE new generation's footer — kilobytes);
    * classification uses the same int<bigint<double lattice as
    * `driftReport`, so a change is `widened`/`narrowed` on the chain,
    * `conflict` across kinds, `appeared` on first sight. State per column
    * is one (gen, type) pair — bounded by schema WIDTH, never by history.
    * Generations must arrive in order (the file-source mtime discipline);
    * within a batch rows are sorted by gen. Works identically on batch
    * Datasets (state sees one group) — the parity StreamingCheck proves. */
  def schemaDriftOnArrival(inventory: Dataset[(Long, String, String)]):
      Dataset[SchemaDriftChange] = {
    val spark = inventory.sparkSession
    import spark.implicits._
    inventory.groupByKey(_._2)
      .flatMapGroupsWithState[(Long, String), SchemaDriftChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (colName, rows, state: GroupState[(Long, String)]) =>
          val sorted = rows.toSeq.sortBy(_._1)
          var cur = state.getOption
          val out = Seq.newBuilder[SchemaDriftChange]
          sorted.foreach { case (gen, _, t) =>
            cur match {
              case None =>
                out += SchemaDriftChange(colName, gen, null, t, "appeared")
              case Some((_, p)) if p == t => ()
              case Some((_, p)) =>
                val kind =
                  (graft.operators.SchemaEvolution.typeRank(p),
                    graft.operators.SchemaEvolution.typeRank(t)) match {
                    case (Some(a), Some(b)) if b > a => "widened"
                    case (Some(a), Some(b)) if b < a => "narrowed"
                    case _ => "conflict"
                  }
                out += SchemaDriftChange(colName, gen, p, t, kind)
            }
            cur = Some((gen, t))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Running per-user position after each micro-batch. */
  case class UserRunningTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState (SURVEY.md §2.B streaming
    * surface): a per-user running (count, sum) that survives across
    * micro-batches — the shape session-state/position tracking takes when
    * the built-in windows can't express it. State is one small case class
    * per key; works identically on batch Datasets (state sees one group). */
  def runningTotals(events: Dataset[(Long, Double)]): Dataset[UserRunningTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserRunningTotal, UserRunningTotal](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[UserRunningTotal]) =>
          val prev = state.getOption.getOrElse(UserRunningTotal(user, 0L, 0.0))
          val (n, v) = rows.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), (_, value)) => (cn + 1, cv + value)
          }
          val next = UserRunningTotal(user, n, v)
          state.update(next)
          next
      }
  }

  /** S-STRM7: the same running totals on Spark 4's `transformWithState`
    * (the arbitrary-state API that supersedes mapGroupsWithState):
    * typed `ValueState` from the processor handle, explicit `TimeMode` /
    * `TTLConfig`, RocksDB-backed state store. Must agree exactly with
    * [[runningTotals]] — asserted by the MemoryStream parity spec. */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), UserRunningTotal] {
    @transient private var agg: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
                                 timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserRunningTotal] = {
      val (n0, v0) = Option(agg.get()).getOrElse((0L, 0.0))
      val (n, v) = rows.foldLeft((n0, v0)) {
        case ((cn, cv), (_, value)) => (cn + 1, cv + value)
      }
      agg.update((n, v))
      Iterator.single(UserRunningTotal(user, n, v))
    }
  }

  /** [[runningTotals]] via [[RunningTotalProcessor]]. Requires the RocksDB
    * state-store provider (transformWithState's backing store). */
  def runningTotalsTws(events: Dataset[(Long, Double)]): Dataset[UserRunningTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A closed (or in-flight) user session materialized by
    * [[sessionsWithTimeout]]. */
  case class SessionClosed(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_ev: Long)

  /** S-STRM6: explicit session materialization with EVENT-TIME TIMEOUT —
    * the session shape `session_window` can't express: a session row is
    * emitted exactly once, when it CLOSES (either a later event opens the
    * next session, or the watermark passes the gap with no successor).
    * State per user is one small (start, end, count) triple; the timeout
    * releases it, so state size tracks ACTIVE users, not history — the
    * property that keeps this bounded on an unbounded stream. Gap
    * boundary is inclusive (<= gap merges), matching `session_window` /
    * the q_strm3 oracle. Requires `withWatermark("ts", ...)` upstream;
    * emits in Append mode. */
  def sessionsWithTimeout(events: Dataset[(Long, java.sql.Timestamp)],
                          gapMinutes: Int): Dataset[SessionClosed] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionClosed, SessionClosed](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionClosed]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator(closed)
          } else {
            val closed = Seq.newBuilder[SessionClosed]
            var cur = state.getOption
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts) =>
              cur match {
                case Some(s) if ts.getTime <= s.session_end.getTime + gapMs =>
                  cur = Some(s.copy(session_end = ts, n_ev = s.n_ev + 1))
                case Some(s) =>
                  closed += s
                  cur = Some(SessionClosed(user, ts, ts, 1L))
                case None =>
                  cur = Some(SessionClosed(user, ts, ts, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.session_end.getTime + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming sink twin of the reference's partitioned landing (R10/R11):
    * drain a stream into date-partitioned Snappy Parquet via the NATIVE
    * parquet file sink + AvailableNow — no manual temp-dir/cleanup dance
    * (R12). The native sink keeps a `_spark_metadata` commit log that
    * records exactly the files each committed batch produced, so a replayed
    * batch's rewritten files supersede the orphans and readers of the
    * metadata log see each row exactly once. (A foreachBatch +
    * `write.mode("append")` body here would be only at-least-once: a batch
    * replay after a partial write appends its rows twice — for foreachBatch
    * merges use [[IncrementalUpdate]], whose idempotent dynamic-partition
    * overwrite restores exactly-once state.) Returns after the backlog is
    * drained. */
  def sinkPartitioned(events: DataFrame, path: String, checkpoint: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = events
      .withColumn("event_date", col("ts").cast("date"))
      .writeStream
      .format("parquet")
      .partitionBy("event_date")
      .option("path", path)
      .option("compression", "snappy")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
