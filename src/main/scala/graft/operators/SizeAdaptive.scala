package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** The size-adaptive decision shared by the iterative operators
  * (connected components, PageRank, personalized PageRank, label
  * propagation, k-core) and SemDedup's tile kernel: one cap, one
  * integral-id predicate, one gate-and-collect step.
  *
  * The iterative loops run over localCheckpointed frames that report NO
  * size statistics, so the planner's own broadcast decision can never
  * fire on them. These helpers re-derive the planner's decision from a
  * row count (or proven row-count bound) the caller already tracks, and
  * scale the same way the planner does: a billion-row side falls back to
  * the shuffle path exactly as `autoBroadcastJoinThreshold` would make it,
  * and -1 disables both the broadcasts and the local evaluation.
  */
private[operators] object SizeAdaptive {

  /** Max row count [[maybeBroadcast]] will broadcast for this session:
    * autoBroadcastJoinThreshold over the ~100 B/row a built hash relation
    * costs; 0 when broadcasting is disabled. */
  def broadcastRowCap(df: DataFrame): Long = {
    val conf = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val thr =
      if (conf.trim.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    if (thr > 0) thr / 100L else 0L
  }

  /** Broadcast `df` when a conservative estimate of its built hash
    * relation (~100 B/row) fits under the session's
    * autoBroadcastJoinThreshold; otherwise return it unchanged (the
    * shuffle path). `rows` must be a proven upper bound on `df`'s row
    * count. */
  def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastRowCap(df)) broadcast(df) else df

  /** Ids of this type survive a round-trip through Long unchanged. Any
    * other type (strings, decimals, doubles) would be lossy or null. */
  def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Gate and collect for the driver-local twins of the iterative loops.
    * `df` is a two-column id-pair frame (edges or adjacency rows). It is
    * collected as Long pairs only when both columns are [[integral]] and
    * its row count fits [[broadcastRowCap]]: such a frame is smaller than
    * what one distributed round already pulls to the driver to broadcast.
    * Otherwise None, and the caller runs its distributed loop. `rows` is
    * `df`'s exact row count when the caller already holds it; otherwise
    * the frame is counted (only when the other checks pass). */
  def localLongPairs(df: DataFrame,
                     rows: Option[Long] = None): Option[Array[(Long, Long)]] = {
    val Array(a, b) = df.schema.fields
    val cap = broadcastRowCap(df)
    if (cap == 0L || !integral(a.dataType) || !integral(b.dataType) ||
        rows.getOrElse(df.count()) > cap) None
    else {
      val spark = df.sparkSession
      import spark.implicits._
      Some(df.select(col(a.name).cast("long"), col(b.name).cast("long"))
        .as[(Long, Long)].collect())
    }
  }
}
