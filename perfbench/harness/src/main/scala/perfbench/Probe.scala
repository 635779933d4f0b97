package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** What Spark did inside one job group: job spans plus summed task
  * metrics. Every field is a count taken from listener events, so it
  * repeats exactly when the program does the same work. */
final class Counts {
  val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  val open = mutable.Map.empty[Int, Long]
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var writeTaskMs = 0L
  var lastWriteEndMs = 0L
}

/** SparkListener keyed by the job group the harness sets around a call.
  * Listener callbacks arrive on the bus thread; readers go through
  * [[Probe.take]] after [[Probe.drain]]. */
final class Probe extends SparkListener {
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counts]

  private def counts(g: String): Counts = groups.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      groupOfJob(e.jobId) = g
      e.stageIds.foreach(groupOfStage(_) = g)
      counts(g).open(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groupOfJob.remove(e.jobId).foreach { g =>
      val c = counts(g)
      c.open.remove(e.jobId).foreach(start => c.spans += ((start, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counts(g)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
      if (m.outputMetrics.recordsWritten > 0 || m.outputMetrics.bytesWritten > 0) {
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.writeTaskMs += m.executorRunTime
        c.lastWriteEndMs = math.max(c.lastWriteEndMs, e.taskInfo.finishTime)
      }
    }
  }

  /** Removes and returns the counts of group `g`. Call after [[drain]]. */
  def take(g: String): Counts = synchronized {
    groupOfStage.filterInPlace((_, v) => v != g)
    groups.remove(g).getOrElse(new Counts)
  }
}

object Probe {
  def drain(sc: SparkContext): Unit = PerfbenchBus.drain(sc)

  /** Collection time of every JVM collector, in ms. In local mode the
    * driver JVM runs the executors too, so this is all of the GC. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
