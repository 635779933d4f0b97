package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** An op's id and its value, or None if the call threw. */
final case class Done[T](id: Int, value: Option[T])

/** Times calls into the engine from outside and, for traced calls,
  * counts what Spark did during them. Each call becomes one `op` event;
  * a call that throws is recorded as failed and never as a time. */
final class Recorder(spark: SparkSession, ev: Events) {
  private val sc = spark.sparkContext
  private val probe = new Probe
  private var next = 0

  /** Elapsed seconds since the op started, recorded under a name. */
  final class Marks(t0: Long) {
    private[Recorder] var marks = Vector.empty[(String, Double)]
    def apply(name: String): Unit = marks :+= name -> (System.nanoTime() - t0) / 1e9
  }

  def op[T](kind: String, name: String, traced: Boolean)(body: Marks => T): Done[T] = {
    val id = next
    next += 1
    val group = s"perfbench-$id"
    if (traced) sc.addSparkListener(probe)
    sc.setJobGroup(group, s"$kind $name", interruptOnCancel = false)
    val gc0 = Probe.gcMs()
    val cpu0 = Recorder.cpuTicks()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val marks = new Marks(t0)
    val result = try Right(body(marks)) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    val cpu1 = Recorder.cpuTicks()
    val gcS = (Probe.gcMs() - gc0) / 1e3
    sc.clearJobGroup()
    val layer: Seq[(String, Any)] = if (!traced) Nil else {
      Probe.drain(sc)
      sc.removeSparkListener(probe)
      val c = probe.take(group)
      Seq("jobs" -> c.spans.toSeq, "open_jobs" -> c.open.size, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuNs / 1e9, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "bytes_read" -> c.bytesRead,
        "bytes_written" -> c.bytesWritten, "write_task_s" -> c.writeTaskMs / 1e3,
        "last_write_end_ms" -> c.lastWriteEndMs, "gc_s" -> gcS)
    }
    ev.emit(Seq[(String, Any)]("ev" -> "op", "id" -> id, "kind" -> kind, "name" -> name,
      "traced" -> traced, "ok" -> result.isRight,
      "err" -> result.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)),
      "wall_s" -> wall, "t0_ms" -> t0Ms, "t1_ms" -> t1Ms,
      "cpu_ticks" -> cpu1.zip(cpu0).map { case (a, b) => a - b }) ++ marks.marks ++ layer: _*)
    result.left.foreach(e => System.err.println(s"[perfbench] $kind $name failed: $e"))
    Done(id, result.toOption)
  }

  /** Extra per-op facts measured after the call returned (untimed). */
  def note(id: Int, fields: (String, Any)*): Unit =
    ev.emit(Seq[(String, Any)]("ev" -> "note", "id" -> id) ++ fields: _*)

  /** A correctness check; `op` ties a failed check to the op it judges. */
  def check(name: String, ok: Boolean, detail: => String, op: Option[Int] = None): Boolean = {
    ev.emit("ev" -> "check", "name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail), "op" -> op)
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    ok
  }
}

object Recorder {
  /** The machine-wide `cpu` line of /proc/stat: user, nice, system, idle,
    * iowait, irq, softirq, steal, in clock ticks. */
  def cpuTicks(): Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").slice(1, 9).map(_.toLong).toSeq
    finally src.close()
  }
}
