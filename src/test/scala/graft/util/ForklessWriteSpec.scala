package graft.util

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import graft.SparkSpec
import graft.operators.{AcidTable, IngestEgress}

/** The local writers that promise not to fork: a JFR recording of
  * `jdk.ProcessStart`, taken in-process around each write, holds no
  * `chmod` of a path the writer made (every path is under the spec's own
  * temp directory, so suites running in parallel cannot interfere). */
class ForklessWriteSpec extends SparkSpec {
  import spark.implicits._

  private val base = Files.createTempDirectory("graft_forkless_jfr").toString

  /** The `chmod` commands started while `body` runs that touch `dir`. */
  private def chmods(dir: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
        .filter(c => c.startsWith("chmod") && c.contains(dir))
    } finally { rec.close(); Files.delete(out) }
  }

  private def prices = Seq(("AAPL", 2023, 1.0), ("AAPL", 2024, 2.0),
    ("MSFT", 2024, 3.0)).toDF("company", "year", "Close")

  test("IngestEgress.writePartitioned starts no chmod process") {
    val dir = s"$base/store"
    val got = chmods(dir)(IngestEgress.writePartitioned(prices, dir,
      Seq("company", "year")))
    assert(got.isEmpty, got.mkString("\n"))
  }

  test("BatchStore.write starts no chmod process") {
    val dir = s"$base/batches"
    val got = chmods(dir)(graft.streaming.BatchStore.write(prices, dir, 7L))
    assert(got.isEmpty, got.mkString("\n"))
  }

  // the driver's manifest publish is AcidTable's sealed-file write, not
  // the connector's task writer: only the task files' directory is checked
  test("an 8-task DSv2 append starts no chmod process for its task files") {
    val root = s"$base/acid"
    AcidTable.commitAppend(Seq((0L, 0L)).toDF("k", "v").coalesce(1), root)
    val got = chmods(s"$root/data/dsv2-")(spark.range(0, 80, 1, 8)
      .select($"id".as("k"), ($"id" * 10).as("v"))
      .write.format("graft-acid").option("root", root).mode("append").save())
    assert(got.isEmpty, got.mkString("\n"))
    assert(AcidTable.entriesOf(spark, root, 2L)
      .count(_.path.startsWith("data/dsv2-")) === 8)
  }
}
