package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[2] session fixture (SURVEY.md §5.2.2). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, with its result (the
    * listener bus is async: wait for the count to settle on both ends). */
  protected def countingJobs[T](body: => T): (Int, T) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def settledJobs(): Int = {
      var last = -1
      var stable = 0
      while (stable < 5) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      last
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      settledJobs(); jobs.set(0)
      val r = body
      (settledJobs(), r)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
