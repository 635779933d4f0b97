package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends SparkSpec {

  test("a query that throws in the timed pass is named in failed") {
    val registry: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s: SparkSession, _: String) => s.range(3).toDF()),
      "q_boom" -> ((_: SparkSession, _: String) => sys.error("boom")),
      "q_lazy_boom" -> ((s: SparkSession, _: String) =>
        s.range(3).where("assert_true(id < 0) IS NULL").toDF()))
    val (results, failed) = Bench.timedPass(spark, sf, registry)
    assert(results.map(_._1) === registry.map(_._1), "every query keeps its time")
    assert(failed === Seq("q_boom", "q_lazy_boom"))
  }
}
