package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for the registered queries to a markdown
  * file — the per-round plan-review artifact (the prompt's "iterate until
  * it's the plan you'd want"). Usage:
  * `sbt "runMain graft.ExplainAll [sfDir] [outFile] [query...]"`.
  * Trailing query names restrict the sweep to those queries (the focused
  * A/B plan probe); with none, every query is planned.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val only = args.drop(2).toSet
    only.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.ExplainAll — do not edit)\n\n")
    sb.append(s"Input: `$sfDir`. Regenerate: `sbt \"runMain graft.ExplainAll\"`.\n")
    todo.foreach { case (name, fn) =>
      val plan = try {
        val df = fn(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"FAILED TO PLAN: ${e.getMessage}" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${todo.size} plans)")
    spark.stop()
  }
}
