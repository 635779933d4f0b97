package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session config. Every main and the test fixture
  * build their session here, so the planner rules and extensions that
  * Bench times are the ones Verify, the plan dumps and the specs run. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // InferFiltersFromGenerate turns explode-over-derived-arrays into a
      // scan-level filter that re-evaluates the whole array expression
      // (tokenize+shingle) several times per row — a ~5x slowdown on the
      // text pipeline with zero benefit on non-null, usually-non-empty
      // arrays. Well-known trap; excluded engine-wide.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // NOT set (measured): spark.sql.join.preferSortMergeJoin=false
      // + adaptive.maxShuffledHashJoinLocalMapThreshold — the blanket SHJ
      // experiment regressed the simhash/minhash band self-joins 2-9x
      // (duplicate-heavy build keys blow up the per-partition hash maps:
      // q_dedup15 1.3 s -> 11.3 s) while the scattered wins elsewhere
      // were within run noise. Join strategy stays a per-site decision
      // (explicit broadcast/size-adaptive picks in the operators).
      .config("spark.sql.extensions", "graft.GraftExtensions")
}
