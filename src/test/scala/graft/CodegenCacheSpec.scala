package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Cost witness for the generated-class cache that
  * [[graft.core.GraftSession]] sizes. Spark's cache is JVM-wide; at its
  * default of 100 entries the analyst queries below (the registered
  * queries of perfbench's analyst_queries list) evict classes they need
  * again, so every pass recompiles ~220 classes with Janino. Compile
  * counts, unlike wall time, do not move with host load: the spec needs no
  * timing. */
class CodegenCacheSpec extends SparkSpec {

  private val analyst = Seq(
    "q1_pricing_summary", "q5_region_revenue", "window_range_frame",
    "gold_asof_align", "gold_rolling_zscore", "events_session_windows",
    "stats_correlation", "text_gopher_rules", "text_decontaminate",
    "dedup_minhash_lsh", "sim_semdedup_pairs")

  /** Classes Janino compiled (generated-class cache misses) during one
    * pass of the list into `noop`, dropping pinned blocks after each
    * query as Bench and perfbench do. */
  private def compiledByOnePass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    analyst.foreach { n =>
      SparkEntry.queries(n)(spark, TestSpark.sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over the analyst queries recompiles no class") {
    val warm = compiledByOnePass()
    assert(warm > 100, s"the warm pass compiled only $warm classes, within " +
      "Spark's default cache of 100: the second pass would witness nothing")
    // Every plan of the list is the same on each run (sim_semdedup_pairs
    // pins its pair join to sort-merge; PlanQualitySpec checks its final
    // plan over 10 runs), so a second pass meets only
    // classes the warm pass compiled. A cache that thrashes recompiles
    // ~98% of them.
    val again = compiledByOnePass()
    info(s"compiled: warm pass $warm, second pass $again")
    assert(again == 0, s"the second pass compiled $again classes " +
      s"after a warm pass of $warm: a plan changed between runs, or the " +
      "generated-class cache thrashes")
  }
}
