package graft

import graft.core.Tables

/** Job and stage budgets for the registered queries of perfbench's
  * analyst_queries list, read from `job_budget.tsv` (query, jobs, stages;
  * taken from [[Bench.run]] at sf0.001 under [[TestSpark]]). Counts, unlike
  * wall time, repeat from run to run, so a query that starts one more
  * Spark job or stage than its budget fails here without any timing. A
  * change that lowers a count lowers its budget; a raise needs a reason.
  * Tasks are not budgeted: some queries' task counts vary between runs. */
class JobBudgetSpec extends SparkSpec {

  private val budget: Seq[(String, Long, Long)] = {
    val src = scala.io.Source.fromResource("job_budget.tsv")
    try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t") match {
        case Array(q, jobs, stages) => (q, jobs.toLong, stages.toLong)
        case bad => fail(s"malformed budget line: ${bad.mkString("|")}")
      }).toSeq
    finally src.close()
  }

  test("the budget covers perfbench's analyst list, each query once") {
    assert(budget.map(_._1) === Seq(
      "q1_pricing_summary", "q5_region_revenue", "window_range_frame",
      "gold_asof_align", "gold_rolling_zscore", "events_session_windows",
      "stats_correlation", "text_gopher_rules", "text_decontaminate",
      "dedup_minhash_lsh", "sim_semdedup_pairs"))
  }

  test("no analyst query starts more Spark jobs or stages than its budget") {
    // open every table once first: a session's first open of a table
    // infers its schema with one job, which belongs to no query
    Tables(spark, TestSpark.sfDir).registerAll()
    val r = Bench.run(spark, TestSpark.sfDir, budget.map(_._1))
    assert(r.errors.isEmpty, s"errors: ${r.errors}")
    val rows = budget.map { case (q, jobs, stages) =>
      val p = r.profiles(q)
      info(f"$q%-24s jobs ${p.jobs}%3d / $jobs%3d   stages ${p.stages}%3d / $stages%3d")
      (q, p.jobs, jobs, p.stages, stages)
    }
    val over = rows.filter { case (_, j, jb, s, sb) => j > jb || s > sb }
    assert(over.isEmpty, "over budget (query, jobs, budget, stages, budget): " +
      over.mkString(", "))
  }
}
