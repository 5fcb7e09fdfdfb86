package graft

import java.nio.file.Files

/** [[Bench.run]]: the registry bench's timed loop and its per-query
  * profile. Job, stage and task counts, unlike wall time, repeat exactly
  * from run to run, so they can be asserted. */
class BenchSpec extends SparkSpec {
  private val names = Seq("q1_pricing_summary", "dedup_ngram_jaccard", "sim_cosine_pairs")

  private def finite(x: Double) = !x.isNaN && !x.isInfinite

  test("every timed query gets a profile, and its job, stage and task counts repeat") {
    val runs = Seq.fill(2)(Bench.run(spark, TestSpark.sfDir, names))
    runs.foreach { r =>
      assert(r.errors.isEmpty, s"errors: ${r.errors}")
      assert(r.seconds.map(_._1) === names)
      assert(r.seconds.forall { case (_, s) => finite(s) && s > 0 }, r.seconds)
      assert(r.profiles.keySet === names.toSet)
      r.profiles.foreach { case (n, p) =>
        assert(p.jobs > 0 && p.stages > 0 && p.tasks > 0, s"$n: $p")
        assert(Seq(p.taskRunS, p.taskCpuS, p.gcS).forall(x => finite(x) && x >= 0), s"$n: $p")
        assert(p.driverShare >= 0 && p.driverShare <= 1, s"$n: $p")
      }
    }
    def counts(r: Bench.Result) =
      names.map { n => val p = r.profiles(n); (n, p.jobs, p.stages, p.tasks) }
    assert(counts(runs(0)) === counts(runs(1)))
  }

  test("a query over a missing data dir lands in errors with its message, " +
       "with a finite time and no profile") {
    val missing = Files.createTempDirectory("graft-bench").resolve("absent").toString
    val r = Bench.run(spark, missing, Seq("q1_pricing_summary"))
    assert(r.errors.get("q1_pricing_summary").exists(_.trim.nonEmpty), r.errors)
    assert(r.seconds.map(_._1) === Seq("q1_pricing_summary"))
    assert(r.seconds.forall { case (_, s) => finite(s) && s >= 0 }, r.seconds)
    assert(r.profiles.isEmpty, r.profiles)
  }
}
