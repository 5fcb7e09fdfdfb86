package graft
import graft.core.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
import scala.util.control.NonFatal

/** Bench main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Results go to the `noop` sink — unlike
  * `.count()`, noop materializes every output column, so projection-heavy
  * queries can't be silently pruned to a row count. A warmup query runs
  * first so JVM/codegen startup doesn't land on the first timed query.
  *
  * Each query is timed over TWO passes and the MIN is reported
  * (`"passes":2` in the JSON makes the protocol self-describing). Min-of-N
  * is the standard way to measure the engine's compute cost rather than
  * transient host noise: same-code full-suite totals observed on this box
  * ranged 66→83 s across one hour purely from co-tenant interference, a
  * ±12% band that would drown real per-query regressions. The min of two
  * warm passes is a stable, reproducible statistic of the plan itself.
  *
  * A listener records the Spark work of every pass; the artifact's
  * `profile` map carries, per query, the [[Bench.Profile]] of the pass
  * whose time is reported. Memory-pressure runs are the same main under a
  * smaller heap: `SPARK_DRIVER_MEM=4g SPARK_GRAFT_SF_DIR=<sf dir> sbt
  * "runMain graft.Bench <names>"` reports each query's `spill_bytes` and
  * `peak_exec_bytes` (a failure lands in `errors`). */
object Bench {

  /** The Spark work of one query pass, named as perfbench's `core.*`
    * metrics. `peak_exec_bytes` is the largest single task's peak
    * execution memory; `driver_share` is 1 − Σ(per-stage max task
    * time) / wall, the part of the wall no task's critical path covers. */
  final case class Profile(jobs: Long, stages: Long, tasks: Long,
      taskRunS: Double, taskCpuS: Double, gcS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      peakExecBytes: Long, driverShare: Double) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_run_s":$taskRunS,"task_cpu_s":$taskCpuS,"gc_s":$gcS,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""peak_exec_bytes":$peakExecBytes,"driver_share":$driverShare}"""
  }

  /** Timings (min of two passes, registry order of `names`), the profile
    * of each successful query's reported pass, and each failure's message. */
  final case class Result(seconds: Seq[(String, Double)],
      profiles: Map[String, Profile], errors: Map[String, String])

  /** Accumulates Spark work between [[reset]]s. Events arrive on the
    * listener bus thread; read it only after draining the bus. */
  private final class Profiler extends SparkListener {
    private var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
    private var shuffleRead, shuffleWrite, spill, peakExec = 0L
    private val stageMaxMs = scala.collection.mutable.Map.empty[(Int, Int), Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peakExec = math.max(peakExec, m.peakExecutionMemory)
      }
      val key = (e.stageId, e.stageAttemptId)
      stageMaxMs(key) = math.max(stageMaxMs.getOrElse(key, 0L), e.taskInfo.duration)
    }

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
      shuffleRead = 0; shuffleWrite = 0; spill = 0; peakExec = 0
      stageMaxMs.clear()
    }

    def profile(wallS: Double): Profile = synchronized {
      Profile(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        shuffleRead, shuffleWrite, spill, peakExec,
        math.max(0.0, 1 - stageMaxMs.values.sum / 1e3 / wallS))
    }
  }

  /** Warm up, then time each of `names` over two passes with the
    * profiling listener attached. A query that throws lands in `errors`
    * and gets no profile. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Result = {
    val sc = spark.sparkContext
    val profiler = new Profiler
    // A query that throws must surface in the artifact, not just stderr: a
    // fast failure is indistinguishable from a fast plan in the timings map
    // (an sf1 run once reported 0.06 s "wins" that were schema errors).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def exec(name: String): (Double, Option[Profile]) = {
      profiler.reset()
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.next().take(200)
          false }
      val dt = (System.nanoTime() - t0) / 1e9
      // every event of this pass reaches the profiler before the next reset
      bridge.drainListenerBus(sc)
      // drop blocks pinned by lineage cuts (localCheckpoint) so storage
      // pressure from one query can't bleed into the next — without this,
      // 100+ queries in one JVM accumulate pinned RDDs until eviction/GC
      // inflates late-suite timings ~2× (measured on this box)
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      (dt, if (ok) Some(profiler.profile(dt)) else None)
    }

    sc.addSparkListener(profiler)
    try {
      // warmup: JVM + codegen + parquet footer reads, untimed — one query
      // per hot code-path family (relational, shingle/kernel, vector,
      // window) so JIT compilation doesn't land on the first timed query
      // of each family
      Seq("q1_pricing_summary", "dedup_ngram_jaccard", "sim_cosine_pairs",
        "events_asof_enrich").foreach(exec)
      val timed = names.map(n => n -> Seq(exec(n), exec(n)).minBy(_._1))
      Result(timed.map { case (n, (s, _)) => n -> s },
        timed.collect { case (n, (_, Some(p))) if !errors.contains(n) => n -> p }.toMap,
        errors.toMap)
    } finally sc.removeSparkListener(profiler)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // dev affordance: `runMain graft.Bench q1 q2` times only those queries;
    // the driver passes no args and gets the full registry
    val names = if (args.nonEmpty) args.toSeq.sorted
                else SparkEntry.queries.keys.toSeq.sorted
    val result = run(spark, sfDir, names)

    // Default artifact name is SF-DERIVED: the reference artifact is
    // bench_full.json (the sf0.1 regression baseline); any other SF dir
    // writes bench_full_<dirname>.json, so a smoke run at another SF cannot
    // clobber it. Core counts other than 32 get their own suffix
    // (bench_full_c8.json): timings compare only at the same cpus.
    val cpuSuffix = if (cpus == 32) "" else s"_c$cpus"
    val defaultOut =
      if (new java.io.File(sfDir).getName == "sf0.1") s"bench_full$cpuSuffix.json"
      else s"bench_full_${new java.io.File(sfDir).getName}$cpuSuffix.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)

    val qs = result.seconds.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = result.seconds.map(_._2).sum
    // deployed-vs-gate split: the invariant-gate queries' cost is the
    // deliberate in-plan brute-force identity check, not a path a user
    // runs — subtotal them separately so the total reflects deployment
    val gates = SparkEntry.gateNames
    val gateSec = result.seconds.collect { case (n, v) if gates(n) => v }.sum
    val deployedSec = total - gateSec
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // "errors" is ALWAYS present: a reader must be able to distinguish
    // "zero errors" from "artifact predates error capture"
    val errJson = ",\"errors\":" + result.errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val profileJson = ",\"profile\":" + result.seconds.flatMap { case (n, _) =>
      result.profiles.get(n).map(p => jstr(n) + ":" + p.json) }.mkString("{", ",", "}")
    // the artifact names the commit it measured; git runs in the repo
    // that contains this code (the nearest .git above user.dir), not in
    // whatever directory the JVM happened to start in
    val repoRoot: java.io.File = {
      var d = new java.io.File(sys.props("user.dir")).getCanonicalFile
      var found: Option[java.io.File] = None
      while (d != null && found.isEmpty) {
        if (new java.io.File(d, ".git").exists()) found = Some(d)
        d = d.getParentFile
      }
      found.getOrElse(new java.io.File(sys.props("user.dir")))
    }
    def gitLine(args: String*): Option[String] =
      try {
        val p = new ProcessBuilder(("git" +: args): _*)
          .directory(repoRoot).start()
        val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case NonFatal(_) => None }
    val gitJson = gitLine("rev-parse", "HEAD").map { h =>
      val dirty = gitLine("status", "--porcelain").exists(_.nonEmpty)
      s""","git_head":${jstr(h)},"git_dirty":$dirty"""
    }.getOrElse {
      System.err.println(s"[bench] WARNING: git rev-parse failed under " +
        s"$repoRoot — artifact will carry no git_head")
      ""
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","passes":2,"deployed_sec":$deployedSec,"gate_sec":$gateSec,"queries":$qs$errJson$profileJson$gitJson,"sf":"$sfDir"}"""
    println(line)
    // Compact summary twin, printed LAST: the full line runs to tens of
    // KB at 207 queries, and a reader that keeps only a short stdout tail
    // must still parse one whole JSON line. This one carries the scalar
    // fields — total, deployed/gate split, passes, error count, git head
    // — and NO per-query map; in a bounded tail it is the only line
    // containing "metric". Per-query ground truth is the full line above
    // plus the artifact it names in "full_artifact".
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","passes":2,"cpus":$cpus,"deployed_sec":$deployedSec,"gate_sec":$gateSec,"queries_n":${result.seconds.size},"errors_n":${result.errors.size},"compact":true,"full_artifact":${jstr(outPath)}$gitJson,"sf":"$sfDir"}"""
    println(compact)
    // the full line is also persisted, so per-query timings and profiles
    // are auditable from the repo alone. Subset (dev) runs must not
    // clobber the full-registry artifact; SPARK_GRAFT_BENCH_OUT redirects
    // it (e.g. an sf1 run → bench_full_sf1.json).
    if (args.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
