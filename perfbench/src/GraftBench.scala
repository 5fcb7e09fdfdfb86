package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{GraftSession, Tables}
import graft.gold.GoldOps
import graft.io.{Layout, PartitionLedger, SchemaRegistry, Writers}
import graft.operators.{CalendarOps, DedupOps, TextOps, VectorOps}
import graft.pipeline._
import graft.queries.Q
import graft.sources._

/** The measuring process of the benchmark: one JVM, one closed-loop
  * client, one workload. It drives graft only through module public
  * functions and the shipping session factory, and writes everything it
  * measured as one JSON document (`--out`); `run.py` turns that into
  * metrics and runs the DuckDB output checks.
  *
  * Phases: one cold set-up (session build, input registration, an
  * untimed warm pass over every operation), the timed region (a fixed
  * amount of work issued in sequence, sized from `--seconds`), and the
  * untimed output checks. With `--trace 1` every other operation is
  * traced: spans around each call into a graft module plus listener
  * counters, so traced and untraced wall of the same operations give
  * the tracing overhead. */
object GraftBench {

  final case class Op(name: String, phase: String, wallS: Double, ok: Boolean,
                      error: String, traced: Boolean, units: Double)

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val a = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    val workload = a("workload")
    val cpus = a("cpus").toInt
    require(cpus >= 1 && cpus <= Runtime.getRuntime.availableProcessors,
      s"--cpus $cpus outside 1..${Runtime.getRuntime.availableProcessors}")
    val bench = new GraftBench(workload, a("data"), a("work"), a("seconds").toDouble,
      a("trace") == "1", cpus, (mainEpochMs - a("t0").toLong) / 1e3)
    val doc = bench.run()
    Files.writeString(Paths.get(a("out")), Json.render(doc))
  }

  /** A fixed single-thread integer loop: host-speed context only. */
  @volatile private var calibSink = 0L
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    calibSink = x
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  val WarmThreads = 4
}

final class GraftBench(workload: String, data: String, work: String,
                       seconds: Double, trace: Boolean, cpus: Int,
                       jvmBootS: Double) {
  import GraftBench._

  private val tracer = new Tracer
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var spark: SparkSession = _
  private val listeners: Option[Listeners] = if (trace) Some(new Listeners) else None

  private val ops = ArrayBuffer.empty[Op]
  private var timedWallNs = 0L
  private var timedCpuNs = 0L
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val extra = mutable.LinkedHashMap.empty[String, Any]

  private val w: Workload = workload match {
    case "platform_backfill" => new Platform
    case "analyst_queries"   => new Analyst
    case other => sys.error(s"unknown workload $other")
  }

  // ------------------------------------------------------------ plumbing

  private def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.checkpoint.dir", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def setTraced(on: Boolean): Unit = {
    tracer.recording = trace && on
    spark.sparkContext.setLocalProperty(Listeners.TracedKey, if (tracer.recording) "1" else "0")
  }

  private def timed[A](body: => A): A = {
    val w0 = System.nanoTime(); val c0 = cpuBean.getProcessCpuTime
    try body
    finally {
      timedWallNs += System.nanoTime() - w0
      timedCpuNs += cpuBean.getProcessCpuTime - c0
    }
  }

  private def timedS: Double = timedWallNs / 1e9

  /** One operation: `body` returns None on success or Some(reason) when
    * its own output check fails; a throw is a failure too. */
  private def op(name: String, phase: String, units: Double)
                (body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    val (ok, err) =
      try body match { case None => (true, ""); case Some(r) => (false, r) }
      catch { case NonFatal(e) => (false, Option(e.getMessage).getOrElse(e.toString)
        .linesIterator.nextOption().getOrElse("").take(300)) }
    val o = Op(name, phase, (System.nanoTime() - t0) / 1e9, ok, err, tracer.recording, units)
    ops.synchronized(ops += o)
    // blocks pinned by lineage cuts must not carry over into the next
    // operation (the registry's own Bench does the same between queries)
    if (!warming) spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    o
  }

  /** The warm pass only compiles and loads: its operations may run
    * concurrently, which shortens set-up on a few cores. */
  @volatile private var warming = false
  private def concurrently[A](xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  // --------------------------------------------------------------- run

  def run(): Map[String, Any] = {
    val calibBefore = calibrate()
    // one cold set-up, as a daily job pays it: session build, input
    // registration and an untimed warm pass over every operation
    val t0 = System.nanoTime()
    spark = session()
    listeners.foreach(_.attach(spark))
    val t1 = System.nanoTime()
    w.register()
    val t2 = System.nanoTime()
    warming = true
    w.warm()
    warming = false
    val t3 = System.nanoTime()
    val setup = Map("session_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9,
      "warm_s" -> (t3 - t2) / 1e9)
    w.timedLoop()
    val timedCpu = timedCpuNs / 1e9
    val timedWall = timedS
    setTraced(false)
    w.check()
    val calibAfter = calibrate()
    val traceDoc = listeners.map { l => l.drain(); l.toJson(tracer) }
    spark.stop()
    Map(
      "workload" -> workload, "cpus" -> cpus, "seconds" -> seconds,
      "jvm_boot_s" -> jvmBootS, "setup" -> setup,
      "timed_wall_s" -> timedWall, "timed_cpu_s" -> timedCpu,
      "unit" -> w.unit,
      "tail_target" -> w.tailTarget,
      "calib_s" -> Seq(calibBefore, calibAfter),
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops.map(o => Map("name" -> o.name, "phase" -> o.phase, "wall_s" -> o.wallS,
        "ok" -> o.ok, "error" -> o.error, "traced" -> o.traced, "units" -> o.units)),
      "checks" -> checks, "extra" -> extra,
      "trace" -> traceDoc.orNull)
  }

  // ----------------------------------------------------------- workloads

  private abstract class Workload {
    def unit: String
    /** The share of --seconds one pass takes on a 4-core host (analyst:
      * the list once; platform: one trading day with its share of the
      * opening, closing and rerun legs). A run does a fixed amount of
      * work, --seconds / secondsPerPass passes, so every run of a given
      * length measures the same operations, which keeps figures steady. */
    def secondsPerPass: Double
    lazy val passes: Int = math.max(1, math.round(seconds / secondsPerPass).toInt)
    /** Declared op_tail percentile: the operation pool of one run holds
      * >= 10 samples beyond it (run.py falls back lower, and says so,
      * when a pool is smaller). */
    def tailTarget: Double
    def register(): Unit
    def warm(): Unit
    def timedLoop(): Unit
    def check(): Unit
  }

  /** A closed-loop analyst session over the TESTDATA-shaped tables:
    * registered queries into `noop`, one operation per query. The list
    * is fixed: relational TPC-H-style queries, windows, gold backtesting
    * (as-of, rolling), events and stats, whose cost is planning and job
    * launch; the deployed corpus-curation stages over the session's
    * documents and embeddings; and kernel-only projections of the native
    * functions. The warm pass persists every registered result for the
    * DuckDB twin compare. */
  private final class Analyst extends Workload {
    val unit = "queries"
    val dir = s"$data/tables"
    private def registered(n: String): Q = SparkEntry.registry.find(_.name == n)
      .getOrElse(sys.error(s"query $n is not registered"))
    val list: Seq[(Q, String)] = Seq(
      "q1_pricing_summary", "q5_region_revenue", "window_range_frame",
      "gold_asof_align", "gold_rolling_zscore", "events_session_windows",
      "stats_correlation"
    ).map(n => registered(n) -> "queries") ++ Seq(
      "text_gopher_rules" -> "operators.gopher",
      "text_decontaminate" -> "operators.decontam",
      "dedup_minhash_lsh" -> "operators.pairs",
      "sim_semdedup_pairs" -> "operators.semdedup"
    ).map { case (n, l) => registered(n) -> l }

    private def shingled: DataFrame = Tables(spark, dir).documents
      .select(col("doc_id"), TextOps.shingles(col("text"), 2).as("shingles"))
    /** Kernel-only projections: the native functions alone over the
      * whole corpus, no operator around them. */
    val kernels: Seq[(String, String, () => DataFrame)] = Seq(
      ("kernel_shingles", "functions.shingles", () => shingled),
      ("kernel_minhash", "functions.minhash",
        () => DedupOps.minhashSignatures(shingled, "doc_id", "shingles", 16)),
      ("kernel_dot", "functions.dot", () => {
        val e = Tables(spark, dir).embeddings
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val probes = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("probe_id"), col("v").as("p"))
        e.crossJoin(broadcast(probes))
          .select(col("vec_id"), col("probe_id"), VectorOps.dot(col("v"), col("p")).as("dot"))
      }))
    val all: Seq[(String, String, () => DataFrame)] =
      list.map { case (q, layer) => (q.name, layer, () => q.run(spark, dir)) } ++ kernels
    val tailTarget = 75.0
    val secondsPerPass = 10.0
    private val warmHash = mutable.Map.empty[String, (Long, Long)]
    private val warmErrors = new ConcurrentHashMap[String, String]()

    /** Input registration: every table the session reads is present. */
    def register(): Unit = {
      val t = Tables(spark, dir)
      t.names.foreach(n => require(Files.exists(Paths.get(s"$dir/$n.parquet")), s"no $n table"))
    }

    def warm(): Unit = {
      // a query that fails under the shipping confs is reported as a
      // failed operation, never dropped
      concurrently(list) { case (q, _) =>
        try q.run(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/results/${q.name}")
        catch { case NonFatal(e) => warmErrors.put(q.name, String.valueOf(e.getMessage).take(300)) }
      }
      // each projection's content hash, which later passes must reproduce
      concurrently(kernels) { case (n, _, mk) =>
        try { val h = PlatformDay.contentHash(mk()); warmHash.synchronized(warmHash(n) = h) }
        catch { case NonFatal(e) => warmErrors.put(n, String.valueOf(e.getMessage).take(300)) }
      }
    }

    private def runOne(layer: String, mk: () => DataFrame): Unit =
      if (layer == "queries") {
        val df = tracer.span("queries.plan") { val d = mk(); d.queryExecution.executedPlan; d }
        tracer.span("queries.exec")(noop(df))
      } else tracer.span(layer)(noop(mk()))

    def timedLoop(): Unit =
      for (pass <- 0 until passes; ((name, layer, mk), i) <- all.zipWithIndex) {
        // traced runs trace every other operation, alternating by pass,
        // so each operation has traced and untraced samples
        setTraced((i + pass) % 2 == 0)
        timed(op(name, "timed", 1) { runOne(layer, mk); None })
        setTraced(false)
      }

    def check(): Unit = {
      checks("oracle_sql") = list.map { case (q, _) =>
        q.name -> q.oracle.getOrElse(q.oracleFor.get(spark, dir)) }.toMap
      checks("results_dir") = s"$work/results"
      checks("warm_errors") = warmErrors.asScala.toMap
      checks("kernel_agreement") = kernels.map { case (n, _, mk) =>
        val again = scala.util.Try(PlatformDay.contentHash(mk())).toOption
        n -> Map("agree" -> (again.isDefined && again == warmHash.get(n)),
          "rows" -> again.map(_._1).getOrElse(-1L))
      }.toMap
      if (trace) {
        // useful-work ratio of MinHash-LSH: verified pairs / LSH candidates
        val sets = shingled.select(col("doc_id"), array_distinct(col("shingles")).as("shingles"))
        val sig = DedupOps.minhashSignatures(sets, "doc_id", "shingles", 16)
          .withColumnRenamed("id", "doc_id")
        extra("candidate_pairs") = DedupOps.lshCandidatePairs(sig, "doc_id", "sig", 4, 4).count()
        extra("verified_pairs") = registered("dedup_minhash_lsh").run(spark, dir).count()
      }
    }
  }

  /** The platform operator's batch: a backfill over the generated
    * trading days on one lake. The yearly leg (holiday feeds, calendar
    * dimension) and the monthly news leg run first; then day after day
    * the 13 daily sources ingest (with the C1 market-open decision) and
    * silver conforms; then the deprecated ETF backfill (with its raising
    * empty-output day), gold, and the idempotent rerun of the whole
    * range on the same lake and ledger. */
  private final class Platform extends Workload {
    val unit = "source-days"
    val fx = s"$data/payloads"
    private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(s"$data/manifest.json")))
    private def strings(k: String) = manifest.get(k).elements().asScala.map(_.asText()).toSeq
    val days = strings("days")
    val newsMonth = manifest.get("news_month").asText()
    val redDay = manifest.get("red_day").asText()
    val year = manifest.get("holiday_year").asInt()
    val backfill = KrEtfOldConnector.boundedRange(strings("backfill_request"))
    // C1: the calendar job builds year+2 (CalendarJob.runFor(y) targets y+2)
    val calendarLogicalYear = year - 2
    val tailTarget = 60.0
    val secondsPerPass = 15.0
    require(passes <= days.size,
      s"--seconds $seconds asks for $passes trading days; ${days.size} are generated")

    def register(): Unit =
      // the source fleet over the generated payload root
      require(Files.isDirectory(Paths.get(fx)) && PlatformDay.dailyConnectors(fx).size == 13,
        s"no payloads under $fx")

    private def conn(c: Connector): Connector = if (trace) new TracedConnector(c, tracer) else c

    final case class Lake(layout: Layout, ledger: PartitionLedger, registry: SchemaRegistry)
    private def lake(tag: String): Lake = {
      val root = s"$work/lake/$tag"
      Lake(Layout(root), new PartitionLedger(s"$root/ledger.tsv"),
        new SchemaRegistry(s"$root/registry"))
    }

    private val ranBySource = mutable.LinkedHashSet.empty[(String, String)]
    private var rerunAttempts = 0
    private var rerunSkipped = 0

    /** One IngestJob.runFor as an operation. First run: Ran expected
      * (Failed on the designed red day); rerun: Skipped expected. */
    private def ingest(l: Lake, c: Connector, d: String, cal: Option[DataFrame],
                       phase: String, rerun: Boolean): Unit = {
      val red = c.name == "kr_etf_old" && d == redDay
      op(s"${c.name}/$d", phase, if (rerun || red) 0 else 1) {
        val res = tracer.span("pipeline.ingest") {
          new IngestJob(spark, l.layout, conn(c), l.ledger, cal).runFor(d) }
        if (rerun && !red) {
          rerunAttempts += 1
          if (res.isInstanceOf[Skipped]) rerunSkipped += 1
        }
        (res, red, rerun) match {
          case (Failed(_), true, _) => None
          case (other, true, _) => Some(s"red path stopped failing: $other")
          case (Ran, false, false) => ranBySource.synchronized(ranBySource += ((c.name, d))); None
          case (_: Skipped, false, true) => None
          case (Failed(e), _, _) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          case (other, _, _) => Some(s"unexpected $other")
        }
      }
    }

    private def stage(name: String, phase: String)(body: => StageResult): Unit =
      op(name, phase, 0) {
        body match { case Ran => None; case other => Some(other.toString) }
      }

    /** Yearly holiday feeds + calendar dimension, then the monthly news
      * leg; returns the calendar the daily decision query reads. */
    private def opening(l: Lake, phase: String, rerun: Boolean): Option[DataFrame] = {
      ingest(l, new MarketHolidayConnector(s"$fx/kr_market_holiday"), year.toString,
        None, phase, rerun)
      ingest(l, new HolidayXmlConnector(s"$fx/kr_market_holiday_xml"), year.toString,
        None, phase, rerun)
      val calJob = new CalendarJob(spark, l.layout)
      stage("calendar", phase)(tracer.span("pipeline.calendar") {
        val built = calJob.runFor(calendarLogicalYear)
        val cal = PlatformDay.calendarHolidaysApplied(spark, l.layout, calJob)
        Writers.writeYearPartition(CalendarOps.withAudit(cal), calJob.path)
        built
      })
      ingest(l, new NewsConnector(s"$fx/news"), newsMonth, None, phase, rerun)
      Some(calJob.read())
    }

    /** One trading day: the 13 daily sources, then silver for the day. */
    private def day(l: Lake, d: String, cal: Option[DataFrame], phase: String,
                    rerun: Boolean): Unit = {
      PlatformDay.dailyConnectors(fx).foreach(c => ingest(l, c, d, cal, phase, rerun))
      conform(l, d, phase, rerun)
    }

    /** Schema-registry ensure (first run only) and the silver conform. */
    private def conform(l: Lake, d: String, phase: String, rerun: Boolean): Unit = {
      if (!rerun) op("registry", phase, 0) {
        tracer.span("io.registry") {
          l.registry.ensure(spark, "krx_codes", l.layout.source("bronze", "krx_codes")) }
        None
      }
      stage(s"silver/$d", phase)(tracer.span("pipeline.silver") {
        new SilverIndustryCodeJob(spark, l.layout, l.registry).runFor(d) })
    }

    /** The bounded ETF backfill, the ledger audit, and gold. */
    private def closing(l: Lake, phase: String, rerun: Boolean): Unit = {
      val etfOld = new KrEtfOldConnector(s"$fx/kr_etf_old")
      if (warming) concurrently(backfill)(d => ingest(l, etfOld, d, None, phase, rerun))
      else backfill.foreach(d => ingest(l, etfOld, d, None, phase, rerun))
      op("ledger", phase, 0) {
        val missing = tracer.span("io.ledger") {
          ranBySource.toSeq.filterNot { case (s, d) => l.ledger.isProcessed(s, d) } }
        if (missing.isEmpty) None else Some(s"ledger lost $missing")
      }
      op("gold", phase, 0) {
        tracer.span("gold.build") {
          val bronze = spark.read.json(l.layout.source("bronze", "kr_stock"))
            .select(col("Ticker"), col("ymd").cast("string").as("ymd"), col("Close"))
          val gold = GoldOps.withDrawdown(GoldOps.withRolling(
            GoldOps.withReturns(bronze, "Ticker", "ymd", "Close"),
            "Ticker", "ymd", "Close", n = 5), "Ticker", "ymd", "Close")
          gold.write.mode("overwrite").parquet(PlatformDay.goldPath(l.layout))
        }
        None
      }
    }

    /** Content fingerprints of every output table: the bronze tables'
      * raw lines (tagged with table and partition) as one fingerprint,
      * silver and gold each on their own. */
    private def snapshot(l: Lake): Map[String, (Long, Long)] = {
      val bronze = (PlatformDay.dailyConnectors(fx).map(_.name) ++
        Seq("news", "kr_etf_old", "kr_market_holiday", "kr_market_holiday_xml")).distinct
        .map(n => spark.read.text(l.layout.source("bronze", n))
          .select(lit(n).as("table"), col("ymd").cast("string").as("ymd"), col("value")))
        .reduce(_ unionByName _)
      Map(
        "bronze" -> PlatformDay.contentHash(bronze),
        "silver/dim_industry_code" -> PlatformDay.contentHash(spark.read.parquet(
          l.layout.source("silver", "industry_code") + "/dim_industry_code")),
        "silver/dim_calendar" -> PlatformDay.contentHash(spark.read.parquet(
          l.layout.source("silver", "calendar") + "/dim_calendar")),
        "gold/etf_daily_returns" -> PlatformDay.contentHash(
          spark.read.parquet(PlatformDay.goldPath(l.layout))))
    }

    /** Every leg once on scratch lakes, unmeasured. The daily sources
      * warm on a lake of their own while the opening leg builds the
      * calendar; one source then warms the calendar decision query. */
    def warm(): Unit = {
      val (a, b) = (lake("warm-a"), lake("warm-b"))
      val before = ops.size
      val d = days.head
      val sources = PlatformDay.dailyConnectors(fx)
      var cal: Option[DataFrame] = None
      concurrently(Seq(None) ++ sources.map(Some(_))) {
        case None => cal = opening(a, "warm", rerun = false)
        case Some(c) => ingest(b, c, d, None, "warm", rerun = false)
      }
      ingest(a, sources.head, d, cal, "warm", rerun = false)
      conform(b, d, "warm", rerun = false)
      ranBySource.clear()
      closing(b, "warm", rerun = false)
      ops.remove(before, ops.size - before)
      ranBySource.clear()
      rerunAttempts = 0
      rerunSkipped = 0
    }

    private val done = days.take(passes)
    private var rerunS = 0.0
    private var runTwice: Map[String, Any] = Map.empty

    def timedLoop(): Unit = {
      val l = lake("backfill")
      setTraced(true)
      val cal = timed(opening(l, "timed", rerun = false))
      for ((d, i) <- done.zipWithIndex) {
        // traced runs trace every other day, so each source has traced
        // and untraced samples
        setTraced(i % 2 == 0)
        timed(day(l, d, cal, "timed", rerun = false))
      }
      setTraced(true)
      timed(closing(l, "timed", rerun = false))
      setTraced(false)
      val first = snapshot(l)
      setTraced(true)
      val t0 = System.nanoTime()
      timed {
        val c = opening(l, "timed_rerun", rerun = true)
        done.foreach(d => day(l, d, c, "timed_rerun", rerun = true))
        closing(l, "timed_rerun", rerun = true)
      }
      rerunS = (System.nanoTime() - t0) / 1e9
      setTraced(false)
      runTwice = Map("identical" -> (first == snapshot(l)),
        "gold_rows" -> first("gold/etf_daily_returns")._1,
        "bronze_rows" -> first("bronze")._1,
        "days" -> done.size)
    }

    def check(): Unit = {
      checks("run_twice") = runTwice
      checks("skipped_ratio") =
        if (rerunAttempts == 0) 0.0 else rerunSkipped.toDouble / rerunAttempts
      checks("rerun_attempts") = rerunAttempts
      checks("rerun_s") = rerunS
    }
  }
}

/** Spans recorded from the benchmark's own files around each call into
  * a graft module. Kept in memory; written once when the run ends. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  val spans = ArrayBuffer.empty[Span]
  @volatile var recording = false
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Epoch milliseconds (Spark event time) on this tracer's clock, in
    * seconds since the origin. */
  def epochMsToS(ms: Long): Double = (ms - originEpochMs) / 1e3
  def nsToS(ns: Long): Double = (ns - originNs) / 1e9
}

/** A connector seen through the benchmark: fetchRaw and toBronze get
  * their own spans, and the raw payload size is counted. Used only in
  * traced runs; the untraced run hands graft its connectors unwrapped. */
final class TracedConnector(inner: Connector, tracer: Tracer) extends Connector {
  def name: String = inner.name
  def fetchRaw(logicalDate: String): Seq[String] = {
    val raw = tracer.span("sources.fetch")(inner.fetchRaw(logicalDate))
    if (tracer.recording) TracedConnector.count(raw)
    raw
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    tracer.span("sources.parse")(inner.toBronze(spark, raw))
}

object TracedConnector {
  @volatile var inputBytes = 0L
  /** CSV connectors return file paths, the rest return payload text. */
  def count(raw: Seq[String]): Unit = synchronized {
    inputBytes += raw.map { s =>
      val f = new java.io.File(s)
      if (s.length < 4096 && f.isFile) f.length() else s.getBytes("UTF-8").length.toLong
    }.sum
  }
}

/** Minimal JSON rendering for the result document. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case (a, b) => render(Seq(a, b))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}
