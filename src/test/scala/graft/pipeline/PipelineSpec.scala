package graft.pipeline

import graft.SparkSpec
import graft.io.{Layout, PartitionLedger, SchemaRegistry, Writers, Readers}
import graft.model.Schemas
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every file under a lake directory, name → bytes: two snapshots are
  * equal iff the directory is byte-identical. */
object LakeFiles {
  def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
    finally walk.close()
  }
}

class WritersSpec extends SparkSpec {
  import spark.implicits._

  test("dynamic partition overwrite: rerun replaces only its partition (C3)") {
    val root = Files.createTempDirectory("graft-io").toString
    val path = s"$root/bronze/t"
    val d1 = Seq(("a", 1)).toDF("k", "v")
    val d2 = Seq(("b", 2)).toDF("k", "v")
    Writers.writeForDate(d1, path, "2025-01-01", "parquet")
    Writers.writeForDate(d2, path, "2025-01-02", "parquet")
    assert(spark.read.parquet(path).count() === 2)
    // rerun day 1 with different content: day 2 must survive
    Writers.writeForDate(Seq(("a2", 9)).toDF("k", "v"), path, "2025-01-01", "parquet")
    val out = spark.read.parquet(path)
    assert(out.count() === 2)
    assert(out.filter($"ymd" === "2025-01-01").select($"k").as[String].head() === "a2")
    assert(out.filter($"ymd" === "2025-01-02").count() === 1)
  }

  test("C3: the bronze write stays a dynamic overwrite under a static session conf") {
    val path = Files.createTempDirectory("graft-io").toString + "/bronze/t"
    Writers.writeForDate(Seq(("a", 1)).toDF("k", "v"), path, "2025-01-01", "parquet")
    Writers.writeForDate(Seq(("b", 2)).toDF("k", "v"), path, "2025-01-02", "parquet")
    val day2 = LakeFiles.snapshot(s"$path/ymd=2025-01-02")
    // the same write from a session whose default would wipe the table
    val static = spark.newSession()
    static.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val rerun = static.createDataFrame(Seq(("a2", 9))).toDF("k", "v")
    assert(Writers.writeForDate(rerun, path, "2025-01-01", "parquet") === 1)
    assert(LakeFiles.snapshot(s"$path/ymd=2025-01-02") === day2,
      "the other day's partition must keep its exact files")
    val out = spark.read.parquet(path)
    assert(out.filter($"ymd" === "2025-01-01").select($"k").as[String]
      .collect().toSeq === Seq("a2"))
  }

  test("idempotence: running the same write twice == once (C3 invariant)") {
    val root = Files.createTempDirectory("graft-io").toString
    val path = s"$root/bronze/t"
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    Writers.writeForDate(df, path, "2025-01-01", "parquet")
    Writers.writeForDate(df, path, "2025-01-01", "parquet")
    assert(spark.read.parquet(path).count() === 2)
  }

  test("upsertByKey: replaces matched keys, appends new, untouched partitions' files unchanged") {
    val path = Files.createTempDirectory("graft-io").toString + "/t"
    // seed two partitions
    Writers.upsertByKey(
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
        .toDF("id", "v", "part"), path, Seq("id"), "part")
    val p2Files = new java.io.File(s"$path/part=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    // delta: update id=1, insert id=4 — both in p1; p2 untouched
    Writers.upsertByKey(
      Seq((1L, "a9", "p1"), (4L, "d", "p1")).toDF("id", "v", "part"),
      path, Seq("id"), "part")
    val out = spark.read.parquet(path)
      .select($"id", $"v", $"part").as[(Long, String, String)].collect().toSet
    assert(out === Set((1L, "a9", "p1"), (2L, "b", "p1"), (3L, "c", "p2"),
      (4L, "d", "p1")))
    val p2After = new java.io.File(s"$path/part=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    assert(p2After === p2Files, "untouched partition must keep its exact files")
    // idempotence: replaying the same delta changes nothing
    Writers.upsertByKey(
      Seq((1L, "a9", "p1"), (4L, "d", "p1")).toDF("id", "v", "part"),
      path, Seq("id"), "part")
    assert(spark.read.parquet(path).count() === 4)
  }

  test("upsertByKey: 1k-partition delta — no literal partition list, DPP prunes the read") {
    val path = Files.createTempDirectory("graft-io").toString + "/t"
    // table with 1200 day partitions; the delta touches 1000 of them
    def day(i: Int) = f"2020-${1 + i / 100}%02d-${1 + i % 28}%02d-$i%04d"
    val seed = (0 until 1200).map(i => (i.toLong, "old", day(i)))
      .toDF("id", "v", "ymd")
    seed.write.mode("overwrite").partitionBy("ymd").parquet(path)
    // file-backed delta, as in production: a LocalRelation delta would be
    // constant-folded (filter evaluated at optimization time), which both
    // bypasses the DPP-eligibility filter and makes the plan untestable
    val deltaPath = Files.createTempDirectory("graft-io").toString + "/delta"
    (100 until 1100).map(i => (i.toLong, "new", day(i)))
      .toDF("id", "v", "ymd").write.mode("overwrite").parquet(deltaPath)
    val delta = spark.read.parquet(deltaPath)
    // the pruned read must carry exactly two range literals + a dynamic
    // pruning expression — NOT a thousand-element isin list
    val current = Writers.prunedCurrent(delta, path, "ymd")
    current.collect() // finalize AQE so the inserted DPP subquery is visible
    val plan = current.queryExecution.executedPlan.toString
    assert(!plan.contains(" IN (") && !plan.contains("isin"),
      s"partition pruning must not inline a literal list:\n${plan.take(1000)}")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected DPP on the partition scan:\n${plan.take(1000)}")
    // end-to-end: the thousand-partition upsert is still exact
    Writers.upsertByKey(delta, path, Seq("id"), "ymd")
    val out = spark.read.parquet(path)
    assert(out.count() === 1200)
    assert(out.filter($"v" === "new").count() === 1000)
    assert(out.filter($"v" === "old").count() === 200)
  }
}

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compaction merges many small files, preserves rows, is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val part = s"$dir/t/ymd=2025-01-01"
    // simulate a chatty incremental writer: 16 tiny files
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(16).write.mode("overwrite").parquet(part)
    val before = new java.io.File(part).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(before === 16)
    val after = graft.io.Compaction.compactPartition(spark, part)
    assert(after === 1) // 1000 tiny rows << target size
    val rows = spark.read.parquet(part)
    assert(rows.count() === 1000)
    assert(rows.filter($"id" === 500L).select($"v").as[String].head() === "v500")
    // idempotent
    assert(graft.io.Compaction.compactPartition(spark, part) === 1)
    assert(spark.read.parquet(part).count() === 1000)
  }
}

class LedgerRegistrySpec extends SparkSpec {

  test("partition ledger marks and filters processed dates (S15 bookmark)") {
    val f = Files.createTempDirectory("graft-ledger").toString + "/ledger.tsv"
    val l = new PartitionLedger(f)
    assert(!l.isProcessed("src", "2025-01-01"))
    l.markProcessed("src", "2025-01-01")
    l.markProcessed("src", "2025-01-01") // idempotent
    assert(l.isProcessed("src", "2025-01-01"))
    assert(l.unprocessed("src", Seq("2025-01-01", "2025-01-02")) === Seq("2025-01-02"))
    assert(l.unprocessed("other", Seq("2025-01-01")) === Seq("2025-01-01"))
  }

  test("schema registry infers once then serves the snapshot (C2/S16)") {
    val dir = Files.createTempDirectory("graft-registry").toString
    val r = new SchemaRegistry(dir)
    val fixture = getClass.getResource("/bronze/krx_codes").getPath
    assert(!r.contains("krx_codes"))
    val s1 = r.ensure(spark, "krx_codes", fixture)
    assert(r.contains("krx_codes"))
    assert(s1.fieldNames.contains("item_code"))
    // second call must NOT re-infer: point inferFrom at garbage
    val s2 = r.ensure(spark, "krx_codes", sys.error("re-inferred!"))
    assert(s2 === s1)
  }

  test("schema evolution: merged read surfaces added columns as NULL on old files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evolve")
    val v1 = dir.resolve("v1").toString
    val v2 = dir.resolve("v2").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(v1)
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(v2)
    val merged = Readers.readEvolved(spark, v1, v2)
    assert(merged.columns.toSet === Set("id", "name", "score"))
    val rows = merged.orderBy($"id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(rows === Seq((1L, "a", None), (2L, "b", Some(9.5))))
    // conformed read: required set with a column no file has yet (null of
    // declared type), dropping none, canonical order — both directions of
    // reader/data version skew
    val conformed = Readers.readConformed(spark,
      Seq("id" -> "bigint", "score" -> "double", "region" -> "string"),
      v1, v2)
    assert(conformed.columns.toSeq === Seq("id", "score", "region"))
    assert(conformed.schema("region").dataType.typeName === "string")
    assert(conformed.filter($"region".isNotNull).count() === 0)
    // pushdown on the evolved column still prunes correctly across files
    assert(Readers.readEvolved(spark, v1, v2)
      .filter($"score" > 9.0).count() === 1)
  }

  test("quality observer: metrics ride the write itself — no second scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-observe").toString
    val df = Seq((1L, Option("a"), 2.0), (2L, None, 9.0), (3L, Option("c"), -1.0))
      .toDF("id", "name", "score")
    val (instrumented, obs) = graft.io.QualityObserver.observed(
      df, Seq("name", "id"), Some("score"))
    instrumented.write.mode("overwrite").parquet(s"$dir/t")
    val m = obs.get
    assert(m("n_rows") === 3L)
    assert(m("name_nulls") === 1L)
    assert(m("id_nulls") === 0L)
    assert(m("score_min") === -1.0)
    assert(m("score_max") === 9.0)
    // the observed write really wrote the data
    assert(spark.read.parquet(s"$dir/t").count() === 3)
  }
}

class ConnectorSpec extends SparkSpec {
  private def fixture(p: String) = getClass.getResource(s"/bronze/$p").getPath

  test("S1 kr_etf: pagination accumulates pages, payload unwraps to items") {
    val c = new KrEtfConnector(fixture("kr_etf"))
    val raw = c.fetchRaw("2025-01-06")
    assert(raw.length === 2) // two pages
    val df = c.toBronze(spark, raw)
    assert(df.count() === 3)
    assert(df.columns.toSeq === Schemas.krEtfItem.fieldNames.toSeq)
  }

  test("S9 krx_codes: JSON array parses with declared schema") {
    val c = new KrxCodesConnector(fixture("krx_codes"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 4)
    assert(df.schema === Schemas.krxCodes)
  }

  test("S12 market holiday: block1 unwraps per-year") {
    val c = new MarketHolidayConnector(fixture("kr_market_holiday"))
    val df = c.toBronze(spark, c.fetchRaw("2025"))
    assert(df.count() === 3)
    assert(df.columns.contains("holdy_nm"))
  }

  test("S5 coin: CSV reads with declared 14-col schema") {
    val c = new CoinConnector(fixture("coin_data"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 2)
    assert(df.schema === Schemas.coin)
  }

  test("S11 news: nested projection + keyword value transform (F12)") {
    import spark.implicits._
    val c = new NewsConnector(fixture("news"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-01"))
    assert(df.count() === 2)
    val first = df.orderBy($"pub_date").head()
    assert(first.getAs[String]("headline") === "Stocks Rise")
    assert(first.getAs[Seq[String]]("keywords") === Seq("Stocks", "KRX"))
  }

  test("holiday/missing date yields empty fetch (S6 skip path)") {
    val c = new KrEtfConnector(fixture("kr_etf"))
    assert(c.fetchRaw("2025-01-01").isEmpty)
  }

  test("retry wrapper retries then propagates (C4)") {
    var calls = 0
    val out = Retry.withRetries(3) { calls += 1; if (calls < 3) sys.error("flaky"); 42 }
    assert(out === 42 && calls === 3)
    intercept[RuntimeException] {
      Retry.withRetries(2)(sys.error("always"))
    }
  }

  test("S1 HTTP loop control: structural item count; absent/zero totalCount raises") {
    val c = new HttpKrEtfConnector("http://unused", numOfRows = 2)
    // structural count is immune to the field name appearing in VALUES,
    // in other fields, or inside nested objects — a substring count of
    // "basDt" would report 5 here
    val body = """{"totalCount": 2, "items": [
      {"basDt": "20250106", "note": "basDt", "nested": {"basDt": "x"}},
      {"basDt": "20250106", "quote": "a \"basDt\" [{ inside a string"}
    ]}"""
    assert(c.countItems(body) === 2)
    assert(c.countItems("""{"items": []}""") === 0)
    assert(c.countItems("""{"no_items_at_all": 1}""") === 0)
    // reference raises on totalCount==0 and on a missing totalCount
    // (tasks.py:58-62) — a silent partial fetch must be impossible
    val zero = intercept[IllegalStateException] {
      c.checkTotal("""{"totalCount": 0, "items": []}""", "20250106", 1)
    }
    assert(zero.getMessage.contains("totalCount is 0"))
    val absent = intercept[IllegalStateException] {
      c.checkTotal("""{"items": []}""", "20250106", 1)
    }
    assert(absent.getMessage.contains("no totalCount"))
  }

  test("S1 over HTTP: pagination until totalCount, 500-retry, rate limit (C4)") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // the two fixture pages, served with the reference's loop-control
    // field injected: totalCount = 3 rows across page 1 (2 rows) + page 2
    // (1 row), exactly the accumulate-until-totalCount contract
    def page(n: Int): String = {
      // path built from the fixture DIR: getResource would %-encode the
      // '=' in the partition dir name and the read would miss
      val p = java.nio.file.Paths.get(
        fixture("kr_etf"), "ymd=2025-01-06", s"page_$n.json")
      java.nio.file.Files.readString(p)
        .replaceFirst("""\{\s*"items"""", """{"totalCount": 3, "items"""")
    }
    // read OUTSIDE the handler: an exception inside an HttpHandler kills
    // the exchange silently and surfaces only as a client-side EOF
    val pages = Map(1 -> page(1), 2 -> page(2))
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/etf", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        requests.incrementAndGet()
        val q = Option(x.getRequestURI.getQuery).getOrElse("")
        val pageNo = """pageNo=(\d+)""".r.findFirstMatchIn(q).map(_.group(1).toInt).getOrElse(1)
        // injected transient failure: the FIRST hit on page 1 returns 500,
        // so success requires the C4 retry path to actually run
        if (pageNo == 1 && failedOnce.compareAndSet(false, true)) {
          x.sendResponseHeaders(500, -1); x.close()
        } else {
          val body = pages(pageNo).getBytes("UTF-8")
          x.sendResponseHeaders(200, body.length)
          x.getResponseBody.write(body)
          x.close()
        }
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/etf"
      val c = new HttpKrEtfConnector(base, numOfRows = 2,
        retries = 3, retryDelayMs = 10, rateLimitMs = 30)
      val t0 = System.nanoTime()
      val raw = c.fetchRaw("2025-01-06")
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(raw.length === 2, "two pages accumulated until totalCount")
      assert(requests.get() === 3, "1 injected 500 + 2 successful pages")
      assert(elapsedMs >= 30, "politeness sleep must run between pages")
      // transport changes nothing downstream: bronze rows == fixture path
      val viaHttp = c.toBronze(spark, raw)
      val viaFiles = new KrEtfConnector(fixture("kr_etf"))
      val expected = viaFiles.toBronze(spark, viaFiles.fetchRaw("2025-01-06"))
      assert(viaHttp.collect().toSet === expected.collect().toSet)
    } finally server.stop(0)
  }
}

class JobsSpec extends SparkSpec {
  import spark.implicits._
  private def fixture(p: String) = getClass.getResource(s"/bronze/$p").getPath

  private def freshLayout() = Layout(Files.createTempDirectory("graft-lake").toString)

  test("E1 ingest: holiday short-circuit (C1), run, ledger skip on rerun") {
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val cal = graft.operators.CalendarOps.calendarDim(spark, 2025, 2025)
    val job = new IngestJob(spark, layout, new KrEtfConnector(fixture("kr_etf")),
      ledger, calendar = Some(cal))
    // 2025-01-05 is a Sunday -> holiday skip, no fetch
    assert(job.runFor("2025-01-05") === Skipped("2025-01-05 is a market holiday"))
    // Monday with fixture data -> Ran, bronze partition written
    assert(job.runFor("2025-01-06") === Ran)
    val bronze = spark.read.schema(
      Schemas.krEtfItem.add("ymd", "string")).json(layout.source("bronze", "kr_etf"))
    assert(bronze.filter($"ymd" === "2025-01-06").count() === 3)
    // rerun -> ledger skip
    assert(job.runFor("2025-01-06") === Skipped("already processed 2025-01-06"))
    // missing fixture date (a weekday) -> no payload skip
    assert(job.runFor("2025-01-07") === Skipped("no payload for 2025-01-07"))
  }

  /** The kr_etf fixture plus 2025-01-07 whose only page parses to zero rows. */
  private def krEtfWithEmptyDay(): String = {
    val dir = Files.createTempDirectory("graft-fx").resolve("kr_etf")
    val day = dir.resolve("ymd=2025-01-06")
    Files.createDirectories(day)
    val src = Paths.get(fixture("kr_etf"), "ymd=2025-01-06")
    val pages = Files.list(src)
    try pages.iterator().asScala.foreach(p => Files.copy(p, day.resolve(p.getFileName)))
    finally pages.close()
    val empty = dir.resolve("ymd=2025-01-07")
    Files.createDirectories(empty)
    Files.writeString(empty.resolve("page_1.json"), """{"totalCount":0,"items":[]}""")
    dir.toString
  }

  /** `runFor` off the test thread, failing the test if it does not return. */
  private def boundedRunFor(job: IngestJob, date: String): StageResult = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    Await.result(Future(job.runFor(date))(ExecutionContext.global), 2.minutes)
  }

  private def assertGateFailed(res: StageResult, source: String): Unit = res match {
    case Failed(e: IllegalArgumentException) =>
      assert(e.getMessage.contains(s"data-quality gate: $source returned no rows"))
    case other => fail(s"expected the non-empty gate to fail, got $other")
  }

  test("F17 gate on the write: an empty payload fails, lands no partition, marks nothing") {
    val fx = krEtfWithEmptyDay()
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val job = new IngestJob(spark, layout, new KrEtfConnector(fx), ledger)
    val table = layout.source("bronze", "kr_etf")
    assert(job.runFor("2025-01-06") === Ran)
    val landed = LakeFiles.snapshot(s"$table/ymd=2025-01-06")
    assertGateFailed(boundedRunFor(job, "2025-01-07"), "kr_etf")
    assert(!ledger.isProcessed("kr_etf", "2025-01-07"))
    assert(!Files.exists(Paths.get(s"$table/ymd=2025-01-07")))
    assert(LakeFiles.snapshot(s"$table/ymd=2025-01-06") === landed,
      "an empty payload must leave the earlier day byte-identical")
    // on a fresh lake the empty day lands no partition at all
    val fresh = freshLayout()
    val freshLedger = new PartitionLedger(fresh.root + "/ledger.tsv")
    assertGateFailed(boundedRunFor(
      new IngestJob(spark, fresh, new KrEtfConnector(fx), freshLedger),
      "2025-01-07"), "kr_etf")
    assert(!freshLedger.isProcessed("kr_etf", "2025-01-07"))
    val tableEntries = Option(new java.io.File(fresh.source("bronze", "kr_etf")).list())
    assert(tableEntries.toSeq.flatten.filter(_.startsWith("ymd=")) === Nil)
  }

  /** A connector whose fetch always throws `fault()`, counting attempts. */
  private final class FaultyConnector(fault: () => Throwable) extends Connector {
    val name = "faulty"
    var fetches = 0
    def fetchRaw(logicalDate: String): Seq[String] = { fetches += 1; throw fault() }
    def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
      fail("a failed fetch has no payload to parse")
  }

  test("C4: NonFatal fetch errors retry then fail; interrupts and fatal errors propagate at once") {
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val flaky = new FaultyConnector(() => new java.io.IOException("connection reset"))
    new IngestJob(spark, layout, flaky, ledger, retries = 3).runFor("2025-01-06") match {
      case Failed(e: java.io.IOException) => assert(e.getMessage === "connection reset")
      case other => fail(s"expected Failed(IOException), got $other")
    }
    assert(flaky.fetches === 3)
    val fatal = Seq[() => Throwable](
      () => new InterruptedException("interrupted"),
      () => new OutOfMemoryError("injected"))
    for (f <- fatal) {
      val c = new FaultyConnector(f)
      val thrown = intercept[Throwable] {
        new IngestJob(spark, layout, c, ledger, retries = 3).runFor("2025-01-06")
      }
      assert(thrown.getClass === f().getClass)
      assert(c.fetches === 1, s"${thrown.getClass.getSimpleName} must not be retried")
    }
    assert(!ledger.isProcessed("faulty", "2025-01-06"))
  }

  /** Spark jobs that `body` starts on this thread, counted once the
    * listener bus has delivered every event. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  test("C1 once per calendar: 13 ingests decide once, a decided daily runFor is one Spark job") {
    val cal = graft.operators.CalendarOps.calendarDim(spark, 2025, 2025)
    val jobs = (1 to 13).map { _ =>
      val layout = freshLayout()
      val job = new IngestJob(spark, layout, new KrEtfConnector(fixture("kr_etf")),
        new PartitionLedger(layout.root + "/ledger.tsv"), calendar = Some(cal))
      var res: StageResult = null
      val n = jobsIn { res = job.runFor("2025-01-06") }
      assert(res === Ran)
      n
    }
    assert(jobs.tail.forall(_ == 1), s"Spark jobs per ingest: $jobs")
    // the first ingest paid the decision query (and only once) + the write
    val decision = jobsIn(IngestJob.decisions(
      graft.operators.CalendarOps.calendarDim(spark, 2025, 2025)))
    assert(decision >= 1 && jobs.head === decision + 1, s"Spark jobs per ingest: $jobs")
  }

  /** Delegates to `c`, counting fetches. */
  private final class CountingConnector(c: Connector) extends Connector {
    val name = c.name
    var fetches = 0
    def fetchRaw(logicalDate: String): Seq[String] = { fetches += 1; c.fetchRaw(logicalDate) }
    def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = c.toBronze(spark, raw)
  }

  test("C1: a calendar re-derived with an extra holiday gets its own decision") {
    import graft.operators.CalendarOps
    val cal = CalendarOps.calendarDim(spark, 2025, 2025)
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val source = new CountingConnector(new KrEtfConnector(fixture("kr_etf")))
    val before = new IngestJob(spark, layout, source, ledger, calendar = Some(cal))
    assert(before.previousWorkingDay("2025-01-07") === Some("2025-01-06"))
    // holiday short-circuit: skipped before any fetch
    assert(before.runFor("2025-01-05") === Skipped("2025-01-05 is a market holiday"))
    assert(source.fetches === 0)
    val withHoliday = CalendarOps.applyHolidays(cal,
      Seq("2025-01-06").toDF("locdate"), "locdate")
    val after = new IngestJob(spark, layout, source, ledger,
      calendar = Some(withHoliday))
    assert(after.previousWorkingDay("2025-01-07") === Some("2025-01-03"))
    assert(after.runFor("2025-01-06") === Skipped("2025-01-06 is a market holiday"))
    assert(source.fetches === 0)
    // the original calendar keeps its own decision
    assert(before.runFor("2025-01-06") === Ran)
    assert(source.fetches === 1)
  }

  test("S21 kr_etf_old: distinct output payload parses; empty output raises") {
    val c = new KrEtfOldConnector(fixture("kr_etf_old"))
    // the deprecated payload shape: {"output": [...]} — not items/pages
    val df = c.toBronze(spark, c.fetchRaw("2019-12-30"))
    assert(df.count() === 2)
    assert(df.schema === Schemas.krEtfOldItem)
    // KRX web display strings land verbatim at bronze
    assert(df.filter(col("ISU_SRT_CD") === "069500")
      .select(col("TDD_CLSPRC")).head().getString(0) === "29,470")
    // reference raises on missing/empty output (tasks_deprecated.py:84-87)
    val e = intercept[IllegalStateException](c.fetchRaw("2019-12-26"))
    assert(e.getMessage.contains("'output' is missing or empty"))
    // absent fixture date = nothing landed, plain empty (no-payload skip)
    assert(c.fetchRaw("2019-12-25").isEmpty)
  }

  test("S21: end_date-bounded backfill rides runRange, ledger-resumable") {
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val job = new IngestJob(spark, layout,
      new KrEtfOldConnector(fixture("kr_etf_old")), ledger)
    // a caller naively backfilling across the deprecation boundary: the
    // bound clips every date past 2019-12-31 BEFORE any fetch
    val asked = Seq("2019-12-27", "2019-12-30", "2019-12-31",
      "2020-01-02", "2020-01-03")
    val bounded = KrEtfOldConnector.boundedRange(asked)
    assert(bounded === Seq("2019-12-27", "2019-12-30", "2019-12-31"))
    val r1 = job.runRange(bounded)
    assert(r1("2019-12-27") === Ran)
    assert(r1("2019-12-30") === Ran)
    assert(r1("2019-12-31") === Skipped("no payload for 2019-12-31"))
    // resume: processed dates drop out of the frontier entirely
    val r2 = job.runRange(bounded)
    assert(!r2.contains("2019-12-27") && !r2.contains("2019-12-30"))
    // landed bronze holds both days' rows under their ymd partitions
    val bronze = spark.read.schema(Schemas.krEtfOldItem.add("ymd", "string"))
      .json(layout.source("bronze", "kr_etf_old"))
    assert(bronze.filter(col("ymd") === "2019-12-30").count() === 2)
    assert(bronze.filter(col("ymd") === "2019-12-27").count() === 1)
  }

  test("S21/C3: bounded-range backfill is ledger-resumable") {
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val job = new IngestJob(spark, layout, new KrEtfConnector(fixture("kr_etf")), ledger)
    val range = Seq("2025-01-05", "2025-01-06", "2025-01-07")
    val r1 = job.runRange(range)
    assert(r1("2025-01-06") === Ran)                       // fixture exists
    assert(r1("2025-01-05") === Skipped("no payload for 2025-01-05"))
    // resume: the processed date is excluded from the frontier entirely
    val r2 = job.runRange(range)
    assert(!r2.contains("2025-01-06"))
  }

  test("E2 silver conform: reference SQL verbatim, schema == dim_industry_code") {
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val ingest = new IngestJob(spark, layout,
      new KrxCodesConnector(fixture("krx_codes")), ledger)
    assert(ingest.runFor("2025-01-06") === Ran)
    val registry = new SchemaRegistry(layout.root + "/registry")
    val silver = new SilverIndustryCodeJob(spark, layout, registry)
    assert(silver.available("2025-01-06"))
    assert(!silver.available("2025-01-07"))
    assert(silver.runFor("2025-01-07") === Skipped("bronze krx_codes ymd=2025-01-07 not landed"))
    assert(silver.runFor("2025-01-06") === Ran)
    val out = spark.read.parquet(
      layout.source("silver", "industry_code") + "/dim_industry_code")
    assert(out.count() === 4)
    assert(out.schema.fieldNames.toSeq === Schemas.dimIndustryCode.fieldNames.toSeq)
    assert(out.schema("issue_date").dataType.typeName === "date")
    // warehouse table registered (K4)
    assert(spark.table("dim_industry_code").count() === 4)
  }

  test("S17 sensor: poke interval + timeout + reschedule semantics") {
    // virtual clock: `sleep` advances time, nothing blocks — the
    // reschedule-mode analog (the waiting slot is the injected sleep)
    var now = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def clock() = now
    def vsleep(ms: Long): Unit = { sleeps += ms; now += ms * 1000000L }
    // lands on the 3rd poke: 3 pokes, 2 interval sleeps
    var calls = 0
    val pokes = Sensor.poll(60000L, 600000L, clock _, vsleep) {
      calls += 1; calls >= 3
    }
    assert(pokes === 3 && calls === 3)
    assert(sleeps.toSeq === Seq(60000L, 60000L))
    // never lands: pokes at t=0,60,...,600 s (11 pokes fit the window —
    // the poke AT the deadline still runs), then timeout
    now = 0L; sleeps.clear()
    val e = intercept[SensorTimeoutException] {
      Sensor.poll(60000L, 600000L, clock _, vsleep)(false)
    }
    assert(e.getMessage.contains("11 pokes"))
    assert(sleeps.size === 10)
    // integration: awaitAvailable succeeds first-poke on landed bronze,
    // times out (raising, not silently skipping) on a missing date
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val ingest = new IngestJob(spark, layout,
      new KrxCodesConnector(fixture("krx_codes")), ledger)
    assert(ingest.runFor("2025-01-06") === Ran)
    val silver = new SilverIndustryCodeJob(spark, layout,
      new SchemaRegistry(layout.root + "/registry"))
    assert(silver.awaitAvailable("2025-01-06") === 1)
    intercept[SensorTimeoutException] {
      silver.awaitAvailable("2025-01-07", pokeIntervalMs = 5, timeoutMs = 20)
    }
  }

  test("E2 K4 JDBC mode: DROP/CREATE preaction full refresh (Derby warehouse)") {
    val layout = freshLayout()
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val ingest = new IngestJob(spark, layout,
      new KrxCodesConnector(fixture("krx_codes")), ledger)
    assert(ingest.runFor("2025-01-06") === Ran)
    val registry = new SchemaRegistry(layout.root + "/registry")
    val url = "jdbc:derby:memory:graftwh;create=true"
    val silver = new SilverIndustryCodeJob(spark, layout, registry,
      jdbcUrl = Some(url))
    assert(silver.runFor("2025-01-06") === Ran)
    def warehouse() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "dim_industry_code").load()
    assert(warehouse().count() === 4)
    assert(warehouse().schema.fieldNames.toSeq ===
      Schemas.dimIndustryCode.fieldNames.toSeq)
    // rerun = full refresh (DROP preaction, fresh table) — NOT an append
    assert(silver.runFor("2025-01-06") === Ran)
    assert(warehouse().count() === 4)
  }

  test("EXT clean-corpus silver job: filters, dedups, writes lang partitions") {
    val layout = freshLayout()
    val docs = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
    val job = new CleanCorpusJob(spark, layout)
    val kept = job.run(docs)
    assert(kept > 0 && kept <= docs.count())
    val out = spark.read.parquet(job.path)
    assert(out.select($"lang").distinct().count() > 1) // partitioned by lang
    // idempotent rerun
    assert(job.run(docs) === kept)
  }

  test("schema drift: permissive JSON parse captures corrupt records (risk 3)") {
    val raw = Seq(
      """{"item_code": "005930", "market": "kospi"}""",
      """{"item_code": "000660", "market":""",  // truncated payload
      """not json at all""").toDF("value")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "item_code STRING, market STRING, _corrupt_record STRING")
    val parsed = raw.select(from_json($"value", schema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
      .select("r.*")
    assert(parsed.count() === 3) // nothing silently dropped
    assert(parsed.filter($"_corrupt_record".isNotNull).count() === 2)
    assert(parsed.filter($"item_code" === "005930").count() === 1)
  }

  test("E3 calendar job: year+2 target, idempotent year partition") {
    val layout = freshLayout()
    val job = new CalendarJob(spark, layout)
    assert(job.runFor(2023) === Ran) // generates 2025
    assert(job.runFor(2023) === Ran) // rerun: idempotent
    val cal = job.read()
    assert(cal.filter($"year" === 2025).count() === 365)
    assert(cal.count() === 365)
  }
}
