package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Layout, PartitionLedger, SchemaRegistry, Writers}
import graft.model.Schemas
import graft.operators.CalendarOps
import graft.sources._

/** ONE OPERATIONAL DAY of the whole platform, end-to-end — the
  * reference's full DAG fleet for a logical date run as plain Scala
  * around Spark jobs (BASELINE.md's envelope: "one day's multi-source
  * ingest+conform is a ~10-worker G.2X Glue job's work"). The stages, in
  * the reference's dependency order:
  *
  *   1. YEARLY leg — market-holiday ingest (S12 JSON + XML twin) for the
  *      year, calendar-dim build (E3, year+2 like
  *      slv_generate_calendar_yearly.py:54-62), F19 holiday upsert into
  *      the year partition.
  *   2. MONTHLY news-archive leg (S11, not market-gated), then the
  *      DAILY fan-out (C5) — [[Runner.ingestAll]] over the 13 daily
  *      fixture connectors WITH the built calendar, so every daily source
  *      runs the C1 market-open decision query before touching its
  *      payload.
  *   3. BACKFILL leg (C3) — the deprecated bounded ETF fetch
  *      ([[KrEtfOldConnector]]) over its ledger-resumable clipped range,
  *      red path included (an empty `output` day RAISES by contract).
  *   4. SILVER conform (E2) — sensor, schema-registry ensure, the
  *      reference's conform SQL, audit stamps, parquet + warehouse.
  *   5. GOLD — daily returns + moving average over the multi-date
  *      backfill series (the only fixture source spanning dates).
  *
  * The C3 invariant AT PLATFORM SCOPE: running the whole day twice with
  * the same ledger must equal running it once — daily/backfill re-runs
  * are ledger-skipped (no write), silver/calendar/gold re-runs are
  * idempotent overwrites. [[snapshot]] hashes every output table
  * (minus the F2 audit stamps, which record load time BY DESIGN) so the
  * equality is checked on content, not on wishful thinking. Spec'd in
  * PlatformE2ESpec; `PlatformRun.stageSec` carries its per-stage
  * timings. */
object PlatformDay {

  /** The fixture fleet's one fully-populated trading day. */
  val DailyDate = "2025-01-06"
  val HolidayYear = "2025"
  /** The NYT archive is a MONTHLY feed (S11) keyed on the month's first
    * day and not market-holiday-gated — its own leg, not the daily one. */
  val NewsMonth = "2025-01-01"
  /** Backfill request deliberately crossing the deprecated DAG's
    * end_date bound (2019-12-31) and including the raising empty-output
    * day (2019-12-26). */
  val BackfillRequest = Seq("2019-12-26", "2019-12-27", "2019-12-30",
    "2020-01-02")

  /** The 13 daily sources, one connector per reference DAG task group
    * (S19 commodities is the S2 connector with static tickers — same
    * landed CSV shape, its own bronze table). With the monthly news leg,
    * the yearly holiday pair, and the bounded backfill, the platform day
    * covers 17 sources. */
  def dailyConnectors(fx: String): Seq[Connector] = Seq(
    new KrEtfConnector(s"$fx/kr_etf"),
    new KrxCodesConnector(s"$fx/krx_codes"),
    new CoinConnector(s"$fx/coin_data"),
    new YFinanceConnector(s"$fx/kr_stock", "kr_stock"),
    new YFinanceConnector(s"$fx/kr_stock", "commodities"),
    new BokStatConnector(s"$fx/economic_indicators"),
    new IndexDataConnector(s"$fx/index_data"),
    new BondsConnector(s"$fx/govt_bonds_kr", "govt_bonds_kr"),
    new BondsMetaConnector(s"$fx/bonds_meta"),
    new BondsMetaHtmlConnector(s"$fx/bonds_meta_html"),
    new GicsConnector(s"$fx/gics_codes"),
    new ExchangeRateConnector(s"$fx/exchange_rate"),
    new MsciConnector(s"$fx/msci_index"))

  final case class PlatformRun(
      yearly: Map[String, StageResult],
      monthly: Map[String, StageResult],
      daily: Map[String, StageResult],
      backfill: Map[String, StageResult],
      silver: StageResult,
      goldRows: Long,
      stageSec: Map[String, Double],
      snapshot: Map[String, (Long, Long)])

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Sort-insensitive content fingerprint of one output table:
    * (rowCount, XOR of xxhash64(sorted columns as strings)) — XOR-fold,
    * not Σ, so no ANSI long overflow at any row count; audit stamps
    * excluded (they record load time by design; the C3 contract is about
    * the DATA being identical). */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.filterNot(Set("created_at", "updated_at"))
      .sorted.map(c => col(c).cast("string"))
    val row = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  def goldPath(layout: Layout): String =
    layout.source("gold", "kr_etf_old") + "/etf_daily_returns"

  def calendarHolidaysApplied(spark: SparkSession, layout: Layout,
                              job: CalendarJob): DataFrame = {
    val holidays = spark.read.schema(Schemas.holidayRecord).json(
      layout.source("bronze", "kr_market_holiday") + s"/ymd=$HolidayYear")
    CalendarOps.applyHolidays(job.read(), holidays, "calnd_dd_dy")
  }

  /** Run the whole platform day. Idempotent by construction: every write
    * is a ledger-gated ingest, a partition overwrite, or a full refresh. */
  def run(spark: SparkSession, layout: Layout, ledger: PartitionLedger,
          registry: SchemaRegistry, fixturesRoot: String): PlatformRun = {
    // -- 1. yearly: holiday feeds + calendar dim + F19 upsert -----------
    val ((yearly, calDf), yearlySec) = timed {
      val y = new Runner(spark, layout, ledger).ingestAll(Seq(
        new MarketHolidayConnector(s"$fixturesRoot/kr_market_holiday"),
        new HolidayXmlConnector(s"$fixturesRoot/kr_market_holiday_xml")),
        HolidayYear)
      val calJob = new CalendarJob(spark, layout)
      val built = calJob.runFor(HolidayYear.toInt - 2) // E3: year+2 target
      val cal = calendarHolidaysApplied(spark, layout, calJob)
      Writers.writeYearPartition(CalendarOps.withAudit(cal), calJob.path)
      (y + ("dim_calendar" -> built), calJob.read())
    }
    // -- 2a. monthly news archive (S11), not market-gated ----------------
    val (monthly, monthlySec) = timed {
      new Runner(spark, layout, ledger).ingestAll(
        Seq(new NewsConnector(s"$fixturesRoot/news")), NewsMonth)
    }
    // -- 2b. daily fan-out, C1 decision active via the built calendar ----
    val (daily, dailySec) = timed {
      new Runner(spark, layout, ledger)
        .ingestAll(dailyConnectors(fixturesRoot), DailyDate, Some(calDf))
    }
    // -- 3. bounded backfill (C3), red path included ---------------------
    val (backfill, backfillSec) = timed {
      new IngestJob(spark, layout,
        new KrEtfOldConnector(s"$fixturesRoot/kr_etf_old"), ledger)
        .runRange(KrEtfOldConnector.boundedRange(BackfillRequest))
    }
    // -- 4. silver conform (E2) ------------------------------------------
    val (silver, silverSec) = timed {
      new SilverIndustryCodeJob(spark, layout, registry).runFor(DailyDate)
    }
    // -- 5. gold over the backfill series --------------------------------
    val (goldRows, goldSec) = timed {
      val bronze = spark.read
        .json(layout.source("bronze", "kr_etf_old"))
        .withColumn("close",
          regexp_replace(col("TDD_CLSPRC"), ",", "").cast("double"))
        .withColumn("ymd", col("ymd").cast("string"))
      val gold = graft.gold.GoldOps.withRolling(
        graft.gold.GoldOps.withReturns(bronze, "ISU_SRT_CD", "ymd", "close"),
        "ISU_SRT_CD", "ymd", "close", n = 2)
      gold.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(goldPath(layout))
      spark.read.parquet(goldPath(layout)).count()
    }
    // -- content snapshot of every output table --------------------------
    val bronzeTables = (dailyConnectors(fixturesRoot).map(_.name) ++
      Seq("news", "kr_etf_old", "kr_market_holiday",
        "kr_market_holiday_xml")).sorted
    val snap = (
      bronzeTables.map(n => s"bronze/$n" ->
        contentHash(spark.read.json(layout.source("bronze", n)))) ++
      Seq(
        "silver/dim_industry_code" -> contentHash(spark.read.parquet(
          layout.source("silver", "industry_code") + "/dim_industry_code")),
        "silver/dim_calendar" -> contentHash(spark.read.parquet(
          layout.source("silver", "calendar") + "/dim_calendar")),
        "gold/etf_daily_returns" -> contentHash(
          spark.read.parquet(goldPath(layout))))
    ).toMap
    PlatformRun(yearly, monthly, daily, backfill, silver, goldRows,
      Map("yearly" -> yearlySec, "monthly" -> monthlySec,
        "daily_ingest" -> dailySec, "backfill" -> backfillSec,
        "silver" -> silverSec, "gold" -> goldSec),
      snap)
  }
}
