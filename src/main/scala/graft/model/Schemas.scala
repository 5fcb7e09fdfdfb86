package graft.model

import org.apache.spark.sql.types._

/** Declared schemas for every reference source (FIXTURES.md §A) and the
  * silver dims — the "declared" mode of the reference's three schema
  * systems (SURVEY §1.2). Bronze lands as text; these are imposed at
  * conform time via `from_json` / csv read.
  */
object Schemas {

  /** A1: data.go.kr getETFPriceInfo items (dags/brz_kr_etf_daily/tasks.py:37-44).
    * API-shaped: everything lands as string, cast at silver. */
  val krEtfItem: StructType = StructType(Seq(
    StructField("basDt", StringType),      // yyyyMMdd
    StructField("srtnCd", StringType),
    StructField("isinCd", StringType),
    StructField("itmsNm", StringType),
    StructField("clpr", StringType),
    StructField("vs", StringType),
    StructField("fltRt", StringType),
    StructField("mkp", StringType),
    StructField("hipr", StringType),
    StructField("lopr", StringType),
    StructField("trqu", StringType),
    StructField("trPrc", StringType),
    StructField("mrktTotAmt", StringType),
    StructField("nav", StringType)))

  /** A1 payload wrapper: `{"items": [...]}` (tasks.py:72). */
  val krEtfPayload: StructType = StructType(Seq(
    StructField("items", ArrayType(krEtfItem))))

  /** A1-old: the deprecated KRX web payload's `output` rows
    * (tasks_deprecated.py:60-92, bld MDCSTAT04301). KRX web JSON carries
    * display strings (comma thousands separators) — bronze keeps them
    * verbatim, conformance casts downstream (F1). */
  val krEtfOldItem: StructType = StructType(Seq(
    StructField("ISU_SRT_CD", StringType),
    StructField("ISU_ABBRV", StringType),
    StructField("TDD_CLSPRC", StringType),
    StructField("FLUC_RT", StringType),
    StructField("ACC_TRDVOL", StringType)))

  /** A1-old payload wrapper: `{"output": [...]}` (tasks_deprecated.py:82). */
  val krEtfOldPayload: StructType = StructType(Seq(
    StructField("output", ArrayType(krEtfOldItem))))

  /** A2: KRX industry codes (dags/brz_industry_code_daily/extractors.py:49-56)
    * + `issue_date` the silver SQL expects (industry_code_glue_job.py:44 —
    * documented reference inconsistency, SURVEY §7 risk 3). */
  val krxCodes: StructType = StructType(Seq(
    StructField("item_code", StringType),
    StructField("item_name", StringType),
    StructField("industry_code", StringType),
    StructField("market", StringType),
    StructField("issue_date", StringType)))

  /** A3: GICS classification rows (extractors.py:85-97). */
  val gicsCodes: StructType = StructType(Seq(
    StructField("code", StringType),
    StructField("name", StringType)))

  /** A4: Binance kline CSV columns (dags/brz_coin_daily/extractors.py:16-33). */
  val coin: StructType = StructType(Seq(
    StructField("Open_time", LongType),
    StructField("Open", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Close", DoubleType),
    StructField("Volume", DoubleType),
    StructField("Close_time", LongType),
    StructField("Quote_asset_volume", DoubleType),
    StructField("Number_of_trades", LongType),
    StructField("Taker_buy_base_asset_volume", DoubleType),
    StructField("Taker_buy_quote_asset_volume", DoubleType),
    StructField("Ignore", StringType),
    StructField("Symbol", StringType),
    StructField("Name", StringType)))

  /** A6: Business Insider bond chart points (brz_bonds_daily/extractors.py:64-87). */
  val bonds: StructType = StructType(Seq(
    StructField("Close", DoubleType),
    StructField("Open", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Volume", DoubleType),
    StructField("Estimate", DoubleType),
    StructField("Date", StringType),     // ISO with time
    StructField("bond_key", StringType),
    StructField("matures_in", IntegerType)))

  /** A7: bond metadata scraped map + name (brz_bonds_meta_monthly/extractors.py:41-51). */
  val bondsMeta: DataType = MapType(StringType, StringType)

  /** A8: yfinance OHLCV long layout (yfinance_operator.py:110-113). */
  val yfinanceLong: StructType = StructType(Seq(
    StructField("Date", DateType),
    StructField("Ticker", StringType),
    StructField("Adj Close", DoubleType),
    StructField("Close", DoubleType),
    StructField("High", DoubleType),
    StructField("Low", DoubleType),
    StructField("Open", DoubleType),
    StructField("Volume", LongType)))

  /** A11: NYT archive projection (brz_news_weekly/extractors.py:29-41). */
  val news: StructType = StructType(Seq(
    StructField("abstract", StringType),
    StructField("web_url", StringType),
    StructField("headline", StringType),
    StructField("pub_date", StringType),
    StructField("section_name", StringType),
    StructField("byline", StringType),
    StructField("word_count", IntegerType),
    StructField("keywords", ArrayType(StringType))))

  /** A12: KRX market holiday payload (brz_kr_market_holiday_daily/tasks.py:27). */
  val holidayRecord: StructType = StructType(Seq(
    StructField("calnd_dd_dy", StringType),
    StructField("dy_tp_cd", StringType),
    StructField("kr_dy_tp", StringType),
    StructField("holdy_nm", StringType)))
  val holidayPayload: StructType = StructType(Seq(
    StructField("block1", ArrayType(holidayRecord))))

  /** A13: BOK ECOS stat rows (bank_of_korea_operator.py:37-44). */
  val bokStat: StructType = StructType(Seq(
    StructField("STAT_CODE", StringType),
    StructField("STAT_NAME", StringType),
    StructField("ITEM_CODE1", StringType),
    StructField("ITEM_NAME1", StringType),
    StructField("UNIT_NAME", StringType),
    StructField("TIME", StringType),
    StructField("DATA_VALUE", StringType)))

  /** The live ECOS response envelope
    * (bank_of_korea_operator.py:16,95-98): rows plus the
    * list_total_count pagination control field. */
  val bokEnvelope: StructType = StructType(Seq(
    StructField("StatisticSearch", StructType(Seq(
      StructField("list_total_count", LongType),
      StructField("row", ArrayType(bokStat)))))))

  /** Silver dim_calendar as `CalendarJob` writes it: the data columns of
    * `CalendarOps.calendarDim` plus the audit stamps, then the `year`
    * partition column, all nullable — the schema a parquet read of the
    * table infers. */
  val dimCalendar: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("quarter", IntegerType),
    StructField("quarter_id", StringType),
    StructField("month_num", IntegerType),
    StructField("month_id", StringType),
    StructField("month_name", StringType),
    StructField("day_of_month", IntegerType),
    StructField("day_of_week", IntegerType),
    StructField("day_name", StringType),
    StructField("is_market_holiday", BooleanType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType),
    StructField("year", IntegerType)))

  /** Silver dim_industry_code (industry_code_glue_job.py:98). */
  val dimIndustryCode: StructType = StructType(Seq(
    StructField("item_code", StringType),
    StructField("item_name", StringType),
    StructField("industry_code", StringType),
    StructField("market", StringType),
    StructField("issue_date", DateType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))
}

