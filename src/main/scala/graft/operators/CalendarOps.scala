package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Calendar-dimension generation and working-day lookup.
  *
  * Reference semantics (cited into /root/reference/):
  *  - F3 calendar generation: dags/slv_generate_calendar_yearly/sql.py:26-82 —
  *    a plpgsql row-at-a-time loop; re-expressed set-based as
  *    `sequence(...interval 1 day)` + `explode`, trivially parallel.
  *  - Redshift `EXTRACT(DOW)` is Sunday=0 (sql.py:62-75); Spark `dayofweek`
  *    is Sunday=1 — shifted by -1 here, once (SURVEY §7 risk 1).
  *  - Korean day names (sql.py:64-70) are data, not locale formatting —
  *    explicit map, no `date_format(..,'EEEE')`.
  *  - F6 previous-working-day: dags/brz_kr_etf_daily/brz_kr_etf_daily.py:21-33
  *    correlated scalar subquery; both the SQL form (Catalyst decorrelates it)
  *    and the window form are provided and test-asserted equal.
  */
object CalendarOps {

  /** Korean day names keyed by Redshift-style DOW (Sunday=0). */
  private val dayNames = Map(
    0 -> "일요일", 1 -> "월요일",
    2 -> "화요일", 3 -> "수요일",
    4 -> "목요일", 5 -> "금요일",
    6 -> "토요일")

  /** English 3-letter month names as an explicit map (locale-proof on both
    * engine and oracle sides). */
  private val monthNames = Map(
    1 -> "Jan", 2 -> "Feb", 3 -> "Mar", 4 -> "Apr", 5 -> "May", 6 -> "Jun",
    7 -> "Jul", 8 -> "Aug", 9 -> "Sep", 10 -> "Oct", 11 -> "Nov", 12 -> "Dec")

  def dayNameCol(dow: Column): Column = typedLit(dayNames).apply(dow)
  def monthNameCol(m: Column): Column = typedLit(monthNames).apply(m)

  /** F3: one row per day of [startYear, endYear], with all derived columns of
    * the reference's dim_calendar (FIXTURES.md "Silver dims"). Audit
    * timestamps (F2) are appended by `withAudit` so oracle-checked outputs
    * can stay deterministic. */
  def calendarDim(spark: SparkSession, startYear: Int, endYear: Int): DataFrame = {
    import spark.implicits._
    spark.sql(
      s"""SELECT explode(sequence(to_date('$startYear-01-01'),
         |                        to_date('$endYear-12-31'),
         |                        interval 1 day)) AS date""".stripMargin)
      .select(
        $"date",
        year($"date").as("year"),
        quarter($"date").as("quarter"),
        concat(year($"date"), lit("Q"), quarter($"date")).as("quarter_id"),
        month($"date").as("month_num"),
        date_format($"date", "yyyyMM").as("month_id"),
        monthNameCol(month($"date")).as("month_name"),
        dayofmonth($"date").as("day_of_month"),
        (dayofweek($"date") - 1).as("day_of_week"),
        dayNameCol(dayofweek($"date") - 1).as("day_name"),
        dayofweek($"date").isin(1, 7).as("is_market_holiday"))
  }

  /** F2: audit-column append (industry_code_glue_job.py:49-51). Both
    * stamps are one `TIMESTAMP` instant, taken once per call. It enters the
    * plan through a nondeterministic UDF, which generated code holds as a
    * reference object: `current_timestamp()` folds into a literal that
    * codegen inlines, so every run compiled its classes afresh. */
  def withAudit(df: DataFrame): DataFrame = {
    val now = java.time.Instant.now()
    val stamp = udf(() => now).asNondeterministic().asNonNullable()
    df.withColumn("created_at", stamp()).withColumn("updated_at", stamp())
  }

  /** F6, window form: previous non-holiday date strictly before each date.
    * A running `max(case when working then date end)` over date order —
    * single sort, no self-join; at scale the calendar dim is tiny (365 rows
    * per year), so the single-partition window is not a bottleneck. */
  def previousWorkingDay(calendar: DataFrame): DataFrame = {
    val w = Window.orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, -1)
    calendar.withColumn(
      "previous_working_day",
      max(when(!col("is_market_holiday"), col("date"))).over(w))
  }

  /** F6, correlated-subquery form — the reference SQL verbatim in Spark
    * dialect (brz_kr_etf_daily.py:21-33); Catalyst decorrelates it into an
    * aggregate + left outer join. Kept for test-asserted equivalence with
    * the window form. */
  def previousWorkingDaySql(spark: SparkSession, calendar: DataFrame): DataFrame = {
    calendar.createOrReplaceTempView("dim_calendar_pwd")
    spark.sql(
      """SELECT dc.date, dc.is_market_holiday,
        |       (SELECT MAX(dc_sub.date) FROM dim_calendar_pwd dc_sub
        |         WHERE dc_sub.date < dc.date
        |           AND dc_sub.is_market_holiday = false) AS previous_working_day
        |  FROM dim_calendar_pwd dc""".stripMargin)
  }

  /** F18: year-end last weekday (dedicated KRX closing day,
    * tasks_deprecated.py:35-42) — closed-form instead of the reference's
    * walk-back loop: Dec 31 shifted back 2 days if Sunday, 1 if Saturday. */
  def yearEndLastWeekday(yearCol: Column): Column = {
    val dec31 = to_date(concat(yearCol, lit("-12-31")))
    val dow = dayofweek(dec31) // 1=Sun..7=Sat
    date_sub(dec31, when(dow === 1, 2).when(dow === 7, 1).otherwise(0))
  }

  /** F7: per-interval date formatting (bank_of_korea_operator.py:147-168). */
  def formatForInterval(d: Column, interval: String): Column = interval match {
    case "DAILY"     => date_format(d, "yyyyMMdd")
    case "MONTHLY"   => date_format(d, "yyyyMM")
    case "QUARTERLY" => concat(year(d), lit("Q"), quarter(d))
    case "YEARLY"    => year(d).cast("string")
    case other       => throw new IllegalArgumentException(s"interval: $other")
  }

  /** F19: holiday-list membership (tasks_deprecated.py:10-48) — semi-join
    * against a holiday table instead of a driver-side `in` check. */
  def filterWorkingDays(df: DataFrame, dateCol: String, holidays: DataFrame,
                        holidayDateCol: String): DataFrame =
    df.join(holidays.select(col(holidayDateCol).as(dateCol)),
      Seq(dateCol), "left_anti")

  /** Merge/upsert semantics for late-arriving market holidays (SURVEY §7
    * risk 2): the calendar is generated with only weekends flagged
    * (sql.py:72-75); true exchange holidays arrive later from the S12
    * feed. Broadcast left join + OR — re-overwrite the year partition
    * with the result for an idempotent upsert. */
  def applyHolidays(calendar: DataFrame, holidays: DataFrame,
                    holidayDateCol: String): DataFrame = {
    val h = holidays.select(to_date(col(holidayDateCol)).as("date"),
      lit(true).as("__h")).distinct()
    calendar.join(broadcast(h), Seq("date"), "left")
      .withColumn("is_market_holiday",
        col("is_market_holiday") || coalesce(col("__h"), lit(false)))
      .drop("__h")
  }
}
