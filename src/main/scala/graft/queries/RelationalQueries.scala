package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Sum128.sum128
import graft.operators.{CalendarOps, RelationalOps}

/** The SURVEY §2C relational surface + the classic-operator checklist
  * (joins, aggregations, windows, sorts/limits, set ops), expressed over
  * the driver test tables with DuckDB oracle twins.
  *
  * Scale notes apply to every query here: aggregations are partial
  * (map-side combine) by construction; dim joins (region/nation/supplier)
  * are broadcast; only genuinely key-wide shuffles (groupBy on fact keys)
  * move data. Doubles are rounded identically on both engine and oracle
  * sides before any sort/limit, so result sets are deterministic.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  // --- Aggregation core -------------------------------------------------

  private val q1 = Q(
    "q1_pricing_summary",
    (s, dir) => {
      import s.implicits._
      t(s, dir).lineitem
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          (floor((sum($"l_quantity")) * 1e2 + 0.5) / 1e2).as("sum_qty"),
          (sum128(floor($"l_extendedprice" * 100 + 0.5)).cast("double") / 1e2).as("sum_base_price"),
          (floor(sum128(floor($"l_extendedprice" * 100 + 0.5) * (lit(100L) - floor($"l_discount" * 100 + 0.5))).cast("double") / 100 + 0.5) / 1e2).as("sum_disc_price"),
          // money sums via the exact 128-bit integer aggregate: the
          // 3-factor product is ~1e11 per row (a long SUM overflows
          // ~sf100, a double sum goes order-nondeterministic past 2^53),
          // and sum128 is bit-identical to the decimal(38,0) sum
          (floor(sum128(floor($"l_extendedprice" * 100 + 0.5) *
              (lit(100L) - floor($"l_discount" * 100 + 0.5)) *
              (lit(100L) + floor($"l_tax" * 100 + 0.5)))
            .cast("double") / 1e4 + 0.5) / 1e2).as("sum_charge"),
          (floor((avg($"l_quantity")) * 1e4 + 0.5) / 1e4).as("avg_qty"),
          (floor(sum128(floor($"l_extendedprice" * 100 + 0.5)).cast("double") / count($"l_extendedprice") * 1e2 + 0.5) / 1e4).as("avg_price"),
          (floor(sum128(floor($"l_discount" * 100 + 0.5)).cast("double") / count($"l_discount") * 1e2 + 0.5) / 1e4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
           | (floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2) AS sum_qty,
           | (CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / 1e2) AS sum_base_price,
           | (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS STRING) AS DOUBLE) / 100 + 0.5) / 1e2) AS sum_disc_price,
           | (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           |     * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
           |     * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))) AS STRING) AS DOUBLE)
           |   / 1e4 + 0.5) / 1e2) AS sum_charge,
           | (floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4) AS avg_qty,
           | (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / count(l_extendedprice) * 1e2 + 0.5) / 1e4) AS avg_price,
           | (floor(CAST(CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / count(l_discount) * 1e2 + 0.5) / 1e4) AS avg_disc,
           | count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  // --- Joins ------------------------------------------------------------

  /** customer ⋈ orders ⋈ lineitem, top-10 orders by revenue. Revenue is
    * rounded before the sort so the top-10 cut is identical on both sides;
    * ties broken by orderkey. Planned as two shuffles + TakeOrderedAndProject. */
  private val q3 = Q(
    "q3_top_revenue_orders",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      tt.lineitem
        .join(tt.orders, $"l_orderkey" === $"o_orderkey")
        .join(tt.customer, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"c_mktsegment")
        .agg((floor(sum128(floor($"l_extendedprice" * 100 + 0.5) * (lit(100L) - floor($"l_discount" * 100 + 0.5))).cast("double") / 100 + 0.5) / 1e2).as("revenue"))
        // format above the TakeOrderedAndProject: the 10 survivors get a
        // string date, not every aggregated order (A/B: 1.11x at sf0.1)
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
        .select($"l_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
          $"c_mktsegment", $"revenue")
    },
    Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           |       c_mktsegment,
           |       (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS STRING) AS DOUBLE) / 100 + 0.5) / 1e2) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |GROUP BY l_orderkey, o_orderdate, c_mktsegment
           |ORDER BY revenue DESC, l_orderkey
           |LIMIT 10""".stripMargin))

  /** Fact ⋈ three dims; dims explicitly broadcast (at 100 TB the fact side
    * shuffles once for the groupBy, dims never shuffle). */
  private val q5 = Q(
    "q5_region_revenue",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      tt.lineitem
        .join(broadcast(tt.supplier), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(tt.nation), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(tt.region), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg((floor(sum128(floor($"l_extendedprice" * 100 + 0.5) * (lit(100L) - floor($"l_discount" * 100 + 0.5))).cast("double") / 100 + 0.5) / 1e2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"r_name")
    },
    Some("""SELECT r_name,
           |       (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS STRING) AS DOUBLE) / 100 + 0.5) / 1e2) AS revenue,
           |       count(*) AS n_items
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name
           |ORDER BY r_name""".stripMargin))

  /** S3: ticker-universe lookup — dim keys + market→suffix map literal
    * (yfinance_operator.py:60-82, suffix map at :17), as a broadcast join
    * plus `typedLit(Map)` lookup. */
  private val s3Lookup = Q(
    "s3_dim_lookup_symbols",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      val suffix = typedLit(Map(
        "AFRICA" -> "AF", "AMERICA" -> "AM", "ASIA" -> "AS",
        "EUROPE" -> "EU", "MIDDLE EAST" -> "ME"))
      tt.customer
        .join(broadcast(tt.nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(tt.region), $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey",
          concat($"c_name", lit("."), suffix($"r_name")).as("symbol"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey,
           |       c_name || '.' ||
           |       CASE r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
           |            WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
           |            WHEN 'MIDDLE EAST' THEN 'ME' END AS symbol
           |FROM customer
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |ORDER BY c_custkey""".stripMargin))

  /** F5: anti-join completeness — customers that never ordered. */
  private val f5 = Q(
    "f5_anti_join_missing",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      RelationalOps.missingKeys(
        tt.customer.select($"c_custkey", $"c_name"),
        tt.orders.select($"o_custkey".as("c_custkey")),
        Seq("c_custkey"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
           |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** Semi-join (EXISTS): suppliers with any 1998 shipment. */
  private val semi = Q(
    "semi_join_active_suppliers",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      tt.supplier
        .join(tt.lineitem.filter(year($"l_shipdate") === 1998)
          .select($"l_suppkey".as("s_suppkey")), Seq("s_suppkey"), "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name FROM supplier s
           |WHERE EXISTS (SELECT 1 FROM lineitem l
           |              WHERE l.l_suppkey = s.s_suppkey
           |                AND year(l_shipdate) = 1998)
           |ORDER BY s_suppkey""".stripMargin))

  /** Correlated scalar subquery (the F6 pattern generalized; TPC-H q17
    * shape) — run through spark.sql so Catalyst's decorrelation is the
    * code path under test. */
  private val q17 = Q(
    "q17_correlated_subquery",
    (s, dir) => {
      t(s, dir).lineitem.createOrReplaceTempView("lineitem_q17")
      s.sql(
        """SELECT (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / 100 / 7.0 * 1e2 + 0.5) / 1e2) AS avg_yearly
          |FROM lineitem_q17 l1
          |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
          |                    FROM lineitem_q17 l2
          |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
    },
    Some("""SELECT (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / 100 / 7.0 * 1e2 + 0.5) / 1e2) AS avg_yearly
           |FROM lineitem l1
           |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
           |                    FROM lineitem l2
           |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin))

  // --- Calendar / working day (F3, F6, F7, F18) -------------------------

  private val f3 = Q(
    "f3_calendar_dim",
    (s, dir) => CalendarOps.calendarDim(s, 2024, 2025)
      .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
      .orderBy("date"),
    Some {
      val monthCase = (1 to 12).map(m =>
        s"WHEN $m THEN '${Seq("Jan","Feb","Mar","Apr","May","Jun","Jul","Aug","Sep","Oct","Nov","Dec")(m - 1)}'")
        .mkString(" ")
      val dayCase = Seq("일요일","월요일","화요일","수요일","목요일","금요일","토요일")
        .zipWithIndex.map { case (n, i) => s"WHEN $i THEN '$n'" }.mkString(" ")
      s"""WITH days AS (
         |  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2025-12-31',
         |                                INTERVAL 1 DAY))::DATE AS date)
         |SELECT strftime(date, '%Y-%m-%d') AS date,
         |       year(date)::INT AS year,
         |       quarter(date)::INT AS quarter,
         |       year(date)::VARCHAR || 'Q' || quarter(date)::VARCHAR AS quarter_id,
         |       month(date)::INT AS month_num,
         |       strftime(date, '%Y%m') AS month_id,
         |       CASE month(date) $monthCase END AS month_name,
         |       day(date)::INT AS day_of_month,
         |       dayofweek(date)::INT AS day_of_week,
         |       CASE dayofweek(date) $dayCase END AS day_name,
         |       dayofweek(date) IN (0, 6) AS is_market_holiday
         |FROM days ORDER BY date""".stripMargin
    })

  private val f6 = Q(
    "f6_prev_working_day",
    (s, dir) => {
      val cal = CalendarOps.calendarDim(s, 2025, 2025)
      CalendarOps.previousWorkingDay(cal)
        .select(
          date_format(col("date"), "yyyy-MM-dd").as("date"),
          col("is_market_holiday"),
          date_format(col("previous_working_day"), "yyyy-MM-dd")
            .as("previous_working_day"))
        .orderBy("date")
    },
    Some("""WITH dim_calendar AS (
           |  SELECT d::DATE AS date, dayofweek(d) IN (0, 6) AS is_market_holiday
           |  FROM (SELECT unnest(generate_series(DATE '2025-01-01',
           |                 DATE '2025-12-31', INTERVAL 1 DAY)) AS d))
           |SELECT strftime(dc.date, '%Y-%m-%d') AS date, dc.is_market_holiday,
           |       strftime((SELECT max(s.date) FROM dim_calendar s
           |         WHERE s.date < dc.date AND s.is_market_holiday = false),
           |         '%Y-%m-%d') AS previous_working_day
           |FROM dim_calendar dc ORDER BY dc.date""".stripMargin))

  private val f7 = Q(
    "f7_interval_formats",
    (s, dir) => {
      import s.implicits._
      // the f1 lesson (NOTES_r14 §4b): format AFTER the sort — the range
      // partitioner's sampling pass evaluates the pre-sort plan, so four
      // per-row formatters below the orderBy run twice and the sort rows
      // carry four strings instead of one 4-byte date (A/B: 1.34x at sf0.1)
      t(s, dir).orders
        .select($"o_orderkey", to_date($"o_orderdate").as("d"))
        .orderBy($"o_orderkey")
        .select($"o_orderkey",
          CalendarOps.formatForInterval($"d", "DAILY").as("fmt_daily"),
          CalendarOps.formatForInterval($"d", "MONTHLY").as("fmt_monthly"),
          CalendarOps.formatForInterval($"d", "QUARTERLY").as("fmt_quarterly"),
          CalendarOps.formatForInterval($"d", "YEARLY").as("fmt_yearly"))
    },
    Some("""SELECT o_orderkey,
           |       strftime(o_orderdate, '%Y%m%d') AS fmt_daily,
           |       strftime(o_orderdate, '%Y%m') AS fmt_monthly,
           |       year(o_orderdate)::VARCHAR || 'Q' || quarter(o_orderdate)::VARCHAR
           |         AS fmt_quarterly,
           |       year(o_orderdate)::VARCHAR AS fmt_yearly
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  private val f18 = Q(
    "f18_year_end_last_weekday",
    (s, dir) => {
      import s.implicits._
      s.sql("SELECT explode(sequence(2015, 2030)) AS year")
        .select($"year",
          date_format(CalendarOps.yearEndLastWeekday($"year"), "yyyy-MM-dd")
            .as("last_weekday"))
        .orderBy($"year")
    },
    Some("""SELECT y::INT AS year,
           |       strftime(make_date(y::INT, 12, 31) -
           |         CASE dayofweek(make_date(y::INT, 12, 31))
           |           WHEN 0 THEN 2 WHEN 6 THEN 1 ELSE 0 END,
           |         '%Y-%m-%d') AS last_weekday
           |FROM (SELECT unnest(generate_series(2015, 2030)) AS y)
           |ORDER BY year""".stripMargin))

  /** KR market-holiday fixture (2025 subset) for F19 — includes a Sunday
    * (already weekend-flagged: OR must keep it true) and a duplicate feed
    * row (distinct must collapse it). */
  private val holidayFixture = Seq(
    "2025-01-01", "2025-01-28", "2025-01-29", "2025-01-30",
    "2025-03-03", "2025-05-05", "2025-05-06", "2025-06-03",
    "2025-08-15", "2025-10-03", "2025-10-06", "2025-10-07",
    "2025-10-08", "2025-10-09", "2025-12-25", "2025-12-31",
    "2025-10-05", // Sunday — weekend flag already true
    "2025-01-01") // duplicate feed row

  /** F19 upsert (SURVEY hard-part #2): exchange holidays from the S12 feed
    * merged into the weekend-only dim_calendar — broadcast left join + OR
    * (CalendarOps.applyHolidays); the year partition is then re-overwritten
    * idempotently. Reference semantics sql.py:72-75 + S12. */
  private val f19 = Q(
    "f19_apply_holidays",
    (s, dir) => {
      import s.implicits._
      val cal = CalendarOps.calendarDim(s, 2025, 2025)
      val holidays = holidayFixture.toDF("holiday_date")
      CalendarOps.applyHolidays(cal, holidays, "holiday_date")
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"),
          $"day_of_week", $"is_market_holiday")
        .orderBy($"date")
    },
    Some {
      val inList = holidayFixture.distinct.map(d => s"DATE '$d'").mkString(", ")
      s"""WITH days AS (
         |  SELECT unnest(generate_series(DATE '2025-01-01', DATE '2025-12-31',
         |                                INTERVAL 1 DAY))::DATE AS date)
         |SELECT strftime(date, '%Y-%m-%d') AS date,
         |       dayofweek(date)::INT AS day_of_week,
         |       dayofweek(date) IN (0, 6) OR date IN ($inList) AS is_market_holiday
         |FROM days ORDER BY date""".stripMargin
    })

  // --- Reshaping (F1, F4, F11, F13, F14, F8) ----------------------------

  private val f1 = Q(
    "f1_conform_cast_rename",
    (s, dir) => {
      val conformed = RelationalOps.conform(
        t(s, dir).lineitem,
        keep = Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag"),
        casts = Map("l_shipdate" -> "date"),
        renames = Map("l_orderkey" -> "order_key", "l_linenumber" -> "line_number",
          "l_shipdate" -> "ship_date", "l_returnflag" -> "return_flag"))
      // format AFTER the sort: the range partitioner's sampling pass and
      // the sort rows then carry a 4-byte date, not a 10-char string, and
      // the per-row formatter runs once in the post-sort projection
      // instead of once more during sampling (measured ~1.9x at sf0.1)
      conformed
        .orderBy("order_key", "line_number")
        .withColumn("ship_date", date_format(col("ship_date"), "yyyy-MM-dd"))
    },
    Some("""SELECT l_orderkey AS order_key, l_linenumber AS line_number,
           |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
           |       l_returnflag AS return_flag
           |FROM lineitem ORDER BY order_key, line_number""".stripMargin))

  /** F1 + quarantine channel: a deterministically-dirtied raw feed
    * (orders re-serialized to strings; every 97th key gets an unparseable
    * price, every 89th a missing date) conformed with try_cast + required
    * checks. The query returns the QUARANTINE side — rows with their
    * triage reasons — and the oracle re-derives the identical channel,
    * including multi-reason rows (keys divisible by both 97 and 89). */
  private val f1Quarantine = Q(
    "f1_conform_quarantine",
    (s, dir) => {
      import s.implicits._
      val raw = t(s, dir).orders.select(
        $"o_orderkey".cast("string").as("k_raw"),
        when($"o_orderkey" % 97 === 0, lit("N/A"))
          .otherwise($"o_totalprice".cast("decimal(15,2)").cast("string"))
          .as("price_raw"),
        when($"o_orderkey" % 89 === 0, lit(null).cast("string"))
          .otherwise($"o_orderdate".cast("date").cast("string"))
          .as("date_raw"))
      RelationalOps.conformWithQuarantine(raw,
          keep = Seq("k_raw", "price_raw", "date_raw"),
          casts = Map("k_raw" -> "bigint", "price_raw" -> "decimal(15,2)",
            "date_raw" -> "date"),
          required = Seq("date_raw"),
          renames = Map("k_raw" -> "order_key", "price_raw" -> "price",
            "date_raw" -> "order_date"))
        .filter(!$"is_valid")
        .select($"order_key", $"price".cast("double").as("price"),
          date_format($"order_date", "yyyy-MM-dd").as("order_date"),
          $"reject_reasons")
        .orderBy($"order_key")
    },
    Some("""WITH raw AS (
           |  SELECT o_orderkey::VARCHAR AS k_raw,
           |         CASE WHEN o_orderkey % 97 = 0 THEN 'N/A'
           |              ELSE o_totalprice::DECIMAL(15,2)::VARCHAR END AS price_raw,
           |         CASE WHEN o_orderkey % 89 = 0 THEN NULL
           |              ELSE o_orderdate::DATE::VARCHAR END AS date_raw
           |  FROM orders),
           |c AS (
           |  SELECT try_cast(k_raw AS BIGINT) AS order_key,
           |         try_cast(price_raw AS DECIMAL(15,2)) AS price,
           |         try_cast(date_raw AS DATE) AS od,
           |         array_to_string([x FOR x IN [
           |           CASE WHEN k_raw IS NOT NULL
           |                 AND try_cast(k_raw AS BIGINT) IS NULL
           |                THEN 'cast_failed:k_raw' END,
           |           CASE WHEN price_raw IS NOT NULL
           |                 AND try_cast(price_raw AS DECIMAL(15,2)) IS NULL
           |                THEN 'cast_failed:price_raw' END,
           |           CASE WHEN date_raw IS NOT NULL
           |                 AND try_cast(date_raw AS DATE) IS NULL
           |                THEN 'cast_failed:date_raw' END,
           |           CASE WHEN date_raw IS NULL THEN 'null:date_raw' END
           |         ] IF x IS NOT NULL], ',') AS reject_reasons
           |  FROM raw)
           |SELECT order_key, price::DOUBLE AS price,
           |       strftime(od, '%Y-%m-%d') AS order_date,
           |       reject_reasons
           |FROM c WHERE reject_reasons <> '' ORDER BY order_key""".stripMargin))

  private val f4 = Q(
    "f4_unpivot_measures",
    (s, dir) => {
      import s.implicits._
      val long = RelationalOps.unpivotWide(
        t(s, dir).lineitem,
        ids = Seq("l_orderkey", "l_linenumber"),
        values = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        varName = "measure", valName = "value")
      long.groupBy($"measure")
        .agg((sum(floor($"value" * 100 + 0.5)) / 1e2).as("total"), count(lit(1)).as("n"))
        .orderBy($"measure")
    },
    Some("""WITH long AS (
           |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
           |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
           |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
           |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
           |SELECT measure, (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 1e2) AS total, count(*) AS n
           |FROM long GROUP BY measure ORDER BY measure""".stripMargin))

  private val pivotQ = Q(
    "pivot_returnflag",
    (s, dir) => {
      import s.implicits._
      t(s, dir).lineitem
        .groupBy($"l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg((floor((sum($"l_quantity")) * 1e2 + 0.5) / 1e2))
        .orderBy($"l_linestatus")
    },
    Some("""SELECT l_linestatus,
           |       (floor((sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END)) * 1e2 + 0.5) / 1e2) AS "A",
           |       (floor((sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END)) * 1e2 + 0.5) / 1e2) AS "N",
           |       (floor((sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)) * 1e2 + 0.5) / 1e2) AS "R"
           |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin))

  private val f11 = Q(
    "f11_bucket_code_length",
    (s, dir) => {
      import s.implicits._
      t(s, dir).part
        .withColumn("category",
          RelationalOps.bucketByCodeLength($"p_partkey".cast("string")))
        .groupBy($"category").agg(count(lit(1)).as("n"))
        .orderBy($"category")
    },
    Some("""SELECT CASE length(CAST(p_partkey AS VARCHAR))
           |         WHEN 2 THEN 'sector' WHEN 4 THEN 'industry_group'
           |         WHEN 6 THEN 'industry' WHEN 8 THEN 'sub_industry'
           |         ELSE 'unknown' END AS category,
           |       count(*) AS n
           |FROM part GROUP BY 1 ORDER BY category""".stripMargin))

  private val f13 = Q(
    "f13_zero_fill_grid",
    (s, dir) => {
      import s.implicits._
      val o = t(s, dir).orders
      val days = o.select(to_date($"o_orderdate").as("order_date")).distinct()
      val statuses = o.select($"o_orderstatus").distinct()
      val grid = days.crossJoin(broadcast(statuses))
      val actual = o.groupBy(to_date($"o_orderdate").as("order_date"), $"o_orderstatus")
        .agg((sum(floor($"o_totalprice" * 100 + 0.5)) / 1e2).as("total"), count(lit(1)).as("n"))
      RelationalOps.zeroFill(grid, actual,
        keys = Seq("order_date", "o_orderstatus"), valueCols = Seq("total", "n"))
        .withColumn("order_date", date_format($"order_date", "yyyy-MM-dd"))
        .orderBy($"order_date", $"o_orderstatus")
    },
    Some("""WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders),
           |statuses AS (SELECT DISTINCT o_orderstatus FROM orders),
           |actual AS (
           |  SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderstatus,
           |         (sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 1e2) AS total, count(*) AS n
           |  FROM orders GROUP BY 1, 2)
           |SELECT strftime(d.order_date, '%Y-%m-%d') AS order_date, s.o_orderstatus,
           |       coalesce(a.total, 0) AS total, coalesce(a.n, 0) AS n
           |FROM days d CROSS JOIN statuses s
           |LEFT JOIN actual a ON a.order_date = d.order_date
           |                  AND a.o_orderstatus = s.o_orderstatus
           |ORDER BY d.order_date, s.o_orderstatus""".stripMargin))

  private val f14 = Q(
    "f14_normalize_keys",
    (s, dir) => {
      import s.implicits._
      t(s, dir).part
        .select(RelationalOps.normalizeKey($"p_type").as("type_key"), $"p_retailprice")
        .groupBy($"type_key")
        .agg(count(lit(1)).as("n"), (floor((min($"p_retailprice")) * 1e2 + 0.5) / 1e2).as("min_price"))
        .orderBy($"type_key")
    },
    Some("""SELECT lower(replace(trim(p_type), ' ', '_')) AS type_key,
           |       count(*) AS n, (floor((min(p_retailprice)) * 1e2 + 0.5) / 1e2) AS min_price
           |FROM part GROUP BY 1 ORDER BY type_key""".stripMargin))

  private val f8 = Q(
    "f8_string_slice_maturity",
    (s, dir) => {
      import s.implicits._
      t(s, dir).orders
        .select($"o_orderkey",
          concat(lit("KR_"),
            (year($"o_orderdate") - ($"o_orderkey" % 5)).cast("string"),
            lit("-"),
            (year($"o_orderdate") + ($"o_orderkey" % 7)).cast("string")).as("bond_key"))
        .withColumn("matures_in", RelationalOps.maturesIn($"bond_key"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
           |       'KR_' || (year(o_orderdate) - o_orderkey % 5)::VARCHAR || '-'
           |             || (year(o_orderdate) + o_orderkey % 7)::VARCHAR AS bond_key,
           |       (CAST(right('KR_' || (year(o_orderdate) - o_orderkey % 5)::VARCHAR || '-'
           |                 || (year(o_orderdate) + o_orderkey % 7)::VARCHAR, 4) AS INT)
           |        - CAST(substr('KR_' || (year(o_orderdate) - o_orderkey % 5)::VARCHAR || '-'
           |                 || (year(o_orderdate) + o_orderkey % 7)::VARCHAR, 4, 4) AS INT))
           |         AS matures_in
           |FROM orders ORDER BY o_orderkey""".stripMargin))

  // --- Set ops ----------------------------------------------------------

  private val setExcept = Q(
    "setops_except",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir).customer
      c.filter($"c_acctbal" > 1000).select($"c_custkey")
        .except(c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey FROM customer WHERE c_acctbal > 1000
           |EXCEPT
           |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           |ORDER BY c_custkey""".stripMargin))

  private val setIntersect = Q(
    "setops_intersect",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir).customer
      c.filter($"c_acctbal" > 1000).select($"c_custkey")
        .intersect(c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey FROM customer WHERE c_acctbal > 1000
           |INTERSECT
           |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           |ORDER BY c_custkey""".stripMargin))

  private val setUnion = Q(
    "setops_union_distinct",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      tt.customer.select($"c_nationkey".as("nationkey"))
        .union(tt.supplier.select($"s_nationkey".as("nationkey")))
        .distinct()
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
           |UNION
           |SELECT s_nationkey FROM supplier
           |ORDER BY nationkey""".stripMargin))

  // --- Windows / top-k --------------------------------------------------

  private val topkOracle =
    """SELECT c_mktsegment, rk::INT AS rk, c_custkey, (floor((c_acctbal) * 1e2 + 0.5) / 1e2) AS acctbal
      |FROM (SELECT *, row_number() OVER
      |        (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
      |      FROM customer)
      |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin

  /** Deployed per-group top-k: bounded-heap [[graft.functions.TopKAggregator]]
    * — each partition partial-aggregates to ≤k (acctbal, custkey) pairs per
    * segment before the exchange, so the shuffle carries O(partitions × k)
    * rows and parallelism is not capped at #groups. The `row_number` window
    * form (which sort-shuffles every row onto #group keys) is kept as its
    * own oracle twin, [[topkWindowForm]]. rank = position in the aggregated
    * (score desc, id asc) heap, identical to the window's ordering. */
  private val topk = Q(
    "window_topk_per_group",
    (s, dir) => {
      import s.implicits._
      val topkAgg = udaf(new graft.functions.TopKAggregator(3))
      t(s, dir).customer
        .groupBy($"c_mktsegment")
        .agg(topkAgg($"c_acctbal", $"c_custkey").as("__top"))
        .select($"c_mktsegment", posexplode($"__top"))
        .select($"c_mktsegment", ($"pos" + 1).cast("int").as("rk"),
          $"col._2".as("c_custkey"), (floor(($"col._1") * 1e2 + 0.5) / 1e2).as("acctbal"))
        .orderBy($"c_mktsegment", $"rk")
    },
    Some(topkOracle))

  /** The same top-k as a `row_number` window — the classic form, kept as a
    * second oracle-checked query so both plans stay value-verified. */
  private val topkWindowForm = Q(
    "window_topk_window_form",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"c_acctbal".desc, $"c_custkey")
      t(s, dir).customer
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"c_mktsegment", $"rk", $"c_custkey", (floor(($"c_acctbal") * 1e2 + 0.5) / 1e2).as("acctbal"))
        .orderBy($"c_mktsegment", $"rk")
    },
    Some(topkOracle))

  /** Full outer join: per-nation customer vs supplier counts — nations
    * with only one side present keep NULL-coalesced zeros on the other.
    * Both sides pre-aggregate to ≤ #nations rows BEFORE the join (partial
    * aggregation collapses the big tables map-side), so the outer join
    * itself touches only dim-sized inputs. */
  private val fullOuter = Q(
    "join_full_outer_nations",
    (s, dir) => {
      import s.implicits._
      val c = t(s, dir).customer.groupBy($"c_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      val su = t(s, dir).supplier.groupBy($"s_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select($"nationkey",
          coalesce($"n_customers", lit(0L)).as("n_customers"),
          coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
        .orderBy($"nationkey")
    },
    Some("""WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
           |           FROM customer GROUP BY 1),
           |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
           |      FROM supplier GROUP BY 1)
           |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           |       coalesce(n_customers, 0) AS n_customers,
           |       coalesce(n_suppliers, 0) AS n_suppliers
           |FROM c FULL OUTER JOIN s USING (nationkey)
           |ORDER BY nationkey""".stripMargin))

  /** first_value / last_value / nth_value over an explicit full-partition
    * frame — the frame spec matters: last_value over the DEFAULT frame
    * (unbounded preceding → current row) is just the current row, a
    * classic window footgun both engines share. */
  private val firstLast = Q(
    "window_first_last",
    (s, dir) => {
      import s.implicits._
      val frame = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir).orders
        .select($"o_orderstatus", $"o_orderkey",
          first($"o_orderkey").over(frame).as("first_key"),
          last($"o_orderkey").over(frame).as("last_key"),
          nth_value($"o_orderkey", 2).over(frame).as("second_key"))
        .groupBy($"o_orderstatus")
        .agg(max($"first_key").as("first_key"), max($"last_key").as("last_key"),
          max($"second_key").as("second_key"), count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
           |       max(first_key) AS first_key, max(last_key) AS last_key,
           |       max(second_key) AS second_key, count(*) AS n
           |FROM (SELECT o_orderstatus,
           |        first_value(o_orderkey) OVER w AS first_key,
           |        last_value(o_orderkey) OVER w AS last_key,
           |        nth_value(o_orderkey, 2) OVER w AS second_key
           |      FROM orders
           |      WINDOW w AS (PARTITION BY o_orderstatus
           |        ORDER BY o_orderdate, o_orderkey
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** TPC-H Q7 shape — bilateral shipping volume: revenue flowing between
    * two chosen nations (supplier side ↔ customer side) per year, both
    * directions. Five joins: the fact table joins four dims, every dim
    * side broadcast; the cross-pair filter ((s=A ∧ c=B) ∨ (s=B ∧ c=A))
    * lands on the joined row before aggregation. Catalyst's join reorder
    * + broadcast selection is the thing under test. */
  private val q7 = Q(
    "q7_nation_volume",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      // hint policy: only CONSTANT-bounded tables (nation: 25 rows) get a
      // broadcast hint; customer/supplier scale with SF, so their join
      // strategy is left to Catalyst/AQE (broadcast when measured-small)
      tt.lineitem
        .join(tt.orders, $"l_orderkey" === $"o_orderkey")
        .join(tt.customer, $"o_custkey" === $"c_custkey")
        .join(tt.supplier, $"l_suppkey" === $"s_suppkey")
        .join(broadcast(tt.nation.select($"n_nationkey".as("ck"),
          $"n_name".as("cust_nation"))), $"c_nationkey" === $"ck")
        .join(broadcast(tt.nation.select($"n_nationkey".as("sk"),
          $"n_name".as("supp_nation"))), $"s_nationkey" === $"sk")
        .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
          ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
        // exact integer micro-units (cents × remaining-discount basis
        // points) into the sum — a double sum's last ulp depends on
        // accumulation order, and rounding it at 2dp can land either side
        // of the boundary per engine/SF; the per-row product stays BIGINT
        // (~1.1e9) but the accumulator widens to a 128-bit integer: a long
        // sum wraps silently around sf~4000, and DECIMAL→DOUBLE is
        // correctly rounded (the oracle twin routes its HUGEINT sum
        // through VARCHAR→DOUBLE, DuckDB's only correctly-rounded path)
        .withColumn("vol_u",
          round($"l_extendedprice" * 100).cast("long") *
            (lit(100L) - round($"l_discount" * 100).cast("long")))
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").as("l_year"))
        .agg((floor((sum128($"vol_u").cast("double")
            / 10000.0) * 1e2 + 0.5) / 1e2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    },
    Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           |       year(l_shipdate)::INT AS l_year,
           |       (floor((sum(round(l_extendedprice*100)::BIGINT
           |                 * (100 - round(l_discount*100)::BIGINT))::VARCHAR::DOUBLE / 10000.0) * 1e2 + 0.5) / 1e2)
           |         AS revenue,
           |       count(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation cn ON c_nationkey = cn.n_nationkey
           |JOIN nation sn ON s_nationkey = sn.n_nationkey
           |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  /** TPC-H Q8 shape — market share: NATION_3 suppliers' fraction of total
    * PROMO-part revenue per order year. The share is a conditional-sum /
    * sum ratio computed INSIDE each group (one aggregation, no second
    * pass); integer-exact counts ride along, the double ratio rounds at
    * 6 after identical-operand division on both engines. */
  private val q8 = Q(
    "q8_market_share",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      // part/supplier scale with SF — no forced broadcast (AQE decides);
      // nation is constant-bounded
      tt.lineitem
        .join(tt.part.filter($"p_type" === "PROMO"),
          $"l_partkey" === $"p_partkey")
        .join(tt.orders, $"l_orderkey" === $"o_orderkey")
        .join(tt.supplier, $"l_suppkey" === $"s_suppkey")
        .join(broadcast(tt.nation), $"s_nationkey" === $"n_nationkey")
        // exact integer micro-units into both sums (see q7): per-row
        // cents × basis points is decimal-exact as a long, so the sums
        // are order-independent and identical across engines; a raw
        // double sum's 2dp rounding can flip on the last ulp (observed
        // at sf0.001 on total_vol before this form)
        .withColumn("vol_u",
          round($"l_extendedprice" * 100).cast("long") *
            (lit(100L) - round($"l_discount" * 100).cast("long")))
        .groupBy(year($"o_orderdate").as("o_year"))
        // 128-bit integer accumulators for the same reason as q7: the
        // long sum wraps ~sf4000, and sum128's DECIMAL(38,0)→DOUBLE is
        // Spark's correctly-rounded conversion (twin: HUGEINT sum →
        // VARCHAR → DOUBLE)
        .agg(
          sum128(when($"n_name" === "NATION_3", $"vol_u").otherwise(0L))
            .as("nvu"),
          sum128($"vol_u").as("tvu"),
          count(lit(1)).as("n_items"))
        .select($"o_year",
          (floor(($"nvu".cast("double") / 10000.0) * 1e2 + 0.5) / 1e2).as("nation_vol"),
          (floor(($"tvu".cast("double") / 10000.0) * 1e2 + 0.5) / 1e2).as("total_vol"),
          (floor(($"nvu".cast("double") / $"tvu".cast("double")) * 1e6 + 0.5) / 1e6)
            .as("mkt_share"), $"n_items")
        .orderBy($"o_year")
    },
    Some("""WITH base AS (
           |  SELECT year(o_orderdate)::INT AS o_year, n_name,
           |         round(l_extendedprice*100)::BIGINT
           |           * (100 - round(l_discount*100)::BIGINT) AS vol_u
           |  FROM lineitem
           |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey)
           |SELECT o_year,
           |       (floor((sum(CASE WHEN n_name = 'NATION_3' THEN vol_u ELSE 0 END)::VARCHAR::DOUBLE
           |             / 10000.0) * 1e2 + 0.5) / 1e2) AS nation_vol,
           |       (floor((sum(vol_u)::VARCHAR::DOUBLE / 10000.0) * 1e2 + 0.5) / 1e2) AS total_vol,
           |       (floor((sum(CASE WHEN n_name = 'NATION_3' THEN vol_u ELSE 0 END)::VARCHAR::DOUBLE
           |             / sum(vol_u)::VARCHAR::DOUBLE) * 1e6 + 0.5) / 1e6) AS mkt_share,
           |       count(*) AS n_items
           |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin))

  /** Snapshot reconciliation between two versions of the orders feed:
    * version B extends the date range (added), purges pending orders
    * (removed), and reprices urgent ones (changed). Full-outer diff with
    * null-safe per-column comparison — see RelationalOps.diffByKey. */
  private val reconDiff = Q(
    "recon_snapshot_diff",
    (s, dir) => {
      import s.implicits._
      val o = t(s, dir).orders
      val snapA = o.filter($"o_orderdate" < "1998-01-01")
      val snapB = o.filter($"o_orderdate" < "1999-01-01" &&
          $"o_orderstatus" =!= "P")
        .withColumn("o_totalprice",
          when($"o_orderpriority" === "1-URGENT",
            (floor(($"o_totalprice" * 1.1) * 1e2 + 0.5) / 1e2)).otherwise($"o_totalprice"))
      graft.operators.RelationalOps.diffByKey(snapA, snapB,
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .select($"o_orderkey", $"change_type", $"changed_cols")
        .orderBy($"o_orderkey")
    },
    Some("""WITH a AS (
           |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           |  WHERE o_orderdate < DATE '1998-01-01'),
           |b AS (
           |  SELECT o_orderkey, o_orderstatus,
           |         CASE WHEN o_orderpriority = '1-URGENT'
           |              THEN (floor((o_totalprice * 1.1) * 1e2 + 0.5) / 1e2)
           |              ELSE o_totalprice END AS o_totalprice
           |  FROM orders
           |  WHERE o_orderdate < DATE '1999-01-01' AND o_orderstatus <> 'P')
           |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           |       CASE WHEN a.o_orderkey IS NULL THEN 'added'
           |            WHEN b.o_orderkey IS NULL THEN 'removed'
           |            ELSE 'changed' END AS change_type,
           |       CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
           |            THEN array_to_string(
           |              list_concat(
           |                CASE WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
           |                     THEN ['o_orderstatus'] ELSE [] END,
           |                CASE WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
           |                     THEN ['o_totalprice'] ELSE [] END), ',')
           |       END AS changed_cols
           |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
           |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
           |   OR (a.o_orderstatus, a.o_totalprice)
           |      IS DISTINCT FROM (b.o_orderstatus, b.o_totalprice)
           |ORDER BY o_orderkey""".stripMargin))

  /** NOT IN three-valued-logic semantics (null-aware anti join): against
    * a null-free subquery NOT IN ≡ anti join, but ONE null in the set
    * makes every comparison UNKNOWN and the result empty — the classic
    * SQL trap, planned by Spark as a null-aware anti join rather than a
    * plain LeftAnti. Emitted as both counts in one row so the oracle
    * pins both branches. */
  private val notInNull = Q(
    "join_not_in_null_aware",
    (s, dir) => {
      Tables(s, dir).orders.createOrReplaceTempView("orders_v")
      Tables(s, dir).customer.createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT
          (SELECT count(*) FROM orders_v
           WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer_v WHERE c_acctbal > 9000))
            AS n_against_nullfree,
          (SELECT count(*) FROM orders_v
           WHERE o_custkey NOT IN
             (SELECT nullif(c_custkey, c_custkey) FROM customer_v
              WHERE c_acctbal > 9000))
            AS n_against_nullset""")
    },
    Some("""SELECT
           |  (SELECT count(*) FROM orders
           |   WHERE o_custkey NOT IN
           |     (SELECT c_custkey FROM customer WHERE c_acctbal > 9000))
           |    AS n_against_nullfree,
           |  (SELECT count(*) FROM orders
           |   WHERE o_custkey NOT IN
           |     (SELECT nullif(c_custkey, c_custkey) FROM customer
           |      WHERE c_acctbal > 9000))
           |    AS n_against_nullset""".stripMargin))

  // --- Correlated subquery surface beyond q17/NOT-IN ---------------------
  // Catalyst decorrelates each of these differently: EXISTS → left semi,
  // NOT EXISTS → left anti, a correlated scalar COUNT in the SELECT list →
  // left outer + aggregate with the empty-group-is-0 fix (the classic
  // "COUNT bug" — a naive decorrelation returns NULL for match-less rows).
  // Oracle twins pin all three against DuckDB's independent decorrelation.

  /** Correlated EXISTS: suppliers with at least one high-quantity
    * shipment, rolled up per nation — plans as a broadcast/shuffled LEFT
    * SEMI on s_suppkey (probe side aggregated AFTER the semi join). */
  private val existsQ = Q(
    "subq_exists_correlated",
    (s, dir) => {
      t(s, dir).supplier.createOrReplaceTempView("supplier_sq")
      t(s, dir).lineitem.createOrReplaceTempView("lineitem_sq")
      s.sql("""SELECT s_nationkey, count(*) AS n_suppliers
              |FROM supplier_sq s
              |WHERE EXISTS (SELECT 1 FROM lineitem_sq l
              |              WHERE l.l_suppkey = s.s_suppkey
              |                AND l.l_quantity > 45)
              |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },
    Some("""SELECT s_nationkey, count(*)::BIGINT AS n_suppliers
           |FROM supplier s
           |WHERE EXISTS (SELECT 1 FROM lineitem l
           |              WHERE l.l_suppkey = s.s_suppkey
           |                AND l.l_quantity > 45)
           |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin))

  /** Correlated NOT EXISTS: customers with no 1995 order, per segment —
    * the LEFT ANTI twin of [[existsQ]]. */
  private val notExistsQ = Q(
    "subq_not_exists_correlated",
    (s, dir) => {
      t(s, dir).customer.createOrReplaceTempView("customer_sq")
      t(s, dir).orders.createOrReplaceTempView("orders_sq")
      s.sql("""SELECT c_mktsegment, count(*) AS n_customers
              |FROM customer_sq c
              |WHERE NOT EXISTS (SELECT 1 FROM orders_sq o
              |                  WHERE o.o_custkey = c.c_custkey
              |                    AND year(o.o_orderdate) = 1995)
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
    Some("""SELECT c_mktsegment, count(*)::BIGINT AS n_customers
           |FROM customer c
           |WHERE NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey
           |                    AND year(o.o_orderdate) = 1995)
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Correlated scalar COUNT subquery in the SELECT list: per-nation
    * rich-supplier counts INCLUDING nations where the count is zero — the
    * rows that catch the COUNT bug (decorrelated left outer join must
    * coalesce the empty group to 0, not NULL; the acctbal cut guarantees
    * 13+ such empty groups at sf0.01, so a NULL-leaking decorrelation
    * hash-mismatches instead of passing vacuously). */
  private val scalarSelectQ = Q(
    "subq_scalar_select",
    (s, dir) => {
      t(s, dir).nation.createOrReplaceTempView("nation_sq")
      t(s, dir).supplier.createOrReplaceTempView("supplier_sq2")
      s.sql("""SELECT n_name,
              |  (SELECT count(*) FROM supplier_sq2 s
              |   WHERE s.s_nationkey = n.n_nationkey
              |     AND s.s_acctbal > 8000) AS n_rich_suppliers
              |FROM nation_sq n ORDER BY n_name""".stripMargin)
    },
    Some("""SELECT n_name,
           |  (SELECT count(*) FROM supplier s
           |   WHERE s.s_nationkey = n.n_nationkey
           |     AND s.s_acctbal > 8000)::BIGINT AS n_rich_suppliers
           |FROM nation n ORDER BY n_name""".stripMargin))

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-2 suppliers
    * per nation. A distinct decorrelation path from EXISTS/scalar: the
    * correlated LIMIT cannot become a plain join predicate, so Catalyst
    * plans a `LateralJoin` that it rewrites through
    * `DecorrelateInnerQuery` into a window/rank form — the same plan a
    * hand-written row_number() top-N would produce, arrived at from SQL a
    * warehouse user actually writes. Nations with no suppliers drop out
    * (inner lateral semantics), pinned by the oracle twin. */
  private val lateralTopN = Q(
    "subq_lateral_topn",
    (s, dir) => {
      t(s, dir).nation.createOrReplaceTempView("nation_sq")
      t(s, dir).supplier.createOrReplaceTempView("supplier_sq2")
      s.sql("""SELECT n.n_name, t.s_name, t.s_acctbal
              |FROM nation_sq n,
              |LATERAL (SELECT s_name, s_acctbal FROM supplier_sq2 s
              |         WHERE s.s_nationkey = n.n_nationkey
              |         ORDER BY s_acctbal DESC, s_name LIMIT 2) t
              |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin)
    },
    Some("""SELECT n_name, s_name, s_acctbal
           |FROM nation n,
           |LATERAL (SELECT s_name, s_acctbal FROM supplier s
           |         WHERE s.s_nationkey = n.n_nationkey
           |         ORDER BY s_acctbal DESC, s_name LIMIT 2) t
           |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin))

  // --- Explicit skew handling (SURVEY §2E scale plane) --------------------

  /** Salted equi-join, oracle-pinned: the skewed fact side (lineitem by
    * suppkey — at 100 TB a handful of hot suppliers can hold a
    * disproportionate share of rows) carries a random salt in [0, 8); the
    * supplier⋈nation dim is exploded 8× so every salted key still meets
    * its match. Salt only routes rows — the join OUTPUT is provably
    * salt-invariant, which is exactly what this oracle row states: the
    * salted plan aggregates to the identical revenue-by-nation as the
    * plain join the DuckDB twin runs. AQE's skew split handles the
    * adaptive case; this is the explicit form for known extreme skew
    * (SkewOps.saltedJoin). */
  private val skewJoin = Q(
    "join_skew_salted",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      val big = tt.lineitem.select($"l_suppkey".as("suppkey"),
        (floor($"l_extendedprice" * 100 + 0.5) *
          (lit(100L) - floor($"l_discount" * 100 + 0.5))).as("rev"))
      val dim = tt.supplier.join(tt.nation,
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("suppkey"), $"n_name")
      graft.operators.SkewOps.saltedJoin(big, dim, "suppkey", 8)
        .groupBy($"n_name")
        .agg((floor(sum128($"rev").cast("double") / 100 + 0.5) / 1e2).as("revenue"), count(lit(1)).as("n"))
        .orderBy($"n_name")
    },
    Some("""SELECT n_name, (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS STRING) AS DOUBLE) / 100 + 0.5) / 1e2)
           |         AS revenue,
           |       count(*) AS n
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** The profiler→plan loop DEPLOYED ([[graft.operators.SkewOps]]):
    * before the enrichment join runs, `profileKey` measures the fact
    * side's key distribution in one pre-flight aggregate (the same
    * posture as the reference's pre-flight row counts) and
    * `chooseJoinPlan` picks salted vs plain from the measured skewRatio
    * against the 32× threshold — on this corpus suppkey is uniform, so
    * the measured decision is the PLAIN join (salting would pay 8×
    * dim replication for nothing); on a skewed corpus the same code
    * flips to the salted plan (branch spec'd on a skewed fixture in
    * PlanQualitySpec). The decision and the measured ratio are logged.
    * Output is plan-invariant, so the oracle is [[skewJoin]]'s. */
  private val skewProfiled = Q(
    "join_skew_profiled",
    (s, dir) => {
      import s.implicits._
      val tt = t(s, dir)
      val big = tt.lineitem.select($"l_suppkey".as("suppkey"),
        (floor($"l_extendedprice" * 100 + 0.5) *
          (lit(100L) - floor($"l_discount" * 100 + 0.5))).as("rev"))
      val dim = tt.supplier.join(tt.nation,
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("suppkey"), $"n_name")
      val profile = graft.operators.SkewOps.profileKey(big, "suppkey")
      val (plan, joined) =
        graft.operators.SkewOps.chooseJoinPlan(big, dim, "suppkey", profile)
      System.err.println(f"[join_skew_profiled] nKeys=${profile.nKeys} " +
        f"maxSz=${profile.maxSz} skewRatio=${profile.skewRatio}%.2f " +
        f"-> $plan join")
      joined.groupBy($"n_name")
        .agg((floor(sum128($"rev").cast("double") / 100 + 0.5) / 1e2).as("revenue"), count(lit(1)).as("n"))
        .orderBy($"n_name")
    },
    Some("""SELECT n_name, (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS STRING) AS DOUBLE) / 100 + 0.5) / 1e2)
           |         AS revenue,
           |       count(*) AS n
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** Salted two-phase aggregation, oracle-pinned: groupBy(key + salt)
    * partial then groupBy(key) final caps any single reducer's share of a
    * hot key at 1/8 — the explicit fix when one group holds a large share
    * of a 100 TB table and even map-side combine leaves one reducer with
    * the whole final merge. Sum/count are merge-decomposable, so the
    * two-phase result is bit-identical to the one-phase plain aggregate
    * the twin computes (l_quantity is integral-valued in this schema, so
    * no float-reassociation concern; the round(2) guards the general
    * case). */
  private val skewAgg = Q(
    "agg_skew_salted",
    (s, dir) => {
      import s.implicits._
      graft.operators.SkewOps
        .saltedSum(t(s, dir).lineitem, Seq("l_returnflag"), "l_quantity", 8)
        .select($"l_returnflag",
          (floor(($"sum_l_quantity") * 1e2 + 0.5) / 1e2).as("sum_qty"), $"n")
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, (floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2) AS sum_qty,
           |       count(*) AS n
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** TPC-H Q6 driven entirely through the `spark.sql(...)` ENTRY POINT
    * over a registered temp view — the one registry query that proves
    * the SQL-string surface end-to-end (every other query declares its
    * plan via the DataFrame API; Catalyst plans both identically, and
    * the identical oracle text runs on DuckDB). The view registration is
    * idempotent and session-scoped. */
  private val q6Sql =
    """SELECT (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / 100 + 0.5) / 1e2) AS revenue,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      |  AND l_shipdate < TIMESTAMP '1995-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  private val q6 = Q(
    "q6_forecast_revenue_sql",
    (s, dir) => {
      t(s, dir).lineitem.createOrReplaceTempView("lineitem")
      s.sql(q6Sql)
    },
    Some(q6Sql))

  // --- TPC-H hard correlated-subquery trio (q4/q20/q21 shapes) ----------
  // The canonical decorrelation stress cases, run verbatim through the
  // spark.sql STRING entry point (same surface q6_forecast_revenue_sql
  // proves) with the identical text on DuckDB. The predicates are adapted
  // to this schema (no l_commitdate/l_receiptdate/partsupp): "late" is
  // l_shipdate > o_orderdate + 30/45 days, and q20's availability guard
  // becomes a correlated per-part average — the correlation STRUCTURE
  // (EXISTS; nested IN + correlated scalar; double-correlated
  // EXISTS/NOT EXISTS sharing an outer column) is what is under test.
  // Scale notes: Catalyst decorrelates each into aggregate+join on the
  // correlation key (orderkey/partkey) — no nested-loop per-row subquery
  // execution, no cartesian (plan-asserted in PlanQualitySpec); the
  // nation dim probe broadcasts.

  private val q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private val q4 = Q(
    "q4_order_priority_exists",
    (s, dir) => {
      t(s, dir).orders.createOrReplaceTempView("orders")
      t(s, dir).lineitem.createOrReplaceTempView("lineitem")
      s.sql(q4Sql)
    },
    Some(q4Sql))

  private val q20Sql =
    """SELECT s_name, (floor((s_acctbal) * 1e2 + 0.5) / 1e2) AS acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_name = 'NATION_3'
      |  AND s_suppkey IN (
      |    SELECT l1.l_suppkey FROM lineitem l1
      |    WHERE l1.l_partkey IN (SELECT p_partkey FROM part
      |                           WHERE p_name LIKE 'red %')
      |      AND l1.l_quantity > 0.5 * (SELECT avg(l2.l_quantity)
      |                                 FROM lineitem l2
      |                                 WHERE l2.l_partkey = l1.l_partkey))
      |ORDER BY s_name""".stripMargin

  private val q20 = Q(
    "q20_excess_suppliers_nested_in",
    (s, dir) => {
      t(s, dir).supplier.createOrReplaceTempView("supplier")
      t(s, dir).nation.createOrReplaceTempView("nation")
      t(s, dir).part.createOrReplaceTempView("part")
      t(s, dir).lineitem.createOrReplaceTempView("lineitem")
      s.sql(q20Sql)
    },
    Some(q20Sql))

  private val q21Sql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey
      |  AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  private val q21 = Q(
    "q21_waiting_suppliers_double_exists",
    (s, dir) => {
      t(s, dir).supplier.createOrReplaceTempView("supplier")
      t(s, dir).orders.createOrReplaceTempView("orders")
      t(s, dir).lineitem.createOrReplaceTempView("lineitem")
      s.sql(q21Sql)
    },
    Some(q21Sql))

  // --- TPC-H outer-join / view / IN-HAVING / anti-join quartet ----------
  // q13/q15/q18/q22 shapes through the same spark.sql STRING entry point.
  // Adaptations to this schema: q13's comment filter becomes an
  // orderpriority filter INSIDE the outer join's ON clause (the point of
  // q13 — the filter must not turn the outer join inner); q22's phone
  // country code becomes c_nationkey and "no orders at all" (empty on
  // this synthetic data — every customer orders) becomes "no URGENT
  // orders". Money lands in exact integer cents before any aggregate or
  // equality (the q15 max-revenue tie compare and q18's sort key would
  // otherwise ride float partial-aggregation order).
  // Long-headroom bound for the BIGINT cent-sums here: q15 sums per
  // SUPPLIER per quarter and q18 per ORDER — both group-local sums that
  // sit many orders of magnitude below Long.MaxValue at any plausible
  // SF. Only a corpus-wide money sum can cross ~9.2e18; the one such
  // aggregate (q11's scalar subquery) accumulates in DECIMAL(38,0).

  private val q13Sql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  private val q13 = Q(
    "q13_customer_order_distribution",
    (s, dir) => {
      t(s, dir).customer.createOrReplaceTempView("customer")
      t(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(q13Sql)
    },
    Some(q13Sql))

  private val q15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(sum(CAST((floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0)
      |                       AS BIGINT)) AS BIGINT) AS total_revenue_c
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue_c
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue_c = (SELECT max(total_revenue_c) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  private val q15 = Q(
    "q15_top_supplier_revenue_view",
    (s, dir) => {
      t(s, dir).supplier.createOrReplaceTempView("supplier")
      t(s, dir).lineitem.createOrReplaceTempView("lineitem")
      s.sql(q15Sql)
    },
    Some(q15Sql))

  private val q18Sql =
    """SELECT c_name, c_custkey, o_orderkey,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS order_date,
      |       CAST((floor((o_totalprice * 100) * 1e0 + 0.5) / 1e0) AS BIGINT) AS totalprice_c,
      |       CAST((floor((sum(l_quantity)) * 1e0 + 0.5) / 1e0) AS BIGINT) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY totalprice_c DESC, o_orderkey
      |LIMIT 100""".stripMargin

  private val q18 = Q(
    "q18_large_volume_customers",
    (s, dir) => {
      t(s, dir).customer.createOrReplaceTempView("customer")
      t(s, dir).orders.createOrReplaceTempView("orders")
      t(s, dir).lineitem.createOrReplaceTempView("lineitem")
      s.sql(q18Sql)
    },
    Some(q18Sql))

  private val q22Sql =
    """SELECT c_nationkey, count(*) AS numcust,
      |       CAST(sum(CAST((floor((c_acctbal * 100) * 1e0 + 0.5) / 1e0) AS BIGINT)) AS BIGINT)
      |         AS totacctbal_c
      |FROM customer c
      |WHERE c_acctbal > (SELECT (floor(CAST(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE) / count(c_acctbal) * 1e4 + 0.5) / 1e6) FROM customer
      |                   WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  private val q22 = Q(
    "q22_dormant_customers_antijoin",
    (s, dir) => {
      t(s, dir).customer.createOrReplaceTempView("customer")
      t(s, dir).orders.createOrReplaceTempView("orders")
      s.sql(q22Sql)
    },
    Some(q22Sql))

  // --- TPC-H completion octet (q2/q9/q10/q11/q12/q14/q16/q19) -----------
  // The remaining eight TPC-H shapes, closing the 22/22 surface through
  // the same spark.sql STRING entry point with identical text on DuckDB.
  // Schema adaptations (this corpus has no partsupp / l_commitdate /
  // l_receiptdate / l_shipmode / p_container / p_mfgr): the supply
  // catalog IS lineitem — "supply cost" becomes sale price in integer
  // cents (q2's correlated min, q11's value aggregate) or p_retailprice
  // cost-of-goods (q9); "late delivery" is l_shipdate > o_orderdate + 30
  // days (the q4/q21 convention); q12's ship modes become l_returnflag
  // classes; q16's complaint suppliers become negative-balance suppliers;
  // q19's container/shipmode conjuncts become p_size bands. The SHAPES
  // under test are intact: q2 correlated scalar min against a 5-way join,
  // q9 multi-fact star with expression profit, q10 group-top-N, q11
  // scalar subquery in HAVING, q12 conditional CASE-sum counting, q14
  // conditional-ratio aggregate, q16 NOT IN + count(DISTINCT), q19
  // OR-of-ANDs pushed into one join.
  // Scale notes: every money term lands in exact integer cents BEFORE
  // any aggregate/compare (float partial-agg order can never flip a
  // result); part/supplier/nation/region probes broadcast; q19's
  // disjunction shares the single p_partkey=l_partkey equi-join key so
  // Catalyst plans ONE hash join with the OR as a post-join filter —
  // never a cartesian (plan-asserted alongside the r5 trio).

  private val q2Sql =
    """SELECT DISTINCT (floor((s_acctbal) * 1e2 + 0.5) / 1e2) AS acctbal, s_name, n_name,
      |                p_partkey, p_name
      |FROM part, supplier, lineitem, nation, region
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_size = 30 AND p_type = 'LARGE'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND CAST((floor((l_extendedprice * 100) * 1e0 + 0.5) / 1e0) AS BIGINT) = (
      |    SELECT min(CAST((floor((l2.l_extendedprice * 100) * 1e0 + 0.5) / 1e0) AS BIGINT))
      |    FROM lineitem l2, supplier s2, nation n2, region r2
      |    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey
      |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      |ORDER BY acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin

  private val q2 = Q(
    "q2_min_cost_supplier",
    (s, dir) => {
      val tt = t(s, dir)
      tt.part.createOrReplaceTempView("part")
      tt.supplier.createOrReplaceTempView("supplier")
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.nation.createOrReplaceTempView("nation")
      tt.region.createOrReplaceTempView("region")
      s.sql(q2Sql)
    },
    Some(q2Sql))

  private val q9Sql =
    """SELECT nation, o_year, CAST(sum(amount_c) AS BIGINT) AS sum_profit_c
      |FROM (SELECT n_name AS nation,
      |             CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |             CAST((floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0)
      |                  AS BIGINT)
      |             - CAST((floor((p_retailprice * l_quantity * 100) * 1e0 + 0.5) / 1e0)
      |                    AS BIGINT) AS amount_c
      |      FROM part, supplier, lineitem, orders, nation
      |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |        AND p_name LIKE '%old%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  private val q9 = Q(
    "q9_product_profit_by_nation_year",
    (s, dir) => {
      val tt = t(s, dir)
      tt.part.createOrReplaceTempView("part")
      tt.supplier.createOrReplaceTempView("supplier")
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.orders.createOrReplaceTempView("orders")
      tt.nation.createOrReplaceTempView("nation")
      s.sql(q9Sql)
    },
    Some(q9Sql))

  private val q10Sql =
    """SELECT c_custkey, c_name,
      |       CAST(sum(CAST((floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0)
      |                     AS BIGINT)) AS BIGINT) AS revenue_c,
      |       (floor((c_acctbal) * 1e2 + 0.5) / 1e2) AS acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue_c DESC, c_custkey
      |LIMIT 20""".stripMargin

  private val q10 = Q(
    "q10_returned_item_customers",
    (s, dir) => {
      val tt = t(s, dir)
      tt.customer.createOrReplaceTempView("customer")
      tt.orders.createOrReplaceTempView("orders")
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.nation.createOrReplaceTempView("nation")
      s.sql(q10Sql)
    },
    Some(q10Sql))

  // q11's sums are WHOLE-FACT money aggregates (cents × quantity reaches
  // ~5e8 per row): at the documented 100 TB posture the corpus-wide
  // scalar subquery crosses ~1e19 > Long.MaxValue, where Spark's
  // non-ANSI BIGINT sum wraps SILENTLY while DuckDB widens to HUGEINT —
  // the engines would diverge exactly when it matters. Accumulate in
  // DECIMAL(38,0) on both sides (identical text): 38 digits of headroom,
  // and an overflow is an error, never a wrap. The per-row product stays
  // BIGINT (≤ ~5e8, exact); only the accumulator widens. Group-level
  // value_c keeps its BIGINT output type — a single partkey's value at
  // any plausible SF is orders of magnitude below the corpus-wide sum
  // (the same documented bound as the other money-in-cents outputs).
  private val q11Sql =
    """SELECT l_partkey,
      |       CAST(sum(CAST(CAST((floor((l_extendedprice * 100) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                     * CAST((floor((l_quantity) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                     AS DECIMAL(38,0))) AS BIGINT)
      |         AS value_c
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_5'
      |GROUP BY l_partkey
      |HAVING sum(CAST(CAST((floor((l_extendedprice * 100) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                * CAST((floor((l_quantity) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                AS DECIMAL(38,0)))
      |       > 0.001 * (
      |         SELECT sum(CAST(CAST((floor((l_extendedprice * 100) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                         * CAST((floor((l_quantity) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                         AS DECIMAL(38,0)))
      |         FROM lineitem, supplier, nation
      |         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |           AND n_name = 'NATION_5')
      |ORDER BY value_c DESC, l_partkey""".stripMargin

  private val q11 = Q(
    "q11_important_stock_having_scalar",
    (s, dir) => {
      val tt = t(s, dir)
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.supplier.createOrReplaceTempView("supplier")
      tt.nation.createOrReplaceTempView("nation")
      s.sql(q11Sql)
    },
    Some(q11Sql))

  private val q12Sql =
    """SELECT l_returnflag AS ship_class,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_returnflag IN ('A', 'N')
      |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  private val q12 = Q(
    "q12_late_lines_by_priority",
    (s, dir) => {
      val tt = t(s, dir)
      tt.orders.createOrReplaceTempView("orders")
      tt.lineitem.createOrReplaceTempView("lineitem")
      s.sql(q12Sql)
    },
    Some(q12Sql))

  private val q14Sql =
    """SELECT (floor((100.0
      |  * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
      |                  THEN CAST((floor((l_extendedprice * (1 - l_discount)
      |                                  * 100) * 1e0 + 0.5) / 1e0) AS BIGINT)
      |                  ELSE 0 END) AS STRING) AS DOUBLE)
      |  / CAST(CAST(sum(CAST((floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0)
      |                  AS BIGINT)) AS STRING) AS DOUBLE)) * 1e6 + 0.5) / 1e6) AS promo_revenue_pct
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-09-01'
      |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  private val q14 = Q(
    "q14_promo_revenue_share",
    (s, dir) => {
      val tt = t(s, dir)
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.part.createOrReplaceTempView("part")
      s.sql(q14Sql)
    },
    Some(q14Sql))

  private val q16Sql =
    """SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#3'
      |  AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  private val q16 = Q(
    "q16_parts_supplier_not_in",
    (s, dir) => {
      val tt = t(s, dir)
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.part.createOrReplaceTempView("part")
      tt.supplier.createOrReplaceTempView("supplier")
      s.sql(q16Sql)
    },
    Some(q16Sql))

  private val q19Sql =
    """SELECT CAST(sum(CAST((floor((l_extendedprice * (1 - l_discount) * 100) * 1e0 + 0.5) / 1e0)
      |                     AS BIGINT)) AS BIGINT) AS revenue_c
      |FROM lineitem, part
      |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
      |       AND p_size BETWEEN 1 AND 5
      |       AND l_quantity >= 1 AND l_quantity <= 11)
      |   OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
      |       AND p_size BETWEEN 1 AND 10
      |       AND l_quantity >= 10 AND l_quantity <= 20)
      |   OR (p_partkey = l_partkey AND p_brand = 'Brand#14'
      |       AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin

  private val q19 = Q(
    "q19_disjunctive_brand_revenue",
    (s, dir) => {
      val tt = t(s, dir)
      tt.lineitem.createOrReplaceTempView("lineitem")
      tt.part.createOrReplaceTempView("part")
      s.sql(q19Sql)
    },
    Some(q19Sql))

  private val all0: Seq[Q] = Seq(
    q1, q3, q5, q6, s3Lookup, f5, semi, q17, existsQ, notExistsQ,
    scalarSelectQ, lateralTopN, q4, q20, q21, q13, q15, q18, q22,
    q2, q9, q10, q11, q12, q14, q16, q19,
    f3, f6, f7, f18, f19,
    f1, f1Quarantine, f4, pivotQ, f11, f13, f14, f8,
    setExcept, setIntersect, setUnion, topk, topkWindowForm, fullOuter,
    firstLast, q7, q8,
    reconDiff, notInNull, skewJoin, skewProfiled, skewAgg)

  def all: Seq[Q] = all0
}
