package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.core.Lineage.LineageOps
import graft.functions.Sum128.sum128
import graft.functions.SumSq128.sumSq128
import graft.gold.GoldOps
import graft.operators.{CalendarOps, RangeJoinOps, RelationalOps, TextOps}

/** Gold-layer + composite pipeline queries. */
object GoldQueries {

  /** Running-max drawdown per user value series (GoldOps.withDrawdown
    * over the events table as the price-series stand-in). */
  private val drawdown = Q(
    "gold_drawdown",
    (s, dir) => {
      import s.implicits._
      GoldOps.withDrawdown(Tables(s, dir).events, "user_id", "ts", "value")
        .select($"event_id", $"user_id", (floor(($"value") * 1e2 + 0.5) / 1e2).as("value"),
          (floor(($"drawdown") * 1e6 + 0.5) / 1e6).as("drawdown"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, (floor((value) * 1e2 + 0.5) / 1e2) AS value,
           |       (floor((1.0 - value / max(value) OVER
           |         (PARTITION BY user_id ORDER BY ts
           |          ROWS UNBOUNDED PRECEDING)) * 1e6 + 0.5) / 1e6) AS drawdown
           |FROM events ORDER BY event_id""".stripMargin))

  /** As-of alignment oracle-checked: each user's click series aligned onto
    * their purchase spine (last click value at-or-before each purchase). */
  private val asofAlign = Q(
    "gold_asof_align",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).events
      val spine = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      val clicks = e.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(max($"value").as("click_value"))
      GoldOps.asOfAlign(
        spine.select($"user_id", $"ts").distinct(), clicks,
        "user_id", "ts", "click_value")
        .join(spine, Seq("user_id", "ts"))
        .select($"event_id", $"user_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts"),
          (floor(($"click_value") * 1e2 + 0.5) / 1e2).as("click_value"))
        .orderBy($"event_id")
    },
    Some("""WITH c AS (SELECT user_id, ts, max(value) AS click_value
           |           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
           |p AS (SELECT event_id, user_id, ts FROM events
           |      WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id,
           |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           |       (floor((c.click_value) * 1e2 + 0.5) / 1e2) AS click_value
           |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
           |ORDER BY p.event_id""".stripMargin))

  /** Composite training-data pipeline over documents: quality-filter →
    * exact dedup (keep min id) → near-dup removal (drop the higher id of
    * any pair with 2-gram Jaccard ≥ 0.9) → per-(lang, source) survivor
    * stats. The full [EXT] cleaning flow as ONE declarative plan. */
  private val cleanCorpus = Q(
    "pipeline_clean_corpus",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents
      val quality = docs.filter(TextOps.qualityScore($"text") >= 0.5)
      val exactKept = quality
        .withColumn("fp", md5($"text"))
        .withColumn("keep", min($"doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
        .filter($"doc_id" === $"keep")
        // reused by the near-dup pair side AND the survivor anti-join —
        // lazy checkpoint so the quality+window prefix runs once
        .cut(eager = false)
      val withShingles = exactKept
        .select($"doc_id", TextOps.shingles($"text", 2).as("sh"))
      // COST-BASED near-dup stage (DedupOps.jaccardPairsAuto — the same
      // dispatch dedup_components deploys): above the ~10k-doc crossover
      // it IS the PPJoin prefix index (the 100 TB form); below it the
      // dense merge kernel wins on constants. Branches are property-
      // tested identical, so survivors never change — OPTIMIZATION_r14.md:
      // 1.75× at sf0.1 (the quality-gated corpus sits under the
      // crossover there)
      val nearDupLosers = graft.operators.DedupOps
        .jaccardPairsAuto(withShingles, "doc_id", "sh", 0.9)
        .select($"id_b".as("doc_id")).distinct()
      exactKept.join(nearDupLosers, Seq("doc_id"), "left_anti")
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy($"lang", $"source")
    },
    Some {
      val stopIn = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      // every CTE AS MATERIALIZED (DuckDB inlines per reference site —
      // the sf1 ORACLE-TIMEOUT class, NOTES_r11 §2) and the near-dup
      // stage in the count-based postings form proven at sf1 by
      // dedup_ngram_jaccard's pairCteBody: a Jaccard ≥ 0.9 pair shares
      // ≥1 shingle, so the token-equijoin prefilter is lossless, and
      // c / (na + nb − c) divides the same two exact integers as the
      // list_intersect form (s is list_distinct'd).
      s"""WITH q AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT d.*,
         |      (floor((least(length(text)::DOUBLE/500.0, 1.0)*0.5
         |        + (1.0 - least((floor((length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
         |                      / length(text)) * 1e6 + 0.5) / 1e6)*5.0, 1.0))*0.3
         |        + least((floor((len(list_filter(string_split(text,' '),
         |                  t -> t IN ($stopIn)))::DOUBLE
         |                / len(string_split(text,' '))) * 1e6 + 0.5) / 1e6)*4.0, 1.0)*0.2) * 1e6 + 0.5) / 1e6) AS quality
         |    FROM documents d)
         |  WHERE quality >= 0.5),
         |exact_kept AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM q)
         |  WHERE doc_id = keep),
         |sh AS MATERIALIZED (
         |       SELECT doc_id,
         |         list_distinct([array_to_string(toks[i:i+1],' ')
         |                        FOR i IN generate_series(1, len(toks)-1)]) s
         |       FROM (SELECT doc_id, string_split(text,' ') toks FROM exact_kept)),
         |sz AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM sh),
         |post AS MATERIALIZED (SELECT doc_id, unnest(s) tok FROM sh),
         |common AS MATERIALIZED (
         |  SELECT l.doc_id a, r.doc_id b, count(*) AS c
         |  FROM post l JOIN post r ON l.tok = r.tok AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2),
         |losers AS MATERIALIZED (
         |  SELECT DISTINCT b AS doc_id
         |  FROM common JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
         |  WHERE c::DOUBLE / (za.n + zb.n - c) >= 0.9)
         |SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
         |FROM exact_kept WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin
    })

  /** Range join: error events assigned to the same user's session
    * intervals (intervals derived as min/max ts per (user, session) with a
    * 10-minute gap — same gaps-and-islands as events_session_windows).
    * Spark path: chunk-bucketed equi-join (RangeJoinOps); oracle: plain
    * BETWEEN join. */
  private val rangeJoin = Q(
    "range_join_sessions",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).events
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val sessions = e
        .withColumn("prev_ts", lag($"ts", 1).over(byUser))
        .withColumn("new_session",
          when($"prev_ts".isNull ||
            unix_micros($"ts") - unix_micros($"prev_ts") > 600L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum($"new_session").over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"session_seq")
        .agg(min($"ts").as("session_start"), max($"ts").as("session_end"))
      val errors = e.filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts")
      RangeJoinOps.pointInInterval(errors, sessions, "user_id",
          "ts", "session_start", "session_end", 600L * 1000000L)
        .select($"event_id", $"user_id", $"session_seq",
          date_format($"session_start", "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy($"event_id")
    },
    Some("""WITH flagged AS (
           |  SELECT user_id, event_id, event_type, ts,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
           |         THEN 1 ELSE 0 END AS new_session
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sess AS (
           |  SELECT user_id, session_seq, min(ts) session_start, max(ts) session_end
           |  FROM (SELECT *, (sum(new_session) OVER
           |          (PARTITION BY user_id ORDER BY ts, event_id
           |           ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
           |        FROM flagged)
           |  GROUP BY user_id, session_seq)
           |SELECT e.event_id, e.user_id, s.session_seq,
           |       strftime(s.session_start, '%Y-%m-%d %H:%M:%S') AS session_start
           |FROM events e JOIN sess s
           |  ON e.user_id = s.user_id
           | AND e.ts BETWEEN s.session_start AND s.session_end
           |WHERE e.event_type = 'error'
           |ORDER BY e.event_id""".stripMargin))

  /** Monthly OHLC bars per user over the event-value series (the classic
    * financial resample: open/close by time order, high/low extremes) —
    * one min_by/max_by hash aggregate, no window sort. */
  private val ohlc = Q(
    "gold_ohlc_monthly",
    (s, dir) => {
      import s.implicits._
      GoldOps.ohlcResample(Tables(s, dir).events, "user_id", "ts", "event_id",
          "value", date_format($"ts", "yyyyMM"))
        .select($"user_id", $"bucket".as("month"),
          (floor(($"open") * 1e2 + 0.5) / 1e2).as("open"), (floor(($"high") * 1e2 + 0.5) / 1e2).as("high"),
          (floor(($"low") * 1e2 + 0.5) / 1e2).as("low"), (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), $"n")
        .orderBy($"user_id", $"month")
    },
    Some("""WITH o AS (
           |  SELECT user_id, strftime(ts, '%Y%m') AS m, value,
           |    row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y%m')
           |                       ORDER BY ts, event_id) AS rn_a,
           |    row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y%m')
           |                       ORDER BY ts DESC, event_id DESC) AS rn_d
           |  FROM events)
           |SELECT user_id, m AS month,
           |       (floor((max(CASE WHEN rn_a = 1 THEN value END)) * 1e2 + 0.5) / 1e2) AS open,
           |       (floor((max(value)) * 1e2 + 0.5) / 1e2) AS high,
           |       (floor((min(value)) * 1e2 + 0.5) / 1e2) AS low,
           |       (floor((max(CASE WHEN rn_d = 1 THEN value END)) * 1e2 + 0.5) / 1e2) AS close,
           |       count(*) AS n
           |FROM o GROUP BY user_id, m ORDER BY user_id, month""".stripMargin))

  /** 2024 KR exchange-holiday fixture for the cross-asset query — includes
    * a Sunday (already weekend-flagged: OR must keep it true) and a
    * duplicate feed row (distinct must collapse it), mirroring the F19
    * fixture shape. */
  private val holidays2024 = Seq(
    "2024-01-01", "2024-01-10", "2024-01-29",
    "2024-01-14", // Sunday — weekend flag already true
    "2024-01-01") // duplicate feed row

  /** SURVEY §7.6 cross-asset gold query (the reference's backtesting
    * composition, README.md:3): KRX-shaped daily closes × dim_calendar
    * working days (F19 holiday upsert applied) × FX long table (S13-shaped
    * wide Close matrix unpivoted) → KRW and FX-adjusted daily returns.
    *
    * Scale posture: the price series is the only big input — closes are one
    * `max_by` hash aggregate (map-side partial, no window sort, same plan as
    * GoldOps.ohlcResample); calendar and FX are tiny dims joined via
    * explicit broadcast; the return lag shuffles once on symbol. */
  private val fxAdjusted = Q(
    "gold_fx_adjusted_returns",
    (s, dir) => {
      import s.implicits._
      val cal = CalendarOps.applyHolidays(
        CalendarOps.calendarDim(s, 2024, 2024),
        holidays2024.toDF("holiday_date"), "holiday_date")
      val workingDays = cal.filter(!$"is_market_holiday").select($"date")
      // daily close per KRX-style 6-digit symbol: value of the last event
      // of the day — argmax as a hash aggregate, not a window
      val prices = Tables(s, dir).events
        .select(format_string("%06d", $"user_id").as("symbol"),
          to_date($"ts").as("date"), $"ts", $"event_id", $"value")
        .groupBy($"symbol", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close_krw"))
      // S13-shaped FX: wide per-pair Close matrix over calendar dates
      // (deterministic closed-form rates) unpivoted to a long table
      val fxWide = cal.select($"date",
        (lit(1300.0) + $"day_of_month").as("usd_krw"),
        (lit(900.0) + $"day_of_month").as("jpy100_krw"))
      val usd = RelationalOps.unpivotWide(fxWide, Seq("date"),
          Seq("usd_krw", "jpy100_krw"), "pair", "rate")
        .filter($"pair" === "usd_krw").select($"date", $"rate")
      val w = Window.partitionBy($"symbol").orderBy($"date")
      // a zero close (possible in the synthetic series) must yield NULL
      // return, not an ANSI divide-by-zero — guard explicitly on both
      // engines rather than relying on engine-specific /0 semantics
      def ret(c: org.apache.spark.sql.Column) = {
        val prev = lag(c, 1).over(w)
        when(prev =!= 0.0, c / prev - 1)
      }
      prices.join(broadcast(workingDays), Seq("date"))
        .join(broadcast(usd), Seq("date"))
        .withColumn("close_usd", $"close_krw" / $"rate")
        .withColumn("ret_krw", ret($"close_krw"))
        .withColumn("ret_usd", ret($"close_usd"))
        .select($"symbol", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close_krw") * 1e2 + 0.5) / 1e2).as("close_krw"),
          (floor(($"close_usd") * 1e6 + 0.5) / 1e6).as("close_usd"),
          (floor(($"ret_krw") * 1e6 + 0.5) / 1e6).as("ret_krw"),
          (floor(($"ret_usd") * 1e6 + 0.5) / 1e6).as("ret_usd"))
        .orderBy($"symbol", $"date")
    },
    Some {
      val inList = holidays2024.distinct.map(d => s"DATE '$d'").mkString(", ")
      s"""WITH wd AS (
         |  SELECT d::DATE AS date, day(d::DATE)::DOUBLE AS dom
         |  FROM (SELECT unnest(generate_series(DATE '2024-01-01',
         |                 DATE '2024-12-31', INTERVAL 1 DAY)) AS d)
         |  WHERE NOT (dayofweek(d::DATE) IN (0, 6) OR d::DATE IN ($inList))),
         |px AS (
         |  SELECT symbol, date, value AS close_krw
         |  FROM (SELECT format('{:06d}', user_id) AS symbol, ts::DATE AS date,
         |               value,
         |               row_number() OVER (PARTITION BY user_id, ts::DATE
         |                 ORDER BY ts DESC, event_id DESC) AS rn
         |        FROM events)
         |  WHERE rn = 1),
         |j AS (
         |  SELECT p.symbol, p.date, p.close_krw,
         |         p.close_krw / (1300.0::DOUBLE + wd.dom) AS close_usd
         |  FROM px p JOIN wd ON p.date = wd.date)
         |SELECT symbol, strftime(date, '%Y-%m-%d') AS date,
         |       (floor((close_krw) * 1e2 + 0.5) / 1e2) AS close_krw,
         |       (floor((close_usd) * 1e6 + 0.5) / 1e6) AS close_usd,
         |       (floor((CASE WHEN lag(close_krw) OVER w <> 0
         |             THEN close_krw / lag(close_krw) OVER w - 1 END) * 1e6 + 0.5) / 1e6) AS ret_krw,
         |       (floor((CASE WHEN lag(close_usd) OVER w <> 0
         |             THEN close_usd / lag(close_usd) OVER w - 1 END) * 1e6 + 0.5) / 1e6) AS ret_usd
         |FROM j
         |WINDOW w AS (PARTITION BY symbol ORDER BY date)
         |ORDER BY symbol, date""".stripMargin
    })

  /** Gap filling (densify + LOCF): daily last-event value per user, then
    * every calendar day in each user's observed range with the close
    * forward-filled across silent days. The per-key grid comes from a
    * single-row-per-key aggregate (`sequence` + `explode`), NOT a join
    * against a global calendar — see GoldOps.denseForwardFill. */
  private val gapFill = Q(
    "gold_gap_fill_locf",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close"))
      GoldOps.denseForwardFill(daily, "user_id", "date", "close")
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), $"filled")
        .orderBy($"user_id", $"date")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, value AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1),
           |grid AS (
           |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS date
           |  FROM (SELECT user_id, min(date) AS lo, max(date) AS hi
           |        FROM px GROUP BY user_id))
           |SELECT g.user_id, strftime(g.date, '%Y-%m-%d') AS date,
           |       (floor((last_value(p.close IGNORE NULLS) OVER
           |         (PARTITION BY g.user_id ORDER BY g.date
           |          ROWS UNBOUNDED PRECEDING)) * 1e2 + 0.5) / 1e2) AS close,
           |       p.close IS NULL AS filled
           |FROM grid g LEFT JOIN px p
           |  ON g.user_id = p.user_id AND g.date = p.date
           |ORDER BY g.user_id, date""".stripMargin))

  /** Rolling exact median (20-row trailing frame) over the daily close
    * series — robust centre line; exact `percentile(0.5)` as a bounded
    * ROWS-frame window aggregate (state = frame, one shuffle on the key). */
  private val rollingMedian = Q(
    "gold_rolling_median",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close"))
      GoldOps.withRollingMedian(daily, "user_id", "date", "close", 20)
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), (floor(($"med20") * 1e6 + 0.5) / 1e6).as("med20"))
        .orderBy($"user_id", $"date")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, value AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1)
           |SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
           |       (floor((close) * 1e2 + 0.5) / 1e2) AS close,
           |       (floor((median(close) OVER
           |         (PARTITION BY user_id ORDER BY date
           |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) * 1e6 + 0.5) / 1e6) AS med20
           |FROM px ORDER BY user_id, date""".stripMargin))

  /** Rolling 20-day correlation of each user's daily close against the
    * equal-weight market average — the beta-screen shape. Market series is
    * a tiny per-date aggregate broadcast back in (6dp-prerounded so both
    * engines correlate identical inputs); the correlation runs as bounded
    * ROWS-frame window aggregates, one shuffle on the key.
    *
    * Written as `try_divide(covar_samp, σx·σy)` rather than `corr`: under
    * ANSI mode Spark's Corr THROWS DIVIDE_BY_ZERO the moment one frame has
    * zero variance (a user whose close is flat for 20 days — absent at the
    * oracle SFs, present at the sf1 headroom SF), while DuckDB's corr
    * yields NULL for those frames AND for single-row frames. try_divide
    * reproduces exactly that: covar_samp is 0 with a 0 divisor → NULL, and
    * n=1 makes the sample stddevs NULL → NULL. The three aggregates share
    * one frame, so WindowExec still evaluates them in a single pass. */
  private val rollingCorr = Q(
    "gold_rolling_corr",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close"))
      val market = daily.groupBy($"date")
        .agg((floor(sum(floor($"close" * 100 + 0.5)).cast("double") / count($"close") * 1e4 + 0.5) / 1e6).as("mkt"))
      val w = Window.partitionBy($"user_id").orderBy($"date")
        .rowsBetween(-19, Window.currentRow)
      daily.join(broadcast(market), "date")
        .withColumn("corr20", try_divide(
          covar_samp($"close", $"mkt").over(w),
          stddev_samp($"close").over(w) * stddev_samp($"mkt").over(w)))
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), (floor(($"corr20") * 1e6 + 0.5) / 1e6).as("corr20"))
        .orderBy($"user_id", $"date")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, value AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1),
           |mkt AS (SELECT date, (floor(sum(CAST(floor(close * 100 + 0.5) AS BIGINT))::VARCHAR::DOUBLE / count(close) * 1e4 + 0.5) / 1e6) AS mkt
           |        FROM px GROUP BY date)
           |SELECT p.user_id, strftime(p.date, '%Y-%m-%d') AS date,
           |       (floor((p.close) * 1e2 + 0.5) / 1e2) AS close,
           |       (floor((corr(p.close, m.mkt) OVER
           |         (PARTITION BY p.user_id ORDER BY p.date
           |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) * 1e6 + 0.5) / 1e6) AS corr20
           |FROM px p JOIN mkt m USING (date)
           |ORDER BY p.user_id, date""".stripMargin))

  /** As-of NEAREST alignment: each purchase takes the click value of the
    * same user closest in time (before or after) within 30 minutes, ties
    * to the earlier click — the pandas merge_asof(direction='nearest')
    * surface. One union + one ordered window pass per key (see
    * GoldOps.asOfNearest); the oracle reruns the identical construction
    * with IGNORE NULLS windows. */
  private val asofNearest = Q(
    "gold_asof_nearest",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).events
      val spine = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      val clicks = e.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(max($"value").as("click_value"))
      GoldOps.asOfNearest(
          spine.select($"user_id", $"ts").distinct(), clicks,
          "user_id", "ts", "click_value", 1800L * 1000000L)
        .join(spine, Seq("user_id", "ts"))
        .select($"event_id", $"user_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts"),
          (floor(($"click_value") * 1e2 + 0.5) / 1e2).as("click_value"), $"matched_delta_us")
        .orderBy($"event_id")
    },
    Some("""WITH c AS (SELECT user_id, ts, max(value) AS v
           |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
           |p AS (SELECT DISTINCT user_id, ts FROM events
           |      WHERE event_type = 'purchase'),
           |u AS (
           |  SELECT user_id, ts, NULL::DOUBLE AS v, NULL::BIGINT AS qts,
           |         1 AS side FROM p
           |  UNION ALL
           |  SELECT user_id, ts, v, epoch_us(ts), 0 FROM c),
           |w AS (
           |  SELECT *,
           |    last_value(v IGNORE NULLS) OVER wb AS prev_v,
           |    last_value(qts IGNORE NULLS) OVER wb AS prev_ts,
           |    first_value(v IGNORE NULLS) OVER wf AS next_v,
           |    first_value(qts IGNORE NULLS) OVER wf AS next_ts
           |  FROM u
           |  WINDOW
           |    wb AS (PARTITION BY user_id ORDER BY ts, side
           |           ROWS UNBOUNDED PRECEDING),
           |    wf AS (PARTITION BY user_id ORDER BY ts, side
           |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
           |m AS (
           |  SELECT user_id, ts,
           |    CASE WHEN take_prev THEN prev_v
           |         WHEN take_next THEN next_v END AS click_value,
           |    CASE WHEN take_prev THEN d_prev
           |         WHEN take_next THEN d_next END AS matched_delta_us
           |  FROM (
           |    SELECT *,
           |      prev_ts IS NOT NULL AND d_prev <= 1800000000 AND
           |        (next_ts IS NULL OR d_next > 1800000000 OR d_prev <= d_next)
           |        AS take_prev,
           |      next_ts IS NOT NULL AND d_next <= 1800000000 AND NOT (
           |        prev_ts IS NOT NULL AND d_prev <= 1800000000 AND
           |        (next_ts IS NULL OR d_next > 1800000000 OR d_prev <= d_next))
           |        AS take_next
           |    FROM (SELECT *, epoch_us(ts) - prev_ts AS d_prev,
           |                 next_ts - epoch_us(ts) AS d_next
           |          FROM w WHERE side = 1)))
           |SELECT e.event_id, e.user_id,
           |       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           |       (floor((m.click_value) * 1e2 + 0.5) / 1e2) AS click_value, m.matched_delta_us
           |FROM events e JOIN m ON e.user_id = m.user_id AND e.ts = m.ts
           |WHERE e.event_type = 'purchase'
           |ORDER BY e.event_id""".stripMargin))

  /** 7-CALENDAR-DAY rolling average via a time-based RANGE frame over the
    * day number — NOT a ROWS frame: on a gapped daily series (weekends,
    * silent days) "last 7 rows" and "last 7 days" differ, and the RANGE
    * frame is the financially-correct one. Day-number ordering keys make
    * the frame arithmetic integer-exact on both engines. */
  private val rolling7d = Q(
    "gold_rolling_7d_range",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close"))
        .withColumn("day_no", datediff($"date", lit("2024-01-01").cast("date")))
      val w = Window.partitionBy($"user_id").orderBy($"day_no")
        .rangeBetween(-6, Window.currentRow)
      daily
        .withColumn("avg_7d", (floor(
          sum(floor($"close" * 100 + 0.5)).over(w).cast("double")
            / count(lit(1)).over(w) * 1e4 + 0.5) / 1e6))
        .withColumn("n_days_7d", count(lit(1)).over(w))
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), $"avg_7d", $"n_days_7d")
        .orderBy($"user_id", $"date")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, value AS close,
           |         date - DATE '2024-01-01' AS day_no
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1)
           |SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
           |       (floor((close) * 1e2 + 0.5) / 1e2) AS close,
           |       (floor(CAST(sum(CAST(floor(close * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
           |          / (count(*) OVER w) * 1e4 + 0.5) / 1e6) AS avg_7d,
           |       count(*) OVER w AS n_days_7d
           |FROM px
           |WINDOW w AS (PARTITION BY user_id ORDER BY day_no
           |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           |ORDER BY user_id, date""".stripMargin))

  /** EWMA price smoothing over a 20-row frame (RiskMetrics-style
    * exponential weighting, λ = 0.9): EWMA is a SEQUENTIAL recursion
    * (acc·λ + x·(1−λ)), not a weighted sum a window aggregate can
    * reorder — so it's computed as an explicit ordered fold over the
    * frame's value list (`aggregate` seeded with the frame's first
    * element ≡ DuckDB `list_reduce`), which both engines execute in the
    * identical order → identical doubles. Frame-bounded, one shuffle on
    * the key. */
  private val ewma = Q(
    "gold_ewma_smooth",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close"))
      val w = Window.partitionBy($"user_id").orderBy($"date")
        .rowsBetween(-19, Window.currentRow)
      daily
        .withColumn("lst", collect_list($"close").over(w))
        .withColumn("ewma", (floor((
          aggregate(slice($"lst", lit(2), size($"lst") - 1),
            element_at($"lst", 1),
            (acc, x) => acc * 0.9 + x * 0.1)) * 1e6 + 0.5) / 1e6))
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), $"ewma")
        .orderBy($"user_id", $"date")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, value AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1)
           |SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
           |       (floor((close) * 1e2 + 0.5) / 1e2) AS close,
           |       (floor((list_reduce(list(close) OVER
           |         (PARTITION BY user_id ORDER BY date
           |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
           |         (acc, x) -> acc * 0.9 + x * 0.1)) * 1e6 + 0.5) / 1e6) AS ewma
           |FROM px ORDER BY user_id, date""".stripMargin))

  /** Daily TWAP per user: each observation holds until the next one (or
    * day end), so the average weights each value by its holding duration
    * in micros — the correct mean for IRREGULARLY-spaced ticks, where a
    * plain avg over-weights bursts. One lead() window + one hash
    * aggregate; duration weights are exact integers (micros), so the only
    * float op is the final weighted division. */
  private val twap = Q(
    "gold_twap_daily",
    (s, dir) => {
      import s.implicits._
      val e = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
      val w = Window.partitionBy($"user_id", $"date")
        .orderBy($"ts", $"event_id")
      val withDur = e
        .withColumn("next_ts", lead($"ts", 1).over(w))
        .withColumn("dur_us",
          coalesce(unix_micros($"next_ts"),
            unix_micros(date_add($"date", 1).cast("timestamp")))
            - unix_micros($"ts"))
      withDur.groupBy($"user_id", $"date")
        // cents × µs-duration is up to ~8.6e14/row; the per-group total
        // is day-bounded (~8.6e15) — within a hair of 2^53, so sum
        // exactly rather than ride the double-sum margin
        .agg((floor(sum128(floor($"value" * 100 + 0.5) * $"dur_us").cast("double")
            / 100 / sum($"dur_us") * 1e6 + 0.5) / 1e6).as("twap"),
          count(lit(1)).as("n_ticks"))
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          $"twap", $"n_ticks")
        .orderBy($"user_id", $"date")
    },
    Some("""WITH e AS (
           |  SELECT user_id, ts::DATE AS date, ts, event_id, value,
           |    lead(ts) OVER (PARTITION BY user_id, ts::DATE
           |                   ORDER BY ts, event_id) AS next_ts
           |  FROM events),
           |d AS (
           |  SELECT user_id, date, value,
           |    coalesce(epoch_us(next_ts),
           |             epoch_us((date + INTERVAL 1 DAY)::TIMESTAMP))
           |      - epoch_us(ts) AS dur_us
           |  FROM e)
           |SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
           |       (floor(CAST(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * dur_us) AS STRING) AS DOUBLE)
           |          / 100 / sum(dur_us) * 1e6 + 0.5) / 1e6) AS twap,
           |       count(*) AS n_ticks
           |FROM d GROUP BY user_id, date ORDER BY user_id, date""".stripMargin))

  /** Incremental gold-table maintenance via MERGEABLE partial aggregates:
    * the history side is reduced to per-(key, day) partials (sum / count /
    * min / max — each merge-decomposable), the late-arriving delta is
    * reduced to the same shape, and the final table re-aggregates the
    * UNION of partials. At 100 TB this is the difference between
    * rescanning years of history on every daily load and touching only
    * yesterday's partial rows: the history branch here stands in for a
    * stored partials table (the write path is Writers.upsertByKey), and
    * the oracle pins the algebraic identity — merged partials ==
    * full recompute, including avg recomposed as Σsum/Σn rather than an
    * avg-of-avgs. Plan: two hash aggregates narrowed to (key, day)
    * cardinality, then one tiny re-agg; nothing wide shuffles twice. */
  private val incrMerge = Q(
    "gold_incremental_agg_merge",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir).lineitem
        .select($"l_returnflag", to_date($"l_shipdate").as("day"),
          $"l_quantity", $"l_extendedprice")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy($"l_returnflag", $"day")
          .agg(sum($"l_quantity").as("s_qty"),
            sum(floor($"l_extendedprice" * 100 + 0.5)).as("s_price_c2"),
            count(lit(1)).as("n"),
            min($"l_extendedprice").as("mn"),
            max($"l_extendedprice").as("mx"))
      val hist = partials(li.filter($"day" < lit("1995-07-01").cast("date")))
      val delta = partials(li.filter($"day" >= lit("1995-07-01").cast("date")))
      hist.unionByName(delta)
        .groupBy($"l_returnflag")
        .agg(sum($"n").as("n"),
          (floor((sum($"s_qty")) * 1e2 + 0.5) / 1e2).as("sum_qty"),
          (floor(sum128($"s_price_c2").cast("double") / sum($"n") * 1e4 + 0.5) / 1e6).as("avg_price"),
          (floor((min($"mn")) * 1e2 + 0.5) / 1e2).as("min_price"),
          (floor((max($"mx")) * 1e2 + 0.5) / 1e2).as("max_price"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
           |       (floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2) AS sum_qty,
           |       (floor(CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS STRING) AS DOUBLE)
           |          / count(*) * 1e4 + 0.5) / 1e6) AS avg_price,
           |       (floor((min(l_extendedprice)) * 1e2 + 0.5) / 1e2) AS min_price,
           |       (floor((max(l_extendedprice)) * 1e2 + 0.5) / 1e2) AS max_price
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Rolling z-score anomaly screen: each user's daily close against its
    * own trailing-20-day mean/σ, |z| > 2 flagged — the univariate
    * anomaly-detection shape (statistical process control on a per-key
    * series). Same daily-close spine and bounded ROWS-frame single
    * window pass as gold_rolling_corr, and the same ANSI guard:
    * `try_divide` reproduces DuckDB's NULL for zero-variance and
    * single-row frames where Spark's `/` would throw DIVIDE_BY_ZERO
    * under ANSI mode. The three frame aggregates (avg, stddev) share one
    * frame so WindowExec evaluates them in a single pass; one shuffle on
    * the key, cost O(rows), frame bounded at 20. */
  private val rollingZscore = Q(
    "gold_rolling_zscore",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        // snap the close to integer cents BEFORE the frame aggregates:
        // the window sums then run over exact hundredths on both engines,
        // so a last-ulp float-order difference can't flip the 6dp z
        // rounding or the |z|>2 boundary boolean
        .agg((round(max_by($"value", struct($"ts", $"event_id")) * 100) / 100)
          .as("close"))
      val w = Window.partitionBy($"user_id").orderBy($"date")
        .rowsBetween(-19, Window.currentRow)
      daily
        .withColumn("z", try_divide($"close" - avg($"close").over(w),
          stddev_samp($"close").over(w)))
        .select($"user_id", date_format($"date", "yyyy-MM-dd").as("date"),
          (floor(($"close") * 1e2 + 0.5) / 1e2).as("close"), (floor(($"z") * 1e6 + 0.5) / 1e6).as("z"),
          coalesce(abs($"z") > 2.0, lit(false)).as("is_anomaly"))
        .orderBy($"user_id", $"date")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, round(value * 100) / 100 AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1),
           |z AS (
           |  SELECT user_id, date, close,
           |         (close - avg(close) OVER w) / nullif(stddev_samp(close)
           |            OVER w, 0) AS z
           |  FROM px
           |  WINDOW w AS (PARTITION BY user_id ORDER BY date
           |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
           |SELECT user_id, strftime(date, '%Y-%m-%d') AS date,
           |       (floor((close) * 1e2 + 0.5) / 1e2) AS close, (floor((z) * 1e6 + 0.5) / 1e6) AS z,
           |       coalesce(abs(z) > 2.0, false) AS is_anomaly
           |FROM z ORDER BY user_id, date""".stripMargin))

  /** Per-user market beta/alpha/R² — full-period OLS of each user's
    * daily close against the equal-weight market series (the
    * cross-sectional regression sibling of gold_rolling_corr's windowed
    * correlation), via the SQL-standard regr_* aggregate family both
    * engines implement. Market series 6dp-prerounded and broadcast, one
    * shuffle on the user key, per-group co-moment aggregates — no
    * window at all. Users with a single day regress to NULL in both
    * engines (var(x)=0). */
  private val betaPerUser = Q(
    "gold_beta_per_user",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        // cents-snap before the co-moment aggregates (same rationale as
        // gold_rolling_zscore: exact hundredths make the regr_* partial
        // merges order-independent at the 6dp output precision)
        .agg((round(max_by($"value", struct($"ts", $"event_id")) * 100) / 100)
          .as("close"))
      val market = daily.groupBy($"date")
        .agg((floor(sum(floor($"close" * 100 + 0.5)).cast("double") / count($"close") * 1e4 + 0.5) / 1e6).as("mkt"))
      daily.join(broadcast(market), "date")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_days"),
          (floor((regr_slope($"close", $"mkt")) * 1e6 + 0.5) / 1e6).as("beta"),
          (floor((regr_intercept($"close", $"mkt")) * 1e6 + 0.5) / 1e6).as("alpha"),
          (floor((regr_r2($"close", $"mkt")) * 1e6 + 0.5) / 1e6).as("r2"))
        .orderBy($"user_id")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, round(value * 100) / 100 AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1),
           |mkt AS (SELECT date, (floor(sum(CAST(floor(close * 100 + 0.5) AS BIGINT))::VARCHAR::DOUBLE / count(close) * 1e4 + 0.5) / 1e6) AS mkt
           |        FROM px GROUP BY date)
           |SELECT user_id, count(*)::BIGINT AS n_days,
           |       (floor((regr_slope(close, mkt)) * 1e6 + 0.5) / 1e6) AS beta,
           |       (floor((regr_intercept(close, mkt)) * 1e6 + 0.5) / 1e6) AS alpha,
           |       (floor((regr_r2(close, mkt)) * 1e6 + 0.5) / 1e6) AS r2
           |FROM px JOIN mkt USING (date)
           |GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Classical seasonal decomposition (STL-lite) of the daily mean
    * series: trend = centered 7-day moving average (full windows only),
    * seasonal = per-weekday mean of the detrended series, residual =
    * the rest. Everything after the initial 6dp daily mean runs in
    * integer micro-units — the centered-MA sum, the detrend subtraction
    * and the weekday means are exact integer arithmetic, so the
    * decomposition is bit-identical cross-engine (the float-window-sum
    * ordering problem never arises). One O(days) series, broadcast
    * weekday means, additivity x = trend+seasonal+residual holds
    * exactly in micro-units by construction. */
  private val seasonal = Q(
    "gold_seasonal_decompose",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .groupBy(to_date($"ts").as("day"))
        .agg((floor(sum(floor($"value" * 100 + 0.5)).cast("double") / count($"value") * 1e4 + 0.5) / 1e6).as("x"))
        .withColumn("xi", round($"x" * 1e6).cast("long"))
      val w = Window.orderBy($"day").rowsBetween(-3, 3)
      val trended = daily
        .withColumn("ti", when(count(lit(1)).over(w) === 7,
          round(sum($"xi").over(w).cast("double") / 7).cast("long")))
        .withColumn("di", $"xi" - $"ti")
        .withColumn("dow", dayofweek($"day"))
      val seas = trended.filter($"di".isNotNull)
        .groupBy($"dow")
        .agg(round(sum($"di").cast("double") / count(lit(1))).cast("long")
          .as("si"))
      trended.join(broadcast(seas), Seq("dow"), "left")
        .select(date_format($"day", "yyyy-MM-dd").as("day"),
          (floor(($"x") * 1e6 + 0.5) / 1e6).as("x"),
          (floor(($"ti".cast("double") / 1e6) * 1e6 + 0.5) / 1e6).as("trend"),
          (floor((when($"ti".isNotNull, $"si").cast("double") / 1e6) * 1e6 + 0.5) / 1e6)
            .as("seasonal"),
          (floor((($"di" - $"si").cast("double") / 1e6) * 1e6 + 0.5) / 1e6).as("residual"))
        .orderBy($"day")
    },
    Some("""WITH daily AS (
           |  SELECT ts::DATE AS day, (floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::VARCHAR::DOUBLE / count(value) * 1e4 + 0.5) / 1e6) AS x
           |  FROM events GROUP BY 1),
           |di AS (SELECT day, x, round(x * 1e6)::BIGINT AS xi FROM daily),
           |tr AS (
           |  SELECT day, x, xi,
           |         CASE WHEN count(*) OVER w = 7
           |              THEN round((sum(xi) OVER w)::DOUBLE / 7)::BIGINT
           |         END AS ti,
           |         dayofweek(day) + 1 AS dow
           |  FROM di
           |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
           |               AND 3 FOLLOWING)),
           |d2 AS (SELECT *, xi - ti AS di FROM tr),
           |seas AS (
           |  SELECT dow, round(sum(di)::DOUBLE / count(*))::BIGINT AS si
           |  FROM d2 WHERE di IS NOT NULL GROUP BY dow)
           |SELECT strftime(day, '%Y-%m-%d') AS day, (floor((x) * 1e6 + 0.5) / 1e6) AS x,
           |       (floor((ti::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6) AS trend,
           |       (floor(((CASE WHEN ti IS NOT NULL THEN si END)::DOUBLE
           |             / 1e6) * 1e6 + 0.5) / 1e6) AS seasonal,
           |       (floor(((di - si)::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6) AS residual
           |FROM d2 LEFT JOIN seas USING (dow) ORDER BY day""".stripMargin))

  /** Annualized Sharpe ratio per user over daily simple returns — the
    * risk-adjusted-performance scalar every backtest reports. All value
    * surfaces are exact-integer arithmetic until one final deterministic
    * IEEE chain: returns are micro-unit BIGINTs (`floor(x*1e6 + 0.5)` —
    * the 1cbe650 pattern; the sf0.1 sweep caught `round(avg(r), 6)`
    * splitting a shortest-decimal half-way tie between Spark's HALF_UP
    * and DuckDB's binary round), the mean is an exact integer sum over
    * them, and the variance comes from exact integer moments
    * (n·Σx² − (Σx)², summed as DECIMAL(38,0)/HUGEINT so the squares
    * can't overflow), so no engine-side summation order can shift a
    * bit. The closing /· /sqrt chain is written identically on both
    * engines — IEEE ops on identical inputs are bit-deterministic.
    * NULL semantics match the old stddev form: n=1 or zero variance →
    * NULL (the rolling_corr lesson). */
  private val sharpe = Q(
    "gold_sharpe_ratio",
    (s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir).events
        .select($"user_id", to_date($"ts").as("date"), $"ts", $"event_id",
          $"value")
        .groupBy($"user_id", $"date")
        .agg(max_by($"value", struct($"ts", $"event_id")).as("close"))
      val w = Window.partitionBy($"user_id").orderBy($"date")
      val rets = daily
        .withColumn("r_e6",
          floor((try_divide($"close", lag($"close", 1).over(w)) - 1) * 1e6
            + 0.5))
        .filter($"r_e6".isNotNull)
      val dec = "decimal(38,0)"
      rets.groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum128($"r_e6").as("s1"),
          // r_e6² exceeds 2⁶³ PER ROW — outside sum128's long-summand
          // domain, which is exactly what sumsq128 exists for: the
          // square happens INSIDE the kernel in 128-bit, so the last
          // per-row BigDecimal multiply in the registry is gone
          sumSq128($"r_e6").as("s2"))
        .withColumn("a",
          ($"n".cast(dec) * $"s2" - $"s1".cast(dec) * $"s1".cast(dec))
            .cast("double"))
        .select($"user_id", $"n".as("n_days"),
          floor($"s1".cast("double") / $"n" + 0.5).as("mean_ret_e6"),
          when($"n" > 1 && $"a" > 0,
            floor(($"s1".cast("double") / $"n") /
              sqrt($"a" / ($"n" * ($"n" - 1))) *
              lit(math.sqrt(252.0)) * 1e4 + 0.5)).as("sharpe_e4"))
        .orderBy($"user_id")
    },
    Some("""WITH px AS (
           |  SELECT user_id, date, value AS close
           |  FROM (SELECT user_id, ts::DATE AS date, value,
           |               row_number() OVER (PARTITION BY user_id, ts::DATE
           |                 ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events)
           |  WHERE rn = 1),
           |rets AS (
           |  SELECT user_id,
           |         CAST(floor((close / nullif(lag(close) OVER
           |           (PARTITION BY user_id ORDER BY date), 0) - 1) * 1e6
           |           + 0.5) AS BIGINT) AS r_e6
           |  FROM px),
           |mo AS (
           |  SELECT user_id, count(*)::BIGINT AS n,
           |         sum(r_e6)::HUGEINT AS s1,
           |         sum(r_e6::HUGEINT * r_e6) AS s2
           |  FROM rets WHERE r_e6 IS NOT NULL GROUP BY user_id),
           |ab AS (SELECT *, (n * s2 - s1 * s1)::VARCHAR::DOUBLE AS a FROM mo)
           |SELECT user_id, n AS n_days,
           |       CAST(floor(s1::VARCHAR::DOUBLE / n + 0.5) AS BIGINT) AS mean_ret_e6,
           |       CASE WHEN n > 1 AND a > 0 THEN
           |         CAST(floor((s1::VARCHAR::DOUBLE / n) /
           |           sqrt(a / (n * (n - 1))) *
           |           sqrt(252.0) * 1e4 + 0.5) AS BIGINT)
           |       END AS sharpe_e4
           |FROM ab ORDER BY user_id""".stripMargin))

  def all: Seq[Q] =
    Seq(drawdown, asofAlign, cleanCorpus, rangeJoin, ohlc, fxAdjusted,
      gapFill, rollingMedian, rollingCorr, asofNearest, rolling7d, ewma,
      twap, incrMerge, rollingZscore, betaPerUser, seasonal, sharpe)
}
