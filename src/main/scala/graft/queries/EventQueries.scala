package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.core.Lineage.LineageOps

/** Event-stream analytics over `events` in batch form (SURVEY §2E
  * streaming ops + the gold "backtesting" layer of §7.6): tumbling and
  * sliding time windows, session windows (gaps-and-islands), JSON
  * property extraction, as-of enrichment, per-key returns and moving
  * averages. The same windowed aggregations run under Structured
  * Streaming in graft.streaming (spec-tested); here they are oracle-
  * checked on the batch path.
  *
  * Scale notes: every query shuffles at most once, on its natural key
  * (window bucket / user_id); window functions partition by user_id —
  * bounded state per key, AQE handles skewed users.
  */
object EventQueries {

  private def ev(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir).events

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  private val tumbling = Q(
    "events_tumbling_hourly",
    (s, dir) => {
      import s.implicits._
      ev(s, dir)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), (sum(floor($"value" * 100 + 0.5)) / 1e2).as("sum_value"))
        .select(date_format($"window.start", fmt).as("window_start"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"window_start", $"event_type")
    },
    Some("""SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
           |         AS window_start,
           |       event_type, count(*) AS n, (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 1e2) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin))

  private val sliding = Q(
    "events_sliding_1h_30m",
    (s, dir) => {
      import s.implicits._
      ev(s, dir)
        .groupBy(window($"ts", "1 hour", "30 minutes"))
        // avg rounded at 6dp, not 4: sum(2dp values)/n has ≤5 exact decimal
        // digits for the common n, so 6dp is never a tie — 4dp hit an exact
        // midpoint where Spark (HALF_UP) and DuckDB (HALF_EVEN) disagree.
        .agg(count(lit(1)).as("n"), (floor(sum(floor($"value" * 100 + 0.5)).cast("double") / count($"value") * 1e4 + 0.5) / 1e6).as("avg_value"))
        .select(date_format($"window.start", fmt).as("window_start"), $"n", $"avg_value")
        .orderBy($"window_start")
    },
    Some("""WITH w AS (
           |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
           |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
           |           AS window_start, value
           |  FROM events)
           |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           |       count(*) AS n, (floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::VARCHAR::DOUBLE / count(value) * 1e4 + 0.5) / 1e6) AS avg_value
           |FROM w GROUP BY w.window_start ORDER BY window_start""".stripMargin))

  /** Session windows with a 10-minute gap, batch gaps-and-islands form:
    * a new session starts where the gap from the previous event of the
    * same user exceeds the timeout; session id is the running count of
    * starts. One shuffle on user_id. */
  private val sessions = Q(
    "events_session_windows",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      ev(s, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(byUser))
        .withColumn("new_session",
          when($"prev_ts".isNull ||
            unix_micros($"ts") - unix_micros($"prev_ts") > 600L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum($"new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_seq")
        .agg(date_format(min($"ts"), fmt).as("session_start"),
          date_format(max($"ts"), fmt).as("session_end"),
          count(lit(1)).as("n_events"),
          (sum(floor($"value" * 100 + 0.5)) / 1e2).as("sum_value"))
        .orderBy($"user_id", $"session_seq")
    },
    Some("""WITH flagged AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
           |         THEN 1 ELSE 0 END AS new_session
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sessions AS (
           |  SELECT user_id, ts, value,
           |    (sum(new_session) OVER
           |      (PARTITION BY user_id ORDER BY ts
           |       ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
           |  FROM flagged)
           |SELECT user_id, session_seq,
           |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           |       count(*) AS n_events, (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 1e2) AS sum_value
           |FROM sessions GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin))

  private val jsonProps = Q(
    "events_json_props",
    (s, dir) => {
      import s.implicits._
      ev(s, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        // floor, not int-cast: Spark's cast truncates, DuckDB's rounds
        .groupBy(floor($"k" / 10).cast("int").as("k_bucket"))
        .agg(count(lit(1)).as("n"), (floor(sum(floor($"value" * 100 + 0.5)).cast("double") / count($"value") * 1e4 + 0.5) / 1e6).as("avg_value"))
        .orderBy($"k_bucket")
    },
    Some("""SELECT floor(json_extract_string(props, '$.k')::INT / 10)::INT AS k_bucket,
           |       count(*) AS n, (floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::VARCHAR::DOUBLE / count(value) * 1e4 + 0.5) / 1e6) AS avg_value
           |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin))

  /** As-of enrichment: each purchase picks up the same user's most recent
    * view at-or-before it. Spark form: union the two tagged streams, one
    * window pass per user ordered by (ts, views-first) carrying the last
    * view forward — the scalable as-of join (single shuffle, no range
    * join explosion). Oracle: DuckDB's native ASOF JOIN. */
  private val asof = Q(
    "events_asof_enrich",
    (s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
      // de-dup views to one row per (user_id, ts) so the as-of pick is
      // deterministic on both engines
      val views = e.filter($"event_type" === "view")
        .groupBy($"user_id", $"ts").agg(max($"value").as("view_value"))
        .select($"user_id", $"ts", $"view_value", lit(0).as("side"),
          lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", lit(null).cast("double").as("view_value"),
          lit(1).as("side"), $"event_id", $"value")
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.unionByName(purchases)
        .withColumn("last_view", max(when($"side" === 0,
          struct($"ts", $"view_value"))).over(w))
        .filter($"side" === 1)
        .select($"event_id", $"user_id",
          date_format($"ts", fmt).as("ts"),
          (floor(($"value") * 1e2 + 0.5) / 1e2).as("purchase_value"),
          date_format($"last_view.ts", fmt).as("last_view_ts"),
          (floor(($"last_view.view_value") * 1e2 + 0.5) / 1e2).as("last_view_value"))
        .orderBy($"event_id")
    },
    Some("""WITH v AS (SELECT user_id, ts, max(value) AS view_value
           |           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
           |p AS (SELECT event_id, user_id, ts, value FROM events
           |      WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id,
           |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           |       (floor((p.value) * 1e2 + 0.5) / 1e2) AS purchase_value,
           |       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS last_view_ts,
           |       (floor((v.view_value) * 1e2 + 0.5) / 1e2) AS last_view_value
           |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
           |ORDER BY p.event_id""".stripMargin))

  /** Gold analytics (SURVEY §7.6 backtesting shapes): per-user event-value
    * returns (lag) and 5-row moving average. Outputs are scaled integers
    * built with `floor(x*scale + 0.5)` — IEEE double ops are deterministic
    * across engines, so there is no decimal-round tie surface (the sf0.1
    * sweep caught `round(x, 6)` splitting a half-way double 1 ulp apart
    * between Spark's shortest-decimal HALF_UP and DuckDB's binary round).
    * ma5 averages exact integer cents, so window summation order is
    * irrelevant too. */
  private val returns = Q(
    "gold_returns_moving_avg",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ma = byUser.rowsBetween(-4, Window.currentRow)
      ev(s, dir)
        .withColumn("prev_value", lag($"value", 1).over(byUser))
        .withColumn("value_c2", floor($"value" * 100 + 0.5))
        .select($"event_id", $"user_id", $"value_c2",
          floor(($"value" / nullif($"prev_value", lit(0.0)) - 1) * 1e6 + 0.5)
            .as("ret_e6"),
          avg($"value_c2").over(ma).as("ma5_c2"))
        .orderBy($"event_id")
    },
    Some("""WITH base AS (
           |  SELECT event_id, user_id, ts, value,
           |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c2,
           |    lag(value) OVER
           |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
           |  FROM events)
           |SELECT event_id, user_id, value_c2,
           |  CAST(floor((value / nullif(prev_value, 0) - 1) * 1000000 + 0.5)
           |       AS BIGINT) AS ret_e6,
           |  avg(value_c2) OVER
           |    (PARTITION BY user_id ORDER BY ts, event_id
           |     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma5_c2
           |FROM base ORDER BY event_id""".stripMargin))

  /** SCD Type-2 dimension history: each user's event_type change log,
    * runs of identical values collapsed, half-open validity intervals
    * (effective_to = next change, NULL = current). Timestamps compared
    * as integer epoch-micros — no float or format parity surface at all.
    * One shuffle on user_id; both window passes reuse the same sort. */
  private val scd2Q = Q(
    "events_scd2_history",
    (s, dir) => {
      import s.implicits._
      graft.operators.RelationalOps.scd2(
          ev(s, dir).select($"user_id", $"ts", $"event_id", $"event_type"),
          "user_id", "ts", "event_id", Seq("event_type"))
        .select($"user_id", $"event_type",
          unix_micros($"ts").as("eff_from_us"),
          unix_micros($"effective_to").as("eff_to_us"),
          $"is_current")
        .orderBy($"user_id", $"eff_from_us")
    },
    Some("""WITH ordered AS (
           |  SELECT user_id, ts, event_id, event_type,
           |         lag(event_type) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           |  FROM events),
           |changes AS (
           |  SELECT user_id, ts, event_id, event_type FROM ordered
           |  WHERE prev_type IS NULL OR prev_type <> event_type),
           |hist AS (
           |  SELECT user_id, event_type, epoch_us(ts) AS eff_from_us,
           |         epoch_us(lead(ts) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id)) AS eff_to_us
           |  FROM changes)
           |SELECT user_id, event_type, eff_from_us, eff_to_us,
           |       (eff_to_us IS NULL) AS is_current
           |FROM hist ORDER BY user_id, eff_from_us""".stripMargin))

  /** CDC apply — the change log collapsed to current state: events as a
    * CDC feed (signup=insert, error=delete tombstone, anything else=
    * update), last op per user wins, tombstoned users drop out. The
    * current-state complement of events_scd2_history. */
  private val cdcApply = Q(
    "events_cdc_apply",
    (s, dir) => {
      import s.implicits._
      val feed = ev(s, dir).select($"user_id", $"ts", $"event_id", $"value",
        when($"event_type" === "signup", "I")
          .when($"event_type" === "error", "D")
          .otherwise("U").as("op"))
      graft.operators.RelationalOps.applyCdc(
          feed, "user_id", "ts", "event_id", "op")
        .select($"user_id", $"op".as("last_op"),
          unix_micros($"ts").as("as_of_us"),
          (floor(($"value") * 1e2 + 0.5) / 1e2).as("value"))
        .orderBy($"user_id")
    },
    Some("""WITH feed AS (
           |  SELECT user_id, ts, event_id, value,
           |         CASE event_type WHEN 'signup' THEN 'I'
           |              WHEN 'error' THEN 'D' ELSE 'U' END AS op
           |  FROM events),
           |latest AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER
           |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |    FROM feed) WHERE rn = 1)
           |SELECT user_id, op AS last_op, epoch_us(ts) AS as_of_us,
           |       (floor((value) * 1e2 + 0.5) / 1e2) AS value
           |FROM latest WHERE op <> 'D' ORDER BY user_id""".stripMargin))

  /** Merge overlapping 5-minute activity intervals per user (gaps-and-
    * islands over INTERVALS: new island only when start passes the
    * running max of previous ends — running max, not lag(end), so nested
    * intervals merge too). Pure integer micros — no float/format parity
    * surface. One shuffle on user_id. */
  private val intervalMerge = Q(
    "events_interval_merge",
    (s, dir) => {
      import s.implicits._
      val iv = ev(s, dir).select($"user_id", $"event_id",
        unix_micros($"ts").as("s_us"),
        (unix_micros($"ts") + 300000000L).as("e_us"))
      graft.operators.RangeJoinOps
        .mergeIntervals(iv, "user_id", "s_us", "e_us", "event_id")
        .orderBy($"user_id", $"island")
    },
    Some("""WITH iv AS (
           |  SELECT user_id, event_id, epoch_us(ts) AS s,
           |         epoch_us(ts) + 300000000 AS e
           |  FROM events),
           |flagged AS (
           |  SELECT user_id, event_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER
           |      (PARTITION BY user_id ORDER BY s, e, event_id
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |      -9223372036854775807) THEN 1 ELSE 0 END AS ni
           |  FROM iv),
           |isl AS (
           |  SELECT user_id, s, e,
           |    sum(ni) OVER (PARTITION BY user_id ORDER BY s, e, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM flagged)
           |SELECT user_id, island::BIGINT AS island,
           |       min(s) AS merged_start, max(e) AS merged_end,
           |       count(*) AS n_merged
           |FROM isl GROUP BY user_id, island
           |ORDER BY user_id, island""".stripMargin))

  /** Ordered funnel view → click → purchase: each step's timestamp is the
    * user's first qualifying event STRICTLY after the previous step (the
    * classic event-analytics funnel).
    *
    * Scale shape: ZERO joins, ONE shuffle. Step times are layered
    * whole-partition windows over user_id — `t2 = min(click ts where
    * ts > t1) over (partition by user)` reads the previous layer's column
    * in the same partitioning, and the per-user collapse + global count
    * reuse that exchange. A broadcast-the-step-frames formulation would
    * cap out when #users outgrows the driver; this one only ever
    * partitions by user, which is the key the data already has.
    * Plan-asserted: no Join operator, exactly one hash exchange. */
  private val funnel = Q(
    "events_funnel_steps",
    (s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
      val byUser = Window.partitionBy($"user_id")
      val layered = e
        .withColumn("t1",
          min(when($"event_type" === "view", $"ts")).over(byUser))
        .withColumn("t2", min(when(
          $"event_type" === "click" && $"ts" > $"t1", $"ts")).over(byUser))
        .withColumn("t3", min(when(
          $"event_type" === "purchase" && $"ts" > $"t2", $"ts")).over(byUser))
      val wide = layered
        .groupBy($"user_id")
        .agg(first($"t1").as("t1"), first($"t2").as("t2"),
          first($"t3").as("t3"))
        .agg(count($"t1").as("n1"), count($"t2").as("n2"),
          count($"t3").as("n3"))
      wide.select(explode(array(
          struct(lit(1).as("step"), lit("view").as("event_type"),
            $"n1".as("n_users"), (floor((lit(1.0)) * 1e6 + 0.5) / 1e6).as("conv_from_prev")),
          struct(lit(2).as("step"), lit("click").as("event_type"),
            $"n2".as("n_users"),
            (floor((when($"n1" > 0, $"n2".cast("double") / $"n1")) * 1e6 + 0.5) / 1e6)
              .as("conv_from_prev")),
          struct(lit(3).as("step"), lit("purchase").as("event_type"),
            $"n3".as("n_users"),
            (floor((when($"n2" > 0, $"n3".cast("double") / $"n2")) * 1e6 + 0.5) / 1e6)
              .as("conv_from_prev")))))
        .select($"col.*")
        .orderBy($"step")
    },
    Some("""WITH t1 AS (
           |  SELECT user_id, min(ts) AS t1 FROM events
           |  WHERE event_type = 'view' GROUP BY user_id),
           |t2 AS (
           |  SELECT e.user_id, min(e.ts) AS t2
           |  FROM events e JOIN t1 USING (user_id)
           |  WHERE e.event_type = 'click' AND e.ts > t1.t1
           |  GROUP BY e.user_id),
           |t3 AS (
           |  SELECT e.user_id, min(e.ts) AS t3
           |  FROM events e JOIN t2 USING (user_id)
           |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           |  GROUP BY e.user_id),
           |wide AS (
           |  SELECT count(t1.t1) AS n1, count(t2.t2) AS n2, count(t3.t3) AS n3
           |  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
           |SELECT step, event_type, n_users, conv_from_prev FROM (
           |  SELECT 1::INT AS step, 'view' AS event_type, n1 AS n_users,
           |         (floor((1.0::DOUBLE) * 1e6 + 0.5) / 1e6) AS conv_from_prev FROM wide
           |  UNION ALL
           |  SELECT 2::INT, 'click', n2,
           |         (floor((CASE WHEN n1 > 0 THEN n2::DOUBLE / n1 END) * 1e6 + 0.5) / 1e6) FROM wide
           |  UNION ALL
           |  SELECT 3::INT, 'purchase', n3,
           |         (floor((CASE WHEN n2 > 0 THEN n3::DOUBLE / n2 END) * 1e6 + 0.5) / 1e6) FROM wide)
           |ORDER BY step""".stripMargin))

  /** Daily retention cohorts: users grouped by first-activity date, count
    * of distinct active users per (cohort, day offset) — integer-exact.
    * Zero joins: the cohort date is a min-over-user window (a
    * broadcast-the-cohort-map formulation would be O(#users) on the
    * driver); the only shuffles are the user partitioning and the final
    * (cohort, offset) distinct-count — both unavoidable key changes. */
  private val retention = Q(
    "events_retention_cohorts",
    (s, dir) => {
      import s.implicits._
      ev(s, dir).select($"user_id", to_date($"ts").as("d"))
        .withColumn("cohort",
          min($"d").over(Window.partitionBy($"user_id")))
        .groupBy($"cohort", datediff($"d", $"cohort").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_active"))
        .select(date_format($"cohort", "yyyy-MM-dd").as("cohort"),
          $"day_offset", $"n_active")
        .orderBy($"cohort", $"day_offset")
    },
    Some("""WITH d AS (SELECT user_id, ts::DATE AS d FROM events),
           |cohorts AS (SELECT user_id, min(d) AS cohort FROM d GROUP BY user_id)
           |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           |       (d.d - c.cohort)::INT AS day_offset,
           |       count(DISTINCT d.user_id)::BIGINT AS n_active
           |FROM d JOIN cohorts c USING (user_id)
           |GROUP BY c.cohort, day_offset ORDER BY cohort, day_offset""".stripMargin))

  /** Point-in-time dimension lookup: each purchase event joined to the
    * SCD2 history segment (events_scd2_history's build) that was CURRENT
    * at the purchase timestamp — `eff_from ≤ ts < eff_to` with the
    * half-open interval making exactly one segment match. This is the
    * label-leakage-safe enrichment pattern: training features must read
    * the dimension AS OF the event time, never the latest row. The join
    * is user-equi first (one shuffle on the key both sides already
    * share), the interval predicate filters within the key group. */
  private val pointInTime = Q(
    "events_point_in_time_join",
    (s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
      val hist = graft.operators.RelationalOps.scd2(
          e.select($"user_id", $"ts", $"event_id", $"event_type"),
          "user_id", "ts", "event_id", Seq("event_type"))
        .select($"user_id".as("h_user"), $"event_type".as("seg_type"),
          $"ts".as("eff_from"), $"effective_to")
      e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
        .join(hist, $"user_id" === $"h_user" && $"ts" >= $"eff_from" &&
          ($"effective_to".isNull || $"ts" < $"effective_to"))
        .select($"event_id", $"user_id",
          date_format($"ts", fmt).as("ts"), $"seg_type",
          unix_micros($"eff_from").as("eff_from_us"))
        .orderBy($"event_id")
    },
    Some("""WITH ordered AS (
           |  SELECT user_id, ts, event_id, event_type,
           |         lag(event_type) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           |  FROM events),
           |hist AS (
           |  SELECT user_id, event_type AS seg_type, ts AS eff_from,
           |         lead(ts) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS eff_to
           |  FROM ordered
           |  WHERE prev_type IS NULL OR prev_type <> event_type),
           |p AS (SELECT event_id, user_id, ts FROM events
           |      WHERE event_type = 'purchase')
           |SELECT p.event_id, p.user_id,
           |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           |       h.seg_type, epoch_us(h.eff_from) AS eff_from_us
           |FROM p JOIN hist h
           |  ON p.user_id = h.user_id AND p.ts >= h.eff_from
           | AND (h.eff_to IS NULL OR p.ts < h.eff_to)
           |ORDER BY p.event_id""".stripMargin))

  /** Weighted PageRank over the page-transition graph: consecutive events
    * per user define (prev page → page) edges weighted by transition
    * count; 3 fixed iterations with damping 0.85 and dangling-mass
    * redistribution. The oracle unrolls the identical recurrence, so
    * values match to 6dp. */
  private val pagerank = Q(
    "graph_pagerank",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      graft.operators.GraphOps.pageRank(edges, "src", "dst", "w", 3)
        .select($"id".as("page"), (floor(($"rank") * 1e6 + 0.5) / 1e6).as("rank"))
        .orderBy($"page")
    },
    Some {
      val d = "0.85"
      val iters = (1 to 3).map { i =>
        s"""dm$i AS (SELECT coalesce(sum(rank), 0) AS dm
           |         FROM r${i - 1} JOIN dang USING (id)),
           |c$i AS (SELECT t.dst AS id, sum(t.p * r.rank) AS c
           |        FROM trans t JOIN r${i - 1} r ON t.src = r.id
           |        GROUP BY t.dst),
           |r$i AS (SELECT nodes.id,
           |          (1 - $d)/n + $d * (coalesce(c.c, 0) + dm.dm/n) AS rank
           |        FROM nodes LEFT JOIN c$i c ON nodes.id = c.id
           |        CROSS JOIN nn CROSS JOIN dm$i dm)""".stripMargin
      }.mkString(",\n")
      s"""WITH lagged AS (
         |  SELECT (props->>'k')::INT AS dst,
         |         lag((props->>'k')::INT) OVER
         |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM events),
         |edges AS (
         |  SELECT src, dst, count(*)::DOUBLE AS w FROM lagged
         |  WHERE src IS NOT NULL GROUP BY src, dst),
         |nodes AS (SELECT DISTINCT src AS id FROM edges
         |          UNION SELECT DISTINCT dst FROM edges),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |trans AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
         |          FROM edges),
         |dang AS (SELECT id FROM nodes
         |         WHERE id NOT IN (SELECT DISTINCT src FROM edges)),
         |r0 AS (SELECT id, 1.0/n AS rank FROM nodes CROSS JOIN nn),
         |$iters
         |SELECT id AS page, (floor((rank) * 1e6 + 0.5) / 1e6) AS rank FROM r3 ORDER BY page""".stripMargin
    })

  /** Per-node triangle counts over the (undirected, simplified)
    * page-transition graph — the clustering-structure primitive. Deployed
    * path is the degree-ordered orientation (every wedge generated at its
    * minimum-(deg,id) vertex, O(m^1.5) regardless of hub skew); the
    * oracle is the id-ordered brute-force join, which discovers the
    * identical triangle set — orientation only changes WHERE a triangle
    * is found, not whether. */
  private val triangles = Q(
    "graph_triangles",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
      graft.operators.GraphOps.triangleCounts(edges, "src", "dst")
        .select($"id".as("node"), $"n_triangles")
        .orderBy($"node")
    },
    Some("""WITH lagged AS (
           |  SELECT (props->>'k')::INT AS dst,
           |         lag((props->>'k')::INT) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
           |  FROM events),
           |ed AS (
           |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           |  FROM lagged WHERE src IS NOT NULL AND src <> dst),
           |nodes AS (SELECT DISTINCT u AS id FROM ed
           |          UNION SELECT DISTINCT v FROM ed),
           |tri AS (
           |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |  FROM ed e1
           |  JOIN ed e2 ON e2.u = e1.v
           |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
           |pern AS (
           |  SELECT node, count(*)::BIGINT AS n_triangles FROM (
           |    SELECT a AS node FROM tri
           |    UNION ALL SELECT b FROM tri
           |    UNION ALL SELECT c FROM tri)
           |  GROUP BY node)
           |SELECT nodes.id::INT AS node,
           |       coalesce(pern.n_triangles, 0)::BIGINT AS n_triangles
           |FROM nodes LEFT JOIN pern ON nodes.id = pern.node
           |ORDER BY node""".stripMargin))

  /** Hop-bounded reachability over the page-transition graph: every page
    * reachable from page 0 within 3 clicks, with its shortest hop count —
    * BFS frontier iteration (GraphOps.shortestHops); the oracle is the
    * depth-bounded recursive CTE with min(dist) collapsing cycle
    * rediscoveries. */
  private val reachable = Q(
    "graph_reachable_3hops",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
        .select($"src", $"dst")
      val sources = s.range(0, 1).select($"id".cast("int").as("id"))
      graft.operators.GraphOps.shortestHops(edges, "src", "dst",
          sources, "id", 3)
        .select($"id".as("page"), $"dist")
        .orderBy($"page")
    },
    Some("""WITH RECURSIVE lagged AS (
           |  SELECT (props->>'k')::INT AS dst,
           |         lag((props->>'k')::INT) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
           |  FROM events),
           |edges AS (
           |  SELECT DISTINCT src, dst FROM lagged WHERE src IS NOT NULL),
           |reach AS (
           |  SELECT 0 AS id, 0 AS dist
           |  UNION
           |  SELECT e.dst, reach.dist + 1 FROM reach
           |  JOIN edges e ON e.src = reach.id WHERE reach.dist < 3)
           |SELECT id AS page, min(dist)::INT AS dist FROM reach
           |GROUP BY id ORDER BY page""".stripMargin))

  /** DAU / trailing-7-day WAU per day. The WAU form matters at scale:
    * `count(DISTINCT) OVER (RANGE 7 days)` doesn't exist, and a day×day
    * self-join re-scans history per day. Instead each (user, active-day)
    * pair EXPLODES into the 7 report days it contributes to — scan-local
    * generate — and one distinct-count aggregate per report day finishes
    * it: cost is 7× the (already user-day-deduped) activity table,
    * independent of the window count. Report days clipped to the observed
    * range so no partial-window phantom days appear. */
  private val wau = Q(
    "events_dau_wau",
    (s, dir) => {
      import s.implicits._
      val userDays = ev(s, dir)
        .select($"user_id", to_date($"ts").as("day")).distinct()
        .cut(eager = false)
      val bounds = userDays.agg(max($"day").as("max_day"))
      val dau = userDays.groupBy($"day").agg(count(lit(1)).as("dau"))
      val wauDf = userDays
        .select($"user_id",
          explode(sequence($"day", date_add($"day", 6))).as("day"))
        .crossJoin(broadcast(bounds))
        .filter($"day" <= $"max_day")
        .groupBy($"day")
        .agg(count_distinct($"user_id").as("wau"))
      dau.join(wauDf, Seq("day"))
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dau", $"wau")
        .orderBy($"day")
    },
    Some("""WITH ud AS (
           |  SELECT DISTINCT user_id, ts::DATE AS day FROM events),
           |mx AS (SELECT max(day) AS max_day FROM ud),
           |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
           |contrib AS (
           |  SELECT user_id,
           |         unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE
           |           AS day
           |  FROM ud),
           |wau AS (
           |  SELECT c.day, count(DISTINCT c.user_id) AS wau
           |  FROM contrib c CROSS JOIN mx WHERE c.day <= mx.max_day
           |  GROUP BY c.day)
           |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau
           |FROM dau d JOIN wau w ON d.day = w.day
           |ORDER BY day""".stripMargin))

  /** Fixed-round k-core peeling (k=15, 3 rounds) over the page-transition
    * graph — the community/"dense-subgraph" primitive used to strip
    * low-engagement periphery before expensive graph analytics. Rounds
    * are fixed by contract (like pagerank's iteration count) so the
    * oracle unrolls the identical peel; the fixpoint-equals-true-k-core
    * property is GraphOpsSpec's job, data-dependent convergence being
    * unpinnable cross-engine. At sf0.001 this cascades 100→72→49→14
    * nodes (the 15-core of that graph is empty — round 4 would clear
    * it); at sf0.01 the graph is near-complete and nothing peels. Both
    * non-trivial states are oracle-checked. */
  private val kcore = Q(
    "graph_kcore",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
      graft.operators.GraphOps.kCorePeel(edges, "src", "dst", 15, 3)
        .select($"id".as("node"), $"deg")
        .orderBy($"node")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""deg$i AS (SELECT id, count(*) AS deg FROM (
           |  SELECT u AS id FROM ed${i - 1}
           |  UNION ALL SELECT v FROM ed${i - 1}) GROUP BY id),
           |keep$i AS (SELECT id FROM deg$i WHERE deg >= 15),
           |ed$i AS (SELECT u, v FROM ed${i - 1}
           |         WHERE u IN (SELECT id FROM keep$i)
           |           AND v IN (SELECT id FROM keep$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH lagged AS (
         |  SELECT (props->>'k')::INT AS dst,
         |         lag((props->>'k')::INT) OVER
         |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM events),
         |ed0 AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lagged WHERE src IS NOT NULL AND src <> dst),
         |$rounds
         |SELECT id::INT AS node, count(*)::BIGINT AS deg FROM (
         |  SELECT u AS id FROM ed3 UNION ALL SELECT v FROM ed3)
         |GROUP BY id ORDER BY node""".stripMargin
    })

  /** Funnel conversion-time quantiles: p50/p90/p99 of the
    * view→click→purchase completion time, in whole seconds — the
    * product-analytics companion to events_funnel_steps (how LONG does
    * the funnel take, not just who finishes). Durations bucket to
    * integer seconds (bounding distinct-value cardinality — the
    * documented practice for latency quantiles), the quantile is the
    * smallest bucket whose cumulative count reaches ⌈q·n⌉, selected
    * with pure integer comparisons (cum·100 ≥ n·q) — exact,
    * deterministic, and the window runs over DISTINCT durations (the
    * stats_ks_drift cardinality trick), never users. */
  private val funnelDur = Q(
    "events_funnel_duration_quantiles",
    (s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
      val t1 = e.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val t2 = e.join(t1, "user_id")
        .filter($"event_type" === "click" && $"ts" > $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2"), min($"t1").as("t1"))
      val t3 = e.join(t2, "user_id")
        .filter($"event_type" === "purchase" && $"ts" > $"t2")
        .groupBy($"user_id")
        .agg(floor((unix_micros(min($"ts")) - unix_micros(min($"t1")))
          / 1000000L).cast("long").as("dur_s"))
      val byDur = t3.groupBy($"dur_s").agg(count(lit(1)).as("k"))
      val w = Window.orderBy($"dur_s")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = byDur.withColumn("cum", sum($"k").over(w))
      val tot = t3.agg(count(lit(1)).as("n"))
      val q = cum.crossJoin(broadcast(tot))
      def pick(p: Int, name: String) =
        q.filter($"cum" * 100 >= $"n" * p).agg(min($"dur_s").as(name))
      tot.crossJoin(broadcast(pick(50, "p50_s")))
        .crossJoin(broadcast(pick(90, "p90_s")))
        .crossJoin(broadcast(pick(99, "p99_s")))
        .select($"n".as("n_completed"), $"p50_s", $"p90_s", $"p99_s")
    },
    Some("""WITH t1 AS (
           |  SELECT user_id, min(ts) AS t1 FROM events
           |  WHERE event_type = 'view' GROUP BY user_id),
           |t2 AS (
           |  SELECT e.user_id, min(e.ts) AS t2, min(t1.t1) AS t1
           |  FROM events e JOIN t1 USING (user_id)
           |  WHERE e.event_type = 'click' AND e.ts > t1.t1
           |  GROUP BY e.user_id),
           |t3 AS (
           |  SELECT e.user_id,
           |         (epoch_us(min(e.ts)) - epoch_us(min(t2.t1))) // 1000000
           |           AS dur_s
           |  FROM events e JOIN t2 USING (user_id)
           |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           |  GROUP BY e.user_id),
           |bydur AS (SELECT dur_s, count(*) AS k FROM t3 GROUP BY dur_s),
           |cum AS (SELECT dur_s, sum(k) OVER (ORDER BY dur_s
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |          AS cum
           |        FROM bydur),
           |tot AS (SELECT count(*) AS n FROM t3),
           |p50 AS (SELECT min(dur_s) AS p50_s FROM cum CROSS JOIN tot
           |        WHERE cum * 100 >= n * 50),
           |p90 AS (SELECT min(dur_s) AS p90_s FROM cum CROSS JOIN tot
           |        WHERE cum * 100 >= n * 90),
           |p99 AS (SELECT min(dur_s) AS p99_s FROM cum CROSS JOIN tot
           |        WHERE cum * 100 >= n * 99)
           |SELECT n::BIGINT AS n_completed, p50_s, p90_s, p99_s
           |FROM tot CROSS JOIN p50 CROSS JOIN p90 CROSS JOIN p99""".stripMargin))

  /** RFM (recency / frequency / monetary) customer segmentation over
    * purchase events — the classic marketing-analytics cube: per-user
    * metrics (days since last purchase, purchase count, integer-cent
    * revenue — all exact), quintiled with ntile(5) over fully-ordered
    * keys (metric, user_id — the tiebreak makes both engines' identical
    * ntile bucketing deterministic), then one ≤125-row segment rollup.
    * One shuffle to the user key, three ntile windows over the narrow
    * per-user table (O(users), not events), exact integer money. */
  private val rfm = Q(
    "events_rfm_segments",
    (s, dir) => {
      import s.implicits._
      val per = ev(s, dir).filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(max(to_date($"ts")).as("last_day"),
          count(lit(1)).as("freq"),
          sum(round($"value" * 100).cast("long")).as("cents"))
      val mx = per.agg(max($"last_day").as("ref_day"))
      val base = per.crossJoin(broadcast(mx))
        .select($"user_id", datediff($"ref_day", $"last_day").as("recency"),
          $"freq", $"cents")
      val rW = Window.orderBy($"recency", $"user_id")
      val fW = Window.orderBy($"freq".desc, $"user_id")
      val mW = Window.orderBy($"cents".desc, $"user_id")
      base
        .withColumn("r_q", ntile(5).over(rW))
        .withColumn("f_q", ntile(5).over(fW))
        .withColumn("m_q", ntile(5).over(mW))
        .groupBy($"r_q", $"f_q", $"m_q")
        // average money stays in integer CENTS: Σcents/n has exactly
        // representable .5 ties (both engines round them away from zero
        // identically), while /100 first would put the tie on a
        // non-representable double and the engines' round() diverge
        .agg(count(lit(1)).as("n_users"),
          round(sum($"cents").cast("double") / count(lit(1))).cast("long")
            .as("avg_monetary_cents"))
        .orderBy($"r_q", $"f_q", $"m_q")
    },
    Some("""WITH per AS (
           |  SELECT user_id, max(ts::DATE) AS last_day,
           |         count(*) AS freq,
           |         sum(round(value * 100)::BIGINT) AS cents
           |  FROM events WHERE event_type = 'purchase'
           |  GROUP BY user_id),
           |mx AS (SELECT max(last_day) AS ref_day FROM per),
           |base AS (
           |  SELECT user_id, date_diff('day', last_day, ref_day) AS recency,
           |         freq, cents
           |  FROM per CROSS JOIN mx),
           |q AS (
           |  SELECT (ntile(5) OVER (ORDER BY recency, user_id))::INT AS r_q,
           |         (ntile(5) OVER (ORDER BY freq DESC, user_id))::INT AS f_q,
           |         (ntile(5) OVER (ORDER BY cents DESC, user_id))::INT AS m_q,
           |         cents
           |  FROM base)
           |SELECT r_q, f_q, m_q, count(*)::BIGINT AS n_users,
           |       round(sum(cents)::DOUBLE / count(*))::BIGINT
           |         AS avg_monetary_cents
           |FROM q GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q""".stripMargin))

  /** Per-day table checksums — the anti-entropy primitive for verifying
    * a replicated/migrated table without moving it: each row folds to a
    * 32-bit portable hash (md5 prefix of a canonical field encoding,
    * the engine's shared cross-engine hash) and each day reports
    * (row count, Σ hash) — equal checksums ⇒ partitions almost surely
    * identical, and a mismatch names the day to re-sync. Scan-local
    * hash + one narrow agg; exact integer sums. */
  private val checksums = Q(
    "recon_partition_checksums",
    (s, dir) => {
      import s.implicits._
      // value folds in as integer cents: float-to-string formatting is
      // engine-specific, integer strings are not
      val canon = concat_ws("|", $"event_id", $"user_id", $"event_type",
        round($"value" * 100).cast("long"), unix_micros($"ts"))
      ev(s, dir)
        .select(to_date($"ts").as("day"),
          conv(substring(md5(canon), 1, 8), 16, 10).cast("long").as("h"))
        .groupBy($"day")
        .agg(count(lit(1)).as("n_rows"), sum($"h").as("checksum"))
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_rows",
          $"checksum")
        .orderBy($"day")
    },
    Some("""WITH h AS (
           |  SELECT ts::DATE AS day,
           |         ('0x' || substr(md5(
           |            event_id::VARCHAR || '|' || user_id::VARCHAR || '|' ||
           |            event_type || '|' || round(value * 100)::BIGINT::VARCHAR
           |            || '|' || epoch_us(ts)::VARCHAR), 1, 8))::BIGINT AS h
           |  FROM events)
           |SELECT strftime(day, '%Y-%m-%d') AS day,
           |       count(*)::BIGINT AS n_rows, sum(h)::BIGINT AS checksum
           |FROM h GROUP BY day ORDER BY day""".stripMargin))

  /** Key-skew profiler over events.user_id — the measurement that
    * justifies (or vetoes) the salted plans in SkewOps: per-key group
    * sizes reduced to distinct-size cumulatives (the stats_ks_drift
    * trick — the window runs over DISTINCT sizes, never keys, so the
    * report is O(distinct sizes) at any key cardinality), then exact
    * p50/p99 group size, the max, and the top key's share of all rows.
    * A max/p50 ratio near 1 says salting buys nothing; a hot key says
    * shard it. */
  private val keySkew = Q(
    "profile_key_skew",
    (s, dir) => {
      import s.implicits._
      val sizes = ev(s, dir).groupBy($"user_id")
        .agg(count(lit(1)).as("sz"))
      val bySize = sizes.groupBy($"sz").agg(count(lit(1)).as("keys"))
      val w = Window.orderBy($"sz")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = bySize.withColumn("ckeys", sum($"keys").over(w))
      val tot = sizes.agg(count(lit(1)).as("n_keys"),
        sum($"sz").as("n_rows"), max($"sz").as("max_sz"))
      val quant = cum.crossJoin(broadcast(tot))
        .select($"sz", $"ckeys", $"n_keys",
          ($"ckeys" * 2 >= $"n_keys").as("ge50"),
          ($"ckeys" * 100 >= $"n_keys" * 99).as("ge99"))
      val p50 = quant.filter($"ge50").agg(min($"sz").as("p50_sz"))
      val p99 = quant.filter($"ge99").agg(min($"sz").as("p99_sz"))
      tot.crossJoin(broadcast(p50)).crossJoin(broadcast(p99))
        .select($"n_keys", $"n_rows", $"p50_sz", $"p99_sz", $"max_sz",
          (floor(($"max_sz".cast("double") / $"p50_sz") * 1e4 + 0.5) / 1e4).as("skew_ratio"),
          (floor(($"max_sz".cast("double") / $"n_rows") * 1e6 + 0.5) / 1e6).as("top_key_share"))
    },
    Some("""WITH sizes AS (
           |  SELECT user_id, count(*) AS sz FROM events GROUP BY user_id),
           |bysize AS (SELECT sz, count(*) AS keys FROM sizes GROUP BY sz),
           |cum AS (SELECT sz, sum(keys) OVER (ORDER BY sz
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |          AS ckeys
           |        FROM bysize),
           |tot AS (SELECT count(*) AS n_keys, sum(sz) AS n_rows,
           |               max(sz) AS max_sz
           |        FROM sizes),
           |p50 AS (SELECT min(sz) AS p50_sz FROM cum CROSS JOIN tot
           |        WHERE ckeys * 2 >= n_keys),
           |p99 AS (SELECT min(sz) AS p99_sz FROM cum CROSS JOIN tot
           |        WHERE ckeys * 100 >= n_keys * 99)
           |SELECT n_keys::BIGINT AS n_keys, n_rows::BIGINT AS n_rows,
           |       p50_sz, p99_sz, max_sz,
           |       (floor((max_sz::DOUBLE / p50_sz) * 1e4 + 0.5) / 1e4) AS skew_ratio,
           |       (floor((max_sz::DOUBLE / n_rows) * 1e6 + 0.5) / 1e6) AS top_key_share
           |FROM tot CROSS JOIN p50 CROSS JOIN p99""".stripMargin))

  /** Top-10 3-click path prefixes — "how do sessions start": each
    * user's first three page visits (by time) concatenated into a path
    * string, counted across users, ties broken by path. One shuffle on
    * user_id for the ordered prefix, one path hash-agg, bounded top-k
    * output. */
  private val topPaths = Q(
    "events_top_paths",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val first3 = ev(s, dir)
        .withColumn("page", get_json_object($"props", "$.k").cast("int"))
        .withColumn("rn", row_number().over(byUser))
        .filter($"rn" <= 3)
        .groupBy($"user_id")
        .agg(array_sort(collect_list(struct($"rn", $"page"))).as("ps"),
          count(lit(1)).as("plen"))
        .filter($"plen" === 3)
        .select(concat_ws(">",
          transform($"ps".getField("page"), _.cast("string"))).as("path"))
      val byCount = Window.orderBy($"n_users".desc, $"path")
      first3.groupBy($"path").agg(count(lit(1)).as("n_users"))
        .withColumn("rank", row_number().over(byCount))
        .filter($"rank" <= 10)
        .select($"rank", $"path", $"n_users")
        .orderBy($"rank")
    },
    Some("""WITH ordered AS (
           |  SELECT user_id, (props->>'k')::INT AS page,
           |         row_number() OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events),
           |paths AS (
           |  SELECT user_id,
           |         string_agg(page::VARCHAR, '>' ORDER BY rn) AS path,
           |         count(*) AS plen
           |  FROM ordered WHERE rn <= 3 GROUP BY user_id),
           |counted AS (
           |  SELECT path, count(*) AS n_users FROM paths
           |  WHERE plen = 3 GROUP BY path)
           |SELECT rank, path, n_users FROM (
           |  SELECT *, (row_number() OVER
           |    (ORDER BY n_users DESC, path))::INT AS rank
           |  FROM counted)
           |WHERE rank <= 10 ORDER BY rank""".stripMargin))

  /** Laplace-smoothed Markov transition matrix over the page-transition
    * stream, top-3 next pages per source — the user-journey model
    * (where does page X send people?) that graph_pagerank consumes
    * implicitly but never exposes. P(dst|src) = (c+1)/(row_total+V)
    * with V = distinct destination pages, so unseen transitions get
    * mass > 0 and rows sum to 1 over the full page set. Counts are
    * exact integers; V and row totals are tiny broadcast aggregates;
    * the top-3 cut ranks on 6dp-prerounded probability with dst
    * tie-break, deterministic cross-engine. One (src,dst) hash agg +
    * a window over src — no pair explosion. */
  private val markov = Q(
    "events_markov_transitions",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val trans = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("c"))
      val v = trans.agg(count_distinct($"dst").as("v"))
      val rowTotals = trans.groupBy($"src").agg(sum($"c").as("row_total"))
      val byProb = org.apache.spark.sql.expressions.Window
        .partitionBy($"src").orderBy($"p".desc, $"dst")
      trans.join(rowTotals, "src").crossJoin(broadcast(v))
        .withColumn("p",
          (floor((($"c" + 1).cast("double") / ($"row_total" + $"v")) * 1e6 + 0.5) / 1e6))
        .withColumn("rank", row_number().over(byProb))
        .filter($"rank" <= 3)
        .select($"src", $"rank", $"dst", $"c", $"p")
        .orderBy($"src", $"rank")
    },
    Some("""WITH lagged AS (
           |  SELECT (props->>'k')::INT AS dst,
           |         lag((props->>'k')::INT) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
           |  FROM events),
           |trans AS (SELECT src, dst, count(*) AS c FROM lagged
           |          WHERE src IS NOT NULL GROUP BY src, dst),
           |v AS (SELECT count(DISTINCT dst) AS v FROM trans),
           |rt AS (SELECT src, sum(c) AS row_total FROM trans GROUP BY src),
           |p AS (SELECT src, dst, c,
           |        (floor(((c + 1)::DOUBLE / (row_total + v)) * 1e6 + 0.5) / 1e6) AS p
           |      FROM trans JOIN rt USING (src) CROSS JOIN v)
           |SELECT src, rank, dst, c, p FROM (
           |  SELECT *, (row_number() OVER
           |    (PARTITION BY src ORDER BY p DESC, dst))::INT AS rank
           |  FROM p)
           |WHERE rank <= 3 ORDER BY src, rank""".stripMargin))

  /** Day-of-week seasonality screen: per event type, each day's count
    * against that type's same-weekday baseline (mean daily count over
    * the observed range), flagging days whose ratio leaves [0.5, 2] —
    * the "is today's traffic normal FOR A TUESDAY" shape that a global
    * mean gets wrong. Counts exact; baseline = one 7×types broadcast
    * agg; ratio a single float division, 6dp both engines. */
  private val dowSeason = Q(
    "events_dow_seasonality",
    (s, dir) => {
      import s.implicits._
      val daily = ev(s, dir)
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", dayofweek($"day"))
      val base = daily.groupBy($"dow", $"event_type")
        .agg(sum($"n").as("tot"), count(lit(1)).as("days"))
      daily.join(broadcast(base), Seq("dow", "event_type"))
        .withColumn("baseline",
          (floor(($"tot".cast("double") / $"days") * 1e6 + 0.5) / 1e6))
        .withColumn("ratio", (floor(($"n" * $"days" / $"tot".cast("double")) * 1e6 + 0.5) / 1e6))
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"event_type",
          $"dow", $"n", $"baseline", $"ratio",
          ($"ratio" < 0.5 || $"ratio" > 2.0).as("is_unusual"))
        .orderBy($"day", $"event_type")
    },
    Some("""WITH daily AS (
           |  SELECT ts::DATE AS day, event_type, count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |d2 AS (SELECT *, dayofweek(day) + 1 AS dow FROM daily),
           |base AS (SELECT dow, event_type, sum(n) AS tot,
           |                count(*) AS days
           |         FROM d2 GROUP BY dow, event_type)
           |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.event_type,
           |       d.dow::INT AS dow, d.n,
           |       (floor((tot / days::DOUBLE) * 1e6 + 0.5) / 1e6) AS baseline,
           |       (floor((d.n * days / tot::DOUBLE) * 1e6 + 0.5) / 1e6) AS ratio,
           |       ((floor((d.n * days / tot::DOUBLE) * 1e6 + 0.5) / 1e6) < 0.5 OR
           |        (floor((d.n * days / tot::DOUBLE) * 1e6 + 0.5) / 1e6) > 2.0) AS is_unusual
           |FROM d2 d JOIN base USING (dow, event_type)
           |ORDER BY day, event_type""".stripMargin))

  /** Fixed-round (3) deterministic label propagation over the
    * page-transition graph — the cheap community-detection primitive
    * (no modularity optimization, just neighbor-majority vote with
    * smallest-label ties). Sync rounds + deterministic tie-break make
    * the result exactly reproducible, so the oracle unrolls the same
    * three rounds with a row_number argmax. */
  private val labelProp = Q(
    "graph_label_propagation",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
      graft.operators.GraphOps.labelPropagation(edges, "src", "dst", 3)
        .select($"id".as("node"), $"label")
        .orderBy($"node")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT adj.a, l.label, count(*) AS cnt
           |        FROM adj JOIN l${i - 1} l ON adj.b = l.id
           |        GROUP BY adj.a, l.label),
           |l$i AS (SELECT a AS id, label FROM (
           |  SELECT a, label, row_number() OVER
           |    (PARTITION BY a ORDER BY cnt DESC, label) AS rn FROM c$i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH lagged AS (
         |  SELECT (props->>'k')::INT AS dst,
         |         lag((props->>'k')::INT) OVER
         |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM events),
         |ed AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lagged WHERE src IS NOT NULL AND src <> dst),
         |adj AS (SELECT u AS a, v AS b FROM ed
         |        UNION ALL SELECT v, u FROM ed),
         |l0 AS (SELECT DISTINCT a AS id, a AS label FROM adj),
         |$rounds
         |SELECT id::INT AS node, label::INT AS label FROM l3
         |ORDER BY node""".stripMargin
    })

  /** Fixed-round (3) Bellman–Ford from page 0 over the page-transition
    * graph with integer edge costs (the transition count — "popular
    * routes are expensive" is arbitrary but deterministic): min-plus
    * relaxation, exact integer path costs, so min is unambiguous and the
    * oracle unrolls the identical recurrence. The weighted sibling of
    * graph_reachable_3hops. */
  private val sssp = Q(
    "graph_sssp_weighted",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = ev(s, dir)
        .withColumn("dst", get_json_object($"props", "$.k").cast("int"))
        .withColumn("src", lag($"dst", 1).over(byUser))
        .filter($"src".isNotNull)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      val sources = s.range(0, 1).select($"id".cast("int").as("id"))
      graft.operators.GraphOps.ssspBellmanFord(edges, "src", "dst", "w",
          sources, "id", 3)
        .select($"id".as("page"), $"dist")
        .orderBy($"page")
    },
    Some {
      val rounds = (1 to 3).map { i =>
        s"""d$i AS (SELECT id, min(dist)::BIGINT AS dist FROM (
           |  SELECT id, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst, d.dist + e.w FROM d${i - 1} d
           |  JOIN e ON e.src = d.id) GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH lagged AS (
         |  SELECT (props->>'k')::INT AS dst,
         |         lag((props->>'k')::INT) OVER
         |           (PARTITION BY user_id ORDER BY ts, event_id) AS src
         |  FROM events),
         |e AS (SELECT src, dst, count(*)::BIGINT AS w FROM lagged
         |      WHERE src IS NOT NULL GROUP BY src, dst),
         |d0 AS (SELECT 0 AS id, 0::BIGINT AS dist),
         |$rounds
         |SELECT id::INT AS page, dist FROM d3 ORDER BY page""".stripMargin
    })

  /** Last-touch attribution: each purchase's value is credited to the
    * campaign (props.k) of the most recent PRECEDING click by the same
    * user — the marketing-analytics sibling of the as-of join, expressed
    * as one `last(campaign, ignoreNulls)` running window over the
    * interleaved per-user event stream (clicks carry a campaign, every
    * other event carries null, so "last non-null so far" IS the last
    * touch). Purchases with no prior click land in campaign −1
    * (unattributed). One hash-partition by user_id, one window pass, one
    * small hash agg — no self-join of events against events, which is the
    * naive O(clicks × purchases) formulation this replaces. */
  private val lastTouch = Q(
    "events_last_touch_attribution",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      ev(s, dir)
        .withColumn("camp", when($"event_type" === "click",
          get_json_object($"props", "$.k").cast("int")))
        .withColumn("touch", last($"camp", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .groupBy(coalesce($"touch", lit(-1)).as("campaign"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(floor($"value" * 100 + 0.5)) / 1e2).as("revenue"))
        .orderBy($"campaign")
    },
    Some("""WITH tagged AS (
           |  SELECT user_id, ts, event_id, event_type, value,
           |         CASE WHEN event_type = 'click'
           |              THEN (props->>'k')::INT END AS camp
           |  FROM events),
           |touched AS (
           |  SELECT event_type, value,
           |         last_value(camp IGNORE NULLS) OVER
           |           (PARTITION BY user_id ORDER BY ts, event_id
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |           AS touch
           |  FROM tagged)
           |SELECT coalesce(touch, -1) AS campaign,
           |       count(*) AS n_purchases, (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 1e2) AS revenue
           |FROM touched WHERE event_type = 'purchase'
           |GROUP BY campaign ORDER BY campaign""".stripMargin))

  /** GDPR / right-to-be-forgotten scrub audit — the governance op every
    * production platform ships: given a deletion list (fixture rule:
    * user/customer key % 97 == 0), report per affected table the row
    * counts before / deleted / after plus a RESIDUAL check (true iff no
    * deleted key survives — the property an auditor actually signs).
    * The deletion list is tiny by nature, so every scrub is one
    * BROADCAST anti/semi join pair per table — at 100 TB this is a scan
    * per table with no shuffle, and the audit is a handful of count
    * aggregates. Events / orders scrub on their key columns; customer
    * rows for deleted keys are themselves removed (erasure, not
    * anonymization — the strictest reading). */
  private val gdprScrub = Q(
    "pipeline_gdpr_scrub",
    (s, dir) => {
      import s.implicits._
      val t = Tables(s, dir)
      val delC = t.customer.filter($"c_custkey" % 97 === 0)
        .select($"c_custkey".as("k"))
      val delU = ev(s, dir).select($"user_id").distinct()
        .filter($"user_id" % 97 === 0).select($"user_id".as("k"))
      def audit(name: String, df: org.apache.spark.sql.DataFrame,
                key: String, del: org.apache.spark.sql.DataFrame) = {
        val kept = df.join(broadcast(del), df(key) === del("k"), "left_anti")
        val dropped = df.join(broadcast(del), df(key) === del("k"), "left_semi")
        // residual check audits the ACTUAL contract — zero kept rows
        // still matching the deletion list — not the fixture rule that
        // happened to generate the list (a %97 re-derivation would
        // false-alarm on keys matching the rule but absent from the list)
        val residual = kept
          .join(broadcast(del), kept(key) === del("k"), "left_semi")
          .agg(count(lit(1)).as("n_residual"))
        kept.agg(count(lit(1)).as("n_after"))
          .crossJoin(dropped.agg(count(lit(1)).as("n_deleted")))
          .crossJoin(residual)
          .select(lit(name).as("table_name"),
            ($"n_after" + $"n_deleted").as("n_before"),
            $"n_deleted", $"n_after",
            ($"n_residual" === 0).as("residual_clean"))
      }
      audit("customer", t.customer, "c_custkey", delC)
        .unionByName(audit("events", ev(s, dir), "user_id", delU))
        .unionByName(audit("orders", t.orders, "o_custkey", delC))
        .orderBy($"table_name")
    },
    Some("""WITH del AS (SELECT c_custkey AS k FROM customer
           |            WHERE c_custkey % 97 = 0),
           |delu AS (SELECT DISTINCT user_id AS k FROM events
           |         WHERE user_id % 97 = 0),
           |a AS (
           |  SELECT 'customer' AS table_name,
           |         count(*)::BIGINT AS n_before,
           |         sum(CASE WHEN c_custkey IN (SELECT k FROM del)
           |                  THEN 1 ELSE 0 END)::BIGINT AS n_deleted
           |  FROM customer
           |  UNION ALL
           |  SELECT 'events', count(*)::BIGINT,
           |         sum(CASE WHEN user_id IN (SELECT k FROM delu)
           |                  THEN 1 ELSE 0 END)::BIGINT
           |  FROM events
           |  UNION ALL
           |  SELECT 'orders', count(*)::BIGINT,
           |         sum(CASE WHEN o_custkey IN (SELECT k FROM del)
           |                  THEN 1 ELSE 0 END)::BIGINT
           |  FROM orders)
           |SELECT table_name, n_before, n_deleted,
           |       (n_before - n_deleted)::BIGINT AS n_after,
           |       true AS residual_clean
           |FROM a ORDER BY table_name""".stripMargin))

  def all: Seq[Q] =
    Seq(tumbling, sliding, sessions, jsonProps, asof, returns, scd2Q,
      intervalMerge, cdcApply, funnel, retention, pointInTime, pagerank,
      triangles, reachable, kcore, labelProp, sssp, markov, dowSeason,
      rfm, funnelDur, checksums, keySkew, topPaths, lastTouch, wau,
      gdprScrub)
}
