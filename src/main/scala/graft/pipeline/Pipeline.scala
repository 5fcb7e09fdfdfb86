package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.io.{Layout, PartitionLedger, SchemaRegistry, Writers}
import graft.model.Schemas
import graft.operators.CalendarOps
import graft.sources.{Connector, Retry}

/** Pipeline layer (SURVEY §2D C1–C7 + §3 lifecycles E1–E3): the
  * reference's Airflow DAG semantics as plain Scala around Spark jobs.
  *
  * - C1 short-circuit: the market-open *decision query* runs on the
  *   engine (F6 over dim_calendar) once per calendar snapshot, and every
  *   ingest on that calendar reads its collected answer; a holiday yields
  *   Skipped without touching the source.
  * - C2 branch: SchemaRegistry.ensure infers a schema only on first run.
  * - C3 backfill idempotence: every bronze write is a dynamic partition
  *   overwrite of exactly `ymd=d`; `runRange` + PartitionLedger gives
  *   resumable catchup.
  * - C4 retries: Retry.withRetries around the connector fetch.
  * - C5 fan-out: `Seq[IngestJob].map(_.runFor(d))` inside one Spark app.
  * - C6 XCom: plain Scala values between stages.
  * - C7 scheduling stays external; jobs take `(source, logicalDate)`.
  */
sealed trait StageResult
case object Ran extends StageResult
case class Skipped(reason: String) extends StageResult
case class Failed(error: Throwable) extends StageResult

final class SensorTimeoutException(msg: String) extends RuntimeException(msg)

/** S17's full sensor contract — the reference's S3KeySensor runs with
  * poke_interval=60 s, timeout=600 s, mode="reschedule"
  * (slv_industry_code_daily/industry_code_daily.py:36-44); the one-shot
  * `available()` precondition covers the membership check but not the
  * poll/timeout lifecycle. [[poll]] is that lifecycle: poke immediately,
  * then every `pokeIntervalMs`, failing once the NEXT poke would land
  * past `timeoutMs`. "Reschedule" mode (free the worker slot between
  * pokes instead of blocking it) is modeled by the injected `sleep` — a
  * scheduler parks the task there; tests inject a virtual clock and the
  * default blocks the calling thread, which on a driver-side control
  * loop is exactly Airflow's poke mode. */
object Sensor {
  /** Returns the number of pokes taken (≥1) on success; raises
    * [[SensorTimeoutException]] when the condition never landed inside
    * the timeout window. */
  def poll(pokeIntervalMs: Long, timeoutMs: Long,
           nanoTime: () => Long = () => System.nanoTime(),
           sleep: Long => Unit = Thread.sleep)(poke: => Boolean): Int = {
    require(pokeIntervalMs > 0 && timeoutMs >= 0)
    val deadline = nanoTime() + timeoutMs * 1000000L
    var pokes = 0
    while (true) {
      pokes += 1
      if (poke) return pokes
      if (nanoTime() + pokeIntervalMs * 1000000L > deadline)
        throw new SensorTimeoutException(
          s"sensor timed out after $pokes pokes (${timeoutMs} ms window)")
      sleep(pokeIntervalMs)
    }
    0 // unreachable
  }
}

/** E1: bronze ingest job — decision query, fetch w/ retry, idempotent
  * partitioned bronze write gated non-empty, ledger mark. A daily
  * `runFor` on an already-decided calendar runs one Spark job: the write. */
final class IngestJob(
    spark: SparkSession,
    layout: Layout,
    connector: Connector,
    ledger: PartitionLedger,
    calendar: Option[DataFrame] = None,
    retries: Int = 3,
    format: String = "json") {

  /** C1: previous-working-day decision (the reference's
    * get_workday_info → verify_market_open, brz_kr_etf_daily.py:21-33,
    * tasks.py:13-27). Returns None when `date` is a holiday, and when the
    * calendar holds no working day before it. */
  def previousWorkingDay(date: String): Option[String] =
    calendar.flatMap(cal => IngestJob.decisions(cal).get(date).flatten)

  /** Open or closed from `is_market_holiday` alone: a date outside the
    * calendar counts as closed, and no calendar means always open. */
  private def marketOpen(date: String): Boolean =
    calendar.forall(cal => IngestJob.decisions(cal).contains(date))

  def runFor(date: String): StageResult = {
    if (ledger.isProcessed(connector.name, date))
      return Skipped(s"already processed $date")
    if (!marketOpen(date))
      return Skipped(s"$date is a market holiday")
    try {
      val raw = Retry.withRetries(retries)(connector.fetchRaw(date))
      if (raw.isEmpty) return Skipped(s"no payload for $date")
      // F17 data-quality gate, counted on the write itself: a dynamic
      // overwrite of zero rows replaces no partition, so an empty payload
      // lands nothing and the ledger stays unmarked
      val rows = Writers.writeForDate(connector.toBronze(spark, raw),
        layout.source("bronze", connector.name), date, format)
      require(rows > 0, s"data-quality gate: ${connector.name} returned no rows")
      ledger.markProcessed(connector.name, date)
      Ran
    } catch { case NonFatal(e) => Failed(e) }
  }

  /** C3: resumable backfill over a date range. */
  def runRange(dates: Seq[String]): Map[String, StageResult] =
    ledger.unprocessed(connector.name, dates)
      .map(d => d -> runFor(d)).toMap
}

object IngestJob {
  /** Collected C1 decisions, one table per calendar `DataFrame`, keyed by
    * the OPEN dates only: date → previous working day (None when the
    * calendar has no earlier working day). The answer is the same for
    * every source of a day, and callers such as [[Runner]] build a fresh
    * IngestJob per source, so the table lives here. Keys are weak and
    * compared by identity (Dataset keeps Object equality): a re-read or
    * re-derived calendar (e.g. after `CalendarOps.applyHolidays`) is a new
    * key with its own decision. `computeIfAbsent` on the synchronized map
    * runs the query once per calendar even when threads ask at once. */
  private val decided = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Map[String, Option[String]]]())

  private[pipeline] def decisions(cal: DataFrame): Map[String, Option[String]] =
    decided.computeIfAbsent(cal, c =>
      CalendarOps.previousWorkingDay(c)
        .select(col("date").cast("string"), col("is_market_holiday"),
          col("previous_working_day").cast("string"))
        .collect().collect { case r if !r.isNullAt(1) && !r.getBoolean(1) =>
          r.getString(0) -> Option(r.getString(2))
        }.toMap)
}

/** E2: silver conformance job — availability check (S17), schema-registry
  * ensure (C2/S16), the reference's conform SQL verbatim in Spark dialect
  * (industry_code_glue_job.py:38-47), audit stamps (F2), parquet +
  * warehouse writes (K3/K4).
  *
  * K4 has two modes: `jdbcUrl=None` refreshes a session-catalog table (the
  * sandbox stand-in); `Some(url)` runs the reference's real warehouse load
  * — DROP preaction + parallel JDBC insert (Writers.warehouseFullRefreshJdbc). */
final class SilverIndustryCodeJob(
    spark: SparkSession, layout: Layout, registry: SchemaRegistry,
    jdbcUrl: Option[String] = None) {

  def bronzePath: String = layout.source("bronze", "krx_codes")

  /** S17 availability sensor via the Hadoop FileSystem API — resolves the
    * scheme from the path, so the same check works on local disk, HDFS, or
    * an object store (the reference's S3KeySensor). */
  def available(ymd: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$bronzePath/ymd=$ymd")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** S17 with the reference's FULL sensor semantics (poke interval +
    * timeout + reschedule, industry_code_daily.py:36-44): poll
    * [[available]] every `pokeIntervalMs` until it lands or `timeoutMs`
    * elapses. Returns the poke count on success; raises
    * [[SensorTimeoutException]] on timeout, which the caller maps to
    * Skipped/Failed per C1 policy (the default 60 s / 600 s mirror the
    * reference's poke_interval/timeout). */
  def awaitAvailable(ymd: String, pokeIntervalMs: Long = 60000L,
                     timeoutMs: Long = 600000L): Int =
    Sensor.poll(pokeIntervalMs, timeoutMs)(available(ymd))

  def runFor(ymd: String): StageResult = {
    if (!available(ymd)) return Skipped(s"bronze krx_codes ymd=$ymd not landed")
    try {
      val schema = registry.ensure(spark, "krx_codes", bronzePath)
      val bronze = spark.read.schema(schema).json(s"$bronzePath/ymd=$ymd")
      bronze.createOrReplaceTempView("brz_industry_code")
      // reference SQL verbatim (industry_code_glue_job.py:38-47)
      val conformed = spark.sql(
        """SELECT item_code, item_name, industry_code, market,
          |       TO_DATE(issue_date, 'yyyy-MM-dd') AS issue_date
          |FROM brz_industry_code""".stripMargin)
      val stamped = CalendarOps.withAudit(conformed)
      Writers.writeSilver(stamped,
        layout.source("silver", "industry_code") + "/dim_industry_code")
      jdbcUrl match {
        case Some(url) => Writers.warehouseFullRefreshJdbc(stamped, "dim_industry_code", url)
        case None      => Writers.warehouseFullRefresh(stamped, "dim_industry_code")
      }
      Ran
    } catch { case NonFatal(e) => Failed(e) }
  }
}

/** [EXT] silver job for a document corpus: quality filter → exact dedup →
  * near-dup removal (2-gram Jaccard) → partitioned-by-lang silver write.
  * The composite cleaning flow of pipeline_clean_corpus, landed as a
  * medallion stage with the same idempotent write semantics as every
  * other silver table. */
final class CleanCorpusJob(spark: SparkSession, layout: Layout,
                           minQuality: Double = 0.5,
                           nearDupThreshold: Double = 0.9) {
  def path: String = layout.source("silver", "documents") + "/clean_corpus"

  def run(docs: DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    val quality = docs.filter(
      graft.operators.TextOps.qualityScore(col("text")) >= minQuality)
    val exactKept = quality
      .withColumn("keep", min(col("doc_id")).over(
        Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("keep")).drop("keep")
    val shingled = exactKept.select(col("doc_id"),
      graft.operators.TextOps.shingles(col("text"), 2).as("sh"))
    // PPJoin prefix-filtered near-dup stage — the 100 TB form (candidate
    // generation is an equi-join on rare-prefix tokens, never N² pairs);
    // results are identical to the dense kernel at the same threshold
    // (both verify exact Jaccard on the full shingle sets)
    val losers = graft.operators.DedupOps
      .jaccardPairs(shingled, "doc_id", "sh", nearDupThreshold)
      .select(col("id_b").as("doc_id")).distinct()
    val kept = exactKept.join(losers, Seq("doc_id"), "left_anti")
    kept.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("lang").parquet(path)
    spark.read.parquet(path).count()
  }
}

/** E3: calendar dimension build — set-based generation (F3) with
  * idempotent year-partition overwrite (≡ DELETE WHERE year=, sql.py:36).
  * The reference generates year+2 at each yearly run
  * (slv_generate_calendar_yearly.py:54-62). */
final class CalendarJob(spark: SparkSession, layout: Layout) {
  def path: String = layout.source("silver", "calendar") + "/dim_calendar"

  def runFor(logicalYear: Int): StageResult =
    try {
      val target = logicalYear + 2
      val dim = CalendarOps.calendarDim(spark, target, target)
      Writers.writeYearPartition(CalendarOps.withAudit(dim), path)
      Ran
    } catch { case NonFatal(e) => Failed(e) }

  /** The table under its declared schema: no inference job, which would
    * run on every read, because each run rewrites the table. */
  def read(): DataFrame = spark.read.schema(Schemas.dimCalendar).parquet(path)
}
