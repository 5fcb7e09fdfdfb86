package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Schemas

/** Source connectors (SURVEY §2A S1–S21).
  *
  * Architecture: a connector is driver-side code producing the raw payload
  * strings an external API would return (pagination loops, retries,
  * politeness live HERE, outside the query plan — exactly where the
  * reference keeps them); the engine side is always the same declarative
  * pipeline: `Dataset[String]` → `from_json(schema)` → conform. In
  * production the fetch hits HTTP; in this zero-egress build every
  * connector is backed by fixture files shaped byte-for-byte like the
  * reference's landed payloads (FIXTURES.md §A) — the Spark-side plumbing
  * is identical either way.
  */
trait Connector {
  def name: String
  /** Raw payload strings for one logical date (one element per fetched
    * object/page), or empty when the source has nothing for that date
    * (holiday skip, S6). */
  def fetchRaw(logicalDate: String): Seq[String]
  /** Parse + project the raw payloads into the bronze-shaped DataFrame. */
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame
}

/** C4: connector-level retry with delay — the reference's
  * `retries/retry_delay` default_args (brz_kr_etf_daily.py:36-38). */
object Retry {
  /** Fatal errors and interrupts (not `NonFatal`) propagate at once,
    * without a retry. */
  def withRetries[T](attempts: Int, delayMs: Long = 0)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e; i += 1
          if (i < attempts && delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw last
  }
}

/** Helper: parse an array-of-records payload with an explicit schema. */
object Parse {
  def jsonArray(spark: SparkSession, raw: Seq[String], element: StructType): DataFrame = {
    import spark.implicits._
    val ds: Dataset[String] = spark.createDataset(raw)
    ds.select(explode(from_json($"value",
      org.apache.spark.sql.types.ArrayType(element))).as("r"))
      .select("r.*")
  }

  def jsonObject(spark: SparkSession, raw: Seq[String], payload: StructType): DataFrame = {
    import spark.implicits._
    spark.createDataset(raw)
      .select(from_json($"value", payload).as("p"))
      .select("p.*")
  }
}

/** S1: KRX ETF — pagination loop accumulating `items` pages until
  * totalCount satisfied (tasks.py:30-75); fixture = one page file per
  * pageNo under `<dir>/ymd=<d>/page_<n>.json`. */
final class KrEtfConnector(fixtureDir: String) extends Connector {
  val name = "kr_etf"
  def fetchRaw(logicalDate: String): Seq[String] = {
    val dir = new java.io.File(s"$fixtureDir/ymd=$logicalDate")
    if (!dir.exists) Seq.empty
    else dir.listFiles().filter(_.getName.startsWith("page_")).sortBy(_.getName)
      .map(f => java.nio.file.Files.readString(f.toPath)).toSeq
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    Parse.jsonObject(spark, raw, Schemas.krEtfPayload)
      .select(explode($"items").as("r")).select("r.*")
  }
}

/** S1 over real transport: the same pagination contract as
  * [[KrEtfConnector]] but against an HTTP endpoint — a `pageNo` loop
  * accumulating pages until `totalCount` rows have been fetched
  * (tasks.py:30-75), each GET wrapped in C4 retries
  * (brz_kr_etf_daily.py:36-38), with a politeness sleep between pages
  * (extractors.py:55-57 semantics). Page payloads carry
  * `{"totalCount": N, "items": [...]}`; only the loop-control fields
  * (totalCount, per-page row count) are peeked driver-side with a regex —
  * row parsing stays in the Spark plan via [[toBronze]].
  *
  * In tests the baseUrl is an in-process `com.sun.net.httpserver` stub;
  * in production it is the real API — the connector code is identical. */
final class HttpKrEtfConnector(baseUrl: String, numOfRows: Int,
                               retries: Int = 3, retryDelayMs: Long = 0,
                               rateLimitMs: Long = 0) extends Connector {
  val name = "kr_etf_http"

  private def get(url: String): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    // no keep-alive: a retried request must never reuse the socket of a
    // failed response (a server that closed mid-error would poison the
    // pooled connection and surface as EOF on the NEXT, healthy request)
    conn.setRequestProperty("Connection", "close")
    try {
      val code = conn.getResponseCode
      if (code != 200) throw new java.io.IOException(s"HTTP $code for $url")
      new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    } finally conn.disconnect()
  }

  /** Count the objects in the top-level `items` array by brace-depth
    * scan (string-literal aware) — counting occurrences of a field-name
    * substring would miscount on any other field or value containing it.
    * Driver-side loop control only; row PARSING stays in the Spark plan. */
  private[graft] def countItems(body: String): Int = {
    val at = body.indexOf("\"items\"")
    if (at < 0) return 0
    val start = body.indexOf('[', at)
    if (start < 0) return 0
    var i = start; var depth = 0; var n = 0
    var inStr = false; var esc = false
    while (i < body.length && (depth > 0 || i == start)) {
      val c = body.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '[' | '{' =>
          depth += 1
          if (c == '{' && depth == 2) n += 1 // object directly in the array
        case ']' | '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    n
  }

  /** Absent or zero totalCount is an ERROR, not quiet termination: the
    * reference raises on both (tasks.py:58-62 — int(None) for absent, an
    * explicit raise for 0) — silently keeping a partial fetch would land
    * an incomplete bronze partition as if complete. */
  private[graft] def checkTotal(body: String, basDt: String,
                                pageNo: Int): Int = {
    val total = """"totalCount"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"kr_etf page $pageNo: no totalCount in response"))
    if (total == 0) throw new IllegalStateException(
      s"kr_etf $basDt: totalCount is 0 — no data available")
    total
  }

  def fetchRaw(logicalDate: String): Seq[String] = {
    // the real API takes basDt as yyyyMMdd (the reference converts the
    // dashed logical date at the boundary, tasks.py:34-35) — normalize
    // here so callers keep the engine-wide dashed convention
    val basDt = logicalDate.replace("-", "")
    val pages = Seq.newBuilder[String]
    var fetched = 0
    var total = Int.MaxValue
    var pageNo = 1
    while (fetched < total) {
      val body = Retry.withRetries(retries, retryDelayMs)(get(
        s"$baseUrl?basDt=$basDt&pageNo=$pageNo&numOfRows=$numOfRows"))
      total = checkTotal(body, basDt, pageNo)
      val rows = countItems(body)
      pages += body
      fetched += rows
      pageNo += 1
      // defensive: an empty page must terminate even if totalCount lies,
      // or a server bug becomes an infinite polite loop
      if (rows == 0) total = 0
      else if (fetched < total && rateLimitMs > 0) Thread.sleep(rateLimitMs)
    }
    pages.result()
  }

  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    // from_json ignores the extra loop-control fields (totalCount) — the
    // row parse is byte-identical to the fixture-backed connector's
    Parse.jsonObject(spark, raw, Schemas.krEtfPayload)
      .select(explode($"items").as("r")).select("r.*")
  }
}

/** S21: the DEPRECATED bounded ETF fetch — the pre-API KRX web endpoint
  * (tasks_deprecated.py:60-92): one POST per trade date (bld
  * `MDCSTAT04301`, `trdDd=yyyymmdd`, NO pagination — a distinct payload
  * shape from [[KrEtfConnector]]'s paginated items), the whole
  * `{"output": [...]}` object landed as one bronze file; a missing or
  * empty `output` RAISES rather than landing a hollow object
  * (tasks_deprecated.py:84-87). The reference DAG is hard-bounded at
  * `end_date=2019-12-31` (brz_kr_etf_daily_deprecated.py:31) —
  * [[KrEtfOldConnector.boundedRange]] clips any requested backfill to
  * that bound BEFORE the ledger-resumable `runRange`. */
final class KrEtfOldConnector(fixtureDir: String) extends Connector {
  val name = "kr_etf_old"
  def fetchRaw(logicalDate: String): Seq[String] = {
    val f = new java.io.File(s"$fixtureDir/ymd=$logicalDate/data.json")
    if (!f.exists) Seq.empty
    else {
      val body = java.nio.file.Files.readString(f.toPath)
      // loop-control peek only (row parsing stays in toBronze's plan):
      // an object must exist directly inside the output array
      if (""""output"\s*:\s*\[\s*\{""".r.findFirstIn(body).isEmpty)
        throw new IllegalStateException(
          s"kr_etf_old $logicalDate: 'output' is missing or empty")
      Seq(body)
    }
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    Parse.jsonObject(spark, raw, Schemas.krEtfOldPayload)
      .select(explode($"output").as("r")).select("r.*")
  }
}

object KrEtfOldConnector {
  /** The deprecated DAG's schedule bound (brz_kr_etf_daily_deprecated
    * .py:31): no logical date past this is ever fetched. */
  val EndDate = "2019-12-31"
  def boundedRange(dates: Seq[String]): Seq[String] =
    dates.filter(_ <= EndDate)
}

/** S9: KRX industry codes — flattened records (extractors.py:43-56);
  * fixture = one JSON-array file per date. */
final class KrxCodesConnector(fixtureDir: String) extends Connector {
  val name = "krx_codes"
  def fetchRaw(logicalDate: String): Seq[String] = {
    val f = new java.io.File(s"$fixtureDir/ymd=$logicalDate/krx_codes_$logicalDate.json")
    if (!f.exists) Seq.empty else Seq(java.nio.file.Files.readString(f.toPath))
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    Parse.jsonArray(spark, raw, Schemas.krxCodes)
}

/** S12: KRX market holidays — full payload with `block1` array persisted
  * under `year=` (tasks.py:8-37). */
final class MarketHolidayConnector(fixtureDir: String) extends Connector {
  val name = "kr_market_holiday"
  def fetchRaw(year: String): Seq[String] = {
    val f = new java.io.File(s"$fixtureDir/year=$year/data.json")
    if (!f.exists) Seq.empty else Seq(java.nio.file.Files.readString(f.toPath))
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    Parse.jsonObject(spark, raw, Schemas.holidayPayload)
      .select(explode($"block1").as("r")).select("r.*")
  }
}

/** S5: Binance klines — CSV with declared 14-column schema (schema-on-read
  * over positional arrays, extractors.py:16-33). */
final class CoinConnector(fixtureDir: String) extends Connector {
  val name = "coin_data"
  def fetchRaw(logicalDate: String): Seq[String] = {
    val f = new java.io.File(s"$fixtureDir/ymd=$logicalDate/${logicalDate}_coin_data.csv")
    if (!f.exists) Seq.empty else Seq(f.getPath)
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    spark.read.schema(Schemas.coin).option("header", "true").csv(raw: _*)
}

/** S11: NYT archive — nested projection incl. `headline.main` and
  * `keywords[*].value` (extractors.py:28-42), applied at parse time via
  * higher-order `transform`. */
final class NewsConnector(fixtureDir: String) extends Connector {
  val name = "news"
  def fetchRaw(logicalDate: String): Seq[String] = {
    val f = new java.io.File(s"$fixtureDir/ymd=$logicalDate/news.json")
    if (!f.exists) Seq.empty else Seq(java.nio.file.Files.readString(f.toPath))
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    val docSchema = StructType.fromDDL(
      """abstract STRING, web_url STRING, headline STRUCT<main: STRING>,
        |pub_date STRING, section_name STRING, byline STRUCT<original: STRING>,
        |word_count INT, keywords ARRAY<STRUCT<name: STRING, value: STRING>>
        |""".stripMargin)
    Parse.jsonArray(spark, raw, docSchema)
      .select($"abstract", $"web_url",
        $"headline.main".as("headline"),
        $"pub_date", $"section_name",
        $"byline.original".as("byline"),
        $"word_count",
        transform($"keywords", k => k("value")).as("keywords"))
  }
}
