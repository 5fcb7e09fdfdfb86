package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DateType, DoubleType, StructField, StructType}
import graft.model.Schemas
import graft.operators.RelationalOps

/** Remaining SURVEY §2A connectors (file 2 of 2): yfinance family
  * (S2/S19/S20), BOK stats (S4), investing.com indices (S6), bonds
  * (S7) + metadata (S8), GICS (S10), FX wide matrix (S13), MSCI (S14).
  * Same architecture as Connectors.scala: fixture-backed driver-side
  * fetch, declarative Spark-side parse/conform.
  */
object FixtureFiles {
  def readOne(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (!f.exists) Seq.empty else Seq(java.nio.file.Files.readString(f.toPath))
  }
  def listDir(dir: String, prefix: String = ""): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Seq.empty
    else d.listFiles().filter(_.getName.startsWith(prefix)).sortBy(_.getName)
      .map(_.getPath).toSeq
  }
}

/** S2/S19/S20: yfinance OHLCV, already in the post-stack long layout
  * (yfinance_operator.py:110-113) — CSV with declared schema. The
  * `query`-mode ticker universe (S3/S20) is the dim lookup composed
  * upstream; here the landed shape is what matters. */
final class YFinanceConnector(fixtureDir: String, category: String)
    extends Connector {
  val name = category
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.listDir(s"$fixtureDir/ymd=$logicalDate", "data")
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    spark.read.schema(Schemas.yfinanceLong).option("header", "true").csv(raw: _*)

  /** F5: the missing-ticker completeness check
    * (yfinance_operator.py:118-127): requested tickers with no non-null
    * Close in the fetched frame. */
  def missingTickers(fetched: DataFrame, requested: DataFrame): DataFrame =
    RelationalOps.missingKeys(
      requested,
      fetched.filter(col("Close").isNotNull).select(col("Ticker")),
      Seq("Ticker"))
}

/** The ECOS "no data / error" envelope check: the reference raises
  * whenever the response object carries a TOP-LEVEL "RESULT" key
  * (bank_of_korea_operator.py:92-94 — `"RESULT" in response_json`) —
  * landing such a payload as empty bronze would silently convert an
  * upstream error into a hollow partition, the exact class the F17
  * non-empty gates exist to prevent. Depth-aware scan (string-literal
  * safe), not a substring test: a row VALUE containing the text
  * "RESULT" must never trip it. */
object BokPayload {
  private[graft] def hasTopLevelResult(body: String): Boolean = {
    var i = 0; var depth = 0; var inStr = false; var esc = false
    var strStart = -1
    var lastStrAtDepth1: String = null // candidate key: last depth-1 string
    while (i < body.length) {
      val c = body.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') {
          inStr = false
          if (depth == 1) lastStrAtDepth1 = body.substring(strStart, i)
        }
      } else c match {
        case '"' => inStr = true; strStart = i + 1
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case ':' =>
          // a ':' directly following a depth-1 string makes it a KEY
          if (depth == 1 && lastStrAtDepth1 == "RESULT") return true
        case _ =>
          if (depth == 1 && !c.isWhitespace) lastStrAtDepth1 = null
      }
      i += 1
    }
    false
  }

  /** Raise exactly where the reference does — before anything lands. */
  def validate(body: String): Unit =
    if (hasTopLevelResult(body))
      throw new IllegalStateException("No data available for the query.")
}

/** S4: Bank of Korea ECOS stats — payload is a list of `row` batches
  * (bank_of_korea_operator.py:37-44,95); flatten one level then parse
  * rows (F10). An ECOS error envelope (top-level "RESULT" key,
  * bank_of_korea_operator.py:92-94) RAISES instead of landing as empty
  * bronze. */
final class BokStatConnector(fixtureDir: String) extends Connector {
  val name = "economic_indicators"
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.readOne(s"$fixtureDir/ymd=$logicalDate/data.json")
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    raw.foreach(BokPayload.validate)
    spark.createDataset(raw)
      .select(explode(from_json($"value",
        ArrayType(ArrayType(Schemas.bokStat)))).as("batch"))
      .select(explode($"batch").as("r"))
      .select("r.*")
  }
}

/** S4 over real transport: the ECOS offset/batch pagination generator
  * (bank_of_korea_operator.py:80-98) — fetch rows
  * [offset, offset+batch_size−1], raise on a "RESULT" error envelope,
  * advance offset by batch_size, learn `list_total_count` from each
  * response, and loop while `offset < total` (the reference's exact
  * while guard, so a total of 250 at batch 100 makes exactly 3
  * requests: offsets 1, 101, 201). Missing list_total_count raises —
  * the reference's KeyError analog; a silent partial fetch must be
  * impossible. Each GET wrapped in C4 retries, same no-keep-alive
  * transport as [[graft.sources.HttpKrEtfConnector]].
  *
  * In tests baseUrl is an in-process httpserver stub; in production
  * the real ECOS API — connector code identical. */
final class HttpBokStatConnector(baseUrl: String, statCode: String,
                                 intervalCode: String, batchSize: Int = 100,
                                 retries: Int = 3, retryDelayMs: Long = 0,
                                 includeFinalPartialPage: Boolean = true)
    extends Connector {
  val name = "economic_indicators_http"

  private def get(url: String): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    conn.setRequestProperty("Connection", "close")
    try {
      val code = conn.getResponseCode
      if (code != 200) throw new java.io.IOException(s"HTTP $code for $url")
      new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    } finally conn.disconnect()
  }

  private[graft] def listTotalCount(body: String): Int =
    """"list_total_count"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"$name: no list_total_count in response"))

  /** Pagination stop: the corrected `offset <= total` guard by DEFAULT —
    * the reference's strict `offset < total` (bank_of_korea_operator.py:85)
    * silently drops the final row whenever `list_total_count ≡ 1 (mod
    * batchSize)`, which is production-shaped data loss, so reference
    * parity is the conscious OPT-IN (`includeFinalPartialPage = false`)
    * and the skip it causes is LOGGED, never silent. */
  def fetchRaw(logicalDate: String): Seq[String] = {
    val pages = Seq.newBuilder[String]
    var offset = 1
    var total: Option[Int] = None
    def more(t: Int): Boolean =
      if (includeFinalPartialPage) offset <= t else offset < t
    while (total.isEmpty || more(total.get)) {
      val body = Retry.withRetries(retries, retryDelayMs)(get(
        s"$baseUrl/$offset/${offset + batchSize - 1}/$statCode/" +
          s"$intervalCode/$logicalDate/$logicalDate"))
      BokPayload.validate(body)
      pages += body
      offset += batchSize
      total = Some(listTotalCount(body))
    }
    if (!includeFinalPartialPage && total.exists(t => offset == t)) {
      System.err.println(s"[$name] reference-parity stop (offset < total) " +
        s"skipped the final row at offset ${total.get} of ${total.get} — " +
        "pass includeFinalPartialPage=true for the corrected <= guard")
    }
    pages.result()
  }

  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    // from_json ignores list_total_count — row parse matches the
    // fixture-backed connector's bronze shape exactly
    spark.createDataset(raw)
      .select(from_json($"value", Schemas.bokEnvelope).as("p"))
      .select(explode($"p.StatisticSearch.row").as("r"))
      .select("r.*")
  }
}

/** S6: investing.com indices — one record per open market; holidays are
  * simply absent (extractors.py:42-45), `index_name` tagged by the
  * fetcher (F16). */
final class IndexDataConnector(fixtureDir: String) extends Connector {
  val name = "index_data"
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.readOne(s"$fixtureDir/ymd=$logicalDate/${logicalDate}_index_data.json")
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    Parse.jsonArray(spark, raw, StructType.fromDDL(
      """direction_color STRING, rowDate STRING, rowDateRaw BIGINT,
        |last_close STRING, last_open STRING, last_max STRING,
        |last_min STRING, volume STRING, change_precent STRING,
        |index_name STRING""".stripMargin))
}

/** S7: Business Insider bond chart points per category, zero-filled rows
  * included (brz_bonds_daily/extractors.py:62-87). */
final class BondsConnector(fixtureDir: String, category: String)
    extends Connector {
  val name = category
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.readOne(
      s"$fixtureDir/ymd=$logicalDate/${category}_$logicalDate.json")
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    Parse.jsonArray(spark, raw, Schemas.bonds)
}

/** S8: bond metadata — dynamic scraped key→value maps + name
  * (brz_bonds_meta_monthly/extractors.py:41-51); parsed as
  * `map<string,string>`, name promoted to a column (F14 keys already
  * normalized by the scraper). */
final class BondsMetaConnector(fixtureDir: String) extends Connector {
  val name = "bonds_meta"
  def fetchRaw(logicalDate: String): Seq[String] = {
    val ym = logicalDate.substring(0, 7)
    FixtureFiles.readOne(s"$fixtureDir/ymd=$logicalDate/bonds_meta_$ym.json")
  }
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(raw)
      .select(explode(from_json($"value",
        ArrayType(org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))).as("m"))
      .select(element_at($"m", "name").as("name"),
        map_filter($"m", (k, _) => k =!= "name").as("attrs"))
  }
}

/** S8 from the RAW scraped payload: the reference fetches each bond's
  * HTML page and parses its single `<table>`'s two-`<td>` rows into a
  * key→value map (brz_bonds_meta_monthly/extractors.py:38-51: header =
  * td[0] stripped, spaces→underscores, lowered; content = td[1] stripped;
  * empty content skipped; rows without exactly two tds skipped; FIRST
  * occurrence of a key wins; `name` = the bond key from the url
  * registry). Here the HTML→map parse is a SCAN-SIDE column-expression
  * chain (`regexp_extract_all` over row tags + a first-wins map fold) —
  * at crawl scale the parse runs distributed inside the scan, not in a
  * driver loop. Output shape is identical to [[BondsMetaConnector]]'s
  * pre-parsed-JSON bronze, spec-asserted equal on the same bonds.
  *
  * Envelope: fetchRaw emits one `bondKey \t html` string per page (the
  * scraper knows the key independently of the page; HTML carries no
  * tabs). */
final class BondsMetaHtmlConnector(fixtureDir: String) extends Connector {
  val name = "bonds_meta_html"

  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.listDir(s"$fixtureDir/ymd=$logicalDate")
      .filter(_.endsWith(".html"))
      .map { p =>
        val f = new java.io.File(p)
        f.getName.stripSuffix(".html") + "\t" +
          java.nio.file.Files.readString(f.toPath)
      }

  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // BeautifulSoup's .strip(): trim ALL whitespace (incl. newlines) —
    // Spark's trim() only strips spaces
    def strip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")
    // real crawled HTML carries attributes (<td class="x">), arbitrary
    // tag casing (<TD>), and inline markup inside cells (<b>, <a href>) —
    // match tags attribute-insensitively/case-insensitively and drop any
    // tags nested in the captured cell content, approximating
    // BeautifulSoup's get_text(). (Tables nested INSIDE a cell remain out
    // of contract — the reference pages are single flat tables.)
    def dropTags(c: Column): Column = regexp_replace(c, "<[^>]+>", "")
    val tdPair = "(?is)<td[^>]*>(.*?)</td>\\s*<td[^>]*>(.*?)</td>"
    spark.createDataset(raw)
      .select(substring_index($"value", "\t", 1).as("name"),
        expr("substring(value, instr(value, '\t') + 1)").as("html"))
      .withColumn("entries", filter(
        transform(
          regexp_extract_all($"html", lit("(?is)<tr[^>]*>(.*?)</tr>"), lit(1)),
          r => struct(
            lower(regexp_replace(strip(dropTags(regexp_extract(r, tdPair, 1))),
              " ", "_")).as("k"),
            strip(dropTags(regexp_extract(r, tdPair, 2))).as("v"),
            size(regexp_extract_all(r, lit("(?i)<td[^>]*>"), lit(0))).as("ntd"))),
        e => e("ntd") === 2 && e("v") =!= ""))
      // first-wins fold (reference: parsed.get(header, content)) — a
      // plain map_from_entries would throw/last-win on duplicate keys
      .select($"name", aggregate($"entries",
        map().cast("map<string,string>"),
        (acc, e) => when(map_contains_key(acc, e("k")), acc)
          .otherwise(map_concat(acc, map(e("k"), e("v"))))).as("attrs"))
  }
}

/** S12 from the RAW deprecated payload: the data.go.kr holiday API
  * returns XML; the reference pulls every `<locdate>` text
  * (brz_kr_etf_daily/tasks_deprecated.py:31-33) and treats membership —
  * plus the December-31 last weekday (F18) — as market-closed. The
  * extraction is scan-side (`regexp_extract_all` → explode → ISO date),
  * and the output feeds [[graft.operators.CalendarOps.applyHolidays]]
  * (F19) exactly like the JSON-backed [[MarketHolidayConnector]]. */
final class HolidayXmlConnector(fixtureDir: String) extends Connector {
  val name = "kr_market_holiday_xml"

  def fetchRaw(year: String): Seq[String] =
    FixtureFiles.readOne(s"$fixtureDir/year=$year/data.xml")

  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(raw)
      .select(explode(regexp_extract_all($"value",
        lit("<locdate>\\s*(\\d{8})\\s*</locdate>"), lit(1))).as("yyyymmdd"))
      .select(date_format(to_date($"yyyymmdd", "yyyyMMdd"), "yyyy-MM-dd")
        .as("locdate"))
  }
}

/** S10: GICS classification rows bucketed by code length into the four
  * category levels (extractors.py:85-97, F11). */
final class GicsConnector(fixtureDir: String) extends Connector {
  val name = "gics_codes"
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.readOne(
      s"$fixtureDir/ymd=$logicalDate/gics_codes_$logicalDate.json")
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    import spark.implicits._
    Parse.jsonArray(spark, raw, Schemas.gicsCodes)
      .withColumn("category", RelationalOps.bucketByCodeLength($"code"))
  }
}

/** S13: FX close matrix — wide, one DOUBLE column per currency pair,
  * `Date` pre-renamed to `RecordDate` to dodge the partition-key
  * collision (extractors.py:27, F15). Silver unpivots to long (F4). */
final class ExchangeRateConnector(fixtureDir: String) extends Connector {
  val name = "exchange_rate"
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.listDir(s"$fixtureDir/ymd=$logicalDate", "")
  /** `RecordDate DATE`, then one `DOUBLE` per pair column, named by the
    * first file's CSV header line: no inference pass over the data. */
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame = {
    val in = java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get(raw.head))
    val header = try Option(in.readLine()).getOrElse("") finally in.close()
    val names = header.split(",", -1).toSeq
    require(names.head == "RecordDate",
      s"exchange_rate header must start with RecordDate, got '$header'")
    val schema = StructType(StructField("RecordDate", DateType) +:
      names.tail.map(StructField(_, DoubleType)))
    spark.read.schema(schema).option("header", "true").csv(raw: _*)
  }

  /** Silver shape: unpivot the pair columns to (RecordDate, pair, rate). */
  def toLong(bronze: DataFrame): DataFrame = {
    val pairCols = bronze.columns.filterNot(_ == "RecordDate")
    RelationalOps.unpivotWide(bronze, Seq("RecordDate"), pairCols, "pair", "rate")
  }
}

/** S14: MSCI index record — fetched for `ds−1`
  * (brz_msci_index_daily/constants.py:7-9), `Date` popped to
  * `RecordDate`, `Index_Name` tagged (extractors.py:33-40). */
final class MsciConnector(fixtureDir: String) extends Connector {
  val name = "msci_index"
  /** logical-date semantics: the partition is the PREVIOUS day (C7). */
  def partitionDate(logicalDate: String): String =
    java.time.LocalDate.parse(logicalDate).minusDays(1).toString
  def fetchRaw(logicalDate: String): Seq[String] =
    FixtureFiles.listDir(s"$fixtureDir/ymd=${partitionDate(logicalDate)}", "msci_")
      .flatMap(p => FixtureFiles.readOne(p))
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    Parse.jsonArray(spark, raw, StructType.fromDDL(
      """Close DOUBLE, Open DOUBLE, High DOUBLE, Low DOUBLE, Volume DOUBLE,
        |Index_Name STRING, RecordDate STRING""".stripMargin))
}
