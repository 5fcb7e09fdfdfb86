package graft.pipeline

import graft.SparkSpec
import graft.io.{Layout, PartitionLedger}
import graft.sources._
import org.apache.spark.sql.functions._
import java.nio.file.Files

class Connectors2Spec extends SparkSpec {
  import spark.implicits._
  private def fixture(p: String) = getClass.getResource(s"/bronze/$p").getPath

  test("S2/S20 yfinance: long CSV + missing-ticker anti-join (F5)") {
    val c = new YFinanceConnector(fixture("kr_stock"), "kr_stock")
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 3)
    // 035720.KS has all-null Close -> flagged missing
    val requested = Seq("005930.KS", "000660.KS", "035720.KS").toDF("Ticker")
    val missing = c.missingTickers(df, requested).as[String].collect()
    assert(missing === Array("035720.KS"))
  }

  test("K2 CSV sink: golden round-trip — header, quoting, schema survive the format") {
    val c = new YFinanceConnector(fixture("kr_stock"), "kr_stock")
    val bronze = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    val root = Files.createTempDirectory("graft-k2").toString + "/t"
    graft.io.Writers.writeForDate(bronze, root, "2025-01-06", "csv")
    // golden content check: every part file leads with the header row
    // (to_csv(index=False) semantics, yfinance_operator.py:145-146), and
    // the union of data lines is byte-identical to the committed golden —
    // this is what catches quoting/header/null-encoding drift in the CSV
    // sink that a schema-carrying parquet round-trip never would
    val golden = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden/yfinance_bronze_k2.csv"))
      .getLines().toSeq
    val partFiles = new java.io.File(s"$root/ymd=2025-01-06").listFiles()
      .filter(_.getName.endsWith(".csv")).toSeq
    assert(partFiles.nonEmpty)
    val perFile = partFiles.map { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq }
    perFile.filter(_.nonEmpty).foreach(ls => assert(ls.head === golden.head,
      "every CSV part must lead with the reference header row"))
    assert(perFile.flatMap(_.drop(1)).sorted === golden.drop(1).sorted)
    // schema round-trip: header + declared schema re-read reproduces the
    // bronze frame exactly (names, types, values — including the
    // all-null-Close ticker surviving as nulls, not empty strings)
    val back = spark.read.schema(graft.model.Schemas.yfinanceLong)
      .option("header", "true").csv(s"$root/ymd=2025-01-06")
    assert(back.schema === bronze.schema)
    assert(back.collect().toSet === bronze.collect().toSet)
    // headers are real: a schema-less read still yields the column names
    assert(spark.read.option("header", "true").csv(s"$root/ymd=2025-01-06")
      .columns.toSeq === bronze.columns.toSeq)
  }

  test("S4 BOK: row batches flatten one level (F10)") {
    val c = new BokStatConnector(fixture("economic_indicators"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 3) // 2 + 1 across two batches
    assert(df.filter($"ITEM_CODE1" === "SA200").count() === 1)
    assert(df.schema.fieldNames.contains("DATA_VALUE"))
  }

  test("S4 BOK red path: ECOS RESULT error envelope raises, never lands") {
    val c = new BokStatConnector(fixture("economic_indicators"))
    // the canonical ECOS "no data" payload (bank_of_korea_operator.py:92-94)
    val err = """{"RESULT": {"CODE": "INFO-200",
                | "MESSAGE": "해당하는 데이터가 없습니다."}}""".stripMargin
    val e = intercept[IllegalStateException] { c.toBronze(spark, Seq(err)) }
    assert(e.getMessage.contains("No data available"))
    // depth-aware: "RESULT" as a VALUE or a NESTED key must NOT trip it
    assert(!BokPayload.hasTopLevelResult(
      """[[{"STAT_NAME": "RESULT", "note": "a \"RESULT\" in a string"}]]"""))
    assert(!BokPayload.hasTopLevelResult(
      """{"StatisticSearch": {"RESULT": "nested, not top-level", "row": []}}"""))
    assert(BokPayload.hasTopLevelResult(
      """{ "other": 1, "RESULT" : {"CODE": "INFO-100"} }"""))
  }

  test("S4 over HTTP: offset/batch pagination, RESULT raise, total raise") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    def rowJson(i: Int): String =
      s"""{"STAT_CODE": "902Y006", "STAT_NAME": "국제수지",
         | "ITEM_CODE1": "SA$i", "ITEM_NAME1": "x", "UNIT_NAME": "u",
         | "TIME": "202411", "DATA_VALUE": "$i.0"}""".stripMargin
    def batchBody(from: Int, to: Int, total: Int): String = {
      val rows = (from to math.min(to, total)).map(rowJson).mkString(",")
      s"""{"StatisticSearch": {"list_total_count": $total, "row": [$rows]}}"""
    }
    val requests = new java.util.concurrent.atomic.AtomicInteger(0)
    val offsets = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // path shape mirrors the reference url:
    // /api/{offset}/{end}/{stat}/{interval}/{date}/{date}
    server.createContext("/api", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        requests.incrementAndGet()
        val seg = x.getRequestURI.getPath.split("/").filter(_.nonEmpty)
        val (from, to) = (seg(1).toInt, seg(2).toInt)
        offsets.add(from)
        val body = (seg(3) match {
          case "EMPTY"   => """{"RESULT": {"CODE": "INFO-200"}}"""
          case "NOTOTAL" => """{"StatisticSearch": {"row": []}}"""
          case _         => batchBody(from, to, total = 6)
        }).getBytes("UTF-8")
        x.sendResponseHeaders(200, body.length)
        x.getResponseBody.write(body); x.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/api"
      // 6 rows at batch 2: offsets 1, 3, 5 then stop at 7 (7 < 6 false) —
      // the reference's exact `offset < total_records` while guard
      val c = new HttpBokStatConnector(base, "902Y006", "M", batchSize = 2)
      val raw = c.fetchRaw("2025-01-06")
      assert(raw.length === 3)
      assert(offsets.toArray.toSeq === Seq(1, 3, 5))
      val bronze = c.toBronze(spark, raw)
      assert(bronze.count() === 6)
      assert(bronze.schema.fieldNames.toSeq ===
        graft.model.Schemas.bokStat.fieldNames.toSeq,
        "HTTP bronze shape == fixture-backed bronze shape")
      assert(bronze.select($"ITEM_CODE1").as[String].collect().sorted ===
        (1 to 6).map(i => s"SA$i").sorted.toArray)
      // reference boundary parity (bank_of_korea_operator.py:85) is the
      // conscious OPT-IN: when total ≡ 1 (mod batch) the strict `<`
      // stops BEFORE the last offset — total=6 at batch 5 fetches
      // offset 1 (rows 1-5), then offset 6 fails `6 < 6` and row 6 is
      // never requested. Asserted so the divergence stays deliberate.
      val c5 = new HttpBokStatConnector(base, "902Y006", "M", batchSize = 5,
        includeFinalPartialPage = false)
      val raw5 = c5.fetchRaw("2025-01-06")
      assert(raw5.length === 1)
      assert(c5.toBronze(spark, raw5).count() === 5)
      // ...and the DEFAULT is the corrected `<=` guard: the final
      // partial page is fetched, recovering row 6 (data loss requires
      // opting into parity, not the other way around)
      val c5fix = new HttpBokStatConnector(base, "902Y006", "M", batchSize = 5)
      val raw5fix = c5fix.fetchRaw("2025-01-06")
      assert(raw5fix.length === 2)
      assert(c5fix.toBronze(spark, raw5fix).count() === 6)
      // RESULT envelope from the live API raises mid-loop
      val eEmpty = intercept[IllegalStateException] {
        new HttpBokStatConnector(base, "EMPTY", "M", 2).fetchRaw("2025-01-06")
      }
      assert(eEmpty.getMessage.contains("No data available"))
      // a response without list_total_count raises (KeyError analog) —
      // silent partial fetches are impossible
      val eTotal = intercept[IllegalStateException] {
        new HttpBokStatConnector(base, "NOTOTAL", "M", 2).fetchRaw("2025-01-06")
      }
      assert(eTotal.getMessage.contains("list_total_count"))
    } finally server.stop(0)
  }

  test("S6 index: records parse; holiday day yields empty fetch") {
    val c = new IndexDataConnector(fixture("index_data"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 2)
    assert(df.select($"index_name").as[String].collect().toSet ===
      Set("S&P 500", "NASDAQ 100"))
    assert(c.fetchRaw("2025-01-01").isEmpty)
  }

  test("S7 bonds: chart points incl. zero-filled row (F13 shape)") {
    val c = new BondsConnector(fixture("govt_bonds_kr"), "govt_bonds_kr")
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 2)
    val zeroFilled = df.filter($"Close" === 0.0)
    assert(zeroFilled.count() === 1)
    assert(zeroFilled.select($"matures_in").as[Int].head() === 30)
  }

  test("S8 bonds meta: map column with name promoted; first-wins keys") {
    val c = new BondsMetaConnector(fixture("bonds_meta"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 2)
    val ktb = df.filter($"name" === "KTB 10Y").head()
    val attrs = ktb.getAs[Map[String, String]]("attrs")
    assert(attrs("coupon") === "2.875")
    assert(!attrs.contains("name"))
    // schema-drift tolerance: UST record has no issue_price/issue_date
    val ust = df.filter($"name" === "UST 20Y").head()
    assert(!ust.getAs[Map[String, String]]("attrs").contains("issue_price"))
  }

  test("S8 raw HTML: scan-side <table> parse == pre-parsed JSON bronze") {
    val rawC = new BondsMetaHtmlConnector(fixture("bonds_meta_html"))
    val raw = rawC.fetchRaw("2025-01-06")
    assert(raw.length === 2)
    val parsed = rawC.toBronze(spark, raw)
    // duplicate 'Coupon' row: FIRST occurrence wins (9.999 dropped);
    // empty-content 'Rating' row skipped; th-only header row skipped;
    // whitespace/newlines stripped from both header and content
    val ktb = parsed.filter($"name" === "KTB 10Y").head()
      .getAs[Map[String, String]]("attrs")
    assert(ktb("coupon") === "2.875")
    assert(ktb("issuer") === "Korea Treasury")
    assert(!ktb.contains("rating"))
    // the raw-HTML path lands byte-identical bronze to the pre-parsed path
    val viaJson = new BondsMetaConnector(fixture("bonds_meta"))
    val expected = viaJson.toBronze(spark, viaJson.fetchRaw("2025-01-06"))
      .as[(String, Map[String, String])].collect().toSet
    assert(parsed.as[(String, Map[String, String])].collect().toSet === expected)
  }

  test("S8 raw HTML: attributes, tag casing, and inline markup still parse") {
    val c = new BondsMetaHtmlConnector(fixture("bonds_meta_html"))
    // crawled-in-the-wild shape: attributes on tr/td, upper-case tags,
    // inline <b>/<a> markup inside cells — none present in the fixture
    val html = """BOND X\t<table class="t">
      |<TR class="odd"><TD class="h">Issue Price</TD>
      |  <td style="x">  <b>99.5</b>  </td></TR>
      |<tr><td><a href="/i">Coupon</a></td><td>3.125</td></tr>
      |<tr><td>Empty</td><td>   </td></tr>
      |<tr><td>OnlyOneCell</td></tr>
      |</table>""".stripMargin.replace("\\t", "\t")
    val out = c.toBronze(spark, Seq(html))
    val attrs = out.head().getAs[Map[String, String]]("attrs")
    assert(out.head().getAs[String]("name") === "BOND X")
    assert(attrs === Map("issue_price" -> "99.5", "coupon" -> "3.125"))
  }

  test("S12 raw XML: locdate extraction == JSON block1 holidays, feeds F19") {
    val xmlC = new HolidayXmlConnector(fixture("kr_market_holiday_xml"))
    val dates = xmlC.toBronze(spark, xmlC.fetchRaw("2025"))
    // whitespace-padded <locdate> still parses; ISO-dash output
    assert(dates.as[String].collect().toSet ===
      Set("2025-01-01", "2025-01-28", "2025-01-29"))
    // same holiday set the JSON-backed S12 connector lands
    val jsonC = new MarketHolidayConnector(
      getClass.getResource("/bronze/kr_market_holiday").getPath)
    val viaJson = jsonC.toBronze(spark, jsonC.fetchRaw("2025"))
      .select($"calnd_dd_dy").as[String].collect().toSet
    assert(dates.as[String].collect().toSet === viaJson)
    // and it plugs into the F19 upsert exactly like the JSON path
    val cal = graft.operators.CalendarOps.calendarDim(spark, 2025, 2025)
    val applied = graft.operators.CalendarOps.applyHolidays(cal, dates, "locdate")
    assert(applied
      .filter($"is_market_holiday" && $"date" === "2025-01-28").count() === 1)
  }

  test("S10 GICS: bucketed by code length into four levels (F11)") {
    val c = new GicsConnector(fixture("gics_codes"))
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    val byCat = df.groupBy($"category").count().as[(String, Long)].collect().toMap
    assert(byCat === Map("sector" -> 2L, "industry_group" -> 1L,
      "industry" -> 1L, "sub_industry" -> 1L))
  }

  test("S13 FX: wide matrix reads; silver unpivots to long (F4/F15)") {
    import org.apache.spark.sql.types.{DateType, DoubleType, StructField, StructType}
    val c = new ExchangeRateConnector(fixture("exchange_rate"))
    val raw = c.fetchRaw("2025-01-06")
    var wide: org.apache.spark.sql.DataFrame = null
    // the schema comes from the header line, not from an inference job
    assert(jobsIn { wide = c.toBronze(spark, raw) } === 0)
    assert(wide.schema === StructType(StructField("RecordDate", DateType) +:
      Seq("USDKRW=X", "EURKRW=X", "JPYKRW=X", "GBPUSD=X").map(StructField(_, DoubleType))))
    // ... the schema and rows an inferring read gives
    val inferred = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(raw: _*)
    assert(wide.schema === inferred.schema)
    assert(wide.toJSON.collect().toSeq === inferred.toJSON.collect().toSeq)
    assert(wide.columns.head === "RecordDate") // F15 rename already applied
    assert(wide.columns.length === 5)
    val long = c.toLong(wide)
    assert(long.count() === 4)
    assert(long.columns.toSeq === Seq("RecordDate", "pair", "rate"))
    val usdkrw = long.filter($"pair" === "USDKRW=X").select($"rate")
      .as[Double].head()
    assert(usdkrw === 1466.30)
  }

  test("S14 MSCI: ds-1 logical-date offset (C7) + tagged record") {
    val c = new MsciConnector(fixture("msci_index"))
    assert(c.partitionDate("2025-01-06") === "2025-01-05")
    val df = c.toBronze(spark, c.fetchRaw("2025-01-06"))
    assert(df.count() === 1)
    assert(df.select($"Index_Name").as[String].head() === "EM")
    assert(df.columns.contains("RecordDate"))
  }

  test("C5 fan-out: one runner, many sources, independent results") {
    val layout = Layout(Files.createTempDirectory("graft-lake").toString)
    val ledger = new PartitionLedger(layout.root + "/ledger.tsv")
    val runner = new Runner(spark, layout, ledger)
    val results = runner.ingestAll(Seq(
      new KrxCodesConnector(fixture("krx_codes")),
      new IndexDataConnector(fixture("index_data")),
      new GicsConnector(fixture("gics_codes")),
      new BondsConnector(fixture("govt_bonds_kr"), "govt_bonds_kr")),
      "2025-01-06")
    assert(results.values.forall(_ === Ran))
    // all four bronze sources landed under ymd=2025-01-06
    Seq("krx_codes", "index_data", "gics_codes", "govt_bonds_kr").foreach { s =>
      assert(new java.io.File(
        layout.source("bronze", s) + "/ymd=2025-01-06").exists, s)
    }
    // one source missing its payload doesn't fail the fan-out
    val r2 = runner.ingestAll(
      Seq(new IndexDataConnector(fixture("index_data"))), "2025-01-01")
    assert(r2("index_data") === Skipped("no payload for 2025-01-01"))
  }
}
