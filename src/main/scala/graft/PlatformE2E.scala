package graft

import graft.io.{Layout, PartitionLedger, SchemaRegistry}
import graft.pipeline.{Failed, PlatformDay, Ran, Skipped}

/** One-day full-platform E2E, timed — runs [[graft.pipeline.PlatformDay]]
  * TWICE on a fresh lake (same ledger) and emits ONE JSON line with stage
  * timings, per-source results, and the run-twice ≡ run-once verdict (the
  * C3 invariant at platform scope). The committed artifact is
  * E2E_PLATFORM.json; BASELINE.md's operational envelope ("one day's
  * multi-source ingest+conform ≈ a 10-worker Glue job") is asserted
  * nowhere else end-to-end.
  *
  *   sbt "runMain graft.PlatformE2E [fixturesRoot]"
  */
object PlatformE2E {
  def main(args: Array[String]): Unit = {
    val fixtures = args.headOption.getOrElse(
      "/root/repo/src/test/resources/bronze")
    val spark = graft.core.GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val layout = Layout(root)
    val ledger = new PartitionLedger(root + "/ledger.tsv")
    val registry = new SchemaRegistry(root + "/registry")

    def stamp(r: graft.pipeline.StageResult): String = r match {
      case Ran        => "ran"
      case Skipped(w) => s"skipped: $w"
      case Failed(e)  => s"failed: ${e.getClass.getSimpleName}"
    }
    val t0 = System.nanoTime()
    val first = PlatformDay.run(spark, layout, ledger, registry, fixtures)
    val firstSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val second = PlatformDay.run(spark, layout, ledger, registry, fixtures)
    val secondSec = (System.nanoTime() - t1) / 1e9

    // ---- VOLUME leg: the backfill→gold chain at sf0.1-shaped volume ----
    // The fixture fleet proves the DAG composes; this leg prices one leg
    // at real data volume (~95k bronze rows reshaped from the driver's
    // sf0.1 orders table — ticker/date/close from custkey/orderkey/
    // totalprice buckets, max-per-slot for determinism) so the
    // ingest/silver/gold stage costs in the artifact are volume-bearing,
    // and asserts the ledger-skip rerun's ingest cost stays ~flat (the
    // C3 economics at scale: a re-run must not re-pay the parse+write).
    val volSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val volDates = (1 to 20).map(i => f"2019-12-$i%02d")
    val volFixture = s"$root/vol_fixture/kr_etf_old"
    val volRows = {
      import spark.implicits._
      val slots = spark.read.parquet(s"$volSf/orders.parquet")
        .selectExpr("cast(o_orderkey % 20 as int) + 1 as di",
          "lpad(cast(o_custkey % 7500 as string), 6, '0') as ticker",
          "o_totalprice as px")
        .groupBy("di", "ticker")
        .agg(org.apache.spark.sql.functions.max("px").as("px"))
        .selectExpr("di", "ticker", "format_number(px, 2) as px")
        .as[(Int, String, String)].collect()
        .groupBy(_._1)
      for ((di, rows) <- slots) {
        val date = f"2019-12-$di%02d"
        val dir = java.nio.file.Paths.get(s"$volFixture/ymd=$date")
        java.nio.file.Files.createDirectories(dir)
        val body = rows.sortBy(_._2).map { case (_, t, p) =>
          s"""  {"ISU_SRT_CD": "$t", "ISU_ABBRV": "VOL $t", """ +
            s""""TDD_CLSPRC": "$p", "FLUC_RT": "0.00", "ACC_TRDVOL": "1"}"""
        }.mkString("{\"output\": [\n", ",\n",
          s"\n], \"CURRENT_DATETIME\": \"$date 18:00:05\"}")
        java.nio.file.Files.write(dir.resolve("data.json"),
          body.getBytes("UTF-8"))
      }
      slots.valuesIterator.map(_.length.toLong).sum
    }
    val volLayout = Layout(s"$root/vol_lake")
    val volLedger = new PartitionLedger(s"$root/vol_ledger.tsv")
    def volGold(): (Long, Long) = {
      import org.apache.spark.sql.functions._
      val bronze = spark.read
        .json(volLayout.source("bronze", "kr_etf_old"))
        .withColumn("close",
          regexp_replace(col("TDD_CLSPRC"), ",", "").cast("double"))
        .withColumn("ymd", col("ymd").cast("string"))
      val gold = graft.gold.GoldOps.withRolling(
        graft.gold.GoldOps.withReturns(bronze, "ISU_SRT_CD", "ymd", "close"),
        "ISU_SRT_CD", "ymd", "close", n = 5)
      val path = PlatformDay.goldPath(volLayout)
      gold.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      PlatformDay.contentHash(spark.read.parquet(path))
    }
    def timedSec[A](body: => A): (A, Double) = {
      val s = System.nanoTime(); val a = body
      (a, (System.nanoTime() - s) / 1e9)
    }
    def ingestVol() = new graft.pipeline.IngestJob(spark, volLayout,
      new graft.sources.KrEtfOldConnector(volFixture), volLedger)
      .runRange(volDates)
    val (volIngest1, volIngest1Sec) = timedSec(ingestVol())
    val (volGold1, volGold1Sec) = timedSec(volGold())
    val (volIngest2, volIngest2Sec) = timedSec(ingestVol())
    val (volGold2, volGold2Sec) = timedSec(volGold())
    val volAllRan = volIngest1.values.forall {
      case Ran => true; case _ => false
    }
    // runRange consults the ledger FIRST, so a clean rerun returns an
    // empty map (nothing unprocessed) — that emptiness IS the skip proof
    val volRerunSkipped = volIngest2.isEmpty
    val volIdempotent = volGold1 == volGold2

    val idempotent = first.snapshot == second.snapshot
    val rerunSkipped = second.daily.values.forall {
      case Skipped(_) => true; case _ => false
    }
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    def jmap(m: Map[String, String]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val results = jmap(
      first.yearly.map { case (k, v) => s"yearly/$k" -> stamp(v) } ++
      first.monthly.map { case (k, v) => s"monthly/$k" -> stamp(v) } ++
      first.daily.map { case (k, v) => s"daily/$k" -> stamp(v) } ++
      first.backfill.map { case (k, v) => s"backfill/$k" -> stamp(v) } +
      ("silver/dim_industry_code" -> stamp(first.silver)))
    val stages = first.stageSec.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val snaps = first.snapshot.toSeq.sortBy(_._1)
      .map { case (k, (n, h)) => jstr(k) + s""":{"rows":$n,"hash":$h}""" }
      .mkString("{", ",", "}")
    val gitHead = try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .directory(new java.io.File("/root/repo")).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream)
        .mkString.trim
      if (p.waitFor() == 0) s""","git_head":${jstr(out)}""" else ""
    } catch { case _: Throwable => "" }
    val volLeg =
      s""""volume_leg":{"bronze_rows":$volRows,"dates":${volDates.size},""" +
      s""""ingest_sec":$volIngest1Sec,"gold_sec":$volGold1Sec,""" +
      s""""rerun_ingest_sec":$volIngest2Sec,"rerun_gold_sec":$volGold2Sec,""" +
      s""""gold_rows":${volGold1._1},"all_ran":$volAllRan,""" +
      s""""rerun_ledger_skipped":$volRerunSkipped,""" +
      s""""idempotent":$volIdempotent}"""
    val line =
      s"""{"metric":"platform_e2e_day","first_run_sec":$firstSec,""" +
      s""""rerun_sec":$secondSec,"idempotent":$idempotent,""" +
      s""""rerun_all_daily_skipped":$rerunSkipped,""" +
      s""""gold_rows":${first.goldRows},"stages":$stages,""" +
      s"""$volLeg,""" +
      s""""results":$results,"snapshot":$snaps$gitHead}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/root/repo/E2E_PLATFORM.json"),
      (line + "\n").getBytes("UTF-8"))
    require(idempotent,
      "PLATFORM NOT IDEMPOTENT: second-run snapshot differs from the first")
    require(volIdempotent && volRerunSkipped && volAllRan,
      "VOLUME LEG BROKE C3: ingest/gold rerun diverged or re-paid ingest")
    // the C3 economics claim, machine-checked: a ledger-skipped rerun of
    // the volume ingest must cost a small constant, not rescale with the
    // 95k-row parse+write (generous 4x guard over typical ~50x)
    require(volIngest2Sec < volIngest1Sec / 4.0,
      f"ledger-skip rerun not sub-linear: $volIngest2Sec%.2f s vs " +
        f"first $volIngest1Sec%.2f s")
    spark.stop()
  }
}
