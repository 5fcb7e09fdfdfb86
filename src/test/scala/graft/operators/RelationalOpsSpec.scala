package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("conform: projection + cast + rename (F1)") {
    val df = Seq(("1", "2024-01-02", "x")).toDF("code", "issue_date", "junk")
    val out = RelationalOps.conform(df,
      keep = Seq("code", "issue_date"),
      casts = Map("issue_date" -> "date"),
      renames = Map("code" -> "item_code"))
    assert(out.columns.toSeq === Seq("item_code", "issue_date"))
    assert(out.schema("issue_date").dataType.typeName === "date")
    assert(out.head().getDate(1).toString === "2024-01-02")
  }

  test("unpivot round-trips with pivot (F4)") {
    val wide = Seq((1, 10.0, 20.0), (2, 30.0, 40.0)).toDF("id", "a", "b")
    val long = RelationalOps.unpivotWide(wide, Seq("id"), Seq("a", "b"), "k", "v")
    assert(long.count() === 4)
    val back = long.groupBy("id").pivot("k", Seq("a", "b")).agg(first("v"))
    assert(back.orderBy("id").collect().toSeq ===
      wide.orderBy("id").collect().toSeq)
  }

  test("missingKeys finds unfetched tickers (F5)") {
    val requested = Seq("AAA", "BBB", "CCC").toDF("ticker")
    val fetched = Seq("AAA").toDF("ticker")
    val missing = RelationalOps.missingKeys(requested, fetched, Seq("ticker"))
      .as[String].collect().sorted
    assert(missing === Array("BBB", "CCC"))
  }

  test("maturesIn slices years from bond key (F8)") {
    val out = Seq("Corp_bond_2010-2034").toDF("k")
      .select(RelationalOps.maturesIn($"k")).as[Int].head()
    assert(out === 24)
  }

  test("bucketByCodeLength buckets GICS codes (F11)") {
    val out = Seq("10", "1010", "101010", "10101010", "abc").toDF("c")
      .select(RelationalOps.bucketByCodeLength($"c")).as[String].collect()
    assert(out === Array("sector", "industry_group", "industry", "sub_industry", "unknown"))
  }

  test("zeroFill completes the grid (F13)") {
    val expected = Seq(("d1", "A"), ("d1", "B"), ("d2", "A")).toDF("d", "s")
    val actual = Seq(("d1", "A", 5.0)).toDF("d", "s", "v")
    val out = RelationalOps.zeroFill(expected, actual, Seq("d", "s"), Seq("v"))
    assert(out.count() === 3)
    assert(out.filter($"d" === "d2" && $"s" === "A").select($"v").as[Double].head() === 0.0)
  }

  test("normalizeKey snake-cases scraped headers (F14)") {
    val out = Seq("  Issue Date ").toDF("k")
      .select(RelationalOps.normalizeKey($"k")).as[String].head()
    assert(out === "issue_date")
  }

  test("withYmd derives partition key from ISO timestamp string (F9)") {
    val out = RelationalOps.withYmd(
      Seq("2024-03-05T10:00:00").toDF("ts"), "ts")
      .select($"ymd").as[String].head()
    assert(out === "2024-03-05")
  }

  test("mergeIntervals: nested + touching merge, gaps split (running-max semantics)") {
    val iv = Seq(
      (1L, 1L, 10L, 1L),   // island 0: [1,10]
      (1L, 2L, 3L, 2L),    //   nested inside [1,10] — lag(end) logic would
      (1L, 4L, 12L, 3L),   //   split here (4 > 3); running max (10) merges
      (1L, 12L, 15L, 4L),  //   touching (12 == max end) — merges
      (1L, 20L, 25L, 5L),  // island 1: gap (20 > 15)
      (2L, 1L, 2L, 6L)     // other key
    ).toDF("k", "s", "e", "id")
    val out = RangeJoinOps.mergeIntervals(iv, "k", "s", "e", "id")
      .orderBy($"k", $"island")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out === Seq(
      (1L, 1L, 1L, 15L, 4L),
      (1L, 2L, 20L, 25L, 1L),
      (2L, 1L, 1L, 2L, 1L)))
  }

  test("scd2 collapses runs, half-open intervals, null-safe attr compare") {
    val log = Seq(
      (1L, 10L, 1L, Option("a")), // change -> [10, 20)
      (1L, 15L, 2L, Option("a")), // same run, collapsed
      (1L, 20L, 3L, Option("b")), // change -> [20, 30)
      (1L, 30L, 4L, None),        // change to NULL -> [30, 40)
      (1L, 35L, 5L, None),        // same NULL run, collapsed (null-safe)
      (1L, 40L, 6L, Option("b")), // b again -> current [40, null)
      (2L, 10L, 7L, Option("x"))  // other key: independent, current
    ).toDF("k", "t", "id", "attr")
    val out = RelationalOps.scd2(log, "k", "t", "id", Seq("attr"))
      .select($"k", $"t", $"attr", $"effective_to", $"is_current")
      .orderBy($"k", $"t")
      .as[(Long, Long, Option[String], Option[Long], Boolean)].collect()
    assert(out === Seq(
      (1L, 10L, Some("a"), Some(20L), false),
      (1L, 20L, Some("b"), Some(30L), false),
      (1L, 30L, None, Some(40L), false),
      (1L, 40L, Some("b"), None, true),
      (2L, 10L, Some("x"), None, true)))
  }

  test("diffByKey: added/removed/changed with null-safe column lists") {
    val a = Seq(
      (1L, Option("x"), Option(10.0)), // unchanged → dropped
      (2L, Option("x"), Option(10.0)), // price changes
      (3L, None, Option(10.0)),        // null → value: changed
      (4L, Option("x"), None),         // removed
      (5L, None, None)                 // both null both sides → unchanged
    ).toDF("k", "s", "p")
    val b = Seq(
      (1L, Option("x"), Option(10.0)),
      (2L, Option("x"), Option(11.0)),
      (3L, Option("y"), Option(10.0)),
      (5L, None, None),
      (6L, Option("z"), Option(1.0))   // added
    ).toDF("k", "s", "p")
    val out = RelationalOps.diffByKey(a, b, Seq("k"), Seq("s", "p"))
      .orderBy($"k")
      .select($"k", $"change_type", $"changed_cols")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(out === Seq(
      (2L, "changed", Some("p")),
      (3L, "changed", Some("s")),
      (4L, "removed", None),
      (6L, "added", None)))
  }

  test("applyCdc: last writer wins, tombstones drop, later insert resurrects") {
    val log = Seq(
      (1L, 1L, 1L, "I", 10.0), (1L, 2L, 2L, "U", 11.0),   // live, v=11
      (2L, 1L, 3L, "I", 20.0), (2L, 2L, 4L, "D", 0.0),    // tombstoned
      (3L, 1L, 5L, "D", 0.0), (3L, 2L, 6L, "I", 30.0),    // resurrected
      (4L, 5L, 7L, "U", 40.0), (4L, 5L, 8L, "U", 41.0)    // tie -> higher seq
    ).toDF("k", "ts", "seq", "op", "v")
    val out = RelationalOps.applyCdc(log, "k", "ts", "seq", "op")
      .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 11.0, 3L -> 30.0, 4L -> 41.0))
  }

  test("conformWithQuarantine: clean, cast-fail, null-required, multi-reason") {
    val raw = Seq(
      ("1", "9.50", "2024-01-01"),          // clean
      ("2", "N/A", "2024-01-02"),           // price cast fails
      ("3", "7.25", null),                  // required date missing
      ("4", "bad", null)                    // both reasons, fixed order
    ).toDF("k", "price", "d")
    val out = RelationalOps.conformWithQuarantine(raw,
        keep = Seq("k", "price", "d"),
        casts = Map("k" -> "bigint", "price" -> "double", "d" -> "date"),
        required = Seq("d"))
      .orderBy($"k")
      .select($"k", $"is_valid", $"reject_reasons")
      .as[(Long, Boolean, String)].collect().toSeq
    assert(out === Seq(
      (1L, true, ""),
      (2L, false, "cast_failed:price"),
      (3L, false, "null:d"),
      (4L, false, "cast_failed:price,null:d")))
  }
}
