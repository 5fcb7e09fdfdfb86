package graft

import graft.core.Tables

/** t1-style smoke: every driver test table is readable and non-empty at
  * sf0.001, the view registry works, and the flagship entry returns rows. */
class SmokeSpec extends SparkSpec {

  test("all 10 test tables read and are non-empty") {
    val t = Tables(spark, TestSpark.sfDir)
    val counts = Map(
      "region" -> t.region.count(), "nation" -> t.nation.count(),
      "customer" -> t.customer.count(), "supplier" -> t.supplier.count(),
      "part" -> t.part.count(), "orders" -> t.orders.count(),
      "lineitem" -> t.lineitem.count(), "events" -> t.events.count(),
      "documents" -> t.documents.count(), "embeddings" -> t.embeddings.count())
    counts.foreach { case (n, c) => assert(c > 0, s"$n is empty") }
    assert(counts("lineitem") > counts("orders"))
  }

  test("registerAll exposes every table to spark.sql") {
    Tables(spark, TestSpark.sfDir).registerAll()
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
    assert(spark.sql(
      """SELECT count(*) FROM orders o JOIN customer c
        |ON o.o_custkey = c.c_custkey""".stripMargin).head().getLong(0) > 0)
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query has a distinct name; oracles reference only real queries") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a throwing dynamic-oracle builder yields a loud sentinel, not a silent drop") {
    val boom = graft.queries.Q("fake_dyn", (_, _) => spark.emptyDataFrame,
      None, oracleFor = Some((_, _) =>
        throw new IllegalStateException("codebook fit failed\nsecond line")))
    val ok = graft.queries.Q("fake_ok", (_, _) => spark.emptyDataFrame,
      None, oracleFor = Some((_, _) => "SELECT 1 AS one"))
    val out = SparkEntry.dynamicOracleSqlFor(Seq(boom, ok), spark, "/nope")
    assert(out("fake_ok") === "SELECT 1 AS one")
    // the sentinel is valid SQL naming the failure — it runs in DuckDB and
    // can never hash-match the real result, so the driver records a FAIL
    assert(out("fake_dyn").startsWith("SELECT 'dynamic oracle builder failed"))
    assert(out("fake_dyn").contains("IllegalStateException"))
    assert(out("fake_dyn").contains("codebook fit failed second line"))
    assert(!out("fake_dyn").contains("\n"))
    // only NonFatal failures become the sentinel: an interrupt propagates
    val interrupted = graft.queries.Q("fake_int", (_, _) => spark.emptyDataFrame,
      None, oracleFor = Some((_, _) => throw new InterruptedException("cancelled")))
    intercept[InterruptedException](
      SparkEntry.dynamicOracleSqlFor(Seq(ok, interrupted), spark, "/nope"))
  }
}
