package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver test tables, with a DuckDB oracle twin
  * where the semantics are SQL-expressible (engine-specific hash/sketch
  * ops get the weaker rows-only check instead).
  */
object SparkEntry {

  /** The full query registry, grouped by SURVEY.md §2 plane. */
  def registry: Seq[Q] =
    RelationalQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      VectorQueries.all ++ EventQueries.all ++ ExtQueries.all ++
      GoldQueries.all ++ StatsQueries.all ++ HygieneQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "q5_region_revenue").get
      .run(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Data-dependent oracle twins (see [[graft.queries.Q.oracleFor]]):
    * SQL that embeds values derived from the data dir — e.g. the seeded
    * PQ codebooks as literal tables. Verify merges these into its
    * oracle_sql.json dump so the driver compares them like any other.
    *
    * A builder that throws (bad embeddings dir, failed codebook fit) must
    * NOT silently drop its query from the compare — that would degrade
    * verification coverage with no artifact-visible signal. Instead the
    * failure becomes a sentinel oracle: a SELECT whose single
    * `dynamic_oracle_error` column can never match the real result, so
    * the driver's correctness artifact records a loud FAIL naming the
    * query, with the builder's exception in the row itself. Fatal errors
    * and interrupts are not a builder's failure: they propagate. */
  def dynamicOracleSql(spark: SparkSession, dir: String): Map[String, String] =
    dynamicOracleSqlFor(registry, spark, dir)

  private[graft] def dynamicOracleSqlFor(qs: Seq[Q], spark: SparkSession,
                                         dir: String): Map[String, String] =
    qs.flatMap(q => q.oracleFor.map { f =>
      q.name -> (try f(spark, dir) catch {
        case NonFatal(e) =>
          val msg = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").linesIterator.mkString(" "))
            .take(300).replace("'", "''")
          s"SELECT 'dynamic oracle builder failed — $msg' AS dynamic_oracle_error"
      })
    }).toMap

  /** Verification-gate queries (in-plan invariant checks): Bench reports
    * their cost in a separate subtotal — the deployed total should
    * reflect deployed paths, not deliberate brute-force identity gates. */
  def gateNames: Set[String] = registry.filter(_.gate).map(_.name).toSet
}
