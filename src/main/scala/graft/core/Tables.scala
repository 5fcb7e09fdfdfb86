package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the driver test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Each accessor is a plain declarative parquet scan, so Catalyst applies
  * column pruning and filter pushdown per query — at 100 TB these become
  * partitioned catalog tables and the same plans get partition pruning
  * for free. Never cache here: caching would pin columns the query
  * doesn't need and defeat pruning.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** The driver testdata's `events.ts` is parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects; read it as raw nanos (the legacy
    * `nanosAsLong` flag, which [[GraftSession.builder]] sets for every
    * read, so no read's posture depends on query order) and convert to
    * TimestampType by integer-dividing to micros — the same truncation
    * DuckDB applies, so oracle comparisons agree to the
    * microsecond. Dispatch on the ACTUAL footer type rather than assuming:
    * a standard TIMESTAMP(MICROS) events table (e.g. anything DuckDB or
    * Spark itself wrote, like the sf1 headroom copy) reads through
    * unchanged — the engine must not require the nanos quirk. A tz-less
    * writer (DuckDB TIMESTAMP is NTZ) surfaces TIMESTAMP_NTZ, which the
    * timestamp functions downstream (`unix_micros`, range frames) reject;
    * normalize to TimestampType — the session tz is pinned UTC at every
    * entry point, so the NTZ→instant cast is exact, not wall-clock
    * guesswork. */
  def events: DataFrame = Tables.normalizeTs(t("events"))
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register all tables as temp views for spark.sql(...) entry points. */
  def registerAll(): Unit =
    names.foreach(n => t(n).createOrReplaceTempView(n))
}

object Tables {
  /** Normalize an events-shaped frame's `ts` to TimestampType regardless
    * of how the writer encoded it (see the [[Tables.events]] Scaladoc):
    * raw nanos longs (legacy nanosAsLong read of TIMESTAMP(NANOS)) are
    * integer-divided to micros, TIMESTAMP_NTZ (tz-less writers, e.g.
    * DuckDB) is cast under the pinned-UTC session tz, and TimestampType
    * passes through. Shared by the batch reader and the streaming specs
    * so both paths dispatch identically on the actual schema. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
}
