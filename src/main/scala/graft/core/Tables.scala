package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Accessors for the driver test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Each accessor is a plain declarative parquet scan, so Catalyst applies
  * column pruning and filter pushdown per query — at 100 TB these become
  * partitioned catalog tables and the same plans get partition pruning
  * for free. Never cache here: caching would pin columns the query
  * doesn't need and defeat pruning. Every scan goes through
  * [[Tables.parquet]], so opening a table runs no Spark job once its
  * schema is known to the session.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

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
  /** Leaf files under a path: (path, length, modification time), sorted. */
  private type FileState = Seq[(String, Long, Long)]

  /** The schema of one path at one file state, inferred on first use.
    * Inference locks only this entry, so concurrent opens of one path run
    * one inference job and opens of other paths never wait for it. It
    * holds no session: a value that did would keep its weak key alive. */
  private final class Inferred(val state: FileState) {
    private var known: StructType = null
    def schema(spark: SparkSession, path: String): StructType = synchronized {
      if (known == null) known = spark.read.parquet(path).schema
      known
    }
  }

  /** Inferred schemas per session, then per path. Sessions are weak keys
    * compared by identity (as in `IngestJob.decisions`): inference reads
    * session confs such as `nanosAsLong`, so one session's answer is not
    * another's. */
  private val inferred = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Inferred]]())

  /** Walked with `getFileStatus`/`listStatus`, not `listFiles`: its
    * `LocatedFileStatus` reads each file's owner and permissions, which
    * without `libhadoop` forks an `ls -ld` per leaf file (Spark's own
    * listing builds that status with null permissions for the same
    * reason). */
  private def fileState(spark: SparkSession, path: String): FileState = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    def walk(f: FileStatus): Unit =
      if (f.isDirectory) fs.listStatus(f.getPath).foreach(walk)
      else files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    walk(fs.getFileStatus(p))
    files.result().sorted
  }

  /** A parquet scan of `path` with its schema given, so opening it runs no
    * Spark job. The schema Spark infers from the footers (one job) is
    * memoized per session under the path and the sorted (path, length,
    * modification time) of every leaf file beneath it. Any rewrite, append
    * or deletion changes that state, and the next open infers again, so
    * the memo never serves a stale schema; the check costs one file
    * listing per open. Only the schema is kept: data is never cached, so
    * pruning and pushdown are those of a plain read. Concurrent opens of
    * one path infer once. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val state = fileState(spark, path)
    val memo = inferred
      .computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    val known = memo.get(path) // a warm open skips compute and its bin lock
    val entry =
      if (known != null && known.state == state) known
      else memo.compute(path, (_, cur) =>
        if (cur != null && cur.state == state) cur
        else new Inferred(state))
    spark.read.schema(entry.schema(spark, path)).parquet(path)
  }

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
