package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine — every session graft builds (the
  * mains, the test suite, the benchmark) starts here, so what ships, what
  * is oracle-checked and what is benchmarked run one posture.
  *
  * Scale posture (SURVEY.md §4): AQE on (runtime coalesce + skew-join
  * handling), dynamic partition overwrite (idempotent per-partition
  * backfill — the reference's `replace=True` semantics,
  * dags/common/s3_utils.py:7-14), UTC session timezone (oracle parity).
  * `shuffle.partitions` defaults to the local core count; on a real
  * cluster this is overridden to ~2-3× total executor cores and AQE
  * coalesces down.
  *
  * `spark.sql.codegen.cache.maxEntries` is static and JVM-wide: Spark's
  * generated-class cache is sized once, when `CodeGenerator` first
  * initializes, so the value holds only when this builder makes the JVM's
  * first session — `getOrCreate` on an existing session ignores it.
  *
  * `file:` paths open through [[graft.io.NioLocalFileSystem]]: without the
  * native `libhadoop`, stock `LocalFileSystem` forks a `chmod` per
  * directory and file it creates (14 for a two-task partitioned write),
  * while NIO sets the same mode in-process. Unset, `file:` resolves
  * by classpath order to hive-exec's `ProxyLocalFileSystem`, whose only
  * change is a `rename` that returns false onto an existing file; graft
  * assumes plain `LocalFileSystem` rename (`DedupOps.publishManifest`
  * says why). Hadoop's `FileSystem.CACHE` is JVM-wide and keyed by
  * scheme, authority and user, not by conf, so like the class cache above
  * this holds only when a session from this builder creates the JVM's
  * first `file:` file system.
  *
  * Every session runs [[SmallSortInPlace]], an AQE runtime rule: a global
  * sort whose input is all materialized query stages, with no `Generate`
  * above them, and whose estimated size is at most what
  * `CoalesceShufflePartitions` folds into one partition
  * (`coalescePartitions.minPartitionSize` under `parallelismFirst`, else
  * `advisoryPartitionSizeInBytes`) sorts in place over `coalesce(1)`. Its
  * range exchange would be read back as one partition anyway, so the rule
  * drops the `RangePartitioner` sampling job and the shuffle stage and
  * keeps the one sort task. It reads only AQE's own confs.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` parsed: a positive integer as given, the JVM's
    * available processors when unset; anything else fails fast — the value
    * lands in `local[n]`, `shuffle.partitions`, Bench's JSON line and its
    * artifact name, none of which may carry garbage. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The local thread and shuffle-partition count (`SPARK_GRAFT_CPUS`). */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // zstd beats snappy ~30% at-rest at comparable scan speed — at
      // 100 TB that is tens of TB of storage and proportional scan IO;
      // decode cost is amortized inside the columnar reader
      .config("spark.sql.parquet.compression.codec", "zstd")
      // selective-join runtime bloom prefilter (the engine-level twin of
      // DedupOps.bloomDeltaNew) — plan-asserted in PlanQualitySpec
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // a registry sweep needs ~2,900 generated classes, which the default
      // 100 recompiled every pass; 4096 holds them (metaspace 219 vs 223 MB)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // events.ts of the TESTDATA.md tables is TIMESTAMP(NANOS); read it as
      // raw nanos longs in every read (Tables.normalizeTs converts them)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // every local write sets its modes through NIO, not a forked chmod
      .config("spark.hadoop.fs.file.impl", "graft.io.NioLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .withExtensions(_.injectRuntimeOptimizerRule(_ => SmallSortInPlace))
}
