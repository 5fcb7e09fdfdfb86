package graft
import org.apache.spark.sql.SparkSession

/** Distributed-correctness leg: runs a set of registry queries on a REAL
  * multi-executor master (`local-cluster[2,2,2048]` — 2 separate executor
  * JVMs, 2 cores each) and asserts bit-equality against the same queries
  * on in-process `local[*]`. One JVM (`local[32]`, where everything else
  * runs) never exercises Aggregator buffer serialization across the wire,
  * broadcast transport, or codegen classloading in an isolated executor —
  * this main is the cheapest real-cluster datum the sandbox allows.
  *
  * The default query list pins every custom-serialization surface:
  * TopK/CMS/Bloom `Aggregator`s (kryo/java buffer round-trips), the
  * codegen'd kernels (DHash64, Int8RoundTrip via sim_quantized_topk,
  * the 64-bit simhash + bucketedPairs grid), pointer-jumping CC with
  * lineage cuts (localCheckpoint on real executors), and a windowed
  * streaming-family batch twin.
  *
  * Equality is over the canonicalized result: sorted `toJSON` lines,
  * md5-folded — textual JSON makes double bit-inequality visible.
  * Prints one table line per query and exits nonzero on any mismatch.
  * Usage: `SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterParity [query...]"`
  * (SPARK_GRAFT_SF_DIR selects the data, default sf0.01). Against a binary
  * Spark distribution the variable is required: without it Spark's
  * launcher looks for `launcher/target/scala-*` under `SPARK_HOME` and
  * every executor fails with "Cannot find any build directories". The
  * workers write executor logs under `SPARK_HOME/work`. */
object ClusterParity {
  val defaultQueries: Seq[String] = Seq(
    "sim_topk_aggregator",    // custom TopK Aggregator
    "stats_heavy_hitters",    // CMS Aggregator
    "dedup_bloom_delta",      // Bloom Aggregator
    "multimodal_phash_neardup", // DHash64 codegen kernel + band sharding
    "sim_quantized_topk",     // Int8RoundTrip kernel
    "dedup_simhash",          // 64-bit simhash + bucketedPairs grid
    "dedup_cluster_sizes",    // connected components + lineage cuts
    "events_tumbling_hourly", // streaming-family windowed agg (batch twin)
    "sim_lsh_rp",             // RpSignature codegen kernel
    "dedup_containment_verified", // SortedLongOverlapCount + OptimizerBarrier
    "text_quality_score",     // StringSetCount codegen kernel
    "dedup_minhash_delta_stored", // stored banded index: executor-side write+pruned read
    "stats_correlation",      // full int128 family: Sum128 + SumSq128 +
                              // SumProd128 partial-merge carries across
                              // executors in ONE aggregate
    "gold_sharpe_ratio",      // SumSq128 over per-user groups (the
                              // >2^63-per-row-square domain) + window lag
    "streaming_funnel_fsm")   // REAL flatMapGroupsWithState run (below)

  /** The one non-registry entry: an actual Structured Streaming run of
    * the funnel FSM (`StreamingOps.funnelProgress`) — custom case-class
    * state (`FunnelState`) and output encoders must round-trip through
    * the state store and executor boundary, which no batch query
    * exercises. File source over a staged events dir, AvailableNow,
    * memory sink. */
  private def streamingFunnel(spark: SparkSession, sfDir: String): Array[String] = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("graft-cp-funnel")
    // dir-aware staging (sf dirs may hold single-file OR directory
    // parquet), and the stage is deleted after the run — two legs per
    // main() would otherwise leak a copy of events each
    copyRecursive(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stage.resolve("events.parquet"))
    try streamingFunnelOn(spark, stage.toString)
    finally deleteRecursive(stage)
  }

  private def copyRecursive(src: java.nio.file.Path,
                            dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  private def deleteRecursive(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def streamingFunnelOn(spark: SparkSession,
                                stageDir: String): Array[String] = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    val stage = java.nio.file.Paths.get(stageDir)
    val schema = spark.read.parquet(stage.toString).schema
    val streamed = graft.core.Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(stage.toString))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[graft.streaming.StreamingOps.Event]
    val qn = s"cp_funnel_${System.nanoTime()}"
    val q = graft.streaming.StreamingOps
      .funnelProgress(streamed, Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(qn).toJSON.collect()
  }

  private def fingerprint(spark: SparkSession, sfDir: String,
                          name: String): (Long, String) = {
    val rows = (if (name == "streaming_funnel_fsm") streamingFunnel(spark, sfDir)
      else SparkEntry.queries(name)(spark, sfDir).toJSON.collect()).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def runLeg(master: String, names: Seq[String], sfDir: String,
                     extra: Map[String, String]): Map[String, (Long, String)] = {
    val b = graft.core.GraftSession.builder(master, 8)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = names.map(n => n -> fingerprint(spark, sfDir, n)).toMap
      // the cluster leg must have actually run on remote executors — a
      // silent fallback to in-process execution would make the whole
      // parity check vacuous. getExecutorMemoryStatus lists driver +
      // registered executor block managers.
      if (master.startsWith("local-cluster")) {
        val n = spark.sparkContext.getExecutorMemoryStatus.size
        require(n >= 3, s"expected 2 remote executors + driver, saw $n " +
          "block managers — the cluster leg did not run distributed")
      }
      out
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else defaultQueries
    // executors are forked JVMs: they need the application classes (this
    // repo's target dirs) and the Spark jars on their own classpath
    val cp = sys.props("java.class.path")
    val cluster = runLeg("local-cluster[2,2,2048]", names, sfDir, Map(
      "spark.executor.extraClassPath" -> cp,
      "spark.driver.extraClassPath" -> cp))
    val local = runLeg("local[8]", names, sfDir, Map.empty)
    var bad = 0
    println(f"${"query"}%-28s ${"rows"}%6s  ${"local[8]"}%-32s ${"local-cluster[2,2]"}%-32s verdict")
    names.foreach { n =>
      val (lr, lh) = local(n)
      val (cr, ch) = cluster(n)
      val ok = lr == cr && lh == ch
      if (!ok) bad += 1
      println(f"$n%-28s $lr%6d  $lh%-32s $ch%-32s ${if (ok) "IDENTICAL" else "MISMATCH"}")
    }
    if (bad > 0) { System.err.println(s"$bad parity mismatches"); sys.exit(1) }
  }
}
