package graft

import graft.core.GraftSession

/** The test session runs the shipping posture: the same factory Bench,
  * Verify and the benchmark build their sessions with. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the GraftSession confs") {
    val expected = Map(
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
      "spark.sql.shuffle.partitions" -> "4")
    expected.foreach { case (k, v) =>
      assert(spark.conf.get(k).equalsIgnoreCase(v), s"$k = ${spark.conf.get(k)}")
    }
  }

  test("SPARK_GRAFT_CPUS: a positive integer as given, unset = available processors, else fail fast") {
    assert(GraftSession.parseCpus(Some("8")) === 8)
    assert(GraftSession.parseCpus(Some("1")) === 1)
    assert(GraftSession.parseCpus(None) === Runtime.getRuntime.availableProcessors)
    for (bad <- Seq("*", "0", "-4", "", " 8", "8x", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
