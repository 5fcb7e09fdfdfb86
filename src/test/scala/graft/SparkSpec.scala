package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork —
  * a single session keeps the suite fast), built by the shipping
  * [[graft.core.GraftSession]] factory so the specs run its confs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
