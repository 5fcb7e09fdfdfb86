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

  /** Spark jobs that `body` starts on this thread, counted once the
    * listener bus has delivered every event. */
  def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    started.get
  }
}
