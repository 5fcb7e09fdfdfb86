package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Plan-capture tool for the optimization rounds: writes
  * `.explain("formatted")` output for each named registry query to
  * `<outDir>/<name>.txt` — the before/after plan evidence the round
  * deliverables require. Runs under the SAME session as Bench
  * ([[graft.core.GraftSession]], local[$SPARK_GRAFT_CPUS]) so the
  * captured plan is the one the bench actually executes. Plan-only: no
  * query is executed (AQE plans print `isFinalPlan=false`; the shape —
  * Exchange count, join strategy, PushedFilters, ReadSchema — is what the
  * capture is for).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [query ...]
  * (no names = every registry query). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/$n.txt"), txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $outDir/$n.txt")
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
