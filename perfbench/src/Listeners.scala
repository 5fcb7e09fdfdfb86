package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Listener counters of the traced run, registered from the benchmark's
  * files on the shipping session. Jobs count only while the submitting
  * thread carries [[Listeners.TracedKey]] = "1" (a traced operation of
  * the timed region); file-writing SQL executions are kept with their
  * times and write metrics so they can be attributed to the benchmark
  * span that issued them. */
final class Listeners extends SparkListener {
  private val tracedStages = ConcurrentHashMap.newKeySet[Int]()
  private val stageMaxTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val c = Seq("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
    "shuffle_read", "spill").map(_ -> new AtomicLong()).toMap
  private val sqlStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val sqlEnd = new ConcurrentHashMap[Long, java.lang.Long]()
  /** execution id -> (files, bytes, rows) of a file-writing command */
  private val writes = new ConcurrentHashMap[Long, (Long, Long, Long)]()
  private val events = new AtomicLong()

  def attach(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val p = Option(e.properties).flatMap(x => Option(x.getProperty(Listeners.TracedKey)))
    if (p.contains("1")) {
      c("jobs").incrementAndGet()
      e.stageIds.foreach(id => tracedStages.add(id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    if (tracedStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      c("tasks").incrementAndGet()
      c("run_ms").addAndGet(m.executorRunTime)
      c("cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      stageMaxTaskMs.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet(); sqlStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      sqlEnd.put(s.executionId, s.time)
      // the event's query execution is Spark-internal API (private[sql])
      val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
      if (qe != null) qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w }
        .foreach { w =>
          def v(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
          writes.put(s.executionId, (v("numFiles"), v("numOutputBytes"), v("numOutputRows")))
        }
    case _ =>
  }

  /** Wait until the asynchronous listener buses have gone quiet. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var waited = 0
    while (quiet < 3 && waited < 50) {
      Thread.sleep(100); waited += 1
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def toJson(tracer: Tracer): Map[String, Any] = {
    val writeSpans = writes.asScala.toSeq.sortBy(_._1).flatMap { case (id, (f, b, r)) =>
      for (s <- Option(sqlStart.get(id)); e <- Option(sqlEnd.get(id)))
        yield Seq(tracer.epochMsToS(s), tracer.epochMsToS(e), f, b, r)
    }
    val criticalMs = tracedStages.asScala.toSeq
      .flatMap(id => Option(stageMaxTaskMs.get(id))).map(_.longValue).sum
    Map(
      "spans" -> tracer.spans.toSeq.map(s => Seq(s.id, s.parent, s.name,
        tracer.nsToS(s.startNs), tracer.nsToS(s.endNs))),
      "writes" -> writeSpans,
      "core" -> Map(
        "jobs" -> c("jobs").get, "tasks" -> c("tasks").get,
        "task_run_s" -> c("run_ms").get / 1e3, "task_cpu_s" -> c("cpu_ns").get / 1e9,
        "gc_s" -> c("gc_ms").get / 1e3,
        "shuffle_write_bytes" -> c("shuffle_write").get,
        "shuffle_read_bytes" -> c("shuffle_read").get,
        "spill_bytes" -> c("spill").get, "critical_path_s" -> criticalMs / 1e3),
      "sources_input_bytes" -> TracedConnector.inputBytes)
  }
}

object Listeners {
  val TracedKey = "graftbench.traced"
}
