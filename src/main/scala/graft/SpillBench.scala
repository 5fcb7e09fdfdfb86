package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.core.GraftSession

/** Memory-pressure evidence: runs the heaviest registry queries under a
  * DELIBERATELY constrained heap and reports whether the hash-agg / sort
  * / join paths spilled and completed, instead of OOMing. At 100 TB data
  * ≫ memory on every executor, always — graceful spill is the property
  * a plan must have, and `local[32]` with a roomy 8 GiB heap never
  * demonstrates it. Drive with e.g.:
  *
  *   SPARK_DRIVER_MEM=4g SPARK_GRAFT_SF_DIR=target/sf1 \
  *     sbt "runMain graft.SpillBench"
  *
  * (SPARK_DRIVER_MEM sets the forked JVM's -Xmx; 4g against the 10×
  * sf1 data is the intended squeeze.) Prints one JSON line per query:
  * wall seconds, spill bytes (in-memory + disk), peak single-task
  * execution memory, and task counts — the table NOTES_r8 records. */
object SpillBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "pipeline_training_corpus", "pipeline_semdedup_embeddings",
      "dedup_cluster_sizes", "dedup_keep_best_quality",
      "dedup_containment_bottomk")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-query accumulation via a listener: task metrics are the same
    // numbers the Spark UI's stage page shows
    val lock = new Object
    var memSpill = 0L; var diskSpill = 0L; var peakExec = 0L
    var tasks = 0L; var shuffleWrite = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) lock.synchronized {
          memSpill += m.memoryBytesSpilled
          diskSpill += m.diskBytesSpilled
          peakExec = math.max(peakExec, m.peakExecutionMemory)
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          tasks += 1
        }
      }
      // GRAFT_STAGE_DETAIL=1: one line per spilling stage, with the stage
      // name — locates WHICH operator pays the spill
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (sys.env.contains("GRAFT_STAGE_DETAIL")) {
          val m = s.stageInfo.taskMetrics
          if (m != null && (m.memoryBytesSpilled > 0 || m.diskBytesSpilled > 0))
            System.err.println(f"[stage ${s.stageInfo.stageId}%4d] " +
              f"spill mem=${m.memoryBytesSpilled / 1048576.0}%9.1f MB " +
              f"disk=${m.diskBytesSpilled / 1048576.0}%7.1f MB  " +
              s.stageInfo.name.linesIterator.next().take(120))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val mb = 1024.0 * 1024.0
    names.foreach { n =>
      lock.synchronized { memSpill = 0; diskSpill = 0; peakExec = 0
        tasks = 0; shuffleWrite = 0 }
      val t0 = System.nanoTime()
      val outcome =
        try { SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); "ok" }
        catch { case e: Throwable =>
          s"FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next().take(120)}" }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // drain queued listener events so this query's metrics don't bleed
      // into the next query's window
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
      lock.synchronized {
        println(f"""{"query":"$n","outcome":"$outcome","wall_sec":$wall%.2f,""" +
          f""""mem_spill_mb":${memSpill / mb}%.1f,"disk_spill_mb":${diskSpill / mb}%.1f,""" +
          f""""peak_task_exec_mb":${peakExec / mb}%.1f,"shuffle_write_mb":${shuffleWrite / mb}%.1f,""" +
          s""""tasks":$tasks,"xmx":"${Runtime.getRuntime.maxMemory / (1024 * 1024)}m","sf":"$sfDir"}""")
      }
    }
    spark.stop()
  }
}
