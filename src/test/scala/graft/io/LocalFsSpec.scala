package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.core.Tables

/** [[NioLocalFileSystem]]: the session's `file:` file system writes
  * without starting a process, and leaves the modes stock Hadoop leaves.
  * Process counts, unlike wall time, are deterministic. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val local = URI.create("file:///")

  /** The commands of the processes this JVM starts while `body` runs, from
    * an in-process JFR recording of `jdk.ProcessStart`. */
  private def processesIn(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("the session opens file: paths through NioLocalFileSystem") {
    val fs = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
  }

  test("a bronze write and a warm table open start no process") {
    val root = Files.createTempDirectory("graft-localfs").toString
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val bronze = s"$root/bronze/src"
    Writers.writeForDate(df, bronze, "2024-01-02")
    val table = s"$root/silver/src"
    Writers.writeSilver(df, table)
    Tables.parquet(spark, table) // infers: the next open is warm
    val started = processesIn {
      assert(Writers.writeForDate(df, bronze, "2024-01-03") === 2L)
      assert(Tables.parquet(spark, table).count() === 2L)
    }
    assert(started.size === 0, s"first: ${started.take(3)}")
  }

  test("files and directories get the modes stock LocalFileSystem gives them") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val stock = FileSystem.newInstance(local, conf)
    assert(stock.getClass === classOf[LocalFileSystem])
    val nio = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)

    /** Octal mode (with the sticky bit) of everything `fs` leaves under a
      * fresh directory after one fixed series of calls. */
    def modes(fs: FileSystem): Map[String, String] = {
      val root = Files.createTempDirectory("graft-localfs")
      val base = new Path(root.toUri)
      fs.mkdirs(new Path(base, "d/e"))
      fs.mkdirs(new Path(base, "private"), new FsPermission("700"))
      // mkdirs drops a sticky bit with the umask; only setPermission keeps it
      fs.mkdirs(new Path(base, "tmp"))
      fs.setPermission(new Path(base, "tmp"), new FsPermission("1777"))
      val out = fs.create(new Path(base, "d/e/part-0"))
      try out.write(1) finally out.close()
      val explicit = new Path(base, "d/explicit")
      fs.create(explicit).close()
      fs.setPermission(explicit, new FsPermission("640"))
      Files.walk(root).iterator.asScala.filter(_ != root).map { p: JPath =>
        root.relativize(p).toString ->
          f"${Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff}%04o"
      }.toMap
    }

    try {
      val want = modes(stock)
      assert(want.contains("d/e/.part-0.crc") && want("d/explicit") === "0640",
        s"stock modes: $want")
      assert(want("tmp") === "1777", s"stock modes: $want")
      assert(modes(nio) === want)
    } finally stock.close()
  }
}
