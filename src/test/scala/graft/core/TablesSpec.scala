package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType, TimestampType}

import graft.{SparkSpec, TestSpark}

/** [[Tables.parquet]]: an open runs no Spark job once the session knows
  * the table's schema, and a table rewritten in place is seen as it is
  * now. Job counts, unlike wall time, are deterministic. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def opens(t: Tables): Seq[(String, () => DataFrame)] = Seq(
    "region" -> (() => t.region), "nation" -> (() => t.nation),
    "customer" -> (() => t.customer), "supplier" -> (() => t.supplier),
    "part" -> (() => t.part), "orders" -> (() => t.orders),
    "lineitem" -> (() => t.lineitem), "events" -> (() => t.events),
    "documents" -> (() => t.documents), "embeddings" -> (() => t.embeddings))

  test("opening each TESTDATA table a second time runs no Spark job") {
    val t = Tables(spark, TestSpark.sfDir)
    assert(opens(t).map(_._1) === t.names)
    opens(t).foreach(_._2())
    val again = opens(t).map { case (n, open) => n -> jobsIn(open()) }
    assert(again.forall(_._2 == 0), s"Spark jobs per second open: $again")
    // the first open of a path the session has not seen infers (one job)
    val copy = Files.createTempDirectory("graft-tables").resolve("region.parquet").toString
    t.region.write.parquet(copy)
    assert(jobsIn(Tables.parquet(spark, copy)) === 1)
    assert(jobsIn(Tables.parquet(spark, copy)) === 0)
  }

  test("concurrent first opens of one path run one inference job") {
    val path = Files.createTempDirectory("graft-tables").resolve("nation.parquet").toString
    Tables(spark, TestSpark.sfDir).nation.write.parquet(path)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val schemas = new java.util.concurrent.ConcurrentLinkedQueue[StructType]
    val jobs = jobsIn {
      // threads made here inherit the job group jobsIn set
      val openers = (1 to 4).map { _ =>
        val th = new Thread(() => {
          gate.await()
          schemas.add(Tables.parquet(spark, path).schema)
        })
        th.start()
        th
      }
      gate.countDown()
      openers.foreach(_.join())
    }
    assert(schemas.size === 4)
    assert(schemas.asScala.toSet === Set(spark.read.parquet(path).schema))
    assert(jobs === 1, s"$jobs inference jobs for 4 concurrent first opens")
  }

  test("a table overwritten in place with a new schema is opened as it is now") {
    val path = Files.createTempDirectory("graft-tables").resolve("t.parquet").toString
    Seq(1, 2, 3).toDF("a").write.parquet(path)
    val before = Tables.parquet(spark, path)
    assert(before.schema === StructType(Seq(StructField("a", IntegerType))))
    assert(before.as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    Seq(("x", 10), ("y", 20)).toDF("a", "b").write.mode("overwrite").parquet(path)
    val after = Tables.parquet(spark, path)
    assert(after.schema === StructType(Seq(
      StructField("a", StringType), StructField("b", IntegerType))))
    assert(after.as[(String, Int)].collect().sorted.toSeq === Seq(("x", 10), ("y", 20)))
  }

  test("NANOS and Spark-written MICROS events, opened in one session, read " +
       "as the same TimestampType values") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> 1700000060000000999L,
      3L -> 1700003600987654000L)
    val nanosDir = Files.createTempDirectory("graft-tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
        nanosDir.resolve("events.parquet").resolve("part-0.parquet").toString))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.foreach { case (u, ts) =>
      writer.write(groups.newGroup().append("user_id", u).append("ts", ts))
    } finally writer.close()
    val nanosEvents = Tables(spark, nanosDir.toString)
    assert(Tables.parquet(spark, s"$nanosDir/events.parquet").schema("ts").dataType === LongType)

    val microsDir = Files.createTempDirectory("graft-tables-micros").toString
    val outputType = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(outputType)
    spark.conf.set(outputType, "TIMESTAMP_MICROS")
    try nanosEvents.events.write.parquet(s"$microsDir/events.parquet")
    finally prior.fold(spark.conf.unset(outputType))(spark.conf.set(outputType, _))
    val listing = Files.list(Paths.get(s"$microsDir/events.parquet"))
    val written = try listing.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally listing.close()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(written.toString), spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    assert(footer.getFileMetaData.getSchema.getFields.asScala
      .find(_.getName == "ts").get.toString.contains("TIMESTAMP(MICROS"))

    val read = Seq(nanosEvents, Tables(spark, microsDir)).map { t =>
      val e = t.events
      assert(e.schema("ts").dataType === TimestampType)
      e.select(col("user_id"), unix_micros(col("ts"))).as[(Long, Long)]
        .collect().sorted.toSeq
    }
    assert(read.head === nanos.map { case (u, ns) => (u, ns / 1000) })
    assert(read(1) === read.head)
  }
}
