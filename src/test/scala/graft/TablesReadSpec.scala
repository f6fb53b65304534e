package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The testdata read path of [[Tables]]: a single parquet file's schema
  * is inferred once per (file fingerprint, parquet read settings), so a
  * repeated read plans without a Spark job, a regenerated file or a
  * changed setting is re-inferred, and the scan spread fires only for a
  * file of at least 128 KB. */
class TablesReadSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"

  /** Runs `body` with the session setting `key` at `value`, then puts
    * the setting back: the session is shared by every suite. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Writes `df` as ONE parquet file at `<dir>/<name>.parquet`, replacing
    * whatever file is there (a Spark write yields a directory). */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("tables-read-out")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = tmp.resolve("out").toFile.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Path.of(dir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  private def scratch(): String =
    Files.createTempDirectory("tables-read").toString

  private def spreadWidths(df: DataFrame): Seq[Int] =
    "RoundRobinPartitioning\\((\\d+)\\)".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1).toInt).toSeq

  test("a repeated read of a single-file table runs no Spark job") {
    // events first: it sets nanosAsLong, one of the memo key's settings
    Tables.events(spark, sf001)
    Tables.documents(spark, sf001)
    Tables.lineitem(spark, sf001)
    assert(jobsDuring(Tables.documents(spark, sf001)) == 0)
    assert(jobsDuring(Tables.events(spark, sf001)) == 0)
    assert(jobsDuring(Tables.lineitem(spark, sf001)) == 0)
    assert(jobsDuring(Tables.documentsSeed(spark, sf001)) == 0)
  }

  test("a single file regenerated in place is re-inferred") {
    import spark.implicits._
    val d = scratch()
    val rows = Seq((1L, 1700000000123456L), (2L, 1700000001987654L))
      .toDF("event_id", "ts_us")
    writeFile(rows.select($"event_id", lit("a").as("tag")), d, "t")
    assert(Tables.read(spark, d, "t").columns.toSeq == Seq("event_id", "tag"))
    assert(jobsDuring(Tables.read(spark, d, "t")) == 0)
    writeFile(rows.select($"event_id", lit(2.5).as("score")), d, "t")
    val regenerated = Tables.read(spark, d, "t")
    assert(regenerated.columns.toSeq == Seq("event_id", "score"))
    assert(regenerated.agg(sum("score")).head().getDouble(0) == 5.0)

    // the r10 regeneration: int64 nanos, then timestamp[us] as NTZ
    writeFile(rows.select($"event_id", ($"ts_us" * 1000).as("ts")), d, "events")
    assert(Tables.read(spark, d, "events").schema("ts").dataType == LongType)
    writeFile(rows.select($"event_id",
      timestamp_micros($"ts_us").cast(TimestampNTZType).as("ts")), d, "events")
    assert(Tables.read(spark, d, "events").schema("ts").dataType == TimestampNTZType)
    assert(Tables.events(spark, d).orderBy("event_id").select("ts").as[java.sql.Timestamp]
      .collect().map(_.getTime).toSeq == Seq(1700000000123L, 1700000001987L))
  }

  /** Writes one row group of `ts` values as the parquet file
    * `<dir>/<name>.parquet` with the column type `tsType` and no Spark
    * schema in its metadata: nothing but the session's read settings
    * decides the inferred type. */
  private def writeTs(dir: String, name: String, tsType: String,
                      values: Long*): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message t { required int64 ts ($tsType); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try values.foreach(v => w.write(rows.newGroup().append("ts", v)))
    finally w.close()
  }

  test("each parquet read setting gets its own inferred schema") {
    val d = scratch()
    // a TIMESTAMP(NANOS) column, which Spark cannot write itself
    writeTs(d, "nanos", "TIMESTAMP(NANOS,true)", 1700000000123456789L)
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true") {
      assert(Tables.read(spark, d, "nanos").schema("ts").dataType == LongType)
      assert(jobsDuring(Tables.read(spark, d, "nanos")) == 0)
    }
    withConf(nanos, "false") {
      // without nanosAsLong Spark has no type for TIMESTAMP(NANOS)
      val e = intercept[Exception](Tables.read(spark, d, "nanos"))
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(messages.contains("TIMESTAMP(NANOS"), messages)
    }
    withConf(nanos, "true") {
      assert(Tables.read(spark, d, "nanos").schema("ts").dataType == LongType)
    }

    writeTs(d, "micros", "TIMESTAMP(MICROS,false)", 1700000000123456L)
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    for ((on, dtype) <- Seq("true" -> TimestampNTZType, "false" -> TimestampType,
                            "true" -> TimestampNTZType))
      withConf(ntz, on) {
        assert(Tables.read(spark, d, "micros").schema("ts").dataType == dtype,
          s"$ntz=$on")
      }
  }

  test("a single file of at least 128 KB is spread over every core") {
    // 63 KB and 27 KB: under the floor, so no exchange at all
    assert(spreadWidths(Tables.documents(spark, sf001)).isEmpty)
    assert(spreadWidths(Tables.events(spark, sf001)).isEmpty)
    // 189 KB: the spec session's 4 cores
    assert(spreadWidths(Tables.embeddings(spark, sf001)) == Seq(4))
    // sized by another directory's same-named file, as graft.Bench's
    // sf0.001 warm is sized by the SF it times
    val sized = scratch()
    Files.write(Path.of(sized, "documents.parquet"), new Array[Byte](200 * 1024))
    Files.write(Path.of(sized, "embeddings.parquet"), new Array[Byte](1024))
    Tables.spreadSizedBy.withValue(Some(sized)) {
      assert(spreadWidths(Tables.documents(spark, sf001)) == Seq(4))
      assert(spreadWidths(Tables.embeddings(spark, sf001)).isEmpty)
    }
    // a Spark-written directory has no cheap size, so no spread
    val dir = scratch()
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .write.parquet(s"$dir/embeddings.parquet")
    try assert(spreadWidths(Tables.embeddings(spark, dir)).isEmpty)
    finally Seq(dir, sized).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }
}
