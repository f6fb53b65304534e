package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** End-to-end: a Structured Streaming ingest keeps a bucketed serving
  * mirror fresh through `foreachBatch` + [[BucketedMirror.appendOnce]] —
  * the wiring a deployment uses so the reference's "indexer writes,
  * proxy reads" split holds with the mirror as the read side. Each
  * micro-batch appends one file generation per touched bucket; the
  * serving properties (content, bucket pruning) hold after every
  * batch.
  */
class ServingRefreshStreamSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val dir = Files.createTempDirectory("serve_stream").toFile

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS stream_serve_m")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    super.afterAll()
  }

  test("foreachBatch appends keep the mirror serving fresh rows") {
    // seed the mirror (empty, schema + bucket spec only)
    BucketedMirror.write(
      Seq.empty[(Long, Long)].toDF("account", "summary"),
      "stream_serve_m", new java.io.File(dir, "m").getAbsolutePath,
      "account", buckets = 8, sortCols = Seq("account", "summary"))
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("account", "summary")
      .writeStream
      .option("checkpointLocation",
        new java.io.File(dir, "ckpt").getAbsolutePath)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        BucketedMirror.appendOnce(batch, "stream_serve_m", batchId)
        ()
      }
      .start()
    try {
      input.addData((7L, 1L), (7L, 3L), (8L, 2L))
      q.processAllAvailable()
      // the appends run in the streaming session clone; this reader
      // session must refresh its cached file listing (see append docs)
      spark.catalog.refreshTable("stream_serve_m")
      val afterFirst = BucketedMirror.table(spark, "stream_serve_m")
        .where(col("account") === 7L).count()
      assert(afterFirst == 2)

      input.addData((7L, 5L), (9L, 4L))
      q.processAllAvailable()
      spark.catalog.refreshTable("stream_serve_m")
      val page = BucketedMirror.table(spark, "stream_serve_m")
        .where(col("account") === 7L)
        .orderBy("summary").select("summary")
        .collect().map(_.getLong(0)).toSeq
      assert(page == Seq(1L, 3L, 5L))

      // the appended generations still bucket-prune on the key literal
      val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val saved = spark.conf.get(k)
      spark.conf.set(k, "false")
      try {
        val p = BucketedMirror.table(spark, "stream_serve_m")
          .where(col("account") === 7L)
          .queryExecution.executedPlan.toString
        assert(p.contains("SelectedBucketsCount: 1 out of 8"),
          s"streamed mirror must still prune to one bucket:\n$p")
      } finally spark.conf.set(k, saved)
    } finally q.stop()
  }
}
