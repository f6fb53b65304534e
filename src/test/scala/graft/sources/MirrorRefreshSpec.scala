package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** Incremental mirror refresh ([[BucketedMirror.appendOnce]]): a serving
  * mirror fed batch-by-batch (the `foreachBatch` shape of a
  * continuously-ingesting upstream) must equal the one-shot mirror AND
  * keep the bucket properties that make it a serving mirror — shuffle
  * elision on the bucket key and bucket pruning on key literals —
  * across the appended file generations.
  */
class MirrorRefreshSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val dir = Files.createTempDirectory("mirror_refresh").toFile
  private def rows(lo: Long, hi: Long) =
    (lo until hi).map(i => (i % 16, i, s"row-$i")).toDF("k", "id", "payload")

  override def beforeAll(): Unit = {
    super.beforeAll()
    BucketedMirror.write(rows(0, 600), "refresh_m",
      new java.io.File(dir, "m").getAbsolutePath, "k", buckets = 8,
      sortCols = Seq("k", "id"))
    // two incremental generations, as two ingest micro-batches would add
    BucketedMirror.appendOnce(rows(600, 800), "refresh_m", batchId = 0L)
    BucketedMirror.appendOnce(rows(800, 1000), "refresh_m", batchId = 1L)
  }

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS refresh_m")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    super.afterAll()
  }

  test("appended mirror equals the one-shot content") {
    val got = BucketedMirror.table(spark, "refresh_m")
      .as[(Long, Long, String)].collect().toSet
    assert(got == rows(0, 1000).as[(Long, Long, String)].collect().toSet)
  }

  test("shuffle elision survives appended file generations") {
    val agg = BucketedMirror.table(spark, "refresh_m")
      .groupBy("k").agg(count(lit(1)).as("n"))
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucketed groupBy must stay shuffle-free after appends:\n$p")
    // exact per-key counts: 1000 rows over k = i % 16 → keys 0-7 get
    // 63, keys 8-15 get 62 — a dropped or duplicated append generation
    // fails here, not just a vanished key
    val got = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L until 16L).map(k => k -> (if (k < 8) 63L else 62L)).toMap
    assert(got == expected, s"per-key counts after appends: $got")
  }

  test("bucket pruning survives appended file generations") {
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(k)
    spark.conf.set(k, "false")
    try {
      val p = BucketedMirror.table(spark, "refresh_m")
        .where(col("k") === 3L)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"key literal must still prune to one bucket:\n$p")
    } finally spark.conf.set(k, saved)
  }

  test("an append during a compaction refuses and writes nothing") {
    // the sentinel a running compaction raises at the store root, next
    // to the data directory and the replay ledger
    val root = new java.io.File(dir, "sentinel_m")
    BucketedMirror.write(rows(0, 100), "sentinel_m", root.getAbsolutePath, "k",
      buckets = 8)
    try {
      def files(): Set[String] = org.apache.commons.io.FileUtils
        .listFiles(root, null, true).asScala.map(_.getPath).toSet
      assert(new java.io.File(root, StoreCompaction.CompactingSentinel)
        .createNewFile())
      val before = files()
      val e = intercept[IllegalStateException] {
        BucketedMirror.appendOnce(rows(100, 200), "sentinel_m", batchId = 0L)
      }
      assert(e.getMessage.contains("append refused"))
      assert(files() == before)
    } finally spark.sql("DROP TABLE IF EXISTS sentinel_m")
  }

  test("write clears the replay ledger") {
    // the markers sit beside the data directory, not in it: a rewrite at
    // the same path must still start from an empty ledger
    val path = new java.io.File(dir, "rewrite_m").getAbsolutePath
    try {
      BucketedMirror.write(rows(0, 100), "rewrite_m", path, "k", buckets = 8)
      assert(BucketedMirror.appendOnce(rows(100, 200), "rewrite_m", 0L))
      BucketedMirror.write(rows(0, 100), "rewrite_m", path, "k", buckets = 8)
      assert(BucketedMirror.appendOnce(rows(100, 200), "rewrite_m", 0L))
      assert(BucketedMirror.table(spark, "rewrite_m").count() == 200)
    } finally spark.sql("DROP TABLE IF EXISTS rewrite_m")
  }
}
