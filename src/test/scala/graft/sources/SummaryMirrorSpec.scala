package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class SummaryMirrorSpec extends SparkSpec {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-mirror").toString

  private def sums = (0L until 5000L).map(i =>
      (i * 1048576L, s"b${i / 10}", 1000L * i, i, s"""{"Left":{"k":$i}}"""))
    .toDF("id", "block", "timestamp", "height", "summary")

  test("height-range query over the mirror prunes partitions in the plan") {
    SummaryMirror.write(sums, s"$root/mirror")
    val mirror = SummaryMirror.read(spark, s"$root/mirror")

    val q = SummaryMirror.heightRange(mirror, 1500L, 1600L)
    val rows = q.collect()
    assert(rows.length == 101)
    assert(rows.map(_.getAs[Long]("height")).forall(h => h >= 1500 && h <= 1600))

    // the bucket predicate must land in PartitionFilters (directory
    // pruning — the m0003 covering-index analog), and the residual
    // height bounds must push into the parquet scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^\\]]*height_bucket[^\\]]*\\].*"),
      s"expected non-empty PartitionFilters on height_bucket in:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(height,1500)"),
      s"expected height bounds pushed to parquet in:\n$plan")

    // only bucket 1 (heights 1000-1999) should survive pruning: the
    // scan's numFiles metric must equal the file count under
    // height_bucket=1, strictly less than the whole mirror
    def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(parquetFiles)
    }
    val allFiles = parquetFiles(new java.io.File(s"$root/mirror"))
    val bucket1Files = parquetFiles(new java.io.File(s"$root/mirror/height_bucket=1"))
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val scanned = scan.metrics("numFiles").value
    assert(bucket1Files.nonEmpty && allFiles.size > bucket1Files.size)
    assert(scanned == bucket1Files.size,
      s"expected to scan only bucket 1 (${bucket1Files.size} files of ${allFiles.size}), scanned $scanned")
  }

  test("timestamp-range predicates push into the scan for row-group skipping") {
    val mirror = SummaryMirror.read(spark, s"$root/mirror")
    val q = SummaryMirror.timestampRange(mirror, 1000L * 100, 1000L * 110)
    assert(q.count() == 11)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(timestamp,100000)"),
      s"expected timestamp bounds pushed to parquet in:\n$plan")
  }
}
