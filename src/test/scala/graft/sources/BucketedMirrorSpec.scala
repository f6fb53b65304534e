package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

class BucketedMirrorSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val dir = Files.createTempDirectory("bucketed_mirror").toFile
  private def path(t: String) = new java.io.File(dir, t).getAbsolutePath

  private def ati = (0L until 2000L)
    .map(i => (s"acct${i % 50}", i, i / 10))
    .toDF("account", "id", "height")

  private def summaries = (0L until 200L)
    .map(i => (s"acct${i % 50}", i * 10, s"summary-$i"))
    .toDF("account", "id", "summary")

  override def beforeAll(): Unit = {
    super.beforeAll()
    BucketedMirror.write(ati, "ati_b", path("ati_b"), "account",
      buckets = 8, sortCols = Seq("account", "id"))
    BucketedMirror.write(summaries, "summaries_b", path("summaries_b"),
      "account", buckets = 8)
  }

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS ati_b")
    spark.sql("DROP TABLE IF EXISTS summaries_b")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    super.afterAll()
  }

  test("mirror round-trips the rows and stays plain parquet") {
    val viaCatalog = BucketedMirror.table(spark, "ati_b")
      .as[(String, Long, Long)].collect().toSet
    assert(viaCatalog == ati.as[(String, Long, Long)].collect().toSet)
    // the files are ordinary parquet for any non-Spark reader
    val raw = spark.read.parquet(s"${path("ati_b")}/data")
      .as[(String, Long, Long)].collect().toSet
    assert(raw == viaCatalog)
  }

  test("write lands at most one file per bucket") {
    // the fixture frame spans the 4-core session's partitions; without
    // clustering by bucket each writer task would write its own file
    // per bucket (up to 4 × 8)
    assert(ati.rdd.getNumPartitions > 1)
    val files = new java.io.File(path("ati_b"), "data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 8, s"expected one file per bucket, got $files")
  }

  test("aggregation on the bucket key plans with no shuffle") {
    val agg = BucketedMirror.table(spark, "ati_b")
      .groupBy("account").agg(count("*").as("n"), max("id").as("last_id"))
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bucketed groupBy must not shuffle:\n$p")
    assert(agg.count() == 50)
  }

  test("join of two mirrors bucketed on the same key shuffles neither side") {
    // Force the shuffle-join path: broadcasting the small fixture would
    // make the no-shuffle assertion vacuous (at scale neither side fits).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val joined = BucketedMirror.table(spark, "ati_b")
        .join(BucketedMirror.table(spark, "summaries_b"), Seq("account"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected the merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$p")
      assert(joined.count() == 2000 * 4) // 50 accts × 40 ati × 4 summaries
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("a raw parquet read of the same path does NOT get shuffle elision") {
    val agg = spark.read.parquet(s"${path("ati_b")}/data").groupBy("account").count()
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("Exchange"),
      "control: without catalog bucket metadata the shuffle must return")
  }

  private def location(name: String): java.net.URI =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name)).location

  /** What every compaction leaves: the table still at `<root>/data`, at
    * most one file per bucket there, and no swap debris or sentinel. */
  private def assertCompacted(name: String, files: Int): Unit = {
    val root = new java.io.File(path(name))
    assert(new java.io.File(location(name)) == new java.io.File(root, "data"))
    assert(files <= 8 && files == new java.io.File(root, "data").listFiles()
      .count(_.getName.endsWith(".parquet")), s"$files data files")
    Seq("data_compacting", "data_old", StoreCompaction.CompactingSentinel)
      .foreach(n => assert(!new java.io.File(root, n).exists(), n))
  }

  test("compact before any appendOnce: no markers to carry, elision survives") {
    // the soak covers compaction with a rolled-up ledger mid-stream; this
    // is the other lifecycle edge — a freshly written mirror (no
    // _applied_batches directory exists at all)
    val name = "ati_compact_edge"
    try {
      BucketedMirror.write(ati, name, path(name), "account",
        buckets = 8, sortCols = Seq("account", "id"))
      assertCompacted(name, BucketedMirror.compact(spark, name))
      assert(!new java.io.File(path(name), "_applied_batches").exists())
      val t = BucketedMirror.table(spark, name)
      assert(t.count() == 2000)
      val p = t.groupBy("account").count().queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed groupBy must still elide the shuffle after compact:\n$p")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("compacting an empty mirror: schema pinned from the catalog, no inference") {
    // compact sources a PLAIN file read (the catalog scan's advertised
    // partitioning would let the one-file-per-bucket repartition be
    // elided); a mirror created empty has no parquet footer to infer
    // from, so the read must take the catalog schema
    val name = "ati_compact_empty"
    try {
      BucketedMirror.write(
        Seq.empty[(Long, Long, Long)].toDF("account", "id", "height"),
        name, path(name), "account", buckets = 8,
        sortCols = Seq("account", "id"))
      assertCompacted(name, BucketedMirror.compact(spark, name))
      val t = BucketedMirror.table(spark, name)
      assert(t.count() == 0 &&
        t.columns.toSeq == Seq("account", "id", "height"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}
