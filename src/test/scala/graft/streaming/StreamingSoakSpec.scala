package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.ingest.BlockIngest
import graft.model.Schemas
import graft.query.QueryApi
import graft.sources.{BucketedMirror, StoreCompaction}

/** The COMPOSED end-to-end soak the per-piece specs don't cover: one
  * streaming query drives feed files → ingest transforms → the
  * transactional DB sink AND the bucketed serving mirrors in the same
  * `foreachBatch` (the deployment shape: "indexer writes, proxy reads"
  * with the mirror as the read side), across many micro-batches with a
  * MID-STREAM stop/restart. After recovery the SERVED page — a
  * driver-side read of the key's bucket files of the page mirror
  * ([[BlockIngest.atiPages]] deltas) — must equal the pure batch
  * derivation over the full feed, and a re-delivered batch must be a
  * mirror no-op ([[BucketedMirror.appendOnce]]).
  */
class StreamingSoakSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import scala.jdk.CollectionConverters._

  private val root = Files.createTempDirectory("graft-soak").toString
  private val feedDir = s"$root/feed"
  private val ckpt = s"$root/ckpt"
  private val url = s"jdbc:derby:$root/db;create=true"
  private val PageMirror = "soak_pages_m"

  override def afterAll(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $PageMirror")
    super.afterAll()
  }

  private def mkFeed(heights: Range): DataFrame = {
    val rows = heights.flatMap { h =>
      Seq(
        Row(h.toLong, 0, s"h$h", 1000L * h, s"""{"k":$h}""", false, (h % 3).toLong,
          Seq((h % 3).toLong, ((h + 1) % 3).toLong),
          Seq(Row((h % 2).toLong, 0L)),
          Seq(Row((h % 2).toLong, 0L, "tok", if (h % 2 == 0) "mint" else "burn",
            (10 + h).toString)),
          null),
        Row(h.toLong, 1, s"h$h", 1000L * h, s"""{"s":$h}""", true, null,
          Seq(99L), Seq.empty[Row], Seq.empty[Row],
          Seq(Row(0, 0, s"pk-$h", true)))
      )
    }
    spark.createDataFrame(rows.asJava,
      Schemas.blockFeed(org.apache.spark.sql.types.LongType))
  }

  /** An empty page mirror (schema + bucket spec) at `path`. */
  private def writeEmptyPages(name: String, path: String): Unit =
    BucketedMirror.write(BlockIngest.atiPages(mkFeed(0 until 0)), name, path,
      "account", buckets = 8, sortCols = Seq("account", "summary"))

  /** A page mirror's rows, sorted (a multiset). */
  private def pageRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** The batch answer for account 1's first page, over the ingest
    * transforms of the full feed. Fresh frames per side: both deriving
    * from one frame would be an ambiguous self-join on shared lineage. */
  private def batchAnswer: Seq[(Long, String)] =
    QueryApi.accountTransactions(
      BlockIngest.ati(mkFeed(0 until 12)),
      BlockIngest.summaries(mkFeed(0 until 12)),
      lit(1L), from = 0L, limit = Some(100), ascending = true)
      .collect().map(r => (r.getLong(0), r.getString(4))).toSeq

  /** Account 1's first served page over the page mirror `name`. */
  private def servedPage(name: String): Seq[(Long, String)] = {
    val m = BucketedMirror.table(spark, name)
    QueryApi.accountPageServed(m, m, lit(1L), from = 0L, limit = 100,
      ascending = true)
      .collect().map(r => (r.getLong(0), r.getString(4))).toSeq
  }

  /** The executed plan of account 1's rows in mirror `name`, with
    * auto-disabling of bucketed scans off: file-level bucket pruning
    * applies either way, and the pinned conf shows it as
    * `SelectedBucketsCount`. */
  private def keyProbePlan(name: String): String = {
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(k)
    spark.conf.set(k, "false")
    try BucketedMirror.table(spark, name).where(col("account") === 1L)
      .queryExecution.executedPlan.toString
    finally spark.conf.set(k, saved)
  }

  /** The composed foreachBatch body: conditional-insert DB writes (row
    * idempotent) + replay-safe mirror appends (batchId idempotent). */
  private def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    TransactionalSink.writeBatch(batch, url, Dialect.Derby)
    BucketedMirror.appendOnce(BlockIngest.atiPages(batch), PageMirror, batchId)
  }

  private def startPipeline(): StreamingQuery =
    spark.readStream
      .schema(Schemas.blockFeed(org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(applyBatch _)
      .trigger(Trigger.AvailableNow())
      .start()

  test("composed pipeline survives a mid-stream restart; served page equals batch") {
    Migrations.migrate(url, Dialect.Derby)
    writeEmptyPages(PageMirror, s"$root/pages_m")

    // 6 feed files -> 6 micro-batches at maxFilesPerTrigger=1
    (0 until 6).foreach { i =>
      mkFeed(i * 2 until (i + 1) * 2).coalesce(1)
        .write.mode(SaveMode.Append).parquet(feedDir)
    }

    // run, then STOP mid-stream: wait for at least one committed batch
    // and kill the query wherever it is (graceful or mid-batch — both
    // are legal restart points the idempotence layers must absorb)
    val q1 = startPipeline()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q1.lastProgress == null && q1.isActive &&
      System.nanoTime() < deadline) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination(120000)

    // restart from the same checkpoint; drain everything that remains
    val q2 = startPipeline()
    q2.awaitTermination(120000)
    assert(!q2.isActive)

    // an explicit re-delivery of an already-applied batch is a no-op
    // (the restart above exercises whatever replay actually happened;
    // this pins the contract deterministically)
    val full = mkFeed(0 until 12)
    assert(!BucketedMirror.appendOnce(BlockIngest.atiPages(full), PageMirror, 0L))

    spark.catalog.refreshTable(PageMirror)

    // the mirror holds exactly the batch derivation (set equality: the
    // only legal divergence is a replayed file generation, which
    // duplicates rows but never invents or loses them)
    assert(pageRows(BucketedMirror.table(spark, PageMirror)).toSet ==
      pageRows(BlockIngest.atiPages(full)).toSet)

    // the SERVED page over the streamed mirror == the batch answer
    // over the ingest transforms (account 1 is touched by most blocks)
    val served = servedPage(PageMirror)
    assert(served.nonEmpty && served == batchAnswer)

    // and the DB side of the same foreachBatch stayed exact
    val c = Migrations.connect(url)
    try {
      val rs = c.createStatement()
        .executeQuery("SELECT COUNT(*) FROM summaries")
      rs.next()
      assert(rs.getLong(1) == 24L) // 12 heights x 2 items
    } finally c.close()

    // streamed-in generations must still bucket-prune a key probe
    val p = keyProbePlan(PageMirror)
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      s"a key probe must read one bucket after streamed appends:\n$p")
  }

  test("online compaction mid-flight: markers carried, replay no-op, page and pruning survive") {
    // the 24/7-serving gap: compaction must NOT require stopping the
    // ingest stream. Here the stream is stopped mid-flight (checkpoint
    // still holds undrained feed files), the page mirror is compacted,
    // and the restart drains the remainder ACROSS the compacted
    // generation. The markers sit beside the swapped data directory and
    // roll up into a watermark, so any replayed batch stays a no-op; a
    // raw write()-compaction here would wipe them and re-apply.
    val pagesM = "soak_c_pages_m"
    val mRoot = new java.io.File(s"$root/c_pages_m")
    val feed = s"$root/feed_c"
    val ck = s"$root/ckpt_c"
    val dbUrl = s"jdbc:derby:$root/db_c;create=true"
    try {
      Migrations.migrate(dbUrl, Dialect.Derby)
      writeEmptyPages(pagesM, mRoot.getPath)
      (0 until 6).foreach { i =>
        mkFeed(i * 2 until (i + 1) * 2).coalesce(1)
          .write.mode(SaveMode.Append).parquet(feed)
      }
      def location() = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(pagesM)).location
      val loc = location()
      // what each compaction must leave: the catalog location unchanged,
      // at most one file per bucket, no swap debris or sentinel, the
      // ledger rolled up into a watermark with no per-batch marker at or
      // below it, and batch 0 (committed before the stop: lastProgress
      // was non-null) still a replay no-op
      def assertCompacted(files: Int): Unit = {
        assert(location() == loc)
        assert(files <= 8, s"compaction must land one file per bucket; got $files")
        Seq("data_compacting", "data_old", StoreCompaction.CompactingSentinel)
          .foreach(n => assert(!new java.io.File(mRoot, n).exists(), n))
        val ledger = new java.io.File(mRoot, "_applied_batches").list().toSeq
        val wm = ledger.collect { case s"_watermark_$n" => n.toLong }
        assert(wm.size == 1 && wm.head >= 0, s"ledger: $ledger")
        assert(ledger.filter(_.forall(_.isDigit)).forall(_.toLong > wm.head),
          s"ledger: $ledger")
        assert(!BucketedMirror.appendOnce(BlockIngest.atiPages(mkFeed(0 until 2)),
          pagesM, 0L),
          "batch 0 was re-applied across the compaction")
      }
      def applyB(batch: DataFrame, batchId: Long): Unit = {
        TransactionalSink.writeBatch(batch, dbUrl, Dialect.Derby)
        BucketedMirror.appendOnce(BlockIngest.atiPages(batch), pagesM, batchId)
      }
      def start(): StreamingQuery = spark.readStream
        .schema(Schemas.blockFeed(org.apache.spark.sql.types.LongType))
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch(applyB _)
        .trigger(Trigger.AvailableNow())
        .start()

      val q1 = start()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q1.lastProgress == null && q1.isActive &&
        System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop()
      q1.awaitTermination(120000)

      // MID-FLIGHT: undrained feed files remain behind the checkpoint;
      // compact the mirror now, while the stream is between runs
      assertCompacted(BucketedMirror.compact(spark, pagesM))

      // restart from the same checkpoint; drain the rest on top of it
      val q2 = start()
      q2.awaitTermination(120000)
      assert(!q2.isActive)

      // (b) MULTISET equality with the batch derivation — a re-applied
      // batch would show up as duplicated rows that set equality hides
      spark.catalog.refreshTable(pagesM)
      assert(pageRows(BucketedMirror.table(spark, pagesM)) ==
        pageRows(BlockIngest.atiPages(mkFeed(0 until 12))))

      // compact AGAIN on the live-appended state: the swap must iterate
      assertCompacted(BucketedMirror.compact(spark, pagesM))

      // served page over the twice-compacted mirror == the batch answer
      val served = servedPage(pagesM)
      assert(served.nonEmpty && served == batchAnswer)

      // (c) bucket pruning survives the swapped generations
      val p = keyProbePlan(pagesM)
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"a key probe must still read one bucket after compaction:\n$p")
    } finally spark.sql(s"DROP TABLE IF EXISTS $pagesM")
  }

  test("served page tolerates a replayed generation (the marker crash window)") {
    // appendOnce's residual window: data files commit, the crash lands
    // before the marker, the batch replays — one generation's rows are
    // duplicated in the mirror. The appendOnce scaladoc claims serving
    // reads tolerate this (ids are unique, the served page drops
    // repeated ids); simulate the window by applying the same delta
    // under two batch ids and pin the claim.
    import spark.implicits._
    val pagesM = "soak_dup_pages_m"
    val cols = Seq("account", "summary", "block", "timestamp", "height", "body")
    try {
      BucketedMirror.write(Seq((7L, 1L, "b1", 10L, 0L, "s1"),
          (7L, 3L, "b2", 20L, 1L, "s3"), (8L, 2L, "b1", 10L, 0L, "s2"))
        .toDF(cols: _*),
        pagesM, s"$root/dup_pages_m", "account", buckets = 8,
        sortCols = Seq("account", "summary"))
      val delta = Seq((7L, 5L, "b3", 30L, 2L, "s5")).toDF(cols: _*)
      // the replayed generation: same delta appended twice
      Seq(0L, 1L).foreach(id => BucketedMirror.appendOnce(delta, pagesM, id))

      val m = BucketedMirror.table(spark, pagesM)
      val page = QueryApi.accountPageServed(m, m,
        lit(7L), from = 0L, limit = 100, ascending = true)
        .collect().map(r => (r.getLong(0), r.getString(4))).toSeq
      assert(page == Seq((1L, "s1"), (3L, "s3"), (5L, "s5")),
        s"duplicated generation leaked into the served page: $page")
    } finally spark.sql(s"DROP TABLE IF EXISTS $pagesM")
  }
}
