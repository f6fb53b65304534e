package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ingest.BlockFeed.{Cis2Event, FeedRow}
import graft.streaming.{BlockStreamPipeline, Dialect, Migrations}

object BlockHeightSourceSpec {
  // foreachBatch target; static so executor-side closures see it in
  // local mode and a restarted query keeps appending to the same buffer
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
}

class BlockHeightSourceSpec extends SparkSpec {
  import BlockHeightSourceSpec.seen

  private def mkRow(h: Long, seq: Int): FeedRow =
    FeedRow(h, seq, s"hash$h", h * 1000, s"""{"k":$h}""", is_special = false,
      sender = Some(h % 5), affected_accounts = Seq(h % 5),
      affected_contracts = Seq.empty, cis2_events = Seq.empty,
      key_bindings = None)

  private final class MemStore(@volatile var max: Long) extends BlockStore {
    override def latestHeight(): Long = max
    override def blocks(from: Long, until: Long): Iterator[FeedRow] =
      (from until until).iterator.flatMap(h => Seq(mkRow(h, 0), mkRow(h, 1)))
  }

  test("height-offset source drains in bounded chunks and resumes from checkpoint") {
    val store = new MemStore(9)
    BlockStores.register("spec-store", store)
    val ckpt = Files.createTempDirectory("graft-height-src").toString

    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val df = spark.readStream
        .format(classOf[BlockSourceProvider].getName)
        .option("store", "spec-store")
        .option("startHeight", "0")
        .option("maxBlocksPerTrigger", "3")
        .option("partitions", "2")
        .load()
      val q = df.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("height", "seq_in_block").collect()
            .foreach(r => seen.add((r.getLong(0), r.getInt(1))))
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q
    }

    import scala.jdk.CollectionConverters._
    val q1 = drain()
    assert(seen.asScala.toSet ==
      (0L to 9L).flatMap(h => Seq((h, 0), (h, 1))).toSet)
    // 10 heights at <= 3 blocks per trigger → at least 4 micro-batches:
    // the admission-control chunk bound (A2) is actually enforced
    assert(q1.recentProgress.count(_.numInputRows > 0) >= 4,
      q1.recentProgress.map(_.numInputRows).mkString(","))

    // the chain advances; a restarted query resumes at the checkpointed
    // height offset — only heights 10..14 flow, nothing is replayed
    seen.clear()
    store.max = 14
    drain()
    val resumed = seen.asScala.map(_._1).toSeq.distinct.sorted
    assert(resumed == (10L to 14L),
      s"expected resume from height 10, got $resumed")
  }

  test("latestOffset: only maxRows caps the batch; allAvailable drains everything") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val store = new MemStore(99) // heights 0..99 available
    BlockStores.register("limit-store", store)
    val s = new BlockMicroBatchStream("limit-store", 0L, 5, 2)
    def off(l: ReadLimit): Long =
      s.latestOffset(HeightOffset(0L), l).asInstanceOf[HeightOffset].h
    assert(off(ReadLimit.maxRows(5)) == 5) // normal trigger: chunked
    // Trigger.Once passes allAvailable: a one-shot run must drain all
    // 100 heights, not stop after one maxBlocksPerTrigger chunk
    assert(off(ReadLimit.allAvailable()) == 100)
    // a min-rows limit is an admission floor, not a cap
    assert(off(ReadLimit.minRows(2, 1000)) == 100)
    // composite: the tightest maxRows component wins
    assert(off(ReadLimit.compositeLimit(
      Array(ReadLimit.minRows(2, 1000), ReadLimit.maxRows(7)))) == 7)
  }

  test("a warm thread's second reader allocates under 1 MB") {
    // one encoder per JVM and one serializer per executor thread: a
    // reader derives no encoder and generates no projection
    BlockStores.register("alloc-store", new MemStore(7))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val thread = Thread.currentThread().getId
    def drain(): Long = {
      val before = mx.getThreadAllocatedBytes(thread)
      val r = new BlockRangeReader(HeightRangePartition("alloc-store", 0L, 8L))
      var heights = 0L
      while (r.next()) heights += r.get().getLong(0)
      r.close()
      val bytes = mx.getThreadAllocatedBytes(thread) - before
      assert(heights == 2 * (0L until 8L).sum)
      bytes
    }
    drain()
    val bytes = drain()
    assert(bytes < (1L << 20), s"$bytes bytes")
  }

  test("startFromStore: height source through the per-block sink to the DB") {
    // the full A1→A10 path over the native source: store → micro-batches
    // → TransactionalSink (per-block transactions) → Derby, with
    // height-offset resume between the two drains
    final class SinkStore(@volatile var max: Long) extends BlockStore {
      override def latestHeight(): Long = max
      override def blocks(from: Long, until: Long): Iterator[FeedRow] =
        (from until until).iterator.map { h =>
          FeedRow(h, 0, s"h$h", h * 1000, s"""{"k":$h}""", is_special = false,
            sender = Some(h % 3), affected_accounts = Seq(h % 3),
            affected_contracts = Seq.empty,
            cis2_events = Seq(Cis2Event(0L, 0L, "tok", "mint", (10 + h).toString)),
            key_bindings = None)
        }
    }
    val root = Files.createTempDirectory("graft-height-sink").toString
    val url = s"jdbc:derby:$root/db;create=true"
    Migrations.migrate(url, Dialect.Derby)
    val store = new SinkStore(4)
    BlockStores.register("sink-store", store)

    def drainToDb(): Unit = {
      val q = BlockStreamPipeline.startFromStore(spark, "sink-store",
        s"$root/ckpt", url, Dialect.Derby, availableNow = true,
        maxBlocksPerTrigger = 2)
      q.awaitTermination(120000)
    }
    def one(sql: String): Any = {
      val c = Migrations.connect(url)
      try {
        val rs = c.createStatement().executeQuery(sql)
        rs.next(); rs.getObject(1)
      } finally c.close()
    }

    drainToDb()
    assert(one("SELECT COUNT(*) FROM summaries") == 5)
    // mints 10+11+12+13+14 = 60
    assert(one("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0") == "60")

    store.max = 7 // resume: heights 5..7 only, supply += 15+16+17
    drainToDb()
    assert(one("SELECT COUNT(*) FROM summaries") == 8)
    assert(one("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0") == "108")
  }
}
