package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SaveMode}

import graft.SparkSpec
import graft.ingest.BlockIngest
import graft.model.Schemas

/** End-to-end streaming test: feed parquet → Structured Streaming →
  * Derby serving DB. Covers resume-from-checkpoint (A11), idempotent
  * replay (A14/exactly-once), CIS-2 running supply, and LWW bindings —
  * cross-checked against the pure batch derivation over the full feed.
  */
class BlockStreamPipelineSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val root = Files.createTempDirectory("graft-stream").toString
  private val feedDir = s"$root/feed"
  private val ckpt = s"$root/ckpt"
  private val url = s"jdbc:derby:$root/db;create=true"

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

  private def q(sql: String): Seq[Seq[Any]] = {
    val c = Migrations.connect(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.Buffer.empty[Seq[Any]]
      while (rs.next()) buf += (1 to n).map(rs.getObject)
      buf.toSeq
    } finally c.close()
  }

  private def runPipeline(): Unit = {
    val query = BlockStreamPipeline.start(spark, feedDir, ckpt, url,
      Dialect.Derby, availableNow = true, maxFilesPerTrigger = 2)
    query.awaitTermination(120000)
  }

  test("streamed tables equal the batch derivation; resume and replay are exact") {
    Migrations.migrate(url, Dialect.Derby)
    assert(Migrations.currentVersion(Migrations.connect(url)) == 3)

    // chunk 1: heights 0..4 in several files (micro-batches)
    mkFeed(0 until 5).repartition(3).write.mode(SaveMode.Append).parquet(feedDir)
    runPipeline()

    assert(q("SELECT COUNT(*) FROM summaries").head.head == 10)
    val supply1 = q("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head
    // heights 0,2,4 mint on (0,0): +10 +12 +14 = 36
    assert(supply1 == "36")

    // chunk 2: heights 5..9 — checkpoint resume picks up only new files
    mkFeed(5 until 10).repartition(2).write.mode(SaveMode.Append).parquet(feedDir)
    runPipeline()

    assert(q("SELECT COUNT(*) FROM summaries").head.head == 20)
    // mints on (0,0): 10+12+14+16+18 = 70
    assert(q("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head == "70")
    // burns on (1,0): -(11+13+15+17+19) = -75
    assert(q("SELECT total_supply FROM cis2_tokens WHERE idx = 1 AND subidx = 0")
      .head.head == "-75")

    // bindings: address 99 snapshot from the LAST special summary wins
    val kb = q("SELECT src_id, public_key FROM bindings WHERE address = 99")
    assert(kb.length == 1)
    assert(kb.head(1) == "pk-9")

    // full replay with a FRESH checkpoint over the same DB: every write
    // must be a no-op (idempotence under at-least-once delivery).
    val ckpt2 = s"$root/ckpt2"
    val query = BlockStreamPipeline.start(spark, feedDir, ckpt2, url,
      Dialect.Derby, availableNow = true, maxFilesPerTrigger = 3)
    query.awaitTermination(120000)

    assert(q("SELECT COUNT(*) FROM summaries").head.head == 20)
    assert(q("SELECT COUNT(*) FROM cis2_deltas").head.head == 10)
    assert(q("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head == "70")
    assert(q("SELECT COUNT(*) FROM bindings WHERE address = 99").head.head == 1)

    // cross-check every table against the pure batch derivation
    val full = mkFeed(0 until 10)
    val expSummaries = BlockIngest.summaries(full).collect()
      .map(r => (r.getLong(0), r.getString(4))).toSet
    val gotSummaries = q("SELECT id, summary FROM summaries")
      .map(r => (r.head.asInstanceOf[Number].longValue(), r(1).asInstanceOf[String])).toSet
    assert(gotSummaries == expSummaries)

    val expAti = BlockIngest.ati(full).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotAti = q("SELECT account, summary FROM ati")
      .map(r => (r.head.asInstanceOf[Number].longValue(),
        r(1).asInstanceOf[Number].longValue())).toSet
    assert(gotAti == expAti)

    val expTok = BlockIngest.cis2Tokens(full).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getString(2)), r.getString(3))).toMap
    val gotTok = q("SELECT idx, subidx, token_id, total_supply FROM cis2_tokens")
      .map(r => ((r(0).asInstanceOf[Number].longValue(),
        r(1).asInstanceOf[Number].longValue(), r(2).asInstanceOf[String]),
        r(3).asInstanceOf[String])).toMap
    assert(gotTok == expTok)
  }

  test("a failed write leaves no block partially visible (per-block atomicity)") {
    // Block 2's binding row violates the 256-char public_key column, so
    // its transaction dies AFTER the block's summaries/ati/cti/deltas
    // statements already executed — the rollback must hide all of them
    // (insert_block one-transaction-per-block, main.rs:543-574).
    val root2 = Files.createTempDirectory("graft-atomic").toString
    val url2 = s"jdbc:derby:$root2/db;create=true"
    Migrations.migrate(url2, Dialect.Derby)

    def feed(poison: Boolean): DataFrame = {
      val rows = (0 until 4).flatMap { h =>
        val pk = if (poison && h == 2) "x" * 300 else s"pk-$h"
        Seq(
          Row(h.toLong, 0, s"h$h", 1000L * h, s"""{"k":$h}""", false, (h % 3).toLong,
            Seq((h % 3).toLong, ((h + 1) % 3).toLong),
            Seq(Row((h % 2).toLong, 0L)),
            Seq(Row((h % 2).toLong, 0L, "tok", "mint", (10 + h).toString)),
            null),
          Row(h.toLong, 1, s"h$h", 1000L * h, s"""{"s":$h}""", true, null,
            Seq(90L + h), Seq.empty[Row], Seq.empty[Row],
            Seq(Row(0, 0, pk, true)))
        )
      }
      spark.createDataFrame(rows.asJava,
        Schemas.blockFeed(org.apache.spark.sql.types.LongType))
    }
    def q2(sql: String): Seq[Seq[Any]] = {
      val c = Migrations.connect(url2)
      try {
        val rs = c.createStatement().executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        val buf = scala.collection.mutable.Buffer.empty[Seq[Any]]
        while (rs.next()) buf += (1 to n).map(rs.getObject)
        buf.toSeq
      } finally c.close()
    }

    intercept[Exception] {
      TransactionalSink.writeBatch(feed(poison = true), url2, Dialect.Derby)
    }
    val lo = 2L * Schemas.SeqMod
    val hi = 3L * Schemas.SeqMod
    assert(q2("SELECT COUNT(*) FROM summaries WHERE height = 2").head.head == 0)
    assert(q2(s"SELECT COUNT(*) FROM ati WHERE summary >= $lo AND summary < $hi").head.head == 0)
    assert(q2(s"SELECT COUNT(*) FROM cti WHERE summary >= $lo AND summary < $hi").head.head == 0)
    assert(q2(s"SELECT COUNT(*) FROM cis2_deltas WHERE summary >= $lo AND summary < $hi").head.head == 0)
    assert(q2("SELECT COUNT(*) FROM bindings WHERE address = 92").head.head == 0)

    // Replaying the corrected batch heals the gap; already-committed
    // blocks dedup via the conditional inserts (idempotent replay).
    TransactionalSink.writeBatch(feed(poison = false), url2, Dialect.Derby)
    assert(q2("SELECT COUNT(*) FROM summaries").head.head == 8)
    assert(q2("SELECT COUNT(*) FROM cis2_deltas").head.head == 4)
    assert(q2("SELECT COUNT(*) FROM bindings").head.head == 4)
    // mints on (0,0): heights 0 and 2 → 10 + 12
    assert(q2("SELECT total_supply FROM cis2_tokens WHERE idx = 0 AND subidx = 0")
      .head.head == "22")
    assert(q2("SELECT total_supply FROM cis2_tokens WHERE idx = 1 AND subidx = 0")
      .head.head == "24")
  }
}
