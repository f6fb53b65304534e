package perfbench

import java.math.BigInteger
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.ingest.BlockFeed.FeedRow
import graft.ingest.BlockIngest
import graft.sources.{BlockStore, BlockStores}
import graft.streaming.{BlockStreamPipeline, Dialect, Migrations}

/** `ingest`: the deployed catch-up path. The generated feed is served
  * from an in-memory [[BlockStore]] through
  * [[BlockStreamPipeline.startFromStore]] with the pipeline's own
  * defaults into a freshly migrated Derby database, then replayed with a
  * fresh checkpoint over the populated database (every insert a no-op).
  * Set-up creates and migrates the database, then makes a warm-up write
  * and replay of three micro-batches into a scratch database. A traced run
  * makes a second set-up and round with the probes on. */
object IngestWorkload {

  final class MemStore(byHeight: Array[Array[FeedRow]]) extends BlockStore {
    override def latestHeight(): Long = byHeight.length - 1L
    override def blocks(from: Long, until: Long): Iterator[FeedRow] =
      (from until math.min(until, byHeight.length.toLong)).iterator
        .flatMap(h => byHeight(h.toInt).iterator)
  }

  private final case class Pass(queryId: String, wallS: Double, cpuS: Double, allocMb: Double, ok: Boolean)
  private final case class Round(write: Pass, replay: Pass) {
    def wallS: Double = write.wallS + replay.wallS
    def cpuS: Double = write.cpuS + replay.cpuS
    def allocMb: Double = write.allocMb + replay.allocMb
  }

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val feed = graft.Tables.feed(spark, ctx.dataDir)
    val rows = feed.drop("id").as[FeedRow].collect()
    val nBlocks = (rows.map(_.height).max + 1).toInt
    val byHeight = Array.fill(nBlocks)(mutable.ArrayBuffer.empty[FeedRow])
    rows.foreach(r => byHeight(r.height.toInt) += r)
    val storeName = s"perfbench-${ctx.seed}"
    BlockStores.register(storeName, new MemStore(byHeight.map(_.toArray)))
    lazy val expected = { val e = Expected(feed); Main.say("expected tables derived"); e }

    def dbDir(tag: String) = s"${ctx.runDir}/derby/$tag"
    def base(tag: String) = s"jdbc:derby:${dbDir(tag)};create=true"
    def pass(store: String, url: String, ckpt: String): Pass = {
      val t = System.nanoTime()
      val (cpu, alloc) = (Main.cpuS, Main.allocMb)
      val q = BlockStreamPipeline.startFromStore(spark, store, ckpt, url, Dialect.Derby)
      val ok = try { q.awaitTermination(); true } catch {
        case e: Exception =>
          res.problems += s"stream failed: ${e.getMessage.take(300)}"
          false
      }
      Pass(q.id.toString, (System.nanoTime() - t) / 1e9, Main.cpuS - cpu, Main.allocMb - alloc, ok)
    }
    // The warm-up writes and replays the first three micro-batches into a
    // scratch database, so the timed passes pay less class loading and JIT
    // (with one, the timed batches still got cheaper batch after batch).
    val warmStore = s"perfbench-warm-${ctx.seed}"
    BlockStores.register(warmStore, new MemStore(byHeight.take(192).map(_.toArray)))
    /** Set-up of one round: its database created and migrated, then the
      * warm-up. */
    def setup(tag: String): Unit = {
      val ms = Trace.nowMs
      Migrations.migrate(base(tag), Dialect.Derby)
      Trace.record("streaming", "migrate", tag, ms, Trace.nowMs)
      Migrations.migrate(base(s"$tag-warm"), Dialect.Derby)
      Seq("write", "replay").foreach { p =>
        if (!pass(warmStore, base(s"$tag-warm"), s"${ctx.runDir}/ckpt/$tag-warm-$p").ok)
          res.fail(s"warm-up $p $tag failed")
      }
      shutdown(dbDir(s"$tag-warm"))
    }
    def round(tag: String, traced: Boolean, check: Boolean): Round = {
      val url = if (traced) TracingJdbc.traced(base(tag)) else base(tag)
      def timed(name: String): Pass = {
        if (check) HeapPeak.start()
        try pass(storeName, url, s"${ctx.runDir}/ckpt/$tag-$name") finally HeapPeak.stop()
      }
      val w = timed("write")
      if (check && w.ok) verify(res, expected, dbDir(tag), "write")
      val p = timed("replay")
      if (check && p.ok) verify(res, expected, dbDir(tag), "replay")
      if (check) res.detail("db_mb") = Files.sizeMb(dbDir(tag))
      shutdown(dbDir(tag))
      Round(w, p)
    }
    def account(r: Round): Unit = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Seq(r.write, r.replay).foreach { p =>
        res.attempted += ctx.progress.of(p.queryId).size + (if (p.ok) 0 else 1)
        if (!p.ok) res.failed += 1
      }
    }

    Main.say(s"feed: $nBlocks blocks")
    val setupS = Main.timeS(setup("u"))
    val jit = Main.jitCpuS
    val plain = round("u", traced = false, check = true)
    res.detail("jit_cpu_s") = Main.jitCpuS - jit
    account(plain)
    val write = ctx.progress.of(plain.write.queryId).map(_.totalS)
    val replay = ctx.progress.of(plain.replay.queryId).map(_.totalS)
    val tailPct = Stats.tailPercentile(write.size)
    res.e2e("setup_s") = setupS
    res.detail("cpu_s_per_op") = plain.cpuS / math.max(1, write.size + replay.size)
    res.e2e("alloc_mb_per_op") = plain.allocMb / math.max(1, write.size + replay.size)
    res.detail ++= Seq(
      "blocks" -> nBlocks, "feed_rows" -> rows.length,
      "throughput_blocks_per_s" -> 2.0 * nBlocks / plain.wallS,
      "blocks_per_s" -> nBlocks / plain.write.wallS,
      "replay_blocks_per_s" -> nBlocks / plain.replay.wallS,
      "batch_p50_s" -> Stats.median(write),
      "batch_tail_s" -> Stats.quantile(write, tailPct),
      "batch_tail_pct" -> tailPct * 100, "batch_samples" -> write.size,
      "replay_batch_p50_s" -> Stats.median(replay),
      "cpu_s_per_write_batch" -> plain.write.cpuS / math.max(1, write.size),
      "cpu_s_per_replay_batch" -> plain.replay.cpuS / math.max(1, replay.size),
      "batch_samples_s" -> write, "replay_samples_s" -> replay)

    if (ctx.trace) {
      TracingJdbc.register()
      val l = new OpListener
      spark.sparkContext.addSparkListener(l)
      Trace.on = true
      setup("t0")
      val traced = round("t0", traced = true, check = false)
      account(traced)
      derive(ctx, res, byHeight.map(_.toSeq).toSeq)
      Trace.on = false
      spark.sparkContext.removeSparkListener(l)
      layers(ctx, res, l, traced)
      setup("a1")
      val again = round("a1", traced = false, check = false)
      account(again)
      res.layer("bench.trace_overhead_share") = Trace.overheadShare(traced.wallS, plain.wallS, again.wallS)
    }
    res.detail("failed_share") = res.failed.toDouble / math.max(1L, res.attempted)
  }

  private def layers(ctx: Main.Ctx, res: Main.Result, l: OpListener, traced: Round): Unit = {
    val batches = Seq(traced.write, traced.replay).flatMap(p => ctx.progress.of(p.queryId))
    def phase(k: String) = Stats.sum(batches.map(_.durMs.getOrElse(k, 0.0))) / 1000.0 / batches.size
    res.layer("streaming.add_batch_s") = phase("addBatch")
    res.layer("streaming.wal_commit_s") = phase("walCommit")
    res.layer("streaming.latest_offset_s") = phase("latestOffset")
    res.layer("streaming.query_planning_s") = phase("queryPlanning")
    res.layer("streaming.migrate_s") = Stats.median(Trace.spansOf("streaming", "migrate").map(_.durS))
    // JDBC figures cover one round: a write and a replay of the feed
    TracingJdbc.report(res)
    val ops = batches.map(b => Ops.batch(b.queryId, b.batchId) -> (b.startMs, b.startMs + b.totalS * 1000)).toMap
    Layers.spark(res, l, ops, ctx.cores)
  }

  /** `ingest.derive_s`: the five `BlockIngest` derivations materialised
    * on their own over the first micro-batches' worth of blocks. */
  private def derive(ctx: Main.Ctx, res: Main.Result, byHeight: Seq[Seq[FeedRow]]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val samples = byHeight.grouped(64).take(4).toSeq
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val times = samples.map { blocks =>
      val batch = BlockIngest.withId(blocks.flatten.toDS().toDF())
      val derived = Seq(
        "summaries" -> BlockIngest.summaries(batch), "ati" -> BlockIngest.ati(batch),
        "cti" -> BlockIngest.cti(batch), "cis2_deltas" -> BlockIngest.cis2Deltas(batch),
        "bindings" -> BlockIngest.keyBindings(batch))
      val t = System.nanoTime()
      derived.foreach { case (k, df) => counts(k) += df.queryExecution.toRdd.count().toDouble }
      (System.nanoTime() - t) / 1e9
    }
    res.layer("ingest.derive_s") = Stats.median(times)
    counts.foreach { case (k, v) => res.layer(s"ingest.rows.$k") = v / samples.size }
  }

  private def shutdown(dir: String): Unit = {
    try DriverManager.getConnection(s"jdbc:derby:$dir;shutdown=true").close()
    catch { case _: SQLException => () } // Derby reports a clean shutdown as an exception
    Files.delete(new java.io.File(dir))
  }

  /** The five tables as the `BlockIngest` derivation defines them over the
    * same feed: per table a row count and an order-independent content
    * hash, plus the exact running supply per token. */
  final case class Digest(count: Long, hash: Long)
  final case class Expected(tables: Map[String, Digest], supply: Map[String, BigInteger])

  object Expected {
    def apply(feed: DataFrame): Expected = {
      val withId = BlockIngest.withId(feed.drop("id"))
      def digest(df: DataFrame, cols: String*): Digest =
        Files.digest(df.select(cols.map(col): _*).collect().iterator.map(rowKey))
      val tables = Map(
        "summaries" -> digest(BlockIngest.summaries(feed.drop("id")), "id", "block", "timestamp", "height", "summary"),
        "ati" -> digest(BlockIngest.ati(feed.drop("id")), "account", "summary"),
        "cti" -> digest(BlockIngest.cti(feed.drop("id")), "index", "subindex", "summary"),
        "cis2_deltas" -> digest(BlockIngest.cis2DeltaRows(withId), "summary", "seq", "index", "subindex", "token_id", "delta"),
        "bindings" -> digest(BlockIngest.keyBindings(feed.drop("id")), "address", "credential_index", "key_index", "public_key", "is_simple_account"))
      val supply = BlockIngest.cis2Tokens(feed.drop("id")).collect().map { r =>
        s"${r.get(0)}|${r.get(1)}|${r.get(2)}" -> new BigInteger(r.getString(3))
      }.toMap
      Expected(tables, supply)
    }
  }

  private def rowKey(r: Row): String = r.toSeq.map(v => String.valueOf(v)).mkString("\u0001")

  /** Compares the Derby database with the derivation; a mismatch counts
    * as a failed operation. */
  private[perfbench] def verify(res: Main.Result, exp: Expected, dir: String, stage: String): Unit = {
    Main.say(s"verifying $stage")
    res.attempted += 1
    val c = DriverManager.getConnection(s"jdbc:derby:$dir")
    try {
      def digest(sql: String): Digest = {
        val rs = c.createStatement().executeQuery(sql)
        val n = rs.getMetaData.getColumnCount
        Files.digest(Iterator.continually(rs).takeWhile(_.next()).map { r =>
          (1 to n).map(i => String.valueOf(r.getObject(i))).mkString("\u0001")
        })
      }
      val got = Map(
        "summaries" -> digest("SELECT id, block, ts, height, summary FROM summaries"),
        "ati" -> digest("SELECT account, summary FROM ati"),
        "cti" -> digest("SELECT idx, subidx, summary FROM cti"),
        "cis2_deltas" -> digest("SELECT summary, seq, idx, subidx, token_id, delta FROM cis2_deltas"),
        "bindings" -> digest("SELECT address, credential_index, key_index, public_key, is_simple_account FROM bindings"))
      val rs = c.createStatement().executeQuery("SELECT idx, subidx, token_id, total_supply FROM cis2_tokens")
      val supply = Iterator.continually(rs).takeWhile(_.next()).map { r =>
        s"${r.getLong(1)}|${r.getLong(2)}|${r.getString(3)}" -> new BigInteger(r.getString(4))
      }.toMap
      val bad = exp.tables.collect { case (t, d) if got(t) != d => s"$t ${got(t)} != $d" } ++
        (if (supply != exp.supply) Seq(s"cis2_tokens supply differs (${supply.size} vs ${exp.supply.size} tokens)") else Nil)
      if (bad.nonEmpty) res.fail(s"ingest $stage check: ${bad.mkString("; ")}")
    } finally c.close()
  }
}

/** File and digest helpers shared by the workloads. */
object Files {
  def sizeMb(dir: String): Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length
    size(new java.io.File(dir)) / (1024.0 * 1024.0)
  }
  def count(dir: String, suffix: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(suffix)) 1 else 0
    walk(new java.io.File(dir))
  }
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
  /** Row count plus the wrapping sum of per-row hashes. */
  def digest(rows: Iterator[String]): IngestWorkload.Digest = {
    var n = 0L; var h = 0L
    rows.foreach { r => n += 1; h += MurmurHash3.stringHash(r).toLong * 0x9E3779B97F4A7C15L }
    IngestWorkload.Digest(n, h)
  }
}
