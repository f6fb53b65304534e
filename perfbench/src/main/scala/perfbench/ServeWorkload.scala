package perfbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Tables
import graft.query.QueryApi
import graft.sources.ServingMirrors

/** `serve`: the paper's read path. Page requests are due open-loop at the
  * fixed rate [[Rate]] pages/s, with at most one request in flight per
  * core; each is timed from the moment it was due. Three account pages
  * (`QueryApi.accountPageServed`) to one contract page
  * (`contractPageServed`), page size 50, keys uniform over the accounts
  * and contracts of the data, cursors in equal shares first page
  * ascending, last page descending and a mid-history keyset cursor. Keys,
  * cursors and their order come from the seed. The bucketed mirrors
  * are built in set-up. */
object ServeWorkload {
  /** Offered load, pages per second: about 35% of what one client per
    * core sustains closed-loop (8.6 pages/s on 4 cores). */
  val Rate = 3.0
  val PageSize = 50
  /** Warm-up pages served in each set-up. */
  val WarmPages = 36
  /** Pages compared with the scan path after the timed part. */
  val Checked = 8
  val SloS = 0.5

  type Mirrors = ((DataFrame, DataFrame), (DataFrame, DataFrame))

  /** The key space pages are drawn from, read from the mirrors: every
    * account and contract, and the highest transaction id. */
  final case class Keys(accounts: IndexedSeq[Long], contracts: IndexedSeq[(Long, Long)], maxId: Long)
  object Keys {
    def apply(m: Mirrors): Keys = {
      val ((atiM, _), (ctiM, _)) = m
      Keys(atiM.select("account").distinct().collect().map(_.getLong(0)).sorted.toIndexedSeq,
        ctiM.select("index", "subindex").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toIndexedSeq,
        atiM.agg(org.apache.spark.sql.functions.max("summary")).collect()(0).getLong(0))
    }
  }

  final case class Req(i: Int, dueS: Double, account: Option[Long],
                       contract: Option[(Long, Long)], from: Long, asc: Boolean)
  final case class Done(req: Req, startS: Double, endS: Double, idsS: Double,
                        ok: Boolean, rows: Seq[Row])

  /** `n` requests due every `intervalS` seconds. The mix is exact: every
    * run of four requests holds three account pages and one contract page,
    * and every run of twelve holds each cursor kind four times; the order
    * is shuffled. */
  def requests(seed: Long, n: Int, intervalS: Double, keys: Keys): Seq[Req] = {
    import keys._
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val kinds = new java.util.ArrayList[(Boolean, Int)]()
    (0 until n).foreach(i => kinds.add((i % 4 < 3, (i / 4) % 3)))
    java.util.Collections.shuffle(kinds, rnd)
    (0 until n).map { i =>
      val (isAccount, cursor) = kinds.get(i)
      val acct = if (isAccount) Some(accounts(rnd.nextInt(accounts.size))) else None
      val ctr = if (isAccount) None else Some(contracts(rnd.nextInt(contracts.size)))
      val (from, asc) = cursor match {
        case 0 => (0L, true)
        case 1 => (Long.MaxValue, false)
        case _ => ((rnd.nextDouble() * maxId).toLong, rnd.nextBoolean())
      }
      Req(i, i * intervalS, acct, ctr, from, asc)
    }
  }

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    val d = ctx.dataDir
    // Set-up: the bucketed mirrors, the key space read from them, and
    // warm-up pages, all due at once so they run with one per core in
    // flight like the timed part and compile the same code paths.
    val t0 = System.nanoTime()
    val m = (ServingMirrors.atiSummaries(spark, d), ServingMirrors.ctiSummaries(spark, d))
    val mirrorS = (System.nanoTime() - t0) / 1e9
    val keys = Keys(m)
    Main.say(s"mirrors built: ${keys.accounts.size} accounts, ${keys.contracts.size} contracts")
    serve(ctx, m, requests(ctx.seed + 1, WarmPages, 0.0, keys))
    val setupS = (System.nanoTime() - t0) / 1e9
    res.e2e("setup_s") = setupS
    res.detail("mirror_mb") = Files.sizeMb("target/graft-scratch")

    val n = math.max(1, (Rate * ctx.seconds).round.toInt)
    val reqs = requests(ctx.seed, n, 1.0 / Rate, keys)
    HeapPeak.start()
    val (cpu, jit, alloc) = (Main.cpuS, Main.jitCpuS, Main.allocMb)
    val plain = serve(ctx, m, reqs)
    res.detail("cpu_s_per_op") = (Main.cpuS - cpu) / reqs.size
    res.e2e("alloc_mb_per_op") = (Main.allocMb - alloc) / reqs.size
    res.detail("jit_cpu_s") = Main.jitCpuS - jit
    HeapPeak.stop()
    Main.say("timed part done")
    report(ctx, res, plain)
    Main.say("checked")

    if (ctx.trace) {
      val l = new OpListener
      val scans = new ScanCounter
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(scans)
      Trace.on = true
      val traced = serve(ctx, m, reqs)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Trace.on = false
      spark.listenerManager.unregister(scans)
      spark.sparkContext.removeSparkListener(l)
      val pages = traced.done.filter(_.ok)
      res.layer("bench.generator_late_p99_s") = Stats.quantile(traced.lateS, 0.99)
      res.layer("query.ids_s") = Stats.median(pages.map(_.idsS))
      res.layer("query.lookup_s") = Stats.median(pages.map(p => p.endS - p.startS - p.idsS))
      res.layer("query.files_read_per_page") = scans.files.get.toDouble / math.max(1, pages.size)
      res.layer("query.rows_read_per_row_returned") =
        scans.rows.get.toDouble / math.max(1, pages.map(_.rows.size).sum)
      res.layer("sources.mirror_build_s") = mirrorS
      res.layer("sources.mirror_files") = Files.count("target/graft-scratch", ".parquet").toDouble
      res.layer("sources.mirror_mb") = Files.sizeMb("target/graft-scratch")
      val ops = traced.done.map(p => s"page:${p.req.i}" -> (p.startS * 1000 + traced.t0Ms, p.endS * 1000 + traced.t0Ms)).toMap
      Layers.spark(res, l, ops, ctx.cores)
      def serviceS(s: Served) = Stats.median(s.done.map(p => p.endS - p.startS))
      val again = serve(ctx, m, reqs)
      res.layer("bench.trace_overhead_share") =
        Trace.overheadShare(serviceS(traced), serviceS(plain), serviceS(again))
    }
  }

  /** Serves one page: the page-id call, which runs the id job, and the
    * lookup still to be collected, with the call's wall seconds. */
  private def page(m: Mirrors, r: Req): (DataFrame, Double) = {
    val ((atiM, sumM), (ctiM, _)) = m
    val t = System.nanoTime()
    val df = r.account match {
      case Some(a) => QueryApi.accountPageServed(atiM, sumM, lit(a), r.from, PageSize, r.asc)
      case None =>
        val (ix, sub) = r.contract.get
        QueryApi.contractPageServed(ctiM, sumM, ix, sub, r.from, PageSize, r.asc)
    }
    (df, (System.nanoTime() - t) / 1e9)
  }

  final case class Served(done: Seq[Done], lateS: Seq[Double], t0Ms: Double)

  /** Issues `reqs` on their schedule with one worker per core. */
  private def serve(ctx: Main.Ctx, m: Mirrors,
                    reqs: Seq[Req]): Served = {
    val pool = Executors.newFixedThreadPool(ctx.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val sc = ctx.spark.sparkContext
    val t0 = System.nanoTime()
    val t0Ms = Trace.nowMs
    def now = (System.nanoTime() - t0) / 1e9
    val late = mutable.ArrayBuffer.empty[Double]
    val futures = reqs.map { r =>
      val wait = r.dueS - now
      if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
      late += math.max(0.0, now - r.dueS)
      Future {
        sc.setJobGroup(s"page:${r.i}", s"page ${r.i}", interruptOnCancel = false)
        val start = now
        try {
          val (df, idsS) = page(m, r)
          val rows = df.collect().toSeq
          Done(r, start, now, idsS, ok = true, rows)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] page ${r.i} failed: ${e.getMessage}")
            Done(r, start, now, 0.0, ok = false, Nil)
        } finally sc.clearJobGroup()
      }
    }
    val done = futures.map(f => Await.result(f, Duration.Inf))
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    Served(done, late.toSeq, t0Ms)
  }

  /** Latency from due time, SLO share and the output check: every page
    * must be ordered by id in its direction and at most a page long, and
    * the first [[Checked]] pages must equal the scan path
    * (`accountTransactions` / `contractTransactions`) for the same key
    * and cursor. */
  private def report(ctx: Main.Ctx, res: Main.Result, s: Served): Unit = {
    val spark = ctx.spark
    // the derived tables are cached for the checks and dropped after them
    val ati = Tables.ati(spark, ctx.dataDir).cache()
    val cti = Tables.cti(spark, ctx.dataDir).cache()
    val sums = Tables.summaries(spark, ctx.dataDir).cache()
    val correct = s.done.map { p =>
      val ids = p.rows.map(_.getLong(0))
      val ordered = ids == (if (p.req.asc) ids.sorted else ids.sorted.reverse)
      val matches = p.req.i >= Checked || !p.ok || {
        val want = (p.req.account match {
          case Some(a) => QueryApi.accountTransactions(ati, sums, lit(a), p.req.from, Some(PageSize), p.req.asc)
          case None =>
            val (ix, sub) = p.req.contract.get
            QueryApi.contractTransactions(cti, sums, ix, sub, p.req.from, Some(PageSize), p.req.asc)
        }).collect().toSeq
        want == p.rows
      }
      val ok = p.ok && ordered && ids.size <= PageSize && matches
      if (!ok) res.fail(s"page ${p.req.i} wrong or failed (ok=${p.ok} ordered=$ordered matches=$matches)")
      ok
    }
    Seq(ati, cti, sums).foreach(_.unpersist())
    res.attempted += s.done.size
    val lat = s.done.map(p => p.endS - p.req.dueS)
    val okLat = s.done.zip(correct).collect { case (p, true) => p.endS - p.req.dueS }
    val tailPct = Stats.tailPercentile(s.done.size)
    val elapsed = s.done.map(_.endS).max
    res.detail ++= Seq(
      "rate_per_s" -> Rate, "pages_per_s" -> s.done.count(_.ok) / elapsed,
      "pages" -> s.done.size, "page_size" -> PageSize,
      "accounts" -> s.done.count(_.req.account.isDefined),
      "page_p50_s" -> Stats.median(lat), "page_tail_s" -> Stats.quantile(lat, tailPct),
      "page_tail_pct" -> tailPct * 100, "page_slo_share" -> okLat.count(_ <= SloS).toDouble / s.done.size,
      "service_p50_s" -> Stats.median(s.done.map(p => p.endS - p.startS)),
      "generator_late_p99_s" -> Stats.quantile(s.lateS, 0.99),
      "checked_pages" -> math.min(Checked, s.done.size),
      "failed_share" -> res.failed.toDouble / math.max(1L, res.attempted))
  }

  /** Files and rows read by every file scan of every finished query. */
  final class ScanCounter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val files = new AtomicLong()
    val rows = new AtomicLong()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        s.metrics.get("numFiles").foreach(m => files.addAndGet(m.value))
        s.metrics.get("numOutputRows").foreach(m => rows.addAndGet(m.value))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
