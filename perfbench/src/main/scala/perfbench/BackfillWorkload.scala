package perfbench

import org.apache.spark.sql.functions.max

import graft.streaming.{Dialect, Migrations, TransactionalSink}

/** `backfill`, run by hand and not listed in BENCHMARK.json: one
  * `TransactionalSink.writeBatch` call over the whole feed into a fresh
  * database, the documented batch-backfill use. A call that throws
  * scores 0 blocks and counts as the one failed operation; a call that
  * completes is checked against the `BlockIngest` derivation like
  * `ingest`. A traced run repeats the call through the JDBC wrapper. */
object BackfillWorkload {
  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    val feed = graft.Tables.feed(spark, ctx.dataDir).drop("id")
    val nBlocks = feed.agg(max("height")).collect()(0).getLong(0) + 1
    def dir(tag: String) = s"${ctx.runDir}/derby/$tag"
    def url(tag: String) = s"jdbc:derby:${dir(tag)};create=true"
    res.e2e("setup_s") = Main.timeS(Migrations.migrate(url("b"), Dialect.Derby))

    /** One backfill call; its wall and CPU seconds and whether it completed. */
    def call(target: String): (Double, Double, Boolean) = {
      res.attempted += 1
      val t = System.nanoTime()
      val cpu = Main.cpuS
      val ok = try { TransactionalSink.writeBatch(feed, target, Dialect.Derby); true } catch {
        case e: Exception =>
          res.fail(s"backfill call failed: ${e.getClass.getSimpleName}: ${e.getMessage.take(300)}")
          false
      }
      ((System.nanoTime() - t) / 1e9, Main.cpuS - cpu, ok)
    }
    val (wallS, cpuS, ok) = call(url("b"))
    if (ok) IngestWorkload.verify(res, IngestWorkload.Expected(feed), dir("b"), "backfill")
    res.detail ++= Seq("blocks" -> nBlocks, "wall_s" -> wallS,
      "blocks_per_s" -> (if (ok) nBlocks / wallS else 0.0),
      "failed_share" -> res.failed.toDouble / res.attempted)
    res.detail("cpu_s_per_op") = cpuS

    if (ctx.trace) {
      TracingJdbc.register()
      Migrations.migrate(url("t"), Dialect.Derby)
      Trace.on = true
      val (tracedS, _, _) = call(TracingJdbc.traced(url("t")))
      Trace.on = false
      TracingJdbc.report(res)
      res.layer("bench.trace_overhead_share") = tracedS / wallS - 1.0
    }
  }
}
