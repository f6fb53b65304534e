package perfbench

import scala.collection.mutable

import graft.{CacheScope, SparkEntry}

/** `analytics`: the operator layer, reached through `SparkEntry.queries`.
  * A fixed list of queries runs in passes over one generated data set,
  * each query materialised with `queryExecution.toRdd`: the shingle
  * set-similarity join (`md`), three small queries that pay mostly job
  * overhead (`hm`, `scr`, `a4c`) and one relational query (`qn`). Set-up
  * is [[WarmPasses]] untimed passes, which compile the generated code. The
  * timed passes then take about `--seconds`, at least three. After
  * the timed part, `graft.Verify` writes every query's result for the
  * DuckDB oracle comparison `run.py` makes with `tools/compare.py`. */
object AnalyticsWorkload {
  val Queries: Seq[String] = Seq("md", "hm", "scr", "qn", "a4c")

  /** Timed passes per run, at least: the median pass (`queries_s`) needs
    * three. */
  val MinPasses = 3
  /** Seconds of `--seconds` per timed pass: four passes at 8 s, though a
    * warm pass takes 2.1–3.4 s on 4 cores, so that the CPU and allocation
    * per query average over more than the least warm passes. */
  val PassS = 2.0
  /** Untimed passes in set-up. After one, the JIT compiler still used
    * about two cores through the timed passes, and each pass was faster
    * than the one before. */
  val WarmPasses = 3

  type Pass = Seq[(String, Option[Double])]

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val dir = ctx.dataDir
    val fns = SparkEntry.queries

    val spans = mutable.Map.empty[String, (Double, Double)]
    /** Runs one query; its wall seconds, or None when it threw. */
    def exec(name: String, group: String): Option[Double] = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val s = Trace.nowMs
      try {
        fns(name)(spark, dir).queryExecution.toRdd.foreach(_ => ())
        val e = Trace.nowMs
        spans(group) = (s, e)
        Some((e - s) / 1000.0)
      } catch {
        case e: Exception =>
          res.problems += s"$name failed: ${e.getMessage.take(200)}"
          None
      } finally {
        CacheScope.release()
        sc.clearJobGroup()
      }
    }
    def pass(tag: String): Pass = Queries.map(q => q -> exec(q, s"q:$q:$tag"))
    /** One pass per [[PassS]] of `ctx.seconds`, at least [[MinPasses]]. The
      * count depends on `--seconds` only: a run that stopped on the clock
      * would make more of the cheaper, later passes when the host is quiet. */
    def timed(tag: String): (Seq[Pass], Double) = {
      val t = System.nanoTime()
      val n = math.max(MinPasses, (ctx.seconds / PassS).round.toInt)
      val passes = (0 until n).map(i => pass(s"$tag$i"))
      (passes, (System.nanoTime() - t) / 1e9)
    }
    def passS(p: Pass): Double = Stats.sum(p.flatMap(_._2))

    res.e2e("setup_s") = Main.timeS((0 until WarmPasses).foreach(i => pass(s"warm$i")))

    HeapPeak.start()
    val (cpu, jit, alloc) = (Main.cpuS, Main.jitCpuS, Main.allocMb)
    val (plain, wallS) = timed("p")
    res.detail("cpu_s_per_op") = (Main.cpuS - cpu) / (plain.size * Queries.size)
    res.e2e("alloc_mb_per_op") = (Main.allocMb - alloc) / (plain.size * Queries.size)
    res.detail("jit_cpu_s") = Main.jitCpuS - jit
    HeapPeak.stop()
    val all = plain.flatten
    res.attempted += all.size
    res.failed += all.count(_._2.isEmpty)
    val times = all.flatMap(_._2)
    val tailPct = Stats.tailPercentile(times.size)
    res.detail ++= Seq(
      "queries" -> Queries.size, "passes" -> plain.size, "queries_per_s" -> times.size / wallS,
      "queries_s" -> Stats.median(plain.map(passS)), "pass_samples_s" -> plain.map(passS),
      "query_p50_s" -> Stats.median(times), "query_tail_s" -> Stats.quantile(times, tailPct),
      "query_tail_pct" -> tailPct * 100, "query_samples" -> times.size,
      "per_query_median_s" -> Queries.map(q => q -> Stats.median(all.filter(_._1 == q).flatMap(_._2))).toMap)

    if (ctx.trace) {
      val l = new OpListener
      sc.addSparkListener(l)
      Trace.on = true
      val (traced, _) = timed("t")
      org.apache.spark.PerfbenchBus.drain(sc)
      Trace.on = false
      sc.removeSparkListener(l)
      Queries.foreach { q =>
        val keys = traced.indices.map(i => s"q:$q:t$i")
        val st = keys.flatMap(k => Option(l.ops.get(k)))
        res.layer(s"ext.${q}_s") = Stats.median(traced.flatten.filter(_._1 == q).flatMap(_._2))
        res.layer(s"ext.${q}_jobs") = Stats.sum(st.map(_.jobs.get.toDouble)) / traced.size
        res.layer(s"ext.${q}_shuffle_mb") =
          Stats.sum(st.map(_.shuffleBytes.sum)) / (1024.0 * 1024.0) / traced.size
      }
      Layers.spark(res, l, spans.toMap.filter(_._1.matches("q:\\w+:t\\d+")), ctx.cores)
      val (again, _) = timed("a")
      res.layer("bench.trace_overhead_share") = Trace.overheadShare(Stats.median(traced.map(passS)),
        Stats.median(plain.map(passS)), Stats.median(again.map(passS)))
    }

    // Results for the oracle comparison; graft.Verify stops the session.
    res.attempted += Queries.size
    graft.Verify.main(Array(dir, s"${ctx.runDir}/verify", Queries.mkString(",")))
  }
}
