package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: `--workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --run <dir> --out <file>`.
  * `run.py` builds the classpath, generates the inputs under `--data` and
  * turns the result file written to `--out` into the benchmark's result
  * line. Every scratch directory of the run lives under `--run`. */
object Main {
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                       trace: Boolean, dataDir: String, runDir: String,
                       cores: Int, progress: ProgressListener)

  /** What a workload reports. `e2e` holds the user-visible metrics,
    * `layer` the per-layer ones (traced runs only), `detail` the
    * workload's own named figures and sample counts. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    def fail(msg: String): Unit = { failed += 1; problems += msg }
  }

  private val started = System.nanoTime()
  /** Progress line on stderr, with seconds since the JVM started. */
  def say(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  /** CPU seconds the JVM has used so far on the program's work: every
    * thread except the JIT compiler's, whose share depends on how warm the
    * code happens to be. The kernel leaves out of a thread's run time the
    * time the hypervisor gave to other guests (steal), so unlike wall time
    * this figure does not grow with steal; it still grows when other
    * guests slow the shared cores down. */
  def cpuS: Double = processCpuS - jitCpuS

  private def processCpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** MB the JVM's threads have allocated on the heap so far, those that
    * have ended included. */
  def allocMb: Double = java.lang.management.ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes / (1024.0 * 1024.0)
    case _ => Double.NaN
  }

  /** Run time of the JIT compiler threads, from `/proc/self/task` (0
    * where that is not available). `run.py` keeps their number fixed, so
    * none ends and takes its run time with it. */
  def jitCpuS: Double = {
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty[java.io.File])
      .iterator.map { t =>
        try {
          if (read(new java.io.File(t, "comm")).contains("CompilerThre"))
            read(new java.io.File(t, "schedstat")).trim.split(" ")(0).toLong / 1e9
          else 0.0
        } catch { case _: java.io.IOException => 0.0 }
      }.sum
  }

  /** Wall seconds of `body`. */
  def timeS(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Bench.scratchLocalDir())
      .config("spark.sql.warehouse.dir", s"${opts("run")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("data"), opts("run"), cores, progress)

    val res = new Result
    try {
      workload match {
        case "ingest" => IngestWorkload.run(ctx, res)
        case "serve" => ServeWorkload.run(ctx, res)
        case "analytics" => AnalyticsWorkload.run(ctx, res)
        case "backfill" => BackfillWorkload.run(ctx, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        res.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    res.detail("heap_peak_mb") = HeapPeak.mb()
    res.detail("heap_peak_gcs") = HeapPeak.collections
    res.detail("session_s") = sessionS
    if (ctx.trace) {
      Layers.fill(res)
      val traces = new java.io.File(opts("run")).getAbsoluteFile.getParentFile.getParentFile
      Trace.dump(new java.io.File(traces, s"traces/$workload-seed${ctx.seed}.jsonl"))
    }
    val out = Map(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "problems" -> res.problems.take(20).toSeq,
      "e2e" -> res.e2e, "layer" -> res.layer, "detail" -> res.detail,
      "host" -> Host.describe(spark, cores))
    val f = new java.io.File(opts("out"))
    java.nio.file.Files.write(f.toPath, Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }
}

/** The machine and software every result was measured on. */
object Host {
  def describe(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "cores" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "derby" -> jarVersion("derby"),
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")

  /** Version of the `<name>-<version>.jar` on the classpath. */
  private def jarVersion(name: String): String = {
    val re = s"""$name-(\\d[\\w.]*)\\.jar""".r
    System.getProperty("java.class.path").split(java.io.File.pathSeparator)
      .map(p => new java.io.File(p).getName)
      .collectFirst { case re(v) => v }.getOrElse("unknown")
  }
}

/** The fixed set of per-layer metric names every traced run reports; a
  * layer a workload does not reach reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "bench.generator_late_p99_s", "bench.trace_overhead_share",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
    "spark.driver_idle_s", "spark.utilisation",
    "spark.shuffle_write_mb", "spark.input_rows",
    "ingest.derive_s", "ingest.rows.summaries", "ingest.rows.ati",
    "ingest.rows.cti", "ingest.rows.cis2_deltas", "ingest.rows.bindings",
    "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.latest_offset_s", "streaming.query_planning_s",
    "streaming.migrate_s", "streaming.jdbc_commits",
    "streaming.jdbc_commit_p50_s", "streaming.jdbc_commit_p99_s") ++
    TracingJdbc.Tables.map(t => s"streaming.jdbc_exec_s.$t") ++ Seq(
    "streaming.jdbc_supply_s", "streaming.jdbc_cas_retries",
    "streaming.jdbc_rollbacks", "streaming.jdbc_deadlocks",
    "streaming.rows_inserted_share",
    "sources.mirror_build_s", "sources.mirror_files", "sources.mirror_mb",
    "query.ids_s", "query.lookup_s", "query.files_read_per_page",
    "query.rows_read_per_row_returned") ++
    AnalyticsWorkload.Queries.flatMap(q => Seq(s"ext.${q}_s", s"ext.${q}_jobs", s"ext.${q}_shuffle_mb"))

  def fill(res: Main.Result): Unit = names.foreach { n =>
    val v = res.layer.getOrElse(n, 0.0)
    res.layer(n) = if (v.isNaN || v.isInfinite) 0.0 else v
  }

  /** The Spark per-operation figures over the traced operations `ops`
    * (key → (start ms, end ms)), averaged per operation; each job is
    * recorded as a child span of its operation. */
  def spark(res: Main.Result, l: OpListener, ops: Map[String, (Double, Double)],
            cores: Int): Unit = {
    import scala.jdk.CollectionConverters._
    if (ops.isEmpty) return
    val n = ops.size.toDouble
    val st = ops.keys.flatMap(k => Option(l.ops.get(k))).toSeq
    def tot(f: OpListener.OpStats => Double) = Stats.sum(st.map(f))
    res.layer("spark.jobs_per_op") = tot(_.jobs.get.toDouble) / n
    res.layer("spark.stages_per_op") = tot(_.stages.get.toDouble) / n
    res.layer("spark.tasks_per_op") = tot(_.tasks.get.toDouble) / n
    res.layer("spark.task_run_s") = tot(_.runMs.sum) / 1000.0 / n
    res.layer("spark.task_cpu_s") = tot(_.cpuNs.sum) / 1e9 / n
    res.layer("spark.task_gc_s") = tot(_.gcMs.sum) / 1000.0 / n
    res.layer("spark.shuffle_write_mb") = tot(_.shuffleBytes.sum) / (1024.0 * 1024.0) / n
    res.layer("spark.input_rows") = tot(_.inputRows.sum) / n
    val spanIds = ops.map { case (k, (s, e)) => k -> Trace.record("bench", "op", k, s, e) }
    l.recordJobSpans(spanIds)
    // self time of an operation span: its length minus the union of its jobs
    val jobsByOp = l.jobs.values().asScala.toSeq.filter(j => !j.endMs.isNaN).groupBy(_.op)
    val idle = ops.map { case (k, (s, e)) =>
      (e - s) - Stats.covered(s, e, jobsByOp.getOrElse(k, Nil).map(j => (j.startMs, j.endMs)))
    }
    res.layer("spark.driver_idle_s") = Stats.sum(idle) / 1000.0 / n
    val wallMs = ops.values.map(_._2).max - ops.values.map(_._1).min
    res.layer("spark.utilisation") = tot(_.runMs.sum) / (wallMs * cores)
  }
}
