package perfbench

import java.lang.management.ManagementFactory
import java.time.Instant
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans and counters recorded at the benchmark's own calls
  * into each layer. Times are epoch milliseconds (doubles), the clock
  * Spark's listener events use, so job spans and operation spans can be
  * intersected. Spans are kept in memory and written out at the end. */
object Trace {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        op: String, startMs: Double, endMs: Double) {
    def durS: Double = (endMs - startMs) / 1000.0
  }

  /** Whether the per-layer probes (JDBC wrapper, Spark listener) record. */
  @volatile var on = false

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  def add(name: String, v: Double = 1.0): Unit =
    if (on) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def count(name: String): Double = Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def sample(name: String, v: Double): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def record(layer: String, name: String, op: String, startMs: Double,
             endMs: Double, parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (on) spans.add(Span(id, parent, layer, name, op, startMs, endMs))
    id
  }

  /** Tracing overhead as a share: a traced timed part against the mean of
    * the untraced ones run before and after it, so the JIT warming up over
    * the run does not favour the part that runs later. */
  def overheadShare(traced: Double, before: Double, after: Double): Double =
    traced / ((before + after) / 2) - 1.0

  def spansOf(layer: String, name: String): Seq[Span] =
    spans.asScala.filter(s => s.layer == layer && s.name == name).toSeq

  /** Writes every span as one JSON line. */
  def dump(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}","op":"${Json.esc(s.op)}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}

/** Per-operation Spark accounting. Every timed operation runs in its own
  * job group (streaming micro-batches are keyed by their batch id), so
  * jobs, stages, tasks, CPU, GC and shuffle bytes are attributed to the
  * operation that caused them; each job is also recorded as a span whose
  * parent is its operation. */
final class OpListener extends SparkListener {
  import OpListener._
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  val ops = new ConcurrentHashMap[String, OpStats]()
  private def stats(op: String) = ops.computeIfAbsent(op, _ => new OpStats)

  private def opOf(p: java.util.Properties): String = {
    if (p == null) return "none"
    Ops.streamBatch(p.getProperty)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobs.put(e.jobId, new Job(op, e.time.toDouble, Double.NaN))
    e.stageIds.foreach(stageOp.put(_, op))
    stats(op).jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => stats(op).stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = Option(stageOp.get(e.stageId)).getOrElse("none")
    val s = stats(op)
    s.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      s.runMs.add(m.executorRunTime.toDouble)
      s.cpuNs.add(m.executorCpuTime.toDouble)
      s.gcMs.add(m.jvmGCTime.toDouble)
      s.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.inputRows.add(m.inputMetrics.recordsRead.toDouble)
    }
  }

  def recordJobSpans(opSpanIds: Map[String, Long]): Unit =
    jobs.asScala.foreach { case (id, j) =>
      if (!j.endMs.isNaN)
        Trace.record("spark", s"job-$id", j.op, j.startMs, j.endMs,
          opSpanIds.getOrElse(j.op, 0L))
    }
}

object OpListener {
  final class Job(val op: String, val startMs: Double, @volatile var endMs: Double)
  final class OpStats {
    val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
    val runMs = new DoubleAdder; val cpuNs = new DoubleAdder; val gcMs = new DoubleAdder
    val shuffleBytes = new DoubleAdder; val inputRows = new DoubleAdder
  }
}

/** Micro-batch progress from the public streaming listener: the source of
  * the ingest batch latencies (traced or not) and of the per-phase
  * `durationMs` split. */
final class ProgressListener extends StreamingQueryListener {
  import ProgressListener.Batch
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(Batch(p.id.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
        p.numInputRows))
  }
  def of(queryId: String): Seq[Batch] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
}

object ProgressListener {
  final case class Batch(queryId: String, batchId: Long, startMs: Double,
                         durMs: Map[String, Double], rows: Long) {
    def totalS: Double = durMs.getOrElse("triggerExecution", 0.0) / 1000.0
  }
}

/** Peak old-generation occupancy after a collection during the timed
  * part of a run: the largest old-generation use any GC leaves behind
  * while [[start]] is in effect, read from the JVM's GC notifications, so
  * no collection is forced. A timed part without any GC reports the
  * old-generation use after the last collection before it. */
object HeapPeak {
  @volatile private var watching = false
  private val peak = new AtomicLong(0)
  private val gcs = new AtomicLong(0)
  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener((n: Notification, _: AnyRef) =>
          if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            gcs.incrementAndGet()
            GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
              .foreach { case (pool, u) => if (isOld(pool)) peak.accumulateAndGet(u.getUsed, math.max) }
          }, null, null)
      case _ => ()
    }

  def start(): Unit = {
    installed
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .flatMap(p => Option(p.getCollectionUsage))
      .foreach(u => peak.accumulateAndGet(u.getUsed, math.max))
    watching = true
  }
  def stop(): Unit = watching = false
  def mb(): Double = peak.get / (1024.0 * 1024.0)
  /** Collections seen while watching. */
  def collections: Long = gcs.get
}

/** Operation keys shared by the listener, the JDBC wrapper and the
  * workloads. */
object Ops {
  /** `batch:<query id>:<batch id>` for jobs and tasks of a streaming
    * micro-batch, from the local properties Spark sets on them. */
  def streamBatch(prop: String => String): Option[String] =
    for {
      b <- Option(prop("streaming.sql.batchId"))
      q <- Option(prop("sql.streaming.queryId"))
    } yield s"batch:$q:$b"
  def batch(queryId: String, batchId: Long): String = s"batch:$queryId:$batchId"
}
