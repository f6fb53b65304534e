package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.{BlockFeed, BlockIngest}
import graft.sources.Scratch

/** Readers for the driver testdata tables and the derived reference-schema
  * tables (SURVEY §1.2) over them. All lazy DataFrame plans — Catalyst
  * prunes columns/pushes filters into the parquet scans of whatever query
  * is built on top. */
object Tables {
  /** A driver testdata table, spread by [[spread]] if it is one of
    * [[SpreadTables]]. A single regular file is read with its schema
    * given, so building the frame runs no Spark job: the schema is
    * inferred (one footer-reading job) the first time a key is seen and
    * memoized under that key. The key is the file's fingerprint as
    * [[Scratch.key]] computes it (canonical path, length, mtime — a file
    * regenerated in place is re-inferred) plus the session's parquet
    * read settings at call time (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`), which
    * decide the inferred types: [[events]] sets `nanosAsLong`, under
    * which a TIMESTAMP(NANOS) column infers as a long. Directories (a
    * Spark-written table) bypass the memo and keep the plain inferring
    * `spark.read.parquet`. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = parquet(spark, path)
    if (SpreadTables(name)) spread(spark, path, df) else df
  }

  /** Tables whose consumers run CPU-heavy per-row kernels before their
    * first shuffle (media payload synthesis + decode, chat render,
    * shingle/minhash/token construction, the feed's envelope parse) —
    * the ones the scan-parallelism floor provably helps. The TPC-H
    * relational tables are deliberately NOT spread: their queries are
    * join/agg-bound codegen arithmetic, and measurement showed the
    * extra exchange is pure cost there (qn — which scans lineitem
    * twice after decorrelation — read 0.9 s unspread vs 1.9 s spread,
    * with no relational query gaining more than noise). */
  private val SpreadTables = Set("documents", "embeddings", "events")

  /** The documents scan WITHOUT the parallelism floor — for consumers
    * that project only the 8-byte id as an iterative operator's seed
    * (the graph family): there is no CPU-heavy scan kernel for the
    * spread to parallelize there, and each checkpointed sweep JOB
    * replays the seed lineage, so the spread exchange was pure repeated
    * cost (hits: isolated min 2.6 s unspread vs 4.3 s spread). */
  def documentsSeed(s: SparkSession, d: String): DataFrame =
    parquet(s, s"$d/documents.parquet")

  /** The one parquet reader of this object, with the schema memo
    * described at [[read]]. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    if (fileBytes(path).isEmpty) spark.read.parquet(path)
    else {
      val settings = spark.conf.getAll.toSeq.filter { case (k, _) =>
        ReadSettings.exists(k.startsWith)
      }.sorted.map { case (k, v) => s"$k=$v" }
      val key = Scratch.key(path, settings: _*)
      // no lock across the inference job; a rare duplicate is harmless
      val schema = Option(schemas.get(key)).getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.putIfAbsent(key, inferred)
        inferred
      }
      spark.read.schema(schema).parquet(path)
    }

  private val ReadSettings = Seq("spark.sql.parquet.",
    "spark.sql.legacy.parquet.", "spark.sql.caseSensitive")

  /** Inferred schemas by [[parquet]]'s key. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]

  /** The size of `path` if it is one regular local file. */
  private def fileBytes(path: String): Option[Long] =
    try {
      val file = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isRegularFile(file))
        Some(java.nio.file.Files.size(file))
      else None
    } catch { case _: Exception => None }

  /** Scale-adaptive scan-parallelism floor (optimization guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read" / §6 scan parallelism). The testdata tables are
    * ONE parquet file of well under `maxPartitionBytes` each, so every
    * scan is a single task — and the CPU-heavy per-row kernels that run
    * BEFORE the first shuffle (media payload synthesis + decode, chat
    * render, shingle/minhash construction) ran serially on one core
    * while the other 31 idled (measured: 671/720 executor-thread jstack
    * samples parked during `mvd`). A round-robin exchange of the seed
    * rows costs microseconds at this size and unlocks the whole box.
    *
    * Scale discipline: the spread fires ONLY when the table is one
    * regular local file under [[SpreadMaxBytes]], so at production
    * scale — where the table has at least one split per core by
    * construction — this is the identity and no corpus-sized input is
    * ever shuffled. Directories (a Spark-written parquet table, whose
    * `Files.size` is the inode's, not the data's) and non-local paths
    * (no cheap size probe) skip the spread. Broadcast-sized dimension
    * tables never reach this code — [[SpreadTables]] gates by table.
    *
    * Lower bound: a file under [[SpreadMinBytes]] (the 26–65 KB
    * `events` and `documents` of sf0.001) is read by one task that feeds
    * its consumer directly: a fan-out there bought no parallel kernel
    * work and cost a one-task map stage, a sort page before the
    * repartition and one aggregation or sort page per downstream task.
    * A larger file is spread over every core, whatever the core count.
    * The plan shape is thus not the same at every SF; graft.Bench's
    * untimed sf0.001 JIT warm runs under [[spreadSizedBy]] the timed SF,
    * so it compiles the plan the timed run executes. */
  private def spread(spark: SparkSession, path: String,
                     df: DataFrame): DataFrame = {
    val sized = spreadSizedBy.value
      .fold(path)(d => s"$d/${new java.io.File(path).getName}")
    val cores = spark.sparkContext.defaultParallelism
    if (fileBytes(sized).exists(b => b >= SpreadMinBytes && b < SpreadMaxBytes) &&
        cores > 1) df.repartition(cores)
    else df
  }

  /** While set, [[spread]] decides by the size of the same-named file in
    * this directory instead of the one read: a query built over sf0.001
    * gets the exchanges it would get over that SF. */
  private[graft] val spreadSizedBy = new scala.util.DynamicVariable[Option[String]](None)

  /** Largest single-file table [[spread]] still round-robins. */
  private val SpreadMaxBytes = 64L * 1024 * 1024

  /** Smallest single-file table [[spread]] round-robins: above the
    * sf0.001 `events` and `documents`, below every sf0.1 spread table
    * (580 KB and up). */
  private val SpreadMinBytes = 128L * 1024

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  /** `events.parquet`'s `ts` encoding has CHANGED between driver testdata
    * generations — TIMESTAMP(NANOS) (read by Spark as a long under
    * nanosAsLong) in rounds ≤9, plain timestamp[us] `isAdjustedToUTC=false`
    * (read as TIMESTAMP_NTZ) from round 10 — so branch on the dtype the
    * scan actually reports instead of assuming either. Every branch
    * normalizes to TimestampType at microsecond precision: with the
    * session time zone pinned UTC (Verify/Bench/specs all do), the NTZ →
    * TZ cast is a bitwise no-op on the stored micros, and downstream
    * `unix_millis` matches DuckDB's `epoch_ms` on the same naive values. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"testdata schema changed: events.ts is $other, expected " +
          "long (legacy nanos), timestamp, or timestamp_ntz")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** The block feed (with deterministic summary ids) derived from the
    * `events` stand-in stream. */
  def feed(s: SparkSession, d: String): DataFrame =
    BlockIngest.withId(BlockFeed.fromEvents(events(s, d)))

  def summaries(s: SparkSession, d: String): DataFrame =
    BlockIngest.summaries(feed(s, d))

  /** `summaries` plus the sender column (derivable from the JSON envelope
    * in the reference, `sender_account()`, postgres.rs:51-62 — here kept
    * from the feed, saving a JSON parse). */
  def summariesWithSender(s: SparkSession, d: String): DataFrame =
    BlockIngest.summariesWithSender(feed(s, d))

  def ati(s: SparkSession, d: String): DataFrame = BlockIngest.ati(feed(s, d))
  def cti(s: SparkSession, d: String): DataFrame = BlockIngest.cti(feed(s, d))
  def cis2Tokens(s: SparkSession, d: String): DataFrame = BlockIngest.cis2Tokens(feed(s, d))
  def keyBindings(s: SparkSession, d: String): DataFrame = BlockIngest.keyBindings(feed(s, d))
}
