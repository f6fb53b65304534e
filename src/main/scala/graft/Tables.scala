package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{BlockFeed, BlockIngest}

/** Readers for the driver testdata tables and the derived reference-schema
  * tables (SURVEY §1.2) over them. All lazy DataFrame plans — Catalyst
  * prunes columns/pushes filters into the parquet scans of whatever query
  * is built on top. */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (SpreadTables(name))
      spread(spark, s"$dir/$name.parquet",
        spark.read.parquet(s"$dir/$name.parquet"))
    else spark.read.parquet(s"$dir/$name.parquet")

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
    s.read.parquet(s"$d/documents.parquet")

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
    * (no cheap size probe) skip the spread. There is
    * deliberately NO lower size bound (r22): the spread must fire at
    * EVERY test SF so the plan shape is scale-invariant — the bench's
    * untimed sf0.001 JIT warm then compiles exactly the generated
    * classes the sf0.1 timed run executes (with a floor, the warm
    * compiled the fused unspread shape and the first timed reading
    * paid the real plan's codegen). Broadcast-sized dimension tables
    * never reach this code — [[SpreadTables]] gates by table. */
  private def spread(spark: SparkSession, path: String,
                     df: DataFrame): DataFrame = {
    val small =
      try {
        val file = java.nio.file.Paths.get(path)
        java.nio.file.Files.isRegularFile(file) &&
          java.nio.file.Files.size(file) < SpreadMaxBytes
      } catch { case _: Exception => false }
    val cores = spark.sparkContext.defaultParallelism
    if (small && cores > 1)
      df.repartition(cores)
    else df
  }

  /** Largest single-file table [[spread]] still round-robins. */
  private val SpreadMaxBytes = 64L * 1024 * 1024

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
