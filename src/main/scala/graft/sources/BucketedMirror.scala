package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions.col

/** Bucketed serving mirror — the co-located-join layout for the hot
  * read path. The reference keeps its serving tables fast with btree
  * indexes keyed by account (`m0001-…sql`; every B1/B6/B7 query starts
  * `WHERE account = ?`). Spark's analog for repeated key-local work is
  * BUCKETING: hash-partition the table into a fixed number of buckets
  * on the serving key AT WRITE TIME, so every later aggregation or join
  * on that key reads pre-clustered data and plans with NO shuffle at
  * all — `EnsureRequirements` sees the bucketed scan's hash
  * partitioning already satisfies the operator's distribution.
  *
  * At 100 TB this moves the dominant cost of the serving path (the
  * every-query exchange of the fact table) to a once-per-refresh write.
  * Two tables bucketed on the same key with the same bucket count join
  * shuffle-free on either side. Pick the bucket count for the TARGET
  * cluster: one bucket is one task's read unit, so ~2–4× total executor
  * cores, and files of hundreds of MB, not the test fixture's toy counts.
  *
  * Bucketing lives in the catalog (file→bucket assignment is metadata),
  * so mirrors are `saveAsTable` external tables at an explicit path —
  * the data stays plain parquet readable by anything; only shuffle
  * elision needs the table name. A mirror is a [[StoreCompaction]]
  * store: the table's files sit at `<root>/data`, beside the root's
  * replay ledger and compaction sentinel.
  */
object BucketedMirror {

  /** Write/refresh `df` as an external bucketed table at `<path>/data`,
    * one file per non-empty bucket: rows are clustered by bucket first,
    * as in [[compact]] (otherwise every writer task writes its own file
    * per bucket, and a one-bucket read opens one file per task).
    * `sortCols` additionally sorts within each bucket file (serving
    * queries that scan one key's rows in id order read them
    * sequentially). `path` is the store root and is cleared first, so a
    * rewrite starts with an empty replay ledger: while an ingest stream
    * is running, compact with [[compact]], never by rewriting. */
  def write(df: DataFrame, name: String, path: String, bucketCol: String,
            buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(buckets > 0, "buckets must be positive")
    // saveAsTable(Overwrite) on an existing external table can leave
    // stale files at the path; drop-then-write is the idempotent form.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val root = new Path(path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    save(df.repartition(buckets, col(bucketCol)).write.mode(SaveMode.Overwrite)
      .option("path", new Path(root, "data").toString),
      BucketSpec(buckets, Seq(bucketCol), sortCols), name)
  }

  /** The one bucketed parquet `saveAsTable` behind [[write]],
    * [[appendOnce]] and [[compact]]. */
  private def save(w: DataFrameWriter[Row], spec: BucketSpec,
                   name: String): Unit = {
    val b = w.format("parquet").bucketBy(spec.numBuckets,
      spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
      b.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else b).saveAsTable(name)
  }

  private def catalogMeta(spark: SparkSession, name: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))

  /** Incremental, REPLAY-SAFE refresh for `foreachBatch`: append a delta
    * (one ingest micro-batch's new rows) to an existing mirror under the
    * table's OWN catalog bucket spec — each append adds one file per
    * touched bucket, and bucket pruning / shuffle elision keep working
    * across all appended files because the file→bucket assignment is
    * the same hash. This is how the mirror tracks a
    * continuously-ingesting upstream (the reference's btree is
    * maintained per insert; here the unit is the micro-batch). Compact
    * periodically with [[compact]] — every append adds a file per
    * bucket, and serving reads degrade as files accumulate (same
    * trade-off as btree page splits vs. vacuum). Readers in OTHER
    * sessions cache the table's file listing — they must
    * `spark.catalog.refreshTable(name)` to see new files, and after a
    * [[compact]], whose swap replaces the files under the same location
    * (the writing session refreshes itself).
    *
    * Structured Streaming re-delivers the last micro-batch after a
    * restart (the batch may have committed to the sink before the
    * checkpoint advanced), and a plain append would duplicate its rows.
    * The guard is [[StoreCompaction.appendOnce]]: the batch's marker sits
    * in `<root>/_applied_batches`, beside the `data` directory (the root
    * is the parent of the catalog location); the append throws while a
    * compaction's `<root>/_compacting_sentinel` exists; and compaction
    * rolls the markers up into one watermark file. Returns false when
    * the batch was already applied (the replay no-op).
    *
    * Honest bound: the marker commits AFTER the data files, so a crash
    * BETWEEN the two replays one batch's rows into the mirror — the
    * same at-least-once tail every non-transactional file sink has.
    * The serving reads tolerate it (the served page, read in the driver,
    * drops repeated ids after its `limit` cut, so a duplicated generation
    * can shorten a page below `limit` but never surfaces a row twice;
    * StreamingSoakSpec pins this), and the periodic compaction squashes
    * it; a deployment needing exact files would anti-join the delta on the unique id
    * instead, at the cost of a mirror scan per batch. The DB sink beside
    * this call needs no marker: its conditional inserts
    * ([[graft.streaming.TransactionalSink]]) are row-idempotent. */
  def appendOnce(df: DataFrame, name: String, batchId: Long): Boolean = {
    val spark = df.sparkSession
    // hard requirement, not a convenience: Append+saveAsTable on a
    // MISSING table silently CTASes a new managed table at the
    // warehouse dir — after a session restart (catalog lost) a resumed
    // ingest stream would orphan the external mirror's entire history
    // and serve only post-restart rows. Re-register (write) first.
    require(spark.catalog.tableExists(name),
      s"append target '$name' is not in the catalog — run BucketedMirror.write " +
        "to (re)register the mirror before appending")
    val meta = catalogMeta(spark, name)
    StoreCompaction.appendOnce(spark, rootOf(meta), batchId) {
      save(df.write.mode(SaveMode.Append), bucketSpecOf(meta), name)
    }
  }

  private def rootOf(meta: CatalogTable): String =
    new Path(meta.location).getParent.toString

  private def bucketSpecOf(meta: CatalogTable): BucketSpec =
    meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"'${meta.identifier.table}' is not a bucketed mirror"))

  /** STREAM-SAFE compaction: squash the mirror's accumulated append
    * generations back to one file per bucket WITHOUT stopping the ingest
    * stream, through [[StoreCompaction.swapCompact]] on `<root>/data`.
    * The snapshot is rewritten under the table's OWN catalog bucket spec
    * and a temporary table name, the temporary table is dropped (it is
    * external, so its files stay), and the two-rename swap puts the
    * files at the unchanged catalog location. The markers never move,
    * so a batch replayed across the compaction still no-ops, and the
    * ledger rolls up into one watermark file. A reader planning a scan
    * inside the rename window fails loudly instead of reading half a
    * mirror. Returns the data-file count after compaction. */
  def compact(spark: SparkSession, name: String): Int = {
    require(spark.catalog.tableExists(name),
      s"compact target '$name' is not in the catalog")
    val meta = catalogMeta(spark, name)
    val spec = bucketSpecOf(meta)
    val schema = spark.table(name).schema
    val tmpName = s"${name}_compacting"
    val files = StoreCompaction.swapCompact(spark, rootOf(meta), "data") {
      (live, out) =>
        // A PLAIN file read with the catalog schema (an empty mirror has
        // no footer to infer from), repartitioned on the bucket columns:
        // HashPartitioning and the bucket id share murmur3-pmod, so each
        // writer task holds one bucket and lands one file. The catalog
        // scan would advertise the bucket partitioning and let this
        // exchange be elided, and AQE could then re-plan it as a packed
        // unbucketed read writing several files per bucket.
        try save(spark.read.schema(schema).parquet(live)
          .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
          .write.mode(SaveMode.Overwrite).option("path", out), spec, tmpName)
        finally spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    }
    spark.catalog.refreshTable(name)
    files
  }

  /** The mirror as a DataFrame. Must go through the catalog — a plain
    * `spark.read.parquet(path)` of the same files loses the bucket
    * metadata and with it the shuffle elision. */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)
}
