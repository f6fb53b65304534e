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
  * Two tables bucketed on the same key with the same bucket count
  * (e.g. `ati` and `summaries` by account) join shuffle-free on either
  * side. Pick the bucket count for the TARGET cluster: one bucket is
  * one task's read unit, so ~2–4× total executor cores, and files of
  * hundreds of MB, not the test fixture's toy counts.
  *
  * Bucketing lives in the catalog (file→bucket assignment is metadata),
  * so mirrors are `saveAsTable` external tables at an explicit path —
  * the data stays plain parquet readable by anything; only shuffle
  * elision needs the table name.
  */
object BucketedMirror {

  /** Write/refresh `df` as an external bucketed table, one file per
    * non-empty bucket: rows are clustered by bucket first, as in
    * [[compact]] (otherwise every writer task writes its own file per
    * bucket, and a one-bucket read opens one file per task). `sortCols`
    * additionally sorts within each bucket file (serving queries that
    * scan one key's rows in id order read them sequentially). */
  def write(df: DataFrame, name: String, path: String, bucketCol: String,
            buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(buckets > 0, "buckets must be positive")
    // saveAsTable(Overwrite) on an existing external table can leave
    // stale files at the path; drop-then-write is the idempotent form.
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $name")
    save(df.repartition(buckets, col(bucketCol)).write.mode(SaveMode.Overwrite)
      .option("path", path),
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
    * `spark.catalog.refreshTable(name)` to see new generations (the
    * writing session refreshes itself).
    *
    * Structured Streaming re-delivers the last micro-batch after a
    * restart (the batch may have committed to the sink before the
    * checkpoint advanced), and a plain append would duplicate its rows.
    * This is the standard batchId-dedup pattern, on the marker ledger
    * the index stores share ([[StoreCompaction.isApplied]] /
    * [[StoreCompaction.commitMarker]]: `_applied_batches/<id>` under the
    * mirror's own path — the `_` prefix hides the directory from Spark's
    * file listing, like `_spark_metadata`), checked before appending.
    * Returns false when the batch was already applied (the replay
    * no-op).
    *
    * Honest bound: the marker commits AFTER the data files, so a crash
    * BETWEEN the two replays one batch's rows into the mirror — the
    * same at-least-once tail every non-transactional file sink has.
    * The serving reads tolerate it (the served page drops repeated ids
    * in the driver, so a duplicated generation can shorten a page below
    * `limit` but never surfaces a row twice; StreamingSoakSpec pins
    * this), and the periodic compaction squashes it; a deployment
    * needing exact files would anti-join the delta on the unique id
    * instead, at the cost of a mirror scan per batch. The DB sink beside this call needs no
    * marker: its conditional inserts
    * ([[graft.streaming.TransactionalSink]]) are row-idempotent.
    *
    * Compacting with a raw [[write]] is only safe while the ingest
    * stream is STOPPED: the overwrite clears the marker directory along
    * with the data files, so an in-flight batch replayed across it
    * would no longer be recognized as applied. A live deployment uses
    * [[compact]], which carries the markers into the new generation. */
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
    val root = meta.location.toString
    if (StoreCompaction.isApplied(spark, root, batchId)) false
    else {
      save(df.write.mode(SaveMode.Append), bucketSpecOf(meta), name)
      StoreCompaction.commitMarker(spark, root, batchId)
      true
    }
  }

  private def bucketSpecOf(meta: CatalogTable): BucketSpec =
    meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"'${meta.identifier.table}' is not a bucketed mirror"))

  /** STREAM-SAFE compaction: squash the mirror's accumulated append
    * generations (one file per bucket per micro-batch — the btree
    * page-split analog) back to one file per bucket WITHOUT stopping
    * the ingest stream. The replay hazard of compact-by-[[write]] is
    * that the overwrite clears `_applied_batches`, so a micro-batch
    * replayed across the compaction would be re-applied; here the
    * markers are CARRIED into the new generation before the swap:
    *
    *  1. list the applied-batch markers (BEFORE reading data — worst
    *     case a batch landing in between is compacted AND marked, never
    *     marked-but-missing, so the failure mode is a tolerated
    *     duplicate, never row loss);
    *  2. rewrite the current snapshot, bucketed under the table's OWN
    *     catalog bucket spec (it cannot drift from the original write),
    *     into a fresh `<path>_gen<N>` directory via a temp table name —
    *     the live table stays readable and appendable throughout;
    *  3. copy the markers into the new generation;
    *  4. re-list the markers and ABORT (drop the new generation, throw)
    *     if an append landed during the rewrite — its rows are not in
    *     the snapshot, and carrying its marker would turn the replay
    *     into silent row loss. Deployments that call this from the same
    *     thread as the `foreachBatch` (between batches) never hit this;
    *  5. atomically repoint the table (`ALTER TABLE .. SET LOCATION`) —
    *     bucket metadata is table-level, so shuffle elision and bucket
    *     pruning survive the move — then drop the old generation.
    *
    * A replayed batch after the swap resolves the NEW location from the
    * catalog, finds its carried marker, and no-ops — the soak spec
    * compacts with the stream mid-flight across a restart boundary and
    * pins exactly that. Old-generation deletion assumes no reader holds
    * a plan over the old file listing (true for per-query serving
    * reads; a deployment with long-running concurrent readers would
    * defer the delete by a grace period). Returns the new location. */
  def compact(spark: SparkSession, name: String): String = {
    require(spark.catalog.tableExists(name),
      s"compact target '$name' is not in the catalog")
    val meta = catalogMeta(spark, name)
    val spec = bucketSpecOf(meta)
    val oldLoc = new Path(meta.location)
    val fs = oldLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listMarkers(): Set[String] = StoreCompaction.appliedMarkers(fs, oldLoc)
    val applied = listMarkers()
    val GenRe = "(.*)_gen(\\d+)$".r
    val newLoc = oldLoc.toString match {
      case GenRe(stem, n) => s"${stem}_gen${n.toInt + 1}"
      case base           => s"${base}_gen1"
    }
    val tmpName = s"${name}_compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    // Repartition on the bucket columns before the bucketed write:
    // HashPartitioning and the bucket id use the same murmur3-pmod, so
    // each writer task holds exactly one bucket and the rewrite lands
    // one file per non-empty bucket — the point of compacting. Without
    // it the writer-task count follows file-scan packing of the
    // accumulated small generations, and a task spanning two buckets
    // writes two files per rewrite.
    //
    // The source must be a PLAIN file read, not spark.table(name): the
    // catalog scan advertises HashPartitioning(bucketCols, n), which
    // lets EnsureRequirements elide this repartition — and once no node
    // requires the distribution, AQE's DisableUnnecessaryBucketedScan
    // can re-plan the scan as a packed UNBUCKETED read, executing with
    // neither the exchange nor the bucket layout (observed: writer
    // tasks = file-packing count, several files per bucket). A plain
    // scan exposes no partitioning, so the exchange always stands.
    val snapshot = spark.read.schema(spark.table(name).schema)
      .parquet(oldLoc.toString)
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
    save(snapshot.write.mode(SaveMode.Overwrite).option("path", newLoc),
      spec, tmpName)
    applied.foreach(id => StoreCompaction.commitMarker(spark, newLoc, id.toLong))
    val now = listMarkers()
    if (now != applied) {
      spark.sql(s"DROP TABLE IF EXISTS $tmpName")
      fs.delete(new Path(newLoc), true)
      throw new IllegalStateException(
        s"compaction of '$name' raced appends of batch(es) " +
          s"${(now -- applied).toSeq.sorted.mkString(",")} — retry")
    }
    // the temp table is external: dropping it keeps the files
    spark.sql(s"DROP TABLE IF EXISTS $tmpName")
    spark.sql(s"ALTER TABLE $name SET LOCATION '$newLoc'")
    spark.catalog.refreshTable(name)
    fs.delete(oldLoc, true)
    newLoc
  }

  /** The mirror as a DataFrame. Must go through the catalog — a plain
    * `spark.read.parquet(path)` of the same files loses the bucket
    * metadata and with it the shuffle elision. */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)
}
