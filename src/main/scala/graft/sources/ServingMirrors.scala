package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Registry of the serving-path [[BucketedMirror]]s for one testdata
  * scale directory: `ati` bucketed by `account` (the reference's btree
  * `m0001-…sql` keys every B1/B2/B6/B7 query by account) and
  * `summaries` bucketed by `id` (the reference's primary-key lookup side
  * of the page join). Both are additionally sorted within buckets so a
  * key's rows sit in contiguous, min/max-prunable row groups — together
  * bucket pruning (only the key's bucket files are read) and row-group
  * stats skipping are Spark's answer to the btree random read.
  *
  * Mirrors are built ONCE per scale directory: the write is the
  * once-per-refresh cost that buys every subsequent page query a pruned
  * scan (see [[BucketedMirror]] for the 100 TB sizing notes — at
  * deployment the bucket count tracks the cluster, not this fixture 16).
  * The CATALOG is the memo — a process-local map would outlive a
  * restarted session's catalog and hand back table names that no longer
  * resolve — and the whole check-and-build is synchronized so two
  * concurrent first calls can't race overlapping writes to one path.
  * (If the scratch directory is deleted out from under a still-registered
  * table, drop the tables or restart the session to force a rebuild.)
  */
object ServingMirrors {

  /** Fixture bucket count; part of the table/path key below. */
  private val Buckets = 16

  /** Table/path key for a scale dir: [[Scratch.key]] over the
    * canonicalized path + data fingerprint + the bucket count. Two
    * spellings of one directory share a mirror; distinct directories or
    * regenerated data each get their own tables. */
  private def keyOf(sfDir: String): String = Scratch.key(sfDir, s"b$Buckets")

  /** The (ati, summaries) serving mirrors for `sfDir`, building them on
    * first use (per catalog). Must be read through the catalog
    * ([[BucketedMirror.table]]) to keep the bucket metadata. */
  def atiSummaries(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    withSummaries(spark, sfDir, "ati", Tables.ati(spark, sfDir), "account",
      Seq("account", "summary"))

  /** The (cti, summaries) serving mirrors — the CONTRACT side of the
    * same btree analog (the reference's `cti` PK serves B3 pages,
    * postgres.rs:120-181): bucketed by `index` (the leading key of the
    * composite (index, subindex)), sorted (index, subindex, summary) so
    * one contract's rows sit contiguous within its bucket. The
    * summaries mirror is SHARED with [[atiSummaries]]. */
  def ctiSummaries(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    withSummaries(spark, sfDir, "cti", Tables.cti(spark, sfDir), "index",
      Seq("index", "subindex", "summary"))

  /** The `side` index mirror and the summaries mirror it pages into. */
  private def withSummaries(spark: SparkSession, sfDir: String, side: String,
                            index: => DataFrame, bucketCol: String,
                            sortCols: Seq[String]): (DataFrame, DataFrame) = synchronized {
    val key = keyOf(sfDir)
    (mirror(spark, key, side, index, bucketCol, sortCols),
      mirror(spark, key, "summaries", Tables.summaries(spark, sfDir), "id", Seq("id")))
  }

  /** Write-if-absent: the catalog is the memo (see object doc). */
  private def mirror(spark: SparkSession, key: String, t: String, df: => DataFrame,
                     bucketCol: String, sortCols: Seq[String]): DataFrame = {
    val name = s"graft_${t}_serve_$key"
    if (!spark.catalog.tableExists(name))
      BucketedMirror.write(df, name, s"${Scratch.dir("serve", key)}/$t",
        bucketCol, Buckets, sortCols)
    BucketedMirror.table(spark, name)
  }
}
