package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.ingest.BlockIngest

/** Registry of the serving-path PAGE MIRRORS for one testdata scale
  * directory: `ati` bucketed by `account` (the reference's btree
  * `m0001-…sql` keys every B1/B2/B6/B7 query by account) and `cti` by
  * `index`, each row carrying its summary's page columns
  * ([[graft.ingest.BlockIngest.atiPages]]) and sorted by (key, summary)
  * within its bucket — the reference's index-ordered `ati ⋈ summaries`
  * served from one bucket file, read in the driver without a Spark job
  * ([[graft.query.QueryApi.accountPageServed]]). The storage cost: a
  * summary is copied once per affected key (about 1.2 `ati` rows per
  * summary on the ingest feed).
  *
  * Mirrors are built ONCE per scale directory: the write is the
  * once-per-refresh cost that buys every subsequent page query a
  * one-bucket read (see [[BucketedMirror]] for the 100 TB sizing notes — at
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

  /** The account page mirror for `sfDir` in BOTH slots of the pair (no
    * summaries mirror is built; the pair stays for existing callers),
    * built on first use per catalog. Must be read through the catalog
    * ([[BucketedMirror.table]]) to keep the bucket metadata. */
  def atiSummaries(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    pages(spark, sfDir, "ati_pages", BlockIngest.atiPages(Tables.feed(spark, sfDir)),
      "account", Seq("account", "summary"))

  /** The contract page mirror in both slots, as [[atiSummaries]] (the
    * reference's `cti` PK serves B3 pages, postgres.rs:120-181), bucketed
    * by `index`, the leading key of the composite (index, subindex). */
  def ctiSummaries(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    pages(spark, sfDir, "cti_pages", BlockIngest.ctiPages(Tables.feed(spark, sfDir)),
      "index", Seq("index", "subindex", "summary"))

  /** Write-if-absent (the catalog is the memo, see object doc). */
  private def pages(spark: SparkSession, sfDir: String, t: String, df: => DataFrame,
                    bucketCol: String, sortCols: Seq[String]): (DataFrame, DataFrame) = synchronized {
    val key = keyOf(sfDir)
    val name = s"graft_${t}_serve_$key"
    if (!spark.catalog.tableExists(name))
      BucketedMirror.write(df, name, s"${Scratch.dir("serve", key)}/$t",
        bucketCol, Buckets, sortCols)
    val m = BucketedMirror.table(spark, name)
    (m, m)
  }
}
