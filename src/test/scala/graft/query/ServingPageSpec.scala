package graft.query

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, input_file_name, lit}

import graft.{SparkSpec, Tables}
import graft.ingest.{BinaryAddressSpec, BlockIngest}
import graft.sources.{BucketedMirror, ServingMirrors}

/** Pins the SERVING-path claims [[QueryApi.accountPageServed]] and
  * [[QueryApi.contractPageServed]] make — what makes a page the btree
  * analog of the reference's <0.5 s account page (postgres.rs:94-99):
  *  (a) a served page, from the served call through its collect, runs
  *      NO Spark job (the mirror's bucket file is read in the driver);
  *  (b) it opens only the key's bucket: with every other parquet file of
  *      a mirror copy truncated, the page is still served, and served
  *      right;
  *  (c) the served page equals the scan path row-for-row for both keys
  *      (account and contract) and for a 32-byte binary account, at the
  *      first page, the last page and a mid-history keyset cursor both
  *      ways (the CORRECTNESS rows `b1s`/`b2s`/`b3s` additionally pin
  *      this against DuckDB).
  */
class ServingPageSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val account = lit(7L)
  private lazy val mirrors = ServingMirrors.atiSummaries(spark, sf)

  /** Spark jobs started from the served call `page` through its
    * collect. */
  private def servedJobs(page: => DataFrame): Int = jobsDuring(page.collect())

  test("served account page runs no Spark job") {
    val (atiM, sumM) = mirrors
    assert(servedJobs(QueryApi.accountPageServed(atiM, sumM, account, 0L, 50,
      ascending = true)) == 0)
  }

  test("served contract page runs no Spark job") {
    val (ctiM, sumM) = ServingMirrors.ctiSummaries(spark, sf)
    assert(servedJobs(QueryApi.contractPageServed(ctiM, sumM, 7L, 1L, 0L, 50,
      ascending = true)) == 0)
  }

  test("served page reads only its key's bucket file") {
    val name = "serving_spec_truncated_pages"
    val root = Files.createTempDirectory("graft-serve-trunc").toString
    try {
      BucketedMirror.write(BlockIngest.atiPages(Tables.feed(spark, sf)), name, root,
        "account", buckets = 16, sortCols = Seq("account", "summary"))
      // the key's file, found by content rather than by the bucket hash
      val keyFiles = spark.read.parquet(s"$root/data").where(col("account") === 7L)
        .select(input_file_name()).distinct().collect()
        .map(r => new File(new java.net.URI(r.getString(0))).getName).toSet
      assert(keyFiles.size == 1, s"account 7 spans $keyFiles")
      val others = new File(s"$root/data").listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet") && !keyFiles(f.getName))
      assert(others.nonEmpty)
      // half a file: no footer (a scan skips an EMPTY file unread)
      others.foreach { f =>
        val raf = new RandomAccessFile(f, "rw")
        try raf.setLength(f.length / 2) finally raf.close()
      }
      spark.catalog.refreshTable(name)
      val m = BucketedMirror.table(spark, name)
      // the truncation bites: any read of another bucket fails
      intercept[Exception](m.where(col("account") =!= 7L).collect())
      for (asc <- Seq(true, false)) {
        val from = if (asc) 0L else Long.MaxValue
        val got = QueryApi.accountPageServed(m, m, account, from, 50, asc)
          .collect().map(_.toSeq).toSeq
        val want = QueryApi.accountTransactions(Tables.ati(spark, sf),
          Tables.summaries(spark, sf), account, from, Some(50), asc)
          .collect().map(_.toSeq).toSeq
        assert(got.nonEmpty && got == want, s"ascending=$asc: served $got, scanned $want")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** A served-vs-scan case: the key's own summary ids, and its served and
    * scan pages as functions of (cursor, ascending). */
  private case class Key(label: String, rows: DataFrame,
      served: (Long, Boolean) => DataFrame,
      scanned: (Long, Boolean) => DataFrame)

  private def accountKey: Key = {
    val (atiM, sumM) = mirrors
    Key("account 7", Tables.ati(spark, sf).where(col("account") === 7L),
      QueryApi.accountPageServed(atiM, sumM, account, _, 50, _),
      QueryApi.accountTransactions(Tables.ati(spark, sf),
        Tables.summaries(spark, sf), account, _, Some(50), _))
  }

  private def contractKey: Key = {
    val (ctiM, sumM) = ServingMirrors.ctiSummaries(spark, sf)
    Key("contract (7, 1)", Tables.cti(spark, sf)
        .where(col("index") === 7L && col("subindex") === 1L),
      QueryApi.contractPageServed(ctiM, sumM, 7L, 1L, _, 50, _),
      QueryApi.contractTransactions(Tables.cti(spark, sf),
        Tables.summaries(spark, sf), 7L, 1L, _, Some(50), _))
  }

  /** Canonical B of [[BinaryAddressSpec]]'s fixture, extended by 20
    * heights so it has a history, on a mirror keyed by the 32-byte
    * `BinaryType` account. */
  private lazy val binaryKey: Key = {
    // fresh frames per side: one shared frame is an ambiguous self-join
    def feed = BinaryAddressSpec.feed(spark, more = 20)
    val name = "serving_spec_binary_pages"
    BucketedMirror.write(BlockIngest.atiPages(feed), name,
      Files.createTempDirectory("graft-serve-bin").toString, "account",
      buckets = 8, sortCols = Seq("account", "summary"))
    val m = BucketedMirror.table(spark, name)
    val b = lit(BinaryAddressSpec.addr(20, 0))
    Key("binary account B", BlockIngest.ati(feed).where(col("account") === b),
      QueryApi.accountPageServed(m, m, b, _, 5, _),
      QueryApi.accountTransactions(BlockIngest.ati(feed),
        BlockIngest.summaries(feed), b, _, Some(5), _))
  }

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS serving_spec_binary_pages")
    super.afterAll()
  }

  // (test, key, directions): each direction is checked at its first page
  // (cursor 0 ascending, Long.MaxValue descending) and at a mid-history
  // keyset cursor (the median of the key's own summary ids).
  for ((name, key, directions) <- Seq[(String, () => Key, Seq[Boolean])](
      ("served page equals the scan path, ascending", () => accountKey,
        Seq(true)),
      ("served page equals the scan path, descending", () => accountKey,
        Seq(false)),
      ("served contract page equals the scan path", () => contractKey,
        Seq(true, false)),
      ("served page on a 32-byte binary account equals the scan path",
        () => binaryKey, Seq(true, false))))
    test(name) {
      val k = key()
      val ids = k.rows.select("summary").collect().map(_.getLong(0)).sorted
      assert(ids.nonEmpty, s"${k.label} has no rows")
      val mid = ids(ids.length / 2)
      for (asc <- directions; from <- Seq(if (asc) 0L else Long.MaxValue, mid)) {
        val got = k.served(from, asc).collect().map(_.toSeq).toSeq
        val want = k.scanned(from, asc).collect().map(_.toSeq).toSeq
        assert(got.nonEmpty && got == want,
          s"${k.label} from $from ascending=$asc: served $got, scanned $want")
      }
    }
}
