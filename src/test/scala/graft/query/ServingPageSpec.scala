package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkSpec, Tables}
import graft.sources.ServingMirrors

/** Pins the SERVING-path claims [[QueryApi.accountPageServed]] and
  * [[QueryApi.contractPageServed]] make —
  * the plan properties that make it the btree analog of the reference's
  * <0.5 s account page (postgres.rs:94-99):
  *  (a) the page plan reads ONLY the key's bucket of the page mirror
  *      (`SelectedBucketsCount: 1 out of N` — bucket pruning on the
  *      key literal) and plans zero Exchange (TakeOrderedAndProject,
  *      not a sorted shuffle);
  *  (b) a served page, from the served call through its collect, runs
  *      exactly one Spark job;
  *  (c) the served page equals the scan path row-for-row for both keys
  *      (account and contract) at the first page, the last page and a
  *      mid-history keyset cursor both ways (the CORRECTNESS rows
  *      `b1s`/`b2s`/`b3s` additionally pin this against DuckDB).
  */
class ServingPageSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val account = lit(7L)
  private lazy val mirrors = ServingMirrors.atiSummaries(spark, sf)

  /** Build `df`'s executed plan with auto-disabling of bucketed scans
    * off. File-level bucket pruning applies EITHER way (the non-bucketed
    * read path still filters files through the bucket set — the default
    * plan only hides it behind "Bucketed: false (disabled by query
    * planner)" because no operator needs the hash distribution); pinning
    * the conf makes the pruning visible as SelectedBucketsCount. */
  private def bucketVisiblePlan(df: => org.apache.spark.sql.DataFrame): String = {
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(k)
    spark.conf.set(k, "false")
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set(k, saved)
  }

  test("id probe: one bucket selected, zero Exchange, top-k fused") {
    val (atiM, _) = mirrors
    val p = bucketVisiblePlan(
      QueryApi.accountPageIds(atiM, account, 0L, 50, ascending = true))
    assert(p.contains("SelectedBucketsCount: 1 out of 16"),
      s"account literal must prune to one bucket:\n$p")
    assert(!p.contains("Exchange"),
      s"page plan must not shuffle (TakeOrderedAndProject):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected limit+sort fusion in:\n$p")
  }

  test("contract id probe: one bucket selected, zero Exchange") {
    val (ctiM, _) = ServingMirrors.ctiSummaries(spark, sf)
    val p = bucketVisiblePlan(
      QueryApi.contractPageIds(ctiM, 7L, 1L, 0L, 50, ascending = true))
    assert(p.contains("SelectedBucketsCount: 1 out of 16"),
      s"index literal must prune to one bucket:\n$p")
    assert(!p.contains("Exchange") && p.contains("TakeOrderedAndProject"),
      s"contract page plan must be a shuffle-free top-k:\n$p")
  }

  /** Spark jobs started from the served call `page` through its
    * collect. */
  private def servedJobs(page: => DataFrame): Int = jobsDuring(page.collect())

  test("served account page runs one Spark job") {
    val (atiM, sumM) = mirrors
    assert(servedJobs(QueryApi.accountPageServed(atiM, sumM, account, 0L, 50,
      ascending = true)) == 1)
  }

  test("served contract page runs one Spark job") {
    val (ctiM, sumM) = ServingMirrors.ctiSummaries(spark, sf)
    assert(servedJobs(QueryApi.contractPageServed(ctiM, sumM, 7L, 1L, 0L, 50,
      ascending = true)) == 1)
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

  // (test, key, directions): each direction is checked at its first page
  // (cursor 0 ascending, Long.MaxValue descending) and at a mid-history
  // keyset cursor (the median of the key's own summary ids).
  for ((name, key, directions) <- Seq[(String, () => Key, Seq[Boolean])](
      ("served page equals the scan path, ascending", () => accountKey,
        Seq(true)),
      ("served page equals the scan path, descending", () => accountKey,
        Seq(false)),
      ("served contract page equals the scan path", () => contractKey,
        Seq(true, false))))
    test(name) {
      val k = key()
      val ids = k.rows.select("summary").collect().map(_.getLong(0)).sorted
      assert(ids.nonEmpty, s"${k.label} has no rows in $sf")
      val mid = ids(ids.length / 2)
      for (asc <- directions; from <- Seq(if (asc) 0L else Long.MaxValue, mid)) {
        val got = k.served(from, asc).collect().map(_.toSeq).toSeq
        val want = k.scanned(from, asc).collect().map(_.toSeq).toSeq
        assert(got.nonEmpty && got == want,
          s"${k.label} from $from ascending=$asc: served $got, scanned $want")
      }
    }
}
