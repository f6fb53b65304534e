package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, sources}
import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileFormat,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's read surface (`DatabaseClient`, postgres.rs:309-383)
  * as DataFrame plan builders. Postgres was the optimizer/executor for
  * these in the reference; here Catalyst is — the keyset-pagination
  * cursors become pushed-down range predicates on the id column, and the
  * `ati/cti ⋈ summaries` FK join stays an equi-join Catalyst can
  * broadcast once the paged side is filtered down.
  *
  * All pages are ordered by id — the clustered-key order the reference
  * documents (ORDER BY ati.id, postgres.rs:100-118). The account and
  * contract pages are one query shape over two index tables that differ
  * only in the key predicate (`query_account`/`query_contract`,
  * postgres.rs:100-181): each public page entry is one line over a
  * private builder that takes that predicate.
  */
object QueryApi {

  /** The reference page row shape. */
  private val PageCols = Seq("id", "block", "timestamp", "height", "summary")

  private def accountKey(account: Column): Column = col("account") === account

  private def contractKey(index: Long, subindex: Long): Column =
    col("index") === index && col("subindex") === subindex

  /** The keyset cursor on the index table's summary id. */
  private def cursor(from: Long, ascending: Boolean): Column =
    if (ascending) col("summary") >= from else col("summary") <= from

  private def order(c: String, ascending: Boolean): Column =
    if (ascending) col(c).asc else col(c).desc

  /** B1/B2 — `query_account`: summaries affecting one account, keyset
    * cursor `from`, ascending or descending (postgres.rs:100-181).
    * Returns the reference row shape (id, block, timestamp, height,
    * summary). */
  def accountTransactions(ati: DataFrame, summaries: DataFrame, account: Column,
                          from: Long, limit: Option[Int], ascending: Boolean): DataFrame =
    scanPage(ati, summaries, accountKey(account), from, limit, ascending)

  /** B3 — `query_contract`: composite-key variant (postgres.rs:120-181). */
  def contractTransactions(cti: DataFrame, summaries: DataFrame, index: Long, subindex: Long,
                           from: Long, limit: Option[Int], ascending: Boolean): DataFrame =
    scanPage(cti, summaries, contractKey(index, subindex), from, limit, ascending)

  /** The scan page: the keyed, cursor-bounded index rows joined to
    * `summaries` on the FK and ordered by id, top-`limit` when given. */
  private def scanPage(index: DataFrame, summaries: DataFrame, key: Column,
                       from: Long, limit: Option[Int], ascending: Boolean): DataFrame = {
    val page = index.where(key && cursor(from, ascending))
    val sorted = page.join(summaries, page("summary") === summaries("id"))
      .select(PageCols.map(summaries(_)): _*)
      .orderBy(order("id", ascending))
    limit.fold(sorted)(sorted.limit)
  }

  /** B1/B2 SERVING path over the account page mirror ([[servedPage]]).
    * `account` must be a LITERAL of the mirror's address type (long
    * fixture or 32-byte binary). `summariesMirror` is not read: the page
    * mirror carries the page columns itself (the parameter stays for
    * existing callers). */
  def accountPageServed(atiMirror: DataFrame, summariesMirror: DataFrame,
                        account: Column, from: Long, limit: Int,
                        ascending: Boolean): DataFrame =
    servedPage(atiMirror, accountKey(account), from, limit, ascending)

  /** B3 SERVING path over the contract page mirror, bucketed by the
    * leading composite key `index` ([[servedPage]]); `summariesMirror`
    * is not read, as in [[accountPageServed]]. */
  def contractPageServed(ctiMirror: DataFrame, summariesMirror: DataFrame,
                         index: Long, subindex: Long, from: Long, limit: Int,
                         ascending: Boolean): DataFrame =
    servedPage(ctiMirror, contractKey(index, subindex), from, limit, ascending)

  /** The SERVING page — the btree analog of the reference's `<0.5 s`
    * page (postgres.rs:94-99, one index-ordered read) over a PAGE-ORDERED
    * mirror ([[graft.sources.ServingMirrors]]), read in the driver with NO
    * Spark job (a job's fixed cost was nearly all of a page's allocation).
    * The page predicate is only analyzed. The key literal picks its bucket
    * by Spark's bucket hash, and that bucket's files in the relation's file
    * index (not a directory listing, which could see a half-committed
    * append) go through the relation's Parquet reader with the key and
    * cursor pushed down, so row groups are pruned as in a scan. Surviving
    * rows are ordered by `summary` in the cursor's direction and cut at
    * `limit`, then repeated ids are dropped: a REPLAYED mirror generation
    * ([[graft.sources.BucketedMirror.appendOnce]]'s crash window) can
    * shorten a page but never shows a row twice. Returns a local DataFrame.
    * ServingPageSpec pins the zero jobs, the one bucket and equality with
    * the scan page; CORRECTNESS `b1s`/`b2s`/`b3s` pin it against DuckDB. */
  private def servedPage(mirror: DataFrame, key: Column, from: Long,
                         limit: Int, ascending: Boolean): DataFrame = {
    val spark = mirror.sparkSession
    val (cond, scan) = mirror.where(key && cursor(from, ascending))
      .queryExecution.analyzed match { case Filter(c, child) => (c, child) }
    val rel = EliminateSubqueryAliases(scan) match {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      case p => throw new IllegalArgumentException(s"not a page mirror table:\n$p")
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case _ => Seq(e)
    }
    // (comparison, column, literal) per conjunct; filters take Scala values
    val bounds = conjuncts(cond).collect {
      case c @ BinaryComparison(a: Attribute, v) if v.foldable => (c, a, v.eval())
    }
    val filters = bounds.collect {
      case (_: EqualTo, a, v) =>
        sources.EqualTo(a.name, convertToScala(v, a.dataType))
      case (_: GreaterThanOrEqual, a, v) =>
        sources.GreaterThanOrEqual(a.name, convertToScala(v, a.dataType))
      case (_: LessThanOrEqual, a, v) =>
        sources.LessThanOrEqual(a.name, convertToScala(v, a.dataType))
    }
    val bucket = rel.bucketSpec.flatMap(spec => bounds.collectFirst {
      case (_: EqualTo, a, v) if spec.bucketColumnNames == Seq(a.name) =>
        BucketingUtils.getBucketIdFromValue(a, spec.numBuckets, v)
    })
    val read = rel.fileFormat.buildReaderWithPartitionValues(spark, rel.dataSchema,
      rel.partitionSchema, rel.dataSchema, filters,
      rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(rel.options))
    val keep = Predicate.createInterpreted(BindReferences.bindReference(cond, scan.output))
    val rows = for {
      dir <- rel.location.listFiles(Nil, Nil)
      f <- dir.files if bucket.forall(BucketingUtils.getBucketId(f.getPath.getName).contains)
      it = read(PartitionedFileUtil.getPartitionedFile(f, f.getPath, dir.values, 0, f.getLen))
      // copy: the vectorized reader reuses its row
      row <- try it.filter(keep.eval).map(_.copy()).toVector
        finally it match { case c: java.io.Closeable => c.close(); case _ => }
    } yield row
    val ord = scan.output.map(_.name).zipWithIndex.toMap
    val byCursor = rows.sortBy(_.getLong(ord("summary")))
    val page = (if (ascending) byCursor else byCursor.reverse).take(limit)
      .distinctBy(_.getLong(ord("summary")))
    val out = Seq("summary" -> "id", "block" -> "block", "timestamp" -> "timestamp",
      "height" -> "height", "body" -> "summary")
      .map { case (c, as) => (ord(c), rel.schema(c).copy(name = as)) }
    spark.createDataFrame(page.map(r => Row.fromSeq(out.map { case (i, f) =>
      convertToScala(r.get(i, f.dataType), f.dataType) })).asJava, StructType(out.map(_._2)))
  }

  /** B5 — row decode: project fields out of the JSON envelope, SILENTLY
    * DROPPING rows whose summary fails to parse — the reference's
    * `construct_row` is applied via `filter_map`, so undecodable rows
    * vanish from every page instead of erroring (postgres.rs:387-391,
    * 333, 360). Validity = the typed envelope parse succeeds AND lands
    * in a known variant (serde's `Either` deserialize fails on both
    * malformed JSON and unknown variants — both are dropped). */
  def decodeRows(summaries: DataFrame): DataFrame = {
    // One typed parse expression (the old per-field get_json_object
    // chain string-parsed each document once per projected field).
    // Catalyst's OptimizeJsonExprs splits the validity predicate into
    // schema-pruned parses pushed into the scan's DataFilters, so
    // undecodable rows are dropped at scan time and only survivors pay
    // the full-schema parse. A row is kept iff the typed parse lands in
    // a known variant — exactly the reference's
    // `filter_map(|r| from_value::<Either<L,R>>(r).ok())`: malformed
    // JSON and unknown variants both vanish from the page rather than
    // erroring (contrast the strict WRITE-path policy below).
    val env = from_json(col("summary"), graft.model.Schemas.summaryEnvelope)
    summaries.select(col("id"), env.as("env"))
      .where(col("env.Left").isNotNull || col("env.Right").isNotNull)
      .select(col("id"),
        col("env.Left.k").cast("string").as("left_k"),
        col("env.Right.k").cast("string").as("right_k"))
  }

  /** Optimizer fence: value-identical to `c` (monotonically_increasing_id
    * is always >= 0, so the branch always takes `c`), but the
    * nondeterminism flag stops PushPredicateThroughNonJoin and
    * CollapseProject from inlining the aliased expression into
    * downstream filters/projections. Used by the FAILFAST decoders
    * ([[decodeRowsStrict]], [[decodeRowsDeep]]) where the guard filters
    * referencing the parsed envelope were being pushed below the parse
    * projection with the parse SUBSTITUTED into each guard — every row
    * paid the full envelope parse 3-4 times (FAILFAST parses cannot be
    * schema-pruned by OptimizeJsonExprs without changing abort
    * semantics, so each copy was a full parse; measured 3.5 s → 2.1 s
    * at sf0.1 going to parse-once). `rand()`-comparison fences do NOT
    * work here: the optimizer folds full-range rand comparisons away.
    *
    * The cost is symmetric: the fence also blocks CALLER predicates
    * from pushing down through the decode — fine for these two, which
    * are WRITE-path interpreters consumed whole-batch per ingested
    * block (the reference aborts ingestion on any undecodable row, so
    * every row is interpreted; there is no selective probe to push).
    * The read-path [[decodeRows]] stays unfenced on purpose: its
    * PERMISSIVE validity filter pushing into the scan IS the plan
    * (rows die at scan time; PlanSpec pins the pushed DataFilters). */
  private def parseOnce(c: Column): Column =
    when(monotonically_increasing_id() >= -1, c)

  /** B5 strict variant — typed decode of the summary envelope through a
    * real `StructType` ([[graft.model.Schemas.summaryEnvelope]]) instead
    * of per-field `get_json_object`, with the reference's hard-stop
    * policy (lib.rs:307-311): malformed JSON aborts the job (`from_json`
    * FAILFAST), and a structurally valid envelope that is NEITHER Left
    * nor Right (unknown variant) aborts via `raise_error` — data the
    * engine cannot interpret must never be silently dropped on the
    * WRITE/interpret path (contrast [[decodeRows]], the read-path
    * filter_map drop). The guard is a FILTER (`assert_true`), not an
    * output column: a filter survives downstream column pruning, so the
    * hard-stop fires even when a caller selects only `left_k` —
    * an output-column guard would be silently pruned away with it. */
  def decodeRowsStrict(summaries: DataFrame): DataFrame = {
    val env = parseOnce(from_json(col("summary"),
      graft.model.Schemas.summaryEnvelope, Map("mode" -> "FAILFAST")))
    summaries.select(col("id"), env.as("env"))
      .where(assert_true(
        col("env.Left").isNotNull || col("env.Right").isNotNull,
        concat(lit("unknown summary variant at id "),
          col("id").cast("string"))).isNull)
      .select(col("id"),
        when(col("env.Left").isNotNull, lit("Left"))
          .otherwise(lit("Right"))
          .as("variant"),
        col("env.Left.k").as("left_k"),
        col("env.Right.k").as("right_k"))
  }

  /** B5 deep variant — strict decode of the REFERENCE-SHAPED envelope
    * ([[graft.model.Schemas.summaryEnvelopeDeep]]: nested
    * `BlockItemSummary` with details type tag, sender, and events array)
    * with BOTH hard-stop policies of the reference's interpret path:
    *  - malformed JSON / type-mismatched fields abort (FAILFAST parse);
    *  - an envelope that is neither Left nor Right aborts
    *    (unknown VARIANT, lib.rs:307-311); and
    *  - a Left whose `details.type` tag is outside
    *    [[graft.model.Schemas.KnownDetailsTypes]] aborts — the
    *    `Upward::Unknown` case `key_update_account` refuses to guess at
    *    (main.rs:686-700): data the engine cannot interpret must never
    *    be silently projected as nulls.
    * Both guards are FILTERS (`assert_true`), so they survive column
    * pruning when a caller selects a single nested field (same design
    * note as [[decodeRowsStrict]]). Output: nested projections — the
    * sender/type/events fields the reference's key-update scan reads. */
  def decodeRowsDeep(summaries: DataFrame): DataFrame = {
    val env = parseOnce(from_json(col("summary"),
      graft.model.Schemas.summaryEnvelopeDeep, Map("mode" -> "FAILFAST")))
    summaries.select(col("id"), env.as("env"))
      .where(assert_true(
        col("env.Left").isNotNull || col("env.Right").isNotNull,
        concat(lit("unknown summary variant at id "),
          col("id").cast("string"))).isNull)
      // isInCollection over a NULL type tag yields null, and assert_true
      // aborts on anything not true — a Left with missing/unknown details
      // both stop here
      .where(assert_true(
        col("env.Left").isNull ||
          col("env.Left.details.type")
            .isInCollection(graft.model.Schemas.KnownDetailsTypes),
        concat(lit("unknown block item details type at id "),
          col("id").cast("string"))).isNull)
      .select(col("id"),
        when(col("env.Left").isNotNull, lit("Left"))
          .otherwise(lit("Right"))
          .as("variant"),
        col("env.Left.index").as("tx_index"),
        col("env.Left.details.type").as("details_type"),
        col("env.Left.details.sender").as("sender"),
        when(col("env.Left").isNotNull,
          size(coalesce(col("env.Left.details.events"),
            array().cast("array<struct<tag:string,amount:string,to:string>>"))))
          .as("n_events"),
        // get(), not getItem: ANSI mode makes an out-of-bounds index an
        // ERROR, and an empty events array is a legal summary
        get(col("env.Left.details.events"), lit(0)).getField("tag")
          .as("first_event_tag"),
        col("env.Right.tag").as("protocol_tag"),
        col("env.Right.amount").as("protocol_amount"))
  }

  /** B6 — most-recent-k summaries per account, for all accounts at once
    * (the generalization of wallet-proxy-indexer/README.md:113-122):
    * window `row_number` over id desc, one shuffle on account.
    *
    * HOT-ACCOUNT bound: a window partition is one key, and an exchange
    * hot account at 100x would be the classic skewed-window stall — but
    * the `rn <= k` predicate lets Catalyst's InferWindowGroupLimit plan
    * a PARTIAL WindowGroupLimit before the exchange and a Final one
    * after (pinned in PlanSpec): each map task forwards at most k rows
    * per account, so the hot account's reducer receives <= k x
    * #map-partitions rows regardless of how many rows the account has.
    * That IS the salted two-phase top-k (salt = input partition), planned
    * by the optimizer instead of hand-rolled; QueryApiSpec drives a
    * fixture where one account owns >80% of all rows. */
  def topKPerAccount(ati: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("account")).orderBy(col("summary").desc)
    ati.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** B7 — change-feed page: ascending cursor poll keeping only rows not
    * sent by the account itself ("incoming", monitor-postgres.rs:44-98;
    * sender is null for protocol events → kept). */
  def changeFeed(ati: DataFrame, summariesWithSender: DataFrame, account: Column,
                 afterId: Long, pageSize: Int): DataFrame = {
    val page = ati.where(accountKey(account) && col("summary") > afterId)
    val sws = summariesWithSender
    page.join(sws, page("summary") === sws("id"))
      .where(sws("sender").isNull || sws("sender") =!= account)
      .select((PageCols :+ "sender").map(sws(_)): _*)
      .orderBy(order("id", ascending = true))
      .limit(pageSize)
  }

  /** B12 — account page restricted to a height or timestamp range (the
    * queries migration m0003 optimizes; m0003-...sql:1-12). */
  def accountTransactionsInRange(ati: DataFrame, summaries: DataFrame, account: Column,
                                 lo: Column, hi: Column, rangeCol: String): DataFrame = {
    val page = ati.where(accountKey(account))
    page.join(summaries, page("summary") === summaries("id"))
      .where(summaries(rangeCol).between(lo, hi))
      .select(PageCols.map(summaries(_)): _*)
      .orderBy(order("id", ascending = true))
  }
}
