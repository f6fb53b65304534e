package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.U256
import graft.model.Schemas

/** Pure DataFrame→DataFrame derivations of the five reference tables from
  * a block feed (Schemas.blockFeed shape). Batch-first: every transform
  * here is also valid under Structured Streaming micro-batches (used by
  * [[graft.streaming.BlockStreamPipeline]]), matching the reference's
  * per-finalization write path (`insert_block`, main.rs:543-574).
  *
  * Scale notes (100 TB design):
  *  - ids are deterministic (`height*2^20 + seq`), so writes are
  *    idempotent under task retry — no `monotonically_increasing_id`,
  *    no driver round-trips (replaces `RETURNING id`, main.rs:219);
  *  - fan-outs are `explode`/`inline` (Generator) — narrow, no shuffle;
  *  - the only shuffles are the keyed aggregations (token supply, key
  *    bindings), both keyed on bounded-cardinality keys with map-side
  *    partial aggregation;
  *  - nothing collects to the driver.
  */
object BlockIngest {

  /** Deterministic, order-preserving summary id (SURVEY §7.4). */
  def summaryId(height: Column, seq: Column): Column =
    (height * Schemas.SeqMod + seq).cast("long")

  /** Feed + derived id — base for all other derivations. */
  def withId(feed: DataFrame): DataFrame =
    feed.withColumn("id", summaryId(col("height"), col("seq_in_block")))

  // Per-feed-row columns shared by the table derivations below and the
  // single-pass sink projection (TransactionalSink.blockRows).

  /** The `summaries` JSON envelope of one feed row. */
  def envelope: Column =
    when(col("is_special"), concat(lit("{\"Right\":"), col("payload_json"), lit("}")))
      .otherwise(concat(lit("{\"Left\":"), col("payload_json"), lit("}")))

  /** The row's affected accounts, deduped per summary (`ati`). */
  def distinctAccounts: Column = array_distinct(col("affected_accounts"))

  /** The row's affected contracts, deduped per summary (`cti`). */
  def distinctContracts: Column = array_distinct(col("affected_contracts"))

  /** The row's CIS-2 supply deltas as an array of
    * `struct(seq, index, subindex, token_id, delta)`: `mint` adds,
    * `burn` subtracts, every other kind is dropped; `seq` is the event's
    * position in `cis2_events` (the `posexplode` position). */
  def cis2DeltaArray: Column =
    filter(
      transform(col("cis2_events"), (e, i) =>
        when(e("kind").isin("mint", "burn"), struct(
          i.as("seq"),
          e("index").as("index"),
          e("subindex").as("subindex"),
          e("token_id").as("token_id"),
          when(e("kind") === "burn", concat(lit("-"), e("amount")))
            .otherwise(e("amount")).as("delta")))),
      _.isNotNull)

  /** The account a key-binding snapshot belongs to: the sender, or for
    * account creation (no sender) the created account = first affected
    * address (main.rs:686-701, 730-758). */
  def bindingAddress: Column =
    coalesce(col("sender"), col("affected_accounts").getItem(0))

  /** `summaries`: one row per feed item, JSON envelope preserved
    * byte-compatibly (`{"Left":…}` user tx / `{"Right":…}` protocol
    * event, main.rs:99-109). */
  def summaries(feed: DataFrame): DataFrame = withId(feed).select(summaryCols: _*)

  private def summaryCols: Seq[Column] = Seq(col("id"), col("block_hash").as("block"),
    col("block_time_ms").as("timestamp"), col("height"), envelope.as("summary"))

  /** `summaries` plus the sender column (the reference derives it from
    * the JSON on the read path, `sender_account()`, postgres.rs:51-62;
    * null for protocol events and credential deployments). One
    * projection — no self-join, single parquet scan. */
  def summariesWithSender(feed: DataFrame): DataFrame =
    withId(feed).select(summaryCols :+ col("sender"): _*)

  /** `ati` fan-out: one row per (deduped affected account, summary) —
    * the explode of `affected_addresses()` (main.rs:322-329, 357-413).
    * Dedup is per-summary (`array_distinct`), mirroring the reference's
    * per-summary `seen` set (main.rs:826-856) — cheap, narrow, no
    * shuffle. */
  def ati(feed: DataFrame): DataFrame = atiPages(feed).select("account", "summary")

  /** `cti` fan-out (main.rs:331-352). */
  def cti(feed: DataFrame): DataFrame = ctiPages(feed).select("index", "subindex", "summary")

  /** `ati` with each summary's page columns beside the key (`block`,
    * `timestamp`, `height`, the envelope as `body`): the row of the
    * page-ordered serving mirror ([[graft.sources.ServingMirrors]]). One
    * projection of the feed row — no join; a summary is stored once per
    * affected account. */
  def atiPages(feed: DataFrame): DataFrame =
    withId(feed).select(explode(distinctAccounts).as("account") +: pageCols: _*)

  /** `cti` with the page columns, as [[atiPages]]. */
  def ctiPages(feed: DataFrame): DataFrame =
    withId(feed).select(explode(distinctContracts).as("c") +: pageCols: _*)
      .select("c.*", "summary", "block", "timestamp", "height", "body")

  private def pageCols: Seq[Column] = Seq(col("id").as("summary"), col("block_hash").as("block"),
    col("block_time_ms").as("timestamp"), col("height"), envelope.as("body"))

  /** Per-batch CIS-2 supply deltas: signed decimal-string amounts keyed by
    * `(index, subindex, token_id)`. `mint` adds, `burn` subtracts,
    * everything else is a no-op (main.rs:461-504). The running total is
    * this aggregated over all history (batch) or merged into the sink via
    * `INSERT … ON CONFLICT DO UPDATE` (streaming, main.rs:222-251). */
  def cis2Deltas(feed: DataFrame): DataFrame =
    cis2DeltaRows(withId(feed)).drop("summary", "seq")

  /** CIS-2 deltas keyed by (summary id, position) — the append-only,
    * idempotently-writable form the streaming sink persists (each delta
    * has a natural PK, so replays dedup instead of double-applying;
    * SURVEY §7.4 exactly-once). */
  def cis2DeltaRows(feedWithId: DataFrame): DataFrame =
    feedWithId.select(col("id").as("summary"), inline(cis2DeltaArray))

  /** `cis2_tokens`: full-history running supply as arbitrary-precision
    * decimal strings (NUMERIC(80,0) analog; exceeds Decimal(38), SURVEY
    * §7.4). One shuffle on the token key; partial aggregation applies
    * because the BigInt aggregator is merge-associative. */
  def cis2Tokens(feed: DataFrame): DataFrame =
    cis2Deltas(feed)
      .groupBy("index", "subindex", "token_id")
      .agg(U256.sumBig(col("delta")).as("total_supply"))

  /** `account_public_key_bindings`: last-write-wins snapshot per account
    * (delete-then-insert per address in the reference, main.rs:506-540).
    * The latest key-update per account is selected by max id (block
    * order, then intra-block order — README.md:99-101), then its binding
    * array is flattened. `max_by` keeps the aggregation single-pass with
    * map-side partials; the explode after it is narrow. */
  def keyBindings(feed: DataFrame): DataFrame =
    withId(feed)
      .where(col("key_bindings").isNotNull)
      .select(bindingAddress.as("address"), col("id"), col("key_bindings"))
      .groupBy("address")
      .agg(max_by(col("key_bindings"), col("id")).as("kb"))
      .select(col("address"), explode(col("kb")).as("b"))
      .select(
        col("address"),
        col("b.public_key").as("public_key"),
        col("b.credential_index").as("credential_index"),
        col("b.key_index").as("key_index"),
        col("b.is_simple_account").as("is_simple_account"))

  /** A4 — alias canonicalization: resolve each (possibly aliased) account
    * to its canonical address by prefix equality against a canonical
    * dimension (the reference compares the first 29 of 32 address bytes,
    * `AccountAddressEq`, main.rs:133-146, with a node-warmed cache,
    * main.rs:762-784). `dim(prefix → canonical)` is small relative to the
    * fact side, so it is broadcast — no shuffle of the fact table.
    *
    * @param df        any DataFrame with an account column
    * @param accountCol the column holding (possibly aliased) addresses
    * @param dim       canonical dimension: columns (prefix, canonical)
    * @param prefixOf  expression mapping an address to its alias-class key
    */
  def canonicalize(df: DataFrame, accountCol: String, dim: DataFrame,
                   prefixOf: Column => Column): DataFrame = {
    val keyed = df.withColumn("__prefix", prefixOf(col(accountCol)))
    keyed.join(broadcast(dim), keyed("__prefix") === dim("prefix"), "left")
      .withColumn(accountCol, coalesce(col("canonical"), col(accountCol)))
      .drop("__prefix", "prefix", "canonical")
  }

  /** A11 — resume point: height of the row with the greatest id
    * (`SELECT height … ORDER BY id DESC LIMIT 1`, main.rs:577-588).
    * `max_by` = single aggregation, no global sort. */
  def resumeHeight(summaries: DataFrame): DataFrame =
    summaries.agg(max_by(col("height"), col("id")).as("height"))
}
