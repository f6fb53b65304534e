package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Adapters producing the canonical block-feed shape (FIXTURES.md §A,
  * Schemas.blockFeed) from raw inputs.
  *
  * The reference consumes finalized blocks over gRPC and enriches them
  * per block (`on_finalized_block`, main.rs:786-861). In this repo the
  * driver-generated `events` table is the deterministic stand-in for that
  * stream (TESTDATA.md), so [[fromEvents]] maps it onto the reference's
  * data model with fixed, oracle-reproducible rules:
  *
  *  - 8 events per block: `height = event_id div 8`,
  *    `seq_in_block = event_id % 8` (intra-block order,
  *    wallet-proxy-indexer/README.md:99-100);
  *  - `event_type = 'error'` rows play the role of protocol-generated
  *    `SpecialTransactionOutcome`s (`{"Right":…}` envelope, no sender);
  *    all others are user transactions (`{"Left":…}`, sender = user_id);
  *  - `purchase` affects two accounts (sender + counterparty) — the
  *    multi-account fan-out of `affected_addresses()` (main.rs:823);
  *  - `purchase`/`click` touch contract `(user_id % 50, user_id % 3)`
  *    (main.rs:331-352) and log a CIS-2 mint/burn of `round(value*100)`
  *    on token `(user_id % 50, 0, user_id % 20)` (main.rs:461-504);
  *  - `signup` is a key-update event (main.rs:686-701): the account's
  *    binding snapshot has `user_id % 3 + 1` keys whose key material
  *    depends on the event id, so later signups overwrite earlier ones
  *    observably (last-write-wins, main.rs:506-531).
  */
object BlockFeed {

  /** Bare finalized-block header, as delivered by the block stream
    * before enrichment (`FinalizedBlockInfo` + `BlockInfo`,
    * main.rs:792-795). */
  case class BlockHeader(height: Long, block_hash: String,
                         block_time_ms: Long, transaction_count: Int)

  /** Typed mirror of Schemas.blockFeed (Long addresses). */
  case class Contract(index: Long, subindex: Long)
  case class Cis2Event(index: Long, subindex: Long, token_id: String,
                       kind: String, amount: String)
  case class KeyBinding(credential_index: Int, key_index: Int,
                        public_key: String, is_simple_account: Boolean)
  case class FeedRow(height: Long, seq_in_block: Int, block_hash: String,
                     block_time_ms: Long, payload_json: String,
                     is_special: Boolean, sender: Option[Long],
                     affected_accounts: Seq[Long],
                     affected_contracts: Seq[Contract],
                     cis2_events: Seq[Cis2Event],
                     key_bindings: Option[Seq[KeyBinding]])

  /** A3 — per-block enrichment: turn bare block headers into feed rows
    * by fetching each block's transaction items and special outcomes
    * (`on_finalized_block`, main.rs:786-861). The transaction fetch is
    * SKIPPED for blocks with `transaction_count == 0` — the reference's
    * empty-block pruning (main.rs:796-798) as a plain filter — while
    * special outcomes are fetched for every block. Fetchers are
    * pluggable (gRPC client in production, deterministic fakes in
    * tests) and are called with at most `maxParallel` headers per call
    * per partition (the `MAX_NODE_REQUESTS = 20` bound, main.rs:37). */
  def enrich(headers: Dataset[BlockHeader],
             fetchItems: Seq[BlockHeader] => Seq[FeedRow],
             fetchSpecial: Seq[BlockHeader] => Seq[FeedRow],
             maxParallel: Int = 20): Dataset[FeedRow] = {
    val enc = Encoders.product[FeedRow]
    val items = headers.filter((h: BlockHeader) => h.transaction_count > 0)
      .mapPartitions((it: Iterator[BlockHeader]) =>
        it.grouped(maxParallel).flatMap(g => fetchItems(g)))(enc)
    val special = headers.mapPartitions((it: Iterator[BlockHeader]) =>
      it.grouped(maxParallel).flatMap(g => fetchSpecial(g)))(enc)
    items.unionByName(special)
  }

  /** A raw-log feed path: decode CIS-2 contract logs from their wire
    * bytes instead of consuming pre-parsed structs — the operator the
    * reference applies to every contract-update log
    * (`cis2::Event::try_from` over `contract_update_logs()`,
    * main.rs:617-645).
    *
    * Input: one row per log with the emitting contract and its position
    * (`height`, `seq_in_block`, `index`, `subindex`, `log: binary`).
    * Output: one row per successfully decoded event, in the
    * `cis2_events` element shape (index, subindex, token_id, kind,
    * amount) with token_id as uppercase hex of the raw id bytes (how
    * the reference renders CIS-2 token ids).
    *
    * Drop semantics follow the reference's two-level policy: the
    * per-(transaction, contract) log LIST is parsed as a unit, and if
    * ANY entry is MALFORMED the whole list is dropped silently
    * (`.collect::<Result<…>>().ok()`, main.rs:618-626) rather than
    * aborting the block. A custom (non-CIS-2) tag is NOT malformed: it
    * is a successful parse (`Ok(Event::Unknown)`) that the reference
    * keeps in the list and consumes as a no-op (main.rs:497) — so here
    * an `unknown` row never poisons its list; it is filtered out
    * individually after the list check, and a mint in the same list as
    * a custom event still counts. Implemented as a window max over the
    * list key — one shuffle on (height, seq, contract), no UDF: the
    * decode itself is the codegen Expression
    * [[graft.functions.Cis2Decode]]. */
  def decodeRawLogs(logs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(logs.sparkSession)
    val listKey = Window.partitionBy("height", "seq_in_block", "index", "subindex")
    logs.withColumn("ev", expr("cis2_decode(log)"))
      .withColumn("bad",
        max(when(col("ev").isNull, 1).otherwise(0)).over(listKey))
      .where(col("bad") === 0 && col("ev.tag") =!= "unknown")
      .select(col("height"), col("seq_in_block"), col("index"), col("subindex"),
        col("ev.token_id").as("token_id"), col("ev.tag").as("kind"),
        col("ev.amount").as("amount"))
  }

  /** Map the driver `events` table to the canonical feed shape.
    * Addresses are LongType user ids in this mapping. */
  def fromEvents(events: DataFrame): DataFrame = {
    events.select(
      expr("event_id div 8").cast("long").as("height"),
      (col("event_id") % 8).cast("int").as("seq_in_block"),
      md5(expr("cast(event_id div 8 as string)")).as("block_hash"),
      unix_millis(col("ts")).as("block_time_ms"),
      col("props").as("payload_json"),
      (col("event_type") === "error").as("is_special"),
      when(col("event_type") === "error", lit(null).cast("long"))
        .otherwise(col("user_id")).as("sender"),
      when(col("event_type") === "purchase", array(col("user_id"), col("user_id") + 1))
        .otherwise(array(col("user_id"))).as("affected_accounts"),
      when(col("event_type").isin("purchase", "click"),
        array(struct((col("user_id") % 50).as("index"), (col("user_id") % 3).as("subindex"))))
        .otherwise(array().cast("array<struct<index:long,subindex:long>>"))
        .as("affected_contracts"),
      when(col("event_type").isin("purchase", "click"),
        array(struct(
          (col("user_id") % 50).as("index"),
          lit(0L).as("subindex"),
          (col("user_id") % 20).cast("string").as("token_id"),
          when(col("event_type") === "purchase", "mint").otherwise("burn").as("kind"),
          round(col("value") * 100).cast("long").cast("string").as("amount"))))
        .otherwise(array().cast(
          "array<struct<index:long,subindex:long,token_id:string,kind:string,amount:string>>"))
        .as("cis2_events"),
      when(col("event_type") === "signup",
        transform(
          sequence(lit(0), (col("user_id") % 3).cast("int")),
          k => struct(
            lit(0).as("credential_index"),
            k.as("key_index"),
            md5(concat_ws(":", col("user_id").cast("string"),
              col("event_id").cast("string"), k.cast("string"))).as("public_key"),
            (col("user_id") % 3 === 0).as("is_simple_account"))))
        .otherwise(lit(null).cast(
          "array<struct<credential_index:int,key_index:int,public_key:string,is_simple_account:boolean>>"))
        .as("key_bindings")
    )
  }
}
