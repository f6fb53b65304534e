package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.BlockIngest
import graft.query.QueryApi

/** The reference-surface operator inventory (SURVEY §2) bound to the
  * driver testdata: each entry is a Spark plan over `events` (mapped to
  * the block-feed model by [[graft.ingest.BlockFeed.fromEvents]]) plus a
  * DuckDB oracle SQL string computing the same result over the same
  * parquet. Fixed parameters (account 7, contract (7,1)) exist at every
  * scale factor (user_id range grows with sf; small ids always present).
  */
object CoreQueries {

  private val Account = 7L
  private val CIdx = 7L // 7 % 50
  private val CSub = 1L // 7 % 3
  private val MaxId = Long.MaxValue
  // [2024-01-02, 2024-01-20) in epoch ms — non-empty at every sf.
  private val TsLo = 1704153600000L
  private val TsHi = 1705708799999L

  /** Shared DuckDB CTEs mirroring BlockFeed.fromEvents + BlockIngest —
    * the oracle recomputes the reference tables from `events` with the
    * same deterministic rules. */
  val cte: String = """WITH feed AS (
  SELECT event_id, ts, user_id, event_type, value, props,
         event_id // 8 AS height,
         event_id % 8 AS seq,
         (event_id // 8) * 1048576 + (event_id % 8) AS id,
         epoch_ms(ts) AS time_ms,
         md5(CAST(event_id // 8 AS VARCHAR)) AS block,
         (event_type = 'error') AS is_special
  FROM events
), summaries AS (
  SELECT id, block, time_ms AS "timestamp", height,
         CASE WHEN is_special THEN '{"Right":' || props || '}'
              ELSE '{"Left":' || props || '}' END AS summary,
         CASE WHEN is_special THEN NULL ELSE user_id END AS sender
  FROM feed
), ati AS (
  SELECT unnest(CASE WHEN event_type = 'purchase' THEN [user_id, user_id + 1]
                     ELSE [user_id] END) AS account,
         id AS summary
  FROM feed
), cti AS (
  SELECT user_id % 50 AS "index", user_id % 3 AS subindex, id AS summary
  FROM feed WHERE event_type IN ('purchase', 'click')
), cis2_deltas AS (
  SELECT user_id % 50 AS "index", CAST(0 AS BIGINT) AS subindex,
         CAST(user_id % 20 AS VARCHAR) AS token_id,
         CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT)
              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
  FROM feed WHERE event_type IN ('purchase', 'click')
), cis2_tokens AS (
  SELECT "index", subindex, token_id, CAST(SUM(delta) AS VARCHAR) AS total_supply
  FROM cis2_deltas GROUP BY 1, 2, 3
), latest_signup AS (
  SELECT user_id AS address, max_by(event_id, id) AS last_eid
  FROM feed WHERE event_type = 'signup' GROUP BY 1
), bindings AS (
  SELECT address,
         md5(concat_ws(':', address, last_eid, k)) AS public_key,
         0 AS credential_index, CAST(k AS INT) AS key_index,
         (address % 3 = 0) AS is_simple_account
  FROM (SELECT address, last_eid,
               unnest(generate_series(0, address % 3)) AS k
        FROM latest_signup)
)
"""

  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // — A. write-path derivations (SURVEY §2.A) —
    "a5s" -> ((s, d) => Tables.summaries(s, d).orderBy("id")),
    "a6a" -> ((s, d) => Tables.ati(s, d).orderBy("account", "summary")),
    "a6c" -> ((s, d) => Tables.cti(s, d).orderBy("index", "subindex", "summary")),
    "a7c" -> ((s, d) =>
      Tables.cis2Tokens(s, d).orderBy("index", "subindex", "token_id")),
    "a8k" -> ((s, d) =>
      Tables.keyBindings(s, d).orderBy("address", "key_index")),
    "a4c" -> ((s, d) => {
      // alias-class canonicalization: dimension (prefix → canonical) built
      // from the account snapshot, broadcast-joined to the fan-out
      // (main.rs:133-146, 762-784; prefix here = id div 4 instead of the
      // 29-of-32-byte prefix — same operator shape on Long addresses).
      val dim = Tables.events(s, d)
        .groupBy(shiftright(col("user_id"), 2).as("prefix"))
        .agg(min("user_id").as("canonical"))
      val canon = BlockIngest.canonicalize(
        Tables.ati(s, d), "account", dim, a => shiftright(a, 2))
      canon.groupBy(col("account")).agg(count(lit(1)).as("n")).orderBy("account")
    }),
    "a11" -> ((s, d) =>
      BlockIngest.resumeHeight(Tables.summaries(s, d))),
    "c2d" -> ((s, d) => {
      // CIS-2 binary log parse (§2.C): events → wire-format log bytes via
      // cis2_encode, then decoded back through the raw-log feed path
      // (Cis2Decode + reference drop semantics). The oracle computes the
      // expected decoded fields directly from `events`; absolute byte-
      // format correctness against hand-written wire fixtures is pinned
      // by Cis2CodecSpec — together they cover both codec directions.
      graft.functions.GraftFunctions.register(s)
      val raw = Tables.events(s, d)
        .where(col("event_type").isin("purchase", "click"))
        .selectExpr(
          "event_id div 8 as height",
          "cast(event_id % 8 as int) as seq_in_block",
          "user_id % 50 as index",
          "cast(0 as bigint) as subindex",
          """cis2_encode(
               CASE WHEN event_type = 'purchase' THEN 'mint' ELSE 'burn' END,
               cast(cast(user_id % 20 as string) as binary),
               cast(cast(round(value * 100) as bigint) as string),
               unhex(lpad(hex(user_id), 64, '0'))) as log""")
      graft.ingest.BlockFeed.decodeRawLogs(raw)
        .orderBy("height", "seq_in_block")
    }),
    "a12" -> ((s, d) =>
      Tables.ati(s, d).select("account").distinct().orderBy("account")),

    // — B. read surface (SURVEY §2.B) —
    "b1a" -> ((s, d) =>
      QueryApi.accountTransactions(Tables.ati(s, d), Tables.summaries(s, d),
        lit(Account), 0L, Some(50), ascending = true)),
    "b2d" -> ((s, d) =>
      QueryApi.accountTransactions(Tables.ati(s, d), Tables.summaries(s, d),
        lit(Account), MaxId, Some(50), ascending = false)),
    // B1/B2 through the SERVING mirrors (bucketed btree analog), each page
    // a driver-side read of the key's bucket file with no Spark job — same
    // oracle as the scan-based rows; the no-job and one-bucket claims live
    // in ServingPageSpec.
    "b1s" -> ((s, d) => {
      val (atiM, sumM) = graft.sources.ServingMirrors.atiSummaries(s, d)
      QueryApi.accountPageServed(atiM, sumM, lit(Account), 0L, 50,
        ascending = true)
    }),
    "b2s" -> ((s, d) => {
      val (atiM, sumM) = graft.sources.ServingMirrors.atiSummaries(s, d)
      QueryApi.accountPageServed(atiM, sumM, lit(Account), MaxId, 50,
        ascending = false)
    }),
    "b3s" -> ((s, d) => {
      val (ctiM, sumM) = graft.sources.ServingMirrors.ctiSummaries(s, d)
      QueryApi.contractPageServed(ctiM, sumM, CIdx, CSub, 0L, 50,
        ascending = true)
    }),
    "b3a" -> ((s, d) =>
      QueryApi.contractTransactions(Tables.cti(s, d), Tables.summaries(s, d),
        CIdx, CSub, 0L, Some(50), ascending = true)),
    "b3d" -> ((s, d) =>
      QueryApi.contractTransactions(Tables.cti(s, d), Tables.summaries(s, d),
        CIdx, CSub, MaxId, Some(50), ascending = false)),
    "b4a" -> ((s, d) =>
      QueryApi.accountTransactions(Tables.ati(s, d), Tables.summaries(s, d),
        lit(Account), 0L, None, ascending = true)),
    "b4c" -> ((s, d) =>
      QueryApi.contractTransactions(Tables.cti(s, d), Tables.summaries(s, d),
        CIdx, CSub, 0L, None, ascending = true)),
    "b5r" -> ((s, d) =>
      QueryApi.decodeRows(Tables.summaries(s, d)).orderBy("id")),
    // DEEP envelope decode, exercised end-to-end like cis2_decode:
    // the driver fixture's payloads are shallow, so the query first
    // ENCODES the reference-shaped nested BlockItemSummary JSON from
    // `events` (details type tag, sender, events array / tagged
    // protocol event), then runs it through decodeRowsDeep's FAILFAST +
    // hard-stop pipeline; the oracle computes the projections directly.
    "b5d" -> ((s, d) => {
      val feed = Tables.events(s, d).selectExpr(
        "(event_id div 8) * 1048576 + (event_id % 8) as id",
        """CASE WHEN event_type = 'error' THEN
             to_json(named_struct('Right', named_struct(
               'tag', 'protocolEvent',
               'account', cast(user_id as string),
               'amount', cast(cast(round(value * 100) as bigint) as string))))
           ELSE
             to_json(named_struct('Left', named_struct(
               'index', event_id,
               'energyCost', cast(round(value * 100) as bigint),
               'hash', md5(cast(event_id as string)),
               'details', named_struct(
                 'type', CASE event_type
                           WHEN 'signup' THEN 'accountCreation'
                           WHEN 'view' THEN 'update'
                           ELSE 'accountTransaction' END,
                 'cost', cast(cast(round(value * 100) as bigint) as string),
                 'sender', CASE WHEN event_type IN ('purchase', 'click')
                             THEN cast(user_id as string) END,
                 'events', CASE WHEN event_type = 'purchase' THEN
                     array(named_struct('tag', 'Transferred',
                             'amount', cast(cast(round(value * 100) as bigint) as string),
                             'to', cast(user_id + 1 as string)),
                           named_struct('tag', 'Memo',
                             'amount', cast(null as string),
                             'to', cast(null as string)))
                   WHEN event_type = 'click' THEN
                     array(named_struct('tag', 'Transferred',
                             'amount', cast(cast(round(value * 100) as bigint) as string),
                             'to', cast(user_id as string)))
                   ELSE array() END))))
           END as summary""")
      QueryApi.decodeRowsDeep(feed).orderBy("id")
    }),
    "b5s" -> ((s, d) =>
      QueryApi.decodeRowsStrict(Tables.summaries(s, d)).orderBy("id")),
    "b6" -> ((s, d) =>
      QueryApi.topKPerAccount(Tables.ati(s, d), 3).orderBy("account", "rn")),
    "b7" -> ((s, d) =>
      QueryApi.changeFeed(Tables.ati(s, d), Tables.summariesWithSender(s, d),
        lit(Account), 0L, 100)),
    "b8" -> ((s, d) =>
      Tables.summaries(s, d).agg(max("height").as("max_height"))),
    "b10" -> ((s, d) =>
      Tables.cis2Tokens(s, d)
        .where(col("index") === CIdx && col("subindex") === 0L)
        .orderBy("token_id")),
    "b11" -> ((s, d) => {
      val b = Tables.keyBindings(s, d)
      val keys = b.where(col("address") === Account).select("public_key")
      b.join(keys, Seq("public_key"), "left_semi")
        .select("address", "public_key", "key_index")
        .orderBy("address", "key_index")
    }),
    "b12" -> ((s, d) =>
      QueryApi.accountTransactionsInRange(Tables.ati(s, d), Tables.summaries(s, d),
        lit(Account), lit(TsLo), lit(TsHi), "timestamp"))
  )

  val oracles: Map[String, String] = Map(
    "a5s" -> (cte +
      """SELECT id, block, "timestamp", height, summary FROM summaries ORDER BY id"""),
    "a6a" -> (cte +
      "SELECT account, summary FROM ati ORDER BY account, summary"),
    "a6c" -> (cte +
      """SELECT "index", subindex, summary FROM cti ORDER BY "index", subindex, summary"""),
    "a7c" -> (cte +
      """SELECT "index", subindex, token_id, total_supply FROM cis2_tokens ORDER BY "index", subindex, token_id"""),
    "a8k" -> (cte +
      "SELECT address, public_key, credential_index, key_index, is_simple_account FROM bindings ORDER BY address, key_index"),
    "a4c" -> (cte +
      """, dim AS (SELECT user_id // 4 AS prefix, min(user_id) AS canonical FROM events GROUP BY 1)
SELECT coalesce(d.canonical, a.account) AS account, count(*) AS n
FROM ati a LEFT JOIN dim d ON a.account // 4 = d.prefix
GROUP BY 1 ORDER BY 1"""),
    "a11" -> (cte +
      "SELECT max_by(height, id) AS height FROM summaries"),
    "c2d" -> """
SELECT event_id // 8 AS height,
       CAST(event_id % 8 AS INT) AS seq_in_block,
       user_id % 50 AS "index",
       CAST(0 AS BIGINT) AS subindex,
       upper(hex(CAST(user_id % 20 AS VARCHAR))) AS token_id,
       CASE WHEN event_type = 'purchase' THEN 'mint' ELSE 'burn' END AS kind,
       CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS amount
FROM events WHERE event_type IN ('purchase', 'click')
ORDER BY height, seq_in_block""",
    "a12" -> (cte +
      "SELECT DISTINCT account FROM ati ORDER BY account"),
    "b1a" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND ati.summary >= 0
ORDER BY s.id ASC LIMIT 50"""),
    "b2d" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND ati.summary <= $MaxId
ORDER BY s.id DESC LIMIT 50"""),
    "b1s" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND ati.summary >= 0
ORDER BY s.id ASC LIMIT 50"""),
    "b2s" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND ati.summary <= $MaxId
ORDER BY s.id DESC LIMIT 50"""),
    "b3a" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM cti JOIN summaries s ON cti.summary = s.id
WHERE cti."index" = $CIdx AND cti.subindex = $CSub AND cti.summary >= 0
ORDER BY s.id ASC LIMIT 50"""),
    "b3s" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM cti JOIN summaries s ON cti.summary = s.id
WHERE cti."index" = $CIdx AND cti.subindex = $CSub AND cti.summary >= 0
ORDER BY s.id ASC LIMIT 50"""),
    "b3d" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM cti JOIN summaries s ON cti.summary = s.id
WHERE cti."index" = $CIdx AND cti.subindex = $CSub AND cti.summary <= $MaxId
ORDER BY s.id DESC LIMIT 50"""),
    "b4a" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND ati.summary >= 0
ORDER BY s.id ASC"""),
    "b4c" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM cti JOIN summaries s ON cti.summary = s.id
WHERE cti."index" = $CIdx AND cti.subindex = $CSub AND cti.summary >= 0
ORDER BY s.id ASC"""),
    "b5d" -> """
SELECT (event_id // 8) * 1048576 + (event_id % 8) AS id,
  CASE WHEN event_type = 'error' THEN 'Right' ELSE 'Left' END AS variant,
  CASE WHEN event_type = 'error' THEN NULL ELSE event_id END AS tx_index,
  CASE WHEN event_type = 'error' THEN NULL
       WHEN event_type = 'signup' THEN 'accountCreation'
       WHEN event_type = 'view' THEN 'update'
       ELSE 'accountTransaction' END AS details_type,
  CASE WHEN event_type IN ('purchase', 'click')
       THEN CAST(user_id AS VARCHAR) END AS sender,
  CAST(CASE WHEN event_type = 'error' THEN NULL
       WHEN event_type = 'purchase' THEN 2
       WHEN event_type = 'click' THEN 1 ELSE 0 END AS INT) AS n_events,
  CASE WHEN event_type IN ('purchase', 'click')
       THEN 'Transferred' END AS first_event_tag,
  CASE WHEN event_type = 'error' THEN 'protocolEvent' END AS protocol_tag,
  CASE WHEN event_type = 'error'
       THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
       END AS protocol_amount
FROM events ORDER BY id""",

    "b5r" -> (cte + """
SELECT id, summary->>'$.Left.k' AS left_k, summary->>'$.Right.k' AS right_k
FROM summaries
WHERE json_valid(summary)
  AND (json_extract(summary, '$.Left') IS NOT NULL
       OR json_extract(summary, '$.Right') IS NOT NULL)
ORDER BY id"""),
    "b5s" -> (cte + """
SELECT id,
       CASE WHEN json_extract(summary, '$.Left') IS NOT NULL THEN 'Left'
            ELSE 'Right' END AS variant,
       CAST(summary->>'$.Left.k' AS BIGINT) AS left_k,
       CAST(summary->>'$.Right.k' AS BIGINT) AS right_k
FROM summaries ORDER BY id"""),
    "b6" -> (cte + """
SELECT account, summary, CAST(rn AS INT) AS rn FROM (
  SELECT account, summary,
         row_number() OVER (PARTITION BY account ORDER BY summary DESC) AS rn
  FROM ati) WHERE rn <= 3 ORDER BY account, rn"""),
    "b7" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary, s.sender
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND ati.summary > 0
  AND (s.sender IS NULL OR s.sender <> $Account)
ORDER BY s.id LIMIT 100"""),
    "b8" -> (cte +
      "SELECT max(height) AS max_height FROM summaries"),
    "b10" -> (cte + s"""
SELECT "index", subindex, token_id, total_supply FROM cis2_tokens
WHERE "index" = $CIdx AND subindex = 0 ORDER BY token_id"""),
    "b11" -> (cte + s"""
SELECT b.address, b.public_key, b.key_index
FROM bindings b
WHERE b.public_key IN (SELECT public_key FROM bindings WHERE address = $Account)
ORDER BY b.address, b.key_index"""),
    "b12" -> (cte + s"""
SELECT s.id, s.block, s."timestamp", s.height, s.summary
FROM ati JOIN summaries s ON ati.summary = s.id
WHERE ati.account = $Account AND s."timestamp" BETWEEN $TsLo AND $TsHi
ORDER BY s.id ASC""")
  )
}
