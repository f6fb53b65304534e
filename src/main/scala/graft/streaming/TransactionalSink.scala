package graft.streaming

import java.math.BigInteger
import java.sql.{Connection, PreparedStatement, SQLException}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.ingest.BlockIngest

/** Exactly-once JDBC sink for the block-feed stream — the Spark analog of
  * the reference's per-block transactional writer (insert_block,
  * main.rs:543-574; "each block is one DB transaction", README.md:41-44)
  * with the retry/replay semantics of its use_db loop (lib.rs:284-361).
  *
  * **One pass per micro-batch.** Like `insert_block`, which derives every
  * table row of a block in one pass, the batch is ONE narrow projection
  * of the feed ([[blockRows]]): per feed row its summary, the deduped
  * affected accounts and contracts, the mint/burn deltas and the
  * key-binding address — the same `BlockIngest` columns the batch
  * derivations explode. One feed scan, one shuffle. The writer reads
  * that frame's own RDD, converting each row with one interpreted
  * converter: no second plan, no SQL execution of its own (inside a
  * stream its jobs run under the batch's execution), no Row
  * deserializer generated per task. AQE coalesces a small batch's
  * shuffle into one writer task.
  *
  * **Per-block atomic visibility.** That projection is repartitioned by
  * `height` so a single task owns every row of a block (the guarantee
  * for arbitrary inputs: file sources and batch backfill) and sorted by
  * `(height, id)`; the writer fans each block's rows out to summaries,
  * ati, cti, cis2 deltas + supply and key bindings and commits them in
  * ONE JDBC transaction on a single connection. A crash or kill at any
  * point leaves every block either fully visible in all five tables or
  * not visible at all — never a block with `summaries` present but `ati`
  * missing. Blocks commit in height order within a partition; across
  * partitions order is not guaranteed, which is why the streaming
  * CHECKPOINT (not the A11 max-height query) is the resume authority
  * mid-stream: a replayed micro-batch re-fills any inter-block gap
  * idempotently. A11 remains correct for cold starts from a cleanly
  * stopped DB.
  *
  * Exactly-once is BY CONSTRUCTION, not by ledger:
  *  - every row has a deterministic natural key (engine-derived ids,
  *    SURVEY §7.4), so all appends are conditional inserts
  *    (`INSERT … WHERE NOT EXISTS`) — a replayed micro-batch inserts 0
  *    rows;
  *  - CIS-2 deltas are inserted as a STATEMENT BATCH and the per-
  *    statement update counts from `executeBatch` say which deltas are
  *    NEW; only those fold into the running supply (BigInteger
  *    arithmetic — NUMERIC(80,0) analog), so replays add nothing twice.
  *    A block applies its supplies in token-key order and takes each
  *    token row's X lock (a no-op `UPDATE`) before it reads it, so two
  *    partitions on a hot token queue on the row instead of both holding
  *    S locks and deadlocking on the upgrade; the lock is held until
  *    commit, so the write after the read is a plain `UPDATE`, and a
  *    token's first mint is a savepoint-guarded insert that retries from
  *    the lock when another transaction inserted the row first;
  *  - key bindings are reduced to the LATEST snapshot per (address,
  *    BLOCK) — the last row per address in id order — per block, not per
  *    batch, so every block transaction carries its own snapshot and the
  *    all-five-tables atomic-visibility invariant holds for bindings too
  *    (a reader between two commits of one batch never sees block N
  *    present with block N's binding missing). Across blocks and
  *    replayed batches the src_id last-write-wins guards make older
  *    snapshots no-ops, matching the reference's final state
  *    (main.rs:506-540).
  *
  * Driver requirement: `executeBatch` per-statement counts MUST be real
  * row counts — the CIS-2 supply fold depends on them. A driver
  * returning `Statement.SUCCESS_NO_INFO` (e.g. pgjdbc with
  * `reWriteBatchedInserts=true`) would silently treat new deltas as
  * replays, permanently under-counting supply; the writer fails fast on
  * any negative count instead. Keep `reWriteBatchedInserts` OFF for the
  * Postgres dialect.
  */
object TransactionalSink extends Serializable {

  /** The write frame of a feed batch (Schemas.blockFeed, with or without
    * id): one row per feed item carrying everything its block
    * transaction writes, hash-partitioned by `height` and sorted by
    * `(height, id)` within each partition. */
  def blockRows(feed: DataFrame): DataFrame =
    BlockIngest.withId(feed).select(
      col("height"), col("id"), col("block_hash"), col("block_time_ms"),
      BlockIngest.envelope.as("summary"),
      BlockIngest.distinctAccounts.as("accounts"),
      BlockIngest.distinctContracts.as("contracts"),
      BlockIngest.cis2DeltaArray.as("deltas"),
      BlockIngest.bindingAddress.as("address"), col("key_bindings"))
      .repartition(col("height"))
      .sortWithinPartitions(col("height"), col("id"))

  /** Write one micro-batch of feed rows (Schemas.blockFeed + id) into
    * the serving DB with per-block atomicity. Pure function of the
    * batch — usable from foreachBatch (streaming) or directly (batch
    * backfill, A13). */
  def writeBatch(feedBatch: DataFrame, url: String, dialect: Dialect): Unit = {
    val qe = blockRows(feedBatch).queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(qe.analyzed.schema)
    // Outside a stream no execution encloses the write; the tasks still
    // get the session's SQL confs.
    SQLExecution.withSQLConfPropagated(qe.sparkSession) {
      qe.toRdd.foreachPartition { rows =>
        // `toRdd` reuses its row: convert each one before it is buffered
        if (rows.hasNext) writePartition(rows.map(toRow(_).asInstanceOf[Row]), url, dialect)
      }
    }
  }

  /** One connection per partition; one transaction (commit) per block. */
  private def writePartition(rows: Iterator[Row], url: String, dialect: Dialect): Unit = {
    val c = Migrations.connect(url)
    try {
      c.setAutoCommit(false)
      val st = new BlockStatements(c, dialect)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      var curHeight = Long.MinValue
      def flush(): Unit = if (buf.nonEmpty) {
        writeBlock(c, st, buf.toSeq)
        c.commit()
        buf.clear()
      }
      rows.foreach { r =>
        val h = r.getAs[Long]("height")
        if (h != curHeight) { flush(); curHeight = h }
        buf += r
      }
      flush()
      st.close()
    } catch {
      case e: Throwable => c.rollback(); throw e
    } finally c.close()
  }

  /** All writes of one block (its feed rows in id order), in the
    * reference's insert order (main.rs:543-574): summaries → ati → cti →
    * cis2 → bindings. */
  private def writeBlock(c: Connection, st: BlockStatements, rows: Seq[Row]): Unit = {
    rows.foreach { r =>
      st.insSummary.add(Seq(r.getAs[Long]("id"), r.getAs[String]("block_hash"),
        r.getAs[Long]("block_time_ms"), r.getAs[Long]("height"), r.getAs[String]("summary")))
    }
    st.insSummary.executeBatch()

    rows.foreach(r => items[Long](r, "accounts").foreach(a => st.insAti.add(Seq(a, r.getAs[Long]("id")))))
    st.insAti.executeBatch()

    rows.foreach(r => items[Row](r, "contracts").foreach { k =>
      st.insCti.add(Seq(k.getAs[Long]("index"), k.getAs[Long]("subindex"), r.getAs[Long]("id")))
    })
    st.insCti.executeBatch()

    // CIS-2: batched conditional inserts; executeBatch update counts say
    // which deltas are NEW in this transaction — only those fold into
    // the running supply (replay inserts 0 ⇒ applies 0).
    val deltaRows = rows.flatMap(r => items[Row](r, "deltas").map(r.getAs[Long]("id") -> _))
    deltaRows.foreach { case (id, d) =>
      st.insDelta.add(Seq(id, d.getAs[Int]("seq"), d.getAs[Long]("index"),
        d.getAs[Long]("subindex"), d.getAs[String]("token_id"), d.getAs[String]("delta")))
    }
    val inserted = st.insDelta.executeBatch()
    // The supply fold is only sound with REAL per-statement counts; a
    // driver answering SUCCESS_NO_INFO (-2) would silently misclassify
    // new deltas as replays (permanent, invisible supply corruption) —
    // fail the task instead and let the idempotent retry surface it.
    require(inserted.forall(_ >= 0),
      "cis2 delta executeBatch returned SUCCESS_NO_INFO; exact update " +
        "counts are required (disable driver batch rewriting, e.g. " +
        "pgjdbc reWriteBatchedInserts)")
    val acc = scala.collection.mutable.HashMap.empty[(Long, Long, String), BigInteger]
    deltaRows.zip(inserted).foreach { case ((_, d), n) =>
      if (n == 1) {
        val key = (d.getAs[Long]("index"), d.getAs[Long]("subindex"), d.getAs[String]("token_id"))
        val v = new BigInteger(d.getAs[String]("delta"))
        acc.updateWith(key)(cur => Some(cur.getOrElse(BigInteger.ZERO).add(v)))
      }
    }
    // In token-key order, so two blocks lock their tokens in one order.
    acc.toSeq.sortBy(_._1).foreach { case (key, d) => applySupply(c, st, key, d) }

    // Latest snapshot per address in this block: the rows are in id
    // order, so the last one per address wins.
    val latest = scala.collection.mutable.LinkedHashMap.empty[Long, Row]
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("key_bindings"))) latest(r.getAs[Long]("address")) = r
    }
    // Deletes before inserts is safe: a delete only drops older snapshots.
    latest.foreach { case (addr, r) =>
      val id = r.getAs[Long]("id")
      val bs = items[Row](r, "key_bindings")
      if (bs.nonEmpty) bind(st.delBindings, addr, id).addBatch()
      bs.foreach { b =>
        val (cred, key) = (b.getAs[Int]("credential_index"), b.getAs[Int]("key_index"))
        bind(st.insBinding, addr, id, cred, key, b.getAs[String]("public_key"),
          b.getAs[Boolean]("is_simple_account"), addr, id, addr, id, cred, key).addBatch()
      }
    }
    st.delBindings.executeBatch()
    st.insBinding.executeBatch()
  }

  /** Binds `values` to the statement's parameters, in order. */
  private def bind(ps: PreparedStatement, values: Any*): PreparedStatement = {
    values.zipWithIndex.foreach {
      case (l: Long, i) => ps.setLong(i + 1, l)
      case (n: Int, i) => ps.setInt(i + 1, n)
      case (s: String, i) => ps.setString(i + 1, s)
      case (b: Boolean, i) => ps.setBoolean(i + 1, b)
      case (other, i) => ps.setObject(i + 1, other)
    }
    ps
  }

  /** The elements of an array field; none when it is null (as `explode`). */
  private def items[T](r: Row, field: String): Seq[T] = {
    val i = r.fieldIndex(field)
    if (r.isNullAt(i)) Nil else r.getSeq[T](i)
  }

  /** Read-modify-write of one token's running supply. The no-op
    * `UPDATE` takes the row's X lock first, and only a row it locked is
    * read, so a concurrent block transaction on the same token waits for
    * this one's commit instead of reading under an S lock it cannot
    * upgrade. The lock is held until commit, so the write needs no
    * compare-and-swap. A row the lock missed is inserted; the insert is
    * savepoint-guarded, so losing the first-insert race (a PK violation)
    * degrades to a retry from the lock instead of poisoning the block
    * transaction. */
  private def applySupply(c: Connection, st: BlockStatements,
                          key: (Long, Long, String), d: BigInteger): Unit = {
    val (i, s, t) = key
    var done = false
    while (!done) {
      if (bind(st.lockTok, i, s, t).executeUpdate() == 1) {
        val rs = bind(st.selTok, i, s, t).executeQuery()
        rs.next()
        val cur = rs.getString(1)
        rs.close()
        bind(st.updTok, new BigInteger(cur).add(d).toString, i, s, t).executeUpdate()
        done = true
      } else {
        val sp = c.setSavepoint()
        try {
          bind(st.insTok, i, s, t, d.toString).executeUpdate()
          done = true
        } catch {
          case _: SQLException => c.rollback(sp) // lost the insert race; retry as update
        }
      }
    }
  }

  /** Batched "insert unless key exists" statement in the dialect's
    * native formulation (Derby: WHERE NOT EXISTS with the key values
    * bound twice; Postgres: ON CONFLICT DO NOTHING, bound once). */
  private final class IgnoreInsert(c: Connection, d: Dialect, table: String,
                                   cols: Seq[String], keys: Seq[String]) {
    private val (sql, rebindKeys) = d.insertIgnore(table, cols, keys)
    private val keyIdx = keys.map(cols.indexOf)
    val ps: PreparedStatement = c.prepareStatement(sql)

    /** Bind one row (values in `cols` order) and add it to the batch. */
    def add(values: Seq[Any]): Unit =
      bind(ps, (if (rebindKeys) values ++ keyIdx.map(values) else values): _*).addBatch()
    def executeBatch(): Array[Int] = ps.executeBatch()
    def close(): Unit = ps.close()
  }

  /** Prepared statements reused across all blocks of a partition. */
  private final class BlockStatements(c: Connection, dialect: Dialect) {
    private val dummy = dialect.dummyFrom

    val insSummary = new IgnoreInsert(c, dialect, "summaries",
      Seq("id", "block", "ts", "height", "summary"), Seq("id"))
    val insAti = new IgnoreInsert(c, dialect, "ati",
      Seq("account", "summary"), Seq("account", "summary"))
    val insCti = new IgnoreInsert(c, dialect, "cti",
      Seq("idx", "subidx", "summary"), Seq("idx", "subidx", "summary"))
    val insDelta = new IgnoreInsert(c, dialect, "cis2_deltas",
      Seq("summary", "seq", "idx", "subidx", "token_id", "delta"),
      Seq("summary", "seq"))

    val lockTok: PreparedStatement = c.prepareStatement(
      """UPDATE cis2_tokens SET total_supply = total_supply
        |WHERE idx = ? AND subidx = ? AND token_id = ?""".stripMargin)
    val selTok: PreparedStatement = c.prepareStatement(
      "SELECT total_supply FROM cis2_tokens WHERE idx = ? AND subidx = ? AND token_id = ?")
    val updTok: PreparedStatement = c.prepareStatement(
      """UPDATE cis2_tokens SET total_supply = ?
        |WHERE idx = ? AND subidx = ? AND token_id = ?""".stripMargin)
    val insTok: PreparedStatement = c.prepareStatement(
      "INSERT INTO cis2_tokens (idx, subidx, token_id, total_supply) VALUES (?, ?, ?, ?)")

    val delBindings: PreparedStatement = c.prepareStatement(
      "DELETE FROM bindings WHERE address = ? AND src_id < ?")
    val insBinding: PreparedStatement = c.prepareStatement(
      s"""INSERT INTO bindings (address, src_id, credential_index, key_index, public_key, is_simple_account)
         |SELECT ?, ?, ?, ?, ?, ? $dummy
         |WHERE NOT EXISTS (SELECT 1 FROM bindings WHERE address = ? AND src_id > ?)
         |  AND NOT EXISTS (SELECT 1 FROM bindings WHERE address = ? AND src_id = ?
         |                  AND credential_index = ? AND key_index = ?)""".stripMargin)

    def close(): Unit = {
      Seq(insSummary, insAti, insCti, insDelta).foreach(_.close())
      Seq(lockTok, selTok, updTok, insTok, delBindings, insBinding).foreach(_.close())
    }
  }
}
