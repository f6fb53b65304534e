package graft.streaming

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.LongType

import graft.SparkSpec
import graft.ingest.BlockIngest
import graft.model.Schemas

/** The single-pass sink against the batch derivation, table by table, on
  * an edge fixture: two key-binding updates of one address in one block
  * (the later id wins) and another in a later block, duplicate accounts
  * and contracts inside one row, a `transfer` between a `mint` and a
  * `burn` (the delta `seq` is the event's position), an account creation
  * without a sender, and a supply beyond Decimal(38). Plus the pin on
  * the write frame: one feed scan, one Exchange; the pin on the write:
  * no SQL execution of its own; and two hot tokens written by four
  * concurrent writers. */
class TransactionalSinkSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def ev(idx: Long, tok: String, kind: String, amount: String) =
    Row(idx, 0L, tok, kind, amount)
  private def kb(cred: Int, key: Int, pk: String, simple: Boolean) =
    Row(cred, key, pk, simple)

  private val rows: Seq[Row] = Seq(
    // block 0: address 5 updates its keys twice, 7 is created
    Row(0L, 0, "h0", 1000L, """{"k":0}""", false, 5L, Seq(5L, 6L, 5L),
      Seq(Row(1L, 0L), Row(2L, 0L), Row(1L, 0L)),
      Seq(ev(1, "t", "mint", "100"), ev(1, "t", "transfer", "7"), ev(1, "t", "burn", "30")),
      Seq(kb(0, 0, "pk-a", false))),
    Row(0L, 1, "h0", 1000L, """{"k":1}""", false, 5L, Seq(5L), Seq.empty[Row],
      Seq.empty[Row], Seq(kb(0, 0, "pk-b", false), kb(0, 1, "pk-b2", false))),
    Row(0L, 2, "h0", 1000L, """{"s":2}""", true, null, Seq(7L), Seq.empty[Row],
      Seq.empty[Row], Seq(kb(0, 0, "pk-new", true))),
    // block 1: a later update of address 5
    Row(1L, 0, "h1", 2000L, """{"k":3}""", false, 5L, Seq(5L), Seq(Row(2L, 0L)),
      Seq(ev(2, "u", "mint", "5")), Seq(kb(1, 0, "pk-c", false))),
    Row(1L, 1, "h1", 2000L, """{"k":4}""", false, 6L, Seq(6L, 7L), Seq(Row(2L, 0L)),
      Seq(ev(1, "t", "burn", "1")), null),
    // block 2: a supply past Decimal(38)
    Row(2L, 0, "h2", 3000L, """{"k":5}""", false, 6L, Seq(6L), Seq.empty[Row],
      Seq(ev(1, "t", "mint", "9" * 45)), null))

  private def feed(heights: Set[Long]): DataFrame =
    spark.createDataFrame(rows.filter(r => heights(r.getLong(0))).asJava,
      Schemas.blockFeed(LongType)).repartition(3) // rows of a block arrive split

  private def q(url: String, sql: String): Seq[Seq[Any]] = {
    val c = Migrations.connect(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.Buffer.empty[Seq[Any]]
      while (rs.next()) buf += (1 to n).map(i => norm(rs.getObject(i)))
      buf.toSeq
    } finally c.close()
  }
  private def norm(v: Any): Any = v match {
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long => n.longValue
    case other => other
  }
  private def rowsOf(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.selectExpr(cols: _*).collect().toSeq.map(_.toSeq.map(norm))
  private def sorted(s: Seq[Seq[Any]]): Seq[String] = s.map(_.mkString("|")).sorted

  /** Every table of the database equals the derivation over `f`. */
  private def assertTablesEqual(url: String, f: DataFrame): Unit = {
    def check(table: String, sql: String, df: DataFrame, cols: String*) =
      assert(sorted(q(url, sql)) == sorted(rowsOf(df, cols: _*)), table)
    check("summaries", "SELECT id, block, ts, height, summary FROM summaries",
      BlockIngest.summaries(f), "id", "block", "timestamp", "height", "summary")
    check("ati", "SELECT account, summary FROM ati", BlockIngest.ati(f), "account", "summary")
    check("cti", "SELECT idx, subidx, summary FROM cti",
      BlockIngest.cti(f), "index", "subindex", "summary")
    check("cis2_deltas", "SELECT summary, seq, idx, subidx, token_id, delta FROM cis2_deltas",
      BlockIngest.cis2DeltaRows(BlockIngest.withId(f)),
      "summary", "seq", "index", "subindex", "token_id", "delta")
    check("cis2_tokens", "SELECT idx, subidx, token_id, total_supply FROM cis2_tokens",
      BlockIngest.cis2Tokens(f), "index", "subindex", "token_id", "total_supply")
    check("bindings",
      "SELECT address, credential_index, key_index, public_key, is_simple_account FROM bindings",
      BlockIngest.keyBindings(f),
      "address", "credential_index", "key_index", "public_key", "is_simple_account")
  }

  test("sink tables equal the batch derivation after a write and after a replay") {
    val url = s"jdbc:derby:${Files.createTempDirectory("graft-sink")}/db;create=true"
    Migrations.migrate(url, Dialect.Derby)

    TransactionalSink.writeBatch(feed(Set(0L)), url, Dialect.Derby)
    assertTablesEqual(url, feed(Set(0L)))
    // the later of the two block-0 updates of address 5 wins
    assert(q(url, "SELECT public_key FROM bindings WHERE address = 5 ORDER BY key_index")
      == Seq(Seq("pk-b"), Seq("pk-b2")))
    // the transfer between mint and burn keeps its position out of seq
    assert(q(url, "SELECT seq, delta FROM cis2_deltas ORDER BY seq")
      == Seq(Seq(0L, "100"), Seq(2L, "-30")))
    assert(q(url, "SELECT COUNT(*) FROM ati WHERE summary = 0") == Seq(Seq(2L)))
    assert(q(url, "SELECT COUNT(*) FROM cti WHERE summary = 0") == Seq(Seq(2L)))

    val all = Set(0L, 1L, 2L)
    TransactionalSink.writeBatch(feed(all), url, Dialect.Derby) // block 0 replays
    assertTablesEqual(url, feed(all))
    assert(q(url, "SELECT public_key FROM bindings WHERE address = 5") == Seq(Seq("pk-c")))
    assert(q(url, "SELECT total_supply FROM cis2_tokens WHERE token_id = 't'")
      == Seq(Seq((BigInt(100 - 30 - 1) + BigInt("9" * 45)).toString)))

    TransactionalSink.writeBatch(feed(all), url, Dialect.Derby) // full replay
    assertTablesEqual(url, feed(all))
  }

  test("a warm write outside a stream starts no SQL execution of its own") {
    val url = s"jdbc:derby:${Files.createTempDirectory("graft-sink-exec")}/db;create=true"
    Migrations.migrate(url, Dialect.Derby)
    // the three blocks unshuffled, so the height shuffle is the only one
    val f = spark.createDataFrame(rows.asJava, Schemas.blockFeed(LongType))
    TransactionalSink.writeBatch(f, url, Dialect.Derby) // warm
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => starts.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try {
      // the height shuffle's map stage and the write: two jobs, and the
      // frame's RDD is written without a plan or execution of its own
      assert(jobsDuring(TransactionalSink.writeBatch(f, url, Dialect.Derby)) == 2)
      ListenerBusDrain(sc)
      assert(starts.get == 0)
    } finally sc.removeSparkListener(l)
    assertTablesEqual(url, f)
  }

  test("blocks of many partitions on two hot tokens commit without a deadlock") {
    // 4 writers (coalescing off, or AQE folds a small batch into one
    // task), every block minting the same two tokens, in alternating
    // event order: each block locks the token rows in key order before
    // reading them, so the writers queue on the rows
    val hot = (0L until 200L).map { h =>
      val mints = Seq("hot-a", "hot-b").map(t => ev(3, t, "mint", (h + 1).toString))
      Row(h, 0, s"h$h", 1000L * h, s"""{"k":$h}""", false, h % 7, Seq(h % 7),
        Seq(Row(3L, 0L)), if (h % 2 == 0) mints else mints.reverse, null)
    }
    val f = spark.createDataFrame(hot.asJava, Schemas.blockFeed(LongType)).repartition(4)
    val url = s"jdbc:derby:${Files.createTempDirectory("graft-sink-hot")}/db;create=true"
    Migrations.migrate(url, Dialect.Derby)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      assert(TransactionalSink.blockRows(f).queryExecution.toRdd.getNumPartitions >= 4)
      TransactionalSink.writeBatch(f, url, Dialect.Derby)
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assertTablesEqual(url, f)
    assert(q(url, "SELECT total_supply FROM cis2_tokens") == Seq.fill(2)(Seq((200 * 201 / 2).toString)))
  }

  test("the write frame scans the feed once and shuffles once, by height") {
    val dir = Files.createTempDirectory("graft-sink-feed").toString + "/feed"
    feed(Set(0L, 1L, 2L)).write.parquet(dir)
    val p = TransactionalSink.blockRows(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning\\(height#".r.findFirstIn(p).isDefined, p)
  }
}
