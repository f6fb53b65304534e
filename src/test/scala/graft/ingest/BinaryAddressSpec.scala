package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.SparkSpec
import graft.model.Schemas

/** Address-type genericity: the reference's wire format is a 32-byte
  * account address whose alias class is the first 29 bytes
  * (`AccountAddressEq` over `bytes[0..29]`, main.rs:133-146); the
  * synthetic feed uses Longs. Every ingest operator is structural, so
  * the SAME code must run on `BinaryType` addresses with
  * `substring(addr, 1, 29)` as the alias-class key — this spec proves
  * it end-to-end: fan-out, dedup, and canonicalization on 32-byte
  * binary addresses.
  */
class BinaryAddressSpec extends SparkSpec {
  import BinaryAddressSpec.addr
  import scala.jdk.CollectionConverters._

  private def feed: DataFrame = BinaryAddressSpec.feed(spark)

  test("fan-out and per-summary dedup work on 32-byte binary addresses") {
    val ati = BlockIngest.ati(feed).collect()
    // height 0 row: alias A#1 deduped to one row + canonical B = 2 rows;
    // height 1 row: alias B#7 = 1 row
    assert(ati.length == 3)
    assert(ati.forall(_.getAs[Array[Byte]]("account").length == 32))
  }

  test("29-byte-prefix canonicalization maps aliases to canonical addresses") {
    // canonical dimension: prefix = first 29 bytes, canonical = alias 0
    val dim = spark.createDataFrame(
      Seq(Row(addr(10, 0).take(29), addr(10, 0)),
          Row(addr(20, 0).take(29), addr(20, 0))).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("prefix", BinaryType),
        org.apache.spark.sql.types.StructField("canonical", BinaryType))))

    val canon = BlockIngest.canonicalize(
      BlockIngest.ati(feed), "account", dim, a => substring(a, 1, 29))
      .collect()

    val canonA = addr(10, 0).toSeq
    val canonB = addr(20, 0).toSeq
    val got = canon.map(_.getAs[Array[Byte]]("account").toSeq)
    // every alias resolved to its class canonical; nothing else appears
    assert(got.toSet == Set(canonA, canonB))
    assert(got.count(_ == canonB) == 2) // canonical B + alias B#7
  }

  test("key-binding snapshot keys on the binary address") {
    val kb = BlockIngest.keyBindings(feed).collect()
    assert(kb.length == 1)
    assert(kb.head.getAs[Array[Byte]]("address").toSeq == addr(20, 7).toSeq)
    assert(kb.head.getAs[String]("public_key") == "pk-bin")
  }
}

/** The 32-byte address fixture, shared with the serving-page spec. */
object BinaryAddressSpec {
  import scala.jdk.CollectionConverters._

  /** 32-byte address: 29 shared prefix bytes (from `base`) + 3 alias
    * bytes — alias 0 is the canonical address of its class. */
  def addr(base: Int, alias: Int): Array[Byte] = {
    val a = new Array[Byte](32)
    (0 until 29).foreach(i => a(i) = ((base + i) % 127).toByte)
    a(29) = ((alias >> 16) & 0xff).toByte
    a(30) = ((alias >> 8) & 0xff).toByte
    a(31) = (alias & 0xff).toByte
    a
  }

  /** Heights 0 and 1 are the spec's two blocks. Each of `more` further
    * heights h has one summary from canonical A affecting canonical B and
    * alias B#(h % 2 * 7), so B#0 gets a row per height (deduped when
    * h is even). */
  def feed(spark: SparkSession, more: Int = 0): DataFrame = {
    val rows = Seq(
      // height 0: sender = canonical A, affects alias A#1 (same class)
      // twice (dedup) and canonical B
      Row(0L, 0, "h0", 0L, """{"k":0}""", false, addr(10, 0),
        Seq(addr(10, 1), addr(10, 1), addr(20, 0)),
        Seq.empty[Row], Seq.empty[Row], null),
      // height 1: protocol event affecting alias B#7
      Row(1L, 0, "h1", 1000L, """{"s":1}""", true, null,
        Seq(addr(20, 7)), Seq.empty[Row], Seq.empty[Row],
        Seq(Row(0, 0, "pk-bin", true)))
    ) ++ (2 until 2 + more).map(h =>
      Row(h.toLong, 0, s"h$h", 1000L * h, s"""{"k":$h}""", false, addr(10, 0),
        Seq(addr(20, 0), addr(20, h % 2 * 7)), Seq.empty[Row], Seq.empty[Row], null))
    spark.createDataFrame(rows.asJava, Schemas.blockFeed(BinaryType))
  }
}
