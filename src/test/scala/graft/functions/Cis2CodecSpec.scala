package graft.functions

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Byte-format fixtures for the CIS-2 log codec, hand-encoded from the
  * public CIS-2 standard's event serialization (reference applies the
  * same decode via `cis2::Event::try_from`, main.rs:617-645). */
class Cis2CodecSpec extends SparkSpec {
  import spark.implicits._

  private def decodeOne(bytes: Array[Byte]): Row = {
    GraftFunctions.register(spark)
    Seq(Tuple1(bytes)).toDF("log")
      .selectExpr("cis2_decode(log) as ev")
      .collect()(0).getAs[Row]("ev") // null struct surfaces as null Row
  }

  private val acctA: Array[Byte] = Array.tabulate(32)(i => i.toByte)
  private val acctB: Array[Byte] = Array.tabulate(32)(i => (31 - i).toByte)
  private val acctAHex = acctA.map(b => f"${b & 0xff}%02X").mkString
  private val acctBHex = acctB.map(b => f"${b & 0xff}%02X").mkString

  test("transfer: token, multi-byte LEB128 amount, two account addresses") {
    // tag 255, token id [0xAA, 0xBB], amount 300 = LEB128 [0xAC, 0x02],
    // from account A, to account B
    val bytes = Array[Byte](255.toByte, 2, 0xAA.toByte, 0xBB.toByte,
      0xAC.toByte, 0x02) ++ Array[Byte](0) ++ acctA ++ Array[Byte](0) ++ acctB
    val ev = decodeOne(bytes)
    assert(ev.getAs[String]("tag") == "transfer")
    assert(ev.getAs[String]("token_id") == "AABB")
    assert(ev.getAs[String]("amount") == "300")
    assert(ev.getAs[String]("from_account") == acctAHex)
    assert(ev.getAs[String]("to_account") == acctBHex)
    assert(ev.isNullAt(ev.fieldIndex("from_index")))
  }

  test("transfer to a contract address decodes little-endian index/subindex") {
    // to = contract (index 258 = 0x0102 LE, subindex 7)
    val contract = Array[Byte](1, 0x02, 0x01, 0, 0, 0, 0, 0, 0,
      7, 0, 0, 0, 0, 0, 0, 0)
    val bytes = Array[Byte](255.toByte, 1, 0x01, 0x05) ++
      Array[Byte](0) ++ acctA ++ contract
    val ev = decodeOne(bytes)
    assert(ev.getAs[String]("tag") == "transfer")
    assert(ev.getAs[Long]("to_index") == 258L)
    assert(ev.getAs[Long]("to_subindex") == 7L)
    assert(ev.isNullAt(ev.fieldIndex("to_account")))
  }

  test("mint: owner lands in `to`; zero-length token id; one-byte amount") {
    val bytes = Array[Byte](254.toByte, 0, 0x05) ++ Array[Byte](0) ++ acctA
    val ev = decodeOne(bytes)
    assert(ev.getAs[String]("tag") == "mint")
    assert(ev.getAs[String]("token_id") == "")
    assert(ev.getAs[String]("amount") == "5")
    assert(ev.getAs[String]("to_account") == acctAHex)
    assert(ev.isNullAt(ev.fieldIndex("from_account")))
  }

  test("burn: owner lands in `from`") {
    val bytes = Array[Byte](253.toByte, 1, 0x2A, 0x00) ++
      Array[Byte](0) ++ acctB
    val ev = decodeOne(bytes)
    assert(ev.getAs[String]("tag") == "burn")
    assert(ev.getAs[String]("token_id") == "2A")
    assert(ev.getAs[String]("amount") == "0")
    assert(ev.getAs[String]("from_account") == acctBHex)
  }

  test("updateOperator: add/remove flag, owner→from, operator→to") {
    val add = Array[Byte](252.toByte, 1) ++
      Array[Byte](0) ++ acctA ++ Array[Byte](0) ++ acctB
    val ev = decodeOne(add)
    assert(ev.getAs[String]("tag") == "updateOperator")
    assert(ev.getAs[String]("operator_update") == "add")
    assert(ev.getAs[String]("from_account") == acctAHex)
    assert(ev.getAs[String]("to_account") == acctBHex)
    val rm = Array[Byte](252.toByte, 0) ++
      Array[Byte](0) ++ acctA ++ Array[Byte](0) ++ acctB
    assert(decodeOne(rm).getAs[String]("operator_update") == "remove")
  }

  test("tokenMetadata: u16-LE url length, optional hash both ways") {
    val url = "https://meta.example/7".getBytes("UTF-8")
    val noHash = Array[Byte](251.toByte, 1, 0x07) ++
      Array[Byte](url.length.toByte, 0) ++ url ++ Array[Byte](0)
    val ev = decodeOne(noHash)
    assert(ev.getAs[String]("tag") == "tokenMetadata")
    assert(ev.getAs[String]("metadata_url") == "https://meta.example/7")
    assert(ev.isNullAt(ev.fieldIndex("metadata_hash")))
    val hash = Array.fill[Byte](32)(0xCD.toByte)
    val withHash = Array[Byte](251.toByte, 1, 0x07) ++
      Array[Byte](url.length.toByte, 0) ++ url ++ Array[Byte](1) ++ hash
    assert(decodeOne(withHash).getAs[String]("metadata_hash") == "CD" * 32)
  }

  test("custom tag decodes to `unknown`; malformed bytes decode to null") {
    val custom = decodeOne(Array[Byte](7, 1, 2, 3))
    assert(custom.getAs[String]("tag") == "unknown")
    assert(custom.isNullAt(custom.fieldIndex("token_id")))
    // truncated token id, truncated address, bad address tag, trailing
    // garbage, unterminated LEB128, >37-byte LEB128, a 37-byte LEB128
    // encoding exactly 2^256 (over the TokenAmount bound — the
    // reference's try_from rejects it too), empty input
    val malformed = Seq(
      Array[Byte](254.toByte, 5, 0x01),
      Array[Byte](254.toByte, 0, 0x05, 0) ++ acctA.take(31),
      Array[Byte](254.toByte, 0, 0x05, 9) ++ acctA,
      Array[Byte](254.toByte, 0, 0x05, 0) ++ acctA ++ Array[Byte](0x00),
      Array[Byte](253.toByte, 0, 0x80.toByte),
      Array[Byte](253.toByte, 0) ++ Array.fill[Byte](38)(0x81.toByte),
      Array[Byte](253.toByte, 0) ++ Array.fill[Byte](36)(0x80.toByte) ++
        Array[Byte](0x10) ++ Array[Byte](0) ++ acctB,
      Array.emptyByteArray)
    malformed.foreach { b =>
      assert(decodeOne(b) == null, s"expected null for ${b.mkString(",")}")
    }
  }

  test("encode(mint/burn) round-trips through decode, incl. 2^256-1") {
    GraftFunctions.register(spark)
    val max = (BigInt(1) << 256) - 1
    val df = Seq(
      ("mint", "11", "0"),
      ("mint", "0F", "127"),
      ("burn", "AB12", "128"),
      ("burn", "00", max.toString)
    ).toDF("kind", "token_hex", "amount")
    val out = df.selectExpr(
      s"cis2_decode(cis2_encode(kind, unhex(token_hex), amount, unhex('$acctAHex'))) as ev")
      .select("ev.tag", "ev.token_id", "ev.amount").as[(String, String, String)]
      .collect().toSeq
    assert(out == Seq(
      ("mint", "11", "0"),
      ("mint", "0F", "127"),
      ("burn", "AB12", "128"),
      ("burn", "00", max.toString)))
  }

  test("decodeRawLogs drops a list only on malformed entries; custom tags are kept no-ops") {
    val good = Cis2Util.encodeMintBurn("mint", Array[Byte](0x01), "42", acctA)
    val bad = Array[Byte](254.toByte, 5) // truncated
    val custom = Array[Byte](3, 1, 2) // non-CIS-2 tag: Ok(Unknown), a no-op
    val rows = Seq(
      (0L, 0, 10L, 0L, good), // healthy list, kept
      (0L, 1, 11L, 0L, good), // same block, different contract: kept
      (0L, 1, 12L, 0L, good), (0L, 1, 12L, 0L, bad), // malformed poisons pair
      // a custom event beside a mint must NOT poison the list: the
      // reference parses it to Event::Unknown and consumes it as a no-op
      // (main.rs:497), so the mint still counts
      (1L, 0, 13L, 0L, custom), (1L, 0, 13L, 0L, good),
      (1L, 0, 14L, 0L, custom) // all-custom list: kept, emits nothing
    ).toDF("height", "seq_in_block", "index", "subindex", "log")
    val out = graft.ingest.BlockFeed.decodeRawLogs(rows)
      .select("index", "kind", "token_id", "amount")
      .as[(Long, String, String, String)].collect().toSet
    assert(out == Set((10L, "mint", "01", "42"), (11L, "mint", "01", "42"),
      (13L, "mint", "01", "42")))
  }

  test("strictness edges: trailing bytes, invalid-UTF-8 url, custom payloads") {
    // known tag + trailing byte after a well-formed payload → malformed
    // (ContractEvent::parse requires full consumption on the SDK side)
    val mint = Cis2Util.encodeMintBurn("mint", Array[Byte](0x01), "7", acctA)
    assert(decodeOne(mint :+ 0x00.toByte) == null)
    // tokenMetadata url must be valid UTF-8 (SDK decodes into String):
    // 0xC0 0x80 is an overlong NUL, 0xED 0xA0 0x80 a surrogate — both null
    for (badUrl <- Seq(Array[Byte](0xC0.toByte, 0x80.toByte),
                       Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte))) {
      val b = Array[Byte](251.toByte, 1, 0x07) ++
        Array[Byte](badUrl.length.toByte, 0) ++ badUrl ++ Array[Byte](0)
      assert(decodeOne(b) == null, s"expected null for url ${badUrl.mkString(",")}")
    }
    // multi-byte valid UTF-8 url survives
    val okUrl = "https://métà.example/✓".getBytes("UTF-8")
    val ok = Array[Byte](251.toByte, 1, 0x07) ++
      Array[Byte](okUrl.length.toByte, 0) ++ okUrl ++ Array[Byte](0)
    assert(decodeOne(ok).getAs[String]("metadata_url") == "https://métà.example/✓")
    // custom tag: ANY payload (including none) is a valid unknown event —
    // the payload is opaque to CIS-2, no consumption rule applies
    assert(decodeOne(Array[Byte](0)).getAs[String]("tag") == "unknown")
    assert(decodeOne(Array[Byte](250.toByte) ++ Array.fill[Byte](100)(0x5A))
      .getAs[String]("tag") == "unknown")
  }

  test("property: arbitrary log bytes never throw — null, unknown, or typed") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // plain garbage plus known-tag-prefixed garbage (the interesting
    // half: it drives the field parsers, not just the tag dispatch)
    val garbage = Gen.containerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte))
    val tagged = for {
      tag <- Gen.oneOf(255, 254, 253, 252, 251)
      tail <- garbage
    } yield tag.toByte +: tail
    val anyBytes = Gen.oneOf(garbage, tagged)
    val known = Set("transfer", "mint", "burn", "updateOperator",
      "tokenMetadata", "unknown")
    val p = Prop.forAll(anyBytes) { b =>
      Cis2Util.decode(b) match {
        case null => true // malformed — the reference's silent list drop
        case row: org.apache.spark.sql.catalyst.InternalRow =>
          known(row.getUTF8String(0).toString)
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }
}
