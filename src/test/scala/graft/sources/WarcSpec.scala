package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** WARC ingestion against hand-assembled fixture bytes — the container
  * structure is built field by field from the public spec (version
  * line, CRLF headers, Content-Length block, double-CRLF trailer;
  * record-per-member gzip for `.warc.gz`), so a parse bug cannot hide
  * behind a library that wrote the fixture the same wrong way. */
class WarcSpec extends SparkSpec {
  import WarcCorpus._

  private val CRLF = "\r\n"

  private def rec(tpe: String, uri: Option[String], ctype: String,
                  block: Array[Byte], id: String): Array[Byte] = {
    val hdrs = Seq(
      "WARC-Type" -> tpe,
      "WARC-Record-ID" -> id,
      "WARC-Date" -> "2026-01-02T03:04:05Z") ++
      uri.map("WARC-Target-URI" -> _).toSeq ++ Seq(
      "Content-Type" -> ctype,
      "Content-Length" -> block.length.toString)
    val head = ("WARC/1.0" +: hdrs.map { case (k, v) => s"$k: $v" })
      .mkString(CRLF) + CRLF + CRLF
    head.getBytes("ISO-8859-1") ++ block ++ (CRLF + CRLF).getBytes("ISO-8859-1")
  }

  private def httpResp(status: String, ctype: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status$CRLF" +
      s"Content-Type: $ctype$CRLF" +
      s"Server: fixture$CRLF$CRLF").getBytes("ISO-8859-1") ++
      body.getBytes("UTF-8")

  private val html =
    "<html><head><title>T</title></head><body><h1>Greetings</h1>" +
      "<p>From the &amp; crawl</p></body></html>"

  private def fileBytes: Array[Byte] =
    rec("warcinfo", None, "application/warc-fields",
      "software: fixture\r\n".getBytes("ISO-8859-1"), "<urn:uuid:0>") ++
    rec("request", Some("http://example.org/page"), "application/http; msgtype=request",
      s"GET /page HTTP/1.1${CRLF}Host: example.org$CRLF$CRLF".getBytes("ISO-8859-1"),
      "<urn:uuid:1>") ++
    rec("response", Some("http://example.org/page"), "application/http; msgtype=response",
      httpResp("200 OK", "text/html; charset=UTF-8", html), "<urn:uuid:2>") ++
    rec("response", Some("http://example.org/missing"), "application/http; msgtype=response",
      httpResp("404 Not Found", "text/plain", "no such page"), "<urn:uuid:3>")

  private def gzMember(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("parseRecords: every record, headers split, HTTP envelope split") {
    val rows = parseRecords("f", fileBytes)
    assert(rows.map(_.warc_type) == Seq("warcinfo", "request", "response", "response"))
    val ok = rows(2)
    assert(ok.target_uri == "http://example.org/page")
    assert(ok.warc_date == "2026-01-02T03:04:05Z")
    assert(ok.http_status.contains(200))
    assert(ok.http_content_type.contains("text/html; charset=UTF-8"))
    assert(new String(ok.payload, "UTF-8") == html)
    assert(rows(3).http_status.contains(404))
    // the request record is application/http too — its envelope has no
    // HTTP/ status line, so the whole block stays as payload
    assert(rows(1).http_status.isEmpty)
    assert(new String(rows(1).payload, "ISO-8859-1").startsWith("GET /page"))
    // offsets are monotonically increasing record starts
    assert(rows.map(_.offset) == rows.map(_.offset).sorted)
    assert(rows(0).offset == 0L)
  }

  test("record-per-member gzip parses identically to the plain file") {
    val plain = parseRecords("f", fileBytes)
    val gzBytes =
      gzMember(rec("warcinfo", None, "application/warc-fields",
        "software: fixture\r\n".getBytes("ISO-8859-1"), "<urn:uuid:0>")) ++
      gzMember(rec("request", Some("http://example.org/page"),
        "application/http; msgtype=request",
        s"GET /page HTTP/1.1${CRLF}Host: example.org$CRLF$CRLF".getBytes("ISO-8859-1"),
        "<urn:uuid:1>")) ++
      gzMember(rec("response", Some("http://example.org/page"),
        "application/http; msgtype=response",
        httpResp("200 OK", "text/html; charset=UTF-8", html), "<urn:uuid:2>")) ++
      gzMember(rec("response", Some("http://example.org/missing"),
        "application/http; msgtype=response",
        httpResp("404 Not Found", "text/plain", "no such page"), "<urn:uuid:3>"))
    val gz = parseRecords("f", gzBytes)
    assert(gz.map(r => (r.warc_type, r.target_uri, r.http_status,
      new String(r.payload, "UTF-8"))) ==
      plain.map(r => (r.warc_type, r.target_uri, r.http_status,
        new String(r.payload, "UTF-8"))))
  }

  test("whole-file zstd parses identically to the plain file") {
    val plain = parseRecords("f", fileBytes)
    val bos = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bos)
    z.write(fileBytes); z.close()
    val zs = parseRecords("f", bos.toByteArray)
    assert(zs.map(r => (r.warc_type, r.target_uri, r.http_status,
      new String(r.payload, "UTF-8"))) ==
      plain.map(r => (r.warc_type, r.target_uri, r.http_status,
        new String(r.payload, "UTF-8"))))
  }

  test("structural corruption quarantines the file tail, keeps the head") {
    // valid record, then garbage where a version line should be
    val bytes = rec("warcinfo", None, "application/warc-fields",
      "a: b\r\n".getBytes("ISO-8859-1"), "<urn:uuid:0>") ++
      "NOT A WARC LINE\r\nstuff".getBytes("ISO-8859-1")
    val rows = parseRecords("f", bytes)
    assert(rows.map(_.warc_type) == Seq("warcinfo", "_corrupt"))
    assert(rows(1).record_id.contains("expected WARC/ version line"))

    // truncated payload: Content-Length larger than remaining bytes
    val trunc = ("WARC/1.0" + CRLF + "WARC-Type: response" + CRLF +
      "Content-Length: 999" + CRLF + CRLF + "short").getBytes("ISO-8859-1")
    val t = parseRecords("f", trunc)
    assert(t.map(_.warc_type) == Seq("_corrupt"))
    assert(t(0).record_id.contains("truncated block"))

    // missing Content-Length
    val nolen = ("WARC/1.0" + CRLF + "WARC-Type: response" + CRLF + CRLF)
      .getBytes("ISO-8859-1")
    assert(parseRecords("f", nolen)(0).record_id.contains("no Content-Length"))
  }

  test("chunked transfer-encoding is undone; malformed framing passes through") {
    // "Wiki" (4) + "pedia" (5) + terminal chunk, with a chunk extension
    val chunked = ("4;ext=1" + CRLF + "Wiki" + CRLF + "5" + CRLF + "pedia" +
      CRLF + "0" + CRLF + CRLF).getBytes("ISO-8859-1")
    assert(new String(dechunk(chunked), "ISO-8859-1") == "Wikipedia")
    // malformed: not hex, truncated chunk, missing terminal — unchanged
    for (bad <- Seq("zz\r\nWiki", "ff\r\nshort", "4\r\nWiki\r\n")) {
      val b = bad.getBytes("ISO-8859-1")
      assert(dechunk(b).toSeq == b.toSeq, bad)
    }
    // end to end: a chunked HTTP response record yields the joined body
    val block = (s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html$CRLF" +
      s"Transfer-Encoding: chunked$CRLF$CRLF").getBytes("ISO-8859-1") ++
      ("6" + CRLF + "<p>ab " + CRLF + "5" + CRLF + "c</p>" + CRLF + "0" +
        CRLF + CRLF).getBytes("ISO-8859-1")
    val rows = parseRecords("f", rec("response", Some("http://c.example/"),
      "application/http; msgtype=response", block, "<urn:uuid:c>"))
    assert(new String(rows(0).payload, "UTF-8") == "<p>ab c</p>")
  }

  test("latin-1-declared pages decode as windows-1252, utf-8 otherwise") {
    import spark.implicits._
    // 0xE9 = é in latin-1/cp1252; 0x80 = € in cp1252 ONLY (the WHATWG
    // latin1→cp1252 rule); both invalid as lone UTF-8 bytes
    val latin1Body = "<p>caf".getBytes("ISO-8859-1") ++
      Array(0xe9.toByte, ' '.toByte, 0x80.toByte) ++
      "</p>".getBytes("ISO-8859-1")
    val utf8Body = "<p>café €</p>".getBytes("UTF-8")
    val dir = Files.createTempDirectory("graft-warc-cs")
    Files.write(dir.resolve("cs.warc"),
      rec("response", Some("http://l1.example/"),
        "application/http; msgtype=response",
        (s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html; charset=ISO-8859-1" +
          s"$CRLF$CRLF").getBytes("ISO-8859-1") ++ latin1Body, "<urn:uuid:l>") ++
      rec("response", Some("http://u8.example/"),
        "application/http; msgtype=response",
        (s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html; charset=utf-8" +
          s"$CRLF$CRLF").getBytes("ISO-8859-1") ++ utf8Body, "<urn:uuid:u>"))
    val docs = WarcCorpus.webDocuments(readWarc(spark, dir.toString).records)
      .orderBy("url").select("text").as[String].collect()
    assert(docs.toSeq == Seq("café €", "café €"))
  }

  test("WHATWG charset precedence: BOM > header > meta prescan " +
    "(VERDICT r19 #3)") {
    import spark.implicits._
    // header-less cp1252 page declared by <meta charset=...>: 0xE9 é,
    // 0x80 € (cp1252 only; invalid as lone UTF-8 bytes)
    val metaCp =
      "<html><head><meta charset=windows-1252></head><body><p>caf"
        .getBytes("ISO-8859-1") ++
      Array(0xe9.toByte, ' '.toByte, 0x80.toByte) ++
      "</p></body></html>".getBytes("ISO-8859-1")
    // header-less utf-8 page declared by the http-equiv meta form
    val metaU8 = ("<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=utf-8\"></head>" +
      "<body><p>café €</p></body></html>").getBytes("UTF-8")
    // BOM-led utf-8 bytes under a WRONG latin-1 header: the mark must
    // win over the declaration and be stripped from the text
    val bomU8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "<html><body><p>café €</p></body></html>".getBytes("UTF-8")
    // header-less, meta-less UTF-16LE page: only its BOM names it
    val bomU16 = Array(0xFF, 0xFE).map(_.toByte) ++
      "<html><body><p>café €</p></body></html>"
        .getBytes("UTF-16LE")
    // prescan DECOYS (the WHATWG rules the tokenized prescan honors):
    // a commented-out meta and a charset mention inside an unrelated
    // attribute's quoted value must BOTH be skipped — only the real
    // <meta charset=windows-1252> counts; taking either decoy would
    // decode the latin-1 bytes as UTF-8 and mangle 0xE9/0x80
    val metaDecoys =
      ("<html><head><!-- <meta charset=utf-8> legacy -->" +
        "<meta property=\"og:description\"" +
        " content=\"charset=utf-8 is mentioned here\">" +
        "<meta charset=windows-1252></head><body><p>caf")
        .getBytes("ISO-8859-1") ++
      Array(0xe9.toByte, ' '.toByte, 0x80.toByte) ++
      "</p></body></html>".getBytes("ISO-8859-1")
    def resp(hdrCt: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK${CRLF}Content-Type: $hdrCt$CRLF$CRLF")
        .getBytes("ISO-8859-1") ++ body
    val dir = Files.createTempDirectory("graft-warc-meta")
    Files.write(dir.resolve("m.warc"),
      rec("response", Some("http://m1.example/"),
        "application/http; msgtype=response",
        resp("text/html", metaCp), "<urn:uuid:m1>") ++
      rec("response", Some("http://m2.example/"),
        "application/http; msgtype=response",
        resp("text/html", metaU8), "<urn:uuid:m2>") ++
      rec("response", Some("http://m3.example/"),
        "application/http; msgtype=response",
        resp("text/html; charset=ISO-8859-1", bomU8), "<urn:uuid:m3>") ++
      rec("response", Some("http://m4.example/"),
        "application/http; msgtype=response",
        resp("text/html", bomU16), "<urn:uuid:m4>") ++
      rec("response", Some("http://m5.example/"),
        "application/http; msgtype=response",
        resp("text/html", metaDecoys), "<urn:uuid:m5>"))
    val docs = WarcCorpus.webDocuments(readWarc(spark, dir.toString).records)
      .orderBy("url").select("text").as[String].collect()
    assert(docs.toSeq ==
      Seq.fill(5)("café €"), docs.mkString("|"))
  }

  test("property: arbitrary bytes never throw; corruption is terminal") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val garbage = Gen.containerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte))
    // prefix with a plausible version line + header shards so the
    // header walk and Content-Length paths get exercised
    val prefixed = for {
      tail <- garbage
      lenByte <- Gen.choose(0, 255)
    } yield (s"WARC/1.0${CRLF}WARC-Type: response${CRLF}Content-Length: " +
      s"$lenByte$CRLF$CRLF").getBytes("ISO-8859-1") ++ tail
    val anyBytes = Gen.oneOf(garbage, prefixed)
    val p = Prop.forAll(anyBytes) { b =>
      val rows = parseRecords("f", b)
      // at most one corrupt row, and only ever as the LAST row
      rows.count(_.warc_type == "_corrupt") <= 1 &&
        rows.dropRight(1).forall(_.warc_type != "_corrupt") &&
        rows.forall(r => dechunk(r.payload) != null)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("readWarc + webDocuments: crawl to documents, quarantine split") {
    val dir = Files.createTempDirectory("graft-warc")
    Files.write(dir.resolve("seg-0.warc"), fileBytes)
    Files.write(dir.resolve("seg-1.warc.gz"),
      gzMember(rec("response", Some("http://example.org/two"),
        "application/http; msgtype=response",
        httpResp("200 OK", "text/html", "<p>Second &lt;doc&gt;</p>"),
        "<urn:uuid:9>")))
    Files.write(dir.resolve("broken.warc"),
      "GARBAGE\r\nnot warc at all".getBytes("ISO-8859-1"))

    val res = readWarc(spark, dir.toString)
    assert(res.records.count() == 5)
    assert(res.corrupt.count() == 1)
    val reason = res.corrupt.select("reason").collect()(0).getString(0)
    assert(reason.contains("expected WARC/ version line"))

    val docs = WarcCorpus.webDocuments(res.records)
      .orderBy("url").collect()
    // only the two 200 text/html responses become documents
    assert(docs.map(_.getAs[String]("url")).toSeq ==
      Seq("http://example.org/page", "http://example.org/two"))
    // the page title is kept as its own line — it is prose
    assert(docs(0).getAs[String]("text") == "T\nGreetings\nFrom the & crawl")
    assert(docs(1).getAs[String]("text") == "Second <doc>")
    assert(docs(0).getAs[String]("fetched") == "2026-01-02T03:04:05Z")
    // doc_id is the stable uri hash — non-null, distinct
    assert(docs.map(_.getAs[Long]("doc_id")).distinct.length == 2)

    // the composition stays a zero-shuffle narrow plan over the scan
    val plan = WarcCorpus.webDocuments(res.records)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("wetDocuments: conversion records to the documents shape, warcinfo skipped") {
    // a Common-Crawl-shaped WET segment: warcinfo preamble, then one
    // conversion record per page with the crawl's own text extraction
    // as a UTF-8 text/plain payload — including a non-ASCII char to pin
    // the decode
    val dir = Files.createTempDirectory("graft-wet")
    val wet =
      rec("warcinfo", None, "application/warc-fields",
        "software: fixture\r\n".getBytes("ISO-8859-1"), "<urn:uuid:w>") ++
      rec("conversion", Some("http://example.org/a"), "text/plain",
        "Extracted text of page A é".getBytes("UTF-8"), "<urn:uuid:a>") ++
      rec("conversion", Some("http://example.org/b"), "text/plain",
        "Page B text".getBytes("UTF-8"), "<urn:uuid:b>") ++
      // a response record mixed in (not WET's shape) must not leak
      rec("response", Some("http://example.org/c"),
        "application/http; msgtype=response",
        httpResp("200 OK", "text/html", "<p>html</p>"), "<urn:uuid:c>")
    Files.write(dir.resolve("seg.warc.wet.gz"), gzMember(wet))

    val res = readWarc(spark, dir.toString)
    assert(res.corrupt.count() == 0)
    val docs = WarcCorpus.wetDocuments(res.records).orderBy("url").collect()
    assert(docs.map(_.getAs[String]("url")).toSeq ==
      Seq("http://example.org/a", "http://example.org/b"))
    assert(docs(0).getAs[String]("text") == "Extracted text of page A é")
    assert(docs(1).getAs[String]("text") == "Page B text")
    assert(docs.map(_.getAs[Long]("doc_id")).distinct.length == 2)
    // same zero-shuffle narrow contract as webDocuments
    val plan = WarcCorpus.wetDocuments(res.records)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("extracted web documents flow into the curation operators") {
    val dir = Files.createTempDirectory("graft-warc2")
    // two near-identical pages: the pipeline's exact dedup must fold them
    val page = "<html><body><p>Same body text here</p></body></html>"
    Files.write(dir.resolve("a.warc"),
      rec("response", Some("http://a.example/x"),
        "application/http; msgtype=response",
        httpResp("200 OK", "text/html", page), "<urn:uuid:a>") ++
      rec("response", Some("http://b.example/y"),
        "application/http; msgtype=response",
        httpResp("200 OK", "text/html", page), "<urn:uuid:b>"))
    val docs = WarcCorpus.webDocuments(readWarc(spark, dir.toString).records)
    val deduped = graft.ext.Dedup.exact(docs, col("text"), col("doc_id"))
    assert(docs.count() == 2 && deduped.count() == 1)
    graft.CacheScope.release()
  }
}
