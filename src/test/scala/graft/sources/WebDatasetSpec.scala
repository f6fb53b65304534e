package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** WebDataset (POSIX tar) framing against first principles: the ustar
  * header fields are checked at their published byte offsets with
  * hand-computed octal values, corruption localizes to the damaged
  * entry, and the export → read round trip crosses the Spark boundary
  * both ways with the manifest recomputed independently. */
class WebDatasetSpec extends SparkSpec {
  import WebDataset._
  import spark.implicits._

  test("ustar header layout at the published offsets, by hand") {
    val payload = "hello".getBytes("UTF-8")
    val e = encodeEntry("000042.txt", payload)
    assert(e.length == 512 + 512) // header + payload padded to one block
    // name, NUL-terminated at 0
    assert(new String(e, 0, 10, "UTF-8") == "000042.txt" && e(10) == 0)
    // mode 0644, 7 octal digits + NUL at 100
    assert(new String(e, 100, 7, "US-ASCII") == "0000644" && e(107) == 0)
    // size 5 in 11 octal digits + NUL at 124
    assert(new String(e, 124, 11, "US-ASCII") == "00000000005" && e(135) == 0)
    // mtime fixed 0 at 136 (deterministic shards)
    assert(new String(e, 136, 11, "US-ASCII") == "00000000000")
    // typeflag regular file, magic+version
    assert(e(156) == '0')
    assert(new String(e, 257, 5, "US-ASCII") == "ustar" && e(262) == 0)
    assert(e(263) == '0' && e(264) == '0')
    // checksum: recompute with the field as spaces, compare to stored
    val copy = e.take(512)
    for (i <- 148 until 156) copy(i) = ' '
    val sum = copy.map(_ & 0xff).sum.toLong
    val stored = new String(e, 148, 6, "US-ASCII")
    assert(java.lang.Long.parseLong(stored, 8) == sum && e(154) == 0 && e(155) == ' ')
    // payload then NUL padding
    assert(new String(e, 512, 5, "UTF-8") == "hello")
    assert(e.drop(517).forall(_ == 0))
  }

  test("encode/decode round trip incl. empty payload, multi-block, gzip sniff") {
    val entries = Seq(
      "a.txt" -> "alpha".getBytes("UTF-8"),
      "a.json" -> Array.emptyByteArray,
      "b.bin" -> Array.tabulate(1300)(_.toByte)) // spans 3 blocks
    val bytes = entries.map { case (n, d) => encodeEntry(n, d) }
      .reduce(_ ++ _) ++ endOfArchive
    val Right(out) = decodeEntries(bytes)
    assert(out.map(_._1) == Seq("a.txt", "a.json", "b.bin"))
    assert(out.map(_._2.toSeq) == entries.map(_._2.toSeq))
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos); g.write(bytes); g.close()
    val Right(gz) = decodeEntries(bos.toByteArray)
    assert(gz.map(_._2.toSeq) == out.map(_._2.toSeq))
    // zstd sniffed too, including concatenated frames
    val zb = new ByteArrayOutputStream()
    val z1 = new com.github.luben.zstd.ZstdOutputStream(zb)
    z1.write(bytes.take(1024)); z1.close()
    val frame1 = zb.toByteArray
    zb.reset()
    val z2 = new com.github.luben.zstd.ZstdOutputStream(zb)
    z2.write(bytes.drop(1024)); z2.close()
    val Right(zs) = decodeEntries(frame1 ++ zb.toByteArray)
    assert(zs.map(_._2.toSeq) == out.map(_._2.toSeq))
  }

  test("corruption localizes: entries before the damage survive") {
    val good = encodeEntry("k1.txt", "keep".getBytes) ++
      encodeEntry("k2.txt", "me".getBytes)
    val bad = encodeEntry("k3.txt", "break".getBytes)
    bad(3) = (bad(3) ^ 0x01).toByte // name byte flip -> checksum mismatch
    val Left((kept, reason)) = decodeEntries(good ++ bad ++ endOfArchive)
    assert(kept.map(_._1) == Seq("k1.txt", "k2.txt"))
    assert(reason.contains("entry 2") && reason.contains("checksum"), reason)
    // truncation mid-payload (intact header, body cut short)
    val Left((kept2, reason2)) =
      decodeEntries(good ++ encodeEntry("k3.txt", "break".getBytes).take(600))
    assert(kept2.length == 2 && reason2.contains("truncated"), reason2)
    // missing end marker alone is tolerated (clean EOF at a boundary)
    val Right(noEnd) = decodeEntries(good)
    assert(noEnd.length == 2)
  }

  test("property: arbitrary bytes never throw; damage keeps the prefix") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val garbage = Gen.containerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte))
    val prop = Prop.forAll(garbage) { bytes =>
      decodeEntries(bytes) match {
        case Right(es) => es != null
        case Left((es, reason)) => es != null && reason.nonEmpty
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("export -> read round trip: samples regroup, manifest independently verified") {
    val outDir = Files.createTempDirectory("wds").toString
    val df = Seq(
      ("000000", Seq(("txt", "doc zero".getBytes("UTF-8")),
        ("json", """{"id":0}""".getBytes("UTF-8")))),
      ("000001", Seq(("txt", "doc one".getBytes("UTF-8")),
        ("json", """{"id":1}""".getBytes("UTF-8")))),
      ("000002", Seq(("txt", "doc two".getBytes("UTF-8"))))
    ).toDF("key", "parts").repartition(2, col("key"))
    val shards = writeWithManifest(df, "key", "parts", outDir)
    assert(shards.map(_.records).sum == 3L)
    assert(shards.map(_.payloadBytes).sum ==
      "doc zero".length + """{"id":0}""".length + "doc one".length +
        """{"id":1}""".length + "doc two".length)

    // independent decode of the raw shard files (not through read())
    val all = shards.flatMap { s =>
      val bytes = Files.readAllBytes(Paths.get(outDir, s.file))
      val Right(es) = decodeEntries(bytes)
      es
    }
    assert(all.length == 5)
    // manifest fingerprint recomputed from the independent decode
    var h = 0L
    all.foreach { case (n, d) =>
      h ^= TfRecord.payloadHash64(n.getBytes("UTF-8") ++ d)
    }
    assert(h == shards.map(_.hash64).foldLeft(0L)(_ ^ _))
    val manifest = new String(
      Files.readAllBytes(Paths.get(outDir, "_MANIFEST.json")), "UTF-8")
    assert(manifest.contains(""""records":3"""))
    assert(manifest.contains(f"$h%016x"))

    // read() back: sample regrouping with ext->payload maps
    val got = read(spark, outDir)
    assert(got.corrupt.count() == 0)
    val samples = got.samples.orderBy("key").collect()
    assert(samples.map(_.getString(1)).toSeq ==
      Seq("000000", "000001", "000002"))
    val m0 = samples(0).getMap[String, Array[Byte]](3)
    assert(new String(m0("txt"), "UTF-8") == "doc zero")
    assert(new String(m0("json"), "UTF-8") == """{"id":0}""")
    assert(samples(2).getMap[String, Array[Byte]](3).keySet == Set("txt"))

    // determinism: re-export writes byte-identical shards
    val before = shards.map(s =>
      Files.readAllBytes(Paths.get(outDir, s.file)).toSeq)
    val again = writeWithManifest(df, "key", "parts", outDir)
    assert(again == shards)
    val after = shards.map(s =>
      Files.readAllBytes(Paths.get(outDir, s.file)).toSeq)
    assert(before == after)
  }

  test("streaming export: batch-addressed shards, replay rewrites in place") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-wds-s").toString + "/stream"
    val input = MemoryStream[(String, String)]
    var lastRows: Seq[(String, String)] = Nil
    var lastId = -1L
    def toSamples(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"),
        array(struct(lit("txt").as("ext"),
          col("text").cast("binary").as("data"))).as("parts"))
    val q = input.toDF().toDF("key", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        writeBatch(toSamples(batch), "key", "parts", dir, id)
        lastRows = batch.collect().map(r => (r.getString(0), r.getString(1))).toSeq
        lastId = id
        ()
      }.start()
    try {
      input.addData("k1" -> "first", "k2" -> "second")
      q.processAllAvailable()
      input.addData("k3" -> "third")
      q.processAllAvailable()
      def readAll(): Seq[(String, String)] = {
        val res = read(spark, s"$dir/batch-*")
        assert(res.corrupt.count() == 0)
        res.entries.select("key", "payload").collect()
          .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), "UTF-8")))
          .toSeq.sortBy(_._1)
      }
      assert(readAll() == Seq("k1" -> "first", "k2" -> "second", "k3" -> "third"))
      // replay the last micro-batch: same id, same data -> the batch
      // directory is rewritten in place, never duplicated
      writeBatch(toSamples(lastRows.toDF("key", "text")), "key", "parts",
        dir, lastId)
      assert(readAll() == Seq("k1" -> "first", "k2" -> "second", "k3" -> "third"))
    } finally q.stop()
  }

  test("balanced export: targetBytes tar shards from a skewed one-partition input") {
    val dir = Files.createTempDirectory("graft-wds-b").toString + "/export"
    // 40 two-part samples x (80 + 20) payload bytes, everything in ONE
    // partition (the skew write() would inherit verbatim — one giant
    // shard); target 1000 bytes -> 10 samples per shard regardless of
    // input layout
    val docs = (0 until 40).map(i => (i.toLong, f"$i%06d"))
      .toDF("doc_id", "key").coalesce(1)
      .select(col("doc_id"), col("key"),
        array(
          struct(lit("txt").as("ext"),
            encode(rpad(col("key"), 80, "x"), "UTF-8").as("data")),
          struct(lit("json").as("ext"),
            encode(rpad(lit("{}"), 20, " "), "UTF-8").as("data")))
          .as("parts"))
    try {
      // the unbalanced writer on the same frame: ONE shard (the
      // straggler this API exists to kill)
      val skewDir = dir + "-skew"
      assert(write(docs, "key", "parts", skewDir).length == 1)
      val shards = writeBalanced(docs, "key", "parts", col("doc_id"),
        dir, targetBytes = 1000L)
      assert(shards.length == 4, shards.mkString(","))
      assert(shards.forall(s => s.records == 10 && s.payloadBytes == 1000),
        shards.mkString(","))
      // contiguous id ranges in id order: part-00000 = 000000..000009
      val back = read(spark, dir)
      assert(back.corrupt.count() == 0)
      val byFile = back.samples.collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).toSeq.sortBy(_._1)
      assert(byFile.size == 4)
      byFile.zipWithIndex.foreach { case ((_, rows), f) =>
        assert(rows.map(_._2).sorted.toSeq ==
          (f * 10 until f * 10 + 10).map(i => f"$i%06d"), rows.toSeq)
      }
      // manifest counts recomputable from an independent decode
      val manifest = new String(Files.readAllBytes(
        Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      assert(manifest.contains("\"records\":40"), manifest)
      val recomputed = shards.map { s =>
        val Right(es) = decodeEntries(
          Files.readAllBytes(Paths.get(dir, s.file)))
        (es.map(_._1.takeWhile(_ != '.')).distinct.length,
          es.map(_._2.length.toLong).sum,
          es.map { case (n, d) =>
            TfRecord.payloadHash64(n.getBytes("UTF-8") ++ d)
          }.foldLeft(0L)(_ ^ _))
      }
      assert(recomputed == shards.map(s =>
        (s.records.toInt, s.payloadBytes, s.hash64)))
      // deterministic: re-export is byte-identical
      val before = shards.map(s =>
        Files.readAllBytes(Paths.get(dir, s.file)).toSeq)
      val again = writeBalanced(docs, "key", "parts", col("doc_id"),
        dir, targetBytes = 1000L)
      assert(again == shards)
      assert(shards.map(s =>
        Files.readAllBytes(Paths.get(dir, s.file)).toSeq) == before)
    } finally graft.CacheScope.release()
  }

  test("balanced export: odd sample sizes overhang by at most one sample") {
    val dir = Files.createTempDirectory("graft-wds-b2").toString + "/export"
    val rng = new scala.util.Random(7)
    val sizes = (0 until 30).map(i => i.toLong -> (20 + rng.nextInt(180)))
    val docs = sizes.map { case (i, n) => (i, f"$i%06d", "x" * n) }
      .toDF("doc_id", "key", "text")
      .select(col("doc_id"), col("key"),
        array(struct(lit("txt").as("ext"),
          encode(col("text"), "UTF-8").as("data"))).as("parts"))
    try {
      val target = 500L
      val shards = writeBalanced(docs, "key", "parts", col("doc_id"),
        dir, targetBytes = target)
      val maxRec = sizes.map(_._2).max
      assert(shards.map(_.records).sum == 30)
      assert(shards.forall(_.payloadBytes <= target + maxRec),
        shards.mkString(","))
      assert(shards.forall(_.records > 0))
    } finally graft.CacheScope.release()
  }

  test("read quarantines a rotted shard but keeps its intact prefix") {
    val outDir = Files.createTempDirectory("wdsrot").toString
    // NIO-written shard (no Hadoop .crc sidecar to trip on the rot)
    val bytes = encodeEntry("k0.txt", "zero".getBytes) ++
      encodeEntry("k1.txt", "one".getBytes) ++ endOfArchive
    bytes(1024 + 3) = (bytes(1024 + 3) ^ 0x01).toByte // second entry header
    Files.write(Paths.get(outDir, "part-00000.tar"), bytes)
    val got = read(spark, outDir)
    assert(got.entries.count() == 1)
    assert(new String(got.entries.select("payload").as[Array[Byte]].head()) == "zero")
    val rot = got.corrupt.collect()
    assert(rot.length == 1 && rot(0).getString(2).contains("checksum"))
  }
}
