package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TFRecord framing against first principles: the masking formula is
  * pinned on the public CRC32C check vector (so the spec would catch a
  * CRC32 / CRC32C mix-up), corruption is localized to the damaged
  * record, and the export → read round trip crosses the Spark boundary
  * both ways. */
class TfRecordSpec extends SparkSpec {
  import TfRecord._

  test("masking formula on the public CRC32C check vector") {
    // crc32c("123456789") = 0xE3069283 — the format's published check
    // value, independent of the JDK implementation under test
    val crc = 0xE3069283L
    val expected = (((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xffffffffL
    assert(maskedCrc("123456789".getBytes("US-ASCII")) == expected)
  }

  test("encode/decode round trip, including the empty payload") {
    val payloads = Seq("alpha", "", "γάμμα utf-8", "x" * 10000)
      .map(_.getBytes("UTF-8"))
    val bytes = payloads.map(encodeRecord).reduce(_ ++ _)
    val Right(out) = decodeRecords(bytes)
    assert(out.map(new String(_, "UTF-8")) ==
      Seq("alpha", "", "γάμμα utf-8", "x" * 10000))
    // whole-file gzip sniffed transparently
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos); g.write(bytes); g.close()
    val Right(gz) = decodeRecords(bos.toByteArray)
    assert(gz.map(_.toSeq) == out.map(_.toSeq))
    // and whole-file zstd (the other corpus-distribution codec)
    val zb = new ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(zb)
    z.write(bytes); z.close()
    val Right(zs) = decodeRecords(zb.toByteArray)
    assert(zs.map(_.toSeq) == out.map(_.toSeq))
  }

  test("corruption is localized: records before the damage survive") {
    val good = encodeRecord("keep me".getBytes) ++ encodeRecord("me too".getBytes)
    // flip a payload byte of a third record -> its payload crc fails
    val bad = encodeRecord("break me".getBytes)
    bad(14) = (bad(14) ^ 0x01).toByte
    val Left((kept, reason)) = decodeRecords(good ++ bad)
    assert(kept.map(new String(_)) == Seq("keep me", "me too"))
    assert(reason.contains("record 2") && reason.contains("payload crc"), reason)
    // truncation mid-record
    val Left((kept2, reason2)) = decodeRecords(good ++ bad.take(10))
    assert(kept2.length == 2 && reason2.contains("truncated"), reason2)
    // a flipped length byte fails the LENGTH crc, not a giant read
    val badLen = encodeRecord("x".getBytes)
    badLen(0) = (badLen(0) ^ 0x40).toByte
    val Left((_, reason3)) = decodeRecords(badLen)
    assert(reason3.contains("length crc mismatch"), reason3)
  }

  test("property: arbitrary bytes never throw; damage keeps the prefix") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val garbage = Gen.containerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte))
    // valid records followed by garbage: the valid prefix must survive
    val seeded = for {
      n <- Gen.choose(0, 3)
      payloads <- Gen.listOfN(n, garbage)
      tail <- garbage
    } yield (payloads.map(encodeRecord) :+ tail).foldLeft(Array.emptyByteArray)(_ ++ _) -> n
    val p = Prop.forAll(seeded) { case (bytes, n) =>
      decodeRecords(bytes) match {
        case Right(recs) => recs.length >= n
        case Left((recs, reason)) => recs.length >= n && reason.nonEmpty
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("write exports per-partition part files; read round-trips them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfr").toString + "/export"
    val docs = (0 until 100).map(i => (i.toLong, s"document body $i"))
      .toDF("doc_id", "text")
      .repartition(4, col("doc_id"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val n = TfRecord.write(docs, "payload", dir)
    assert(n == 100L)
    // drop the local FS's hidden .crc sidecars (Spark's scan does too)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.length == 4 && files.forall(_.matches("part-\\d{5}\\.tfrecord")),
      files.mkString(","))

    val back = TfRecord.read(spark, dir)
    assert(back.corrupt.count() == 0)
    val texts = back.records.select(decode(col("payload"), "UTF-8").as("t"))
      .as[String].collect().sorted
    assert(texts.toSeq == (0 until 100).map(i => s"document body $i").sorted)
    // per-file idx is dense from 0
    val idx0 = back.records.groupBy("path").agg(min("idx").as("lo"))
      .select("lo").as[Long].collect()
    assert(idx0.forall(_ == 0L))
  }

  test("manifest: independently recomputable from the shards, idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfr-m").toString + "/export"
    val docs = (0 until 60).map(i => (i.toLong, s"manifest doc $i"))
      .toDF("doc_id", "text")
      .repartition(3, col("doc_id"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val shards = TfRecord.writeWithManifest(docs, "payload", dir)
    assert(shards.map(_.records).sum == 60L)

    // The dataset card must be verifiable from the shards alone:
    // independent decode, recompute every number, compare.
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
    val back = TfRecord.read(spark, dir)
    assert(back.corrupt.count() == 0)
    val payloads = back.records.select("payload").as[Array[Byte]].collect()
    val n = payloads.length.toLong
    val bytes = payloads.map(_.length.toLong).sum
    val hash = payloads.map(TfRecord.payloadHash64).foldLeft(0L)(_ ^ _)
    assert(manifest.contains(s""""records":$n"""), manifest)
    assert(manifest.contains(s""""payload_bytes":$bytes"""), manifest)
    assert(manifest.contains(f""""hash64":"$hash%016x""""), manifest)
    // per-shard rows present, and the shard fingerprints XOR to the total
    assert(shards.forall(s => manifest.contains(s""""file":"${s.file}"""")))
    assert(shards.map(_.hash64).foldLeft(0L)(_ ^ _) == hash)

    // idempotent re-export: same data, byte-identical manifest
    TfRecord.writeWithManifest(docs, "payload", dir)
    val manifest2 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
    assert(manifest2 == manifest)
  }

  test("balanced export: targetBytes shards in contiguous id order") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfr-b").toString + "/export"
    // 40 records x 100 bytes, deliberately SKEWED input partitioning
    // (everything in one partition); target 1000 bytes -> 10 records
    // per shard regardless of input layout
    val docs = (0 until 40).map(i => (i.toLong, f"doc-$i%03d".padTo(100, 'x')))
      .toDF("doc_id", "text").coalesce(1)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    try {
      val shards = TfRecord.writeBalanced(docs, "payload", col("doc_id"),
        dir, targetBytes = 1000L)
      assert(shards.length == 4, shards.mkString(","))
      assert(shards.forall(s => s.records == 10 && s.payloadBytes == 1000),
        shards.mkString(","))

      // contiguous id ranges in id order: part-00000 = 0..9, etc.
      val back = TfRecord.read(spark, dir)
      assert(back.corrupt.count() == 0)
      val byFile = back.records.collect()
        .map(r => (r.getString(0), r.getLong(1),
          new String(r.getAs[Array[Byte]](2), "UTF-8").take(7)))
        .groupBy(_._1).toSeq.sortBy(_._1)
      assert(byFile.size == 4)
      byFile.zipWithIndex.foreach { case ((_, rows), f) =>
        val ids = rows.sortBy(_._2).map(_._3).toSeq
        assert(ids == (f * 10 until f * 10 + 10).map(i => f"doc-$i%03d"), ids)
      }

      // manifest covers the balanced layout
      val manifest = new String(Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      assert(manifest.contains("\"records\":40"), manifest)

      // deterministic: re-export is byte-identical
      val again = TfRecord.writeBalanced(docs, "payload", col("doc_id"),
        dir, targetBytes = 1000L)
      assert(again == shards)
    } finally graft.CacheScope.release()
  }

  test("balanced export: odd sizes overhang by at most one record") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tfr-b2").toString + "/export"
    val rng = new scala.util.Random(7)
    val sizes = (0 until 30).map(i => i.toLong -> (20 + rng.nextInt(180)))
    val docs = sizes.map { case (i, n) => (i, "x" * n) }.toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    try {
      val target = 500L
      val shards = TfRecord.writeBalanced(docs, "payload", col("doc_id"),
        dir, targetBytes = target)
      val maxRec = sizes.map(_._2).max
      assert(shards.map(_.records).sum == 30)
      assert(shards.forall(_.payloadBytes <= target + maxRec),
        shards.mkString(","))
      // no empty shards: every bin in the contiguous byte stream has
      // at least the record that starts in it
      assert(shards.forall(_.records > 0))
    } finally graft.CacheScope.release()
  }

  test("epoch export: permuted shards, same-seed byte-identical, new seed reshuffles") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-tfr-e").toString
    val docs = (0 until 40).map(i => (i.toLong, f"doc-$i%03d".padTo(100, 'x')))
      .toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    def bytesOf(dir: String): Seq[(String, Seq[Byte])] =
      Files.list(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".tfrecord"))
        .sortBy(_.getFileName.toString)
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    try {
      val s1 = TfRecord.writeEpoch(docs, "payload", col("doc_id"),
        s"$base/e1", targetBytes = 1000L, seed = "epoch1")
      assert(s1.map(_.records).sum == 40 &&
        s1.forall(s => s.records == 10 && s.payloadBytes == 1000))
      // shard contents follow the seeded permutation, not id order
      val firstShard = TfRecord.read(spark, s"$base/e1").records
        .collect().filter(_.getString(0).contains("part-00000"))
        .map(r => new String(r.getAs[Array[Byte]](2), "UTF-8").take(7)).toSeq
      assert(firstShard.toSet != (0 until 10).map(i => f"doc-$i%03d").toSet)
      // re-export at the same seed: byte-identical files
      TfRecord.writeEpoch(docs, "payload", col("doc_id"),
        s"$base/e1b", targetBytes = 1000L, seed = "epoch1")
      assert(bytesOf(s"$base/e1").map(_._2) == bytesOf(s"$base/e1b").map(_._2))
      // a new seed is a different epoch layout
      TfRecord.writeEpoch(docs, "payload", col("doc_id"),
        s"$base/e2", targetBytes = 1000L, seed = "epoch2")
      assert(bytesOf(s"$base/e1").map(_._2) != bytesOf(s"$base/e2").map(_._2))
    } finally graft.CacheScope.release()
  }

  test("streaming export: batch-addressed shards, replay rewrites in place") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("graft-tfr-s").toString + "/stream"
    val input = MemoryStream[(Long, String)]
    // captured micro-batch content for the replay below (collected —
    // a foreachBatch DataFrame must not outlive its micro-batch)
    var lastTexts: Seq[String] = Nil
    var lastId = -1L
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        TfRecord.writeBatch(
          batch.select(encode(col("text"), "UTF-8").as("payload")),
          "payload", dir, id)
        lastTexts = batch.select("text").collect().map(_.getString(0)).toSeq
        lastId = id
        ()
      }.start()
    try {
      input.addData(1L -> "first", 2L -> "second")
      q.processAllAvailable()
      input.addData(3L -> "third")
      q.processAllAvailable()
      def readAll(): Seq[String] = {
        val res = TfRecord.read(spark, s"$dir/batch-*", "*.tfrecord")
        assert(res.corrupt.count() == 0)
        res.records.select(decode(col("payload"), "UTF-8").as("t"))
          .as[String].collect().toSeq.sorted
      }
      assert(readAll() == Seq("first", "second", "third"))
      // replay the last micro-batch (what a restart does after a crash
      // between export and checkpoint commit): same id, same data →
      // the batch directory is rewritten, not duplicated
      TfRecord.writeBatch(
        lastTexts.toDF("text").select(encode(col("text"), "UTF-8").as("payload")),
        "payload", dir, lastId)
      assert(readAll() == Seq("first", "second", "third"))
    } finally q.stop()
  }

  test("read quarantines a rotted file but keeps its intact prefix") {
    val dir = Files.createTempDirectory("graft-tfr2")
    Files.write(dir.resolve("ok.tfrecord"), encodeRecord("fine".getBytes))
    val rot = encodeRecord("head".getBytes) ++ encodeRecord("tail".getBytes)
    rot(rot.length - 1) = (rot(rot.length - 1) ^ 0xff).toByte
    Files.write(dir.resolve("rot.tfrecord"), rot)
    val res = TfRecord.read(spark, dir.toString)
    // 1 record from ok + the intact head record from rot
    assert(res.records.count() == 2)
    val q = res.corrupt.select("path", "reason").collect()
    assert(q.length == 1 && q(0).getString(0).endsWith("rot.tfrecord") &&
      q(0).getString(1).contains("payload crc"), q.mkString)
  }
}
