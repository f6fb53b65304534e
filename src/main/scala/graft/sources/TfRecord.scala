package graft.sources

import java.io.InputStream
import java.util.zip.CRC32C

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TFRecord container I/O — the framing trainers consume, so this is
  * the EXPORT seam of the pipeline (packed sequences / curated
  * documents out) as well as an input seam for corpora that already
  * arrive in it. The framing is public TensorFlow format:
  *
  *   u64-LE payload length
  *   u32-LE masked CRC32C of those 8 length bytes
  *   payload bytes
  *   u32-LE masked CRC32C of the payload
  *
  * where `mask(crc) = ((crc >>> 15) | (crc << 17)) + 0xa282ead8`
  * in u32 arithmetic. CRC32C is the JDK's `java.util.zip.CRC32C`.
  * Payloads are opaque bytes here (tf.Example protobufs in practice —
  * serialization of those is the caller's schema decision).
  *
  * Read side: same distribution and quarantine contract as
  * [[WarcCorpus]] — one file per task via binaryFile, whole-file gzip/zstd
  * sniffed ([[Unpack]]), one streaming pass, a CRC/truncation failure stops THAT
  * file and emits a `_corrupt` row (bit rot in a 100 TB corpus is a
  * statistical certainty; the checksums exist to be checked).
  *
  * Write side: [[write]] exports a DataFrame's binary column as one
  * TFRecord part-file per partition through the Hadoop FileSystem API
  * (works on any configured scheme), so the export parallelism IS the
  * DataFrame's partitioning — repartition upstream to choose file
  * count/size (the trainer-side shard knob).
  */
object TfRecord {

  private def mask(crc: Long): Long =
    (((crc >>> 15) | (crc << 17)) + 0xa282ead8L) & 0xffffffffL

  private def crc32c(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new CRC32C
    c.update(b, off, len)
    c.getValue
  }

  /** Masked CRC32C of a byte range — exposed for the spec to pin the
    * masking formula against an independently-known CRC vector. */
  private[sources] def maskedCrc(b: Array[Byte]): Long =
    mask(crc32c(b, 0, b.length))

  private def le64(v: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  private def readLe(b: Array[Byte], n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= (b(i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** One framed record: length, length-CRC, payload, payload-CRC. */
  def encodeRecord(payload: Array[Byte]): Array[Byte] = {
    val len = le64(payload.length.toLong)
    val out = new Array[Byte](8 + 4 + payload.length + 4)
    System.arraycopy(len, 0, out, 0, 8)
    writeLe32(out, 8, mask(crc32c(len, 0, 8)))
    System.arraycopy(payload, 0, out, 12, payload.length)
    writeLe32(out, 12 + payload.length, mask(crc32c(payload, 0, payload.length)))
    out
  }

  private def writeLe32(out: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { out(off + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
  }

  private def readFully(in: InputStream, n: Int): Option[Array[Byte]] = {
    val b = new Array[Byte](n)
    var read = 0
    while (read < n) {
      val k = in.read(b, read, n - read)
      if (k < 0) return if (read == 0 && n > 0) None else Some(null)
      read += k
    }
    Some(b)
  }

  /** Parse all records of one file; `Right` = payloads, `Left` =
    * (payloads up to the damage, reason). */
  def decodeRecords(bytes: Array[Byte]): Either[(Seq[Array[Byte]], String), Seq[Array[Byte]]] = {
    val in: InputStream = Unpack.stream(bytes)
    val out = Seq.newBuilder[Array[Byte]]
    var idx = 0L
    while (true) {
      readFully(in, 8) match {
        case None => return Right(out.result()) // clean EOF at a boundary
        case Some(null) =>
          return Left((out.result(), s"record $idx: truncated length header"))
        case Some(lenB) =>
          readFully(in, 4).filter(_ != null) match {
            case None => return Left((out.result(), s"record $idx: truncated length crc"))
            case Some(lenCrcB) =>
              if (readLe(lenCrcB, 4) != mask(crc32c(lenB, 0, 8)))
                return Left((out.result(), s"record $idx: length crc mismatch"))
              val len = readLe(lenB, 8)
              if (len < 0 || len > Int.MaxValue - 16)
                return Left((out.result(), s"record $idx: absurd length $len"))
              readFully(in, len.toInt).filter(_ != null) match {
                case None => return Left((out.result(), s"record $idx: truncated payload"))
                case Some(data) =>
                  readFully(in, 4).filter(_ != null) match {
                    case None =>
                      return Left((out.result(), s"record $idx: truncated payload crc"))
                    case Some(crcB) =>
                      if (readLe(crcB, 4) != mask(crc32c(data, 0, data.length)))
                        return Left((out.result(), s"record $idx: payload crc mismatch"))
                      out += data
                      idx += 1
                  }
              }
          }
      }
    }
    Right(out.result()) // unreachable
  }

  private[sources] final case class TfRow(path: String, idx: Long,
                                          corrupt: String, payload: Array[Byte])

  final case class TfResult(records: DataFrame, corrupt: DataFrame)

  /** Read a directory of TFRecord files (`*.tfrecord*`, whole-file gzip
    * sniffed): `records` = (path, idx, payload) with per-file record
    * indices, `corrupt` = per-file quarantine rows. Records parsed
    * before the damage point are KEPT — the checksums localize rot to
    * a record, not a file. */
  def read(spark: SparkSession, path: String,
           pathGlob: String = "*.tfrecord*"): TfResult = {
    import spark.implicits._
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob)
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        decodeRecords(bytes) match {
          case Right(recs) =>
            recs.iterator.zipWithIndex.map { case (r, i) => TfRow(p, i.toLong, null, r) }
          case Left((recs, reason)) =>
            recs.iterator.zipWithIndex.map { case (r, i) => TfRow(p, i.toLong, null, r) } ++
              Iterator.single(TfRow(p, recs.length.toLong, reason, Array.emptyByteArray))
        }
      }
      .toDF()
    TfResult(
      records = rows.where(col("corrupt").isNull).select("path", "idx", "payload"),
      corrupt = rows.where(col("corrupt").isNotNull)
        .select(col("path"), col("idx"), col("corrupt").as("reason")))
  }

  /** Export `payloadCol` (binary) as TFRecord part-files under `dir`,
    * one `part-NNNNN.tfrecord` per non-empty partition, via the Hadoop
    * FileSystem of the path's scheme. Returns the record count.
    * Deterministic layout for a deterministic input partitioning —
    * the rename-free direct write is fine for an export directory the
    * caller owns (idempotent re-export = overwrite). */
  def write(df: DataFrame, payloadCol: String, dir: String): Long =
    exportShards(df, payloadCol, dir).map(_.records).sum

  /** Per-shard stats from one [[exportShards]] pass — the manifest row for
    * one part-file. `hash64` folds the per-record payload hashes
    * ([[payloadHash64]]) with XOR, so the shard fingerprint is
    * order-independent and mergeable: the DATASET fingerprint is the
    * XOR of its shard fingerprints. */
  case class Shard(file: String, records: Long, payloadBytes: Long,
                   hash64: Long)

  private def exportShards(df: DataFrame, payloadCol: String,
                     dir: String): Seq[Shard] = {
    val spark = df.sparkSession
    // Configuration is not serializable; ship its explicit entries and
    // rebuild per executor (defaults reload from the classpath there)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val confEntries: Array[(String, String)] = {
      val it = hadoopConf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    def rebuild(): org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration()
      confEntries.foreach { case (k, v) => c.set(k, v) }
      c
    }
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(hadoopConf).mkdirs(dirPath)
    // Collecting the per-shard stats is O(#partitions), not data-sized;
    // a retried task rewrites the same file with the same bytes and
    // reports the same stats, so the collected rows are replay-stable.
    df.select(col(payloadCol)).rdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(rebuild())
        val name = f"part-$pid%05d.tfrecord"
        val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
        var n = 0L; var bytes = 0L; var h = 0L
        try it.foreach { row =>
          val payload = row.getAs[Array[Byte]](0)
          out.write(encodeRecord(payload))
          n += 1; bytes += payload.length; h ^= payloadHash64(payload)
        } finally out.close()
        Iterator.single(Shard(name, n, bytes, h))
      }
    }.collect().toSeq.sortBy(_.file)
  }

  /** 64-bit payload fingerprint: first 8 bytes of the md5, big-endian —
    * engine-portable (any reader with an md5 can recompute it) and
    * exposed so the spec's independent decode verifies the manifest
    * from first principles. */
  private[sources] def payloadHash64(payload: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(payload)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** [[write]] plus a `_MANIFEST.json` dataset card in the same
    * directory — the auditable handoff a trainer-side loader checks
    * before touching 100 TB of shards: total records, payload bytes,
    * an order-independent content fingerprint (XOR of per-record
    * [[payloadHash64]]), and per-shard rows of the same three numbers.
    * Everything is recomputable from the shards alone, so a reader can
    * verify delivery without trusting the writer (TfRecordSpec does
    * exactly that via an independent decode). The manifest is written
    * AFTER every shard closes, so its presence marks a complete
    * export — the `_SUCCESS`-with-teeth convention. Re-exporting the
    * same data rewrites byte-identical shards and manifest (idempotent
    * like [[writeBatch]] replay). */
  def writeWithManifest(df: DataFrame, payloadCol: String,
                        dir: String): Seq[Shard] = {
    val shards = exportShards(df, payloadCol, dir)
    writeManifest(df, shards, dir)
    shards
  }

  private[sources] def writeManifest(df: DataFrame, shards: Seq[Shard],
                            dir: String): Unit = {
    val total = shards.map(_.records).sum
    val bytes = shards.map(_.payloadBytes).sum
    val hash = shards.map(_.hash64).foldLeft(0L)(_ ^ _)
    val shardJson = shards.map(s =>
      f"""{"file":"${s.file}","records":${s.records},""" +
        f""""payload_bytes":${s.payloadBytes},"hash64":"${s.hash64}%016x"}""")
    val json =
      s"""{"records":$total,"payload_bytes":$bytes,""" +
        f""""hash64":"$hash%016x","shards":[${shardJson.mkString(",")}]}"""
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_MANIFEST.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** BYTE-BALANCED export — [[write]]'s shard layout is whatever the
    * DataFrame's partitioning happens to be, which at 100 TB means
    * shard sizes track partition skew, and the trainer's data loader
    * inherits a straggler per oversized shard. This writer sizes the
    * shards itself:
    *
    *  1. global byte prefix sum over (id, payload length) in id order —
    *     [[graft.ext.Packing.packSequences]]'s two-level formulation
    *     (range partition → narrow running sums → partition-count base
    *     offsets), with bytes as the token count and `targetBytes` as
    *     the window budget, so `first_bin` IS the shard id: shards are
    *     CONTIGUOUS id ranges of ~targetBytes of payload (a record
    *     never splits; each shard overhangs by at most one record);
    *  2. payloads meet their shard assignment with one id-keyed join,
    *     then `repartitionAndSortWithinPartitions` on (shard, id) — the
    *     classic secondary sort: one shuffle placing every record in
    *     its shard's task, streamed in id order, spillable (records
    *     are never buffered whole-shard in memory);
    *  3. the same per-partition writer as [[write]], one
    *     `part-NNNNN.tfrecord` per shard, plus the [[writeWithManifest]]
    *     dataset card.
    *
    * Deterministic: shard boundaries are a pure function of
    * (ids, payload lengths, targetBytes), so re-export is byte-identical
    * — same idempotence class as [[writeBatch]] replay. */
  def writeBalanced(df: DataFrame, payloadCol: String, id: org.apache.spark.sql.Column,
                    dir: String, targetBytes: Long): Seq[Shard] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val spark = df.sparkSession
    val sized = df.select(id.cast("long").as("__id"),
      col(payloadCol).as("__p"))
    val assignment = graft.ext.Packing.packSequences(
        sized, col("__id"), length(col("__p")), targetBytes)
      .select(col("doc_id").as("__id"), col("first_bin").as("__shard"))
    val numShards = assignment.agg(max("__shard")).collect()(0) match {
      case r if r.isNullAt(0) => 0
      case r => r.getLong(0).toInt + 1
    }
    if (numShards == 0) {
      val empty = Seq.empty[Shard]
      writeManifest(df, empty, dir)
      return empty
    }
    val placed = sized.join(assignment, "__id")
      .select(col("__shard"), col("__id"), col("__p"))
      .rdd.map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Array[Byte]](2)))
      .repartitionAndSortWithinPartitions(
        new org.apache.spark.Partitioner {
          override def numPartitions: Int = numShards
          override def getPartition(key: Any): Int =
            key.asInstanceOf[(Long, Long)]._1.toInt
        })
      .map(_._2)
    import spark.implicits._
    val shardDf = spark.createDataset(placed).toDF("payload")
    val shards = exportShards(shardDf, "payload", dir)
    writeManifest(df, shards, dir)
    shards
  }

  /** Epoch export: [[writeBalanced]] riding the deterministic epoch
    * permutation ([[graft.ext.Packing.shuffledOrdinal]]) — records are
    * re-keyed by their seeded epoch ordinal before the balanced
    * secondary-sort shuffle, so shards are contiguous ~targetBytes
    * ranges of the EPOCH order, not the id order. A pure function of
    * (corpus, seed, targetBytes): re-export at the same seed is
    * byte-identical (writeBalanced's idempotence class), a new seed is
    * a fresh epoch layout with zero state — the trainer just reads the
    * next epoch's directory. */
  def writeEpoch(df: DataFrame, payloadCol: String,
                 id: org.apache.spark.sql.Column, dir: String,
                 targetBytes: Long, seed: String): Seq[Shard] = {
    val keyed = df.select(id.cast("long").as("__did0"),
      col(payloadCol))
    val ord = graft.ext.Packing.shuffledOrdinal(
        keyed.select(col("__did0").as("doc_id")), col("doc_id"), seed)
      .select(col("doc_id").as("__did0"), col("ord"))
    writeBalanced(keyed.join(ord, "__did0"), payloadCol, col("ord"),
      dir, targetBytes)
  }

  /** Streaming export: one batch-addressed shard directory per
    * micro-batch (`dir/batch-NNNNNN/part-*.tfrecord`), for use inside
    * `foreachBatch`. Replay-idempotent the same way the serving
    * mirrors are: a replayed batchId rewrites the SAME directory with
    * the SAME deterministic content, so a restart straddling a
    * half-written batch converges instead of duplicating — the
    * trainer-side reader globs the `batch-*` directories and never
    * sees a record twice. */
  def writeBatch(df: DataFrame, payloadCol: String, dir: String,
                 batchId: Long): Long =
    write(df, payloadCol, f"$dir/batch-$batchId%06d")
}
