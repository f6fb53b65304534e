package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Multimodal.MediaRow

/** The multimodal plumbing contract: the batched mapPartitions path
  * (where a real codec plugs in) must agree exactly with the
  * header-detecting column-expression path
  * ([[Multimodal.featuresColsDetected]]) on the same binary payloads —
  * both use the real PNG/GIF/JPEG header parse with the deterministic
  * stub fallback. `featuresCols` (the oracle-portable declared-row
  * path) intentionally keeps the stub unconditionally and agrees with
  * the others only on unrecognizable payloads. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // one REAL media payload (GIF, 320×200) + unrecognizable bytes, so
  // the equivalence covers both decode branches
  private def gifBytes = Array[Int](
    'G', 'I', 'F', '8', '9', 'a', 0x40, 0x01, 0xc8, 0x00, 0x91, 0x00,
    0x00).map(_.toByte)
  private val payloads = Seq(
    (1L, "fake-jpeg-bytes-aaaa".getBytes("UTF-8"), "image/jpeg"),
    (2L, "fake-wav-bytes-bbbbbb".getBytes("UTF-8"), "audio/wav"),
    (3L, "x".getBytes("UTF-8"), "video/mp4"))

  test("featuresBatched == featuresColsDetected on identical payloads") {
    val all = payloads :+ ((4L, gifBytes, "image/gif"))
    val ds = all.map { case (id, b, m) => MediaRow(id, b, m) }.toDS()
    val batched = Multimodal.featuresBatched(ds, batchSize = 2)
      .orderBy("media_id").collect()

    val df = all.toDF("media_id", "payload", "mime")
    val viaCols = Multimodal.featuresColsDetected(df,
        col("payload").cast("binary"), col("media_id"))
      .orderBy("media_id").collect()

    assert(batched.length == viaCols.length)
    batched.zip(viaCols).foreach { case (b, c) =>
      assert(b.media_id == c.getAs[Long]("media_id"))
      assert(b.byte_len == c.getAs[Int]("byte_len").toLong ||
        b.byte_len == c.getAs[Long]("byte_len"))
      assert(b.content_hash == c.getAs[String]("content_hash"))
      assert(b.width == c.getAs[Int]("width"))
      assert(b.height == c.getAs[Int]("height"))
      assert(b.n_frames == c.getAs[Int]("n_frames"))
    }
    // the GIF row took the REAL branch in both paths
    assert(batched.find(_.media_id == 4L).get.width == 320)
  }

  test("featuresCols (oracle stub path) agrees on unrecognizable payloads") {
    val ds = payloads.map { case (id, b, m) => MediaRow(id, b, m) }.toDS()
    val batched = Multimodal.featuresBatched(ds, batchSize = 2)
      .orderBy("media_id").collect()
    val df = payloads.toDF("media_id", "payload", "mime")
    val stub = Multimodal.featuresCols(df,
        col("payload").cast("binary"), col("media_id"))
      .orderBy("media_id").collect()
    batched.zip(stub).foreach { case (b, c) =>
      assert(b.width == c.getAs[Int]("width") &&
        b.height == c.getAs[Int]("height") &&
        b.n_frames == c.getAs[Int]("n_frames"))
    }
  }

  test("frame sampling: bounded count, even stride, deterministic hashes") {
    val f = Seq((1L, "h1", 9), (2L, "h2", 30), (3L, "h3", 0), (4L, "h4", 2))
      .toDF("media_id", "content_hash", "n_frames")
    val out = Multimodal.frameSample(f, maxFrames = 4)
      .orderBy("media_id", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byId = out.groupBy(_._1)
    // n=9 → stride 3 → frames 0,3,6; n=30 → stride 8 → 0,8,16,24;
    // n=0 → none; n=2 → stride 1 → 0,1
    assert(byId(1L).map(_._2).toSeq == Seq(0, 3, 6))
    assert(byId(2L).map(_._2).toSeq == Seq(0, 8, 16, 24))
    assert(!byId.contains(3L))
    assert(byId(4L).map(_._2).toSeq == Seq(0, 1))
    assert(byId.values.forall(_.length <= 4))
    // frame hash pins the exact format md5(content_hash + ":" + idx)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("h1:3".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.find(r => r._1 == 1L && r._2 == 3).get._3 == expected)
  }

  test("resize plan fits the box, preserves aspect ratio, never upscales") {
    val f = Seq(
      (1L, 1280, 720),  // wide → 512 x 288
      (2L, 300, 200),   // already fits → unchanged
      (3L, 200, 600),   // tall → 170 x 512
      (4L, 0, 100)      // degenerate → dropped
    ).toDF("media_id", "width", "height")
    val out = Multimodal.resizePlan(f, maxW = 512, maxH = 512)
      .collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    assert(out == Map(1L -> (512, 288), 2L -> (300, 200), 3L -> (170, 512)))
    out.values.foreach { case (w, h) => assert(w <= 512 && h <= 512) }
  }

  // real encoded images (in-memory ImageIO round trip): constant-color
  // canvases whose pixel statistics are known exactly
  private def encoded(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("real decode: pixel dimensions equal header dimensions, luma exact") {
    // rgb(10,20,30) -> mean luma (10+20+30)/3 = 20
    val png = encoded("png", 7, 5, (10 << 16) | (20 << 8) | 30)
    val gif = encoded("gif", 11, 3, (60 << 16) | (90 << 8) | 120)
    val jpg = encoded("jpg", 16, 8, (128 << 16) | (128 << 8) | 128)
    val ds = Seq(MediaRow(1L, png, "image/png"), MediaRow(2L, gif, "image/gif"),
      MediaRow(3L, jpg, "image/jpeg"),
      MediaRow(4L, "not an image".getBytes("UTF-8"), "audio/wav")).toDS()

    // the pixel path: decoded dims must equal the parsed header dims
    val px = Multimodal.pixelsBatched(ds, batchSize = 2)
      .orderBy("media_id").collect()
    assert(px.map(_.media_id).toSeq == Seq(1L, 2L, 3L)) // wav quarantined
    px.foreach { p =>
      val payload = Seq(png, gif, jpg)(p.media_id.toInt - 1)
      val Some((fmt, hw, hh)) =
        graft.functions.MediaHeaderUtil.parseDims(payload)
      assert(p.format == fmt && p.width == hw && p.height == hh,
        s"decoded ${p.width}x${p.height} != header ${hw}x$hh for $fmt")
    }
    assert(px(0).n_pixels == 35L && px(0).mean_luma == 20) // PNG lossless
    assert(px(1).n_pixels == 33L && px(1).mean_luma == 90) // GIF indexed
    // JPEG is lossy; a constant-gray canvas still decodes within +-2
    assert(px(2).n_pixels == 128L && (px(2).mean_luma - 128).abs <= 2)

    // featuresBatched now reports REAL dims for decodable images
    val feats = Multimodal.featuresBatched(ds, batchSize = 2)
      .orderBy("media_id").collect()
    assert(feats.find(_.media_id == 1L).get.width == 7)
    assert(feats.find(_.media_id == 1L).get.height == 5)
    assert(feats.find(_.media_id == 3L).get.width == 16)
  }

  test("pooled image reader is the reader ImageIO.read selects (PNG, JPEG)") {
    def stream(b: Array[Byte]) = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(b))
    Seq("png" -> encoded("png", 7, 5, 0x102030),
        "jpeg" -> encoded("jpg", 16, 8, 0x808080)).foreach { case (fmt, bytes) =>
      val selected = javax.imageio.ImageIO.getImageReaders(stream(bytes)).next()
      assert(Multimodal.pooledReader(fmt, stream(bytes)).getClass == selected.getClass, fmt)
    }
  }

  test("partitioning does not change batched results") {
    val ds = (payloads :+ ((4L, gifBytes, "image/gif")))
      .map { case (id, b, m) => MediaRow(id, b, m) }.toDS()
    val a = Multimodal.featuresBatched(ds.repartition(1)).orderBy("media_id")
      .collect().toSeq
    val b = Multimodal.featuresBatched(ds.repartition(3)).orderBy("media_id")
      .collect().toSeq
    assert(a == b)
  }
}
