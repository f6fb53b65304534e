package graft.ext

import graft.SparkSpec

/** Image perceptual-hash dedup (dhashOf / dhashBatched /
  * nearDupImages): hand-derived hashes on constructed rasters —
  * including the all-ones hash that exercises the sign bit — the
  * synthetic-PNG closed form recomputed independently, the banding
  * completeness contract at distance ≤ 3 and its documented recall
  * boundary at 4, and the standing quarantine contract. */
class PhashSpec extends SparkSpec {
  import spark.implicits._

  private def gray(w: Int, h: Int)(v: (Int, Int) => Int) = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = v(x, y) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    img
  }

  private def png(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("dhashOf: monotone rows by hand — all-zero, all-one (sign bit), quarantine") {
    // 9x8 with 1-pixel cells: the cell means ARE the pixels.
    // strictly increasing rows -> no left cell brighter -> hash 0
    assert(Multimodal.dhashOf(gray(9, 8)((x, _) => x * 10)).contains(0L))
    // strictly decreasing rows -> every one of the 64 bits set,
    // including bit 63 -> the all-ones (negative) long
    assert(Multimodal.dhashOf(gray(9, 8)((x, _) => 90 - x * 10)).contains(-1L))
    // a single row flipped sets exactly that row's 8 bits
    val oneRow = Multimodal.dhashOf(gray(9, 8)((x, y) =>
      if (y == 2) 90 - x * 10 else x * 10)).get
    assert(oneRow == 0xffL << 16)
    // narrower than the grid -> quarantined, not guessed at
    assert(Multimodal.dhashOf(gray(4, 4)((x, _) => x)).isEmpty)
  }

  test("dhashBatched on real PNG bytes matches the closed form; non-images drop") {
    // independent recomputation of the synthetic raster's dHash from
    // its DEFINITION (block means over v = (id*7 + 11x + 3y) mod 256)
    def expected(id: Long): Long = {
      def m(gx: Int, gy: Int): Long = {
        var s = 0L
        for (y <- gy * 2 until gy * 2 + 2; x <- gx * 2 until gx * 2 + 2)
          s += (id * 7 + x * 11 + y * 3) % 256
        s / 4
      }
      var hsh = 0L
      for (gy <- 0 until 8; gx <- 0 until 8)
        if (m(gx, gy) > m(gx + 1, gy)) hsh |= 1L << (gy * 8 + gx)
      hsh
    }
    val rows = Seq(
      Multimodal.MediaRow(3L, png(gray(18, 16)((x, y) =>
        ((3 * 7 + x * 11 + y * 3) % 256).toInt)), "image/png"),
      Multimodal.MediaRow(4L, Multimodal.synthPngPayload(4L), "image/png"),
      Multimodal.MediaRow(5L, "not an image".getBytes, "text/plain"))
    val out = Multimodal.dhashBatched(rows.toDS()).collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(3L, 4L))
    assert(out(0).width == 18 && out(0).height == 16)
    assert(out(0).dhash == expected(3L) && out(1).dhash == expected(4L))
  }

  test("nearDupImages: complete at distance <= 3, recall boundary at 4, bucket cap") {
    // direct hash fixtures (the operator takes any hash frame):
    // 1-2 identical, 3 one bit off 1, 4 spread over ALL four bands
    // relative to 1 (distance 4 but never a candidate — the documented
    // pigeonhole boundary), 5 unrelated
    val h1 = 0x0123456789abcdefL
    val hashes = Seq(
      (1L, h1), (2L, h1), (3L, h1 ^ 1L),
      (4L, h1 ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))),
      (5L, 0x7777000011112222L)).toDF("id", "h")
    val pairs = Multimodal.nearDupImages(hashes, $"id", $"h", maxDist = 4)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (3,4) differ only at bits 16/32/48, SHARING band 0 -> a real
    // distance-3 candidate; (1,4) and (2,4) differ in every band
    assert(pairs.toSeq == Seq((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1),
      (3L, 4L, 3)))
    // the distance-4 all-bands pair is absent BY CONTRACT (never a
    // candidate), not by the verify threshold
    assert(!pairs.exists(p => p._1 == 1L && p._2 == 4L))
    // bucket cap: with maxBucket = 1 every bucket of the identical
    // trio is over cap -> no candidates survive
    assert(Multimodal.nearDupImages(hashes, $"id", $"h", maxDist = 4,
      maxBucket = 1).count() == 0)
    // identical synthetic rasters (ids congruent mod 256) land at 0
    val rows = Seq(7L, 263L).map(id =>
      Multimodal.MediaRow(id, Multimodal.synthPngPayload(id), "image/png"))
    val d = Multimodal.nearDupImages(
        Multimodal.dhashBatched(rows.toDS()).toDF(),
        $"media_id", $"dhash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(d.toSeq == Seq((7L, 263L, 0)))
  }

  test("nearDupImages: pigeonhole completeness on random codes, <= 3 flips") {
    // randomized version of the completeness contract above: any pair
    // within Hamming distance 3 MUST surface (4 bands of 16 bits — 3
    // flips can't touch all four), for arbitrary base codes and flip
    // positions including the sign bit. Deterministic seed.
    val rng = new scala.util.Random(20260815L)
    val rows = (0 until 24).flatMap { g =>
      val base = rng.nextLong()
      val nFlips = rng.nextInt(4) // 0..3
      val flipped = (0 until nFlips).foldLeft(base) { (h, _) =>
        h ^ (1L << rng.nextInt(64))
      }
      Seq((g * 2L, base), (g * 2L + 1, flipped))
    }
    val pairs = Multimodal.nearDupImages(rows.toDF("id", "h"),
        $"id", $"h", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.grouped(2).foreach { case Seq((a, ha), (b, hb)) =>
      val d = java.lang.Long.bitCount(ha ^ hb)
      assert(d <= 3)
      assert(pairs.contains((a, b)),
        f"planted pair ($a,$b) at distance $d missing (base $ha%016x)")
    }
  }

  test("imageCodes + stored history: incremental image dedup end to end") {
    // layout: halves reassemble the dHash exactly (keyframeCodes' pin,
    // without the stride — media_id IS the vec_id)
    val hs = Multimodal.dhashBatched(Seq(
        Multimodal.MediaRow(7L, Multimodal.synthPngPayload(7L), "image/png"))
      .toDS()).toDF()
    val h = hs.collect().head.getAs[Long]("dhash")
    val c = Multimodal.imageCodes(hs).collect().head
    assert(c.getLong(0) == 7L)
    assert((c.getLong(1) << 32 | c.getLong(2)) == h)
    assert(c.getLong(3) == java.lang.Long.bitCount(h))
    // store a history batch, probe a near and a far image against it:
    // an exact re-crawl of image 7 tags, a far image doesn't
    val path = java.nio.file.Files.createTempDirectory("imghist")
      .toString + "/store"
    assert(Similarity.appendCodes(Multimodal.imageCodes(hs), path, 0L))
    val h7 = h
    val far = (100L to 400L).find { id =>
      val hx = Multimodal.dhashBatched(Seq(Multimodal.MediaRow(id,
          Multimodal.synthPngPayload(id), "image/png")).toDS())
        .toDF().collect().head.getAs[Long]("dhash")
      java.lang.Long.bitCount(hx ^ h7) > 3
    }.get
    val probe = Multimodal.imageCodes(Multimodal.dhashBatched(Seq(
        Multimodal.MediaRow(9000L + 7L, Multimodal.synthPngPayload(7L),
          "image/png"),
        Multimodal.MediaRow(far, Multimodal.synthPngPayload(far),
          "image/png")).toDS()).toDF())
    val tags = Similarity.tagNearCodes(probe, path, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(tags(9007L) === true)
    assert(tags(far) === false)
    graft.CacheScope.release()
  }
}
