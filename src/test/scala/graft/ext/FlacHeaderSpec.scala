package graft.ext

import graft.SparkSpec
import graft.functions.MediaHeaderUtil

/** Byte-level fixtures for the FLAC STREAMINFO parse — the
  * compressed-audio analog of VideoContainerSpec: the magic, block
  * header, and the packed 64-bit rate/channels/bits/samples field are
  * hand-assembled and every extracted value asserted against
  * hand-computed numbers. Sample decode is explicitly out of scope
  * (no JVM FLAC codec); this is the routing/stats metadata pass. */
class FlacHeaderSpec extends SparkSpec {

  /** Build fLaC + STREAMINFO-first-block bytes for the given fields. */
  private def flac(sampleRate: Int, channels: Int, bits: Int,
                   nSamples: Long, last: Boolean = true,
                   md5: Array[Byte] = Array.fill(16)(0.toByte)): Array[Byte] = {
    val si = new Array[Byte](34)
    // min/max block size 4096, min/max frame size 0 (unknown)
    si(0) = 0x10; si(1) = 0x00; si(2) = 0x10; si(3) = 0x00
    si(10) = ((sampleRate >> 12) & 0xff).toByte
    si(11) = ((sampleRate >> 4) & 0xff).toByte
    si(12) = (((sampleRate & 0xf) << 4) | (((channels - 1) & 0x7) << 1) |
      (((bits - 1) >> 4) & 0x1)).toByte
    si(13) = ((((bits - 1) & 0xf) << 4) | ((nSamples >> 32) & 0xf)).toByte
    si(14) = ((nSamples >> 24) & 0xff).toByte
    si(15) = ((nSamples >> 16) & 0xff).toByte
    si(16) = ((nSamples >> 8) & 0xff).toByte
    si(17) = (nSamples & 0xff).toByte
    md5.copyToArray(si, 18)
    "fLaC".getBytes("US-ASCII") ++
      Array((if (last) 0x80 else 0x00).toByte, 0.toByte, 0.toByte, 34.toByte) ++
      si
  }

  test("packed STREAMINFO fields: rate, channels, bits, samples, duration, md5") {
    val md5 = (0 until 16).map(i => (i * 17).toByte).toArray
    val b = flac(44100, 2, 16, 441000L, md5 = md5)
    val f = MediaHeaderUtil.parseFlac(b).get
    assert(f.sampleRate == 44100 && f.channels == 2 && f.bits == 16)
    assert(f.nSamples == 441000L && f.durationMs == 10000L)
    assert(f.md5Hex == md5.map("%02x".format(_)).mkString)
  }

  test("36-bit sample count and boundary field widths survive the bit packing") {
    // max channels (8), max bits (32), a sample count needing bit 33
    val f = MediaHeaderUtil.parseFlac(flac(96000, 8, 32, 1L << 33)).get
    assert(f.channels == 8 && f.bits == 32 && f.nSamples == (1L << 33))
    assert(f.durationMs == (1L << 33) * 1000L / 96000)
  }

  test("rejects non-FLAC, wrong first block, truncation, and zero rate") {
    assert(MediaHeaderUtil.parseFlac(Array[Byte]()).isEmpty)
    assert(MediaHeaderUtil.parseFlac("fLaX".getBytes ++
      new Array[Byte](40)).isEmpty)
    val ok = flac(44100, 2, 16, 1000L)
    // first block not STREAMINFO (type 4 = VORBIS_COMMENT)
    val wrongType = ok.clone(); wrongType(4) = (0x80 | 4).toByte
    assert(MediaHeaderUtil.parseFlac(wrongType).isEmpty)
    assert(MediaHeaderUtil.parseFlac(ok.take(30)).isEmpty)
    assert(MediaHeaderUtil.parseFlac(flac(0, 2, 16, 1000L)).isEmpty)
  }

  test("featuresBatched routes FLAC to the container branch") {
    import spark.implicits._
    val payload = flac(8000, 1, 16, 12345L)
    val rows = Multimodal.featuresBatched(
      Seq(Multimodal.MediaRow(7L, payload, "audio/flac")).toDS()).collect()
    assert(rows.length == 1)
    // no raster dims; n_frames = the declared total sample count
    assert(rows(0).width == 0 && rows(0).height == 0 &&
      rows(0).n_frames == 12345)
  }

  test("property: arbitrary bytes never throw, accepted parses are consistent") {
    val rnd = new scala.util.Random(20260813L)
    (0 until 3000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      MediaHeaderUtil.parseFlac(b).foreach { f =>
        assert(f.sampleRate > 0 && f.channels >= 1 && f.channels <= 8 &&
          f.bits >= 1 && f.bits <= 32 && f.nSamples >= 0)
      }
      // seeded corruptions of a valid payload must parse or reject cleanly
      val v = flac(44100, 2, 16, 1000L)
      v(rnd.nextInt(v.length)) = rnd.nextInt(256).toByte
      MediaHeaderUtil.parseFlac(v).foreach(f => assert(f.sampleRate > 0))
    }
  }
}
