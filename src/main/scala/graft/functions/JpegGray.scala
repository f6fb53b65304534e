package graft.functions

/** Minimal baseline-JPEG (ITU-T T.81, a public format) encoder for
  * CONSTANT-VALUE grayscale frames — the fixture/synthesis side of the
  * MJPEG-in-AVI video decode seam, the role [[FlacCodec.encode]] plays
  * for audio: emit real container bytes a real decoder must walk, while
  * keeping the decoded pixels CLOSED-FORM so the DuckDB oracle can price
  * them without a JPEG implementation of its own.
  *
  * Exactness argument (why lossy JPEG can be on a hash-matched oracle
  * surface): with an all-ones quantization table, an 8×8 block of the
  * constant level-shifted value c = v-128 has DCT coefficients
  * DC = 8c and every AC = 0 (T.81 A.3.3); quantization at step 1 keeps
  * DC = 8c exactly, and the IDCT of a DC-only block is the constant
  * DC/8 = c back — so ANY conforming decoder (libjpeg's islow shortcut
  * included: dcval = DC >> 3 when all ACs are zero) reconstructs v
  * bit-exactly. JpegAviSpec verifies this against `javax.imageio` for
  * every v in 0..255.
  *
  * Stream layout: SOI, DQT (table 0, all ones), SOF0 (8-bit, one
  * component, no subsampling), two DHTs (DC categories 0..11 as the
  * twelve canonical 4-bit codes — symbol t encodes as the 4 bits of t;
  * AC table with the single EOB symbol as code "0"), SOS, then one
  * entropy-coded (DC-diff, EOB) pair per MCU with 0xFF byte stuffing,
  * EOI. The first MCU carries diff = 8(v-128); the rest carry 0.
  */
object JpegGray {

  /** Encode a `w`×`h` frame of the constant gray value `v` (0..255).
    * Dimensions must be multiples of 8 so every MCU is a full block and
    * no edge-extension arithmetic enters the exactness argument. */
  def encodeConst(w: Int, h: Int, v: Int): Array[Byte] =
    encodeBlocks(w, h, IndexedSeq.fill((w / 8) * (h / 8))(v))

  /** Generalization of [[encodeConst]]: each 8×8 MCU gets its OWN
    * constant gray value (`blocks` in MCU scan order — left to right,
    * top to bottom, `(w/8)·(h/8)` entries). The exactness argument is
    * per block, so it carries over unchanged: a block-constant frame
    * has DC = 8·(v−128), all ACs 0, and any conforming decoder
    * reconstructs every block's value bit-exactly. This is what makes
    * a frame with SPATIAL STRUCTURE (a discriminative 9×8 dHash)
    * representable on a hash-matched oracle surface — the decoded
    * raster stays a closed form of the block grid. The DC-diff chain
    * spans at most 8·255 = 2040 < 2¹¹, inside the 0..11 category table. */
  def encodeBlocks(w: Int, h: Int, blocks: Seq[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && w % 8 == 0 && h % 8 == 0,
      s"dims must be positive multiples of 8, got ${w}x$h")
    require(blocks.length == (w / 8) * (h / 8),
      s"need ${(w / 8) * (h / 8)} block values, got ${blocks.length}")
    blocks.foreach(v =>
      require(v >= 0 && v <= 255, s"gray value out of range: $v"))
    val out = new java.io.ByteArrayOutputStream(256)
    def u8(x: Int): Unit = out.write(x & 0xff)
    def u16(x: Int): Unit = { u8(x >> 8); u8(x) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8) // SOI
    marker(0xdb); u16(67); u8(0x00) // DQT: Pq=0 (8-bit), Tq=0
    var i = 0
    while (i < 64) { u8(1); i += 1 }
    marker(0xc0); u16(11); u8(8); u16(h); u16(w) // SOF0
    u8(1); u8(1); u8(0x11); u8(0) // 1 component, id 1, 1x1 sampling, Tq 0
    marker(0xc4); u16(2 + 1 + 16 + 12); u8(0x00) // DHT: DC table 0
    i = 0
    while (i < 16) { u8(if (i == 3) 12 else 0); i += 1 } // 12 codes of length 4
    i = 0
    while (i <= 11) { u8(i); i += 1 } // symbols = categories 0..11
    marker(0xc4); u16(2 + 1 + 16 + 1); u8(0x10) // DHT: AC table 0
    i = 0
    while (i < 16) { u8(if (i == 0) 1 else 0); i += 1 } // one code of length 1
    u8(0x00) // the EOB symbol
    marker(0xda); u16(8); u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0) // SOS
    val bw = new BitWriter(out)
    val nMcu = (w / 8) * (h / 8)
    var prevDc = 0
    var m = 0
    while (m < nMcu) {
      val dc = 8 * (blocks(m) - 128)
      val diff = dc - prevDc
      prevDc = dc
      val t = category(diff)
      bw.put(t, 4) // canonical 4-bit DC code for symbol t is t itself
      if (t > 0) bw.put(if (diff >= 0) diff else diff + (1 << t) - 1, t)
      bw.put(0, 1) // AC: EOB
      m += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** T.81 magnitude category: number of bits to represent |d|. */
  private def category(d: Int): Int = {
    var a = math.abs(d); var t = 0
    while (a > 0) { a >>= 1; t += 1 }
    t
  }

  /** MSB-first bit packer with the 0xFF→0xFF00 byte stuffing the entropy
    * segment requires; the final partial byte pads with 1-bits (T.81
    * F.1.2.3). */
  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(value: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) { putBit((value >> i) & 1); i -= 1 }
    }
    private def putBit(b: Int): Unit = {
      acc = (acc << 1) | b; n += 1
      if (n == 8) {
        out.write(acc)
        if (acc == 0xff) out.write(0)
        acc = 0; n = 0
      }
    }
    def flush(): Unit = while (n != 0) putBit(1)
  }
}
