package graft.expressions


/** Deterministic baseline-JPEG ENCODER ([[JpegOps.synthJpeg]]) — the
  * lossy-format member of the synthetic-media family
  * ([[ImageOps.synthPng]]/`encodeBmp`), built so that lossy rows can
  * participate in the EXACT-arithmetic `q_image_neardup` oracle:
  *
  * JPEG decode is normally approximate, but a grayscale baseline file
  * whose 8x8 blocks each hold ONE constant sample value is DC-only, and
  * under a flat (all-ones) quantization table the round trip is
  * bit-exact in any conformant decoder: the DCT of a constant block `v`
  * is the single coefficient `F(0,0) = 8*(v-128)`, an integer that flat
  * quantization preserves, and the IDCT of a lone DC coefficient is the
  * constant `F(0,0)/8 + 128 = v` — no rounding anywhere. So the decoded
  * raster is a pure function of the seed while the BYTES vary per
  * variant (COM-segment padding, restart intervals, which exercise the
  * decoder's marker walk, byte-unstuffing and RST handling), exactly the
  * invariance contract image dedup is tested against.
  *
  * The Huffman tables written are the published T.81 Annex K typical
  * luminance tables (public spec constants), the segment layout is
  * JFIF — the JDK's independent ImageIO codec decodes these files to the
  * identical raster (ImageSpec cross-oracle), proving the encoder emits
  * genuinely valid JPEG rather than something only [[JpegPixels]]
  * accepts.
  */
object JpegOps {
  /** synthetic JPEG raster dims: 6x4 = 24 blocks of 8x8 */
  val W = 48
  val H = 32

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** seed -> grayscale JPEG bytes whose decode is exactly
    * the seed's block raster ([[jpegBlockValues]] per 8x8 block).
    * `variant mod 5` varies the BYTES only:
    * 0 plain, 1 COM padding, 2 restart interval 2, 3 longer COM +
    * restart interval 3, 4 PROGRESSIVE (SOF2, DC scan + AC EOB scan,
    * restart interval 2 — same coefficients delivered through the
    * Annex G scan machinery, so the raster stays the seed's exact
    * function). Never null, never throws. */
  def synthJpeg(seed: Long, variant: Int): Array[Byte] = {
    val v = java.lang.Math.floorMod(variant, 5)
    val comment = v match {
      case 1 => "graft synthetic jpeg"
      case 3 => "graft synthetic jpeg / byte-variant padding " + "~" * 16
      case _ => null
    }
    val dri = v match { case 2 | 4 => 2; case 3 => 3; case _ => 0 }
    encodeGrayBlockJpeg(jpegBlockValues(seed), W / 8, H / 8, comment, dri,
      progressive = v == 4)
  }

  /** per-block constant values of the seed's raster, block-row-major */
  private def jpegBlockValues(seed: Long): Array[Int] = {
    val bw = W / 8; val bh = H / 8
    Array.tabulate(bw * bh)(i =>
      16 + (((mix(seed * 0x9E3779B1L + i) >>> 16) & 0xFF).toInt * 224) / 256)
  }

  // ---- T.81 Annex K typical luminance Huffman tables (public spec) ----
  private val DcCounts = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcSymbols = Array.tabulate(12)(identity)
  private val AcCounts =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcSymbols = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)

  /** canonical (code, length) per symbol from a counts+symbols table */
  private def canonical(counts: Array[Int],
                        symbols: Array[Int]): Map[Int, (Int, Int)] = {
    val out = Map.newBuilder[Int, (Int, Int)]
    var code = 0; var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < counts(l - 1)) {
        out += symbols(k) -> ((code, l)); code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    out.result()
  }
  private val DcCodes = canonical(DcCounts, DcSymbols)
  private val AcCodes = canonical(AcCounts, AcSymbols)

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0; private var cnt = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1); cnt += 1
        if (cnt == 8) flushByte()
        i -= 1
      }
    }
    private def flushByte(): Unit = {
      out.write(buf & 0xFF)
      if ((buf & 0xFF) == 0xFF) out.write(0x00) // byte stuffing
      buf = 0; cnt = 0
    }
    /** pad the partial byte with 1-bits (T.81 B.1.1.5) */
    def align(): Unit = if (cnt > 0) { buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1); cnt = 8; flushByte() }
  }

  /** `blockVals(by*bw+bx)` constant sample values -> grayscale JFIF
    * bytes (flat quantization, Annex K tables, optional COM and restart
    * interval). `progressive` emits the SAME coefficients as SOF2 with
    * two scans — DC (Ss=0,Se=0) then AC (Ss=1,Se=63, one EOB per block,
    * every AC coefficient being zero) — so the decode stays bit-exact
    * while the bytes exercise the Annex G scan path end to end. */
  def encodeGrayBlockJpeg(blockVals: Array[Int], bw: Int, bh: Int,
                          comment: String, dri: Int,
                          progressive: Boolean = false): Array[Byte] = {
    require(blockVals.length == bw * bh)
    val out = new java.io.ByteArrayOutputStream(512)
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }

    marker(0xD8) // SOI
    marker(0xE0) // APP0 / JFIF
    u16(16); out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1); u8(0); u16(1); u16(1); u8(0); u8(0)
    if (comment != null) {
      val cb = comment.getBytes("US-ASCII")
      marker(0xFE); u16(2 + cb.length); out.write(cb)
    }
    marker(0xDB) // DQT: Pq=0 Tq=0, flat table
    u16(2 + 1 + 64); u8(0x00)
    var i = 0
    while (i < 64) { u8(1); i += 1 }
    marker(if (progressive) 0xC2 else 0xC0) // SOF: 8-bit, 1 comp, 1x1
    u16(11); u8(8); u16(bh * 8); u16(bw * 8); u8(1)
    u8(1); u8(0x11); u8(0)
    def dht(tcTh: Int, counts: Array[Int], symbols: Array[Int]): Unit = {
      marker(0xC4)
      u16(2 + 1 + 16 + symbols.length); u8(tcTh)
      counts.foreach(u8); symbols.foreach(u8)
    }
    dht(0x00, DcCounts, DcSymbols)
    dht(0x10, AcCounts, AcSymbols)
    if (dri > 0) { marker(0xDD); u16(4); u16(dri) }

    // per-call DC predictor (local: encodes run concurrently inside
    // executor tasks, object state would race)
    var pred = 0
    /** one entropy-coded scan: per-block body with restart cadence */
    def scan(ss: Int, se: Int)(body: (BitWriter, Int) => Unit): Unit = {
      marker(0xDA) // SOS
      u16(8); u8(1); u8(1); u8(0x00); u8(ss); u8(se); u8(0)
      val bits = new BitWriter(out)
      var rst = 0
      var b = 0
      pred = 0
      while (b < blockVals.length) {
        if (dri > 0 && b > 0 && b % dri == 0) {
          bits.align()
          marker(0xD0 + rst); rst = (rst + 1) & 7
          pred = 0
        }
        body(bits, b)
        b += 1
      }
      bits.align()
    }
    def putDc(bits: BitWriter, b: Int): Unit = {
      val dc = 8 * (blockVals(b) - 128)
      val diff = dc - pred
      pred = dc
      val cat = if (diff == 0) 0
        else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      val (dcCode, dcLen) = DcCodes(cat)
      bits.put(dcCode, dcLen)
      if (cat > 0)
        bits.put(if (diff >= 0) diff else diff + (1 << cat) - 1, cat)
    }
    val (eobCode, eobLen) = AcCodes(0x00)

    if (progressive) {
      scan(0, 0)(putDc) // DC first pass
      scan(1, 63)((bits, _) => bits.put(eobCode, eobLen)) // AC: all zero
    } else {
      scan(0, 63) { (bits, b) =>
        putDc(bits, b)
        bits.put(eobCode, eobLen)
      }
    }
    marker(0xD9) // EOI
    out.toByteArray
  }
}
