package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** REAL pixel decode for GIF (87a/89a) — the third image format fully
  * decodable without a codec library: GIF's only compression is LZW
  * with 12-bit-capped variable-width codes, implementable in ~60 lines
  * of table walking (CompuServe GIF spec, public since 1987; the LZW
  * patents expired in 2004). Decodes the FIRST image descriptor
  * (frame 1 of an animation) through the global/local color table to
  * the same `(width, height, channels=3, pixels)` struct as
  * [[PngPixels]]/[[BmpPixels]], so the raster pipeline
  * (`ImageOps.grayResize`, `ImageOps.dhash64`) gains the format for
  * free. Interlaced images are de-interlaced (the 8/8/4/2 row passes of
  * the spec).
  *
  * The tests' `MediaFixtures.encodeGif` is the matching seam: a spec-valid
  * encoder that emits LZW literal codes with a clear code before the
  * table would overflow — the classic "uncompressed GIF" construction,
  * so no compressor is needed and any ≤256-color raster round-trips
  * exactly.
  *
  * Same untrusted-bytes guards as the siblings: dimension/raster bomb
  * caps before allocation, bounds-checked sub-block walk, corrupt LZW
  * streams (bad codes, early EOF) return null, never throw.
  *
  * Transparency handling, in addition to first-frame/palette scope:
  * a GCE transparent-color index is FLATTENED onto the stream's own
  * declared background entry (the Logical Screen Descriptor's
  * background index; entry 0 when that index is out of table) — the
  * self-contained render a decoder with no page context performs, and
  * the same entry the out-of-frame-rectangle fill already uses. Alpha
  * compositing against an EXTERNAL background is out of scope (no
  * alpha channel exists in the shared raster struct): a transparent
  * GIF and a twin flattened onto some page color other than the GIF's
  * own background can still hash differently.
  */
object GifPixels {
  /** (byte[]) -> InternalRow(width, height, 3, raster) or null; raster
    * layout identical to [[PngPixels.pixels]]. First frame only;
    * pixels outside the frame's sub-rectangle take the background
    * palette entry (index 0 when the background index is out of
    * table). */
  def pixels(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 13) return null
    def u8(i: Int): Int = b(i) & 0xFF
    def leU16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
    val sw = leU16(6); val sh = leU16(8)
    if (sw <= 0 || sh <= 0 || sw.toLong * sh * 3 > PngPixels.MaxRaster)
      return null
    val packed = u8(10)
    val bgIndex = u8(11)
    var i = 13
    var globalTable: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val entries = 1 << ((packed & 7) + 1)
      if (i + 3 * entries > n) return null
      globalTable = java.util.Arrays.copyOfRange(b, i, i + 3 * entries)
      i += 3 * entries
    }
    // block walk to the first image descriptor; a Graphic Control
    // Extension (label 0xF9) on the way may declare a transparent index
    var transIndex = -1
    var guard = 0
    while (i < n && guard < 65536) {
      guard += 1
      u8(i) match {
        case 0x3B => return null // trailer before any image
        case 0x21 => // extension: label byte then sub-blocks
          // GCE layout: 0x21 0xF9 0x04 <flags> <delay u16le> <transIdx>
          if (i + 6 < n && u8(i + 1) == 0xF9 && u8(i + 2) >= 4)
            transIndex = if ((u8(i + 3) & 1) != 0) u8(i + 6) else -1
          i += 2
          while (i < n && u8(i) != 0) i += 1 + u8(i)
          i += 1
        case 0x2C =>
          return decodeFrame(b, i, sw, sh, globalTable, bgIndex, transIndex)
        case _ => return null // corrupt block stream
      }
    }
    null
  }

  private def decodeFrame(b: Array[Byte], at: Int, sw: Int, sh: Int,
                          globalTable: Array[Byte],
                          bgIndex: Int, transIndex: Int): InternalRow = {
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xFF
    def leU16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (at + 10 > n) return null
    val left = leU16(at + 1); val top = leU16(at + 3)
    val fw = leU16(at + 5); val fh = leU16(at + 7)
    val fpacked = u8(at + 9)
    if (fw <= 0 || fh <= 0 || left + fw > sw || top + fh > sh) return null
    var i = at + 10
    var table = globalTable
    if ((fpacked & 0x80) != 0) { // local color table wins
      val entries = 1 << ((fpacked & 7) + 1)
      if (i + 3 * entries > n) return null
      table = java.util.Arrays.copyOfRange(b, i, i + 3 * entries)
      i += 3 * entries
    }
    if (table == null) return null
    val interlaced = (fpacked & 0x40) != 0

    // concatenate the LZW sub-blocks (bounded by the input itself)
    if (i >= n) return null
    val minCode = u8(i); i += 1
    if (minCode < 2 || minCode > 8) return null
    val data = new java.io.ByteArrayOutputStream()
    while (i < n && u8(i) != 0) {
      val len = u8(i)
      if (i + 1 + len > n) return null
      data.write(b, i + 1, len)
      i += 1 + len
    }
    val indices = lzwDecode(data.toByteArray, minCode, fw * fh)
    if (indices == null) return null

    // interlace row order: passes start 0,4,2,1 step 8,8,4,2
    val rowOf = new Array[Int](fh)
    if (interlaced) {
      var out = 0
      var p = 0
      val starts = Array(0, 4, 2, 1); val steps = Array(8, 8, 4, 2)
      while (p < 4) {
        var y = starts(p)
        while (y < fh) { rowOf(out) = y; out += 1; y += steps(p) }
        p += 1
      }
    } else {
      var y = 0
      while (y < fh) { rowOf(y) = y; y += 1 }
    }

    val colors = table.length / 3
    val bg = if (bgIndex < colors) bgIndex else 0
    val raster = new Array[Byte](sw * sh * 3)
    if (left != 0 || top != 0 || fw != sw || fh != sh) {
      var p = 0
      while (p < sw * sh) {
        raster(p * 3) = table(bg * 3); raster(p * 3 + 1) = table(bg * 3 + 1)
        raster(p * 3 + 2) = table(bg * 3 + 2)
        p += 1
      }
    }
    var r = 0
    while (r < fh) {
      val y = top + rowOf(r)
      var x = 0
      while (x < fw) {
        val idxRaw = indices(r * fw + x) & 0xFF
        val idx0 = if (idxRaw < colors) idxRaw else 0
        // GCE transparency flattened onto the stream's OWN declared
        // background entry — the self-contained render a decoder with
        // no page context performs
        val idx = if (idx0 == transIndex) bg else idx0
        val o = (y * sw + left + x) * 3
        raster(o) = table(idx * 3); raster(o + 1) = table(idx * 3 + 1)
        raster(o + 2) = table(idx * 3 + 2)
        x += 1
      }
      r += 1
    }
    new GenericInternalRow(Array[Any](
      Integer.valueOf(sw), Integer.valueOf(sh), Integer.valueOf(3), raster))
  }

  /** GIF-variant LZW: variable 3..12-bit codes, clear = 2^min,
    * end = clear+1; table entries are (prefix code, appended byte).
    * Returns exactly `expect` indices or null on any malformed code. */
  private def lzwDecode(d: Array[Byte], minCode: Int,
                        expect: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](expect)
    var outAt = 0
    var tableSize = end + 1
    var codeBits = minCode + 1
    var prev = -1
    var bitBuf = 0L; var bitCnt = 0; var at = 0
    while (outAt < expect) {
      while (bitCnt < codeBits) {
        if (at >= d.length) return null // early EOF
        bitBuf |= (d(at) & 0xFFL) << bitCnt
        bitCnt += 8; at += 1
      }
      val code = (bitBuf & ((1 << codeBits) - 1)).toInt
      bitBuf >>>= codeBits; bitCnt -= codeBits
      if (code == clear) {
        tableSize = end + 1; codeBits = minCode + 1; prev = -1
      } else if (code == end) {
        return if (outAt == expect) out else null
      } else {
        if (code > tableSize || (prev < 0 && code >= clear)) return null
        var sp = 0
        var cur = code
        if (code == tableSize) { // the KwKwK case
          if (prev < 0) return null
          stack(sp) = 0; sp += 1 // placeholder, filled after first byte known
          cur = prev
        }
        while (cur >= clear + 2) {
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        val first = cur.toByte // literal code < clear
        stack(sp) = first; sp += 1
        if (code == tableSize) stack(0) = first
        // emit reversed
        while (sp > 0 && outAt < expect) {
          sp -= 1; out(outAt) = stack(sp); outAt += 1
        }
        if (sp > 0) return null // frame overrun: more pixels than w*h
        if (prev >= 0 && tableSize < 4096) {
          prefix(tableSize) = prev; suffix(tableSize) = first
          tableSize += 1
          if (tableSize == (1 << codeBits) && codeBits < 12) codeBits += 1
        }
        prev = code
      }
    }
    out
  }
}
