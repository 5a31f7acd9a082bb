package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** REAL pixel decode for uncompressed BMP (BITMAPINFOHEADER family,
  * `BI_RGB`) — like PNG ([[PngPixels]]), the format needs no codec
  * library: the raster is plain bytes behind a fixed header (Windows
  * BMP file format, public since Windows 3.0). Returns the SAME
  * `(width, height, channels, pixels)` struct and raster layout as
  * [[PngPixels]] (top-down scanline-major, channel-interleaved RGB),
  * so every stage built on the raster — `ImageOps.grayResize`,
  * `ImageOps.dhash64` — is format-agnostic:
  * the same image saved as PNG and as BMP hashes identically
  * (cross-format near-dup, ImageSpec).
  *
  * Declared subset: bpp 8 (palette, emitted as RGB via the color
  * table), 24 and 32 (alpha/padding byte dropped), compression 0
  * (`BI_RGB`). RLE/bitfields/OS2-core headers return null. Bottom-up
  * (positive height) and top-down (negative height) rows both handled.
  *
  * Same untrusted-bytes guards as [[PngPixels]]: dimension and raster
  * bomb caps before any allocation, Long arithmetic so forged u32/i32
  * header fields cannot wrap Int, bounds-checked reads, never throws.
  */
object BmpPixels {
  /** (byte[]) -> InternalRow(width, height, channels, raster) or null;
    * raster layout identical to [[PngPixels.pixels]]. */
  def pixels(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 54 || b(0) != 'B'.toByte || b(1) != 'M'.toByte) return null
    def u8(i: Int): Int = b(i) & 0xFF
    def leU16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def leU32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    def leI32(i: Int): Long = {
      val v = leU32(i)
      if (v >= 0x80000000L) v - 0x100000000L else v
    }
    val dataOffset = leU32(10)
    val hdrSize = leU32(14)
    if (hdrSize < 40) return null // BITMAPCOREHEADER / OS2: out of subset
    val w = leI32(18)
    val hRaw = leI32(22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = leU16(28)
    val compression = leU32(30)
    if (compression != 0L) return null // BI_RGB only
    if (bpp != 8 && bpp != 24 && bpp != 32) return null
    if (w <= 0 || h <= 0 || w > PngPixels.MaxRaster || h > PngPixels.MaxRaster)
      return null
    if (w * 3L * h > PngPixels.MaxRaster) return null // bomb cap
    val rowSize = ((bpp.toLong * w + 31L) / 32L) * 4L
    if (dataOffset < 0 || dataOffset + rowSize * h > n) return null

    // palette (bpp 8): after the DIB header; clrUsed 0 means 256
    var palette: Array[Byte] = null
    if (bpp == 8) {
      val palAt = 14L + hdrSize
      val clrUsed = leU32(46)
      val entries = if (clrUsed == 0L || clrUsed > 256L) 256 else clrUsed.toInt
      if (palAt + 4L * entries > n) return null
      palette = new Array[Byte](256 * 3)
      var e = 0
      while (e < entries) {
        val at = (palAt + 4L * e).toInt
        palette(e * 3) = b(at + 2)     // R (table stores BGRA)
        palette(e * 3 + 1) = b(at + 1) // G
        palette(e * 3 + 2) = b(at)     // B
        e += 1
      }
    }

    val wi = w.toInt; val hi = h.toInt
    val out = new Array[Byte](wi * hi * 3)
    val srcBytes = bpp / 8
    var y = 0
    while (y < hi) {
      val srcRow = if (topDown) y else hi - 1 - y
      val rowAt = (dataOffset + rowSize * srcRow).toInt
      var x = 0
      while (x < wi) {
        val o = (y * wi + x) * 3
        if (bpp == 8) {
          val idx = u8(rowAt + x) * 3
          out(o) = palette(idx); out(o + 1) = palette(idx + 1)
          out(o + 2) = palette(idx + 2)
        } else {
          val at = rowAt + x * srcBytes // pixels are B,G,R[,pad/alpha]
          out(o) = b(at + 2); out(o + 1) = b(at + 1); out(o + 2) = b(at)
        }
        x += 1
      }
      y += 1
    }
    new GenericInternalRow(Array[Any](
      Integer.valueOf(wi), Integer.valueOf(hi), Integer.valueOf(3), out))
  }

  /** Minimal spec-complete 24-bit `BI_RGB` BMP encoder (bottom-up, the
    * canonical orientation); `raster` is the [[PngPixels]] layout
    * (top-down RGB) so PNG-encode and BMP-encode of the same raster
    * decode identically. */
  def encodeBmp(raster: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0 && raster.length == w * h * 3,
      s"raster ${raster.length} != $w x $h x 3")
    val rowSize = ((24 * w + 31) / 32) * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    def le16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    le32(2, 54 + dataSize); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h)
    le16(26, 1); le16(28, 24); le32(30, 0); le32(34, dataSize)
    le32(38, 2835); le32(42, 2835) // 72 DPI, conventional
    var y = 0
    while (y < h) {
      val dstRow = 54 + rowSize * (h - 1 - y)
      var x = 0
      while (x < w) {
        val s = (y * w + x) * 3
        out(dstRow + x * 3) = raster(s + 2)     // B
        out(dstRow + x * 3 + 1) = raster(s + 1) // G
        out(dstRow + x * 3 + 2) = raster(s)     // R
        x += 1
      }
      y += 1
    }
    out
  }
}
