package graft.expressions

import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

/** Image feature extraction over REAL decoded pixels — the multimodal
  * stages a training-data pipeline runs after decode
  * (resize / perceptual-hash / near-dup), implemented on the in-sandbox
  * PNG decoder ([[PngPixels]]; the JDK ships PNG's only codec):
  *
  *  - [[synthPng]]: a deterministic PNG ENCODER (IHDR/IDAT/IEND with
  *    CRCs, `java.util.zip.Deflater`), seed -> bytes. Two uses: synthetic
  *    media corpora whose bytes differ per row (compression level + row
  *    filter vary) while the decoded image is a pure function of the
  *    seed — exactly the shape image dedup must be invariant to — and
  *    the test seam for crafting arbitrary rasters
  *    ([[ImageOps.encodePng]] is the public kernel).
  *  - [[grayResize]]: decode -> integer luma -> box-average pool to a
  *    fixed thumbnail. The real "resize" stage: deterministic integer
  *    arithmetic, no floating point, so hashes built on it are stable
  *    across platforms.
  *  - [[imageDHash]]: the standard 64-bit difference hash (9x8 gray
  *    thumbnail, bit = left<right per row) — invariant to re-encoding
  *    (any filter/compression of the same pixels) and to uniform
  *    brightness shift; small pixel edits flip few bits, so Hamming
  *    distance is the image near-dup metric (same pigeonhole bucketing
  *    as SimHash, `graft.operators.Dedup.imageDedup`).
  *
  * All kernels obey the untrusted-bytes contract (never throw, null on
  * any malformed input — FuzzSpec) and the bomb caps of [[PngPixels]].
  * Everything is public format knowledge: PNG spec (W3C/RFC 2083), the
  * widely-published dHash construction.
  */
object ImageOps {
  /** dHash thumbnail dims: 8 comparisons per row x 8 rows = 64 bits. */
  val HashW = 9
  val HashH = 8

  /** splitmix64 finalizer — deterministic pixel noise from a seed. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic 24x16 RGB image from `seed`, PNG-encoded at
    * compression level `level % 10` with the per-row filter alternating
    * by level parity — same seed always decodes to the same pixels, the
    * BYTES differ per (seed, level). Never null, never throws. */
  def synthPng(seed: Long, level: Int): Array[Byte] = {
    val lvl = java.lang.Math.floorMod(level, 10)
    encodePng(synthRaster(seed), 24, 16, 3, lvl, if (lvl % 2 == 0) 0 else 2)
  }

  /** the 24x16 RGB raster that [[synthPng]]/[[synthImage]] encode —
    * a pure function of the seed alone */
  private def synthRaster(seed: Long): Array[Byte] = {
    val w = 24; val h = 16
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val v = mix(seed * 65599L + i)
      px(i * 3) = (v & 0xFF).toByte
      px(i * 3 + 1) = ((v >>> 8) & 0xFF).toByte
      px(i * 3 + 2) = ((v >>> 16) & 0xFF).toByte
      i += 1
    }
    px
  }

  /** Deterministic 24x16 RGB image from `seed`, encoded as PNG for
    * `variant mod 12 < 10` (compression/filter vary, [[synthPng]]) and
    * as uncompressed BMP for 10/11 — same seed always decodes to the
    * same pixels ACROSS FORMATS, so corpora built on this exercise the
    * cross-format invariance of the raster pipeline. */
  def synthImage(seed: Long, variant: Int): Array[Byte] = {
    val v = java.lang.Math.floorMod(variant, 12)
    if (v < 10) synthPng(seed, v)
    else BmpPixels.encodeBmp(synthRaster(seed), 24, 16)
  }

  /** Minimal spec-complete PNG encoder: 8-bit depth, `channels` of
    * 1 (gray), 2 (gray+alpha), 3 (RGB) or 4 (RGBA), non-interlaced, one
    * IDAT, every scanline filtered with `filterType` 0 (None) or 2 (Up).
    * `raster` is scanline-major channel-interleaved (the [[PngPixels]]
    * output layout — encode/decode round-trip is the identity). */
  def encodePng(raster: Array[Byte], w: Int, h: Int, channels: Int,
                level: Int, filterType: Int): Array[Byte] = {
    require(w > 0 && h > 0 && raster.length == w * h * channels,
      s"raster ${raster.length} != $w x $h x $channels")
    require(filterType == 0 || filterType == 2, "filter 0 or 2 only")
    val colorType = channels match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
      case c => throw new IllegalArgumentException(s"channels $c")
    }
    val stride = w * channels
    // filtered stream: 1 filter byte + stride per scanline
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (stride + 1)) = filterType.toByte
      var x = 0
      while (x < stride) {
        val v = raster(y * stride + x) & 0xFF
        val up = if (filterType == 2 && y > 0) raster((y - 1) * stride + x) & 0xFF else 0
        raw(y * (stride + 1) + 1 + x) = ((v - up) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new Deflater(level)
    val idat = new java.io.ByteArrayOutputStream()
    try {
      deflater.setInput(raw)
      deflater.finish()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) idat.write(buf, 0, deflater.deflate(buf))
    } finally deflater.end()

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte), 0, 8)
    def be32(v: Int): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, payload: Array[Byte]): Unit = {
      out.write(be32(payload.length), 0, 4)
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(t, 0, 4)
      out.write(payload, 0, payload.length)
      val crc = new CRC32()
      crc.update(t); crc.update(payload)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0))
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** Format-agnostic raster decode: PNG ([[PngPixels]]) else
    * uncompressed BMP ([[BmpPixels]]) else GIF ([[GifPixels]]) else
    * baseline JPEG ([[JpegPixels]]) — all four emit the identical
    * `(w, h, channels, pixels)` layout, so everything downstream is
    * format-blind. (Each decoder rejects the other formats on the
    * signature bytes, so the chain costs two byte compares per miss.) */
  def decodeRaster(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val png = PngPixels.pixels(b)
    if (png != null) return png
    val bmp = BmpPixels.pixels(b)
    if (bmp != null) return bmp
    val gif = GifPixels.pixels(b)
    if (gif != null) gif else JpegPixels.pixels(b)
  }

  /** Deterministic media bytes across ALL FOUR formats: seeds 0-79 keep
    * the [[synthImage]] lossless family (PNG levels/filters, BMP), seeds
    * >= 80 are JPEG ([[JpegOps.synthJpeg]]: bytes vary per variant via
    * COM padding, restart intervals, and a SOF2 progressive two-scan
    * encoding, decoded raster a pure function of the seed — exact
    * despite the lossy format, see [[JpegOps]]). Lossy groups get their
    * OWN rasters (a noise raster
    * cannot survive JPEG bit-exactly), so group membership stays pure
    * seed arithmetic: same seed => identical decoded raster => identical
    * dHash, regardless of which container any member landed in. */
  def synthMedia(seed: Long, variant: Int): Array[Byte] =
    if (seed >= 80) JpegOps.synthJpeg(seed, variant)
    else synthImage(seed, variant)

  /** Image bytes (PNG or BMP) -> `tw x th` grayscale thumbnail
    * (unsigned bytes, scanline-major), or null on any decode failure.
    * Luma is the integer BT.601 approximation
    * `(77r + 150g + 29b + 128) >> 8` (identity for gray inputs);
    * pooling is box-average over the exact integer cell grid
    * `[floor(x*w/tw), max(+1, floor((x+1)*w/tw)))` — well-defined for
    * ANY source size including upscales. */
  def grayResize(b: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    val row = decodeRaster(b)
    if (row == null) return null
    val w = row.getInt(0); val h = row.getInt(1); val ch = row.getInt(2)
    val px = row.getBinary(3)
    val gray = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      gray(i) = ch match {
        case 1 | 2 => px(i * ch) & 0xFF
        case _ =>
          val r = px(i * ch) & 0xFF; val g = px(i * ch + 1) & 0xFF
          val bl = px(i * ch + 2) & 0xFF
          (77 * r + 150 * g + 29 * bl + 128) >> 8
      }
      i += 1
    }
    val out = new Array[Byte](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = (ty.toLong * h / th).toInt
      val y1 = math.max(y0 + 1, ((ty + 1).toLong * h / th).toInt)
      var tx = 0
      while (tx < tw) {
        val x0 = (tx.toLong * w / tw).toInt
        val x1 = math.max(x0 + 1, ((tx + 1).toLong * w / tw).toInt)
        var sum = 0L; var yy = y0
        while (yy < math.min(y1, h)) {
          var xx = x0
          while (xx < math.min(x1, w)) { sum += gray(yy * w + xx); xx += 1 }
          yy += 1
        }
        val cells = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        out(ty * tw + tx) = (if (cells > 0) (sum / cells).toInt else 0).toByte
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** PNG bytes -> 64-bit difference hash (boxed; null on decode
    * failure). Bit `y*8+x` is set iff thumbnail(y,x) < thumbnail(y,x+1)
    * on the 9x8 gray thumbnail. */
  def dhash64(b: Array[Byte]): java.lang.Long = {
    val t = grayResize(b, HashW, HashH)
    if (t == null) return null
    var bits = 0L
    var y = 0
    while (y < HashH) {
      var x = 0
      while (x < HashW - 1) {
        if ((t(y * HashW + x) & 0xFF) < (t(y * HashW + x + 1) & 0xFF))
          bits |= 1L << (y * (HashW - 1) + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** (seed long, variant int) -> PNG/BMP (seeds < 80) or baseline JPEG
    * (seeds >= 80) bytes of a seed-defined raster; never null */
  def synthMedia(seed: Column, variant: Column): Column =
    Kernel.call(this, "synthMedia", BinaryType,
      Seq(seed -> LongType, variant -> IntegerType), nullable = false)

  /** image bytes -> 64-bit difference hash, null on decode failure */
  def imageDHash(media: Column): Column =
    Kernel.call(this, "dhash64", LongType, Seq(media -> BinaryType),
      nullable = true)
}
