package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** REAL pixel decode for PNG — the JDK ships the only codec PNG needs
  * (`java.util.zip.Inflater` for the zlib/DEFLATE stream), so unlike the
  * lossy formats (video codecs, transform audio codecs, which stay behind
  * the declared stub) PNG raster data is fully decodable in-sandbox:
  * signature + chunk walk (PNG spec, RFC 2083 / W3C PNG), IDAT
  * concatenation + inflate, per-scanline filter reconstruction
  * (None/Sub/Up/Average/Paeth), then sample extraction.
  *
  * Coverage is now the full static-PNG matrix of legal IHDR combinations:
  *
  *  - color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
  *    6 (RGBA);
  *  - bit depths 1/2/4/8/16 wherever the spec allows them (sub-byte
  *    depths bit-unpacked; gray sub-byte samples scaled to 8-bit by the
  *    exact 255/(2^d-1) factor — integral for d=1/2/4; 16-bit channels
  *    reduced to their high byte, the spec's own 8-bit approximation);
  *  - palette indices resolved through PLTE to an RGB raster (an index
  *    past the palette = corrupt stream = null);
  *  - Adam7 interlacing: the seven passes are defiltered independently
  *    (each pass restarts filtering, per spec) and scattered to their
  *    final positions.
  *
  * Out of scope, same policy as [[GifPixels]]: tRNS transparency (a
  * palette image with an alpha-carrying tRNS decodes to its opaque
  * palette colors — corpora mixing transparent PNGs with flattened twins
  * should treat that axis accordingly) and gamma/chromaticity chunks
  * (raw encoded samples, exactly what ImageIO's raster returns, NOT
  * gamma-corrected display values).
  *
  * Scale guards, because this runs inside executor tasks against
  * untrusted corpus bytes:
  *  - decompression-bomb cap: a raster larger than [[PngPixels.MaxRaster]]
  *    (64 MiB) returns null instead of allocating — a few hundred bytes
  *    of IDAT can legally declare a multi-GiB image;
  *  - the chunk walk advances in Long so forged u32 lengths cannot wrap
  *    Int and re-walk the buffer;
  *  - truncated / corrupt DEFLATE streams (DataFormatException, short
  *    output) return null, never throw — one corrupt blob must not abort
  *    a 100 TB scan.
  */
object PngPixels {
  /** decompression-bomb cap on the decoded raster (bytes) */
  val MaxRaster: Long = 64L * 1024 * 1024

  private val Sig = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  /** Adam7 pass grid: (xStart, yStart, xStep, yStep) per pass. */
  private val Adam7 = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** (byte[]) -> InternalRow(width, height, channels, raster) or null.
    * Raster layout: scanline-major, channel-interleaved 8-bit samples,
    * top row first. Palette images emit channels=3 (resolved RGB). */
  def pixels(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 8 + 25) return null
    var s = 0
    while (s < 8) { if ((b(s) & 0xFF) != Sig(s)) return null; s += 1 }
    def u32(i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    def tag(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    var width = -1; var height = -1
    var depth = 0; var colorType = -1; var interlace = 0
    var chIn = -1 // channels as stored in the stream (palette: 1 index)
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 8L
    var sawEnd = false
    while (pos + 8 <= n && !sawEnd) {
      val len = u32(pos.toInt)
      val typ = tag(pos.toInt + 4)
      val payload = pos + 8
      if (payload + len > n) return null // truncated chunk
      typ match {
        case "IHDR" =>
          if (len < 13) return null
          val p = payload.toInt
          val w = u32(p); val h = u32(p + 4)
          depth = b(p + 8) & 0xFF
          colorType = b(p + 9) & 0xFF
          interlace = b(p + 12) & 0xFF
          chIn = colorType match {
            case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
            case _ => -1
          }
          // legal depth/colorType matrix (PNG spec table 11.1)
          val depthOk = colorType match {
            case 0 => depth == 1 || depth == 2 || depth == 4 ||
              depth == 8 || depth == 16
            case 3 => depth == 1 || depth == 2 || depth == 4 || depth == 8
            case _ => depth == 8 || depth == 16
          }
          if (chIn < 0 || !depthOk || interlace > 1) return null
          // per-dimension cap BEFORE the product: w and h are raw u32s
          // (up to 2^32-1), so (w*channels+1)*h could wrap Long negative
          // and sneak a forged IHDR past a product-only check (then the
          // Int casts below would overflow into a NegativeArraySize
          // throw). With both factors <= MaxRaster the Long product is
          // exact (< 2^54).
          if (w <= 0 || h <= 0 || w > MaxRaster || h > MaxRaster) return null
          // bomb cap on BOTH the stored stream (16-bit worst case, +1
          // filter byte per line per pass) and the 8-bit output raster
          if ((w * chIn * 2 + 2L) * h * 2 > MaxRaster) return null
          width = w.toInt; height = h.toInt
        case "PLTE" =>
          if (len == 0 || len > 768 || len % 3 != 0) return null
          plte = java.util.Arrays.copyOfRange(
            b, payload.toInt, (payload + len).toInt)
        case "IDAT" =>
          if (width < 0) return null // IDAT before IHDR: corrupt
          idat.write(b, payload.toInt, len.toInt)
        case "IEND" => sawEnd = true
        case _ => // ancillary chunk: skip
      }
      pos = payload + len + 4 // + CRC
    }
    if (width < 0 || idat.size() == 0) return null
    if (colorType == 3 && plte == null) return null

    // pass geometry: one full-frame pass, or the seven Adam7 sub-images
    val passes: Array[(Int, Int, Int, Int, Int, Int)] = // x0,y0,dx,dy,wp,hp
      if (interlace == 0) Array((0, 0, 1, 1, width, height))
      else Adam7.map { case (x0, y0, dx, dy) =>
        val wp = if (width > x0) (width - x0 + dx - 1) / dx else 0
        val hp = if (height > y0) (height - y0 + dy - 1) / dy else 0
        (x0, y0, dx, dy, wp, hp)
      }
    def lineBytes(wp: Int): Int = ((wp.toLong * chIn * depth + 7) / 8).toInt
    var rawLen = 0L
    passes.foreach { case (_, _, _, _, wp, hp) =>
      if (wp > 0 && hp > 0) rawLen += (lineBytes(wp) + 1L) * hp
    }
    if (rawLen == 0 || rawLen > MaxRaster) return null

    val raw = new Array[Byte](rawLen.toInt)
    try {
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var off = 0
        while (off < raw.length && !inf.finished()) {
          val got = inf.inflate(raw, off, raw.length - off)
          // any zero-progress state is terminal for untrusted bytes:
          // short stream (needsInput), preset-dictionary demand
          // (needsDictionary — a crafted FDICT zlib header would
          // otherwise return 0 forever: an executor-task infinite loop)
          if (got == 0) return null
          off += got
        }
        if (off < raw.length) return null
      } finally inf.end()
    } catch { case _: java.util.zip.DataFormatException => return null }

    val outCh = if (colorType == 3) 3 else chIn
    val out = new Array[Byte](width * height * outCh)
    val bpp = math.max(1, chIn * depth / 8) // filter offset, bytes
    val maxSub = (1 << depth) - 1 // full scale of a sub-byte sample
    val palEntries = if (plte == null) 0 else plte.length / 3
    var rawOff = 0
    var pi = 0
    while (pi < passes.length) {
      val (x0, y0, dx, dy, wp, hp) = passes(pi)
      if (wp > 0 && hp > 0) {
        val lb = lineBytes(wp)
        // filter reconstruction (PNG spec §6) within this pass only:
        // a = left, bb = up, c = up-left; defiltered in place over a
        // pass-local buffer
        val line = new Array[Byte](lb * hp)
        var y = 0
        while (y < hp) {
          val filter = raw(rawOff + y * (lb + 1)) & 0xFF
          if (filter > 4) return null
          val src = rawOff + y * (lb + 1) + 1
          val dst = y * lb
          var x = 0
          while (x < lb) {
            val v = raw(src + x) & 0xFF
            val a = if (x >= bpp) line(dst + x - bpp) & 0xFF else 0
            val bb = if (y > 0) line(dst - lb + x) & 0xFF else 0
            val c = if (y > 0 && x >= bpp) line(dst - lb + x - bpp) & 0xFF
                    else 0
            val rec = filter match {
              case 0 => v
              case 1 => v + a
              case 2 => v + bb
              case 3 => v + ((a + bb) >> 1)
              case 4 => // Paeth predictor
                val p = a + bb - c
                val pa = math.abs(p - a); val pb = math.abs(p - bb)
                val pc = math.abs(p - c)
                v + (if (pa <= pb && pa <= pc) a
                     else if (pb <= pc) bb else c)
            }
            line(dst + x) = (rec & 0xFF).toByte
            x += 1
          }
          y += 1
        }
        // sample extraction: scatter this pass's pixels to their final
        // frame positions
        y = 0
        while (y < hp) {
          val rowAt = y * lb
          var px = 0
          while (px < wp) {
            val outAt = ((y0 + y * dy) * width + (x0 + px * dx)) * outCh
            if (colorType == 3) {
              val idx =
                if (depth == 8) line(rowAt + px) & 0xFF
                else {
                  val bitAt = px * depth
                  (line(rowAt + (bitAt >> 3)) >> (8 - depth - (bitAt & 7))) &
                    maxSub
                }
              if (idx >= palEntries) return null // corrupt: index past PLTE
              out(outAt) = plte(idx * 3)
              out(outAt + 1) = plte(idx * 3 + 1)
              out(outAt + 2) = plte(idx * 3 + 2)
            } else if (depth == 8) {
              var ch = 0
              while (ch < chIn) {
                out(outAt + ch) = line(rowAt + px * chIn + ch)
                ch += 1
              }
            } else if (depth == 16) {
              var ch = 0
              while (ch < chIn) { // high byte = spec's 8-bit reduction
                out(outAt + ch) = line(rowAt + (px * chIn + ch) * 2)
                ch += 1
              }
            } else { // sub-byte gray: unpack + exact 255/(2^d-1) scale
              val bitAt = px * depth
              val v =
                (line(rowAt + (bitAt >> 3)) >> (8 - depth - (bitAt & 7))) &
                  maxSub
              out(outAt) = (v * 255 / maxSub).toByte
            }
            px += 1
          }
          y += 1
        }
        rawOff += (lb + 1) * hp
      }
      pi += 1
    }
    new GenericInternalRow(Array[Any](width, height, outCh, out))
  }
}
