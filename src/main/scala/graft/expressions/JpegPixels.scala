package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** REAL pixel decode for Huffman-coded JPEG (ITU-T T.81) — the
  * dominant web image format, previously the declared lossy-codec stub.
  * Implemented from the public specification like the other no-codec
  * decoders ([[PngPixels]]/[[BmpPixels]]/[[GifPixels]]): marker segment
  * walk (DQT/SOF/DHT/DRI/SOS), canonical Huffman entropy decode with
  * byte-unstuffing and restart-marker handling, DC prediction,
  * dequantization, zigzag reorder, 2-D separable IDCT, integer-factor
  * chroma upsampling (box), and JFIF YCbCr->RGB. Emits the SAME
  * `(width, height, channels, pixels)` struct and raster layout as the
  * lossless decoders, so `ImageOps.grayResize` / `ImageOps.dhash64` are
  * format-blind across all four formats.
  *
  * Declared subset: baseline (SOF0), extended-sequential (SOF1) AND
  * progressive (SOF2) Huffman, 8-bit precision, 1 or 3 components,
  * integer sampling ratios (4:4:4 / 4:2:2 / 4:2:0 / 4:1:1...),
  * interleaved or per-component scans, restart intervals. Progressive
  * frames run the T.81 Annex G successive-approximation machinery:
  * scans decode into per-component COEFFICIENT planes (spectral bands
  * `Ss..Se`, point transform `Al`, DC/AC first + refinement passes with
  * shared EOB-run state), then one dequantize+IDCT pass per block at
  * the end — so the transient footprint is 4 bytes/sample of
  * coefficient state, still bounded by the [[MaxRaster]] sample cap.
  * Returns null for: arithmetic coding (SOF9+), hierarchical, lossless,
  * 12-bit, 4-component (CMYK/Adobe). Chroma upsampling is box
  * replication —
  * decoders legitimately differ here (and in IDCT rounding), so the
  * ImageSpec cross-oracle against the JDK's independent ImageIO codec is
  * tolerance-based, unlike the bit-exact lossless oracles.
  *
  * Untrusted-bytes contract of the family: dimension/raster bomb caps
  * before allocation, bounds-checked walks, never throws (FuzzSpec) —
  * one corrupt blob must not abort a 100 TB scan. A NonFatal catch backs
  * the explicit checks: entropy-coded data is attacker-shaped input and
  * the decode state machine is large enough that a residual
  * out-of-bounds path must degrade to null, not a task failure.
  *
  * [[JpegOps.synthJpeg]] is the deterministic ENCODER twin (seed -> grayscale
  * baseline JPEG, Annex K Huffman tables, flat quantization): each 8x8
  * block carries a constant sample value, so the file is DC-only and
  * decodes BIT-EXACTLY (a DC-only block under q=1 reconstructs
  * `round(8*(v-128)/8 + 128) = v` in any conformant IDCT) — the device
  * that lets lossy-format rows join the exact-arithmetic
  * `q_image_neardup` oracle: bytes differ per variant (COM padding,
  * restart intervals), pixels are a pure function of the seed.
  */
object JpegPixels {
  /** decoded-raster bomb cap, shared with the lossless family */
  val MaxRaster: Long = PngPixels.MaxRaster

  /** zigzag index -> natural (row-major) index (T.81 Figure 5) */
  val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // IDCT basis: C(u)/2 * cos((2x+1) u pi / 16), row-major [u][x]
  private val IdctCos: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = 0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** canonical Huffman table in the T.81 F.2.2.3 decode shape */
  private final class Huff(counts: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    var code = 0; var k = 0
    var l = 1
    while (l <= 16) {
      valPtr(l) = k
      minCode(l) = code
      code += counts(l - 1); k += counts(l - 1)
      maxCode(l) = if (counts(l - 1) == 0) -1 else code - 1
      code <<= 1
      l += 1
    }
    def value(length: Int, c: Int): Int =
      vals(valPtr(length) + (c - minCode(length))) & 0xFF
  }

  private final class Component {
    var id = 0; var h = 0; var v = 0; var tq = 0
    var dcTab = 0; var acTab = 0
    var pred = 0
    var blocksX = 0; var blocksY = 0 // allocated plane size in blocks
    var plane: Array[Byte] = null // blocksX*8 x blocksY*8 samples
    var coef: Array[Int] = null // progressive only: blocks x 64, natural
  }

  /** (byte[]) -> InternalRow(width, height, channels, raster) or null;
    * raster layout identical to [[PngPixels.pixels]]. */
  def pixels(b: Array[Byte]): InternalRow =
    try decode(b)
    catch { case scala.util.control.NonFatal(_) => null }

  // scalastyle:off method.length cyclomatic.complexity
  private def decode(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    def u8(i: Int): Int = b(i) & 0xFF
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)

    val quant = Array.ofDim[Int](4, 64) // stored in NATURAL order
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var progressive = false
    var pos = 2

    // ---------------- marker segment walk up to each SOS ----------------
    // (the entropy decode below consumes the scan data and returns here)
    var frameSeen = false
    var scansDone = 0
    while (pos + 4 <= n) {
      if (u8(pos) != 0xFF) return null
      var marker = u8(pos + 1)
      // optional fill bytes FF FF ... before a marker
      var p = pos + 1
      while (marker == 0xFF && p + 1 < n) { p += 1; marker = u8(p) }
      pos = p + 1
      marker match {
        case 0xD9 => // EOI
          pos = n
        case m if m >= 0xD0 && m <= 0xD7 => // stray RST outside a scan
          return null
        case 0xC0 | 0xC1 | 0xC2 => // SOF0/1 sequential, SOF2 progressive
          if (frameSeen || pos + 2 > n) return null
          progressive = marker == 0xC2
          val len = u16(pos)
          if (pos + len > n || len < 8) return null
          val prec = u8(pos + 2)
          height = u16(pos + 3); width = u16(pos + 5)
          val nf = u8(pos + 7)
          if (prec != 8 || width == 0 || height == 0) return null
          if (nf != 1 && nf != 3) return null
          if (len < 8 + 3 * nf) return null
          comps = Array.fill(nf)(new Component)
          var i = 0
          while (i < nf) {
            val c = comps(i)
            c.id = u8(pos + 8 + 3 * i)
            val hv = u8(pos + 9 + 3 * i)
            c.h = hv >> 4; c.v = hv & 0xF
            c.tq = u8(pos + 10 + 3 * i)
            if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 || c.tq > 3)
              return null
            i += 1
          }
          val hMax = comps.map(_.h).max; val vMax = comps.map(_.v).max
          // integer-ratio subsampling only (all standard samplings are)
          if (comps.exists(c => hMax % c.h != 0 || vMax % c.v != 0))
            return null
          val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
          val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
          var total = 0L
          comps.foreach { c =>
            c.blocksX = mcusX * c.h; c.blocksY = mcusY * c.v
            total += c.blocksX.toLong * 8 * c.blocksY * 8
          }
          if (total > MaxRaster ||
              width.toLong * height * nf > MaxRaster) return null
          comps.foreach { c =>
            c.plane = new Array[Byte](c.blocksX * 8 * c.blocksY * 8)
            // progressive: scans accumulate coefficients (1 int per
            // padded sample, same count the sample cap just bounded)
            if (progressive)
              c.coef = new Array[Int](c.blocksX * c.blocksY * 64)
          }
          frameSeen = true
          pos += len
        case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
             0xCD | 0xCE | 0xCF =>
          return null // lossless / arithmetic / hierarchical: out of subset
        case 0xC4 => // DHT
          if (pos + 2 > n) return null
          val len = u16(pos)
          if (pos + len > n) return null
          var q = pos + 2
          while (q < pos + len) {
            val tcTh = u8(q)
            val tc = tcTh >> 4; val th = tcTh & 0xF
            if (tc > 1 || th > 3 || q + 17 > pos + len) return null
            val counts = new Array[Int](16)
            var total = 0
            var i = 0
            while (i < 16) { counts(i) = u8(q + 1 + i); total += counts(i); i += 1 }
            if (total > 256 || q + 17 + total > pos + len) return null
            val vals = java.util.Arrays.copyOfRange(b, q + 17, q + 17 + total)
            val h = new Huff(counts, vals)
            if (tc == 0) dcTabs(th) = h else acTabs(th) = h
            q += 17 + total
          }
          pos += len
        case 0xDB => // DQT
          if (pos + 2 > n) return null
          val len = u16(pos)
          if (pos + len > n) return null
          var q = pos + 2
          while (q < pos + len) {
            val pqTq = u8(q)
            val pq = pqTq >> 4; val tq = pqTq & 0xF
            if (pq > 1 || tq > 3) return null
            val step = if (pq == 0) 1 else 2
            if (q + 1 + 64 * step > pos + len) return null
            var i = 0
            while (i < 64) {
              val v = if (pq == 0) u8(q + 1 + i) else u16(q + 1 + 2 * i)
              quant(tq)(Zigzag(i)) = v
              i += 1
            }
            q += 1 + 64 * step
          }
          pos += len
        case 0xDD => // DRI
          if (pos + 2 > n) return null
          val len = u16(pos)
          if (len != 4 || pos + len > n) return null
          restartInterval = u16(pos + 2)
          pos += len
        case 0xDA => // SOS
          if (!frameSeen || pos + 2 > n) return null
          val len = u16(pos)
          if (pos + len > n) return null
          val ns = u8(pos + 2)
          if (ns < 1 || ns > comps.length || len < 6 + 2 * ns) return null
          val scanComps = new Array[Component](ns)
          var i = 0
          while (i < ns) {
            val cs = u8(pos + 3 + 2 * i)
            val c = comps.find(_.id == cs).orNull
            if (c == null) return null
            val tdTa = u8(pos + 4 + 2 * i)
            c.dcTab = tdTa >> 4; c.acTab = tdTa & 0xF
            if (c.dcTab > 3 || c.acTab > 3) return null
            scanComps(i) = c
            i += 1
          }
          val after =
            if (progressive) {
              // Ss/Se/Ah/Al select the spectral band + approximation pass
              val ss = u8(pos + 3 + 2 * ns); val se = u8(pos + 4 + 2 * ns)
              val ahAl = u8(pos + 5 + 2 * ns)
              val ah = ahAl >> 4; val al = ahAl & 0xF
              // T.81 Annex G constraints: DC band is exactly 0..0 and may
              // be interleaved; AC bands are single-component only
              if (ss == 0 && se != 0) return null
              if (ss > 0 && (ns != 1 || se < ss || se > 63)) return null
              if (ah > 13 || al > 13 || (ah != 0 && ah != al + 1))
                return null
              decodeProgScan(b, pos + len, scanComps, comps, dcTabs,
                acTabs, width, height, restartInterval, ss, se, ah, al)
            } else {
              // Ss/Se/Ah/Al ignored for sequential (0, 63, 0, 0)
              decodeScan(b, pos + len, scanComps, comps,
                dcTabs, acTabs, quant, width, height, restartInterval)
            }
          if (after < 0) return null
          scansDone += 1
          pos = after
        case 0x01 => // TEM: standalone, no length
          ()
        case _ => // APPn, COM, DNL, anything else with a length
          if (pos + 2 > n) return null
          val len = u16(pos)
          if (len < 2 || pos + len > n) return null
          pos += len
      }
    }
    if (!frameSeen || scansDone == 0) return null
    // every component must have been covered by some scan (pred stays 0
    // and plane stays black otherwise — treat missing scans as corrupt
    // only when NO scan ran; per-component coverage is not tracked)

    if (progressive) {
      // all scans accumulated raw coefficients; dequantize + IDCT once
      val blk = new Array[Int](64)
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = quant(c.tq)
        var by = 0
        while (by < c.blocksY) {
          var bx = 0
          while (bx < c.blocksX) {
            val base = (by * c.blocksX + bx) * 64
            var i = 0
            while (i < 64) { blk(i) = c.coef(base + i) * q(i); i += 1 }
            idctInto(blk, c.plane, c.blocksX * 8, bx * 8, by * 8)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
    }

    // ---------------- upsample + color convert ----------------
    val nf = comps.length
    val out = new Array[Byte](width * height * nf)
    val hMax = comps.map(_.h).max; val vMax = comps.map(_.v).max
    if (nf == 1) {
      val c = comps(0)
      val pw = c.blocksX * 8
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * pw, out, y * width, width)
        y += 1
      }
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      val pwY = cy.blocksX * 8; val pwB = cb.blocksX * 8
      val pwR = cr.blocksX * 8
      val sxB = hMax / cb.h; val syB = vMax / cb.v
      val sxR = hMax / cr.h; val syR = vMax / cr.v
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val yy = cy.plane(y * pwY + x) & 0xFF
          val pb = (cb.plane((y / syB) * pwB + x / sxB) & 0xFF) - 128
          val pr = (cr.plane((y / syR) * pwR + x / sxR) & 0xFF) - 128
          val r = Math.round(yy + 1.402 * pr)
          val g = Math.round(yy - 0.344136 * pb - 0.714136 * pr)
          val bl = Math.round(yy + 1.772 * pb)
          val o = (y * width + x) * 3
          out(o) = (if (r < 0) 0 else if (r > 255) 255 else r).toByte
          out(o + 1) = (if (g < 0) 0 else if (g > 255) 255 else g).toByte
          out(o + 2) = (if (bl < 0) 0 else if (bl > 255) 255 else bl).toByte
          x += 1
        }
        y += 1
      }
    }
    new GenericInternalRow(Array[Any](width, height, nf, out))
  }

  /** Decode one entropy-coded scan into the component planes. Returns the
    * byte offset of the next marker segment (positioned AT its 0xFF), or
    * -1 on corrupt data. */
  private def decodeScan(b: Array[Byte], start: Int,
                         scanComps: Array[Component],
                         all: Array[Component],
                         dcTabs: Array[Huff], acTabs: Array[Huff],
                         quant: Array[Array[Int]],
                         width: Int, height: Int,
                         restartInterval: Int): Int = {
    val n = b.length
    // ---- bit reader with FF00 unstuffing; stops at any real marker ----
    var pos = start
    var bitBuf = 0; var bitCnt = 0
    var hitMarker = false
    def readBit(): Int = {
      if (bitCnt == 0) {
        if (hitMarker || pos >= n) return -1
        val v = b(pos) & 0xFF
        if (v == 0xFF) {
          if (pos + 1 >= n) { hitMarker = true; return -1 }
          val nxt = b(pos + 1) & 0xFF
          if (nxt == 0x00) { pos += 2; bitBuf = 0xFF; bitCnt = 8 }
          else { hitMarker = true; return -1 } // real marker: scan over
        } else { pos += 1; bitBuf = v; bitCnt = 8 }
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(len: Int): Int = {
      var v = 0; var i = 0
      while (i < len) {
        val bit = readBit(); if (bit < 0) return Int.MinValue
        v = (v << 1) | bit; i += 1
      }
      v
    }
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    def decodeHuff(h: Huff): Int = {
      if (h == null) return Int.MinValue
      var code = readBit(); if (code < 0) return Int.MinValue
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.value(l, code)
        val bit = readBit(); if (bit < 0) return Int.MinValue
        code = (code << 1) | bit
        l += 1
      }
      Int.MinValue
    }

    val coefs = new Array[Int](64)
    def decodeBlock(c: Component, bx: Int, by: Int): Boolean = {
      java.util.Arrays.fill(coefs, 0)
      val t = decodeHuff(dcTabs(c.dcTab))
      if (t == Int.MinValue || t > 15) return false
      val diffBits = receive(t); if (diffBits == Int.MinValue) return false
      c.pred += extend(diffBits, t)
      coefs(0) = c.pred * quant(c.tq)(0)
      val ac = acTabs(c.acTab)
      var k = 1
      while (k < 64) {
        val rs = decodeHuff(ac)
        if (rs == Int.MinValue) return false
        val r = rs >> 4; val s = rs & 0xF
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else k = 64 // EOB
        } else {
          k += r
          if (k > 63) return false
          val vb = receive(s); if (vb == Int.MinValue) return false
          coefs(Zigzag(k)) = extend(vb, s) * quant(c.tq)(Zigzag(k))
          k += 1
        }
      }
      idctInto(coefs, c.plane, c.blocksX * 8, bx * 8, by * 8)
      true
    }

    val interleaved = scanComps.length > 1
    val hMax = all.map(_.h).max; val vMax = all.map(_.v).max
    val (mcusX, mcusY) =
      if (interleaved)
        ((width + 8 * hMax - 1) / (8 * hMax),
          (height + 8 * vMax - 1) / (8 * vMax))
      else {
        val c = scanComps(0)
        // non-interleaved: MCU = one block of this component's OWN grid
        val cw = (width.toLong * c.h + hMax - 1) / hMax
        val chh = (height.toLong * c.v + vMax - 1) / vMax
        (((cw + 7) / 8).toInt, ((chh + 7) / 8).toInt)
      }
    scanComps.foreach(_.pred = 0)
    var mcu = 0
    val totalMcus = mcusX.toLong * mcusY
    var rstNext = 0
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // byte-align and consume the RSTn marker
        bitCnt = 0
        if (pos + 1 >= n || (b(pos) & 0xFF) != 0xFF) return -1
        val m = b(pos + 1) & 0xFF
        if (m != 0xD0 + rstNext) return -1
        pos += 2; hitMarker = false
        rstNext = (rstNext + 1) & 7
        scanComps.foreach(_.pred = 0)
      }
      val my = (mcu / mcusX).toInt; val mx = (mcu % mcusX).toInt
      if (interleaved) {
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)
          var v = 0
          while (v < c.v) {
            var h = 0
            while (h < c.h) {
              if (!decodeBlock(c, mx * c.h + h, my * c.v + v)) return -1
              h += 1
            }
            v += 1
          }
          ci += 1
        }
      } else {
        val c = scanComps(0)
        if (mx < c.blocksX && my < c.blocksY) {
          if (!decodeBlock(c, mx, my)) return -1
        }
      }
      mcu += 1
    }
    // position at the next marker: after the pad bits of the final byte
    // the stream must sit exactly at a 0xFF marker (T.81 B.2.1)
    if (pos >= n || (b(pos) & 0xFF) != 0xFF) return -1
    pos
  }

  /** Decode one PROGRESSIVE scan (T.81 Annex G) into the component
    * coefficient planes: spectral band `ss..se`, successive-approximation
    * pass `ah`/`al`. Four modes — DC first (`ss=0, ah=0`: predicted diff,
    * scaled `<< al`), DC refinement (`ah>0`: one appended bit per block),
    * AC first (`ss>0, ah=0`: run/size codes + EOBn end-of-band runs),
    * AC refinement (`ah>0`: correction bits woven through the history,
    * G.1.2.3 — blocks inside an EOB run still consume correction bits for
    * their already-nonzero coefficients). EOB-run state spans blocks
    * within the scan and resets at restart markers, like DC prediction.
    * Returns the offset of the next marker (AT its 0xFF) or -1. */
  private def decodeProgScan(b: Array[Byte], start: Int,
                             scanComps: Array[Component],
                             all: Array[Component],
                             dcTabs: Array[Huff], acTabs: Array[Huff],
                             width: Int, height: Int,
                             restartInterval: Int,
                             ss: Int, se: Int, ah: Int, al: Int): Int = {
    val n = b.length
    // ---- bit reader, identical contract to the sequential scan ----
    var pos = start
    var bitBuf = 0; var bitCnt = 0
    var hitMarker = false
    def readBit(): Int = {
      if (bitCnt == 0) {
        if (hitMarker || pos >= n) return -1
        val v = b(pos) & 0xFF
        if (v == 0xFF) {
          if (pos + 1 >= n) { hitMarker = true; return -1 }
          val nxt = b(pos + 1) & 0xFF
          if (nxt == 0x00) { pos += 2; bitBuf = 0xFF; bitCnt = 8 }
          else { hitMarker = true; return -1 }
        } else { pos += 1; bitBuf = v; bitCnt = 8 }
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(len: Int): Int = {
      var v = 0; var i = 0
      while (i < len) {
        val bit = readBit(); if (bit < 0) return Int.MinValue
        v = (v << 1) | bit; i += 1
      }
      v
    }
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    def decodeHuff(h: Huff): Int = {
      if (h == null) return Int.MinValue
      var code = readBit(); if (code < 0) return Int.MinValue
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l))
          return h.value(l, code)
        val bit = readBit(); if (bit < 0) return Int.MinValue
        code = (code << 1) | bit
        l += 1
      }
      Int.MinValue
    }

    val p1 = 1 << al
    var eobrun = 0L // end-of-band run shared across blocks in this scan

    def dcFirst(c: Component, base: Int): Boolean = {
      val t = decodeHuff(dcTabs(c.dcTab))
      if (t == Int.MinValue || t > 15) return false
      val bits = receive(t); if (bits == Int.MinValue) return false
      c.pred += extend(bits, t)
      c.coef(base) = c.pred << al
      true
    }
    def dcRefine(c: Component, base: Int): Boolean = {
      val bit = readBit(); if (bit < 0) return false
      if (bit == 1) c.coef(base) |= p1
      true
    }
    def acFirst(c: Component, base: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      val ac = acTabs(c.acTab)
      var k = ss
      while (k <= se) {
        val rs = decodeHuff(ac)
        if (rs == Int.MinValue) return false
        val r = rs >> 4; val s = rs & 0xF
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else { // EOBn: band of (1<<r)+bits all-zero-from-here blocks
            eobrun = (1L << r) - 1
            if (r > 0) {
              val ext = receive(r); if (ext == Int.MinValue) return false
              eobrun += ext
            }
            return true
          }
        } else {
          k += r
          if (k > se) return false
          val vb = receive(s); if (vb == Int.MinValue) return false
          c.coef(base + Zigzag(k)) = extend(vb, s) << al
          k += 1
        }
      }
      true
    }
    def acRefine(c: Component, base: Int): Boolean = {
      val coef = c.coef
      // appends one correction bit to an already-nonzero coefficient
      def correct(idx: Int): Boolean = {
        val bit = readBit(); if (bit < 0) return false
        if (bit == 1 && (coef(idx) & p1) == 0)
          coef(idx) += (if (coef(idx) >= 0) p1 else -p1)
        true
      }
      var k = ss
      if (eobrun == 0) {
        val ac = acTabs(c.acTab)
        var done = false
        while (k <= se && !done) {
          val rs = decodeHuff(ac)
          if (rs == Int.MinValue) return false
          var r = rs >> 4; val s = rs & 0xF
          var newVal = 0
          if (s == 0) {
            if (r != 15) { // EOBn: rest of this block is EOB territory
              eobrun = (1L << r) - 1
              if (r > 0) {
                val ext = receive(r); if (ext == Int.MinValue) return false
                eobrun += ext
              }
              eobrun += 1 // this block consumes one run entry below
              done = true
            }
            // r == 15 (ZRL): pass 16 zero-history positions, no new coef
          } else {
            if (s != 1) return false // refinement emits magnitude-1 only
            val bit = readBit(); if (bit < 0) return false
            newVal = if (bit == 1) p1 else -p1
          }
          if (!done) {
            // advance over r zero-history positions (correcting nonzero
            // ones en route), then place the new coefficient if any
            var placed = false
            while (k <= se && !placed) {
              val idx = base + Zigzag(k)
              if (coef(idx) != 0) {
                if (!correct(idx)) return false
              } else {
                if (r == 0) {
                  if (newVal != 0) coef(idx) = newVal
                  placed = true
                } else r -= 1
              }
              k += 1
            }
            if (!placed && newVal != 0) return false // ran off the band
          }
        }
      }
      if (eobrun > 0) {
        // EOB block: only correction bits for surviving nonzero history
        while (k <= se) {
          val idx = base + Zigzag(k)
          if (coef(idx) != 0 && !correct(idx)) return false
          k += 1
        }
        eobrun -= 1
      }
      true
    }

    def decodeOne(c: Component, bx: Int, by: Int): Boolean = {
      val base = (by * c.blocksX + bx) * 64
      if (ss == 0) { if (ah == 0) dcFirst(c, base) else dcRefine(c, base) }
      else { if (ah == 0) acFirst(c, base) else acRefine(c, base) }
    }

    val interleaved = scanComps.length > 1
    val hMax = all.map(_.h).max; val vMax = all.map(_.v).max
    val (mcusX, mcusY) =
      if (interleaved)
        ((width + 8 * hMax - 1) / (8 * hMax),
          (height + 8 * vMax - 1) / (8 * vMax))
      else {
        val c = scanComps(0)
        val cw = (width.toLong * c.h + hMax - 1) / hMax
        val chh = (height.toLong * c.v + vMax - 1) / vMax
        (((cw + 7) / 8).toInt, ((chh + 7) / 8).toInt)
      }
    scanComps.foreach(_.pred = 0)
    var mcu = 0
    val totalMcus = mcusX.toLong * mcusY
    var rstNext = 0
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bitCnt = 0
        if (pos + 1 >= n || (b(pos) & 0xFF) != 0xFF) return -1
        val m = b(pos + 1) & 0xFF
        if (m != 0xD0 + rstNext) return -1
        pos += 2; hitMarker = false
        rstNext = (rstNext + 1) & 7
        scanComps.foreach(_.pred = 0)
        eobrun = 0
      }
      val my = (mcu / mcusX).toInt; val mx = (mcu % mcusX).toInt
      if (interleaved) {
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)
          var v = 0
          while (v < c.v) {
            var h = 0
            while (h < c.h) {
              if (!decodeOne(c, mx * c.h + h, my * c.v + v)) return -1
              h += 1
            }
            v += 1
          }
          ci += 1
        }
      } else {
        val c = scanComps(0)
        if (mx < c.blocksX && my < c.blocksY) {
          if (!decodeOne(c, mx, my)) return -1
        }
      }
      mcu += 1
    }
    if (pos >= n || (b(pos) & 0xFF) != 0xFF) return -1
    pos
  }

  /** dequantized coefficients (natural order) -> 8x8 samples written into
    * `plane` at (ox, oy), plane width `pw`. Separable double IDCT with
    * final round + level shift + clamp. */
  private def idctInto(coefs: Array[Int], plane: Array[Byte], pw: Int,
                       ox: Int, oy: Int): Unit = {
    val tmp = new Array[Double](64)
    // rows: for each v (block row of coefs), 1-D over u -> x
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += IdctCos(u * 8 + x) * coefs(v * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += IdctCos(u * 8 + y) * tmp(u * 8 + x); u += 1 }
        val sample = Math.round(s + 128.0).toInt
        plane((oy + y) * pw + ox + x) =
          (if (sample < 0) 0 else if (sample > 255) 255 else sample).toByte
        x += 1
      }
      y += 1
    }
  }
  // scalastyle:on method.length cyclomatic.complexity
}
