package graft

import org.apache.spark.sql.functions._
import graft.expressions.{ImageOps, PngPixels}
import graft.operators.Dedup

/** The image pipeline over REAL pixels: PNG encode (ImageOps.encodePng),
  * decode (PngPixels), resize (GrayResize), perceptual hash (DHash64)
  * and the Hamming-pigeonhole near-dup operator built on them.
  * The JDK's own ImageIO PNG codec serves as the independent decode
  * oracle for the encoder. */
class ImageSpec extends SparkSpec {
  import spark.implicits._

  /** deterministic RGB raster, values bounded away from 255 so a +10
    * brightness shift cannot clip */
  private def raster(w: Int, h: Int, seedMul: Int): Array[Byte] =
    Array.tabulate(w * h * 3)(i => ((i * seedMul + 31) % 200).toByte)

  test("encodePng round-trips through the engine's own decoder for " +
       "both filters, all channel counts and several levels") {
    for {
      (ch, w, h) <- Seq((1, 7, 5), (2, 6, 4), (3, 24, 16), (4, 5, 9))
      filter <- Seq(0, 2)
      level <- Seq(0, 6, 9)
    } {
      val px = Array.tabulate(w * h * ch)(i => ((i * 37 + level) % 251).toByte)
      val row = PngPixels.pixels(ImageOps.encodePng(px, w, h, ch, level, filter))
      assert(row != null, s"ch=$ch filter=$filter level=$level")
      assert(row.getInt(0) == w && row.getInt(1) == h && row.getInt(2) == ch)
      assert(java.util.Arrays.equals(row.getBinary(3), px),
        s"pixels differ: ch=$ch filter=$filter level=$level")
    }
  }

  test("encodePng output is valid to the JDK's independent PNG codec " +
       "(ImageIO), pixel-for-pixel") {
    val w = 24; val h = 16
    val px = raster(w, h, 37)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageOps.encodePng(px, w, h, 3, 6, 2)))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val i = (y * w + x) * 3
      assert(((rgb >> 16) & 0xFF) == (px(i) & 0xFF) &&
             ((rgb >> 8) & 0xFF) == (px(i + 1) & 0xFF) &&
             (rgb & 0xFF) == (px(i + 2) & 0xFF), s"pixel ($x,$y)")
    }
  }

  test("dhash is invariant to re-encoding (level, filter) and to " +
       "uniform brightness shift; synthPng bytes actually differ") {
    val w = 24; val h = 16
    val px = raster(w, h, 61)
    val hashes = for (filter <- Seq(0, 2); level <- Seq(0, 3, 9))
      yield ImageOps.dhash64(ImageOps.encodePng(px, w, h, 3, level, filter))
    assert(hashes.forall(_ != null) && hashes.distinct.size == 1)

    val brighter = px.map(b => ((b & 0xFF) + 10).toByte)
    assert(ImageOps.dhash64(ImageOps.encodePng(brighter, w, h, 3, 6, 0)) ==
      hashes.head)

    // same seed, different level: different bytes, same decoded pixels
    val a = ImageOps.synthPng(7L, 0); val b = ImageOps.synthPng(7L, 1)
    assert(!java.util.Arrays.equals(a, b))
    assert(java.util.Arrays.equals(
      PngPixels.pixels(a).getBinary(3), PngPixels.pixels(b).getBinary(3)))
    assert(ImageOps.dhash64(a) == ImageOps.dhash64(b))
    assert(ImageOps.dhash64(ImageOps.synthPng(8L, 0)) != ImageOps.dhash64(a))
  }

  test("a small local edit moves the hash a small Hamming distance; " +
       "distinct images are far apart") {
    val w = 24; val h = 16
    val px = raster(w, h, 61)
    val edited = px.clone()
    // blank one 6x4 corner block (a logo/watermark-sized edit)
    for (y <- 0 until 4; x <- 0 until 6; c <- 0 until 3)
      edited((y * w + x) * 3 + c) = 0
    val d0 = ImageOps.dhash64(ImageOps.encodePng(px, w, h, 3, 6, 0))
    val d1 = ImageOps.dhash64(ImageOps.encodePng(edited, w, h, 3, 9, 2))
    val near = java.lang.Long.bitCount(d0 ^ d1)
    assert(near > 0 && near <= 12, s"edit moved $near bits")
    val far = java.lang.Long.bitCount(
      ImageOps.dhash64(ImageOps.synthPng(1L, 0)) ^
        ImageOps.dhash64(ImageOps.synthPng(2L, 0)))
    assert(far > 12, s"distinct images only $far bits apart")
  }

  test("grayResize pools deterministically, handles upscale, and is " +
       "the identity-luma path for gray inputs") {
    // 2x2 gray image with known values -> 1x1 average
    val g = Array[Byte](10, 20, 30, 40)
    val one = ImageOps.grayResize(ImageOps.encodePng(g, 2, 2, 1, 6, 0), 1, 1)
    assert(one.length == 1 && (one(0) & 0xFF) == 25)
    // upscale 1x1 -> 3x2 replicates the pixel
    val up = ImageOps.grayResize(
      ImageOps.encodePng(Array[Byte](99), 1, 1, 1, 6, 0), 3, 2)
    assert(up.length == 6 && up.forall(b => (b & 0xFF) == 99))
    // non-PNG bytes -> null, not a throw
    assert(ImageOps.grayResize("not a png".getBytes, 4, 4) == null)
    assert(ImageOps.dhash64(Array[Byte](1, 2, 3)) == null)
  }

  test("extended static-PNG matrix — palette, Adam7 interlace, 16-bit, " +
       "1-bit — decodes against ImageIO's independently-written streams") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO

    def writePng(img: BufferedImage, progressive: Boolean): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("png").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      if (progressive)
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    def rgbAt(row: org.apache.spark.sql.catalyst.InternalRow,
              x: Int, y: Int): (Int, Int, Int) = {
      val w = row.getInt(0); val ch = row.getInt(2)
      val px = row.getBinary(3); val i = (y * w + x) * ch
      ch match {
        case 1 => val g = px(i) & 0xFF; (g, g, g)
        case 2 => val g = px(i) & 0xFF; (g, g, g) // gray+alpha: luma only
        case _ => (px(i) & 0xFF, px(i + 1) & 0xFF, px(i + 2) & 0xFF)
      }
    }

    // palette (TYPE_BYTE_INDEXED): PLTE-resolved RGB, pixel-for-pixel
    val w = 23; val h = 17 // odd dims also exercise ragged Adam7 passes
    val src = raster(w, h, 37)
    val pal = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      pal.setRGB(x, y, ((src(i) & 0xFF) << 16) |
        ((src(i + 1) & 0xFF) << 8) | (src(i + 2) & 0xFF))
    }
    for (progressive <- Seq(false, true)) {
      val bytes = writePng(pal, progressive)
      assert((bytes(28) & 0xFF) == (if (progressive) 1 else 0),
        s"IHDR interlace flag progressive=$progressive") // really Adam7
      val row = PngPixels.pixels(bytes)
      assert(row != null && row.getInt(0) == w && row.getInt(1) == h &&
        row.getInt(2) == 3, s"palette progressive=$progressive")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = pal.getRGB(x, y) // the color ImageIO quantized to
        assert(rgbAt(row, x, y) ==
          (((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)),
          s"palette pixel ($x,$y) progressive=$progressive")
      }
    }

    // truecolor Adam7: interlaced bytes differ, decoded raster identical
    val tru = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      tru.setRGB(x, y, ((src(i) & 0xFF) << 16) |
        ((src(i + 1) & 0xFF) << 8) | (src(i + 2) & 0xFF))
    }
    val plain = writePng(tru, progressive = false)
    val adam7 = writePng(tru, progressive = true)
    assert((adam7(28) & 0xFF) == 1 &&
      !java.util.Arrays.equals(plain, adam7))
    val pr = PngPixels.pixels(plain); val ar = PngPixels.pixels(adam7)
    assert(pr != null && ar != null && pr.getInt(2) == 3)
    assert(java.util.Arrays.equals(pr.getBinary(3), ar.getBinary(3)),
      "Adam7 de-interlace must reproduce the sequential raster")
    assert(java.util.Arrays.equals(pr.getBinary(3), src))
    // the near-dup signature is interlace-invariant end to end
    assert(ImageOps.dhash64(plain) == ImageOps.dhash64(adam7))

    // 16-bit gray (TYPE_USHORT_GRAY): our byte = raster sample's high byte
    val g16 = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      g16.getRaster.setSample(x, y, 0, ((x * 2711 + y * 733) * 97) & 0xFFFF)
    val r16 = PngPixels.pixels(writePng(g16, progressive = false))
    assert(r16 != null && r16.getInt(2) == 1)
    for (y <- 0 until h; x <- 0 until w)
      assert((r16.getBinary(3)((y * w + x)) & 0xFF) ==
        (g16.getRaster.getSample(x, y, 0) >> 8), s"16-bit ($x,$y)")

    // 1-bit (TYPE_BYTE_BINARY): sub-byte unpack + 255/(2^d-1) scaling
    // (ImageIO may emit it as gray or palette — both paths must agree)
    val bw = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until h; x <- 0 until w)
      bw.setRGB(x, y, if ((x + y) % 3 == 0) 0xFFFFFF else 0)
    val rbw = PngPixels.pixels(writePng(bw, progressive = false))
    assert(rbw != null)
    for (y <- 0 until h; x <- 0 until w) {
      val want = if ((x + y) % 3 == 0) 255 else 0
      assert(rgbAt(rbw, x, y) == ((want, want, want)), s"1-bit ($x,$y)")
    }

    // hand-built 16-bit RGB with Sub filtering (no BufferedImage type
    // reaches this combo): depth=16 defilter must stride bpp=6 bytes
    val scan = new java.io.ByteArrayOutputStream()
    val w2 = 5; val h2 = 3
    val samples = Array.tabulate(w2 * h2 * 3)(i => (i * 4099) & 0xFFFF)
    for (y <- 0 until h2) {
      scan.write(1) // Sub filter on every line
      var prev = new Array[Int](6)
      for (x <- 0 until w2) {
        val cur = new Array[Int](6)
        for (c <- 0 until 3) {
          val v = samples((y * w2 + x) * 3 + c)
          cur(c * 2) = (v >> 8) & 0xFF; cur(c * 2 + 1) = v & 0xFF
        }
        for (k <- 0 until 6) scan.write((cur(k) - prev(k)) & 0xFF)
        prev = cur
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(scan.toByteArray); defl.finish()
    val comp = new Array[Byte](scan.size() + 64)
    val clen = defl.deflate(comp); defl.end()
    val png = new java.io.ByteArrayOutputStream()
    png.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte))
    def chunk(typ: String, body: Array[Byte]): Unit = {
      val len = body.length
      png.write(Array((len >>> 24).toByte, (len >>> 16).toByte,
        (len >>> 8).toByte, len.toByte))
      val tb = typ.getBytes("US-ASCII")
      png.write(tb); png.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(body)
      val cv = crc.getValue
      png.write(Array((cv >>> 24).toByte, (cv >>> 16).toByte,
        (cv >>> 8).toByte, cv.toByte))
    }
    chunk("IHDR", Array[Byte](0, 0, 0, w2.toByte, 0, 0, 0, h2.toByte,
      16, 2, 0, 0, 0))
    chunk("IDAT", comp.take(clen))
    chunk("IEND", Array.empty[Byte])
    val r16rgb = PngPixels.pixels(png.toByteArray)
    assert(r16rgb != null && r16rgb.getInt(2) == 3)
    for (i <- samples.indices)
      assert((r16rgb.getBinary(3)(i) & 0xFF) == (samples(i) >> 8),
        s"16-bit RGB sample $i")
    // ImageIO agrees the hand-built stream is real PNG
    val jdk = ImageIO.read(new java.io.ByteArrayInputStream(png.toByteArray))
    assert(jdk != null && jdk.getWidth == w2 && jdk.getHeight == h2)
  }

  test("BMP pixel decode matches the PNG decode of the same raster " +
       "bit-for-bit (cross-format invariance), including palette, " +
       "top-down, 32bpp and row-padding variants") {
    import graft.expressions.BmpPixels
    val w = 5; val h = 3 // odd width: 24bpp rows need 1 pad byte
    val px = raster(w, h, 37)
    val viaBmp = BmpPixels.pixels(BmpPixels.encodeBmp(px, w, h))
    assert(viaBmp != null && viaBmp.getInt(0) == w && viaBmp.getInt(1) == h)
    assert(java.util.Arrays.equals(viaBmp.getBinary(3), px))
    val viaPng = PngPixels.pixels(ImageOps.encodePng(px, w, h, 3, 6, 2))
    assert(java.util.Arrays.equals(viaBmp.getBinary(3), viaPng.getBinary(3)))
    // the JDK's independent BMP writer (ImageIO) against our decoder:
    // gray-palette 8bpp, bottom-up — and ImageIO's own reader accepts ours
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 40 + y * 11) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bos))
    val pal = BmpPixels.pixels(bos.toByteArray)
    assert(pal != null && pal.getInt(2) == 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      assert((pal.getBinary(3)((y * w + x) * 3 + c) & 0xFF) ==
        (x * 40 + y * 11) % 256, s"palette pixel ($x,$y,$c)")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(BmpPixels.encodeBmp(px, w, h)))
    assert(back != null && (back.getRGB(1, 1) & 0xFFFFFF) ==
      (((px(3 * w + 3) & 0xFF) << 16) | ((px(3 * w + 4) & 0xFF) << 8) |
        (px(3 * w + 5) & 0xFF)))
    // same image as PNG and as BMP -> identical dHash (format-blind)
    val seedPng = ImageOps.synthImage(9L, 4)  // a PNG variant
    val seedBmp = ImageOps.synthImage(9L, 10) // the BMP variant
    assert(!java.util.Arrays.equals(seedPng, seedBmp))
    assert(ImageOps.dhash64(seedPng) == ImageOps.dhash64(seedBmp))
    // malformed BMPs: null, never a throw
    assert(BmpPixels.pixels("BMnot really".getBytes) == null)
    assert(BmpPixels.pixels(bos.toByteArray.take(40)) == null)
  }

  test("GIF pixel decode (real LZW) round-trips the engine's own " +
       "encoder, agrees with ImageIO both ways including forced " +
       "interlace, and is raster-identical to PNG of the same image") {
    import graft.expressions.GifPixels
    val w = 24; val h = 16
    // a ≤256-color raster: gray gradient (so PNG-gray comparison works)
    val gray = Array.tabulate(w * h)(i => ((i * 7 + 3) % 256).toByte)
    val rgb = gray.flatMap(g => Array(g, g, g))
    val gif = MediaFixtures.encodeGif(rgb, w, h)
    val ours = GifPixels.pixels(gif)
    assert(ours != null && ours.getInt(0) == w && ours.getInt(2) == 3)
    assert(java.util.Arrays.equals(ours.getBinary(3), rgb))
    // the JDK's independent GIF codec accepts our stream, pixel-for-pixel
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xFF) == (gray(y * w + x) & 0xFF),
        s"ImageIO pixel ($x,$y)")
    // ...and we decode ImageIO's own (really-compressed) GIF stream,
    // interlaced and not
    val src = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      src.getRaster.setSample(x, y, 0, gray(y * w + x) & 0xFF)
    val streams = for (interlace <- Seq(false, true)) yield {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(
        if (interlace) javax.imageio.ImageWriteParam.MODE_DEFAULT
        else javax.imageio.ImageWriteParam.MODE_DISABLED)
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
      writer.dispose(); ios.close()
      val theirs = GifPixels.pixels(bos.toByteArray)
      assert(theirs != null, s"interlace=$interlace")
      assert(java.util.Arrays.equals(theirs.getBinary(3), rgb),
        s"interlace=$interlace")
      bos.toByteArray.toSeq
    }
    // the toggle really flipped the interlace bit (row order differs),
    // so the pass above exercised the de-interlacer, not the same stream
    assert(streams.head != streams(1))
    // format-blind raster pipeline: gray PNG and palette GIF of the same
    // image produce the identical dHash
    val png = ImageOps.encodePng(gray, w, h, 1, 6, 2)
    assert(ImageOps.dhash64(png) == ImageOps.dhash64(gif))
    // malformed GIFs: null, never a throw
    assert(GifPixels.pixels("GIF89a_not_really".getBytes) == null)
    assert(GifPixels.pixels(gif.take(gif.length / 2)) == null)
  }

  test("imageDedup recovers same-image groups across encodings and " +
       "near-dup edits via Hamming buckets; non-PNG rows are dropped") {
    val w = 24; val h = 16
    val base = raster(w, h, 61)
    val edited = base.clone()
    for (y <- 0 until 4; x <- 0 until 6; c <- 0 until 3)
      edited((y * w + x) * 3 + c) = 0
    val rows = Seq(
      (1L, ImageOps.encodePng(base, w, h, 3, 0, 0)),
      (2L, ImageOps.encodePng(base, w, h, 3, 9, 2)), // re-encoded copy
      (3L, ImageOps.encodePng(edited, w, h, 3, 6, 0)), // near-dup edit
      (4L, ImageOps.synthPng(42L, 3)), // unrelated
      (5L, "garbage bytes".getBytes) // undecodable
    ).toDF("doc_id", "media")
    val exact = Dedup.imageDedup(rows, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
    val near = Dedup.imageDedup(rows, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.contains((1L, 2L)) && near.contains((1L, 3L)) &&
      near.contains((2L, 3L)) && !near.exists(p => p._1 == 4L || p._2 == 4L)
      && !near.exists(p => p._1 == 5L || p._2 == 5L))
    val stats = DedupReference.hammingBucketStats(
      rows.select(col("doc_id").as("id"),
          ImageOps.imageDHash(col("media")).as("sig"))
        .where(col("sig").isNotNull),
      maxHamming = 0).collect().head
    assert(stats.getLong(stats.fieldIndex("dropped_buckets")) == 0)
    Dedup.releaseCaches()
  }

  test("featurizeImage yields the thumbnail as a [0,1] float vector " +
       "consistent with the grayResize kernel") {
    // the thumbnail as a dense vector: unsigned bytes scaled to [0,1]
    def featurize(media: Array[Byte], w: Int = 8, h: Int = 8): Seq[Float] =
      Option(ImageOps.grayResize(media, w, h))
        .map(_.toSeq.map(b => ((b & 0xFF) / 255.0).toFloat)).orNull
    val png = ImageOps.synthPng(5L, 4)
    val vec = featurize(png, 8, 8)
    val kernel = ImageOps.grayResize(png, 8, 8)
    assert(vec.length == 64)
    for (i <- 0 until 64)
      assert(math.abs(vec(i) - (kernel(i) & 0xFF) / 255.0f) < 1e-6)
    // undecodable payload -> null vector
    assert(featurize("nope".getBytes) == null)
  }

  test("SynthJpeg emits valid JPEG that decodes BIT-EXACTLY — " +
       "by our decoder and by the JDK's independent ImageIO codec — " +
       "across all byte variants (COM padding, restart intervals, " +
       "and the SOF2 progressive two-scan encoding)") {
    import graft.expressions.{JpegOps, JpegPixels}
    for (seed <- Seq(80L, 85L, 93L, 99L)) {
      val want = MediaFixtures.jpegRaster(seed)
      val bytesPerVariant = (0 until 5).map(v => JpegOps.synthJpeg(seed, v))
      // bytes genuinely differ per variant...
      assert(bytesPerVariant.map(_.toSeq).distinct.size == 5, s"seed=$seed")
      // ...variant 4 really is progressive (SOF2 present, SOF0 absent)...
      val prog = bytesPerVariant(4)
      assert(prog.sliding(2).exists(p =>
        (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xC2), "SOF2 missing")
      bytesPerVariant.zipWithIndex.foreach { case (bytes, v) =>
        // ...our decoder reconstructs the exact raster (incl. through the
        // RST-marker path for variants 2-4 and the progressive DC+AC
        // scan machinery for variant 4)...
        val row = JpegPixels.pixels(bytes)
        assert(row != null, s"seed=$seed v=$v")
        assert(row.getInt(0) == JpegOps.W && row.getInt(1) == JpegOps.H &&
          row.getInt(2) == 1)
        assert(java.util.Arrays.equals(row.getBinary(3), want),
          s"pixels differ: seed=$seed v=$v")
        // ...and so does ImageIO: the file is real JPEG, not a dialect
        // only our decoder accepts
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(img != null && img.getWidth == JpegOps.W &&
          img.getHeight == JpegOps.H, s"ImageIO rejected seed=$seed v=$v")
        // raw raster samples, NOT getRGB: the gray color model applies a
        // gray->sRGB gamma transform in getRGB
        for (y <- 0 until JpegOps.H; x <- 0 until JpegOps.W)
          assert(img.getRaster.getSample(x, y, 0) ==
            (want(y * JpegOps.W + x) & 0xFF), s"ImageIO ($x,$y) v=$v")
      }
    }
  }

  test("JpegPixels decodes the JDK encoder's output: grayscale within " +
       "IDCT tolerance, color (subsampled chroma) within upsampling " +
       "tolerance, against ImageIO's own decode of the same bytes") {
    import graft.expressions.JpegPixels
    // grayscale, odd dims (exercises partial-MCU padding): smooth
    // gradient so quantization error is the only difference source
    val w = 37; val h = 23
    val gimg = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gimg.getRaster.setSample(x, y, 0, (x * 4 + y * 3 + 20) % 256)
    val gos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gimg, "jpg", gos))
    val gbytes = gos.toByteArray
    val ours = JpegPixels.pixels(gbytes)
    assert(ours != null && ours.getInt(0) == w && ours.getInt(1) == h &&
      ours.getInt(2) == 1)
    val theirs = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gbytes))
    var maxd = 0
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs((ours.getBinary(3)(y * w + x) & 0xFF) -
        theirs.getRaster.getSample(x, y, 0)) // raw sample: getRGB gammas
      maxd = math.max(maxd, d)
    }
    // both are conformant IDCTs of the same coefficients; T.83 allows
    // small per-sample differences between implementations
    assert(maxd <= 2, s"grayscale max IDCT disagreement $maxd")

    // color: ImageIO's writer subsamples chroma; our box upsampling
    // legitimately differs from its interpolating upsampler, so the
    // bound is loose on chroma-heavy content — use a smooth gradient
    val cimg = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      cimg.setRGB(x, y, ((x * 3 + 40) << 16) | ((y * 5 + 60) << 8) |
        ((x * 2 + y * 2 + 50) & 0xFF))
    val cos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(cimg, "jpg", cos2))
    val cbytes = cos2.toByteArray
    val cours = JpegPixels.pixels(cbytes)
    assert(cours != null && cours.getInt(0) == w && cours.getInt(1) == h &&
      cours.getInt(2) == 3)
    val ctheirs = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(cbytes))
    var sum = 0L; var cmax = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val rgb = ctheirs.getRGB(x, y)
      val t = c match {
        case 0 => (rgb >> 16) & 0xFF
        case 1 => (rgb >> 8) & 0xFF
        case _ => rgb & 0xFF
      }
      val d = math.abs((cours.getBinary(3)((y * w + x) * 3 + c) & 0xFF) - t)
      sum += d; cmax = math.max(cmax, d)
    }
    val mean = sum.toDouble / (w * h * 3)
    assert(mean < 3.0, s"color mean disagreement $mean")
    assert(cmax <= 32, s"color max disagreement $cmax (upsampler edge)")
    // out-of-subset and malformed inputs: null, never a throw
    assert(JpegPixels.pixels(Array[Byte](0xFF.toByte, 0xD8.toByte)) == null)
    assert(JpegPixels.pixels(gbytes.take(60)) == null)
    assert(JpegPixels.pixels("not a jpeg at all".getBytes) == null)
  }

  test("GIF transparency flattens onto the stream's own background " +
       "entry, cross-checked against ImageIO's alpha channel") {
    import graft.expressions.GifPixels
    // three colors so encodeGif's first-seen palette order is known:
    // red (idx 0), green (idx 1), blue (idx 2)
    val w = 8; val h = 4
    val rgb = new Array[Byte](w * h * 3)
    for (p <- 0 until w * h) {
      val c = p % 3 match {
        case 0 => (255, 0, 0); case 1 => (0, 255, 0); case _ => (0, 0, 255)
      }
      rgb(p * 3) = c._1.toByte; rgb(p * 3 + 1) = c._2.toByte
      rgb(p * 3 + 2) = c._3.toByte
    }
    val plain = MediaFixtures.encodeGif(rgb, w, h)
    // splice: background index = 2 (blue) in the LSD, and a GCE marking
    // index 1 (green) transparent, inserted before the image descriptor
    val tableEnd = 13 + 3 * 4 // header+LSD + 4-entry global table
    val withBg = java.util.Arrays.copyOfRange(plain, 0, tableEnd)
    withBg(11) = 2 // LSD background color index -> blue
    val out = new java.io.ByteArrayOutputStream()
    out.write(withBg)
    out.write(Array(0x21, 0xF9, 0x04, 0x01, 0x00, 0x00, 0x01, 0x00)
      .map(_.toByte)) // GCE: transparent flag set, transIdx = 1 (green)
    out.write(plain, tableEnd, plain.length - tableEnd)
    val transparent = out.toByteArray

    val row = GifPixels.pixels(transparent)
    assert(row != null && row.getInt(0) == w && row.getInt(1) == h)
    val px = row.getBinary(3)
    // ImageIO agrees on which pixels are transparent and on the rest
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(transparent))
    assert(img != null)
    for (p <- 0 until w * h) {
      val (x, y) = (p % w, p / w)
      val argb = img.getRGB(x, y)
      val want: (Int, Int, Int) = p % 3 match {
        case 1 => // green was transparent -> flattened to blue (the bg)
          assert((argb >>> 24) == 0, s"ImageIO alpha at ($x,$y)")
          (0, 0, 255)
        case 0 =>
          assert((argb >>> 24) == 255 && ((argb >> 16) & 0xFF) == 255)
          (255, 0, 0)
        case _ =>
          assert((argb >>> 24) == 255 && (argb & 0xFF) == 255)
          (0, 0, 255)
      }
      assert((px(p * 3) & 0xFF, px(p * 3 + 1) & 0xFF, px(p * 3 + 2) & 0xFF)
        == want, s"pixel ($x,$y)")
    }
    // no GCE transparency flag -> palette colors decode unchanged
    val rowPlain = GifPixels.pixels(plain)
    for (p <- 0 until w * h)
      assert((rowPlain.getBinary(3)(p * 3 + 1) & 0xFF) ==
        (rgb(p * 3 + 1) & 0xFF), s"plain pixel $p")
  }

  test("progressive JPEG (SOF2): the JDK writer's multi-scan successive-" +
       "approximation stream decodes within IDCT tolerance of both " +
       "ImageIO's decode and our sequential decode of the same image") {
    import graft.expressions.JpegPixels
    def writeJpeg(img: java.awt.image.BufferedImage,
                  progressive: Boolean): Array[Byte] = {
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      if (progressive)
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    def hasSof2(b: Array[Byte]): Boolean =
      b.sliding(2).exists(p => (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xC2)

    val w = 37; val h = 23 // odd dims: partial-MCU edge blocks
    // grayscale: smooth gradient, quantization the only error source
    val gimg = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gimg.getRaster.setSample(x, y, 0, (x * 4 + y * 3 + 20) % 256)
    val gseq = writeJpeg(gimg, progressive = false)
    val gprog = writeJpeg(gimg, progressive = true)
    assert(!hasSof2(gseq) && hasSof2(gprog),
      "JDK writer must emit SOF2 only in progressive mode")
    val ours = JpegPixels.pixels(gprog)
    assert(ours != null && ours.getInt(0) == w && ours.getInt(1) == h &&
      ours.getInt(2) == 1)
    val theirs = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gprog))
    val seqOurs = JpegPixels.pixels(gseq)
    var maxVsImageIO = 0; var maxVsSeq = 0
    for (y <- 0 until h; x <- 0 until w) {
      val v = ours.getBinary(3)(y * w + x) & 0xFF
      maxVsImageIO = math.max(maxVsImageIO,
        math.abs(v - theirs.getRaster.getSample(x, y, 0)))
      // same writer, same quant tables: progressive reorders the BITS,
      // the complete coefficient set is identical to the sequential file
      maxVsSeq = math.max(maxVsSeq,
        math.abs(v - (seqOurs.getBinary(3)(y * w + x) & 0xFF)))
    }
    assert(maxVsImageIO <= 2, s"gray progressive vs ImageIO $maxVsImageIO")
    assert(maxVsSeq <= 2, s"gray progressive vs our sequential $maxVsSeq")

    // color (subsampled chroma): AC refinement runs on all 3 components
    val cimg = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      cimg.setRGB(x, y, ((x * 3 + 40) << 16) | ((y * 5 + 60) << 8) |
        ((x * 2 + y * 2 + 50) & 0xFF))
    val cprog = writeJpeg(cimg, progressive = true)
    assert(hasSof2(cprog))
    val cours = JpegPixels.pixels(cprog)
    assert(cours != null && cours.getInt(0) == w && cours.getInt(1) == h &&
      cours.getInt(2) == 3)
    val ctheirs = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(cprog))
    var sum = 0L; var cmax = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val rgb = ctheirs.getRGB(x, y)
      val t = c match {
        case 0 => (rgb >> 16) & 0xFF
        case 1 => (rgb >> 8) & 0xFF
        case _ => rgb & 0xFF
      }
      val d = math.abs((cours.getBinary(3)((y * w + x) * 3 + c) & 0xFF) - t)
      sum += d; cmax = math.max(cmax, d)
    }
    val mean = sum.toDouble / (w * h * 3)
    assert(mean < 3.0, s"color progressive mean disagreement $mean")
    assert(cmax <= 32, s"color progressive max disagreement $cmax")

    // the format-blind raster pipeline accepts the progressive stream
    assert(ImageOps.dhash64(gprog) != null)
    // truncations and bit flips: null or a row, never a throw
    for (cut <- Seq(2, 20, gprog.length / 2, gprog.length - 3))
      JpegPixels.pixels(gprog.take(cut))
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 300) {
      val m = gprog.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      JpegPixels.pixels(m)
    }
  }

  test("synthMedia: all 100 group signatures (80 lossless + 20 JPEG) " +
       "are pairwise distinct, and every byte variant of a group " +
       "hashes identically — the q_image_neardup invariant") {
    val hashes = (0L until 100L).map { seed =>
      val variants = (0 until 12).map(v =>
        ImageOps.dhash64(ImageOps.synthMedia(seed, v)))
      assert(variants.forall(_ != null), s"seed=$seed decode failed")
      assert(variants.distinct.size == 1,
        s"seed=$seed: byte variants hash differently")
      variants.head.longValue()
    }
    // distinctness ACROSS groups: a collision would create cross-group
    // pairs the seed-arithmetic DuckDB twin does not derive
    assert(hashes.distinct.size == 100,
      "dHash collision between groups — q_image_neardup oracle would break")
  }

  test("the synthetic-PNG dHash signature evaluates identically " +
       "interpreted and codegen'd") {
    val df = spark.range(0, 64).select(
      ImageOps.synthMedia(pmod(col("id"), lit(7L)),
        pmod(col("id"), lit(9L)).cast("int")).as("media"))
    val viaExpr = df.select(ImageOps.imageDHash(col("media")).as("sig"))
      .collect().map(_.getLong(0)).toSeq
    val viaKernel = df.collect()
      .map(r => ImageOps.dhash64(r.getAs[Array[Byte]](0)).longValue()).toSeq
    assert(viaExpr == viaKernel)
  }
}
