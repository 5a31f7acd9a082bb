package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level fuzz over the two kernels that parse UNTRUSTED corpus
  * bytes inside executor tasks — at 100 TB a single throwing row aborts
  * a stage, so the contract is: never throw, return null/FAILED instead.
  * Pure kernel calls (no Spark session needed): the generated-code path
  * invokes exactly these statics. */
class FuzzSpec extends AnyFunSuite {

  private val params = ScTest.Parameters.default.withMinSuccessfulTests(500)

  test("JsonFacts.facts never throws on arbitrary strings (incl. " +
       "truncated JSON, deep nesting, control chars, surrogates)") {
    val jsonish: Gen[String] = Gen.oneOf(
      Gen.asciiStr,
      // unicode soup (may include unpaired surrogates after toString)
      Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString),
      // truncations of a real record
      Gen.choose(0, 400).map(
        graft.sources.RecordTable.fixtureContent("wcmp2-passing.json").take),
      // structural noise
      Gen.listOf(Gen.oneOf("{", "}", "[", "]", "\"", ":", ",", "null",
        "1e309", "-0.0", "\\u00", "\u0000", "tru")).map(_.mkString),
      // deep nesting
      Gen.choose(1, 2000).map(d => "[" * d),
      Gen.choose(1, 500).map(d => "{\"a\":" * d))
    val prop = Prop.forAll(jsonish) { s =>
      val r = graft.expressions.JsonFacts.facts(UTF8String.fromString(s))
      r != null // always a row: parsed facts or the FAILED sentinel
    }
    assert(ScTest.check(params, prop).passed)
  }

  test("PngPixels.pixels never throws on arbitrary bytes and on " +
       "mutations of a valid PNG") {
    // a valid 4x3 RGB PNG built with the JDK encoder, then mutated
    val img = new java.awt.image.BufferedImage(4, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 4) img.setRGB(x, y, x * 61 + y * 17)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val valid = baos.toByteArray
    // an Adam7-interlaced PALETTE PNG: mutations hit the PLTE walk, the
    // per-pass geometry and the sub-byte index unpack too
    val pimg = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 4; x <- 0 until 5) pimg.setRGB(x, y, x * 53 + y * 29)
    val ilaced = {
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new javax.imageio.IIOImage(pimg, null, null), param)
      writer.dispose(); ios.close()
      bos.toByteArray
    }

    def mutations(valid: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
      // single-byte mutations (corrupt IHDR fields, PLTE, IDAT stream,
      // lengths, CRCs)
      for {
        pos <- Gen.choose(0, valid.length - 1)
        b <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield { val c = valid.clone(); c(pos) = b; c },
      // truncations
      Gen.choose(0, valid.length).map(valid.take))
    val bytesGen: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      mutations(valid), mutations(ilaced))
    val prop = Prop.forAll(bytesGen) { b =>
      graft.expressions.PngPixels.pixels(b) // null or a row — no throw
      true
    }
    assert(ScTest.check(params, prop).passed)
  }

  test("media container probes (WAV/MP4/JPEG dims) never throw on " +
       "arbitrary bytes") {
    val bytesGen: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      // plausible-prefix payloads so the walks engage
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(t =>
        "RIFF".getBytes ++ t.toArray ++ "WAVE".getBytes ++ t.toArray),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(t =>
        Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes ++ t.toArray),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(t =>
        Array(0xFF, 0xD8, 0xFF).map(_.toByte) ++ t.toArray))
    val prop = Prop.forAll(bytesGen) { b =>
      graft.expressions.WavMeta.meta(b)
      graft.expressions.Mp4Meta.meta(b)
      graft.expressions.JpegDims.dims(b)
      true
    }
    assert(ScTest.check(params, prop).passed)
  }

  test("image hash/resize kernels never throw on arbitrary bytes and " +
       "on mutations of the engine's own encoder output (PNG, BMP, GIF " +
       "and JPEG — entropy-coded data is the adversarial surface)") {
    val validPng = graft.expressions.ImageOps.synthPng(11L, 5)
    val validBmp = graft.expressions.ImageOps.synthImage(11L, 10)
    val validGif = MediaFixtures.encodeGif(
      Array.tabulate(24 * 16)(i => ((i * 7) % 256).toByte)
        .flatMap(g => Array(g, g, g)), 24, 16)
    val validJpg = graft.expressions.JpegOps.synthJpeg(91L, 3)
    // progressive (SOF2): the Annex G scan machinery — EOB runs,
    // refinement correction bits — is its own adversarial surface
    val validProg = {
      val img = new java.awt.image.BufferedImage(
        24, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 24)
        img.getRaster.setSample(x, y, 0, (x * 9 + y * 5) % 256)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      bos.toByteArray
    }
    def mutations(valid: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
      for {
        pos <- Gen.choose(0, valid.length - 1)
        b <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield { val c = valid.clone(); c(pos) = b; c },
      Gen.choose(0, valid.length).map(valid.take))
    val bytesGen: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      mutations(validPng), mutations(validBmp), mutations(validGif),
      mutations(validJpg), mutations(validProg))
    val prop = Prop.forAll(bytesGen) { b =>
      graft.expressions.ImageOps.dhash64(b) // Long or null -- no throw
      graft.expressions.ImageOps.grayResize(b, 4, 4)
      graft.expressions.BmpPixels.pixels(b)
      graft.expressions.GifPixels.pixels(b)
      graft.expressions.JpegPixels.pixels(b)
      true
    }
    assert(ScTest.check(params, prop).passed)
  }

  test("audio PCM feature kernel never throws on arbitrary bytes and " +
       "on mutations of the engine's own encoder output") {
    // every sample-format family: integer PCM, µ-law (seed 18 % 3 = 0),
    // A-law (19), float32 (20), plus the extensible wrapper framing
    val valids = Seq(
      graft.expressions.AudioOps.synthWav(17L),
      graft.expressions.AudioOps.synthWavCodec(18L),
      graft.expressions.AudioOps.synthWavCodec(19L),
      graft.expressions.AudioOps.synthWavCodec(20L),
      MediaFixtures.wrapExtensible(
        graft.expressions.AudioOps.synthWavCodec(20L)),
      graft.expressions.AudioOps.synthWavAdpcm(20L), // IMA mono
      graft.expressions.AudioOps.synthWavAdpcm(21L), // IMA stereo
      graft.expressions.AudioOps.synthWavAdpcm(22L), // MS mono
      graft.expressions.AudioOps.synthWavAdpcm(23L)) // MS stereo
    def mutations(valid: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
      for {
        pos <- Gen.choose(0, valid.length - 1)
        b <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield { val c = valid.clone(); c(pos) = b; c },
      Gen.choose(0, valid.length).map(valid.take))
    val bytesGen: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      mutations(valids(0)), mutations(valids(1)), mutations(valids(2)),
      mutations(valids(3)), mutations(valids(4)))
    val prop = Prop.forAll(bytesGen) { b =>
      graft.expressions.AudioOps.features(b) // row or null -- no throw
      true
    }
    assert(ScTest.check(params, prop).passed)
  }
}
